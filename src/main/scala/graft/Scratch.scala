package graft

/** Where graft's own queries and mains put the files they make:
  * paths resolved against the working directory (the checkout root
  * under sbt, `graft.Verify`, `tools/check.py` and `tools/jrun.sh`),
  * so a second checkout never writes into the first one's `target/`.
  */
object Scratch {
  /** `first/more…` resolved against the working directory. */
  def path(first: String, more: String*): String =
    java.nio.file.Paths.get(first, more: _*).toAbsolutePath.toString

  /** The per-data-dir root `target/<area…>/<dir>`, with the data dir's
    * characters outside `[A-Za-z0-9.]` mapped to `_`.
    */
  def forDir(dir: String, area: String*): String =
    path("target", area :+ dir.replaceAll("[^A-Za-z0-9.]", "_"): _*)
}
