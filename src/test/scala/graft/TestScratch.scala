package graft

/** Spec fixture dirs: `target/test-scratch/<name>` resolved against the
  * working directory (the checkout root under sbt), so two checkouts
  * running the suite never share fixtures.
  */
object TestScratch {
  val root: String = Scratch.path("target", "test-scratch")

  def apply(name: String): String = s"$root/$name"
}
