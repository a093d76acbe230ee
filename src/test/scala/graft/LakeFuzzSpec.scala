package graft

import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** Model-based randomized exercise of the ACID lake core: a seeded
  * random sequence of table operations (append / keyed merge /
  * predicate delete / deletion-vector delete / row update / purge /
  * compact / restore / metadata-only column RENAME / bloom-index
  * build) runs against BOTH the real
  * lake and a trivial in-memory model, and after every step the
  * lake's full contents must equal the model's. Targeted specs prove
  * each operator alone; this proves the COMPOSITIONS — e.g. restore
  * after delete after merge — agree with the obviously-correct
  * semantics, across many interleavings no hand-written case would
  * enumerate. Seeded (deterministic) so a failure reproduces.
  */
class LakeFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def readState(root: String, vName: String): Map[Long, Double] =
    AtomicLake.read(spark, root).select(col("id"), col(vName))
      .as[(Long, Double)].collect().toMap

  it("random op sequences match the in-memory model at every step") {
    val seeds = Seq(7L, 41L, 20260813L)
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val root = TestScratch(s"lake_fuzz_$seed")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)

      var model = Map.empty[Long, Double]
      var nextId = 0L
      // the value column's CURRENT logical name (renames flip it);
      // the physical pages always store "v"
      var vName = "v"
      // version → (model snapshot, logical name), for restore
      var history = Vector.empty[(Long, Map[Long, Double], String)]

      def df(rows: Seq[(Long, Double)]) =
        rows.toDF("id", vName)

      // seed commit so every op has a table
      val v0 = AtomicLake.append(df(Seq((nextId, 1.0))), root)
      model = Map(nextId -> 1.0); nextId += 1
      history :+= (v0, model, vName)

      for (step <- 1 to 16) {
        val op = rnd.nextInt(11)
        val clue = s"seed=$seed step=$step op=$op"
        op match {
          case 0 => // append fresh ids
            val rows = (0 until 1 + rnd.nextInt(4))
              .map { _ => val r = (nextId, rnd.nextInt(100).toDouble)
                nextId += 1; r }
            val v = AtomicLake.append(df(rows), root)
            model ++= rows
            history :+= (v, model, vName)
          case 1 => // keyed merge: mix of updates to existing + inserts
            val updates = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).take(3)
              .map(k => (k, 1000.0 + rnd.nextInt(100)))
            val inserts = (0 until rnd.nextInt(3))
              .map { _ => val r = (nextId, rnd.nextInt(100).toDouble)
                nextId += 1; r }
            val rows = updates ++ inserts
            if (rows.nonEmpty) {
              val res = AtomicLake.merge(spark, root, df(rows), Seq("id"))
              model ++= rows
              history :+= (res.version, model, vName)
            }
          case 2 => // predicate delete — the same op as case 5, kept
            // so the op distribution does not shift
            val (m, r) = (2 + rnd.nextInt(3), rnd.nextInt(2))
            val res = AtomicLake.deleteWhereDV(spark, root)(
              pmod(col("id"), lit(m.toLong)) === r.toLong)
            model = model.filter { case (k, _) => k % m != r }
            history :+= (res.version, model, vName)
          case 3 => // compact: contents must not change
            val v = AtomicLake.compact(spark, root, minFiles = 2)
            history :+= (v, model, vName)
          case 4 => // restore to a random earlier version — the
            // COLUMN NAME rolls back with the data
            val (tv, tm, tn) = history(rnd.nextInt(history.size))
            val v = AtomicLake.restore(root, tv)
            model = tm
            vName = tn
            history :+= (v, model, vName)
          case 5 => // deletion-vector delete (merge-on-read)
            val (m, r) = (2 + rnd.nextInt(3), rnd.nextInt(2))
            val res = AtomicLake.deleteWhereDV(spark, root)(
              pmod(col("id"), lit(m.toLong)) === r.toLong)
            model = model.filter { case (k, _) => k % m != r }
            history :+= (res.version, model, vName)
          case 6 => // row-level update
            val (m, r) = (2 + rnd.nextInt(3), rnd.nextInt(2))
            val delta = rnd.nextInt(9).toDouble
            val res = AtomicLake.updateWhere(spark, root,
              Seq(vName -> (col(vName) + delta)))(
              pmod(col("id"), lit(m.toLong)) === r.toLong)
            model = model.map { case (k, v) =>
              k -> (if (k % m == r) v + delta else v) }
            history :+= (res.version, model, vName)
          case 7 => // purge vectors: contents must not change
            val res = AtomicLake.purgeDeletes(spark, root)
            history :+= (res.version, model, vName)
          case 8 => // metadata-only rename: contents identical under
            // the new name; later writes stage back to physical "v"
            val to = if (vName == "v") "w" else "v"
            val v = AtomicLake.renameColumn(root, vName, to)
            vName = to
            history :+= (v, model, vName)
          case 9 => // bloom-index build: metadata-only, no data change
            val v = AtomicLake.indexBloom(spark, root, Seq("id"))
            history :+= (v, model, vName)
          case 10 => // clustered layout rewrite (plain / Morton /
            // Hilbert): the round-9 lesson made concrete — the LAYOUT
            // changes, the contents must not, composed with whatever
            // deletes/DVs/renames/restores came before
            val curve = rnd.nextInt(3)
            val v = AtomicLake.cluster(spark, root,
              if (curve == 0) Seq("id") else Seq("id", vName),
              filesPerPartition = 1 + rnd.nextInt(2),
              zorder = curve == 1, hilbert = curve == 2)
            history :+= (v, model, vName)
        }
        withClue(clue) { readState(root, vName) shouldBe model }
      }
      // time travel still resolves every recorded version exactly
      val probes = rnd.shuffle(history).take(3)
      probes.foreach { case (v, m, n) =>
        withClue(s"seed=$seed versionAt=$v") {
          AtomicLake.readVersion(spark, root, v)
            .select(col("id"), col(n))
            .as[(Long, Double)].collect().toMap shouldBe m
        }
      }
    }
  }
}
