package graft

import org.apache.spark.sql.types._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import graft.sources.{AtomicLake, BloomIndex, LakeStats}
import graft.sources.AtomicLake.{DvRef, Snapshot}

/** The manifest codec: every snapshot field survives a render/parse
  * round trip, and bodies written before a header existed still parse.
  */
class LakeManifestSpec extends AnyFunSpec with Matchers {

  private val fa = "data/day=1/a.parquet"
  private val fb = "data/day=1/b.parquet"
  private val fc = "data/day=2/c.parquet"

  describe("Snapshot.parse / Snapshot.render") {
    it("round-trips a snapshot that sets every header") {
      val stats = LakeStats.FileStats(3L, Map(
        "id" -> LakeStats.ColStats("long",
          Some(LakeStats.NumBound(BigDecimal(1))),
          Some(LakeStats.NumBound(BigDecimal(9))), Some(0L)),
        "sk" -> LakeStats.ColStats("string",
          Some(LakeStats.StrBound("a")), None, None)), bytes = 512L)
      val s = Snapshot(7L, Seq("day"),
        files = Map("day=1" -> Seq(fa, fb), "day=2" -> Seq(fc)),
        schema = Some(StructType(Seq(StructField("id", LongType),
          StructField("w", StringType), StructField("day", StringType)))),
        kind = "schema",
        stats = Map(fa -> stats, fb -> stats.copy(rows = 5L)),
        constraints = Map("c1" -> "id > 0", "c2" -> "w <> 'x:y'"),
        ts = Some(1700000000123L),
        // fc has a deletion vector but no stats: the empty third field
        dvs = Map(fa -> DvRef(Seq("dv/dv-1", "dv/dv-2"), 2L),
          fc -> DvRef(Seq("dv/dv-3"), 1L)),
        blooms = Map(fa -> Map("id" -> BloomIndex.Ref("index/i1"),
          "sk" -> BloomIndex.Ref("index/i1")),
          fb -> Map("id" -> BloomIndex.Ref("index/i2"))),
        colMap = Map("w" -> "v"),
        dropped = Set("old", "older"),
        generated = Map("g" -> "id * 2"),
        txns = Map("app" -> 3L, "other" -> 11L))
      // and an unpartitioned write commit: no headers at all
      val plain = Snapshot(1L, Nil, Map("" -> Seq("data/x.parquet")))
      for (snap <- Seq(s, plain)) {
        val body = Snapshot.render(snap)
        Snapshot.parse(snap.version, body) shouldBe snap
        Snapshot.render(Snapshot.parse(snap.version, body)) shouldBe body
      }
      Snapshot.render(s).linesIterator.toSeq.last shouldBe
        s"day=2\t$fc\t\tdv:1:dv/dv-3"
      Snapshot.render(plain) shouldBe "partition_cols=\n\tdata/x.parquet\n"
    }
    it("parses bodies without headers, stats or dv fields") {
      Snapshot.parse(2L, s"partition_cols=day\nday=1\t$fa\nday=1\t$fb\n") shouldBe
        Snapshot(2L, Seq("day"), Map("day=1" -> Seq(fa, fb)))
    }
  }
}
