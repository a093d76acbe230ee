package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.sources.Tables

/** Guards the timestamp ingestion contract at the source boundary.
  *
  * Round-7 lesson: the test-data generator switched events.ts from
  * parquet TIMESTAMP(NANOS) to TIMESTAMP(isAdjustedToUTC=false, µs)
  * (Spark: TIMESTAMP_NTZ) and `sess_gap_sessions` silently broke at
  * analysis time (`unix_micros` rejects NTZ). This spec rewrites the
  * events table as µs-NTZ parquet and replays every events-family
  * gate query over it, asserting identical results to the normal
  * read — so a future regen of /root/testdata cannot silently break
  * an events query again, whichever physical type it ships.
  */
class NtzRobustnessSpec extends SparkSpec {

  private val ntzDir = TestScratch("ntz_sf")

  // events-family gates: every SparkEntry query that consumes events.ts
  private val tsQueries = Seq(
    "sess_gap_sessions", "silver_time_enrich", "stream_tumbling_hour",
    "silver_fact_events", "silver_clean_events")

  private lazy val fixture: String = {
    val dir = Paths.get(ntzDir)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    Files.createDirectories(dir)
    // all non-events tables: symlink to the real sf0.001 parquet
    Tables.all.filterNot(_ == "events").foreach { t =>
      Files.createSymbolicLink(
        dir.resolve(s"$t.parquet"), Paths.get(s"$sf/$t.parquet"))
    }
    // events: same rows, ts rewritten as TIMESTAMP_NTZ (µs,
    // isAdjustedToUTC=false) — the round-7 regen's physical type
    Tables.events(spark, sf)
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    ntzDir
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Array[Row] = {
    val cols = df.columns.sorted.map(col)
    df.select(cols: _*).collect()
      .sortBy(_.toString)
  }

  describe("NTZ events ingestion") {
    it("Tables.events normalizes a µs-NTZ file to TimestampType") {
      val raw = spark.read.parquet(s"$fixture/events.parquet")
      raw.schema("ts").dataType shouldBe TimestampNTZType // fixture is real NTZ
      val normalized = Tables.events(spark, fixture)
      normalized.schema("ts").dataType shouldBe TimestampType
      // identical instants under the UTC session tz
      normalized.agg(sum(unix_micros(col("ts")))).head.getLong(0) shouldBe
        Tables.events(spark, sf).agg(sum(unix_micros(col("ts"))))
          .head.getLong(0)
    }

    tsQueries.foreach { name =>
      it(s"$name returns identical results over NTZ data") {
        val expected = sortedRows(SparkEntry.queries(name)(spark, sf))
        val actual = sortedRows(SparkEntry.queries(name)(spark, fixture))
        actual.length shouldBe expected.length
        actual.length should be > 0
        actual.zip(expected).foreach { case (a, e) =>
          a.toString shouldBe e.toString
        }
      }
    }
  }
}
