package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{AtomicLake, LakeStats}

/** The lake's task-side writer against Spark's own parquet writer:
  * the same rows, parquet schema, codec, key-value metadata, partition
  * dirs and file rolling as `df.write.parquet` of the same frame, zone
  * maps equal to a footer re-read, and no committer artifacts left in
  * the lake.
  */
class LakeWriteSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("lake_write")

  private def fresh(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  private def tree(dir: String): Seq[Path] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.toSeq finally w.close()
  }

  private def parquetFiles(dir: String): Seq[Path] =
    tree(dir).filter(_.getFileName.toString.endsWith(".parquet")).sorted

  private def footer(p: Path) = {
    val r = LakeStats.openParquet(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(p.toString))
    try r.getFooter finally r.close()
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result, the Spark jobs it started, and the bytes and
    * records its tasks reported as written (the bus is drained on both
    * sides, so no earlier event leaks in and none is missed).
    */
  private def jobsDuring[A](body: => A): (A, Int, Long, Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes, records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
        records.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
      }
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.GraftListenerBus.drain(sc)
      (a, jobs.get, bytes.get, records.get)
    } finally sc.removeSparkListener(l)
  }

  /** Every type the lake stores, with a null-heavy column. */
  private def everyType: DataFrame =
    spark.range(0, 60).select(
      $"id".cast("int").as("i"),
      ($"id" * 1000003L).as("l"),
      ($"id" / 7.0).as("d"),
      when($"id" % 5 =!= 0, concat(lit("s"), $"id".cast("string"))).as("s"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), $"id".cast("int"))
        .as("dt"),
      timestamp_seconds(lit(1704067200L) + $"id" * 3601L).as("ts"),
      to_timestamp_ntz(lit("2024-02-01 00:00:00"))
        .plus(make_dt_interval(lit(0), $"id".cast("int"))).as("ntz"),
      ($"id" / 3).cast("decimal(12,3)").as("dec"),
      $"id".cast("string").cast("binary").as("bin"),
      array($"id", $"id" + 1).as("al"),
      array($"id".cast("float"), lit(0.5f)).as("af"),
      struct($"id".as("a"), $"id".cast("string").as("b")).as("st"),
      when($"id" % 9 === 0, $"id").as("sparse"))

  describe("parity with Spark's parquet writer") {
    it("every lake type reads back equal; schema, codec and metadata match") {
      val root = fresh("parity_lake")
      val ref = fresh("parity_ref")
      val df = everyType
      val staged = AtomicLake.stageFiles(df, root, Nil, 1)
      withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        df.repartition(1).write.parquet(ref)
      }
      val Seq(mine) = parquetFiles(Paths.get(root, "data").toString)
      val Seq(theirs) = parquetFiles(ref)
      val a = spark.read.parquet(mine.toString)
      val b = spark.read.parquet(theirs.toString)
      a.schema shouldBe b.schema
      a.exceptAll(b).count() shouldBe 0
      b.exceptAll(a).count() shouldBe 0
      a.count() shouldBe 60
      val (fm, ft) = (footer(mine), footer(theirs))
      fm.getFileMetaData.getSchema shouldBe ft.getFileMetaData.getSchema
      fm.getFileMetaData.getKeyValueMetaData shouldBe
        ft.getFileMetaData.getKeyValueMetaData
      def codecs(f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
        f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      codecs(fm) shouldBe codecs(ft)
      mine.getFileName.toString should endWith (".snappy.parquet")
      // the zone map came from the writer's footer, equal to a re-read
      val rel = Paths.get(root).relativize(mine).toString
      staged.stats(rel) shouldBe LakeStats.collect(
        spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(mine.toString), df.schema).get
    }

    it("partition dirs are Spark's: escapes, unicode, null, date, timestamp") {
      val root = fresh("dirs_lake")
      val ref = fresh("dirs_ref")
      // a name the JVM's path encoding cannot map (an ASCII locale)
      // fails both writers alike; otherwise unicode joins the compare
      val uni = "ünï日"
      val mappable = java.nio.charset.Charset
        .forName(System.getProperty("sun.jnu.encoding")).newEncoder()
        .canEncode(uni)
      val vals = Seq("a b", "c%d", "x/y", "=", null) ++
        (if (mappable) Seq(uni) else Nil)
      def frame(vs: Seq[String]) = vs.zipWithIndex.map { case (v, i) =>
        (i, v, java.sql.Date.valueOf(s"2024-0${i + 1}-15"),
          java.sql.Timestamp.valueOf(s"2024-05-0${i + 1} 10:15:3$i"))
      }.toDF("id", "s", "d", "t")
      val df = frame(vals)
      val parts = Seq("s", "d", "t")
      val staged = AtomicLake.stageFiles(df, root, parts, 1)
      df.write.partitionBy(parts: _*).parquet(ref)
      val sparkDirs = parquetFiles(ref)
        .map(p => Paths.get(ref).relativize(p.getParent).toString).toSet
      staged.keySet shouldBe sparkDirs
      staged.keySet.size shouldBe vals.size
      staged.keySet should contain (
        "s=x%2Fy/d=2024-03-15/t=2024-05-03 10%3A15%3A32")
      staged.keySet.exists(_.startsWith(
        "s=__HIVE_DEFAULT_PARTITION__/")) shouldBe true
      AtomicLake.commit(root, parts)(
        _.swap(staged, staged.keySet).evolve(df.schema))
      AtomicLake.read(spark, root).exceptAll(df).count() shouldBe 0
      df.exceptAll(AtomicLake.read(spark, root)).count() shouldBe 0
      if (!mappable) {
        val u = frame(Seq(uni))
        an[Exception] should be thrownBy
          AtomicLake.stageFiles(u, fresh("dirs_uni"), parts, 1)
        an[Exception] should be thrownBy
          u.write.partitionBy(parts: _*).parquet(fresh("dirs_uni_ref"))
      }
    }

    it("spark.sql.files.maxRecordsPerFile rolls files as Spark's writer does") {
      val root = fresh("roll_lake")
      val ref = fresh("roll_ref")
      val df = ((1 to 10).map(i => (i, "a")) ++ (1 to 4).map(i => (i, "b")))
        .toDF("id", "part")
      def rowsPerFile(files: Seq[Path], base: String) = files.map { f =>
        Paths.get(base).relativize(f.getParent).toString ->
          footer(f).getBlocks.asScala.map(_.getRowCount).sum
      }.groupMap(_._1)(_._2).map { case (d, ns) => d -> ns.sorted }
      withConf("spark.sql.files.maxRecordsPerFile" -> "3") {
        AtomicLake.stageFiles(df, root, Seq("part"), 1)
        df.repartition($"part").write.partitionBy("part").parquet(ref)
      }
      val mine = rowsPerFile(parquetFiles(Paths.get(root, "data").toString),
        Paths.get(root, "data").toString)
      mine shouldBe rowsPerFile(parquetFiles(ref), ref)
      mine("part=a") shouldBe Seq(1L, 3L, 3L, 3L)
    }
  }

  describe("write hygiene") {
    it("no lake write leaves committer or staging artifacts") {
      val root = fresh("hygiene")
      def batch(ids: Range, p: String) =
        ids.map(i => (i, i % 3, p)).toDF("id", "m", "part")
      AtomicLake.upsertPartitions(batch(1 to 20, "a"), root, Seq("part"))
      AtomicLake.append(batch(21 to 30, "a"), root, Seq("part"))
      AtomicLake.overwriteStaged(batch(1 to 5, "b"), root, Seq("part"))()
      AtomicLake.append(batch(31 to 40, "a"), root, Seq("part"))
      AtomicLake.merge(spark, root, batch(1 to 3, "a")
        .withColumn("m", lit(9)), Seq("id", "part"))
      AtomicLake.compact(spark, root)
      AtomicLake.cluster(spark, root, Seq("id"))
      // bronze lands its clean rows through the same writer
      val bronze = fresh("hygiene_bronze")
      val csv = Paths.get(fresh("hygiene_csv"), "day.csv")
      Files.createDirectories(csv.getParent)
      Files.write(csv, "id,day\n1,2024-01-01\n2,2024-01-02\n".getBytes("UTF-8"))
      graft.lakehouse.Bronze.ingestCsv(spark, csv.toString, bronze,
        "file://day.csv", columns = Seq("id", "day"),
        partitionCols = Seq("day"))
      val names = (tree(root) ++ tree(bronze)).map(_.getFileName.toString)
      names.filter(n => n == "_SUCCESS" || n.endsWith(".crc") ||
        n == "_temporary" || n == "_staging") shouldBe empty
      AtomicLake.read(spark, root).count() shouldBe 18
      AtomicLake.read(spark, bronze).count() shouldBe 2
    }

    it("a small upsert stages in one Spark job whose tasks report their output") {
      val root = fresh("one_job")
      val small = Seq((1, "a"), (2, "b")).toDF("id", "part")
      val (staged, jobs, bytes, records) = jobsDuring(
        AtomicLake.stageFiles(small, root, Seq("part"), 1))
      jobs shouldBe 1
      staged.keySet shouldBe Set("part=a", "part=b")
      records shouldBe 2
      bytes shouldBe staged.files.values.flatten
        .map(f => Files.size(Paths.get(root).resolve(f))).sum
    }
  }
}
