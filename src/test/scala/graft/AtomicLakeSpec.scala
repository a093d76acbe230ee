package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.AtomicLake

/** ACID semantics of the manifest-commit lake: readers see a committed
  * snapshot or the previous one — never a torn partition — and a
  * killed writer leaves nothing a reader or the next writer trips on.
  */
class AtomicLakeSpec extends SparkSpec {
  import spark.implicits._

  private val scratch = TestScratch("atomic_lake")

  private def freshRoot(name: String): String = {
    val p = Paths.get(scratch, name)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    p.toString
  }

  describe("upsert + read") {
    it("round-trips, and re-upserting a partition replaces exactly it") {
      val root = freshRoot("roundtrip")
      AtomicLake.upsertPartitions(
        Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.upsertPartitions(
        Seq((99, "a")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.read(spark, root).select("id", "part")
        .as[(Int, String)].collect().toSet shouldBe
        Set((99, "a"), (3, "b"))
      // partition column survives as a real, filterable column
      AtomicLake.read(spark, root).filter($"part" === "b")
        .count() shouldBe 1
    }
    it("append adds to a partition without replacing it") {
      val root = freshRoot("append")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.append(Seq((2, "a"), (3, "b")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.read(spark, root).select("id", "part")
        .as[(Int, String)].collect().toSet shouldBe
        Set((1, "a"), (2, "a"), (3, "b"))
    }
    it("supports unpartitioned tables") {
      val root = freshRoot("unpart")
      AtomicLake.overwrite(Seq(1, 2, 3).toDF("x"), root)
      AtomicLake.overwrite(Seq(7).toDF("x"), root)
      AtomicLake.read(spark, root).as[Int].collect().toSeq shouldBe Seq(7)
      AtomicLake.currentVersion(root) shouldBe Some(2L)
    }
  }

  describe("snapshot isolation") {
    it("a reader mid-upsert sees old-or-new, never a torn partition") {
      val root = freshRoot("isolation")
      val v1 = Seq((1, "a"), (2, "a")).toDF("id", "part")
      AtomicLake.upsertPartitions(v1, root, Seq("part"))
      // writer-side interleaving: stage + move the new files WITHOUT
      // committing — exactly the window a concurrent reader can hit
      val staged = AtomicLake.stageFiles(
        Seq((10, "a"), (11, "a"), (12, "a")).toDF("id", "part"),
        root, Seq("part"), filesPerPartition = 2)
      // the reader still resolves snapshot v1: OLD data, full row set
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1, 2)
      // commit point: only now does the reader see the NEW partition
      AtomicLake.commit(root, Seq("part"))(_.swap(staged, staged.keySet))
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(10, 11, 12)
    }
    it("concurrent reads during real upserts always see a whole version") {
      val root = freshRoot("concurrent")
      def batch(v: Int) = (0 until 20).map(i => (v * 100 + i, "p"))
        .toDF("id", "part")
      AtomicLake.upsertPartitions(batch(0), root, Seq("part"))
      @volatile var writing = true
      val writer = new Thread(() => {
        (1 to 4).foreach(v => AtomicLake.upsertPartitions(batch(v), root,
          Seq("part")))
        writing = false
      })
      writer.start()
      try {
        while (writing) {
          // every observed state is exactly ONE batch: 20 rows, all
          // from the same version (torn = mixed versions or <20 rows)
          val ids = AtomicLake.read(spark, root).select("id").as[Int]
            .collect()
          ids.length shouldBe 20
          ids.map(_ / 100).toSet.size shouldBe 1
        }
      } finally writer.join()
    }
    it("time travel reads any committed version unchanged") {
      val root = freshRoot("timetravel")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.upsertPartitions(Seq((2, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.readVersion(spark, root, 1).select("id").as[Int]
        .collect().toSeq shouldBe Seq(1)
      AtomicLake.readVersion(spark, root, 2).select("id").as[Int]
        .collect().toSeq shouldBe Seq(2)
    }
  }

  describe("schema evolution") {
    it("adding a column keeps every version readable with ITS schema") {
      val root = freshRoot("evolve_add")
      AtomicLake.upsertPartitions(
        Seq((1, "a"), (2, "b")).toDF("id", "part"), root, Seq("part"))
      // v2 adds `extra` on partition b only — files committed at v1
      // never contain the column
      AtomicLake.upsertPartitions(
        Seq((3, 30, "b")).toDF("id", "extra", "part"), root, Seq("part"))
      val cur = AtomicLake.read(spark, root)
      cur.columns.toSet shouldBe Set("id", "extra", "part")
      cur.select("id", "extra").as[(Int, Option[Int])].collect().toSet shouldBe
        Set((1, None), (3, Some(30))) // v1 file reads null extra
      // time travel to v1 sees exactly v1's columns
      AtomicLake.readVersion(spark, root, 1).columns.toSet shouldBe
        Set("id", "part")
    }
    it("a batch MISSING a committed column appends as nulls") {
      val root = freshRoot("evolve_miss")
      AtomicLake.upsertPartitions(
        Seq((1, 10, "a")).toDF("id", "extra", "part"), root, Seq("part"))
      AtomicLake.append(Seq((2, "a")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.read(spark, root).select("id", "extra")
        .as[(Int, Option[Int])].collect().toSet shouldBe
        Set((1, Some(10)), (2, None))
    }
    it("refuses a column TYPE change loudly") {
      val root = freshRoot("evolve_type")
      AtomicLake.upsertPartitions(
        Seq((1, 10, "a")).toDF("id", "extra", "part"), root, Seq("part"))
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.upsertPartitions(
          Seq((2, "ten", "a")).toDF("id", "extra", "part"),
          root, Seq("part"))
    }
    it("matches columns case-insensitively, like Spark's resolver") {
      val root = freshRoot("evolve_case")
      AtomicLake.upsertPartitions(
        Seq((1, 10, "a")).toDF("id", "extra", "part"), root, Seq("part"))
      // 'EXTRA' is the same column as 'extra' under Spark's default
      // case-insensitive resolution — a case-only rename is refused
      // loudly instead of silently committing a duplicate column
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.append(
          Seq((2, 20, "a")).toDF("id", "EXTRA", "part"), root, Seq("part"))
      AtomicLake.read(spark, root).columns.toSet shouldBe
        Set("id", "extra", "part")
    }
    it("widens int->long losslessly: old int pages read as long") {
      val root = freshRoot("evolve_widen")
      AtomicLake.append(Seq((1, "a")).toDF("id", "part"), root,
        Seq("part")) // id: int
      AtomicLake.append(
        Seq((5000000000L, "a")).toDF("id", "part"), root, Seq("part"))
      val cur = AtomicLake.read(spark, root)
      cur.schema("id").dataType shouldBe
        org.apache.spark.sql.types.LongType
      cur.select("id").as[Long].collect().toSet shouldBe
        Set(1L, 5000000000L)
      // the NARROW-batch-after-wide direction stays wide
      AtomicLake.append(Seq((7, "a")).toDF("id", "part"), root,
        Seq("part"))
      val again = AtomicLake.read(spark, root)
      again.schema("id").dataType shouldBe
        org.apache.spark.sql.types.LongType
      again.select("id").as[Long].collect().toSet shouldBe
        Set(1L, 5000000000L, 7L)
      // and zone maps still prune across mixed-width files
      AtomicLake.scan(spark, root)(col("id") === 7L)
        .count() shouldBe 1L
    }
    it("widens float->double; still refuses lossy changes") {
      val root = freshRoot("evolve_widenf")
      AtomicLake.append(Seq((1, 1.5f)).toDF("id", "v"), root)
      AtomicLake.append(Seq((2, 2.25)).toDF("id", "v"), root)
      val cur = AtomicLake.read(spark, root)
      cur.schema("v").dataType shouldBe
        org.apache.spark.sql.types.DoubleType
      cur.select("v").as[Double].collect().toSet shouldBe Set(1.5, 2.25)
      // non-widening change (double -> string) still refuses loudly
      an[IllegalArgumentException] should be thrownBy
        AtomicLake.append(Seq((3, "x")).toDF("id", "v"), root)
    }
    it("compact preserves the evolved schema and null back-fill") {
      val root = freshRoot("evolve_compact")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.append(Seq((2, 20, "a")).toDF("id", "extra", "part"),
        root, Seq("part"))
      AtomicLake.compact(spark, root)
      AtomicLake.read(spark, root).select("id", "extra")
        .as[(Int, Option[Int])].collect().toSet shouldBe
        Set((1, None), (2, Some(20)))
    }
  }

  describe("txn watermarks (exactly-once streaming replay)") {
    it("append records (appId, version); lastTxn reads it back and " +
        "survives untagged commits") {
      val root = freshRoot("txn")
      AtomicLake.lastTxn(root, "sink-a") shouldBe None
      AtomicLake.append(Seq((1, "x")).toDF("id", "v"), root,
        txn = Some("sink-a" -> 0L))
      AtomicLake.lastTxn(root, "sink-a") shouldBe Some(0L)
      // an untagged writer (compaction, another producer) must not
      // erase the watermark
      AtomicLake.append(Seq((2, "y")).toDF("id", "v"), root)
      AtomicLake.compact(spark, root)
      AtomicLake.lastTxn(root, "sink-a") shouldBe Some(0L)
      // advance; a second app keeps its own watermark
      AtomicLake.append(Seq((3, "z")).toDF("id", "v"), root,
        txn = Some("sink-a" -> 1L))
      AtomicLake.append(Seq((4, "w")).toDF("id", "v"), root,
        txn = Some("sink-b" -> 7L))
      AtomicLake.lastTxn(root, "sink-a") shouldBe Some(1L)
      AtomicLake.lastTxn(root, "sink-b") shouldBe Some(7L)
    }
    it("the foreachBatch skip idiom makes a redelivered batch a no-op") {
      val root = freshRoot("txn_replay")
      def deliver(batchId: Long, rows: Seq[(Int, String)]): Unit = {
        val fresh = !AtomicLake.lastTxn(root, "sink")
          .exists(_ >= batchId)
        if (fresh && rows.nonEmpty)
          AtomicLake.append(rows.toDF("id", "v"), root,
            txn = Some("sink" -> batchId))
      }
      deliver(0L, Seq((1, "a")))
      deliver(0L, Seq((1, "a"))) // crash-before-checkpoint redelivery
      deliver(1L, Seq((2, "b")))
      deliver(1L, Seq((2, "b")))
      AtomicLake.read(spark, root).count() shouldBe 2
    }
  }

  describe("crash recovery") {
    it("a killed writer's leftovers are invisible and harmless") {
      val root = freshRoot("crash")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      // crash AFTER staging+moving data files, BEFORE the commit:
      // orphan files sit in data/, no manifest points at them
      AtomicLake.stageFiles(Seq((666, "a")).toDF("id", "part"),
        root, Seq("part"), filesPerPartition = 1)
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSeq shouldBe Seq(1)
      // the next (healthy) upsert of the same partition commits fine
      // and the orphan stays unreferenced
      AtomicLake.upsertPartitions(Seq((2, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSeq shouldBe Seq(2)
    }
    it("compact merges fragmented partitions atomically; content unchanged") {
      val root = freshRoot("compact")
      // three append commits -> 3 files in partition "a"
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.append(Seq((2, "a")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.append(Seq((3, "a")).toDF("id", "part"), root, Seq("part"))
      AtomicLake.currentSnapshot(root).get.files("part=a").size shouldBe 3
      val v = AtomicLake.compact(spark, root)
      v shouldBe 4L
      AtomicLake.currentSnapshot(root).get.files("part=a").size shouldBe 1
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(1, 2, 3)
      // the manifest records WHAT produced each commit: incremental
      // consumers (the graft-lake stream) key on this
      AtomicLake.snapshotAt(root, v).kind shouldBe "compact"
      AtomicLake.snapshotAt(root, 3L).kind shouldBe "write"
    }
    it("overwrite clears a partition a concurrent writer adds mid-flight") {
      // the race, deterministically: an overwrite stages against v1
      // {A}, a concurrent upsert commits partition C, then the
      // overwrite commits. The replaced set is resolved INSIDE the
      // commit retry loop (replaceAll), so C must not survive.
      val root = freshRoot("overwrite_race")
      AtomicLake.upsertPartitions(Seq((1, "A")).toDF("id", "part"),
        root, Seq("part"))
      val staged = AtomicLake.stageFiles(
        Seq((10, "A")).toDF("id", "part"), root, Seq("part"), 1)
      // concurrent writer lands partition C between stage and commit
      AtomicLake.upsertPartitions(Seq((2, "C")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.commit(root, Seq("part"))(s =>
        s.swap(staged, touched = s.files.keySet))
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSet shouldBe Set(10) // C's rows are gone
    }

    it("AQE suppression is reentrant across concurrent stagers") {
      import graft.sources.AqeScope
      val key = "spark.sql.adaptive.enabled"
      val original = spark.conf.get(key)
      AqeScope.enter(spark) // writer A
      spark.conf.get(key) shouldBe "false"
      AqeScope.enter(spark) // writer B nests, sees A's temporary value
      AqeScope.exit(spark)  // A exits first
      spark.conf.get(key) shouldBe "false" // B still staging
      AqeScope.exit(spark)  // B exits last -> ORIGINAL restored
      spark.conf.get(key) shouldBe original
    }

    it("compact aborts instead of resurrecting a concurrently-upserted partition") {
      val root = freshRoot("compact_conflict")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.append(Seq((2, "a")).toDF("id", "part"), root, Seq("part"))
      val snap = AtomicLake.currentSnapshot(root).get
      // a compactor derived its rewrite from `snap`...
      val staged = AtomicLake.stageFiles(
        AtomicLake.read(spark, root), root, Seq("part"), 1)
      // ...but an upsert of the same partition lands first
      AtomicLake.upsertPartitions(Seq((9, "a")).toDF("id", "part"),
        root, Seq("part"))
      a[java.util.ConcurrentModificationException] should be thrownBy
        AtomicLake.commit(root, Seq("part"), expectedBase = Some(snap),
          touched = staged.keySet)(_.swap(staged, staged.keySet))
      // the winner's data is intact
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSeq shouldBe Seq(9)
    }
    it("vacuum reclaims orphans and expired snapshots, keeps live ones") {
      val root = freshRoot("vacuum")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.upsertPartitions(Seq((2, "a")).toDF("id", "part"),
        root, Seq("part"))
      AtomicLake.upsertPartitions(Seq((3, "a")).toDF("id", "part"),
        root, Seq("part"))
      // a dead writer's orphan
      AtomicLake.stageFiles(Seq((99, "a")).toDF("id", "part"),
        root, Seq("part"), 1)
      // a dead committer-era writer's staging dir
      val staging = Paths.get(root, "_staging")
      Files.createDirectories(staging.resolve("old"))
      Files.write(staging.resolve("old").resolve("part.parquet"),
        Array[Byte](1, 2, 3))
      // a dry run reports but leaves everything, `_staging` included
      AtomicLake.vacuum(root, keepVersions = 2, minAgeMs = 0L,
        dryRun = true) should be >= 3 // + v1's expired manifest
      Files.exists(staging.resolve("old").resolve("part.parquet")) shouldBe true
      // minAge 0: everything old enough; keep the last 2 versions
      val deleted = AtomicLake.vacuum(root, keepVersions = 2, minAgeMs = 0L)
      deleted should be >= 2 // v1's file + the orphan
      // the swept staging dir goes with its last entry
      Files.exists(staging) shouldBe false
      AtomicLake.currentVersion(root) shouldBe Some(3L)
      AtomicLake.read(spark, root).select("id").as[Int]
        .collect().toSeq shouldBe Seq(3)
      AtomicLake.readVersion(spark, root, 2).select("id").as[Int]
        .collect().toSeq shouldBe Seq(2)
      // v1 is expired: manifest gone
      a[Throwable] should be thrownBy
        AtomicLake.readVersion(spark, root, 1).collect()
    }
    it("commits through a catalog on a simulated object store (no atomic link)") {
      // S3 model: PUT is last-writer-wins, there is NO create-exclusive
      // — the version claim moves into the transactional catalog
      // (DuckLake's catalog-database role); manifest bodies live under
      // writer-unique keys so no PUT ever contends
      import graft.sources.{CatalogCommitStore, CommitCatalog}
      val store = new CatalogCommitStore(new CommitCatalog)
      val root = freshRoot("catalog_store")
      AtomicLake.upsertPartitions(Seq((1, "a"), (2, "b")).toDF("id", "part"),
        root, Seq("part"), store = store)
      AtomicLake.upsertPartitions(Seq((9, "a")).toDF("id", "part"),
        root, Seq("part"), store = store)
      AtomicLake.read(spark, root, store = store).select("id").as[Int]
        .collect().toSet shouldBe Set(9, 2)
      AtomicLake.readVersion(spark, root, 1, store = store).select("id")
        .as[Int].collect().toSet shouldBe Set(1, 2)
      // no hardlink-claim files exist — only writer-unique body objects
      Files.list(Paths.get(root, "_manifests")).iterator().asScala
        .map(_.getFileName.toString).toSeq
        .foreach(_ should startWith("m-"))
      // a writer that died between PUT and claim is invisible
      Files.write(Paths.get(root, "_manifests", "m-deadwriter"),
        "partition_cols=part\npart=a\tdata/part=a/ghost.parquet\n"
          .getBytes("UTF-8"))
      AtomicLake.currentVersion(root, store) shouldBe Some(2L)
      AtomicLake.read(spark, root, store = store).select("id").as[Int]
        .collect().toSet shouldBe Set(9, 2)
      // ...and the orphan sweep reclaims exactly it, never a claimed body
      store.sweepOrphans(root, minAgeMs = 0L) shouldBe 1
      Files.exists(Paths.get(root, "_manifests", "m-deadwriter")) shouldBe false
      AtomicLake.read(spark, root, store = store).count() shouldBe 2
      // vacuum works against the catalog: expire v1, keep v2 readable
      AtomicLake.vacuum(root, keepVersions = 1, minAgeMs = 0L,
        store = store) should be >= 1
      a[Throwable] should be thrownBy
        AtomicLake.readVersion(spark, root, 1, store = store).collect()
      AtomicLake.read(spark, root, store = store).select("id").as[Int]
        .collect().toSet shouldBe Set(9, 2)
    }
    it("racing catalog committers all land dense versions, none torn") {
      import graft.sources.{CatalogCommitStore, CommitCatalog}
      val store = new CatalogCommitStore(new CommitCatalog)
      val root = freshRoot("catalog_race")
      AtomicLake.upsertPartitions(Seq((0, "p")).toDF("id", "part"),
        root, Seq("part"), store = store)
      // 6 writers append concurrently: every commit must claim a
      // unique version through the catalog CAS and MERGE with the
      // winners before it (no clobbered file lists)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 6).map { i =>
        new Thread(() => {
          try AtomicLake.append(Seq((i, "p")).toDF("id", "part"),
            root, Seq("part"), store = store)
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      errs.asScala.toSeq shouldBe empty
      AtomicLake.currentVersion(root, store) shouldBe Some(7L)
      AtomicLake.read(spark, root, store = store).select("id").as[Int]
        .collect().toSet shouldBe (0 to 6).toSet
    }
    it("JDBC catalog: claim CAS, race, and protocol parity on a real database") {
      // The production catalog binding (reference: DuckLake's catalog
      // on Postgres, utils_db.py:6-60) proven against embedded Derby —
      // same ANSI SQL, same unique-key-insert CAS as a Postgres target.
      import graft.sources.{CatalogCommitStore, JdbcCommitCatalog}
      System.setProperty("derby.stream.error.file",
        "target/test-scratch/derby.log")
      val dbDir = s"$scratch/derby_db_${System.nanoTime()}"
      val cat = new JdbcCommitCatalog(s"jdbc:derby:$dbDir;create=true")
      // claim primitive: exactly one winner per (root, version)
      cat.claim("t1", 1L, "m-a") shouldBe true
      cat.claim("t1", 1L, "m-b") shouldBe false
      cat.keyFor("t1", 1L) shouldBe Some("m-a")
      cat.versions("t1") shouldBe Seq(1L)
      cat.drop("t1", 1L)
      cat.keyFor("t1", 1L) shouldBe None
      // a second catalog instance on the same database sees the same
      // state (CREATE TABLE tolerated as already-existing)
      val cat2 = new JdbcCommitCatalog(s"jdbc:derby:$dbDir")
      cat.claim("t2", 1L, "m-c") shouldBe true
      cat2.keyFor("t2", 1L) shouldBe Some("m-c")
      cat2.claim("t2", 1L, "m-d") shouldBe false
      // full lake protocol: 6 racing appenders through the JDBC CAS
      val store = new CatalogCommitStore(cat)
      val root = freshRoot("jdbc_catalog_race")
      AtomicLake.upsertPartitions(Seq((0, "p")).toDF("id", "part"),
        root, Seq("part"), store = store)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 6).map { i =>
        new Thread(() => {
          try AtomicLake.append(Seq((i, "p")).toDF("id", "part"),
            root, Seq("part"), store = store)
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      errs.asScala.toSeq shouldBe empty
      AtomicLake.currentVersion(root, store) shouldBe Some(7L)
      AtomicLake.read(spark, root, store = store).select("id").as[Int]
        .collect().toSet shouldBe (0 to 6).toSet
    }
    it("two writers racing one version both land, in order") {
      val root = freshRoot("race")
      AtomicLake.upsertPartitions(Seq((1, "a")).toDF("id", "part"),
        root, Seq("part"))
      // both stage against v1, then commit one after the other — the
      // second commit must MERGE with the winner, not clobber it
      val sA = AtomicLake.stageFiles(Seq((5, "a")).toDF("id", "part"),
        root, Seq("part"), 1)
      val sB = AtomicLake.stageFiles(Seq((6, "b")).toDF("id", "part"),
        root, Seq("part"), 1)
      AtomicLake.commit(root, Seq("part"))(_.swap(sA, sA.keySet)) shouldBe 2L
      AtomicLake.commit(root, Seq("part"))(_.swap(sB, sB.keySet)) shouldBe 3L
      AtomicLake.read(spark, root).select("id", "part")
        .as[(Int, String)].collect().toSet shouldBe
        Set((5, "a"), (6, "b"))
    }
  }
}
