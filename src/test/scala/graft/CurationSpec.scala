package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.{Bloom, Curation, Export}

/** Corpus-curation & export operators (SURVEY.md §2 H1-H5). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  describe("Curation.segments") {
    def segs(text: String, k: Int): Seq[String] =
      Seq(text).toDF("t")
        .select(Curation.segments($"t", k).as("s"))
        .as[Seq[String]].head()

    it("chunks tokens into k-token segments, partial tail kept") {
      segs("a b c d e f g", 3) shouldBe Seq("a b c", "d e f", "g")
    }
    it("collapses runs of whitespace (empty tokens dropped)") {
      segs("a  b   c d", 2) shouldBe Seq("a b", "c d")
    }
    it("yields no segments for empty text") {
      segs("", 3) shouldBe Seq.empty
      segs("   ", 3) shouldBe Seq.empty
    }
    it("native kernel matches the declarative reference form") {
      val texts = Seq("a b c d e f g", "a  b   c d", "", "   ", "one",
        "x y z", "á é multi ßyte tokens  here", "a b c d")
      val df = texts.toDF("t")
      val mismatches = df.select(
        Curation.segments($"t", 3).as("k"),
        Curation.segmentsReference($"t", 3).as("r"))
        .filter(!($"k" <=> $"r")).count()
      mismatches shouldBe 0
    }
  }

  describe("Curation.removeBoilerplate") {
    // 'x y z' appears in 3 docs (boilerplate at maxDf=3); each doc
    // also has unique content. Doc 4 is ENTIRELY boilerplate.
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "d e f x y z"),
      (3L, "g h i j k l"),
      (4L, "x y z")).toDF("doc_id", "text")
    val out = Curation.removeBoilerplate(docs, "doc_id", "text",
        k = 3, maxDf = 3)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    it("removes segments at or above the df threshold, keeps order") {
      out(1L) shouldBe ((2, 1, "a b c"))
      out(2L) shouldBe ((2, 1, "d e f"))
    }
    it("leaves documents with no boilerplate untouched") {
      out(3L) shouldBe ((2, 0, "g h i j k l"))
    }
    it("reduces an all-boilerplate document to empty clean_text") {
      out(4L) shouldBe ((1, 1, ""))
    }
  }

  describe("Curation.dedupWithinDoc") {
    val docs = Seq(
      (1L, "a b c d a b e f"), // 'a b' repeats at seg 0 and seg 2
      (2L, "x y x z"),         // 'x y' != 'x z': nothing drops
      (3L, "p q p q p q")).toDF("doc_id", "text")
    val out = Curation.dedupWithinDoc(docs, "doc_id", "text", k = 2)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    it("drops later repeats, keeps the first occurrence in place") {
      out(1L) shouldBe ((4, 1, "a b c d e f"))
    }
    it("leaves repeat-free documents untouched") {
      out(2L) shouldBe ((2, 0, "x y x z"))
    }
    it("collapses a fully-repetitive document to one segment") {
      out(3L) shouldBe ((3, 2, "p q"))
    }
  }

  describe("Sampling.topNPerStratum") {
    val docs = (1L to 200L)
      .map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "stratum")

    it("returns exactly n per stratum with ranks 1..n") {
      val s = graft.operators.Sampling
        .topNPerStratum(docs, "id", "stratum", n = 7)
        .as[(Long, String, Int)].collect()
      s.groupBy(_._2).view.mapValues(_.map(_._3).sorted.toSeq).toMap shouldBe
        Map("even" -> (1 to 7), "odd" -> (1 to 7))
    }
    it("returns the whole stratum when it is smaller than n") {
      graft.operators.Sampling
        .topNPerStratum(docs.filter($"id" <= 3), "id", "stratum", n = 10)
        .count() shouldBe 3
    }
    it("is stable under corpus growth (old members keep membership unless evicted by rank)") {
      val small = graft.operators.Sampling
        .topNPerStratum(docs.filter($"id" <= 100), "id", "stratum", 5)
        .select("id").as[Long].collect().toSet
      val grown = graft.operators.Sampling
        .topNPerStratum(docs, "id", "stratum", 5)
        .select("id").as[Long].collect().toSet
      // growth can only replace members with lower-hash newcomers:
      // survivors keep their relative hash order
      (grown -- small).foreach(id => id should be > 100L)
    }
  }

  describe("Export.writeJsonlShards") {
    it("writes gzip jsonl per shard that round-trips") {
      val dir = TestScratch("test_jsonl")
      val docs = (1L to 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      Export.writeJsonlShards(docs, "doc_id", nShards = 4, path = dir)
      val back = spark.read.json(dir)
      back.count() shouldBe 50
      back.columns.toSet shouldBe Set("doc_id", "text", "shard")
      // physically gzip'd json-lines
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard="))
        .flatMap(_.listFiles()).map(_.getName)
        .filter(_.startsWith("part-"))
      files should not be empty
      all(files) should endWith(".json.gz")
    }
    it("a re-export with fewer shards replaces the whole layout") {
      val dir = TestScratch("test_jsonl_reshard")
      val docs = (1L to 40L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      Export.writeJsonlShards(docs, "doc_id", nShards = 4, path = dir)
      Export.writeJsonlShards(docs, "doc_id", nShards = 2, path = dir)
      spark.read.json(dir).count() shouldBe 40
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("shard=")).toSet shouldBe Set("shard=0", "shard=1")
    }
  }

  describe("Curation.sharedSpans / trimSharedSpans (H13)") {
    // A and B share the 5-token run S1..S5 at offsets 3 and 2; C is
    // that run verbatim plus a tail; D is all-shared; E is untouched.
    val corpus = Seq(
      (1L, "a1 a2 a3 S1 S2 S3 S4 S5 b1 b2"),
      (2L, "c1 c2 S1 S2 S3 S4 S5 d1"),
      (3L, "S1 S2 S3 S4 S5 e1"),
      (4L, "S1 S2 S3 S4 S5"),
      (5L, "u1  u2 unrelated tokens entirely"))

    it("finds each maximal cross-doc run with exact offsets and length") {
      val runs = Curation.sharedSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, minLen = 3, maxPostings = 100)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      runs should contain((1L, 2L, 3L, 2L, 5L))
      runs should contain((1L, 3L, 3L, 0L, 5L))
      runs should contain((1L, 4L, 3L, 0L, 5L))
      runs should contain((2L, 3L, 2L, 0L, 5L))
      runs should contain((3L, 4L, 0L, 0L, 5L))
      // doc 5 shares nothing
      runs.exists(r => r._1 == 5L || r._2 == 5L) shouldBe false
    }

    it("reports two separate runs in one pair as two rows") {
      val two = Seq(
        (1L, "X1 X2 X3 m1 m2 m3 Y1 Y2 Y3"),
        (2L, "X1 X2 X3 n1 n2 Y1 Y2 Y3")).toDF("doc_id", "text")
      val runs = Curation.sharedSpans(two, "doc_id", "text",
        k = 3, minLen = 3, maxPostings = 100)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      runs shouldBe Set((1L, 2L, 0L, 0L, 3L), (1L, 2L, 6L, 5L, 3L))
    }

    it("drops windows above the posting cap (boilerplate guard)") {
      val runs = Curation.sharedSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, minLen = 3, maxPostings = 2)
      // the S1..S5 windows occur in 4 docs (> cap) — nothing pairs
      runs.count() shouldBe 0L
    }

    it("trims the higher-id doc, keeps first occurrence and untouched docs byte-identical") {
      val out = Curation.trimSharedSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, minLen = 5, maxPostings = 100)
        .as[(Long, String)].collect().toMap
      out(1L) shouldBe "a1 a2 a3 S1 S2 S3 S4 S5 b1 b2" // first occurrence
      out(2L) shouldBe "c1 c2 d1"
      out(3L) shouldBe "e1" // overlapping intervals from docs 1+2 merged
      out(4L) shouldBe "" // fully covered, empty not null
      out(5L) shouldBe "u1  u2 unrelated tokens entirely" // verbatim
    }

    it("native spanHashes kernel matches the declarative reference") {
      val texts = Seq("a b c d e f g", "a  b   c d", "", "   ", "one two",
        "á é multi ßyte tokens here", "x y z", "w1 w2 w3 w1 w2 w3 w1")
      val mismatches = texts.toDF("t").select(
        Curation.spanHashes($"t", 3).as("k"),
        Curation.spanHashesReference($"t", 3).as("r"))
        .filter(!($"k" <=> $"r")).count()
      mismatches shouldBe 0
    }
  }

  describe("Curation.dupNgramFraction (H14)") {
    def frac(text: String, n: Int): Double =
      Seq(text).toDF("t")
        .select(Curation.dupNgramFraction($"t", n).as("f"))
        .as[Double].head()

    it("is 0 for repeat-free docs and 1 for a fully looping doc") {
      frac("a b c d e", 2) shouldBe 0.0
      frac("x y x y x y", 2) shouldBe 1.0
    }
    it("weights coverage by characters, not tokens") {
      // 'aa bb' repeats (4 chars covered... tokens: aa bb aa bb c —
      // the bigrams (aa,bb),(bb,aa),(aa,bb): (aa,bb) duplicated →
      // covers tokens 0..3 (8 chars) of 9 total
      frac("aa bb aa bb c", 2) shouldBe (8.0 / 9.0)
    }
    it("n=3 requires a 3-gram repeat, not just word repeats") {
      frac("a b c x a c b", 3) shouldBe 0.0
      frac("a b c x a b c", 3) shouldBe (6.0 / 7.0)
    }
    it("degenerate docs score 0") {
      frac("", 2) shouldBe 0.0
      frac("one", 2) shouldBe 0.0
    }
  }

  describe("Curation.lmScore") {
    it("scores in-distribution text lower than outlier text; shorts get null") {
      // corpus dominated by one pattern + one gibberish outlier + one
      // too-short doc: the outlier's bigrams are unseen (smoothed
      // floor probability) so its avg_nll must exceed the pattern's
      val docs = ((1L to 20L).map(i => (i, "the cat sat on the mat")) ++
        Seq((100L, "zq xv qp zk wj"), (101L, "one"))).toDF("doc_id", "text")
      val s = Curation.lmScore(docs, "doc_id", "text")
      s.count() shouldBe 22
      val short = s.filter($"doc_id" === 101L).head()
      short.getLong(1) shouldBe 0L
      short.isNullAt(2) shouldBe true
      val pat = s.filter($"doc_id" === 1L).head().getDouble(2)
      val out = s.filter($"doc_id" === 100L).head().getDouble(2)
      out should be > pat
      // perplexity of the dominant pattern is low (near-deterministic
      // bigrams): avg_nll well under the uniform-over-vocab bound
      pat should be < 3.0
    }
    it("is deterministic across evaluations") {
      val docs = graft.sources.Tables.documents(spark, sf).limit(200)
      val a = Curation.lmScore(docs, "doc_id", "text")
        .orderBy("doc_id").collect()
      val b = Curation.lmScore(docs, "doc_id", "text")
        .orderBy("doc_id").collect()
      a shouldBe b
    }
  }

  describe("Export.shuffledLayout / writeShuffledJsonl") {
    it("is a deterministic permutation: seed-stable, seed-sensitive, dense pos") {
      val docs = (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      val a = Export.shuffledLayout(docs, "doc_id", seed = 42L, nShards = 4)
      val b = Export.shuffledLayout(docs, "doc_id", seed = 42L, nShards = 4)
      a.orderBy("shard", "pos").collect() shouldBe
        b.orderBy("shard", "pos").collect() // same seed = byte-identical
      // every doc appears exactly once; pos is dense 0..n-1 per shard
      a.count() shouldBe 200
      a.select("doc_id").distinct().count() shouldBe 200
      val perShard = a.groupBy("shard")
        .agg(count(lit(1)).as("n"), min($"pos").as("lo"), max($"pos").as("hi"))
        .collect()
      perShard.foreach { r =>
        r.getLong(2) shouldBe 0L
        r.getLong(3) shouldBe r.getLong(1) - 1
      }
      // a different seed is a different permutation (not id order)
      val c = Export.shuffledLayout(docs, "doc_id", seed = 7L, nShards = 4)
      c.join(a, Seq("doc_id"))
        .filter(a("shard") === c("shard") && a("pos") === c("pos"))
        .count() should be < 200L
      // and the shuffle is not the identity layout: within some shard,
      // consecutive positions hold non-consecutive ids
      val ids = a.filter($"shard" === 0).orderBy($"pos")
        .select($"doc_id").as[Long].collect()
      ids.sliding(2).exists(p => p(1) != p(0) + 1) shouldBe true
    }
    it("writeShuffledJsonl lays files out in manifest order") {
      val dir = TestScratch("test_shuffled_jsonl")
      val docs = (1L to 60L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      Export.writeShuffledJsonl(docs, "doc_id", seed = 42L, nShards = 3,
        path = dir)
      val layout = Export.shuffledLayout(docs, "doc_id", seed = 42L,
        nShards = 3)
      (0 until 3).foreach { sh =>
        // file line order == manifest pos order for this shard
        val fileIds = spark.read
          .json(s"$dir/shard=$sh")
          .select(monotonically_increasing_id().as("line"), $"doc_id")
          .orderBy($"line").select($"doc_id").as[Long].collect()
        val want = layout.filter($"shard" === sh).orderBy($"pos")
          .select($"doc_id").as[Long].collect()
        fileIds shouldBe want
      }
    }
  }

  describe("Export.writeSorted") {
    it("range-partitioned files concatenate to the total order") {
      val dir = TestScratch("test_sorted")
      val df = (1L to 1000L).map(i => (i * 7919 % 1000, i))
        .toDF("key", "payload")
      Export.writeSorted(df, "key", nFiles = 4, path = dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.toString).sorted
      files.length should be > 1
      val perFile = files.map(f =>
        spark.read.parquet(f).select("key").as[Long].collect())
      perFile.foreach(ks => ks.toSeq shouldBe ks.sorted.toSeq)
      // cross-file: file i's max <= file i+1's min
      perFile.sliding(2).foreach {
        case Array(a, b) => a.last should be <= b.head
        case _ =>
      }
      perFile.map(_.length).sum shouldBe 1000
    }
  }

  describe("Curation.tfidfTopK") {
    // 'rare' appears only in doc 1; 'common' in all three docs.
    val docs = Seq(
      (1L, "common rare common"),
      (2L, "common common other"),
      (3L, "common other other")).toDF("doc_id", "text")
    val rows = Curation.tfidfTopK(docs, "doc_id", "text", topK = 2)
      .as[(Long, Int, String, Int, Int, Double)].collect()

    it("ranks rarer terms above frequent ones at equal tf") {
      val doc1 = rows.filter(_._1 == 1L).sortBy(_._2)
      doc1.head._3 shouldBe "rare" // tf=1, df=1 → score 3.0
      doc1.head._6 shouldBe 3.0
      // common: tf=2, df=3 → 2*3/3 = 2.0
      doc1(1)._3 shouldBe "common"
      doc1(1)._6 shouldBe 2.0
    }
    it("returns at most topK rows per document") {
      rows.groupBy(_._1).values.foreach(_.length should be <= 2)
    }
    it("breaks exact score ties by term ascending") {
      // doc 3: other tf=2 df=2 → 3.0; common tf=1 df=3 → 1.0
      val doc3 = rows.filter(_._1 == 3L).sortBy(_._2).map(_._3)
      doc3 shouldBe Array("other", "common")
    }
  }

  describe("Export.packingManifest") {
    val docs = (1L to 40L).map(i => (i, "t " * (i % 7 + 1).toInt))
      .toDF("doc_id", "text")
    val m = Export.packingManifest(docs, "doc_id",
        TextFns.wordCount($"text"), nShards = 4, budget = 10)
      .as[(Long, Int, Int, Long, Long, Long)].collect()

    it("assigns every document to a shard in range") {
      m.map(_._2).toSet.subsetOf((0 until 4).toSet) shouldBe true
      m.length shouldBe 40
    }
    it("packs each shard's stream contiguously in doc-id order") {
      m.groupBy(_._2).values.foreach { sh =>
        val sorted = sh.sortBy(_._1)
        sorted.foldLeft(0L) { case (expectStart, row) =>
          row._4 shouldBe expectStart // start_tok = previous cum
          expectStart + row._3
        }
      }
    }
    it("spans sequences exactly floor(start/B)..floor((end-1)/B)") {
      m.foreach { case (_, _, n, start, sf_, sl) =>
        sf_ shouldBe start / 10
        if (n > 0) sl shouldBe (start + n - 1) / 10
        else sl shouldBe sf_
      }
    }
  }

  describe("Export.writeShards") {
    it("writes one directory per shard, readable and complete") {
      val dir = TestScratch("test_shards")
      val docs = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      Export.writeShards(docs, "doc_id", nShards = 4, path = dir)
      val back = spark.read.parquet(dir)
      back.count() shouldBe 100
      back.select("shard").distinct().as[Int].collect().toSet shouldBe
        docs.select(Export.shardOf($"doc_id", 4)).as[Int].collect().toSet
      // shard layout is deterministic: same assignment on re-read
      val expect = docs.select($"doc_id",
        Export.shardOf($"doc_id", 4).as("shard"))
      back.select($"doc_id", $"shard".cast("int").as("shard"))
        .except(expect).count() shouldBe 0
    }
  }

  describe("Bloom") {
    val base = (1L to 2000L).map(i => i * 3).toDF("k")
    val filter = Bloom.build(base, "k")

    it("never yields a false negative") {
      val probed = base.select($"k",
          filter.mightContain($"k").as("mc"))
        .filter(!$"mc").count()
      probed shouldBe 0
    }
    it("keeps the false-positive rate near theory") {
      // 10 bits/key, k=7 → theoretical fpp ≈ 0.8%; allow 3%
      val absent = (1L to 10000L).map(i => i * 3 + 1).toDF("k")
      val fp = absent.select(filter.mightContain($"k").as("mc"))
        .filter($"mc").count()
      fp.toDouble / 10000 should be < 0.03
    }
    it("an empty base builds the all-zero filter (bootstrap run)") {
      val empty = base.filter($"k" < 0)
      val f = Bloom.build(empty, "k")
      val probe = (1L to 50L).toDF("k")
      probe.filter(f.mightContain($"k")).count() shouldBe 0
      val flagged = Bloom.flagMembership(probe, "k", empty, "k", f)
      flagged.count() shouldBe 50
      flagged.filter($"is_known").count() shouldBe 0
    }
    it("routes null probe keys to is_known = false, never drops them") {
      val probe = Seq(Some(3L), Some(999983L), None)
        .toDF("k")
      val flagged = Bloom.flagMembership(probe, "k", base, "k", filter)
      flagged.count() shouldBe 3
      flagged.filter($"k".isNull).select($"is_known")
        .as[Boolean].collect().toSeq shouldBe Seq(false)
    }
    it("flagMembership equals the exact anti-join") {
      val probe = (1L to 500L).map(i => i * 7).toDF("k")
      val flagged = Bloom.flagMembership(probe, "k", base, "k", filter)
      flagged.count() shouldBe 500
      val newKeys = flagged.filter(!$"is_known").select("k")
        .as[Long].collect().toSet
      val exact = probe.join(base, Seq("k"), "left_anti")
        .as[Long].collect().toSet
      newKeys shouldBe exact
    }
  }

  describe("TextFns url parsing") {
    val u = Seq("https://a.b.example.com/p/42?ref=en&x=1#frag")
      .toDF("url")
    it("extracts host, path, query param, registered domain") {
      val r = u.select(
        TextFns.urlHost($"url"),
        TextFns.urlPath($"url"),
        TextFns.urlQueryParam($"url", "ref"),
        TextFns.urlQueryParam($"url", "x"),
        TextFns.urlQueryParam($"url", "missing"),
        TextFns.registeredDomain(TextFns.urlHost($"url")))
        .as[(String, String, String, String, String, String)].head()
      r shouldBe (("a.b.example.com", "/p/42", "en", "1", "",
        "example.com"))
    }
    it("returns empty host for relative or malformed urls") {
      Seq("/just/a/path", "not a url").toDF("url")
        .select(TextFns.urlHost($"url")).as[String].collect()
        .toSeq shouldBe Seq("", "")
    }
    it("treats regex metacharacters in a query-param key literally") {
      val u = Seq("https://h/x?q[0]=hit&aXb=trap&a.b=dot").toDF("url")
      u.select(
        TextFns.urlQueryParam($"url", "q[0]"),
        TextFns.urlQueryParam($"url", "a.b"))
        .as[(String, String)].head() shouldBe (("hit", "dot"))
    }
  }
}
