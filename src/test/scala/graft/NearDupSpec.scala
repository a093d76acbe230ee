package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, MinHashLsh, SimHash}
import graft.sources.Tables

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  // a base doc, a near-identical copy (one word changed), and noise
  private lazy val planted = {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok30", "changed")
    Seq(
      (1L, base), (2L, near),
      (3L, (100 to 160).map(i => s"other$i").mkString(" ")),
      (4L, (200 to 260).map(i => s"unrel$i").mkString(" "))
    ).toDF("doc_id", "text")
  }

  describe("MinHashLsh") {
    it("signatures are deterministic and permutation-count sized") {
      val sig = planted.select(
        MinHashLsh.signature(Dedup.shingles($"text", 3), 32).as("s"))
      sig.selectExpr("size(s)").as[Int].collect().forall(_ == 32) shouldBe true
      val a = sig.as[Seq[Long]].collect()
      val b = planted.select(
        MinHashLsh.signature(Dedup.shingles($"text", 3), 32).as("s"))
        .as[Seq[Long]].collect()
      a shouldBe b
    }
    it("finds the planted near-dup pair and nothing else") {
      val out = MinHashLsh.nearDuplicates(planted, "doc_id", "text",
        threshold = 0.7)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      out shouldBe Set((1L, 2L))
    }
    it("maxBucket drops degenerate buckets, keeps discriminative ones") {
      // 30 identical docs: every band bucket holds all 30 (the
      // degenerate case the cap exists for — and exactly why the cap
      // requires exact-dedup upstream); plus one genuinely near-dup
      // pair with unique text
      val degenerate = (100L until 130L).map(i =>
        (i, "x y z w v u t s r q p o"))
      val pair = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota"))
      val df = (degenerate ++ pair).toDF("doc_id", "text")
      val capped = MinHashLsh.candidatePairs(df, "doc_id", "text",
          maxBucket = 10)
        .as[(Long, Long)].collect().toSet
      capped shouldBe Set((1L, 2L)) // degenerate group's pairs gone
      // uncapped: the degenerate group floods the candidate set
      MinHashLsh.candidatePairs(df, "doc_id", "text")
        .count() shouldBe (30L * 29 / 2 + 1)
    }
    it("bandedCut (instance min-aggregate) equals bandedIndex over " +
        "the re-agg reference bit-for-bit") {
      // the production ban path computes signatures as a 64-way min
      // groupBy over the instance stream; the reference rebuilds
      // per-doc arrays and folds the kernel. Same buckets, exactly.
      val docs = Tables.documents(spark, sf)
      val sh = docs.select($"doc_id",
        sort_array(Dedup.shingleHashes($"text", 3)).as("sh"))
        .filter(org.apache.spark.sql.functions.size($"sh") > 0)
        .localCheckpoint()
      for (df <- Seq(1, 5, 50)) {
        val banned = sh.select(explode($"sh").as("h"))
          .groupBy("h").count().filter($"count" > df).select("h")
        val fast = MinHashLsh.banded(sh, 64, 32, 42L,
            banned = Some(banned))
          .as[(Long, Int, Long)].collect().toSet
        val ref = MinHashLsh.banded(
          MinHashLsh.signatureInput(sh, df), 64, 32, 42L)
          .as[(Long, Int, Long)].collect().toSet
        fast shouldBe ref
      }
    }
    it("sigMaxDf drops head shingles from the signature only: " +
        "Zipf candidates collapse, planted pair survives, verify " +
        "stays exact on full sets") {
      // r14 two-decade ladder finding: the head shingles of Zipfian
      // text are the min for many permutations at once, so unrelated
      // docs share signature rows — candidates grew 21x for 10x docs
      // under maxBucket alone (3.9M -> 83M, sf1ov -> sf10ov).
      // Reproduce in miniature: every doc shares one dominant
      // boilerplate run; only planted copies are truly similar.
      val rnd = new scala.util.Random(11L)
      val head = "nav nav nav menu menu footer footer footer"
      val docs = (0L until 300L).map { i =>
        val tail = (0 until 20).map(_ => s"t${rnd.nextInt(5000)}")
          .mkString(" ")
        i -> s"$head $tail"
      }
      val planted2 = (docs :+ (300L -> (docs(299)._2 + " extra")))
        .toDF("doc_id", "text")
      // head shingles have df ~= 300; tails are private
      val uncut = MinHashLsh.candidatePairs(planted2, "doc_id", "text",
        bands = 32, maxBucket = 0).count()
      val cut = MinHashLsh.candidatePairs(planted2, "doc_id", "text",
        bands = 32, maxBucket = 0, sigMaxDf = 50)
        .as[(Long, Long)].collect().toSet
      cut.size.toLong should be < (uncut / 10)
      cut should contain((299L, 300L))
      // end-to-end: the verified pair set still scores FULL-set
      // jaccard (head shingles included in the score)
      val out = MinHashLsh.nearDuplicates(planted2, "doc_id", "text",
        threshold = 0.5, sigMaxDf = 50)
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect()
      val full = out.filter(r => r._1 == 299L && r._2 == 300L)
      full should have size 1
      // 26 shared + head shingles in both sets: jaccard well above
      // what the 20-token private tails alone would give
      full.head._3 should be > 0.5
    }
    it("the production-config gate dials are NON-VACUOUS on the gate " +
        "fixture: the ban set and the dropped-bucket set are non-empty") {
      // dedup_minhash_capped / dedup_cross_capped gate the capped
      // chain with sigMaxDf=5, maxBucket=3 (TextQueries). The oracle
      // replays whatever the caps do — including nothing — so this
      // spec pins that they DO something on the fixture corpus: if a
      // testdata regeneration flattened the df/bucket histograms, the
      // gate would silently stop exercising the ban and cap stages.
      val docs = Tables.documents(spark, sf)
      val sh = docs.select($"doc_id",
          sort_array(Dedup.shinglePortableHashes($"text", 3)).as("sh"))
        .filter(org.apache.spark.sql.functions.size($"sh") > 0)
        .localCheckpoint()
      MinHashLsh.bannedCensus(sh, 5).count() should be > 0L
      val banned = MinHashLsh.bannedCensus(sh, 5).select("h")
      val oversized = MinHashLsh.banded(sh, 64, 32, 42L,
          banned = Some(banned))
        .groupBy("band", "bucket").count().filter($"count" > 3)
      oversized.count() should be > 0L
      // and the capped output still finds pairs (not everything died)
      MinHashLsh.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, maxBucket = 3, sigMaxDf = 5,
        portableHash = true).count() should be > 0L
      // dedup_index_cross_capped freezes its ban set from the BUILD
      // corpus only (doc_id % 10 <> 0): that census must also be
      // non-vacuous, and banding the whole corpus under it must still
      // leave >= 1 oversized bucket for the maxBucket=3 probe cap
      val shBase = sh.filter(pmod($"doc_id", lit(10)) =!= 0)
      val bannedBase = MinHashLsh.bannedCensus(shBase, 5).select("h")
      bannedBase.count() should be > 0L
      MinHashLsh.banded(sh, 64, 32, 42L, banned = Some(bannedBase))
        .groupBy("band", "bucket").count().filter($"count" > 3)
        .count() should be > 0L
      // dedup_simhash_ngram's maxBucket=2: >= 1 chunk bucket exceeds it
      val fp = docs.select($"doc_id",
        graft.expressions.NativeKernels.simHashPortable60Col(
          graft.expressions.NativeKernels.wordNGramsCol(
            graft.functions.TextFns.tokens($"text"), 3)).as("fp"))
      val hist = fp.select($"doc_id", explode(array((0 until 4).map(c =>
          struct(lit(c).as("ci"),
            shiftright($"fp", c * 15).bitwiseAND(lit(32767L))
              .as("cv"))): _*)).as("x"))
        .groupBy($"x.ci", $"x.cv").count()
      hist.filter($"count" > 2).count() should be > 0L
    }
    it("wordShinglePortableHashes equals the plain poly fold over " +
        "wordShingles' string forms (order, dedup, non-ASCII skip)") {
      // the kernel folds token bytes + separators without building
      // the concatenated shingle; parity with hashing the actual
      // shingle STRING is what the DuckDB oracle replays (one
      // list_reduce per shingle over its printable-ASCII chars)
      def poly(s: String, base: Long, mod: Long): Long =
        s.filter(c => c >= 0x20 && c <= 0x7e)
          .foldLeft(0L)((h, c) => (h * base + c.toLong) % mod)
      def ph(s: String): Long =
        (poly(s, 131L, 1000000007L) << 30) | poly(s, 137L, 998244353L)
      val texts = Seq(
        (1L, "a b c d"), (2L, "a b"), (3L, "x y z x y z"),
        (4L, "héllo wörld one two"), (5L, "a  b c d"))
      val got = texts.toDF("doc_id", "text")
        .select($"doc_id", Dedup.shinglePortableHashes($"text", 3).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      val want = texts.map { case (id, t) =>
        val w = t.split(" ", -1)
        id -> (if (w.length < 3) Seq.empty[Long]
               else w.sliding(3).map(_.mkString(" ")).map(ph)
                 .toSeq.distinct)
      }.toMap
      got shouldBe want
    }
    it("derives banding from the verify threshold (autoBands)") {
      // boundary-pair catch probability must be >= 98% AT the verify
      // threshold, with the sharpest banding (largest rows/band) that
      // still qualifies — a fixed 16x4 banding tuned for j>=0.7 only
      // catches a boundary j=0.5 pair ~64% of the time
      MinHashLsh.autoBands(64, 0.5) shouldBe 32 // 2 rows: 99.99% at j=0.5
      MinHashLsh.autoBands(64, 0.7) shouldBe 16 // 4 rows: 98.8% at j=0.7
      MinHashLsh.autoBands(64, 0.9) shouldBe 8  // 8 rows: 98.9% at j=0.9
    }
    it("recovers the high-jaccard pairs the exact join finds on real docs") {
      val docs = Tables.documents(spark, sf)
      val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      val lsh = MinHashLsh.nearDuplicates(docs, "doc_id", "text",
        threshold = 0.8)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      // LSH at j>=0.8 with 16x4 banding: miss probability < 1e-8
      lsh shouldBe exact
    }
    it("packed pair path equals the unpacked form row for row") {
      val docs = Tables.documents(spark, sf)
      def rows(packed: Boolean) =
        Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5,
            packedIds = packed)
          .select("id1", "id2", "inter", "n1", "n2")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      rows(true) shouldBe rows(false)
      // the packed kernel refuses 64-bit ids loudly instead of
      // silently corrupting the pair key
      val big = docs.limit(4).select(
        ($"doc_id" + (1L << 33)).as("doc_id"), $"text")
      an[Exception] should be thrownBy
        Dedup.ngramJaccard(big, "doc_id", "text", 3, 0.5).count()
      // …and the unpacked path handles them
      Dedup.ngramJaccard(big, "doc_id", "text", 3, 0.5,
        packedIds = false).count()
    }
    it("df cap drops ubiquitous shingles from the intersection" +
        " (both paths)") {
      // three identical docs: every shingle has df=3; one unrelated doc
      val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
        (3L, "a b c d e f"), (4L, "z y x w v u")).toDF("doc_id", "text")
      for (packed <- Seq(true, false)) {
        // cap at the df ceiling: exact — the 3 identical pairs
        Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5,
          packedIds = packed, maxDf = 3).count() shouldBe 3
        // cap below it: the shared shingles are corpus background by
        // definition of the cap → no intersections survive
        Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5,
          packedIds = packed, maxDf = 2).count() shouldBe 0
      }
    }
    it("cross-corpus nearDuplicatesAgainst equals the brute-force cross join") {
      val docs = Tables.documents(spark, sf)
      val base = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
      val probe = docs.filter(pmod($"doc_id", lit(10)) === 0)
      import org.apache.spark.sql.{functions => F}
      val shB = base.select($"doc_id".as("id1"),
        sort_array(Dedup.shingleHashes($"text", 3)).as("sh1"))
        .filter(F.size($"sh1") > 0)
      val shP = probe.select($"doc_id".as("id2"),
        sort_array(Dedup.shingleHashes($"text", 3)).as("sh2"))
        .filter(F.size($"sh2") > 0)
      val inter = graft.expressions.NativeKernels
        .sortedIntersectCountCol($"sh1", $"sh2")
      val brute = shB.crossJoin(shP)
        .select($"id1", $"id2", (inter.cast("double") /
          (F.size($"sh1") + F.size($"sh2") - inter).cast("double")).as("j"))
        .filter($"j" >= 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      val got = MinHashLsh.nearDuplicatesAgainst(base, probe,
        "doc_id", "text", threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      got shouldBe brute
      // the one-scan split form over the same table is identical
      val split = MinHashLsh.nearDuplicatesSplit(docs, "doc_id", "text",
        probeSide = pmod($"doc_id", lit(10)) === 0, threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      split shouldBe brute
    }
    it("cross-corpus sigMaxDf bans symmetrically from a union census " +
        "and maxBucket caps combined membership — planted pair kept") {
      // the §5.2 Zipf shape, split across two corpora: a shared
      // boilerplate head on every doc, private tails, one true
      // near-dup pair straddling the base/probe line
      val rnd = new scala.util.Random(13L)
      val head = "nav nav nav menu menu footer footer footer"
      val mk = (i: Long) => i ->
        (head + " " + (0 until 20).map(_ => s"t${rnd.nextInt(5000)}")
          .mkString(" "))
      val baseDocs = (0L until 150L).map(mk)
      val twin = 150L -> (baseDocs(149)._2 + " extra")
      val probeDocs = (151L until 300L).map(mk) :+ twin
      val base = baseDocs.toDF("doc_id", "text")
      val probe = probeDocs.toDF("doc_id", "text")
      val uncut = MinHashLsh.nearDuplicatesAgainst(base, probe,
        "doc_id", "text", threshold = 0.5, bands = 32).count()
      val cut = MinHashLsh.nearDuplicatesAgainst(base, probe,
        "doc_id", "text", threshold = 0.5, bands = 32,
        maxBucket = 40, sigMaxDf = 50)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      cut should contain((149L, 150L))
      // verified output is exact full-set jaccard either way, so the
      // production dials can only shrink the found set, never add
      cut.size.toLong should be <= uncut
      // and the candidate machinery really was cut: the banned head
      // means unrelated docs stop colliding
      val candsCut = MinHashLsh.candidatePairs(
        base.unionByName(probe), "doc_id", "text", bands = 32,
        sigMaxDf = 50).count()
      val candsRaw = MinHashLsh.candidatePairs(
        base.unionByName(probe), "doc_id", "text", bands = 32).count()
      candsCut should be < (candsRaw / 10)
    }
    it("index sigMaxDf: ban set frozen at build, probe/append/repair " +
        "band under it, params pin it, pre-r14 params parse as 0") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(17L)
      val head = "nav nav nav menu menu footer footer footer"
      val mk = (i: Long) => i ->
        (head + " " + (0 until 20).map(_ => s"t${rnd.nextInt(5000)}")
          .mkString(" "))
      val base = (0L until 150L).map(mk).toDF("doc_id", "text")
      val probeRows = (151L until 200L).map(mk) :+
        (200L -> (base.filter($"doc_id" === 149L)
          .select("text").as[String].head() + " extra"))
      val probe = probeRows.toDF("doc_id", "text")
      val root = TestScratch("neardup_index_sigdf")
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      val p = NearDupIndex.build(base, "doc_id", "text", root,
        threshold = 0.5, sigMaxDf = 50)
      p.sigMaxDf shouldBe 50
      // round-trips through the committed JSON
      NearDupIndex.readParams(root) shouldBe p
      // probe finds the planted cross pair through the banned banding
      val got = NearDupIndex.pairsAgainstIndex(spark, probe,
          "doc_id", "text", root, threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      got should contain((149L, 200L))
      // append + re-delivery under shifted ids: exact copies share
      // every shingle (incl. rare ones), so they survive the ban cut
      NearDupIndex.append(probe, "doc_id", "text", root)
      val redelivery = probe.select(($"doc_id" + 500000L).as("doc_id"),
        $"text")
      val self = NearDupIndex.pairsAgainstIndex(spark, redelivery,
          "doc_id", "text", root, threshold = 0.5)
        .filter($"jaccard" === 1.0)
        .select($"id2" - 500000L, $"id1".cast("long"))
        .as[(Long, Long)].collect().toSet
      probeRows.map(_._1).toSet.subsetOf(self.map(_._1)) shouldBe true
      // a rebuild under a different sigMaxDf is refused loudly
      val e = intercept[IllegalArgumentException] {
        NearDupIndex.build(base, "doc_id", "text", root,
          threshold = 0.5, sigMaxDf = 10)
      }
      e.getMessage should include("pinned")
      // pre-r14 params JSON (no sigMaxDf key) parses as 0
      val legacyRoot =
        TestScratch("neardup_index_legacy")
      val lp = new org.apache.hadoop.fs.Path(legacyRoot)
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      graft.sources.HardlinkCommitStore.tryCommit(
        s"$legacyRoot/params", 1L,
        """{"shingleN":3,"numHashes":64,"bands":32,"seed":42}""") shouldBe true
      NearDupIndex.readParams(legacyRoot).sigMaxDf shouldBe 0
      // ... and as portableHash=false (no key pre-r15)
      NearDupIndex.readParams(legacyRoot).portableHash shouldBe false
    }
    it("index portableHash is frozen geometry and the lake path " +
        "equals the in-memory cross form pair for pair") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(23L)
      val mk = (i: Long) => i ->
        (0 until 25).map(_ => s"t${rnd.nextInt(3000)}").mkString(" ")
      val base = (0L until 120L).map(mk).toDF("doc_id", "text")
      // plant one near-dup of a base doc + unrelated fillers
      val nearDup = base.filter($"doc_id" === 7L)
        .select("text").as[String].head() + " tail tail"
      val probe = ((200L until 240L).map(mk) :+ (300L -> nearDup))
        .toDF("doc_id", "text")
      val root =
        TestScratch("neardup_index_portable")
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      val p = NearDupIndex.build(base, "doc_id", "text", root,
        threshold = 0.5, portableHash = true)
      p.portableHash shouldBe true
      NearDupIndex.readParams(root) shouldBe p
      // with no census in play (sigMaxDf=0) the lake path must equal
      // the in-memory portable cross form EXACTLY — same hash family,
      // same banding, same verify
      val viaIndex = NearDupIndex.pairsAgainstIndex(spark, probe,
          "doc_id", "text", root, threshold = 0.5)
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val inMem = MinHashLsh.nearDuplicatesAgainst(base, probe,
          "doc_id", "text", threshold = 0.5, bands = p.bands,
          portableHash = true)
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      viaIndex shouldBe inMem
      viaIndex.map(t => (t._1, t._2)) should contain((7L, 300L))
      // the hash family is pinned: rebuilding the same corpus under
      // the other family is refused loudly (every persisted row is a
      // function of it)
      val e = intercept[IllegalArgumentException] {
        NearDupIndex.build(base, "doc_id", "text", root,
          threshold = 0.5)
      }
      e.getMessage should include("pinned")
    }
    it("probe maxBucket caps COMBINED index+batch bucket membership: " +
        "a wall-to-wall hot cluster drops, a discriminative pair " +
        "survives") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(29L)
      val spamText = (0 until 30).map(_ => "spam ham eggs").mkString(" ")
      val mk = (i: Long) => i ->
        (0 until 25).map(_ => s"t${rnd.nextInt(3000)}").mkString(" ")
      // 10 exact copies in the corpus: every band row of theirs is
      // identical, so each of their (band, bucket) values holds >= 10
      // members — the degenerate-cluster shape maxBucket exists for
      val base = ((0L until 100L).map(mk) ++
        (100L until 110L).map(i => i -> spamText)).toDF("doc_id", "text")
      val nearDup = base.filter($"doc_id" === 3L)
        .select("text").as[String].head() + " tail"
      val probe = Seq(500L -> spamText, 501L -> nearDup)
        .toDF("doc_id", "text")
      val root =
        TestScratch("neardup_index_maxbucket")
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      NearDupIndex.build(base, "doc_id", "text", root, threshold = 0.5)
      def probePairs(cap: Int) =
        NearDupIndex.pairsAgainstIndex(spark, probe, "doc_id", "text",
            root, threshold = 0.5, maxBucket = cap)
          .select("id1", "id2").as[(Long, Long)].collect().toSet
      val uncapped = probePairs(0)
      // uncapped: the spam probe pairs with all 10 spam corpus docs
      uncapped.count(_._2 == 500L) shouldBe 10
      uncapped should contain((3L, 501L))
      // capped at 5: the spam cluster's combined membership is 11 in
      // EVERY band it occupies, so all its buckets drop and the probe
      // certifies nothing about it — while the discriminative planted
      // pair (bucket size 2) is untouched. This is the documented
      // recall contract: dedup exact duplicates FIRST (the cap is a
      // stop-bucket guard, not a dup finder).
      val capped = probePairs(5)
      capped.count(_._2 == 500L) shouldBe 0
      capped should contain((3L, 501L))
    }
    it("the broadcast probe shape equals the shuffle shape pair for " +
        "pair, capped and uncapped (incl. under a frozen ban set)") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(31L)
      val head = "nav nav menu menu menu footer"
      val spamText = (0 until 20).map(_ => "spam ham eggs").mkString(" ")
      val mk = (i: Long) => i -> (head + " " +
        (0 until 22).map(_ => s"t${rnd.nextInt(2500)}").mkString(" "))
      val base = ((0L until 130L).map(mk) ++
        (200L until 206L).map(i => i -> spamText)).toDF("doc_id", "text")
      val nearDup = base.filter($"doc_id" === 11L)
        .select("text").as[String].head() + " coda"
      val probe = ((300L until 330L).map(mk) ++
        Seq(400L -> spamText, 401L -> nearDup)).toDF("doc_id", "text")
      val root =
        TestScratch("neardup_index_bcast")
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      // sigMaxDf > 0 so the probe also bands under the frozen ban
      NearDupIndex.build(base, "doc_id", "text", root,
        threshold = 0.5, sigMaxDf = 60)
      // each shape forced through the probe's broadcast argument
      def pairs(cap: Int, bcast: Boolean) = NearDupIndex.probe(spark,
          probe, "doc_id", "text", root, threshold = 0.5,
          maxBucket = cap, store = graft.sources.HardlinkCommitStore,
          broadcastBatch = Some(bcast))
        .select("id1", "id2", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      for (cap <- Seq(0, 4)) {
        val viaBcast = pairs(cap, bcast = true)
        val viaShuffle = pairs(cap, bcast = false)
        viaBcast shouldBe viaShuffle
        // non-vacuity: the fixture exercises both the planted pair
        // and (capped) a dropped hot cluster
        viaBcast.map(t => (t._1, t._2)) should contain((11L, 401L))
        if (cap == 0)
          viaBcast.count(_._2 == 400L) shouldBe 6
        else viaBcast.count(_._2 == 400L) shouldBe 0
      }
    }
    it("capped cross forms agree: the in-memory split form equals the " +
        "index probe under one combined-membership cap, both hash " +
        "families") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(37L)
      val spamText = (0 until 30).map(_ => "spam ham eggs").mkString(" ")
      val mk = (i: Long) => i ->
        (0 until 25).map(_ => s"t${rnd.nextInt(3000)}").mkString(" ")
      // base: 100 fillers + an 8-copy hot cluster; probe: one more
      // copy of the cluster, a near-dup of base doc 3, and fillers
      val baseRows = (0L until 100L).map(mk) ++
        (100L until 108L).map(i => i -> spamText)
      val probeRows = (500L until 520L).map(mk) ++ Seq(
        600L -> spamText, 601L -> (baseRows(3)._2 + " tail"))
      val df = (baseRows ++ probeRows).toDF("doc_id", "text")
      val isProbe = $"doc_id" >= 500L
      for (portable <- Seq(false, true)) {
        val root = TestScratch(s"neardup_capped_cross_$portable")
        val hp = new org.apache.hadoop.fs.Path(root)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(hp, true)
        NearDupIndex.build(df.filter(!isProbe), "doc_id", "text", root,
          threshold = 0.5, portableHash = portable)
        def split(cap: Int) = MinHashLsh.nearDuplicatesSplit(df,
            "doc_id", "text", probeSide = isProbe, threshold = 0.5,
            maxBucket = cap, portableHash = portable)
          .select("id1", "id2", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
        val viaIndex = NearDupIndex.pairsAgainstIndex(spark,
            df.filter(isProbe), "doc_id", "text", root, threshold = 0.5,
            maxBucket = 5)
          .select("id1", "id2", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
        val inMem = split(5)
        inMem shouldBe viaIndex
        // non-vacuity: uncapped, the probe copy pairs with all 8
        // cluster docs; the cap (combined membership 9 > 5) drops
        // them all, and the planted pair survives it
        split(0).count(_._2 == 600L) shouldBe 8
        inMem.count(_._2 == 600L) shouldBe 0
        inMem.map(t => (t._1, t._2)) should contain((3L, 601L))
      }
    }
    it("a fully-banned doc is not a band-table orphan: repair stays " +
        "0, commits nothing, and versionPair holds (r15 ADVICE)") {
      import graft.operators.NearDupIndex
      // 60 identical boilerplate docs push every one of their
      // shingles past sigMaxDf=50 — those docs legitimately produce
      // ZERO band rows. Pre-fix, repair()/missingBandDocs() counted
      // them as orphans forever: repair returned n>0 on every call
      // and committed an EMPTY bands append each time, driving
      // bandsVersion past shVersion (breaking the torn-append
      // detector) and spinning any repair-until-0 loop.
      val boiler = (0L until 60L).map(i =>
        (i, "nav menu footer nav menu footer nav"))
      val real = (100L until 110L).map(i =>
        (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      val base = (boiler ++ real).toDF("doc_id", "text")
      val root = TestScratch("neardup_fullban")
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      NearDupIndex.build(base, "doc_id", "text", root,
        threshold = 0.5, sigMaxDf = 50)
      // the boilerplate docs are in sh but (correctly) not in bands
      graft.sources.AtomicLake.read(spark, s"$root/sh")
        .count() shouldBe 70L
      graft.sources.AtomicLake.read(spark, s"$root/bands")
        .select("doc_id").distinct().count() shouldBe 10L
      // …and none of that is an inconsistency
      NearDupIndex.versionPair(root) shouldBe ((1L, 1L))
      NearDupIndex.missingBandDocs(spark, root).count() shouldBe 0L
      NearDupIndex.repair(spark, root) shouldBe 0L
      NearDupIndex.repair(spark, root) shouldBe 0L
      NearDupIndex.versionPair(root) shouldBe ((1L, 1L))
      // an append whose batch mixes fully-banned and bandable docs
      // commits one version on each table and converges the same way
      val batch = Seq(
        (200L, "nav menu footer nav menu footer nav"), // fully banned
        (201L, "omega psi chi phi upsilon tau sigma"))
        .toDF("doc_id", "text")
      NearDupIndex.append(batch, "doc_id", "text", root) shouldBe
        ((2L, 2L))
      NearDupIndex.missingBandDocs(spark, root).count() shouldBe 0L
      NearDupIndex.repair(spark, root) shouldBe 0L
      NearDupIndex.versionPair(root) shouldBe ((2L, 2L))
      // a REAL torn append among fully-banned docs still repairs:
      // only the bandable doc counts, and one repair converges
      val tornSh = Seq(
        (300L, "nav menu footer nav menu footer nav"),
        (301L, "kappa lambda mu nu xi omicron pi rho"))
        .toDF("doc_id", "text")
        .select($"doc_id",
          sort_array(Dedup.shingleHashes($"text", 3)).as("sh"))
      graft.sources.AtomicLake.append(tornSh, s"$root/sh")
      NearDupIndex.missingBandDocs(spark, root)
        .as[Long].collect().toSet shouldBe Set(301L)
      NearDupIndex.repair(spark, root) shouldBe 1L
      NearDupIndex.missingBandDocs(spark, root).count() shouldBe 0L
      NearDupIndex.repair(spark, root) shouldBe 0L
      val pair = NearDupIndex.versionPair(root)
      pair._1 shouldBe pair._2
    }
    it("persistent index dedups a batch without the corpus text; append extends it") {
      import graft.operators.NearDupIndex
      import org.apache.spark.sql.{functions => F}
      val docs = Tables.documents(spark, sf)
      val base = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
      val probe = docs.filter(pmod($"doc_id", lit(10)) === 0)
      val root = TestScratch("neardup_index")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      NearDupIndex.build(base, "doc_id", "text", root, threshold = 0.5)
      val got = NearDupIndex.pairsAgainstIndex(spark, probe,
          "doc_id", "text", root, threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      val want = MinHashLsh.nearDuplicatesAgainst(base, probe,
          "doc_id", "text", threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      got shouldBe want
      // append the probe batch, then dedup a RE-DELIVERY of it under
      // shifted ids: every shifted doc must match its original (j=1.0)
      // through the index alone
      NearDupIndex.append(probe, "doc_id", "text", root)
      val redelivery = probe.select(($"doc_id" + 1000000L).as("doc_id"),
        $"text")
      val selfMatches = NearDupIndex.pairsAgainstIndex(spark, redelivery,
          "doc_id", "text", root, threshold = 0.5)
        .filter($"id2" === $"id1" + 1000000L)
      selfMatches.count() shouldBe probe
        .filter(F.size(Dedup.shingleHashes($"text", 3)) > 0).count()
      selfMatches.agg(F.min($"jaccard")).as[Double].head() shouldBe 1.0
    }
    it("params commit through the store: catalog round-trip, mismatch refused") {
      import graft.operators.NearDupIndex
      import graft.sources.{CatalogCommitStore, CommitCatalog}
      import org.apache.spark.sql.{functions => F}
      val docs = Tables.documents(spark, sf).limit(60)
      val root = TestScratch("neardup_catalog")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      // an OBJECT-STORE commit store end-to-end: params + both tables
      // go through catalog claims, no create-exclusive/link anywhere
      val store = new CatalogCommitStore(new CommitCatalog)
      NearDupIndex.build(docs, "doc_id", "text", root,
        threshold = 0.5, store = store)
      val probe = docs.limit(8)
      val self = NearDupIndex.pairsAgainstIndex(spark, probe,
          "doc_id", "text", root, threshold = 0.5, store = store)
        .filter($"id1" === $"id2")
      self.count() shouldBe probe
        .filter(F.size(Dedup.shingleHashes($"text", 3)) > 0).count()
      // rebuild under the SAME params is allowed…
      noException should be thrownBy NearDupIndex.build(docs,
        "doc_id", "text", root, threshold = 0.5, store = store)
      // …but different params (0.9 → different banding) are refused:
      // committed rows were hashed under the pinned params
      an[IllegalArgumentException] should be thrownBy
        NearDupIndex.build(docs, "doc_id", "text", root,
          threshold = 0.9, store = store)
    }
    it("append recovers a build that crashed after the params claim") {
      import graft.operators.NearDupIndex
      // simulate the exact crash state build() can leave on an object
      // store: params committed (they commit FIRST), zero table
      // commits — the ingestWithIndexSink retry path routes through
      // exists()==true into append(), which must complete the build
      // instead of throwing 'no commits' forever
      val root = TestScratch("neardup_crashed")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val batch1 = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six")).toDF("doc_id", "text")
      NearDupIndex.build(batch1, "doc_id", "text", root, threshold = 0.5)
      // wipe the tables, keep params: the post-crash state
      fs.delete(new org.apache.hadoop.fs.Path(root + "/sh"), true)
      fs.delete(new org.apache.hadoop.fs.Path(root + "/bands"), true)
      NearDupIndex.exists(root) shouldBe true
      NearDupIndex.append(batch1, "doc_id", "text", root)
      val probe = Seq((9L, "alpha beta gamma delta epsilon eta"))
        .toDF("doc_id", "text")
      NearDupIndex.pairsAgainstIndex(spark, probe, "doc_id", "text",
          root, threshold = 0.5)
        .select("id1").as[Long].collect().toSet shouldBe Set(1L)
    }

    it("repair recovers a bands table that was never committed") {
      import graft.operators.NearDupIndex
      // the OTHER build-crash window: sh overwrite landed, the first
      // bands commit never did — repair must band the whole sh table
      // instead of throwing 'no commits' forever
      val root = TestScratch("neardup_nobands")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val batch = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six")).toDF("doc_id", "text")
      NearDupIndex.build(batch, "doc_id", "text", root, threshold = 0.5)
      fs.delete(new org.apache.hadoop.fs.Path(root + "/bands"), true)
      NearDupIndex.missingBandDocs(spark, root)
        .as[Long].collect().toSet shouldBe Set(1L, 2L)
      NearDupIndex.repair(spark, root) shouldBe 2L
      NearDupIndex.pairsAgainstIndex(spark,
          Seq((9L, "alpha beta gamma delta epsilon eta"))
            .toDF("doc_id", "text"),
          "doc_id", "text", root, threshold = 0.5)
        .select("id1").as[Long].collect().toSet shouldBe Set(1L)
    }

    it("a torn append is detectable, repairable, and retry-idempotent") {
      import graft.operators.NearDupIndex
      import graft.sources.AtomicLake
      import org.apache.spark.sql.{functions => F}
      val docs = Tables.documents(spark, sf)
      val base = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
      val batch = docs.filter(pmod($"doc_id", lit(10)) === 0).limit(20)
      val root = TestScratch("neardup_torn")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      NearDupIndex.build(base, "doc_id", "text", root, threshold = 0.5)
      NearDupIndex.versionPair(root) shouldBe ((1L, 1L))
      // simulate the documented crash window: the batch's sh rows
      // commit, the process dies before the bands commit
      val tornSh = batch.select($"doc_id",
        sort_array(Dedup.shingleHashes($"text", 3)).as("sh"))
        .filter(F.size($"sh") > 0)
      val tornIds = tornSh.select($"doc_id").as[Long].collect().toSet
      AtomicLake.append(tornSh, s"$root/sh")
      // mechanical detection: version pair off by one, exact doc set
      val (shV, bandV) = NearDupIndex.versionPair(root)
      shV shouldBe bandV + 1
      NearDupIndex.missingBandDocs(spark, root)
        .as[Long].collect().toSet shouldBe tornIds
      // the retry of the SAME append duplicates nothing (anti join)
      // and heals the torn window before committing
      NearDupIndex.append(batch, "doc_id", "text", root)
      AtomicLake.read(spark, s"$root/sh")
        .groupBy($"doc_id").count().filter($"count" > 1)
        .count() shouldBe 0L
      NearDupIndex.missingBandDocs(spark, root).count() shouldBe 0L
      // …and the once-torn rows now generate candidates: a shifted
      // re-delivery of the batch matches its originals through the
      // index alone
      val redelivery = batch.select(($"doc_id" + 2000000L).as("doc_id"),
        $"text")
      NearDupIndex.pairsAgainstIndex(spark, redelivery, "doc_id",
          "text", root, threshold = 0.5)
        .filter($"id2" === $"id1" + 2000000L)
        .count() shouldBe tornIds.size.toLong
      // standalone repair on a consistent index is a no-op commit-wise
      NearDupIndex.repair(spark, root) shouldBe 0L
      val pair = NearDupIndex.versionPair(root)
      pair._1 shouldBe pair._2
    }
    it("resolveSigMaxDf picks the largest dial whose kept pair mass " +
        "fits the budget, exactly and deterministically") {
      // hand-built census: shingle hashes ARE the longs; dfs by
      // construction — h=10 in 4 docs (mass C(4,2)=6), h=20 in 3
      // (3), h=30 in 2 (1), h=40..43 in 1 (0 each). Cumulative pair
      // mass by df: cum(2)=1, cum(3)=4, cum(4)=10.
      val sh = Seq(
        (1L, Seq(10L, 20L, 30L, 40L)), (2L, Seq(10L, 20L, 30L, 41L)),
        (3L, Seq(10L, 20L, 42L)), (4L, Seq(10L, 43L))
      ).toDF("doc_id", "sh")
      MinHashLsh.resolveSigMaxDf(sh, 10L) shouldBe 0 // all fits → off
      MinHashLsh.resolveSigMaxDf(sh, 100L) shouldBe 0
      MinHashLsh.resolveSigMaxDf(sh, 9L) shouldBe 3  // cum(3)=4 ≤ 9
      MinHashLsh.resolveSigMaxDf(sh, 4L) shouldBe 3
      MinHashLsh.resolveSigMaxDf(sh, 3L) shouldBe 2  // cum(2)=1 ≤ 3
      MinHashLsh.resolveSigMaxDf(sh, 1L) shouldBe 2
      // nothing ≥ 2 fits → 1 (ban all shared; never resolves to an
      // all-banned signature input on its own)
      val sh2 = Seq((1L, Seq(10L, 20L)), (2L, Seq(10L, 20L)))
        .toDF("doc_id", "sh")
      MinHashLsh.resolveSigMaxDf(sh2, 1L) shouldBe 1
      // no shared shingle at all → off
      val sh3 = Seq((1L, Seq(10L)), (2L, Seq(20L))).toDF("doc_id", "sh")
      MinHashLsh.resolveSigMaxDf(sh3, 1L) shouldBe 0
      an[IllegalArgumentException] should be thrownBy
        MinHashLsh.resolveSigMaxDf(sh, 0L)
      // determinism on a real corpus: same frame, same dial, twice
      val docs = Tables.documents(spark, sf)
      val real = docs.select($"doc_id",
          sort_array(Dedup.shingleHashes($"text", 3)).as("sh"))
        .filter(org.apache.spark.sql.functions.size($"sh") > 0)
      // 13000 is the dedup_minhash_budget gate's budget: measured
      // pair-mass curves put the resolved dial at 4 across ALL of
      // sf0.001/0.01/0.1 (cum mass 12762/12306/5390 at df=4, next
      // step exceeds) — so the gate bans non-vacuously at every SF
      val d1 = MinHashLsh.resolveSigMaxDf(real, 13000L)
      val d2 = MinHashLsh.resolveSigMaxDf(real, 13000L)
      d1 shouldBe d2
      d1 shouldBe 4 // pinned: regen that flattens the census fails here
    }
    it("candidateBudget threads: the budget form equals the explicit " +
        "form at the resolved dial, for self, split and index paths") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(29L)
      val head = "nav nav nav menu menu footer footer footer"
      val mk = (i: Long) => i ->
        (head + " " + (0 until 20).map(_ => s"t${rnd.nextInt(3000)}")
          .mkString(" "))
      val baseRows = (0L until 200L).map(mk)
      val rows = baseRows :+ (200L -> (baseRows.last._2 + " extra"))
      val df = rows.toDF("doc_id", "text").localCheckpoint()
      val sh = df.select($"doc_id",
          sort_array(Dedup.shingleHashes($"text", 3)).as("sh"))
        .filter(org.apache.spark.sql.functions.size($"sh") > 0)
      val budget = 5000L
      val dial = MinHashLsh.resolveSigMaxDf(sh, budget)
      dial should be > 0 // the head run's shingles must exceed it
      def pairSet(out: org.apache.spark.sql.DataFrame) =
        out.select("id1", "id2").as[(Long, Long)].collect().toSet
      // self form
      pairSet(MinHashLsh.nearDuplicates(df, "doc_id", "text",
        threshold = 0.5, candidateBudget = budget)) shouldBe
        pairSet(MinHashLsh.nearDuplicates(df, "doc_id", "text",
          threshold = 0.5, sigMaxDf = dial))
      // split form (union census == whole-table census here)
      pairSet(MinHashLsh.nearDuplicatesSplit(df, "doc_id", "text",
        probeSide = pmod($"doc_id", lit(10)) === 0, threshold = 0.5,
        candidateBudget = budget)) shouldBe
        pairSet(MinHashLsh.nearDuplicatesSplit(df, "doc_id", "text",
          probeSide = pmod($"doc_id", lit(10)) === 0, threshold = 0.5,
          sigMaxDf = dial))
      // both dials set → refused
      an[IllegalArgumentException] should be thrownBy
        MinHashLsh.nearDuplicates(df, "doc_id", "text",
          threshold = 0.5, sigMaxDf = 3, candidateBudget = budget)
    }
    it("index candidateBudget: the RESOLVED dial freezes in params " +
        "with the budget, probes band under it, and a rebuild under " +
        "a different budget is refused") {
      import graft.operators.NearDupIndex
      val rnd = new scala.util.Random(31L)
      val head = "nav nav nav menu menu footer footer footer"
      val mk = (i: Long) => i ->
        (head + " " + (0 until 20).map(_ => s"t${rnd.nextInt(3000)}")
          .mkString(" "))
      val base = (0L until 150L).map(mk).toDF("doc_id", "text")
      val probe = ((151L until 180L).map(mk) :+
        (200L -> (base.filter($"doc_id" === 149L)
          .select("text").as[String].head() + " extra")))
        .toDF("doc_id", "text")
      val root = TestScratch("neardup_index_budget")
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      val budget = 4000L
      val p = NearDupIndex.build(base, "doc_id", "text", root,
        threshold = 0.5, candidateBudget = budget)
      p.candidateBudget shouldBe budget
      val shBase = base.select($"doc_id",
          sort_array(Dedup.shingleHashes($"text", 3)).as("sh"))
        .filter(org.apache.spark.sql.functions.size($"sh") > 0)
      p.sigMaxDf shouldBe MinHashLsh.resolveSigMaxDf(shBase, budget)
      p.sigMaxDf should be > 0
      // params (incl. budget + resolved dial) round-trip the JSON
      NearDupIndex.readParams(root) shouldBe p
      // probe works through the budget-resolved frozen ban set and
      // equals a probe against an explicit-dial twin index
      val got = NearDupIndex.pairsAgainstIndex(spark, probe,
          "doc_id", "text", root, threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      got should contain((149L, 200L))
      val twinRoot =
        TestScratch("neardup_index_budget_twin")
      val tp = new org.apache.hadoop.fs.Path(twinRoot)
      tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(tp, true)
      NearDupIndex.build(base, "doc_id", "text", twinRoot,
        threshold = 0.5, sigMaxDf = p.sigMaxDf)
      NearDupIndex.pairsAgainstIndex(spark, probe, "doc_id", "text",
          twinRoot, threshold = 0.5)
        .select("id1", "id2").as[(Long, Long)].collect()
        .toSet shouldBe got
      // same corpus + same budget re-resolves identically → claim ok
      NearDupIndex.build(base, "doc_id", "text", root,
        threshold = 0.5, candidateBudget = budget)
      // a different budget (even one resolving near the same dial
      // family) is a params mismatch → refused loudly
      val e = intercept[IllegalArgumentException] {
        NearDupIndex.build(base, "doc_id", "text", root,
          threshold = 0.5, candidateBudget = budget * 100)
      }
      e.getMessage should include("pinned")
      // budget + explicit dial together → refused before any commit
      an[IllegalArgumentException] should be thrownBy
        NearDupIndex.build(base, "doc_id", "text", root,
          threshold = 0.5, sigMaxDf = 5, candidateBudget = budget)
      // legacy params (no candidateBudget key) parse as 0
      val legacyRoot =
        TestScratch("neardup_index_budget_legacy")
      val lp = new org.apache.hadoop.fs.Path(legacyRoot)
      lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(lp, true)
      graft.sources.HardlinkCommitStore.tryCommit(
        s"$legacyRoot/params", 1L,
        """{"shingleN":3,"numHashes":64,"bands":32,"seed":42,"sigMaxDf":50,"portableHash":0}""") shouldBe true
      NearDupIndex.readParams(legacyRoot).candidateBudget shouldBe 0L
    }
  }

  describe("SimHash") {
    it("near-identical docs have small hamming distance, unrelated large") {
      val fps = planted.select($"doc_id",
        SimHash.simHash64(graft.functions.TextFns.tokens($"text")).as("fp"))
        .as[(Long, Long)].collect().toMap
      java.lang.Long.bitCount(fps(1L) ^ fps(2L)) should be <= 8
      java.lang.Long.bitCount(fps(1L) ^ fps(3L)) should be >= 16
    }
    it("nearDuplicates returns exactly the pairs within maxDist") {
      val out = SimHash.nearDuplicates(planted, "doc_id", "text",
        maxDist = 8, chunks = 16)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      out should contain((1L, 2L))
      out should not contain ((1L, 3L))
    }
    it("wordNGrams kernel features match the declarative reference " +
        "bit-for-bit (incl. short docs and window counts)") {
      // the kernel is the production path (the declarative
      // higher-order form re-tokenizes per window — SURVEY §5.2);
      // parity must hold on every doc shape: longer than n, exactly
      // n, shorter than n, single-token, repeated tokens
      val docs = Seq(
        "a b c d e", "a b c", "a b", "a", "x x x x",
        "one two three four five six seven").zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for (n <- Seq(2, 3, 5)) {
        val got = docs.select($"doc_id",
          graft.expressions.NativeKernels.wordNGramsCol(
            graft.functions.TextFns.tokens($"text"), n).as("g"))
          .as[(Long, Seq[String])].collect().toMap
        val ref = docs.select($"doc_id",
          SimHash.featuresReference($"text", n).as("g"))
          .as[(Long, Seq[String])].collect().toMap
        got shouldBe ref
      }
      // and the composed fingerprint is identical through the kernel
      val viaKernel = docs.select($"doc_id", SimHash.simHash64(
        graft.expressions.NativeKernels.wordNGramsCol(
          graft.functions.TextFns.tokens($"text"), 3)).as("fp"))
        .as[(Long, Long)].collect().toMap
      val viaRef = docs.select($"doc_id", SimHash.simHash64(
        SimHash.featuresReference($"text", 3)).as("fp"))
        .as[(Long, Long)].collect().toMap
      viaKernel shouldBe viaRef
    }
    it("null text keeps the empty-string fingerprint under nGram>1 — " +
        "same contract as the declarative reference (r15 ADVICE)") {
      // pre-fix the kernel's null-propagating Invoke made nGram>1
      // silently DROP null-text docs from bucketing, whereas
      // featuresReference (the pre-r14 code) fingerprints them as
      // [""] — the same fallback empty/short docs get. Null and
      // empty docs share that fingerprint, so they pair at hamming 0.
      val docs = Seq[(Long, String)](
        (1L, null), (2L, null), (3L, ""), (4L, "alpha beta gamma"))
        .toDF("doc_id", "text")
      val pairs = SimHash.nearDuplicates(docs, "doc_id", "text",
        maxDist = 0, chunks = 4, nGram = 3)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      pairs should contain allOf ((1L, 2L), (1L, 3L), (2L, 3L))
      pairs.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
      // …matching the reference, under which null ≡ empty by the
      // short-doc fallback
      val viaRef = docs.select($"doc_id", SimHash.simHash64(
        SimHash.featuresReference($"text", 3)).as("fp"))
        .as[(Long, Long)].collect().toMap
      viaRef(1L) shouldBe viaRef(3L)
    }
    it("hamming is exact bit_count of xor") {
      Seq((0L, 0L), (1L, 0L), (-1L, 0L)).toDF("a", "b")
        .select(SimHash.hamming($"a", $"b")).as[Int].collect() shouldBe
        Array(0, 1, 64)
    }
    it("n-gram features + bucket cap tame Zipfian text; the planted " +
        "near-dup still surfaces") {
      // r14 open-vocab finding (SURVEY §5.1): on Zipf-distributed
      // tokens, unigram fingerprints concentrate — at sf0.1ov 98% of
      // docs shared one chunk value (39.7M candidate pairs from 5k
      // docs). Reproduce the degeneracy in miniature, then prove the
      // production configuration (nGram=3 + maxBucket) keeps the
      // candidate set linear AND still finds a planted near-dup.
      val rnd = new scala.util.Random(7L)
      def zipfWord(): String = {
        // crude Zipf(~1.2) over 10k ids: inverse-power transform
        val u = rnd.nextDouble()
        s"w${math.min((math.pow(u, -1.2) - 1).toInt, 9999)}"
      }
      val docs = (0L until 400L).map { i =>
        i -> (0 until 60).map(_ => zipfWord()).mkString(" ")
      }
      // plant: 400 near-dups 399 (copy + one appended token)
      val planted2 = (docs :+ (400L -> (docs(399)._2 + " extra")))
        .toDF("doc_id", "text")

      def pairCount(nGram: Int, maxBucket: Int): Long =
        SimHash.nearDuplicates(planted2, "doc_id", "text",
          maxDist = 10, chunks = 16, nGram = nGram,
          maxBucket = maxBucket).count()

      // unigram, uncapped: the degenerate shape — a large fraction of
      // all 80k possible pairs collide within Hamming 10
      val degenerate = pairCount(nGram = 1, maxBucket = 0)
      degenerate should be > 1000L
      // trigram shingles decorrelate the fingerprints...
      val shingled = SimHash.nearDuplicates(planted2, "doc_id", "text",
        maxDist = 10, chunks = 16, nGram = 3, maxBucket = 64)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      // ...the candidate set collapses to near-nothing...
      shingled.size.toLong should be < (degenerate / 10)
      // ...and the planted near-dup pair is still found
      shingled should contain((399L, 400L))
    }
  }
}
