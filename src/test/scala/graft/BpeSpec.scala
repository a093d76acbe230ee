package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Corpus-trained BPE tokenizer (SURVEY.md §2 H16): hand-computed
  * merge sequences, kernel-vs-reference encode parity, determinism,
  * and exact detokenization round-trips.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference BPE encoder (priority-queue formulation —
    * deliberately NOT the kernel's rank-order-exhaustive loop, so the
    * parity cases prove the two formulations coincide).
    */
  private def referenceEncode(text: String, model: Bpe.Model): Seq[String] = {
    val rank = model.merges.zipWithIndex.toMap
    text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
      var syms: Vector[String] =
        w.codePoints().toArray.toVector.map(cp =>
          new String(Character.toChars(cp))) :+ Bpe.Eow
      var done = false
      while (!done && syms.size > 1) {
        val pairs = syms.zip(syms.tail)
        val ranked = pairs.flatMap(p => rank.get(p).map(r => (r, p)))
        if (ranked.isEmpty) done = true
        else {
          val (_, (a, b)) = ranked.minBy(_._1)
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.size) {
            if (i < syms.size - 1 && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
        }
      }
      syms
    }
  }

  private def hist(pairs: (String, Long)*): Array[(String, Long)] =
    pairs.toArray

  describe("Bpe.trainFromHistogram") {
    it("reproduces the classic low/lower merge sequence by hand") {
      // Sennrich's running example shape: {low:5, lower:2, newest:6,
      // widest:3}. Highest-weight pair first; ties lexicographic.
      val m = Bpe.trainFromHistogram(
        hist("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3),
        numMerges = 4).merges
      // e s appears in newest+widest = weight 9 — the top pair.
      m(0) shouldBe ("e", "s")
      m(1) shouldBe ("es", "t")
      m(2) shouldBe ("est", "</w>")
      // l o (low+lower = 7) beats remaining pairs
      m(3) shouldBe ("l", "o")
    }

    it("breaks weight ties by lexicographically smallest pair") {
      // "ab" and "cd" both weight 1; (a,b) < (c,d)
      val m = Bpe.trainFromHistogram(
        hist("ab" -> 1, "cd" -> 1), numMerges = 1).merges
      m(0) shouldBe ("a", "b")
    }

    it("stops early when every word is fully fused") {
      val m = Bpe.trainFromHistogram(hist("ab" -> 3), numMerges = 100)
      // a+b, ab+</w> — then nothing left to merge
      m.merges shouldBe IndexedSeq(("a", "b"), ("ab", "</w>"))
    }

    it("is deterministic across repeated training runs") {
      val h = hist("alpha" -> 3, "alpine" -> 2, "beta" -> 5, "bet" -> 1)
      val a = Bpe.trainFromHistogram(h, 10)
      val b = Bpe.trainFromHistogram(h, 10)
      a shouldBe b
    }

    it("handles supplementary-plane code points as single symbols") {
      // (x,</w>) wins the first tie lexicographically; the second
      // merge then proves 😀 (a surrogate pair) stayed ONE symbol
      val m = Bpe.trainFromHistogram(hist("😀x" -> 2), 2).merges
      m(0) shouldBe ("x", "</w>")
      m(1) shouldBe ("😀", "x</w>")
    }
  }

  describe("Bpe.encode kernel") {
    val model = Bpe.trainFromHistogram(
      hist("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3), 6)

    def enc(texts: String*): Seq[Seq[String]] =
      texts.toDF("t").select(Bpe.encode($"t", model).as("x"))
        .as[Seq[String]].collect().toSeq

    it("matches the independent priority-queue reference encoder") {
      val texts = Seq("low lower newest", "widest low", "unknown words",
        "", "   ", "newest newest newest", "loooow", "west wide st")
      enc(texts: _*) shouldBe texts.map(referenceEncode(_, model))
    }

    it("merges repeated pairs left-to-right, re-scanning after a pass") {
      // merge (o,o) applied to o o o o — left-to-right pass gives
      // [oo, oo]; a replace-once engine would leave a bare o behind
      val m = Bpe.Model(IndexedSeq(("o", "o")))
      val out = Seq("xoooo").toDF("t")
        .select(Bpe.encode($"t", m).as("x")).as[Seq[String]].head()
      out shouldBe Seq("x", "oo", "oo", "</w>")
    }

    it("encodes unseen words down to code points + </w>") {
      val out = enc("zq")
      out.head shouldBe Seq("z", "q", "</w>")
    }

    it("round-trips exactly through detokenize") {
      val texts = Seq("low lower newest widest", "a b c", "héllo wörld")
      texts.foreach { t =>
        Bpe.detokenize(referenceEncode(t, model)) shouldBe
          t.split(" ").filter(_.nonEmpty).mkString(" ")
      }
      // and via the kernel
      enc("low lower west").map(Bpe.detokenize) shouldBe
        Seq("low lower west")
    }
  }

  describe("Bpe.save/load (versioned tokenizer artifact)") {
    it("round-trips byte-identically and versions immutably") {
      val root = TestScratch("bpe_model")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      val m1 = Bpe.trainFromHistogram(
        hist("low" -> 5, "newest" -> 6), 4)
      val v1 = Bpe.save(root, m1)
      v1 shouldBe 1L
      Bpe.load(root) shouldBe m1
      // a retrained model becomes a NEW version; the old one stays
      val m2 = Bpe.trainFromHistogram(
        hist("low" -> 5, "newest" -> 6, "widest" -> 3), 6)
      val v2 = Bpe.save(root, m2)
      v2 shouldBe 2L
      Bpe.load(root) shouldBe m2
      Bpe.load(root, version = v1) shouldBe m1
      // loaded model tokenizes identically to the in-memory one
      import spark.implicits._
      val out1 = Seq("low newest").toDF("t")
        .select(Bpe.encode($"t", Bpe.load(root, v1)).as("x"))
        .as[Seq[String]].head()
      val out2 = Seq("low newest").toDF("t")
        .select(Bpe.encode($"t", m1).as("x")).as[Seq[String]].head()
      out1 shouldBe out2
    }
  }

  describe("Bpe end-to-end on the documents corpus") {
    it("trains on sf0.001 and tokenizes with n_tokens <= word chars") {
      val docs = graft.sources.Tables.documents(spark, sf)
      val model = Bpe.train(docs, "text", numMerges = 50,
        maxWords = 5000, minCount = 2)
      model.merges.size shouldBe 50
      val words = docs.select(col("doc_id"),
        graft.functions.TextFns.wordCount(col("text")).as("n_words"))
      val out = Bpe.tokenize(docs, "doc_id", "text", model)
        .join(words, "doc_id")
      // join back to text for the invariant: every word yields >= 1
      // token, and tokenization is never longer than chars+1 per word
      val bad = out.where(col("n_tokens") < col("n_words")).count()
      bad shouldBe 0L
      // deterministic: training twice gives the identical model
      val model2 = Bpe.train(docs, "text", numMerges = 50,
        maxWords = 5000, minCount = 2)
      model2 shouldBe model
    }
  }
}
