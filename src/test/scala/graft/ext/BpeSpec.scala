package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE training/tokenization semantics against the hand-computed
  * Sennrich-style fixture (low/lower/newest/widest), plus the merge-pass
  * contract of the BpeApply expression. */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  // word counts: low×5, lower×2, newest×6, widest×3
  private def fixtureDocs = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower"),
    (3L, "newest newest newest newest newest newest"),
    (4L, "widest widest widest")
  ).toDF("doc_id", "text")

  test("train learns the hand-computed merge sequence with deterministic tie-breaks") {
    // pair counts: (e,s)=(s,t)=(t,</w>)=9 → left-asc tie-break picks (e,s);
    // then (es,t)=9, (est,</w>)=9, then (l,o)=(o,w)=7 → (l,o), then (lo,w)=7
    val merges = Bpe.train(fixtureDocs, nMerges = 5)
    assert(merges == Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "est", "</w>", 9L),
      (4, "l", "o", 7L),
      (5, "lo", "w", 7L)))
  }

  test("tokenize applies merges in rank order per word") {
    val merges = Bpe.train(fixtureDocs, nMerges = 5)
      .map { case (_, a, b, _) => (a, b) }
    val doc = Seq((1L, "low lower newest")).toDF("doc_id", "text")
    val out = Bpe.tokenize(doc, merges).select("bpe_tokens", "n_bpe_tokens").head
    assert(out.getSeq[String](0) ==
      Seq("low", "</w>", "low", "e", "r", "</w>", "n", "e", "w", "est</w>"))
    assert(out.getLong(1) == 10L)
  }

  test("training is deterministic run to run") {
    val a = Bpe.train(fixtureDocs, nMerges = 8)
    val b = Bpe.train(fixtureDocs, nMerges = 8)
    assert(a == b)
  }

  test("train stops early when no pairs remain") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // symbols a b </w>: merges (a,b)? counts: (a,b)=2, (b,</w>)=2 → (a,b)
    // first, then (ab,</w>), then exhausted at 1 symbol per word
    val merges = Bpe.train(tiny, nMerges = 10)
    assert(merges.map { case (_, a, b, _) => (a, b) } ==
      Seq(("a", "b"), ("ab", "</w>")))
  }

  test("distributed loop == small-vocab local fast path") {
    val local = Bpe.train(fixtureDocs, nMerges = 8)
    val dist = graft.core.Decisions.forcing("Bpe.train" -> "distributed") {
      Bpe.train(fixtureDocs, nMerges = 8)
    }
    assert(local == dist)
  }

  test("vocabulary past the 2^16 small-vocab bound trains on the distributed path") {
    // 70,000 distinct words (> SmallVocabWords = 65,536): the default call
    // takes the DISTRIBUTED merge loop. Assert it completes and is
    // bit-identical to the in-memory path forced over the same table —
    // the documented envelope: past the bound nothing touches the driver
    // but the 1-row argmax per merge.
    val big = spark.range(70000)
      .select(col("id").as("doc_id"),
        concat(lit("w"), col("id"), lit("q")).as("text"))
    assert(Bpe.SmallVocabWords < 70000L)
    val dist = Bpe.train(big, nMerges = 5)
    val local = graft.core.Decisions.forcing("Bpe.train" -> "local") {
      Bpe.train(big, nMerges = 5)
    }
    assert(dist == local && dist.length == 5)
    // (q,</w>) closes every word → count 70,000 → rank-1 merge
    assert(dist.head == ((1, "q", "</w>", 70000L)))
  }

  test("BpeApply merges non-overlapping left-to-right") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "b", "a", "b"), Seq("x"))
      .toDF("syms")
    val out = df.select(graft.functions.TextMetrics.bpeApply(col("syms"),
        Seq(("a", "a"), ("a", "b"))).as("m"))
      .collect().map(_.getSeq[String](0)).toSeq
    // (a,a) over [a,a,a] → [aa,a]; then (a,b) no-op
    assert(out(0) == Seq("aa", "a"))
    // (a,a) no-op; (a,b) over [a,b,a,b] → [ab,ab]
    assert(out(1) == Seq("ab", "ab"))
    assert(out(2) == Seq("x"))
  }

  test("model save/load round-trips and tokenizes identically; total form keeps null rows") {
    val merges = Bpe.train(fixtureDocs, nMerges = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpemodel")
    val path = dir.resolve("model").toString
    Bpe.modelSave(spark, merges, path)
    // bit-exact round-trip, rank order restored regardless of file layout
    assert(Bpe.modelLoad(spark, path) == merges)
    val pairs = merges.map { case (_, a, b, _) => (a, b) }
    val loaded = Bpe.modelLoad(spark, path).map { case (_, a, b, _) => (a, b) }
    val doc = Seq((1L, "low lower newest")).toDF("doc_id", "text")
    assert(Bpe.tokenize(doc, loaded).select("bpe_tokens").head.getSeq[String](0) ==
      Bpe.tokenize(doc, pairs).select("bpe_tokens").head.getSeq[String](0))
    // tokenizeTotal: same tokens on non-null rows, null row KEPT with
    // null tokens (the additive-stage convention)
    val withNull = Seq((1L, "low lower newest"), (2L, null))
      .toDF("doc_id", "text")
    val total = Bpe.tokenizeTotal(withNull, loaded)
      .select("doc_id", "bpe_tokens", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(total.size == 2, "total pass keeps every row")
    assert(total(1L).getSeq[String](1) ==
      Bpe.tokenize(doc, pairs).select("bpe_tokens").head.getSeq[String](0))
    assert(total(2L).isNullAt(1) && total(2L).isNullAt(2))
  }

  test("tokenize round-trips: concatenated tokens minus markers rebuild the text") {
    val merges = Bpe.train(fixtureDocs, nMerges = 6)
      .map { case (_, a, b, _) => (a, b) }
    val out = Bpe.tokenize(fixtureDocs, merges)
      .select(col("doc_id"), col("text"), concat_ws("", col("bpe_tokens")).as("joined"))
      .collect()
    out.foreach { r =>
      val rebuilt = r.getString(2).replace(Bpe.EndOfWord, " ").trim
      assert(rebuilt == r.getString(1), s"doc ${r.getLong(0)}")
    }
  }
}
