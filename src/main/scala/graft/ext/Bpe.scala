package graft.ext

import graft.functions.TextMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding vocabulary training and tokenization — the real
  * subword tokenizer behind every LLM data pipeline ("token counting"
  * elsewhere in this engine uses whitespace/regex proxies; budgeting,
  * sharding, and dedup thresholds ultimately need the trained-tokenizer
  * count). Classic word-internal BPE (Sennrich et al. 2016): words split
  * to characters plus an end-of-word marker, then the most frequent
  * adjacent symbol pair merges, `nMerges` times.
  *
  * Scale design:
  *   - Training runs on the DISTINCT-WORD table with occurrence counts —
  *     vocab-scale (Heaps' law: ~10⁶ rows for a 10¹¹-token corpus), orders
  *     below corpus scale. The corpus is tokenized ONCE; every iteration
  *     touches only the word table.
  *   - Each iteration is: adjacent-pair explode → one partial-aggregated
  *     groupBy — plus a 1-ROW collect of the argmax (driver CONTROL, the
  *     same legitimate iteration pattern as [[graft.ext.Dedup.clusterPairs]];
  *     no data-scale collect anywhere).
  *   - The merge itself is the codegen'd [[graft.functions.BpeApply]]
  *     expression — one tight pass per word, no interpreted lambda.
  *   - Lineage is cut with `localCheckpoint` every few iterations (the
  *     word table would otherwise accrete one projection per merge and
  *     replan the whole chain each round).
  *   - Tokenization is map-only: the merge list rides into codegen as an
  *     expression constant; each document's words re-derive their merges
  *     independently — embarrassingly parallel at any corpus size.
  *
  * TRAINING ENVELOPE (the documented scale posture): the corpus-size axis
  * is unbounded — only the one-shot word-count aggregation touches the
  * corpus, and the per-merge loop is vocab-scale regardless of corpus
  * bytes. The MERGE-COUNT axis is inherently sequential (merge r+1's pair
  * counts depend on merge r's rewrite), so the distributed loop costs one
  * vocab-scale Spark job + a 1-row collect PER MERGE: ~20 merges (the
  * query surface here) is seconds; a production 32k-merge vocabulary is
  * 32k sequential vocab-scale jobs — hours of scheduling floor, not a
  * data-scale problem. Batching "non-interacting" merges per pass cannot
  * be bit-identical: a merge (a,b) creates new pairs (x,ab)/(ab,y) whose
  * counts can exceed the batch's later picks, which sequential training
  * would then prefer — so this engine does not batch. For vocabularies
  * within [[SmallVocabWords]] (2¹⁶ distinct words — after word-level
  * dedup this covers most realistic single-language corpora) the loop
  * runs in driver memory with bit-identical semantics at interactive
  * speed; past the bound the distributed loop runs unchanged (tested at
  * 70k words in BpeSpec), and a full production vocab is a
  * train-once-offline artifact, exactly as with every real tokenizer.
  *
  * Determinism: pair counts are exact integers; the argmax tie-breaks on
  * (count desc, left asc, right asc), so the learned merge table is a
  * pure function of the corpus. No SQL engine expresses the training
  * recursion, so the BPE queries are rows-only-gated by design with the
  * semantics asserted against a hand-computed fixture in ScalaTest.
  */
object Bpe {

  /** End-of-word marker symbol (Sennrich-style `</w>`), appended as its
    * own symbol so merges can learn word-final units. */
  val EndOfWord = "</w>"

  /** Split one word into its character symbols plus [[EndOfWord]]. */
  private def charSymbols(w: org.apache.spark.sql.Column) =
    concat(transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))),
      array(lit(EndOfWord)))

  /** The distinct-word table of a corpus: (word, cnt, syms). */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", charSymbols(col("w")))

  /** Small-vocab fast-path bound: at or below this many DISTINCT words
    * the (word, cnt) table collects to the driver and the merge loop
    * runs in memory — bit-identical merges (shared
    * [[graft.functions.BpeApply.mergePass]], same tie-break order), none
    * of the distributed loop's per-iteration scheduling floor (the same
    * pattern, rationale, and bound class as
    * [[Dedup.SmallGraphEdges]]). Past the bound the distributed loop
    * runs unchanged, so web-scale vocabularies never touch the driver. */
  val SmallVocabWords: Long = 1L << 16

  /** Train `nMerges` BPE merges over the corpus. Returns the merge table
    * (rank, left, right, pair_count) in rank order — fewer rows than
    * `nMerges` if the corpus runs out of mergeable pairs. */
  def train(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be positive: $nMerges")
    // checkpoint BEFORE counting: the count otherwise pays the full
    // corpus tokenization once, and the collect/loop would recompute the
    // identical uncached plan a second time
    val wt = wordTable(docs, textCol).localCheckpoint()
    val nWords = wt.count()
    if (graft.core.Decisions.choose("Bpe.train", "local", "distributed",
        "words" -> nWords)(nWords <= SmallVocabWords))
      return trainLocal(wt, nMerges)
    var words = wt
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val top = words
        .select(col("cnt"), col("syms"), posexplode(col("syms")).as(Seq("p", "a")))
        .filter(col("p") < size(col("syms")) - 1)
        .select(col("cnt"), col("a"),
          element_at(col("syms"), col("p") + 2).as("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, pc))
        words = words.withColumn("syms",
          TextMetrics.bpeApply(col("syms"), Seq((a, b))))
        // cut the one-projection-per-merge lineage before it replans
        if (r % 8 == 0) words = words.localCheckpoint()
        r += 1
      }
    }
    merges.toSeq
  }

  /** In-memory merge loop for vocabularies within [[SmallVocabWords]] —
    * identical semantics to the distributed loop: same code-point symbol
    * split, same weighted pair counts, same (count desc, left asc,
    * right asc) tie-break under UTF8-binary string order (Spark's
    * orderBy on strings), same [[graft.functions.BpeApply.mergePass]]. */
  private def trainLocal(wt: DataFrame, nMerges: Int): Seq[(Int, String, String, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    def u8Lt(x: String, y: String): Boolean =
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
    var words: Array[(Array[String], Long)] =
      wt.select(col("w"), col("cnt")).collect().map { r =>
        val w = r.getString(0)
        val syms = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          syms += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        syms += EndOfWord
        (syms.toArray, r.getLong(1))
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        pc.foreach { e =>
          if (best == null) best = e
          else {
            val better = e._2 > best._2 || (e._2 == best._2 &&
              (u8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && u8Lt(e._1._2, best._1._2))))
            if (better) best = e
          }
        }
        val ((a, b), cnt) = best
        merges += ((r, a, b, cnt))
        words = words.map { case (syms, c) =>
          (graft.functions.BpeApply.mergePass(syms, syms.length, a, b), c)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** The per-document BPE token array: words re-derive their merges
    * independently through the codegen'd [[graft.functions.BpeApply]]
    * with the merge list folded in as an expression constant. Shared by
    * [[tokenize]] and [[tokenizeTotal]] so the two faces cannot drift. */
  private def bpeTokensCol(textCol: String, merges: Seq[(String, String)]) = {
    val words = filter(split(col(textCol), " ", -1), w => w =!= "")
    flatten(transform(words, w => TextMetrics.bpeApply(charSymbols(w), merges)))
  }

  /** Tokenize a corpus with a trained merge list: adds `bpe_tokens`
    * (ARRAY<STRING>, [[EndOfWord]] markers fused into their tokens) and
    * `n_bpe_tokens`. Map-only. Null-text rows are dropped (the query
    * surface's historical contract — q108); ingest stages use
    * [[tokenizeTotal]]. */
  def tokenize(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("bpe_tokens", bpeTokensCol(textCol, merges))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast(LongType))

  /** [[tokenize]] as a TOTAL pass — the ingest-stage face (YAML
    * `bpe_tokenize`): every input row appears once; null text keeps
    * null `bpe_tokens`/`n_bpe_tokens` (the additive-stage convention —
    * a null payload is annotated as unknown, never dropped by a
    * metadata stage). Identical token arrays to [[tokenize]] on
    * non-null rows (shared expression). */
  def tokenizeTotal(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs.withColumn("bpe_tokens",
        when(col(textCol).isNotNull, bpeTokensCol(textCol, merges)))
      .withColumn("n_bpe_tokens",
        when(col(textCol).isNotNull, size(col("bpe_tokens")).cast(LongType)))

  /** Persist a trained merge table ([[train]] output) as a parquet model
    * dump (rank, left, right, pair_count) — the tokenizer's
    * trainer→server handoff ([[graft.ext.Learn.linearModelSave]] /
    * [[graft.ext.Similarity.kmeansModelSave]] precedent): a production
    * vocabulary is a train-once-offline artifact (see the training
    * envelope above), and the YAML `bpe_tokenize` stage serves it to
    * any number of ingest pipelines without retraining. Vocab-scale
    * rows — driver-sized by the trainer's own contract. */
  def modelSave(spark: SparkSession,
      merges: Seq[(Int, String, String, Long)], path: String): Unit = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "pair_count")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[modelSave]] dump, RANK-ORDERED — merges only tokenize
    * correctly in training order, so the order is restored here, never
    * trusted to file layout. */
  def modelLoad(spark: SparkSession,
      path: String): Seq[(Int, String, String, Long)] =
    spark.read.parquet(path)
      .select(col("rank"), col("left"), col("right"), col("pair_count"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  /** The merge table as a DataFrame (rank, left, right, pair_count) —
    * the query-surface form of [[train]]. */
  def trainDf(spark: SparkSession, docs: DataFrame, nMerges: Int,
      textCol: String = "text"): DataFrame = {
    import spark.implicits._
    train(docs, nMerges, textCol)
      .toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast(LongType).as("rank"), col("left"), col("right"),
        col("pair_count"))
  }
}
