package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring, corpus-
  * profile language ID, and content fingerprinting.
  *
  * All pure Column expressions / relational plans — whole-stage codegen,
  * no UDFs, no driver-side loops. Each scales linearly in rows: the only
  * shuffles are the group-bys/joins noted per op.
  */
object TextAnalysis {

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single other glyphs.
    * Kept in the Java∩RE2 regex subset so oracles can run it verbatim. */
  val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** English-ish stopword list used by quality scoring (tiny on purpose —
    * the mechanism, a set-membership ratio, is what matters). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** The engine-portable 60-bit hash: first 15 md5 hex digits as BIGINT.
    * A cross-engine compatibility contract — every fingerprint/signature
    * operator derives from THIS definition (oracles reproduce it in SQL
    * as `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`).
    *
    * Computed by the codegen'd [[graft.functions.Hash60]] expression —
    * bit-identical to the built-in spelling
    * `conv(substring(md5(c), 1, 15), 16, 10)` (equality-tested against
    * it), without the hex-string materialization and base-16 string
    * parse that form pays per n-gram occurrence. */
  def hash60(c: Column): Column = graft.functions.TextMetrics.hash60(c)

  /** Per-document token statistics. No shuffle — a projection. */
  def tokenStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.withColumn("n_chars_m", length(t).cast(LongType))
      .withColumn("n_ws_tokens", size(split(t, " ", -1)).cast(LongType))
      .withColumn("n_bpe_tokens", size(regexp_extract_all(t, lit(BpeTokenRe), lit(0))).cast(LongType))
  }

  /** Heuristic quality score in [0,1]: blends stopword ratio, mean token
    * length closeness to 5, and a length prior. Every arithmetic step is a
    * deterministic IEEE double op with explicit association so independent
    * engines reproduce it bit-for-bit. One projection, no shuffle. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ", -1)
    val nTok = size(toks).cast(DoubleType)
    val sumTokLen = length(regexp_replace(t, " ", "")).cast(DoubleType)
    val stopHits = size(filter(toks, w => w.isInCollection(Stopwords))).cast(DoubleType)
    val stopRatio = stopHits / nTok
    val meanLen = sumTokLen / nTok
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    // band-pass on mean token length: 1 at 5, falling to 0 at 5±5
    val lenBand = greatest(lit(0.0), lit(1.0) - abs(meanLen - lit(5.0)) / lit(5.0))
    docs.withColumn("n_tokens", nTok.cast(LongType))
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("mean_token_len", meanLen)
      .withColumn("quality_score",
        (stopRatio * lit(0.4)) + (lenBand * lit(0.4)) + (lenScore * lit(0.2)))
  }

  /** Corpus-profile language ID: build a per-language profile (top-`k` most
    * frequent tokens, ties broken lexicographically) from the labeled corpus
    * itself, score each document by distinct-token overlap with each
    * profile, and predict the argmax language (score desc, language asc).
    *
    * Plan shape at scale: ONE aggregation pass builds the per-language
    * token totals (map-side combine keeps the shuffle at
    * |distinct (lang, token) per partition|, never raw occurrences),
    * finished by a bounded per-partition heap + driver merge (tree
    * top-k — no window, no second exchange, no global sort); the
    * winning k×|langs| profile is a DIMENSION-scale driver literal — the
    * corpus itself is then scored in a single shuffle-free projection
    * (`array_distinct` tokens ∩ each language's literal token array,
    * argmax over a struct-min), so the per-document side touches the data
    * exactly once with no join, no second shuffle, and no window. Integer
    * scores ⇒ deterministic across engines. */
  def langId(docs: DataFrame, k: Int = 20): DataFrame = {
    val toksOf = split(col("text"), " ", -1)
    // top-k per lang WITHOUT a window pass: after the (lang, token) count
    // agg each key exists exactly once, so a BOUNDED per-partition heap
    // (≤ |langs|·k entries per task — per-partition imperative logic, the
    // one honest mapPartitions case) followed by a driver merge of
    // ≤ partitions·|langs|·k candidates is exact, adds NO second exchange
    // and no global sort, and never moves corpus-scale rows
    val worstFirst: Ordering[(Long, String)] = Ordering.fromLessThan {
      (a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2) // a better ⇔ a "less"
    }
    // no spread: the corpus text at bench scale is one parquet rowgroup —
    // a repartition costs more than the serial explode it parallelizes; at
    // real scale the scan arrives already split and the point is moot
    val partials: Array[(String, Long, String)] = docs
      .filter(col("lang").isNotNull) // null lang cannot label a profile
      .select(col("lang"), explode(toksOf).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("cnt"), col("w")).rdd
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.Map
          .empty[String, scala.collection.mutable.PriorityQueue[(Long, String)]]
        it.foreach { r =>
          val h = heaps.getOrElseUpdate(r.getString(0),
            scala.collection.mutable.PriorityQueue.empty(worstFirst))
          h.enqueue((r.getLong(1), r.getString(2)))
          if (h.size > k) h.dequeue()
        }
        heaps.iterator.flatMap { case (l, h) => h.iterator.map(e => (l, e._1, e._2)) }
      }.collect()
    val profile: Seq[(String, Seq[String])] = partials
      .groupBy(_._1).view.mapValues { cs =>
        cs.map(c => (c._2, c._3)).sorted(worstFirst).take(k).map(_._2).toSeq
      }.toSeq.sortBy(_._1)
    if (profile.isEmpty)
      return docs.select(col("doc_id"), col("lang"),
        lit(null).cast(StringType).as("pred_lang"),
        lit(null).cast(LongType).as("score"))
    val docToks = array_distinct(toksOf)
    // argmax(score desc, lang asc) as one struct-min over literal arrays:
    // (-score, lang) sorts highest score first, ties to the smaller lang
    val cands = profile.map { case (lang, words) =>
      struct((-size(array_intersect(docToks, typedlit(words)))).as("ns"),
        lit(lang).as("pl"))
    }
    val best = array_min(array(cands: _*))
    // zero overlap (ns = 0) ⇒ null prediction, but the row survives — a
    // language-ID operator must not drop input rows (null text ⇒ null ns
    // ⇒ the when() also nulls out)
    // no spread here: the scoring pass is a cheap projection (k·|langs|
    // literal intersects per row) — an exchange would cost more than the
    // single-split compute it parallelizes; large scans split naturally
    docs.select(col("doc_id"), col("lang"),
      when(best("ns") < 0, best("pl")).as("pred_lang"),
      when(best("ns") < 0, -best("ns").cast(LongType)).as("score"))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): the
    * minimum k-gram hash of every w-wide sliding window, deduplicated —
    * the standard local-fingerprint scheme for partial-overlap detection
    * (two docs sharing a run of ≥ w+k−1 chars share ≥1 fingerprint).
    * Hashes are the engine-portable 60-bit md5 prefix, evaluated per gram
    * (the O(1) rolling update matters for a serial scanner; here each row
    * evaluates in parallel inside codegen, and the winnowing SELECTION is
    * the operator's contract). Map-only: one row per (doc, fingerprint).
    * Docs shorter than k chars fingerprint their whole text; gram lists
    * shorter than w emit the single global minimum. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 8, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // MAP-ONLY via the [[graft.functions.WinnowFps]] codegen kernel
    // (round-16 optimization): the former explode + per-doc window-min +
    // global distinct shuffled the full gram table twice (corpus-gram
    // volume — the plan's largest exchanges) to compute a function that
    // is local to each document. The kernel hashes each gram once,
    // slides a monotonic deque, and dedups per doc — bit-identical
    // output (ids are unique per the operator's key contract, so per-doc
    // dedup IS the old global distinct), zero shuffles. The earlier
    // declarative rejection of array HOFs stands — the kernel is a
    // single static JVM loop, not a lambda-per-window.
    winnowFpArrays(docs, k, w, idCol, textCol)(fps => explode(fps).as("fp"))

  /** `(idCol, out(fps))`, `fps` being each non-null document's winnowing
    * fingerprint array: the one definition behind [[winnowingFingerprints]]
    * and [[containmentPairs]]. `out` wraps the kernel call itself, since an
    * `explode` of a projected `fps` column gains inferred `size(fps) > 0`
    * filters that rerun the kernel twice more per row. */
  private def winnowFpArrays(docs: DataFrame, k: Int, w: Int, idCol: String,
      textCol: String)(out: Column => Column): DataFrame =
    graft.core.Tables.spread(docs)
      .filter(col(textCol).isNotNull)  // a null text has no fingerprints
      .select(col(idCol),
        out(graft.functions.TextMetrics.winnowFps(col(textCol), k, w)))

  /** Containment / partial-overlap pairs via shared winnowing fingerprints —
    * the duplicate class set-similarity misses (a small doc quoted inside a
    * big one has tiny Jaccard but every one of its fingerprints matches).
    * `n_shared` counts shared winnowing fingerprints (integer-exact);
    * `containment` normalizes by the SMALLER doc's fingerprint count, so a
    * full quote scores ~1 regardless of the host document's size.
    *
    * Plan shape = the inverted-index pattern of [[Dedup]]: fingerprint
    * posting lists (one groupBy — df is the list size, no self-join of the
    * exploded table), `maxDf` caps boilerplate fingerprints shared by too
    * many docs to be a containment signal, pairs explode from capped lists
    * only, and one groupBy(i,j) counts the shared fingerprints. Cost
    * follows shared-run density, never |docs|². */
  def containmentPairs(docs: DataFrame, k: Int = 8, w: Int = 8,
      maxDf: Int = 500, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Persist the PRE-EXPLODE per-doc fingerprint ARRAYS, not the exploded
    // rows (round-17): `nfp` is then `size(fps)` — a map-only projection of
    // the cached arrays — instead of a groupBy over the exploded table,
    // which cost a full extra scan+aggregate of the fingerprint hub PER
    // JOIN SIDE (the two renamed `sizes` subplans canonicalize differently,
    // so neither the cache nor exchange reuse deduped them). The kernel
    // output is deduped per doc, so size(fps) ≡ the former per-id row
    // count; ids with empty arrays gain an nfp=0 row that no pair can join
    // to — output identical (oracle-gated).
    val arr = graft.core.Caches.persist(
      winnowFpArrays(docs, k, w, idCol, textCol)(_.as("fps")))
    val fps = arr.select(col(idCol), explode(col("fps")).as("fp"))
    val sizes = arr.select(col(idCol), size(col("fps")).as("nfp"))
    val shared = fps.groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"), count(lit(1)).as("df"))
      .filter(col("df") > 1 && col("df") <= maxDf)
      .select(Dedup.explodePairs(col("ids")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sizes.select(col(idCol).as("i"), col("nfp").as("nfp_i"))
        .hint("shuffle_hash"), Seq("i"))
      .join(sizes.select(col(idCol).as("j"), col("nfp").as("nfp_j"))
        .hint("shuffle_hash"), Seq("j"))
      .withColumn("containment",
        col("n_shared").cast(DoubleType) /
          least(col("nfp_i"), col("nfp_j")).cast(DoubleType))
      .select(col("i"), col("j"), col("n_shared"), col("containment"))
  }

  /** Corpus boilerplate detection: the `k` character n-grams present in
    * the most documents (document frequency, not occurrence count — a
    * shingle repeated inside one doc is content; one shared across
    * thousands is template/boilerplate). The standard precursor to
    * boilerplate stripping in web-corpus cleaning, and the data behind
    * the near-dup operators' `maxDf` cap. One aggregation over distinct
    * (doc, shingle) pairs + a top-k: cost is one corpus shuffle. */
  def boilerplateNgrams(docs: DataFrame, n: Int, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Dedup.charShingles(docs, n, idCol, textCol)
      .groupBy(col("sh"))
      // charShingles already emits distinct (id, sh) pairs (array_distinct
      // before the explode), so a plain count IS the document frequency —
      // countDistinct would pay the two-phase distinct aggregate for nothing
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("sh"))
      .limit(k)

  /** Deterministic, content-keyed train/val/test split: the bucket is the
    * 60-bit content fingerprint mod 100, so (a) the split is reproducible
    * across runs, engines, and cluster layouts — no RNG, no
    * partition-order dependence — and (b) EXACT COPIES of a document land
    * in the same split by construction, closing the classic train/test
    * contamination hole that row-wise random splitting leaves open.
    * Map-only: a projection, no shuffle, safe at any corpus size. */
  def deterministicSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10,
      textCol: String = "text"): DataFrame = {
    val bucket = splitBucket(col(textCol))
    docs.withColumn("split_bucket", bucket)
      .withColumn("split", splitLabel(bucket, trainPct, valPct))
  }

  /** The 0-99 content bucket every split-aware operator keys on: the
    * 60-bit content fingerprint mod 100. */
  def splitBucket(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash60(text), lit(100L))

  /** The split rule of [[deterministicSplit]] on an ALREADY-COMPUTED
    * 0-99 bucket — for callers that carry the content hash (e.g. a dedup
    * output's fp60: `splitLabel(pmod(col("fp60"), lit(100L)))`) and must
    * not re-hash the corpus text just to label splits. */
  def splitLabel(bucket: org.apache.spark.sql.Column,
      trainPct: Int = 80, valPct: Int = 10): org.apache.spark.sql.Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Gopher-style repetition statistics — the standard quality filters for
    * web-corpus cleaning (Rae et al., "Scaling Language Models" §A1.1 list
    * repeated-n-gram fractions among their document filters): documents
    * dominated by a few repeated tokens/n-grams are boilerplate, spam, or
    * degenerate generation, and get filtered before training.
    *
    * Per document:
    *   - `n_tokens` — whitespace-token count;
    *   - `type_token_ratio` — distinct / total tokens (low ⇒ repetitive);
    *   - `top_unigram_frac` — occurrences of the most frequent token / total;
    *   - `dup_token_frac` — fraction of occurrences whose token appears >1×;
    *   - `top_bigram_frac` — occurrences of the most frequent word bigram /
    *     bigram count (0.0 for docs with fewer than 2 tokens).
    *
    * Every ratio is ONE division of two exact integers — bit-identical
    * across engines (IEEE division is correctly rounded), so the operator
    * is hash-exact oracle-checkable. Plan shape (r13): every statistic is
    * per-DOCUMENT, so nothing ever shuffles — ONE codegen'd expression
    * ([[graft.functions.RepetitionCounts]]) reads all six integer facts
    * off the row's own tokens in a single linear pass. A pure projection:
    * linear in corpus tokens, zero exchanges, no join. The two rejected
    * shapes are recorded on the expression: corpus-wide token aggregations
    * shuffle the world for row-local facts, and the r12 array-HOF form hit
    * the interpreted-lambda capture trap (~O(n³)/row — SURVEY §2.6). */
  def repetitionStats(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rc = col("rc")
    def ratio(num: Column) =
      num.cast(DoubleType) / rc.getField("n_tokens").cast(DoubleType)
    graft.core.Tables.spread(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.RepetitionCounts.of(col(textCol)).as("rc"))
      .select(col(idCol), rc.getField("n_tokens").as("n_tokens"),
        ratio(rc.getField("n_types")).as("type_token_ratio"),
        ratio(rc.getField("max_uni")).as("top_unigram_frac"),
        ratio(rc.getField("dup_cnt")).as("dup_token_frac"),
        when(rc.getField("n_bigrams") > 0L,
          rc.getField("max_bi").cast(DoubleType) /
            rc.getField("n_bigrams").cast(DoubleType))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Benchmark-contamination check — the decontamination step every serious
    * training pipeline runs before training: flag corpus documents sharing
    * word n-grams with a held-out benchmark/eval set, so evaluation isn't
    * measuring memorization of leaked test data.
    *
    * Emits one row per CONTAMINATED corpus document: the doc id, its
    * distinct-gram count, how many of those grams appear anywhere in the
    * benchmark, and the contaminated fraction (one exact-integer division).
    *
    * Scale posture: the benchmark side is the small one by nature (eval
    * suites are thousands of documents against a 100 TB corpus), so while
    * its size estimate fits ([[benchGramSide]]) its distinct gram set is
    * BROADCAST — the corpus side stays a map-only scan + broadcast
    * semi-probe followed by one per-doc count; the corpus is never
    * shuffled on the gram key. A benchmark estimated past the envelope
    * runs a pinned shuffle-hash join on the gram instead (same output).
    * The gram rule is [[Dedup.wordShingles]]'s (docs shorter than n tokens
    * contribute all their tokens as one gram). */
  def ngramContamination(corpus: DataFrame, bench: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cg = Dedup.wordShingles(corpus, n, idCol, textCol)
    val bg = benchGramSide(bench, n, Dedup.wordShingles(bench, n, idCol, textCol)
      .select(col("sh")).distinct().withColumn("hit", lit(1)))
    // ONE pass over the corpus grams: a left join marks benchmark hits
    // (bg is distinct, so ≤1 match per gram) and a single per-doc
    // aggregation counts total and contaminated grams together — the
    // corpus is never shingled twice
    cg.join(bg, Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .select(col("id").as(idCol), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("contamination_frac"))
  }

  /** `bench`'s distinct width-`n` gram set `grams`, broadcast while
    * [[Dedup.gramsFitBroadcast]] holds, else pinned to shuffle_hash: both
    * join sides sit behind a Generate the estimator cannot see, and AQE
    * mis-broadcasting an exploded corpus-sized side is an OOM. */
  private def benchGramSide(bench: DataFrame, n: Int, grams: DataFrame): DataFrame =
    if (Dedup.gramsFitBroadcast(bench, n)) broadcast(grams) else grams.hint("shuffle_hash")

  /** [[ngramContamination]] for the train-vs-test shape over ONE corpus
    * split by [[deterministicSplit]] — the decontamination check as run
    * inside a curation session, built entirely from the shared
    * [[wordGramPostings]] hub. Output is identical to
    * `ngramContamination(train, test)` (only train docs with ≥1
    * contaminated gram survive).
    *
    * Tradeoff vs [[ngramContamination]]: the generic two-corpus form never
    * shuffles the corpus on the gram key (map-only broadcast probe) — the
    * cheaper ONE-SHOT plan; this form pays the hub's gram rollup once and
    * then shares it with every other hub consumer in the session.
    *
    * Plan shape — ONE two-stage aggregation over the hub, no benchmark
    * side and no totals join at all: a gram is a benchmark gram iff its
    * posting list CONTAINS a test-bucket member (`exists` over the
    * member structs — the bucket rides the hub precisely for this), so
    * the contaminated-gram hits come from filtering the hub to bench
    * grams and exploding ONLY their train-bucket members; the per-doc
    * denominator rides each member as `n_grams` (a hub grouping key
    * here, not a join). The round-10 form paid a second corpus shingle
    * pass plus a broadcast join for a gram set the hub already encodes,
    * and re-counted the benchmark-invariant totals from a whole-hub
    * explode per run (the 2.7× constant factor — at bench scale mostly
    * stage-count floor, at production scale gram-volume). Nothing
    * corpus-sized moves except the contaminated members themselves. */
  def splitContamination(docs: DataFrame, n: Int,
      trainPct: Int = 80, valPct: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val testLo = trainPct + valPct
    // exists+filter as ONE codegen'd call (PostingMembers): empty output
    // for non-bench grams, train members for bench grams; explode drops
    // the empties, so no separate row filter is needed
    wordGramPostings(docs, n, idCol, textCol)
      .select(explode(graft.functions.PostingMembers
        .trainHitMembers(col("ids"), trainPct, testLo)).as("m"))
      .groupBy(col("m.id").as("id"), col("m.n_grams").cast(LongType).as("n_grams"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("id").as(idCol), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("contamination_frac"))
  }

  /** Benchmark DECONTAMINATION rewrite — the action half of
    * [[splitContamination]], the way [[Dedup.stripRepeatedSpans]] is the
    * action half of [[Dedup.repeatedSpans]]: cut from every TRAIN-split
    * document each token covered by a word `n`-gram that also occurs
    * anywhere in the TEST split (the GPT-3/Lee-et-al.-style n-gram
    * decontamination applied at span level — the document keeps its
    * uncontaminated text instead of being dropped whole; reference
    * corpora run this before training so eval benchmarks are not
    * memorized verbatim). Splits are [[deterministicSplit]]'s
    * content-hash buckets, so the whole rewrite is reproducible across
    * engines and runs. The VAL split neither cuts nor is cut (it is
    * held-out training data, not a benchmark); null-text docs bucket to
    * the test split ([[splitLabel]]'s otherwise-branch) and so never
    * appear in the output.
    *
    * Output is total on the TRAIN split: `(idCol, clean_text, n_tokens,
    * n_removed, n_spans)`; uncontaminated train docs pass through
    * unchanged; a fully-contaminated doc yields the empty string;
    * documents under `n` tokens emit no grams and pass through (no
    * short-text fallback — [[graft.functions.TextShingles.wordGramSeq]],
    * the span-family contract).
    *
    * Plan shape (scale posture): positional grams with the split bucket
    * riding each occurrence are one codegen call + posexplode (linear in
    * corpus tokens); the test-gram side is a NARROW one-scalar aggregate
    * per gram (`max(bucket)` — a gram is a test gram iff its max bucket
    * reaches the test range; no posting lists, so no df-cap hazard and
    * constant row width at any df, the [[Dedup.stripRepeatedSpans]] hub
    * rationale) over a text-only pruned scan; on the back-join side
    * Catalyst pushes the train filter BELOW the gram explode into the
    * scan (asserted by the plan spec), so only the train ~80% of the
    * corpus is shingled and sh-shuffled there. Two lean pipelines beat
    * one shared exchange here — deliberately unlike
    * [[Dedup.stripRepeatedSpans]]'s hub, whose both consumers need ALL
    * occurrences: gram bytes run ≈ n × text bytes, so trimming the
    * explode outweighs re-scanning the columnar input. Covered positions
    * explode map-side (≤ n rows per hit); the rebuild is the shared
    * [[Dedup.cutTokensAt]] tail — per-document windows only. Nothing
    * broadcasts, nothing reaches the driver. */
  def decontaminateSpans(docs: DataFrame, n: Int = 8,
      trainPct: Int = 80, valPct: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, s"gram width must be positive: $n")
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val testLo = trainPct + valPct
    val pos = Dedup.gramPositions(docs, n, idCol, textCol,
      "bucket" -> splitBucket(col(textCol)))
    val testGrams = pos.groupBy(col("sh"))
      .agg(max(col("bucket")).as("mxb"))
      .filter(col("mxb") >= testLo)
      .select(col("sh"))
    val hits = pos.hint("shuffle_hash").join(testGrams, Seq("sh"))
      .filter(col("bucket") < trainPct)
      .select(col("id"), col("p"))
    val train = docs.filter(splitBucket(col(textCol)) < trainPct)
    Dedup.cutTokensAt(train, Dedup.coveredPositions(hits, n), idCol, textCol)
  }

  /** Two-corpus decontamination rewrite — [[decontaminateSpans]] against
    * an EXTERNAL benchmark table: cut from every `corpus` document each
    * token covered by a word `n`-gram occurring anywhere in `bench`.
    * This is the shape production decontamination actually runs in —
    * eval suites are megabytes next to a multi-terabyte train corpus —
    * and the plan exploits it: while the bench side's size estimate
    * fits ([[benchGramSide]]), the bench gram set builds map-side,
    * dedups, and BROADCASTS, so the corpus-side positional grams are
    * probed in place and NEVER shuffle (a map-only pass over the corpus;
    * the same tradeoff [[ngramContamination]] documents against
    * [[splitContamination]], now for the rewrite half). A bench side
    * estimated past the envelope runs the probe as a pinned shuffle-hash
    * join instead. Identical output either way (tested).
    *
    * Output is total on `corpus` (the [[Dedup.cutTokensAt]] contract):
    * `(idCol, clean_text, n_tokens, n_removed, n_spans)`; null text →
    * null outputs; docs under `n` tokens pass through (no short-text
    * fallback — the span-family contract). `decontaminateAgainst(train,
    * test, n)` over a [[deterministicSplit]] pair equals
    * `decontaminateSpans(all, n)` row-for-row (spec-pinned). */
  def decontaminateAgainst(corpus: DataFrame, bench: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, s"gram width must be positive: $n")
    val bg = benchGramSide(bench, n, Dedup.gramStream(bench, n, textCol).distinct())
    val hits = Dedup.gramPositions(corpus, n, idCol, textCol)
      .join(bg, Seq("sh")).select(col("id"), col("p"))
    Dedup.cutTokensAt(corpus, Dedup.coveredPositions(hits, n), idCol, textCol)
  }

  /** Batch-side producer of the contamination gate's blocklist: the
    * DISTINCT engine-portable 60-bit gram keys ([[hash60]]) of a
    * benchmark corpus at word gram width `n` — same gram rule as
    * [[ngramContamination]] (shingle family: short-text fallback keeps
    * sub-`n`-token bench lines as whole-text grams, so tiny benchmark
    * entries still gate). One aggregation over the bench side; collect
    * is the CALLER's choice (the gate takes the collected Seq — bench
    * suites are small by the family's premise; a bench too big to
    * collect is decontamination work, not gate work:
    * [[decontaminateAgainst]]). */
  def benchGramKeys(bench: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    graft.core.Tables.spread(bench)
      .select(explode(Dedup.wordShingleArray(col(textCol), n)).as("sh"))
      .select(hash60(col("sh")).as("gk")).distinct()

  /** [[graft.core.KeySets]] kind tag of the contamination gram index. */
  val ContaminationKind = "contamination_gram"

  /** Persist [[benchGramKeys]] as a [[graft.core.KeySets]] index with
    * the gram width riding along — the contamination gate's build-once/
    * serve-many handoff: a serve site can never shingle at a different
    * `n` than the index was built. */
  def benchGramIndexSave(bench: DataFrame, path: String, n: Int,
      textCol: String = "text"): Unit =
    graft.core.KeySets.save(benchGramKeys(bench, n, textCol), path,
      ContaminationKind, Map("n" -> n.toLong))

  /** Ingest-time CONTAMINATION gate — the streaming-stateless row flag
    * of the contamination family, as [[Dedup.flagNearDups]] is to the
    * near-dup family: `contaminated` ⟺ the document shares at least one
    * word `n`-gram with the benchmark set. Unlike the LSH gate there is
    * no banding probability: membership is exact up to 60-bit key
    * collisions (~2⁻⁶⁰ per gram pair — the family's established
    * md5-prefix convention, not a tunable recall knob): grams hash to
    * the engine-portable 60-bit key and membership is one binary search
    * per gram against the embedded sorted blocklist
    * ([[graft.core.KeySets.Members.Sorted]] — logarithmic, primitive
    * `long[]`, no boxing). Map-only, stateless, no shuffle —
    * runs identically on a batch frame or inside any streaming
    * micro-batch with no plan change. Null text → null flag (the mask
    * ops' total-pass convention). Envelope: the collected key set rides
    * every task binary (~8 B/key — ~10⁷ keys ≈ 80 MB is the practical
    * ceiling; benchmark suites sit orders below it). */
  def flagContaminated(docs: DataFrame, benchKeys: graft.core.KeySets.Members,
      n: Int, textCol: String = "text"): DataFrame = {
    val flag = exists(Dedup.wordShingleArray(col(textCol), n),
      s => benchKeys.contains(hash60(s)))
    docs.withColumn("contaminated", when(col(textCol).isNotNull, flag))
  }

  /** Deterministic stratified sampling: per-stratum keep rates in basis
    * points of 10000, keyed on the CONTENT hash (same bucketing family as
    * [[deterministicSplit]]) — reproducible across runs/engines/cluster
    * layouts, and exact copies of a document sample identically, so
    * rebalancing (e.g. downsampling a dominant language) never splits a
    * duplicate group. Strata missing from `ratesBp` get `defaultBp`
    * (0 = drop — the conservative default for unexpected strata; a null
    * stratum takes the default too). NULL-text rows are always dropped,
    * whatever the rate: a null has no content hash, hence no deterministic
    * bucket — the conservative choice for a sampler (note the asymmetry
    * with [[deterministicSplit]], which keeps every row and routes null
    * text to its otherwise-branch). Map-only: a filter projection, no
    * shuffle, safe at any corpus size. */
  def stratifiedSample(docs: DataFrame, ratesBp: Map[String, Int],
      strataCol: String = "lang", defaultBp: Int = 0,
      textCol: String = "text"): DataFrame = {
    require(ratesBp.values.forall(v => v >= 0 && v <= 10000) &&
      defaultBp >= 0 && defaultBp <= 10000,
      s"keep rates must be basis points in [0, 10000]: $ratesBp default=$defaultBp")
    val bucket = pmod(hash60(col(textCol)), lit(10000L))
    // deterministic fold order — the when-chain must be identical run-to-run
    val thr = ratesBp.toSeq.sortBy(_._1).foldLeft(lit(defaultBp)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.withColumn("sample_bucket", bucket)
      .filter(bucket < thr)
  }

  /** Persisted word n-gram POSTING HUB over a corpus: one row per distinct
    * gram — (sh, ids = posting list of (id, bucket, n_grams) members,
    * df = posting size). Each member carries two parameter-free per-doc
    * riders computed map-side in the shingle pass: the CONTENT BUCKET
    * (`pmod(hash60(text), 100)` — the same 0-99 bucket
    * [[deterministicSplit]] and [[stratifiedSample]] key on) and the
    * doc's distinct-gram total `n_grams` (`size` of the gram array).
    * Split-aware consumers ([[splitContamination]]) answer "does this
    * gram occur in split S" from the posting list alone — no second
    * corpus pass to build a split-side gram set, no broadcast of it —
    * and per-doc-denominator consumers read `n_grams` off the member
    * instead of joining a totals rollup back on. This is
    * the shared corpus-gram subtree of the word-gram family
    * ([[noveltyScore]], [[splitContamination]]): each member needs the
    * shingle explode plus the gram-key rollup — the two corpus-sized costs
    * — and a session running several members over one corpus would
    * otherwise pay them once per member. The hub goes through
    * [[graft.core.Caches]] (MEMORY_AND_DISK; Spark's CacheManager matches
    * by canonical plan, so every member that builds the hub from the same
    * (corpus, n) shares one materialization; released by unpersistAll).
    *
    * Posting-list order within `ids` is engine-nondeterministic — consumers
    * may only aggregate over it (counts, df tests), never index into it.
    * Hot boilerplate grams make single fat rows (inherent to posting
    * lists); members needing a df cap apply it ON the hub (a filter over
    * cached rows), keeping the hub universal.
    *
    * [[Dedup.nearDupJaccardTokens]] deliberately does NOT consume this
    * hub: its gram layer sits below an exact-copy collapse (only distinct
    * texts are shingled, df is copy-weighted) and a rarest-first prefix
    * ordering — forcing it through the raw-corpus posting hub would undo
    * the collapse and re-derive df per pair. The family boundary is:
    * per-document gram STATISTICS share this hub; pairwise similarity
    * shares the collapsed prefix hub inside Dedup. */
  def wordGramPostings(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.core.Caches.persist(
      graft.core.Tables.spread(docs).select(
          col(idCol).as("id"),
          splitBucket(col(textCol))
            .cast(org.apache.spark.sql.types.IntegerType).as("bucket"),
          Dedup.wordShingleArray(col(textCol), n).as("grams"))
        .select(col("id"), col("bucket"),
          size(col("grams")).as("n_grams"), explode(col("grams")).as("sh"))
        .groupBy(col("sh"))
        .agg(collect_list(struct(col("id"), col("bucket"), col("n_grams"))).as("ids"),
          count(lit(1)).as("df")))

  /** Persisted per-document DISTINCT-gram totals — the doc-sized rollup of
    * [[wordGramPostings]] (one row per doc: `(id, n_grams)`), shared by
    * every hub consumer whose output carries a per-doc denominator
    * ([[splitContamination]], [[noveltyScore]]): the totals are invariant
    * to the member's own parameters (benchmark split, df thresholds), so
    * recomputing them per run would explode the whole hub each time for a
    * number that never changes. Built FROM the hub (not by re-shingling
    * the corpus) so a session pays the shingle pass exactly once, and
    * persisted like the hub itself (released together via
    * [[graft.core.Caches.unpersistAll]]). */
  def docGramTotals(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.core.Caches.persist(
      wordGramPostings(docs, n, idCol, textCol)
        .select(explode(col("ids")).as("m"))
        .groupBy(col("m.id").as("id"))
        .agg(count(lit(1)).as("n_grams")))

  /** Per-document novelty score: the fraction of a document's distinct word
    * n-grams that occur in NO other document (corpus df = 1) — the inverse
    * signal of [[boilerplateNgrams]]: high novelty marks original content,
    * low novelty marks template/recombined text. Integer counts, one exact
    * division.
    *
    * Plan shape: the posting-list pattern — one groupBy(gram) computes the
    * document frequency AND keeps the posting list (the shared
    * [[wordGramPostings]] hub), which explodes back to (doc, gram, df)
    * without re-joining the exploded gram table against a df table (a join
    * whose build side the estimator cannot size — the recorded AQE
    * mis-broadcast pitfall). The per-run explode touches df=1 postings
    * ONLY (singleton lists — the novel grams being counted); the per-doc
    * denominators come from the shared [[docGramTotals]] hub, so the
    * whole-hub explode is paid once per (corpus, n) session, not per
    * member run. Docs with zero novel grams surface via the totals side
    * of the left join (n_novel 0), exactly as the single-explode form
    * emitted them. */
  def noveltyScore(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docGramTotals(docs, n, idCol, textCol)
      .join(wordGramPostings(docs, n, idCol, textCol)
        .filter(col("df") === 1)
        .select(explode(col("ids")).as("m"))
        .groupBy(col("m.id").as("id"))
        .agg(count(lit(1)).as("n_novel0")), Seq("id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel0"), lit(0L)))
      .select(col("id").as(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("novelty_frac"))

  /** Per-document length-percentile rank and outlier flag within a stratum
    * (default: language) — the degenerate-length filter (truncated or
    * run-on documents) of a corpus-cleaning pipeline. `pct_lt`/`pct_le`
    * are the exact fractions of same-stratum documents strictly shorter /
    * no longer than this one; a document is an outlier when `pct_le` ≤
    * `low` (the shortest `low` fraction) or `pct_lt` ≥ `high`.
    *
    * Scale design — a DISTRIBUTED HISTOGRAM, not a per-stratum window
    * sort: per-(stratum, length) counts aggregate first (the result is
    * |strata| × |distinct lengths| rows — tiny next to the corpus), the
    * cumulative sum runs over THAT small table (the window partition is a
    * stratum's distinct lengths, thousands of rows, never the corpus), and
    * the per-doc rank arrives by broadcast-joining the cutoff table back.
    * A `percent_rank` window straight over the corpus would serialize each
    * stratum through one partition at 100 TB; `percentile()` buffers every
    * value per group on one executor. Exact integer ratios — oracle-exact,
    * unlike approx_percentile, with bounded memory everywhere. */
  def lengthOutliers(docs: DataFrame, low: Double = 0.01, high: Double = 0.99,
      strataCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withLen = graft.core.Tables.spread(docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(strataCol),
        size(split(col(textCol), " ", -1)).cast(LongType).as("n_tokens"))
    val hist = withLen.groupBy(col(strataCol), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("n_tokens"))
    val cum = hist
      .withColumn("le", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy(col(strataCol))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(strataCol), col("n_tokens"),
        ((col("le") - col("cnt")).cast(DoubleType) / col("total").cast(DoubleType))
          .as("pct_lt"),
        (col("le").cast(DoubleType) / col("total").cast(DoubleType)).as("pct_le"))
    withLen.join(broadcast(cum), Seq(strataCol, "n_tokens"))
      .select(col(idCol), col(strataCol), col("n_tokens"),
        col("pct_lt"), col("pct_le"),
        (col("pct_le") <= low || col("pct_lt") >= high).as("is_outlier"))
  }

  /** Content fingerprints: md5 text digest plus a 60-bit numeric fingerprint
    * (first 15 md5 hex digits) usable as a join/partition key. The 60-bit
    * form is chosen because every SQL engine can reproduce it from md5,
    * making cross-engine dedup joins possible. No shuffle. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fp_md5", md5(col(textCol)))
      .withColumn("fp60", hash60(col(textCol)))

  /** PII patterns, kept in the Java∩RE2 regex subset (no lookaround, no
    * backreferences) so the DuckDB oracles run them verbatim. Deliberately
    * simple canonical forms — a production deployment swaps in its
    * compliance team's pattern set; the OPERATOR (count + ordered redact,
    * one codegen'd projection) is what this module ships. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Markup-stripping patterns, in the Java∩RE2 subset like the PII set.
    * `(?s)` (dot-matches-newline) and lazy `.*?` are shared inline syntax.
    * Case-insensitivity is spelled as EXPLICIT ASCII classes, not `(?i)`:
    * Java's `(?i)` folds ASCII only while RE2's does simple Unicode
    * folding (U+017F LONG S folds to `s` in RE2, so `<ſcript>` would
    * strip in DuckDB but not in Spark). Likewise the whitespace run is an
    * explicit class: Java's `\s` includes `\x0B` where RE2's does not. */
  private def ci(word: String): String =
    word.map(c => s"[${c.toLower}${c.toUpper}]").mkString
  val ScriptBlockRe = s"(?s)<${ci("script")}[^>]*>.*?</${ci("script")}>"
  val StyleBlockRe = s"(?s)<${ci("style")}[^>]*>.*?</${ci("style")}>"
  val TagRe = "<[^>]*>"
  val WsRunRe = "[ \\t\\n\\r\\f]+"

  /** Entity decode table, applied in order. `&amp;` is LAST: decoding it
    * first would turn `&amp;lt;` (an escaped "&lt;" in the source) into
    * `&lt;` and then wrongly into `<` — the classic double-decode bug. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** HTML/markup boilerplate stripping — the first cleaning pass over
    * web-crawled training text: script/style blocks go first (their
    * bodies contain `>` that would truncate a generic tag match), then
    * remaining tags become spaces (tags separate words), entities decode
    * (AFTER tag removal, so `&lt;tag&gt;` stays visible text), and
    * whitespace runs collapse. Adds `clean_text` + `n_chars_clean`;
    * null text propagates to null outputs (the pass stays total on its
    * input). Map-only: one codegen'd projection, no shuffle — linear at
    * any corpus size, and embarrassingly parallel at 100 TB. */
  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val noBlocks = regexp_replace(
      regexp_replace(col(textCol), ScriptBlockRe, " "), StyleBlockRe, " ")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = HtmlEntities.foldLeft(noTags) {
      case (c, (from, to)) => replace(c, lit(from), lit(to))
    }
    val clean = trim(regexp_replace(decoded, WsRunRe, " "))
    docs.withColumn("clean_text", clean)
      .withColumn("n_chars_clean", length(col("clean_text")).cast(LongType))
  }

  /** The DuckDB dual of [[stripMarkup]]'s projection for one SQL
    * expression `in`: same patterns, same order, literal `replace` for
    * the entity table. Lives here so the operator and its oracle can
    * never drift apart. */
  def stripMarkupSqlExpr(in: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val noBlocks = s"regexp_replace(regexp_replace($in, ${q(ScriptBlockRe)}, ' ', 'g'), ${q(StyleBlockRe)}, ' ', 'g')"
    val noTags = s"regexp_replace($noBlocks, ${q(TagRe)}, ' ', 'g')"
    val decoded = HtmlEntities.foldLeft(noTags) {
      case (c, (from, to)) => s"replace($c, ${q(from)}, ${q(to)})"
    }
    s"trim(regexp_replace($decoded, ${q(WsRunRe)}, ' ', 'g'))"
  }

  /** PII detection + redaction — the scrubbing pass a training-data
    * pipeline runs before anything else sees the text: counts each PII
    * class on the ORIGINAL text, then redacts in a fixed order
    * (email → phone → IPv4; email first because its local part may embed
    * digit runs the narrower patterns would otherwise mangle first).
    * Counts let the pipeline both FILTER (drop PII-dense docs) and audit
    * redaction volume. Map-only: one codegen'd projection, no shuffle —
    * linear at any corpus size. */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // null text → null counts (SQL semantics; size() alone would yield the
    // legacy -1 sentinel), null redacted — rows are never dropped: a
    // redaction pass must stay total on its input
    def cnt(re: String) =
      when(t.isNull, lit(null).cast(LongType))
        .otherwise(size(regexp_extract_all(t, lit(re), lit(0))).cast(LongType))
    docs
      .withColumn("n_emails", cnt(EmailRe))
      .withColumn("n_phones", cnt(PhoneRe))
      .withColumn("n_ips", cnt(Ipv4Re))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))
  }

  /** Corpus-level bigram collocation statistics: for every adjacent word
    * pair, its count, the component unigram counts, and the LIFT
    * p(w1,w2) / (p(w1)·p(w2)) — the log-free core of PMI (monotone in it,
    * so ranking by lift IS ranking by PMI, without the cross-engine
    * last-ulp hazard of `ln`). The ratio is composed of exactly three
    * IEEE divisions and one multiply with fixed association, so
    * independent engines reproduce it bit-for-bit.
    *
    * Plan shape: the corpus is split into token arrays ONCE into a
    * persisted hub (the [[graft.core.Caches]] convention — the unigram and
    * bigram generators are different explodes, so ReuseExchange alone
    * cannot share the tokenization between them); each rollup is
    * partial-aggregated before its shuffle and PERSISTED (the unigram
    * table feeds two joins, the bigram table feeds its total and the
    * pair output — without the persists each consumer re-pays the
    * corpus explode); the corpus totals are derived from the rollups
    * themselves (sum of unigram counts = token count, sum of pre-filter
    * bigram counts = bigram count — never a third/fourth corpus pass)
    * and memoized to DRIVER LITERALS (the bm25Stats convention: warm
    * re-runs pay zero scalar jobs, and a literal ⇒ the same IEEE tree ⇒
    * the same bits as the old 1-row broadcast); the unigram joins hit
    * the bigram table on its natural key. Cost is linear in token
    * count. `minCount` prunes the rare-pair tail BEFORE the joins — at
    * web scale the c_ab=1 tail is most of the distinct pairs and
    * carries no collocation signal. */
  def collocations(docs: DataFrame, minCount: Long = 20,
      textCol: String = "text"): DataFrame = {
    val ws = graft.core.Caches.persist(
      docs.filter(col(textCol).isNotNull)
        .select(split(col(textCol), " ", -1).as("ws")))
    val ucnt = graft.core.Caches.persist(
      ws.select(explode(col("ws")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val bcnt = graft.core.Caches.persist(
      ws.filter(size(col("ws")) >= 2)
        .select(explode(wordBigramArray(col("ws"))).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("c_ab")))
    def total(df: DataFrame, tag: String, c: String): Long =
      graft.core.Caches.memo(df, tag) {
        val r = df.agg(sum(col(c))).head
        java.lang.Long.valueOf(if (r.isNullAt(0)) 0L else r.getLong(0))
      }.longValue
    val nU = total(ucnt, "collocTokenTotal", "c")
    val nB = total(bcnt, "collocBigramTotal", "c_ab")
    bcnt
      .filter(col("c_ab") >= minCount)
      .join(ucnt.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(ucnt.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab").cast(DoubleType) / lit(nB).cast(DoubleType)) /
          ((col("c_a").cast(DoubleType) / lit(nU).cast(DoubleType)) *
            (col("c_b").cast(DoubleType) / lit(nU).cast(DoubleType)))).as("lift"))
  }

  /** (w1, w2) struct array over an already-split token array — THE word
    * bigram rule ([[collocations]] and [[bigramLmScore]] share it with
    * their oracles; one definition, no inline copies — the
    * [[Dedup.wordShingles]] discipline). Callers must guard
    * `size(ws) >= 2`: `sequence(1, 0)` would generate DESCENDING. */
  private def wordBigramArray(ws: Column): Column =
    transform(sequence(lit(1), size(ws) - 1),
      i => struct(element_at(ws, i).as("w1"), element_at(ws, i + lit(1)).as("w2")))

  /** The scheme://host[:port] prefix, ASCII-case-insensitive scheme (the
    * [[ScriptBlockRe]] discipline — no `(?i)`). */
  private val UrlPrefixRe = s"^(${ci("http")}[sS]?://[^/?#]*)"

  /** authority host for the port rules: optional userinfo, then either a
    * bracketed (IPv6) host or a colon-free reg-name — so `:443` after
    * `user:pass@` or `[::1]` still reads as the PORT colon. No
    * backslash shorthands, safe to splice into both dialects. */
  private val UrlHostRe = "(?:[^/@?#]*@)?(?:\\[[^\\]]*\\]|[^/:?#]+)"

  /** Canonical URL: fragment stripped, scheme+host (the whole authority
    * prefix, userinfo included) ASCII-lowercased, default port dropped
    * (:443 for https, :80 for http — also behind userinfo and bracketed
    * IPv6 hosts), one trailing slash removed. Non-URL strings pass
    * through with only the fragment/trailing-slash rules applying.
    *
    * Dialect discipline (Java∩RE2, like the markup patterns): no
    * lookaround (the end-of-host boundary is a captured `(/|\?|\z)`
    * alternation); `\z` instead of `$` (Java `$` matches before a final
    * newline, RE2's does not); `[\s\S]` instead of `.` for the fragment
    * (Java `.` excludes `\r`, RE2's matches it). */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#[\\s\\S]*", "")
    val lowered = concat(lower(regexp_extract(noFrag, UrlPrefixRe, 1)),
      regexp_replace(noFrag, UrlPrefixRe, ""))
    val noPort = regexp_replace(
      regexp_replace(lowered, s"^(https://$UrlHostRe):443(/|\\?|\\z)", "$1$2"),
      s"^(http://$UrlHostRe):80(/|\\?|\\z)", "$1$2")
    regexp_replace(noPort, "/\\z", "")
  }

  /** The DuckDB dual of [[canonicalUrl]] for one SQL expression `in` —
    * same patterns with the `'g'` flag (Java replaceAll semantics; RE2
    * replacement groups are `\1`, Java's are `$1`). Lives here so
    * operator and oracle share the pattern chain. */
  def canonicalUrlSqlExpr(in: String): String = {
    val nf = s"regexp_replace($in, '#[\\s\\S]*', '', 'g')"
    val lowered =
      s"lower(regexp_extract($nf, '$UrlPrefixRe', 1)) || regexp_replace($nf, '$UrlPrefixRe', '', 'g')"
    // the s-interpolator processes escapes even in triple quotes, so \\?
    // and \\1 emit the SINGLE backslashes RE2 needs in the SQL text
    val noPort = s"""regexp_replace(regexp_replace($lowered,
      '^(https://$UrlHostRe):443(/|\\?|\\z)', '\\1\\2', 'g'),
      '^(http://$UrlHostRe):80(/|\\?|\\z)', '\\1\\2', 'g')"""
    s"regexp_replace($noPort, '/\\z', '', 'g')"
  }

  /** URL-keyed dedup — the crawl-pipeline step before any content dedup:
    * group by [[canonicalUrl]], elect min-id canonical, annotate every
    * row. TOTAL pass: a null url keeps its row with null canonical/count
    * (keepNullKeys — contrast exactDedup's drop-null-fingerprint
    * contract). One shuffle on the canonical URL. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame =
    Dedup.keyedDedupAnnotate(
      docs.withColumn("canonical_url", canonicalUrl(col(urlCol))),
      "canonical_url", idCol, "url_canonical_id", "n_copies",
      keepNullKeys = true)

  /** Corpus-self bigram LM quality score — the deterministic stand-in for
    * a perplexity filter (CCNet-style): train MLE bigram probabilities on
    * the corpus itself (`p(w2|w1) = c(w1,w2) / c(w1,·)`, prefix counts —
    * no smoothing needed: every scored bigram was observed), then score
    * each document by its MEAN bigram probability. Garbled/unnatural text
    * strings rare bigrams together and scores low; formulaic boilerplate
    * scores high — filter both tails.
    *
    * Deviation from true perplexity, deliberately: the geometric mean
    * needs `ln` (not correctly-rounded IEEE → engine-dependent bits, see
    * [[graft.ext.Search]]); the ARITHMETIC mean of per-bigram
    * probabilities needs only exact division. Each probability is
    * fixed-point (`floor(p·10⁶)`), the per-doc sum is an integer (order-
    * independent under Spark's partial aggregation), and the mean is one
    * final exact division.
    *
    * Plan shape: one tokenization hub (persisted: bigram explode feeds
    * corpus counts AND per-doc scoring); bigram + prefix counts are
    * vocab-scale aggregates off the bigram table; scoring joins shuffle
    * on the bigram/prefix keys (AQE handles the zipf head); the per-doc
    * reduce is one aggregate. Docs with <2 tokens (no bigrams) keep null
    * score via the left join — the pass stays total. */
  def bigramLmScore(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hub = graft.core.Caches.persist(docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ", -1).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(wordBigramArray(col("ws"))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val cBg = hub.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val cPre = hub.groupBy(col("w1")).agg(count(lit(1)).as("c_a"))
    // probabilities resolve on the VOCAB-scale tables (cBg⋈cPre, p_fp once
    // per distinct bigram); the occurrence-scale hub then joins once on
    // (w1, w2) — never a second hub-scale shuffle on w1 alone
    val probs = cBg.join(cPre, Seq("w1"))
      .select(col("w1"), col("w2"),
        floor((col("c_ab").cast(DoubleType) / col("c_a").cast(DoubleType))
          * lit(1000000.0)).cast(LongType).as("p_fp"))
    val scored = hub.join(probs, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fp")).as("lm_fp_sum"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_fp_sum"),
        (col("lm_fp_sum").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
          .as("lm_mean_fp"))
  }

  /** Overlapping token-window chunking — the context-window prep step that
    * turns documents into model-sized pieces: windows of `window` tokens
    * every `stride` tokens (stride < window ⇒ overlap). A document emits
    * chunks while `idx·stride < n_tokens`, so every token lands in ≥1
    * chunk and a short document emits exactly one. Map-only (explode of a
    * per-row sequence — no shuffle, no state), so it runs at any corpus
    * size; the output carries (chunk_idx, start_token, n_chunk_tokens) so
    * downstream packing/attribution never re-derives positions. */
  def chunkTokens(docs: DataFrame, window: Int = 32, stride: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride must be positive")
    val ws = split(col(textCol), " ", -1)
    // last chunk index: greatest idx with idx·stride < n  ⟺  (n-1) div stride
    // (n ≥ 1 always: split("") = [""]); floor() is exact here — (n-1)/stride
    // as doubles is exact for any corpus-plausible n < 2^52
    val lastIdx = floor((size(ws) - 1).cast(DoubleType) / lit(stride.toDouble)).cast(IntegerType)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(transform(
        sequence(lit(0), lastIdx),
        idx => {
          val start = idx * stride + 1
          val toks = slice(ws, start, lit(window))
          struct(idx.cast(LongType).as("chunk_idx"),
            start.cast(LongType).as("start_token"),
            size(toks).cast(LongType).as("n_chunk_tokens"),
            concat_ws(" ", toks).as("chunk_text"))
        })).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.start_token"),
        col("c.n_chunk_tokens"), col("c.chunk_text"))
  }

  /** URL domain statistics: extract every `http(s)://host` occurrence and
    * aggregate per domain — the source-mix audit (and blocklist hook) of a
    * web-corpus pipeline. `n_docs` counts documents mentioning the domain,
    * `n_urls` total occurrences. One extraction projection (codegen'd,
    * pattern in the Java∩RE2 subset) + one aggregation; the per-(doc,
    * domain) distinct for n_docs rides the same shuffle as the count. */
  val UrlDomainRe = "https?://([A-Za-z0-9.-]+)"
  def domainStats(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(UrlDomainRe), lit(1))).as("domain"))
      .groupBy(col("domain"))
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_urls"))

  /** Per-domain document cap — web-corpus downsampling (the RefinedWeb /
    * Gopher "no domain dominates" rule): keep at most `maxPerDomain`
    * documents per domain, chosen in CONTENT-HASH order ([[hash60]] of the
    * text, doc id as tie-break) so the keep-set is deterministic,
    * rerun-stable, and unbiased by crawl/id order. Returns only the kept
    * rows, annotated with `domain_rank` (1-based position in the keep
    * order).
    *
    * Scale shape: the rank-filter compiles to Spark's WindowGroupLimit —
    * each map task pre-prunes to its local top-`maxPerDomain` per domain
    * BEFORE the shuffle, so a hot domain with 10⁹ pages ships only
    * cap-sized fragments per task, never the whole domain, and the
    * post-shuffle sort touches ≤ cap·tasks rows per domain. One shuffle.
    * (A plan-regression test asserts the WindowGroupLimit stays.) */
  def domainCap(docs: DataFrame, maxPerDomain: Int,
      domainCol: String = "domain", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive: $maxPerDomain")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(hash60(col(textCol)), col(idCol))
    docs.withColumn("domain_rank", row_number().over(w).cast(LongType))
      .filter(col("domain_rank") <= maxPerDomain)
  }

  /** Batch-side producer of the domain-blocklist gate's key set: the
    * DISTINCT [[hash60]] keys of a blocklist table's ASCII-lowercased
    * domains. One small aggregation; collect is the caller's choice —
    * blocklists are driver-sized by nature (the largest public URL
    * filter lists are ~10⁶ entries ≈ 8 MB of keys, far under the
    * [[flagContaminated]] envelope). */
  def blockedDomainKeys(blocklist: DataFrame,
      domainCol: String = "domain"): DataFrame =
    blocklist.filter(col(domainCol).isNotNull)
      .select(hash60(lower(col(domainCol))).as("dk")).distinct()

  /** Ingest-time DOMAIN-BLOCKLIST gate — the URL-filter stage every
    * web-corpus pipeline runs first (RefinedWeb/Dolma both gate on
    * adult/fraud/malware domain lists before any content filter):
    * `blocked_domain` ⟺ the text mentions an `http(s)://host` whose
    * host, or ANY parent suffix of it, is in the blocklist —
    * `ads.tracker.example.com` is blocked by an `example.com` entry
    * (standard subdomain-inheriting blocklist semantics).
    *
    * Same architecture as [[flagContaminated]]: the blocklist rides the
    * expression as an embedded sorted `long[]` of [[hash60]] keys
    * (exact up to 60-bit collisions, ~2⁻⁶⁰ per pair), the per-row
    * suffix walk is one codegen call
    * ([[graft.functions.DomainSuffixKeys]] — the nested label iteration
    * would otherwise be a forbidden lambda-capture HOF), and membership
    * is a binary search per suffix. Map-only, stateless, no shuffle —
    * identical on batch frames and streaming micro-batches. Null text →
    * null flag (total-pass convention). */
  def flagBlockedDomains(docs: DataFrame, blockedKeys: graft.core.KeySets.Members,
      textCol: String = "text"): DataFrame = {
    val flag = exists(
      graft.functions.DomainSuffixKeys.of(col(textCol)), k => blockedKeys.contains(k))
    docs.withColumn("blocked_domain", when(col(textCol).isNotNull, flag))
  }

  /** Line-level boilerplate removal — the RefinedWeb line-dedup pass:
    * any line whose corpus document frequency (case-insensitive, trimmed)
    * reaches `minDf` is navigation/footer/cookie-banner boilerplate and is
    * deleted from every document; surviving lines are reassembled in
    * original order. Differs from [[Dedup.exactDedup]] (whole-document)
    * and [[boilerplateNgrams]] (report-only): this REWRITES the corpus at
    * line granularity.
    *
    * Output is total on the input: every row keeps `(idCol)`, gaining
    * `clean_text` (null when the text was null OR every line was removed
    * — never a fabricated empty string), `n_lines`, `n_removed`.
    *
    * Plan: one explode projection; line-df is an aggregate over the
    * distinct (doc, line-key) pairs — vocab-scale, zipf-headed (the empty
    * line), which AQE's skew handling splits; the annotate join shuffles
    * the line table on the line key; reassembly is one groupBy on the doc
    * id with an `array_sort` on (pos, line) making the collected order
    * deterministic regardless of partition arrival. No window over the
    * corpus, no per-doc state bigger than the doc itself. */
  def removeCommonLines(docs: DataFrame, minDf: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would delete every line: $minDf")
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("k", lower(trim(col("line"))))
    val lineDf = lines.select(col(idCol), col("k")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("line_df"))
    val kept = lines.join(lineDf, Seq("k"))
      .withColumn("keep", col("line_df") < lit(minDf))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("keep"), lit(0L)).otherwise(lit(1L))).as("n_removed"),
      // collect_list drops the nulls `when` leaves for removed lines;
      // array_sort on (pos, line) restores document order deterministically
      array_sort(collect_list(when(col("keep"),
        struct(col("pos"), col("line"))))).as("ks"))
    val cleanText = when(size(col("ks")) === 0, lit(null).cast(StringType))
      .otherwise(concat_ws("\n", transform(col("ks"), x => x.getField("line"))))
    docs.select(col(idCol))
      .join(rebuilt.select(col(idCol), cleanText.as("clean_text"),
        col("n_lines"), col("n_removed")), Seq(idCol), "left")
  }

  /** Repeated n-gram span masking — the word-level cousin of exact
    * substring dedup ("Deduplicating Training Data Makes Language Models
    * Better": repeated spans, not just repeated documents, hurt the
    * model): any word n-gram whose corpus document frequency reaches
    * `minDf` is memorized boilerplate; every token it covers is cut, and
    * each maximal cut RUN is replaced by one `mask` marker so sentence
    * structure stays visible. Catches the dup class document- and
    * line-granularity ops miss (a quoted paragraph inside an otherwise
    * unique page).
    *
    * Output is total on the input: (id, `masked_text`, `n_tokens`,
    * `n_masked`, `n_spans`); null text → null outputs.
    *
    * Plan: gram occurrences are a map-side explode of per-row slices; the
    * df aggregate runs on [[hash60]] gram keys (constant-width longs, not
    * gram strings — the shuffle payload rule the MinHash family follows);
    * hot grams prune via a semi-join; covered positions explode map-side
    * and distinct on (doc, pos); the run-collapse lag window and the
    * reassembly groupBy share one hash partitioning on the doc id. No
    * corpus-wide window, no driver-side data. */
  def maskRepeatedNgrams(docs: DataFrame, n: Int = 3, minDf: Long = 5,
      mask: String = "<dup>",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n must be at least 2: $n")
    require(minDf >= 2, s"minDf < 2 would mask every token: $minDf")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ", -1).as("ws"))
    // 1-based starts (matches SQL list slicing in the oracle); the fused
    // window hash replaces the per-window slice/concat_ws lambda
    val grams = base.filter(size(col("ws")) >= n)
      .select(col(idCol), posexplode(
        graft.functions.TextMetrics.wordGramHash60(col("ws"), n))
        .as(Seq("p0", "gk")))
      .select(col(idCol), (col("p0") + 1).cast(LongType).as("start"), col("gk"))
    val hot = hotGramKeys(docs, n, minDf, idCol, textCol)
    val covered = grams.join(hot, Seq("gk"), "left_semi")
      .select(col(idCol), explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
    val tokens = base
      .select(col(idCol), posexplode(col("ws")).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).cast(LongType).as("pos"), col("tok"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val emit = tokens
      .join(covered.withColumn("cv", lit(true)), Seq(idCol, "pos"), "left")
      .withColumn("cv", coalesce(col("cv"), lit(false)))
      .withColumn("pcv", coalesce(lag(col("cv"), 1).over(w), lit(false)))
      .withColumn("piece",
        when(!col("cv"), col("tok"))
          .when(col("cv") && !col("pcv"), lit(mask)))
    val rebuilt = emit.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("cv"), lit(1L)).otherwise(lit(0L))).as("n_masked"),
      sum(when(col("cv") && !col("pcv"), lit(1L)).otherwise(lit(0L))).as("n_spans"),
      array_sort(collect_list(when(col("piece").isNotNull,
        struct(col("pos"), col("piece"))))).as("ps"))
    docs.select(col(idCol))
      .join(rebuilt.select(col(idCol),
        concat_ws(" ", transform(col("ps"), x => x.getField("piece"))).as("masked_text"),
        col("n_tokens"), col("n_masked"), col("n_spans")), Seq(idCol), "left")
  }

  /** The hot word-n-gram keys of a corpus: [[hash60]] of every n-gram
    * whose document frequency reaches `minDf` — the batch half of the
    * ingest-time masking pair ([[maskRepeatedNgrams]] consumes it
    * corpus-side; [[maskWithGramSet]] applies a collected copy to a
    * stream). One distinct + one aggregate on constant-width keys. */
  def hotGramKeys(docs: DataFrame, n: Int = 3, minDf: Long = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = split(col(textCol), " ", -1)
    docs.filter(col(textCol).isNotNull && size(ws) >= n)
      .select(col(idCol),
        explode(graft.functions.TextMetrics.wordGramHash60(ws, n)).as("gk"))
      .distinct()
      .groupBy(col("gk")).agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") >= minDf)
      .select(col("gk"))
  }

  /** Ingest-time repeated-n-gram masking — the STREAMING dual of
    * [[maskRepeatedNgrams]]: the hot-gram blocklist is computed in batch
    * over yesterday's corpus ([[hotGramKeys]], collected — bounded by
    * construction, like a stopword list or the [[boilerplateNgrams]]
    * head) and applied per row with pure array expressions. Map-only and
    * stateless, so it runs identically on a batch frame or inside any
    * streaming micro-batch — no state store, no watermark, no shuffle.
    *
    * Same output contract as [[maskRepeatedNgrams]] (masked_text /
    * n_tokens / n_masked / n_spans, total on input). Per-row cost is
    * O(tokens · log|hotGrams|)
    * ([[graft.functions.ArraySets.sortedLongContains]] binary search) —
    * right for blocklists up to ~10⁶ grams, where the bound becomes the
    * collected set's task-binary footprint; past that, run the
    * corpus-side op. */
  def maskWithGramSet(docs: DataFrame, hotGrams: Seq[Long], n: Int = 3,
      mask: String = "<dup>", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n must be at least 2: $n")
    val ws = split(col(textCol), " ", -1)
    val starts = when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val hotStarts = filter(starts, i =>
      graft.functions.ArraySets.sortedLongContains(
        hash60(concat_ws(" ", slice(ws, i, lit(n)))), hotGrams))
    val covered = array_distinct(flatten(transform(hotStarts,
      i => sequence(i, i + (n - 1)))))
    val pieces = transform(sequence(lit(1), size(ws)), i =>
      when(!array_contains(covered, i), element_at(ws, i))
        .when(!array_contains(covered, i - 1), lit(mask)))
    val spanHeads = filter(covered, i => !array_contains(covered, i - 1))
    // null text → null outputs, matching maskRepeatedNgrams' total pass
    def ifText(c: Column) = when(col(textCol).isNotNull, c)
    docs
      .withColumn("masked_text",
        ifText(concat_ws(" ", filter(pieces, p => p.isNotNull))))
      .withColumn("n_tokens", ifText(size(ws).cast(LongType)))
      .withColumn("n_masked", ifText(size(covered).cast(LongType)))
      .withColumn("n_spans", ifText(size(spanHeads).cast(LongType)))
  }

  /** Compression-ratio quality signal (Gopher/Dolma-class filter): the
    * deflate-compressed length of the UTF-8 text over its byte length.
    * Repetitive/template/degenerate text compresses far below prose
    * (ratio → 0); random or binary junk compresses above it (ratio ≳ 1).
    * Both tails get filtered. Map-only: one codegen'd projection through
    * the [[graft.functions.DeflateLength]] expression — no shuffle. No
    * SQL-engine dual exists (DuckDB has no deflate function), so queries
    * over this op are rows-only-gated by design; semantics are asserted
    * in ScalaTest. Null text propagates (total pass). */
  def compressionRatio(docs: DataFrame, textCol: String = "text",
      level: Int = 6): DataFrame =
    docs
      .withColumn("n_bytes", octet_length(col(textCol)).cast(LongType))
      .withColumn("deflate_len",
        graft.functions.TextMetrics.deflateLen(col(textCol), level))
      .withColumn("compression_ratio",
        col("deflate_len").cast(DoubleType) / col("n_bytes").cast(DoubleType))

  /** Cross-source content-overlap matrix — the corpus-composition audit
    * behind mixing decisions (how much of source A is already in source B;
    * e.g. successive crawl dumps overlap heavily, a books source should
    * not): per-source DISTINCT word n-gram sets, pairwise
    * |A∩B| / |A∪B| Jaccard for every unordered source pair — zero-overlap
    * pairs included (a total |S|² matrix, |S| = #sources, tiny).
    *
    * Scale shape: the distinct (source, gram) projection is the only
    * corpus-scale stage (one shuffle on [[hash60]] gram keys — constant
    * width); the intersection self-join runs on the DISTINCT gram table
    * (vocab × sources, orders below row count) keyed by gram; per-source
    * set sizes broadcast back over the |S|² frame. Exact counts, one
    * final double division — hash-stable across engines. */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val ws = split(col(textCol), " ", -1)
    // size filter first: Spark's sequence(1, stop) DESCENDS for stop < 1
    // (it would fabricate grams for short docs; DuckDB's generate_series
    // returns empty — the oracle contract)
    val grams = docs.filter(col(textCol).isNotNull && size(ws) >= n)
      .select(col(srcCol).as("src"),
        explode(graft.functions.TextMetrics.wordGramHash60(ws, n)).as("gk"))
      .distinct()
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val inter = grams.select(col("src").as("source_a"), col("gk"))
      .join(grams.select(col("src").as("source_b"), col("gk")), Seq("gk"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    sizes.select(col("src").as("source_a"), col("n_grams").as("n_a"))
      .crossJoin(sizes.select(col("src").as("source_b"), col("n_grams").as("n_b")))
      .filter(col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
  }

  /** Per-source n-gram DIVERSITY — the self-repetition audit of the
    * source matrix ([[sourceOverlap]] asks how much sources share;
    * this asks how much each source repeats ITSELF — template farms and
    * scraped boilerplate show distinct/total ratios collapsing toward 0,
    * one of the Gopher/FineWeb source-quality axes; the per-document
    * dual is the repetition scorer, this is the corpus-mix view):
    * per source, total word `n`-gram occurrences, distinct n-grams, and
    * `distinct_fp = floor(distinct · 10⁶ / total)`. Short docs
    * (< n tokens) contribute nothing (the [[sourceOverlap]] gram rule).
    *
    * Scale shape: one tokenization pass → ONE aggregation keyed on the
    * source (exact count-distinct runs as Spark's two-phase expand —
    * the second phase is keyed on (source, gram-hash), fully parallel);
    * output is |S| rows. [[hash60]] keys through the shuffle. */
  def distinctNgramRatio(docs: DataFrame, n: Int,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(n > 0, s"gram width must be positive: $n")
    val ws = split(col(textCol), " ", -1)
    docs.filter(col(textCol).isNotNull && size(ws) >= n)
      .select(col(srcCol).as("source"),
        explode(graft.functions.TextMetrics.wordGramHash60(ws, n)).as("gk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        count_distinct(col("gk")).as("n_distinct"))
      .withColumn("distinct_fp",
        floor(col("n_distinct").cast(DoubleType) * lit(1000000.0) /
          col("n_grams").cast(DoubleType)).cast(LongType))
  }

  /** Out-of-vocabulary rate per document against a fixed vocabulary —
    * the tokenizer-coverage audit (a corpus slice whose tokens fall
    * outside the model vocabulary trains as UNK noise; language and
    * encoding drift both surface here first). Adds `n_tokens`, `n_oov`,
    * and `oov_fp = floor(n_oov · 10⁶ / n_tokens)`; null text → null
    * outputs (total pass). The vocabulary rides as an expression literal
    * (the [[keywordScore]] envelope: curated vocabularies up to ~10⁴
    * entries; a full BPE vocab would switch to the explode +
    * broadcast-join shape). Map-only: one codegen'd projection, no
    * shuffle. */
  def oovRate(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(vocab.nonEmpty, "oovRate needs a vocabulary")
    val vs = typedLit(vocab)
    val ws = split(col(textCol), " ", -1)
    val nOov = aggregate(ws, lit(0L), (acc, t) =>
      acc + when(array_contains(vs, t), 0L).otherwise(1L))
    def ifText(c: Column) = when(col(textCol).isNotNull, c)
    docs
      .withColumn("n_tokens", ifText(size(ws).cast(LongType)))
      .withColumn("n_oov", ifText(nOov))
      .withColumn("oov_fp",
        ifText(floor(nOov.cast(DoubleType) * lit(1000000.0) /
          size(ws).cast(DoubleType)).cast(LongType)))
  }

  /** Top-k corpus vocabulary by frequency with Zipf-audit fields —
    * `(rank, term, freq, share_fp)` where `share_fp = floor(freq · 10⁶ /
    * total_tokens)`: the rank-frequency head is the first thing a corpus
    * profile reads (a missing Zipf head means template text; a fat tail
    * of singletons means OCR/encoding junk). Ties rank by term ascending.
    *
    * Scale shape: one token aggregation (vocab-scale output), then top-k
    * via orderBy + limit — TakeOrderedAndProject's per-partition heaps,
    * NO global sort and no single-partition vocab window; the final rank
    * window runs over k rows. Total tokens broadcast as a 1-row frame. */
  def termRankFreq(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val freqs = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ", -1)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val total = freqs.agg(sum(col("freq")).as("n_total"))
    freqs.orderBy(col("freq").desc, col("term")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("term"))))
      .crossJoin(broadcast(total))
      .select(col("rank").cast(LongType).as("rank"), col("term"), col("freq"),
        floor(col("freq").cast(DoubleType) * lit(1000000.0) /
          col("n_total").cast(DoubleType)).cast(LongType).as("share_fp"))
  }

  /** Sentence-terminator split rule shared with the oracle: a `.`/`!`/`?`
    * followed by one or more spaces ends a sentence. Group-1 backref in
    * the replacement keeps the terminator; the space run is consumed by
    * the marker. Plain capture + backref — identical in Java regex and
    * RE2 (no lookbehind, which RE2 lacks). */
  val SentenceEndRe = "([.!?]) +"

  /** The sentence-boundary marker: the ASCII unit separator (0x1F),
    * which cannot occur in sane text (and [[normalizeText]] strips it
    * anyway — it sits in [[JunkRunRe]]'s control range). Built from the
    * code point to keep raw control bytes out of the source file; the
    * oracle spells it `chr(31)`. */
  val SentenceMarker: String = 31.toChar.toString

  /** Sentence segmentation — the unit-of-text pass upstream of
    * sentence-level dedup/quality/chunking (RefinedWeb-style pipelines
    * filter and dedup at sentence granularity, and context-window packing
    * prefers sentence boundaries to mid-sentence cuts).
    *
    * Mechanism (engine-portable by construction): terminators get a NUL
    * marker appended via one regexp_replace, then one split — never a
    * lookbehind split (RE2 has none) and never an extract-all that could
    * drop an unterminated trailing sentence. Empty segments drop; output
    * is (id, sent_idx ≥ 1, sentence, n_tokens).
    *
    * Map-only fan-out: one projection + one generate, no shuffle. */
  def splitSentences(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val marked = regexp_replace(col(textCol), SentenceEndRe, "$1" + SentenceMarker)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(marked, SentenceMarker, -1)).as(Seq("pos", "sentence")))
      .filter(col("sentence") =!= "")
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("sent_idx"),
        col("sentence"),
        size(split(col("sentence"), " ", -1)).cast(LongType).as("n_tokens"))
  }

  /** Sentence-level exact deduplication (the RefinedWeb-style pass one
    * granularity below [[graft.ext.Dedup.exactDedup]]: boilerplate
    * sentences — cookie banners, navigation stubs, license blurbs —
    * repeat across documents that are nowhere near duplicates as wholes):
    * every sentence keeps its FIRST corpus-wide occurrence (order =
    * (doc, sentence index), the dedup family's min-id convention) and
    * later occurrences are cut; each document is rebuilt from its kept
    * sentences in original order, single-space joined (the
    * [[splitSentences]] inverse — terminators live inside the sentences).
    * Sentences compare by [[hash60]] (the family's 60-bit-collision
    * contract). Output per non-null-text document with ≥1 sentence:
    * `(idCol, clean_text, n_sents, n_removed)`; a fully-boilerplate
    * document yields the empty string.
    *
    * Scale shape: one corpus-linear sentence fan-out, ONE shuffle on the
    * sentence hash (constant-width key) for the first-occurrence window,
    * one shuffle back on the doc id for the rebuild — per-sentence-group
    * and per-doc windows only, nothing driver-sized, no self-join. */
  def dedupSentences(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(hash60(col("sentence")))
      .orderBy(col(idCol), col("sent_idx"))
    splitSentences(docs, idCol, textCol)
      .withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(filter(sort_array(collect_list(struct(
            col("sent_idx"),
            when(col("rn") === 1, col("sentence")).as("s")))),
          x => x("s").isNotNull), x => x("s")), " ").as("clean_text"),
        count(lit(1)).as("n_sents"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"))
  }

  /** `<a href="...">anchor</a>` matcher shared with the oracle — group 1
    * the URL, group 2 the anchor text. Java∩RE2: negated classes only,
    * no lookaround, no backrefs in the PATTERN. */
  val LinkRe = "<a [^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"

  /** Hyperlink extraction — the edge-producing pass of a crawl pipeline
    * (link graphs drive domain authority, crawl frontiers, and anchor-text
    * relevance signals). One row per link occurrence:
    * (id, link_idx ≥ 1, url, anchor, target_domain).
    *
    * Map-only fan-out: both capture groups extract in one projection
    * (two extract_alls over the same compiled pattern), zip, explode —
    * no shuffle; the downstream degree aggregates are the consumer's
    * groupBy ([[domainStats]] / [[sourceOverlap]] shapes). */
  def extractLinks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val urls = regexp_extract_all(col(textCol), lit(LinkRe), lit(1))
    val anchors = regexp_extract_all(col(textCol), lit(LinkRe), lit(2))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(arrays_zip(urls, anchors)).as(Seq("pos", "la")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("link_idx"),
        col("la.0").as("url"), col("la.1").as("anchor"))
      .withColumn("target_domain",
        lower(regexp_extract(col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)))
  }

  /** Linear keyword classifier scoring — the inference half of a
    * fastText-style quality/topic filter: `score = bias + Σ_tokens
    * w(token)` over a fixed integer weight table, `label = 1` iff
    * `score ≥ 0`. (Training happens offline; corpus-scale *inference* is
    * the pipeline operator.)
    *
    * Scale shape: the weight table rides along as a MAP LITERAL and each
    * row folds its own tokens — a pure projection, NO shuffle and no
    * explode→join→re-aggregate round trip (which would shuffle every
    * token of a 100 TB corpus to score it). Integer weights ⇒ exact,
    * order-free sums. For weight tables too large for an expression
    * literal (≫10⁴ entries), switch to the explode + broadcast-join
    * shape; the fold is the right plan for curated keyword lists. */
  def keywordScore(docs: DataFrame, weights: Seq[(String, Long)],
      bias: Long = 0L, textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("kw_score", keywordScoreCol(weights, bias, textCol))
      .withColumn("kw_label", (col("kw_score") >= 0).cast(LongType))

  /** The per-row score of [[keywordScore]]; null for null text. */
  def keywordScoreCol(weights: Seq[(String, Long)], bias: Long = 0L,
      textCol: String = "text"): Column = {
    require(weights.nonEmpty, "keywordScore needs a weight table")
    val m = map(weights.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    aggregate(split(col(textCol), " ", -1), lit(bias),
      (acc, t) => acc + coalesce(element_at(m, t), lit(0L)))
  }

  /** Pairwise DISTRIBUTIONAL divergence between sources — the complement
    * of [[sourceOverlap]]: Jaccard over distinct grams asks "do the
    * sources share content?"; this asks "do they share a *language
    * profile*?" (two crawls can share zero documents yet have identical
    * unigram distributions, and a code source diverges from a prose
    * source even where they share vocabulary).
    *
    * Statistic: total-variation distance between the unigram frequency
    * distributions, `TVD = ½ Σ_t |c_a(t)/N_a − c_b(t)/N_b|`, chosen over
    * KL/JS because it needs NO logarithm — the numerator
    * `Σ_t |c_a(t)·N_b − c_b(t)·N_a|` is an exact integer, so the result
    * is engine-reproducible (one final mirrored IEEE division for the
    * fixed-point report). 0 = identical distributions, 10⁶ = disjoint.
    *
    * Scale shape: one tokenization pass → per-(source, gram-key) counts
    * (the only corpus-scale shuffle, on [[hash60]] keys, PERSISTED — two
    * consumers below); per-source token totals are |S| rows BY
    * CONSTRUCTION, so they collect to the driver (memoized — the
    * centroid-literal rationale: a source registry is driver-sized the
    * way a corpus is not) and ride the plan as literals. The shared-term
    * sums come from ONE grouping on the gram key — per-gram source lists
    * are ≤ |S| structs wide (bounded row width at any corpus size) and
    * expand to their a<b pairs map-side — never a self-join, so the warm
    * path is a single two-exchange job. Terms absent from one source
    * contribute `c·N_other` — recovered from totals minus the shared-term
    * sums, so only shared grams are ever materialized. */
  def sourceDivergence(docs: DataFrame,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    // persisted per-source unigram hub: the token-scale tokenize+count is
    // the only corpus-sized stage and it has THREE consumers downstream
    // (the totals aggregate and both sides of the shared-gram self-join) —
    // without the persist each re-runs it (exchange reuse does not survive
    // the differing parents). The q59 hubStatsOf rationale, applied to the
    // source-matrix family; released via Caches.unpersistAll.
    // null sources can never reach the output (a null never satisfies the
    // pair ordering in either engine), so they are dropped before the hub
    val counts = graft.core.Caches.persist(
      docs.filter(col(textCol).isNotNull && col(srcCol).isNotNull)
        .select(col(srcCol).as("src").cast(StringType),
          explode(split(col(textCol), " ", -1)).as("term"))
        .select(col("src"), hash60(col("term")).as("gk"))
        .groupBy(col("src"), col("gk")).agg(count(lit(1)).as("c")))
    // per-source token totals: |S| rows by construction — collected once
    // (memoized; warm re-runs pay zero jobs) and embedded as literals
    val totals: Seq[(String, Long)] =
      graft.core.Caches.memo(counts, "srcTotals")(
        counts.groupBy(col("src")).agg(sum(col("c")).as("n_tok"))
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1))))
    val nTok = map(totals.flatMap { case (s, n) => Seq(lit(s), lit(n)) }: _*)
    // the whole numerator runs in 38-digit decimals: at web scale a
    // source holds ~10¹² tokens, so c·N cross products reach ~10²⁴ —
    // past BIGINT — while decimal38 holds to ~10³⁸ (the oracle mirrors
    // with HUGEINT). tvd_fp divides the DECIMAL numerator (always exact,
    // lands in [0, 10⁶]); tvd_num is the one field that only fits BIGINT
    // below ~3·10⁹ tokens/source — emitted for drill-down, cast LAST.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // shared-term sums via per-gram pair expansion: sort_array orders the
    // ≤|S|-wide (src, c) list by source (Spark/UTF8 binary order — the
    // same `<` the oracle's a.src < b.src uses), so slice-pairs (i < j)
    // enumerate exactly the unordered source pairs sharing the gram
    val byGram = counts
      .groupBy(col("gk"))
      .agg(sort_array(collect_list(struct(col("src"), col("c")))).as("xs"))
      .select(explode(flatten(transform(col("xs"), (x, ix) =>
        transform(slice(col("xs"), ix + lit(2), size(col("xs"))), y =>
          struct(x("src").as("sa"), y("src").as("sb"),
            x("c").as("ca"), y("c").as("cb")))))).as("p"))
    val shared = byGram
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(sum(abs(col("p.ca").cast(dec) * element_at(nTok, col("p.sb")) -
          col("p.cb").cast(dec) * element_at(nTok, col("p.sa"))))
          .as("shared_abs"),
        sum(col("p.ca")).as("shared_ca"), sum(col("p.cb")).as("shared_cb"))
    val num = coalesce(col("shared_abs"), lit(0L).cast(dec)) +
      (col("n_a") - coalesce(col("shared_ca"), lit(0L))).cast(dec) * col("n_b") +
      (col("n_b") - coalesce(col("shared_cb"), lit(0L))).cast(dec) * col("n_a")
    // the |S|² pair frame is a LOCAL literal relation (no corpus job):
    // built unordered, filtered by the same Spark `<` as the pair
    // expansion so driver-side string ordering never enters the contract
    val spark = docs.sparkSession
    import scala.jdk.CollectionConverters._
    val totSchema = StructType(Seq(
      StructField("source_a", StringType, nullable = false),
      StructField("n_a", LongType, nullable = false),
      StructField("source_b", StringType, nullable = false),
      StructField("n_b", LongType, nullable = false)))
    val pairRows = (for { (sa, na) <- totals; (sb, nb) <- totals if sa != sb }
      yield org.apache.spark.sql.Row(sa, na, sb, nb)).asJava
    spark.createDataFrame(pairRows, totSchema)
      .filter(col("source_a") < col("source_b"))
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        num.as("__num_dec"))
      .withColumn("tvd_fp",
        floor(col("__num_dec").cast(DoubleType) * lit(1000000.0) /
          (lit(2.0) * col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)))
          .cast(LongType))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("__num_dec").cast(LongType).as("tvd_num"), col("tvd_fp"))
  }

  /** Whitespace/control class of [[normalizeText]], shared with its oracle:
    * space, tab, CR, LF, and the C0/DEL control range. Explicit `\x`
    * escapes — identical meaning in Java regex and RE2. */
  val JunkRunRe = "[ \\t\\r\\n\\x00-\\x1F\\x7F]+"

  /** Text normalization — the canonical-form pass run before any
    * hash/shingle operator so that casing and whitespace noise never
    * splits otherwise-identical content: every run of whitespace/control
    * characters collapses to ONE space, leading/trailing runs drop, and
    * the result is lowercased. Adds `norm_text` + `n_chars_norm`;
    * null text propagates (total pass). Map-only: one codegen'd
    * projection, no shuffle — linear at any corpus size. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = lower(trim(regexp_replace(col(textCol), JunkRunRe, " ")))
    docs.withColumn("norm_text", norm)
      .withColumn("n_chars_norm", length(col("norm_text")).cast(LongType))
  }

  /** Code-keyword regex shared with the oracle (Java∩RE2: `\b` word
    * boundaries work identically in both engines on ASCII words). */
  val CodeKeywordRe =
    "\\b(def|class|return|import|function|var|let|const|void|int|for|while)\\b"

  /** Code-vs-prose detection — the source-separation signal corpus
    * pipelines use to route documents to a code pipeline or drop them
    * from a prose corpus (the StarCoder-era mixture problem). Three
    * integer evidence channels, each independently countable by any
    * engine: (1) `n_punct` — occurrences of the code punctuation class
    * `{}()[];=`, (2) `kw_hits` — word-boundary matches of
    * [[CodeKeywordRe]], (3) `indent_lines` — lines starting with two
    * spaces or a tab (block structure). The fixed-point score is
    * `floor(1e6 · (3·n_punct + 10·kw_hits + 20·indent_lines) / n_chars)`
    * — punctuation is weak evidence, keywords stronger, indentation
    * strongest, normalized by document length so long prose with a
    * stray bracket stays cold. `is_code` gates on `minScoreFp`.
    *
    * Null text yields zero counts/score and `is_code = false` (total
    * pass). Plan: map-only projection — `translate`-difference for the
    * punctuation count, one `regexp_extract_all` size for keywords, one
    * newline split + `filter` (lambda reads only its own variable) for
    * indent lines. No shuffle; fused into the scan at any scale. */
  def codeScore(docs: DataFrame, minScoreFp: Long = 15000L,
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nPunct = (length(t) - length(translate(t, "{}()[];=", ""))).cast(LongType)
    val kwHits = size(regexp_extract_all(t, lit(CodeKeywordRe), lit(0))).cast(LongType)
    val indents = size(filter(split(t, "\n", -1),
      l => substring(l, 1, 2) === "  " || substring(l, 1, 1) === "\t")).cast(LongType)
    val score = floor(
      (lit(3L) * nPunct + lit(10L) * kwHits + lit(20L) * indents)
        .cast(DoubleType) * lit(1000000.0) /
        greatest(length(t), lit(1)).cast(DoubleType)).cast(LongType)
    docs.withColumn("n_punct", coalesce(nPunct, lit(0L)))
      .withColumn("kw_hits", coalesce(kwHits, lit(0L)))
      .withColumn("indent_lines", coalesce(indents, lit(0L)))
      .withColumn("code_score_fp", coalesce(score, lit(0L)))
      .withColumn("is_code", coalesce(score >= lit(minScoreFp), lit(false)))
  }

  /** Terminal-punctuation line test shared with the oracle (Java∩RE2:
    * no lookaround, explicit class). A line "ends in terminal
    * punctuation" iff its trimmed form ends with `.`, `!`, `?` or `"`.
    * Anchored with `\z` (true end of input), not `$`: Java's unanchored
    * `$` matches BEFORE a final line terminator (`\r`, ` `, ...)
    * while RE2's does not, so on CRLF text — where splitting on `\n`
    * leaves a trailing `\r` — the two engines would disagree. `\z` means
    * the same thing in both; [[c4Filter]] additionally strips the
    * trailing `\r` itself so a CRLF line with real terminal punctuation
    * is KEPT (not silently rejected by the residue byte). */
  val TerminalPunctRe = "[.!?\"]\\z"

  /** C4-style heuristic line+document quality filter (Raffel et al. 2020
    * §2.2's rule set, the pass web pipelines run between markup stripping
    * and dedup; RefinedWeb runs the same shape). Line rules — a line of
    * the document survives iff, on its trimmed form, it (a) ends in
    * terminal punctuation ([[TerminalPunctRe]]), (b) has at least
    * `minWordsPerLine` space-separated words, and (c) does not mention
    * "javascript" (case-insensitive; the browser-requirement boilerplate
    * line). Document rules — the document is kept iff at least
    * `minKeptLines` lines survive, the raw text has no `{` (the code/JSON
    * brace rule), and no "lorem ipsum" (placeholder boilerplate).
    *
    * Adds: `n_lines`, `n_kept` (both 0 for null text), `keep_doc`
    * (false for null text — a gate, unlike the repetition filter whose
    * null-pass contract is documented at its YAML stage), and
    * `clean_text` = the surviving lines rejoined with `\n` when the doc
    * is kept, else null. Total pass: every input row appears once.
    *
    * Plan: map-only projection — one `split` on newline, one array
    * `filter` whose lambda reads ONLY its own lambda variable and
    * literals (the SURVEY §4 lambda-capture rule: trim/lower of the
    * lambda var are computed FROM it, not captured subtrees), no shuffle,
    * no per-doc state beyond the line array. Linear at any corpus size;
    * at 100 TB this runs fused inside the scan stage. */
  def c4Filter(docs: DataFrame, minWordsPerLine: Int = 5,
      minKeptLines: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n", -1)
    // line rules test the \r-stripped trimmed form (CRLF text splits on
    // \n leaving a trailing \r — line-terminator residue, not content);
    // rtrim first so "foo. \r" also cleans to "foo."
    def cleaned(l: Column) = trim(rtrim(l, "\r"))
    val kept = filter(lines, l =>
      cleaned(l).rlike(TerminalPunctRe) &&
        size(split(cleaned(l), " +", -1)) >= lit(minWordsPerLine) &&
        !lower(l).contains("javascript"))
    val keepDoc = when(t.isNull, lit(false)).otherwise(
      size(kept) >= lit(minKeptLines) &&
        !t.contains("{") && !lower(t).contains("lorem ipsum"))
    docs.withColumn("n_lines",
        when(t.isNull, lit(0L)).otherwise(size(lines).cast(LongType)))
      .withColumn("n_kept",
        when(t.isNull, lit(0L)).otherwise(size(kept).cast(LongType)))
      .withColumn("keep_doc", keepDoc)
      .withColumn("clean_text",
        when(keepDoc, concat_ws("\n", kept)).otherwise(lit(null).cast(StringType)))
  }
}
