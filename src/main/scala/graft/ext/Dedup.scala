package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline: exact (content
  * fingerprint), exact n-gram Jaccard (inverted-index candidates), MinHash+LSH
  * (band-bucket candidates, exactly verified), and SimHash (banded Hamming
  * join). All plain DataFrame plans.
  *
  * Scale posture (100 TB):
  *   - nothing here is O(n²): pair generation always goes through an
  *     inverted index (shared shingle / shared LSH band / shared SimHash
  *     band) so cost follows true duplicate density, not the row count;
  *   - [[capDocFreq]] drops shingles present in more than `maxDf` documents
  *     — boilerplate n-grams that would otherwise make the inverted-index
  *     candidates quadratic on hot keys (the standard near-dup trick);
  *   - shingle extraction is map-only (`array_distinct` dedups inside the
  *     row, no shuffle), so the only shuffles are the doc-frequency count,
  *     the per-doc array rollup, and the candidate joins;
  *   - pair verification joins candidates against ONE per-doc shingle-array
  *     table and counts the intersection with `array_intersect` in the map
  *     stage — no second inverted-index shuffle, and the per-doc array
  *     subtree is a single exchange that Spark's ReuseExchange shares
  *     between the i-side and j-side joins;
  *   - SimHash banding is lossless by pigeonhole: hamming ≤ 3 over a 60-bit
  *     signature split into 4 bands forces ≥1 identical band, so the band
  *     join finds every qualifying pair — it is an optimization, never an
  *     approximation;
  *   - MinHash banding IS probabilistic (tunable via hashes/band); the
  *     emitted pairs are exact-Jaccard-verified, so precision is always 1
  *     and band count controls recall only.
  *
  * Cache note: the pairwise ops (jaccardPairs/nearDupJaccard/
  * minhashLshPairs) persist a corpus-sized per-doc array hub into the
  * session cache (MEMORY_AND_DISK — it feeds 3-4 plan consumers), via
  * [[graft.core.Caches]]: after materializing a result, call
  * `Caches.unpersistAll()` to release exactly these hubs (Verify/Bench
  * do, between queries) — no reliance on `clearCache()` nuking user
  * entries too.
  *
  * Pipeline order at scale: run [[exactDedup]] FIRST and near-dup the
  * distinct texts only. Exact copies share every prefix token, so a group
  * of m copies re-emits its m(m−1)/2 pairs from each posting list before
  * the candidate distinct — collapsing them first removes that
  * multiplicative factor (measured 8× copy inflation → ~40× candidate
  * work on the fixture corpus).
  */
object Dedup {

  /** Distinct char n-gram set of one text value (the single source of the
    * shingling rule: short texts contribute the whole text as one shingle;
    * null text yields null, which explode drops). Round 11: the
    * declarative `array_distinct(transform(sequence(...), substr))` form
    * became the codegen'd [[graft.functions.TextShingles.charNgramSet]] —
    * identical semantics (full oracle suite re-verified), one static call
    * per row instead of interpreted per-gram lambdas (the dominant cost
    * of q54's warm run and every char-gram hub build). */
  private def shingleArray(text: org.apache.spark.sql.Column, n: Int) =
    graft.functions.TextShingles.charNgramSet(text, n)

  /** Word (whitespace-token) n-grams of one text value, in order and with
    * duplicates — the single source of the word-gram rule: texts with fewer
    * than n tokens contribute all their tokens as one gram (the word-level
    * analogue of the short-text rule). Shared by the shingle sets below and
    * by [[TextAnalysis.repetitionStats]]'s bigram counting, so a change to
    * the gram rule reaches every consumer. */
  private[ext] def wordNgramArray(text: org.apache.spark.sql.Column, n: Int) = {
    val ws = split(text, " ", -1)
    transform(
      sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(ws, i, lit(n))))
  }

  /** Distinct word n-gram SET of one text value ([[wordNgramArray]]
    * deduplicated — the set-semantics form the Jaccard operators need).
    * Codegen'd as [[graft.functions.TextShingles.wordNgramSet]] (round 11,
    * same rationale as [[shingleArray]]); [[wordNgramArray]] keeps the
    * declarative duplicate-preserving form for the occurrence-counting
    * consumers. */
  private[ext] def wordShingleArray(text: org.apache.spark.sql.Column, n: Int) =
    graft.functions.TextShingles.wordNgramSet(text, n)

  /** Character n-gram shingle set, one row per distinct (id, shingle).
    * Documents shorter than n contribute their whole text as one shingle.
    * Map-only: per-doc dedup happens inside `array_distinct`, no shuffle. */
  def charShingles(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.core.Tables.spread(docs).select(
        col(idCol).as("id"),
        explode(shingleArray(col(textCol), n)).as("sh"))

  /** Word n-gram shingle set, one row per distinct (id, shingle). */
  def wordShingles(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.core.Tables.spread(docs).select(
        col(idCol).as("id"),
        explode(wordShingleArray(col(textCol), n)).as("sh"))

  /** Drop shingles occurring in more than `maxDf` documents (anti-hot-key
    * cap for the inverted-index candidates; see class doc). */
  def capDocFreq(sh: DataFrame, maxDf: Int): DataFrame =
    cappedWithDf(sh, maxDf).select(col("id"), col("sh"))

  /** The near-dup family's DEFAULT df cap, sized from the corpus:
    * `max(floorDf, ⌊|docs|·permille/1000⌋)` — boilerplate is a FRACTION
    * of a corpus, not an absolute count, so a cap that does not scale
    * silently changes which shingles count as boilerplate as the corpus
    * grows (the round-10 sf1 finding: the historical fixed 500 was 10%
    * of the sf0.1 bench corpus but 1% at sf1, reclassifying mid-frequency
    * CONTENT shingles as boilerplate). The floor pins every corpus
    * ≤ floorDf·1000/permille docs to exactly `floorDf` — the bench-scale
    * plans and pair sets stay bit-identical. One memoized count job
    * (the q122 corpus-count precedent); passing an explicit `maxDf > 0`
    * to any family operator skips it entirely. */
  def fractionalDfCap(docs: DataFrame, floorDf: Int = 500,
      permille: Int = 100): Int = {
    require(floorDf > 0 && permille > 0 && permille <= 1000,
      s"invalid df cap rule: floorDf=$floorDf permille=$permille")
    val n = graft.core.Caches.count(docs)
    math.max(floorDf.toLong, n * permille / 1000L)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Persisted SHARED-GRAM-POSITION hub, keyed by (corpus, n): one row
    * per occurrence of a cross-document-shared positional word n-gram —
    * `(id, p (1-based token position), keep)`, where `keep` marks the
    * gram's canonical holder (the MIN doc id among documents containing
    * it — the same deterministic min-id election [[exactDedup]] uses).
    * Shared by [[repeatedSpans]] (reads every occurrence: the report
    * covers canonical copies too) and [[stripRepeatedSpans]] (removes
    * non-holder occurrences only), so a report-then-rewrite session pays
    * the gram shuffle once (the wordGramPostings precedent; released by
    * [[graft.core.Caches.unpersistAll]]).
    *
    * Deliberately NOT the collect_list posting shape the set-similarity
    * hubs use: a span hub cannot df-cap (an ultra-hot gram still marks
    * every position it covers), so at web scale a boilerplate gram's
    * posting row would grow with the corpus — the recorded fat-row OOM
    * hazard with no cap to bound it. Instead: a narrow three-scalar
    * aggregate per gram (min/max — no lists, row width constant at any
    * df) joined back to the occurrence stream. Both the aggregate and
    * the join consume the SAME (sh-shuffled) occurrence subtree, so the
    * exchange is planned once and reused, not paid twice. */
  private def sharedGramHub(docs: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame = {
    val pos = gramPositions(docs, n, idCol, textCol)
    val stats = pos.groupBy(col("sh"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("sh"), col("mn"))
    graft.core.Caches.persist(
      pos.hint("shuffle_hash").join(stats, Seq("sh"))
        .select(col("id"), col("p"), (col("id") === col("mn")).as("keep")))
  }

  /** Positional word `n`-grams, one row per occurrence: `(id, riders…,
    * p (1-based token position), sh)`; each rider is a named per-document
    * column carried onto every occurrence. */
  private[ext] def gramPositions(docs: DataFrame, n: Int, idCol: String,
      textCol: String, riders: (String, org.apache.spark.sql.Column)*): DataFrame =
    graft.core.Tables.spread(docs).select(
        (col(idCol).as("id") +: riders.map { case (k, c) => c.as(k) } :+
          posexplode(graft.functions.TextShingles.wordGramSeq(col(textCol), n))): _*)
      .select((col("id") +: riders.map { case (k, _) => col(k) } :+
        (col("pos") + 1).cast(LongType).as("p") :+ col("col").as("sh")): _*)

  /** Every word `n`-gram occurrence of `docs` as one `sh` row. */
  private[ext] def gramStream(docs: DataFrame, n: Int, textCol: String): DataFrame =
    graft.core.Tables.spread(docs)
      .select(explode(graft.functions.TextShingles.wordGramSeq(col(textCol), n)).as("sh"))

  /** Distinct `(id, pos)` token positions covered by gram hits `(id, p)`
    * (map-side, at most `n` rows per hit). */
  private[ext] def coveredPositions(hits: DataFrame, n: Int): DataFrame =
    hits.select(col("id"), explode(sequence(col("p"), col("p") + (n - 1))).as("pos"))
      .distinct()

  /** Whether the word-`n`-gram set of `small` may broadcast: `n` times the
    * optimizer's estimate of the input (read before the gram Generate, so
    * no job) fits [[Similarity.fitsBroadcast]]'s envelope. */
  private[ext] def gramsFitBroadcast(small: DataFrame, n: Int): Boolean =
    Similarity.fitsBroadcast(Similarity.statBytes(small) * n)

  /** Cross-document REPEATED-SPAN extraction — the reporting core of
    * exact substring deduplication (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": verbatim text repeated across
    * training documents is the highest-leverage dedup target), at word
    * `n`-gram granularity instead of a suffix array: for each document,
    * the MAXIMAL runs of consecutive token positions whose n-grams each
    * occur in at least one OTHER document. A run of `g` consecutive
    * shared grams covers `g + n - 1` tokens of verbatim cross-document
    * text; runs shorter than `minGrams` are noise (common phrases) and
    * are dropped. Output: one row per (doc, maximal span) —
    * `(id, span_start (1-based token idx), span_len (tokens), n_grams)`.
    *
    * Contract edges, pinned by spec + oracle: documents with fewer than
    * `n` tokens emit nothing ([[graft.functions.TextShingles.wordGramSeq]]
    * has NO short-text fallback — a span is never narrower than its gram);
    * a gram repeated only WITHIN one document is not shared (cross-doc
    * means ≥2 distinct ids — tested as `min(id) ≠ max(id)`, a codegen'd
    * two-scalar aggregate instead of a distinct-count); overlapping spans
    * shared with DIFFERENT partner documents merge into one maximal span
    * (the output answers "which of MY text is duplicated somewhere", not
    * "with whom" — [[nearDupJaccard]]/[[containmentPairs]] answer the
    * pairwise question).
    *
    * Plan shape (scale posture): positional grams are one codegen call +
    * posexplode (volume = total corpus tokens, linear); ONE corpus
    * shuffle groups by gram carrying `(id, p)` members (the posting-hub
    * shape — hot boilerplate grams make single fat rows, inherent to
    * posting lists, never a driver structure); shared grams explode back
    * to hit positions (≤ linear in corpus tokens); the maximal-run merge
    * is the islands trick (`p − row_number` per doc) — a per-document
    * window whose partitions are bounded by document length, never by
    * corpus size. Nothing is O(n²) and nothing leaves the executors. */
  def repeatedSpans(docs: DataFrame, n: Int = 8, minGrams: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0 && minGrams > 0,
      s"gram width and span floor must be positive: n=$n minGrams=$minGrams")
    val hits = sharedGramHub(docs, n, idCol, textCol).select(col("id"), col("p"))
    maximalRuns(hits, n, minGrams, idCol)
  }

  /** The gaps-and-islands MAXIMAL-RUN merge shared by the span-report
    * family ([[repeatedSpans]], [[repeatedSpansAgainst]]): hit positions
    * `(id, p)` → one row per (doc, maximal run of consecutive p) with
    * `span_start`/`span_len`/`n_grams`, runs under `minGrams` dropped.
    * One per-document window — partitions bounded by document length,
    * never corpus size. */
  private def maximalRuns(hits: DataFrame, n: Int, minGrams: Int,
      idCol: String): DataFrame = {
    val byPos = Window.partitionBy(col("id")).orderBy(col("p"))
    hits.withColumn("isl", col("p") - row_number().over(byPos))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("p")).as("span_start"), count(lit(1)).as("n_grams"),
        (max(col("p")) - min(col("p")) + n).cast(LongType).as("span_len"))
      .filter(col("n_grams") >= minGrams)
      .select(col("id").as(idCol), col("span_start"), col("span_len"),
        col("n_grams"))
  }

  /** Incremental (R-S) REPEATED-SPAN report — [[repeatedSpans]] for the
    * ingest shape: for each DELTA document, the maximal runs of token
    * positions whose word `n`-grams occur anywhere in the EXISTING
    * corpus ("which spans of today's batch duplicate what we already
    * hold"). Delta-internal repetition does NOT count (only
    * corpus-shared grams hit — the R-S contract
    * [[nearDupJaccardAcross]] set for the pairwise family); output rows
    * carry delta ids only.
    *
    * Plan: a delta whose size estimate fits ([[gramsFitBroadcast]] — the
    * |delta| ≪ |corpus| ingest premise) broadcasts its DISTINCT gram set;
    * the corpus positional grams probe it IN PLACE (map-side semi-join —
    * the corpus is scanned and shingled but NEVER shuffled); the
    * surviving matched-gram set (≤ the delta set) then broadcasts back
    * onto the delta's positional grams, also map-side. Zero corpus-sized
    * shuffles; the only shuffles are the matched-set distinct and the
    * per-document islands window over delta hits. A delta past the
    * envelope runs pinned shuffle-hash joins (shuffles the corpus gram
    * set once — the heavy path; identical output, tested).
    * Spans report against the corpus only, so a span at the delta-batch
    * boundary is exactly what a daily ingest wants to see. */
  def repeatedSpansAgainst(delta: DataFrame, corpus: DataFrame, n: Int = 8,
      minGrams: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0 && minGrams > 0,
      s"gram width and span floor must be positive: n=$n minGrams=$minGrams")
    val dpos = graft.core.Caches.persist(gramPositions(delta, n, idCol, textCol))
    val dset = dpos.select(col("sh")).distinct()
    val cgrams = gramStream(corpus, n, textCol)
    // the matched set is the pass's HUB: delta-bounded, and the one
    // subtree whose rebuild would re-scan and re-shingle the corpus —
    // persisting it means a report-then-act session (or a warm re-run)
    // pays the corpus pass once
    val hits =
      if (gramsFitBroadcast(delta, n)) {
        val matched = graft.core.Caches.persist(
          cgrams.join(broadcast(dset), Seq("sh"), "left_semi").distinct())
        dpos.join(broadcast(matched), Seq("sh"), "left_semi")
      } else {
        val matched = graft.core.Caches.persist(dset.hint("shuffle_hash")
          .join(cgrams.distinct(), Seq("sh"), "left_semi"))
        dpos.hint("shuffle_hash").join(matched, Seq("sh"), "left_semi")
      }
    maximalRuns(hits.select(col("id"), col("p")), n, minGrams, idCol)
  }

  /** Keep-one-copy exact substring deduplication — the REWRITE half of
    * [[repeatedSpans]] and the headline action of Lee et al.'s substring
    * dedup: text duplicated across documents survives in its canonical
    * holder (always at least one place — a removed token's covering gram
    * is by construction kept intact in that gram's holder) and is CUT
    * everywhere else. Token-level
    * rule, pinned by spec + oracle: a token of document `d` is removed
    * iff it is covered by at least one cross-document-shared n-gram whose
    * canonical holder is NOT `d`, and by NO shared gram whose holder IS
    * `d` — the keep-override matters when duplicated regions overlap (a
    * doc that canonically holds text Y keeps Y intact even where Y
    * overlaps a copy of someone else's X; without the override the
    * corpus could lose its last copy of the overlap). Within-doc
    * repetition alone never cuts anything (not cross-document —
    * [[graft.ext.TextAnalysis.maskRepeatedNgrams]] is the mask-ALL-
    * occurrences df-threshold cousin; this op is the all-but-one form).
    *
    * Output is total on the input: `(id, clean_text, n_tokens,
    * n_removed, n_spans)`; null text → null outputs; a fully-duplicated
    * non-canonical doc yields the empty string. Documents under `n`
    * tokens pass through unchanged (no grams — no short-text fallback).
    *
    * Plan: the shared [[sharedGramHub]] (one corpus gram shuffle,
    * amortized with [[repeatedSpans]]); covered positions explode
    * map-side from gram starts (≤ n rows per hit, linear) and distinct
    * on (doc, pos); the keep-override is a set EXCEPT on (doc, pos); the
    * run-count lag window and the reassembly groupBy share one hash
    * partitioning on the doc id (the maskRepeatedNgrams plan shape). No
    * corpus-wide window, no driver-side data. */
  def stripRepeatedSpans(docs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, s"gram width must be positive: $n")
    val hub = sharedGramHub(docs, n, idCol, textCol)
    val rm = coveredPositions(hub.filter(!col("keep")), n)
      .except(coveredPositions(hub.filter(col("keep")), n))
    cutTokensAt(docs, rm, idCol, textCol)
  }

  /** The token-cut REBUILD tail shared by the span-rewrite family
    * ([[stripRepeatedSpans]],
    * [[graft.ext.TextAnalysis.decontaminateSpans]]): given the documents
    * to rebuild and a removal set `rm` of `(id, pos)` 1-based token
    * positions, re-emit each document with those tokens cut. Output is
    * total on `docs` — `(idCol, clean_text, n_tokens, n_removed,
    * n_spans)`; null text → null outputs; a fully-cut doc yields the
    * empty string. Plan: the token explode is map-only; the run-count
    * lag window and the reassembly groupBy share one hash partitioning
    * on the doc id (the maskRepeatedNgrams plan shape) — per-document
    * partitions, bounded by document length, never corpus size. */
  private[ext] def cutTokensAt(docs: DataFrame, rm: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(col(textCol), " ", -1).as("ws"))
    val tokens = base
      .select(col("id"), posexplode(col("ws")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).cast(LongType).as("pos"), col("tok"))
    val byPos = Window.partitionBy(col("id")).orderBy(col("pos"))
    val emit = tokens
      .join(rm.withColumn("rm", lit(true)), Seq("id", "pos"), "left")
      .withColumn("rm", coalesce(col("rm"), lit(false)))
      .withColumn("prm", coalesce(lag(col("rm"), 1).over(byPos), lit(false)))
    val rebuilt = emit.groupBy(col("id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("rm"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
      sum(when(col("rm") && !col("prm"), lit(1L)).otherwise(lit(0L))).as("n_spans"),
      array_sort(collect_list(when(!col("rm"),
        struct(col("pos"), col("tok"))))).as("ks"))
    docs.select(col(idCol))
      .join(rebuilt.select(col("id").as(idCol),
        concat_ws(" ", transform(col("ks"), x => x.getField("tok"))).as("clean_text"),
        col("n_tokens"), col("n_removed"), col("n_spans")), Seq(idCol), "left")
  }

  /** Exact-Jaccard verification of candidate (i, j) pairs against the
    * shingle-array hub(s) (the SAME hub twice for self-joins; two hubs
    * for the across/R-S variant), intersect in the map stage. Emits
    * pairs with jaccard ≥ `minJaccard`.
    *
    * THE CORPUS-SIZED HUB NEVER MOVES — and nothing broadcasts unless a
    * MEASURED size says it fits. The round-7 unhinted form let the
    * planner broadcast the hub at bench scale — which the round-8 sf1
    * smoke caught as a driver OOM: InMemoryRelation stats are COMPRESSED
    * columnar bytes (repetitive gram strings compress 10-30×), so a hub
    * that stats under the broadcast threshold explodes past driver
    * memory when built into a hash relation. The round-8 fix broadcast
    * the dup-involved array set unconditionally, which dies at the 8 GB
    * relation ceiling on dup-DENSE corpora (web crawls run 20-50%
    * near-dup-involved). This form picks the plan from the data:
    *
    *   FAST PATH (|cand| ≤ verifyIdBroadcastRows): each side's distinct
    *   candidate ids broadcast (8 B/row, ≤ 2·|cand|); the hub STREAMS
    *   once past that id hash — no shuffle, no fat broadcast — fetching
    *   arrays for candidate-involved docs only (ONE fused pass over the
    *   i∪j id set for self-joins). The fetched set is persisted and its
    *   EXACT gram bytes measured (a dup-density-sized cached scan); only
    *   if it fits verifyBroadcastBytes does it broadcast into the
    *   per-pair merge-scan intersect — otherwise that join runs as a
    *   partitioned sort-merge join on i/j (`merge` hint: never a
    *   broadcast, never a per-partition hash build of fat arrays, and
    *   immune to compressed-stats guessing).
    *
    *   DENSE PATH (|cand| above the id-broadcast envelope — the 30%-dup
    *   web-crawl shape): no broadcasts at all. The candidate pairs join
    *   the hubs directly as partitioned sort-merge joins on i then j —
    *   the hub shuffles once per side, which at that dup density is the
    *   same order as the touched set anyway.
    *
    * The sizing is FREE on small corpora: every caller already runs (or
    * can fold stats into) one eager agg over its persisted hub, so when
    * the WHOLE hub's rows/octets fit the ceilings — touched ⊆ hub, so
    * any fetched set fits too — the fast path proceeds with zero extra
    * jobs and stays lazy. Only when the hub alone is too big to
    * pre-clear does the operator pay the measured chain: count `cand`
    * (also its explicit materialization), fetch + exactly measure the
    * touched set (its materializing action — no extra pass), then
    * decide. `cand` is persisted either way: the id projections and the
    * final join would otherwise recompute the candidate subtree.
    * Tunables (both deliberately under the 8 GB relation ceiling):
    * `spark.graft.dedup.verifyBroadcastBytes` (default
    * min(1 GB, maxHeap/8) raw gram octets ≈ 3-4 GB as a hashed relation
    * at the 1 GB ceiling — the round-10 sf1 smoke showed a 256 MB
    * ceiling pushing a 300 MB-octet hub onto the merge path at 7× the
    * wall time (q37: 128 s vs ~17 s) for zero memory benefit on any
    * realistic executor. The heap-derived term keeps small-heap JVMs
    * safe WITHOUT tuning: an 8 GB heap clears the full 1 GB, a 2 GB
    * heap caps at 256 MB — two near-ceiling sides plus the candidate
    * hub then stay well inside the heap instead of OOMing it) and
    * `spark.graft.dedup.verifyIdBroadcastRows` (default 16M distinct
    * ids per side). Any path yields the identical pair set — plan
    * choice only (tested by forcing both fallbacks to 0). */
  private[ext] case class HubStats(rows: Long, grams: Long, octets: Long)

  /** One-job exact stats of a shingle-array hub: row count, Σ gram
    * counts (the parallelism-sizing axis), Σ raw gram octets (the
    * broadcast-decision axis). Runs as the hub's materializing action —
    * the octet sum rides the cache-building scan, not an extra pass —
    * and is memoized per canonical plan ([[graft.core.Caches.memo]]):
    * warm re-runs and sibling queries over the same hub pay zero jobs. */
  private[ext] def hubStatsOf(hub: DataFrame): HubStats =
    graft.core.Caches.memo(hub, "hubStats") {
      val r = hub.agg(count(lit(1)), sum(col("n")),
        sum(aggregate(col("shs"), lit(0L), (a, x) => a + octet_length(x)))).head
      HubStats(r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

  /** Which physical shape [[verifyJaccard]] chose on its LAST invocation
    * in this JVM — "precleared" (whole-hub broadcast clearance), "dense"
    * (no broadcasts, partitioned merge joins), or
    * "measured:bcastI=?,bcastJ=?" (id-broadcast fetch + measured per-side
    * decision). Written together with one stderr line per decision:
    * observability for the dup-dense scale probe and the forced-fallback
    * specs — the probe must be able to PROVE the dense path engaged on
    * real volume rather than infer it from wall-time. */
  private[graft] val lastVerifyPath =
    new java.util.concurrent.atomic.AtomicReference[String]("")
  private def notePath(p: String): Unit = {
    lastVerifyPath.set(p)
    System.err.println(s"[graft] Dedup.verifyJaccard path=$p")
  }

  private def verifyJaccard(cand0: DataFrame, arrsI: DataFrame, arrsJ: DataFrame,
      minJaccard: Double, statsI: HubStats, statsJ: HubStats): DataFrame = {
    val cand = graft.core.Caches.persist(cand0)
    val conf = cand.sparkSession.conf
    // default min(1 GB, maxHeap/8): the octets-to-hashed-relation blowup
    // is ~3-4×, so this keeps two near-ceiling broadcast sides (plus the
    // candidate hub) under the heap on ANY JVM size — see the class doc
    val maxBcastBytes = conf.get("spark.graft.dedup.verifyBroadcastBytes",
      math.min(1L << 30, Runtime.getRuntime.maxMemory / 8).toString).toLong
    val maxIdRows = conf.get("spark.graft.dedup.verifyIdBroadcastRows",
      "16000000").toLong
    val selfJoin = arrsI eq arrsJ
    def renamed(arrs: DataFrame, side: String) =
      arrs.select(col("id").as(side), col("shs").as(s"shs_$side"),
        col("n").as(s"n$side"))
    def idsOf(sides: String*) =
      sides.map(s => cand.select(col(s).as("id"))).reduce(_ union _).distinct()
    def touchedOf(arrs: DataFrame, ids: DataFrame) =
      graft.core.Caches.persist(arrs.join(broadcast(ids), Seq("id")))
    def joinBoth(tI: DataFrame, okI: Boolean, tJ: DataFrame, okJ: Boolean) = {
      def side(t: DataFrame, ok: Boolean, s: String) = {
        val r = renamed(t, s)
        if (ok) broadcast(r) else r.hint("merge")
      }
      cand.join(side(tI, okI, "i"), Seq("i")).join(side(tJ, okJ, "j"), Seq("j"))
    }
    def fits(st: HubStats) = st.rows <= maxIdRows && st.octets <= maxBcastBytes
    val joined = if (fits(statsI) && fits(statsJ)) {
      // whole-hub pre-clearance: touched ⊆ hub on each side, so both the
      // id set and the fetched arrays fit — no sizing jobs, fully lazy
      notePath("precleared")
      val (tI, tJ) =
        if (selfJoin) { val t = touchedOf(arrsI, idsOf("i", "j")); (t, t) }
        else (touchedOf(arrsI, idsOf("i")), touchedOf(arrsJ, idsOf("j")))
      joinBoth(tI, true, tJ, true)
    } else {
      val nCand = cand.count()
      if (2 * nCand > maxIdRows) {
        // DENSE path: even the candidate id set is past the broadcast
        // envelope — no broadcasts at all, partitioned merge joins only
        notePath("dense")
        cand
          .join(renamed(arrsI, "i").hint("merge"), Seq("i"))
          .join(renamed(arrsJ, "j").hint("merge"), Seq("j"))
      } else {
        // MEASURED path: ids broadcast (≤ 2·|cand| longs — cleared
        // above); the fetched set's exact raw gram octets decide its
        // broadcast — the number compressed stats must not guess (the
        // r8 OOM). bytesOf is the touched persist's materializing
        // action, so the measurement adds no extra pass.
        def bytesOf(t: DataFrame): Long =
          t.agg(sum(aggregate(col("shs"), lit(0L), (a, x) => a + octet_length(x))))
            .head.get(0) match { case null => 0L; case v: Long => v }
        val (tI, bI, tJ, bJ) =
          if (selfJoin) {
            val t = touchedOf(arrsI, idsOf("i", "j")); val b = bytesOf(t)
            (t, b, t, b)
          } else {
            val ti = touchedOf(arrsI, idsOf("i")); val tj = touchedOf(arrsJ, idsOf("j"))
            (ti, bytesOf(ti), tj, bytesOf(tj))
          }
        val (okI, okJ) = (bI <= maxBcastBytes, bJ <= maxBcastBytes)
        notePath(s"measured:bcastI=$okI,bcastJ=$okJ")
        joinBoth(tI, okI, tJ, okJ)
      }
    }
    joined
      .withColumn("c", graft.functions.ArrayMath.sortedIntersectCount(col("shs_i"), col("shs_j")))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("ni") + col("nj") - col("c")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** Pair expansion inside a sorted posting list: every (ids[a], ids[b]),
    * a < b, as one struct row. */
  private[ext] def explodePairs(ids: org.apache.spark.sql.Column) =
    explode(flatten(transform(ids, (x, ix) =>
      transform(slice(ids, ix + lit(2), size(ids)), y => struct(x.as("i"), y.as("j"))))))

  /** All-pairs exact Jaccard with PREFIX FILTERING (Chaudhuri et al. SSJoin /
    * Xiao et al. PPJoin): order every doc's shingles rarest-first (global
    * order = (doc-frequency, shingle)); if J(A,B) ≥ t, the first
    * |X| − ⌈t·|X|⌉ + 1 tokens of A and B must intersect, so candidates are
    * generated only from PREFIX posting lists. Rare tokens land in prefixes,
    * hot boilerplate tokens don't — candidate volume follows true duplicate
    * density instead of Σ df². Verification is exact array-intersect, so
    * the filter is lossless: output = exactly the pairs with J ≥ t.
    *
    * One plan, three shuffles that matter: df count, per-doc array rollup
    * (a single exchange shared by the prefix explode and both verify
    * sides), and the candidate distinct. */
  private[ext] def prefixJaccardPairs(shd: DataFrame, minJaccard: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val hub = prefixHub(shd, maxDf)
    val st = hubStatsOf(hub)
    verifyJaccard(prefixCandidates(hub, minJaccard, st.grams), hub, hub,
      minJaccard, st, st)
  }

  private def prefixHub(shd: DataFrame, maxDf: Int = Int.MaxValue): DataFrame = {
    // shd: (id, sh, df). Rarest-first per-doc token array. The hub feeds
    // three consumers (prefix explode + both verify sides), so it is
    // persisted: one materialization instead of three recomputes of the
    // shingle/df subtree (Spark's CacheManager dedupes by canonical plan,
    // and MEMORY_AND_DISK evicts/spills under pressure — the table is
    // |docs| rows of shingle arrays, ≈ corpus-sized).
    // Rarest-first order is realized as a zero-padded "df||sh" string key:
    // byte-comparable, so sort_array runs the native UTF8String comparator
    // instead of an interpreted struct ordering, with the exact same
    // (df asc, sh asc) global order. df is global per shingle, so key
    // equality ⟺ shingle equality — posting lists and intersection counts
    // work directly on keys, and the sorted keys feed the merge-scan
    // verification (graft_sorted_intersect_count) with zero rework.
    // The pad width is digits(maxDf) (round-17): every df in shd is
    // ≤ maxDf by the caller's cap filter, so the narrower equal-width pad
    // preserves the exact (df asc, sh asc) order while cutting ~7 bytes
    // per array element at typical caps (26 → 19 chars on 16-char grams:
    // the hub exchange, the per-doc sort, and every merge-scan intersect
    // compare fewer bytes). Callers that allow df up to Int.MaxValue
    // (jaccardPairs) keep the full 10-digit pad — Spark's lpad TRUNCATES
    // past the pad width, which would silently scramble the rarest-first
    // order, so the width must always cover the cap. The contract is
    // checked per row inside the same aggregation (no extra job): an
    // over-cap df fails the query. Unchecked, such a shingle stays in its
    // docs' sets, which lowers their Jaccard against docs that lack it, so
    // pairs of the capped universe would be silently missed. Across-op
    // contract: both sides' hubs are built with the SAME cap, so prefix
    // keys stay comparable cross-side.
    val pad = math.max(1, java.lang.Integer.toString(maxDf).length)
    val key = when(col("df") <= maxDf,
        concat(lpad(col("df").cast(StringType), pad, "0"), col("sh")))
      .otherwise(raise_error(concat(
        lit(s"prefixHub: df above maxDf=$maxDf for shingle "), col("sh"))))
    graft.core.Caches.persist(
      shd.groupBy(col("id"))
        .agg(sort_array(collect_list(key)).as("shs"), count(lit(1)).as("n")))
  }

  /** One row per (doc, prefix token): the first |X| − ⌈t·|X|⌉ + 1 tokens
    * of each doc's rarest-first array, as `(shh, idAs)`. ⌈t·n⌉ is computed as
    * ceil(t·n·(1−1e-12) − 1e-9): IEEE t·n can land a hair ABOVE the exact
    * integer product (e.g. 100·0.55 = 55.000000000000007), and a ceil
    * overshoot would SHORTEN the prefix — the unsafe direction. The
    * relative term covers large n (0.5 ulp of the product grows past any
    * absolute ε around n·t ≈ 1e7), the absolute term covers small n;
    * either can only LENGTHEN a prefix by one token (harmless), keeping
    * losslessness exact at boundaries. Candidates need only EQUALITY of
    * the prefix key, so it is hashed to 64 bits before any posting
    * shuffle: a collision only MERGES two posting lists, adding
    * candidates the exact verify discards. Shared by the self-join and
    * across (R-S) candidate generators. */
  private def prefixKeys(hub: DataFrame, minJaccard: Double,
      idAs: String = "id"): DataFrame = {
    val prefixLen =
      (col("n") - ceil(col("n") * lit(minJaccard) * lit(1 - 1e-12) - lit(1e-9)) + lit(1))
        .cast(IntegerType)
    hub.select(col("id").as(idAs),
        explode(slice(col("shs"), lit(1), prefixLen)).as("sh"))
      .select(xxhash64(col("sh")).as("shh"), col(idAs))
  }

  /** Partitions for `volume` rows at ~`perPart` each, capped at the
    * session default. */
  private def shuffleParts(spark: org.apache.spark.sql.SparkSession,
      volume: Long, perPart: Long): Int =
    math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      math.max(1L, volume / perPart)).toInt

  private def prefixCandidates(hub: DataFrame, minJaccard: Double,
      sumN: Long): DataFrame = {
    // Size the candidate stages' shuffle parallelism from the ACTUAL gram
    // volume (the clusterPairs pattern — `sumN` = Σ per-doc gram counts,
    // precomputed by the caller's [[hubStatsOf]] materializing agg so
    // this stage adds no job of its own). The sizing axis is gram
    // volume — the prefix explode emits ≈ half of it — NOT the hub's
    // row count: doc count under-sizes operators with long gram arrays
    // (a doc-based 1-partition run serialized q37's 1.5M-row
    // char-16-gram rollup, 1.2→2.4 s). ~12k prefix rows per partition
    // keeps the object-agg rollup CPU-parallel (the round-7 200k
    // divisor left q48's whole candidate phase a single 341 ms task at
    // sf0.1 — the dominant stage of its warm plan; tasks this small
    // cost ~ms each, so oversplitting is the safe direction); at corpus
    // scale the formula exceeds any session default and the repartition
    // returns the default unchanged.
    val parts = shuffleParts(hub.sparkSession, sumN, 25_000L)
    prefixKeys(hub, minJaccard)
      .repartition(parts, col("shh"))
      .groupBy(col("shh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explodePairs(col("ids")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .repartition(parts, col("i"), col("j"))
      .distinct()
  }

  /** (id, sh, df) with doc frequency ≤ maxDf, computed with ONE shuffle:
    * df is a window count over the shingle partition — no self-join of the
    * exploded shingle table, no join whose build side AQE could mis-pick
    * from the unstatted Generate subtree, and (vs the former
    * collect_list-and-explode-back) no per-shingle array ever materializes:
    * the ObjectHashAggregate list build cost ~35% more wall on the hub
    * build at bench scale (measured 0.92 vs 0.70 s steady-state, 7.8 vs
    * 2.6 s first-run on the grouped variant) and had to assemble a full
    * posting array even for over-cap hot shingles before filtering them —
    * the window form is whole-stage-codegen'd and never holds a posting
    * list, so a pathological boilerplate shingle costs bytes-proportional
    * sort spill instead of one giant in-memory array. */
  private def cappedWithDf(sh: DataFrame, maxDf: Int): DataFrame =
    sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .filter(col("df") <= maxDf)
      .select(col("sh"), col("df"), col("id"))

  /** Exact pairwise Jaccard over pre-built (id, sh) shingle sets. Emits
    * (i, j, jaccard) with i < j and jaccard ≥ `minJaccard`. */
  def jaccardPairs(sh: DataFrame, minJaccard: Double): DataFrame =
    prefixJaccardPairs(cappedWithDf(sh, Int.MaxValue), minJaccard)

  /** End-to-end n-gram Jaccard near-dup: shingle, cap doc frequency, and
    * find all pairs with J ≥ `minJaccard`.
    *
    * EXACT-COPY COLLAPSE: identical texts are grouped first and only one
    * representative per distinct text is shingled/paired — shingle and
    * candidate work scales with DISTINCT density, not copy count (a group
    * of m exact copies would otherwise re-emit its m(m−1)/2 pairs from
    * every prefix posting list). Results are expanded back afterwards:
    * within-group pairs carry jaccard 1.0 (identical capped sets — unless
    * the whole set was capped away, in which case the pair is undefined
    * and dropped, matching the all-docs formulation), and cross-group rep
    * pairs fan out to member×member with least/greatest id ordering.
    * Doc frequency for the cap and the rarest-first prefix order counts
    * ALL copies (group-size-weighted), so the output is exactly the
    * pair set of the naive all-docs computation. */
  def nearDupJaccard(docs: DataFrame, n: Int, maxDf: Int = 0,
      minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nearDupJaccardImpl(docs, n, maxDf, minJaccard, idCol, textCol, shingleArray)

  /** [[nearDupJaccard]] over WORD n-grams (the token-level variant most
    * text-dedup pipelines use). Same collapse/prefix-filter machinery. */
  def nearDupJaccardTokens(docs: DataFrame, n: Int, maxDf: Int = 0,
      minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nearDupJaccardImpl(docs, n, maxDf, minJaccard, idCol, textCol, wordShingleArray)

  private def nearDupJaccardImpl(docs: DataFrame, n: Int, maxDf: Int,
      minJaccard: Double, idCol: String, textCol: String,
      mkShingles: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column)
      : DataFrame = {
    val cap = if (maxDf > 0) maxDf else fractionalDfCap(docs)
    val full = textGroups(docs, idCol, textCol)
    val groups = slimGroups(full)
    val hub = prefixHub(groupShingles(full, n, mkShingles).filter(col("df") <= cap), cap)
    val st = hubStatsOf(hub)
    val repPairs = verifyJaccard(prefixCandidates(hub, minJaccard, st.grams),
      hub, hub, minJaccard, st, st)
    expandRepPairs(repPairs, groups, "jaccard", lit(1.0),
      keptReps = Some(hub.select(col("id").as("rep"))))
  }

  /** Incremental (R-S) near-dup join: every (delta doc, corpus doc) pair
    * with char-n-gram Jaccard ≥ `minJaccard` — the INGEST-TIME shape of
    * dedup at scale: a new batch is matched against the existing corpus
    * without ever re-pairing the corpus with itself (no corpus×corpus
    * candidates, no corpus self-postings explosion).
    *
    * Semantics: shingles whose CORPUS document frequency exceeds `maxDf`
    * are removed from BOTH sides' sets (the capped universe is defined by
    * the corpus — the index side); delta-only shingles keep df 0. The
    * prefix filter runs both sides under the SAME global
    * (corpus-df, shingle) order, so the SSJoin theorem applies unchanged
    * and the join is lossless over the capped universe. Exact-copy
    * collapse applies per side; rep pairs expand delta-members ×
    * corpus-members (sides are disjoint id domains — the caller's
    * contract, no i<j reorder).
    *
    * Plan: the corpus df is [[groupShingles]]' window sum, uncapped and
    * persisted (so delta can tell "capped" from "absent") — no posting
    * list, so a hot shingle never makes a corpus-wide row. The corpus
    * hub filters it to `df ≤ cap`; the delta probes its distinct
    * `(sh, df)` with one shuffle-hash join. Candidates come from
    * prefix×prefix only; verify is the self-join family's. */
  def nearDupJaccardAcross(delta: DataFrame, corpus: DataFrame, n: Int,
      maxDf: Int = 0, minJaccard: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the capped universe is defined by the CORPUS side (the index), so
    // the fractional default sizes from the corpus count too
    val cap = if (maxDf > 0) maxDf else fractionalDfCap(corpus)
    val dg = textGroups(delta, idCol, textCol)
    val cg = textGroups(corpus, idCol, textCol)
    val cDf = graft.core.Caches.persist(groupShingles(cg, n))
    val cHub = prefixHub(cDf.filter(col("df") <= cap), cap)
    val dSh = dg.select(col("rep").as("id"), explode(shingleArray(col("gtext"), n)).as("sh"))
      .join(cDf.select(col("sh"), col("df")).distinct().hint("shuffle_hash"),
        Seq("sh"), "left")
      .select(col("sh"), coalesce(col("df"), lit(0L)).as("df"), col("id"))
      .filter(col("df") <= cap)
    val dHub = prefixHub(dSh, cap)
    val stD = hubStatsOf(dHub)
    val stC = hubStatsOf(cHub)
    val cand = prefixCandidatesAcross(dHub, cHub, minJaccard)
    val repPairs = verifyJaccard(cand, dHub, cHub, minJaccard, stD, stC)
    // the persisted slim groups keep each expansion join from re-running
    // its side's full text groupBy
    expandCross(repPairs, slimGroups(dg), slimGroups(cg), "jaccard", reorder = false)
  }

  /** Prefix candidates ACROSS two hubs: delta prefixes probe corpus
    * prefixes on the shared (df, shingle) key — never side×same-side.
    * The shuffle-hash build side is the DELTA explode (the small side by
    * this op's contract); the corpus-sized posting stream probes it. */
  private def prefixCandidatesAcross(dHub: DataFrame, cHub: DataFrame,
      minJaccard: Double): DataFrame =
    prefixKeys(dHub, minJaccard, "i").hint("shuffle_hash")
      .join(prefixKeys(cHub, minJaccard, "j"), Seq("shh"))
      .select(col("i"), col("j"))
      .distinct()

  /** Distinct-text groups: (gtext, members sorted, rep = min id, gsize).
    * Null-text rows are excluded up front — a null text has no shingle
    * set, so no pair involving it is defined (matching both the naive
    * all-docs formulation, where such docs never reach a posting list,
    * and the DuckDB oracles, which drop null shingles at the join).
    * Grouping key is the FULL text (no hash collisions). NOT persisted:
    * only the single shingling/signature consumer reads gtext. */
  private def textGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // no spread(): the only pre-shuffle work is a projection — the
    // groupBy's own exchange distributes, and every heavy consumer
    // (shingle explode, signatures) runs AFTER it. A repartition here is
    // one wasted stage per family query on a single-file local source.
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("docid"), col(textCol).as("gtext"))
      .groupBy(col("gtext"))
      .agg(sort_array(collect_list(col("docid"))).as("members"),
        min(col("docid")).as("rep"), count(lit(1)).as("gsize"))

  /** The expansion-side projection of [[textGroups]] — corpus-text-free,
    * so THIS is what persists (both expandRepPairs sides + the within
    * filter read it; caching gtext alongside would double the cached
    * corpus footprint next to the shingle hub). */
  private def slimGroups(full: DataFrame): DataFrame =
    graft.core.Caches.persist(
      full.select(col("rep"), col("members"), col("gsize")))

  /** Uncapped (sh, df, id=rep) over distinct texts, df weighted by group
    * size == doc frequency over ALL copies. df is a window sum over the
    * shingle partition — same one shuffle as the former
    * collect_list-and-explode-back posting build, but fully codegen'd and
    * list-free (see [[cappedWithDf]] for the measured numbers and the
    * hot-shingle memory argument). */
  private def groupShingles(groups: DataFrame, n: Int,
      mkShingles: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
        shingleArray): DataFrame =
    groups.select(col("rep").as("id"), col("gsize"),
        explode(mkShingles(col("gtext"), n)).as("sh"))
      .withColumn("df", sum(col("gsize")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .select(col("sh"), col("df"), col("id"))

  /** Expand representative pairs back to member pairs: cross-group rep
    * pairs fan out member×member (least/greatest id order, payload
    * carried), within-group pairs get `withinValue` (identical texts —
    * exact similarity). `keptReps` restricts within-group emission to
    * groups whose rep survived upstream filtering (e.g. a fully-capped
    * shingle set has no defined jaccard). */
  private[ext] def expandRepPairs(repPairs: DataFrame, groups: DataFrame,
      payloadCol: String, withinValue: org.apache.spark.sql.Column,
      keptReps: Option[DataFrame] = None): DataFrame = {
    val cross = expandCross(repPairs, groups, groups, payloadCol, reorder = true)
    val multi = groups.filter(size(col("members")) > 1)
    val kept = keptReps.map(k => multi.join(k, Seq("rep"), "left_semi")).getOrElse(multi)
    // withinValue is evaluated against `kept`, so it may reference group
    // columns (e.g. a per-group precomputed similarity), not just literals.
    val within = kept.select(explodePairs(col("members")).as("p"), withinValue.as(payloadCol))
      .select(col("p.i").as("i"), col("p.j").as("j"), col(payloadCol))
    cross.unionByName(within)
  }

  /** Cross-group member expansion shared by the self-join family and the
    * incremental (R-S) op: rep pairs (i, j, payload) fan out member_i ×
    * member_j via two shuffle-hash group joins. `reorder` applies the
    * least/greatest id canonicalization the self-join family needs; the
    * across op's sides are disjoint id domains, so it keeps (delta, corpus)
    * orientation as-is. Only rep/members are read from the group tables —
    * callers may pass the full textGroups output unprojected. */
  private def expandCross(repPairs: DataFrame, gi: DataFrame, gj: DataFrame,
      payloadCol: String, reorder: Boolean): DataFrame = {
    val expanded = repPairs
      .join(gi.select(col("rep").as("i"), col("members").as("mi")), Seq("i"))
      .join(gj.select(col("rep").as("j"), col("members").as("mj")), Seq("j"))
      .select(explode(col("mi")).as("a"), col("mj"), col(payloadCol))
      .select(col("a"), explode(col("mj")).as("b"), col(payloadCol))
    if (reorder)
      expanded.select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"), col(payloadCol))
    else
      expanded.select(col("a").as("i"), col("b").as("j"), col(payloadCol))
  }

  /** The numHashes-member MinHash family over an ALREADY-HASHED shingle
    * (a long column): the k-th member re-hashes the fixed-width long with
    * seed k. Equivalent quality to hashing the string numHashes times, but
    * the per-occurrence work is one string traversal + numHashes
    * constant-size long hashes — at 128 hashes over billions of shingle
    * occurrences that is the difference between hashing ~2 TB of string
    * bytes 128× and once. Callers project `xxhash64(sh)` BEFORE the
    * aggregation: the min-aggregate update path runs inside
    * ObjectHashAggregate (forced by the sibling collect_list), which does
    * no whole-stage codegen and no cross-aggregate subexpression sharing —
    * an inline string hash there is recomputed once per MEMBER per row,
    * 128 string traversals instead of one. (A Carter-Wegman h₁+k·h₂
    * combination would be cheaper still, but wrapping 64-bit arithmetic is
    * an ANSI-mode overflow error in Spark SQL.) */
  private def minhashFamily(h: org.apache.spark.sql.Column, numHashes: Int) =
    (0 until numHashes).map(k => xxhash64(h, lit(k)))

  /** MinHash signature: numHashes column-wise minima of the hash family
    * over the shingle set. One aggregation with map-side partial minima —
    * the shuffle carries |docs| × numHashes longs, independent of shingle
    * count. */
  def minhashSignature(sh: DataFrame, numHashes: Int): DataFrame = {
    val hashed = sh.select(col("id"), xxhash64(col("sh")).as("h0"))
    val mins = minhashFamily(col("h0"), numHashes).zipWithIndex
      .map { case (h, k) => min(h).as(s"m$k") }
    hashed.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** Corpus band-key blocklist — the BATCH half of the ingest-time
    * near-dup gate (the [[TextAnalysis.hotGramKeys]] pattern lifted from
    * exact grams to MinHash bands): one distinct 64-bit key per
    * (band, bucket) occupied by any corpus document's word-n-gram MinHash
    * signature. A new document sharing ANY key with the corpus is exactly
    * an LSH candidate pair against it ([[lshCandidates]] semantics), so
    * collecting this set and applying [[flagNearDups]] in-stream flags at
    * ingest precisely the documents the batch LSH pass would candidate.
    * Size is ≤ bands·|docs| keys (64-bit), minus bucket sharing.
    *
    * Build and serve share ONE kernel: each row's keys come from
    * [[rowBandKeys]] — the serve side's gram hash plus the fused
    * [[graft.functions.MinHashBands]] fold — so the two halves cannot hash
    * differently. Map-only up to the final `distinct`. Each row is one
    * document: rows sharing an id are NOT unioned into one shingle set
    * (the signature is per row, as at serve). Null text has no shingles
    * and contributes no key; any non-null text has at least one (a text
    * shorter than `n` tokens is one gram), so the null filter keeps
    * exactly the rows with a shingle. */
  def minhashBandKeys(docs: DataFrame, n: Int,
      numHashes: Int = 128, rowsPerBand: Int = 4,
      textCol: String = "text"): DataFrame =
    graft.core.Tables.spread(docs).filter(col(textCol).isNotNull)
      .select(explode(rowBandKeys(textCol, n, numHashes, rowsPerBand)).as("bk"))
      .distinct()

  /** Stateless ingest-time NEAR-dup gate — the streaming dual of the
    * n-gram near-dup family, completing the ingest front door next to
    * [[graft.streaming.StreamOps.dedupDocsByContent]] (exact content):
    * the corpus blocklist is computed in batch ([[minhashBandKeys]],
    * collected — like the [[TextAnalysis.maskWithGramSet]] blocklist) and
    * applied per row with pure Column expressions: word-shingle the text
    * with the family's shared gram rule, MinHash with the SAME keyed
    * xxhash64 family as [[minhashSignature]], band with the same kernel
    * ([[rowBandKeys]]), and flag when any band key is in the set. Map-only and
    * stateless — no state store, no watermark, no shuffle — so it runs
    * identically on a batch frame or inside any streaming micro-batch.
    *
    * `near_dup_candidate` is a CANDIDATE flag (LSH semantics: an exact
    * copy of a corpus doc always flags — identical signatures; a J ≥ 0.7
    * near-dup flags with the banding probability ≈ 1 − (1−J⁴)³² ≈ 0.9998;
    * a false flag is a bucket collision a downstream exact verify — the
    * q78 incremental join — would discard). Null text → null flag (the
    * total-pass convention of the mask ops). Per-row cost is
    * numHashes·|grams| constant-size hashes plus bands·log₂|blocklist|
    * comparisons against a sorted literal
    * ([[graft.core.KeySets.Members.Sorted]] — binary search over a
    * primitive long[], so membership cost is logarithmic in the
    * blocklist, not linear): right for reference sets up to ~10⁶ BAND
    * KEYS (≈3·10⁴ docs at 32 bands — a rolling window, a benchmark
    * suite, yesterday's hot partition), where the bound is the ~8 MB the
    * collected set adds to every task binary, not compute. Past that,
    * [[flagNearDupsAgainst]] keeps the keys distributed, or a
    * [[bandBloomIndexSave]] blob serves as `bandKeys`: its 32 band
    * probes run through one `contains` inside the `exists`, so one blob
    * copy per task. */
  def flagNearDups(docs: DataFrame, bandKeys: graft.core.KeySets.Members, n: Int,
      numHashes: Int = 128, rowsPerBand: Int = 4,
      textCol: String = "text"): DataFrame = {
    val flag = exists(rowBandKeys(textCol, n, numHashes, rowsPerBand),
      k => bandKeys.contains(k))
    docs.withColumn("near_dup_candidate",
      when(col(textCol).isNotNull, flag))
  }

  /** The per-row band keys of the near-dup gate — THE one band-key
    * formula, shared by the batch blocklist ([[minhashBandKeys]]) and
    * every serve-side face, so the two halves cannot hash differently:
    * gram-hash once (one pass), then the fused
    * [[graft.functions.MinHashBands]] kernel (round-16: the unfused
    * 128-HOF-pass form made the near-dup gate 3.5× the cost of every
    * other ingest gate on the sf1 gate-stack soak — the chain's
    * bottleneck). Equivalence-tested: gate flag ⟺ batch LSH candidacy
    * over [[minhashSignature]]. */
  private def rowBandKeys(textCol: String, n: Int,
      numHashes: Int, rowsPerBand: Int): org.apache.spark.sql.Column = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes must divide into bands of $rowsPerBand")
    graft.functions.MinHashBands.bandKeysCol(
      transform(wordShingleArray(col(textCol), n), s => xxhash64(s)),
      numHashes, rowsPerBand)
  }

  /** The DISTRIBUTED-blocklist form of the ingest near-dup gate — same
    * contract as [[flagNearDups]] (same shingle rule, same keyed hash
    * family, same [[rowBandKeys]] kernel, same null-text convention,
    * equivalence-tested), but the corpus band keys stay a DataFrame
    * ([[minhashBandKeys]] output, uncollected) and membership is a
    * BROADCAST SEMI-JOIN: each document's `bands` keys explode to
    * (id, bk) rows, one hash-probe join against the broadcast key set
    * marks the hits, and a per-id any() folds the verdict back onto the
    * row. No driver collect anywhere, so the envelope is the broadcast
    * ceiling (~10⁸ keys at 8 B/key ≈ 800 MB — raise
    * `spark.sql.autoBroadcastJoinThreshold`-independent `broadcast()`
    * hint handles the estimator) instead of the task-binary bound.
    *
    * Crossover guidance: below ~10⁶ keys the collected literal
    * ([[flagNearDups]]) wins — zero joins, zero shuffles, streaming-
    * stateless, applies inside ANY micro-batch with no plan change. Past
    * ~10⁶ keys use this form; it is two narrow shuffles of (id, bk) slim
    * rows in batch, and in streaming it runs inside `foreachBatch`
    * (micro-batch = batch frame — the SCD2-sink pattern), where the
    * explode/fold-back is per-batch-local state, not a state store.
    *
    * `idCol` must be a unique row id (the fold-back join key). */
  def flagNearDupsAgainst(docs: DataFrame, bandKeys: DataFrame, n: Int,
      numHashes: Int = 128, rowsPerBand: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hits = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(rowBandKeys(textCol, n, numHashes, rowsPerBand)).as("bk"))
      .join(broadcast(bandKeys.select(col("bk"))), Seq("bk"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__graft_nd_hit", lit(true))
    docs.join(hits, Seq(idCol), "left")
      .withColumn("near_dup_candidate",
        when(col(textCol).isNotNull, coalesce(col("__graft_nd_hit"), lit(false))))
      .drop("__graft_nd_hit")
  }

  /** [[graft.core.KeySets]] kind tag of the near-dup band-key index
    * ([[bandIndexSave]]). */
  val NearDupKind = "band_key"

  /** Persist a [[minhashBandKeys]] blocklist as a [[graft.core.KeySets]]
    * index — the near-dup gate's build-once/serve-many handoff: build the
    * index ONCE from the reference corpus, serve it to any number of
    * ingest streams without re-shingling the corpus at every stream
    * start. The geometry rides WITH the keys as parameters `n`,
    * `num_hashes` and `rows_per_band`, so a serve site can never band
    * differently than the index was built. */
  def bandIndexSave(corpus: DataFrame, path: String, n: Int,
      numHashes: Int = 128, rowsPerBand: Int = 4,
      textCol: String = "text"): Unit =
    graft.core.KeySets.save(
      minhashBandKeys(corpus, n, numHashes, rowsPerBand, textCol), path,
      NearDupKind, bandParams(n, numHashes, rowsPerBand))

  private def bandParams(n: Int, numHashes: Int, rowsPerBand: Int) =
    Map("n" -> n.toLong, "num_hashes" -> numHashes.toLong,
      "rows_per_band" -> rowsPerBand.toLong)

  /** Kind tag of the Bloom near-dup band-key index
    * ([[bandBloomIndexSave]]). */
  val NearDupBloomKind = "near_dup_bloom"

  /** The near-dup gate's CORPUS-SCALE continuation — the
    * [[fpBloomIndexSave]] precedent applied to the MinHash band-key
    * blocklist: [[flagNearDups]]' sorted literal is driver-sized by
    * contract (~10⁶ keys / 8 MB task rider) and even
    * [[flagNearDupsAgainst]]'s broadcast envelope ends near ~10⁸ keys,
    * while a 10⁹-doc reference corpus at 32 bands holds up to ~3·10¹⁰
    * band keys. A Bloom filter over the SAME keys
    * ([[graft.core.KeySets.saveBloom]]) serves that regime: ~1.2 GB at
    * 1% fpp per 10⁹ distinct keys, built distributed, probed map-only.
    * The banding geometry rides WITH the blob — the [[bandIndexSave]]
    * contract.
    *
    * Semantics: [[flagNearDups]] over the loaded blob flags a SUPERSET
    * of the literal gate's flags on the same corpus — NO FALSE NEGATIVES
    * (every band key inserted at build probes true at serve; LSH
    * banding's own probabilistic recall is identical on both faces),
    * plus ~fpp extra false candidates PER DOCUMENT: each document probes
    * once per band, so the filter is sized at fpp/bands per probe (union
    * bound) — an fpp=0.01 filter probed 32 times would otherwise
    * false-candidate ~28% of clean docs (measured). The ~1.75× bit price
    * of the division is the cost of a per-document contract; a candidate
    * flag was already a verify-me signal, so fpp buys more downstream
    * verify work, never a lost duplicate. */
  def bandBloomIndexSave(corpus: DataFrame, path: String, n: Int,
      numHashes: Int = 128, rowsPerBand: Int = 4, fpp: Double = 0.01,
      textCol: String = "text"): Unit =
    graft.core.KeySets.saveBloom(
      minhashBandKeys(corpus, n, numHashes, rowsPerBand, textCol), path,
      NearDupBloomKind, bandParams(n, numHashes, rowsPerBand),
      fpp / (numHashes / rowsPerBand))

  /** LSH banding: signature split into `bands` groups of `rowsPerBand`,
    * each band hashed to one bucket key; docs sharing any (band, bucket)
    * become a candidate pair. `parts > 0` repartitions the band table by
    * the join key first (the simhashPairs pattern): the self-join and its
    * downstream distinct run at a caller-sized partition count derived
    * from the corpus instead of the session default (at bench scale the
    * default-width join is per-task floor; at corpus scale the caller's
    * formula exceeds the default and the partitioning is unchanged).
    * 0 = plan as before. */
  def lshCandidates(sig: DataFrame, rowsPerBand: Int, bands: Int,
      parts: Int = 0): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(k => col(s"m$k")): _*)
    }
    val banded0 = sig.select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    val banded = if (parts > 0) banded0.repartition(parts, col("band"), col("bh"))
      else banded0
    // shuffle_hash pin: the band table is |docs|·bands rows behind a
    // Generate, whose size the estimator cannot see — a mis-broadcast of a
    // corpus-sized side is an executor OOM at scale, and a broadcast is
    // never right for a self-join of same-sized sides anyway.
    banded.select(col("band"), col("bh"), col("id").as("i"))
      .join(banded.select(col("band"), col("bh"), col("id").as("j")).hint("shuffle_hash"),
        Seq("band", "bh"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs, exact-verified: LSH proposes candidates,
    * exact Jaccard over the (capped) shingle sets filters them, so emitted
    * pairs are exactly those with true jaccard ≥ `minJaccard` among the
    * candidates. The MinHash minima, the set size, and the verification
    * array come out of ONE groupBy(id) aggregation, so the heavy exploded-
    * shingle subtree is shuffled once and the hub exchange is shared by the
    * band join and both verification sides. */
  def minhashLshPairs(docs: DataFrame, n: Int, maxDf: Int = 0,
      numHashes: Int = 128, rowsPerBand: Int = 4, minJaccard: Double = 0.7,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cap = if (maxDf > 0) maxDf else fractionalDfCap(docs)
    val full = textGroups(docs, idCol, textCol)
    val groups = slimGroups(full)
    val sh = groupShingles(full, n).filter(col("df") <= cap)
      .select(col("id"), col("sh"), xxhash64(col("sh")).as("h0"))
    val aggs = Seq(sort_array(collect_list(col("sh"))).as("shs"), count(lit(1)).as("n")) ++
      minhashFamily(col("h0"), numHashes).zipWithIndex
        .map { case (h, k) => min(h).as(s"m$k") }
    // Four consumers (band join i/j + verify i/j) → persist, as in
    // prefixJaccardPairs.
    val hub = graft.core.Caches.persist(
      sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*))
    // band-join parallelism from the corpus (memo hit — fractionalDfCap
    // above already counted docs; an explicit maxDf skips that, so count
    // here either way): bands/doc band rows, ~12k per partition (the
    // prefixCandidates granularity — the minhash band probe is CPU-denser
    // per row than simhash's 4-band join, and a 50k target measured a
    // ~0.1 s warm regression at sf0.1's 160k band rows).
    val nDocs = graft.core.Caches.count(docs)
    val bandParts = shuffleParts(docs.sparkSession,
      (numHashes / rowsPerBand) * nDocs, 12_000L)
    val cand = lshCandidates(hub, rowsPerBand, numHashes / rowsPerBand, bandParts)
    val arrs = hub.select(col("id"), col("shs"), col("n"))
    // one-job stats over the persisted hub (doubles as its explicit
    // materialization): clears the verify broadcasts without any
    // per-query sizing job when the corpus is small
    val st = hubStatsOf(arrs)
    val repPairs = verifyJaccard(cand, arrs, arrs, minJaccard, st, st)
    // exact copies share signatures AND sets: within-group pairs are exact
    // J=1.0 matches (provided the capped set is non-empty), never LSH misses
    expandRepPairs(repPairs, groups, "jaccard", lit(1.0),
      keptReps = Some(hub.select(col("id").as("rep"))))
  }

  /** Weighted SimHash signature (60-bit): shingles weighted by occurrence
    * count; the hash is the first 15 hex digits of md5 — reproducible in
    * any engine, which is what makes the operator oracle-checkable.
    *
    * Σ_sh w(sh)·sign_b(sh) ≡ Σ over raw occurrences of sign_b, so no
    * (id, shingle) pre-aggregation is needed: ONE shuffle. The 60 per-bit
    * counters are PACKED three to a long (20-bit fields at shifts
    * 0/20/40): 20 sum columns instead of 60, one third the codegen width
    * and shuffle bytes per doc (60 → 20 longs — at 2³⁰ docs that is
    * ~320 GB less shuffle). Field f of packed sum g carries the ONES
    * count of bit 3g+f; the signed sum is 2·ones − n, so bit b of the
    * signature is set iff 2·ones_b > n — identical bits (and tie
    * behavior: sum 0 → bit 0) to the unpacked form the oracle computes.
    * Packing is carry-free only while every ones count fits its 20-bit
    * field, i.e. for docs of at most 2²⁰−1 grams (a bit's ones count is
    * bounded by the gram count) — enforced with an explicit error, not
    * silent carry into the neighboring field. */
  def simhashSignature(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // The overflow guard is the EXPLODE's own sequence bound (not a
    // side column a projection could prune away): a >4M-gram document
    // fails loudly before any counter can wrap.
    val ng = greatest(length(col(textCol)) - (n - 1), lit(1))
    val guardedNg = when(ng > 1048575,
      raise_error(concat(lit("simhashSignature: document exceeds 2^20-1 grams ("),
        ng, lit(") — a packed 20-bit ones counter would carry into its neighbor")))
        .cast(org.apache.spark.sql.types.IntegerType))
      .otherwise(ng)
    val occ = graft.core.Tables.spread(docs).select(
        col(idCol).as("id"),
        explode(transform(
          sequence(lit(1), guardedNg),
          i => col(textCol).substr(i, lit(n)))).as("sh"))
      .withColumn("h", TextAnalysis.hash60(col("sh")))
    val packedSums = (0 until 20).map { g =>
      val fields = (0 until 3).map { f =>
        shiftleft(shiftright(col("h"), 3 * g + f).bitwiseAND(lit(1L)), 20 * f)
      }
      sum(fields.reduce(_ + _)).as(s"p$g")
    }
    val aggs = packedSums :+ count(lit(1)).as("cnt")
    val agg = occ.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val sig = (0 until 60).map { b =>
      val ones = shiftright(col(s"p${b / 3}"), 20 * (b % 3)).bitwiseAND(lit(0xFFFFFL))
      when(ones * 2 > col("cnt"), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming (< 15-bit band width ×
    * band count guarantee: maxHamming ≤ 3 with 4 bands is lossless). Band
    * join on 15-bit slices, then exact popcount filter. */
  def simhashPairs(docs: DataFrame, n: Int, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val full = textGroups(docs, idCol, textCol)
    val groups = slimGroups(full)
    // persist the signatures: the banded self-join reads `banded` on BOTH
    // sides, which would otherwise evaluate the whole textGroups +
    // shingle/md5 signature chain twice. 16 bytes per distinct text —
    // negligible footprint, released via Caches.unpersistAll
    val sig = graft.core.Caches.persist(simhashSignature(
      full.select(col("rep").as("doc_id"), col("gtext").as("text")), n))
    // Size the band self-join from the corpus (the prefixCandidates/
    // clusterPairs sizing pattern) by repartitioning `banded` on the join
    // key: the join, popcount filter, and distinct then run at a
    // band-volume-proportional partition count (4 band rows/doc, ~50k per
    // partition) instead of the session default — at bench scale the
    // default-width join cost ~0.8 s of pure per-task floor on ~20k rows
    // (isolated A/B: 1.21 s @32 partitions vs 0.40 s @1, identical rows);
    // past ~400k docs the formula returns the session default unchanged,
    // so production plans are untouched. The doc count is metadata-cheap
    // (parquet rowcount) and memoized.
    val nDocs = graft.core.Caches.count(docs)
    val parts = shuffleParts(docs.sparkSession, 4L * nDocs, 50_000L)
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("sig"), 15 * k).bitwiseAND(lit(0x7FFFL))): _*)).as(Seq("band", "bh")))
      .repartition(parts, col("band"), col("bh"))
    val repPairs = banded
      .select(col("band"), col("bh"), col("id").as("i"), col("sig").as("sig_i"))
      .join(banded.select(col("band"), col("bh"), col("id").as("j"), col("sig").as("sig_j"))
        .hint("shuffle_hash"),  // see lshCandidates: never broadcast a banded side
        Seq("band", "bh"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).cast(IntegerType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // identical texts have identical signatures: within-group hamming is 0
    expandRepPairs(repPairs, groups, "hamming", lit(0).cast(IntegerType))
  }

  /** Connected components over near-dup pairs — the DECISION step of the
    * dedup pipeline: pair lists say who matches whom; keeping one copy per
    * duplicate set needs the transitive closure (A~B, B~C ⇒ one cluster
    * {A,B,C}). Labels every node with the minimum doc id reachable from it.
    *
    * Algorithm: iterative min-label propagation with POINTER DOUBLING —
    * each round every node takes the min of its own label, its neighbors'
    * labels (one join + one groupBy), and its label's label (one self-join
    * — the path-halving step that turns O(diameter) convergence into
    * O(log |V|), so even chain-shaped components finish in a handful of
    * distributed rounds). The per-round convergence check is one count on
    * a checkpointed label table — the legitimate use of driver-side
    * control flow (iteration), never of driver-side data.
    *
    * `maxIters` bounds pathological chain-shaped graphs; hitting it throws
    * rather than returning a silently under-merged clustering.
    *
    * Small-graph fast path: when the materialized edge count is at most
    * [[SmallGraphEdges]] (and ids are BIGINT), the edges collect to the
    * driver and a union-find labels them in one pass — identical output
    * (min reachable id), none of the loop's per-round scheduling floor
    * (measured: the floor, not data volume, dominated every corpus-scale
    * benchmark run). This is driver-side CONTROL on a bounded, already-
    * counted set — ≤1M edges ≈ 16 MB — not driver-side data flow: past
    * the bound the distributed loop runs unchanged, so 100 TB inputs
    * (edge sets in the billions) never touch the driver. */
  val SmallGraphEdges: Long = 1L << 20

  def clusterPairs(pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    // Persist the DIRECTED pairs, not the symmetric union: the union reads
    // its input twice (once per direction), and an unpersisted `pairs` is
    // typically the full near-dup operator plan — caching below the union
    // evaluates that plan once instead of twice (measured: the double
    // evaluation was most of q55's wall time). The symmetric union itself
    // is a trivial re-read of the cached rows. Like every operator hub,
    // e0 is registered in Caches and released by the caller's
    // unpersistAll() — NOT eagerly in a finally here: the pair plan is
    // exactly what a session's next dedup query over the same corpus
    // re-uses, and a mid-loop failure still cannot leak the entry past
    // the registry.
    val e0 = graft.core.Caches.persist(pairs.select(col("i"), col("j")))
    val longIds = e0.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && e0.count() <= SmallGraphEdges)
      return unionFindLabels(e0)
    val edges = e0.unionByName(e0.select(col("j").as("i"), col("i").as("j")))
    locally {
      // Size the loop's shuffle parallelism from the ACTUAL edge count
      // (the count also materializes the hub before iteration): the label
      // table is |touched vertices| rows — usually orders of magnitude
      // smaller than the corpus — and each round runs several shuffles
      // over it. At the session default every one of those pays the full
      // partition-count scheduling quantum (32 × ~6 stages × ~8 rounds of
      // near-empty tasks dominated q55's wall time); at 100 TB edge
      // volumes the bytes-per-partition clamp returns the session default
      // unchanged. Conf save/restore relies on the serial-session contract
      // documented on [[graft.core.Caches]].
      val spark = edges.sparkSession
      val default = spark.sessionState.conf.numShufflePartitions
      val parts = math.min(default.toLong,
        math.max(1L, 2L * e0.count() / 2_000_000L)).toInt
      val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try clusterLoop(edges, maxIters)
      finally saved match {
        case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
  }

  /** Driver union-find for the small-graph fast path of [[clusterPairs]]:
    * min-id roots (every union keeps the smaller root) with path
    * compression — output identical to the distributed loop: (id,
    * cluster_id = min reachable id), one row per touched vertex.
    *
    * collect(), NOT toLocalIterator(): the iterator launches ONE JOB PER
    * PARTITION of the edge table (sequential driver round-trips — profiled
    * at ~64 × ~15 ms ≈ 1 s of pure scheduling on q55's 64-partition pair
    * hub, most of the query's warm wall time), while the edge set is
    * already driver-bounded by the [[SmallGraphEdges]] contract (≤2²⁰
    * rows ≈ 16 MB) — one collect job fetches it whole. */
  private def unionFindLabels(e0: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    for (row <- e0.collect()) {
      val i = row.getLong(0); val j = row.getLong(1)
      parent.putIfAbsent(i, i)
      parent.putIfAbsent(j, j)
      val ri = find(i); val rj = find(j)
      if (ri != rj) parent.put(math.max(ri, rj), math.min(ri, rj))
    }
    val labels = parent.keySet().asScala.toSeq.sorted.map(id => (id, find(id)))
    e0.sparkSession.createDataFrame(labels).toDF("id", "cluster_id")
  }

  private def clusterLoop(edges: DataFrame, maxIters: Int): DataFrame = {
    // Iterative plans MUST cut lineage each round: persist alone keeps the
    // logical plan growing (round N's plan embeds rounds 1..N-1 — plan
    // stringification alone OOMs past ~20 rounds). localCheckpoint
    // materializes the round and restarts the plan from the stored RDD;
    // a production run over unreliable executors would use
    // sc.setCheckpointDir + .checkpoint() for fault-tolerant truncation.
    var labels = edges.select(col("i").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("j"), col("lbl").as("lbl_j")), Seq("j"))
        .groupBy(col("i")).agg(min(col("lbl_j")).as("nmin"))
      // `old` rides along so convergence is a filter-count on the
      // checkpointed round itself — not an extra join back to the
      // previous labels (one fewer shuffle per round)
      val merged = labels
        .join(neighborMin.select(col("i").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer doubling: follow one hop through the label table itself
      // (labels always point at component members, so the lookup hits)
      val next = merged
        .join(merged.select(col("id").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
        .select(col("id"), col("old"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select(col("id"), col("lbl")) // prior checkpoints GC'd by ContextCleaner
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      sys.error(s"clusterPairs did not converge within $maxIters rounds")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Full dedup decision over a corpus: near-dup pairs → transitive
    * clusters → one canonical doc (min id) per cluster; docs in no pair
    * are their own singleton cluster. `keep` marks the survivors. */
  def dedupDecision(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val clusters = clusterPairs(pairs)
    docs.select(col(idCol))
      .join(clusters.select(col("id").as(idCol), col("cluster_id")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("keep", col(idCol) === col("cluster_id"))
  }

  /** Leakage-safe train/val/test split: [[dedupDecision]]'s clusters +
    * [[TextAnalysis.splitLabel]]'s content-hash rule, keyed by the CLUSTER
    * CANONICAL's text hash — every member of a near-dup cluster lands in
    * the same split, so a near-duplicate of a training doc can never leak
    * into val/test (the eval-contamination bug a per-doc content split
    * cannot prevent: near-dup member texts differ, so their own hashes
    * land in different buckets).
    *
    * Plan: the decision join plus ONE extra join of the canonical-bucket
    * projection (|docs| rows, two columns) onto members by cluster_id —
    * no text moves, only the 0-99 bucket. */
  def clusterSafeSplit(docs: DataFrame, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val decision = dedupDecision(docs, pairs, idCol)
    val canonBucket = docs.select(col(idCol).as("cluster_id"),
      TextAnalysis.splitBucket(col(textCol)).as("split_bucket"))
    decision.join(canonBucket, Seq("cluster_id"))
      .withColumn("split",
        TextAnalysis.splitLabel(col("split_bucket"), trainPct, valPct))
      .select(col(idCol), col("cluster_id"), col("keep"),
        col("split_bucket"), col("split"))
  }

  /** Blocked fuzzy-match pairs — the entity-resolution primitive (match a
    * dirty feed against a catalog, reconcile name variants): candidate
    * pairs come from a BLOCKING key (caller-chosen — first token, phonetic
    * code, a prefix), and an exact edit-distance verify keeps pairs with
    * `levenshtein ≤ maxEdit`. Classic blocking-and-verification shape:
    * cost is Σ block² bounded by `maxBlock` (oversized blocks are dropped
    * whole, like the near-dup df caps — a block too common to discriminate
    * is boilerplate, not a match signal), never |rows|².
    * One groupBy for block sizes (semi-join filter), one self-join on the
    * block key; the verify is a codegen'd levenshtein in the map stage. */
  def fuzzyMatchPairs(df: DataFrame, block: org.apache.spark.sql.Column,
      maxEdit: Int, maxBlock: Int = 500,
      idCol: String = "id", strCol: String = "name"): DataFrame = {
    val b = graft.core.Tables.spread(df)
      .filter(col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("s"), block.as("blk"))
    val kept = b.join(
      b.groupBy(col("blk")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBlock).select(col("blk")),
      Seq("blk"), "left_semi")
    kept.select(col("blk"), col("id").as("i"), col("s").as("s_i"))
      .join(kept.select(col("blk"), col("id").as("j"), col("s").as("s_j"))
        .hint("shuffle_hash"),  // see lshCandidates: never broadcast a blocked side
        Seq("blk"))
      .filter(col("i") < col("j"))
      .withColumn("edit_dist", levenshtein(col("s_i"), col("s_j")))
      .filter(col("edit_dist") <= maxEdit)
      .select(col("i"), col("j"), col("edit_dist"))
  }

  /** Exact dedup by content fingerprint: groups are keyed on the FULL
    * 128-bit md5 (a 60-bit key would hit birthday collisions around 2³⁰
    * documents — guaranteed merges of non-duplicates at 100 TB corpus
    * sizes); the 60-bit fp60 rides along as a compact join/partition key.
    * One shuffle on the fingerprint. */
  def exactDedup(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = TextAnalysis.fingerprint(docs, textCol)
      .select(col(idCol), col("fp_md5"), col("fp60"))
    // null-text rows have no fingerprint and drop (keepNullKeys = false —
    // the established q36 contract and its oracle's inner-join semantics)
    keyedDedupAnnotate(fp, "fp_md5", idCol,
      "canonical_id", "n_copies", keepNullKeys = false).drop("fp_md5")
  }

  /** Ingest-time EXACT-dup gate — the stateless streaming dual of
    * [[exactDedup]], completing the gate triple with [[flagNearDups]]
    * and [[TextAnalysis.flagContaminated]]: `exact_dup` ⟺ the row's
    * content fingerprint appears in the batch-collected corpus key set.
    * Keys are [[TextAnalysis.hash60]] fingerprints (exact up to 60-bit
    * collisions, ~2⁻⁶⁰ per pair — the embedded-sorted-array gates'
    * convention; the batch-side [[exactDedupAgainst]] uses full md5).
    * Map-only, no shuffle, no state: one membership probe per row,
    * identical on a batch frame or any streaming micro-batch. Null text
    * → null flag (total pass). Envelope of a sorted literal: ~8 B/key
    * rides every task binary — ~10⁷ corpus fingerprints ≈ 80 MB is the
    * practical ceiling; past that, a [[fpBloomIndexSave]] blob or the
    * anti-join form ([[exactDedupAgainst]]) is the scale path. */
  def flagExactDups(docs: DataFrame, fpKeys: graft.core.KeySets.Members,
      textCol: String = "text"): DataFrame =
    docs.withColumn("exact_dup",
      when(col(textCol).isNotNull, fpKeys.contains(TextAnalysis.hash60(col(textCol)))))

  /** The batch half of the exact-dup gate: the corpus's distinct 60-bit
    * content fingerprints, ready to collect into [[flagExactDups]]. */
  def corpusFpKeys(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus.filter(col(textCol).isNotNull)
      .select(TextAnalysis.hash60(col(textCol)).as("fp60")).distinct()

  /** [[graft.core.KeySets]] kind tag of the exact-dup fingerprint index. */
  val ExactDupKind = "exact_dup_fp60"

  /** Persist [[corpusFpKeys]] as a [[graft.core.KeySets]] index — the
    * exact-dup gate's build-once/serve-many handoff (the
    * [[bandIndexSave]] story for the cheapest gate: skip re-hashing the
    * reference corpus at every stream start). */
  def fpIndexSave(corpus: DataFrame, path: String,
      textCol: String = "text"): Unit =
    graft.core.KeySets.save(corpusFpKeys(corpus, textCol), path, ExactDupKind)

  /** Kind tag of the Bloom exact-dup index ([[fpBloomIndexSave]]). */
  val ExactDupBloomKind = "exact_dup_bloom"

  /** The exact-dup gate's CORPUS-SCALE continuation — a Bloom filter
    * over the 60-bit content fingerprints
    * ([[graft.core.KeySets.saveBloom]]), for reference corpora whose
    * distinct-fp set outgrows the sorted literal ([[flagExactDups]]'
    * literal is driver-sized by contract; at 10⁹ corpus fps it would be
    * an 8 GB literal, while a 1%-fpp Bloom is ~1.2 GB and a 0.1%-fpp
    * ~1.8 GB — and the blob broadcasts once per stream instead of riding
    * every task's generated code).
    *
    * Semantics: [[flagExactDups]] over the loaded blob has NO FALSE
    * NEGATIVES — every fingerprint inserted at build flags true at serve
    * (the dedup guarantee holds exactly); false POSITIVES at ~`fpp` drop
    * that fraction of clean docs — the documented price of the scale
    * regime, chosen by the caller. An empty reference corpus stores a
    * null blob and the gate passes everything. */
  def fpBloomIndexSave(corpus: DataFrame, path: String, fpp: Double = 0.01,
      textCol: String = "text"): Unit =
    graft.core.KeySets.saveBloom(corpusFpKeys(corpus, textCol), path,
      ExactDupBloomKind, fpp = fpp)

  /** Incremental exact dedup — the R-S (delta-vs-corpus) form of
    * [[exactDedup]], completing the family's against-forms
    * ([[repeatedSpansAgainst]], [[nearDupJaccardAcross]]): the SURVIVORS
    * of a new delta batch, i.e. the delta rows whose content fingerprint
    * (full md5 — exact, the q36 contract) appears nowhere in the existing
    * corpus AND that hold the min id of their fingerprint within the
    * delta itself (a batch must dedup against the corpus and against its
    * own internal copies in one pass). Output: `(idCol, fp60,
    * n_delta_copies)` — survivors only, the daily-ingest admit list.
    * Null-text rows drop on both sides (the exactDedup convention).
    *
    * Scale shape: the corpus contributes ONE distinct-fingerprint
    * projection — 32-byte constant-width keys, never document bodies —
    * into a single anti-join shuffle (or a broadcast when the delta side
    * is small enough for AQE to flip the build side); the delta pays
    * [[exactDedup]]'s keyed aggregate. Nothing corpus-sized is collected
    * or rewritten. */
  def exactDedupAgainst(delta: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = TextAnalysis.fingerprint(delta.filter(col(textCol).isNotNull), textCol)
      .select(col(idCol), col("fp_md5"), col("fp60"))
    val cFp = corpus.filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("fp_md5")).distinct()
    keyedDedupAnnotate(d, "fp_md5", idCol, "__keep_id", "n_delta_copies",
        keepNullKeys = false)
      .filter(col(idCol) === col("__keep_id"))
      .join(cFp, Seq("fp_md5"), "left_anti")
      .select(col(idCol), col("fp60"), col("n_delta_copies"))
  }

  /** The keyed dedup-annotation shape of [[exactDedup]],
    * [[exactDedupAgainst]] and [[TextAnalysis.urlDedup]]: group on
    * `keyCol`, elect the min-id canonical, count copies, annotate every
    * input row via a join back. `keepNullKeys = true` keeps null-keyed rows (left join — an equi-join
    * never matches null keys) with null canonical/count, making the pass
    * total; `false` drops them (an inner join). One shuffle on the key. */
  private[ext] def keyedDedupAnnotate(df: DataFrame, keyCol: String,
      idCol: String, canonicalName: String, copiesName: String,
      keepNullKeys: Boolean): DataFrame = {
    val groups = df.filter(col(keyCol).isNotNull).groupBy(col(keyCol))
      .agg(min(col(idCol)).as(canonicalName), count(lit(1)).as(copiesName))
    df.join(groups, Seq(keyCol), if (keepNullKeys) "left" else "inner")
  }
}
