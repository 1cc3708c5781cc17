package graft.ext

import graft.functions.ArrayMath
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Two scoring paths:
  *
  *   - '''Fixed-point exact''' ([[fixedPointVec]] + [[intDot]]): components
  *     are quantized to 16-bit fixed point (floor(x·2¹⁵) — exact, float
  *     widening and the multiply are both lossless in double), so dot
  *     products and squared norms are exact BIGINT folds — associative,
  *     order-independent, and bit-identical in any engine. This is what
  *     makes cosine results oracle-checkable; quantization error on the
  *     *score* is ≤ ~1e-4, and the score itself is the operator's contract.
  *     The pairwise plan keeps ONE ROW PER PAIR (array fold, no dimension
  *     explosion): the per-pair dot is a map-side fold, so a |Q|·|B| scoring
  *     pass shuffles nothing — the query side broadcasts and the base
  *     scans once.
  *   - '''Float fold''' ([[foldCosine]]): same shape, double math — the fast
  *     path for ANN re-ranking where cross-engine bit-equality is not
  *     required.
  *
  * Scale posture: brute-force top-k broadcasts the (small) query set and
  * scans the base once — the canonical "exact kNN at any scale" plan.
  * Pair-explosion forms (near-dup) are quadratic by nature; the LSH-bucketed
  * variant ([[annLshTopK]]) is the scale path, trading recall for a
  * bucket-local search.
  */
object Similarity {

  /** floor(x·2¹⁵) per component as ARRAY<BIGINT> — exact fixed point. */
  def fixedPointVec(vec: Column): Column =
    transform(vec, x => floor(x.cast(DoubleType) * lit(32768.0)).cast(LongType))

  /** Exact integer dot product of two BIGINT arrays (codegen'd primitive
    * loop — see [[graft.functions.ArrayMath]]; |x|≤2¹⁵ over ≤2²⁰ dims
    * cannot overflow). */
  def intDot(a: Column, b: Column): Column = ArrayMath.dotLong(a, b)

  /** `id` plus the fixed-point view of `vecCol` as `x` and its exact
    * squared norm as `n2` — one side of an exact scoring pass. */
  private def fixedPoint(df: DataFrame, id: Column, vecCol: String,
      x: String, n2: String): DataFrame =
    df.select(id, fixedPointVec(col(vecCol)).as(x)).withColumn(n2, intDot(col(x), col(x)))

  /** The exact family's one cosine: `dot / (√n2a·√n2b)` in double over
    * the fixed-point integer `dot` and squared norms, 0.0 when either
    * norm is 0 — every step deterministic and engine-portable, so every
    * operator scoring with it agrees bit for bit with [[exactCosinePairs]]. */
  private def fpCosine(dot: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0 || n2b === 0, lit(0.0)).otherwise(
      dot.cast(DoubleType) / (sqrt(n2a.cast(DoubleType)) * sqrt(n2b.cast(DoubleType))))

  /** Exact cosine for every (query, base) pair: fixed-point arrays built
    * once per row, query side broadcast, per-pair integer dot + norms via
    * codegen'd map-side loops. cosine = dot / (√n2q·√n2b) in double — every
    * step deterministic and engine-portable. Cost is |Q|·|B| loop passes
    * with NO shuffle (the base side is repartitioned so the scoring scan
    * uses every core even when the source is one small file); use for small
    * query sets or verified-exact workloads. */
  def exactCosinePairs(queries: DataFrame, base: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = fixedPoint(queries, col(idCol).as("qid"), vecCol, "qx", "qn2")
    val b = fixedPoint(graft.core.Tables.spread(base), col(idCol).as("vid"), vecCol, "bx", "bn2")
    broadcast(q).crossJoin(b)
      .withColumn("cosine", fpCosine(intDot(col("qx"), col("bx")), col("qn2"), col("bn2")))
      .select(col("qid"), col("vid"), col("cosine"))
  }

  /** Embedding-space decontamination — the semantic complement of
    * [[graft.ext.TextAnalysis.ngramContamination]] (modern eval-leak
    * sweeps run BOTH: n-gram overlap catches verbatim leaks, embedding
    * cosine catches paraphrased ones): one row per corpus vector with at
    * least one benchmark vector at cosine ≥ `minCosine` — the vector's
    * close-bench count and its max cosine.
    *
    * Exactness: fixed-point components ([[fixedPointVec]]) make dot and
    * norms exact BIGINT sums; the per-pair cosine is the same
    * correctly-rounded double tree as [[exactCosinePairs]], so count,
    * max, and the threshold decision are bit-identical cross-engine.
    *
    * Scale shape: the benchmark side is small by the family's premise →
    * BROADCAST; the corpus side is one map-only scan (|corpus|·|bench|
    * codegen'd dot loops, no index build), the threshold filter runs
    * BEFORE the per-vector aggregation so only contaminated pairs reach
    * the one |matches|-sized exchange — the corpus itself is never
    * shuffled. For bench sets past broadcast range, decontaminate in
    * [[ivfTopK]] cells instead. */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      minCosine: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val b = fixedPoint(bench, col(idCol).as("bid"), vecCol, "bx", "bn2")
    val c = fixedPoint(graft.core.Tables.spread(corpus), col(idCol), vecCol, "cx", "cn2")
    c.crossJoin(broadcast(b))
      .withColumn("cos", fpCosine(intDot(col("cx"), col("bx")), col("cn2"), col("bn2")))
      .filter(col("cos") >= minCosine)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_close"), max(col("cos")).as("max_cos"))
  }

  /** The fixed-point bench vectors as a driver literal for
    * [[flagSemanticContaminated]] — the gate family's side-input collect
    * (bounded by the bench set's smallness premise, exactly like the
    * centroid/blocklist/band-key literals; null vectors AND vectors
    * containing a null component are excluded — the batch dual never
    * scores either (the HOF-fold null-out contract), and a partially-
    * null vector surviving into the flattened literal would NPE the
    * stage build or poison the geometry). */
  def collectBenchFp(bench: DataFrame,
      vecCol: String = "embedding"): Seq[Array[Long]] =
    bench.filter(col(vecCol).isNotNull &&
        forall(col(vecCol), x => x.isNotNull))
      .select(fixedPointVec(col(vecCol)).as("x")).collect()
      .map(_.getSeq[Long](0).toArray).toSeq

  /** Stateless embedding-space contamination flag — the ingest/streaming
    * dual of [[semanticContamination]] (modern eval-leak sweeps gate at
    * ingest with exactly the threshold the batch sweep audited): pure
    * Column expressions against embedded fixed-point bench literals —
    * one codegen dot + threshold per bench vector (the [[kmeansServe]]
    * shape), no join, no shuffle, no state, so the SAME code scores a
    * batch frame or any streaming micro-batch. Scoring is the batch
    * dual's exact expression family (integer dot over sqrt·sqrt of
    * integer norms), so the flag decision is bit-identical to
    * [[semanticContamination]]'s threshold filter at the same bench +
    * threshold. Adds `semantic_contaminated`; null vectors get a null
    * flag (the drop-gates' total-pass convention); an empty bench set
    * flags nothing. */
  def flagSemanticContaminated(df: DataFrame, benchFp: Seq[Array[Long]],
      minCosine: Double, vecCol: String = "embedding"): DataFrame = {
    // ONE codegen'd expression over a flattened bench literal
    // ([[graft.functions.SemanticHit]]): the per-bench-vector expression
    // tree this replaces generated code linear in the bench count and
    // fell out of codegen past ~200 vectors (the 10× smoke finding) —
    // the nested-loop expression is constant-size at any driver-sized
    // bench set, with bit-identical decisions.
    val dimsSet = benchFp.map(_.length).toSet
    require(dimsSet.size <= 1,
      s"bench vectors must share one dimensionality, got $dimsSet")
    val hit =
      if (benchFp.isEmpty) when(col(vecCol).isNotNull, lit(false))
      else graft.functions.SemanticHits.anyHit(
        fixedPointVec(col(vecCol)),
        benchFp.flatten.toArray,
        benchFp.map(b => b.map(v => v * v).sum).toArray,
        benchFp.length, minCosine)
    df.withColumn("semantic_contaminated", hit)
  }

  /** Brute-force exact top-k neighbors per query (self-match excluded),
    * deterministic tie-break on vid. */
  def bruteForceTopK(queries: DataFrame, base: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(exactCosinePairs(queries, base, idCol, vecCol)
      .filter(col("qid") =!= col("vid")), k)

  /** The family's one top-k cut: `rk` = row_number per `qid` by
    * (cosine desc, vid) — deterministic ties — kept while ≤ k. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))))
      .filter(col("rk") <= k)

  /** Single-pass double cosine between two vector columns (fast path, not
    * cross-engine exact): codegen'd three-accumulator loop, bit-identical
    * to the `aggregate(zip_with(...))` fold it replaces. */
  def foldCosine(a: Column, b: Column): Column = ArrayMath.cosine(a, b)

  /** Aggregate recall band of an approximate top-k against its exact dual
    * — the DRIVER-VISIBLE gate shape for ANN operators (the q115 `est_ok`
    * pattern): the per-(qid, vid) ANN rows themselves have no SQL-exact
    * dual, but the EXACT side's cardinalities and a recall-threshold flag
    * do, so an oracle can hash-check the whole row. One row:
    * (n_queries, n_exact, recall_ok) where recall_ok = 1 iff
    * |ann ∩ exact| ≥ minRecall·|exact| — both operators are deterministic
    * (hash-seeded, fixed-point), so at a given (corpus, parameters) the
    * band either always holds or always fails: a red row means the
    * operator's recall regressed, exactly what the gate is for.
    * Per-query bands are deliberately NOT emitted: individual queries
    * legitimately see 0 hits at realistic settings (measured at sf0.01 and
    * sf0.1); recall is an aggregate contract. */
  def topKRecallBand(ann: DataFrame, exact: DataFrame,
      minRecall: Double): DataFrame =
    exact.select(col("qid"), col("vid"))
      .join(ann.select(col("qid"), col("vid")).withColumn("hit", lit(1)),
        Seq("qid", "vid"), "left")
      .agg(countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("n_queries"), col("n_exact"),
        (col("n_hit").cast(DoubleType) >=
          lit(minRecall) * col("n_exact").cast(DoubleType))
          .cast(IntegerType).as("recall_ok"))

  /** ±1 SRP hyperplane coefficients from the keyed xxhash64 family
    * ("srp", plane, component) — deterministic and seedless; evaluated on
    * the DRIVER by folding the same literal xxhash64 expression Catalyst
    * would run (no Spark job — the coefficients are pure constants), then
    * embedded as literals, so per-row banding is a plain multiply-add
    * fold, not hashing. Shared by [[annLshTopK]] and [[annLshPairs]] —
    * one hash family, one code layout, both operators. */
  private def srpCoefs(nPlanes: Int, dims: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    Array.tabulate(nPlanes, dims) { (p, i) =>
      val h = new XxHash64(Seq(Literal("srp"), Literal(p), Literal(i)))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
      (java.lang.Math.floorMod(h, 2L) * 2L - 1L).toDouble
    }
  }

  /** ARRAY of all band codes: `planesPerBand` projection sign bits packed
    * into a long per band — ONE constant-size codegen call
    * ([[graft.functions.SrpCodes]]): the per-plane expression-tree form
    * generated code linear in the plane count and crashed Janino at the
    * sf1 auto geometry (816 plane dots — the round-15 banded-path probe
    * finding; the 100 TB geometry only grows). Same bits, any geometry. */
  private def srpCodes(vec: Column, coefs: Array[Array[Double]],
      planesPerBand: Int, bands: Int): Column =
    graft.functions.SrpCodes.bandCodes(vec, coefs.flatten, planesPerBand,
      bands, if (coefs.isEmpty) 1 else coefs(0).length)

  /** LSH-bucketed approximate top-k: queries and base are bucketed by
    * sign-random-projection codes over `bands` independent codes of
    * `planesPerBand` bits ([[srpCoefs]]); candidates share any
    * (band, code) ([[srpCandidates]]); exact fold-cosine re-ranks. Recall
    * rises with bands, candidate volume with 2^-planesPerBand; the
    * defaults suit weakly-clustered data (recall ≈ 0.5 at cos 0.4) —
    * corpora with real duplicate clusters (cos ≥ 0.8) get recall ≈ 1 from
    * the same settings. */
  def annLshTopK(queries: DataFrame, base: DataFrame, k: Int,
      planesPerBand: Int = 6, bands: Int = 12, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread: a small parquet source arrives in one partition, and the
    // 72-dot banding pass must use every core
    val b = graft.core.Tables.spread(base)
    // the slim (qid, vid) candidate stream dedups first — then ONE
    // corpus-sized join attaches each vector exactly once, per side
    // (shuffle_hash: a forced broadcast would hard-fail past the
    // broadcast limit for large query sets)
    rankTopK(srpCandidates(queries, b, planesPerBand, bands, dims, idCol, vecCol)
      .join(b.select(col(idCol).as("vid"), col(vecCol).as("bv"))
        .hint("shuffle_hash"), Seq("vid"))
      .join(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
        .hint("shuffle_hash"), Seq("qid"))
      .select(col("qid"), col("vid"), foldCosine(col("qv"), col("bv")).as("cosine")), k)
  }

  /** The candidate stage of SRP-LSH — band, join, dedup — emitting the
    * (qid, vid) pairs that co-bucket in any (band, code), WITHOUT any
    * scoring; `base` comes spread ([[graft.core.Tables.spread]]). Shared
    * by [[annLshTopK]] and [[srpRecallBand]].
    *
    * The band join carries IDS ONLY: a base vector surfaces in `bands`
    * code rows, so letting the vector ride the band shuffle multiplies
    * corpus bytes by `bands` (~20× at 64 dims vs a 16-byte id row).
    * shuffle_hash with the QUERY side as build: queries are the smaller
    * side, a per-partition hash build cannot fail past the broadcast
    * limit, and the pin keeps the estimator from ever broadcasting the
    * corpus-sized base Generate it cannot size. */
  private def srpCandidates(queries: DataFrame, base: DataFrame,
      planesPerBand: Int, bands: Int, dims: Int,
      idCol: String, vecCol: String): DataFrame = {
    val coefs = srpCoefs(bands * planesPerBand, dims)
    def banded(df: DataFrame, as: String): DataFrame = {
      val codes = srpCodes(col(vecCol), coefs, planesPerBand, bands)
      df.select(col(idCol), posexplode(codes).as(Seq("band", "code")))
        .select(col("band"), col("code"), col(idCol).as(as))
    }
    banded(queries, "qid").hint("shuffle_hash")
      .join(banded(base, "vid"), Seq("band", "code"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"))
      .distinct()
  }

  /** [[topKRecallBand]] over [[annLshTopK]] with the exact dual SHARED —
    * the driver-visible gate for SRP-LSH (q42), the [[sharedDualBand]]
    * over [[srpCandidates]]. */
  def srpRecallBand(queries: DataFrame, base: DataFrame, k: Int,
      minRecall: Double, planesPerBand: Int = 6, bands: Int = 12,
      dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    sharedDualBand(queries, base, k, minRecall, idCol, vecCol)(
      srpCandidates(queries, graft.core.Tables.spread(base), planesPerBand, bands,
        dims, idCol, vecCol))

  /** A recall band whose exact dual is SHARED: the [[exactCosinePairs]]
    * hub persists once, pre-partitioned on qid (InMemoryRelation keeps the
    * cached plan's outputPartitioning, so both window consumers read it
    * with no further exchange), and serves BOTH sides of
    * [[topKRecallBand]] — the exact top-k, and the ANN side, whose
    * (qid, vid) `candidates` take their scores from the hub instead of
    * re-scoring vectors (deterministic either way; the hub's fixed-point
    * cosine IS the dual's scoring). The hub materializes CONCURRENTLY with
    * the candidate build (an index trainer's collect): two independent
    * jobs, so the gate pays max(hub, trainer) wall-clock, not the sum;
    * a failure surfaces on the join. Gate machinery only: the candidate
    * broadcast is bounded by the gate's validation-scale contract like the
    * hub itself (|Q|·|B|); the standalone top-k operators never build
    * either. Hub released via [[graft.core.Caches.unpersistAll]]. */
  private def sharedDualBand(queries: DataFrame, base: DataFrame, k: Int,
      minRecall: Double, idCol: String, vecCol: String)(
      candidates: => DataFrame): DataFrame = {
    val pairs = graft.core.Caches.persist(
      exactCosinePairs(queries, base, idCol, vecCol)
        .filter(col("qid") =!= col("vid"))
        .repartition(col("qid")))
    val hubWarm = java.util.concurrent.CompletableFuture.runAsync(() => { pairs.count(); () })
    val cand =
      try candidates.select(col("qid"), col("vid"))
      finally hubWarm.join()
    topKRecallBand(rankTopK(pairs.join(broadcast(cand), Seq("qid", "vid")), k),
      rankTopK(pairs, k), minRecall)
  }

  /** LSH-bucketed embedding near-dup PAIRS — the thresholded-pairs scale
    * path for corpus-level embedding dedup (the all-pairs exact form,
    * [[exactCosinePairs]] over base×base, is its small-scale verification
    * dual — it broadcasts the full corpus and scores |B|², which dies at
    * 100 TB).
    *
    * Shape (mirrors the text near-dup family in [[Dedup]]):
    *
    *  1. '''Exact-copy collapse''': identical embedding arrays group to one
    *     representative (groupBy on the raw vector — bit-exact equality, no
    *     hashing); within-group pairs are emitted with the rep's self-cosine
    *     (exactly the score the all-pairs dual computes for an identical
    *     pair), gated on the threshold, so copy-heavy corpora pay candidate
    *     cost per DISTINCT vector.
    *  2. '''Candidates''': self band-join on sign-random-projection codes —
    *     `bands` independent codes of `planesPerBand` sign bits each
    *     (driver-literal ±1 hyperplanes from the keyed xxhash64 family, as
    *     in [[annLshTopK]]); reps sharing any (band, code) become a
    *     candidate pair. Cost follows bucket occupancy, never |B|².
    *  3. '''Verify''': exact fixed-point cosine ([[fixedPointVec]] +
    *     [[intDot]]) — the SAME scoring as the exact dual, so every emitted
    *     pair is a true pair with a bit-identical score (precision 1);
    *     banding controls recall only.
    *
    * One shuffle builds the rep hub (shared by the band join and both
    * verify sides via ReuseExchange + persist); the band join shuffles
    * |reps|·bands code rows, never vectors.
    *
    * Corpus-scaling rule (measured on the 10× scale smoke): per-bucket
    * occupancy is |B|/2^planesPerBand, so bucket-local candidate volume
    * grows ∝ |B|²/2^planesPerBand at FIXED geometry (26× wall at 10×
    * data). The default geometry (`planesPerBand = bands = 0`) therefore
    * AUTO-SIZES from a memoized corpus count: `p = max(4, ⌈log₂(|B|/128)⌉)`
    * holds per-bucket occupancy ≤ ~128, and `b = ⌈16·(1/r)^(p−4)⌉` with
    * r = 0.63 (per-plane agreement of a 0.4-cosine pair: 1 − θ/π) holds
    * the per-pair band-match probability of the bench-proven (4, 16)
    * geometry at the hardest in-contract similarity. The floor keeps
    * every corpus ≤ 2¹¹ vectors on the exact (4, 16) plans. Explicit
    * values override the rule.
    *
    * KNOWN ENVELOPE — the rule buys a constant factor, not a complexity
    * class: holding recall for θ ≈ 66° pairs forces b ∝ r^(−Δp), so
    * candidate volume scales ∝ |B|²·(2r)^(−Δp) ≈ |B|²·0.79^Δp — each
    * added plane trims only ~21%. This is the LSH ρ→1 degeneracy: when
    * near-threshold pairs and in-cluster non-pairs have nearly the same
    * cosine, no sign-projection family separates them sub-quadratically
    * (and on such corpora the TRUE ≥0.4 pair set itself grows ∝ |B|², so
    * any operator emitting it is output-bound quadratic). For clustered
    * corpora at moderate thresholds prefer [[semanticDedup]]'s
    * coarse-quantize-then-verify path; this operator's banding is the
    * right tool when the threshold sits well above the background
    * similarity (e.g. ≥ 0.8 near-copy mining, r ≥ 0.8: each plane then
    * trims ~38%).
    *
    * DENSE PATH (round 14, measured at 10× bench scale): a banded
    * candidate ROW costs ~100× a codegen'd 64-dim dot (shuffle + distinct
    * + two verify joins vs one fused multiply-add loop — measured 142 s
    * banded vs 3.8 s for the full |B|² scan at |B| = 20k), and at the
    * auto rule's own geometry the candidate volume is a sizable fraction
    * of |B|²/2 — so whenever the rep set fits the broadcast envelope the
    * banded plan can never win. Auto-geometry calls therefore run the
    * EXACT broadcast-scan dual (one map-only |reps|² codegen pass, no
    * shuffle, recall 1, precision 1, the dual's own scores — strictly
    * better output than banding) while the rep count is at or under
    * `spark.graft.similarity.pairsDenseMaxBase` (default 2¹⁷ ≈ 70 MB of
    * broadcast fixed-point arrays at 64 dims); past the bound — corpora
    * where no side can broadcast and brute force is off the table anyway
    * — the banded path runs unchanged. The default is also ~the
    * MEASURED compute crossover (the `pairsDenseMaxBytes` discipline,
    * see [[graft.ext.Multimodal]]): at 160k reps — just past the bound
    * — the round-15 probe ran auto-banded in 191.5 s (planted recall
    * 1.0), vs ~243 s extrapolated for the dense |B|² scan (64× the
    * measured 3.8 s at 20k reps) — so the broadcast envelope and the
    * dense/banded cost crossover coincide within ~25%, and the flip is
    * in the safe (banded) direction. EXPLICIT geometry always bands
    * (the caller asked for that plan — tests and recall probes rely on
    * it). Path choice is observable via [[lastPairsPath]] (the
    * [[Dedup.lastVerifyPath]] pattern). */
  def annLshPairs(base: DataFrame, minCosine: Double,
      planesPerBand: Int = 0, bands: Int = 0, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require((planesPerBand == 0) == (bands == 0),
      "planesPerBand and bands must be auto-sized (0) or explicit together " +
        s"(got planesPerBand=$planesPerBand bands=$bands): the bands rule " +
        "compensates recall for the plane count, so fixing one without the " +
        "other silently breaks the recall contract")
    val auto = planesPerBand == 0
    val n = if (!auto) 0L else graft.core.Caches.count(base)
    val denseMax = base.sparkSession.conf
      .getOption("spark.graft.similarity.pairsDenseMaxBase")
      .map(_.toLong).getOrElse(1L << 17)
    val dense = auto && n <= denseMax

    // 1. exact-copy collapse on the raw vector
    val g0 = copyGroups(base, idCol, vecCol)
    // self-cosine exactly as the all-pairs dual computes it for an
    // identical pair: dot/(√n2·√n2) — NOT lit(1.0); √x·√x can differ
    // from x in the last ulp, and the dual's score is the contract.
    val wcos = fpCosine(col("n2"), col("n2"), col("n2"))
    // expansion side: corpus-vector-free (see Dedup.slimGroups rationale)
    val groups = graft.core.Caches.persist(
      g0.select(col("rep"), col("members"), wcos.as("wcos")))

    val verified = if (dense) {
      notePairsPath("dense")
      // exact broadcast-scan dual over the collapsed reps: the i side
      // broadcasts (≤ denseMax reps of fixed-point arrays), the j side
      // streams once — |reps|²/2 fused dot loops, zero shuffles, and the
      // threshold filter runs inside the scan so only true pairs surface.
      val slim = graft.core.Caches.persist(
        g0.select(col("rep"), col("x"), col("n2")))
      verifyPairs(broadcast(pairSide(slim, "rep", "i"))
        .crossJoin(pairSide(slim, "rep", "j"))
        .filter(col("i") < col("j")), minCosine)
    } else {
      notePairsPath("banded")
      val (p, b) =
        if (!auto) (planesPerBand, bands)
        else {
          // planes ∝ log₂|B| keeps per-band bucket occupancy ~constant
          // (~128); bands compensate recall AT THE CALLER'S BAR
          // (round-15): per-band collision prob for a pair at exactly
          // `minCosine` is (1 − acos(minCosine)/π)^pp, and bands =
          // −ln(0.08)/p_band targets ~0.92 recall at the bar — the
          // historical 0.4-tuned rule (16·(1/0.63)^(pp−4)) hard-coded
          // the 0.4 constant, so a HIGHER bar paid 0.4-grade band
          // volume for recall it didn't ask for (measured: a 0.6-bar
          // 160k-rep probe spilled ~60 GB of candidates under the old
          // rule — 406 bands where 119 deliver the contract). At the
          // historical point (minCosine 0.4, pp 4) the rules agree
          // (both 16 bands).
          val pp = math.max(4,
            math.ceil(math.log(math.max(1.0, n / 128.0)) / math.log(2.0)).toInt)
          val pBand = math.pow(
            1.0 - math.acos(math.max(-1.0, math.min(1.0, minCosine))) / math.Pi,
            pp)
          // Guard the Int cast (round-16 ADVICE): a near-zero pBand (a
          // very low bar with many planes) sends −ln(0.08)/pBand past
          // Int.MaxValue; the unguarded .toInt wrapped NEGATIVE and
          // max(1, _) silently yielded ONE band — the ~0.92 recall
          // contract gone with no error. Clamp the Long before casting
          // and fail LOUDLY when the geometry is degenerate: a bar that
          // needs >2²⁰ band tables has no banded path (each band is a
          // full SRP code table + candidate join) — that regime is
          // all-pairs-shaped work the dense/exact path should take.
          val bandsL = math.min(Int.MaxValue.toLong,
            math.round(-math.log(0.08) / pBand))
          require(bandsL <= (1L << 20),
            f"auto SRP geometry degenerates at minCosine=$minCosine%.3f " +
              f"with $pp planes/band (per-band collision prob at the bar " +
              f"$pBand%.3e → $bandsL bands for 0.92 recall) — a bar this " +
              "low collides on nothing; raise minCosine or use the " +
              "exact/dense path")
          (pp, math.max(1, bandsL.toInt))
        }
      val codes = srpCodes(col("v"), srpCoefs(b * p, dims), p, b)
      // rep hub: codes + fixed-point array + norm; three consumers (band
      // explode + both verify sides).
      val hub = graft.core.Caches.persist(
        g0.select(col("rep").as("id"), codes.as("codes"),
          col("x"), col("n2")))

      // 2. candidates: reps sharing any (band, code). shuffle_hash pin: the
      // banded side is |reps|·bands rows behind a Generate the estimator
      // cannot size — never let it broadcast (see Dedup.lshCandidates).
      val banded = hub.select(col("id"), posexplode(col("codes")).as(Seq("band", "code")))
      val cand = banded.select(col("band"), col("code"), col("id").as("i"))
        .join(banded.select(col("band"), col("code"), col("id").as("j")).hint("shuffle_hash"),
          Seq("band", "code"))
        .filter(col("i") < col("j"))
        .select(col("i"), col("j"))
        .distinct()

      // 3. exact fixed-point verify (same expression family as the dual).
      // Size-adaptive vector attachment (round-15 probe finding): the
      // shuffle_hash form exchanges the first join's OUTPUT — candidate
      // rows now CARRYING a dims-long fixed-point array — on j, so the
      // vector bytes ride the candidate volume (measured: a 160k-rep
      // uniform corpus spilled >60 GB of xi-carrying exchange on
      // local[32]). While the rep hub's vector columns fit the broadcast
      // envelope, BROADCAST them for both verify sides: vectors then
      // never shuffle at all — only the slim (i, j) candidate stream
      // moves. Past the envelope the shuffle_hash form is the correct
      // fallback (a >256 MB hub cannot broadcast), and candidates·dims
      // exchange bytes are the documented cost of banded verify there.
      val repsEst = if (auto) n else graft.core.Caches.count(hub)
      val hubVecBytes = repsEst * (24L + 8L * dims)
      def vecs(side: String) =
        if (fitsBroadcast(hubVecBytes)) broadcast(pairSide(hub, "id", side))
        else pairSide(hub, "id", side).hint("shuffle_hash")
      verifyPairs(cand.join(vecs("i"), Seq("i")).join(vecs("j"), Seq("j")), minCosine)
    }

    Dedup.expandRepPairs(verified, groups, "cosine", col("wcos"),
      keptReps = Some(groups.filter(col("wcos") >= minCosine).select(col("rep"))))
  }

  /** Exact-copy collapse: identical non-null vectors (groupBy on the raw
    * array — bit-exact equality, no hashing) become one row — `rep` the
    * min id, `members` the sorted ids — with the fixed-point view `x` and
    * its squared norm `n2`, so copy-heavy corpora pay candidate cost per
    * DISTINCT vector. Null vectors drop out: the all-pairs dual never
    * scores them either. Shared by [[annLshPairs]] and [[semanticDedup]]. */
  private def copyGroups(base: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.core.Tables.spread(base)
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vid0"), col(vecCol).as("v"))
      .groupBy(col("v"))
      .agg(sort_array(collect_list(col("vid0"))).as("members"),
        min(col("vid0")).as("rep"))
      .withColumn("x", fixedPointVec(col("v")))
      .withColumn("n2", intDot(col("x"), col("x")))

  /** One side of a pair verify: `hub`'s `id` as `side` (i or j) with its
    * fixed-point view and squared norm as x`side`, n2`side`. */
  private def pairSide(hub: DataFrame, id: String, side: String): DataFrame =
    hub.select(col(id).as(side), col("x").as(s"x$side"), col("n2").as(s"n2$side"))

  /** Exact verify of candidate pairs carrying both [[pairSide]]s: the
    * pairs whose [[fpCosine]] clears `minCosine`, as (i, j, cosine) — the
    * exact dual's own score, so every emitted pair is a true pair
    * (precision 1). Shared by [[annLshPairs]] and [[semanticDedup]]. */
  private def verifyPairs(joined: DataFrame, minCosine: Double): DataFrame =
    joined.withColumn("cosine", fpCosine(intDot(col("xi"), col("xj")), col("n2i"), col("n2j")))
      .filter(col("cosine") >= minCosine)
      .select(col("i"), col("j"), col("cosine"))

  /** The family's broadcast envelope: a side estimated at ≤ 256 MB may
    * broadcast; past it the plan must shuffle — collecting a larger side
    * to the driver would OOM where a planned join survives. */
  private[ext] def fitsBroadcast(bytes: BigInt): Boolean = bytes <= BigInt(256L << 20)

  /** `df` hinted to broadcast while `bytes` fits [[fitsBroadcast]]; past
    * it the hint is dropped and the planner picks the join. */
  private def broadcastIfFits(df: DataFrame, bytes: BigInt): DataFrame =
    if (fitsBroadcast(bytes)) broadcast(df) else df

  /** The optimizer's size estimate of `df` — free, no job. */
  private[ext] def statBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Last [[annLshPairs]] path choice ("dense" | "banded") — the
    * [[Dedup.lastVerifyPath]] observability pattern, for tests and scale
    * probes. */
  private[graft] val lastPairsPath =
    new java.util.concurrent.atomic.AtomicReference[String]("")
  private def notePairsPath(p: String): Unit = {
    lastPairsPath.set(p)
    System.err.println(s"[graft] Similarity.annLshPairs path=$p")
  }

  /** IVF (inverted-file) approximate top-k — the classic ANN scale path
    * (coarse quantizer + cell-local search):
    *
    *  1. '''Train''': deterministic one-step Lloyd — initial cells from a
    *     hash of the vector id, centroids = per-cell means computed with
    *     EXACT fixed-point integer sums (order-independent, so the
    *     centroids — and therefore the whole operator — are reproducible
    *     run to run despite float math and shuffle order). Centroids
    *     (nCells × dims, tiny) collect to the driver and embed as literals.
    *  2. '''Assign''': every base vector goes to its max-cosine centroid —
    *     a codegen'd dot per cell, map-only.
    *  3. '''Probe''': each query searches its `nProbe` best cells; exact
    *     cosine re-ranks within the probed cells.
    *
    * Recall depends on how clustered the corpus is; raise `nProbe` toward
    * `nCells` to approach brute force. The scan cost is |B|·nCells dots for
    * assignment plus the probed fraction (≈ nProbe/nCells) of the corpus
    * per query — vs |Q|·|B| for brute force. */
  def ivfTopK(queries: DataFrame, base: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (centroids, postings) = ivfIndex(base, nCells, idCol, vecCol)
    ivfSearch(queries, centroids, postings, k, nProbe, idCol, vecCol)
  }

  /** An IVF index built in session: the [[lloydCentroids]] and the
    * postings (vid, bv, cell, metaCols…) — every base vector under its
    * argmax-cosine cell. [[ivfIndexSave]] writes exactly this and
    * [[ivfIndexLoad]] reads it back, so in-session and served top-k probe
    * the same pieces. */
  private def ivfIndex(base: DataFrame, nCells: Int, idCol: String,
      vecCol: String, metaCols: Seq[String] = Nil): (Array[Array[Double]], DataFrame) = {
    val centroids = lloydCentroids(base, nCells, idCol, vecCol)
    (centroids, graft.core.Tables.spread(base).select(Seq(col(idCol).as("vid"),
      col(vecCol).as("bv"), homeCell(col(vecCol), centroids).as("cell"))
      ++ metaCols.map(col): _*))
  }

  /** Top-k of an IVF index, wherever its pieces come from: [[ivfProbe]],
    * then fold-cosine re-rank within the probed cells. */
  private def ivfSearch(queries: DataFrame, centroids: Array[Array[Double]],
      postings: DataFrame, k: Int, nProbe: Int,
      idCol: String, vecCol: String): DataFrame =
    rankTopK(ivfProbe(queries, centroids, postings, nProbe, idCol, vecCol)
      .select(col("qid"), col("vid"), foldCosine(col("qv"), col("bv")).as("cosine")), k)

  /** The probe of an IVF index: each query (qid, qv) explodes to its
    * `nProbe` best cells and joins the postings there, self-matches
    * dropped — unscored candidate rows carrying both vectors (a consumer
    * that selects ids only prunes them). */
  private def ivfProbe(queries: DataFrame, centroids: Array[Array[Double]],
      postings: DataFrame, nProbe: Int, idCol: String, vecCol: String): DataFrame =
    probeJoin(queries, nProbe, postings,
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        explode(probeCells(col(vecCol), centroids, nProbe)).as("cell")))

  /** The probe join shared by the IVF and IVF-PQ indexes: the query side
    * `q` (one row per (query, probed cell)) joins the postings on `cell`,
    * self-matches dropped. `q` BROADCASTS (|Q|·nProbe rows — the query set
    * is small by the family's contract): the corpus then STREAMS through
    * the join with no shuffle, and a saved index's partitioned postings
    * scan is dynamically pruned to the probed cells. The hint is gated on
    * the optimizer's size estimate of the query set scaled by `nProbe`
    * ([[broadcastIfFits]]): an oversized query set degrades to a planned
    * join — pruning may then not fire — instead of a driver-OOM collect. */
  private def probeJoin(queries: DataFrame, nProbe: Int, postings: DataFrame,
      q: DataFrame): DataFrame =
    broadcastIfFits(q, statBytes(queries) * math.max(1, nProbe))
      .join(postings, Seq("cell"))
      .filter(col("qid") =!= col("vid"))

  /** Contrastive training-pair mining — the (anchor, positive, negatives)
    * builder for embedding-model training: each anchor's POSITIVE is its
    * exact top-1 cosine neighbor when that neighbor clears
    * `posMinCosine` (hard positives — below the bar the anchor emits no
    * positive row), and its `negPerAnchor` NEGATIVES are deterministic
    * uniform draws from the whole base corpus — draw j picks the vector
    * at rank `hash60(salt:anchor:j) mod N + 1` of [[Sharding.shuffleOrder]]'s
    * salt-keyed permutation, so the negative set is a pure function of
    * (salt, anchor, corpus) reproducible across engines and runs — never
    * `rand()`. A draw that lands on the anchor itself is dropped
    * (self-pairs teach nothing; expected loss 1/N per draw).
    *
    * Output: (anchor_id, role 'pos'|'neg', draw — 0 for the positive,
    * j for negatives, other_id, cosine — exact for positives, null for
    * negatives, scoring every random negative would be a hidden
    * |anchors|·k cosine pass the trainer doesn't need).
    *
    * Scale: the positive side is the exact dual's scoring in ONE FUSED
    * SCAN — anchors broadcast ([[exactCosinePairs]]'s envelope: anchors
    * are a training batch, not the corpus; at corpus-scale anchors swap
    * in [[ivfTopK]]/[[annLshTopK]], same output shape), the corpus
    * streams once, and the top-1 is a `max(struct(cosine, -vid))`
    * aggregation — the partial (map-side) combine reduces every
    * partition to ≤|anchors| structs before the exchange, so the wire
    * carries |anchors|·|partitions| rows where the window form
    * ([[bruteForceTopK]]) exchanged and sorted all |anchors|·|corpus|
    * scored pairs. `max(struct(cosine, -vid))` IS "ORDER BY cosine
    * DESC, vid ASC LIMIT 1": struct ordering compares fields left to
    * right, and cosine is never null/NaN here (the n2=0 guard yields
    * 0.0). The negative side resolves the |anchors|·k drawn ranks with
    * [[Sharding.shuffleOrderAt]] — dense corpora rank in one slim global
    * window, and past the dense bound only the touched permutation
    * buckets are ranked, never the corpus. N is the memoized corpus
    * count (shared key with every other operator's count memo — warm
    * sessions pay no job). */
  def contrastivePairs(anchors: DataFrame, base: DataFrame,
      negPerAnchor: Int, posMinCosine: Double, salt: String = "cp",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(negPerAnchor >= 1, s"negPerAnchor must be >= 1: $negPerAnchor")
    val q = fixedPoint(anchors, col(idCol).as("qid"), vecCol, "qx", "qn2")
    // no Tables.spread here: the map-side combine makes the scan's own
    // split count the only parallelism that matters (a corpus-scale
    // source has natural splits; a one-file bench corpus does
    // |anchors|·|corpus| dot loops serially faster than one exchange)
    val b = fixedPoint(base, col(idCol).as("vid"), vecCol, "bx", "bn2")
    val pos = broadcast(q).crossJoin(b)
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        fpCosine(intDot(col("qx"), col("bx")), col("qn2"), col("bn2")).as("cosine"))
      .groupBy(col("qid"))
      .agg(graft.functions.ArgExtremum.maxScoreMinId(
        col("cosine"), col("vid")).as("top"))
      .filter(col("top").getField("score") >= lit(posMinCosine))
      .select(col("qid").as("anchor_id"), lit("pos").as("role"),
        lit(0L).as("draw"), col("top").getField("id").as("other_id"),
        col("top").getField("score").as("cosine"))
    val n = graft.core.Caches.count(base)
    val draws = anchors.select(col(idCol).as("anchor_id"),
        explode(sequence(lit(1L), lit(negPerAnchor.toLong))).as("draw"))
      .withColumn("seq", pmod(graft.functions.TextMetrics.hash60(
        concat_ws(":", lit(salt), col("anchor_id").cast(StringType),
          col("draw").cast(StringType))), lit(n)) + lit(1L))
    val negs = Sharding.shuffleOrderAt(base, draws, salt = s"$salt:rank", idCol)
      .filter(col(idCol) =!= col("anchor_id"))
      .select(col("anchor_id"), lit("neg").as("role"), col("draw"),
        col(idCol).as("other_id"), lit(null).cast(DoubleType).as("cosine"))
    pos.unionByName(negs)
  }

  /** Persist a trained IVF index — the ANN trainer→server handoff
    * ([[kmeansModelSave]] precedent, extended from the model to the
    * whole index): `path/centroids` holds the nCells × dims Lloyd
    * centroids (tiny, one file), `path/postings` holds [[ivfIndex]]'s
    * postings WRITTEN PARTITIONED BY CELL — the layout IS the index: a
    * serve-time probe of `nProbe` cells touches only those directories
    * (dynamic partition pruning against the broadcast query side), so the
    * corpus fraction read per query batch is ≈ nProbe/nCells at any
    * corpus size, without re-training or re-assigning anything. A serve
    * against the saved index runs [[ivfTopK]]'s own probe and re-rank over
    * the same pieces, so it returns bit-identical top-k (equivalence-
    * tested).
    *
    * `metaCols` names extra base columns to persist alongside each
    * posting (language, source, license, timestamp …) — the substrate
    * of FILTERED retrieval: a serve-time predicate over these columns
    * runs INSIDE the pruned postings scan (parquet pushdown + row-group
    * min/max skipping on top of the cell DPP), so filtered top-k never
    * rescans-then-filters. */
  def ivfIndexSave(base: DataFrame, path: String, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaCols: Seq[String] = Nil): Unit = {
    import base.sparkSession.implicits._
    require(!metaCols.exists(Set("vid", "bv", "cell")),
      s"metaCols collide with index columns: $metaCols")
    val (centroids, postings) = ivfIndex(base, nCells, idCol, vecCol, metaCols)
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    postings.write.partitionBy("cell").mode("overwrite").parquet(s"$path/postings")
  }

  /** The schema [[ivfIndexSave]] writes its centroids with. */
  private val IvfCentroidsSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType))))

  /** Load an [[ivfIndexSave]] index → (centroids cell-ordered — empty
    * cells keep their empty row, preserving the cell-id space — and the
    * postings frame (vid, bv, cell) with `cell` a PARTITION column, so
    * any filter or join on it prunes at the file listing). The centroid
    * dump reads with the writer's schema (no schema-inference job) and is
    * refused unless its cell ids are exactly 0..n−1. */
  def ivfIndexLoad(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Double]], DataFrame) = {
    val rows = readModel(spark, s"$path/centroids", IvfCentroidsSchema)
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    (cellOrdered(rows, s"IVF centroids at $path/centroids"),
      spark.read.parquet(s"$path/postings"))
  }

  /** Collect a small model dump with the writer's `schema` — no
    * schema-inference job — refusing rows with a missing field (a dump
    * without one of the schema's columns reads it as null). */
  private def readModel(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: StructType): Seq[org.apache.spark.sql.Row] = {
    val rows = spark.read.schema(schema).parquet(path).collect().toSeq
    require(rows.forall(r => !r.anyNull),
      s"model dump at $path has rows without ${schema.fieldNames.mkString(", ")}")
    rows
  }

  /** `rows` (cell id, entry) as an array indexed by cell id, refusing ids
    * that are not exactly 0..n−1: positions ARE the cell ids downstream,
    * so a missing, repeated or extra row would silently shift them. */
  private def cellOrdered[T: scala.reflect.ClassTag](rows: Seq[(Int, T)],
      what: String): Array[T] = {
    val ids = rows.map(_._1).sorted
    require(ids.nonEmpty && ids == ids.indices,
      s"$what: cell ids must be exactly 0..n−1, got ${ids.mkString(",")}")
    rows.sortBy(_._1).map(_._2).toArray
  }

  /** Approximate top-k served from a SAVED index — [[ivfTopK]]'s probe
    * and re-rank ([[ivfSearch]]) over the [[ivfIndexSave]] dump instead
    * of a session-built index: queries probe their `nProbe` best cells
    * against the loaded centroid literals (map-only), and the postings
    * join is a broadcast-probe whose cell keys dynamically prune the
    * partitioned postings scan — the unprobed corpus is never READ, not
    * just never scored. Bit-identical to [[ivfTopK]] at the same
    * geometry.
    *
    * FILTERED retrieval: `predicate` (over [[ivfIndexSave]] `metaCols`)
    * restricts the candidate set to matching postings — top-k among the
    * predicate-true rows of the probed cells, the standard filtered-ANN
    * contract at fixed probe geometry (equal, row-for-row, to filtering
    * the postings first and serving the remainder — equality-tested).
    * The predicate lands ON THE POSTINGS SCAN (parquet pushdown +
    * row-group min/max skipping inside the DPP-pruned cells), never as
    * a rescan-then-filter; a highly selective predicate trades recall —
    * raise `nProbe` to compensate, exactly as with a shrinking cell. */
  def ivfServeTopK(queries: DataFrame, spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicate: Option[Column] = None): DataFrame = {
    val (centroids, postings) = ivfIndexLoad(spark, path)
    ivfSearch(queries, centroids, predicate.fold(postings)(postings.filter),
      k, nProbe, idCol, vecCol)
  }

  /** [[topKRecallBand]] over [[ivfTopK]] with the exact dual SHARED — the
    * driver-visible gate for IVF (q45), the [[sharedDualBand]] over
    * [[ivfProbe]]'s candidates: the hub warms while the Lloyd trainer
    * collects. The candidate broadcast is the probed fraction of the
    * corpus per query (|Q|·|B|·nProbe/nCells id pairs). */
  def ivfRecallBand(queries: DataFrame, base: DataFrame, k: Int,
      minRecall: Double, nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    sharedDualBand(queries, base, k, minRecall, idCol, vecCol) {
      val (centroids, postings) = ivfIndex(base, nCells, idCol, vecCol)
      ivfProbe(queries, centroids, postings, nProbe, idCol, vecCol)
    }

  /** Deterministic one-step Lloyd training shared by [[ivfTopK]] and
    * [[semanticDedup]]: initial cells from a hash of the vector id,
    * centroids = per-cell means computed with EXACT fixed-point integer
    * sums (order-independent, so the centroids — and every operator built
    * on them — are reproducible run to run despite float math and shuffle
    * order). Centroids (nCells × dims, tiny) collect to the driver — a
    * legitimate driver literal, like the SRP hyperplanes. */
  private def lloydCentroids(base: DataFrame, nCells: Int,
      idCol: String, vecCol: String): Array[Array[Double]] =
    graft.core.Caches.memo(
      memoKey(base, "lloydCentroids", nCells, idCol, vecCol), "trainer")(
      lloydCentroidsJob(base, nCells, idCol, vecCol))

  /** Plan-keyed memo handle for a driver-side trainer: the key DataFrame
    * is the trainer's input plan plus one literal column encoding the
    * trainer name and parameters, so [[graft.core.Caches.memo]] (keyed on
    * the canonical analyzed plan) caches one result per DISTINCT
    * (input, trainer, params) — a warm re-run or a sibling operator over
    * the same corpus reuses the collected centroids/codebooks instead of
    * re-running the training job. Same lifetime contract as the hub
    * stats memo: cleared by unpersistAll at corpus boundaries. */
  private def memoKey(df: DataFrame, tag: String, params: Any*): DataFrame =
    df.withColumn("__graft_memo", lit((tag +: params).mkString(":")))

  private def lloydCentroidsJob(base: DataFrame, nCells: Int,
      idCol: String, vecCol: String): Array[Array[Double]] = {
    // keyed fill (never positional): a hash-empty cell keeps an empty
    // centroid instead of shifting every later cell's index
    val out = Array.fill(nCells)(Array.empty[Double])
    for ((_, cell, sm, c) <- cellSums(
        lloydRows(graft.core.Tables.spread(base), nCells, idCol, vecCol)))
      out(cell) = Array.tabulate(sm.length)(i => sm(i).toDouble / c(i).toDouble)
    out
  }

  /** The Lloyd trainer's input: each row's hash-seeded cell and its
    * fixed-point vector `fx`, tagged subspace `s` = −1 (the IVF-PQ
    * trainer's tag for its coarse cells). */
  private def lloydRows(df: DataFrame, nCells: Int, idCol: String,
      vecCol: String): DataFrame =
    df.select(lit(-1).as("s"),
      pmod(xxhash64(col(idCol), lit("ivf")), lit(nCells)).cast(IntegerType).as("cell"),
      fixedPointVec(col(vecCol)).as("fx"))

  /** Exact per-(s, cell) integer sums of the `fx` vectors and their
    * per-position row counts (counting null components too, which the
    * sums skip), collected as (s, cell, sums, counts); groups with no
    * non-null vector drop out. Vectors aggregate WHOLE
    * ([[graft.functions.SumLongArray]] — one long[] buffer per group,
    * element-wise add per row): the exploded per-component dual
    * multiplies the aggregation input by `dims` for the same combine
    * state, and the sums are exact integers either way. */
  private def cellSums(rows: DataFrame): Seq[(Int, Int, Seq[Long], Seq[Long])] = {
    import graft.functions.ArrayAgg.sumLongArray
    rows.groupBy(col("s"), col("cell"))
      .agg(sumLongArray(col("fx")).as("sm"),
        sumLongArray(transform(col("fx"), _ => lit(1L))).as("c"))
      .collect().toSeq.filter(!_.isNullAt(2))
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2), r.getSeq[Long](3)))
  }

  /** Multi-iteration Lloyd k-means CLUSTER ASSIGNMENT over an embedding
    * corpus — the standalone topic-clustering primitive (cluster-balanced
    * sampling, per-topic curation stats, SemDeDup's coarse step exposed
    * as its own operator), EXACT across engines: vectors quantize to the
    * shared fixed-point grid (×2¹⁵, floor — float→double is exact, the
    * power-of-two scale is exact, q41's established recipe), seeds are
    * the engine-portable content-hash cells (`pmod(hash60(id), k)`), and
    * each iteration's centroid is the ELEMENT-WISE FLOORED integer mean
    * (`floor(s/c)` — |s| < 2⁵³ keeps the double division correctly
    * rounded and the floor exact on any engine; floored means cost one
    * half-step of quantization and buy bit-identical centroids).
    * Distances compare as pure integers (argmin of `‖m‖² − 2·x·m`, the
    * `‖x‖²`-free form — same argmin, no per-row norm), ties break to the
    * smallest cell id, so the full trajectory — every assignment of
    * every iteration — is deterministic and a serial SQL engine
    * reproduces it bit-for-bit.
    *
    * Plan shape: one persisted quantized base (scan once); per iteration
    * ONE whole-vector aggregation ([[graft.functions.SumLongArray]] — k
    * cells × dims longs of combine state, never an explode) collecting
    * k·dims longs to the driver (the [[lloydCentroids]] contract: the
    * centroid table is the ONLY driver-sized thing, bounded by
    * parameters, not the corpus); assignment is a map-only codegen dot
    * per cell against embedded primitive literals. The iteration loop is
    * a driver loop over tiny collects — memoized per (input, k, iters)
    * so warm re-runs skip straight to the final map-only assignment.
    * Empty cells drop out of the centroid set and simply cannot win
    * (hash seeding over a real corpus fills all k; a cell emptied by
    * drift stays empty — standard Lloyd behavior, deterministic). */
  def kmeansAssignFp(vectors: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = kmeansBase(vectors, k, idCol, vecCol)
    val cents = kmeansCentroidsFp(vectors, k, iters, idCol, vecCol)
    assignToCells(base, cents)
      .select(col("id").as(idCol), col("cell").as("cluster"))
  }

  /** Per-cluster DISTANCE OUTLIERS of the k-means model — the
    * data-pruning audit (SSL-prototype / CLIP-filter style: the farthest
    * members of each cluster are its least prototypical examples — the
    * prune/review candidates; the distance dual of [[semanticDedup]],
    * which keeps the closest): for each vector its assigned cluster and
    * EXACT integer squared distance `d2 = ‖x − m‖²` to the trained
    * centroid (fixed-point grid, so d2 is engine-reproducible), then the
    * `topPerCell` farthest per cluster, ranked `d2` desc with vec-id
    * ties. Shares [[kmeansCentroidsFp]]'s memoized trainer — running
    * assignment and outliers over one corpus trains once.
    *
    * Scale shape: scoring is map-only against centroid literals (one
    * codegen dot per cell + one ‖x‖² per row); the only shuffle is the
    * per-cluster rank window — parallel across cells, so with small k
    * each reducer sorts ~n/k rows: at extreme corpus sizes pre-filter
    * with a distance threshold from a sample, or raise k (the window is
    * the q07 top-k-per-group pattern, documented envelope). */
  def kmeansOutliersFp(vectors: DataFrame, k: Int, iters: Int = 3,
      topPerCell: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(topPerCell > 0, s"topPerCell must be positive: $topPerCell")
    val base = kmeansBase(vectors, k, idCol, vecCol)
    val cents = kmeansCentroidsFp(vectors, k, iters, idCol, vecCol)
    // full distance, not the argmin shortcut: d2 = ‖m‖² − 2·x·m + ‖x‖²,
    // all exact BIGINT (|m|,|x| ≤ 2¹⁶ over ≤2²⁰ dims); array_sort on
    // (d2, cell) structs keeps the family's min-cell tie rule
    val scored = array(cents.map { case (j, m) =>
      val mm = m.map(v => v * v).sum
      struct((lit(mm) - lit(2L) * graft.functions.ArrayMath.dotLong(col("x"),
          graft.functions.ArrayMath.longArrayLit(m)) + col("__xx")).as("d2"),
        lit(j).as("cell"))
    }: _*)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("d2").desc, col(idCol))
    base
      .withColumn("__xx", graft.functions.ArrayMath.dotLong(col("x"), col("x")))
      .withColumn("best", element_at(array_sort(scored), 1))
      .select(col("id").as(idCol), col("best.cell").as("cluster"),
        col("best.d2").as("d2"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= topPerCell)
  }

  /** The trained centroids of [[kmeansAssignFp]] as a driver value
    * (`(cell, fixed-point centroid)` pairs) — for serving paths that
    * score NEW vectors against a batch-trained model ([[kmeansServe]]).
    * Memoized per (input plan, k, iters): one training run per corpus
    * per session. */
  def kmeansCentroidsFp(vectors: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Array[Long])] = {
    require(k > 0, s"k must be positive: $k")
    require(iters >= 1 && iters <= 16, s"iters out of range: $iters")
    graft.core.Caches.memo(
      memoKey(vectors, "kmeansFp", k, iters, idCol, vecCol), "trainer")(
      kmeansJob(kmeansBase(vectors, k, idCol, vecCol), iters))
  }

  /** Stateless nearest-centroid SERVING against trained centroids — the
    * streaming dual of [[kmeansAssignFp]]'s assignment step: pure Column
    * expressions (quantize + one codegen dot per cell against embedded
    * primitive literals), no shuffle, no state, so the SAME code scores
    * a batch frame or any streaming micro-batch (the
    * [[graft.ext.Dedup.flagNearDups]] gate pattern). Appends `cluster`;
    * null vectors get a null cluster (total pass). Rows keep all input
    * columns. */
  def kmeansServe(vectors: DataFrame, centroids: Seq[(Int, Array[Long])],
      vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "kmeansServe needs at least one centroid")
    // quantize ONCE into a real column — inlining it into nearestCell
    // would re-run the transform once per centroid (the flagNearDups
    // __graft_nd_hs rationale)
    vectors.withColumn("__graft_km_x", fixedPointVec(col(vecCol)))
      .withColumn("cluster",
        when(col(vecCol).isNotNull,
          nearestCell(col("__graft_km_x"), centroids)))
      .drop("__graft_km_x")
  }

  /** Persist a trained centroid set ([[kmeansCentroidsFp]] output) as a
    * parquet model dump `(cell INT, centroid ARRAY<BIGINT>)` — the
    * handoff between the batch trainer and a [[kmeansServe]] consumer in
    * another session (the YAML `kmeans_serve` stage loads exactly this).
    * k·dims integers — driver-sized by the trainer's own contract. */
  def kmeansModelSave(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Int, Array[Long])], path: String): Unit = {
    import spark.implicits._
    centroids.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** The schema [[kmeansModelSave]] writes with. */
  private val KmeansModelSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(LongType))))

  /** Load a [[kmeansModelSave]] dump, cell-ordered, read with the
    * writer's schema (no schema-inference job). */
  def kmeansModelLoad(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Array[Long])] =
    readModel(spark, path, KmeansModelSchema)
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq

  private def kmeansBase(vectors: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame =
    graft.core.Caches.persist(
      graft.core.Tables.spread(vectors).filter(col(vecCol).isNotNull)
        .select(col(idCol).as("id"), fixedPointVec(col(vecCol)).as("x"),
          pmod(graft.functions.TextMetrics.hash60(col(idCol).cast(StringType)),
            lit(k.toLong)).cast(IntegerType).as("cell")))

  private def kmeansJob(base: DataFrame, iters: Int): Seq[(Int, Array[Long])] = {
    import graft.functions.ArrayAgg.sumLongArray
    var assign = base.select(col("id"), col("x"), col("cell"))
    var cents: Seq[(Int, Array[Long])] = Nil
    for (_ <- 1 to iters) {
      val rows = assign.groupBy(col("cell"))
        .agg(sumLongArray(col("x")).as("s"),
          sumLongArray(transform(col("x"), _ => lit(1L))).as("c"))
        .collect()
      cents = rows.toSeq.collect {
        case r if !r.isNullAt(1) =>
          val s = r.getSeq[Long](1); val c = r.getSeq[Long](2)
          r.getInt(0) -> Array.tabulate(s.length)(i =>
            math.floor(s(i).toDouble / c(i).toDouble).toLong)
      }.sortBy(_._1)
      assign = assignToCells(base, cents)
    }
    cents
  }

  /** Map-only nearest-centroid assignment: argmin of the ‖x‖²-free
    * integer distance, ties to the smallest cell id (array_sort over
    * (d, cell) structs). */
  private def assignToCells(base: DataFrame,
      cents: Seq[(Int, Array[Long])]): DataFrame =
    base.select(col("id"), col("x"),
      nearestCell(col("x"), cents).as("cell"))

  private def nearestCell(x: Column,
      cents: Seq[(Int, Array[Long])]): Column = {
    val scored = array(cents.map { case (j, m) =>
      val mm = m.map(v => v * v).sum
      struct((lit(mm) - lit(2L) * graft.functions.ArrayMath.dotLong(x,
        graft.functions.ArrayMath.longArrayLit(m))).as("d"),
        lit(j).as("cell"))
    }: _*)
    element_at(array_sort(scored), 1).getField("cell")
  }

  /** Per-cell cosine scores against literal centroids — one codegen'd dot
    * per cell, map-only; sorted (score, cell) structs so argmax/top-m are
    * array ops. */
  private def cellScores(vec: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.indices.map(c =>
      struct(ArrayMath.cosine(vec, ArrayMath.doubleArrayLit(centroids(c))).as("s"), lit(c).as("cell"))): _*)

  /** The `m` best cells of `vec`, best first, as (s, cell) structs — the
    * family's one cell probe. */
  private def topCells(vec: Column, centroids: Array[Array[Double]], m: Int): Column =
    slice(reverse(array_sort(cellScores(vec, centroids))), 1, m)

  /** The argmax-cosine cell of `vec` — where an index files a vector. */
  private def homeCell(vec: Column, centroids: Array[Array[Double]]): Column =
    element_at(topCells(vec, centroids, 1), 1).getField("cell")

  /** The ids of the `nProbe` best cells of `vec` — what a query probes. */
  private def probeCells(vec: Column, centroids: Array[Array[Double]],
      nProbe: Int): Column =
    transform(topCells(vec, centroids, nProbe), _.getField("cell"))

  /** Semantic deduplication (the SemDeDup recipe): cluster the embedding
    * space coarsely, then compare ONLY co-clustered vectors — near-dup
    * pairs above `minCosine` merge into transitive groups and each group
    * elects a min-id canonical. The cluster step is what makes
    * embedding-level corpus dedup scale: candidate volume is Σ|cell|²
    * instead of |corpus|², and cells shrink as nCells grows.
    *
    * Determinism: centroids are exact-integer Lloyd means
    * ([[lloydCentroids]]), assignment is fixed-point cosine argmax, and
    * the verify score is [[exactCosinePairs]]' own [[fpCosine]] —
    * bit-identical pairs run to run.
    *
    * Output: one row per non-null input vector — (id, cell,
    * `sem_canonical_id`, `keep`). Exact vector copies collapse before
    * pairing (the same rep trick as [[annLshPairs]]) and share their
    * rep's fate; copies of a zero vector stay singletons (the exact dual
    * scores identical zero vectors 0.0, below any threshold).
    *
    * Approximation contract (like q42/q45): pairs whose members share
    * NONE of their `nProbe` nearest cells are missed — within a shared
    * cell the pairing is exhaustive and exact. Multi-probe is the recall
    * lever (SemDeDup proper assigns once; a 1-step Lloyd from hashed
    * seeds needs the wider net): candidate volume grows ≤ nProbe² while
    * recall approaches the brute-force dual. ScalaTest gates assert
    * precision 1 against the all-pairs dual plus shared-cell
    * completeness; recall is the co-probing rate. */
  def semanticDedup(base: DataFrame, minCosine: Double, nCells: Int = 16,
      nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = lloydCentroids(base, nCells, idCol, vecCol)
    // exact-copy collapse; rep carries probe cells + fixed-point view.
    // cells[0] is the primary (argmax) cell reported in the output.
    val hub = graft.core.Caches.persist(copyGroups(base, idCol, vecCol)
      .withColumn("cells", probeCells(col("v"), centroids, nProbe))
      .select(col("rep"), col("members"), col("cells"), col("x"), col("n2")))

    // candidates: reps sharing ANY probed cell (distinct'd — a pair can
    // meet in up to nProbe cells); exhaustive within each cell. The
    // banded side sits behind a Generate — shuffle_hash pin as in
    // annLshPairs.
    val banded = hub.select(col("rep"), explode(col("cells")).as("cell"))
    val cand = banded.select(col("cell"), col("rep").as("i"))
      .join(banded.select(col("cell"), col("rep").as("j")).hint("shuffle_hash"),
        Seq("cell"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"))
      .distinct()

    // exact fixed-point verify — the same expression family as the dual
    val pairs = verifyPairs(cand
      .join(pairSide(hub, "rep", "i").hint("shuffle_hash"), Seq("i"))
      .join(pairSide(hub, "rep", "j").hint("shuffle_hash"), Seq("j")), minCosine)
      .select(col("i"), col("j"))

    // copy-groups whose self-cosine clears the threshold merge internally
    // even when their rep pairs with nothing (n2 > 0 ⟺ self-cosine ≈ 1.0
    // under the dual's sqrt·sqrt expression ≥ any threshold ≤ 1)
    val comps = Dedup.clusterPairs(pairs)
      .select(col("id").as("rep"), col("cluster_id"))
    hub.select(col("rep"), col("members"),
        element_at(col("cells"), 1).as("cell"), col("n2"))
      .join(comps, Seq("rep"), "left")
      .select(explode(col("members")).as(idCol), col("cell"),
        when(col("n2") === 0, lit(null).cast(LongType))
          .otherwise(coalesce(col("cluster_id"), col("rep"))).as("rep_canonical"),
        col("n2"))
      .select(col(idCol), col("cell").cast(LongType).as("cell"),
        coalesce(col("rep_canonical"), col(idCol)).as("sem_canonical_id"))
      .withColumn("keep", col("sem_canonical_id") === col(idCol))
  }

  /** IVF centroids + PQ codebooks from ONE corpus scan and ONE Spark job.
    * The codebooks are `m` subspaces × `ksub` centroids × `dims/m`
    * components, trained on UNIT-normalized vectors with the
    * [[lloydCentroids]] recipe (hash-seeded cells, exact fixed-point
    * integer means) — residual-free (codes quantize the vector itself,
    * not the IVF residual), simpler and fully deterministic; empty cells
    * become zero centroids (never the argmin for a unit vector against a
    * populated cell). The [[lloydCentroids]] rows tag as subspace −1
    * alongside the subspace rows, union into one (s, cell) aggregate, and
    * split on the tag after the single collect: each (s, cell) group
    * receives exactly the rows a trainer of its own would, and the sums
    * are exact integers, but the corpus is read once and the driver waits
    * on one job. */
  private def trainIvfPq(base: DataFrame, nCells: Int, m: Int, ksub: Int,
      dims: Int, idCol: String, vecCol: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    graft.core.Caches.memo(
      memoKey(base, "trainIvfPq", nCells, m, ksub, dims, idCol, vecCol), "trainer")(
      trainIvfPqJob(base, nCells, m, ksub, dims, idCol, vecCol))

  private def trainIvfPqJob(base: DataFrame, nCells: Int, m: Int, ksub: Int,
      dims: Int, idCol: String, vecCol: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val subdim = dims / m
    // deliberately NOT spread(): the per-row trainer work (one fixed-point
    // projection + m subvector slices) is far cheaper than the repartition
    // shuffle spread() inserts on a single-file local source (measured
    // 0.54 s → 0.21 s on the sf0.1 collect), and at production scale the
    // source has real partitions and spread() is a no-op anyway — the
    // partial aggregation parallelizes with the scan either way
    val pqRows = withUnit(base.filter(col(vecCol).isNotNull), vecCol, "__u")
      .select(col(idCol).as("id"), posexplode(array((0 until m).map(s =>
        slice(col("__u"), s * subdim + 1, subdim)): _*)).as(Seq("s", "sub")))
      .select(col("s"),
        pmod(xxhash64(col("id"), lit("pq"), col("s")), lit(ksub))
          .cast(IntegerType).as("cell"),
        fixedPointVec(col("sub")).as("fx"))
    val cents = Array.fill(nCells)(Array.empty[Double])
    val cb = Array.fill(m, ksub)(Array.fill(subdim)(0.0))
    for ((s, cell, sm, c) <- cellSums(
        lloydRows(base, nCells, idCol, vecCol).unionByName(pqRows))) {
      if (s == -1)
        cents(cell) = Array.tabulate(sm.length)(i => sm(i).toDouble / c(i).toDouble)
      else
        // ÷ 32768: the exact integer sums are in fixedPointVec's 2¹⁵
        // scale, but ADC distances are computed against RAW unit
        // subvectors — and unlike the IVF path's cosine, L2 is not
        // scale-invariant
        cb(s)(cell) = Array.tabulate(sm.length)(i => sm(i).toDouble / (c(i).toDouble * 32768.0))
    }
    (cents, cb)
  }

  /** x / ‖x‖ in double (zero vector stays zero) — PQ trains and encodes in
    * unit space so ADC L2 order matches cosine order
    * (‖a−b‖² = 2 − 2·cos for unit vectors).
    *
    * NEVER inline this into a consumer expression: higher-order-function
    * lambdas are interpreted PER ELEMENT, so a norm kept inside the
    * lambda re-folds the whole vector for every component — O(dims²)
    * interpreted work per evaluation, and a consumer like [[pqCodeCols]]
    * evaluates its input once per (subspace, centroid). [[withUnit]]
    * materializes the unit vector as a REAL COLUMN with the norm hoisted
    * to a per-row value first — O(dims) once per row — and CollapseProject
    * keeps it materialized (a multiply-referenced non-cheap alias is never
    * re-substituted into its consumers). */
  private def unitVec(vec: Column, n: Column): Column =
    when(n === 0.0, transform(vec, _ => lit(0.0)))
      .otherwise(transform(vec, x => x.cast(DoubleType) / n))

  /** `df` plus `as` = the unit-normalized view of `vecCol` (norm hoisted —
    * see [[unitVec]]). */
  private def withUnit(df: DataFrame, vecCol: String, as: String): DataFrame = {
    val tmp = as + "__n"
    df.withColumn(tmp, sqrt(ArrayMath.dotDouble(col(vecCol), col(vecCol))))
      .withColumn(as, unitVec(col(vecCol), col(tmp)))
      .drop(tmp)
  }

  /** Per subspace s, per codeword c of `cb`: c·c − 2·u_s·c over the unit
    * vector `unit` — ‖u_s−c‖² with the row-constant u_s·u_s dropped, one
    * codegen'd dot per (subspace, codeword). The one ADC distance: base
    * vectors encode with it ([[pqCodeCols]]) and queries tabulate it
    * ([[adcDtab]]), so the two sides can never diverge. */
  private def pqDists(unit: Column, cb: Array[Array[Array[Double]]]): Seq[Seq[Column]] = {
    val subdim = cb(0)(0).length
    cb.indices.map { s =>
      val sub = slice(unit, s * subdim + 1, subdim)
      cb(s).toSeq.map(c => lit(c.map(x => x * x).sum) -
        lit(2.0) * ArrayMath.dotDouble(sub, ArrayMath.doubleArrayLit(c)))
    }
  }

  /** PQ code per subspace: the [[pqDists]] argmin, deterministic tie-break
    * on the code index via the sorted (d, c) struct. Map-only. */
  private def pqCodeCols(unit: Column, cb: Array[Array[Array[Double]]]): Column =
    array(pqDists(unit, cb).map { ds =>
      val scored = array(ds.zipWithIndex.map { case (d, c) =>
        struct(d.as("d"), lit(c).as("c")) }: _*)
      element_at(array_sort(scored), 1).getField("c").cast(LongType)
    }: _*)

  /** Flattened per-query ADC distance table over `__u` (the unit-vector
    * column): entry s·ksub+c is [[pqDists]]' (s, c) — rank-preserving. */
  private def adcDtab(cb: Array[Array[Array[Double]]]): Column =
    array(pqDists(col("__u"), cb).flatten: _*)

  /** ADC score of a `code` array against a `dtab` column: m array
    * lookups per candidate pair — no per-pair vector math. */
  private def adcScore(m: Int, ksub: Int): Column =
    (0 until m).map(s =>
      element_at(col("dtab"),
        (lit(s * ksub) + element_at(col("code"), s + 1) + 1).cast(IntegerType)))
      .reduce(_ + _)

  /** IVF-PQ approximate top-k — the memory-bandwidth scale path for ANN
    * over a corpus whose raw vectors no longer fit hot storage:
    *
    *  1. '''Coarse cells''' ([[lloydCentroids]], as [[ivfTopK]]): each base
    *     vector lands in its argmax-cosine cell; queries probe `nProbe`.
    *  2. '''PQ encode''': each base vector compresses to `m` codebook
    *     indices (unit-space subvector argmins) — at m=8, 8 longs instead
    *     of `dims` floats; the candidate stage carries ONLY these codes.
    *  3. '''ADC''': each query precomputes its distance table (m·ksub
    *     codegen'd dots against the literal codebooks, once per query) and
    *     scores candidates with `m` array lookups per pair — no per-pair
    *     vector math, which is the whole point at 10⁹+ candidates.
    *  4. '''Refine''': the ADC-best `refine` per query join back to raw
    *     vectors (a refine·|Q|-row shortlist, never corpus-sized) for exact
    *     fold-cosine re-rank → top `k`.
    *
    * Approximate by construction (cell recall × PQ distortion) → rows-only
    * correctness with a ScalaTest recall gate against [[bruteForceTopK]],
    * like q42/q45. Deterministic end to end: hash-seeded integer-mean
    * codebooks, tie-broken argmins, exact re-rank order (cosine, vid).
    *
    * Tuning rule (measured on the 10× scale smoke): `refine` must scale
    * with the probed candidate volume `nProbe·|B|/nCells` (≈2.5% of it,
    * floored at 32) — a FIXED shortlist depth starves recall as the
    * corpus grows, because the true neighbors are in the probed cells
    * but sink below a constant ADC cut. */
  def pqTopK(queries: DataFrame, base: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, nCells: Int = 16, nProbe: Int = 4,
      refine: Int = 32, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(refine >= k, s"refine=$refine must be at least k=$k")
    val (centroids, cb, postings) = pqIndex(base, nCells, m, ksub, dims, idCol, vecCol)
    // in session the raw vectors are the base itself: the refine joins on
    // vid alone and never re-derives a cell for the corpus
    pqRefine(queries,
      pqShortlist(queries, centroids, cb, postings, nProbe, refine, idCol, vecCol),
      base.select(col(idCol).as("vid"), col(vecCol).as("bv")), Seq("vid"),
      k, refine, idCol, vecCol)
  }

  /** An IVF-PQ index built in session: [[trainIvfPq]]'s centroids and
    * codebooks, and the postings (vid, bv, cell, code, metaCols…) — every
    * non-null base vector under its argmax-cosine cell with its PQ codes
    * ([[pqCodeCols]] over the unit vector). [[pqIndexSave]] writes exactly
    * this and [[pqIndexLoad]] reads it back.
    *
    * spread() is KEPT on the encode side (unlike the trainer): pqCodeCols
    * is m·ksub codebook dots plus m struct sorts per row — heavy enough
    * that parallelizing a single-file local source beats the repartition
    * it costs (measured 0.78 → 0.97 s without it). The unit vector is a
    * materialized column (see [[unitVec]]) so the codebook dots read a
    * plain array, not a re-normalizing lambda. */
  private def pqIndex(base: DataFrame, nCells: Int, m: Int, ksub: Int, dims: Int,
      idCol: String, vecCol: String, metaCols: Seq[String] = Nil)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val (centroids, cb) = trainIvfPq(base, nCells, m, ksub, dims, idCol, vecCol)
    val postings = withUnit(graft.core.Tables.spread(base)
        .filter(col(vecCol).isNotNull), vecCol, "__u")
      .select(Seq(col(idCol).as("vid"), col(vecCol).as("bv"),
        homeCell(col(vecCol), centroids).as("cell"),
        pqCodeCols(col("__u"), cb).as("code")) ++ metaCols.map(col): _*)
    (centroids, cb, postings)
  }

  /** The ADC stage of an IVF-PQ index, wherever its pieces come from:
    * probe, ADC-score, and cut to the `refine` best (qid, vid, cell) per
    * query — WITHOUT the exact re-rank. Shared by [[pqTopK]] and
    * [[pqServeTopK]] (which re-rank against raw vectors, [[pqRefine]])
    * and [[pqRecallBand]] (which re-ranks from the gate's exact-pair hub).
    *
    * The query side carries its probed cells and ADC distance table
    * ([[adcDtab]] — flattened m·ksub doubles), the unit vector dropped
    * before the join; the postings side is read for (vid, cell, code)
    * only. The shortlist stream carries (qid, vid, cell, adc) — never a
    * vector, which would otherwise ride the window shuffle once per
    * CANDIDATE. No pair dedup is needed: a base vector lands in exactly
    * ONE cell and a query's probed cells are distinct, so a (qid, vid)
    * pair meets in at most one joined row. The cell key is kept for a
    * served refine, whose (cell, vid) join prunes its postings read the
    * way the probe pruned this one. */
  private def pqShortlist(queries: DataFrame, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Double]]], postings: DataFrame, nProbe: Int,
      refine: Int, idCol: String, vecCol: String): DataFrame = {
    val q = withUnit(queries.filter(col(vecCol).isNotNull), vecCol, "__u")
      .select(col(idCol).as("qid"), col("__u"),
        explode(probeCells(col(vecCol), centroids, nProbe)).as("cell"))
      .withColumn("dtab", adcDtab(cb))
      .select(col("qid"), col("cell"), col("dtab"))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
    probeJoin(queries, nProbe, postings, q)
      .select(col("qid"), col("vid"), col("cell"), adcScore(cb.length, cb(0).length).as("adc"))
      .withColumn("ra", row_number().over(wAdc))
      .filter(col("ra") <= refine)
      .select(col("qid"), col("vid"), col("cell"))
  }

  /** The exact re-rank of an IVF-PQ shortlist: each shortlisted
    * (qid, vid) fetches its raw vector `bv` from `vectors`, joined on
    * `keys` — (vid) against the base in session, (cell, vid) against
    * saved postings so the shortlist's cells prune that scan — then
    * fold-cosine → top `k`. The shortlist (≤ |Q|·refine slim rows) and
    * the query vectors broadcast and the corpus-sized side streams past
    * them, never shuffled. Both hints get the probe's size gate: the
    * shortlist by the query stat scaled to `refine` (each shortlist row is
    * far narrower than the query row the stat measures, so this
    * over-counts, i.e. degrades early), the query vectors by the raw query
    * stat; past the bound the refine degrades to planned joins — never a
    * driver-OOM collect. */
  private def pqRefine(queries: DataFrame, shortlist: DataFrame,
      vectors: DataFrame, keys: Seq[String], k: Int, refine: Int,
      idCol: String, vecCol: String): DataFrame = {
    val qBytes = statBytes(queries)
    val sl = broadcastIfFits(shortlist.select(("qid" +: keys).map(col): _*),
      qBytes * math.max(1, refine))
    val qVecs = broadcastIfFits(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), qBytes)
    rankTopK(vectors.select((keys :+ "bv").map(col): _*)
      .join(sl, keys)
      .join(qVecs, Seq("qid"))
      .select(col("qid"), col("vid"), foldCosine(col("qv"), col("bv")).as("cosine")), k)
  }

  /** [[topKRecallBand]] over [[pqTopK]] with the exact dual SHARED — the
    * driver-visible gate for IVF-PQ (q122), the [[sharedDualBand]] over
    * [[pqShortlist]]: one |Q|·|B| exact pass instead of two, the hub
    * warming while the IVF-PQ trainer collects, and the shortlist ranked
    * by the hub's scores instead of re-scoring raw vectors. */
  def pqRecallBand(queries: DataFrame, base: DataFrame, k: Int,
      minRecall: Double,
      m: Int = 8, ksub: Int = 16, nCells: Int = 16, nProbe: Int = 4,
      refine: Int = 32, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(refine >= k, s"refine=$refine must be at least k=$k")
    sharedDualBand(queries, base, k, minRecall, idCol, vecCol) {
      val (centroids, cb, postings) = pqIndex(base, nCells, m, ksub, dims, idCol, vecCol)
      pqShortlist(queries, centroids, cb, postings, nProbe, refine, idCol, vecCol)
    }
  }

  /** Persist a trained IVF-PQ index — the last trained artifact to gain
    * the trainer→server handoff ([[ivfIndexSave]] precedent, extended to
    * the compressed-code family): `path/model` holds the coarse IVF
    * centroids (tagged subspace −1) and the m×ksub PQ codebooks (tagged
    * by subspace) as one tiny (s, cell, centroid) parquet — geometry
    * m/ksub/nCells/subdim is IMPLIED by the shapes, so a serve site can
    * never decode with different geometry than the build; `path/postings`
    * holds [[pqIndex]]'s postings (vid, bv, code) WRITTEN PARTITIONED BY
    * CELL — serve-time probes touch only the probed cell directories
    * (dynamic partition pruning), and the raw vector rides the SAME layout
    * so the exact refine stage prunes identically. [[pqServeTopK]] runs
    * [[pqTopK]]'s own shortlist and refine over these pieces, so it is
    * bit-identical to an in-session [[pqTopK]] at the same geometry
    * (equivalence-tested; DOUBLE round-trips parquet exactly). */
  def pqIndexSave(base: DataFrame, path: String, m: Int = 8, ksub: Int = 16,
      nCells: Int = 16, dims: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaCols: Seq[String] = Nil): Unit = {
    import base.sparkSession.implicits._
    require(!metaCols.exists(Set("vid", "bv", "code", "cell")),
      s"metaCols collide with index columns: $metaCols")
    val (centroids, cb, postings) =
      pqIndex(base, nCells, m, ksub, dims, idCol, vecCol, metaCols)
    val modelRows =
      centroids.toSeq.zipWithIndex.map { case (c, i) => (-1, i, c.toSeq) } ++
        (for (s <- 0 until m; c <- 0 until ksub) yield (s, c, cb(s)(c).toSeq))
    modelRows.toDF("s", "cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/model")
    postings.write.partitionBy("cell").mode("overwrite").parquet(s"$path/postings")
  }

  /** The schema [[pqIndexSave]] writes its model with. */
  private val PqModelSchema = StructType(Seq(StructField("s", IntegerType),
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType))))

  /** Load a [[pqIndexSave]] index → (IVF centroids cell-ordered — empty
    * hash cells keep their empty row, preserving the cell-id space
    * exactly as [[ivfIndexLoad]] does — PQ codebooks, and the postings
    * frame (vid, bv, code, cell) with `cell` a PARTITION column). The
    * model reads with the writer's schema (no schema-inference job) and is
    * refused unless its IVF cell ids are exactly 0..n−1 and its subspaces
    * exactly 0..m−1, each with codewords 0..ksub−1 of one length that
    * together span the centroids' dims. */
  def pqIndexLoad(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val rows = readModel(spark, s"$path/model", PqModelSchema)
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val cents = cellOrdered(rows.collect { case (-1, c, v) => c -> v },
      s"IVF centroids at $path/model")
    val books = rows.filter(_._1 != -1).groupBy(_._1)
    val m = books.size
    require(m > 0 && books.keySet == (0 until m).toSet,
      s"PQ subspaces at $path/model must be exactly 0..m−1, got " +
        books.keys.toSeq.sorted.mkString(","))
    val cb = Array.tabulate(m)(s => cellOrdered(books(s).map(r => r._2 -> r._3),
      s"PQ codebook $s at $path/model"))
    require(cb.map(_.length).distinct.length == 1,
      s"PQ codebooks at $path/model differ in size: ${cb.map(_.length).mkString(",")}")
    val lengths = cb.flatten.map(_.length).distinct
    require(lengths.length == 1 && lengths(0) > 0,
      s"PQ codewords at $path/model differ in length: ${lengths.mkString(",")}")
    // an empty cell's centroid is empty; every other one spans the m subspaces
    require(cents.forall(c => c.isEmpty || c.length == m * lengths(0)),
      s"IVF centroids at $path/model do not span $m subspaces of ${lengths(0)}")
    (cents, cb, spark.read.parquet(s"$path/postings"))
  }

  /** IVF-PQ approximate top-k served from a SAVED index — [[pqTopK]]'s
    * shortlist and refine ([[pqShortlist]], [[pqRefine]]) over the
    * [[pqIndexSave]] dump instead of a session-built index: queries probe
    * their `nProbe` best cells against the loaded centroid literals and
    * ADC-score the saved codes, with both postings reads — the code scan
    * AND the raw-vector refine scan — dynamically pruned to the
    * probed/shortlisted cells. Bit-identical to [[pqTopK]] at the same
    * geometry. Filtered retrieval follows the [[ivfServeTopK]] contract:
    * the predicate — over [[pqIndexSave]] metaCols — restricts BOTH
    * postings reads at the parquet scan itself, composing with the cell
    * DPP. */
  def pqServeTopK(queries: DataFrame, spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int, nProbe: Int = 4, refine: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicate: Option[Column] = None): DataFrame = {
    require(refine >= k, s"refine=$refine must be at least k=$k")
    val (centroids, cb, postings0) = pqIndexLoad(spark, path)
    val postings = predicate.fold(postings0)(postings0.filter)
    pqRefine(queries,
      pqShortlist(queries, centroids, cb, postings, nProbe, refine, idCol, vecCol),
      postings, Seq("cell", "vid"), k, refine, idCol, vecCol)
  }

  /** L2 normalization to fixed point — the preprocessing step that turns
    * dot product into cosine for the ANN/index family: component `x_i`
    * maps to `floor((x_fp_i / √(Σ x_fp²)) · 10⁶)` over the exact 16-bit
    * fixed-point components ([[fixedPointVec]]). The zero vector (no
    * direction) maps to all-zero; null vectors pass through null.
    *
    * Determinism: the squared norm is an INTEGER (order-independent sum);
    * `sqrt` and the division are correctly-rounded IEEE ops (the same
    * cross-engine guarantee the fixed-point cosine verify relies on), so
    * unit codes are bit-identical on any engine. A vector CONTAINING a
    * null component has no defined direction and nulls out whole (n2's
    * HOF fold is null, like the ANN family's scoring) — never a partial
    * normalization over the non-null components. Map-only — one
    * projection, no shuffle, linear at any corpus size; the sqrt is
    * hoisted to one per-row column, not one per component. */
  def l2NormalizeFp(base: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withN2 = base
      .withColumn("xf", fixedPointVec(col(vecCol)))
      .withColumn("n2", intDot(col("xf"), col("xf")))
      .withColumn("sn", sqrt(col("n2").cast(DoubleType)))
    withN2
      .withColumn("unit_fp",
        when(col("n2").isNull,
          lit(null).cast(org.apache.spark.sql.types.ArrayType(LongType)))
          .otherwise(when(col("n2") === 0, transform(col("xf"), _ => lit(0L)))
            .otherwise(transform(col("xf"), x =>
              floor((x.cast(DoubleType) / col("sn"))
                * lit(1000000.0)).cast(LongType)))))
      .drop("xf", "sn")
  }

  /** Per-dimension min-max int8 scalar quantization — the 4× compression
    * pass before an embedding index is served (or shipped to a cheaper
    * store): component `x` of dimension `i` maps to
    * `floor((x − mn_i) / (mx_i − mn_i) · 255) − 128  ∈ [−128, 127]`
    * (a constant dimension maps to 0). Null vectors pass through as null
    * (the pass stays total, like [[graft.ext.TextAnalysis.stripMarkup]]).
    *
    * Determinism: floats widen to doubles exactly; the scale expression
    * is the same correctly-rounded IEEE tree on any engine (the
    * [[Search]] discipline), so codes are bit-identical everywhere.
    *
    * Plan shape: exact per-dim ranges need one corpus pass (posexplode →
    * dims-row aggregate); the dims×2 result is a driver literal — the
    * same legitimate tiny-collect as the IVF centroids above — and the
    * quantize itself is map-only with the ranges inlined into codegen.
    * Two scans total, no join back onto the corpus. */
  def quantizeInt8(base: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val stats = base.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x0")))
      .groupBy(col("dim"))
      .agg(min(col("x0").cast(DoubleType)).as("mn"),
        max(col("x0").cast(DoubleType)).as("mx"))
      .orderBy(col("dim")).collect()
    // an all-null dimension has null mn/mx and must stay null (its codes
    // come out null, matching SQL CASE/arithmetic semantics) — getAs would
    // silently unbox null to 0.0
    def statLit(field: String) = array(stats.map { r =>
      if (r.isNullAt(r.fieldIndex(field))) lit(null).cast(DoubleType)
      else lit(r.getAs[Double](field))
    }.toSeq: _*)
    val mnLit = statLit("mn")
    val mxLit = statLit("mx")
    val qvec = transform(col(vecCol), (x, i) => {
      val mn = element_at(mnLit, (i + lit(1)).cast(IntegerType))
      val mx = element_at(mxLit, (i + lit(1)).cast(IntegerType))
      when(mx === mn, lit(0L)).otherwise(
        floor(((x.cast(DoubleType) - mn) / (mx - mn)) * lit(255.0)).cast(LongType)
          - lit(128L))
    })
    base.withColumn("qvec", qvec)
  }
}
