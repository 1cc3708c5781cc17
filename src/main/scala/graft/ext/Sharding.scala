package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output sharding for a training-data pipeline: assign documents to
  * fixed-token-budget shards in a deterministic global order — the
  * sequence-packing step before writing training shards.
  */
object Sharding {

  /** Assign each doc the shard `floor(tokens_before / budget)` where
    * `tokens_before` is the running token total over ascending `idCol` —
    * the exact greedy packing a serial writer would produce (a doc
    * crossing a boundary belongs to the shard its start offset is in).
    *
    * A naive global-window cumsum is a single-partition sort — a driver-
    * sized bottleneck at corpus scale. This is the standard PARALLEL
    * PREFIX SUM instead, three exact steps:
    *
    *  1. bucket docs by id range (`bucketSize` ids per bucket — id-range
    *     bucketing is deterministic, unlike spark_partition_id);
    *  2. per-bucket token totals (tiny: |docs|/bucketSize rows) get a
    *     running offset via a window over BUCKETS — the only global
    *     window, 4096× smaller than the doc table;
    *  3. within-bucket running totals (window partitioned by bucket —
    *     parallel across buckets) plus the broadcast bucket offset give
    *     every doc its exact global prefix sum.
    *
    * Integer arithmetic throughout ⇒ bit-identical to the serial rule. */
  def tokenBudgetShards(docs: DataFrame, budget: Long, bucketSize: Long = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget > 0, "budget must be positive")
    import graft.queries.intDiv
    tokenPrefix(docs, bucketSize, idCol, textCol)
      .withColumn("shard", intDiv(col("tokens_before"), budget))
      .select(col(idCol), col("n_tokens"), col("tokens_before"), col("shard"))
  }

  /** The exact global token prefix sum both [[tokenBudgetShards]] and
    * [[ppsTokenSample]] lay their stream on: `(idCol, n_tokens,
    * tokens_before)` over ascending `idCol`, via the three-step parallel
    * prefix sum documented on [[tokenBudgetShards]]. */
  private def tokenPrefix(docs: DataFrame, bucketSize: Long,
      idCol: String, textCol: String): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    // TRUE integer division throughout (graft.queries.intDiv — Column./
    // on longs is a double divide). Two consumers (offsets aggregate +
    // the final join) → persist, so the corpus is scanned and tokenized
    // once.
    import graft.queries.intDiv
    val toks = graft.core.Caches.persist(docs.select(col(idCol),
      size(split(col(textCol), " ", -1)).cast(LongType).as("n_tokens"),
      intDiv(col(idCol), bucketSize).as("bucket")))
    // 2. running offset per bucket (global window over the TINY bucket table)
    val offsets = bucketOffsets(toks, sum(col("n_tokens")))
    // 3. within-bucket prefix (parallel across buckets) + broadcast offset
    val wdw = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(offsets), Seq("bucket"))
      .withColumn("tokens_before",
        col("bucket_offset") + coalesce(sum(col("n_tokens")).over(wdw), lit(0L)))
      .select(col(idCol), col("n_tokens"), col("tokens_before"))
  }

  /** Probability-proportional-to-size SYSTEMATIC sample without
    * replacement by token mass — "draw `k` documents, each with
    * probability proportional to its token count" (Madow's systematic
    * PPS sampling: the design for subsetting a training corpus where
    * long documents must be proportionally represented — a uniform doc
    * sample under-weights token mass; cutting a uniform TOKEN sample
    * splits documents). Deterministic midpoint rule, no RNG: lay the
    * corpus out as one token stream in ascending `idCol` order (the
    * [[tokenBudgetShards]] layout) and take the `k` stream positions
    * `p_j = floor((2j+1)·total / 2k)`, j = 0..k−1; a document is
    * selected iff its interval `[tokens_before, tokens_before +
    * n_tokens)` contains a pick point. A doc longer than `total/k` can
    * contain several picks — it is emitted ONCE with `n_hits` > 1 (its
    * sampling multiplicity/weight — the textbook systematic-PPS caveat
    * for units above the stride). Null-text docs have no token interval
    * and are never selected.
    *
    * Exactness and scale: pick containment is solved per doc in CLOSED
    * FORM — the contained j-range falls out of two integer ceiling/floor
    * divisions — in DECIMAL(20,0) (`2k·position` overflows BIGINT once
    * `k·total` passes 2⁶³: a 10⁶-doc draw over a 10-trillion-token
    * corpus) with `div` floor-division, bit-identical on any engine.
    * Plan: the shared parallel prefix sum (no global row window), ONE
    * memoized scalar job for the corpus total, then a MAP-ONLY
    * selection — no joins, no broadcasts, nothing driver-sized. */
  def ppsTokenSample(docs: DataFrame, k: Long, bucketSize: Long = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    import graft.queries.intDiv
    val laid = graft.core.Caches.persist(
      tokenPrefix(docs, bucketSize, idCol, textCol))
    val total = graft.core.Caches.memo(laid, "tokenTotal")(java.lang.Long.valueOf(
      laid.agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0))).longValue
    require(total > 0, "corpus has no tokens to sample from")
    val dec = DecimalType(20, 0)
    def d(c: org.apache.spark.sql.Column) = c.cast(dec)
    def fdiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("div", a, b).cast(LongType)
    val t = d(lit(total))
    val twoK = d(lit(2L * k))
    // first pick ≥ start:  p_j ≥ b  ⟺  2j+1 ≥ ceilDiv(2k·b, total)
    val c1 = fdiv(d(col("tokens_before")) * twoK + t - d(lit(1)), t)
    // last pick < start+n:  p_j < b+n  ⟺  2j+1 ≤ floor((2k·(b+n) − 1) / total)
    val m2 = fdiv(d(col("tokens_before") + col("n_tokens")) * twoK - d(lit(1)), t)
    val j1 = intDiv(c1, 2L)
    // long `div` truncates toward zero — m2 = 0 must yield j2 = −1
    // (no pick), not 0; m2 ≥ 1 keeps the operand non-negative
    val j2 = least(when(col("m2") <= 0, lit(-1L))
      .otherwise(intDiv(col("m2") - 1, 2L)), lit(k - 1))
    // n_tokens IS NOT NULL must be explicit: a null-text doc nulls m2/j2,
    // but least() SKIPS nulls (j2 = k−1) while j1 — built from the
    // non-null tokens_before — survives, so the null doc would pass the
    // j-range test and surface with null counts
    laid.withColumn("m2", m2).withColumn("j1", j1).withColumn("j2", j2)
      .filter(col("n_tokens").isNotNull && col("j1") <= col("j2"))
      .select(col(idCol), col("n_tokens"), col("tokens_before"),
        (col("j2") - col("j1") + 1).as("n_hits"))
  }

  /** Concat-and-chunk sequence packing — the batch former of LLM
    * pretraining: lay the corpus out as ONE virtual token stream in
    * deterministic ascending-`idCol` order, then cut the stream into
    * fixed-`seqLen` training windows. Each output row is one (chunk, doc)
    * overlap: chunk `c` owns stream tokens `[c·L, (c+1)·L)`, and a doc
    * whose interval `[start, start+n)` intersects it contributes its
    * doc-relative token span `[tok_from, tok_to)` (0-based half-open).
    * Docs longer than `L` span several chunks; boundary docs split — the
    * standard "concat and chunk" rule, so every chunk except the last is
    * exactly `L` tokens with zero padding.
    *
    * Built on [[tokenBudgetShards]]'s parallel prefix sum (no global
    * single-partition window at any corpus size); the chunk fan-out is a
    * map-side `explode` over the ≤ ceil(n/L)+1 chunks a doc spans —
    * output volume is |docs| + |stream|/L rows, never a join. */
  def packSequences(docs: DataFrame, seqLen: Long, bucketSize: Long = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    import graft.queries.intDiv
    val laid = tokenBudgetShards(docs, seqLen, bucketSize, idCol, textCol)
    // shard = floor(tokens_before / L) is exactly the FIRST spanned chunk;
    // the last is floor((start + n − 1) / L). Spanned chunks are contiguous.
    laid
      .withColumn("chunk_id", explode(sequence(col("shard"),
        intDiv(col("tokens_before") + col("n_tokens") - 1, seqLen))))
      .select(col("chunk_id"), col(idCol),
        greatest(lit(0L), col("chunk_id") * seqLen - col("tokens_before")).as("tok_from"),
        least(col("n_tokens"), (col("chunk_id") + 1) * seqLen - col("tokens_before")).as("tok_to"))
  }

  /** Weighted source mixing — the data-mixing step of a training run:
    * interleave documents from several sources into ONE deterministic
    * global order where source `s` appears `weights(s)` times as often as
    * a weight-1 source (classic stride scheduling: the k-th doc of source
    * `s` sits at integer position `k · (lcm(weights) / weights(s))`; ties
    * break by (source, id)). Sources absent from `weights` are excluded.
    *
    * Positions are PURE INTEGERS (stride = lcm/w is exact), so the order
    * is bit-deterministic on any engine — no float rank keys. The global
    * sequence number is assigned with the same parallel prefix-sum shape
    * as [[tokenBudgetShards]]: position-range buckets → tiny bucket-count
    * table gets the only global window → within-bucket row_number
    * (parallel) + broadcast bucket offset. No single-partition sort at
    * any corpus size.
    *
    * Returns (idCol, srcCol, pos, seq) with `seq` the contiguous 1-based
    * global interleave index. */
  def mixSources(docs: DataFrame, weights: Map[String, Long],
      grain: Long = 65536,
      idCol: String = "doc_id", srcCol: String = "source"): DataFrame = {
    require(weights.nonEmpty, "mixSources needs at least one weighted source")
    require(weights.values.forall(_ > 0), "weights must be positive")
    require(grain > 0, "grain must be positive")
    import graft.queries.intDiv
    // BigInt lcm, then prove it (and the largest positions it produces)
    // fits Long — coprime large weights overflow silently otherwise
    val lcmBig = weights.values.map(BigInt(_)).reduce((a, b) => a / a.gcd(b) * b)
    require(lcmBig.isValidLong,
      s"lcm of weights $weights overflows Long — use smaller ratios")
    val lcmAll = lcmBig.toLong
    val stride = weights.foldLeft(lit(null).cast(LongType)) {
      case (acc, (s, w)) => when(col(srcCol) === s, lit(lcmAll / w)).otherwise(acc)
    }
    val kW = Window.partitionBy(col(srcCol)).orderBy(col(idCol))
    // two consumers (bucket counts + final join) → persist: the per-source
    // rank window runs once
    val hub = graft.core.Caches.persist(
      docs.filter(col(srcCol).isin(weights.keys.toSeq: _*))
        .select(col(idCol), col(srcCol))
        .withColumn("pos", row_number().over(kW).cast(LongType) * stride)
        .withColumn("bucket", intDiv(col("pos"), grain)))
    val offsets = bucketOffsets(hub, count(lit(1)))
    val within = Window.partitionBy(col("bucket"))
      .orderBy(col("pos"), col(srcCol), col(idCol))
    hub.join(broadcast(offsets), Seq("bucket"))
      .withColumn("seq", col("bucket_offset") + row_number().over(within).cast(LongType))
      .select(col(idCol), col(srcCol), col("pos"), col("seq"))
  }

  /** Deterministic global corpus SHUFFLE — the training-order
    * permutation step run before sharding/packing: every epoch pipeline
    * wants documents in a pseudo-random order that is reproducible
    * across runs, engines, and cluster layouts (and re-derivable per
    * `salt` for distinct epochs), which rules out both `rand()` and a
    * global ORDER BY. Each doc gets a 60-bit shuffle key
    * `hash60(salt | id)` (the engine-portable md5-prefix family) and
    * `seq` — its contiguous 1-based position in ascending (skey, id)
    * order, the tie-break making the permutation total.
    *
    * No single-partition sort at any corpus size: the shuffle key's
    * HIGH BITS are a value-range bucket (2¹⁶ buckets — constant, so the
    * only global window runs over a ≤65536-row bucket-count table at
    * ANY corpus size; a uniform hash fills them evenly), and `seq` is
    * bucket offset + within-bucket row_number, the [[mixSources]]
    * parallel-prefix shape. Consumers wanting physically shuffled
    * output `repartitionByRange`/sort WITHIN partitions on (skey, id) —
    * embarrassingly parallel once `seq` exists. */
  def shuffleOrder(docs: DataFrame, salt: String = "",
      idCol: String = "doc_id"): DataFrame =
    if (orderDense(docs)) {
      // dense dual: ONE global window over the slim (id, skey)
      // projection — a single-partition sort is the CHEAPER plan while
      // the source fits the dense bound (the exchange carries two thin
      // columns), and the bucket machinery's two extra exchanges + hub
      // persist are pure scheduling overhead there. Identical output.
      val w = Window.orderBy(col("skey"), col(idCol))
      docs.select(col(idCol), orderKey(salt, idCol).as("skey"))
        .withColumn("seq", row_number().over(w).cast(LongType))
    } else {
      val hub = shuffleHub(docs, salt, idCol)
      val offsets = bucketOffsets(hub, count(lit(1)))
      val within = Window.partitionBy(col("bucket")).orderBy(col("skey"), col(idCol))
      hub.join(broadcast(offsets), Seq("bucket"))
        .withColumn("seq",
          col("bucket_offset") + row_number().over(within).cast(LongType))
        .select(col(idCol), col("skey"), col("seq"))
    }

  /** Path gate for [[shuffleOrder]]'s dense dual, on the optimizer's
    * FREE source-size estimate (the [[Similarity]] probeBytes
    * precedent — no job): under 256 MB of source stats (the slim (id,
    * skey) sort input is far smaller than the source rows the stat
    * measures) a single global window wins; past it the
    * value-range-bucket parallel prefix runs, since a single-partition
    * sort of a corpus-scale table is the bottleneck the bucket shape
    * exists to avoid. */
  private def orderDense(docs: DataFrame): Boolean = {
    val bytes = Similarity.statBytes(docs)
    graft.core.Decisions.choose("Sharding.orderDense", "dense", "bucket",
      "sourceBytes" -> bytes)(bytes <= BigInt(256L << 20))
  }

  private def orderKey(salt: String, idCol: String): Column =
    graft.functions.TextMetrics.hash60(
      concat_ws("|", lit(salt), col(idCol).cast(StringType)))

  /** The (id, skey, bucket) hub [[shuffleOrder]]'s bucket path and
    * [[shuffleOrderAt]] rank over — persisted so the hash and bucketing
    * run once; an identical plan from a second caller dedupes against
    * the same cache entry (Spark's CacheManager keys on the canonical
    * plan). */
  private[ext] def shuffleHub(docs: DataFrame, salt: String,
      idCol: String): DataFrame = {
    import graft.queries.intDiv
    graft.core.Caches.persist(
      docs.select(col(idCol), orderKey(salt, idCol).as("skey"))
        .withColumn("bucket", intDiv(col("skey"), 1L << 44)))
  }

  /** Rows of [[shuffleOrder]]'s permutation at GIVEN 1-based positions —
    * "which doc sits at rank `seq`?" for a small set of seqs (any frame
    * carrying a `seq` column; rider columns pass through) — equal,
    * row-for-row, to `seqs JOIN shuffleOrder USING (seq)` (equality-
    * tested); positions outside [1, N] match nothing. Output: the seqs
    * frame's columns plus `idCol`.
    *
    * Dense sources (the [[shuffleOrder]] gate) rank via the dense dual
    * and broadcast-hash-join the seqs — fewest stages. Past the bound
    * the corpus is NEVER ranked: the seqs are mapped to their
    * containing value-range bucket by a two-level offset lookup (a
    * 2⁸-row super-bucket range probe, then an equi-join into that
    * super's ≤2⁸ buckets — both broadcasts, so the locate scales in
    * |seqs|·2⁸ comparisons, never |seqs|·2¹⁶), and only the TOUCHED
    * buckets' rows are window-ranked — the exchange carries
    * ≈|seqs|·|corpus|/2¹⁶ slim rows, not the corpus. */
  def shuffleOrderAt(docs: DataFrame, seqs: DataFrame, salt: String = "",
      idCol: String = "doc_id"): DataFrame = {
    if (orderDense(docs))
      return shuffleOrder(docs, salt, idCol)
        .join(broadcast(seqs), Seq("seq")).drop("skey")
    import graft.queries.intDiv
    val hub = shuffleHub(docs, salt, idCol)
    val offsets = graft.core.Caches.persist(
      bucketOffsets(hub, count(lit(1))))
    val sup = offsets.groupBy(intDiv(col("bucket"), 256L).as("sb"))
      .agg(min(col("bucket_offset")).as("sb_off"),
        sum(col("bucket_total")).as("sb_tot"))
    val located = seqs
      .join(broadcast(sup),
        col("seq") > col("sb_off") && col("seq") <= col("sb_off") + col("sb_tot"))
      .drop("sb_off", "sb_tot")
      .join(broadcast(offsets.withColumn("sb", intDiv(col("bucket"), 256L))),
        Seq("sb"))
      .filter(col("seq") > col("bucket_offset") &&
        col("seq") <= col("bucket_offset") + col("bucket_total"))
      .withColumn("rk", col("seq") - col("bucket_offset"))
      .drop("sb", "bucket_offset", "bucket_total")
    val within = Window.partitionBy(col("bucket")).orderBy(col("skey"), col(idCol))
    val ranked = hub
      .join(broadcast(located.select(col("bucket")).distinct()), Seq("bucket"))
      .withColumn("rk", row_number().over(within).cast(LongType))
      .select(col("bucket"), col("rk"), col(idCol))
    ranked.join(broadcast(located), Seq("bucket", "rk"))
      .drop("rk", "bucket")
  }

  /** Token-budget PREFIX of the shuffled corpus — "take a simple random
    * ~B-token subset": documents are laid out in [[shuffleOrder]]'s
    * salt-keyed pseudo-random order and kept while the running token
    * total is under `budget` (greedy boundary rule — the doc whose
    * interval starts under the budget is kept whole, the
    * [[tokenBudgetShards]] convention). Complements [[ppsTokenSample]]:
    * PPS picks k docs spread over the stream with probability ∝ size;
    * this takes a budget-sized SIMPLE RANDOM subset — every doc equally
    * likely (per salt), total mass ≈ budget. Null-text docs carry no
    * tokens and pass through if their position is under the budget
    * (they consume nothing).
    *
    * Plan: the [[shuffleOrder]] key + value-range bucketing (constant
    * 2¹⁶ buckets — the only global window is the bucket-total table at
    * any corpus size) and the bucket-offset prefix sum over TOKENS in
    * (skey, id) order; selection is the map-only budget filter. No
    * global sort, no joins beyond the tiny broadcast offsets. */
  def shuffledTokenBudget(docs: DataFrame, budget: Long, salt: String = "",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    import graft.queries.intDiv
    val skey = graft.functions.TextMetrics.hash60(
      concat_ws("|", lit(salt), col(idCol).cast(StringType)))
    val hub = graft.core.Caches.persist(
      docs.select(col(idCol),
          size(split(col(textCol), " ", -1)).cast(LongType).as("n_tokens"),
          skey.as("skey"))
        .withColumn("bucket", intDiv(col("skey"), 1L << 44)))
    val offsets = bucketOffsets(hub, sum(col("n_tokens")))
    val within = Window.partitionBy(col("bucket"))
      .orderBy(col("skey"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    hub.join(broadcast(offsets), Seq("bucket"))
      .withColumn("tokens_before",
        col("bucket_offset") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .filter(col("tokens_before") < budget)
      .select(col(idCol), col("skey"), col("n_tokens"), col("tokens_before"))
  }

  /** Token-budget MIXTURE — "build a B-token training mix at these
    * source weights": source s gets the integer quota
    * `B·w_s div Σw + (B mod Σw)·w_s div Σw` (exact integer split of the
    * budget, never floats), and fills it with the PREFIX of its own
    * salt-shuffled document stream ([[shuffledTokenBudget]]'s greedy
    * boundary rule per source: the doc whose interval STARTS under the
    * quota is kept whole). Sources absent from `weights` contribute
    * nothing; a quota larger than a source's total token mass takes the
    * whole source (under-delivery is visible in the output, not
    * silently rebalanced — weight renormalization is a POLICY the
    * caller owns). Deterministic per (salt, weights, corpus) — never a
    * sample-by-rand.
    *
    * Plan: the [[shuffledTokenBudget]] prefix machinery partitioned by
    * source — per-(source, bucket) token totals, ONE global window over
    * that ≤|sources|·2¹⁶-row table, within-bucket running sums in
    * parallel, then a map-only quota filter against the weight
    * literals. No global sort, no driver collect. */
  def tokenBudgetMixture(docs: DataFrame, budget: Long,
      weights: Map[String, Long], salt: String = "mix",
      idCol: String = "doc_id", srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"weights must be positive: $weights")
    import graft.queries.intDiv
    val wSum = weights.values.sum
    val quota = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast(LongType)) { case (acc, (s, w)) =>
        when(col(srcCol) === s, lit(budget / wSum * w + budget % wSum * w / wSum))
          .otherwise(acc)
      }
    val skey = graft.functions.TextMetrics.hash60(
      concat_ws("|", lit(salt), col(idCol).cast(StringType)))
    val hub = graft.core.Caches.persist(
      docs.filter(col(srcCol).isin(weights.keys.toSeq: _*))
        .select(col(idCol), col(srcCol),
          size(split(col(textCol), " ", -1)).cast(LongType).as("n_tokens"),
          skey.as("skey"))
        .withColumn("bucket", intDiv(col("skey"), 1L << 44)))
    val offsets = hub.groupBy(col(srcCol), col("bucket"))
      .agg(sum(col("n_tokens")).as("bucket_total"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_total")).over(
          Window.partitionBy(col(srcCol)).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(srcCol), col("bucket"), col("bucket_offset"))
    val within = Window.partitionBy(col(srcCol), col("bucket"))
      .orderBy(col("skey"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    hub.join(broadcast(offsets), Seq(srcCol, "bucket"))
      .withColumn("tokens_before",
        col("bucket_offset") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .withColumn("quota", quota)
      .filter(col("tokens_before") < col("quota"))
      .select(col(idCol), col(srcCol), col("skey"), col("n_tokens"),
        col("tokens_before"), col("quota"))
  }

  /** Curriculum training order — the easy/high-quality-first schedule:
    * rows are exact-quantile-binned on `valueCol` ([[Stats.quantileBins]]
    * — the histogram plan, never a global-sort ntile), bins are consumed
    * HIGHEST VALUE FIRST (`cur_bin` 1 = the top quantile), and within a
    * bin the order is [[shuffleOrder]]'s salt-keyed pseudo-random
    * permutation — curriculum learning orders the phases, not the
    * documents inside a phase. `curriculum_step` is the contiguous
    * 1..N consumption order. Rows with a null `valueCol` have no
    * quantile and are excluded (the quantileBins contract).
    *
    * The whole schedule is ONE exclusive-prefix shape: global order =
    * (cur_bin, skey, id) = (cur_bin, value-range bucket, skey, id)
    * since the bucket is the skey's high bits — so ONE global window
    * over the (cur_bin, bucket) count table (≤ bins·2¹⁶ rows at any
    * corpus size) gives every row's offset, and within-bucket
    * row_numbers parallelize. No global sort anywhere. */
  def curriculumOrder(df: DataFrame, valueCol: String, bins: Int = 4,
      salt: String = "cur", idCol: String = "doc_id"): DataFrame = {
    require(bins >= 1, s"bins must be >= 1: $bins")
    import graft.queries.intDiv
    val binned = Stats.quantileBins(df.select(col(idCol), col(valueCol)),
        valueCol, bins, Seq(idCol))
      .withColumn("cur_bin", lit(bins + 1L) - col("bucket"))
    val skey = graft.functions.TextMetrics.hash60(
      concat_ws("|", lit(salt), col(idCol).cast(StringType)))
    val hub = graft.core.Caches.persist(
      binned.select(col(idCol), col(valueCol), col("cur_bin"), skey.as("skey"))
        .withColumn("bucket", intDiv(col("skey"), 1L << 44)))
    val offsets = hub.groupBy(col("cur_bin"), col("bucket"))
      .agg(count(lit(1)).as("bucket_total"))
      .withColumn("offset",
        coalesce(sum(col("bucket_total")).over(
          Window.orderBy(col("cur_bin"), col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("cur_bin"), col("bucket"), col("offset"))
    val within = Window.partitionBy(col("cur_bin"), col("bucket"))
      .orderBy(col("skey"), col(idCol))
    hub.join(broadcast(offsets), Seq("cur_bin", "bucket"))
      .withColumn("curriculum_step",
        col("offset") + row_number().over(within).cast(LongType))
      .select(col(idCol), col(valueCol), col("cur_bin"), col("skey"),
        col("curriculum_step"))
  }

  /** Multi-epoch training order — [[shuffleOrder]]'s permutation for
    * EVERY epoch of a training run in ONE corpus pass: epoch e orders by
    * `hash60("<saltPrefix><e>" | id)` (exactly shuffleOrder's key with
    * that salt, so each epoch independently equals a shuffleOrder call),
    * and `global_step = e·N + seq` concatenates the epochs into the
    * contiguous 1..epochs·N schedule a trainer consumes. Distinct salts
    * give distinct permutations; within an epoch every doc appears once.
    *
    * Plan: the corpus explodes ×epochs map-side (epochs is a small
    * constant); the only global window runs over the per-(epoch, bucket)
    * count table — ≤ epochs·2¹⁶ rows at ANY corpus size (the
    * [[shuffleOrder]] value-range-bucket argument, partitioned by epoch);
    * within-bucket row_numbers parallelize across epochs·2¹⁶ buckets.
    * N is one memoized driver count (a literal in the plan, the Lloyd-
    * trainer convention). One exchange on (epoch, bucket) for the big
    * table; never a global sort. */
  def epochOrder(docs: DataFrame, epochs: Int = 3, saltPrefix: String = "ep",
      idCol: String = "doc_id"): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1: $epochs")
    import graft.queries.intDiv
    val n = graft.core.Caches.memo(docs, "epochOrder.count")(
      java.lang.Long.valueOf(docs.count())).longValue
    val base = docs.select(col(idCol),
        explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .withColumn("skey", graft.functions.TextMetrics.hash60(
        concat_ws("|", concat(lit(saltPrefix), col("epoch").cast(StringType)),
          col(idCol).cast(StringType))))
      .withColumn("bucket", intDiv(col("skey"), 1L << 44))
    val hub = graft.core.Caches.persist(base)
    val offsets = hub.groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("bucket_total"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_total")).over(
          Window.partitionBy(col("epoch")).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("epoch"), col("bucket"), col("bucket_offset"))
    val within = Window.partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("skey"), col(idCol))
    hub.join(broadcast(offsets), Seq("epoch", "bucket"))
      .withColumn("seq",
        col("bucket_offset") + row_number().over(within).cast(LongType))
      .select(col("epoch"), col(idCol), col("skey"), col("seq"),
        (col("epoch") * lit(n) + col("seq")).as("global_step"))
  }

  /** T5-style span corruption — the denoising-objective pair builder
    * (Raffel et al. 2020 §3.1.4: replace random token spans with
    * sentinels; the model reconstructs them). Deterministic, engine-
    * portable: token spans of `spanLen` (the last `n mod spanLen` tokens
    * are never maskable) are masked iff
    * `hash60(salt:doc_id:span_idx) mod rateDen < rateNum` — the same
    * md5-prefix hash family as every sampling operator, so the choice
    * is a pure function of (salt, doc, position) reproducible across
    * runs, engines, and partitionings. The k-th masked span of a doc
    * (0-based, document order) becomes `<X_k>` in `input_text`;
    * `target_text` lists each sentinel followed by the tokens it hid,
    * closed by `<Z>` (`<Z>` alone when nothing was masked).
    *
    * Output per doc: `n_tokens`, `n_spans` (full spans), `n_masked`,
    * `input_text`, `target_text`; null-text rows pass through with zero
    * counts and null texts (total pass).
    *
    * Plan — the explode/window/regroup shape, NOT array lambdas: per-
    * token span math over a captured token array would re-evaluate the
    * split per element on Spark's interpreted HOF path (the SURVEY §4
    * capture rule — the q58 lesson). Tokens explode map-side with their
    * doc's `n` computed BEFORE the explode; ONE exchange on the doc id
    * serves both the running masked-head count (window) and the
    * reassembly (groupBy on the same key); sentinel numbering is the
    * running count minus one. Per-doc state is the doc's own tokens —
    * linear at any corpus size. */
  def spanCorruption(docs: DataFrame, spanLen: Int = 3, rateNum: Int = 3,
      rateDen: Int = 20, salt: String = "s146", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(spanLen >= 1 && rateNum >= 0 && rateDen >= 1)
    val toks = split(col(textCol), " ", -1)
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(toks).cast(LongType).as("n"),
        posexplode(toks).as(Seq("pos0", "tok")))
      .withColumn("span_id", (col("pos0") / lit(spanLen)).cast(LongType))
      .withColumn("is_full", (col("span_id") + 1) * lit(spanLen.toLong) <= col("n"))
      .withColumn("masked", col("is_full") &&
        pmod(graft.functions.TextMetrics.hash60(concat_ws(":",
          lit(salt), col(idCol).cast(StringType), col("span_id").cast(StringType))),
          lit(rateDen.toLong)) < lit(rateNum.toLong))
      .withColumn("head", pmod(col("pos0"), lit(spanLen)) === 0)
    val running = Window.partitionBy(col(idCol)).orderBy(col("pos0"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withK = base.withColumn("k",
      sum(when(col("head") && col("masked"), lit(1L)).otherwise(lit(0L)))
        .over(running) - lit(1L))
    val sentinel = concat(lit("<X_"), col("k").cast(StringType), lit(">"))
    val inPiece = when(!col("masked"), col("tok"))
      .when(col("head"), sentinel)
    val tgtPiece = when(col("masked") && col("head"),
        concat(sentinel, lit(" "), col("tok")))
      .when(col("masked"), col("tok"))
    val grouped = withK.groupBy(col(idCol)).agg(
      first(col("n")).as("n_tokens"),
      sum(when(col("head") && col("is_full"), lit(1L)).otherwise(lit(0L))).as("n_spans"),
      sum(when(col("head") && col("masked"), lit(1L)).otherwise(lit(0L))).as("n_masked"),
      array_sort(collect_list(when(inPiece.isNotNull,
        struct(col("pos0"), inPiece.as("p"))))).as("ins"),
      array_sort(collect_list(when(tgtPiece.isNotNull,
        struct(col("pos0"), tgtPiece.as("p"))))).as("tgts"))
    val joinP = (c: Column) => concat_ws(" ", transform(c, x => x.getField("p")))
    val out = grouped.select(col(idCol), col("n_tokens"), col("n_spans"),
      col("n_masked"), joinP(col("ins")).as("input_text"),
      when(size(col("tgts")) === 0, lit("<Z>"))
        .otherwise(concat(joinP(col("tgts")), lit(" <Z>"))).as("target_text"))
    docs.select(col(idCol))
      .join(out, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        col("input_text"), col("target_text"))
  }

  /** The exclusive-prefix-sum step both operators share: per-`bucket`
    * totals of `perRow` get a running offset via the ONLY global window —
    * over the tiny bucket table, |rows|/grain smaller than the input. */
  /** Fixed-size token CHUNKING with overlap — the retrieval/embedding
    * prep step (RAG indexing, long-doc embedding, context-window
    * packing): each document splits into windows of `chunkTokens`
    * whitespace tokens advancing by `chunkTokens − overlapTokens`, the
    * final window starting at the last stride position that still adds
    * new tokens (no trailing windows fully contained in their
    * predecessor; a document at or under `chunkTokens` is one chunk).
    * Null-text docs have no chunks and drop (the tokenize-surface
    * contract, q108).
    *
    * Output: (idCol, chunk_idx, start_token 0-based, n_chunk_tokens,
    * chunk_text). Map-only — one split + one bounded posexplode per
    * document, no shuffle; linear at any corpus size (the token array is
    * a materialized column, so per-chunk slices read an attribute, not a
    * re-split — the §4 capture rule's cheap-capture form). */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlapTokens: Int = 0,
      idCol: String = "doc_id", textCol: String = "text",
      carryInput: Boolean = false): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens): $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val exploded = docs.filter(col(textCol).isNotNull)
      .withColumn("__ws", split(col(textCol), " ", -1))
      .withColumn("__n", size(col("__ws")).cast(LongType))
      .withColumn("__last",
        greatest(lit(0L), ceil((col("__n") - lit(chunkTokens.toLong))
          .cast(DoubleType) / lit(stride.toDouble)).cast(LongType)))
      .select(col("*"),
        posexplode(transform(sequence(lit(0L), col("__last")),
          i => i * lit(stride.toLong))).as(Seq("chunk_idx", "start_token")))
    val nChunk = least(lit(chunkTokens.toLong), col("__n") - col("start_token"))
    val chunkText = concat_ws(" ", slice(col("__ws"),
      (col("start_token") + 1).cast(IntegerType), lit(chunkTokens)))
    if (!carryInput)
      exploded.select(col(idCol), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("start_token"), nChunk.as("n_chunk_tokens"),
        chunkText.as("chunk_text"))
    else {
      // pipeline-stage face: the doc stream BECOMES a chunk stream —
      // every input column rides along, `textCol` is replaced by the
      // chunk's text (so downstream text stages keep working), and the
      // chunk coordinates are additive audit columns
      val keep = docs.columns.toIndexedSeq.map(c =>
        if (c == textCol) chunkText.as(textCol) else col(c))
      exploded.select(keep ++ Seq(
        col("chunk_idx").cast(LongType).as("chunk_idx"), col("start_token"),
        nChunk.as("n_chunk_tokens")): _*)
    }
  }

  /** Fill-in-the-middle (FIM) transformation — the code-model training
    * rewrite (Bavarian et al. 2022: move a random middle span to the
    * end behind sentinels, so an autoregressive model learns infilling):
    * two deterministic character cut points from the engine-portable
    * md5-prefix hash — `lo = h(salt:id:a) mod (n+1)`,
    * `hi = lo + (h(salt:id:b) mod (n−lo+1))` — split the text into
    * prefix/middle/suffix, emitted in PSM order as
    * `<PRE>prefix<SUF>suffix<MID>middle`. A pure function of
    * (salt, id, text): reproducible across engines, runs, and
    * partitionings — never `rand()`. Total pass: null-text docs keep
    * null cuts and a null rewrite.
    *
    * Output: (idCol, n_chars, lo, hi, fim_text). Map-only projection —
    * two hashes + three substrings per row, no shuffle; fused into the
    * scan at any corpus size. */
  def fimTransform(docs: DataFrame, salt: String = "fim",
      idCol: String = "doc_id", textCol: String = "text",
      carryInput: Boolean = false): DataFrame = {
    val t = col(textCol)
    val n = length(t).cast(LongType)
    def h(tag: String) = graft.functions.TextMetrics.hash60(
      concat_ws(":", lit(salt), col(idCol).cast(StringType), lit(tag)))
    val lo = pmod(h("a"), n + 1L)
    val hi = lo + pmod(h("b"), n - lo + 1L)
    val cut = docs
      .withColumn("n_chars_fim", n)
      .withColumn("__fim_lo", lo)
      .withColumn("__fim_hi", hi)
      .withColumn("__fim_text",
        concat(lit("<PRE>"), t.substr(lit(1), col("__fim_lo").cast(IntegerType)),
          lit("<SUF>"),
          t.substr((col("__fim_hi") + 1).cast(IntegerType),
            (col("n_chars_fim") - col("__fim_hi")).cast(IntegerType)),
          lit("<MID>"),
          t.substr((col("__fim_lo") + 1).cast(IntegerType),
            (col("__fim_hi") - col("__fim_lo")).cast(IntegerType))))
    if (!carryInput)
      cut.select(col(idCol), col("n_chars_fim").as("n_chars"),
        col("__fim_lo").as("lo"), col("__fim_hi").as("hi"),
        col("__fim_text").as("fim_text"))
    else {
      // pipeline-stage face: `textCol` becomes the PSM rewrite (the FIM
      // text IS the training text downstream stages pack/shard), the
      // cut points stay as audit columns, every other column rides
      // along. Null-text rows keep a null rewrite (total pass).
      val keep = docs.columns.toIndexedSeq.map(c =>
        if (c == textCol) col("__fim_text").as(textCol) else col(c))
      cut.select(keep ++ Seq(col("__fim_lo").as("fim_lo"),
        col("__fim_hi").as("fim_hi")): _*)
    }
  }

  /** Greedy SCORE-ORDERED token budget — "fill a B-token budget with the
    * highest-scoring documents first": documents lay out in
    * (score desc, id asc) order and are kept while the running token
    * total BEFORE them is under `budget` (the greedy whole-doc boundary
    * rule shared by the budget family). This is the classifier-score
    * selection step of modern curation stacks (quality-classifier
    * top-score picks at a fixed token budget) — the selection dual of
    * [[curriculumOrder]] (which orders the whole corpus) and
    * [[shuffledTokenBudget]] (which samples uniformly). `scoreCol` must
    * be integral (the fixed-point convention every scoring operator here
    * follows — margins, lm-quality, code scores); null scores rank below
    * every real score (kept only if budget remains, ordered by id);
    * null-text docs carry null tokens and consume nothing.
    *
    * Plan: one memoized (min, max) scalar job grains the score axis into
    * ≤2¹⁶ value-range buckets (descending score → ascending bucket), so
    * the only global window at ANY corpus size runs over the ≤2¹⁶-row
    * bucket-total table — the [[shuffleOrder]] no-global-sort shape with
    * the score as the range key; within-bucket token prefix sums run in
    * parallel and selection is a map-only filter against the budget
    * literal. Output: (idCol, score, n_tokens, tokens_before), one row
    * per KEPT document. */
  def tokenBudgetByScore(docs: DataFrame, budget: Long, scoreCol: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    import graft.queries.intDiv
    val mm = graft.core.Caches.memo(
      docs.select(col(scoreCol).cast(LongType).as("s"))
        .withColumn("__graft_memo", lit(s"scoreRange:$scoreCol")),
      "scoreRange") {
      val r = docs.agg(min(col(scoreCol).cast(LongType)).as("mn"),
        max(col(scoreCol).cast(LongType)).as("mx")).collect()(0)
      if (r.isNullAt(1)) Array(0L, 0L)
      else Array(r.getLong(0), r.getLong(1))
    }
    val (mn, mx) = (mm(0), mm(1))
    require(mx - mn >= 0,
      s"score range [$mn, $mx] overflows Long — rescale the fixed point")
    val grain = math.max(1L, (mx - mn) / 65536L + 1L)
    // descending score → ascending bucket; nulls after every real bucket
    val hub = graft.core.Caches.persist(
      docs.select(col(idCol), col(scoreCol).cast(LongType).as("score"),
          size(split(col(textCol), " ", -1)).cast(LongType).as("n_tokens"))
        .withColumn("bucket", when(col("score").isNull, lit(65537L))
          .otherwise(intDiv(lit(mx) - col("score"), grain))))
    val offsets = bucketOffsets(hub, sum(col("n_tokens")))
    val within = Window.partitionBy(col("bucket"))
      .orderBy(col("score").desc_nulls_last, col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    hub.join(broadcast(offsets), Seq("bucket"))
      .withColumn("tokens_before",
        col("bucket_offset") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .filter(col("tokens_before") < budget)
      .select(col(idCol), col("score"), col("n_tokens"), col("tokens_before"))
  }

  private def bucketOffsets(rows: DataFrame,
      perRow: org.apache.spark.sql.Column): DataFrame =
    rows.groupBy(col("bucket"))
      .agg(perRow.as("bucket_total"))
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_total")).over(
          Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("bucket_offset"), col("bucket_total"))

}
