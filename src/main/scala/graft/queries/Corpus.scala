package graft.queries

import graft.core.Tables
import graft.ext.{Dedup, Learn, Multimodal, Search, Sharding, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators as oracle-checked queries: text analysis
  * (q32–q35), deduplication (q36–q39), similarity search (q40–q42), and
  * multimodal plumbing (q43) over the `documents`/`embeddings` tables.
  *
  * Oracle discipline: every score that crosses the engine boundary is either
  * pure-integer (counts, fingerprints, hamming), a single-division double of
  * two exact integers (Jaccard), or fixed-point exact (cosine — see
  * [[graft.ext.Similarity]]); chained double arithmetic (quality score)
  * uses explicitly-parenthesized identical expressions on both sides.
  * q42 (approximate ANN) intentionally has no oracle — approximation has no
  * SQL-exact dual; its recall is asserted against q40 in ScalaTest.
  */
object Corpus {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // --------------------------------------------------------------------------
  // q32 — token counting: whitespace tokens and BPE-ish regex pre-tokens.
  def q32_token_stats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(docs(s, dir))
      .select(col("doc_id"), col("n_chars_m"), col("n_ws_tokens"), col("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  private val q32_sql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
      | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q33 — quality scoring: stopword ratio, token-length band, length prior.
  def q33_quality_score(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, dir))
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
        col("mean_token_len"), col("quality_score"))
      .orderBy(col("doc_id"))

  private val q33_sql =
    """SELECT doc_id,
      | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      | CAST(len(list_filter(string_split(text,' '),
      |   x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
      |   / CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio,
      | CAST(length(replace(text,' ','')) AS DOUBLE)
      |   / CAST(len(string_split(text,' ')) AS DOUBLE) AS mean_token_len,
      | ((CAST(len(list_filter(string_split(text,' '),
      |     x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
      |    / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.4)
      |  + ((greatest(0.0, 1.0 - abs((CAST(length(replace(text,' ','')) AS DOUBLE)
      |       / CAST(len(string_split(text,' ')) AS DOUBLE)) - 5.0) / 5.0)) * 0.4)
      |  + (least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * 0.2)
      |   AS quality_score
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q34 — corpus-profile language ID: per-lang top-20 token profiles built
  // from the corpus, prediction = argmax distinct-token overlap.
  def q34_lang_id(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(docs(s, dir), k = 20)
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score"))
      .orderBy(col("doc_id"))

  private val q34_sql =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |prof AS (
      |  SELECT p_lang, w FROM (
      |    SELECT lang AS p_lang, w,
      |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, w) AS rk
      |    FROM tok GROUP BY lang, w) WHERE rk <= 20),
      |dt AS (SELECT DISTINCT doc_id, w FROM tok),
      |sc AS (SELECT dt.doc_id, prof.p_lang, count(*) AS score
      |       FROM dt JOIN prof ON dt.w = prof.w GROUP BY 1, 2),
      |best AS (SELECT doc_id, p_lang AS pred_lang, score FROM (
      |  SELECT sc.*, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rk
      |  FROM sc) WHERE rk = 1)
      |SELECT d.doc_id, d.lang, b.pred_lang, b.score
      |FROM documents d LEFT JOIN best b USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q35 — content fingerprinting: md5 digest + engine-portable 60-bit form.
  def q35_fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(docs(s, dir))
      .select(col("doc_id"), col("fp_md5"), col("fp60"))
      .orderBy(col("doc_id"))

  private val q35_sql =
    """SELECT doc_id, md5(text) AS fp_md5,
      | CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp60
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q49 — winnowing fingerprints (rolling-hash local fingerprint scheme):
  // min 8-gram hash per 8-wide window, deduped per doc.
  def q49_winnow_fingerprints(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowingFingerprints(docs(s, dir), k = 8, w = 8)
      .orderBy(col("doc_id"), col("fp"))

  private val q49_sql =
    """WITH g AS (
      |  SELECT doc_id, i,
      |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 15)) AS BIGINT) AS h,
      |    greatest(length(text) - 7, 1) AS ng
      |  FROM documents, range(1, 100000) t(i)
      |  WHERE i <= greatest(length(text) - 7, 1)),
      |wins AS (
      |  SELECT doc_id, i, ng,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
      |  FROM g)
      |SELECT DISTINCT doc_id, mh AS fp
      |FROM wins WHERE i <= greatest(ng - 7, 1)
      |ORDER BY doc_id, fp""".stripMargin

  // --------------------------------------------------------------------------
  // q51 — containment / partial-overlap pairs via shared winnowing
  // fingerprints (the dup class Jaccard misses: small doc inside big doc).
  // n_shared is integer-exact; containment = n_shared / min(nfp) is one
  // division of exact integers. 16-char grams (a shared run must span
  // ≥ k+w−1 = 23 chars): 8-char grams are mostly a word+fragment and the
  // synthetic corpus's shared vocabulary made nearly every doc pair share
  // ≥2 of them (85k pairs from 500 docs — a selectivity failure, not a
  // correctness one); 16-char runs are real quotation/overlap evidence
  // (26 pairs at the same thresholds).
  def q51_winnow_containment(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.containmentPairs(docs(s, dir), k = 16, w = 8,
        maxDf = 50, minShared = 5)
      .orderBy(col("i"), col("j"))

  private val q51_sql =
    """WITH g AS (
      |  SELECT doc_id, i,
      |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 16)), 1, 15)) AS BIGINT) AS h,
      |    greatest(length(text) - 15, 1) AS ng
      |  FROM documents, range(1, 100000) t(i)
      |  WHERE i <= greatest(length(text) - 15, 1)),
      |wins AS (
      |  SELECT doc_id, i, ng,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
      |  FROM g),
      |fps AS (SELECT DISTINCT doc_id, mh AS fp
      |        FROM wins WHERE i <= greatest(ng - 7, 1)),
      |sz AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY 1),
      |keep AS (SELECT fp FROM fps GROUP BY fp
      |         HAVING count(*) > 1 AND count(*) <= 50),
      |pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
      |  FROM fps a JOIN keep USING (fp) JOIN fps b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT i, j, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(n_shared AS DOUBLE) / CAST(least(x.nfp, y.nfp) AS DOUBLE) AS containment
      |FROM pairs JOIN sz x ON i = x.doc_id JOIN sz y ON j = y.doc_id
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q52 — deterministic content-keyed train/val/test split (80/10/10):
  // bucket = fp60 % 100 — reproducible in any engine, and exact copies land
  // in the same split (no train/test contamination from duplicates).
  def q52_deterministic_split(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextAnalysis.deterministicSplit(docs(s, dir))
      .select(col("doc_id"), col("split_bucket"), col("split"))
      .orderBy(col("doc_id"))

  private val q52_sql =
    """SELECT doc_id,
      | CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS split_bucket,
      | CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
      |      WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
      |      ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q53 — token-budget shard packing (the sequence-packing step before
  // writing training shards): shard = floor(running token total / budget)
  // over ascending doc_id, computed as a distributed parallel prefix sum
  // (see ext.Sharding) — the oracle is the serial global-window rule.
  def q53_token_budget_shards(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sharding.tokenBudgetShards(docs(s, dir), budget = 10000)
      .orderBy(col("doc_id"))

  private val q53_sql =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tokens_before
      |  FROM t)
      |SELECT doc_id, n_tokens, tokens_before,
      |  CAST(tokens_before // 10000 AS BIGINT) AS shard
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q123 — concat-and-chunk sequence packing (the pretraining batch
  // former): the corpus laid out as one token stream in ascending doc_id
  // order, cut into 64-token training windows; one row per (chunk, doc)
  // overlap with the doc-relative token span each window takes. Pure
  // integer interval arithmetic on q53's parallel prefix sum — the oracle
  // is the serial cumsum + generate_series over spanned chunks.
  def q123_pack_sequences(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sharding.packSequences(docs(s, dir), seqLen = 64)
      .orderBy(col("chunk_id"), col("doc_id"))

  private val q123_sql =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start
      |  FROM t),
      |e AS (
      |  SELECT doc_id, n_tokens, start,
      |    unnest(generate_series(start // 64, (start + n_tokens - 1) // 64))
      |      AS chunk_id
      |  FROM c)
      |SELECT chunk_id, doc_id,
      |  greatest(0, chunk_id * 64 - start) AS tok_from,
      |  least(n_tokens, (chunk_id + 1) * 64 - start) AS tok_to
      |FROM e ORDER BY chunk_id, doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q127 — systematic PPS token-mass sampling: draw 100 documents with
  // probability proportional to token count (Madow's method, deterministic
  // midpoint pick points on q53's token stream — the corpus-subsetting
  // step where long documents must be proportionally represented). The
  // Spark side solves pick containment in closed form per doc; the oracle
  // MATERIALIZES the 100 pick points and range-joins them — two
  // independent formulations of the same rule.
  def q127_pps_token_sample(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sharding.ppsTokenSample(docs(s, dir), k = 100)
      .orderBy(col("doc_id"))

  private val q127_sql =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tokens_before
      |  FROM t),
      |tot AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS total FROM t),
      |picks AS (
      |  SELECT CAST(((2 * CAST(j AS HUGEINT) + 1) * total) // 200 AS BIGINT) AS p
      |  FROM range(0, 100) r(j), tot)
      |SELECT c.doc_id, c.n_tokens, c.tokens_before,
      |  CAST(count(*) AS BIGINT) AS n_hits
      |FROM c JOIN picks
      |  ON picks.p >= c.tokens_before AND picks.p < c.tokens_before + c.n_tokens
      |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q130 — deterministic corpus shuffle (training-order permutation):
  // every doc gets a salt-keyed 60-bit shuffle key and its contiguous
  // global position in (skey, id) order — reproducible across engines and
  // epochs, computed with the parallel bucket-offset prefix shape (the
  // only global window runs over a ≤2^16-row bucket table at any corpus
  // size). The oracle is the serial single-window rule.
  def q130_shuffle_order(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sharding.shuffleOrder(docs(s, dir), salt = "epoch0")
      .orderBy(col("doc_id"))

  private val q130_sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS skey
      |  FROM documents)
      |SELECT doc_id, skey,
      |  CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS seq
      |FROM h ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q132 — shuffled token-budget subset: the docs filling the first ~20%
  // of the corpus's token mass in q130's salt-keyed pseudo-random order —
  // the "draw a random B-token training subset" step (simple random by
  // doc, budget-bounded by mass; q127 is the PPS-by-size dual). The
  // budget is a fraction via scalar subquery, so one SQL text is correct
  // at every scale; the oracle is the serial single-window cumsum.
  def q132_shuffled_budget(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val total = graft.core.Caches.memo(d, "tokenTotal")(java.lang.Long.valueOf(
      d.agg(coalesce(sum(size(split(col("text"), " ", -1)).cast(LongType)),
        lit(0L))).head.getLong(0))).longValue
    graft.ext.Sharding.shuffledTokenBudget(d, budget = total / 5, salt = "epoch0")
      .orderBy(col("doc_id"))
  }

  private val q132_sql =
    """WITH h AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(('0x' || substr(md5('epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS skey
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, skey, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY skey, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tokens_before
      |  FROM h)
      |SELECT doc_id, skey, n_tokens, tokens_before FROM c
      |WHERE tokens_before < (SELECT sum(n_tokens) // 5 FROM h)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q131 — incremental repeated-span report (R-S form of q124): for each
  // doc of the delta batch (top 10% of ids, fractional boundary — one SQL
  // text at every scale), the maximal spans whose 8-grams occur anywhere
  // in the existing corpus. Delta gram set broadcasts; the corpus is
  // scanned but never shuffled — the daily-ingest shape.
  def q131_spans_against(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val total = graft.core.Caches.count(d)
    val lo = total * 9 / 10
    graft.ext.Dedup.repeatedSpansAgainst(
        d.filter(col("doc_id") >= lo), d.filter(col("doc_id") < lo),
        n = 8, minGrams = 4)
      .orderBy(col("doc_id"), col("span_start"))
  }

  private val q131_sql =
    """WITH nn AS (SELECT (count(*) * 9) // 10 AS lo FROM documents),
      |delta AS (SELECT doc_id, string_split(text, ' ') AS ws
      |          FROM documents, nn WHERE doc_id >= lo),
      |corpus AS (SELECT string_split(text, ' ') AS ws
      |           FROM documents, nn WHERE doc_id < lo),
      |cg AS (
      |  SELECT DISTINCT
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS sh
      |  FROM corpus, range(1, 100000) t(i) WHERE i <= len(ws) - 7),
      |dg AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS p,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS sh
      |  FROM delta, range(1, 100000) t(i) WHERE i <= len(ws) - 7),
      |hits AS (SELECT doc_id, p FROM dg JOIN cg USING (sh)),
      |isl AS (SELECT doc_id, p,
      |          p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      |        FROM hits),
      |spans AS (
      |  SELECT doc_id, min(p) AS span_start,
      |    CAST(max(p) - min(p) + 8 AS BIGINT) AS span_len,
      |    CAST(count(*) AS BIGINT) AS n_grams
      |  FROM isl GROUP BY doc_id, grp)
      |SELECT doc_id, span_start, span_len, n_grams FROM spans
      |WHERE n_grams >= 4 ORDER BY doc_id, span_start""".stripMargin

  // --------------------------------------------------------------------------
  // q124 — cross-document repeated spans (exact substring dedup's reporting
  // core at word 8-gram granularity): per document, the maximal runs of
  // consecutive token positions whose 8-grams each occur in some OTHER
  // document; runs under 4 grams (11 tokens) dropped as phrase noise. The
  // oracle is the same shared-gram + gaps-and-islands computation in SQL.
  def q124_repeated_spans(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.repeatedSpans(docs(s, dir), n = 8, minGrams = 4)
      .orderBy(col("doc_id"), col("span_start"))

  private val q124_sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS p,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE i <= len(ws) - 7),
      |shared AS (SELECT sh FROM g GROUP BY sh HAVING min(doc_id) <> max(doc_id)),
      |hits AS (SELECT doc_id, p FROM g JOIN shared USING (sh)),
      |isl AS (SELECT doc_id, p,
      |          p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      |        FROM hits),
      |spans AS (
      |  SELECT doc_id, min(p) AS span_start,
      |    CAST(max(p) - min(p) + 8 AS BIGINT) AS span_len,
      |    CAST(count(*) AS BIGINT) AS n_grams
      |  FROM isl GROUP BY doc_id, grp)
      |SELECT doc_id, span_start, span_len, n_grams FROM spans
      |WHERE n_grams >= 4 ORDER BY doc_id, span_start""".stripMargin

  // --------------------------------------------------------------------------
  // q125 — keep-one-copy substring dedup (the rewrite half of q124): text
  // duplicated across docs survives only in its canonical (min-id) holder
  // and is cut everywhere else; a holder's own text is never cut even
  // where duplicated regions overlap (the keep-override). Token-level
  // rule; the oracle recomputes it with EXCEPT + a lag window.
  def q125_strip_repeated_spans(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.stripRepeatedSpans(docs(s, dir), n = 8)
      .orderBy(col("doc_id"))

  private val q125_sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS p,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE i <= len(ws) - 7),
      |gi AS (SELECT sh, min(doc_id) AS holder FROM g GROUP BY sh
      |       HAVING min(doc_id) <> max(doc_id)),
      |hit AS (SELECT g.doc_id, g.p, (g.doc_id = gi.holder) AS keep
      |        FROM g JOIN gi USING (sh)),
      |rem0 AS (SELECT DISTINCT doc_id, p + CAST(off AS BIGINT) AS pos
      |         FROM hit, range(0, 8) o(off) WHERE NOT keep),
      |keep0 AS (SELECT DISTINCT doc_id, p + CAST(off AS BIGINT) AS pos
      |          FROM hit, range(0, 8) o(off) WHERE keep),
      |rm AS (SELECT doc_id, pos FROM rem0
      |       EXCEPT SELECT doc_id, pos FROM keep0),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INT)] AS tok
      |        FROM w, range(1, 100000) t(i) WHERE i <= len(ws)),
      |m AS (SELECT t.doc_id, t.pos, t.tok, (r.pos IS NOT NULL) AS rm,
      |        coalesce(lag(r.pos IS NOT NULL) OVER
      |          (PARTITION BY t.doc_id ORDER BY t.pos), false) AS prm
      |      FROM tok t LEFT JOIN rm r ON t.doc_id = r.doc_id AND t.pos = r.pos),
      |agg AS (SELECT doc_id,
      |    coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '')
      |      AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    CAST(sum(CASE WHEN rm AND NOT prm THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_spans
      |  FROM m GROUP BY doc_id)
      |SELECT d.doc_id, a.clean_text, a.n_tokens, a.n_removed, a.n_spans
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q126 — benchmark decontamination rewrite (the action half of q59, as
  // q125 is to q124): every train-split token covered by a word 8-gram
  // that also occurs in the test split is cut; splits are q52's
  // deterministic content-hash buckets, so the rewrite is reproducible
  // end-to-end. Output is total on the train split. The oracle recomputes
  // the same rule: test grams by max(bucket), covered positions, lag
  // window for span counts.
  def q126_decontaminate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.decontaminateSpans(docs(s, dir), n = 8)
      .orderBy(col("doc_id"))

  private val q126_sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, bucket, CAST(i AS BIGINT) AS p,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE i <= len(ws) - 7),
      |tg AS (SELECT sh FROM g GROUP BY sh HAVING max(bucket) >= 90),
      |hit AS (SELECT doc_id, p FROM g JOIN tg USING (sh) WHERE bucket < 80),
      |rm AS (SELECT DISTINCT doc_id, p + CAST(off AS BIGINT) AS pos
      |       FROM hit, range(0, 8) o(off)),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INT)] AS tok
      |        FROM w, range(1, 100000) t(i)
      |        WHERE bucket < 80 AND i <= len(ws)),
      |m AS (SELECT t.doc_id, t.pos, t.tok, (r.pos IS NOT NULL) AS rm,
      |        coalesce(lag(r.pos IS NOT NULL) OVER
      |          (PARTITION BY t.doc_id ORDER BY t.pos), false) AS prm
      |      FROM tok t LEFT JOIN rm r ON t.doc_id = r.doc_id AND t.pos = r.pos),
      |agg AS (SELECT doc_id,
      |    coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '')
      |      AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    CAST(sum(CASE WHEN rm AND NOT prm THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_spans
      |  FROM m GROUP BY doc_id)
      |SELECT d.doc_id, a.clean_text, a.n_tokens, a.n_removed, a.n_spans
      |FROM (SELECT doc_id FROM w WHERE bucket < 80) d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q128 — two-corpus decontamination rewrite: strip from the train split
  // every token covered by a word 13-gram (the GPT-3 decontamination gram
  // width) occurring anywhere in the HELD-OUT corpus (val + test buckets,
  // treated as an external benchmark table). Exercises the broadcast-
  // probe plan — bench grams broadcast, corpus grams never shuffle —
  // where q126 exercises the one-corpus split form.
  def q128_decontaminate_against(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bucket = TextAnalysis.splitBucket(col("text"))
    TextAnalysis.decontaminateAgainst(
        d.filter(bucket < 80), d.filter(bucket >= 80), n = 13)
      .orderBy(col("doc_id"))
  }

  private val q128_sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |bg AS (
      |  SELECT DISTINCT
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 12 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE bucket >= 80 AND i <= len(ws) - 12),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS p,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 12 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE bucket < 80 AND i <= len(ws) - 12),
      |hit AS (SELECT doc_id, p FROM g JOIN bg USING (sh)),
      |rm AS (SELECT DISTINCT doc_id, p + CAST(off AS BIGINT) AS pos
      |       FROM hit, range(0, 13) o(off)),
      |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INT)] AS tok
      |        FROM w, range(1, 100000) t(i)
      |        WHERE bucket < 80 AND i <= len(ws)),
      |m AS (SELECT t.doc_id, t.pos, t.tok, (r.pos IS NOT NULL) AS rm,
      |        coalesce(lag(r.pos IS NOT NULL) OVER
      |          (PARTITION BY t.doc_id ORDER BY t.pos), false) AS prm
      |      FROM tok t LEFT JOIN rm r ON t.doc_id = r.doc_id AND t.pos = r.pos),
      |agg AS (SELECT doc_id,
      |    coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '')
      |      AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    CAST(sum(CASE WHEN rm AND NOT prm THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_spans
      |  FROM m GROUP BY doc_id)
      |SELECT d.doc_id, a.clean_text, a.n_tokens, a.n_removed, a.n_spans
      |FROM (SELECT doc_id FROM w WHERE bucket < 80) d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q129 — ingest-time contamination gate: flag every document sharing a
  // word 3-gram (q59's width) with the test split, via the collected
  // 60-bit gram blocklist and a per-row binary-search flag — the
  // streaming-stateless row dual of the q59 batch check. The oracle
  // recomputes membership on the gram STRINGS (the 60-bit key is the
  // engine-portable md5 prefix, so string-equality and key-equality
  // agree).
  def q129_contamination_gate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bucket = TextAnalysis.splitBucket(col("text"))
    // the blocklist collect is the gate's contract (bench sets are small
    // by premise — flagNearDups' task-binary envelope, documented there);
    // memoized per bench plan so warm re-runs skip the collect job
    val bg = TextAnalysis.benchGramKeys(d.filter(bucket >= 90), n = 3)
    val keys = graft.core.Caches.memo(bg, "benchKeys")(
      graft.core.KeySets.Members(bg.collect().map(_.getLong(0)).toSeq))
    TextAnalysis.flagContaminated(d, keys, n = 3)
      .select(col("doc_id"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val q129_sql =
    """WITH w AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ws,
      |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |bg AS (
      |  SELECT DISTINCT
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE bucket >= 90 AND i <= greatest(len(ws) - 2, 1)),
      |g AS (
      |  SELECT doc_id,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE i <= greatest(len(ws) - 2, 1)),
      |f AS (SELECT DISTINCT g.doc_id, true AS hit FROM g JOIN bg USING (sh))
      |SELECT w.doc_id,
      |  CASE WHEN w.text IS NULL THEN NULL
      |       ELSE coalesce(f.hit, false) END AS contaminated
      |FROM w LEFT JOIN f USING (doc_id)
      |ORDER BY w.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q54 — boilerplate n-grams: the 16-grams shared by the most documents
  // (document frequency, ties broken lexicographically) — the corpus-
  // cleaning precursor behind the near-dup maxDf caps. Integer-exact.
  def q54_boilerplate_ngrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.boilerplateNgrams(docs(s, dir), n = 16, k = 50)

  // text IS NOT NULL: the Spark op's explode of a null shingle array drops
  // null-text docs, while DuckDB's greatest() ignores NULL and would emit
  // a NULL-shingle group — latent divergence on corpora with null texts.
  private val q54_sql =
    """SELECT sh, CAST(count(*) AS BIGINT) AS df FROM (
      |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 16) AS sh
      |  FROM documents, range(1, 100000) t(i)
      |  WHERE text IS NOT NULL AND i <= greatest(length(text) - 15, 1))
      |GROUP BY sh ORDER BY df DESC, sh LIMIT 50""".stripMargin

  // --------------------------------------------------------------------------
  // q58 — Gopher-style repetition statistics (type-token ratio, top
  // unigram/bigram fraction, duplicate-token fraction): the quality filters
  // that drop boilerplate/degenerate documents before training. Every ratio
  // is one division of exact integers — hash-exact across engines.
  def q58_repetition_stats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(docs(s, dir))
      .orderBy(col("doc_id"))

  private val q58_sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |uc AS (SELECT doc_id, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |uni AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |    count(*) AS n_types, max(cnt) AS max_uni,
      |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
      |  FROM uc GROUP BY 1),
      |wl AS (SELECT doc_id, string_split(text, ' ') AS ws
      |       FROM documents WHERE text IS NOT NULL),
      |bg0 AS (
      |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS b
      |  FROM wl, range(1, 100000) t(i)
      |  WHERE len(ws) >= 2 AND i <= len(ws) - 1),
      |bc AS (SELECT doc_id, b, count(*) AS cnt FROM bg0 GROUP BY 1, 2),
      |bg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |         max(cnt) AS max_bi FROM bc GROUP BY 1)
      |SELECT uni.doc_id, n_tokens,
      |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
      |  CAST(max_uni AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_unigram_frac,
      |  CAST(dup_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_token_frac,
      |  coalesce(CAST(max_bi AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
      |    AS top_bigram_frac
      |FROM uni LEFT JOIN bg ON uni.doc_id = bg.doc_id
      |ORDER BY uni.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q59 — benchmark contamination: train-split documents sharing word
  // 3-grams with the test split (the decontamination check run before
  // training; the splits are q52's deterministic content-keyed buckets, so
  // the whole check is reproducible end-to-end). Integer-exact counts, one
  // exact division.
  def q59_contamination(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.splitContamination(docs(s, dir), n = 3)
      .orderBy(col("doc_id"))

  private val q59_sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |cg AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE bucket < 80 AND i <= greatest(len(ws) - 2, 1)),
      |bg AS (
      |  SELECT DISTINCT
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE bucket >= 90 AND i <= greatest(len(ws) - 2, 1)),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM cg GROUP BY 1),
      |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      |         FROM cg JOIN bg USING (sh) GROUP BY 1)
      |SELECT doc_id, n_grams, n_contaminated,
      |  CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE)
      |    AS contamination_frac
      |FROM hits JOIN sz USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q60 — deterministic stratified sampling: content-hash-keyed per-language
  // keep rates (downsample the dominant language, keep the rest) — the
  // corpus-rebalancing step, reproducible across engines and safe against
  // duplicate groups straddling the sample boundary.
  def q60_stratified_sample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stratifiedSample(docs(s, dir),
        ratesBp = Map("en" -> 3000, "zh" -> 5000,
          "de" -> 10000, "fr" -> 10000, "es" -> 10000))
      .select(col("doc_id"), col("lang"), col("sample_bucket"))
      .orderBy(col("doc_id"))

  private val q60_sql =
    """SELECT doc_id, lang,
      | CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 10000 AS sample_bucket
      |FROM documents
      |WHERE CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 10000 <
      |  CASE WHEN lang = 'en' THEN 3000 WHEN lang = 'zh' THEN 5000
      |       WHEN lang IN ('de', 'fr', 'es') THEN 10000 ELSE 0 END
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q61 — novelty score: fraction of a doc's distinct word 3-grams that no
  // other document contains (corpus df = 1) — the inverse of boilerplate
  // detection. Integer counts, one exact division.
  def q61_novelty_score(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.noveltyScore(docs(s, dir), n = 3)
      .orderBy(col("doc_id"))

  private val q61_sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE i <= greatest(len(ws) - 2, 1)),
      |dft AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS novelty_frac
      |FROM sh0 JOIN dft USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q62 — length outliers: exact per-language length-percentile ranks from a
  // distributed histogram (per-(lang, n_tokens) counts + cumulative sums
  // over that SMALL table — never a corpus-wide window sort), flagging the
  // shortest 1% and longest 1%.
  def q62_length_outliers(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthOutliers(docs(s, dir), low = 0.01, high = 0.99)
      .withColumn("is_outlier", col("is_outlier").cast(IntegerType))
      .orderBy(col("doc_id"))

  private val q62_sql =
    """WITH wl AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL),
      |hist AS (SELECT lang, n_tokens, count(*) AS cnt FROM wl GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, n_tokens,
      |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) - cnt AS DOUBLE)
      |      / CAST(sum(cnt) OVER (PARTITION BY lang) AS DOUBLE) AS pct_lt,
      |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens) AS DOUBLE)
      |      / CAST(sum(cnt) OVER (PARTITION BY lang) AS DOUBLE) AS pct_le
      |  FROM hist)
      |SELECT wl.doc_id, wl.lang, wl.n_tokens, pct_lt, pct_le,
      |  CAST(pct_le <= 0.01 OR pct_lt >= 0.99 AS INT) AS is_outlier
      |FROM wl JOIN cum USING (lang, n_tokens)
      |ORDER BY wl.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q36 — exact dedup by content fingerprint: canonical id + copy count per
  // group (hash-groupBy; the streaming dual is dropDuplicatesWithinWatermark).
  def q36_exact_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(docs(s, dir))
      .select(col("doc_id"), col("fp60"), col("canonical_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  private val q36_sql =
    """WITH fp AS (SELECT doc_id, md5(text) AS fp_md5,
      |   CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp60 FROM documents),
      |g AS (SELECT fp_md5, min(doc_id) AS canonical_id, count(*) AS n_copies
      |      FROM fp GROUP BY 1)
      |SELECT doc_id, fp60, canonical_id, n_copies
      |FROM fp JOIN g USING (fp_md5) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q37 — exact n-gram Jaccard near-dup pairs (char 16-grams, fractional
  // doc-frequency cap — max(500, |docs|/10), threshold 0.5) via
  // inverted-index join. The cap is Dedup.fractionalDfCap's default:
  // 500 at the sf0.01/sf0.1 bench scales (bit-identical to the
  // historical fixed cap), |docs|/10 beyond — boilerplate is a fraction
  // of a corpus, not an absolute count (round-10 sf1 finding).
  def q37_ngram_jaccard_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupJaccard(docs(s, dir), n = 16, minJaccard = 0.5)
      .orderBy(col("i"), col("j"))

  // NOTE: range(1, 100000) caps shingle positions — valid for the driver
  // fixtures (documents are ≤ a few thousand chars); a corpus with ≥100k-char
  // documents needs the bound raised in step with the data.
  // ONE pair-generation CTE fragment shared by q37/q38 (direct pair
  // queries) and q55 (closure over the same pairs) — a param change edited
  // here reaches every consumer, no embedded copies to drift.
  private def jaccardPairCtes(threshold: String): String =
    s"""sh0 AS (
      |  SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), 16) AS sh
      |  FROM documents, range(1, 100000) t(i)
      |  WHERE i <= greatest(length(text) - 15, 1)),
      |keep AS (SELECT sh FROM sh0 GROUP BY sh
      |         HAVING count(*) <= greatest(500, (SELECT count(*) // 10 FROM documents))),
      |sh AS (SELECT id, sh0.sh FROM sh0 JOIN keep USING (sh)),
      |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.id AS i, b.id AS j, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
      |pairs AS (
      |  SELECT i, j,
      |    CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) AS jaccard
      |  FROM inter JOIN sz x ON i = x.id JOIN sz y ON j = y.id
      |  WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= $threshold)""".stripMargin

  private def jaccardOracle(threshold: String): String =
    s"""WITH ${jaccardPairCtes(threshold)}
      |SELECT i, j, jaccard FROM pairs ORDER BY i, j""".stripMargin

  private val q37_sql = jaccardOracle("0.5")

  // --------------------------------------------------------------------------
  // q55 — the dedup DECISION: q37's near-dup pairs → transitive clusters
  // (min-label connected components) → one canonical doc per cluster.
  // keep=1 marks survivors; singletons keep themselves. Integer-exact;
  // the oracle computes the closure with a recursive CTE.
  def q55_dedup_clusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.nearDupJaccard(d, n = 16, minJaccard = 0.5)
    Dedup.dedupDecision(d, pairs)
      .select(col("doc_id"), col("cluster_id"),
        col("keep").cast(IntegerType).as("keep"))
      .orderBy(col("doc_id"))
  }

  private val q55_sql =
    s"""WITH RECURSIVE ${jaccardPairCtes("0.5")},
      |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
      |reach(id, r) AS (
      |  SELECT DISTINCT i AS id, i AS r FROM edges
      |  UNION
      |  SELECT e.i AS id, reach.r FROM edges e JOIN reach ON e.j = reach.id),
      |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT d.doc_id,
      |  coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
      |  CAST(d.doc_id = coalesce(cl.cluster_id, d.doc_id) AS INT) AS keep
      |FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q48 — WORD n-gram Jaccard near-dup (4-token shingles, fractional df
  // cap as q37, threshold 0.5): the token-level dedup most text
  // pipelines run.
  def q48_word_jaccard_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupJaccardTokens(docs(s, dir), n = 4, minJaccard = 0.5)
      .orderBy(col("i"), col("j"))

  private val q48_sql =
    """WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT id, array_to_string(ws[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS sh
      |  FROM w, range(1, 100000) t(i)
      |  WHERE i <= greatest(len(ws) - 3, 1)),
      |keep AS (SELECT sh FROM sh0 GROUP BY sh
      |         HAVING count(*) <= greatest(500, (SELECT count(*) // 10 FROM documents))),
      |sh AS (SELECT id, sh0.sh FROM sh0 JOIN keep USING (sh)),
      |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.id AS i, b.id AS j, count(*) AS c
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
      |SELECT i, j,
      |  CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) AS jaccard
      |FROM inter JOIN sz x ON i = x.id JOIN sz y ON j = y.id
      |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.5
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q38 — MinHash+LSH near-dup (128 hashes, 32 bands × 4): LSH proposes,
  // exact Jaccard verifies, so the oracle is the exact computation. At the
  // 0.7 threshold the 32-band recall is 1 − (1−0.7⁴)³² ≈ 0.9998 per pair,
  // and verified pairs carry exact scores (precision 1).
  def q38_minhash_lsh_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, dir), n = 16,
        numHashes = 128, rowsPerBand = 4, minJaccard = 0.7)
      .orderBy(col("i"), col("j"))

  private val q38_sql = jaccardOracle("0.7")

  // --------------------------------------------------------------------------
  // q39 — SimHash near-dup (60-bit weighted signature over char 16-grams,
  // hamming ≤ 3). The 4×15-bit band join is lossless by pigeonhole, so the
  // all-pairs oracle is exactly equal.
  def q39_simhash_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), n = 16, maxHamming = 3)
      .orderBy(col("i"), col("j"))

  private val q39_sql =
    """WITH shw AS (
      |  SELECT doc_id AS id, substr(text, CAST(i AS INT), 16) AS sh, count(*) AS w
      |  FROM documents, range(1, 100000) t(i)
      |  WHERE i <= greatest(length(text) - 15, 1)
      |  GROUP BY 1, 2),
      |hh AS (SELECT id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h, w FROM shw),
      |bits AS (
      |  SELECT id, bb.b AS b, sum(w * (((h >> bb.b) & 1) * 2 - 1)) AS s
      |  FROM hh, (SELECT unnest(range(0, 60)) AS b) bb
      |  GROUP BY 1, 2),
      |sig AS (
      |  SELECT id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY 1)
      |SELECT a.id AS i, b.id AS j,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |FROM sig a JOIN sig b ON a.id < b.id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q40 — exact cosine top-5 per query (queries = vec_id < 32), fixed-point
  // exact scoring (see Similarity doc). The brute-force ANN baseline.
  def q40_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 32), e, k = 5)
      .select(col("qid"), col("vid"), col("cosine"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  private val q40_sql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id AS qid, b.vec_id AS vid, CAST(sum(q.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex q JOIN ex b ON q.idx = b.idx
      |  WHERE q.vec_id < 32 GROUP BY 1, 2),
      |cos AS (
      |  SELECT qid, vid,
      |    CASE WHEN qn.n2 = 0 OR bn.n2 = 0 THEN 0.0
      |      ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(bn.n2 AS DOUBLE)))
      |    END AS cosine
      |  FROM dots JOIN n2 qn ON qid = qn.vec_id JOIN n2 bn ON vid = bn.vec_id
      |  WHERE qid <> vid)
      |SELECT qid, vid, cosine, CAST(rk AS INT) AS rk FROM (
      |  SELECT cos.*, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vid) AS rk
      |  FROM cos) WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  // --------------------------------------------------------------------------
  // q133 — k-means cluster assignment (k=8, 3 Lloyd iterations) over the
  // embedding corpus: fixed-point grid, content-hash seeds, FLOORED
  // integer centroid means, pure-integer argmin with min-cell ties — the
  // whole trajectory is deterministic, so the oracle replays all three
  // iterations serially and must land on the identical assignment.
  def q133_kmeans_assign(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssignFp(emb(s, dir), k = 8, iters = 3)
      .orderBy(col("vec_id"))

  private val q133_sql: String = {
    // one Lloyd iteration: centroids from assignment a{i-1} (element-wise
    // floored integer mean), then nearest-centroid reassignment a{i}
    def iter(i: Int) =
      s"""e$i AS (
         |  SELECT cell, CAST(t.i AS INT) AS i,
         |    sum(x[CAST(t.i AS INT)]) AS s, count(*) AS c
         |  FROM a${i - 1}, range(1, 100000) t(i)
         |  WHERE t.i <= len(x) GROUP BY 1, 2),
         |m$i AS (SELECT cell, i,
         |    CAST(floor(CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) AS BIGINT) AS m
         |  FROM e$i),
         |d$i AS (
         |  SELECT v.vec_id, m$i.cell,
         |    sum((v.x[m$i.i] - m$i.m) * (v.x[m$i.i] - m$i.m)) AS d
         |  FROM v, m$i GROUP BY 1, 2),
         |a$i AS (
         |  SELECT r.vec_id, r.cell, v.x FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |    FROM d$i) r JOIN v USING (vec_id) WHERE r.rn = 1)"""
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      e -> CAST(floor(CAST(e AS DOUBLE) * 32768.0) AS BIGINT)) AS x,
       |    CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) % 8 AS INT) AS c0
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |a0 AS (SELECT vec_id, c0 AS cell, x FROM v),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT vec_id, CAST(cell AS INT) AS cluster FROM a3
       |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q134 — sentence-level exact dedup: terminators planted as in q102,
  // then every sentence keeps its first corpus-wide occurrence
  // ((doc_id, sent_idx) order) and documents are rebuilt from their kept
  // sentences. Pure-integer counts; hash60 sentence keys on both sides.
  def q134_dedup_sentences(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        replace(replace(col("text"),
          lit(" table "), lit(". Table ")), lit(" fast "), lit("! Fast ")).as("text"))
    TextAnalysis.dedupSentences(planted)
      .orderBy(col("doc_id"))
  }

  private val q134_sql =
    """WITH p AS (
      |  SELECT doc_id,
      |    replace(replace(text, ' table ', '. Table '), ' fast ', '! Fast ') AS text
      |  FROM documents WHERE text IS NOT NULL),
      |m AS (SELECT doc_id,
      |        string_split(regexp_replace(text, '([.!?]) +', '\1' || chr(31), 'g'),
      |          chr(31)) AS ss
      |      FROM p),
      |e AS (SELECT doc_id, unnest(ss) AS sentence,
      |        CAST(generate_subscripts(ss, 1) AS BIGINT) AS sent_idx FROM m),
      |sx AS (SELECT doc_id, sent_idx, sentence FROM e WHERE sentence <> ''),
      |r AS (SELECT doc_id, sent_idx, sentence, row_number() OVER (
      |        PARTITION BY CAST(('0x' || substr(md5(sentence), 1, 15)) AS BIGINT)
      |        ORDER BY doc_id, sent_idx) AS rn
      |      FROM sx)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN rn = 1 THEN sentence END, ' '
      |    ORDER BY sent_idx), '') AS clean_text,
      |  CAST(count(*) AS BIGINT) AS n_sents,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q135 — k-means distance outliers (k=8, 3 Lloyd iterations, top 10 per
  // cluster): each vector's exact integer squared distance to its trained
  // centroid, farthest-first per cluster — the prototypicality-pruning
  // audit. The oracle replays q133's unrolled Lloyd trajectory and ranks
  // the same full distances.
  def q135_kmeans_outliers(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansOutliersFp(emb(s, dir), k = 8, iters = 3, topPerCell = 10)
      .orderBy(col("cluster"), col("rk"))

  private val q135_sql: String = {
    // same trajectory CTEs as q133 (v, a0, iterations 1-3), then rank the
    // FULL distances d3 per cluster, farthest first
    val prefix = q133_sql
      .split("SELECT vec_id, CAST\\(cell AS INT\\) AS cluster FROM a3")(0)
    s"""${prefix.trim.stripSuffix(",")},
       |r AS (SELECT vec_id, cell, d, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY d, cell) AS rn
       |      FROM d3),
       |b AS (SELECT vec_id, CAST(cell AS INT) AS cluster, CAST(d AS BIGINT) AS d2
       |      FROM r WHERE rn = 1),
       |o AS (SELECT vec_id, cluster, d2, CAST(row_number() OVER (
       |        PARTITION BY cluster ORDER BY d2 DESC, vec_id) AS BIGINT) AS rk
       |      FROM b)
       |SELECT vec_id, cluster, d2, rk FROM o WHERE rk <= 10
       |ORDER BY cluster, rk""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q136 — per-source distinct-ngram diversity (word 3-grams): the
  // self-repetition audit; exact integer counts, one mirrored floor.
  def q136_ngram_diversity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctNgramRatio(docs(s, dir), n = 3)
      .orderBy(col("source"))

  private val q136_sql =
    """WITH w AS (
      |  SELECT source, string_split(text, ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT source,
      |    CAST(('0x' || substr(md5(
      |      array_to_string(ws[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')), 1, 15))
      |      AS BIGINT) AS gk
      |  FROM w, range(1, 100000) t(i) WHERE i <= len(ws) - 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(count(DISTINCT gk) AS BIGINT) AS n_distinct,
      |  CAST(floor(CAST(count(DISTINCT gk) AS DOUBLE) * 1000000.0 /
      |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS distinct_fp
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // q137 — incremental exact dedup: survivors of the top-10%-of-ids delta
  // batch against the rest of the corpus (fractional boundary — one SQL
  // text at every scale). Full-md5 fingerprints decide membership.
  def q137_exact_dedup_against(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val total = graft.core.Caches.count(d)
    val lo = total * 9 / 10
    Dedup.exactDedupAgainst(
        d.filter(col("doc_id") >= lo), d.filter(col("doc_id") < lo))
      .orderBy(col("doc_id"))
  }

  private val q137_sql =
    """WITH nn AS (SELECT (count(*) * 9) // 10 AS lo FROM documents),
      |d AS (SELECT doc_id, md5(text) AS fp,
      |        CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp60
      |      FROM documents, nn WHERE doc_id >= lo AND text IS NOT NULL),
      |g AS (SELECT fp, min(doc_id) AS keep_id,
      |        CAST(count(*) AS BIGINT) AS n_delta_copies
      |      FROM d GROUP BY fp),
      |c AS (SELECT DISTINCT md5(text) AS fp
      |      FROM documents, nn WHERE doc_id < lo AND text IS NOT NULL)
      |SELECT d.doc_id, d.fp60, g.n_delta_copies
      |FROM d JOIN g USING (fp)
      |WHERE d.doc_id = g.keep_id AND fp NOT IN (SELECT fp FROM c)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q138 — out-of-vocabulary rate per document against a fixed 15-word
  // vocabulary (half the synthetic corpus vocab → mid-range rates).
  private val OovVocab = Seq("the", "a", "data", "spark", "join", "row",
    "key", "hash", "scan", "value", "order", "filter", "big", "fast", "slow")

  def q138_oov_rate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovRate(docs(s, dir).filter(col("text").isNotNull), OovVocab)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_fp"))
      .orderBy(col("doc_id"))

  private val q138_sql = {
    val lst = OovVocab.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH x AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> NOT list_contains($lst, t))) AS BIGINT) AS n_oov
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, n_tokens, n_oov,
       |  CAST(floor(CAST(n_oov AS DOUBLE) * 1000000.0 /
       |    CAST(n_tokens AS DOUBLE)) AS BIGINT) AS oov_fp
       |FROM x ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q139 — top-50 term rank-frequency (Zipf audit): exact counts, ties
  // rank by term; share over the exact corpus token total.
  def q139_term_rank_freq(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.termRankFreq(docs(s, dir), k = 50)
      .orderBy(col("rank"))

  private val q139_sql =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY term),
      |n AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM f),
      |r AS (SELECT term, freq,
      |        CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
      |      FROM f)
      |SELECT rank, term, freq,
      |  CAST(floor(CAST(freq AS DOUBLE) * 1000000.0 /
      |    CAST(n.n_total AS DOUBLE)) AS BIGINT) AS share_fp
      |FROM r, n WHERE rank <= 50 ORDER BY rank""".stripMargin

  // --------------------------------------------------------------------------
  // q41 — embedding-cosine near-dup pairs (threshold 0.4, exact all-pairs —
  // the verification-grade variant; the LSH-bucketed scale path is q42).
  def q41_embedding_neardup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.exactCosinePairs(e, e)
      .filter(col("qid") < col("vid") && col("cosine") >= 0.4)
      .select(col("qid").as("i"), col("vid").as("j"), col("cosine"))
      .orderBy(col("i"), col("j"))
  }

  private val q41_sql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex a JOIN ex b ON a.idx = b.idx AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2)
      |SELECT i, j,
      |  CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0.0
      |    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
      |  END AS cosine
      |FROM dots JOIN n2 x ON i = x.vec_id JOIN n2 y ON j = y.vec_id
      |WHERE CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0.0
      |    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
      |  END >= 0.4
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q142 — embedding-space decontamination: corpus vectors semantically
  // close (cos ≥ 0.5) to a held-out benchmark set (the deterministic
  // vec_id % 37 slice — its members self-match at cos 1.0, and planted
  // near-dup groups contaminate across the slice boundary). The semantic
  // complement of q59's n-gram check; same fixed-point/IEEE discipline as
  // q41, so counts, max cosines, and the threshold are hash-exact.
  def q142_semantic_contamination(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.semanticContamination(e, e.filter(pmod(col("vec_id"), lit(37L)) === 0),
        minCosine = 0.5)
      .orderBy(col("vec_id"))
  }

  private val q142_sql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT c.vec_id AS cid, b.vec_id AS bid, CAST(sum(c.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex c JOIN ex b ON c.idx = b.idx AND b.vec_id % 37 = 0
      |  GROUP BY 1, 2),
      |cosv AS (
      |  SELECT cid, bid,
      |    CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0.0
      |      ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
      |    END AS cos
      |  FROM dots JOIN n2 x ON cid = x.vec_id JOIN n2 y ON bid = y.vec_id)
      |SELECT cid AS vec_id, CAST(count(*) AS BIGINT) AS n_close, max(cos) AS max_cos
      |FROM cosv WHERE cos >= 0.5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q50 — LSH-bucketed embedding near-dup PAIRS (the 100 TB scale path for
  // q41's corpus-level embedding dedup): SRP band candidates, exact
  // fixed-point verify — every emitted pair is a true q41 pair with a
  // bit-identical cosine (precision 1); banding controls recall only.
  // Driver-visible gate (round 7): the query emits the band summary
  // against the exact q41 dual computed in-plan — (n_exact_pairs,
  // precision_ok, recall_ok) with recall tolerance 0.8 (the ScalaTest
  // gate; measured 0.88 at sf0.01 / 0.94 at sf0.1, deterministic) and
  // precision matched on (i, j, cosine) — bit-identical scores, so a
  // single stray or off-by-one-ulp pair flips the flag. The oracle
  // recomputes the exact side and asserts both flags = 1. Fine-grained
  // recall/precision values stay in ScalaTest.
  def q50_embedding_neardup_lsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val lsh = Similarity.annLshPairs(e, minCosine = 0.4)
      .select(col("i"), col("j"), col("cosine")).withColumn("ls", lit(1))
    val exact = Similarity.exactCosinePairs(e, e)
      .filter(col("qid") < col("vid") && col("cosine") >= 0.4)
      .select(col("qid").as("i"), col("vid").as("j"), col("cosine"))
      .withColumn("ex", lit(1))
    exact.join(lsh, Seq("i", "j", "cosine"), "full_outer")
      .agg(count(col("ex")).as("n_exact_pairs"),
        count(when(col("ex").isNotNull && col("ls").isNotNull, lit(1))).as("n_both"),
        count(when(col("ex").isNull, lit(1))).as("n_lsh_only"))
      .select(col("n_exact_pairs"),
        (col("n_lsh_only") === 0).cast(IntegerType).as("precision_ok"),
        (col("n_both").cast(DoubleType) >=
          lit(0.8) * col("n_exact_pairs").cast(DoubleType))
          .cast(IntegerType).as("recall_ok"))
  }

  private val q50_sql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex a JOIN ex b ON a.idx = b.idx AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT i, j
      |  FROM dots JOIN n2 x ON i = x.vec_id JOIN n2 y ON j = y.vec_id
      |  WHERE CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0.0
      |      ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
      |    END >= 0.4)
      |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
      |  1 AS precision_ok, 1 AS recall_ok FROM pairs""".stripMargin

  /** Shared q42/q45 oracle: the q40 exact-top-k dual reduced to the band
    * row (n_queries, n_exact, recall_ok = literal 1 — the Spark side must
    * compute the flag true for the hash to match). */
  private val annBandSql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id AS qid, b.vec_id AS vid, CAST(sum(q.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex q JOIN ex b ON q.idx = b.idx
      |  WHERE q.vec_id < 32 GROUP BY 1, 2),
      |cos AS (
      |  SELECT qid, vid,
      |    CASE WHEN qn.n2 = 0 OR bn.n2 = 0 THEN 0.0
      |      ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(bn.n2 AS DOUBLE)))
      |    END AS cosine
      |  FROM dots JOIN n2 qn ON qid = qn.vec_id JOIN n2 bn ON vid = bn.vec_id
      |  WHERE qid <> vid),
      |topk AS (SELECT qid, vid FROM (
      |  SELECT cos.*, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vid) AS rk
      |  FROM cos) WHERE rk <= 5)
      |SELECT count(DISTINCT qid) AS n_queries,
      |  CAST(count(*) AS BIGINT) AS n_exact, 1 AS recall_ok FROM topk""".stripMargin

  // --------------------------------------------------------------------------
  // q42 — LSH-bucketed approximate top-k (the 100 TB ANN path): sign-random-
  // projection buckets, bucket-local exact re-rank. Driver-visible gate
  // (round 7): emits Similarity.topKRecallBand vs the q40 brute-force dual
  // — tolerance 0.25 (the ScalaTest gate; measured 0.43 at sf0.01 / 0.61
  // at sf0.1, deterministic). Oracle = exact-side counts + literal 1.
  // Round 11: the band uses Similarity.srpRecallBand — the shared-exact-
  // dual-hub pattern q45/q122 already run — so the gate pays ONE |Q|·|B|
  // exact pass serving both band sides instead of an independent
  // brute-force dual plus a re-scored ANN side.
  def q42_ann_lsh_topk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 32)
    Similarity.srpRecallBand(q, e, k = 5, minRecall = 0.25)
  }

  // --------------------------------------------------------------------------
  // q45 — IVF approximate top-k (the inverted-file ANN scale path; see
  // Similarity.ivfTopK). Driver-visible gate (round 7): recall band vs the
  // q40 brute-force dual — tolerance 0.25 (ScalaTest gate; measured 0.49
  // at sf0.01 / 0.44 at sf0.1, deterministic). Round 10: the band uses
  // Similarity.ivfRecallBand — the q122 shared-exact-dual-hub pattern —
  // so the gate pays ONE |Q|·|B| exact pass (persisted, serving both
  // band sides) overlapped with the Lloyd trainer collect.
  def q45_ivf_ann_topk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 32)
    Similarity.ivfRecallBand(q, e, k = 5, minRecall = 0.25)
  }

  // --------------------------------------------------------------------------
  // q43 — multimodal plumbing: binary payload + typed metadata + frame
  // sampling (64-byte frames, stride 64). Byte counts and frame counts are
  // integer-exact; the stubbed decode path is exercised in ScalaTest.
  def q43_multimodal_frames(s: SparkSession, dir: String): DataFrame = {
    val m = Multimodal.fromDocuments(docs(s, dir))
    val frames = Multimodal.frameSample(m, frameLen = 64, stride = 64)
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    m.select(col("media_id"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        element_at(col("meta"), "lang").as("lang"))
      .join(frames, Seq("media_id"))
      .orderBy(col("media_id"))
  }

  private val q43_sql =
    """SELECT doc_id AS media_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | lang,
      | CAST(greatest((octet_length(encode(text)) - 64) // 64, 0) + 1 AS BIGINT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------------------
  // q63 — PII detection + redaction. The fixture corpus is sampled from a
  // clean vocabulary and contains no PII, so the query PLANTS deterministic
  // email/phone/IPv4 strings derived from doc_id — both engines compute the
  // identical planted input, and the operator's matching and ordered
  // redaction are exercised for real (counts 1/1/1 per doc, and the
  // redacted text is hash-compared byte-for-byte).
  private def plantPii(d: DataFrame): DataFrame =
    d.select(col("doc_id"), concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast(StringType),
      lit("@mail"), pmod(col("doc_id"), lit(7L)).cast(StringType),
      lit(".example.com call 555-"),
      lpad(pmod(col("doc_id") * 7, lit(1000L)).cast(StringType), 3, "0"),
      lit("-"),
      lpad(pmod(col("doc_id") * 13, lit(10000L)).cast(StringType), 4, "0"),
      lit(" ip 10."), pmod(col("doc_id"), lit(256L)).cast(StringType),
      lit(".0."), pmod(col("doc_id") * 3, lit(256L)).cast(StringType)).as("text"))

  def q63_pii_redact(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiRedact(plantPii(docs(s, dir)))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        col("redacted"))
      .orderBy(col("doc_id"))

  // one planted-input CTE fragment shared by q63/q68-style queries; the
  // regexes interpolate from the SAME TextAnalysis constants the operator
  // compiles, so pattern and oracle cannot drift
  // NOTE: every line ENDS with its || — q63_sql interpolates this fragment
  // into a .stripMargin string, and a line STARTING with || would lose one
  // pipe to the margin stripper (the classic interpolate-then-strip trap)
  private val piiPlantSql =
    """SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
      '.example.com call 555-' ||
      lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
      lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') ||
      ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR) AS t
      FROM documents"""

  private val q63_sql =
    s"""WITH p AS ($piiPlantSql)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(t, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
      |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
      |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS redacted
      |FROM p ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q64 — bigram collocation statistics ranked by lift (the log-free core
  // of PMI — monotone in it, so the ranking is the PMI ranking without the
  // cross-engine last-ulp hazard of ln). Counts are integer-exact; lift is
  // three IEEE divisions and one multiply with fixed association.
  def q64_collocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(docs(s, dir), minCount = 20)
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(50)

  private val q64_sql =
    """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL),
      |uni AS (SELECT unnest(w) AS t FROM ws),
      |ucnt AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
      |nu AS (SELECT count(*) AS n_u FROM uni),
      |big AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i + 1 AS INT)] AS w2
      |        FROM ws, range(1, 100000) t(i) WHERE i <= len(w) - 1),
      |nb AS (SELECT count(*) AS n_b FROM big),
      |bcnt AS (SELECT w1, w2, count(*) AS c_ab FROM big GROUP BY 1, 2
      |         HAVING count(*) >= 20)
      |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
      |  (CAST(c_ab AS DOUBLE) / CAST(n_b AS DOUBLE)) /
      |  ((CAST(a.c AS DOUBLE) / CAST(n_u AS DOUBLE)) *
      |   (CAST(b.c AS DOUBLE) / CAST(n_u AS DOUBLE))) AS lift
      |FROM bcnt JOIN ucnt a ON w1 = a.t JOIN ucnt b ON w2 = b.t, nu, nb
      |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin

  // --------------------------------------------------------------------------
  // q65 — unpivot (melt): a wide per-language source-count matrix back to
  // long (lang, source, cnt) rows via Dataset.unpivot — the schema-reshape
  // op for feeding wide aggregates to long-format consumers. Oracle is the
  // UNION ALL expansion of the same wide CTE.
  def q65_unpivot(s: SparkSession, dir: String): DataFrame = {
    val srcs = (0 to 4).map(i => s"src$i")
    val wide = docs(s, dir).groupBy(col("lang")).agg(
      count(when(col("source") === srcs.head, 1)).as(srcs.head),
      srcs.tail.map(sc => count(when(col("source") === sc, 1)).as(sc)): _*)
    wide.unpivot(Array(col("lang")), srcs.map(col).toArray, "source", "cnt")
      .orderBy(col("lang"), col("source"))
  }

  private val q65_sql =
    """WITH wide AS (
      |  SELECT lang,
      |    count(*) FILTER (WHERE source = 'src0') AS src0,
      |    count(*) FILTER (WHERE source = 'src1') AS src1,
      |    count(*) FILTER (WHERE source = 'src2') AS src2,
      |    count(*) FILTER (WHERE source = 'src3') AS src3,
      |    count(*) FILTER (WHERE source = 'src4') AS src4
      |  FROM documents GROUP BY lang)
      |SELECT lang, source, cnt FROM (
      |  SELECT lang, 'src0' AS source, src0 AS cnt FROM wide
      |  UNION ALL SELECT lang, 'src1', src1 FROM wide
      |  UNION ALL SELECT lang, 'src2', src2 FROM wide
      |  UNION ALL SELECT lang, 'src3', src3 FROM wide
      |  UNION ALL SELECT lang, 'src4', src4 FROM wide)
      |ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------------------
  // q67 — overlapping token-window chunking (32-token windows, stride 16):
  // the context-window prep op. Integer positions and byte-exact chunk
  // text make it fully hash-checkable.
  def q67_doc_chunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(docs(s, dir), window = 32, stride = 16)
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q67_sql =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
      |            FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |        CAST(i * 16 + 1 AS BIGINT) AS start_token,
      |        w[CAST(i * 16 + 1 AS INT):CAST(i * 16 + 32 AS INT)] AS toks
      |      FROM ws, range(0, 100000) t(i)
      |      WHERE i <= (len(w) - 1) // 16)
      |SELECT doc_id, chunk_idx, start_token,
      |  CAST(len(toks) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(toks, ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------------------
  // q68 — URL domain statistics over planted deterministic URLs (the
  // fixture corpus has none — same rationale as q63): each doc mentions
  // one of 50 host domains and one of 3 cdn domains; the operator
  // extracts and aggregates per domain.
  def q68_domain_stats(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      lit(" see https://host"), pmod(col("doc_id"), lit(50L)).cast(StringType),
      lit(".example.org/p/"), col("doc_id").cast(StringType),
      lit(" and http://cdn"), pmod(col("doc_id"), lit(3L)).cast(StringType),
      lit(".example.net/x")).as("text"))
    TextAnalysis.domainStats(planted).orderBy(col("domain"))
  }

  private val q68_sql =
    s"""WITH p AS (
      |  SELECT doc_id, text || ' see https://host' || CAST(doc_id % 50 AS VARCHAR)
      |    || '.example.org/p/' || CAST(doc_id AS VARCHAR)
      |    || ' and http://cdn' || CAST(doc_id % 3 AS VARCHAR)
      |    || '.example.net/x' AS t
      |  FROM documents),
      |d AS (SELECT doc_id,
      |        unnest(regexp_extract_all(t, '${TextAnalysis.UrlDomainRe}', 1)) AS domain
      |      FROM p)
      |SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  count(*) AS n_urls
      |FROM d GROUP BY domain ORDER BY domain""".stripMargin

  // --------------------------------------------------------------------------
  // q75 — the pre-training cleaning pass END-TO-END, as ONE Catalyst plan:
  // quality-score filter (q33's operator) ∧ repetition filter (q58's) →
  // exact dedup keeping canonicals (q36's) → deterministic content-keyed
  // split (q52's rule, applied to the dedup's own fp60 — no text re-hash,
  // no join back). The showcase composition: every stage is a library
  // operator, Catalyst fuses the lot, and the oracle chains the SAME
  // verified SQL fragments — so the composition is hash-exact, not just
  // each piece. EVERY stage DECIDES on the gate fixture — the fixture
  // alone cannot make that true (its repetitive docs all fail the quality
  // filter too, so the repetition stage would be along for the ride), so
  // the corpus is unioned with two planted classes both engines derive
  // identically: a re-crawl (the first 50 docs again under new ids —
  // re-crawled pages being the canonical exact-dup source; they pass the
  // filters and die at dedup) and 20 degenerate docs built to PASS
  // quality (stopword-rich, ~100 tokens, mean length near 5) yet FAIL
  // repetition (one phrase repeated 33× → top_bigram_frac ≈ 0.33); an
  // inverted predicate or broken canonical election changes the hash.
  def q75_clean_pipeline(s: SparkSession, dir: String): DataFrame = {
    val d0 = docs(s, dir).select(col("doc_id"), col("text"))
    // planted ids live at 10^12 so they can NEVER collide with real
    // doc_ids at any corpus scale (the previous +10000 offset collided
    // with real ids on a 50k-doc sf1 corpus and silently changed the
    // dedup's canonical election)
    val degen = s.range(2000000000000L, 2000000000020L).select(col("id").as("doc_id"),
      concat(repeat(lit("the stream of "), 33), lit("end"),
        col("id").cast(StringType)).as("text"))
    val d = d0
      .unionByName(d0.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
      .unionByName(degen)
    val q = TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("text"), col("quality_score"))
    val r = TextAnalysis.repetitionStats(d).select(col("doc_id"), col("top_bigram_frac"))
    // persist the survivors BEFORE dedup: exactDedup's elect-and-join-back
    // self-join would otherwise evaluate the whole quality ∧ repetition
    // subtree twice (both sides of the fingerprint join re-derive it) —
    // the hub is |kept| slim rows, released via Caches.unpersistAll
    val kept = graft.core.Caches.persist(q.join(r, Seq("doc_id"))
      .filter(col("quality_score") >= 0.5 && col("top_bigram_frac") <= 0.1))
    val ded = Dedup.exactDedup(kept)
      .filter(col("doc_id") === col("canonical_id"))
    ded.select(col("doc_id"), col("fp60"),
        TextAnalysis.splitLabel(pmod(col("fp60"), lit(100L))).as("split"))
      .orderBy(col("doc_id"))
  }

  private val q75_sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000000 AS doc_id, text FROM documents WHERE doc_id < 50
      |  UNION ALL
      |  SELECT 2000000000000 + i AS doc_id,
      |    repeat('the stream of ', 33) || 'end' || CAST(2000000000000 + i AS VARCHAR) AS text
      |  FROM range(0, 20) t(i)),
      |qs AS (
      |  SELECT doc_id,
      |    ((CAST(len(list_filter(string_split(text,' '),
      |        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
      |       / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.4)
      |     + ((greatest(0.0, 1.0 - abs((CAST(length(replace(text,' ','')) AS DOUBLE)
      |          / CAST(len(string_split(text,' ')) AS DOUBLE)) - 5.0) / 5.0)) * 0.4)
      |     + (least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * 0.2)
      |      AS quality_score
      |  FROM corpus),
      |wl AS (SELECT doc_id, string_split(text, ' ') AS ws
      |       FROM corpus WHERE text IS NOT NULL),
      |bg0 AS (
      |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS b
      |  FROM wl, range(1, 100000) t(i)
      |  WHERE len(ws) >= 2 AND i <= len(ws) - 1),
      |bc AS (SELECT doc_id, b, count(*) AS cnt FROM bg0 GROUP BY 1, 2),
      |bg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |         max(cnt) AS max_bi FROM bc GROUP BY 1),
      |rep AS (SELECT wl.doc_id,
      |          coalesce(CAST(max_bi AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0)
      |            AS top_bigram_frac
      |        FROM wl LEFT JOIN bg USING (doc_id)),
      |kept AS (
      |  SELECT d.doc_id, d.text FROM corpus d
      |  JOIN qs USING (doc_id) JOIN rep USING (doc_id)
      |  WHERE qs.quality_score >= 0.5 AND rep.top_bigram_frac <= 0.1),
      |fp AS (SELECT doc_id, text, md5(text) AS m,
      |         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp60 FROM kept),
      |canon AS (SELECT m, min(doc_id) AS cid FROM fp GROUP BY m),
      |ded AS (SELECT fp.doc_id, fp.fp60 FROM fp
      |        JOIN canon ON fp.m = canon.m AND fp.doc_id = canon.cid)
      |SELECT doc_id, fp60,
      |  CASE WHEN fp60 % 100 < 80 THEN 'train'
      |       WHEN fp60 % 100 < 90 THEN 'val' ELSE 'test' END AS split
      |FROM ded ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q76 — pivot proper (the inverse reshape of q65's unpivot): per-language
  // counts spread into one column per source via RelationalGroupedDataset
  // .pivot with an EXPLICIT value list — never the value-discovering
  // overload, which runs a distinct scan on the driver and caps out at
  // spark.sql.pivotMaxValues at scale. Absent combinations are coalesced
  // to 0 to match SQL conditional-count semantics.
  def q76_pivot(s: SparkSession, dir: String): DataFrame = {
    val srcs = (0 to 4).map(i => s"src$i")
    // no source pre-filter: pivot with an explicit value list already
    // ignores other sources, and a filter would DROP a lang whose docs all
    // carry unlisted sources, where the conditional-count oracle keeps it
    // with zero counts
    docs(s, dir)
      .groupBy(col("lang")).pivot("source", srcs).agg(count(lit(1)))
      .select(col("lang") +: srcs.map(sc => coalesce(col(sc), lit(0L)).as(sc)): _*)
      .orderBy(col("lang"))
  }

  private val q76_sql =
    """SELECT lang,
      |  count(*) FILTER (WHERE source = 'src0') AS src0,
      |  count(*) FILTER (WHERE source = 'src1') AS src1,
      |  count(*) FILTER (WHERE source = 'src2') AS src2,
      |  count(*) FILTER (WHERE source = 'src3') AS src3,
      |  count(*) FILTER (WHERE source = 'src4') AS src4
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------------
  // q78 — incremental (R-S) near-dup: the delta batch (doc_id ≥ 400)
  // matched against the existing corpus (doc_id < 400) — the ingest-time
  // dedup shape that never re-pairs the corpus with itself. The capped
  // universe is defined by the corpus' document frequencies; same 16-gram /
  // 0.5 parameters as the self-join q37, so at the fixture this emits
  // exactly q37's cross-boundary pairs.
  def q78_incremental_neardup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.nearDupJaccardAcross(
        d.filter(col("doc_id") >= 400), d.filter(col("doc_id") < 400),
        n = 16, minJaccard = 0.5)
      .orderBy(col("i"), col("j"))
  }

  private val q78_sql =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
      |delta AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400),
      |csh AS (
      |  SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), 16) AS sh
      |  FROM corpus, range(1, 100000) t(i)
      |  WHERE i <= greatest(length(text) - 15, 1)),
      |cdf AS (SELECT sh, count(*) AS df FROM csh GROUP BY sh),
      |ckeep AS (SELECT id, csh.sh FROM csh JOIN cdf USING (sh)
      |          WHERE df <= greatest(500, (SELECT count(*) // 10 FROM corpus))),
      |dsh AS (
      |  SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), 16) AS sh
      |  FROM delta, range(1, 100000) t(i)
      |  WHERE i <= greatest(length(text) - 15, 1)),
      |dkeep AS (SELECT id, dsh.sh FROM dsh LEFT JOIN cdf USING (sh)
      |          WHERE coalesce(df, 0) <= greatest(500, (SELECT count(*) // 10 FROM corpus))),
      |dsz AS (SELECT id, count(*) AS n FROM dkeep GROUP BY 1),
      |csz AS (SELECT id, count(*) AS n FROM ckeep GROUP BY 1),
      |inter AS (
      |  SELECT d.id AS i, c.id AS j, count(*) AS c
      |  FROM dkeep d JOIN ckeep c ON d.sh = c.sh GROUP BY 1, 2)
      |SELECT i, j, CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) AS jaccard
      |FROM inter JOIN dsz x ON i = x.id JOIN csz y ON j = y.id
      |WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.5
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q79 — BM25 keyword search: top-20 documents for a mixed rare/common
  // term query ("dup" df≈25, "spark"/"window" df≈385 at sf0.01), scored by
  // Search.bm25TopK's fixed-point rational-idf BM25. The lexical-retrieval
  // dual of the embedding top-k family (q40/q42/q45); oracle is the same
  // expression tree in DuckDB (bit-exact — see Search scaladoc).
  def q79_bm25_search(s: SparkSession, dir: String): DataFrame =
    Search.bm25TopK(docs(s, dir), Bm25Terms, topK = 20)

  private val Bm25Terms = Seq("dup", "spark", "window")

  private val q79_sql = Search.bm25OracleSql("documents", Bm25Terms, topK = 20)

  // --------------------------------------------------------------------------
  // q80 — HTML/markup stripping: the corpus wrapped in realistic page
  // chrome (uppercase STYLE block, a script whose body contains a bare
  // `>`, attributes, entity-escaped text) → TextAnalysis.stripMarkup.
  // The script-body `>` proves block stripping runs before generic tag
  // removal; the entity paragraph proves decode runs after it. Oracle is
  // the same pattern chain via stripMarkupSqlExpr (Java∩RE2 subset).
  def q80_strip_markup(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast(StringType)
    val planted = docs(s, dir).select(col("doc_id"), concat(
      lit("<html><head><STYLE>p {color:#c00}</STYLE><script type=\"text/js\">var i="),
      id, lit(";if(i>1){i=0}</script></head><body class=\"doc\"><h1>Doc "),
      id, lit("</h1> <p>"), col("text"),
      lit("</p> <p>&quot;q&quot; &amp;amp; &lt;tag&gt;&nbsp;&#39;s&#39;</p></body></html>")
    ).as("text"))
    TextAnalysis.stripMarkup(planted)
      .select(col("doc_id"), col("clean_text"), col("n_chars_clean"))
      .orderBy(col("doc_id"))
  }

  private val q80_sql = {
    // NOTE: lines END with || — this fragment is interpolated into a
    // .stripMargin string (see piiPlantSql's note on the same trap)
    val plant = """SELECT doc_id,
      '<html><head><STYLE>p {color:#c00}</STYLE><script type="text/js">var i=' ||
      CAST(doc_id AS VARCHAR) || ';if(i>1){i=0}</script></head><body class="doc"><h1>Doc ' ||
      CAST(doc_id AS VARCHAR) || '</h1> <p>' || text ||
      '</p> <p>&quot;q&quot; &amp;amp; &lt;tag&gt;&nbsp;&#39;s&#39;</p></body></html>' AS t
      FROM documents"""
    s"""WITH p AS ($plant),
      |c AS (SELECT doc_id, ${TextAnalysis.stripMarkupSqlExpr("t")} AS clean_text FROM p)
      |SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars_clean
      |FROM c ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q81 — weighted source mixing (stride scheduling): src0 4× as often as
  // src2, src1 2×; sources outside the weight map excluded. The parallel
  // bucket-offset seq (see ext.Sharding.mixSources) is verified against
  // the serial rule: one global row_number over (pos, source, doc_id).
  def q81_source_mix(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sharding.mixSources(docs(s, dir),
      Map("src0" -> 4L, "src1" -> 2L, "src2" -> 1L), grain = 64)
      .orderBy(col("seq"))

  private val q81_sql =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS k
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
      |p AS (SELECT doc_id, source,
      |  k * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 WHEN 'src2' THEN 4 END) AS pos
      |  FROM r)
      |SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
      |  row_number() OVER (ORDER BY pos, source, doc_id) AS seq
      |FROM p ORDER BY seq""".stripMargin

  // --------------------------------------------------------------------------
  // q82 — int8 scalar quantization of the embeddings table: per-dimension
  // exact min/max ranges (one aggregate pass, dims×2 driver literal),
  // then a map-only quantize. Output exploded to (vec_id, dim, q) scalars
  // so the gate hashes longs, not array reprs. Oracle recomputes the same
  // ranges and the same IEEE expression tree via DuckDB's zipped unnest.
  def q82_embedding_quantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(emb(s, dir))
      .select(col("vec_id"), posexplode(col("qvec")).as(Seq("dim", "q")))
      .orderBy(col("vec_id"), col("dim"))

  private val q82_sql =
    """WITH e AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         unnest(range(len(embedding))) AS dim
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |r AS (SELECT dim, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
      |      FROM e GROUP BY 1)
      |SELECT vec_id, CAST(e.dim AS INT) AS dim,
      |  CASE WHEN mx = mn THEN 0
      |       ELSE CAST(floor(((CAST(x AS DOUBLE) - mn) / (mx - mn)) * 255.0) AS BIGINT) - 128
      |  END AS q
      |FROM e JOIN r ON e.dim = r.dim
      |ORDER BY vec_id, dim""".stripMargin

  // --------------------------------------------------------------------------
  // q83 — tf·idf keyword extraction: top-5 terms per document (the
  // corpus-wide tagging projection; q79 is the query-time probe). Small
  // corpus vocabulary (~30 terms) makes the rank boundary exercise real
  // tie-breaking. Fixed-point scores — see ext.Search.
  def q83_tfidf_keywords(s: SparkSession, dir: String): DataFrame =
    Search.tfidfKeywords(docs(s, dir), k = 5)
      .orderBy(col("doc_id"), col("rk"))

  private val q83_sql = Search.tfidfOracleSql("documents", k = 5)

  // --------------------------------------------------------------------------
  // q84 — leakage-safe split: q55's clusters + q52's content-hash split
  // rule keyed by the cluster CANONICAL's hash, so near-dups never
  // straddle train/val/test. Oracle chains the recursive-CTE clustering
  // with the md5 bucket rule through the same canonical join.
  def q84_cluster_safe_split(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.nearDupJaccard(d, n = 16, minJaccard = 0.5)
    Dedup.clusterSafeSplit(d, pairs)
      .select(col("doc_id"), col("cluster_id"),
        col("keep").cast(IntegerType).as("keep"),
        col("split_bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  private val q84_sql =
    s"""WITH RECURSIVE ${jaccardPairCtes("0.5")},
      |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
      |reach(id, r) AS (
      |  SELECT DISTINCT i AS id, i AS r FROM edges
      |  UNION
      |  SELECT e.i AS id, reach.r FROM edges e JOIN reach ON e.j = reach.id),
      |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      |dec AS (SELECT d.doc_id,
      |    coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
      |    CAST(d.doc_id = coalesce(cl.cluster_id, d.doc_id) AS INT) AS keep
      |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
      |cb AS (SELECT doc_id AS cluster_id,
      |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS split_bucket
      |  FROM documents)
      |SELECT dec.doc_id, dec.cluster_id, dec.keep, cb.split_bucket,
      |  CASE WHEN cb.split_bucket < 80 THEN 'train'
      |       WHEN cb.split_bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM dec JOIN cb USING (cluster_id)
      |ORDER BY dec.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q85 — bigram-LM quality score: corpus-self MLE bigram probabilities,
  // per-doc fixed-point mean (the deterministic perplexity-proxy filter —
  // see TextAnalysis.bigramLmScore for the ln-free design). Oracle builds
  // the same bigrams with the q48-style range join.
  def q85_lm_quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(docs(s, dir)).orderBy(col("doc_id"))

  private val q85_sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i + 1 AS INT)] AS w2
      |       FROM w, range(1, 100000) t(i) WHERE i <= len(ws) - 1),
      |cbg AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY 1, 2),
      |cpre AS (SELECT w1, count(*) AS c_a FROM bg GROUP BY 1),
      |sc AS (SELECT doc_id,
      |    CAST(floor((CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE)) * 1000000.0) AS BIGINT) AS p_fp
      |  FROM bg JOIN cbg USING (w1, w2) JOIN cpre USING (w1)),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(p_fp) AS BIGINT) AS lm_fp_sum FROM sc GROUP BY 1)
      |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.lm_fp_sum,
      |  CAST(a.lm_fp_sum AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE) AS lm_mean_fp
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q86 — L2 normalization to fixed point: exact integer squared norm,
  // correctly-rounded sqrt/divide (see Similarity.l2NormalizeFp). Output
  // exploded to scalars like q82; oracle rebuilds the same x_fp/n2/unit
  // pipeline over DuckDB's zipped unnest.
  // Plan note: this VERIFICATION projection explodes the fixed-point
  // array FIRST and scales per element. Exploding l2NormalizeFp's
  // unit_fp directly inlines the whole per-row array pipeline into the
  // Generate, where it is re-evaluated per EMITTED element (measured
  // ~6× on the bench — 2.9 s for a 0.1 s map); per-element arithmetic
  // after the explode runs once per output row, codegen'd. Same exact
  // expression trees, same output.
  def q86_embedding_normalize(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .withColumn("xf", Similarity.fixedPointVec(col("embedding")))
      .withColumn("n2", Similarity.intDot(col("xf"), col("xf")))
      .filter(col("n2").isNotNull)
      .select(col("vec_id"), col("n2"),
        sqrt(col("n2").cast(DoubleType)).as("sn"), col("xf"))
    e.select(col("vec_id"), col("n2"), col("sn"),
        posexplode(col("xf")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("n2"), col("dim"),
        when(col("n2") === 0, lit(0L)).otherwise(
          floor((col("x").cast(DoubleType) / col("sn")) * lit(1000000.0))
            .cast(LongType)).as("u"))
      .orderBy(col("vec_id"), col("dim"))
  }

  private val q86_sql =
    """WITH e AS (
      |  SELECT vec_id,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 32768.0) AS BIGINT) AS xf,
      |    unnest(range(len(embedding))) AS dim
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL
      |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      |n AS (SELECT vec_id, CAST(sum(xf * xf) AS BIGINT) AS n2 FROM e GROUP BY 1)
      |SELECT e.vec_id, n.n2, CAST(e.dim AS INT) AS dim,
      |  CASE WHEN n.n2 = 0 THEN 0
      |       ELSE CAST(floor((CAST(e.xf AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)))
      |                       * 1000000.0) AS BIGINT)
      |  END AS u
      |FROM e JOIN n USING (vec_id)
      |ORDER BY vec_id, dim""".stripMargin

  // --------------------------------------------------------------------------
  // q87 — URL canonicalization + URL-keyed dedup: planted URLs vary case,
  // default port, trailing slash, and fragment; canonical form collapses
  // doc_id%50 × doc_id%25 → 50 groups of 10. Exercises every rule of
  // TextAnalysis.canonicalUrl; oracle shares the pattern chain via
  // canonicalUrlSqlExpr.
  def q87_url_dedup(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = docs(s, dir).select(id, concat(
      lit("HTTPS://Host"), pmod(id, lit(50L)).cast(StringType),
      lit(".Example.org:443/p/"), pmod(id, lit(25L)).cast(StringType),
      when(pmod(id, lit(2L)) === 0, lit("/")).otherwise(lit("")),
      lit("#sec"), id.cast(StringType)).as("url"))
    TextAnalysis.urlDedup(planted)
      .select(col("doc_id"), col("canonical_url"),
        col("url_canonical_id"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  private val q87_sql = {
    // NOTE: lines END with || — interpolated into .stripMargin (see
    // piiPlantSql's note on the same trap)
    val plant = """SELECT doc_id,
      'HTTPS://Host' || CAST(doc_id % 50 AS VARCHAR) ||
      '.Example.org:443/p/' || CAST(doc_id % 25 AS VARCHAR) ||
      (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      '#sec' || CAST(doc_id AS VARCHAR) AS url
      FROM documents"""
    s"""WITH p AS ($plant),
      |c AS (SELECT doc_id, ${TextAnalysis.canonicalUrlSqlExpr("url")} AS canonical_url FROM p),
      |g AS (SELECT canonical_url, min(doc_id) AS url_canonical_id,
      |        count(*) AS n_copies FROM c GROUP BY 1)
      |SELECT c.doc_id, c.canonical_url, g.url_canonical_id, g.n_copies
      |FROM c JOIN g USING (canonical_url) ORDER BY c.doc_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q140 — domain-blocklist gate: planted URLs (mixed-case hosts, one
  // subdomain axis, two independent domains per doc) against a literal
  // blocklist; a blocklist entry blocks its exact host AND every
  // subdomain (suffix-inheriting semantics — `host3.example.org` gates
  // any `subN.host3.example.org`). The oracle recomputes the suffix walk
  // and membership on the same 60-bit md5-prefix keys, so string- and
  // key-equality agree (the q129 convention).
  def q140_domain_blocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = col("doc_id")
    val planted = docs(s, dir).select(id, concat(col("text"),
      lit(" see https://Sub"), pmod(id, lit(7L)).cast(StringType),
      lit(".host"), pmod(id, lit(50L)).cast(StringType),
      lit(".Example.org/x and http://static.cdn"),
      pmod(id, lit(11L)).cast(StringType), lit(".net/y")).as("text"))
    // mixed-case blocklist entry exercises blockedDomainKeys' lowercasing
    val bl = Seq("host3.example.org", "Sub2.host10.example.org", "cdn7.net")
      .toDF("domain")
    val bk = TextAnalysis.blockedDomainKeys(bl)
    val keys = graft.core.Caches.memo(bk, "blockedDomainKeys")(
      graft.core.KeySets.Members(bk.collect().map(_.getLong(0)).toSeq))
    TextAnalysis.flagBlockedDomains(planted, keys)
      .select(col("doc_id"), col("blocked_domain"))
      .orderBy(col("doc_id"))
  }

  private val q140_sql =
    """WITH p AS (
      |  SELECT doc_id, text || ' see https://Sub' || CAST(doc_id % 7 AS VARCHAR) ||
      |    '.host' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '.Example.org/x and http://static.cdn' ||
      |    CAST(doc_id % 11 AS VARCHAR) || '.net/y' AS text
      |  FROM documents),
      |d AS (SELECT doc_id,
      |        lower(unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))) AS dom
      |      FROM p),
      |l AS (SELECT doc_id, string_split(dom, '.') AS ls FROM d),
      |suf AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(array_to_string(ls[CAST(i AS INT):CAST(len(ls) AS INT)], '.')), 1, 15)) AS BIGINT) AS sk
      |  FROM l, range(1, 100) t(i) WHERE i <= len(ls)),
      |b AS (SELECT CAST(('0x' || substr(md5(lower(dom)), 1, 15)) AS BIGINT) AS bk
      |      FROM (SELECT unnest(['host3.example.org', 'Sub2.host10.example.org', 'cdn7.net']) AS dom)),
      |hit AS (SELECT DISTINCT suf.doc_id, true AS h FROM suf JOIN b ON sk = bk)
      |SELECT p.doc_id,
      |  CASE WHEN p.text IS NULL THEN NULL
      |       ELSE coalesce(hit.h, false) END AS blocked_domain
      |FROM p LEFT JOIN hit USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q144 — C4-style heuristic line+doc filter: seven planted lines per
  // doc walk every rule independently (terminal punctuation, min words,
  // the javascript line, the brace and lorem-ipsum doc rules), with the
  // raw word-soup text as line 0 (never terminal-punctuated, so inert).
  // The oracle re-derives the same line lambda in DuckDB's list_filter.
  def q144_c4_filter(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def n(m: Long) = pmod(id, lit(m)).cast(StringType)
    val planted = docs(s, dir).select(id, concat(col("text"),
      lit("\nThis is a proper sentence number "), n(13L),
      lit(" with enough words."),
      lit("\ntoo short."),
      lit("\nthis line has many words but never terminates properly"),
      when(pmod(id, lit(3L)) === 0,
        lit("\nPlease enable JavaScript to view the comments powered by widgets."))
        .otherwise(lit("\nAnother perfectly sound sentence with plenty of words here.")),
      when(pmod(id, lit(5L)) === 0, concat(
        lit("\nA third good sentence keeps document "), n(13L), lit(" alive today.")))
        .otherwise(lit("\ntail fragment")),
      when(pmod(id, lit(7L)) === 0, lit("\nconfig { enabled: true }"))
        .otherwise(lit("\nClosing remarks follow in the final line of text.")),
      when(pmod(id, lit(11L)) === 0,
        lit("\nLorem Ipsum dolor sit amet consectetur adipiscing elit."))
        .otherwise(lit("\nplain trailing fragment"))).as("text"))
    TextAnalysis.c4Filter(planted)
      .select(id, col("n_lines"), col("n_kept"), col("keep_doc"), col("clean_text"))
      .orderBy(id)
  }

  private val q144_sql =
    """WITH p AS (
      |  SELECT doc_id, text ||
      |    chr(10) || 'This is a proper sentence number ' || CAST(doc_id % 13 AS VARCHAR) || ' with enough words.' ||
      |    chr(10) || 'too short.' ||
      |    chr(10) || 'this line has many words but never terminates properly' ||
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN chr(10) || 'Please enable JavaScript to view the comments powered by widgets.'
      |          ELSE chr(10) || 'Another perfectly sound sentence with plenty of words here.' END) ||
      |    (CASE WHEN doc_id % 5 = 0
      |          THEN chr(10) || 'A third good sentence keeps document ' || CAST(doc_id % 13 AS VARCHAR) || ' alive today.'
      |          ELSE chr(10) || 'tail fragment' END) ||
      |    (CASE WHEN doc_id % 7 = 0
      |          THEN chr(10) || 'config { enabled: true }'
      |          ELSE chr(10) || 'Closing remarks follow in the final line of text.' END) ||
      |    (CASE WHEN doc_id % 11 = 0
      |          THEN chr(10) || 'Lorem Ipsum dolor sit amet consectetur adipiscing elit.'
      |          ELSE chr(10) || 'plain trailing fragment' END) AS text
      |  FROM documents),
      |k AS (SELECT doc_id, text,
      |        string_split(text, chr(10)) AS ls,
      |        list_filter(string_split(text, chr(10)), l ->
      |          regexp_matches(trim(rtrim(l, chr(13))), '[.!?"]$')
      |          AND len(string_split_regex(trim(rtrim(l, chr(13))), ' +')) >= 5
      |          AND NOT contains(lower(l), 'javascript')) AS kept
      |      FROM p)
      |SELECT doc_id,
      |  CASE WHEN text IS NULL THEN 0 ELSE len(ls) END AS n_lines,
      |  CASE WHEN text IS NULL THEN 0 ELSE len(kept) END AS n_kept,
      |  CASE WHEN text IS NULL THEN false
      |       ELSE len(kept) >= 3 AND NOT contains(text, '{')
      |            AND NOT contains(lower(text), 'lorem ipsum') END AS keep_doc,
      |  CASE WHEN text IS NOT NULL AND len(kept) >= 3 AND NOT contains(text, '{')
      |            AND NOT contains(lower(text), 'lorem ipsum')
      |       THEN array_to_string(kept, chr(10)) END AS clean_text
      |FROM k ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q150 — token-budget mixture: a 3000-token mix at weights
  // src1:5 src3:3 src7:2 src12:1 (Σ=11). At sf0.01 src1's quota ≈ its
  // whole token mass, exercising the take-the-whole-source edge while
  // the other three take real prefixes. The oracle re-derives the
  // integer quota split and the per-source exclusive prefix sum under
  // the same (skey, id) order.
  def q150_token_mixture(s: SparkSession, dir: String): DataFrame =
    Sharding.tokenBudgetMixture(docs(s, dir), budget = 3000L,
        weights = Map("src1" -> 5L, "src3" -> 3L, "src7" -> 2L, "src12" -> 1L))
      .orderBy(col("doc_id"))

  private val q150_sql =
    """WITH w AS (SELECT * FROM (VALUES ('src1', 5), ('src3', 3),
      |                                 ('src7', 2), ('src12', 1)) t(source, wt)),
      |q AS (SELECT source,
      |        CAST(3000 // 11 * wt + (3000 % 11) * wt // 11 AS BIGINT) AS quota
      |      FROM w),
      |d AS (SELECT doc_id, source,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |        CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15))
      |          AS BIGINT) AS skey
      |      FROM documents WHERE source IN ('src1', 'src3', 'src7', 'src12')),
      |r AS (SELECT d.*, q.quota,
      |        coalesce(CAST(sum(n_tokens) OVER (PARTITION BY d.source
      |          ORDER BY skey, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |          AS tokens_before
      |      FROM d JOIN q USING (source))
      |SELECT doc_id, source, skey, n_tokens, tokens_before, quota
      |FROM r WHERE tokens_before < quota ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q151 — score-ordered token budget: fill a 30000-token budget with
  // the highest-value documents first (value proxy: n_chars — any
  // fixed-point classifier score plugs into the same machinery). The
  // oracle spells the same selection as ONE window cumsum over
  // (score DESC NULLS LAST, doc_id) — the value-range-bucket prefix
  // plan must reproduce that single-sort semantics exactly, including
  // the greedy whole-doc boundary and null-token docs consuming nothing.
  def q151_token_budget_by_score(s: SparkSession, dir: String): DataFrame =
    Sharding.tokenBudgetByScore(docs(s, dir), budget = 30000L,
        scoreCol = "n_chars")
      .orderBy(col("doc_id"))

  private val q151_sql =
    """WITH t AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (SELECT doc_id, score, n_tokens,
      |        CAST(coalesce(sum(n_tokens) OVER (
      |          ORDER BY score DESC NULLS LAST, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS tokens_before
      |      FROM t)
      |SELECT doc_id, score, n_tokens, tokens_before
      |FROM r WHERE tokens_before < 30000 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q152 — semantic contamination GATE decisions (the q142 batch sweep's
  // ingest dual, oracle-gated on the full corpus): every embedding row
  // flagged iff some bench vector (vec_id % 97 = 0 — bench ⊂ corpus, so
  // bench members flag themselves at cos 1.0, the gate's contract)
  // clears cosine 0.4 under the exact fixed-point recipe. The oracle
  // re-derives the whole decision; one flag flip anywhere breaks the
  // hash.
  def q152_semantic_gate_flags(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val bench = e.filter(col("vec_id") % 97 === 0)
    Similarity.flagSemanticContaminated(e,
        Similarity.collectBenchFp(bench), minCosine = 0.4)
      .select(col("vec_id"), col("semantic_contaminated"))
      .orderBy(col("vec_id"))
  }

  private val q152_sql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT c.vec_id AS cid, b.vec_id AS bid,
      |    CAST(sum(c.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex c JOIN ex b ON c.idx = b.idx AND b.vec_id % 97 = 0
      |  GROUP BY 1, 2),
      |flag AS (
      |  SELECT cid AS vec_id, max(CASE WHEN
      |      (CASE WHEN cn.n2 = 0 OR bn.n2 = 0 THEN 0.0
      |        ELSE CAST(dot AS DOUBLE)
      |          / (sqrt(CAST(cn.n2 AS DOUBLE)) * sqrt(CAST(bn.n2 AS DOUBLE)))
      |      END) >= 0.4 THEN 1 ELSE 0 END) AS hit
      |  FROM dots JOIN n2 cn ON cid = cn.vec_id JOIN n2 bn ON bid = bn.vec_id
      |  GROUP BY 1)
      |SELECT e.vec_id,
      |  CASE WHEN e.embedding IS NULL THEN NULL
      |       ELSE coalesce(f.hit, 0) = 1 END AS semantic_contaminated
      |FROM embeddings e LEFT JOIN flag f USING (vec_id)
      |ORDER BY e.vec_id""".stripMargin

  // --------------------------------------------------------------------------
  // q155 — perceptual image near-dup pairs (content-level multimodal
  // dedup): every ≥256-byte document becomes a REAL 16×16 PGM payload
  // (P5 header + the text's first 256 UTF-8 bytes as pixels), with
  // planted exact copies (+10⁶ ids) and one-byte-perturbed copies
  // (+2·10⁶ ids) of the first docs; Multimodal.perceptualDupPairs
  // parses the PGM binary, computes the 64-bit dHash (9×8 integer
  // decimation grid, left<right bits), bands it 4×16 bits (pigeonhole-
  // exact for hamming ≤ 3), and verifies popcount. The oracle replays
  // the pixel bytes via hex(), every grid sample, every comparison
  // bit, the signed-64 wrap, and the all-pairs hamming — one sampled
  // byte disagreeing anywhere moves a hash and breaks the hash-match.
  def q155_perceptual_dups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
      .filter(length(col("b")) >= 256)
    val planted = d.filter(col("doc_id") < 20)
    val media = d
      .unionByName(planted.select((col("doc_id") + 1000000L).as("doc_id"),
        col("b")))
      .unionByName(planted.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("Z".getBytes("US-ASCII")),
          col("b").substr(lit(2), lit(255))).as("b")))
      .select(col("doc_id").as("media_id"),
        concat(lit("P5 16 16 255\n".getBytes("US-ASCII")),
          col("b").substr(lit(1), lit(256))).as("payload"))
    graft.ext.Multimodal.perceptualDupPairs(media, maxHamming = 3)
      .coalesce(1)
      .sortWithinPartitions(col("i"), col("j"))
  }

  private val q155_sql =
    """WITH src AS (
      |  SELECT doc_id, hex(encode(text)) AS hx FROM documents
      |  WHERE octet_length(encode(text)) >= 256),
      |med AS (
      |  SELECT doc_id AS media_id, hx, 0 AS z FROM src
      |  UNION ALL SELECT doc_id + 1000000, hx, 0 FROM src WHERE doc_id < 20
      |  UNION ALL SELECT doc_id + 2000000, hx, 1 FROM src WHERE doc_id < 20),
      |xs AS (SELECT list_value(0, 1, 3, 5, 7, 8, 10, 12, 14) AS x),
      |bits AS (
      |  SELECT m.media_id,
      |    CASE WHEN
      |      (CASE WHEN m.z = 1 AND (32 * i + x[j + 1]) = 0 THEN 90
      |        ELSE CAST(('0x' || substr(m.hx, 2 * (32 * i + x[j + 1]) + 1, 2)) AS INT) END)
      |      <
      |      (CASE WHEN m.z = 1 AND (32 * i + x[j + 2]) = 0 THEN 90
      |        ELSE CAST(('0x' || substr(m.hx, 2 * (32 * i + x[j + 2]) + 1, 2)) AS INT) END)
      |    THEN (CAST(1 AS HUGEINT) << (i * 8 + j)) ELSE CAST(0 AS HUGEINT) END AS bit
      |  FROM med m, xs, range(0, 8) ti(i), range(0, 8) tj(j)),
      |hashes AS (
      |  SELECT media_id,
      |    CAST(CASE WHEN sum(bit) >= CAST(9223372036854775808 AS HUGEINT)
      |      THEN sum(bit) - CAST(18446744073709551616 AS HUGEINT)
      |      ELSE sum(bit) END AS BIGINT) AS h
      |  FROM bits GROUP BY 1)
      |SELECT a.media_id AS i, b.media_id AS j,
      |  bit_count(xor(a.h, b.h)) AS hamming
      |FROM hashes a JOIN hashes b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.h, b.h)) <= 3
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q156 — WAV-PCM energy fingerprint (the audio face of content-level
  // multimodal dedup): every ≥260-byte document becomes a REAL RIFF/WAVE
  // payload (PCM-16 mono 8 kHz fmt chunk + the text's first 260 UTF-8
  // bytes as the data chunk = 130 interleaved samples); WavEnergyFp
  // walks the chunks, sign-extends the little-endian samples, scores 65
  // exact two-sample window energies, and packs the 64 differential
  // bits. The oracle replays every byte pair via hex(), the sign
  // extension, each |s| sum, each comparison bit, and the signed-64
  // wrap — one sample disagreeing anywhere moves a fingerprint.
  def q156_audio_fp(s: SparkSession, dir: String): DataFrame = {
    def le32(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val hdr = "RIFF".getBytes("US-ASCII") ++ le32(36 + 260) ++
      "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
      le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
      Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++ le32(260)
    docs(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
      .filter(length(col("b")) >= 260)
      .select(col("doc_id"),
        graft.functions.PerceptualHashFns.wavEnergyFp(
          concat(lit(hdr), col("b").substr(lit(1), lit(260)))).as("audio_fp"))
      .orderBy(col("doc_id"))
  }

  private val q156_sql =
    """WITH src AS (
      |  SELECT doc_id, hex(encode(text)) AS hx FROM documents
      |  WHERE octet_length(encode(text)) >= 260),
      |en AS (
      |  SELECT doc_id, CAST(w AS INT) AS w,
      |    abs(CASE WHEN s0 >= 32768 THEN s0 - 65536 ELSE s0 END) +
      |    abs(CASE WHEN s1 >= 32768 THEN s1 - 65536 ELSE s1 END) AS e
      |  FROM (
      |    SELECT doc_id, w,
      |      CAST(('0x' || substr(hx, 2 * (4 * w) + 1, 2)) AS INT) +
      |        256 * CAST(('0x' || substr(hx, 2 * (4 * w + 1) + 1, 2)) AS INT) AS s0,
      |      CAST(('0x' || substr(hx, 2 * (4 * w + 2) + 1, 2)) AS INT) +
      |        256 * CAST(('0x' || substr(hx, 2 * (4 * w + 3) + 1, 2)) AS INT) AS s1
      |    FROM src, range(0, 65) t(w))),
      |bits AS (
      |  SELECT a.doc_id,
      |    CASE WHEN a.e < b.e THEN CAST(1 AS HUGEINT) << a.w
      |      ELSE CAST(0 AS HUGEINT) END AS bit
      |  FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.w = a.w + 1)
      |SELECT doc_id,
      |  CAST(CASE WHEN sum(bit) >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN sum(bit) - CAST(18446744073709551616 AS HUGEINT)
      |    ELSE sum(bit) END AS BIGINT) AS audio_fp
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q153 — fixed-size token chunking with overlap (RAG/embedding prep):
  // 64-token windows advancing by 48 (16-token overlap), final window at
  // the last stride position that still adds tokens. The oracle
  // re-derives the window rule and every chunk's text relationally — a
  // boundary disagreement on any document breaks the hash.
  def q153_chunk_documents(s: SparkSession, dir: String): DataFrame =
    Sharding.chunkDocuments(docs(s, dir), chunkTokens = 64, overlapTokens = 16)
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q153_sql =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT doc_id, ws, n, CAST(i AS BIGINT) AS chunk_idx,
      |        CAST(i * 48 AS BIGINT) AS start_token
      |      FROM w, range(0, 100000) t(i)
      |      WHERE i = 0 OR (i - 1) * 48 + 64 < n)
      |SELECT doc_id, chunk_idx, start_token,
      |  CAST(least(64, n - start_token) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(list_slice(ws, CAST(start_token + 1 AS BIGINT),
      |    CAST(start_token + 64 AS BIGINT)), ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------------------
  // q154 — fill-in-the-middle transform (code-model training rewrite):
  // two hash-deterministic character cuts split each doc into
  // prefix/middle/suffix, emitted PSM as <PRE>p<SUF>s<MID>m. The oracle
  // replays the md5-prefix cut arithmetic and the three substrings —
  // one cut-point disagreement anywhere shifts the whole rewrite.
  def q154_fim_transform(s: SparkSession, dir: String): DataFrame =
    Sharding.fimTransform(docs(s, dir))
      .orderBy(col("doc_id"))

  private val q154_sql =
    """WITH h AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
      |    CAST(('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR) || ':a'), 1, 15)) AS BIGINT) AS ha,
      |    CAST(('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR) || ':b'), 1, 15)) AS BIGINT) AS hb
      |  FROM documents),
      |c AS (SELECT doc_id, text, n, ha % (n + 1) AS lo, hb FROM h),
      |d AS (SELECT doc_id, text, n, lo, lo + hb % (n - lo + 1) AS hi FROM c)
      |SELECT doc_id, n AS n_chars, lo, hi,
      |  '<PRE>' || substr(text, 1, CAST(lo AS INT)) || '<SUF>' ||
      |  substr(text, CAST(hi + 1 AS INT), CAST(n - hi AS INT)) || '<MID>' ||
      |  substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)) AS fim_text
      |FROM d ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q149 — contrastive pair mining: anchors vec_id < 32, exact top-1
  // positives over the 0.2 cosine bar, 4 hash-drawn uniform negatives
  // per anchor picked by rank in the salt-keyed corpus permutation. The
  // oracle recomputes the exact top-1 (q40's spelling) and replays the
  // same rank/draw arithmetic — one disagreement in any draw or the
  // permutation moves a negative and breaks the hash.
  def q149_contrastive_pairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.contrastivePairs(e.filter(col("vec_id") < 32), e,
        negPerAnchor = 4, posMinCosine = 0.2)
      // same global order as orderBy (one sorted partition) without the
      // range-exchange + its sampling job — the output is oracle-sized
      .coalesce(1)
      .sortWithinPartitions(col("anchor_id"), col("role"), col("draw"),
        col("other_id"))
  }

  private val q149_sql =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> i - 1)) AS idx,
      |    unnest(list_transform(embedding,
      |      (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT))) AS xi
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(xi * xi) AS BIGINT) AS n2 FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT q.vec_id AS qid, b.vec_id AS vid, CAST(sum(q.xi * b.xi) AS BIGINT) AS dot
      |  FROM ex q JOIN ex b ON q.idx = b.idx
      |  WHERE q.vec_id < 32 GROUP BY 1, 2),
      |cos AS (
      |  SELECT qid, vid,
      |    CASE WHEN qn.n2 = 0 OR bn.n2 = 0 THEN 0.0
      |      ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(bn.n2 AS DOUBLE)))
      |    END AS cosine
      |  FROM dots JOIN n2 qn ON qid = qn.vec_id JOIN n2 bn ON vid = bn.vec_id
      |  WHERE qid <> vid),
      |pos AS (
      |  SELECT qid AS anchor_id, 'pos' AS role, CAST(0 AS BIGINT) AS draw,
      |    vid AS other_id, cosine
      |  FROM (SELECT cos.*, row_number() OVER (PARTITION BY qid
      |          ORDER BY cosine DESC, vid) AS rk FROM cos)
      |  WHERE rk = 1 AND cosine >= 0.2),
      |ranks AS (
      |  SELECT vec_id AS other_id,
      |    CAST(row_number() OVER (ORDER BY
      |      CAST(('0x' || substr(md5('cp:rank|' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
      |      vec_id) AS BIGINT) AS seq
      |  FROM embeddings),
      |draws AS (
      |  SELECT e.vec_id AS anchor_id, CAST(j AS BIGINT) AS draw,
      |    CAST(('0x' || substr(md5('cp:' || CAST(e.vec_id AS VARCHAR) || ':' ||
      |      CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % (SELECT count(*) FROM embeddings) + 1 AS seq
      |  FROM embeddings e, range(1, 5) t(j) WHERE e.vec_id < 32),
      |negs AS (
      |  SELECT d.anchor_id, 'neg' AS role, d.draw, r.other_id,
      |    CAST(NULL AS DOUBLE) AS cosine
      |  FROM draws d JOIN ranks r USING (seq)
      |  WHERE r.other_id <> d.anchor_id)
      |SELECT * FROM (SELECT * FROM pos UNION ALL SELECT * FROM negs)
      |ORDER BY anchor_id, role, draw, other_id""".stripMargin

  // --------------------------------------------------------------------------
  // q148 — curriculum order: documents quantile-binned on n_chars
  // (longest/highest-value quartile first), salt-shuffled within a bin,
  // with the contiguous consumption schedule. The oracle spells the same
  // thing as ntile + one global row_number over (cur_bin, skey, id) —
  // the histogram/prefix plan must reproduce that single-sort semantics
  // exactly.
  def q148_curriculum_order(s: SparkSession, dir: String): DataFrame =
    Sharding.curriculumOrder(docs(s, dir), "n_chars", bins = 4, salt = "cur")
      .orderBy(col("curriculum_step"))

  private val q148_sql =
    """WITH b AS (
      |  SELECT doc_id, n_chars,
      |    CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
      |  FROM documents WHERE n_chars IS NOT NULL),
      |c AS (SELECT doc_id, n_chars, 5 - bucket AS cur_bin,
      |        CAST(('0x' || substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 15))
      |          AS BIGINT) AS skey
      |      FROM b)
      |SELECT doc_id, n_chars, cur_bin, skey,
      |  CAST(row_number() OVER (ORDER BY cur_bin, skey, doc_id) AS BIGINT)
      |    AS curriculum_step
      |FROM c ORDER BY curriculum_step""".stripMargin

  // --------------------------------------------------------------------------
  // q147 — multi-epoch training order: 3 epochs of q130's salt-keyed
  // permutation built in one pass, with the contiguous global step
  // schedule. The oracle unions per-epoch row_numbers over the same
  // md5-prefix keys — any divergence in any epoch's permutation or in
  // the N literal shifts global_step everywhere.
  def q147_epoch_order(s: SparkSession, dir: String): DataFrame =
    Sharding.epochOrder(docs(s, dir), epochs = 3, saltPrefix = "ep")
      .orderBy(col("epoch"), col("seq"))

  private val q147_sql =
    """WITH h AS (
      |  SELECT e.epoch, d.doc_id,
      |    CAST(('0x' || substr(md5('ep' || CAST(e.epoch AS VARCHAR) || '|' ||
      |      CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS skey
      |  FROM documents d, (SELECT CAST(i AS BIGINT) AS epoch FROM range(0, 3) t(i)) e),
      |r AS (SELECT epoch, doc_id, skey,
      |        CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id)
      |          AS BIGINT) AS seq
      |      FROM h)
      |SELECT epoch, doc_id, skey, seq,
      |  epoch * (SELECT count(*) FROM documents) + seq AS global_step
      |FROM r ORDER BY epoch, seq""".stripMargin

  // --------------------------------------------------------------------------
  // q146 — T5-style span corruption on the real corpus text: 3-token
  // spans masked at 3/20 by the salted md5-prefix hash, sentinels
  // numbered in document order. The oracle re-derives the entire pair
  // construction relationally (range-join token explode, the same
  // hash60 span draw, running masked-head count for k, ordered
  // string_aggs) — a single masked-span disagreement anywhere would
  // shift every later sentinel number and break the hash.
  def q146_span_corruption(s: SparkSession, dir: String): DataFrame =
    Sharding.spanCorruption(docs(s, dir))
      .orderBy(col("doc_id"))

  private val q146_sql =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w,
      |              len(string_split(text, ' ')) AS n
      |            FROM documents WHERE text IS NOT NULL),
      |tok0 AS (SELECT doc_id, n, w,
      |           CAST(unnest(range(0, n)) AS BIGINT) AS pos0
      |         FROM ws),
      |tok AS (SELECT doc_id, n, pos0,
      |          w[CAST(pos0 + 1 AS INT)] AS tok, pos0 // 3 AS span_id
      |        FROM tok0),
      |m AS (SELECT *,
      |        (span_id + 1) * 3 <= n AS is_full,
      |        (span_id + 1) * 3 <= n AND
      |          CAST(('0x' || substr(md5('s146:' || CAST(doc_id AS VARCHAR) ||
      |            ':' || CAST(span_id AS VARCHAR)), 1, 15)) AS BIGINT) % 20 < 3 AS masked,
      |        pos0 % 3 = 0 AS head
      |      FROM tok),
      |r AS (SELECT *,
      |        sum(CASE WHEN head AND masked THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos0
      |                ROWS UNBOUNDED PRECEDING) - 1 AS k
      |      FROM m),
      |g AS (SELECT doc_id,
      |        any_value(n) AS n_tokens,
      |        CAST(sum(CASE WHEN head AND is_full THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
      |        CAST(sum(CASE WHEN head AND masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |        string_agg(CASE WHEN NOT masked THEN tok
      |                        WHEN head THEN '<X_' || CAST(k AS VARCHAR) || '>'
      |                   END, ' ' ORDER BY pos0) AS input_text,
      |        string_agg(CASE WHEN masked AND head
      |                        THEN '<X_' || CAST(k AS VARCHAR) || '> ' || tok
      |                        WHEN masked THEN tok
      |                   END, ' ' ORDER BY pos0) AS tgt
      |      FROM r GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(g.n_tokens, 0) AS n_tokens,
      |  coalesce(g.n_spans, 0) AS n_spans,
      |  coalesce(g.n_masked, 0) AS n_masked,
      |  g.input_text,
      |  CASE WHEN g.doc_id IS NULL THEN NULL
      |       WHEN g.tgt IS NULL THEN '<Z>'
      |       ELSE g.tgt || ' <Z>' END AS target_text
      |FROM documents d LEFT JOIN g USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q145 — code-vs-prose detection: a 4-way planted axis (full code
  // block with indented lines / pure prose / mixed keyword+assignment /
  // bare word-soup) over the real text, so scores span cold→hot:
  // `is_code` fires on both code-bearing classes (sf0.01: ≥70707 fp vs
  // the 15000 gate) and stays 0 on the prose and soup classes. The oracle
  // recomputes all three evidence channels (translate-difference
  // punctuation count, \b keyword matches, indent-line filter) in DuckDB.
  def q145_code_score(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val codeBlock = "\ndef compute(x):\n  return x + 1\nfor i in items:\n" +
      "  total = total + i\nconst y = items[0];"
    val planted = docs(s, dir).select(id, concat(col("text"),
      when(pmod(id, lit(4L)) === 0, lit(codeBlock))
        .when(pmod(id, lit(4L)) === 1,
          lit("\nThe quick brown fox jumps over the lazy dog near the river bank."))
        .when(pmod(id, lit(4L)) === 2,
          lit("\nSee the function example() below for details.\nlet z = 1;"))
        .otherwise(lit(""))).as("text"))
    TextAnalysis.codeScore(planted)
      .select(id, col("n_punct"), col("kw_hits"), col("indent_lines"),
        col("code_score_fp"), col("is_code"))
      .orderBy(id)
  }

  private val q145_sql =
    """WITH p AS (
      |  SELECT doc_id, text ||
      |    (CASE WHEN doc_id % 4 = 0 THEN
      |       chr(10) || 'def compute(x):' || chr(10) || '  return x + 1' ||
      |       chr(10) || 'for i in items:' || chr(10) || '  total = total + i' ||
      |       chr(10) || 'const y = items[0];'
      |     WHEN doc_id % 4 = 1 THEN
      |       chr(10) || 'The quick brown fox jumps over the lazy dog near the river bank.'
      |     WHEN doc_id % 4 = 2 THEN
      |       chr(10) || 'See the function example() below for details.' ||
      |       chr(10) || 'let z = 1;'
      |     ELSE '' END) AS text
      |  FROM documents),
      |c AS (SELECT doc_id,
      |  length(text) - length(translate(text, '{}()[];=', '')) AS n_punct,
      |  len(regexp_extract_all(text,
      |    '\b(def|class|return|import|function|var|let|const|void|int|for|while)\b')) AS kw_hits,
      |  len(list_filter(string_split(text, chr(10)),
      |    l -> substr(l, 1, 2) = '  ' OR substr(l, 1, 1) = chr(9))) AS indent_lines,
      |  greatest(length(text), 1) AS n FROM p)
      |SELECT doc_id,
      |  coalesce(n_punct, 0) AS n_punct,
      |  coalesce(kw_hits, 0) AS kw_hits,
      |  coalesce(indent_lines, 0) AS indent_lines,
      |  coalesce(CAST(floor(CAST(3*n_punct + 10*kw_hits + 20*indent_lines AS DOUBLE)
      |    * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT), 0) AS code_score_fp,
      |  coalesce(CAST(floor(CAST(3*n_punct + 10*kw_hits + 20*indent_lines AS DOUBLE)
      |    * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) >= 15000, false) AS is_code
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q143 — distributed quality-classifier TRAINING: 3 full-batch integer
  // perceptron passes over (n_chars, token count, period count) with the
  // ±1 label "is English", then map-only scoring of the corpus with the
  // trained weights. Every update is an exact BIGINT sum, so the whole
  // training trajectory is deterministic and the oracle unrolls the same
  // 3 iterations as CTEs (the q118/q133 discipline) — a one-ulp drift
  // anywhere in training changes every margin and the hash.
  def q143_perceptron_quality(s: SparkSession, dir: String): DataFrame = {
    val feats = Seq("x1", "x2", "x3")
    val d = docs(s, dir)
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(-1L)).as("y"),
        col("n_chars").as("x1"),
        size(split(col("text"), " ", -1)).cast(LongType).as("x2"),
        (length(col("text")) - length(translate(col("text"), ".", "")))
          .cast(LongType).as("x3"))
    val model = Learn.perceptronTrain(d, "y", feats, iters = 3)
    Learn.perceptronScore(d, model, feats)
      .select(col("doc_id"), col("y"), col("margin"), col("pred"))
      .orderBy(col("doc_id"))
  }

  private val q143_sql = {
    def m(i: String) = s"(SELECT w1 FROM $i)*x1 + (SELECT w2 FROM $i)*x2 + " +
      s"(SELECT w3 FROM $i)*x3 + (SELECT b FROM $i)"
    def step(prev: String) =
      s"""SELECT
         |  (SELECT w1 FROM $prev) + CAST(sum(CASE WHEN y*(${m(prev)}) <= 0 THEN y*x1 ELSE 0 END) AS BIGINT) AS w1,
         |  (SELECT w2 FROM $prev) + CAST(sum(CASE WHEN y*(${m(prev)}) <= 0 THEN y*x2 ELSE 0 END) AS BIGINT) AS w2,
         |  (SELECT w3 FROM $prev) + CAST(sum(CASE WHEN y*(${m(prev)}) <= 0 THEN y*x3 ELSE 0 END) AS BIGINT) AS w3,
         |  (SELECT b FROM $prev) + CAST(sum(CASE WHEN y*(${m(prev)}) <= 0 THEN y ELSE 0 END) AS BIGINT) AS b
         |FROM f""".stripMargin
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y,
       |    n_chars AS x1,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
       |    CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS x3
       |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
       |i1 AS (SELECT CAST(sum(y*x1) AS BIGINT) AS w1, CAST(sum(y*x2) AS BIGINT) AS w2,
       |              CAST(sum(y*x3) AS BIGINT) AS w3, CAST(sum(y) AS BIGINT) AS b FROM f),
       |i2 AS (${step("i1")}),
       |i3 AS (${step("i2")})
       |SELECT doc_id, y, CAST(${m("i3")} AS BIGINT) AS margin,
       |  CASE WHEN ${m("i3")} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS pred
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_token_stats" -> (q32_token_stats _),
    "q33_quality_score" -> (q33_quality_score _),
    "q34_lang_id" -> (q34_lang_id _),
    "q35_fingerprint" -> (q35_fingerprint _),
    "q36_exact_dedup" -> (q36_exact_dedup _),
    "q52_deterministic_split" -> (q52_deterministic_split _),
    "q53_token_budget_shards" -> (q53_token_budget_shards _),
    "q123_pack_sequences" -> (q123_pack_sequences _),
    "q124_repeated_spans" -> (q124_repeated_spans _),
    "q125_strip_repeated_spans" -> (q125_strip_repeated_spans _),
    "q126_decontaminate" -> (q126_decontaminate _),
    "q127_pps_token_sample" -> (q127_pps_token_sample _),
    "q128_decontaminate_against" -> (q128_decontaminate_against _),
    "q129_contamination_gate" -> (q129_contamination_gate _),
    "q130_shuffle_order" -> (q130_shuffle_order _),
    "q131_spans_against" -> (q131_spans_against _),
    "q132_shuffled_budget" -> (q132_shuffled_budget _),
    "q133_kmeans_assign" -> (q133_kmeans_assign _),
    "q134_dedup_sentences" -> (q134_dedup_sentences _),
    "q135_kmeans_outliers" -> (q135_kmeans_outliers _),
    "q136_ngram_diversity" -> (q136_ngram_diversity _),
    "q137_exact_dedup_against" -> (q137_exact_dedup_against _),
    "q138_oov_rate" -> (q138_oov_rate _),
    "q139_term_rank_freq" -> (q139_term_rank_freq _),
    "q54_boilerplate_ngrams" -> (q54_boilerplate_ngrams _),
    "q58_repetition_stats" -> (q58_repetition_stats _),
    "q59_contamination" -> (q59_contamination _),
    "q60_stratified_sample" -> (q60_stratified_sample _),
    "q61_novelty_score" -> (q61_novelty_score _),
    "q62_length_outliers" -> (q62_length_outliers _),
    "q49_winnow_fingerprints" -> (q49_winnow_fingerprints _),
    "q51_winnow_containment" -> (q51_winnow_containment _),
    "q37_ngram_jaccard_pairs" -> (q37_ngram_jaccard_pairs _),
    "q55_dedup_clusters" -> (q55_dedup_clusters _),
    "q48_word_jaccard_pairs" -> (q48_word_jaccard_pairs _),
    "q38_minhash_lsh_pairs" -> (q38_minhash_lsh_pairs _),
    "q39_simhash_pairs" -> (q39_simhash_pairs _),
    "q40_cosine_topk" -> (q40_cosine_topk _),
    "q41_embedding_neardup" -> (q41_embedding_neardup _),
    "q50_embedding_neardup_lsh" -> (q50_embedding_neardup_lsh _),
    "q42_ann_lsh_topk" -> (q42_ann_lsh_topk _),
    "q45_ivf_ann_topk" -> (q45_ivf_ann_topk _),
    "q43_multimodal_frames" -> (q43_multimodal_frames _),
    "q63_pii_redact" -> (q63_pii_redact _),
    "q64_collocations" -> (q64_collocations _),
    "q65_unpivot" -> (q65_unpivot _),
    "q67_doc_chunks" -> (q67_doc_chunks _),
    "q68_domain_stats" -> (q68_domain_stats _),
    "q75_clean_pipeline" -> (q75_clean_pipeline _),
    "q76_pivot" -> (q76_pivot _),
    "q78_incremental_neardup" -> (q78_incremental_neardup _),
    "q79_bm25_search" -> (q79_bm25_search _),
    "q80_strip_markup" -> (q80_strip_markup _),
    "q81_source_mix" -> (q81_source_mix _),
    "q82_embedding_quantize" -> (q82_embedding_quantize _),
    "q83_tfidf_keywords" -> (q83_tfidf_keywords _),
    "q84_cluster_safe_split" -> (q84_cluster_safe_split _),
    "q85_lm_quality" -> (q85_lm_quality _),
    "q86_embedding_normalize" -> (q86_embedding_normalize _),
    "q87_url_dedup" -> (q87_url_dedup _),
    "q140_domain_blocklist" -> (q140_domain_blocklist _),
    "q142_semantic_contamination" -> (q142_semantic_contamination _),
    "q143_perceptron_quality" -> (q143_perceptron_quality _),
    "q144_c4_filter" -> (q144_c4_filter _),
    "q145_code_score" -> (q145_code_score _),
    "q146_span_corruption" -> (q146_span_corruption _),
    "q147_epoch_order" -> (q147_epoch_order _),
    "q148_curriculum_order" -> (q148_curriculum_order _),
    "q149_contrastive_pairs" -> (q149_contrastive_pairs _),
    "q155_perceptual_dups" -> (q155_perceptual_dups _),
    "q156_audio_fp" -> (q156_audio_fp _),
    "q150_token_mixture" -> (q150_token_mixture _),
    "q151_token_budget_by_score" -> (q151_token_budget_by_score _),
    "q152_semantic_gate_flags" -> (q152_semantic_gate_flags _),
    "q153_chunk_documents" -> (q153_chunk_documents _),
    "q154_fim_transform" -> (q154_fim_transform _)
  )

  def oracle: Map[String, String] = Map(
    "q32_token_stats" -> q32_sql,
    "q33_quality_score" -> q33_sql,
    "q34_lang_id" -> q34_sql,
    "q35_fingerprint" -> q35_sql,
    "q36_exact_dedup" -> q36_sql,
    "q52_deterministic_split" -> q52_sql,
    "q53_token_budget_shards" -> q53_sql,
    "q123_pack_sequences" -> q123_sql,
    "q124_repeated_spans" -> q124_sql,
    "q125_strip_repeated_spans" -> q125_sql,
    "q126_decontaminate" -> q126_sql,
    "q127_pps_token_sample" -> q127_sql,
    "q128_decontaminate_against" -> q128_sql,
    "q129_contamination_gate" -> q129_sql,
    "q130_shuffle_order" -> q130_sql,
    "q131_spans_against" -> q131_sql,
    "q132_shuffled_budget" -> q132_sql,
    "q133_kmeans_assign" -> q133_sql,
    "q134_dedup_sentences" -> q134_sql,
    "q135_kmeans_outliers" -> q135_sql,
    "q136_ngram_diversity" -> q136_sql,
    "q137_exact_dedup_against" -> q137_sql,
    "q138_oov_rate" -> q138_sql,
    "q139_term_rank_freq" -> q139_sql,
    "q54_boilerplate_ngrams" -> q54_sql,
    "q58_repetition_stats" -> q58_sql,
    "q59_contamination" -> q59_sql,
    "q60_stratified_sample" -> q60_sql,
    "q61_novelty_score" -> q61_sql,
    "q62_length_outliers" -> q62_sql,
    "q49_winnow_fingerprints" -> q49_sql,
    "q51_winnow_containment" -> q51_sql,
    "q37_ngram_jaccard_pairs" -> q37_sql,
    "q55_dedup_clusters" -> q55_sql,
    "q48_word_jaccard_pairs" -> q48_sql,
    "q38_minhash_lsh_pairs" -> q38_sql,
    "q39_simhash_pairs" -> q39_sql,
    "q40_cosine_topk" -> q40_sql,
    "q41_embedding_neardup" -> q41_sql,
    // q42/q45/q50: approximate operators, oracle-checked via their band
    // rows (exact-dual counts + threshold flags) — round 7
    "q42_ann_lsh_topk" -> annBandSql,
    "q45_ivf_ann_topk" -> annBandSql,
    "q50_embedding_neardup_lsh" -> q50_sql,
    "q43_multimodal_frames" -> q43_sql,
    "q63_pii_redact" -> q63_sql,
    "q64_collocations" -> q64_sql,
    "q65_unpivot" -> q65_sql,
    "q67_doc_chunks" -> q67_sql,
    "q68_domain_stats" -> q68_sql,
    "q75_clean_pipeline" -> q75_sql,
    "q76_pivot" -> q76_sql,
    "q78_incremental_neardup" -> q78_sql,
    "q79_bm25_search" -> q79_sql,
    "q80_strip_markup" -> q80_sql,
    "q81_source_mix" -> q81_sql,
    "q82_embedding_quantize" -> q82_sql,
    "q83_tfidf_keywords" -> q83_sql,
    "q84_cluster_safe_split" -> q84_sql,
    "q85_lm_quality" -> q85_sql,
    "q86_embedding_normalize" -> q86_sql,
    "q87_url_dedup" -> q87_sql,
    "q140_domain_blocklist" -> q140_sql,
    "q142_semantic_contamination" -> q142_sql,
    "q143_perceptron_quality" -> q143_sql,
    "q144_c4_filter" -> q144_sql,
    "q145_code_score" -> q145_sql,
    "q146_span_corruption" -> q146_sql,
    "q147_epoch_order" -> q147_sql,
    "q148_curriculum_order" -> q148_sql,
    "q149_contrastive_pairs" -> q149_sql,
    "q155_perceptual_dups" -> q155_sql,
    "q156_audio_fp" -> q156_sql,
    "q150_token_mixture" -> q150_sql,
    "q151_token_budget_by_score" -> q151_sql,
    "q152_semantic_gate_flags" -> q152_sql,
    "q153_chunk_documents" -> q153_sql,
    "q154_fim_transform" -> q154_sql
  )
}
