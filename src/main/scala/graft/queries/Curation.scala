package graft.queries

import graft.core.Tables
import graft.ext.{Dedup, Similarity, Stats, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 corpus-curation operators as oracle-checked queries: per-domain
  * downsampling (q88), line-level boilerplate removal (q89), semantic
  * dedup over embeddings (q90 — approximate; oracle-checked since round 7 via its band row against the in-plan exact dual),
  * distributed exact quantile binning (q91), text normalization (q92),
  * repeated n-gram span masking (q93), the cross-source overlap matrix
  * (q94), and the compression-ratio quality signal (q95, rows-only — no
  * SQL engine computes deflate).
  *
  * Shares the oracle discipline of [[Corpus]]: integer/fixed-point scores,
  * planted inputs reproduced verbatim on both sides, total output orders.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // --------------------------------------------------------------------------
  // q88 — per-domain cap (RefinedWeb-style downsampling): plant 37 domains
  // from doc_id, keep ≤5 docs per domain in content-hash order. The
  // rank-filter plans as WindowGroupLimit — partial per-task top-5 BEFORE
  // the shuffle (asserted in PlanSpec) — so a hot domain never ships whole.
  def q88_domain_cap(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), col("text"),
      concat(lit("host"), pmod(col("doc_id"), lit(37L)).cast(StringType),
        lit(".example.org")).as("domain"))
    TextAnalysis.domainCap(planted, maxPerDomain = 5)
      .select(col("doc_id"), col("domain"), col("domain_rank"))
      .orderBy(col("domain"), col("domain_rank"))
  }

  private val q88_sql =
    """WITH p AS (
      |  SELECT doc_id, text,
      |    'host' || CAST(doc_id % 37 AS VARCHAR) || '.example.org' AS domain
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, domain,
      |    CAST(row_number() OVER (PARTITION BY domain
      |      ORDER BY CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT), doc_id)
      |      AS BIGINT) AS domain_rank
      |  FROM p)
      |SELECT doc_id, domain, domain_rank FROM r
      |WHERE domain_rank <= 5 ORDER BY domain, domain_rank""".stripMargin

  // --------------------------------------------------------------------------
  // q89 — line-level boilerplate removal (RefinedWeb line-dedup): planted
  // cookie-banner / nav / copyright lines reach corpus df=|docs| and are
  // deleted (case-insensitively — half the banners differ in case/padding);
  // per-doc content lines survive unless the doc itself is a planted
  // exact copy (its content line then hits df ≥ 2 — the rule genuinely
  // deciding, not just the planted frame).
  def q89_line_dedup(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(
      when(pmod(col("doc_id"), lit(2L)) === 0, lit("Cookie Notice"))
        .otherwise(lit("  COOKIE NOTICE ")),
      lit("\nHome | About | Contact\n"), col("text"),
      lit("\nCopyright 2024 Example Corp")).as("text"))
    TextAnalysis.removeCommonLines(planted, minDf = 2)
      .select(col("doc_id"), col("clean_text"), col("n_lines"), col("n_removed"))
      .orderBy(col("doc_id"))
  }

  private val q89_sql =
    """WITH p AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'Cookie Notice' ELSE '  COOKIE NOTICE ' END)
      |    || chr(10) || 'Home | About | Contact' || chr(10) || text
      |    || chr(10) || 'Copyright 2024 Example Corp' AS text
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
      |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
      |  FROM p),
      |d AS (SELECT lower(trim(line)) AS k, count(DISTINCT doc_id) AS line_df
      |      FROM l GROUP BY 1),
      |r AS (
      |  SELECT l.doc_id,
      |    string_agg(CASE WHEN d.line_df < 2 THEN l.line END, chr(10) ORDER BY l.pos) AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_lines,
      |    CAST(sum(CASE WHEN d.line_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      |  FROM l JOIN d ON lower(trim(l.line)) = d.k GROUP BY 1)
      |SELECT p.doc_id, r.clean_text, r.n_lines, r.n_removed
      |FROM p LEFT JOIN r ON p.doc_id = r.doc_id ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q90 — semantic dedup (SemDeDup): coarse Lloyd cells, within-cell
  // exhaustive exact-cosine pairs at the q41/q50 threshold, transitive
  // canonical election. Approximate (cross-cell pairs missed). Driver-
  // visible gate (round 7, the q115 est_ok pattern): the query emits the
  // band row against the exact q41 dual computed in-plan —
  // (n_vecs, n_exact_pairs, refine_ok, pair_recall_ok):
  //   refine_ok      = every SemDeDup cluster sits INSIDE one exact
  //                    cluster (cells only ever MISS pairs — a cluster
  //                    spanning two exact components would mean a false
  //                    merge; violations must be 0);
  //   pair_recall_ok = fraction of exact dup-pairs landing in one
  //                    SemDeDup cluster ≥ 0.6 (measured 0.85 at sf0.01 /
  //                    0.70 at sf0.1; deterministic).
  // Fine-grained precision/completeness values stay in ScalaTest.
  def q90_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // size the coarse index from the corpus: SemDeDup's candidate volume
    // is Σ|cell|², so nCells must grow ∝ |B| (~250 vectors/cell) or the
    // within-cell exhaustive pass degenerates toward all-pairs — the
    // round-8 sf1 smoke measured 43 s at the sf0.01-tuned nCells=8 vs
    // 5.4 s at |B|/250 on 10× data. Floors at 8, so the plan (and the
    // oracle hash) is unchanged at sf0.01/sf0.1; the count is one
    // metadata-cheap job.
    val cells = math.max(8L, graft.core.Caches.count(e) / 250L).toInt
    val sd = Similarity.semanticDedup(e, minCosine = 0.4, nCells = cells)
      .select(col("vec_id"), col("sem_canonical_id"))
    // persist the pair/label fan-out points (both id-only — KB-scale rows):
    // exactPairs feeds clusterPairs AND the recall join, and `joined` feeds
    // FOUR aggregates (stats/refine/semI/semJ) — unpersisted, each consumer
    // re-ran the full dense |B|² cosine scan / SemDeDup assignment (profiled:
    // 3 × ~200-380 ms duplicate jobs of q90's ~1.9 s warm wall). Registered
    // in Caches, released by the bench/verify unpersistAll like every hub.
    val exactPairs = graft.core.Caches.persist(
      Similarity.exactCosinePairs(e, e)
        .filter(col("qid") < col("vid") && col("cosine") >= 0.4)
        .select(col("qid").as("i"), col("vid").as("j")))
    val exComps = Dedup.clusterPairs(exactPairs)
      .select(col("id").as("vec_id"), col("cluster_id").as("ex_cl"))
    val joined = graft.core.Caches.persist(sd.join(exComps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("sem_canonical_id"),
        coalesce(col("ex_cl"), col("vec_id")).as("ex_cl")))
    val stats = joined.agg(count(lit(1)).as("n_vecs"))
    val refine = joined.groupBy(col("sem_canonical_id"))
      .agg(countDistinct(col("ex_cl")).as("nc"))
      .agg(count(when(col("nc") > 1, lit(1))).as("n_refine_viol"))
    val semI = joined.select(col("vec_id").as("i"), col("sem_canonical_id").as("ci"))
    val semJ = joined.select(col("vec_id").as("j"), col("sem_canonical_id").as("cj"))
    val recall = exactPairs.join(semI, Seq("i")).join(semJ, Seq("j"))
      .agg(count(lit(1)).as("n_exact_pairs"),
        count(when(col("ci") === col("cj"), lit(1))).as("n_captured"))
    stats.crossJoin(refine).crossJoin(recall)
      .select(col("n_vecs"), col("n_exact_pairs"),
        (col("n_refine_viol") === 0).cast(IntegerType).as("refine_ok"),
        (col("n_captured").cast(DoubleType) >=
          lit(0.6) * col("n_exact_pairs").cast(DoubleType))
          .cast(IntegerType).as("pair_recall_ok"))
  }

  private val q90_sql =
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
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings
      |        WHERE embedding IS NOT NULL) AS n_vecs,
      |  CAST(count(*) AS BIGINT) AS n_exact_pairs,
      |  1 AS refine_ok, 1 AS pair_recall_ok FROM pairs""".stripMargin

  // --------------------------------------------------------------------------
  // q91 — distributed exact quantile binning: every lineitem row gets its
  // ntile(10) decile under the total order (quantity, orderkey, linenumber)
  // — computed histogram-first (Stats.quantileBins), never via the
  // single-partition global-sort window the SQL spelling implies.
  def q91_quantile_bins(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber").cast(LongType).as("l_linenumber"),
      col("l_quantity").cast(LongType).as("qty"))
    Stats.quantileBins(li, "qty", 10, Seq("l_orderkey", "l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"), col("bucket"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val q91_sql =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      | CAST(l_quantity AS BIGINT) AS qty,
      | CAST(ntile(10) OVER (ORDER BY CAST(l_quantity AS BIGINT),
      |   l_orderkey, l_linenumber) AS BIGINT) AS bucket
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --------------------------------------------------------------------------
  // q92 — text normalization: planted case/whitespace/control noise
  // (tabs, CRLF, C0 bytes, doubled spaces, an uppercased prefix) collapses
  // to the canonical lowercase single-spaced form.
  def q92_normalize_text(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(
      lit("\t "), upper(substring(col("text"), 1, 40)), lit("\n\r"),
      col("text"), lit("\u0001\u0002  ")).as("text"))
    TextAnalysis.normalizeText(planted)
      .select(col("doc_id"), col("norm_text"), col("n_chars_norm"))
      .orderBy(col("doc_id"))
  }

  private val q92_sql = {
    // NOTE: line ENDS with || — interpolated into .stripMargin (see q87)
    val plant = """chr(9) || ' ' || upper(substr(text, 1, 40)) || chr(10) || chr(13) ||
      text || chr(1) || chr(2) || '  '"""
    s"""WITH p AS (SELECT doc_id, $plant AS text FROM documents)
      |SELECT doc_id,
      |  lower(trim(regexp_replace(text, '${TextAnalysis.JunkRunRe}', ' ', 'g'))) AS norm_text,
      |  CAST(length(lower(trim(regexp_replace(text, '${TextAnalysis.JunkRunRe}', ' ', 'g')))) AS BIGINT) AS n_chars_norm
      |FROM p ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q93 — repeated n-gram span masking (substring-dedup-lite): word
  // 3-grams with corpus df ≥ 5 are cut and each maximal run becomes one
  // <dup> marker. The planted 8×-copy documents plus naturally shared
  // phrases make the rule fire on ~70% of docs with PARTIAL spans — the
  // dup class document/line-level ops miss.
  def q93_mask_repeated_ngrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.maskRepeatedNgrams(docs(s, dir), n = 3, minDf = 5)
      .select(col("doc_id"), col("masked_text"), col("n_tokens"),
        col("n_masked"), col("n_spans"))
      .orderBy(col("doc_id"))

  private val q93_sql =
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS start FROM b),
      |g AS (SELECT doc_id, start,
      |        CAST(('0x' || substr(md5(array_to_string(ws[start:start+2], ' ')), 1, 15)) AS BIGINT) AS gk
      |      FROM s),
      |hot AS (SELECT gk FROM (SELECT gk, count(DISTINCT doc_id) AS gram_df
      |                        FROM g GROUP BY 1) WHERE gram_df >= 5),
      |c0 AS (SELECT g.doc_id, unnest(generate_series(g.start, g.start+2)) AS pos
      |       FROM g JOIN hot USING (gk)),
      |cov AS (SELECT DISTINCT doc_id, pos FROM c0),
      |tok AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS pos FROM b),
      |fl AS (SELECT tok.doc_id, tok.pos, tok.tok, cov.pos IS NOT NULL AS cv
      |       FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos),
      |em AS (SELECT *, coalesce(lag(cv) OVER (PARTITION BY doc_id ORDER BY pos), false) AS pcv FROM fl),
      |r AS (SELECT doc_id,
      |        string_agg(CASE WHEN NOT cv THEN tok WHEN cv AND NOT pcv THEN '<dup>' END, ' ' ORDER BY pos) AS masked_text,
      |        CAST(count(*) AS BIGINT) AS n_tokens,
      |        CAST(sum(CASE WHEN cv THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |        CAST(sum(CASE WHEN cv AND NOT pcv THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
      |      FROM em GROUP BY 1)
      |SELECT d.doc_id, r.masked_text, r.n_tokens, r.n_masked, r.n_spans
      |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q94 — cross-source overlap matrix: pairwise word-3-gram Jaccard over
  // the 20 sources (190 pairs, zero-overlap pairs included). The planted
  // cross-source copies give the matrix real signal.
  def q94_source_overlap(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceOverlap(docs(s, dir), n = 3)
      .orderBy(col("source_a"), col("source_b"))

  private val q94_sql =
    """WITH b AS (SELECT source, string_split(text, ' ') AS ws FROM documents
      |           WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
      |s AS (SELECT source, ws, unnest(generate_series(1, len(ws) - 2)) AS start FROM b),
      |g AS (SELECT DISTINCT source,
      |        CAST(('0x' || substr(md5(array_to_string(ws[start:start+2], ' ')), 1, 15)) AS BIGINT) AS gk
      |      FROM s),
      |z AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
      |i AS (SELECT a.source AS source_a, b.source AS source_b,
      |        CAST(count(*) AS BIGINT) AS n_common
      |      FROM g a JOIN g b ON a.gk = b.gk AND a.source < b.source GROUP BY 1, 2)
      |SELECT za.source AS source_a, zb.source AS source_b,
      |  za.n_grams AS n_a, zb.n_grams AS n_b,
      |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
      |  CAST(coalesce(i.n_common, 0) AS DOUBLE) /
      |    CAST(za.n_grams + zb.n_grams - coalesce(i.n_common, 0) AS DOUBLE) AS jaccard
      |FROM z za JOIN z zb ON za.source < zb.source
      |LEFT JOIN i ON i.source_a = za.source AND i.source_b = zb.source
      |ORDER BY source_a, source_b""".stripMargin

  // --------------------------------------------------------------------------
  // q95 — compression-ratio quality signal: deflate length / byte length
  // per document via the codegen'd graft_deflate_len expression. No SQL
  // dual (DuckDB has no deflate) → rows-only check by design; the
  // planted repetitive/duplicate docs vs prose docs separate in ScalaTest.
  def q95_compression_ratio(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionRatio(docs(s, dir))
      .select(col("doc_id"), col("n_bytes"), col("deflate_len"),
        col("compression_ratio"))
      .orderBy(col("doc_id"))

  // --------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_domain_cap" -> (q88_domain_cap _),
    "q89_line_dedup" -> (q89_line_dedup _),
    "q90_semantic_dedup" -> (q90_semantic_dedup _),
    "q91_quantile_bins" -> (q91_quantile_bins _),
    "q92_normalize_text" -> (q92_normalize_text _),
    "q93_mask_repeated_ngrams" -> (q93_mask_repeated_ngrams _),
    "q94_source_overlap" -> (q94_source_overlap _),
    "q95_compression_ratio" -> (q95_compression_ratio _))

  def oracle: Map[String, String] = Map(
    "q88_domain_cap" -> q88_sql,
    "q90_semantic_dedup" -> q90_sql,
    "q89_line_dedup" -> q89_sql,
    "q91_quantile_bins" -> q91_sql,
    "q92_normalize_text" -> q92_sql,
    "q93_mask_repeated_ngrams" -> q93_sql,
    "q94_source_overlap" -> q94_sql)
}
