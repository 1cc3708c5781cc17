package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards for the scale-critical claims the
  * query pack makes in its docs: filters/projections reach the parquet
  * scan, map-only operators stay shuffle-free, and dimension joins
  * broadcast. These are the properties that decide 100 TB behavior —
  * a correctness-preserving refactor that silently breaks one of them
  * would pass every oracle check and still regress the cluster story. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q02 filter+projection push down to the parquet scan") {
    val p = plan(Relational.q02_filter_project(spark, sf001))
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters in:\n$p")
    // projection pruning: the ReadSchema must carry only the projected
    // columns + the filter columns — a scan mentioning l_returnflag (or any
    // other unused lineitem column) is reading the whole row
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.nonEmpty, p)
    for (unused <- Seq("l_returnflag", "l_shipdate", "l_partkey", "l_tax"))
      assert(!readSchema.contains(unused), s"unpruned column $unused in $readSchema")
  }

  test("map-only operators plan without a single exchange") {
    // piiRedact, chunkTokens, deterministicSplit, fingerprint: projection/
    // generator shapes — at 100 TB an accidental shuffle here would be the
    // dominant cost of the whole pipeline
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    for ((name, df) <- Seq(
        "piiRedact" -> graft.ext.TextAnalysis.piiRedact(docs),
        "chunkTokens" -> graft.ext.TextAnalysis.chunkTokens(docs),
        "deterministicSplit" -> graft.ext.TextAnalysis.deterministicSplit(docs),
        "fingerprint" -> graft.ext.TextAnalysis.fingerprint(docs),
        "normalizeText" -> graft.ext.TextAnalysis.normalizeText(docs),
        "compressionRatio" -> graft.ext.TextAnalysis.compressionRatio(docs),
        // round-5 audit additions: all fan-out/projection shapes
        "splitSentences" -> graft.ext.TextAnalysis.splitSentences(docs),
        "extractLinks" -> graft.ext.TextAnalysis.extractLinks(docs),
        "keywordScore" -> graft.ext.TextAnalysis.keywordScore(docs, Seq("a" -> 1L)),
        "nfcNormalize" -> docs.select(
          graft.functions.TextMetrics.nfcNormalize(col("text"))),
        "mediaSniff" -> graft.ext.Multimodal.sniff(
          docs.select(col("doc_id").as("media_id"),
            encode(col("text"), "UTF-8").as("payload"))),
        "bpeTokenize" -> graft.ext.Bpe.tokenize(docs, Seq(("a", "b"))))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name plans a shuffle:\n$p")
    }
  }

  test("round-14 map-only operators plan without a single exchange") {
    // chunking, FIM, BPE-serve, and the semantic gate all claim "fused
    // into the scan at any corpus size" — an accidental shuffle in any
    // of them would dominate a 100 TB ingest
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    for ((name, df) <- Seq(
        "chunkDocuments" -> graft.ext.Sharding.chunkDocuments(docs, 64, 16),
        "fimTransform" -> graft.ext.Sharding.fimTransform(docs),
        "bpeTokenizeTotal" -> graft.ext.Bpe.tokenizeTotal(docs, Seq(("a", "b"))))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name plans a shuffle:\n$p")
    }
    val e = graft.core.Tables.load(spark, sf001, "embeddings")
    val gate = graft.ext.Similarity.flagSemanticContaminated(e,
      Seq(Array.fill(64)(1L)), 0.9)
    assert(!plan(gate).contains("Exchange"),
      s"semantic gate plans a shuffle:\n${plan(gate)}")
  }

  test("round-15 map-only operators plan without a single exchange") {
    // the perceptual hashes and their gates are per-row codegen
    // projections — an accidental shuffle in a 100 TB media scan would
    // dominate the whole crawl; the carryInput stage faces of chunk/FIM
    // must stay as shuffle-free as their q153/q154 shapes
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val media = docs.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"))
    for ((name, df) <- Seq(
        "imageDHash" -> media.select(
          graft.functions.PerceptualHashFns.imageDHash(col("payload"))),
        "wavEnergyFp" -> media.select(
          graft.functions.PerceptualHashFns.wavEnergyFp(col("payload"))),
        "flagPerceptualDup" -> graft.ext.Multimodal.flagPerceptualDup(
          media, graft.core.KeySets.Members(Seq(1L, 2L, 3L))),
        "chunkDocumentsStage" -> graft.ext.Sharding.chunkDocuments(
          docs, 64, 16, carryInput = true),
        "fimTransformStage" -> graft.ext.Sharding.fimTransform(
          docs, carryInput = true))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name plans a shuffle:\n$p")
    }
  }

  test("tokenBudgetByScore's only single-partition work is the bucket-total table") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val df = graft.ext.Sharding.tokenBudgetByScore(docs, 30000L, "n_chars")
    df.collect() // materialize hub + AQE final plan
    val p = plan(df)
    // the quantileBins rule: every SinglePartition exchange must sit above
    // a completed aggregate (the <=2^16-row bucket table), never a row scan
    val singles = "Exchange SinglePartition".r.findAllMatchIn(p).map(_.start).toList
    for (s <- singles)
      assert(p.substring(s).contains("HashAggregate"),
        s"SinglePartition exchange not over the bucket table in:\n$p")
    graft.core.Caches.unpersistAll()
    spark.catalog.clearCache()
  }

  test("profile computes every column's stats in ONE aggregate pass (Expand, one scan)") {
    val orders = graft.core.Tables.load(spark, sf001, "orders")
    val p = plan(graft.ext.Stats.profile(orders, Seq(
      "o_orderkey" -> col("o_orderkey"), "o_custkey" -> col("o_custkey"))))
    // one scan: the parquet relation appears exactly once
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"profile should scan the table once:\n$p")
    assert(p.contains("Expand"), s"multi-distinct should plan via Expand:\n$p")
  }

  test("dimension join broadcasts the small side (q05 shape)") {
    val p = plan(Relational.q05_local_supplier_volume(spark, sf001))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"expected a broadcast dimension join:\n$p")
  }

  test("q21 broadcasts its b side and probes with the spread a side") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = Events.q21_event_pairs_within_5min(spark, sf001).queryExecution.executedPlan
    val joins = new AdaptiveSparkPlanHelper {}.collect(p) {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.size == 1, s"expected one broadcast hash join:\n$p")
    assert(joins.head.buildSide == BuildRight &&
      joins.head.right.output.map(_.name).contains("e2"),
      s"b (e2, ts2) must be the build side:\n$p")
  }

  test("bm25 probes posting lists without building an index (q79 shape)") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val p = plan(graft.ext.Search.bm25TopK(docs, Seq("dup", "spark"), topK = 20))
    // corpus stats ride as memoized literals and df as a count window on
    // the term partition (r12) — no broadcast-build jobs; top-k is a
    // heap, not a global sort
    assert(p.contains("Window"), s"expected the per-term df count window:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
    // the term ISIN filter must run below the tf groupBy's exchange (the
    // one partitioned by term), so that shuffle carries only query-term
    // postings. Anchor on the specific exchange and the specific filter —
    // a bare indexOf("Filter") would also match scan pushdown text.
    val tfEx = "Exchange hashpartitioning\\([^\\n]*term".r
      .findFirstMatchIn(p).map(_.start)
    val isinFilter = "Filter [^\\n]*term#\\d+ IN \\(".r
      .findFirstMatchIn(p).map(_.start)
    assert(tfEx.isDefined, s"no tf exchange keyed on term in:\n$p")
    assert(isinFilter.isDefined, s"no term isin filter in:\n$p")
    assert(isinFilter.get > tfEx.get,
      s"term filter not below the tf shuffle:\n$p")
  }

  test("tfidfKeywords aggregates straight off the doc_id-partitioned hub (q83 shape)") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    val df = graft.ext.Search.tfidfKeywords(docs, k = 5)
    df.collect() // materialize hub + AQE final plan (memory: count() plans separately)
    val p = plan(df)
    // the warm path is cache-scan → per-doc aggregation with NO exchange:
    // the dfHub persists a doc_id hash layout the groupBy reuses. In the
    // printed plan the outer operators precede the InMemoryRelation's
    // inner (build-time) plan, so assert no Exchange above the cache scan.
    val cut = p.indexOf("InMemoryTableScan")
    assert(cut > 0, s"expected the persisted dfHub in:\n$p")
    val outer = p.substring(0, cut)
    assert(!outer.contains("Exchange"),
      s"q83's warm path should not re-shuffle the hub's layout:\n$outer")
    graft.core.Caches.unpersistAll()
    spark.catalog.clearCache()
  }

  test("histogram aggregates partially before its one shuffle") {
    val li = graft.core.Tables.load(spark, sf001, "lineitem")
    val p = plan(graft.ext.Stats.histogram(li, "l_extendedprice", 0.0, 100.0))
    // partial + final hash aggregate around the one exchange
    assert("(?s)HashAggregate.*Exchange.*HashAggregate".r.findFirstIn(p).isDefined, p)
  }

  test("domainCap pre-prunes to the cap per task before the shuffle (WindowGroupLimit)") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .withColumn("domain", concat(lit("d"), pmod(col("doc_id"), lit(37L))))
    val p = plan(graft.ext.TextAnalysis.domainCap(docs, 5))
    // Partial-mode WindowGroupLimit upstream of the exchange is what keeps
    // a hot domain from shipping whole at 100 TB; losing it (e.g. by
    // computing a full-partition count in the same window) silently
    // reverts to whole-domain sorts.
    val limitIdx = p.indexOf("WindowGroupLimit")
    val exchangeIdx = p.indexOf("Exchange")
    assert(limitIdx >= 0, s"no WindowGroupLimit in domainCap plan:\n$p")
    assert(p.indexOf("WindowGroupLimit", limitIdx + 1) > exchangeIdx,
      s"no partial WindowGroupLimit below the exchange in:\n$p")
  }

  test("quantileBins never plans a whole-corpus single-partition sort") {
    val li = graft.core.Tables.load(spark, sf001, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").cast("long").as("qty"))
    val p = plan(graft.ext.Stats.quantileBins(li, "qty", 10,
      Seq("l_orderkey", "l_linenumber")))
    // the only SinglePartition exchange allowed is the one feeding the
    // HISTOGRAM cumulative window (distinct values, not rows): it must sit
    // above a completed (final) aggregate, never directly above a row scan
    val singles = "Exchange SinglePartition".r.findAllMatchIn(p).map(_.start).toList
    for (s <- singles) {
      val upstream = p.substring(s)
      assert(upstream.contains("HashAggregate"),
        s"SinglePartition exchange not over the value histogram in:\n$p")
    }
  }

  // expression ids, lambda-variable suffixes and cached plans' exchange
  // ids come from JVM-wide counters, so two builds of one plan differ in
  // them by design. An id follows a name, a `)` (`count(1)#6414L`) or a
  // backtick (`count(1)`#49839); after `]` stands a content hash
  // (`long[12]#abcd`), which stays.
  private def stable(df: DataFrame): String =
    df.queryExecution.optimizedPlan.treeString
      .replaceAll("(?<=[\\w)`])#\\d+", "#_")
      .replaceAll("\\b([xyz])_\\d+\\b", "$1_")
      .replaceAll("plan_id=\\d+", "plan_id=_")

  test("plans print embedded arrays by content hash: two builds give one treeString") {
    // SrpBandCodes (q42) and SortedLongSetContains (q129) once printed
    // their arrays by JVM identity ([D@…, [J@…), different every build;
    // q76's pivot names an id after a backtick
    for ((q, embedsArray) <- Seq[((org.apache.spark.sql.SparkSession, String) => DataFrame, Boolean)](
        (Corpus.q42_ann_lsh_topk _, true), (Corpus.q129_contamination_gate _, true),
        (Corpus.q76_pivot _, false))) {
      val plans = (1 to 2).map { _ =>
        graft.core.Caches.unpersistAll()
        stable(q(spark, sf001))
      }
      assert(plans(0) == plans(1), s"plans differ:\n${plans(0)}\n----\n${plans(1)}")
      assert(!plans(0).matches("(?s).*\\[[JD]@.*"), plans(0))
      if (embedsArray)
        assert(plans(0).matches("(?s).*(long|double)\\[\\d+\\]#[0-9a-f]+.*"), plans(0))
    }
  }

  test("minhashBandKeys is map-only up to its distinct: no per-hash min aggregate") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val p = graft.ext.Dedup.minhashBandKeys(corpus, n = 3).queryExecution.optimizedPlan
    val aggFns = p.flatMap(_.expressions).flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression => a })
    assert(aggFns.isEmpty, s"aggregate functions in:\n$p")
    assert(!p.flatMap(_.output).exists(_.name.matches("m\\d+")), s"signature columns in:\n$p")
  }
}
