package graft.ext

import graft.SparkSpec
import graft.core.{Decisions, KeySets, Tables}
import graft.operators.AsofJoin
import org.apache.spark.sql.functions._

/** Unit/property coverage for the extension operators beyond what the
  * DuckDB-oracle gate already proves (it proves exactness; these prove
  * semantics on controlled inputs and the approximate paths). */
class ExtOpsSpec extends SparkSpec {

  import spark.implicits._

  /** The join strategies hinted anywhere in `df`'s optimized plan. */
  private def joinHints(df: org.apache.spark.sql.DataFrame): Set[String] =
    "strategy=(\\w+)".r.findAllMatchIn(df.queryExecution.optimizedPlan.toString)
      .map(_.group(1)).toSet

  /** `body` run while file sources estimate their size at 10⁶× the bytes
    * on disk: past the gram-broadcast envelope for any fixture file, so
    * the delta-vs-corpus ops plan their shuffle join. Frames must be read
    * inside `body` — a plan caches its size estimate. */
  private def withHugeFileEstimates[T](body: => T): T = {
    val key = "spark.sql.sources.fileCompressionFactor"
    spark.conf.set(key, "1000000")
    try body finally spark.conf.unset(key)
  }

  test("exactDedup collapses identical texts to one canonical id") {
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "unique text")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies"))).toMap
    assert(byId(1L) == (1L, 2L) && byId(2L) == (1L, 2L) && byId(3L) == (3L, 1L))
  }

  test("jaccardPairs finds the planted near-dups and nothing else at sf0.001") {
    val docs = Tables.load(spark, sf001, "documents")
    val pairs = Dedup.jaccardPairs(
      Dedup.capDocFreq(Dedup.charShingles(docs, 16), 500), 0.5).collect()
    assert(pairs.nonEmpty, "expected planted near-dup pairs")
    assert(pairs.forall(r => r.getAs[Double]("jaccard") >= 0.5))
    assert(pairs.forall(r => r.getAs[Long]("i") < r.getAs[Long]("j")))
  }

  test("repeatedSpans: maximal cross-doc runs, short docs and within-doc repeats excluded") {
    val S = (1 to 16).map(i => s"S$i").mkString(" ")      // 16 shared tokens
    val df = Seq(
      // docs 1/2 share exactly S: spans start where S starts (pos 5 / pos 3),
      // 16 tokens = 9 consecutive 8-grams
      (1L, s"w1 w2 w3 w4 $S x1 x2 x3 x4 x5"),
      (2L, s"v1 v2 $S y1 y2"),
      // docs 3/4: exact copies but only 5 tokens — under the gram width,
      // no grams, no spans (no short-text fallback by contract)
      (3L, "t1 t2 t3 t4 t5"), (4L, "t1 t2 t3 t4 t5"),
      // doc 5: repeats its own 8-gram twice but shares nothing cross-doc
      (5L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8 z1 z2")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(df, n = 8, minGrams = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"), r.getAs[Long]("n_grams"))).toSet
    assert(out == Set((1L, 5L, 16L, 9L), (2L, 3L, 16L, 9L)))
    // minGrams filter: a floor above the run length drops both spans
    assert(Dedup.repeatedSpans(df, n = 8, minGrams = 10).count() == 0L)
  }

  test("repeatedSpans: runs split by a gap stay separate maximal spans") {
    val A = (1 to 12).map(i => s"A$i").mkString(" ")
    val B = (1 to 12).map(i => s"B$i").mkString(" ")
    val df = Seq(
      (1L, s"$A g1 g2 g3 $B"),                    // two shared runs, gapped
      (2L, s"p1 $A q1 q2"), (3L, s"$B u1")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, n = 8, minGrams = 2)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_len"),
        r.getAs[Long]("n_grams"))).toSet
    // A covers doc-1 tokens 1-12 (grams 1-5), B covers tokens 16-27 (grams 16-20)
    assert(spans == Set((1L, 12L, 5L), (16L, 12L, 5L)))
  }

  test("sharedGramHub plan: the sh-shuffled occurrence subtree is planned once and reused") {
    // the span hub deliberately avoids collect_list posting rows (no df
    // cap is possible for spans, so a hot gram's row would grow with the
    // corpus); the price must NOT be a second corpus shuffle — the stats
    // aggregate and the back-join must share one exchange
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val out = Dedup.repeatedSpans(docs, 8, 4)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(plan).length >= 1,
      s"expected the hub's sh-exchange to be reused, got plan:\n$plan")
    graft.core.Caches.unpersistAll()
  }

  test("repeatedSpansAgainst: corpus-shared spans only; delta-internal repeats excluded; both paths agree") {
    val S = (1 to 16).map(i => s"S$i").mkString(" ")   // in corpus
    val D = (1 to 16).map(i => s"D$i").mkString(" ")   // delta-internal only
    val corpus = Seq(
      (1L, s"c1 c2 $S c3"),
      (2L, "c4 c5 c6 c7 c8 c9 c10 c11")).toDF("doc_id", "text")
    val delta = Seq(
      // shares S with the corpus → one 16-token span at position 3
      (101L, s"x1 x2 $S y1"),
      // shares D only with ANOTHER DELTA doc → no span (R-S contract)
      (102L, s"z1 $D"), (103L, s"w1 w2 $D"),
      // shares the corpus doc-2 text → span, proving any corpus doc counts
      (104L, "q1 c4 c5 c6 c7 c8 c9 c10 c11 q2")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) = {
      val out = Dedup.repeatedSpansAgainst(d, corpus, n = 8, minGrams = 1)
      (joinHints(out), out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("span_start"), r.getAs[Long]("span_len"),
        r.getAs[Long]("n_grams"))).toSet)
    }
    val (hints, got) = run(delta)
    assert(hints.contains("broadcast"), s"a small delta broadcasts, hints $hints")
    assert(got == Set((101L, 3L, 16L, 9L), (104L, 2L, 8L, 1L)), s"got $got")
    // a delta estimated past the envelope takes the pinned shuffle-hash path
    val path = java.nio.file.Files.createTempDirectory("spans-delta").toString + "/d"
    delta.write.parquet(path)
    val (hintsS, gotS) = withHugeFileEstimates(run(spark.read.parquet(path)))
    assert(hintsS == Set("shuffle_hash"), s"hints $hintsS")
    assert(gotS == got)
    graft.core.Caches.unpersistAll()
  }

  test("stripRepeatedSpans: canonical copy survives, partners are cut, totals stay") {
    val S = (1 to 16).map(i => s"S$i").mkString(" ")
    val df = Seq(
      (1L, s"w1 w2 $S x1"),            // canonical holder of S (min id)
      (2L, s"v1 $S y1 y2 y3"),         // copy — S removed
      (3L, "t1 t2 t3"),                 // under gram width, untouched
      (4L, null.asInstanceOf[String])   // null text, null outputs
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(df, n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Any]("n_tokens"),
          r.getAs[Any]("n_removed"), r.getAs[Any]("n_spans"))).toMap
    assert(out(1L) == (s"w1 w2 $S x1", 19L, 0L, 0L))       // holder intact
    assert(out(2L) == ("v1 y1 y2 y3", 20L, 16L, 1L))       // S cut, one span
    assert(out(3L) == ("t1 t2 t3", 3L, 0L, 0L))
    assert(out(4L) == ((null, null, null, null)))
  }

  test("stripRepeatedSpans keep-override: a holder's text survives inside an overlap") {
    // doc 2's tokens c1-c12 are doc 1's text (holder 1 → remove-grams
    // covering 1..12) while c5-c16 is text doc 2 canonically holds for
    // doc 3 (holder-2 keep-grams covering 6..16; the start-5 gram
    // c5..c12 lives in all three docs so ITS holder is 1). The overlap
    // 6..12 is covered by BOTH families — the EXCEPT override must keep
    // it, or doc 3's canon would lose tokens.
    val c = (1 to 16).map(i => s"c$i")
    val df = Seq(
      (1L, (c.take(12) :+ "d1" :+ "d2").mkString(" ")),
      (2L, c.mkString(" ")),
      (3L, ("e1" +: c.drop(4)).mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedSpans(df, n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_spans"))).toMap
    assert(out(1L) == ((c.take(12) :+ "d1" :+ "d2").mkString(" "), 0L, 0L))
    // doc 2 loses only c1-c5 (covered by doc-1-held grams alone); the
    // overlap c6-c12 survives via its own keep-grams
    assert(out(2L) == (c.drop(5).mkString(" "), 5L, 1L))
    // doc 3's whole c5-c16 copy is cut (canon split across docs 1 and 2)
    assert(out(3L) == ("e1", 12L, 1L))
  }

  test("decontaminateSpans: test grams cut from train docs; val neither cuts nor is cut") {
    def bucket(t: String): Long =
      (BigInt(java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
        % 100).toLong
    // content-hash splits can't be assigned — craft them: append a unique
    // filler token until the text's bucket lands in the wanted split
    def craft(base: String, tag: String)(pred: Long => Boolean): String =
      Iterator.from(0).map(i => s"$base $tag$i").find(t => pred(bucket(t))).get
    val S = (1 to 12).map(i => s"S$i").mkString(" ") // 12 tokens → 5 full 8-grams
    val T = (1 to 12).map(i => s"T$i").mkString(" ")
    val trainDirty = craft(s"a1 a2 a3 $S", "a")(_ < 80)   // S also in test → cut
    val trainValOnly = craft(s"e1 e2 $T", "e")(_ < 80)    // T only in val → kept
    val trainClean = craft("c1 c2 c3 c4 c5 c6 c7 c8 c9", "c")(_ < 80)
    val testDoc = craft(s"b1 $S", "b")(_ >= 90)
    val valDoc = craft(s"d1 $S $T", "d")(b => b >= 80 && b < 90)
    val df = Seq(
      (1L, trainDirty), (2L, trainValOnly), (3L, trainClean),
      (4L, testDoc), (5L, valDoc), (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminateSpans(df, n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_spans"))).toMap
    // only the train split is rewritten or emitted (null text → test bucket)
    assert(out.keySet == Set(1L, 2L, 3L))
    // S's 5 shared 8-grams cover exactly the 12 S-tokens: one span cut
    val expectClean = trainDirty.split(" ").filterNot(_.startsWith("S")).mkString(" ")
    assert(out(1L) == (expectClean, 12L, 1L))
    // a gram shared only with the VAL split is not benchmark contamination
    assert(out(2L) == (trainValOnly, 0L, 0L))
    assert(out(3L) == (trainClean, 0L, 0L))
  }

  test("decontaminateSpans plan: train filter pushed below the back-join's gram explode") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val out = TextAnalysis.decontaminateSpans(docs, n = 8)
    out.collect()
    // structural walk (not plan-string matching, which couples the test
    // to one Spark version's rendering): collect the parquet scans
    // through AQE wrappers and assert on their dataFilters/requiredSchema
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(out.queryExecution.executedPlan)
    assert(ss.nonEmpty, "no parquet scans found in the executed plan")
    // the back-join side must shingle/shuffle ONLY the train split: the
    // bucket < 80 filter has to reach a scan as a data filter, not sit
    // above the join re-filtering an already-exploded full corpus
    assert(ss.exists(_.dataFilters.exists(
        _.toString.contains("pmod(graft_hash60(text"))),
      s"expected the train-split filter pushed into a scan, got scans:\n" +
        ss.map(s => s.dataFilters.mkString("[", ", ", "]")).mkString("\n"))
    // and the test-gram aggregate side reads text only (id pruned)
    assert(ss.exists(_.requiredSchema.fieldNames.toSeq == Seq("text")),
      s"expected a text-only pruned scan on the aggregate side, got schemas:\n" +
        ss.map(_.requiredSchema.catalogString).mkString("\n"))
    graft.core.Caches.unpersistAll()
  }

  test("decontaminateAgainst(train, test) == decontaminateSpans(all); both join paths agree") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val bucket = pmod(graft.functions.TextMetrics.hash60(col("text")), lit(100L))
    val train = docs.filter(bucket < 80)
    val test90 = docs.filter(bucket >= 90)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Any]("n_tokens"), r.getAs[Any]("n_removed"),
        r.getAs[Any]("n_spans"))).toSet
    val viaSplit = key(TextAnalysis.decontaminateSpans(docs, n = 8))
    val pair = TextAnalysis.decontaminateAgainst(train, test90, n = 8)
    assert(joinHints(pair) == Set("broadcast"))
    assert(key(pair) == viaSplit)
    // a bench side estimated past the envelope takes the pinned
    // shuffle-hash fallback and returns the identical rewrite
    val viaShuffle = withHugeFileEstimates {
      val d = Tables.load(spark, sf001, "documents")
      val out = TextAnalysis.decontaminateAgainst(
        d.filter(bucket < 80), d.filter(bucket >= 90), n = 8)
      assert(joinHints(out) == Set("shuffle_hash"))
      key(out)
    }
    assert(viaShuffle == viaSplit)
    graft.core.Caches.unpersistAll()
  }

  test("decontaminateAgainst plan: bench grams broadcast, corpus grams probed in place") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val bucket = pmod(graft.functions.TextMetrics.hash60(col("text")), lit(100L))
    val out = TextAnalysis.decontaminateAgainst(
      docs.filter(bucket < 80), docs.filter(bucket >= 80), n = 13)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the bench gram set to broadcast into the probe, got plan:\n$plan")
    graft.core.Caches.unpersistAll()
  }

  test("flagContaminated membership == ngramContamination output set (same gram rule)") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val bucket = pmod(graft.functions.TextMetrics.hash60(col("text")), lit(100L))
    val bench = docs.filter(bucket >= 90)
    val keys = KeySets.Members(TextAnalysis.benchGramKeys(bench, n = 3)
      .collect().map(_.getLong(0)).toSeq)
    val flagged = TextAnalysis.flagContaminated(docs, keys, n = 3)
      .filter(coalesce(col("contaminated"), lit(false)))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val viaJoin = TextAnalysis.ngramContamination(docs, bench, n = 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(flagged == viaJoin && flagged.nonEmpty)
    graft.core.Caches.unpersistAll()
  }

  test("shuffleOrder: contiguous total permutation, (skey,id)-consistent, salt re-keys") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val n = docs.count()
    val a = graft.ext.Sharding.shuffleOrder(docs, "s1").collect()
    assert(a.length == n)
    // seq is a bijection onto 1..N…
    assert(a.map(_.getAs[Long]("seq")).sorted.toSeq == (1L to n))
    // …and IS the rank in ascending (skey, doc_id) order
    val ranked = a.sortBy(r => (r.getAs[Long]("skey"), r.getAs[Long]("doc_id")))
    assert(ranked.map(_.getAs[Long]("seq")).toSeq == (1L to n))
    graft.core.Caches.unpersistAll()
    val b = graft.ext.Sharding.shuffleOrder(docs, "s2").collect()
    val ma = a.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq")).toMap
    val mb = b.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq")).toMap
    assert(ma != mb, "a different salt must yield a different permutation")
    graft.core.Caches.unpersistAll()
  }

  test("fpBloomIndex: no false negatives, fp band, empty corpus passes, foreign dump rejected") {
    import spark.implicits._
    val corpus = Tables.load(spark, sf001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    Dedup.fpBloomIndexSave(corpus, s"$dir/idx", fpp = 0.01)
    val (blob, params) = KeySets.loadBloom(spark, s"$dir/idx", Dedup.ExactDupBloomKind)
    assert(blob.blob.isDefined && params("n_items") > 0 && params("num_bits") > 0)
    // NO FALSE NEGATIVES: every corpus doc must flag true
    val onCorpus = Dedup.flagExactDups(
      corpus.filter(col("text").isNotNull), blob)
    assert(onCorpus.filter(!col("exact_dup")).count() == 0,
      "a bloom gate may never miss a true duplicate")
    // fresh docs: false-positive rate within a loose band of fpp=1%
    val fresh = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("fresh bloom probe text "), col("id").cast("string")).as("text"))
    val fp = Dedup.flagExactDups(fresh, blob)
      .filter(col("exact_dup")).count()
    assert(fp <= 2000 * 0.05, s"fp rate implausibly high: $fp/2000")
    // null text: null flag (total pass)
    val nulls = Dedup.flagExactDups(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"), blob)
      .select(col("exact_dup")).head()
    assert(nulls.isNullAt(0))
    // superset of the exact-literal gate's flags
    val keys = KeySets.Members(Dedup.corpusFpKeys(corpus).collect().map(_.getLong(0)).toSeq)
    val both = Dedup.flagExactDups(fresh, blob).withColumnRenamed("exact_dup", "b")
      .join(Dedup.flagExactDups(fresh, keys).select(col("doc_id"), col("exact_dup").as("e")),
        Seq("doc_id"))
    assert(both.filter(col("e") && !col("b")).count() == 0,
      "bloom flags must be a superset of the exact gate's")
    // empty corpus → null blob → flags nothing
    Dedup.fpBloomIndexSave(corpus.filter(lit(false)), s"$dir/empty")
    val (none, _) = KeySets.loadBloom(spark, s"$dir/empty", Dedup.ExactDupBloomKind)
    assert(none.blob.isEmpty)
    assert(Dedup.flagExactDups(fresh, none).filter(col("exact_dup")).count() == 0)
    // a foreign (KeySets) dump must not load as a bloom index
    val ksDir = s"$dir/ks"
    graft.core.KeySets.save(Seq(1L).toDF("k"), ksDir, "fam_x")
    intercept[Exception] { KeySets.loadBloom(spark, ksDir, Dedup.ExactDupBloomKind) }
    ()
  }

  test("fpBloomIndex: corpus past the runtime-filter ceilings still builds (confs raised+restored)") {
    // Spark's BloomFilterAggregate rejects builds past
    // runtime.bloomFilter.maxNumItems (4×10⁶) / maxNumBits (2²⁶) by
    // default — ceilings sized for the optimizer's own injected join
    // filters. 8.4M distinct fps exceed BOTH (≈80.5M bits at fpp 0.01);
    // the corpus-scale face must raise them around its one aggregate and
    // restore after (round-16 ADVICE: without this, the face failed with
    // AnalysisException at precisely the scale it exists for).
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // getOption surfaces the registered DEFAULTS (4M / 2²⁶) — record and
    // require them small enough that this build genuinely exceeds both
    val before = (spark.conf.getOption(itemsKey), spark.conf.getOption(bitsKey))
    assert(before._1.exists(_.toLong < 8400000L)
      && before._2.exists(_.toLong < (1L << 27)),
      s"test precondition: ceilings below the build size, saw $before")
    val corpus = spark.range(8400000L)
      .select(concat(lit("bloom scale probe "), col("id").cast("string")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom-big").toString
    Dedup.fpBloomIndexSave(corpus, s"$dir/idx", fpp = 0.01)
    // ceilings restored: they keep protecting the optimizer's own filters
    assert((spark.conf.getOption(itemsKey), spark.conf.getOption(bitsKey)) == before,
      "ceilings must be restored after the build")
    val (blob, params) = KeySets.loadBloom(spark, s"$dir/idx", Dedup.ExactDupBloomKind)
    assert(blob.blob.isDefined && params("n_items") == 8400000L
      && params("num_bits") > (1L << 26))
    // no false negatives on a corpus sample
    import spark.implicits._
    val sample = spark.range(0, 8400000L, 4201L)
      .select(col("id").as("doc_id"),
        concat(lit("bloom scale probe "), col("id").cast("string")).as("text"))
    assert(Dedup.flagExactDups(sample, blob).filter(!col("exact_dup")).count() == 0)
  }

  test("bandBloomIndex: superset of the literal near-dup gate, geometry rides, empty/foreign dumps") {
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-bandbloom").toString
    Dedup.bandBloomIndexSave(docs, s"$dir/idx", n = 8, fpp = 0.01)
    val (blob, ps) = KeySets.loadBloom(spark, s"$dir/idx", Dedup.NearDupBloomKind)
    val Seq(n, h, r) = Seq("n", "num_hashes", "rows_per_band").map(ps(_).toInt)
    assert(blob.blob.isDefined && n == 8 && h == 128 && r == 4)
    // NO FALSE NEGATIVES vs the literal gate: on corpus docs + fresh
    // probes, every literal-flagged candidate must flag on the bloom face
    val keys = KeySets.Members(Dedup.minhashBandKeys(docs, 8).collect().map(_.getLong(0)).toSeq)
    val probe = docs.select(col("doc_id"), col("text")).unionByName(
      spark.range(2000).select((col("id") + 10000000L).as("doc_id"),
        concat(lit("fresh band bloom probe words never in any corpus row "),
          col("id").cast("string")).as("text")))
    val e = Dedup.flagNearDups(probe, keys, 8)
      .select(col("doc_id"), col("near_dup_candidate").as("e"))
    val b = Dedup.flagNearDups(probe, blob, n, h, r)
      .select(col("doc_id"), col("near_dup_candidate").as("b"))
    val both = e.join(b, Seq("doc_id"))
    assert(both.filter(col("e") && !col("b")).count() == 0,
      "bloom face must never miss a literal-gate candidate")
    // the extra (bloom-only) flags stay within a loose fpp band
    val freshOnly = both.filter(col("doc_id") >= 10000000L)
    val extra = freshOnly.filter(!col("e") && col("b")).count()
    assert(extra <= 2000 * 0.10, s"implausible bloom fp rate: $extra/2000")
    // null text → null flag (total pass)
    val nulls = Dedup.flagNearDups(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"), blob, n, h, r)
      .select(col("near_dup_candidate")).head()
    assert(nulls.isNullAt(0))
    // empty corpus → None blob → flags nothing
    Dedup.bandBloomIndexSave(docs.filter(lit(false)), s"$dir/empty", n = 8)
    val (none, _) = KeySets.loadBloom(spark, s"$dir/empty", Dedup.NearDupBloomKind)
    assert(none.blob.isEmpty)
    assert(Dedup.flagNearDups(probe, none, 8)
      .filter(col("near_dup_candidate")).count() == 0)
    // cross-family dumps must refuse to load as each other
    intercept[Exception] { KeySets.loadBloom(spark, s"$dir/idx", Dedup.ExactDupBloomKind) }
    Dedup.fpBloomIndexSave(docs.limit(3), s"$dir/fp")
    intercept[Exception] { KeySets.loadBloom(spark, s"$dir/fp", Dedup.NearDupBloomKind) }
    ()
  }

  test("KeySets: pre-tag dump accepted on its own key rows' proof; empty/foreign pre-tag refused") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ks-pretag").toString
    // simulate the round-14 on-disk layout: kind/value keys + param rows,
    // NO family: tag row
    def saveOld(path: String, kind: String, keys: Seq[Long]): Unit =
      (keys.map(k => (kind, k)) :+ ("param:n" -> 4L))
        .toDF("kind", "value").write.mode("overwrite").parquet(path)
    saveOld(s"$base/ok", "fam_a", Seq(7L, 9L))
    val (keys, params) = graft.core.KeySets.loadCollected(spark, s"$base/ok", "fam_a")
    assert(keys.keys.sorted.toSeq == Seq(7L, 9L) && params == Map("n" -> 4L))
    // an EMPTY pre-tag dump proves nothing — refused
    saveOld(s"$base/empty", "fam_a", Seq.empty)
    intercept[IllegalArgumentException] {
      graft.core.KeySets.load(spark, s"$base/empty", "fam_a")
    }
    // a pre-tag dump of a DIFFERENT family — refused by the key rows
    saveOld(s"$base/foreign", "fam_b", Seq(1L))
    intercept[IllegalArgumentException] {
      graft.core.KeySets.load(spark, s"$base/foreign", "fam_a")
    }
  }

  test("annLshPairs: degenerate auto geometry (bar near -1) fails loudly, never 1-band-wraps") {
    val e = Tables.load(spark, sf001, "embeddings")
    // force the banded path at test scale
    try Decisions.forcing("Similarity.annLshPairs" -> "banded") {
      val ex = intercept[IllegalArgumentException](
        Similarity.annLshPairs(e, minCosine = -1.0).count())
      assert(ex.getMessage.contains("degenerates"), ex.getMessage)
    } finally {
      graft.core.Caches.unpersistAll()
    }
  }

  test("KeySets: empty dump loads empty for its OWN family, rejects a foreign reader") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ks").toString + "/dump"
    graft.core.KeySets.save(Seq.empty[Long].toDF("k"), path, "fam_a",
      Map("n" -> 4L))
    val (keys, params) = graft.core.KeySets.loadCollected(spark, path, "fam_a")
    assert(keys.keys.isEmpty && params == Map("n" -> 4L))
    // a dump holding only param/family rows must NOT load as some OTHER
    // family's legitimately-empty blocklist (it would pass everything)
    val e = intercept[IllegalArgumentException] {
      graft.core.KeySets.load(spark, path, "fam_b")
    }
    assert(e.getMessage.contains("family"))
  }

  test("KeySets.loadCollected and bandIndexLoad read in 3 jobs: one kind summary, one key collect") {
    // (the band dump's loader is KeySets.load with the band parameters)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ks-jobs").toString
    val corpus = (1L to 20L).map(i => (i, s"w$i a b c d e f")).toDF("doc_id", "text")
    Dedup.fpIndexSave(corpus, s"$dir/fp")
    Dedup.bandIndexSave(corpus, s"$dir/band", n = 3)
    import org.apache.spark.graftbridge.Jobs
    // no schema-inference job, one aggregate over the kinds (a map and a
    // result job), one collect of the keys
    assert(Jobs.count(spark)(
      graft.core.KeySets.loadCollected(spark, s"$dir/fp", Dedup.ExactDupKind)) == 3)
    assert(Jobs.count(spark)(KeySets.load(spark, s"$dir/band", Dedup.NearDupKind,
      Seq("n", "num_hashes", "rows_per_band"))._1.collect()) == 3)
  }

  test("shuffleOrder: dense and bucket paths emit the identical permutation") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val dense = graft.ext.Sharding.shuffleOrder(docs, "dual")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq")).toMap
    graft.core.Caches.unpersistAll()
    try Decisions.forcing("Sharding.orderDense" -> "bucket") {
      val bucketed = graft.ext.Sharding.shuffleOrder(docs, "dual")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq")).toMap
      assert(dense == bucketed)
    } finally {
      graft.core.Caches.unpersistAll()
    }
  }

  test("shuffleOrderAt: equals seqs JOIN shuffleOrder on both paths; riders pass through") {
    graft.core.Caches.unpersistAll()
    import spark.implicits._
    val docs = Tables.load(spark, sf001, "documents")
    val n = docs.count()
    val seqs = Seq((1L, "a"), (2L, "b"), (n, "z"), (n / 2, "m"), (n + 7, "gone"))
      .toDF("seq", "tag")
    val expect = graft.ext.Sharding.shuffleOrder(docs, "at")
      .join(seqs, Seq("seq"))
      .select(col("seq"), col("tag"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(expect.size == 4, "out-of-range position must match nothing")
    def got(): Set[(Long, String, Long)] =
      graft.ext.Sharding.shuffleOrderAt(docs, seqs, "at")
        .select(col("seq"), col("tag"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got() == expect)
    graft.core.Caches.unpersistAll()
    try Decisions.forcing("Sharding.orderDense" -> "bucket")(assert(got() == expect))
    finally {
      graft.core.Caches.unpersistAll()
    }
  }

  test("ArgExtremum.maxScoreMinId: window dual, tie to min id, null skip, cross-partition merge") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9),   // tie at 0.9 → id 11
      (2L, 20L, -0.3), (2L, 21L, -0.7),                 // negatives fine
      (3L, 30L, 0.0), (3L, 31L, 0.0))                   // tie at 0.0 → id 30
      .toDF("g", "id", "s")
      .union(Seq((4L, Option.empty[Long], Option(1.0)),
        (4L, Option(40L), Option.empty[Double]))
        .toDF("g", "id", "s"))                           // all-null group → NULL
      .repartition(7)                                    // force partial+merge
    val got = rows.groupBy(col("g"))
      .agg(graft.functions.ArgExtremum.maxScoreMinId(col("s"), col("id")).as("t"))
      .select(col("g"), col("t").getField("score"), col("t").getField("id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getDouble(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> (0.9, 11L), 2L -> (-0.3, 20L), 3L -> (0.0, 30L),
      4L -> null))
  }

  test("shuffledTokenBudget: a same-salt shuffleOrder prefix whose mass covers the budget") {
    graft.core.Caches.unpersistAll()
    val docs = Tables.load(spark, sf001, "documents")
    val budget = 5000L
    val out = graft.ext.Sharding.shuffledTokenBudget(docs, budget, "s1").collect()
    val kept = out.map(_.getAs[Long]("doc_id")).toSet
    // greedy boundary rule: kept mass reaches the budget (crossing doc whole)
    val mass = out.map(r =>
      if (r.isNullAt(r.fieldIndex("n_tokens"))) 0L
      else r.getAs[Long]("n_tokens")).sum
    assert(mass >= budget && kept.nonEmpty)
    // the kept set IS the |kept|-prefix of the same-salt global shuffle order
    graft.core.Caches.unpersistAll()
    val order = graft.ext.Sharding.shuffleOrder(docs, "s1").collect()
      .sortBy(_.getAs[Long]("seq"))
    assert(order.take(kept.size).map(_.getAs[Long]("doc_id")).toSet == kept)
    graft.core.Caches.unpersistAll()
  }

  test("tokenBudgetByScore: highest-score-first greedy prefix, ties on id, nulls last") {
    graft.core.Caches.unpersistAll()
    // hand corpus: scores force the order 4, 2=3 (tie → id), 1, null(5);
    // token counts 4:3, 2:4, 3:4, 1:2, 5:null-text (consumes nothing)
    val docs = Seq(
      (1L, Some(10L), "a b"),           // 2 tokens, kept only at big budgets
      (2L, Some(50L), "a b c d"),       // tie with 3 → id order 2 then 3
      (3L, Some(50L), "a b c d"),
      (4L, Some(90L), "a b c"),         // highest score, first
      (5L, None: Option[Long], null.asInstanceOf[String])
    ).toDF("doc_id", "score0", "text")
    def kept(b: Long) = Sharding.tokenBudgetByScore(docs, b, "score0")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("tokens_before")).toMap
    // budget 4: doc 4 (before=0) and doc 2 (before=3, crosses — kept whole)
    assert(kept(4L) == Map(4L -> 0L, 2L -> 3L))
    // budget 8: + doc 3 (before=7, crosses)
    assert(kept(8L) == Map(4L -> 0L, 2L -> 3L, 3L -> 7L))
    // budget 14: everything incl. doc 1 (before=11) and the null-score
    // null-text doc (before=13, consumes nothing, ranked last)
    assert(kept(14L) == Map(4L -> 0L, 2L -> 3L, 3L -> 7L, 1L -> 11L, 5L -> 13L))
    // deterministic rerun
    assert(kept(8L) == kept(8L))
    intercept[IllegalArgumentException] {
      Sharding.tokenBudgetByScore(docs, 0L, "score0") }
    graft.core.Caches.unpersistAll()
  }

  test("chunkDocuments: window boundaries, overlap, full coverage, null drop") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b c"),                           // fits one chunk
      (3L, null.asInstanceOf[String])          // no chunks
    ).toDF("doc_id", "text")
    val out = Sharding.chunkDocuments(docs, chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_token"), r.getAs[Long]("n_chunk_tokens"),
        r.getAs[String]("chunk_text")))
      .sortBy(x => (x._1, x._2))
    // stride 3: starts 0, 3, 6 — last window still adds t10; no trailing
    // window fully inside its predecessor
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 3L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 6L, 4L, "t7 t8 t9 t10")))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 3L, "a b c")))
    assert(!out.exists(_._1 == 3L), "null-text docs have no chunks")
    // coverage: stripping each window's overlap prefix rebuilds the stream
    val rebuilt = out.filter(_._1 == 1L).map(_._5.split(" ").toSeq)
      .reduce((a, b) => a ++ b.drop(1)).mkString(" ")
    assert(rebuilt == "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
    intercept[IllegalArgumentException] {
      Sharding.chunkDocuments(docs, chunkTokens = 4, overlapTokens = 4) }
    intercept[IllegalArgumentException] {
      Sharding.chunkDocuments(docs, chunkTokens = 0) }
  }

  test("fimTransform: PSM splice rebuilds the text; cuts in range; deterministic") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""),                         // n=0: lo=hi=0, empty pieces
      (3L, null.asInstanceOf[String])   // total pass with nulls
    ).toDF("doc_id", "text")
    val out = Sharding.fimTransform(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 3, "total pass")
    val r1 = out(1L)
    val (n, lo, hi) = (r1.getAs[Long]("n_chars"), r1.getAs[Long]("lo"),
      r1.getAs[Long]("hi"))
    assert(0 <= lo && lo <= hi && hi <= n)
    // <PRE>p<SUF>s<MID>m --> p + m + s == original
    val fim = r1.getAs[String]("fim_text")
    val pre = fim.stripPrefix("<PRE>").takeWhile(_ != '<') // no '<' in fixture
    val suf = fim.substring(fim.indexOf("<SUF>") + 5, fim.indexOf("<MID>"))
    val mid = fim.substring(fim.indexOf("<MID>") + 5)
    assert(pre + mid + suf == "the quick brown fox jumps over the lazy dog")
    assert(pre.length == lo && mid.length == hi - lo)
    assert(out(2L).getAs[String]("fim_text") == "<PRE><SUF><MID>")
    assert(out(3L).isNullAt(out(3L).fieldIndex("fim_text")) &&
      out(3L).isNullAt(out(3L).fieldIndex("lo")))
    // pure function of (salt, id, text): rerun is bit-identical, a new
    // salt moves the cuts
    def runs(salt: String) = Sharding.fimTransform(docs, salt).collect()
      .map(_.toString).sorted.toSeq
    assert(runs("fim") == runs("fim"))
    assert(runs("fim2") != runs("fim"))
  }

  test("second-half ops: degenerate inputs (empty sides, all-null, bad params)") {
    graft.core.Caches.unpersistAll()
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    // empty delta / empty corpus → no spans either way
    assert(Dedup.repeatedSpansAgainst(empty, one, n = 8).count() == 0L)
    assert(Dedup.repeatedSpansAgainst(one, empty, n = 8).count() == 0L)
    // a corpus whose docs ALL land outside the train split → empty rewrite
    // (can't force buckets here, but an empty-input rewrite must be empty)
    assert(TextAnalysis.decontaminateSpans(empty, n = 8).count() == 0L)
    assert(TextAnalysis.decontaminateAgainst(one, empty, n = 8)
      .collect().map(_.getAs[Long]("n_removed")).toSeq == Seq(0L))
    // near-dup and exact dedup against an empty side: no pairs; an empty
    // corpus rejects nothing, an empty delta admits nothing
    assert(Dedup.nearDupJaccardAcross(empty, one, n = 4).count() == 0L)
    assert(Dedup.nearDupJaccardAcross(one, empty, n = 4).count() == 0L)
    assert(Dedup.exactDedupAgainst(empty, one).count() == 0L)
    assert(Dedup.exactDedupAgainst(one, empty).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_delta_copies")).toSeq
      == Seq(1L -> 1L))
    // gate with an empty blocklist: nothing flags, null text stays null
    val g = TextAnalysis.flagContaminated(
      Seq((1L, "x y z"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      KeySets.Members(Seq.empty[Long]), n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Any]("contaminated")).toMap
    assert(g(1L) == false && g(2L) == null)
    // samplers refuse nonsense instead of returning it
    intercept[IllegalArgumentException] {
      graft.ext.Sharding.ppsTokenSample(one, k = 0) }
    intercept[IllegalArgumentException] {
      val allNull = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
      graft.ext.Sharding.ppsTokenSample(allNull, k = 3) } // total = 0
    intercept[IllegalArgumentException] {
      graft.ext.Sharding.shuffledTokenBudget(one, budget = 0) }
    graft.core.Caches.unpersistAll()
  }

  test("fractionalDfCap: floor below the fraction point, |corpus|/10 above, memoized count") {
    val docs = Tables.load(spark, sf001, "documents")
    val n = docs.count()
    assert(Dedup.fractionalDfCap(docs) == math.max(500L, n / 10))  // floor dominates at this scale
    assert(Dedup.fractionalDfCap(docs, floorDf = 3) == math.max(3L, n / 10))
    assert(Dedup.fractionalDfCap(docs, floorDf = 3, permille = 200) == math.max(3L, n / 5))
    intercept[IllegalArgumentException](Dedup.fractionalDfCap(docs, permille = 0))
    // default-cap call == explicit-500 call at bench scale (bit-identical sets)
    val dflt = Dedup.nearDupJaccard(docs, 16, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expl = Dedup.nearDupJaccard(docs, 16, maxDf = 500, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt == expl)
    graft.core.Caches.unpersistAll()
  }

  test("annLshPairs paths: auto goes dense == exact dual; forced-banded auto == explicit (4,16)") {
    val e = Tables.load(spark, sf001, "embeddings")
    // auto under the dense bound: the exact broadcast dual — pair set ==
    // the all-pairs exact at the threshold (recall 1, precision 1)
    val auto = Similarity.annLshPairs(e, 0.4)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Decisions.latest.get("Similarity.annLshPairs").contains("dense"),
      s"expected dense, saw ${Decisions.latest.get("Similarity.annLshPairs")}")
    val exact = Similarity.exactCosinePairs(e, e)
      .filter(col("qid") < col("vid") && col("cosine") >= 0.4)
      .select(col("qid"), col("vid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact, "dense path must equal the exact dual's pair set")
    graft.core.Caches.unpersistAll()
    // past the dense bound (forced) the auto rule must produce the
    // historical banded plans — same pair set as the explicit (4,16) call
    // at <= 2^11 vectors
    val banded = Decisions.forcing("Similarity.annLshPairs" -> "banded") {
      Similarity.annLshPairs(e, 0.4)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(Decisions.latest.get("Similarity.annLshPairs").contains("banded"),
      s"expected banded, saw ${Decisions.latest.get("Similarity.annLshPairs")}")
    graft.core.Caches.unpersistAll()
    val fixed = Similarity.annLshPairs(e, 0.4, planesPerBand = 4, bands = 16)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == fixed)
    assert(Decisions.latest.get("Similarity.annLshPairs").contains("banded"),
      "explicit geometry must always band")
    intercept[IllegalArgumentException](
      Similarity.annLshPairs(e, 0.4, planesPerBand = 6))
    intercept[IllegalArgumentException](
      Similarity.annLshPairs(e, 0.4, bands = 32))
    graft.core.Caches.unpersistAll()
  }

  test("minhash LSH pairs == exact jaccard pairs at the 0.7 threshold (sf0.001)") {
    val docs = Tables.load(spark, sf001, "documents")
    val exact = Dedup.jaccardPairs(
        Dedup.capDocFreq(Dedup.charShingles(docs, 16), 500), 0.7)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 16, 500, 128, 4, 0.7)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("verify join: forced merge-join and dense fallback paths match the broadcast path") {
    // The size-adaptive verify join picks among three physical shapes
    // (broadcast fetched set / partitioned merge join on the fetched set /
    // dense direct hub join). Plan choice must never change the answer:
    // force each fallback and compare the full pair sets.
    val docs = Tables.load(spark, sf001, "documents")
    def familyPairs(): Set[(Long, Long, Double)] = {
      def pset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
          math.rint(r.getAs[Double]("jaccard") * 1e9) / 1e9)).toSet
      val self = pset(Dedup.nearDupJaccard(docs, 16, 500, 0.5))
      val lsh = pset(Dedup.minhashLshPairs(docs, 16, 500, 128, 4, 0.7))
      val across = pset(Dedup.nearDupJaccardAcross(
        docs.filter(col("doc_id") % 7 === 0), docs.filter(col("doc_id") % 7 =!= 0),
        16, 500, 0.5))
      graft.core.Caches.unpersistAll()
      self.map(p => (p._1, p._2, p._3)) ++
        lsh.map(p => (p._1 + (1L << 40), p._2, p._3)) ++
        across.map(p => (p._1 + (2L << 40), p._2, p._3))
    }
    val op = "Dedup.verifyJaccard"
    val baseline = familyPairs()
    assert(baseline.nonEmpty)
    // path-choice observability: the small-corpus default pre-clears
    assert(Decisions.latest.get(op).contains("precleared"),
      s"expected precleared, saw ${Decisions.latest.get(op)}")
    // fetched set never broadcasts → merge join
    Decisions.forcing(op -> "measured:bcastI=false,bcastJ=false") {
      assert(familyPairs() == baseline, "merge-join fallback diverged")
    }
    assert(Decisions.latest.get(op).contains("measured:bcastI=false,bcastJ=false"),
      s"expected measured/merge, saw ${Decisions.latest.get(op)}")
    // dense path: direct partitioned hub join
    Decisions.forcing(op -> "dense") {
      assert(familyPairs() == baseline, "dense fallback diverged")
    }
    assert(Decisions.latest.get(op).contains("dense"),
      s"expected dense, saw ${Decisions.latest.get(op)}")
  }

  test("wordShingles + jaccardPairs == nearDupJaccardTokens at sf0.001") {
    val docs = Tables.load(spark, sf001, "documents")
    val viaApi = Dedup.jaccardPairs(
        Dedup.capDocFreq(Dedup.wordShingles(docs, 4), 500), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCollapsed = Dedup.nearDupJaccardTokens(docs, 4, 500, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaApi == viaCollapsed)
    assert(viaCollapsed.nonEmpty)
  }

  test("flagNearDups == LSH candidacy against the corpus, and catches every exact near-dup") {
    // corpus of unique-token docs; incoming batch: an exact copy, a
    // one-token-changed near-dup (J = 9/11 over 3-grams), and a fresh doc
    def text(i: Long, last: String = "omega") =
      (1 to 11).map(t => s"w${i}_$t").mkString(" ") + " " + last
    val corpus = (1L to 20L).map(i => (i, text(i))).toDF("doc_id", "text")
    val incoming = Seq(
      (101L, text(1L)),            // exact copy of corpus doc 1
      (102L, text(2L, "CHANGED")), // near-dup of corpus doc 2
      (103L, text(900L)),          // fresh — no corpus partner
      (104L, null.asInstanceOf[String])) // null text → null flag
      .toDF("doc_id", "text")
    val bandKeys = KeySets.Members(Dedup.minhashBandKeys(corpus, n = 3)
      .collect().map(_.getLong(0)).toSeq)
    val out = Dedup.flagNearDups(incoming, bandKeys, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Boolean]("near_dup_candidate"))).toMap
    assert(out(101L).contains(true), "exact copy must always flag")
    assert(out(102L).contains(true), "planted near-dup not flagged")
    assert(out(103L).contains(false), "fresh doc falsely flagged")
    assert(out(104L).isEmpty, "null text must flag null")
    // corpus-equivalence 1 (recall vs the EXACT batch op): every incoming
    // doc with an exact J >= 0.7 partner in the corpus is flagged
    val union = corpus.unionByName(incoming.filter(col("text").isNotNull))
    val exactPartners = Dedup.nearDupJaccardTokens(union, n = 3,
        maxDf = Int.MaxValue, minJaccard = 0.7)
      .collect().flatMap(r => Seq(r.getAs[Long]("i"), r.getAs[Long]("j")))
      .filter(_ >= 100L).toSet
    assert(exactPartners.nonEmpty)
    assert(exactPartners.forall(id => out(id).contains(true)),
      s"exact near-dups not flagged: ${exactPartners.filterNot(id => out(id).contains(true))}")
    // corpus-equivalence 2 (exact banding semantics): flag <=> the batch
    // LSH pass would candidate the doc against some corpus doc
    val cand = Dedup.lshCandidates(
        Dedup.minhashSignature(Dedup.wordShingles(union, 3), 128), 4, 32)
      .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")))
      .filter { case (i, j) => (i >= 100L) != (j >= 100L) }
      .flatMap { case (i, j) => Seq(i, j) }.filter(_ >= 100L).toSet
    for (id <- Seq(101L, 102L, 103L))
      assert(out(id).contains(cand.contains(id)),
        s"doc $id: stream flag ${out(id)} != batch LSH candidacy ${cand.contains(id)}")
  }

  test("flagNearDupsAgainst (broadcast semi-join form) == flagNearDups on the same corpus") {
    def text(i: Long, last: String = "omega") =
      (1 to 11).map(t => s"w${i}_$t").mkString(" ") + " " + last
    val corpus = (1L to 20L).map(i => (i, text(i))).toDF("doc_id", "text")
    val incoming = Seq(
      (101L, text(1L)), (102L, text(2L, "CHANGED")), (103L, text(900L)),
      (104L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val keysDf = Dedup.minhashBandKeys(corpus, n = 3)
    def flags(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Boolean]("near_dup_candidate"))).toMap
    val viaLit = flags(Dedup.flagNearDups(incoming,
      KeySets.Members(keysDf.collect().map(_.getLong(0)).toSeq), n = 3))
    val viaJoin = flags(Dedup.flagNearDupsAgainst(incoming, keysDf, n = 3))
    assert(viaJoin == viaLit, s"join form diverged: $viaJoin vs $viaLit")
    // non-divisible banding config fails fast on BOTH halves of the gate
    intercept[IllegalArgumentException] {
      Dedup.minhashBandKeys(corpus, n = 3, numHashes = 128, rowsPerBand = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.flagNearDups(incoming, KeySets.Members(Seq(1L)), n = 3, numHashes = 128, rowsPerBand = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.flagNearDupsAgainst(incoming, keysDf, n = 3, numHashes = 128, rowsPerBand = 5)
    }
  }

  test("sortedLongContains: binary-search membership matches a reference set") {
    import graft.functions.ArraySets
    val keys = Seq(-9L, -1L, 0L, 7L, 7L, 42L, Long.MaxValue, Long.MinValue)
    val probes = Seq[java.lang.Long](-9L, -2L, 0L, 7L, 41L, 42L, 43L,
      Long.MaxValue, Long.MinValue, null)
    val df = probes.toDF("k")
    val out = df.select(col("k"),
        ArraySets.sortedLongContains(col("k"), keys).as("hit"))
      .collect().map(r => Option(r.getAs[java.lang.Long]("k")) ->
        Option(r.getAs[java.lang.Boolean]("hit"))).toMap
    val ref = keys.toSet
    for (p <- probes) {
      val exp = Option(p).map(v => ref.contains(v.longValue))
      assert(out(Option(p)).map(_.booleanValue) == exp, s"probe $p")
    }
    // empty set: everything misses, nothing crashes
    val empty = df.filter(col("k").isNotNull)
      .select(ArraySets.sortedLongContains(col("k"), Nil).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(empty.forall(_ == false))
  }

  test("simhash near-identical texts collide, distinct texts do not") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonite"),
      (3L, "completely different content about spark catalyst optimizer plans")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignature(df, 8).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("sig")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  // 7: sf0.001 holds pairs at hamming 6 and 7 that share none of four
  // 15-bit bands, so a fixed 4-band join misses them
  for (maxHamming <- Seq(3, 7)) test(s"simhash banded join finds all pairs with hamming <= $maxHamming (pigeonhole)") {
    val docs = Tables.load(spark, sf001, "documents")
    val sigs = Dedup.simhashSignature(docs, 16).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("sig"))
    val allPairs = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      if java.lang.Long.bitCount(si ^ sj) <= maxHamming
    } yield (i, j)).toSet
    try {
      for (path <- Seq("banded", "dense")) {
        val got = Decisions.forcing("Dedup.hammingPairs" -> path)(
          Dedup.simhashPairs(docs, 16, maxHamming)
            .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
        assert(Decisions.latest.get("Dedup.hammingPairs").contains(path))
        assert(got == allPairs, s"$path path")
      }
      // unpinned, SimHash keeps the band join (the dense dual never pays
      // for signatures, however small the corpus)
      Dedup.simhashPairs(docs, 16, maxHamming).count()
      assert(Decisions.latest.get("Dedup.hammingPairs").contains("banded"))
    } finally graft.core.Caches.unpersistAll()
  }

  test("hammingPairs: exact at 4 bits spread over four 16-bit bands; refuses maxHamming -1 and 64") {
    val hashes = Seq(0L -> 0L, 1L -> (1L | 1L << 16 | 1L << 32 | 1L << 48), 2L -> 0xFFL)
      .toDF("id", "h")
    for (path <- Seq("banded", "dense"))
      assert(Decisions.forcing("Dedup.hammingPairs" -> path)(
        Dedup.hammingPairs(hashes, 4, hashes, 0L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet) == Set((0L, 1L, 4)),
        s"$path path")
    val docs = Tables.load(spark, sf001, "documents")
    for (bad <- Seq(-1, 64))
      intercept[IllegalArgumentException](Dedup.simhashPairs(docs, 16, bad))
    graft.core.Caches.unpersistAll()
  }

  test("simhash overflow guard fires for docs past 2^20-1 grams (not pruned away)") {
    // 2^20+20 chars → ng > 1048575; the guard must raise, not corrupt
    val big = Seq((1L, "x" * 1048600)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.simhashSignature(big, 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("grams")), s"unexpected error: $e")
    // and a doc just under the bound still computes
    val ok = Seq((1L, "x" * 1000)).toDF("doc_id", "text")
    assert(Dedup.simhashSignature(ok, 16).collect().length == 1)
  }

  test("brute-force top-k is self-consistent and ANN recall is reasonable") {
    val e = Tables.load(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(q, e, 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 16 * 5)
    val ann = Similarity.annLshTopK(q, e, 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.25, s"ANN recall too low: $recall")
  }

  test("annLshPairs: precision 1 (bit-identical cosines) and high recall vs exact all-pairs") {
    val e = Tables.load(spark, sf001, "embeddings")
    val exact = Similarity.exactCosinePairs(e, e)
      .filter(col("qid") < col("vid") && col("cosine") >= 0.4)
      .select(col("qid").as("i"), col("vid").as("j"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "fixture must contain embedding near-dup pairs")
    // force the BANDED path: this test is the banding family's precision/
    // recall gate (the dense path is exact by construction and pinned in
    // the paths test above)
    val lsh = Decisions.forcing("Similarity.annLshPairs" -> "banded") {
      Similarity.annLshPairs(e, 0.4)
        .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("cosine")).toMap
    }
    // precision 1: every emitted pair is a true pair, with the dual's score
    lsh.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive pair $k")
      assert(exact(k) == c, s"score mismatch on $k: lsh=$c exact=${exact(k)}")
    }
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH pair recall too low: $recall (${lsh.size}/${exact.size})")
  }

  test("annLshPairs collapses exact-copy vectors without scoring them pairwise") {
    val base = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)),   // exact copies
      (3L, Array(0.9f, 0.1f, 0.0f)),                                   // near 1/2
      (4L, Array(0.0f, 0.0f, 1.0f)),                                   // orthogonal
      (5L, Array(0.0f, 0.0f, 0.0f)), (6L, Array(0.0f, 0.0f, 0.0f))    // zero copies
    ).toDF("vec_id", "embedding")
    val out = Similarity.annLshPairs(base, 0.4, dims = 3)
      .collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("cosine")).toMap
    // identical non-zero copies pair at the dual's self-cosine (±1 ulp of 1)
    assert(out.contains((1L, 2L)) && math.abs(out((1L, 2L)) - 1.0) < 1e-12)
    // near pair found through the bands (cos ≈ 0.994)
    assert(out.contains((1L, 3L)) && out.contains((2L, 3L)))
    // zero vectors score 0.0 in the dual → below threshold, never emitted
    assert(!out.keySet.exists(p => Set(5L, 6L).contains(p._1) || Set(5L, 6L).contains(p._2)))
    // orthogonal vector never pairs
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("IVF top-k recall vs brute force, and per-query k results") {
    val e = Tables.load(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(q, e, 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, e, 5, nCells = 8, nProbe = 4)
    val rows = ivf.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.toSet.size, "duplicate (qid,vid) pairs")
    val recall = (exact intersect rows.toSet).size.toDouble / exact.size
    assert(recall >= 0.25, s"IVF recall too low: $recall")
    // determinism: same plan twice -> identical result
    val again = Similarity.ivfTopK(q, e, 5, nCells = 8, nProbe = 4)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.sorted.sameElements(again.sorted))
  }

  test("contrastivePairs: deterministic negatives, no self-pairs, threshold gates positives") {
    val e = Tables.load(spark, sf001, "embeddings")
    val anchors = e.filter(col("vec_id") < 8)
    def run(minCos: Double) =
      Similarity.contrastivePairs(anchors, e, negPerAnchor = 3, posMinCosine = minCos)
        .collect().map(r => (r.getAs[Long]("anchor_id"), r.getAs[String]("role"),
          r.getAs[Long]("draw"), r.getAs[Long]("other_id")))
    val out = run(-1.0)
    // every anchor gets a positive at the permissive bar, and ≤3 negatives
    val byAnchor = out.groupBy(_._1)
    assert(byAnchor.size == 8)
    byAnchor.foreach { case (a, rows) =>
      assert(rows.count(_._2 == "pos") == 1, s"anchor $a positives")
      val negs = rows.filter(_._2 == "neg")
      assert(negs.length >= 2 && negs.length <= 3, s"anchor $a negatives")
      assert(rows.forall(_._4 != a), s"anchor $a self-pair")
    }
    // rerun is bit-identical (pure function of salt/corpus)
    assert(run(-1.0).sortBy(x => (x._1, x._2, x._3)).toSeq ==
      out.sortBy(x => (x._1, x._2, x._3)).toSeq)
    // an impossible bar keeps the negatives and drops every positive
    val strict = run(2.0)
    assert(strict.forall(_._2 == "neg") && strict.nonEmpty)
  }

  test("ivfServeTopK from a saved index == ivfTopK, and the probe prunes partitions") {
    val e = Tables.load(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    Similarity.ivfIndexSave(e, dir, nCells = 8)
    // the postings layout is one directory per cell
    val cellDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.forall(_.matches("cell=\\d+")))
    val served = Similarity.ivfServeTopK(q, spark, dir, k = 5, nProbe = 4)
    val direct = Similarity.ivfTopK(q, e, 5, nCells = 8, nProbe = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows(served) == rows(direct), "served top-k must equal the in-session IVF")
    // the serve plan reads the postings through a dynamic partition filter:
    // unprobed cells are pruned at the FILE level, not post-scan
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the postings scan:\n${plan.take(2000)}")
  }

  test("filtered ANN serving: predicate runs inside the pruned postings scan") {
    val e0 = Tables.load(spark, sf001, "embeddings")
    // a metadata column to filter on: stable parity of the id
    val e = e0.withColumn("shard_tag", pmod(col("vec_id"), lit(2L)))
    val q = e0.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-fivf").toString
    Similarity.ivfIndexSave(e, dir, nCells = 8, metaCols = Seq("shard_tag"))
    val pred = col("shard_tag") === 0L
    val served = Similarity.ivfServeTopK(q, spark, dir, k = 5, nProbe = 4,
      predicate = Some(pred))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // contract: equal to the UNFILTERED serve of the same index at
    // exhaustive k, post-filtered to predicate-true neighbors and
    // re-ranked per query — i.e. "top-k among the predicate-true rows
    // of the probed cells"
    val reference = {
      import org.apache.spark.sql.expressions.Window
      val all = Similarity.ivfServeTopK(q, spark, dir, k = Int.MaxValue,
        nProbe = 4)
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
      all.filter(pmod(col("vid"), lit(2L)) === 0L)
        .select(col("qid"), col("vid"), col("cosine"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
    }
    assert(rows(served) == rows(reference))
    // every returned neighbor satisfies the predicate (even ids)
    assert(rows(served).nonEmpty && rows(served).forall(_._2 % 2 == 0))
    // the predicate is PUSHED to the postings parquet scan (and the cell
    // DPP still fires) — no rescan-then-filter
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), "cell DPP must still fire")
    assert(plan.contains("EqualTo(shard_tag,0)") &&
      plan.contains("PushedFilters: [IsNotNull(shard_tag), EqualTo(shard_tag,0)"),
      s"predicate must reach the postings scan:\n${plan.take(3000)}")
    // PQ face: same predicate, same containment contract
    val pqDir = java.nio.file.Files.createTempDirectory("graft-fpq").toString
    Similarity.pqIndexSave(e, pqDir, m = 8, ksub = 16, nCells = 8,
      metaCols = Seq("shard_tag"))
    val pqServed = Similarity.pqServeTopK(q, spark, pqDir, k = 5, nProbe = 4,
      refine = 64, predicate = Some(pred))
    val pqRows = rows(pqServed)
    assert(pqRows.nonEmpty && pqRows.forall(_._2 % 2 == 0))
    val pqPlan = pqServed.queryExecution.executedPlan.toString
    assert(pqPlan.contains("EqualTo(shard_tag,0)"),
      "predicate must reach the PQ postings scans")
  }

  test("pqServeTopK from a saved index == pqTopK, and both postings reads prune") {
    val e = Tables.load(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") < 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    Similarity.pqIndexSave(e, dir, m = 8, ksub = 16, nCells = 8)
    // the model dump carries both families: 8 IVF rows + 8·16 codebook rows
    val model = spark.read.parquet(s"$dir/model")
    assert(model.filter(col("s") === -1).count() == 8)
    assert(model.filter(col("s") >= 0).count() == 8 * 16)
    // postings layout: one directory per cell, codes + raw vectors inside
    val cellDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.forall(_.matches("cell=\\d+")))
    val served = Similarity.pqServeTopK(q, spark, dir, k = 5, nProbe = 4,
      refine = 64)
    val direct = Similarity.pqTopK(q, e, 5, m = 8, ksub = 16, nCells = 8,
      nProbe = 4, refine = 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(rows(served) == rows(direct),
      "served IVF-PQ top-k must equal the in-session pqTopK")
    // the serve plan prunes the partitioned postings dynamically — the
    // ADC scan via the probe broadcast, the refine scan via the
    // shortlist broadcast (two dynamicpruning sites)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the postings scans:\n${plan.take(2000)}")
  }

  test("saved ANN index dumps are refused unless cell ids and codebooks are complete") {
    import org.apache.spark.graftbridge.Jobs
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val e = Tables.load(spark, sf001, "embeddings")
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-ivfbad").toString
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pqbad").toString
    Similarity.ivfIndexSave(e, ivfDir, nCells = 8)
    Similarity.pqIndexSave(e, pqDir, m = 8, ksub = 16, nCells = 8)
    // a copy of index `src` whose small `dump` keeps only edit(rows)
    def variant(src: String, dump: String)(edit: Seq[Row] => Seq[Row]): String = {
      val dst = java.nio.file.Files.createTempDirectory("graft-idxvar")
      val from = java.nio.file.Paths.get(src, "postings")
      scala.util.Using.resource(java.nio.file.Files.walk(from))(_.iterator().asScala.toList)
        .foreach(f => java.nio.file.Files.copy(f, dst.resolve("postings").resolve(from.relativize(f))))
      val df = spark.read.parquet(s"$src/$dump")
      spark.createDataFrame(edit(df.collect().toSeq).asJava, df.schema)
        .repartition(1).write.parquet(s"$dst/$dump")
      dst.toString
    }
    // the complete dumps load, and their small dump reads in its one
    // collect (no schema-inference job; the postings read keeps its own)
    val (cents, _) = Similarity.ivfIndexLoad(spark, ivfDir)
    val (pqCents, cb, _) = Similarity.pqIndexLoad(spark, pqDir)
    assert(cents.length == 8 && pqCents.length == 8 && cb.length == 8 && cb.forall(_.length == 16))
    val postingsJobs = Jobs.count(spark)(spark.read.parquet(s"$ivfDir/postings"))
    assert(Jobs.count(spark)(Similarity.ivfIndexLoad(spark, ivfDir)) == postingsJobs + 1)
    assert(Jobs.count(spark)(Similarity.pqIndexLoad(spark, pqDir)) == postingsJobs + 1)
    def refused(dir: String, load: String => Any): Unit = {
      val err = intercept[IllegalArgumentException](load(dir))
      info(err.getMessage)
    }
    // a missing centroid row would shift every later cell id
    refused(variant(ivfDir, "centroids")(_.filter(_.getInt(0) != 3)),
      Similarity.ivfIndexLoad(spark, _))
    refused(variant(ivfDir, "centroids")(rs => rs ++ rs.filter(_.getInt(0) == 3)),
      Similarity.ivfIndexLoad(spark, _))
    def pqVariant(edit: Seq[Row] => Seq[Row]) =
      refused(variant(pqDir, "model")(edit), Similarity.pqIndexLoad(spark, _))
    pqVariant(_.filter(_.getInt(0) != 0)) // no subspace 0
    pqVariant(_.filter(_.getInt(0) != 7)) // 7 subspaces cannot cover a 64-dim centroid
    pqVariant(_.filter(r => !(r.getInt(0) == 2 && r.getInt(1) == 5))) // one codeword gone
    pqVariant(_.filter(r => !(r.getInt(0) == -1 && r.getInt(1) == 2))) // one IVF cell gone
    pqVariant(_.map(r => if (r.getInt(0) == 1 && r.getInt(1) == 0)
      Row(1, 0, r.getSeq[Double](2).take(3)) else r)) // one short codeword
    pqVariant(_.filter(r => r.getInt(0) != 4 || r.getInt(1) < 8)) // one short codebook
  }

  test("all six graft SQL functions resolve and compute via spark.sql") {
    graft.functions.GraftExtensions.functions
      .foreach(org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, _))
    val row = spark.sql(
      """SELECT
        |  graft_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS dl,
        |  graft_dot_double(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dd,
        |  graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
        |  graft_sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS ic,
        |  graft_deflate_len(repeat('ab', 100)) AS dfl,
        |  graft_hash60('abc') AS h60,
        |  conv(substring(md5('abc'), 1, 15), 16, 10) AS h60_ref
        |""".stripMargin).collect().head
    assert(row.getLong(0) == 32L)
    assert(row.getDouble(1) == 11.0)
    assert(row.getDouble(2) == 1.0)
    assert(row.getLong(3) == 2L)
    // 200 bytes of 'ababab…' deflate far below their raw length
    assert(row.getLong(4) > 0L && row.getLong(4) < 40L)
    assert(row.getLong(5) == row.getString(6).toLong)
  }

  test("ArrayMath null elements: numeric folds null out, sorted intersect skips") {
    import graft.functions.ArrayMath
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](1.0, 2.0, 3.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        ArrayMath.dotDouble(col("a"), col("b")).as("dot"),
        ArrayMath.cosine(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out(1L) == (true, true), "null element must null the fold (HOF semantics)")
    assert(out(2L) == (false, false))
    val si = Seq((Seq[java.lang.Long](null, 1L, 2L, 3L), Seq[java.lang.Long](null, 2L, 4L)))
      .toDF("a", "b")
      .select(ArrayMath.sortedIntersectCount(col("a"), col("b")))
      .collect().head.getLong(0)
    assert(si == 1L, "null slots never match; non-null merge order preserved")
  }

  test("saltedJoin returns exactly the plain-join result") {
    val events = Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = events.select(col("event_type")).distinct()
      .withColumn("type_tag", concat(lit("t:"), col("event_type")))
    val plain = events.join(dim, Seq("event_type"))
      .select("event_id", "type_tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val salted = graft.operators.Skew.saltedJoin(events, dim, Seq("event_type"), 7)
      .select("event_id", "type_tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.sameElements(plain))
  }

  test("perceptron: hand-computed batch trajectory, separable data classified") {
    // 1 feature, separable at x = 0: y = +1 for x in {2, 3}, -1 for {-2, -3}
    val df = Seq((1L, 1L, 2L), (2L, 1L, 3L), (3L, -1L, -2L), (4L, -1L, -3L))
      .toDF("doc_id", "y", "x1")
    // iter 1 from w=0,b=0: margin 0 -> ALL misclassified ->
    //   w = 2+3+2+3 = 10, b = 1+1-1-1 = 0
    // iter 2: margins 20,30,-(-20),... all y*margin > 0 -> no update
    val m1 = Learn.perceptronTrain(df, "y", Seq("x1"), iters = 1)
    assert(m1.weights.toSeq == Seq(10L) && m1.bias == 0L)
    graft.core.Caches.unpersistAll() // drop the memoized 1-iter model
    val m3 = Learn.perceptronTrain(df, "y", Seq("x1"), iters = 3)
    assert(m3.weights.toSeq == Seq(10L) && m3.bias == 0L,
      "converged model must be stable under more passes")
    val scored = Learn.perceptronScore(df, m3, Seq("x1")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("margin"), r.getAs[Long]("pred"))).toMap
    assert(scored(1L) == (20L, 1L) && scored(4L) == (-30L, -1L))
    // null features/labels drop from training, never poison the sums
    val withNulls = df.unionByName(Seq((5L, 1L, Option.empty[Long]))
      .toDF("doc_id", "y", "x1"))
    graft.core.Caches.unpersistAll()
    val mN = Learn.perceptronTrain(withNulls, "y", Seq("x1"), iters = 1)
    assert(mN.weights.toSeq == Seq(10L) && mN.bias == 0L)
  }

  test("semanticContamination: exact copies and near-paraphrases flag, orthogonal don't") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),    // exact copy of bench 100
      (2L, Array(0.9f, 0.1f)),    // near bench 100 (cos ≈ 0.994)
      (3L, Array(0.0f, 1.0f)),    // orthogonal to 100, matches bench 101
      (4L, Array(-1.0f, 0.0f)),   // anti-parallel — below any positive threshold
      (5L, Array(0.0f, 0.0f))     // zero norm -> cos 0.0, never flags
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(1.0f, 0.0f)), (101L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(corpus, bench, minCosine = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_close"), r.getAs[Double]("max_cos"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"unexpected flags: $out")
    assert(out(1L)._1 == 1L && out(1L)._2 == 1.0)
    assert(out(3L)._1 == 1L && out(3L)._2 == 1.0)
    assert(out(2L)._2 > 0.9 && out(2L)._2 < 1.0)
  }

  test("flagSemanticContaminated == semanticContamination threshold decisions; null passes") {
    val e = Tables.load(spark, sf001, "embeddings")
    val bench = e.filter(col("vec_id") % 97 === 0)
    val minCos = 0.4
    // batch-dual flags: the ids semanticContamination emits at the bar
    val expect = Similarity.semanticContamination(e, bench, minCos)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Similarity.flagSemanticContaminated(e,
        Similarity.collectBenchFp(bench), minCos)
      .filter(col("semantic_contaminated"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == expect,
      s"gate/batch divergence: only-gate=${(got -- expect).take(5)} " +
        s"only-batch=${(expect -- got).take(5)}")
    // null vector → null flag (total pass through a drop-gate)
    val withNull = Seq((1L, Array(1.0f, 0.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val flags = Similarity.flagSemanticContaminated(withNull,
        Similarity.collectBenchFp(Seq((9L, Array(1.0f, 0.0f)))
          .toDF("vec_id", "embedding")), 0.9)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(flags(1L).getAs[Boolean]("semantic_contaminated"))
    assert(flags(2L).isNullAt(flags(2L).fieldIndex("semantic_contaminated")))
    // empty bench flags nothing
    val none = Similarity.flagSemanticContaminated(withNull, Seq.empty, 0.9)
      .filter(coalesce(col("semantic_contaminated"), lit(false))).count()
    assert(none == 0L)
    graft.core.Caches.unpersistAll()
  }

  test("zero-norm embedding scores cosine 0.0, never NaN, never rank 1") {
    val base = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f))  // zero vector
    ).toDF("vec_id", "embedding")
    val q = base.filter(col("vec_id") === 0L)
    val top = Similarity.bruteForceTopK(q, base, 2).collect()
      .map(r => r.getAs[Long]("vid") -> r.getAs[Double]("cosine")).toMap
    assert(!top.values.exists(_.isNaN))
    assert(top(2L) == 0.0)
    val rk1 = Similarity.bruteForceTopK(q, base, 1).collect().head.getAs[Long]("vid")
    assert(rk1 == 1L) // the real neighbor, not the zero vector
  }

  test("null-text docs never form near-dup pairs (all three families)") {
    val df = Seq[(Long, String)](
      (1L, null), (2L, null), (3L, "shared prefix text here"), (4L, "shared prefix text here")
    ).toDF("doc_id", "text")
    def pairs(out: Array[org.apache.spark.sql.Row]) =
      out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val j = pairs(Dedup.nearDupJaccard(df, 3, Int.MaxValue, 0.5).collect())
    val m = pairs(Dedup.minhashLshPairs(df, 3, Int.MaxValue, 16, 4, 0.5).collect())
    val sh = pairs(Dedup.simhashPairs(df, 3).collect())
    assert(j == Set((3L, 4L)), s"jaccard: $j")
    assert(m == Set((3L, 4L)), s"minhash: $m")
    assert(sh == Set((3L, 4L)), s"simhash: $sh")
  }

  test("saltedJoin rejects right/full outer join types") {
    val df = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(df, df, Seq("k"), 4, "right_outer")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(df, df, Seq("k"), 4, "full")
    }
  }

  test("sketch aggregates land within tolerance of exact") {
    val ev = Tables.load(spark, sf01, "events")
    val approx = graft.queries.Events.q47_sketches(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("approx_users")).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("u")).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e < 0.1,
        s"$k: approx=${approx(k)} exact=$e")
    }
  }

  test("bucketed co-located join plans with zero exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val ev = Tables.load(spark, sf001, "events")
      graft.core.Bucketing.writeBucketed(
        ev.select(col("user_id"), col("event_id"), col("value")),
        "ev_b", s"$dir/ev", 4, Seq("user_id"), Seq("user_id"))
      graft.core.Bucketing.writeBucketed(
        ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events")),
        "usr_b", s"$dir/usr", 4, Seq("user_id"))
      val joined = graft.core.Bucketing.bucketedJoin(spark, "ev_b", "usr_b", Seq("user_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join:\n$plan")
      assert(joined.count() == ev.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ev_b")
      spark.sql("DROP TABLE IF EXISTS usr_b")
    }
  }

  test("asof backward join picks latest prior-or-equal right row") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2")).toDF("k", "ts", "pid")
    val right = Seq((1L, 5L, "c1"), (1L, 10L, "c2"), (1L, 15L, "c3"), (1L, 99L, "c9"))
      .toDF("k", "ts", "cid")
    val out = AsofJoin.asofBackward(left, right, Seq("k"), "ts",
        Map("cid" -> "last_cid"))
      .orderBy("ts").collect()
    assert(out.map(_.getAs[String]("last_cid")).toSeq == Seq("c2", "c3"))
  }

  test("multimodal decode stub: dimensions and mean byte are deterministic") {
    val docs = Tables.load(spark, sf001, "documents").limit(10)
    val media = Multimodal.fromDocuments(docs)
    val decoded = Multimodal.decodeStub(media).collect()
    assert(decoded.length == 10)
    decoded.foreach { d =>
      assert(d.n_bytes > 0 && d.width >= 1 && d.mean_byte > 0.0)
      assert(math.abs(d.width * d.height - d.n_bytes) <= d.width.toLong * 2)
    }
  }

  test("multimodal frame sampling covers the payload") {
    val docs = Tables.load(spark, sf001, "documents").limit(5)
    val media = Multimodal.fromDocuments(docs)
    val frames = Multimodal.frameSample(media, 64, 64)
    val counts = frames.groupBy("media_id").count().collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("count")).toMap
    val lens = media.select(col("media_id"), length(col("payload")).as("n")).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Int]("n")).toMap
    lens.foreach { case (id, n) =>
      assert(counts(id) == math.max((n - 64) / 64, 0) + 1)
    }
  }

  test("metaOnly plan prunes the payload column at the scan") {
    val docs = Tables.load(spark, sf001, "documents")
    val plan = Multimodal.metaOnly(Multimodal.fromDocuments(docs))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("payload"))
  }

  // --- perceptual hashes -----------------------------------------------

  /** PGM P5 with pixel(x,y) = f(x,y). */
  private def pgm(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] =
    s"P5 $w $h 255\n".getBytes("US-ASCII") ++
      (for (y <- 0 until h; x <- 0 until w) yield f(x, y).toByte).toArray

  /** Uncompressed 24bpp BMP (bottom-up unless topDown). */
  private def bmp(w: Int, h: Int, topDown: Boolean = false)(
      f: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val dataLen = rowBytes * h
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val hdr = "BM".getBytes("US-ASCII") ++ le32(54 + dataLen) ++ le32(0) ++
      le32(54) ++ le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
      Array[Byte](1, 0, 24, 0) ++ le32(0) ++ le32(dataLen) ++
      le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0)
    val px = new Array[Byte](dataLen)
    for (y <- 0 until h; x <- 0 until w) {
      val row = if (topDown) y else h - 1 - y
      val g = f(x, y).toByte
      val p = row * rowBytes + x * 3
      px(p) = g; px(p + 1) = g; px(p + 2) = g // B=G=R → gray == g
    }
    hdr ++ px
  }

  private def ppm(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] =
    s"P6 $w $h 255\n".getBytes("US-ASCII") ++
      (for (y <- 0 until h; x <- 0 until w; _ <- 0 until 3)
        yield f(x, y).toByte).toArray

  /** Uncompressed 32bpp BMP (BGRA; the alpha byte VARIES per pixel to
    * prove the decoder ignores it). */
  private def bmp32(w: Int, h: Int, topDown: Boolean = false)(
      f: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = w * 4
    val dataLen = rowBytes * h
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val hdr = "BM".getBytes("US-ASCII") ++ le32(54 + dataLen) ++ le32(0) ++
      le32(54) ++ le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
      Array[Byte](1, 0, 32, 0) ++ le32(0) ++ le32(dataLen) ++
      le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0)
    val px = new Array[Byte](dataLen)
    for (y <- 0 until h; x <- 0 until w) {
      val row = if (topDown) y else h - 1 - y
      val g = f(x, y).toByte
      val p = row * rowBytes + x * 4
      px(p) = g; px(p + 1) = g; px(p + 2) = g
      px(p + 3) = ((x * 31 + y * 17) % 256).toByte
    }
    hdr ++ px
  }

  test("imageDHash: exact bit contract on hand-derivable images, format parity, null off-format") {
    import spark.implicits._
    def hash(payload: Array[Byte]): Option[Long] = {
      val r = Seq(Tuple1(payload)).toDF("payload")
        .select(graft.functions.PerceptualHashFns.imageDHash(col("payload")))
        .head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // strictly increasing in x → every left<right comparison true → all 64 bits
    assert(hash(pgm(9, 8)((x, _) => x * 10)) == Some(-1L))
    // constant image → no bit set
    assert(hash(pgm(9, 8)((_, _) => 77)) == Some(0L))
    // BMP parses to the SAME gray grid → same hash (bottom-up AND top-down)
    assert(hash(bmp(9, 8)((x, _) => x * 10)) == Some(-1L))
    assert(hash(bmp(9, 8, topDown = true)((x, _) => x * 10)) == Some(-1L))
    // brightness shift never flips a strict comparison
    val base = pgm(18, 16)((x, y) => (x * 7 + y * 3) % 200)
    val bright = pgm(18, 16)((x, y) => (x * 7 + y * 3) % 200 + 50)
    assert(hash(base).get == hash(bright).get)
    // PPM P6 with R=G=B=g grays to exactly g ((299+587+114)g/1000) →
    // byte-identical grid and hash as the P5 of the same pixels
    assert(hash(ppm(9, 8)((x, _) => x * 10)) == Some(-1L))
    assert(hash(ppm(18, 16)((x, y) => (x * 7 + y * 3) % 200)) == hash(base))
    // 32bpp BMP (BGRA; varying alpha ignored), bottom-up and top-down
    assert(hash(bmp32(9, 8)((x, _) => x * 10)) == Some(-1L))
    assert(hash(bmp32(18, 16)((x, y) => (x * 7 + y * 3) % 200)) == hash(base))
    assert(hash(bmp32(18, 16, topDown = true)(
      (x, y) => (x * 7 + y * 3) % 200)) == hash(base))
    // compressed formats have no codec here → null, never garbage
    assert(hash(Multimodal.SampleHeaders.png).isEmpty)
    assert(hash(Multimodal.SampleHeaders.jpeg).isEmpty)
    assert(hash("P2 2 2 255\n0 1 2 3".getBytes("US-ASCII")).isEmpty) // ascii PGM
    assert(hash("P3 2 2 255\n0 1 2 3".getBytes("US-ASCII")).isEmpty) // ascii PPM
    // truncated P6 pixel data (sized as if 1 byte/px) → null
    assert(hash(s"P6 9 8 255\n".getBytes("US-ASCII") ++
      Array.fill(72)(5.toByte)).isEmpty)
  }

  test("wavEnergyFp: monotone/constant energy contracts, null for non-PCM16") {
    import spark.implicits._
    def wav(samples: Array[Short]): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val data = samples.flatMap(s =>
        Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }
    def fp(payload: Array[Byte]): Option[Long] = {
      val r = Seq(Tuple1(payload)).toDF("payload")
        .select(graft.functions.PerceptualHashFns.wavEnergyFp(col("payload")))
        .head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // 130 samples = 2 per window; |amplitude| strictly rising → all bits
    assert(fp(wav(Array.tabulate(130)(i => (i + 1).toShort))) == Some(-1L))
    // constant amplitude, windows of equal size → no window beats the last
    assert(fp(wav(Array.fill(130)(100.toShort))) == Some(0L))
    // sign flips don't matter: energy is |s|
    assert(fp(wav(Array.tabulate(130)(i =>
      (if (i % 2 == 0) i + 1 else -(i + 1)).toShort))) == Some(-1L))
    // under 65 samples → null; non-WAV → null
    assert(fp(wav(Array.fill(64)(1.toShort))).isEmpty)
    assert(fp(pgm(9, 8)((x, _) => x)).isEmpty)
  }

  test("perceptualDupPairs: exact recall within the bound via pigeonhole banding") {
    import spark.implicits._
    val a = pgm(18, 16)((x, y) => (x * 11 + y * 5) % 230)
    val aCopy = a.clone()
    // flip ONE sampled pixel hard: changes at most 2 adjacent comparisons
    val aEdit = a.clone(); aEdit(s"P5 18 16 255\n".length) = 255.toByte
    val far = pgm(18, 16)((x, y) => ((17 - x) * 13 + (15 - y) * 7) % 230)
    val png = Multimodal.SampleHeaders.png
    val media = Seq((1L, a), (2L, aCopy), (3L, aEdit), (4L, far), (5L, png))
      .toDF("media_id", "payload")
    def run(): Set[(Long, Long, Int)] =
      Multimodal.perceptualDupPairs(media, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pairs = run()
    assert(pairs.contains((1L, 2L, 0)), s"exact copy must pair at hamming 0: $pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 2),
      s"one-pixel edit must pair within 2 bits: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated image must not pair: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      "undecodable payload has no content hash, never pairs")
    // the banded scale path (forced past the dense bound) finds the
    // IDENTICAL pair set — pigeonhole recall is exact, not probabilistic
    try Decisions.forcing("Dedup.hammingPairs" -> "banded")(assert(run() == pairs))
    finally {
      graft.core.Caches.unpersistAll()
    }
  }

  test("audioDupPairs: identical and gain-scaled clips pair; unrelated clips don't") {
    import spark.implicits._
    def wav(samples: Array[Short]): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val data = samples.flatMap(s => Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }
    // a clip with varied energy structure, its exact copy, a 2x-gain
    // re-master (same differential structure → hamming 0), and an
    // unrelated clip with inverted structure
    val clip = Array.tabulate(260)(i => ((i * 37) % 400 - 200).toShort)
    val gain = clip.map(s => (s * 2).toShort)
    val other = Array.tabulate(260)(i => (((259 - i) * 53) % 300 - 150).toShort)
    val media = Seq((1L, wav(clip)), (2L, wav(clip.clone())),
      (3L, wav(gain)), (4L, wav(other)),
      (5L, graft.ext.Multimodal.SampleHeaders.png))
      .toDF("media_id", "payload")
    val pairs = Multimodal.audioDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)) && pairs.contains((1L, 3L, 0)) &&
      pairs.contains((2L, 3L, 0)), s"copies and gain re-master must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated paired: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    graft.core.Caches.unpersistAll()
  }

  test("perceptual dup gate: saved dHash blocklist flags copies, passes fresh and undecodable") {
    import spark.implicits._
    val a = pgm(18, 16)((x, y) => (x * 11 + y * 5) % 230)
    val far = pgm(18, 16)((x, y) => ((17 - x) * 13 + (15 - y) * 7) % 230)
    val dir = java.nio.file.Files.createTempDirectory("graft-dhidx").toString
    Multimodal.dHashIndexSave(Seq(Tuple1(a)).toDF("payload"), dir)
    val (hashes, _) = graft.core.KeySets.loadCollected(spark, dir,
      Multimodal.DHashKind)
    assert(hashes.keys.size == 1)
    val flagged = Multimodal.flagPerceptualDup(
      Seq((1L, a.clone()), (2L, far), (3L, Multimodal.SampleHeaders.png))
        .toDF("media_id", "payload"), hashes)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getBoolean(2))).toMap
    assert(flagged == Map(1L -> true, 2L -> false, 3L -> null))
  }

  test("audio dup gate: saved wavFp blocklist flags copies and gain re-masters, passes fresh/undecodable") {
    import spark.implicits._
    def wav(samples: Array[Short]): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val data = samples.flatMap(s => Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }
    val clip = Array.tabulate(260)(i => ((i * 37) % 400 - 200).toShort)
    val gain = clip.map(s => (s * 2).toShort)   // same energy structure
    val other = Array.tabulate(260)(i => (((259 - i) * 53) % 300 - 150).toShort)
    val dir = java.nio.file.Files.createTempDirectory("graft-wavidx").toString
    Multimodal.wavFpIndexSave(Seq(Tuple1(wav(clip))).toDF("payload"), dir)
    val (hashes, _) = graft.core.KeySets.loadCollected(spark, dir,
      Multimodal.WavFpKind)
    assert(hashes.keys.size == 1)
    // copy AND gain re-master flag (identical fingerprint); fresh clip
    // passes; undecodable (png header) gets a null flag (total pass)
    val flagged = Multimodal.flagAudioDup(
      Seq((1L, wav(clip.clone())), (2L, wav(gain)), (3L, wav(other)),
        (4L, Multimodal.SampleHeaders.png))
        .toDF("media_id", "payload"), hashes)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getBoolean(2))).toMap
    assert(flagged == Map(1L -> true, 2L -> true, 3L -> false, 4L -> null))
    // a foreign (image dHash) dump must not serve the audio gate
    val img = java.nio.file.Files.createTempDirectory("graft-wavidx-img").toString
    Multimodal.dHashIndexSave(
      Seq(Tuple1(pgm(18, 16)((x, y) => (x * 11 + y * 5) % 230))).toDF("payload"), img)
    intercept[IllegalArgumentException] {
      graft.core.KeySets.loadCollected(spark, img, Multimodal.WavFpKind)
    }
    ()
  }

  test("perceptual bloom faces: superset of the literal gates, null/empty/foreign conventions") {
    import spark.implicits._
    def wav(samples: Array[Short]): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val data = samples.flatMap(s => Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-pbloom").toString
    // IMAGE face: a 300-image corpus → bloom; every indexed image flags
    val corpus = (0 until 300).map(s => Tuple1(pgm(18, 16)(
      (x, y) => (x * (s + 3) + y * 5) % 230))).toDF("payload")
    Multimodal.dHashBloomIndexSave(corpus, s"$dir/img", fpp = 0.01)
    val (imgBlob, _) = KeySets.loadBloom(spark, s"$dir/img",
      Multimodal.DHashBloomKind)
    assert(imgBlob.blob.isDefined)
    val onCorpus = Multimodal.flagPerceptualDup(corpus, imgBlob)
    assert(onCorpus.filter(!col("perceptual_dup")).count() == 0,
      "bloom face may never miss an indexed image")
    // superset of the literal gate + undecodable → null
    val (lits, _) = {
      Multimodal.dHashIndexSave(corpus, s"$dir/img_lit")
      graft.core.KeySets.loadCollected(spark, s"$dir/img_lit", Multimodal.DHashKind)
    }
    val probe = Seq((1L, pgm(18, 16)((x, y) => (x * 3 + y * 5) % 230)),
      (2L, pgm(18, 16)((x, y) => ((17 - x) * 13 + (15 - y) * 7) % 229)),
      (3L, Multimodal.SampleHeaders.png)).toDF("media_id", "payload")
    val both = Multimodal.flagPerceptualDup(probe, lits)
      .withColumnRenamed("perceptual_dup", "e")
      .join(Multimodal.flagPerceptualDup(probe, imgBlob)
        .select(col("media_id"), col("perceptual_dup").as("b")), Seq("media_id"))
    assert(both.filter(col("e") && !col("b")).count() == 0)
    assert(both.filter(col("media_id") === 3L).head().isNullAt(2)) // null flag
    // AUDIO face: indexed clip + gain re-master flag; fresh doesn't (whp)
    val clip = Array.tabulate(260)(i => ((i * 37) % 400 - 200).toShort)
    Multimodal.wavFpBloomIndexSave(Seq(Tuple1(wav(clip))).toDF("payload"),
      s"$dir/aud", fpp = 0.001)
    val (audBlob, _) = KeySets.loadBloom(spark, s"$dir/aud",
      Multimodal.WavFpBloomKind)
    val audFlags = Multimodal.flagAudioDup(
      Seq((1L, wav(clip.map(s => (s * 2).toShort))),
        (2L, wav(Array.tabulate(260)(i => (((259 - i) * 53) % 300 - 150).toShort))),
        (3L, Multimodal.SampleHeaders.png)).toDF("media_id", "payload"), audBlob)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getBoolean(2))).toMap
    assert(audFlags == Map(1L -> true, 2L -> false, 3L -> null))
    // empty corpus → None → flags nothing; foreign kinds refuse to load
    Multimodal.dHashBloomIndexSave(corpus.filter(lit(false)), s"$dir/empty")
    val (none, _) = KeySets.loadBloom(spark, s"$dir/empty",
      Multimodal.DHashBloomKind)
    assert(none.blob.isEmpty)
    assert(Multimodal.flagPerceptualDup(probe, none)
      .filter(col("perceptual_dup")).count() == 0)
    intercept[IllegalArgumentException] {
      KeySets.loadBloom(spark, s"$dir/img", Multimodal.WavFpBloomKind)
    }
    intercept[IllegalArgumentException] {
      KeySets.loadBloom(spark, s"$dir/img", Multimodal.DHashKind)
    }
    ()
  }

  test("winnowing: docs sharing a long run share a fingerprint; disjoint docs mostly don't") {
    val shared = "the entirety of this shared passage is long enough to winnow"
    val df = Seq(
      (1L, "prefix one " + shared),
      (2L, shared + " suffix two"),
      (3L, "zzz completely unrelated content qqq with nothing in common at all")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(df, 8, 8).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("containmentPairs catches a small doc quoted inside a big one (Jaccard misses it)") {
    val quote = "this exact passage is being quoted verbatim inside a much larger host document"
    val host = ("lots of unrelated framing text around the quotation begins here and rambles on " * 4) +
      quote + (" and then the host document keeps going with even more unrelated material after" * 4)
    val df = Seq(
      (1L, quote), (2L, host),
      (3L, "completely unrelated third document about catalyst plans and shuffles")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.containmentPairs(df, k = 8, w = 8).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Double]("containment"))).toMap
    assert(pairs.contains((1L, 2L)), s"containment pair missing: ${pairs.keySet}")
    assert(pairs((1L, 2L))._2 >= 0.9, s"quote should be ~fully contained: ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the same pair is invisible to whole-set Jaccard at the usual threshold
    val jac = Dedup.nearDupJaccard(df, 16, Int.MaxValue, 0.5).collect()
    assert(!jac.exists(r => r.getAs[Long]("i") == 1L && r.getAs[Long]("j") == 2L))
  }

  test("clusterPairs merges transitive chains; dedupDecision keeps min per cluster") {
    // chain 1-2-3 (no direct 1~3 edge), pair 5-6, singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val out = Dedup.dedupDecision(docs, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) && out(3L) == (1L, false))
    assert(out(5L) == (5L, true) && out(6L) == (5L, false))
    assert(out(9L) == (9L, true))
    // a long chain exercises multi-round convergence
    val chain = (1L until 40L).map(k => (k, k + 1)).toDF("i", "j")
    val lbls = Dedup.clusterPairs(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbls.values.toSet == Set(1L))
  }

  test("deterministicSplit: copies share a split, percentages roughly hold") {
    val docs = Tables.load(spark, sf01, "documents")
    val out = TextAnalysis.deterministicSplit(docs).cache()
    try {
      // exact copies (same text) must land in the same split — the
      // contamination guarantee
      val perText = out.groupBy(col("text"))
        .agg(countDistinct(col("split")).as("nsplits")).collect()
      assert(perText.forall(_.getAs[Long]("nsplits") == 1L))
      val counts = out.groupBy(col("split")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = counts.values.sum.toDouble
      assert(counts("train") / n > 0.6 && counts("train") / n < 0.95, counts.toString)
      assert(counts.keySet == Set("train", "val", "test"))
    } finally out.unpersist()
  }

  test("tokenBudgetShards: parallel prefix sum equals the serial rule at any bucket size") {
    val docs = Tables.load(spark, sf001, "documents")
    def run(bs: Long) = Sharding.tokenBudgetShards(docs, budget = 5000, bucketSize = bs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("tokens_before"), r.getAs[Long]("shard"))).toMap
    val byOne = run(1)        // degenerate: every doc its own bucket
    val byBig = run(1 << 30)  // degenerate: one bucket (pure serial window)
    val byDefault = run(4096)
    assert(byDefault == byBig && byDefault == byOne)
    // serial re-check on the driver
    val serial = docs.select(col("doc_id"), size(split(col("text"), " ", -1)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    serial.foreach { case (id, nt) =>
      assert(byDefault(id) == (acc, acc / 5000), s"doc $id")
      acc += nt
    }
    assert(byDefault.values.map(_._2).max > 0, "fixture should span multiple shards")
  }

  test("tokenBudgetMixture: quotas split the budget exactly, prefixes respect them") {
    val docs = Tables.load(spark, sf001, "documents")
    val weights = Map("src0" -> 3L, "src2" -> 1L)
    val out = Sharding.tokenBudgetMixture(docs, budget = 1000L, weights = weights)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("tokens_before"), r.getAs[Long]("quota")))
    val bySrc = out.groupBy(_._1)
    assert(bySrc.keySet == weights.keySet, "only weighted sources contribute")
    // integer quota split: 1000/4*3=750, 1000/4*1=250
    assert(bySrc("src0").head._4 == 750L && bySrc("src2").head._4 == 250L)
    val srcSizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (s, rows) =>
      // every kept doc STARTS under the quota; mass before each start is exact
      assert(rows.forall(r => r._3 < r._4), s"$s start-under-quota")
      // delivered mass reaches the quota unless the source ran dry
      val delivered = rows.map(_._2).sum
      val quota = rows.head._4
      assert(delivered >= quota || rows.length.toLong == srcSizes(s),
        s"$s under-delivered: $delivered < $quota without exhausting the source")
    }
    // deterministic: rerun identical
    val again = Sharding.tokenBudgetMixture(docs, 1000L, weights)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("tokens_before")))
    assert(again.sorted.toSeq == out.map(r => (r._1, r._3)).sorted.toSeq)
  }

  test("curriculumOrder: top bin first, shuffled within bins, contiguous steps") {
    val docs = Tables.load(spark, sf001, "documents")
    val out = Sharding.curriculumOrder(docs, "n_chars", bins = 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("cur_bin"), r.getAs[Long]("curriculum_step")))
    val n = docs.count()
    assert(out.length == n)
    assert(out.map(_._4).sorted.toSeq == (1L to n).toSeq, "steps tile 1..N")
    // bins consumed in order, highest values first
    val byStep = out.sortBy(_._4)
    assert(byStep.map(_._3).toSeq == byStep.map(_._3).sorted.toSeq,
      "bin phases never interleave")
    val bin1Max = out.filter(_._3 == 1L).map(_._2).min
    val bin4Min = out.filter(_._3 == 4L).map(_._2).max
    assert(bin1Max >= bin4Min, "bin 1 holds the longest docs")
    // within a bin the order is NOT the value order (it's the salt shuffle)
    val bin1 = byStep.filter(_._3 == 1L).map(_._2).toSeq
    assert(bin1 != bin1.sorted && bin1 != bin1.sorted.reverse,
      "within-bin order must be the shuffle, not the value sort")
  }

  test("epochOrder: per-epoch permutations, distinct orders, contiguous global steps") {
    val docs = Tables.load(spark, sf001, "documents")
    val n = docs.count()
    val out = Sharding.epochOrder(docs, epochs = 3).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("seq"), r.getAs[Long]("global_step")))
    assert(out.length == 3 * n)
    // every epoch: each doc exactly once, seq is 1..N
    (0L to 2L).foreach { e =>
      val ep = out.filter(_._1 == e)
      assert(ep.map(_._2).distinct.length == n)
      assert(ep.map(_._3).sorted.toSeq == (1L to n).toSeq, s"epoch $e seq range")
    }
    // distinct salts → distinct permutations (overwhelming probability)
    def order(e: Long) = out.filter(_._1 == e).sortBy(_._3).map(_._2).toSeq
    assert(order(0) != order(1) && order(1) != order(2))
    // epoch 0 equals shuffleOrder with the same salt
    val solo = Sharding.shuffleOrder(docs, salt = "ep0").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seq"))).sortBy(_._2).map(_._1)
    assert(order(0) == solo.toSeq)
    // global steps tile 1..3N with no gaps
    assert(out.map(_._4).sorted.toSeq == (1L to 3 * n).toSeq)
  }

  test("spanCorruption: target reconstructs input; tail never masked; null/empty total") {
    val docs = Tables.load(spark, sf001, "documents").limit(100)
      .union(Seq((-1L, null.asInstanceOf[String], "x", "s", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Sharding.spanCorruption(docs, spanLen = 3, rateNum = 3, rateDen = 20)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 101)
    val nullRow = out(-1L)
    assert(nullRow.getAs[Long]("n_tokens") == 0L &&
      nullRow.getAs[String]("input_text") == null &&
      nullRow.getAs[String]("target_text") == null)
    val texts = Tables.load(spark, sf001, "documents").limit(100)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val sentinelRe = "<X_(\\d+)>".r
    var sawMasked = false
    texts.foreach { case (id, text) =>
      val r = out(id)
      val input = r.getAs[String]("input_text")
      val target = r.getAs[String]("target_text")
      val nMasked = r.getAs[Long]("n_masked")
      assert(target.endsWith("<Z>"))
      // sentinels number 0..n_masked-1 in document order in BOTH texts
      val inSent = sentinelRe.findAllMatchIn(input).map(_.group(1).toInt).toSeq
      val tgtSent = sentinelRe.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(inSent == (0 until nMasked.toInt) && tgtSent == inSent)
      if (nMasked > 0) sawMasked = true
      // splicing each target span back over its sentinel reconstructs the doc
      val spans = target.stripSuffix("<Z>").trim match {
        case "" => Map.empty[Int, String]
        case body => sentinelRe.split(body + " ").zipWithIndex.drop(1)
          .map { case (s, i) => (i - 1) -> s.trim }.toMap
      }
      val rebuilt = sentinelRe.replaceAllIn(input,
        m => java.util.regex.Matcher.quoteReplacement(spans(m.group(1).toInt)))
      assert(rebuilt == text, s"doc $id reconstruction")
    }
    assert(sawMasked, "fixture produced no masked spans — rate axis untested")
  }

  test("packSequences: chunks tile the stream exactly, docs split at boundaries") {
    val docs = Tables.load(spark, sf001, "documents")
    val l = 64L
    val out = Sharding.packSequences(docs, seqLen = l, bucketSize = 16).collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tok_from"), r.getAs[Long]("tok_to")))
    // per-doc coverage: the spans across chunks are contiguous, start at 0,
    // and sum to the doc's token count
    val nTok = docs.select(col("doc_id"), size(split(col("text"), " ", -1)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.groupBy(_._2).foreach { case (id, spans) =>
      val sorted = spans.sortBy(_._1)
      assert(sorted.head._3 == 0L, s"doc $id first span starts at 0")
      assert(sorted.last._4 == nTok(id), s"doc $id last span ends at n_tokens")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"doc $id spans contiguous")
          assert(a._1 + 1 == b._1, s"doc $id chunks contiguous")
        case _ => ()
      }
    }
    // per-chunk budget: every chunk except the last holds exactly L tokens
    val perChunk = out.groupBy(_._1).view.mapValues(_.map(s => s._4 - s._3).sum)
    val lastChunk = perChunk.keys.max
    perChunk.foreach { case (c, tot) =>
      if (c != lastChunk) assert(tot == l, s"chunk $c holds $tot tokens")
      else assert(tot > 0 && tot <= l, s"last chunk $c holds $tot")
    }
    assert(lastChunk > 2, "fixture should span several chunks")
    // bucket-size invariance (the parallel prefix sum is exact)
    val byBig = Sharding.packSequences(docs, seqLen = l, bucketSize = 1 << 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == byBig.toSet)
  }

  test("langId predicts deterministically with full coverage") {
    val docs = Tables.load(spark, sf001, "documents")
    val out = TextAnalysis.langId(docs).collect()
    assert(out.length == docs.count())
    assert(out.forall(_.getAs[Long]("score") > 0))
  }

  test("repetitionStats: hand-computed ratios, single-token doc, null text") {
    val df = Seq(
      (1L, Some("a a a b")),   // 4 tokens, 2 types; bigrams: "a a"×2, "a b"
      (2L, Some("x")),         // 1 token — no bigrams, all ratios trivial
      (3L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(3L), "null text contributes no row")
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_tokens") == 4L)
    assert(d1.getAs[Double]("type_token_ratio") == 0.5)
    assert(d1.getAs[Double]("top_unigram_frac") == 0.75)
    assert(d1.getAs[Double]("dup_token_frac") == 0.75)
    assert(d1.getAs[Double]("top_bigram_frac") == 2.0 / 3.0)
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_tokens") == 1L)
    assert(d2.getAs[Double]("type_token_ratio") == 1.0)
    assert(d2.getAs[Double]("dup_token_frac") == 0.0)
    assert(d2.getAs[Double]("top_bigram_frac") == 0.0)
  }

  test("repetitionStats matches a plain-Scala reference on long documents") {
    // The r12 regression passed 5-token fixtures and hung on 100-token
    // corpus docs (interpreted-HOF subtree capture, ~O(n³)/row). This gate
    // runs at REAL document lengths — 2k and 10k tokens — against an
    // independently-written reference, and its budget is the suite's own
    // patience: any superlinear per-row regression times the suite out.
    val rnd = new scala.util.Random(58)
    val docs = (1L to 40L).map { id =>
      val n = if (id % 10 == 0) 10000 else 2000
      // small vocab forces heavy repetition; occasional empty tokens
      // exercise the split(-1) dialect (consecutive spaces)
      val toks = Array.fill(n)(
        if (rnd.nextInt(50) == 0) "" else s"w${rnd.nextInt(40)}")
      (id, toks.mkString(" "))
    }
    val out = TextAnalysis.repetitionStats(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { case (id, text) =>
      val ws = text.split(" ", -1)
      val uni = ws.groupBy(identity).view.mapValues(_.length.toLong)
      val bi = ws.sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.length.toLong)
      val n = ws.length.toLong
      val r = out(id)
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Double]("type_token_ratio") == uni.size.toDouble / n)
      assert(r.getAs[Double]("top_unigram_frac") == uni.values.max.toDouble / n)
      assert(r.getAs[Double]("dup_token_frac") ==
        uni.values.filter(_ > 1).sum.toDouble / n)
      assert(r.getAs[Double]("top_bigram_frac") ==
        bi.values.max.toDouble / (n - 1))
    }
  }

  test("flagBlockedDomains: suffix-inheriting match, case-folded, null-total") {
    val docs = Seq(
      (1L, Some("see https://ads.Tracker.example.COM/x")), // sub of blocked example.com
      (2L, Some("https://example.com/page")),              // exact blocked
      (3L, Some("https://notexample.com and http://example.org")), // neither
      (4L, Some("no urls at all")),
      (5L, None: Option[String]),
      (6L, Some("http://safe.net/a https://evil.test/b"))  // second URL blocked
    ).toDF("doc_id", "text")
    val bl = Seq("Example.com", "evil.test").toDF("domain")
    val keys = KeySets.Members(TextAnalysis.blockedDomainKeys(bl).collect().map(_.getLong(0)).toSeq)
    val out = TextAnalysis.flagBlockedDomains(docs, keys).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[java.lang.Boolean]("blocked_domain"))).toMap
    assert(out(1L).contains(true), "subdomain must inherit the block")
    assert(out(2L).contains(true), "exact domain blocked")
    assert(out(3L).contains(false), "suffix match is label-aligned, not substring")
    assert(out(4L).contains(false), "no URLs -> not blocked")
    assert(out(5L).isEmpty, "null text -> null flag (total-pass)")
    assert(out(6L).contains(true), "any mentioned domain blocks")
    // one extraction rule for the whole domain family
    assert(TextAnalysis.UrlDomainRe == "https?://([A-Za-z0-9.-]+)")
  }

  test("ngramContamination flags planted benchmark overlap only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),    // contains bench trigram
      (2L, "zeta eta theta iota kappa")          // disjoint
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "beta gamma delta unrelated tail")).toDF("doc_id", "text")
    def run(b: org.apache.spark.sql.DataFrame) = {
      val res = TextAnalysis.ngramContamination(corpus, b, n = 3)
      (joinHints(res), res.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated"))).toMap)
    }
    val (hints, out) = run(bench)
    assert(hints == Set("broadcast"))
    assert(out.keySet == Set(1L), "only the overlapping doc is flagged")
    assert(out(1L) == (3L, 1L)) // 3 trigrams, 1 shared ("beta gamma delta")
    // a bench estimated past the envelope takes the shuffle path
    val path = java.nio.file.Files.createTempDirectory("contam-bench").toString + "/b"
    bench.write.parquet(path)
    val (hintsS, outS) = withHugeFileEstimates(run(spark.read.parquet(path)))
    assert(hintsS == Set("shuffle_hash"))
    assert(outS == out, "shuffle path computes the same result")
  }

  test("noveltyScore: shared grams score 0, unique grams score 1") {
    val df = Seq(
      (1L, "a b c d"),  // trigrams: "a b c" (shared), "b c d" (unique)
      (2L, "a b c x")   // trigrams: "a b c" (shared), "b c x" (unique)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScore(df, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty_frac"))).toMap
    assert(out(1L) == (2L, 1L, 0.5) && out(2L) == (2L, 1L, 0.5))
  }

  test("lengthOutliers flags exactly the percentile tails per stratum") {
    val df = (1 to 100).map(i => (i.toLong, "en", Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.lengthOutliers(df, low = 0.01, high = 0.99).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 100)
    // doc 1 (shortest 1%): pct_le = 0.01 <= low; doc 100: pct_lt = 0.99 >= high
    assert(out(1L).getAs[Boolean]("is_outlier"))
    assert(out(100L).getAs[Boolean]("is_outlier"))
    assert((2L to 99L).forall(i => !out(i).getAs[Boolean]("is_outlier")))
    assert(out(50L).getAs[Double]("pct_lt") == 0.49)
    assert(out(50L).getAs[Double]("pct_le") == 0.50)
  }

  test("stratifiedSample: deterministic, copy-consistent, rate-monotone") {
    val docs = Tables.load(spark, sf001, "documents")
    val rates = Map("en" -> 3000, "zh" -> 5000, "de" -> 10000,
      "fr" -> 10000, "es" -> 10000)
    def ids(r: Map[String, Int]) = TextAnalysis.stratifiedSample(docs, r)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val once = ids(rates)
    assert(ids(rates) == once, "same rates must sample identically")
    // rate 10000 keeps every stratum in the map; absent strata drop
    val all = ids(rates.map { case (k, _) => k -> 10000 })
    assert(all == docs.filter(col("text").isNotNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(once.subsetOf(all), "lower rates sample subsets of higher rates")
    // exact copies sample identically (content-keyed bucket)
    val dup = Seq((1L, "en", "copy me"), (2L, "en", "copy me")).toDF("doc_id", "lang", "text")
    val kept = TextAnalysis.stratifiedSample(dup, Map("en" -> 5000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.isEmpty || kept == Set(1L, 2L))
  }

  test("piiRedact counts and redacts each class; rows stay total on null text") {
    val df = Seq(
      (1L, "mail a@b.org and c.d@e-f.co.uk call 555-123-4567 ip 10.0.0.1 end"),
      (2L, "no pii here"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 2L)
    assert(out(1L).getAs[Long]("n_phones") == 1L)
    assert(out(1L).getAs[Long]("n_ips") == 1L)
    assert(out(1L).getAs[String]("redacted") ==
      "mail <EMAIL> and <EMAIL> call <PHONE> ip <IP> end")
    assert(out(2L).getAs[String]("redacted") == "no pii here")
    assert(out.size == 3 && out(3L).get(out(3L).fieldIndex("n_emails")) == null,
      "null text keeps its row with null counts")
  }

  test("collocations: hand-computed lift on a controlled corpus") {
    // "x y" appears 3×; tokens: x:3 y:3 z:2 (n_u=8); bigrams: 4+2 (n_b=6)
    val df = Seq((1L, "x y z x y"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(df, minCount = 3).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[String]("w1"), r.getAs[String]("w2")) == ("x", "y"))
    assert(r.getAs[Long]("c_ab") == 3L && r.getAs[Long]("c_a") == 3L
      && r.getAs[Long]("c_b") == 3L)
    assert(r.getAs[Double]("lift") == (3.0 / 6.0) / ((3.0 / 8.0) * (3.0 / 8.0)))
  }

  test("chunkTokens: overlap coverage, exact positions, short-doc single chunk") {
    val toks = (1 to 40).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, toks), (2L, "just three tokens")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(df, window = 32, stride = 16).collect()
    val doc1 = out.filter(_.getLong(0) == 1L).sortBy(_.getAs[Long]("chunk_idx"))
    // 40 tokens → chunk starts 1, 17, 33 (idx·16 < 40)
    assert(doc1.map(_.getAs[Long]("start_token")).toSeq == Seq(1L, 17L, 33L))
    assert(doc1.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(32L, 24L, 8L))
    assert(doc1(0).getAs[String]("chunk_text").startsWith("t1 t2 ")
      && doc1(2).getAs[String]("chunk_text") == (33 to 40).map(i => s"t$i").mkString(" "))
    // every token of the doc appears in at least one chunk (stride < window)
    val covered = doc1.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
    assert(covered == (1 to 40).map(i => s"t$i").toSet)
    val doc2 = out.filter(_.getLong(0) == 2L)
    assert(doc2.length == 1 && doc2.head.getAs[Long]("n_chunk_tokens") == 3L)
  }

  test("prefixHub fails on a df above its cap instead of missing pairs") {
    val capped = Seq((1L, "a", 2L), (1L, "b", 2L), (2L, "a", 2L), (2L, "b", 2L))
      .toDF("id", "sh", "df")
    def pairs(shd: org.apache.spark.sql.DataFrame) =
      Dedup.prefixJaccardPairs(shd, 0.8, maxDf = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs(capped) == Seq((1L, 2L)))
    // "h" is in five docs, above the cap of 3, and the caller did not drop
    // it: kept, it would lower J(1, 2) to 2/3 and lose the pair silently
    val overCap = capped.union(
      Seq(1L, 3L, 4L, 5L, 6L).map(i => (i, "h", 5L)).toDF("id", "sh", "df"))
    val e = intercept[Exception](pairs(overCap))
    assert(causes(e).exists(t => String.valueOf(t.getMessage).contains("df above maxDf=3")), e)
  }

  test("nearDupJaccardAcross == cross-side subset of the self-join pairs") {
    // same params as the self-join family; the R-S result over a corpus
    // split must be exactly the self-join pairs that cross the split
    val d = Tables.load(spark, sf001, "documents")
    val self = Dedup.nearDupJaccard(d, n = 16, maxDf = 500, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val across = Dedup.nearDupJaccardAcross(
        d.filter(col("doc_id") >= 40), d.filter(col("doc_id") < 40),
        n = 16, maxDf = 500, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // NOTE df universes differ (self: whole corpus; across: corpus side
    // only), so equality needs the capped sets to coincide — true at this
    // fixture (no shingle is near the 500 cap in either universe)
    val crossSelf = self.filter { case (i, j, _) => i < 40 && j >= 40 }
      .map { case (i, j, v) => (j, i, v) }.toSet  // across emits (delta, corpus)
    assert(across == crossSelf && across.nonEmpty)
  }

  test("nearDupJaccardAcross: over-cap corpus shingles drop on both sides, delta-only shingles stay") {
    val (n, maxDf, minJ) = (4, 2, 0.5)
    val corpus = Seq(
      (1L, "abcdefghZZZZZZ"), (2L, "ijklmnopZZZZZZ"), (3L, "qrstuvwxZZZZZZ"),
      (4L, "ABCDEFGHIJ"), (5L, "KLMNOPQR"))
    val delta = Seq(
      (10L, "abcdefghZZZZZZ9"),   // c1 plus the over-cap "ZZZZ" and delta-only "ZZZ9"
      (11L, "ABCDEFGHIJ*+"),      // c4 plus two delta-only shingles
      (12L, "ZZZZZZ"),            // nothing but the over-cap shingle
      (13L, "KLMNOPZZZZZZQR"))
    def grams(t: String) = if (t.length < n) Set(t) else t.sliding(n).toSet
    val cdf = corpus.flatMap(c => grams(c._2).toSeq).groupBy(identity)
      .map { case (g, v) => g -> v.size }
    def pairs(deltaSet: String => Set[String]) = for {
      (i, ti) <- delta; (j, tj) <- corpus
      a = deltaSet(ti); b = grams(tj).filter(cdf(_) <= maxDf)
      c = (a & b).size; u = a.size + b.size - c
      if u > 0 && c.toDouble / u >= minJ
    } yield (i, j, c.toDouble / u)
    // the capped universe: corpus df ≤ maxDf, a delta-only shingle has df 0
    val expected = pairs(grams(_).filter(g => cdf.getOrElse(g, 0) <= maxDf)).toSet
    // the fixture tells the contract from its two plausible misreadings
    assert(pairs(grams).toSet != expected, "over-cap shingle kept on the delta side")
    assert(pairs(grams(_).filter(g => cdf.get(g).exists(_ <= maxDf))).toSet != expected,
      "delta-only shingles dropped")
    val got = Dedup.nearDupJaccardAcross(delta.toDF("doc_id", "text"),
        corpus.toDF("doc_id", "text"), n = n, maxDf = maxDf, minJaccard = minJ)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected && got.map(p => (p._1, p._2)) == Set((10L, 1L), (11L, 4L)),
      s"got $got, expected $expected")
    graft.core.Caches.unpersistAll()
  }

  test("gapFillLocf: grid spans per key, LOCF fills, observed rows untouched") {
    // key "a": buckets 0,30 observed → grid 0,10,20,30; 10 & 20 carry v(0)
    // key "b": single bucket → single-row grid, no gaps
    val df = Seq(("a", 0L, 5L), ("a", 30L, 7L), ("b", 20L, 9L))
      .toDF("k", "t", "v")
    val out = graft.operators.TimeSeries.gapFillLocf(df, "k", "t", "v", stepMs = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("v_filled"), r.getAs[Int]("is_gap"))).toMap
    assert(out.size == 5)
    assert(out(("a", 0L)) == (5L, 0) && out(("a", 30L)) == (7L, 0))
    assert(out(("a", 10L)) == (5L, 1) && out(("a", 20L)) == (5L, 1))
    assert(out(("b", 20L)) == (9L, 0))
  }

  test("fuzzyMatchPairs: blocking bounds candidates, edit distance verifies") {
    val df = Seq(
      (1L, "red bolt"), (2L, "red boat"),   // same block, dist 1 (l→a)
      (3L, "red bolt"),                      // dist 0 to 1
      (4L, "blue bolt")                      // other block — never compared
    ).toDF("id", "name")
    val blk = element_at(split(col("name"), " ", -1), 1)
    val d2 = Dedup.fuzzyMatchPairs(df, blk, maxEdit = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("edit_dist"))).toSet
    assert(d2 == Set((1L, 2L, 1), (1L, 3L, 0), (2L, 3L, 1)))
    // "red bolt" vs "blue bolt" is dist 3 anyway, but even a dist-0
    // cross-block pair would be invisible: blocking is the candidate gate
    val d0 = Dedup.fuzzyMatchPairs(df, blk, maxEdit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d0 == Set((1L, 3L)))
    // an oversized block drops whole
    val capped = Dedup.fuzzyMatchPairs(df, blk, maxEdit = 2, maxBlock = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.isEmpty)
  }

  test("groupedPercentiles: hand-computed median/p90, odd and even groups") {
    // a: [10,20,30,40] (even)  → median (20+30)/2 = 25.0, p90 rank ⌈3.6⌉=4 → 40
    // b: [5,5,7]       (odd)   → median rank 2 → 5.0,     p90 rank ⌈2.7⌉=3 → 7
    val df = (Seq(10L, 20L, 30L, 40L).map(("a", _)) ++ Seq(5L, 5L, 7L).map(("b", _)))
      .toDF("g", "v")
    val out = Stats.groupedPercentiles(df, "g", "v", Seq(0.9)).collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Double]("median"), r.getAs[Long]("p90"))).toMap
    assert(out("a") == (4L, 25.0, 40L))
    assert(out("b") == (3L, 5.0, 7L))
  }

  test("histogram: bucket boundaries, counts, exact min/max") {
    val df = Seq(0.0, 99.9, 100.0, 150.0, 250.0).map(Tuple1(_)).toDF("v")
    val out = Stats.histogram(df, "v", lo = 0.0, width = 100.0).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("v_min"), r.getAs[Double]("v_max"))).toMap
    assert(out(0L) == (2L, 0.0, 99.9))
    assert(out(1L) == (2L, 100.0, 150.0))
    assert(out(2L) == (1L, 250.0, 250.0))
  }

  test("domainStats: doc-distinct vs occurrence counts") {
    val df = Seq(
      (1L, "see https://a.example.org/x and http://a.example.org/y"),
      (2L, "only https://b.example.net/z here"),
      (3L, "again https://a.example.org/w")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.domainStats(df).collect()
      .map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_urls"))).toMap
    assert(out("a.example.org") == (2L, 3L))
    assert(out("b.example.net") == (1L, 1L))
  }

  test("canonicalUrl: fragment, case, default port, trailing slash; non-defaults kept") {
    val df = Seq(
      (1L, Option("HTTPS://Ex.Org:443/Path/#frag")),
      (2L, Option("https://ex.org/Path")),   // same canonical as 1
      (3L, Option("http://EX.org:80")),
      (4L, Option("http://ex.org:8080/x/")), // non-default port kept
      (5L, Option("not a url/")),
      (6L, Option("https://u:p@ex.org:443/q")), // userinfo can't hide the port
      (7L, Option.empty[String])               // total pass: row survives
    ).toDF("doc_id", "url")
    val rows = TextAnalysis.urlDedup(df).collect()
    val out = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[String]("canonical_url"), r.getAs[java.lang.Long]("url_canonical_id"))).toMap
    assert(out(1L)._1 == "https://ex.org/Path") // path case preserved
    assert(out(2L) == out(1L) && out(1L)._2 == 1L)
    assert(out(3L)._1 == "http://ex.org")
    assert(out(4L)._1 == "http://ex.org:8080/x")
    assert(out(5L)._1 == "not a url")
    assert(out(6L)._1 == "https://u:p@ex.org/q")
    assert(out(7L) == (null, null)) // kept, unannotated
    assert(rows.length == 7)
  }

  test("l2NormalizeFp: JVM-tree parity, zero vector to zeros, null passthrough") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
      .unionByName(Seq((4L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    val out = Similarity.l2NormalizeFp(df).collect()
      .map { r =>
        val i = r.fieldIndex("unit_fp")
        r.getAs[Long]("vec_id") ->
          (if (r.isNullAt(i)) None else Some(r.getSeq[Long](i).toList))
      }.toMap
    // same IEEE tree in plain JVM doubles
    def u(xf: Long, n2: Long): Long =
      math.floor(xf.toDouble / math.sqrt(n2.toDouble) * 1000000.0).toLong
    val (a, b) = (math.floor(3.0 * 32768.0).toLong, math.floor(4.0 * 32768.0).toLong)
    val n2 = a * a + b * b
    assert(out(1L) == Some(List(u(a, n2), u(b, n2))))
    assert(out(2L) == Some(List(0L, 0L)))
    val c = math.floor(-1.0 * 32768.0).toLong
    assert(out(3L) == Some(List(u(c, c * c), 0L)))
    assert(out(4L).isEmpty)
    // a null COMPONENT nulls the whole vector (no partial normalization)
    val withNullElem = Seq((5L, Array(java.lang.Float.valueOf(1.0f), null.asInstanceOf[java.lang.Float])))
      .toDF("vec_id", "embedding")
    val r5 = Similarity.l2NormalizeFp(withNullElem).collect().head
    assert(r5.isNullAt(r5.fieldIndex("unit_fp")))
  }

  test("quantizeInt8: extremes hit -128/127, constant dim is 0, null vec passes through") {
    val df = Seq(
      (1L, Array(0.0f, 5.0f, -2.0f)),
      (2L, Array(10.0f, 5.0f, 2.0f)),
      (3L, Array(5.0f, 5.0f, 0.0f))
    ).toDF("vec_id", "embedding")
      .unionByName(Seq((4L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    val out = Similarity.quantizeInt8(df).collect()
      .map { r =>
        val i = r.fieldIndex("qvec")
        r.getAs[Long]("vec_id") ->
          (if (r.isNullAt(i)) None else Some(r.getSeq[Long](i).toList))
      }.toMap
    // dim0 range [0,10]: 0→-128, 10→127, 5→floor(.5*255)-128=-1
    assert(out(1L).get == Seq(-128L, 0L, -128L)) // dim1 constant → 0
    assert(out(2L).get == Seq(127L, 0L, 127L))
    assert(out(3L).get(0) == -1L && out(3L).get(2) == -1L) // midpoints agree
    assert(out(4L).isEmpty)
  }

  test("mixSources: 2:1 stride interleave, ties by source, excluded sources dropped") {
    val df = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (11L, "b"), (12L, "b"),
      (99L, "c") // not in the weight map → excluded
    ).toDF("doc_id", "text").withColumnRenamed("text", "source")
    // grain=2 forces several buckets, so the parallel seq machinery is
    // actually exercised (not one bucket degenerating to the serial rule)
    val out = Sharding.mixSources(df, Map("a" -> 2L, "b" -> 1L), grain = 2)
      .orderBy(col("seq")).collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    // strides: a=1, b=2 → pos a:1,2,3,4  b:2,4; pos-ties break source asc
    assert(out.toSeq == Seq(
      (1L, 1L, "a"), (2L, 2L, "a"), (3L, 11L, "b"),
      (4L, 3L, "a"), (5L, 4L, "a"), (6L, 12L, "b")))
  }

  test("stripMarkup: block-before-tag order, single-pass entity decode, null totality") {
    val df = Seq(
      // script body contains a bare `>` — generic TagRe alone would leave
      // `1){i=0}</script>` behind; block stripping must win
      (1L, Option("<p>hello</p><script>if(i>1){i=0}</script><b>world</b>")),
      // &amp;lt; must decode ONCE to &lt; (never twice to <);
      // &lt;tag&gt; decodes to visible <tag> and is NOT re-stripped
      (2L, Option("a &amp;lt; b &lt;tag&gt; c &nbsp;d")),
      (3L, Option("<STYLE media=\"x\">p>q{}</STYLE>only")),
      (4L, Option.empty[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripMarkup(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(out(1L) == "hello world")
    assert(out(2L) == "a &lt; b <tag> c d")
    assert(out(3L) == "only")
    assert(out(4L) == null)
  }

  test("bigramLmScore: MLE prefix probabilities, short docs keep null score") {
    val df = Seq(
      (1L, Option("a b a b")),   // bigrams: (a,b),(b,a),(a,b)
      (2L, Option("a c")),       // bigram: (a,c)
      (3L, Option("solo")),      // no bigrams → null score
      (4L, Option.empty[String])
    ).toDF("doc_id", "text")
    // corpus: c(a,b)=3? no — doc1 has (a,b)×2,(b,a)×1; doc2 (a,c)×1.
    // prefixes: c(a,·)=3, c(b,·)=1. p(b|a)=2/3, p(a|b)=1/1, p(c|a)=1/3
    val fp23 = math.floor(2.0 / 3.0 * 1000000.0).toLong // 666666
    val fp13 = math.floor(1.0 / 3.0 * 1000000.0).toLong // 333333
    val rows = TextAnalysis.bigramLmScore(df).collect()
    val out = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_bigrams"), Option(r.getAs[java.lang.Long]("lm_fp_sum")))).toMap
    assert(out(1L) == (3L, Some(java.lang.Long.valueOf(fp23 * 2 + 1000000L))))
    assert(out(2L) == (1L, Some(java.lang.Long.valueOf(fp13))))
    assert(out(3L) == (0L, None))
    assert(out(4L) == (0L, None))
    // the mean divides by the NULLABLE count (null for bigram-less docs),
    // never the coalesced 0
    val means = rows.map(r => r.getAs[Long]("doc_id") ->
      Option(r.getAs[java.lang.Double]("lm_mean_fp"))).toMap
    assert(means(1L) == Some(java.lang.Double.valueOf((fp23 * 2 + 1000000L) / 3.0)))
    assert(means(2L) == Some(java.lang.Double.valueOf(fp13.toDouble)))
    assert(means(3L).isEmpty && means(4L).isEmpty)
  }

  test("clusterSafeSplit: cluster members share the canonical's split") {
    val df = Seq(
      (1L, "near duplicate text variant one"),
      (2L, "near duplicate text variant two"),
      (3L, "completely different content")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("i", "j")
    val out = Dedup.clusterSafeSplit(df, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("split_bucket"),
          r.getAs[String]("split"))).toMap
    // 1 and 2 cluster together; 2 gets 1's (the canonical's) bucket even
    // though its own text hashes elsewhere
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L)
    assert(out(2L)._2 == out(1L)._2 && out(2L)._3 == out(1L)._3)
    // the singleton keeps its own content rule (== deterministicSplit's)
    val solo = TextAnalysis.deterministicSplit(df.filter(col("doc_id") === 3L))
      .collect().head
    assert(out(3L)._2 == solo.getAs[Long]("split_bucket"))
    assert(out(3L)._3 == solo.getAs[String]("split"))
  }

  test("tfidfKeywords: rare terms outrank common ones; k and ties respected") {
    val df = Seq(
      (1L, "x x common"),  // x only in doc1 (rare, tf=2)
      (2L, "common common y"),
      (3L, "common z z z")
    ).toDF("doc_id", "text")
    val out = Search.tfidfKeywords(df, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rk")) -> r.getAs[String]("term"))
      .toMap
    // per doc: the doc-unique term (idf (3-1+.5)/1.5=5/3) beats 'common'
    // (idf (3-3+.5)/3.5=1/7) at any tf in this fixture
    assert(out((1L, 1)) == "x" && out((1L, 2)) == "common")
    assert(out((2L, 1)) == "y" && out((2L, 2)) == "common")
    assert(out((3L, 1)) == "z" && out((3L, 2)) == "common")
    assert(out.size == 6) // k=2 per doc, nothing more
  }

  test("bm25TopK matches the scalar-double reference on a hand fixture") {
    val df = Seq(
      (1L, Option("a b a")),   // tf(a)=2, dl=3
      (2L, Option("a c")),     // tf(a)=1, tf(c)=1, dl=2
      (3L, Option("c c c c")), // tf(c)=4, dl=4
      (4L, Option.empty[String]) // excluded: null text
    ).toDF("doc_id", "text")
    // same expression tree as Search.termScoreFp, in plain JVM doubles
    val (k1, b) = (1.2, 0.75)
    val (nDocs, sumDl) = (3L, 9L)
    def fp(tf: Long, df: Long, dl: Long): Long = {
      val idf = ((nDocs - df).toDouble + 0.5) / (df.toDouble + 0.5)
      val avgdl = sumDl.toDouble / nDocs.toDouble
      val sat = (tf.toDouble * (k1 + 1.0)) /
        (tf.toDouble + k1 * (1.0 - b + b * (dl.toDouble / avgdl)))
      math.floor(idf * sat * 1000000.0).toLong
    }
    val out = Search.bm25TopK(df, Seq("a", "c"), topK = 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms"), r.getAs[Long]("score_fp")))
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 1L), s"ranking was ${out.toSeq}")
    val byId = out.toMap
    assert(byId(1L) == (1L, fp(2, 2, 3)))                 // "a" only
    assert(byId(2L) == (2L, fp(1, 2, 2) + fp(1, 2, 2)))   // both terms, tf=1 each
    assert(byId(3L) == (1L, fp(4, 2, 4)))                 // "c" only
    // single-term query never returns non-matching docs
    val onlyA = Search.bm25TopK(df, Seq("a"), topK = 10).collect().map(_.getLong(0))
    assert(onlyA.toSet == Set(1L, 2L))
  }

  test("dedupSentences keeps first corpus-wide occurrence, rebuilds in order") {
    val df = Seq(
      (1L, "alpha beta. gamma delta! epsilon"),
      (2L, "gamma delta! zeta eta. alpha beta."),
      (3L, "alpha beta. gamma delta!"),   // fully boilerplate -> empty
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSentences(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_sents"),
          r.getAs[Long]("n_removed"))).toMap
    // doc 1 is first everywhere; doc 2 keeps only its new sentence; doc 3
    // empties; null text emits nothing
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ("alpha beta. gamma delta! epsilon", 3L, 0L))
    assert(out(2L) == ("zeta eta.", 3L, 2L))
    assert(out(3L) == ("", 2L, 2L))
  }


  test("distinctNgramRatio: repeated text collapses the ratio, fresh text holds it") {
    val rep = Array.fill(9)("x y z").mkString(" ")           // 27 tokens, 3 distinct 3-grams
    val fresh = (1 to 27).map(i => s"u$i").mkString(" ")     // all 3-grams distinct
    val df = Seq(("loop", rep), ("fresh", fresh)).toDF("source", "text")
    val out = TextAnalysis.distinctNgramRatio(df, n = 3).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"))).toMap
    assert(out("loop") == (25L, 3L))
    assert(out("fresh") == (25L, 25L))
  }

  test("exactDedupAgainst admits only first-in-delta, corpus-unseen docs") {
    val corpus = Seq((1L, "existing doc"), (2L, "other doc")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "existing doc"),     // in corpus -> rejected
      (11L, "brand new"), (12L, "brand new"),  // internal copy: 11 survives
      (13L, "also new"),
      (14L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.exactDedupAgainst(delta, corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_delta_copies")).toMap
    assert(out == Map(11L -> 2L, 13L -> 1L))
  }

  test("oovRate counts tokens outside the vocabulary; null text passes through") {
    val df = Seq((1L, "the cat sat"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(df, Seq("the", "a")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Any]("n_tokens"), r.getAs[Any]("n_oov"), r.getAs[Any]("oov_fp"))).toMap
    assert(out(1L) == ((3L, 2L, 666666L)))
    assert(out(2L) == ((null, null, null)))
  }

  test("termRankFreq ranks by freq desc then term asc, shares sum the corpus") {
    val df = Seq((1L, "b b a a c")).toDF("doc_id", "text")
    val out = TextAnalysis.termRankFreq(df, k = 2).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("term"),
        r.getAs[Long]("freq"), r.getAs[Long]("share_fp"))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a", 2L, 400000L), (2L, "b", 2L, 400000L)))
  }


  test("kmeansOutliersFp: farthest-per-cluster, consistent with the assignment") {
    graft.core.Caches.unpersistAll()
    val e = Tables.load(spark, sf001, "embeddings")
    val assign = Similarity.kmeansAssignFp(e, k = 4, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    val out = Similarity.kmeansOutliersFp(e, k = 4, iters = 2, topPerCell = 3).collect()
    val byCell = out.groupBy(_.getAs[Int]("cluster"))
    byCell.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      // ranks are 1..m and distances non-increasing with rank
      val byRk = rows.sortBy(_.getAs[Long]("rk"))
      assert(byRk.map(_.getAs[Long]("rk")).toSeq == (1L to rows.length).toSeq)
      val ds = byRk.map(_.getAs[Long]("d2")).toSeq
      assert(ds == ds.sorted(Ordering[Long].reverse))
    }
    // every outlier's cluster matches the assignment operator's cluster
    out.foreach(r => assert(
      assign(r.getAs[Long]("vec_id")) == r.getAs[Int]("cluster")))
    graft.core.Caches.unpersistAll()
  }

}
