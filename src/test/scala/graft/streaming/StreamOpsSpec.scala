package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Structured Streaming operators driven through MemoryStream micro-batches
  * (the reference has no streaming-state concepts at all — SURVEY.md §2.4 —
  * so these tests define our extension contracts). */
class StreamOpsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  /** Run a streaming transform over two micro-batches of events and return
    * the complete-mode / append-mode results from a memory sink. */
  private def runStream(
      batches: Seq[Seq[(Long, Timestamp, Long, String, Double)]],
      name: String,
      mode: String)(f: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = f(df).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow())
    batches.foreach(mem.addData(_))
    val started = q.start()
    // stop() even after AvailableNow self-termination (no-op then): a query
    // thread still finalizing at JVM exit races the context shutdown hook
    // and logs a spurious "stopped SparkContext" error.
    try started.awaitTermination(60000) finally started.stop()
    spark.table(name)
  }

  private val batch1 = Seq(
    (1L, ts(0), 100L, "click", 1.0),
    (2L, ts(5), 100L, "click", 2.0),
    (3L, ts(10), 200L, "view", 3.0),
    (1L, ts(0), 100L, "click", 1.0)) // duplicate event

  test("event-time tumbling window aggregation with watermark") {
    val out = runStream(Seq(batch1), "win_counts", "complete") { df =>
      StreamOps.hourlyTypeCounts(df, "10 minutes", "10 minutes")
    }
    val m = out.collect().map(r =>
      (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
    assert(m((ts(0), "click")) == 3L) // both ts(0) dupes + ts(5)
    assert(m((ts(10), "view")) == 1L)
  }

  test("session_window groups events within gap") {
    val out = runStream(Seq(Seq(
      (1L, ts(0), 1L, "a", 0.0), (2L, ts(5), 1L, "a", 0.0),   // session 1
      (3L, ts(50), 1L, "a", 0.0))),                            // session 2 (gap > 30m)
      "sessions", "complete") { df =>
      StreamOps.sessionWindows(df, "30 minutes", "30 minutes")
    }
    val sessions = out.filter(col("user_id") === 1L).collect()
    assert(sessions.length == 2)
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
  }

  test("dropDuplicatesWithinWatermark removes the duplicate event") {
    val out = runStream(Seq(batch1), "dedup", "append") { df =>
      StreamOps.dedupWithinWatermark(df, "1 hour")
    }
    // keyed dedup on (user_id, event_type): 2 distinct keys survive
    assert(out.count() == 2)
    assert(out.select("user_id").as[Long].collect().sorted.toSeq == Seq(100L, 200L))
  }

  test("dedupDocsByContent keeps the first copy per content fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    mem.addData(
      (1L, ts(0), "same content"), (2L, ts(1), "same content"),   // dup
      (3L, ts(2), "other content"))
    val q = StreamOps.dedupDocsByContent(df, "ts").writeStream
      .format("memory").queryName("docdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val out = spark.table("docdedup").collect()
      .map(r => r.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(1L, 3L))
    // and the helper column does not leak into the output schema
    assert(!spark.table("docdedup").columns.contains("fp_md5"))
  }

  test("near-dup ingest gate drops flagged docs in-stream (batch blocklist + stateless apply)") {
    // batch half: band-key blocklist over yesterday's corpus; stream half:
    // flagNearDups is pure Column exprs, so the SAME operator code runs
    // inside the micro-batch — no state store, no watermark
    implicit val sqlCtx = spark.sqlContext
    def text(i: Long, last: String = "omega") =
      (1 to 11).map(t => s"w${i}_$t").mkString(" ") + " " + last
    val corpus = (1L to 10L).map(i => (i, text(i))).toDF("doc_id", "text")
    val bandKeys = graft.core.KeySets.Members(graft.ext.Dedup.minhashBandKeys(corpus, n = 3)
      .collect().map(_.getLong(0)).toSeq)
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val gated = graft.ext.Dedup.flagNearDups(docs, bandKeys, n = 3)
      .filter(!coalesce(col("near_dup_candidate"), lit(false)))
    assert(gated.isStreaming)
    val q = gated.writeStream.format("memory").queryName("nd_gate")
      .outputMode("append").trigger(Trigger.AvailableNow())
    mem.addData(
      (101L, text(3L)),            // exact copy of corpus doc 3 → dropped
      (102L, text(7L, "CHANGED")), // near-dup of corpus doc 7 → dropped
      (103L, text(500L)))          // fresh → survives
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val out = spark.table("nd_gate").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(out == Seq(103L), s"gate passed: $out")
  }

  test("contamination ingest gate drops bench-overlapping docs in-stream") {
    // batch half: 60-bit gram blocklist over the benchmark suite; stream
    // half: flagContaminated is pure Column exprs (binary-search
    // membership), so the SAME operator code runs inside the micro-batch
    implicit val sqlCtx = spark.sqlContext
    val s5 = (1 to 5).map(i => s"s$i").mkString(" ")
    val bench = Seq((1L, s"intro $s5 outro")).toDF("doc_id", "text")
    val keys = graft.core.KeySets.Members(graft.ext.TextAnalysis.benchGramKeys(bench, n = 3)
      .collect().map(_.getLong(0)).toSeq)
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val gated = graft.ext.TextAnalysis.flagContaminated(docs, keys, n = 3)
      .filter(!coalesce(col("contaminated"), lit(false)))
    assert(gated.isStreaming)
    val q = gated.writeStream.format("memory").queryName("ct_gate")
      .outputMode("append").trigger(Trigger.AvailableNow())
    mem.addData(
      (201L, s"a b c $s5 x y"),          // shares bench 3-grams → dropped
      (202L, "fresh tokens only here"))  // no shared gram → survives
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val out = spark.table("ct_gate").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(out == Seq(202L), s"gate passed: $out")
  }

  test("kmeansServe scores a vector stream against batch-trained centroids") {
    // batch half: train centroids on the corpus; stream half: kmeansServe
    // is pure Column exprs (quantize + per-cell codegen dot), so the SAME
    // operator code assigns clusters inside the micro-batch
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.core.Tables.load(spark, sf001, "embeddings")
    val cents = graft.ext.Similarity.kmeansCentroidsFp(batch, k = 4, iters = 2)
    val expect = graft.ext.Similarity.kmeansAssignFp(batch, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sample = batch.limit(8).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val served = graft.ext.Similarity.kmeansServe(vecs, cents)
    assert(served.isStreaming)
    val q = served.writeStream.format("memory").queryName("km_serve")
      .outputMode("append").trigger(Trigger.AvailableNow())
    mem.addData(sample.toIndexedSeq: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val got = spark.table("km_serve").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(got == sample.map(s => s._1 -> expect(s._1)).toMap)
    graft.core.Caches.unpersistAll()
  }

  test("nearDupGateSink: doc flagged only after the periodic refresh picks up the new corpus") {
    implicit val sqlCtx = spark.sqlContext
    def text(i: Long, last: String = "omega") =
      (1 to 11).map(t => s"w${i}_$t").mkString(" ") + " " + last
    val corpusPath = java.nio.file.Files
      .createTempDirectory("nd-refresh").resolve("corpus").toString
    (1L to 5L).map(i => (i, text(i))).toDF("doc_id", "text")
      .write.parquet(corpusPath)
    val passed = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val mem = MemoryStream[(Long, String)]
    val gate = StreamOps.nearDupGateSink(
      () => spark.read.parquet(corpusPath), n = 3, refreshEvery = 2)(
      (survivors, _) => survivors.collect().foreach(r => passed.add(r.getAs[Long]("doc_id"))))
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(gate).start()
    try {
      // batch 0 (refresh epoch 0): doc 900 has no corpus partner → passes
      mem.addData((101L, text(900L)))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L))
      // doc 900 now ENTERS the corpus…
      (1L to 5L).map(i => (i, text(i))).toDF("doc_id", "text")
        .unionByName(Seq((6L, text(900L))).toDF("doc_id", "text"))
        .write.mode("overwrite").parquet(corpusPath)
      // …but batch 1 is still epoch 0: the STALE blocklist lets a
      // near-dup of it through (the documented staleness window)
      mem.addData((102L, text(900L, "CHANGED")))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L, 102L),
        s"stale-window doc should pass: ${passed.toArray.toSeq}")
      // batch 2 crosses into epoch 1 → refresh reads the grown corpus →
      // the same near-dup is now flagged and dropped
      mem.addData((103L, text(900L, "CHANGED2")))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L, 102L),
        s"post-refresh near-dup must be dropped: ${passed.toArray.toSeq}")
      // and a fresh doc still flows
      mem.addData((104L, text(901L)))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L, 102L, 104L))
    } finally q.stop()
  }

  test("nearDupGateSink: batches keep flowing on the stale list while a rebuild runs (refreshWaitMs=0)") {
    implicit val sqlCtx = spark.sqlContext
    def text(i: Long, last: String = "omega") =
      (1 to 11).map(t => s"w${i}_$t").mkString(" ") + " " + last
    val corpusPath = java.nio.file.Files
      .createTempDirectory("nd-async").resolve("corpus").toString
    (1L to 5L).map(i => (i, text(i))).toDF("doc_id", "text")
      .write.parquet(corpusPath)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val rebuildDone = new java.util.concurrent.CountDownLatch(1)
    val holdRebuild = new java.util.concurrent.CountDownLatch(1)
    val passed = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val gate = StreamOps.nearDupGateSink(
      () => {
        if (calls.incrementAndGet() > 1) {
          // second build = the epoch-1 refresh: park it until the test has
          // proven a batch flowed past it on the stale list
          holdRebuild.await(30, java.util.concurrent.TimeUnit.SECONDS)
          rebuildDone.countDown()
        }
        spark.read.parquet(corpusPath)
      },
      n = 3, refreshEvery = 2, refreshWaitMs = 0L)(
      (survivors, _) => survivors.collect().foreach(r => passed.add(r.getAs[Long]("doc_id"))))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(gate).start()
    try {
      // batch 0: synchronous first build (fast path); fresh doc passes
      mem.addData((101L, text(900L)))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L))
      // doc 900 enters the corpus; batch 1 is still epoch 0 (no rebuild)
      (1L to 5L).map(i => (i, text(i))).toDF("doc_id", "text")
        .unionByName(Seq((6L, text(900L))).toDF("doc_id", "text"))
        .write.mode("overwrite").parquet(corpusPath)
      mem.addData((102L, text(900L, "CHANGED")))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L, 102L))
      // batch 2 crosses into epoch 1 → rebuild starts on the background
      // thread and is PARKED on holdRebuild; with refreshWaitMs=0 the
      // batch must flow on the stale list — a near-dup of doc 900 passes
      mem.addData((103L, text(900L, "CHANGED-B2")))
      q.processAllAvailable()
      assert(passed.toArray.toSeq == Seq(101L, 102L, 103L),
        s"batch must flow on the stale list during the rebuild: ${passed.toArray.toSeq}")
      val trig = System.nanoTime() + 10_000_000_000L
      while (calls.get() < 2 && System.nanoTime() < trig) Thread.sleep(10)
      assert(calls.get() >= 2, "epoch-1 rebuild must have been triggered")
      assert(rebuildDone.getCount == 1, "rebuild must still be in flight")
      // release the rebuild; once the swap lands (async — the collect
      // finishes after corpus() returns, so probe until it does), a
      // near-dup of doc 900 is dropped: the staleness window has closed
      holdRebuild.countDown()
      assert(rebuildDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      var dropped = false
      var tries = 0
      while (!dropped && tries < 20) {
        tries += 1
        val id = 200L + tries
        mem.addData((id, text(900L, s"CHANGED$tries")))
        q.processAllAvailable()
        if (passed.toArray.toSeq.contains(id)) Thread.sleep(250) else dropped = true
      }
      assert(dropped, s"staleness window must close after the rebuild: ${passed.toArray.toSeq}")
      // and a fresh doc still flows
      mem.addData((999L, text(901L)))
      q.processAllAvailable()
      assert(passed.toArray.toSeq.last == 999L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    val out = runStream(Seq(batch1), "running", "append") { df =>
      StreamOps.runningUserTotals(spark, df).toDF()
    }
    val byUser = out.collect().map(r =>
      r.getAs[Long]("user_id") -> (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    assert(byUser(100L) == (3L, 4.0))
    assert(byUser(200L) == (1L, 3.0))
  }

  test("transformWithState keeps running per-user totals (RocksDB state store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream(Seq(batch1), "running_tws", "append") { df =>
        StreamOps.runningUserTotalsTws(spark, df).toDF()
      }
      val byUser = out.collect().map(r =>
        r.getAs[Long]("user_id") -> (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
      assert(byUser(100L) == (3L, 4.0))
      assert(byUser(200L) == (1L, 3.0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join: purchase matches clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val cd = clicks.toDF().toDF("user_id", "click_ts").withWatermark("click_ts", "1 hour")
    val bd = buys.toDF().toDF("buy_user", "buy_ts").withWatermark("buy_ts", "1 hour")
    val joined = cd.join(bd,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
    clicks.addData((1L, ts(0)), (1L, ts(30)), (2L, ts(0)))
    buys.addData((1L, ts(5)))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val rows = spark.table("ssjoin").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("click_ts")))
    // only user 1's ts(0) click is within 10 minutes before the ts(5) buy
    assert(rows.toSeq == Seq((1L, ts(0))))
  }

  test("quality ops run unchanged on a document stream (projection shapes)") {
    // tokenStats / qualityScore / deterministicSplit / stratifiedSample are
    // pure projections, so the SAME operator code compiles into a streaming
    // plan with no watermark or state — the ingest-time quality-filter
    // pipeline of a training-data feed.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "lang", "text")
    val filtered = graft.ext.TextAnalysis.stratifiedSample(
      graft.ext.TextAnalysis.qualityScore(
        graft.ext.TextAnalysis.tokenStats(docs)), Map("en" -> 10000))
    assert(filtered.isStreaming)
    val q = filtered.writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").trigger(Trigger.AvailableNow())
    mem.addData(Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "de", "der hund lief im park"),   // stratum absent from rates → dropped
      (3L, "en", "big data small data")))
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val out = spark.table("quality_stream").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L).getAs[Long]("n_ws_tokens") == 6L)
    assert(out(1L).getAs[Double]("stopword_ratio") == 2.0 / 6.0)
  }

  test("PII scrub + chunking run unchanged on a document stream") {
    // piiRedact and chunkTokens are map-only (projection + generator), so
    // the SAME operator code compiles into a streaming plan — the
    // ingest-time PII scrub and chunk-prep of a training-data feed.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val scrubbed = graft.ext.TextAnalysis.chunkTokens(
      graft.ext.TextAnalysis.piiRedact(docs)
        .select(col("doc_id"), col("redacted").as("text")),
      window = 4, stride = 2)
    assert(scrubbed.isStreaming)
    val q = scrubbed.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").trigger(Trigger.AvailableNow())
    mem.addData(Seq(
      (1L, "mail me at a@b.org or call 555-123-4567 today ok")))
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val out = spark.table("pii_stream").collect()
      .sortBy(_.getAs[Long]("chunk_idx"))
    // redacted: "mail me at <EMAIL> or call <PHONE> today ok" → 9 tokens,
    // chunks start at tokens 1,3,5,7,9
    assert(out.map(_.getAs[Long]("start_token")).toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    assert(out.head.getAs[String]("chunk_text") == "mail me at <EMAIL>")
    assert(out.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
      .intersect(Set("a@b.org", "555-123-4567")).isEmpty)
  }

  test("markup strip + LM-free cleaning runs unchanged on a document stream") {
    // stripMarkup is map-only (projection of regexp/replace chains), so the
    // SAME operator code compiles into a streaming plan — the first
    // cleaning pass of a crawled-feed ingest.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val cleaned = graft.ext.TextAnalysis.stripMarkup(docs)
    assert(cleaned.isStreaming)
    val q = cleaned.writeStream.format("memory").queryName("markup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow())
    mem.addData(Seq(
      (1L, "<html><script>x>1</script><p>keep &amp; clean</p></html>")))
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val out = spark.table("markup_stream").collect().head
    assert(out.getAs[String]("clean_text") == "keep & clean")
    assert(out.getAs[Long]("n_chars_clean") == 12L)
  }

  test("sliding windows assign one event to overlapping windows") {
    val out = runStream(Seq(Seq((1L, ts(7), 1L, "a", 0.0))), "sliding", "complete") { df =>
      StreamOps.slidingUserRate(df, "10 minutes")
    }
    // a 10-minute window sliding by 5 covers ts(7) twice: [10:00,10:10) and [10:05,10:15)
    assert(out.filter(col("user_id") === 1L).count() == 2)
  }

  test("ingest-time n-gram masking runs map-only on a document stream") {
    // the batch-computed blocklist (hotGramKeys over yesterday's corpus)
    // applied inside a micro-batch: stateless, no watermark needed
    implicit val sqlCtx = spark.sqlContext
    val boiler = "please subscribe to our newsletter"
    val hot = graft.ext.TextAnalysis.hotGramKeys(
      Seq((1L, boiler), (2L, boiler), (3L, boiler)).toDF("doc_id", "text"),
      n = 3, minDf = 2).collect().map(_.getLong(0)).toSeq
    assert(hot.nonEmpty)
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    mem.addData((10L, s"fresh content here $boiler"), (11L, "all fresh content"))
    val q = graft.ext.TextAnalysis.maskWithGramSet(df, hot, n = 3)
      .select("doc_id", "masked_text", "n_spans")
      .writeStream.format("memory").queryName("ingestmask")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val out = spark.table("ingestmask").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("masked_text"), r.getAs[Long]("n_spans"))).toMap
    assert(out(10L) == (("fresh content here <dup>", 1L)))
    assert(out(11L) == (("all fresh content", 0L)))
  }
}
