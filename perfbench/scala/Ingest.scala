package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Open-loop HTTP ingest through the calls `graft.Main` makes for an
  * `http_server` spec: `SpecLoader.loadFile`, `HttpIngest.fromConf(..).start()`
  * and `Compiler.runStream`. The generator is a separate process that
  * run.py starts; this JVM talks to run.py over stdin/stdout:
  *
  *   out: `READY <port>` once indexes, receiver and stream are up
  *   in:  `DONE <docs sent>` once the generator has finished
  *
  * Set-up builds the three gate indexes from the even-numbered documents
  * (the reference corpus); the odd-numbered ones, in document order, are
  * the bodies the generator posts (`bodies.jsonl`). After the run the same
  * spec runs once more through `Compiler.runBatch` over the sent bodies,
  * giving the reference the streamed rows are checked against.
  */
final class Ingest(spark: SparkSession, kv: Map[String, String], sessionNs: Long) {
  private val work = kv("work")
  private val tracer = new Tracer(kv("trace") == "1")
  private val engine = Option.when(tracer.on)(new EngineListener)

  private val processors =
    s"""  processors:
       |    - type: strip_markup
       |    - type: pii_redact
       |    - type: normalize_text
       |    - type: repetition_filter
       |      config: {max_top_bigram_frac: "0.3"}
       |    - type: contamination_gate
       |      config: {index_path: "$work/idx/contamination", action: flag}
       |    - type: exact_dup_gate
       |      config: {index_path: "$work/idx/exact", action: flag}
       |    - type: near_dup_gate
       |      config: {index_path: "$work/idx/band", action: flag}
       |""".stripMargin

  def run(): Unit = {
    val docs = spark.read.parquet(s"${kv("data")}/documents.parquet")
      .select(col("doc_id"), col("text"))
    // bodies for the generator, outside the timed set-up
    val bodies = docs.filter(col("doc_id") % 2 === 1).orderBy("doc_id")
      .select(col("doc_id").as("idx"), col("text")).collect()
    def writeBodies(path: String, rows: Seq[Row]): Unit =
      Files.writeString(Paths.get(path), rows.map(r => Harness.json(
        Map("idx" -> r.getLong(0), "text" -> r.getString(1)))).mkString("", "\n", "\n"))
    writeBodies(s"$work/bodies.jsonl", bodies.toSeq)

    val s0 = Clock.nowNs()
    tracer.span("core.index_build", "setup") { _ =>
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      graft.ext.Dedup.fpIndexSave(corpus, s"$work/idx/exact")
      graft.ext.Dedup.bandIndexSave(corpus, s"$work/idx/band", n = 5)
      // the "benchmark suite": one corpus document in twenty
      graft.ext.TextAnalysis.benchGramIndexSave(
        corpus.filter(col("doc_id") % 40 === 0), s"$work/idx/contamination", n = 8)
    }
    val indexNs = Clock.nowNs() - s0
    Files.writeString(Paths.get(s"$work/spec.yml"),
      s"""input:
         |  type: http_server
         |  address: 127.0.0.1:0
         |  path: /post
         |  config: {spool_dir: "$work/spool"}
         |pipeline:
         |$processors
         |output:
         |  type: parquet
         |  path: "$work/sink"
         |""".stripMargin)
    val c0 = Clock.nowNs()
    val spec = tracer.span("spec.load", "setup")(_ => graft.spec.SpecLoader.loadFile(s"$work/spec.yml"))
    val receiver = tracer.span("sources.start", "setup")(_ =>
      graft.sources.HttpIngest.fromConf(spec.input).start())
    engine.foreach(spark.sparkContext.addSparkListener)
    val query = tracer.span("spec.run_stream", "setup")(_ =>
      graft.spec.Compiler.runStream(spark, spec, s"$work/checkpoint"))
    val compileNs = Clock.nowNs() - c0
    val started = Clock.nowNs()
    println(s"READY ${receiver.boundPort}")
    System.out.flush()

    val progress = mutable.LinkedHashMap.empty[Long, org.apache.spark.sql.streaming.StreamingQueryProgress]
    def poll(): Long = {
      // an idle trigger reports the next batch id with no rows; keep the
      // report of the batch that ran
      query.recentProgress.foreach { p =>
        if (progress.get(p.batchId).forall(_.numInputRows < p.numInputRows))
          progress(p.batchId) = p
      }
      progress.valuesIterator.map(_.numInputRows).sum
    }
    // poll while the generator runs: recentProgress is a bounded ring
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val doneLine = new java.util.concurrent.atomic.AtomicReference[String]()
    val reader = new Thread(() => doneLine.set(in.readLine()))
    reader.setDaemon(true)
    reader.start()
    while (doneLine.get == null && reader.isAlive && query.isActive) { poll(); Thread.sleep(100) }
    val sent = Option(doneLine.get).map(_.split(" ")(1).toLong).getOrElse(0L)
    val deadline = Clock.nowNs() + 60L * 1000000000L
    while (poll() < sent && query.isActive && Clock.nowNs() < deadline) Thread.sleep(50)
    val drained = poll() >= sent
    query.stop()
    receiver.stop()
    val rssMb = Harness.peakRssMb()
    engine.foreach { l =>
      org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    query.exception.foreach(e => System.err.println(s"[ingest] stream failed: $e"))

    // reference: the same processors over the sent bodies, one batch
    writeBodies(s"$work/sent.jsonl", bodies.take(sent.toInt).toSeq)
    val refSpec = graft.spec.SpecLoader.load(
      s"""input: {type: json, path: "$work/sent.jsonl"}
         |pipeline:
         |$processors
         |output: {type: parquet, path: "$work/reference"}
         |""".stripMargin)
    graft.spec.Compiler.runBatch(spark, refSpec)

    val firstBatch = progress.values.find(_.numInputRows > 0)
    Harness.writeJson(s"$work/harness.json", Map(
      "session_s" -> Clock.secs(sessionNs),
      "index_build_s" -> Clock.secs(indexNs),
      "compile_s" -> Clock.secs(compileNs),
      "started_ns" -> started,
      "first_batch_ms" -> firstBatch.map(p =>
        (java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue) - started / 1000000L),
      "drained" -> drained,
      "stream_error" -> query.exception.map(_.toString),
      "peak_rss_mb" -> rssMb,
      "batches" -> progress.values.toSeq.map { p =>
        Map("id" -> p.batchId, "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      },
      "engine" -> engine.map(l => l.totals() + ("jobs" -> l.synchronized(l.jobs.size))),
      "spans" -> tracer.rows))
  }
}
