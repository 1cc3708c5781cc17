package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Streaming observability (SURVEY.md §2.4: the reference declared a
  * prometheus dependency it never used; Spark's listener bus is the native
  * surface). [[ProgressLog]] captures per-micro-batch progress —
  * rows/second, batch duration, state rows — and exposes the recent window
  * for scraping/assertions; wire the snapshot into any metrics exporter.
  */
object Metrics {

  final case class BatchProgress(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double,
      /** triggerExecution duration — the end-to-end batch time (it already
        * contains the sub-phases; summing the map would double-count). */
      durationMs: Long,
      /** addBatch duration: the processors and the sink write. */
      addBatchMs: Long,
      stateRows: Long)

  /** One batch as one JSON line, the form `graft.Main` prints to stderr:
    * `{"event":"batch","query":…,"batch":…,"rows":…,"trigger_ms":…,"add_batch_ms":…}`. */
  def progressLine(p: BatchProgress): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("event", "batch")
    m.put("query", p.queryName)
    m.put("batch", p.batchId)
    m.put("rows", p.numInputRows)
    m.put("trigger_ms", p.durationMs)
    m.put("add_batch_ms", p.addBatchMs)
    Json.writeValueAsString(m)
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Ring-ish buffer of recent batch progress (bounded at `keep`);
    * `onBatch` sees each batch as it is recorded, on the listener bus. */
  final class ProgressLog(keep: Int = 256,
      onBatch: BatchProgress => Unit = _ => ()) extends StreamingQueryListener {
    private val buf = new ConcurrentLinkedQueue[BatchProgress]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val b = BatchProgress(
        Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
        zeroIfNaN(p.inputRowsPerSecond), zeroIfNaN(p.processedRowsPerSecond),
        Option(p.durationMs.get("triggerExecution")).map(_.longValue)
          .getOrElse(p.durationMs.asScala.values.map(_.longValue)
            .maxOption.getOrElse(0L)),
        Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L),
        stateRows)
      buf.add(b)
      while (buf.size() > keep) buf.poll()
      onBatch(b)
    }

    private def zeroIfNaN(d: Double): Double = if (d.isNaN) 0.0 else d

    def snapshot: Seq[BatchProgress] = buf.asScala.toSeq
  }

  /** Attach a fresh ProgressLog to the session's listener bus. */
  def attach(spark: SparkSession, keep: Int = 256,
      onBatch: BatchProgress => Unit = _ => ()): ProgressLog = {
    val log = new ProgressLog(keep, onBatch)
    spark.streams.addListener(log)
    log
  }
}
