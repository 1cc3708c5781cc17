package graft

import graft.spec.{Compiler, SpecLoader}
import graft.streaming.Metrics
import org.apache.spark.sql.SparkSession

/** CLI entry point — the analogue of the reference binary
  * (/root/reference/src/main.rs:4-8 + the StructOpt config at
  * src/lib.rs:96-117): config path from `-c`/`--config_file`, else the
  * `CONFIG_FILE` env var, else `nekton.yml`; the loaded spec runs
  * continuously for streaming sources (kafka, http_server spool) and
  * one-shot for batch sources (stdin, text_file). A streaming run prints
  * one JSON progress line per non-empty micro-batch to stderr
  * ([[logProgress]]).
  */
object Main {

  /** `-c file` / `--config_file file` / $CONFIG_FILE / "nekton.yml". */
  def configPath(args: Array[String], env: Map[String, String] = sys.env): String =
    args.sliding(2).collectFirst {
      case Array("-c" | "--config_file", v) => v
    }.orElse(env.get("CONFIG_FILE")).getOrElse("nekton.yml")

  private val streamingSources = Set("kafka", "http_server")

  /** Prints one [[graft.streaming.Metrics.progressLine]] per non-empty
    * micro-batch of any stream on `spark` to `out` (stderr by default). */
  def logProgress(spark: SparkSession,
      out: String => Unit = System.err.println): Metrics.ProgressLog =
    Metrics.attach(spark, onBatch = p =>
      if (p.numInputRows > 0) out(Metrics.progressLine(p)))

  def main(args: Array[String]): Unit = {
    val spec = SpecLoader.loadFile(configPath(args))
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    if (streamingSources(spec.input.typ)) {
      val checkpoint = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      // http_server bundles its receiver: POSTs land durably in the spool
      // dir the stream tails; receiver lives for the query's lifetime.
      val receiver = Option.when(spec.input.typ == "http_server")(
        graft.sources.HttpIngest.fromConf(spec.input).start())
      logProgress(spark)
      try Compiler.runStream(spark, spec, checkpoint).awaitTermination()
      finally receiver.foreach(_.stop())
    } else {
      Compiler.runBatch(spark, spec)
      spark.stop()
    }
  }
}
