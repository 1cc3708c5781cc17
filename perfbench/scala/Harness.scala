package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness: the "system" JVM. `perfbench/run.py` starts it once
  * per run; it times calls into the project's public functions and writes
  * raw measurements as JSON, which run.py checks and turns into metrics.
  *
  *   gen     data=<dir> times=<x> seed=<n> [tables=a,b] [dup=<permille>]
  *   sweep   data=<dir> queries=q01,q02 seconds=<s> work=<dir> trace=0|1
  *   ingest  data=<dir> work=<dir> trace=0|1 (see [[Ingest]])
  *
  * Every mode also takes cpus=<n> (default: all processors).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val given = args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = given.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val kv = given + ("cpus" -> cpus.toString)
    val t0 = Clock.nowNs()
    val spark = session(cpus, kv("work"))
    val sessionNs = Clock.nowNs() - t0
    try mode match {
      case "gen" =>
        graft.tools.GenData.write(spark, kv("data"), kv("times").toDouble, cpus,
          salt = kv("seed"),
          tables = kv.get("tables").map(_.split(",").toSet)
            .getOrElse(graft.tools.GenData.AllTables.toSet),
          dupPermille = kv.get("dup").map(_.toInt).getOrElse(25))
      case "sweep" =>
        val want = kv("queries").split(",").toSet
        val qs = graft.SparkEntry.queries.toSeq
          .filter { case (n, _) => want(n.takeWhile(_ != '_')) }.sortBy(_._1)
        require(qs.size == want.size, s"unknown queries in ${kv("queries")}")
        new Sweep(spark, kv, sessionNs).run(qs)
      case "ingest" => new Ingest(spark, kv, sessionNs).run()
    } finally spark.stop()
  }

  /** The confs `graft.Bench` and `graft.Verify` use, so the queries run the
    * plans those mains time and check; scratch space stays under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  def writeJson(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json(v))

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** A serial, closed-loop sweep over registered queries: each query runs
  * once, cold (hubs released and the catalog cache cleared first), and is
  * fully materialized with `collect()` — every output column, never a
  * `count()` that Catalyst could prune. Results are written for the
  * oracle check only after the sweep, outside the timed region. */
final class Sweep(spark: SparkSession, kv: Map[String, String], sessionNs: Long) {
  type Query = (SparkSession, String) => DataFrame

  private val traced = new Tracer(kv("trace") == "1")
  private val engine = Option.when(traced.on)(new EngineListener)
  private val budgetMs = 60000L

  private def release(): Unit = {
    graft.core.Caches.unpersistAll()
    spark.catalog.clearCache()
  }

  /** Cached storage held right now (MB): the persisted hubs. */
  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  final case class Rec(name: String, startNs: Long, endNs: Long,
      releaseNs: Long, buildNs: Long, planNs: Long, execNs: Long,
      rows: Long, err: Option[String], cachedMb: Double)

  private def one(name: String, fn: Query, dir: String,
      tracer: Tracer, cold: Boolean = true): (Rec, Option[(Array[Row], DataFrame)]) = {
    tracer.span("query", name) { qid =>
      val r0 = Clock.nowNs()
      if (cold) tracer.span("core.release", name, qid)(_ => release())
      val start = Clock.nowNs()
      var buildNs, planNs, execNs = 0L
      var cached = 0.0
      val res = graft.core.Watchdog.run(spark, name, budgetMs) {
        val b0 = Clock.nowNs()
        val df = tracer.span("queries.build", name, qid)(_ => fn(spark, dir))
        val p0 = Clock.nowNs()
        tracer.span("queries.plan", name, qid)(_ => df.queryExecution.executedPlan)
        val e0 = Clock.nowNs()
        val rows = tracer.span("queries.exec", name, qid)(_ => df.collect())
        val e1 = Clock.nowNs()
        buildNs = p0 - b0; planNs = e0 - p0; execNs = e1 - e0
        if (tracer.on) cached = cachedMb()
        (rows, df)
      }
      val end = Clock.nowNs()
      (Rec(name, start, end, start - r0, buildNs, planNs, execNs,
        res.map(_._1.length.toLong).getOrElse(-1L), res.left.toOption, cached),
        res.toOption)
    }
  }

  /** Warm-up pass, then whole sweeps for `seconds` (at least one). Every
    * sweep's results must equal the first sweep's, whose results are
    * written for the oracle check. */
  def run(qs: Seq[(String, Query)]): Unit = {
    val work = kv("work")
    val dir = kv("data")
    val seconds = kv("seconds").toDouble
    // warm-up: one pass, so the sweeps measure plans and data, not class
    // loading, codegen and JIT; its queries run side by side, one per core
    val w0 = Clock.nowNs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(kv("cpus").toInt)
    try qs.map { case (n, fn) => pool.submit(() => one(n, fn, dir, new Tracer(false), cold = false)) }
      .foreach(_.get())
    finally pool.shutdown()
    release()
    val warmNs = Clock.nowNs() - w0
    engine.foreach(spark.sparkContext.addSparkListener)
    val m0 = Clock.nowNs()
    // (results, duration) per sweep; no sweep starts that would, at the
    // last sweep's pace, overrun `seconds`
    val done = scala.collection.mutable.ArrayBuffer.empty[(Seq[(Rec, Option[(Array[Row], DataFrame)])], Long)]
    while (done.isEmpty || Clock.secs(Clock.nowNs() - m0 + done.last._2) <= seconds) {
      val s0 = Clock.nowNs()
      val res = qs.map { case (n, fn) => one(n, fn, dir, traced) }
      release()
      done += ((res, Clock.nowNs() - s0))
    }
    val rssMb = Harness.peakRssMb()
    engine.foreach { l =>
      org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    // outputs for the oracle check, outside the timed region
    val out = s"$work/out"
    val first = done.head._1
    first.foreach { case (rec, res) =>
      res.foreach { case (rows, df) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/${rec.name}")
      }
    }
    Harness.writeJson(s"$out/oracle_sql.json", graft.SparkEntry.oracleSql)
    def canon(r: Option[(Array[Row], DataFrame)]) = r.map(_._1.map(_.toString).sorted.toSeq)
    val firstCanon = first.map { case (rec, r) => rec.name -> canon(r) }.toMap
    val sweepRows = done.toSeq.map { case (res, ns) =>
      Map("sweep_s" -> Clock.secs(ns), "queries" -> res.map { case (rec, r) =>
        queryRow(rec) + ("same_as_first" -> (canon(r) == firstCanon(rec.name)))
      })
    }
    Harness.writeJson(s"$work/harness.json", Map(
      "session_s" -> Clock.secs(sessionNs),
      "warmup_s" -> Clock.secs(warmNs),
      "peak_rss_mb" -> rssMb,
      "sweeps" -> sweepRows,
      "spans" -> traced.rows))
  }

  private def queryRow(r: Rec): Map[String, Any] = {
    val base = Map[String, Any]("name" -> r.name,
      "wall_s" -> Clock.secs(r.endNs - r.startNs),
      "release_s" -> Clock.secs(r.releaseNs), "build_s" -> Clock.secs(r.buildNs),
      "plan_s" -> Clock.secs(r.planNs), "exec_s" -> Clock.secs(r.execNs),
      "rows" -> r.rows, "err" -> r.err)
    engine.fold(base) { l =>
      val lo = r.startNs / 1000000L
      val hi = r.endNs / 1000000L
      val buildHi = (r.startNs + r.buildNs) / 1000000L
      val jobs = l.jobsIn(lo, hi)
      base ++ l.totals(lo, hi) ++ Map(
        "jobs" -> jobs.size,
        "build_jobs" -> jobs.count(_._1 <= buildHi),
        "outside_jobs_s" -> (hi - lo - Intervals.covered(jobs, lo, hi)) / 1e3,
        "cached_mb" -> r.cachedMb)
    }
  }
}
