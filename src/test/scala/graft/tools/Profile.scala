package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only per-query job breakdown: runs the SparkEntry queries named by
  * prefix (as `SPARK_GRAFT_ONLY` selects them) cold then warm under a
  * listener that records every job's wall time, task count, and shuffle
  * bytes — the guide-§1 "which job/stage is the time going to" question,
  * answerable per query without the UI. `SPARK_GRAFT_PROFILE_WALK=1` adds
  * the executed plan's per-node output rows. Usage:
  *   tools/dev.sh graft.tools.Profile q55,q90 /root/testdata/sf0.1
  */
object Profile {
  final case class Job(id: Int, desc: String, var ms: Long = -1,
    var tasks: Int = 0, var shufRead: Long = 0, var shufWrite: Long = 0,
    var start: Long = 0, var execMs: Long = 0, var gcMs: Long = 0)

  def main(args: Array[String]): Unit = {
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, d, start = e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => j.ms = e.time - j.start)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += si.numTasks
            j.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
            j.execMs += si.taskMetrics.executorRunTime
            j.gcMs += si.taskMetrics.jvmGCTime
          }
        }
    })
    val qs = graft.SparkEntry.select(Some(args.headOption.getOrElse("q55")))
    val walkPlans = sys.env.get("SPARK_GRAFT_PROFILE_WALK").contains("1")
    def walk(pl: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
      val rows = pl.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      println(f"${"  " * d}${pl.nodeName}%-40s rows=$rows")
      pl match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan, d + 1)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, d + 1)
        case _ => pl.children.foreach(walk(_, d + 1))
      }
    }
    qs.foreach { case (name, fn) =>
      val warms = sys.env.getOrElse("SPARK_GRAFT_PROFILE_WARMS", "1").toInt
      (Seq("cold") ++ (1 to warms).map(i => s"warm$i")).foreach { phase =>
        if (phase == "cold") {
          graft.core.Caches.unpersistAll(); spark.catalog.clearCache(); System.gc()
        }
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val n = df.count()
        val total = (System.nanoTime() - t0) / 1e9
        if (walkPlans && phase != "cold") walk(df.queryExecution.executedPlan, 0)
        // listener events drain asynchronously; give the bus a beat
        Thread.sleep(300)
        println(f"== $name [$phase] total $total%.3f s rows=$n")
        jobs.synchronized {
          jobs.values.toSeq.sortBy(-_.ms).foreach { j =>
            println(f"  job ${j.id}%3d ${j.ms}%6d ms exec=${j.execMs}%6d gc=${j.gcMs}%5d tasks=${j.tasks}%4d " +
              f"shufR=${j.shufRead / 1024}%7d KiB shufW=${j.shufWrite / 1024}%7d KiB  ${j.desc.take(80)}")
          }
          println(f"  jobs=${jobs.size} sum=${jobs.values.map(_.ms).filter(_ > 0).sum} ms")
        }
      }
    }
    spark.stop()
  }
}
