package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for every SparkEntry query to one file per
  * query — the optimization-round plan evidence (`plans/rNN/<query>_<tag>.txt`).
  *
  * Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_PLANS_DIR (output dir),
  * SPARK_GRAFT_PLANS_SUFFIX (`before`/`after`), SPARK_GRAFT_ONLY (qNN csv).
  * It uses [[graft.core.Session]], as Bench does, so the dumped plan is the
  * plan the bench times (same broadcast threshold, join preference, AQE flags).
  * Plans are captured pre-execution (AdaptiveSparkPlan isFinalPlan=false) —
  * the static shape (Exchange count, join strategy, PushedFilters) is what
  * the round's evidence needs, and capturing it without running keeps the
  * dump cheap at any SF.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r16")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val mode = ExplainMode.fromString("formatted")
    graft.SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")).foreach { case (name, fn) =>
      val txt = try fn(spark, sfDir).queryExecution.explainString(mode)
      catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[plans] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
