package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query runs
  * under a per-query watchdog ([[graft.core.Watchdog]]) so one
  * pathological operator degrades to one err row instead of zeroing the
  * round's artifact (the round-12 failure mode). */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump each query's result to `outDir/<name>` parquet under a
    * per-query budget; returns (name, error) with error = None on
    * success. A timed-out/failed query's partial output dir is removed
    * (check.py must see a missing dump, not a truncated one) and the
    * sweep CONTINUES. Factored out of main so a test can drive it with a
    * deliberately-hung query. */
  def dump(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String, budgetMs: Long): Seq[(String, Option[String])] =
    queries.map { case (name, fn) =>
      val r = graft.core.Watchdog.run(spark, name, budgetMs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      r.left.foreach { err =>
        System.err.println(s"[verify] $name failed: $err")
        // best-effort recursive removal of a partial dump (an interrupted
        // write leaves nested _temporary dirs)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        try rm(new java.io.File(s"$outDir/$name"))
        catch { case _: Throwable => () }
      }
      // operators persist shared subtrees; don't let 50 queries' caches
      // accumulate against an unknown driver heap
      graft.core.Caches.unpersistAll()
      spark.catalog.clearCache()
      name -> r.left.toOption
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q88,q89 limits the dump (unset = all —
    // the driver never sets it)
    val qs = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val errs = dump(spark, qs, sfDir, outDir, graft.core.Watchdog.budgetMs())
      .collect { case (n, Some(e)) => n -> e }
    // the errors are ALSO an artifact (stderr scrolls away): one sidecar
    // file, never read by check.py (it keys on oracle_sql.json entries)
    if (errs.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
        errs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
