package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The round-12 failure mode, pinned: one hung query must cost exactly
  * its own row of the artifact — the sweep continues, the session stays
  * usable, and the good queries' dumps land. */
class WatchdogSpec extends SparkSpec {

  // a query whose Spark job blocks far past any test budget: every task
  // sleeps inside a udf, so the only way out is the watchdog's job-group
  // cancellation (interruptOnCancel interrupts the sleeping task threads).
  // The udf is nondeterministic and sits under a FILTER so neither
  // count()'s column pruning nor a dump's projection can skip it — the
  // r12 lesson applies to the test fixture too.
  private def hungQuery(s: SparkSession, dir: String): DataFrame = {
    val nap = udf((x: Long) => { Thread.sleep(600000L); x }).asNondeterministic()
    s.range(0, 8, 1, 8).filter(nap(col("id")) >= 0L).select(col("id"))
  }

  private def goodQuery(s: SparkSession, dir: String): DataFrame =
    s.range(0, 5).select(col("id"))

  test("Watchdog.run cancels a hung job and the session survives") {
    spark.range(1).count() // session warmup: the budget must time the QUERY
    val t0 = System.nanoTime()
    val r = graft.core.Watchdog.run(spark, "wd-hang", 2000L) {
      hungQuery(spark, "").count()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.isLeft, s"expected timeout, got $r")
    assert(secs < 60, f"cancel must not wait for the sleep ($secs%.1f s)")
    // the session is immediately usable for the next query
    assert(spark.range(10).count() == 10L)
  }

  test("Verify.dump records one err row for a hung query and keeps going") {
    val out = Files.createTempDirectory("wd-verify").toString
    val qs = Seq[(String, (SparkSession, String) => DataFrame)](
      "q_good_before" -> (goodQuery _),
      "q_hung" -> (hungQuery _),
      "q_good_after" -> (goodQuery _))
    val t0 = System.nanoTime()
    val res = Verify.dump(spark, qs, "", out, budgetMs = 2000L).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 90, f"one hung query must not stall the sweep ($secs%.1f s)")
    assert(res("q_good_before").isEmpty && res("q_good_after").isEmpty,
      s"good queries must pass: $res")
    assert(res("q_hung").isDefined, "the hung query must carry an error")
    // artifacts: good dumps readable, partial hung dump removed
    assert(spark.read.parquet(s"$out/q_good_before").count() == 5L)
    assert(spark.read.parquet(s"$out/q_good_after").count() == 5L)
    assert(!new java.io.File(s"$out/q_hung").exists(),
      "a timed-out query must not leave a partial dump")
  }

  test("SparkEntry.select: trimmed prefixes, sorted by name, unset selects all") {
    val all = SparkEntry.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Some("q48, q37_ngram ,q01, ")).map(_._1) ==
      Seq("q01_pricing_summary", "q37_ngram_jaccard_pairs", "q48_word_jaccard_pairs"))
  }
}
