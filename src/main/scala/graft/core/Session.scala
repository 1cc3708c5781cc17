package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session definition of the project's mains (`graft.Main`,
  * `Bench`, `Verify`, `tools.Plans`, `tools.GenData`), so a YAML pipeline
  * runs the plans that `Bench` times and `Verify` checks. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the machine's processors, at most 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors min 32)

  /** A session on `local[cpus]`, unless a `spark.master` was given
    * (spark-submit, `-Dspark.master`), which wins. */
  def local(cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
    if (!new SparkConf().contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // AQE coalescing targets COMPRESSED shuffle bytes; the shingle/array
      // stages are CPU-bound narrow rows that compress 4-5×, so the byte
      // target collapses reduce parallelism ~4× below the core count at
      // bench scale (measured 2× wall-time on q37). Keep AQE (skew joins,
      // runtime re-plan) but pin reduce parallelism; at production scale
      // partitions exceed the advisory size and coalescing never bites.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // NOT raised: spark.sql.objectHashAggregate.sortBased.fallbackThreshold.
      // The collect_list hubs fall back to sort-based aggregation past 128
      // in-memory groups, but raising the threshold measured zero win at
      // bench scale, and the fallback is the memory-SAFE behavior when a
      // production partition holds millions of groups of growing arrays.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // without libhadoop, Hadoop's local filesystem starts a chmod or
      // readlink process per file create and link-status call; bind the
      // fork-free one for data files and checkpoint logs alike
      .config(NioLocalFs.sessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
