package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Audit, Corpus, Curation, Events, Relational, TextPipeline, Warehouse}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every operator's (query, oracle) pair from the per-module
  * registries under graft.queries.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01_pricing_summary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Events.queries ++ TextPipeline.queries ++
      Corpus.queries ++ Curation.queries ++ Audit.queries ++ Warehouse.queries

  /** The registered queries whose names start with one of the
    * comma-separated prefixes in `only` (trimmed, blanks ignored), sorted
    * by name; `None` selects them all. The mains pass `SPARK_GRAFT_ONLY`. */
  def select(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.forall(_.exists(name.startsWith)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Events.oracle ++ TextPipeline.oracle ++
      Corpus.oracle ++ Curation.oracle ++ Audit.oracle ++ Warehouse.oracle
}
