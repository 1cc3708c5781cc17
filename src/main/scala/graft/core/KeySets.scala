package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Persistence for the ingest gates' 60/64-bit key blocklists — the
  * build-once/serve-many handoff shared by the gate family (the
  * [[graft.ext.Dedup.bandIndexSave]] layout, factored): a parquet of
  * (kind, value) rows where `kind` names the family that BUILT the set
  * (an exact-dup fingerprint index can never silently serve a
  * contamination gate — load validates the kind) and `param:*` rows
  * carry the build parameters (e.g. the gram width), so the serve side
  * can never gate with different geometry than the build. Distributed
  * write — key sets are corpus-scale; the dictionary-encoded kind
  * column compresses away.
  */
object KeySets {

  /** Write `keys` (single long column) under `kind`, with `params`
    * riding along as `param:<name>` rows and an always-present
    * `family:<kind>` tag row — the tag is what lets an EMPTY key set
    * (a legitimately empty reference corpus) still prove which family
    * built it, so a foreign dump that happens to contain only param
    * rows can never load as someone else's empty blocklist. */
  def save(keys: DataFrame, path: String, kind: String,
      params: Map[String, Long] = Map.empty): Unit = {
    require(!kind.startsWith("param:") && !kind.startsWith("family:"),
      s"reserved kind prefix: $kind")
    import keys.sparkSession.implicits._
    val k = keys.select(lit(kind).as("kind"),
      col(keys.columns.head).cast("long").as("value"))
    val meta = (params.toSeq.sortBy(_._1)
      .map { case (n, v) => (s"param:$n", v) } :+ (s"family:$kind", 0L))
      .toDF("kind", "value")
    k.unionByName(meta).write.mode("overwrite").parquet(path)
  }

  /** The schema every (kind, value) dump is written with ([[save]],
    * [[graft.ext.Dedup.bandIndexSave]]). Reading with it skips Spark's
    * parquet schema-inference job; a foreign dump without these columns
    * reads them as null and fails its kind check. */
  val Schema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("value", LongType)))

  /** A (kind, value) dump read with its writers' [[Schema]], plus its
    * kinds from ONE `groupBy(kind)` aggregate: kind → (min value, max
    * value). Callers validate kinds, family tags and parameters from the
    * summary before they touch the keys, so a foreign family's
    * corpus-scale keys are never pulled onto the driver. A null kind
    * reads as "null" and a null value as null. */
  private[graft] def readSummarized(spark: SparkSession, path: String)
      : (DataFrame, Map[String, (java.lang.Long, java.lang.Long)]) = {
    val df = spark.read.schema(Schema).parquet(path)
    val kinds = df.groupBy(col("kind")).agg(min(col("value")), max(col("value")))
      .collect().map(r => String.valueOf(r.getString(0)) ->
        ((r.getAs[java.lang.Long](1), r.getAs[java.lang.Long](2)))).toMap
    (df, kinds)
  }

  /** The value of each `param:`-style row of a [[readSummarized]]
    * summary whose kind `name` maps to, refusing a parameter written
    * with no value or with two different values. */
  private[graft] def params(path: String,
      kinds: Map[String, (java.lang.Long, java.lang.Long)],
      name: String => Option[String]): Map[String, Long] =
    kinds.flatMap { case (k, (lo, hi)) =>
      name(k).map { p =>
        require(lo != null && lo == hi,
          s"key set at $path has no single value for parameter $p")
        p -> lo.longValue
      }
    }

  /** Load a [[save]] dump, validating it was built by `expectKind` →
    * (key frame with single column `value`, build params). */
  def load(spark: SparkSession, path: String,
      expectKind: String): (DataFrame, Map[String, Long]) = {
    val (df, summary) = readSummarized(spark, path)
    val tags = summary.keySet
    val kinds = tags.filterNot(t =>
      t.startsWith("param:") || t.startsWith("family:"))
    // key rows: subset, not equality — an empty blocklist must load as
    // an empty Seq (the gate then passes everything — correct for an
    // empty corpus). The family TAG is checked by equality: it is
    // present in every dump, so a dump from a different family can't
    // pass the gate by being empty of key rows.
    require(kinds.subsetOf(Set(expectKind)),
      s"key set at $path was built as ${kinds.mkString(",")}, not $expectKind")
    val families = tags.filter(_.startsWith("family:"))
      .map(_.stripPrefix("family:"))
    if (families.isEmpty) {
      // pre-tag dump (persisted before the family: row existed,
      // round-15): its key rows must PROVE the family on their own —
      // the subset check above already passed, so require at least one
      // actual key row of expectKind (an EMPTY pre-tag dump proves
      // nothing and stays refused). Warn so operators re-save: a fresh
      // save(load(...)) round-trip stamps the tag (round-16 ADVICE —
      // the hard requirement orphaned every index persisted before the
      // tag shipped, with no migration path).
      require(kinds == Set(expectKind),
        s"key set at $path has no family tag and no $expectKind key " +
          "rows — refusing: an empty pre-tag dump cannot prove which " +
          "family built it (re-save with KeySets.save to stamp the tag)")
      System.err.println(s"[graft] KeySets: pre-tag dump at $path " +
        s"accepted on the proof of its own $expectKind key rows — " +
        "re-save to stamp the family tag")
    } else require(families == Set(expectKind),
      s"key set at $path carries family tag ${families.mkString(",")}, " +
        s"not $expectKind — refusing a foreign dump")
    (df.filter(col("kind") === expectKind).select(col("value")),
      params(path, summary, k => Option.when(k.startsWith("param:"))(k.stripPrefix("param:"))))
  }

  /** [[load]] + collect into the sorted literal the stateless gates
    * embed ([[graft.functions.ArraySets.sortedLongContains]] binary-
    * search contract — the gate sorts; this just hands over the Seq). */
  def loadCollected(spark: SparkSession, path: String,
      expectKind: String): (Seq[Long], Map[String, Long]) = {
    val (keys, params) = load(spark, path, expectKind)
    (keys.collect().map(_.getLong(0)).toSeq, params)
  }
}
