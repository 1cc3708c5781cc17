package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

/** The one definition of a key-set gate's index — the build-once/
  * serve-many handoff of the ingest gates (`contamination_gate`,
  * `exact_dup_gate`, `near_dup_gate`, `perceptual_dup_gate`,
  * `audio_dup_gate`). This object alone writes, reads and probes a gate
  * index; the gate families only say which keys go in ([[save]] /
  * [[saveBloom]]) and which row key is probed ([[Members.contains]]).
  *
  * One format, two faces. Every dump carries the `kind` that BUILT it
  * (an exact-dup fingerprint index can never silently serve a
  * contamination gate) and its build parameters (e.g. the gram width),
  * so the serve side can never gate with different geometry than the
  * build:
  *  - the literal face ([[save]] / [[loadCollected]]): a parquet of
  *    (kind, value) rows — the keys under `kind`, one `param:<name>` row
  *    per parameter and a `family:<kind>` tag row. Distributed write (key
  *    sets are corpus-scale; the dictionary-encoded kind column
  *    compresses away); served as a sorted literal.
  *  - the Bloom face ([[saveBloom]] / [[loadBloom]]): one row of `kind`,
  *    one BIGINT column per parameter, `n_items`, `num_bits` and the
  *    `bloom` blob, for reference corpora whose key set outgrows a
  *    literal. No false negatives; ~fpp false positives per probe.
  *
  * Older dumps still load. A dump without a `family:` row (written
  * before the tag existed) must prove its family by its own key rows; in
  * such an untagged dump a bare kind named by a required parameter is
  * that parameter, which reads the old band-index layout (`band_key`
  * rows plus bare `n` / `num_hashes` / `rows_per_band` rows). The Bloom
  * layout is unchanged, so every Bloom dump ever written loads as is.
  */
object KeySets {

  /** A gate's key set as a membership column: `contains(k)` is true when
    * the BIGINT key `k` is in the set, null for a null key. */
  sealed trait Members { def contains(k: Column): Column }

  object Members {
    /** The sorted literal of a collected key set, deduplicated and sorted
      * once, here. */
    def apply(keys: Seq[Long]): Sorted = new Sorted(keys.distinct.sorted.toArray)

    /** Binary search over the keys embedded as a primitive `long[]`
      * ([[graft.functions.SortedLongSetContains]]). The literal rides every
      * task binary (~8 B/key), so it is the face for sets up to ~10⁷ keys. */
    final class Sorted private[Members] (val keys: Array[Long]) extends Members {
      def contains(k: Column): Column = Bridge.column(
        graft.functions.SortedLongSetContains(Bridge.expression(k), keys))
    }

    /** One `might_contain` probe of the blob; an empty build (`None`)
      * contains nothing. A flag that probes many keys per row must call
      * [[contains]] once, inside one `exists`: each call is one
      * `BloomFilterMightContain` instance, and each instance holds its own
      * copy of the blob in every task. */
    final class Bloom(val blob: Option[Array[Byte]]) extends Members {
      def contains(k: Column): Column = blob match {
        case None => when(k.isNotNull, lit(false))
        case Some(b) => Bridge.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            Bridge.expression(lit(b)), Bridge.expression(k)))
      }
    }
  }

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

  /** The schema every (kind, value) dump is written with. Reading with it
    * skips Spark's parquet schema-inference job; a dump without these
    * columns reads them as null and fails its kind check. */
  val Schema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("value", LongType)))

  /** Load a [[save]] dump, validating it was built by `expectKind` and
    * carries every parameter in `required` → (key frame with single
    * column `value`, build params). Kinds, family tags and parameters
    * come from ONE `groupBy(kind)` aggregate (kind → min and max value),
    * checked before the keys are touched, so a foreign family's
    * corpus-scale keys are never pulled onto the driver. */
  def load(spark: SparkSession, path: String, expectKind: String,
      required: Seq[String] = Nil): (DataFrame, Map[String, Long]) = {
    val df = spark.read.schema(Schema).parquet(path)
    val summary = df.groupBy(col("kind")).agg(min(col("value")), max(col("value")))
      .collect().map(r => String.valueOf(r.getString(0)) ->
        ((r.getAs[java.lang.Long](1), r.getAs[java.lang.Long](2)))).toMap
    val families = summary.keySet.filter(_.startsWith("family:"))
      .map(_.stripPrefix("family:"))
    // in an untagged dump, a bare kind named by a required parameter is
    // that parameter (the old band-index layout)
    val bare = if (families.isEmpty) summary.keySet.intersect(required.toSet)
      else Set.empty[String]
    val kinds = summary.keySet.filterNot(t =>
      t.startsWith("param:") || t.startsWith("family:")) -- bare
    // key rows: subset, not equality — an empty blocklist must load as
    // an empty set (the gate then passes everything — correct for an
    // empty corpus). The family TAG is checked by equality: it is
    // present in every dump, so a dump from a different family can't
    // pass the gate by being empty of key rows.
    require(kinds.subsetOf(Set(expectKind)),
      s"key set at $path was built as ${kinds.mkString(",")}, not $expectKind")
    // a Bloom dump has a kind column but no values
    require(summary.get(expectKind).forall(_._1 != null),
      s"key set at $path has $expectKind rows without values — not a (kind, value) dump")
    if (families.isEmpty) {
      // pre-tag dump: it must PROVE its family on its own — with at least
      // one key row of expectKind or its bare parameter rows (an EMPTY
      // pre-tag dump proves nothing and stays refused). Warn so operators
      // re-save: a fresh save(load(...)) round-trip stamps the tag.
      require(kinds.nonEmpty || bare.nonEmpty,
        s"key set at $path has no family tag and no $expectKind key " +
          "rows — refusing: an empty pre-tag dump cannot prove which " +
          "family built it (re-save with KeySets.save to stamp the tag)")
      System.err.println(s"[graft] KeySets: pre-tag dump at $path " +
        s"accepted on the proof of its own $expectKind rows — " +
        "re-save to stamp the family tag")
    } else require(families == Set(expectKind),
      s"key set at $path carries family tag ${families.mkString(",")}, " +
        s"not $expectKind — refusing a foreign dump")
    val params = summary.flatMap { case (k, (lo, hi)) =>
      val name = if (k.startsWith("param:")) Some(k.stripPrefix("param:"))
        else Option.when(bare(k))(k)
      name.map { p =>
        require(lo != null && lo == hi,
          s"key set at $path has no single value for parameter $p")
        p -> lo.longValue
      }
    }
    checkRequired(path, params, required)
    (df.filter(col("kind") === expectKind).select(col("value")), params)
  }

  /** [[load]] + collect into the sorted literal the stateless gates
    * embed. */
  def loadCollected(spark: SparkSession, path: String, expectKind: String,
      required: Seq[String] = Nil): (Members.Sorted, Map[String, Long]) = {
    val (keys, params) = load(spark, path, expectKind, required)
    (Members(keys.collect().map(_.getLong(0)).toSeq), params)
  }

  /** Write `keys` (single long column) as a Bloom filter at false-positive
    * rate `fpp` per probe, in the one-row layout (`kind`, one BIGINT
    * column per build parameter, `n_items`, `num_bits`, `bloom`). An
    * empty key set stores a null blob, which contains nothing. */
  def saveBloom(keys: DataFrame, path: String, kind: String,
      params: Map[String, Long] = Map.empty, fpp: Double = 0.01): Unit = {
    require(Seq("kind", "n_items", "num_bits", "bloom").forall(!params.contains(_)),
      s"reserved Bloom column among params: ${params.keys.mkString(",")}")
    val (nItems, numBits, blob) = buildBloomBlob(keys, fpp)
    val ps = params.toSeq.sortBy(_._1)
    val schema = StructType(StructField("kind", StringType) +:
      ps.map(p => StructField(p._1, LongType)) ++: Seq(
        StructField("n_items", LongType), StructField("num_bits", LongType),
        StructField("bloom", BinaryType)))
    val row = Row.fromSeq(kind +: ps.map(_._2) ++: Seq(nItems, numBits, blob.orNull))
    keys.sparkSession.createDataFrame(java.util.List.of(row), schema)
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveBloom]] dump, validating it was built by `expectKind`
    * and carries every parameter in `required` → (membership, params:
    * the build parameters plus `n_items` and `num_bits`). A dump without
    * a `bloom` column is refused before any of its rows is read. */
  def loadBloom(spark: SparkSession, path: String, expectKind: String,
      required: Seq[String] = Nil): (Members.Bloom, Map[String, Long]) = {
    val df = spark.read.parquet(path)
    require(df.schema.fields.exists(f => f.name == "bloom" && f.dataType == BinaryType) &&
      df.columns.contains("kind"), s"index at $path is not a Bloom dump")
    val rows = df.collect()
    require(rows.length == 1 && rows(0).getAs[String]("kind") == expectKind,
      s"index at $path is not a $expectKind dump")
    val r = rows(0)
    val params = df.schema.fields.collect {
      case StructField(name, LongType, _, _) => name -> r.getAs[Long](name)
    }.toMap
    checkRequired(path, params, required)
    (new Members.Bloom(Option(r.getAs[Array[Byte]]("bloom"))), params)
  }

  private def checkRequired(path: String, params: Map[String, Long],
      required: Seq[String]): Unit = {
    val missing = required.filterNot(params.contains)
    require(missing.isEmpty,
      s"index at $path is missing parameter(s) ${missing.mkString(",")}")
  }

  /** Distributed Bloom build: count the keys, size the filter at `fpp`,
    * run ONE `BloomFilterAggregate` — Spark's runtime-join-filter
    * machinery: distributed build, one binary blob out. The aggregate's
    * conf ceilings (defaults 4×10⁶ items / 2²⁶ bits — sized for the
    * optimizer's OWN injected join filters, not a corpus index) are
    * raised around the build and restored after: a corpus past ~4M keys
    * otherwise fails with AnalysisException at precisely the scale the
    * Bloom face exists for. → (n_items, num_bits, blob — None for an
    * empty key set: the aggregate returns null over zero rows). */
  private def buildBloomBlob(keys: DataFrame,
      fpp: Double): (Long, Long, Option[Array[Byte]]) = {
    require(fpp > 0 && fpp < 0.5, s"fpp must be in (0, 0.5): $fpp")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val n = math.max(1L, keys.count())
    val numBits = math.ceil(
      -(n.toDouble) * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    require(numBits <= (1L << 34),
      s"$n keys at fpp=$fpp need $numBits bloom bits (> 2^34 = 2 GiB) — " +
        "raise fpp or shard the index")
    val conf = keys.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldItems, oldBits) = (conf.getOption(itemsKey), conf.getOption(bitsKey))
    val blob =
      try {
        conf.set(itemsKey, math.max(n, 4000000L))
        conf.set(bitsKey, math.max(numBits, 67108864L))
        keys.select(Bridge.column(new BloomFilterAggregate(
            Bridge.expression(col(keys.columns.head)), Literal(n), Literal(numBits))
          .toAggregateExpression()).as("bloom"))
          .head().getAs[Array[Byte]](0)
      } finally {
        def restore(k: String, v: Option[String]): Unit =
          v.fold(conf.unset(k))(conf.set(k, _))
        restore(itemsKey, oldItems); restore(bitsKey, oldBits)
      }
    (n, numBits, Option(blob))
  }
}
