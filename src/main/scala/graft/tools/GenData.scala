package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic-data generator for SCALE SMOKES above the
  * driver-provided testdata (TESTDATA.md caps at sf0.1). Mirrors the
  * driver tables' schemas exactly (asserted against the sf0.1 parquet
  * footers by `GenDataSpec`) and their statistical shape loosely:
  * the same ~30-word document vocabulary, INTEGRAL l_quantity and
  * 2-decimal money/value columns (the driver's value shapes — full-
  * precision doubles made Spark's truncating long cast and DuckDB's
  * rounding BIGINT cast disagree on q91 at sf1), document lengths 8–90
  * words,
  * ~0.8% exact-dup and ~1.7% near-dup planted documents (so the near-dup
  * family has realistic work, not a degenerate zero-pair corpus), and
  * 10-cluster unit-normalized embeddings with ~1% near-identical copies.
  *
  * Everything derives from xxhash64 of (row id, salt) — no RNG state, no
  * Date.now: the same (sf, outDir, salt) invocation writes bit-identical
  * parquet on any machine. Generation is pure column expressions over
  * spark.range — parallel, no driver loops.
  *
  * Usage: graft.tools.GenData <outDir> [sfTimes10xOf0.1] [opts]
  *   sfTimes10xOf0.1 accepts fractions ("0.1" = an sf0.01-sized set)
  *   --salt=S    fold S into every hash seed: statistically independent
  *               datasets of the same shape (S="" keeps the hash seeds
  *               identical run-to-run; it does NOT reproduce pre-round-9
  *               bytes — the round-9 schema pins (timestamp_ntz, int64
  *               n_chars) and the round-10 value-shape fix (integral
  *               quantities, cent-rounded money) both changed the output)
  *   --tables=documents,embeddings
  *               write only the named tables — the near-dup/ANN heavy
  *               family needs only docs+embeddings, 10× faster smokes
  *   --dup-permille=N
  *               near-dup plant rate for `documents` in permille (default
  *               25 = the driver data's ~1.7% effective rate after the
  *               exact-dup overlap). 300 approximates the 30%-duplicated
  *               web-crawl shape — the corpus the adaptive verify join's
  *               DENSE (no-broadcast) path exists for; use with the scale
  *               probe to exercise that path on REAL volume instead of
  *               forced tunables.
  *   --vocab-growth=B
  *               Heaps-law vocabulary growth exponent (default 0 = the
  *               driver data's FIXED 30-word vocabulary, bit-identical
  *               output). With B > 0 the document vocabulary holds
  *               ceil(30 · times^B) distinct words (V ∝ corpus^B,
  *               B ≈ 0.5 for web text), so term/shingle document
  *               frequencies grow SUBLINEARLY with corpus size the way
  *               real corpora do — the fixed vocab saturates every df
  *               ∝ corpus, which makes the near-dup prefix-filter
  *               family's scaling look quadratic for synthetic-only
  *               reasons (the round-11 candidate-volume measurement).
  *   e.g. `GenData target/testdata/sf1 10` writes a 10× sf0.1 dataset
  *   (~6M lineitem, 50k docs, 20k embeddings) — the round-8 sf1 smoke.
  */
object GenData {

  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val outDir = pos(0)
    val times = if (pos.length > 1) pos(1).toDouble else 10.0 // × sf0.1
    val salt = args.collectFirst { case s if s.startsWith("--salt=") =>
      s.stripPrefix("--salt=") }.getOrElse("")
    val tables = args.collectFirst { case s if s.startsWith("--tables=") =>
      s.stripPrefix("--tables=").split(",").map(_.trim).filter(_.nonEmpty).toSet }
      .getOrElse(AllTables.toSet)
    val dupPermille = args.collectFirst { case s if s.startsWith("--dup-permille=") =>
      s.stripPrefix("--dup-permille=").toInt }.getOrElse(25)
    require(dupPermille >= 8 && dupPermille <= 1000,
      s"--dup-permille must be in [8, 1000], got $dupPermille")
    val vocabGrowth = args.collectFirst { case s if s.startsWith("--vocab-growth=") =>
      s.stripPrefix("--vocab-growth=").toDouble }.getOrElse(0.0)
    require(vocabGrowth >= 0.0 && vocabGrowth <= 1.0,
      s"--vocab-growth must be in [0, 1], got $vocabGrowth")
    val unknown = tables -- AllTables.toSet
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
    val cpus = graft.core.Session.cpus
    val spark = graft.core.Session.local(cpus)
    write(spark, outDir, times, cpus, salt, tables, dupPermille, vocabGrowth)
    spark.stop()
  }

  def write(spark: SparkSession, outDir: String, times: Double, cpus: Int,
      salt: String = "", tables: Set[String] = AllTables.toSet,
      dupPermille: Int = 25, vocabGrowth: Double = 0.0): Unit =
    new Gen(spark, outDir, times, cpus, salt, tables, dupPermille,
      vocabGrowth).writeAll()

  /** One generation run; `salt` folds into every hash seed (empty salt
    * keeps the hash seeds — and therefore every generated VALUE —
    * identical to the pre-salt generator; output is NOT byte-identical to
    * pre-round-9 datasets because the schema fixes in the same round
    * changed column TYPES: timestamps to timestamp_ntz, n_chars to
    * int64). */
  private final class Gen(spark: SparkSession, outDir: String, times: Double,
      cpus: Int, salt: String, tables: Set[String], dupPermille: Int,
      vocabGrowth: Double) {

    private def h(cols: Column*): Column =
      if (salt.isEmpty) xxhash64(cols: _*)
      else xxhash64((lit(salt) +: cols): _*)
    /** uniform in [0,1) from hashed seeds */
    private def u(cols: Column*): Column =
      pmod(h(cols: _*), lit(1000000L)).cast(DoubleType) / lit(1000000.0)
    private def pick(options: Seq[String], cols: Column*): Column = {
      val arr = typedLit(options)
      element_at(arr, (pmod(h(cols: _*), lit(options.size.toLong)) + 1).cast(IntegerType))
    }

    private val Vocab = Seq("spark", "batch", "part", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
      "filter", "query", "a", "big", "key", "window", "row", "table", "stream",
      "merge", "data", "the", "join", "vector", "customer")

    private val Epoch92 = 694224000L // 1992-01-01 UTC

    private def n(base: Long): Long = math.max(1L, (base * times).toLong)
    private val nLineitem = n(600000L)
    private val nOrders = n(150000L)
    private val nCustomer = n(15000L)
    private val nSupplier = n(1000L)
    private val nPart = n(20000L)
    private val nEvents = n(100000L)
    private val nDocs = n(5000L)
    private val nVecs = n(2000L)

    private def range(nRows: Long) = spark.range(0L, nRows, 1L, cpus)
    private def save(name: String)(df: => DataFrame): Unit =
      if (tables.contains(name)) {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[gendata] wrote $name")
      }

    def writeAll(): Unit = {
      save("region")(spark.createDataFrame(Seq(
        (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
        .toDF("r_regionkey", "r_name"))

      save("nation")(range(25).select(
        col("id").cast(IntegerType).as("n_nationkey"),
        concat(lit("nation_"), col("id")).as("n_name"),
        pmod(col("id"), lit(5L)).cast(IntegerType).as("n_regionkey")))

      save("customer")(range(nCustomer).select(
        col("id").as("c_custkey"),
        concat(lit("Customer#"), lpad(col("id").cast(StringType), 9, "0")).as("c_name"),
        pmod(h(col("id"), lit("cn")), lit(25L)).cast(IntegerType).as("c_nationkey"),
        round(u(col("id"), lit("cb")) * 11000.0 - 1000.0, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          col("id"), lit("cm")).as("c_mktsegment")))

      save("supplier")(range(nSupplier).select(
        col("id").as("s_suppkey"),
        concat(lit("Supplier#"), lpad(col("id").cast(StringType), 9, "0")).as("s_name"),
        pmod(h(col("id"), lit("sn")), lit(25L)).cast(IntegerType).as("s_nationkey"),
        round(u(col("id"), lit("sb")) * 11000.0 - 1000.0, 2).as("s_acctbal")))

      save("part")(range(nPart).select(
        col("id").as("p_partkey"),
        concat(pick(Vocab, col("id"), lit("pn1")), lit(" "),
          pick(Vocab, col("id"), lit("pn2")), lit(" "),
          pick(Vocab, col("id"), lit("pn3"))).as("p_name"),
        concat(lit("Brand#"), pmod(h(col("id"), lit("pb")), lit(50L))).as("p_brand"),
        concat(pick(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"),
            col("id"), lit("pt1")), lit(" "),
          pick(Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"),
            col("id"), lit("pt2")), lit(" "),
          pick(Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"),
            col("id"), lit("pt3"))).as("p_type"),
        (pmod(h(col("id"), lit("ps")), lit(50L)) + 1).cast(IntegerType).as("p_size"),
        round(u(col("id"), lit("pr")) * 2000.0 + 900.0, 2).as("p_retailprice")))

      save("orders")(range(nOrders).select(
        col("id").as("o_orderkey"),
        pmod(h(col("id"), lit("oc")), lit(nCustomer)).as("o_custkey"),
        pick(Seq("O", "F", "P"), col("id"), lit("os")).as("o_orderstatus"),
        round(u(col("id"), lit("op")) * 400000.0 + 1000.0, 2).as("o_totalprice"),
        timestamp_seconds(lit(Epoch92) +
          pmod(h(col("id"), lit("od")), lit(86400L * 2400)))
          .cast("timestamp_ntz").as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          col("id"), lit("opr")).as("o_orderpriority")))

      // lineitem: 4 lines per order on average, line number dense per order
      save("lineitem")(range(nLineitem).select(
        pmod(h(col("id"), lit("lo")), lit(nOrders)).as("l_orderkey"),
        pmod(h(col("id"), lit("lp")), lit(nPart)).as("l_partkey"),
        pmod(h(col("id"), lit("ls")), lit(nSupplier)).as("l_suppkey"),
        col("id"), // keep for the window below
        (floor(u(col("id"), lit("lq")) * 49.0) + 1.0).as("l_quantity"),
        round(u(col("id"), lit("le")) * 99000.0 + 900.0, 2).as("l_extendedprice"),
        (pmod(h(col("id"), lit("ld")), lit(11L)).cast(DoubleType) / 100.0).as("l_discount"),
        (pmod(h(col("id"), lit("lt")), lit(9L)).cast(DoubleType) / 100.0).as("l_tax"),
        pick(Seq("R", "A", "N"), col("id"), lit("lr")).as("l_returnflag"),
        pick(Seq("O", "F"), col("id"), lit("ll")).as("l_linestatus"),
        timestamp_seconds(lit(Epoch92) +
          pmod(h(col("id"), lit("lsd")), lit(86400L * 2500)))
          .cast("timestamp_ntz").as("l_shipdate"))
        .withColumn("l_linenumber",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_orderkey")).orderBy(col("id"))).cast(IntegerType))
        .drop("id")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate"))

      save("events")(range(nEvents).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(Epoch92 + 86400L * 9000) +
          pmod(h(col("id"), lit("et")), lit(86400L * 30)))
          .cast("timestamp_ntz").as("ts"),
        pmod(h(col("id"), lit("eu")), lit(math.max(1L, nEvents / 10))).as("user_id"),
        pick(Seq("click", "view", "purchase", "signup", "error"),
          col("id"), lit("ety")).as("event_type"),
        round(u(col("id"), lit("ev")) * 100.0, 2).as("value"),
        concat(lit("{\"device\":\""),
          pick(Seq("mobile", "desktop", "tablet"), col("id"), lit("ed")),
          lit("\",\"v\":"), pmod(h(col("id"), lit("epv")), lit(10L)),
          lit("}")).as("props")))

      // documents — planted duplicate structure:
      //   hash(id) < 8/1000            → EXACT copy of doc id-997
      //   hash(id) < dupPermille/1000  → NEAR-dup of doc id-991 (~1 in 12
      //                                  words mutated; default 25)
      // word w(base, p) = Vocab[h(base,"w",p)], so a clone regenerates its
      // base's words from the base id alone — no self-join needed.
      save("documents") {
        val docSel = pmod(h(col("id"), lit("dupsel")), lit(1000L))
        val isExact = docSel < 8 && col("id") >= 997
        val isNear = !isExact && docSel < dupPermille && col("id") >= 991
        val base = when(isExact, col("id") - 997)
          .when(isNear, col("id") - 991).otherwise(col("id"))
        val len = (pmod(h(base, lit("len")), lit(83L)) + 8).cast(IntegerType)
        // Heaps-law vocabulary: V = ceil(30 · times^B) distinct words.
        // B = 0 keeps the modulus at 30 and the exact legacy expression —
        // default output stays bit-identical. Indices past the literal
        // list render as "w<k>" (uniform draw over V: dfs then grow
        // ∝ corpus^(1-B), the sublinear shape real corpora have).
        val vocabSize =
          if (vocabGrowth == 0.0) 30L
          else math.max(30L, math.ceil(30.0 * math.pow(times, vocabGrowth)).toLong)
        def word(seed: Column, p: Column) =
          if (vocabSize == 30L)
            element_at(typedLit(Vocab), (pmod(h(seed, lit("w"), p), lit(30L)) + 1).cast(IntegerType))
          else {
            val k = pmod(h(seed, lit("w"), p), lit(vocabSize))
            when(k < 30, element_at(typedLit(Vocab), (k + 1).cast(IntegerType)))
              .otherwise(concat(lit("w"), k))
          }
        val words = transform(sequence(lit(1), len), p =>
          when(isNear && pmod(h(col("id"), lit("m"), p), lit(12L)) === 0,
            word(h(col("id"), lit("alt")), p))
            .otherwise(word(base, p)))
        range(nDocs)
          .withColumn("text", array_join(words, " "))
          .select(
            col("id").as("doc_id"),
            col("text"),
            pick(Seq("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "de"),
              col("id"), lit("dl")).as("lang"),
            concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
            length(col("text")).cast(LongType).as("n_chars"))
      }

      // embeddings — 10 WEAKLY-clustered hash-centered groups on the unit
      // sphere (center/noise scales chosen so typical within-cluster cosine
      // sits ≈0.1, far under the family's 0.4 thresholds — the driver data's
      // shape: q41 finds ~0.003% of pairs, not percent-level), plus ~1%
      // planted near-copies in two tiers (cos ≈ 0.999 and ≈ 0.93) so
      // SemDeDup/near-dup ANN have dup-density-scaled work. All doubles
      // until the final float cast.
      save("embeddings") {
        val vSel = pmod(h(col("id"), lit("edup")), lit(1000L))
        val isCopy = vSel < 10 && col("id") >= 777
        val vBase = when(isCopy, col("id") - 777).otherwise(col("id"))
        val vLabel = pmod(h(vBase, lit("lab")), lit(10L))
        val jitScale = when(pmod(h(col("id"), lit("jt")), lit(2L)) === 0, lit(0.005))
          .otherwise(lit(0.1))
        def comp(seed: Column, j: Column, cSalt: String, scale: Double) =
          (pmod(h(seed, lit(cSalt), j), lit(2001L)).cast(DoubleType) - 1000.0) / 1000.0 * scale
        val raw = transform(sequence(lit(0), lit(63)), j =>
          comp(vLabel, j, "c", 0.10) + comp(vBase, j, "n", 0.35) +
            when(isCopy, comp(col("id"), j, "jit", 1.0) * jitScale).otherwise(lit(0.0)))
        range(nVecs)
          .withColumn("raw", raw)
          .withColumn("nrm", sqrt(graft.functions.ArrayMath.dotDouble(col("raw"), col("raw"))))
          .select(
            col("id").as("vec_id"),
            transform(col("raw"), x => (x / col("nrm")).cast(FloatType)).as("embedding"),
            vLabel.cast(IntegerType).as("label"))
      }
    }
  }
}
