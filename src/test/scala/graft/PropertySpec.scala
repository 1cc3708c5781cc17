package graft

import graft.ext.Dedup
import graft.functions.ArrayMath
import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck parity properties (SURVEY §5.3): the semantics contracts that
  * are easy to get subtly wrong are checked against independent in-JVM
  * reference implementations on generated inputs.
  *
  *   - regex_split ≡ Rust `Regex::split` (keeps empty segments — Java
  *     `split(re, -1)` is the faithful reference, /root/reference/src/regex.rs:114)
  *   - `$name`→`${name}` substitution dialect translation (regex.rs:65-66)
  *   - prefix-filtered Jaccard all-pairs is LOSSLESS vs brute force
  *   - codegen SortedIntersectCount / ArrayDotLong vs plain Scala
  *
  * Each property batches its generated cases into ONE DataFrame so a
  * property evaluation costs one Spark job, not one per sample.
  */
object GraftProps extends Properties("graft") {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', ' ', ',', ';', 'x')).map(_.mkString))

  property("regexSplit keeps empty segments like Rust Regex::split") =
    Prop.forAll(Gen.listOfN(16, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = TextOps.regexSplit(df, "text", "[ ,;]+")
        .groupBy("id").agg(collect_list(struct(col("pos"), col("segment"))).as("segs"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).sortBy(_.getInt(0)).map(_.getString(1)))
        .toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val expect = t.split("[ ,;]+", -1).toSeq
        got.getOrElse(i.toLong, Nil) == expect
      }
    }

  property("translateSubst maps $name to ${name} and leaves $1 alone") =
    Prop.forAll(Gen.identifier.suchThat(_.nonEmpty), Gen.chooseNum(1, 9)) { (name, k) =>
      TextOps.translateSubst(s"$$$name-$$$k/") == s"$${$name}-$$$k/"
    }

  private val docGen: Gen[String] =
    Gen.chooseNum(1, 18).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  private def shingleSet(t: String, n: Int): Set[String] =
    if (t.length >= n) t.sliding(n).toSet else Set(t)

  property("prefix-filtered jaccardPairs is lossless vs brute force") =
    Prop.forAll(Gen.listOfN(8, docGen), Gen.oneOf(0.3, 0.5, 0.8)) { (texts, thr) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.jaccardPairs(Dedup.charShingles(docs, 3), thr)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sets = texts.map(shingleSet(_, 3))
      val expect = (for {
        i <- sets.indices; j <- sets.indices if i < j
        inter = (sets(i) intersect sets(j)).size
        union = (sets(i) union sets(j)).size
        jac = inter.toDouble / union if jac >= thr
      } yield (i.toLong, j.toLong) -> jac).toMap
      got.keySet == expect.keySet &&
        expect.forall { case (k, v) => math.abs(got(k) - v) < 1e-12 }
    }

  property("nearDupJaccard with exact copies == brute force over all docs") =
    Prop.forAll(Gen.listOfN(5, docGen), Gen.listOfN(10, Gen.chooseNum(0, 4)),
        Gen.oneOf(0.4, 0.6)) { (pool, picks, thr) =>
      // duplicate-heavy corpus: each doc drawn from a 5-text pool
      val texts = picks.map(pool(_))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.nearDupJaccard(docs, 3, Int.MaxValue, thr)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sets = texts.map(shingleSet(_, 3))
      val expect = (for {
        i <- sets.indices; j <- sets.indices if i < j
        inter = (sets(i) intersect sets(j)).size
        union = (sets(i) union sets(j)).size
        jac = inter.toDouble / union if jac >= thr
      } yield (i.toLong, j.toLong) -> jac).toMap
      got.keySet == expect.keySet &&
        expect.forall { case (k, v) => math.abs(got(k) - v) < 1e-12 }
    }

  private val bmDocGen: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "rare"))
        .map(_.mkString(" ")))

  property("bm25TopK == in-JVM reference scorer (same IEEE tree)") =
    Prop.forAll(Gen.listOfN(10, bmDocGen)) { texts =>
      val terms = Seq("alpha", "rare")
      val (k1, b) = (1.2, 0.75)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.ext.Search.bm25TopK(docs, terms, topK = texts.size, k1, b)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_terms"), r.getAs[Long]("score_fp")))
      val toks = texts.map(_.split(" ", -1).toSeq)
      val n = texts.size.toLong
      val avgdl = toks.map(_.size.toLong).sum.toDouble / n.toDouble
      val dfT = terms.map(t => t -> toks.count(_.contains(t)).toLong).toMap
      def fp(tf: Long, df: Long, dl: Long): Long = {
        val idf = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5)
        val sat = (tf.toDouble * (k1 + 1.0)) /
          (tf.toDouble + k1 * (1.0 - b + b * (dl.toDouble / avgdl)))
        math.floor(idf * sat * 1000000.0).toLong
      }
      val expect = toks.zipWithIndex.collect {
        case (ts, i) if terms.exists(ts.contains) =>
          val present = terms.filter(ts.contains)
          (i.toLong, present.size.toLong,
            present.map(t => fp(ts.count(_ == t).toLong, dfT(t), ts.size.toLong)).sum)
      }.toSet
      // topK covers every matching doc, so set-equality checks scoring and
      // the orderBy check the ranking contract
      got.toSet == expect &&
        got.sameElements(got.sortBy(r => (-r._3, r._1)))
    }

  property("clusterPairs == union-find connected components") =
    // ONE clusterPairs run per evaluation (per the file's batching
    // discipline — the iterative loop costs several jobs): the generated
    // graphs are offset into disjoint id ranges and unioned; components of
    // a disjoint union are the union of per-graph components.
    Prop.forAll(Gen.listOfN(6,
        Gen.chooseNum(2, 10).flatMap(n =>
          Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, n.toLong), Gen.chooseNum(0L, n.toLong)))
            .map(_.filter(p => p._1 != p._2))))) { graphs =>
      val edges = graphs.zipWithIndex.flatMap { case (g, k) =>
        (if (g.isEmpty) List((0L, 1L)) else g) // all-self-loop draw → one fixed edge
          .map(p => (1000L * k + math.min(p._1, p._2), 1000L * k + math.max(p._1, p._2)))
      }.distinct
      val got = Dedup.clusterPairs(edges.toDF("i", "j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.map(k => k -> find(k)).toMap
      got == expect
    }

  private val sortedArrGen: Gen[Seq[Long]] =
    Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 40L)).map(_.distinct.sorted))

  property("SortedIntersectCount == set intersection size") =
    Prop.forAll(Gen.listOfN(12, Gen.zip(sortedArrGen, sortedArrGen))) { pairs =>
      val df = pairs.toDF("a", "b")
      val got = df.select(ArrayMath.sortedIntersectCount(col("a"), col("b"))).as[Long].collect()
      got.toSeq == pairs.map { case (a, b) => (a.toSet intersect b.toSet).size.toLong }
    }

  property("ArrayDotLong == Scala dot product") =
    Prop.forAll(Gen.listOfN(10,
        Gen.zip(Gen.listOfN(8, Gen.chooseNum(-1000L, 1000L)),
                Gen.listOfN(8, Gen.chooseNum(-1000L, 1000L))))) { pairs =>
      val df = pairs.toDF("a", "b")
      val got = df.select(ArrayMath.dotLong(col("a"), col("b"))).as[Long].collect()
      got.toSeq == pairs.map { case (a, b) => a.zip(b).map { case (x, y) => x * y }.sum }
    }

  property("SumLongArray == element-wise Scala sums per group") =
    Prop.forAll(Gen.listOfN(24,
        Gen.zip(Gen.chooseNum(0, 3),
                Gen.listOfN(6, Gen.chooseNum(-1000L, 1000L))))) { rows =>
      val df = rows.map { case (g, a) => (g.toLong, a) }.toDF("g", "a")
      val got = df.groupBy(col("g"))
        .agg(graft.functions.ArrayAgg.sumLongArray(col("a")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val expect = rows.groupBy(_._1.toLong).map { case (g, rs) =>
        g -> (0 until 6).map(i => rs.map(_._2(i)).sum)
      }
      got.keySet == expect.keySet && expect.forall { case (g, s) => got(g) == s }
    }

  // includes multi-byte UTF-8, empties, and separators-only strings —
  // the digest-bytes path must agree with the hex-string path everywhere
  private val hashTextGen: Gen[String] =
    Gen.chooseNum(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'Z', '0', ' ', 'é', '語', '!')).map(_.mkString))

  property("codegen Hash60 == conv(substring(md5)) spelling") =
    Prop.forAll(Gen.listOfN(24, hashTextGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val neq = df.select(
          graft.functions.TextMetrics.hash60(col("t")).as("n"),
          conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("o"))
        .filter(col("n") =!= col("o")).count()
      neq == 0L
    }

  property("WordGramHash60 == per-window hash60(concat_ws(slice)) incl. short arrays") =
    Prop.forAll(Gen.listOfN(16, Gen.chooseNum(0, 9).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("agg", "row", "é語", "", "x"))))) { tokenLists =>
      val df = tokenLists.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "ws")
      val fused = df.select(col("id"),
          graft.functions.TextMetrics.wordGramHash60(col("ws"), 3).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val composed = df.select(col("id"),
          when(size(col("ws")) >= 3, transform(
            sequence(lit(1), size(col("ws")) - 2),
            i => conv(substring(md5(concat_ws(" ", slice(col("ws"), i, lit(3)))), 1, 15), 16, 10).cast("long")))
            .otherwise(array().cast("array<long>")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      fused == composed
    }

  // unicode + spaces + empties: the codegen shingle sets must equal the
  // declarative HOF forms they replaced (round 11) byte for byte
  private val shingleTextGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', ' ', ' ', 'é', '語', ',')).map(_.mkString))

  property("WinnowFps == explode + window-min + distinct (round-16 map-only kernel)") =
    Prop.forAll(Gen.listOfN(10, shingleTextGen),
        Gen.chooseNum(1, 5), Gen.chooseNum(1, 5)) { (texts, k, w) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val fused = df.select(col("id"),
          explode(graft.functions.TextMetrics.winnowFps(col("t"), k, w)).as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the declarative formulation this kernel replaced, replayed verbatim
      val g = df
        .select(col("id"),
          greatest(length(col("t")) - (k - 1), lit(1)).as("ng"),
          posexplode(transform(
            sequence(lit(1), greatest(length(col("t")) - (k - 1), lit(1))),
            i => col("t").substr(i, lit(k)))).as(Seq("pos", "gram")))
        .withColumn("h", graft.functions.TextMetrics.hash60(col("gram")))
      val wdw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
      val composed = g.withColumn("mh", min(col("h")).over(wdw))
        .filter(col("pos") <= greatest(col("ng") - (w - 1), lit(1)) - 1)
        .select(col("id"), col("mh").as("fp")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      fused == composed
    }

  property("CharNgramSet == array_distinct(transform(sequence, substr))") =
    Prop.forAll(Gen.listOfN(16, shingleTextGen), Gen.chooseNum(1, 6)) { (texts, n) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val neq = df.select(
          graft.functions.TextShingles.charNgramSet(col("t"), n).as("g"),
          array_distinct(transform(
            sequence(lit(1), greatest(length(col("t")) - (n - 1), lit(1))),
            i => col("t").substr(i, lit(n)))).as("o"))
        .filter(col("g") =!= col("o")).count()
      neq == 0L
    }

  property("WordNgramSet == array_distinct(transform(sequence, concat_ws(slice(split))))") =
    Prop.forAll(Gen.listOfN(16, shingleTextGen), Gen.chooseNum(1, 4)) { (texts, n) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val ws = split(col("t"), " ", -1)
      val neq = df.select(
          graft.functions.TextShingles.wordNgramSet(col("t"), n).as("g"),
          array_distinct(transform(
            sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
            i => concat_ws(" ", slice(ws, i, lit(n))))).as("o"))
        .filter(col("g") =!= col("o")).count()
      neq == 0L
    }

  // span-dedup pair vs a from-scratch in-JVM reference: positional grams,
  // min-id holder election, islands merge, token-level strip rule with the
  // keep-override — every rule recomputed independently in plain Scala
  private val spanDocGen: Gen[String] =
    Gen.chooseNum(0, 14).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))

  private def refSpanModel(texts: List[String], n: Int) = {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.split(" ", -1).toVector) }
    val occ = docs.flatMap { case (id, ws) =>
      if (ws.length >= n) (0 to ws.length - n).map(i => (id, i + 1L, ws.slice(i, i + n).mkString(" ")))
      else Nil
    }
    val byGram = occ.groupBy(_._3).filter { case (_, os) => os.map(_._1).distinct.size >= 2 }
    val holder = byGram.map { case (g, os) => g -> os.map(_._1).min }
    val hits = byGram.values.flatten.map(o => (o._1, o._2, holder(o._3) == o._1)).toList
    (docs, hits)
  }

  private def refIslands(ps: List[Long]): List[List[Long]] =
    ps.sorted.foldLeft(List.empty[List[Long]]) {
      case ((run @ (last :: _)) :: rest, p) if p == last + 1 => (p :: run) :: rest
      case (acc, p) => List(p) :: acc
    }.map(_.reverse).reverse

  property("repeatedSpans == in-JVM reference (positions, islands, min-run)") =
    Prop.forAll(Gen.listOfN(6, spanDocGen), Gen.chooseNum(1, 3)) { (texts, minG) =>
      val n = 3
      val (_, hits) = refSpanModel(texts, n)
      val expect = hits.groupBy(_._1).flatMap { case (id, hs) =>
        refIslands(hs.map(_._2).distinct).collect {
          case run if run.size >= minG =>
            (id, run.head, run.last - run.head + n, run.size.toLong)
        }
      }.toSet
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      graft.core.Caches.unpersistAll()
      val got = Dedup.repeatedSpans(df, n, minG).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      got == expect
    }

  property("stripRepeatedSpans == in-JVM reference (keep-override token rule)") =
    Prop.forAll(Gen.listOfN(6, spanDocGen)) { texts =>
      val n = 3
      val (docs, hits) = refSpanModel(texts, n)
      val expect = docs.map { case (id, ws) =>
        val cover = (keep: Boolean) => hits.collect {
          case (d, p, k) if d == id && k == keep => (p until p + n)
        }.flatten.toSet
        val rm = cover(false) -- cover(true)
        val kept = ws.zipWithIndex.collect { case (w, i) if !rm(i + 1L) => w }
        val spans = refIslands(rm.toList).size.toLong
        id -> (kept.mkString(" "), ws.length.toLong, rm.size.toLong, spans)
      }.toMap
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      graft.core.Caches.unpersistAll()
      val got = Dedup.stripRepeatedSpans(df, n).collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      got == expect
    }

  private def md5bucket(t: String): Long =
    (BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
      % 100).toLong

  private def refDecontaminate(texts: List[String], n: Int) = {
    // the operator's rule, restated serially: a TRAIN doc loses every
    // token covered by a gram occurring in any TEST-bucket doc
    val docs = texts.zipWithIndex.collect { case (t, i) if t != null =>
      (i.toLong, t.split(" ", -1).toVector, md5bucket(t)) }
    def grams(ws: Vector[String]) =
      if (ws.length >= n) (0 to ws.length - n).map(i => (i + 1L, ws.slice(i, i + n).mkString(" ")))
      else Nil
    val testGrams = docs.filter(_._3 >= 90).flatMap(d => grams(d._2).map(_._2)).toSet
    docs.filter(_._3 < 80).map { case (id, ws, _) =>
      val rm = grams(ws).collect { case (p, g) if testGrams(g) =>
        p until p + n }.flatten.toSet
      val kept = ws.zipWithIndex.collect { case (w, i) if !rm(i + 1L) => w }
      id -> (kept.mkString(" "), ws.length.toLong, rm.size.toLong,
        refIslands(rm.toList).size.toLong)
    }.toMap
  }

  property("decontaminateSpans == in-JVM reference (split rule, cover cut)") =
    Prop.forAll(Gen.listOfN(10, spanDocGen)) { texts =>
      val expect = refDecontaminate(texts, 3)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      graft.core.Caches.unpersistAll()
      val got = graft.ext.TextAnalysis.decontaminateSpans(df, 3).collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      got == expect
    }

  property("repeatedSpansAgainst == in-JVM reference (corpus grams only)") =
    Prop.forAll(Gen.listOfN(4, spanDocGen), Gen.listOfN(4, spanDocGen),
        Gen.chooseNum(1, 3)) { (dTexts, cTexts, minG) =>
      val n = 3
      def grams(t: String) = {
        val ws = t.split(" ", -1).toVector
        if (ws.length >= n) (0 to ws.length - n).map(i => (i + 1L, ws.slice(i, i + n).mkString(" ")))
        else Nil
      }
      val cset = cTexts.flatMap(grams(_).map(_._2)).toSet
      val expect = dTexts.zipWithIndex.flatMap { case (t, i) =>
        val hitPs = grams(t).collect { case (p, g) if cset(g) => p }
        refIslands(hitPs.toList).collect {
          case run if run.size >= minG =>
            (i.toLong, run.head, run.last - run.head + n, run.size.toLong)
        }
      }.toSet
      val delta = dTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val corpus = cTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      graft.core.Caches.unpersistAll()
      val got = graft.ext.Dedup.repeatedSpansAgainst(delta, corpus, n, minG).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      got == expect
    }

  private def hash60of(t: String): BigInt =
    BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)

  property("kmeansAssignFp == serial Lloyd reference (floored means, min-cell ties)") =
    Prop.forAll(Gen.listOfN(12,
        Gen.listOfN(4, Gen.chooseNum(-1.0f, 1.0f)))) { vecs =>
      val (k, iters) = (3, 2)
      val x = vecs.zipWithIndex.map { case (v, i) =>
        i.toLong -> v.map(f => math.floor(f.toDouble * 32768.0).toLong).toArray }
      var cell: Map[Long, Int] =
        x.map { case (id, _) => id -> (hash60of(id.toString) % k).toInt }.toMap
      for (_ <- 1 to iters) {
        val cents = x.groupBy(p => cell(p._1)).map { case (c, mem) =>
          c -> Array.tabulate(4) { i =>
            val s = mem.map(_._2(i)).sum
            math.floor(s.toDouble / mem.size.toDouble).toLong }
        }.toSeq.sortBy(_._1)
        cell = x.map { case (id, xv) =>
          id -> cents.map { case (c, m) =>
            (m.map(v => v * v).sum - 2L * m.indices.map(i => xv(i) * m(i)).sum, c)
          }.min._2
        }.toMap
      }
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      graft.core.Caches.unpersistAll()
      val got = graft.ext.Similarity.kmeansAssignFp(df, k, iters).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      got == cell
    }

  private val ppsDocGen: Gen[String] = Gen.frequency(
    (8, Gen.chooseNum(1, 30)),
    (1, Gen.const(200)),                 // longer than most strides → n_hits > 1
    (1, Gen.const(-1)))                  // marker → null text
    .map(m => if (m < 0) null else (1 to m).map(i => s"w$i").mkString(" "))

  property("ppsTokenSample == serial systematic-PPS reference (midpoint picks)") =
    Prop.forAll(Gen.listOfN(12, ppsDocGen), Gen.chooseNum(1L, 50L)) { (texts, k) =>
      val toks = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, Option(t).map(_.split(" ", -1).length.toLong)) }
      var acc = 0L
      val laid = toks.map { case (id, n) =>
        val r = (id, n, acc); acc += n.getOrElse(0L); r }
      val total = acc
      (total > 0L) ==> {
        val picks = (0L until k).map(j => (BigInt(2 * j + 1) * total / (2 * k)).toLong)
        val expect = laid.collect { case (id, Some(n), b)
            if picks.exists(p => p >= b && p < b + n) =>
          id -> (n, b, picks.count(p => p >= b && p < b + n).toLong) }.toMap
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        graft.core.Caches.unpersistAll()
        val got = graft.ext.Sharding.ppsTokenSample(df, k).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        got == expect
      }
    }

  property("WordGramSeq == when(#tokens >= n, transform(sequence, concat_ws(slice(split))))") =
    Prop.forAll(Gen.listOfN(16, shingleTextGen), Gen.chooseNum(1, 4)) { (texts, n) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val ws = split(col("t"), " ", -1)
      val neq = df.select(
          graft.functions.TextShingles.wordGramSeq(col("t"), n).as("g"),
          when(size(ws) >= n, transform(
            sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n)))))
            .otherwise(array().cast("array<string>")).as("o"))
        .filter(col("g") =!= col("o")).count()
      neq == 0L
    }

  // dedupSentences: small sentence alphabet so cross-doc duplicates are
  // dense; terminators only split when followed by a space (the
  // SentenceEndRe contract), which the reference mirrors verbatim
  private val sentWordGen: Gen[String] =
    Gen.oneOf("aa", "b.", "c!", "dd", "e?", "f")
  private val sentDocGen: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, sentWordGen).map(_.mkString(" ")))

  property("dedupSentences == in-JVM first-occurrence reference") =
    Prop.forAll(Gen.listOfN(10, sentDocGen)) { texts =>
      def sentencesOf(t: String): Seq[String] =
        t.replaceAll("([.!?]) +", "$1\u001f").split("\u001f", -1)
          .toSeq.filter(_.nonEmpty)
      val seen = scala.collection.mutable.Set[String]()
      val expect = texts.zipWithIndex.flatMap { case (t, i) =>
        val ss = sentencesOf(t)
        if (ss.isEmpty) None
        else {
          val kept = ss.filter(s => seen.add(s))
          Some(i.toLong -> ((kept.mkString(" "), ss.size.toLong,
            (ss.size - kept.size).toLong)))
        }
      }.toMap
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ext.TextAnalysis.dedupSentences(df).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("clean_text"), r.getAs[Long]("n_sents"),
            r.getAs[Long]("n_removed")))).toMap
      got == expect
    }

  // minhashBandKeys explodes the serve kernel (MinHashBands) per row; the
  // reference is the formula it replaced, written out: the 128-min
  // signature over one row per word shingle, then per band the
  // band-salted xxhash64 of that band's minima
  private val bandWordGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""),
    8 -> Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "é", "")).map(_.mkString(" "))))

  property("minhashBandKeys == minhashSignature(wordShingles) + salted band hash") =
    Prop.forAll(Gen.listOfN(12, bandWordGen),
        Gen.oneOf((5, 128, 4), (3, 128, 4), (8, 64, 8))) { case (texts, (n, h, r)) =>
      // duplicate texts under their own ids: one row is one document
      val df = (texts ++ texts.take(3)).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.minhashBandKeys(df, n, h, r).collect().map(_.getLong(0)).toSet
      val sig = Dedup.minhashSignature(Dedup.wordShingles(df, n), h)
      val bands = (0 until h / r).map(b =>
        xxhash64(lit(b) +: (b * r until (b + 1) * r).map(k => col(s"m$k")): _*))
      val expect = sig.select(explode(array(bands: _*))).distinct()
        .collect().map(_.getLong(0)).toSet
      got == expect
    }

}
