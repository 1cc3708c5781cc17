package graft.core

import java.nio.file.{Files, Paths}
import graft.ext.{Dedup, Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Using

/** [[KeySets]] is the one writer, reader and prober of a gate index. */
class KeySetsSpec extends graft.SparkSpec {

  import spark.implicits._

  private val BandParams = Seq("n", "num_hashes", "rows_per_band")
  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  /** Every probe of `keys` through `m` is true. */
  private def containsAll(m: KeySets.Members, keys: Seq[Long]): Boolean =
    keys.toDF("k").select(m.contains(col("k"))).collect().forall(_.getBoolean(0))

  test("src/main/scala: only core/KeySets.scala touches the Bloom expressions or a dump's kind column") {
    val root = Paths.get("src/main/scala")
    val marker = "BloomFilterAggregate|BloomFilterMightContain|\"kind\"".r
    val found = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => marker.findFirstIn(Files.readString(f)).nonEmpty)
      .map(root.relativize))
    assert(found == Seq(Paths.get("graft/core/KeySets.scala")), found)
  }

  test("every gate kind's literal and Bloom dump loads only as itself, on its own face") {
    val literal = Seq(TextAnalysis.ContaminationKind, Dedup.ExactDupKind,
      Dedup.NearDupKind, Multimodal.DHashKind, Multimodal.WavFpKind)
    val bloom = Seq(Dedup.ExactDupBloomKind, Dedup.NearDupBloomKind,
      Multimodal.DHashBloomKind, Multimodal.WavFpBloomKind)
    val keys = Seq(3L, 11L, 42L)
    val dir = tmp("ks-matrix")
    def params(kind: String) =
      if (kind == Dedup.NearDupKind || kind == Dedup.NearDupBloomKind)
        Map("n" -> 5L, "num_hashes" -> 128L, "rows_per_band" -> 4L)
      else if (kind == TextAnalysis.ContaminationKind) Map("n" -> 8L)
      else Map.empty[String, Long]
    def required(kind: String) = params(kind).keys.toSeq
    for (k <- literal) KeySets.save(keys.toDF("k"), s"$dir/lit_$k", k, params(k))
    for (k <- bloom) KeySets.saveBloom(keys.toDF("k"), s"$dir/bloom_$k", k, params(k))
    val dumps = literal.map(k => (s"$dir/lit_$k", k, false)) ++
      bloom.map(k => (s"$dir/bloom_$k", k, true))
    for ((path, built, isBloom) <- dumps) {
      for (reader <- literal) {
        if (!isBloom && reader == built) {
          val (m, ps) = KeySets.loadCollected(spark, path, reader, required(reader))
          assert(m.keys.toSeq == keys && ps == params(reader), path)
        } else intercept[IllegalArgumentException] {
          KeySets.load(spark, path, reader, required(reader))
        }
      }
      for (reader <- bloom) {
        if (isBloom && reader == built) {
          val (m, ps) = KeySets.loadBloom(spark, path, reader, required(reader))
          assert(m.blob.isDefined && containsAll(m, keys), path)
          assert(ps -- Seq("n_items", "num_bits") == params(reader), path)
        } else intercept[IllegalArgumentException] {
          KeySets.loadBloom(spark, path, reader, required(reader))
        }
      }
    }
    // the Bloom kinds read through load, and the literal kinds through
    // loadBloom, are refused too: the face is part of the format
    for (k <- bloom) intercept[IllegalArgumentException] {
      KeySets.load(spark, s"$dir/bloom_$k", k)
    }
    for (k <- literal) intercept[IllegalArgumentException] {
      KeySets.loadBloom(spark, s"$dir/lit_$k", k)
    }
  }

  test("older layouts load: the untagged band dump and the three one-row Bloom dumps") {
    val dir = tmp("ks-legacy")
    // the untagged band layout: band_key rows plus bare parameter kinds
    val bandKeys = Seq(-7L, 5L, 1L << 40)
    val geometry = Seq("n" -> 3L, "num_hashes" -> 128L, "rows_per_band" -> 4L)
    (bandKeys.map(Dedup.NearDupKind -> _) ++ geometry).toDF("kind", "value")
      .write.parquet(s"$dir/band")
    val (band, bandPs) = KeySets.loadCollected(spark, s"$dir/band", Dedup.NearDupKind, BandParams)
    assert(band.keys.toSeq == bandKeys.sorted && bandPs == geometry.toMap)
    // an empty old band dump (an empty corpus) still loads empty
    geometry.toDF("kind", "value").write.parquet(s"$dir/band_empty")
    val (empty, emptyPs) =
      KeySets.loadCollected(spark, s"$dir/band_empty", Dedup.NearDupKind, BandParams)
    assert(empty.keys.isEmpty && emptyPs == geometry.toMap)
    // the bare names are parameters only where they are required
    intercept[IllegalArgumentException] {
      KeySets.load(spark, s"$dir/band", TextAnalysis.ContaminationKind, Seq("n"))
    }

    // the one-row Bloom layouts, each written with its own column list
    val keys = Seq(9L, 99L, 999L)
    val filter = org.apache.spark.util.sketch.BloomFilter.create(3L, 64L)
    keys.foreach(k => filter.putLong(k))
    val out = new java.io.ByteArrayOutputStream
    filter.writeTo(out)
    val blob = out.toByteArray
    Seq((Dedup.ExactDupBloomKind, 3L, 64L, blob))
      .toDF("kind", "n_items", "num_bits", "bloom").write.parquet(s"$dir/fp")
    Seq((Dedup.NearDupBloomKind, 4L, 128L, 4L, 3L, 64L, blob))
      .toDF("kind", "n", "num_hashes", "rows_per_band", "n_items", "num_bits", "bloom")
      .write.parquet(s"$dir/bandbloom")
    Seq((Multimodal.DHashBloomKind, 3L, 64L, blob))
      .toDF("kind", "n_items", "num_bits", "bloom").write.parquet(s"$dir/dhash")
    val sizes = Map("n_items" -> 3L, "num_bits" -> 64L)
    for ((path, kind, ps) <- Seq(
        (s"$dir/fp", Dedup.ExactDupBloomKind, sizes),
        (s"$dir/bandbloom", Dedup.NearDupBloomKind,
          sizes ++ Map("n" -> 4L, "num_hashes" -> 128L, "rows_per_band" -> 4L)),
        (s"$dir/dhash", Multimodal.DHashBloomKind, sizes))) {
      val req = ps.keys.toSeq.filterNot(sizes.contains)
      val (m, loaded) = KeySets.loadBloom(spark, path, kind, req)
      assert(m.blob.exists(java.util.Arrays.equals(_, blob)), path)
      assert(loaded == ps && containsAll(m, keys), path)
    }
  }

  test("a missing required parameter is refused on both faces") {
    val dir = tmp("ks-params")
    KeySets.save(Seq(1L).toDF("k"), s"$dir/lit", Dedup.NearDupKind, Map("n" -> 5L))
    KeySets.saveBloom(Seq(1L).toDF("k"), s"$dir/bloom", Dedup.NearDupBloomKind, Map("n" -> 5L))
    val lit = intercept[IllegalArgumentException] {
      KeySets.load(spark, s"$dir/lit", Dedup.NearDupKind, BandParams)
    }
    assert(lit.getMessage.contains("num_hashes,rows_per_band"), lit.getMessage)
    val blo = intercept[IllegalArgumentException] {
      KeySets.loadBloom(spark, s"$dir/bloom", Dedup.NearDupBloomKind, BandParams)
    }
    assert(blo.getMessage.contains("num_hashes,rows_per_band"), blo.getMessage)
  }

  test("Members: null key → null on both faces; an empty Bloom build contains nothing") {
    val probes = Seq[java.lang.Long](1L, 2L, null).toDF("k")
    val dir = tmp("ks-members")
    KeySets.saveBloom(Seq(1L).toDF("k"), s"$dir/one", "fam_a")
    KeySets.saveBloom(Seq.empty[Long].toDF("k"), s"$dir/none", "fam_a")
    for ((m, expect) <- Seq[(KeySets.Members, Seq[Option[Boolean]])](
        KeySets.Members(Seq(1L, 1L)) -> Seq(Some(true), Some(false), None),
        KeySets.loadBloom(spark, s"$dir/one", "fam_a")._1 -> Seq(Some(true), Some(false), None),
        KeySets.loadBloom(spark, s"$dir/none", "fam_a")._1 -> Seq(Some(false), Some(false), None))) {
      val got = probes.select(m.contains(col("k"))).collect()
        .map(r => Option.unless(r.isNullAt(0))(r.getBoolean(0))).toSeq
      assert(got == expect)
    }
  }

  test("a gate with no Bloom face refuses bloom_path") {
    val dir = tmp("ks-nobloom")
    KeySets.saveBloom(Seq(1L).toDF("k"), s"$dir/idx", "fam_a")
    val spec = graft.spec.SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: contamination_gate
         |      config: {bloom_path: "$dir/idx"}
         |output: {type: stdout}
         |""".stripMargin)
    val e = intercept[RuntimeException] {
      graft.spec.Compiler.pipeline(spec)(Seq("some text").toDF("text"))
    }
    assert(e.getMessage.contains("no Bloom face"), e.getMessage)
  }
}
