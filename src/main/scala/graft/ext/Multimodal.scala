package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads are opaque BINARY
  * columns with typed metadata, processed in partition-sized batches.
  *
  * The actual media codecs are NOT available in this environment, so the
  * decode step is a clearly-marked deterministic STUB ([[decodeStub]]) — but
  * everything Spark-cares-about is real and tested: the schema, the binary
  * column handling, the mapPartitions batch shape (one decoder instance per
  * partition, streamed rows — the same lifecycle a JNI/FFI codec needs), and
  * the frame-sampling / feature-extraction operators downstream.
  *
  * Scale posture: payloads never pass through a shuffle wider than needed —
  * decode/feature ops are narrow (mapPartitions), and metadata-only plans
  * prune the payload column at the parquet scan.
  */
object Multimodal {

  /** Canonical media row: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Wrap a text corpus as media rows (UTF-8 payload bytes) — the
    * deterministic stand-in for reading real media files; the binary-column
    * plumbing downstream is identical. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("application/octet-stream").as("media_type"),
      map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta"))

  case class DecodedMedia(media_id: Long, width: Int, height: Int,
      n_bytes: Long, mean_byte: Double)

  /** STUB decoder ??? — stands in for an image/audio codec (not present in
    * this container). Deterministic fake: "dimensions" derived from payload
    * length, "pixels" are the raw bytes. Runs one decoder per partition via
    * mapPartitions — the real-codec batch shape (amortized init, streamed
    * rows, no per-row JNI setup). */
  def decodeStub(media: DataFrame): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init site (real codec: allocate decoder context here)
        it.map { case (id, bytes) =>
          val n = if (bytes == null) 0 else bytes.length
          val w = math.max(1, math.sqrt(n.toDouble).toInt)
          val h = if (w == 0) 0 else n / w
          var s = 0L
          var i = 0
          while (i < n) { s += (bytes(i) & 0xff); i += 1 }
          DecodedMedia(id, w, h, n.toLong, if (n == 0) 0.0 else s.toDouble / n)
        }
      }
  }

  /** Frame sampling: every `stride`-th block of `frameLen` payload bytes,
    * as (media_id, frame_no, frame: BINARY). Pure Column ops — the payload
    * is sliced, never copied through a UDF. */
  def frameSample(media: DataFrame, frameLen: Int, stride: Int): DataFrame =
    media.select(col("media_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest(((length(col("payload")) - frameLen) / stride).cast(IntegerType), lit(0))),
          i => substring(col("payload"), (i * stride + 1).cast(IntegerType), lit(frameLen))))
          .as(Seq("frame_no", "frame")))

  /** Metadata-only projection — demonstrates payload pruning: this plan's
    * parquet ReadSchema must not contain the payload column. */
  def metaOnly(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("media_type"),
      element_at(col("meta"), "lang").as("lang"))

  /** Container-header sniff ([[graft.functions.MediaHeader]]) — the
    * codec-free metadata pass: format id + dimensions / audio params
    * parsed from the payload's first bytes. Map-only; the fields a media
    * crawl filters and routes on before any codec runs. */
  def sniff(media: DataFrame): DataFrame =
    media
      .withColumn("hdr", graft.functions.MediaHeaderFns.mediaHeader(col("payload")))
      .select(col("media_id"), col("hdr.format").as("format"),
        col("hdr.width").as("width"), col("hdr.height").as("height"),
        col("hdr.sample_rate").as("sample_rate"),
        col("hdr.channels").as("channels"),
        col("hdr.duration_ms").as("duration_ms"))

  /** Perceptual near-duplicate pairs over an image payload column — the
    * content-level dedup face of the multimodal column (the header
    * sniff routes; THIS collapses re-encodes/minor edits): every
    * payload [[graft.functions.PerceptualHashFns.imageDHash]]-hashes
    * (codec-free PGM/BMP; un-decodable payloads drop — they have no
    * content hash), and [[Dedup.hammingPairs]] emits every pair within
    * `maxHamming` bits, exactly: pigeonhole banding into maxHamming+1
    * bit-bands plus a popcount verify, or its dense broadcast dual while
    * the media frame's stats fit 4 MB (`PairsDenseMaxBytes`).
    *
    * Scale shape (the [[Dedup]] candidate discipline): hashes are one
    * map-only projection; the band join shuffles slim (band, code, id,
    * hash) rows and the verify is `bit_count(xor)` over the hashes the
    * join carried — integer codegen, no vectors, no payloads past the
    * first projection. */
  def perceptualDupPairs(media: DataFrame, maxHamming: Int = 3,
      idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    Dedup.hammingPairs(media.select(col(idCol).as("id"),
        graft.functions.PerceptualHashFns.imageDHash(col(payloadCol)).as("h"))
      .filter(col("h").isNotNull), maxHamming, media, PairsDenseMaxBytes)

  /** [[Dedup.hammingPairs]]' dense-dual bound for media hashes: 4 MB of
    * the media frame's stats. Measured on 4 cores with q155's PGM frames
    * over sf0.1's documents plus word-shuffled, id-offset copies, forced
    * paths, warm medians of two rounds, dense vs banded: ~5k payloads
    * 0.43/0.31 s vs 0.58/0.46, ~10k a tie (0.43/0.43 vs 0.51/0.36), ~20k
    * 0.83/0.69 vs 0.49/0.35, ~30k 1.17/1.22 vs 0.43/0.36. q155's frame
    * stats about 490 B a payload (2.46 MB at sf0.1's ~5k), so the bound
    * flips near ~8.5k payloads, between the dense win and the tie. Real
    * media payloads stat larger per row, so they flip earlier — the safe
    * direction. */
  private val PairsDenseMaxBytes = 4L << 20

  /** [[perceptualDupPairs]] for the AUDIO hash: pairs of WAV-PCM
    * payloads whose [[graft.functions.PerceptualHashFns.wavEnergyFp]]
    * energy fingerprints sit within `maxHamming` bits — re-encoded or
    * gain-shifted recordings of the same clip collapse here the way
    * re-saved images collapse under dHash. Same pigeonhole-exact
    * banding and dense dual. */
  def audioDupPairs(media: DataFrame, maxHamming: Int = 3,
      idCol: String = "media_id", payloadCol: String = "payload"): DataFrame =
    Dedup.hammingPairs(media.select(col(idCol).as("id"),
        graft.functions.PerceptualHashFns.wavEnergyFp(col(payloadCol)).as("h"))
      .filter(col("h").isNotNull), maxHamming, media, PairsDenseMaxBytes)

  /** [[graft.core.KeySets]] kind tag of the image-dHash blocklist. */
  val DHashKind = "image_dhash"

  /** The distinct non-null content hashes of a media frame — the key set
    * of every perceptual gate index. */
  private def hashKeys(media: DataFrame, hash: Column): DataFrame =
    media.select(hash.as("ph")).filter(col("ph").isNotNull).distinct()

  /** Persist the corpus's image dHashes as a [[graft.core.KeySets]]
    * blocklist — the build side of the perceptual ingest gate (the
    * [[Dedup.fpIndexSave]] pattern at the content-hash level):
    * hash-equality against this set flags a new payload as a
    * perceptual duplicate of something already ingested. */
  def dHashIndexSave(media: DataFrame, path: String,
      payloadCol: String = "payload"): Unit =
    graft.core.KeySets.save(hashKeys(media,
      graft.functions.PerceptualHashFns.imageDHash(col(payloadCol))), path, DHashKind)

  /** Stateless perceptual-duplicate flag against a [[dHashIndexSave]]
    * sorted literal or a [[dHashBloomIndexSave]] blob — map-only (one
    * codegen hash + one membership probe per row), so the SAME code
    * gates a batch frame or any streaming micro-batch. Un-decodable
    * payloads get a null flag (the drop-gates' total-pass convention:
    * only a POSITIVE content match drops). */
  def flagPerceptualDup(media: DataFrame, hashes: graft.core.KeySets.Members,
      payloadCol: String = "payload"): DataFrame =
    media.withColumn("perceptual_dup", hashes.contains(
      graft.functions.PerceptualHashFns.imageDHash(col(payloadCol))))

  /** Kind tags of the Bloom perceptual indexes
    * ([[dHashBloomIndexSave]] / [[wavFpBloomIndexSave]]). */
  val DHashBloomKind = "image_dhash_bloom"
  val WavFpBloomKind = "audio_wavfp_bloom"

  /** CORPUS-SCALE faces of the perceptual ingest gates — the
    * [[graft.ext.Dedup.fpBloomIndexSave]] precedent applied to the
    * content-hash blocklists: the sorted literals of
    * [[flagPerceptualDup]]/[[flagAudioDup]] are driver-sized by
    * contract (~10⁷ hashes ≈ 80 MB task rider is the practical
    * ceiling), while a 10⁹-image reference corpus holds up to 10⁹
    * distinct dHashes — an 8 GB literal. A Bloom over the same 64-bit
    * hashes ([[graft.core.KeySets.saveBloom]]) serves that regime
    * (~1.2 GB at 1% fpp per 10⁹ keys), built distributed, probed
    * map-only, ONE probe per row (unlike the banded near-dup face there
    * is no per-band union-bound issue: fpp here IS the per-document
    * false-flag rate). No false negatives: a content copy of an indexed
    * payload always flags. Un-decodable payloads flag null and PASS
    * (total-pass convention); empty-corpus builds flag nothing. */
  def dHashBloomIndexSave(media: DataFrame, path: String,
      fpp: Double = 0.01, payloadCol: String = "payload"): Unit =
    graft.core.KeySets.saveBloom(hashKeys(media,
      graft.functions.PerceptualHashFns.imageDHash(col(payloadCol))), path,
      DHashBloomKind, fpp = fpp)

  /** [[dHashBloomIndexSave]] for the WAV energy fingerprint. */
  def wavFpBloomIndexSave(media: DataFrame, path: String,
      fpp: Double = 0.01, payloadCol: String = "payload"): Unit =
    graft.core.KeySets.saveBloom(hashKeys(media,
      graft.functions.PerceptualHashFns.wavEnergyFp(col(payloadCol))), path,
      WavFpBloomKind, fpp = fpp)

  /** [[graft.core.KeySets]] kind tag of the WAV energy-fingerprint
    * blocklist. */
  val WavFpKind = "audio_wavfp"

  /** [[dHashIndexSave]] for AUDIO — persist the corpus's WAV energy
    * fingerprints ([[graft.functions.PerceptualHashFns.wavEnergyFp]])
    * as a [[graft.core.KeySets]] blocklist, completing the multimodal
    * ingest family's build-once/serve-many symmetry (round-16: the
    * image face had [[dHashIndexSave]] + `perceptual_dup_gate`, while
    * [[audioDupPairs]] had pairs-level dedup but no gate face):
    * fingerprint equality against this set flags a new payload as a
    * re-encoded or gain-shifted copy of an already-ingested clip. */
  def wavFpIndexSave(media: DataFrame, path: String,
      payloadCol: String = "payload"): Unit =
    graft.core.KeySets.save(hashKeys(media,
      graft.functions.PerceptualHashFns.wavEnergyFp(col(payloadCol))), path, WavFpKind)

  /** [[flagPerceptualDup]]'s audio dual: stateless content-duplicate
    * flag against a [[wavFpIndexSave]] sorted literal or a
    * [[wavFpBloomIndexSave]] blob — map-only (one codegen fingerprint +
    * one membership probe per row), identical on a batch frame or any
    * streaming micro-batch. Un-decodable payloads (not RIFF/WAVE PCM-16,
    * or under one energy window) get a null flag — the drop-gates'
    * total-pass convention. */
  def flagAudioDup(media: DataFrame, hashes: graft.core.KeySets.Members,
      payloadCol: String = "payload"): DataFrame =
    media.withColumn("audio_dup", hashes.contains(
      graft.functions.PerceptualHashFns.wavEnergyFp(col(payloadCol))))

  /** Handcrafted container headers (shared by q109 and the spec tests):
    * real byte layouts, hand-derivable expected values. */
  object SampleHeaders {
    private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

    /** PNG signature + IHDR: 64 × 48. */
    val png: Array[Byte] = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13) ++ "IHDR".getBytes("US-ASCII") ++
      bytes(0, 0, 0, 0x40, 0, 0, 0, 0x30, 8, 2, 0, 0, 0)

    /** GIF89a logical screen: 320 × 200 (little-endian). */
    val gif: Array[Byte] = "GIF89a".getBytes("US-ASCII") ++
      bytes(0x40, 0x01, 0xC8, 0x00, 0xF7, 0x00, 0x00)

    /** JPEG with a COM segment before SOF0: 640 × 480. */
    val jpeg: Array[Byte] = bytes(0xFF, 0xD8,
      0xFF, 0xFE, 0x00, 0x04, 0x68, 0x69,               // COM "hi"
      0xFF, 0xC0, 0x00, 0x11, 0x08, 0x01, 0xE0, 0x02, 0x80, // SOF0 480×640
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)

    /** WAV header: mono, 8000 Hz, 16-bit, 1500 ms of PCM declared. */
    val wav: Array[Byte] = "RIFF".getBytes("US-ASCII") ++
      bytes(0x24, 0x5E, 0x00, 0x00) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++
      bytes(16, 0, 0, 0,            // fmt chunk size
        0x01, 0x00, 0x01, 0x00,     // PCM, 1 channel
        0x40, 0x1F, 0x00, 0x00,     // 8000 Hz
        0x80, 0x3E, 0x00, 0x00,     // byte rate 16000
        0x02, 0x00, 0x10, 0x00) ++  // block align 2, 16 bits
      "data".getBytes("US-ASCII") ++ bytes(0xC0, 0x5D, 0x00, 0x00) // 24000 bytes
  }
}
