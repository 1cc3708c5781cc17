package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chained-ingest-gate streaming soak (dev probe, round-16 VERDICT
  * task 4 — the r15 banded-ANN-probe pattern applied to the gate
  * stack): every ingest gate is batch==stream e2e-tested at FIXTURE
  * scale, and `examples/ingest_gates_stream.yml` chains them — this
  * probe measures the full stack (exact-Bloom + near-Bloom +
  * contamination + semantic + perceptual + audio) on ONE real
  * micro-batched stream at sf1, per-stage and chained, and reports
  * rows/s. Run: tools/dev.sh graft.ext.GateSoak target/testdata/sf1 /tmp/soak
  */
object GateSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    val sfDir = args.headOption.getOrElse("target/testdata/sf1")
    val out = args.lift(1).getOrElse("/tmp/graft_gate_soak")

    // ---- fixtures: one indexed image/clip (dups at serve), one fresh each
    def pgm(seed: Int): Array[Byte] =
      s"P5 18 16 255\n".getBytes("US-ASCII") ++
        (for (y <- 0 until 16; x <- 0 until 18)
          yield ((x * seed + y * 5) % 230).toByte).toArray
    def wav(seed: Int): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val samples = Array.tabulate(260)(i => ((i * seed) % 400 - 200).toShort)
      val data = samples.flatMap(s => Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }

    // ---- soak input: documents + an embedding + a mixed-modal payload
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val nEmb = emb.count()
    val input = docs
      .withColumn("vec_id", pmod(col("doc_id"), lit(nEmb)))
      .join(emb, Seq("vec_id"))
      .withColumn("payload", element_at(
        array(lit(pgm(11)), lit(pgm(13)), lit(wav(37))),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")))
      .drop("vec_id")
    val inDir = s"$out/input"
    input.write.mode("overwrite").parquet(inDir)
    val inputSchema = spark.read.parquet(inDir).schema
    val nRows = spark.read.parquet(inDir).count()
    println(s"[soak] input rows=$nRows")

    // ---- batch-side index/bench builds (timed: the build-once cost)
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[soak] build $tag%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    timed("exact fpBloom") {
      Dedup.fpBloomIndexSave(docs, s"$out/fpbloom", fpp = 0.01)
    }
    timed("near bandBloom") {
      Dedup.bandBloomIndexSave(docs, s"$out/bandbloom", n = 8, fpp = 0.01)
    }
    timed("contam bench") {
      docs.filter(pmod(graft.functions.TextMetrics.hash60(col("text")),
          lit(10000L)) < 3)
        .write.mode("overwrite").parquet(s"$out/contam_bench")
    }
    timed("semantic bench") {
      emb.limit(64).write.mode("overwrite").parquet(s"$out/sem_bench")
    }
    import spark.implicits._
    timed("image dHash") {
      Multimodal.dHashIndexSave(Seq(Tuple1(pgm(11))).toDF("payload"),
        s"$out/dhash")
    }
    timed("audio wavFp") {
      Multimodal.wavFpIndexSave(Seq(Tuple1(wav(37))).toDF("payload"),
        s"$out/wavfp")
    }

    // ---- the gate stack (all action: flag, so every stage sees all rows)
    val stages = Seq(
      "exact" ->
        s"""- type: exact_dup_gate
           |      config: {bloom_path: "$out/fpbloom", action: "flag"}""",
      "near" ->
        s"""- type: near_dup_gate
           |      config: {bloom_path: "$out/bandbloom", action: "flag"}""",
      "contamination" ->
        s"""- type: contamination_gate
           |      config: {bench_path: "$out/contam_bench", n: "8", action: "flag"}""",
      "semantic" ->
        s"""- type: semantic_gate
           |      config: {bench_path: "$out/sem_bench", action: "flag"}""",
      "perceptual" ->
        s"""- type: perceptual_dup_gate
           |      config: {index_path: "$out/dhash", action: "flag"}""",
      "audio" ->
        s"""- type: audio_dup_gate
           |      config: {index_path: "$out/wavfp", action: "flag"}""")
    def specFor(procs: Seq[String]): graft.spec.Spec =
      graft.spec.SpecLoader.load(
        s"""input: {type: stdin}
           |pipeline:
           |  processors:
           |    ${procs.mkString("\n    ")}
           |output: {type: stdout}
           |""".stripMargin)

    // ---- streaming runs: parquet file stream in bounded micro-batches
    def run(tag: String, procs: Seq[String]): Unit = {
      val sinkDir = s"$out/run_$tag"
      val src = spark.readStream.schema(inputSchema)
        .option("maxFilesPerTrigger", "8")
        .parquet(inDir)
      val piped =
        if (procs.isEmpty) src else graft.spec.Compiler.pipeline(specFor(procs))(src)
      val t0 = System.nanoTime()
      val q = piped.writeStream.format("parquet")
        .option("path", s"$sinkDir/data")
        .option("checkpointLocation", s"$sinkDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.length
      val got = spark.read.parquet(s"$sinkDir/data").count()
      println(f"[soak] stream $tag%-14s ${secs}%8.2f s  ${nRows / secs}%,12.0f rows/s  batches=$batches rows_out=$got")
    }
    run("baseline", Seq.empty)
    stages.foreach { case (tag, proc) => run(tag, Seq(proc)) }
    run("chain_all", stages.map(_._2))
    spark.stop()
  }
}
