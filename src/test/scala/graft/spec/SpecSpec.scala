package graft.spec

import graft.SparkSpec
import graft.core.Model

/** Spec loader + compiler tests over the reference's own config examples
  * (/root/reference/config_examples/, SURVEY.md §5.2). */
class SpecSpec extends SparkSpec {

  private def texts(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("text").collect().map(_.getString(0)).toSeq

  test("std.yml pipeline: replace cheese->bacon then awk comma-split") {
    // config_examples/std.yml:1-12 minus the stdin/stdout endpoints
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: replace
        |      from: cheese
        |      to: bacon
        |    - type: process
        |      name: awk
        |      args: ["-v", "RS=[,\n]", "{a=$0; print a}", "OFS=,"]
        |output: {type: stdout}
        |""".stripMargin)
    assert(spec.pipeline.map(_.typ) == Seq("replace", "process"))
    val in = Model.fromLines(spark, Seq("ham,cheese,eggs")).toDF()
    val out = Compiler.pipeline(spec)(in)
    assert(texts(out).sorted == Seq("bacon", "eggs", "ham"))
  }

  test("regex_split spec fans out one line to tokens (http.yml pipeline)") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: regex_split
        |      re: "[ \t]+"
        |output: {type: stdout}
        |""".stripMargin)
    val in = Model.fromLines(spark, Seq("hello  spark\tworld")).toDF()
    assert(texts(Compiler.pipeline(spec)(in)).sorted == Seq("hello", "spark", "world"))
  }

  test("curation processors: strip_markup -> pii_redact -> normalize_text -> keyword_filter chain") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: strip_markup
        |    - type: pii_redact
        |    - type: normalize_text
        |    - type: keyword_filter
        |      config: {weights: "spam:-5,quality:2", min_score: "0"}
        |output: {type: stdout}
        |""".stripMargin)
    assert(spec.pipeline.map(_.typ) ==
      Seq("strip_markup", "pii_redact", "normalize_text", "keyword_filter"))
    val in = Model.fromLines(spark, Seq(
      "<p>Quality   Text</p> mail me at a@b.com",  // survives, cleaned
      "<b>spam spam</b> offer"                      // keyword-filtered out
    )).toDF()
    val out = texts(Compiler.pipeline(spec)(in))
    assert(out == Seq("quality text mail me at <email>"))
  }

  test("quality_filter drops below-threshold docs, keeps the input schema") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: quality_filter
        |      config: {min_score: "0.2"}
        |output: {type: stdout}
        |""".stripMargin)
    val good = "the quick brown fox jumps over the lazy dog and runs far away today"
    val in = Model.fromLines(spark, Seq(good, "x")).toDF()
    val out = Compiler.pipeline(spec)(in)
    assert(out.columns.toSeq == in.columns.toSeq)
    assert(texts(out) == Seq(good))
  }

  test("repetition_filter drops degenerate docs batch AND stream, keeps schema") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: repetition_filter
        |      config: {max_top_bigram_frac: "0.2", min_type_token_ratio: "0.3"}
        |output: {type: stdout}
        |""".stripMargin)
    val varied = "the quick brown fox jumps over one lazy dog near a riverbank"
    val looped = Seq.fill(30)("buy now").mkString(" ")       // top bigram 29/59
    val flat = Seq.fill(40)("spam").mkString(" ")            // ttr 1/40
    val in = Model.fromLines(spark, Seq(varied, looped, flat)).toDF()
    val out = Compiler.pipeline(spec)(in)
    assert(out.columns.toSeq == in.columns.toSeq)
    assert(texts(out) == Seq(varied))
    // the same stage on a streaming frame: identical rows out
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val sOut = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    val q = sOut.writeStream.format("memory").queryName("rep_gate_stream").start()
    try {
      ms.addData(varied, looped, flat)
      q.processAllAvailable()
      val got = spark.table("rep_gate_stream").collect().map(_.getString(0)).toSeq
      assert(got == Seq(varied), "stream gate must match the batch gate")
    } finally q.stop()
  }

  test("c4_filter rewrites surviving docs to their kept lines, batch == stream") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: c4_filter
        |      config: {min_kept_lines: "2"}
        |output: {type: stdout}
        |""".stripMargin)
    val good = "One proper sentence with enough words here.\nshort.\n" +
      "A second proper sentence with enough words too."
    val braces = "One proper sentence with enough words here.\n" +
      "A second proper sentence with enough words too.\nvar x = { a: 1 }"
    val thin = "Only one proper sentence with enough words here.\nno punct line"
    val in = Model.fromLines(spark, Seq(good, braces, thin)).toDF()
    val out = Compiler.pipeline(spec)(in)
    assert(out.columns.toSeq == in.columns.toSeq)
    assert(texts(out) == Seq(
      "One proper sentence with enough words here.\n" +
        "A second proper sentence with enough words too."))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val sOut = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    val q = sOut.writeStream.format("memory").queryName("c4_stream").start()
    try {
      ms.addData(good, braces, thin)
      q.processAllAvailable()
      val got = spark.table("c4_stream").collect().map(_.getString(0)).toSeq
      assert(got == texts(out), "stream c4_filter must match the batch stage")
    } finally q.stop()
  }

  test("curation processors are streaming-safe (no state, no aggregation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: normalize_text
        |    - type: keyword_filter
        |      config: {weights: "bad:-9", min_score: "-1"}
        |output: {type: stdout}
        |""".stripMargin)
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    val q = out.writeStream.format("memory").queryName("curation_stream").start()
    try {
      ms.addData("  GOOD   one ", "very bad doc")
      q.processAllAvailable()
      val got = spark.table("curation_stream").collect().map(_.getString(0)).toSeq
      assert(got == Seq("good one"))
    } finally q.stop()
  }

  test("streaming binary_files: new media files stream through with codec-free sniff") {
    import graft.ext.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("graft-binstream")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.png", Multimodal.SampleHeaders.png)
    val conf = SourceConf("binary_files", path = Some(dir.toString),
      config = Map("pathGlobFilter" -> "*.{png,wav}"))
    val src = Compiler.streamSource(spark, conf)
    assert(src.isStreaming)
    val sniffed = Multimodal.sniff(src.selectExpr("length AS media_id", "content AS payload")
      .withColumnRenamed("content", "payload"))
    val q = sniffed.writeStream.format("memory").queryName("bin_stream").start()
    try {
      q.processAllAvailable()
      put("b.wav", Multimodal.SampleHeaders.wav)
      put("c.txt", Array[Byte](1, 2, 3)) // filtered by glob
      q.processAllAvailable()
      val got = spark.table("bin_stream").select("format").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got == Seq("png", "wav"))
    } finally q.stop()
  }

  test("bundled example specs load and declare valid plugin chains") {
    val curation = SpecLoader.loadFile("examples/curation_batch.yml")
    assert(curation.input.typ == "parquet")
    assert(curation.pipeline.map(_.typ) == Seq("strip_markup", "pii_redact",
      "normalize_text", "quality_filter", "repetition_filter", "keyword_filter"))
    assert(curation.output.typ == "parquet")
    val media = SpecLoader.loadFile("examples/media_ingest_stream.yml")
    assert(media.input.typ == "binary_files")
    assert(media.input.config.get("pathGlobFilter").exists(_.contains("png")))
    // r16: content-level dedup gates on their corpus-scale bloom faces
    assert(media.pipeline.map(_.typ) ==
      Seq("perceptual_dup_gate", "audio_dup_gate"))
    assert(media.pipeline.forall(p => p.config.get("bloom_path").nonEmpty &&
      p.config.get("payload_col").contains("content")))
    assert(media.output.typ == "parquet")
    val gates = SpecLoader.loadFile("examples/ingest_gates_stream.yml")
    assert(gates.input.typ == "http_server")
    assert(gates.pipeline.map(_.typ) == Seq("contamination_gate", "exact_dup_gate", "near_dup_gate"))
    assert(gates.pipeline.head.config.get("bench_path").nonEmpty)
    val route = SpecLoader.loadFile("examples/embedding_route_batch.yml")
    assert(route.pipeline.map(_.typ) == Seq("kmeans_serve"))
    assert(route.pipeline.head.config.get("model_path").nonEmpty)
    val tok = SpecLoader.loadFile("examples/tokenize_semantic_stream.yml")
    assert(tok.pipeline.map(_.typ) == Seq("semantic_gate", "bpe_tokenize"))
    assert(tok.pipeline.head.config.get("bench_path").nonEmpty)
    assert(tok.pipeline.last.config.get("model_path").nonEmpty)
  }

  test("kafka source/sink option building (kafka_in.yml / kafka_out.yml)") {
    val spec = SpecLoader.load(
      """input:
        |  type: kafka
        |  topics: ["test-topic", "t2"]
        |  config:
        |    group.id: test-consumer
        |    bootstrap.servers: "localhost:9092"
        |pipeline: {processors: [{type: noop}]}
        |output:
        |  type: kafka
        |  topic: out-topic
        |  config: {bootstrap.servers: "localhost:9092"}
        |""".stripMargin)
    val src = Compiler.kafkaSourceOptions(spec.input)
    assert(src("subscribe") == "test-topic,t2")
    assert(src("kafka.bootstrap.servers") == "localhost:9092")
    assert(src("kafka.group.id") == "test-consumer")
    val snk = Compiler.kafkaSinkOptions(spec.output)
    assert(snk("topic") == "out-topic" && snk("kafka.bootstrap.servers") == "localhost:9092")
  }

  test("kafka bounded read: consume_count -> maxOffsetsPerTrigger + AvailableNow") {
    import org.apache.spark.sql.streaming.Trigger
    val spec = SpecLoader.load(
      """input:
        |  type: kafka
        |  topics: ["t"]
        |  consume_count: 42
        |  config: {bootstrap.servers: "localhost:9092"}
        |pipeline: {processors: []}
        |output: {type: stdout}
        |""".stripMargin)
    assert(spec.input.consumeCount.contains(42L))
    val opts = Compiler.kafkaSourceOptions(spec.input)
    assert(opts("maxOffsetsPerTrigger") == "42")
    assert(Compiler.sourceTrigger(spec.input) == Trigger.AvailableNow())
    // unbounded: no cap, default micro-batch trigger (consume_count 0 ==
    // unbounded, kafka.rs:87)
    val unbounded = spec.input.copy(consumeCount = None)
    assert(!Compiler.kafkaSourceOptions(unbounded).contains("maxOffsetsPerTrigger"))
    assert(Compiler.sourceTrigger(unbounded) == Trigger.ProcessingTime(0L))
    assert(SpecLoader.load(
      """input: {type: kafka, topics: ["t"], consume_count: 0}
        |output: {type: stdout}
        |""".stripMargin).input.consumeCount.isEmpty)
  }

  test("http_server spec without config.spool_dir fails at load") {
    intercept[IllegalArgumentException] {
      SpecLoader.load(
        """input: {type: http_server, address: "0.0.0.0:4195", path: /post}
          |output: {type: stdout}
          |""".stripMargin)
    }
  }

  test("consume_count stops the stream after the row bound (batch-granular)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bounded").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    (1 to 3).foreach(i =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/$i.txt"), s"line $i\n"))
    val spec = SpecLoader.load(
      s"""input:
         |  type: text_file
         |  path: "$dir/in"
         |  consume_count: 1
         |  config: {maxFilesPerTrigger: "1"}
         |pipeline: {processors: [{type: noop}]}
         |output: {type: parquet, path: "$dir/out"}
         |""".stripMargin)
    val q = Compiler.runStream(spark, spec, s"$dir/ckpt")
    // the row-bound listener (or AvailableNow exhaustion) must terminate it
    assert(q.awaitTermination(60000), "bounded stream did not terminate")
    val out = spark.read.parquet(s"$dir/out").count()
    // at least the bound; at most one async batch past it (documented)
    assert(out >= 1, s"expected at least consume_count rows, got $out")
  }

  test("kafka payload: key from metadata partition_key, default 0 (kafka.rs:133)") {
    import spark.implicits._
    val df = Seq(("a", Map("partition_key" -> "7")), ("b", Map.empty[String, String]))
      .toDF("text", "metadata")
    val rows = Compiler.kafkaPayload(df).collect()
      .map(r => r.getString(1) -> r.getString(0)).toMap
    assert(rows("a") == "7" && rows("b") == "0")
  }

  test("unknown plugin types fail at load (typetag contract, lib.rs:115-117)") {
    intercept[IllegalArgumentException] {
      SpecLoader.load("input: {type: carrier_pigeon}\noutput: {type: stdout}\n")
    }
    intercept[IllegalArgumentException] {
      SpecLoader.load(
        "input: {type: stdin}\npipeline: {processors: [{type: frobnicate}]}\noutput: {type: stdout}\n")
    }
  }

  test("upsert_parquet sink loads from YAML and requires a path") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |output:
        |  type: upsert_parquet
        |  path: /tmp/up_tbl
        |  config: {keys: "k", order_by: "ts"}
        |""".stripMargin)
    assert(spec.output.typ == "upsert_parquet")
    assert(spec.output.path.contains("/tmp/up_tbl"))
    assert(spec.output.config("keys") == "k")
    intercept[IllegalArgumentException] {
      SpecLoader.load("input: {type: stdin}\noutput: {type: upsert_parquet}\n")
    }
  }

  test("regex_replace spec translates Rust substitution syntax") {
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: regex_replace
        |      re: "(?<y>\\d{4})-(?<m>\\d{2})-(?<d>\\d{2})"
        |      rep: "$m/$d/$y"
        |output: {type: stdout}
        |""".stripMargin)
    val in = Model.fromLines(spark, Seq("2012-03-14")).toDF()
    assert(texts(Compiler.pipeline(spec)(in)) == Seq("03/14/2012"))
  }

  test("text_file batch source reads lines") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-spec").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/in.txt"), "x,y\n")
    val spec = SpecLoader.load(
      s"""input: {type: text_file, path: "$tmp/in.txt"}
         |pipeline:
         |  processors: [{type: regex_split, re: ","}]
         |output: {type: parquet, path: "$tmp/out"}
         |""".stripMargin)
    Compiler.runBatch(spark, spec)
    val back = spark.read.parquet(s"$tmp/out")
    assert(texts(back).sorted == Seq("x", "y"))
  }

  test("binary_files source: one row per file, opaque payload + metadata") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bin").toString
    val payload = Array[Byte](0x47, 0x49, 0x46, 0x38, 0, -1, 127) // binary, not UTF-8
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/a.gif"), payload)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/skip.txt"), "no")
    val spec = SpecLoader.load(
      s"""input: {type: binary_files, path: "$tmp", config: {pathGlobFilter: "*.gif"}}
         |pipeline:
         |  processors: []
         |output: {type: parquet, path: "$tmp/out"}
         |""".stripMargin)
    val df = Compiler.source(spark, spec.input)
    val rows = df.select("path", "length", "content").collect()
    assert(rows.length == 1, "glob filter must drop the .txt file")
    assert(rows(0).getAs[Long]("length") == payload.length.toLong)
    assert(rows(0).getAs[Array[Byte]]("content").toSeq == payload.toSeq)
  }

  test("CLI config resolution: -c flag > CONFIG_FILE env > default") {
    import graft.Main
    assert(Main.configPath(Array("-c", "x.yml"), Map("CONFIG_FILE" -> "e.yml")) == "x.yml")
    assert(Main.configPath(Array("--config_file", "y.yml"), Map.empty) == "y.yml")
    assert(Main.configPath(Array(), Map("CONFIG_FILE" -> "e.yml")) == "e.yml")
    assert(Main.configPath(Array(), Map.empty) == "nekton.yml")
  }

  test("stdin source reads the driver's standard input line by line") {
    // a pipe on stdin reports length 0, so a file scan of it read no rows
    val saved = System.in
    System.setIn(new java.io.ByteArrayInputStream(
      "héllo\n\nworld\r\nlast".getBytes("UTF-8")))
    try {
      val spec = SpecLoader.load("input: {type: stdin}\noutput: {type: stdout}\n")
      assert(texts(Compiler.source(spark, spec.input)) == Seq("héllo", "", "world", "last"))
    } finally System.setIn(saved)
  }

  test("end-to-end CLI batch run: text_file -> replace,split -> parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.txt"),
      "cheese,a\ncheese,b\n")
    val spec = SpecLoader.load(
      s"""input:
         |  type: text_file
         |  path: $dir/in.txt
         |pipeline:
         |  processors:
         |    - type: replace
         |      from: cheese
         |      to: bacon
         |    - type: regex_split
         |      re: ","
         |output:
         |  type: parquet
         |  path: $dir/out
         |""".stripMargin)
    Compiler.runBatch(spark, spec)
    val out = spark.read.parquet(s"$dir/out").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("a", "b", "bacon", "bacon"))
  }

  test("structured file source/sink: csv in -> pipeline -> json out") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "text\ncheese one\ncheese two\n")
    val spec = SpecLoader.load(
      s"""input:
         |  type: csv
         |  path: $dir/in.csv
         |  config:
         |    header: "true"
         |pipeline:
         |  processors:
         |    - type: replace
         |      from: cheese
         |      to: bacon
         |output:
         |  type: json
         |  path: $dir/out
         |""".stripMargin)
    Compiler.runBatch(spark, spec)
    val out = spark.read.json(s"$dir/out").select("text").collect()
      .map(_.getString(0)).sorted
    assert(out.toSeq == Seq("bacon one", "bacon two"))
  }

  test("http_server e2e: POST -> receiver -> spool -> stream -> parquet sink") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val dir = java.nio.file.Files.createTempDirectory("graft-http").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/spool"))
    val spec = SpecLoader.load(
      s"""input:
         |  type: http_server
         |  address: "127.0.0.1:0"
         |  path: /post
         |  config: {spool_dir: "$dir/spool"}
         |pipeline:
         |  processors: [{type: replace, from: cheese, to: bacon}]
         |output: {type: parquet, path: "$dir/out"}
         |""".stripMargin)
    val rx = graft.sources.HttpIngest.fromConf(spec.input).start()
    try {
      val client = HttpClient.newHttpClient()
      def send(req: HttpRequest.Builder): HttpResponse[String] =
        client.send(req.build(), HttpResponse.BodyHandlers.ofString())
      def url(p: String) = URI.create(s"http://127.0.0.1:${rx.boundPort}$p")
      // protocol fidelity (sources.rs:50-61): method checked before path
      assert(send(HttpRequest.newBuilder(url("/post")).GET()).statusCode() == 405)
      assert(send(HttpRequest.newBuilder(url("/nope"))
        .POST(HttpRequest.BodyPublishers.ofString("x"))).statusCode() == 404)
      // durable-202 accepts; a multi-line body must stay ONE message
      assert(send(HttpRequest.newBuilder(url("/post"))
        .POST(HttpRequest.BodyPublishers.ofString("cheese one"))).statusCode() == 202)
      assert(send(HttpRequest.newBuilder(url("/post"))
        .POST(HttpRequest.BodyPublishers.ofString("cheese two\nstill two"))).statusCode() == 202)
      val q = Compiler.runStream(spark, spec, s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
      val out = spark.read.parquet(s"$dir/out").collect().map(_.getString(0)).sorted
      assert(out.toSeq == Seq("bacon one", "bacon two\nstill two"))
    } finally rx.stop()
  }

  test("http_server spool: committed bodies are deleted, the sink holds each once") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val dir = java.nio.file.Files.createTempDirectory("graft-spool").toString
    val spool = java.nio.file.Paths.get(s"$dir/spool")
    val spec = SpecLoader.load(
      s"""input:
         |  type: http_server
         |  address: "127.0.0.1:0"
         |  path: /post
         |  config: {spool_dir: "$spool"}
         |pipeline:
         |  processors: [{type: noop}]
         |output: {type: parquet, path: "$dir/out"}
         |""".stripMargin)
    val rx = graft.sources.HttpIngest.fromConf(spec.input).start()
    // spooled bodies in POST order (the receiver's sequence number ends
    // each name); hidden entries (the receiver's .ingest-tmp) are never read
    def visible(): Seq[Int] = spool.toFile.list().toSeq
      .filterNot(f => f.startsWith(".") || f.startsWith("_"))
      .map(f => f.stripSuffix(".txt").split("-").last.toInt)
    val bodies = (1 to 9).map(i => s"body $i")
    try {
      val client = HttpClient.newHttpClient()
      def post(b: String): Unit = assert(client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${rx.boundPort}/post"))
        .POST(HttpRequest.BodyPublishers.ofString(b)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 202)
      val q = Compiler.runStream(spark, spec, s"$dir/ckpt")
      try {
        for (round <- bodies.grouped(3)) { round.foreach(post); q.processAllAvailable() }
        // Spark commits a batch to its source when it plans the next one,
        // and the cleaner deletes asynchronously after that commit: every
        // body of the first two rounds goes, and at most the newest
        // batch's bodies (a subset of the last round) stay
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (visible().exists(_ < 6) && System.nanoTime() < deadline) Thread.sleep(100)
        assert(visible().forall(_ >= 6), s"spool still holds ${visible()}")
      } finally q.stop()
      val out = spark.read.parquet(s"$dir/out").collect().map(_.getString(0)).sorted
      assert(out.toSeq == bodies)
    } finally rx.stop()
  }

  test("streaming spec e2e: checkpointed file stream across two input batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val spec = SpecLoader.load(
      s"""input: {type: text_file, path: "$dir/in"}
         |pipeline:
         |  processors:
         |    - type: replace
         |      from: cheese
         |      to: bacon
         |    - type: regex_split
         |      re: ","
         |output: {type: parquet, path: "$dir/out"}
         |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/a.txt"), "cheese,a\n")
    val q1 = Compiler.runStream(spark, spec, s"$dir/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    // second batch lands after a full stop: the checkpoint must resume
    // without reprocessing a.txt
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/b.txt"), "cheese,b\n")
    // checkpoint logs keep their .crc checksums: one flipped byte in the
    // newest offsets entry fails the restart with a ChecksumException
    val offsets = java.nio.file.Paths.get(s"$dir/ckpt/offsets")
    val newest = offsets.resolve(offsets.toFile.list().filter(_.forall(_.isDigit))
      .maxBy(_.toLong))
    val entry = java.nio.file.Files.readAllBytes(newest)
    val flipped = entry.clone()
    flipped(entry.length / 2) = (flipped(entry.length / 2) ^ 1).toByte
    java.nio.file.Files.write(newest, flipped)
    val bad = Compiler.runStream(spark, spec, s"$dir/ckpt")
    val failure = try intercept[Exception](bad.processAllAvailable()) finally bad.stop()
    assert(causes(failure).exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      failure)
    java.nio.file.Files.write(newest, entry)
    val q2 = Compiler.runStream(spark, spec, s"$dir/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$dir/out").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("a", "b", "bacon", "bacon"))
  }

  test("runStream starts no chmod or readlink process on the stream execution thread") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-forks").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    (1 to 3).foreach(i => Files.writeString(Paths.get(s"$dir/in/$i.txt"), s"line $i\n"))
    val spec = SpecLoader.load(
      s"""input:
         |  type: text_file
         |  path: "$dir/in"
         |  config: {maxFilesPerTrigger: "1"}
         |pipeline: {processors: [{type: noop}]}
         |output: {type: parquet, path: "$dir/out"}
         |""".stripMargin)
    // (command, launching thread) of every process the JVM starts
    val launches = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val rec = new jdk.jfr.consumer.RecordingStream()
    rec.enable("jdk.ProcessStart")
    rec.onEvent("jdk.ProcessStart", e => launches.add(
      e.getString("command") -> Option(e.getThread).map(_.getJavaName).getOrElse("")))
    rec.startAsync()
    val batches = try {
      val q = Compiler.runStream(spark, spec, s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
      // events reach the stream in flushes: wait for a launch of our own,
      // started after the query thread ended, to know all of its are in
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!launches.asScala.exists(_._1 == "true") && System.nanoTime() < deadline)
        Thread.sleep(50)
      q.recentProgress.count(_.numInputRows > 0)
    } finally rec.close()
    assert(launches.asScala.exists(_._1 == "true"), "the recording saw no process launch")
    assert(batches == 3)
    val forks = launches.asScala.toSeq.filter {
      case (cmd, thread) => thread.startsWith("stream execution thread") &&
        Set("chmod", "readlink")(cmd.split(" ").head.split("/").last)
    }
    assert(forks.size == 0, s"first launches: ${forks.take(3).mkString("; ")}")
  }

  test("xml source/sink round-trips through a pipeline (Spark 4 built-in)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xml").toString
    import spark.implicits._
    Seq("cheese one", "cheese two").toDF("text").write
      .format("xml").option("rootTag", "docs").option("rowTag", "doc").save(s"$dir/in")
    val spec = SpecLoader.load(
      s"""input:
         |  type: xml
         |  path: $dir/in
         |  config: {rowTag: doc}
         |pipeline:
         |  processors: [{type: replace, from: cheese, to: bacon}]
         |output:
         |  type: xml
         |  path: $dir/out
         |  config: {rootTag: docs, rowTag: doc}
         |""".stripMargin)
    Compiler.runBatch(spark, spec)
    val out = spark.read.format("xml").option("rowTag", "doc").load(s"$dir/out")
      .select("text").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("bacon one", "bacon two"))
  }

  test("orc source/sink round-trips through a pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    import spark.implicits._
    Seq("cheese one", "cheese two").toDF("text").write.orc(s"$dir/in")
    val spec = SpecLoader.load(
      s"""input: {type: orc, path: "$dir/in"}
         |pipeline:
         |  processors: [{type: replace, from: cheese, to: bacon}]
         |output: {type: orc, path: "$dir/out"}
         |""".stripMargin)
    Compiler.runBatch(spark, spec)
    val out = spark.read.orc(s"$dir/out").select("text").collect()
      .map(_.getString(0)).sorted
    assert(out.toSeq == Seq("bacon one", "bacon two"))
  }

  test("streaming metrics listener records batch progress") {
    import graft.streaming.Metrics
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val log = Metrics.attach(spark)
    val mem = MemoryStream[String]
    mem.addData("a", "b", "c")
    val q = mem.toDF().writeStream.format("memory").queryName("metrics_probe")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // listener bus is async; poll BEFORE detaching or the event may be lost
    val deadline = System.currentTimeMillis() + 10000
    while (log.snapshot.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    spark.streams.removeListener(log)
    assert(log.snapshot.exists(p => p.queryName == "metrics_probe" && p.numInputRows == 3))
  }

  test("graft.Main logs one progress line per non-empty micro-batch") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-progress").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    val spec = SpecLoader.load(
      s"""input: {type: text_file, path: "$dir/in"}
         |pipeline:
         |  processors:
         |    - type: noop
         |output: {type: parquet, path: "$dir/out"}
         |""".stripMargin)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val log = graft.Main.logProgress(spark, l => lines.add(l))
    val (id, batches) = try {
      Files.writeString(Paths.get(s"$dir/in/a.txt"), "a\nb\nc\n")
      val q = Compiler.runStream(spark, spec, s"$dir/ckpt")
      try {
        q.processAllAvailable()
        Files.writeString(Paths.get(s"$dir/in/b.txt"), "d\ne\n")
        q.processAllAvailable()
        (q.id.toString, q.recentProgress.filter(_.numInputRows > 0)
          .map(p => p.batchId -> p.numInputRows).toSeq)
      } finally q.stop()
    } finally {
      // the listener bus is async: wait for the last line before detaching
      val deadline = System.currentTimeMillis() + 10000
      while (lines.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      spark.streams.removeListener(log)
    }
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = lines.asScala.toSeq.map(json.readTree)
      .filter(_.get("query").asText == id)
    assert(batches.map(_._2) == Seq(3L, 2L))
    assert(parsed.map(j => j.get("batch").asLong -> j.get("rows").asLong) == batches,
      lines.asScala.mkString("\n"))
    for (j <- parsed) {
      assert(j.get("event").asText == "batch")
      assert(j.get("trigger_ms").asLong >= j.get("add_batch_ms").asLong &&
        j.get("add_batch_ms").asLong > 0, j)
    }
  }

  test("contamination_gate spec: drops bench-overlapping docs, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cgate")
    val benchPath = dir.resolve("bench").toString
    Seq("leak alpha beta gamma delta").toDF("text").write.parquet(benchPath)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: contamination_gate
         |      config: {bench_path: "$benchPath", n: "3"}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq("totally clean document here",
      "contains leak alpha beta verbatim", "short")
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text"))).sorted
    assert(batchOut == Seq("short", "totally clean document here"))
    // the same compiled stage is map-only → runs unchanged on a stream
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val streamOut = spark.table("cgate_stream").collect().map(_.getString(0)).sorted
    assert(streamOut.toSeq == batchOut)
    // action: flag keeps the audit column instead of dropping rows
    val flagSpec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: contamination_gate
         |      config: {bench_path: "$benchPath", n: "3", action: "flag"}
         |output: {type: stdout}
         |""".stripMargin)
    val flagged = Compiler.pipeline(flagSpec)(rows.toDF("text"))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(flagged("contains leak alpha beta verbatim"))
    assert(!flagged("totally clean document here"))
  }

  test("near_dup_gate spec: drops corpus near-dups, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ndgate")
    val corpusPath = dir.resolve("corpus").toString
    def doc(i: Int) = (1 to 12).map(t => s"w${i}_$t").mkString(" ")
    (1 to 4).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
      .write.parquet(corpusPath)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: near_dup_gate
         |      config: {corpus_path: "$corpusPath", n: "3"}
         |output: {type: stdout}
         |""".stripMargin)
    // an exact copy of corpus doc 2 bands identically → dropped; a fresh
    // doc shares no shingles → passes
    val rows = Seq(doc(2), (1 to 12).map(t => s"fresh_$t").mkString(" "))
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text")))
    assert(batchOut == rows.tail)
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("ndgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val streamOut = spark.table("ndgate_stream").collect().map(_.getString(0))
    assert(streamOut.toSeq == batchOut)
  }

  test("near_dup_gate from a saved band index == rebuilding from the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndindex")
    val corpusPath = dir.resolve("corpus").toString
    val indexPath = dir.resolve("index").toString
    def doc(i: Int) = (1 to 12).map(t => s"w${i}_$t").mkString(" ")
    val corpus = (1 to 4).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    corpus.write.parquet(corpusPath)
    graft.ext.Dedup.bandIndexSave(corpus, indexPath, n = 3)
    // the index round-trips its geometry and exactly the built key set
    val (keys, ps) = graft.core.KeySets.load(spark, indexPath,
      graft.ext.Dedup.NearDupKind, Seq("n", "num_hashes", "rows_per_band"))
    val (n, h, r) = (ps("n"), ps("num_hashes"), ps("rows_per_band"))
    assert((n, h, r) == ((3, 128, 4)))
    val direct = graft.ext.Dedup.minhashBandKeys(corpus, 3)
      .collect().map(_.getLong(0)).toSet
    assert(keys.collect().map(_.getLong(0)).toSet == direct)
    // gate through index_path behaves identically to corpus_path
    def gateSpec(cfg: String) = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: near_dup_gate
         |      config: {$cfg}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq(doc(2), (1 to 12).map(t => s"fresh_$t").mkString(" "))
    val viaIndex = texts(Compiler.pipeline(
      gateSpec(s"""index_path: "$indexPath""""))(rows.toDF("text")))
    val viaCorpus = texts(Compiler.pipeline(
      gateSpec(s"""corpus_path: "$corpusPath", n: "3""""))(rows.toDF("text")))
    assert(viaIndex == viaCorpus && viaIndex == rows.tail)
  }

  test("exact_dup and contamination gates from saved key indexes == rebuilt; kinds don't cross") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-keyidx")
    val corpusPath = dir.resolve("corpus").toString
    val fpIdx = dir.resolve("fp_idx").toString
    val gramIdx = dir.resolve("gram_idx").toString
    def doc(i: Int) = (1 to 10).map(t => s"w${i}_$t").mkString(" ")
    val corpus = (1 to 3).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    corpus.write.parquet(corpusPath)
    graft.ext.Dedup.fpIndexSave(corpus, fpIdx)
    graft.ext.TextAnalysis.benchGramIndexSave(corpus, gramIdx, n = 4)
    def gate(typ: String, cfg: String) = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: $typ
         |      config: {$cfg}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq(doc(2), "entirely fresh words nothing shared with anything")
    // exact-dup: index == corpus rebuild
    val viaFpIdx = texts(Compiler.pipeline(
      gate("exact_dup_gate", s"""index_path: "$fpIdx""""))(rows.toDF("text")))
    val viaCorpus = texts(Compiler.pipeline(
      gate("exact_dup_gate", s"""corpus_path: "$corpusPath""""))(rows.toDF("text")))
    assert(viaFpIdx == viaCorpus && viaFpIdx == rows.tail)
    // contamination: index carries n, gate result matches the rebuild
    val contaminated = doc(2).split(" ").take(5).mkString(" ") + " plus new tail"
    val cRows = Seq(contaminated, rows(1))
    val viaGramIdx = texts(Compiler.pipeline(
      gate("contamination_gate", s"""index_path: "$gramIdx""""))(cRows.toDF("text")))
    val viaBench = texts(Compiler.pipeline(
      gate("contamination_gate", s"""bench_path: "$corpusPath", n: "4""""))(cRows.toDF("text")))
    assert(viaGramIdx == viaBench && viaGramIdx == cRows.tail)
    // a foreign family's index is rejected at stage build
    val cross = intercept[Exception] {
      Compiler.pipeline(gate("exact_dup_gate",
        s"""index_path: "$gramIdx""""))(rows.toDF("text"))
    }
    assert(cross.getMessage.contains("not exact_dup_fp60"))
  }

  test("exact_dup_gate spec: drops exact corpus copies, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-edgate")
    val corpusPath = dir.resolve("corpus").toString
    Seq((1L, "already ingested doc"), (2L, "another old doc"))
      .toDF("doc_id", "text").write.parquet(corpusPath)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: exact_dup_gate
         |      config: {corpus_path: "$corpusPath"}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq("already ingested doc", "a genuinely new doc")
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text")))
    assert(batchOut == Seq("a genuinely new doc"))
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("edgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(spark.table("edgate_stream").collect().map(_.getString(0)).toSeq == batchOut)
  }

  test("domain_blocklist_gate spec: drops docs mentioning blocked domains, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-dbgate")
    val blPath = dir.resolve("blocklist").toString
    Seq("example.com", "evil.test").toDF("domain").write.parquet(blPath)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: domain_blocklist_gate
         |      config: {blocklist_path: "$blPath"}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq(
      "read https://ads.example.com/promo now", // subdomain of blocked
      "see http://docs.example.org/ok",         // unblocked domain
      "plain text, no urls")
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text")))
    assert(batchOut == rows.tail)
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("dbgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(spark.table("dbgate_stream").collect().map(_.getString(0)).toSeq == batchOut)
  }

  test("linear_gate spec: serves a trained perceptron on text features, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-lingate")
    val modelPath = dir.resolve("model").toString
    // train on the registry features: long docs labeled +1, short -1 —
    // the model must learn a length-ish separator
    val long1 = Seq.fill(30)("informative content here").mkString(" ")
    val long2 = Seq.fill(25)("more useful words indeed").mkString(" ")
    val train = Seq((1L, 1L, long1), (2L, 1L, long2), (3L, -1L, "tiny"), (4L, -1L, "also small"))
      .toDF("doc_id", "y", "text")
    val feats = Seq("n_chars", "n_tokens")
    val withF = feats.foldLeft(train) { (acc, f) =>
      acc.withColumn(f, graft.ext.Learn.TextFeatures(f)) }
    val model = graft.ext.Learn.perceptronTrain(withF, "y", feats, iters = 3)
    graft.ext.Learn.linearModelSave(spark, model, feats, modelPath)
    val (loaded, lf) = graft.ext.Learn.linearModelLoad(spark, modelPath)
    assert(loaded.weights.toSeq == model.weights.toSeq &&
      loaded.bias == model.bias && lf == feats, "dump must round-trip bit-exactly")
    // 3 passes on all-positive count features can't learn the large
    // negative bias separation needs — the margin THRESHOLD is the
    // decision knob (as in production: train, pick the operating point):
    // any margin between the short docs' and long docs' scores separates
    val margins = graft.ext.Learn.perceptronScore(withF, model, feats)
      .collect().map(r => r.getAs[Long]("y") -> r.getAs[Long]("margin"))
    val cut = (margins.filter(_._1 == 1L).map(_._2).min +
      margins.filter(_._1 == -1L).map(_._2).max) / 2
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: linear_gate
         |      config: {model_path: "$modelPath", min_margin: "$cut"}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq(long1, "short junk", long2)
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text")))
    assert(batchOut == Seq(long1, long2), s"gate kept: ${batchOut.map(_.take(20))}")
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("lingate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(spark.table("lingate_stream").collect().map(_.getString(0)).toSeq == batchOut)
  }

  test("kmeans_serve spec: scores embeddings against a saved model, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-kmserve")
    val modelPath = dir.resolve("model").toString
    val batch = graft.core.Tables.load(spark, sf001, "embeddings")
    val cents = graft.ext.Similarity.kmeansCentroidsFp(batch, k = 4, iters = 2)
    graft.ext.Similarity.kmeansModelSave(spark, cents, modelPath)
    // the dump round-trips bit-exactly (cell order + centroid values)
    assert(graft.ext.Similarity.kmeansModelLoad(spark, modelPath)
      .map { case (c, v) => (c, v.toSeq) } ==
      cents.sortBy(_._1).map { case (c, v) => (c, v.toSeq) })
    val expect = graft.ext.Similarity.kmeansAssignFp(batch, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: kmeans_serve
         |      config: {model_path: "$modelPath"}
         |output: {type: stdout}
         |""".stripMargin)
    val sample = batch.limit(8).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
    val ms = MemoryStream[(Long, Array[Float])]
    val out = Compiler.pipeline(spec)(ms.toDF().toDF("vec_id", "embedding"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("kmserve_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(sample.toIndexedSeq: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    val got = spark.table("kmserve_stream").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(got == sample.map(s => s._1 -> expect(s._1)).toMap)
    graft.core.Caches.unpersistAll()
  }

  test("exact_dup_gate bloom_path: corpus-scale face drops known dups, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomgate")
    val idx = dir.resolve("idx").toString
    val corpus = Seq((1L, "a known duplicate line"), (2L, "another corpus doc"))
      .toDF("doc_id", "text")
    graft.ext.Dedup.fpBloomIndexSave(corpus, idx, fpp = 0.001)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: exact_dup_gate
         |      config: {bloom_path: "$idx"}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq("a known duplicate line", "a fresh unseen document", null)
    def texts(df: org.apache.spark.sql.DataFrame) =
      df.select("text").collect().map(r =>
        if (r.isNullAt(0)) "<null>" else r.getString(0)).sorted.toSeq
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text")))
    // the known dup drops; fresh and null-text (total pass) survive
    assert(batchOut == Seq("<null>", "a fresh unseen document"), s"kept: $batchOut")
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("bloomgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows.filter(_ != null): _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(texts(spark.table("bloomgate_stream")) == Seq("a fresh unseen document"))
  }

  test("near_dup_gate bloom_path: corpus-scale face drops near-dup candidates, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bandbloomgate")
    val idx = dir.resolve("idx").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (2L, "an entirely different corpus document with its own distinct words inside"))
      .toDF("doc_id", "text")
    graft.ext.Dedup.bandBloomIndexSave(corpus, idx, n = 4, fpp = 0.001)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: near_dup_gate
         |      config: {bloom_path: "$idx"}
         |output: {type: stdout}
         |""".stripMargin)
    // an exact copy of a corpus doc always candidates (identical
    // signature); a fresh doc shares no band bucket w.h.p.; null text
    // passes (total-pass convention)
    val rows = Seq(
      "the quick brown fox jumps over the lazy dog and then runs far away home",
      "completely fresh words that never appeared anywhere in the reference set",
      null)
    def texts(df: org.apache.spark.sql.DataFrame) =
      df.select("text").collect().map(r =>
        if (r.isNullAt(0)) "<null>" else r.getString(0)).sorted.toSeq
    val batchOut = texts(Compiler.pipeline(spec)(rows.toDF("text")))
    assert(batchOut == Seq("<null>",
      "completely fresh words that never appeared anywhere in the reference set"),
      s"kept: $batchOut")
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("bandbloomgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows.filter(_ != null): _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(texts(spark.table("bandbloomgate_stream")) ==
      Seq("completely fresh words that never appeared anywhere in the reference set"))
  }

  test("perceptual_dup_gate bloom_path: corpus-scale face drops image copies, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def pgm(seed: Int): Array[Byte] =
      s"P5 18 16 255\n".getBytes("US-ASCII") ++
        (for (y <- 0 until 16; x <- 0 until 18)
          yield ((x * seed + y * 5) % 230).toByte).toArray
    val dir = java.nio.file.Files.createTempDirectory("graft-pbgate")
    val idx = dir.resolve("idx").toString
    graft.ext.Multimodal.dHashBloomIndexSave(
      Seq(Tuple1(pgm(11))).toDF("payload"), idx, fpp = 0.001)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: perceptual_dup_gate
         |      config: {bloom_path: "$idx"}
         |output: {type: stdout}
         |""".stripMargin)
    // 1 = content copy (drop), 2 = fresh (keep), 3 = undecodable (keep)
    val rows = Seq((1L, pgm(11)), (2L, pgm(13)),
      (3L, graft.ext.Multimodal.SampleHeaders.png))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(Compiler.pipeline(spec)(rows.toDF("media_id", "payload"))) == Seq(2L, 3L))
    val ms = MemoryStream[(Long, Array[Byte])]
    val out = Compiler.pipeline(spec)(ms.toDF().toDF("media_id", "payload"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("pbgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(ids(spark.table("pbgate_stream")) == Seq(2L, 3L))
    // the audio face shares the stage plumbing: batch spot-check only
    def wav(seed: Int): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val data = Array.tabulate(260)(i => ((i * seed) % 400 - 200).toShort)
        .flatMap(s => Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }
    val aidx = dir.resolve("aidx").toString
    graft.ext.Multimodal.wavFpBloomIndexSave(
      Seq(Tuple1(wav(37))).toDF("payload"), aidx, fpp = 0.001)
    val aspec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: audio_dup_gate
         |      config: {bloom_path: "$aidx"}
         |output: {type: stdout}
         |""".stripMargin)
    val arows = Seq((1L, wav(37)), (2L, wav(53)),
      (3L, graft.ext.Multimodal.SampleHeaders.png))
    assert(ids(Compiler.pipeline(aspec)(arows.toDF("media_id", "payload"))) == Seq(2L, 3L))
  }

  test("audio_dup_gate spec: drops content-duplicate clips at ingest, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def wav(samples: Array[Short]): Array[Byte] = {
      def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
        (v >> 16).toByte, (v >> 24).toByte)
      val data = samples.flatMap(s => Array[Byte](s.toByte, (s >> 8).toByte))
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
        le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(8000) ++ le32(16000) ++
        Array[Byte](2, 0, 16, 0) ++ "data".getBytes("US-ASCII") ++
        le32(data.length) ++ data
    }
    val clip = Array.tabulate(260)(i => ((i * 37) % 400 - 200).toShort)
    val other = Array.tabulate(260)(i => (((259 - i) * 53) % 300 - 150).toShort)
    val dir = java.nio.file.Files.createTempDirectory("graft-adgate")
    val idx = dir.resolve("idx").toString
    graft.ext.Multimodal.wavFpIndexSave(Seq(Tuple1(wav(clip))).toDF("payload"), idx)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: audio_dup_gate
         |      config: {index_path: "$idx"}
         |output: {type: stdout}
         |""".stripMargin)
    // 1 = gain re-master of the indexed clip (drop — same energy
    // structure), 2 = fresh clip (keep), 3 = undecodable png header
    // (keep — total pass)
    val rows = Seq((1L, wav(clip.map(s => (s * 2).toShort))), (2L, wav(other)),
      (3L, graft.ext.Multimodal.SampleHeaders.png))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    val batchOut = ids(Compiler.pipeline(spec)(rows.toDF("media_id", "payload")))
    assert(batchOut == Seq(2L, 3L), s"gate kept: $batchOut")
    val ms = MemoryStream[(Long, Array[Byte])]
    val out = Compiler.pipeline(spec)(ms.toDF().toDF("media_id", "payload"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("adgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(ids(spark.table("adgate_stream")) == Seq(2L, 3L))
  }

  test("perceptual_dup_gate spec: drops content-duplicate images at ingest, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def pgm(seed: Int): Array[Byte] =
      s"P5 18 16 255\n".getBytes("US-ASCII") ++
        (for (y <- 0 until 16; x <- 0 until 18)
          yield ((x * seed + y * 5) % 230).toByte).toArray
    val dir = java.nio.file.Files.createTempDirectory("graft-pdgate")
    val idx = dir.resolve("idx").toString
    graft.ext.Multimodal.dHashIndexSave(
      Seq(Tuple1(pgm(11))).toDF("payload"), idx)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: perceptual_dup_gate
         |      config: {index_path: "$idx"}
         |output: {type: stdout}
         |""".stripMargin)
    // 1 = content copy of the indexed image (drop), 2 = fresh image
    // (keep), 3 = undecodable png header (keep — total pass)
    val rows = Seq((1L, pgm(11)), (2L, pgm(13)),
      (3L, graft.ext.Multimodal.SampleHeaders.png))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    val batchOut = ids(Compiler.pipeline(spec)(rows.toDF("media_id", "payload")))
    assert(batchOut == Seq(2L, 3L), s"gate kept: $batchOut")
    val ms = MemoryStream[(Long, Array[Byte])]
    val out = Compiler.pipeline(spec)(ms.toDF().toDF("media_id", "payload"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("pdgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(ids(spark.table("pdgate_stream")) == batchOut)
  }

  test("chunk_tokens spec: doc stream becomes a chunk stream, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: chunk_tokens
        |      config: {chunk_tokens: "3", overlap_tokens: "1"}
        |output: {type: stdout}
        |""".stripMargin)
    val rows = Seq((1L, "a b c d e"), (2L, "x y"),
      (3L, null.asInstanceOf[String]))
    def chunks(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "chunk_idx", "start_token", "text", "n_chunk_tokens")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    val batchOut = chunks(Compiler.pipeline(spec)(rows.toDF("doc_id", "text")))
    // stride 2: doc 1 windows at 0 and 2 (3 tokens each); doc 2 one
    // short window; null-text doc 3 has no chunks and drops
    assert(batchOut == Seq(
      (1L, 0L, 0L, "a b c", 3L), (1L, 1L, 2L, "c d e", 3L),
      (2L, 0L, 0L, "x y", 2L)))
    // the dual replays the q153 arithmetic over the replaced text column
    val ms = MemoryStream[(Long, String)]
    val out = Compiler.pipeline(spec)(
      ms.toDF().toDF("doc_id", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("chunk_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows.filter(_._2 != null): _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(chunks(spark.table("chunk_stream")) == batchOut)
  }

  test("fim_transform spec: text becomes the PSM rewrite, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val spec = SpecLoader.load(
      """input: {type: stdin}
        |pipeline:
        |  processors:
        |    - type: fim_transform
        |      config: {salt: "s15"}
        |output: {type: stdout}
        |""".stripMargin)
    val rows = Seq((7L, "the quick brown fox"), (8L, "jumps over"),
      (9L, null.asInstanceOf[String]))
    def fims(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "fim_lo", "fim_hi").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
        .sortBy(_._1).toSeq
    val batchOut = fims(Compiler.pipeline(spec)(rows.toDF("doc_id", "text")))
    assert(batchOut.size == 3)
    // splice invariant: PRE + MID + SUF rebuilds the original text
    for (((id, orig), (gid, fim, lo, hi)) <- rows.zip(batchOut) if orig != null) {
      assert(id == gid)
      val m = "<PRE>(.*)<SUF>(.*)<MID>(.*)".r
      val m(pre, suf, mid) = fim: @unchecked
      assert(pre + mid + suf == orig, s"doc $id splice broke")
      assert(lo >= 0 && hi >= lo && hi <= orig.length)
    }
    // null text: null rewrite, null cuts (total pass)
    assert(batchOut.last == ((9L, null, -1L, -1L)))
    val ms = MemoryStream[(Long, String)]
    val out = Compiler.pipeline(spec)(ms.toDF().toDF("doc_id", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("fim_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(fims(spark.table("fim_stream")) == batchOut)
  }

  test("bpe_tokenize spec: tokenizes with a saved vocabulary, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bpetok")
    val modelPath = dir.resolve("model").toString
    val train = Seq((1L, "low low low low low"), (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    graft.ext.Bpe.modelSave(spark,
      graft.ext.Bpe.train(train, nMerges = 5), modelPath)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: bpe_tokenize
         |      config: {model_path: "$modelPath"}
         |output: {type: stdout}
         |""".stripMargin)
    val rows = Seq("low lower newest", "widest low")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select("text", "bpe_tokens", "n_bpe_tokens").collect()
        .map(r => (r.getString(0), r.getSeq[String](1).toSeq, r.getLong(2)))
        .sortBy(_._1).toSeq
    val batchOut = toks(Compiler.pipeline(spec)(rows.toDF("text")))
    assert(batchOut.map(_._1) == rows.sorted)
    // the trained merges actually apply: "newest" fuses to n-e-w-est</w>
    assert(batchOut.head._2.contains("est</w>"))
    assert(batchOut.forall(r => r._3 == r._2.length.toLong))
    val ms = MemoryStream[String]
    val out = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("bpetok_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(toks(spark.table("bpetok_stream")) == batchOut)
  }

  test("semantic_gate spec: drops embedding-contaminated rows at ingest, batch == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-semgate")
    val benchPath = dir.resolve("bench").toString
    Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .write.parquet(benchPath)
    val spec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: semantic_gate
         |      config: {bench_path: "$benchPath", min_cosine: "0.9"}
         |output: {type: stdout}
         |""".stripMargin)
    // 1 = exact bench copy (drop), 2 = near-paraphrase (drop), 3 =
    // orthogonal (keep), 4 = null vector (keep — total pass)
    val rows = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.95f, 0.05f)),
      (3L, Array(0.0f, 1.0f)), (4L, null.asInstanceOf[Array[Float]]))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val batchOut = ids(Compiler.pipeline(spec)(rows.toDF("vec_id", "embedding")))
    assert(batchOut == Seq(3L, 4L), s"gate kept: $batchOut")
    // the audit face keeps every row and exposes the flag
    val flagSpec = SpecLoader.load(
      s"""input: {type: stdin}
         |pipeline:
         |  processors:
         |    - type: semantic_gate
         |      config: {bench_path: "$benchPath", min_cosine: "0.9", action: flag}
         |output: {type: stdout}
         |""".stripMargin)
    assert(ids(Compiler.pipeline(flagSpec)(rows.toDF("vec_id", "embedding"))) ==
      Seq(1L, 2L, 3L, 4L))
    val ms = MemoryStream[(Long, Array[Float])]
    val out = Compiler.pipeline(spec)(ms.toDF().toDF("vec_id", "embedding"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("semgate_stream")
      .trigger(Trigger.AvailableNow())
    ms.addData(rows.toIndexedSeq: _*)
    val started = q.start()
    try started.awaitTermination(60000) finally started.stop()
    assert(ids(spark.table("semgate_stream")) == batchOut)
  }

  // --- row-dropping processors after the text chain ------------------------

  private val textChain =
    """    - type: strip_markup
      |    - type: pii_redact
      |    - type: normalize_text
      |""".stripMargin

  /** A small corpus as parquet, the three gate indexes the ingest
    * benchmark builds from it, and a linear model over text features. */
  private lazy val chainFixture: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-chain").toString
    val corpus = (1 to 40).map(i => (i.toLong,
      (1 to 14).map(t => s"w${i}_$t").mkString(" "))).toDF("doc_id", "text")
    corpus.write.parquet(s"$dir/docs")
    graft.ext.Dedup.fpIndexSave(corpus, s"$dir/idx/exact")
    graft.ext.Dedup.bandIndexSave(corpus, s"$dir/idx/band", n = 5)
    graft.ext.TextAnalysis.benchGramIndexSave(
      corpus.filter($"doc_id" % 4 === 0), s"$dir/idx/contamination", n = 8)
    graft.ext.Learn.linearModelSave(spark,
      graft.ext.Learn.LinearModel(Array(1L, 2L), -5L), Seq("n_chars", "n_tokens"),
      s"$dir/model")
    dir
  }

  /** The ingest benchmark's processors after the chain, gates on `action`. */
  private def ingestGates(dir: String, action: String): String =
    s"""    - type: repetition_filter
       |      config: {max_top_bigram_frac: "0.3"}
       |    - type: contamination_gate
       |      config: {index_path: "$dir/idx/contamination", action: $action}
       |    - type: exact_dup_gate
       |      config: {index_path: "$dir/idx/exact", action: $action}
       |    - type: near_dup_gate
       |      config: {index_path: "$dir/idx/band", action: $action}
       |""".stripMargin

  private def specOf(processors: String) = SpecLoader.load(
    s"""input: {type: stdin}
       |pipeline:
       |  processors:
       |$processors
       |output: {type: stdout}
       |""".stripMargin)

  test("row-dropping processors evaluate the upstream text chain once (no chain copy in a Filter)") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val dir = chainFixture
    val docs = spark.read.parquet(s"$dir/docs")
    def plan(processors: String) =
      Compiler.pipeline(specOf(processors))(docs).queryExecution.optimizedPlan
    def regexNodes(processors: String): Int = plan(processors).collect { case n =>
      n.expressions.map(_.collect { case r: RegExpReplace => r }.size).sum
    }.sum
    val dropping = Seq(
      "quality_filter" -> """{min_score: "0.2"}""",
      "repetition_filter" -> """{max_top_bigram_frac: "0.3"}""",
      "c4_filter" -> """{min_kept_lines: "1"}""",
      "keyword_filter" -> """{weights: "spam:-5,w1_1:2"}""",
      "linear_gate" -> s"""{model_path: "$dir/model", min_margin: "0"}""",
      "contamination_gate" -> s"""{index_path: "$dir/idx/contamination"}""",
      "exact_dup_gate" -> s"""{index_path: "$dir/idx/exact"}""",
      "near_dup_gate" -> s"""{index_path: "$dir/idx/band"}""")
    val chainOnly = regexNodes(textChain)
    assert(chainOnly > 0)
    for ((typ, config) <- dropping) {
      val proc = s"""    - type: $typ
                    |      config: $config
                    |""".stripMargin
      // the chain once, plus whatever the processor itself matches
      assert(regexNodes(textChain + proc) == chainOnly + regexNodes(proc),
        s"$typ copies the chain:\n${plan(textChain + proc)}")
      val copied = plan(textChain + proc).collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[RegExpReplace]) => f
      }
      assert(copied.isEmpty, s"$typ filters on a chain copy: $copied")
    }
  }

  test("the ingest benchmark's processor chain generates under 50k chars of whole-stage source") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val dir = chainFixture
    val out = Compiler.pipeline(specOf(textChain + ingestGates(dir, "flag")))(
      spark.read.parquet(s"$dir/docs"))
    val chars = out.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body.length
    }.sum
    assert(chars > 0 && chars < 50000, s"$chars chars of generated source")
  }

  test("drop gates after the chain: runBatch == runStream, null text passes, all-drop batch") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fx = chainFixture
    val dir = Files.createTempDirectory("graft-dropgates").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    def corpusDoc(i: Int) = (1 to 14).map(t => s"w${i}_$t").mkString(" ")
    val fresh = "<p>Fresh   words</p> about a river, mail me at a@b.com today"
    val looped = Seq.fill(20)("buy now").mkString(" ")
    val mixed = Seq(fresh, corpusDoc(3), s"<b>${corpusDoc(8)}</b>", looped,
      "another fresh line with nothing in common at all")
    // every row of the second file is an exact corpus copy (exact_dup),
    // a benchmark document (contamination) or a near-dup: all drop
    val allDrop = Seq(corpusDoc(12), corpusDoc(5).toUpperCase, corpusDoc(20))
    val processors = textChain + ingestGates(fx, "drop")
    def fileSpec(out: String) = SpecLoader.load(
      s"""input: {type: text_file, path: "$dir/in"}
         |pipeline:
         |  processors:
         |$processors
         |output: {type: parquet, path: "$out"}
         |""".stripMargin)
    def written(path: String) =
      spark.read.parquet(path).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    Files.writeString(Paths.get(s"$dir/in/a.txt"), mixed.mkString("", "\n", "\n"))
    val q = Compiler.runStream(spark, fileSpec(s"$dir/stream"), s"$dir/ckpt")
    val stream = try {
      q.processAllAvailable()
      Files.writeString(Paths.get(s"$dir/in/b.txt"), allDrop.mkString("", "\n", "\n"))
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
    } finally q.stop()
    assert(stream == Seq(mixed.size.toLong, allDrop.size.toLong))
    Compiler.runBatch(spark, fileSpec(s"$dir/batch"))
    val kept = written(s"$dir/batch")
    assert(written(s"$dir/stream") == kept)
    assert(kept.map(_.split('|').head) == Seq(
      "another fresh line with nothing in common at all",
      "fresh words about a river, mail me at <email> today"), kept)
    // no streaming source yields null text, so the null row runs the same
    // compiled chain over a memory stream against the batch frame
    val rows = Seq(Some(fresh), None, Some(corpusDoc(12)), Some(looped))
    val spec = specOf(processors)
    val batchOut = Compiler.pipeline(spec)(rows.toDF("text"))
    assert(batchOut.columns.toSeq == Compiler.pipeline(specOf(textChain))(
      rows.toDF("text")).columns.toSeq, "drop gates must not change the schema")
    val batchRows = batchOut.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(batchRows.size == 2 && batchRows.exists(_.startsWith("null|")), batchRows)
    val ms = MemoryStream[Option[String]]
    val sq = Compiler.pipeline(spec)(ms.toDF().withColumnRenamed("value", "text"))
      .writeStream.format("memory").queryName("dropgates_null_stream").start()
    try {
      ms.addData(rows: _*)
      sq.processAllAvailable()
      ms.addData(allDrop.map(Some(_)): _*)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(spark.table("dropgates_null_stream").collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq == batchRows)
  }

  test("http_server address parsing: defaults, IPv6 brackets, rejects") {
    import graft.sources.HttpIngest.{parseAddress => pa}
    assert(pa("0.0.0.0:4195") == ("0.0.0.0", 4195))
    assert(pa("localhost") == ("localhost", 4195))
    assert(pa("[::1]:8080") == ("::1", 8080))
    assert(pa("[::1]") == ("::1", 4195))
    // unbracketed IPv6 would mis-split at the last colon — reject, not guess
    assertThrows[IllegalArgumentException](pa("::1"))
    assertThrows[IllegalArgumentException](pa("fe80::1:4195"))
    // non-numeric / out-of-range ports fail with the address in the message
    val e = intercept[IllegalArgumentException](pa("host:http"))
    assert(e.getMessage.contains("host:http"))
    assertThrows[IllegalArgumentException](pa("host:99999"))
    assertThrows[IllegalArgumentException](pa("[::1]:nope"))
    // trailing garbage after the bracket (forgotten colon) must not
    // silently fall back to the default port
    assertThrows[IllegalArgumentException](pa("[::1]8080"))
  }
}
