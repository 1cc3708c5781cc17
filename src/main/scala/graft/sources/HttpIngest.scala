package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.spec.SourceConf
import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** HTTP ingest receiver — the serving half of the `http_server` source
  * (reference: /root/reference/src/sources.rs:32-78, tiny_http POST loop).
  *
  * The reference acks 201 AFTER the synchronous pipeline run; a micro-batch
  * engine cannot ack per-request pipeline completion, so this receiver
  * implements the documented downgrade (SURVEY.md §7.4#4): it acks '''202'''
  * once the body is DURABLE — written to a hidden temp file, fsync'd, and
  * atomically renamed into the spool directory that
  * [[graft.spec.Compiler.streamSource]] tails. From there Structured
  * Streaming's checkpointed file source guarantees at-least-once delivery
  * into the pipeline, so a 202 means "will be processed", the same contract
  * a durable queue gives.
  *
  * A spool has exactly ONE consuming stream: the stream deletes each
  * spooled body once the micro-batch that read it is committed
  * (`cleanSource=delete`; Spark commits a batch to its source when it
  * plans the next one), so the spool holds the bodies of the newest batch
  * and those not yet read. Never point a second stream, or any reader
  * that expects the bodies to stay, at the same directory.
  *
  * Protocol fidelity (sources.rs:50-61): non-POST → 405, wrong URL path →
  * 404, matching the reference's dispatch order (method first). One request
  * body = one message: the spool files are read with `wholetext`, so a
  * multi-line body stays a single row, exactly as `request.as_reader().
  * read_to_end` yields one Message.
  *
  * Scale posture: the receiver is an edge process, not a cluster operator —
  * run N of them behind a load balancer, all spooling to one distributed
  * directory (object store / DFS); the Spark side scales by file listing,
  * which is exactly how high-volume HTTP ingest lands in a lake anyway.
  * Requests are served serially (the reference's `incoming_requests` loop
  * is serial too); durability per request is one fsync + one rename.
  *
  * The spool write is plain `java.nio` (no Hadoop filesystem), so it starts
  * no process. The stream that tails the spool does write through Hadoop:
  * without libhadoop, Hadoop's local filesystem starts a `chmod` process
  * per created file and a `readlink` process per link-status call, so
  * [[graft.spec.Compiler.runStream]] binds [[graft.core.NioLocalFs]], which
  * does both through `java.nio`, for its checkpoint and sink logs.
  */
final class HttpIngest(address: String, urlPath: String, spoolDir: String) {

  // host[:port], with bracketed IPv6 literals ("[::1]:4195"); a missing
  // port means the reference default 4195 (sources.rs config examples),
  // NOT an ephemeral bind — a silent random port would strand clients.
  private val (host, port) = HttpIngest.parseAddress(address)

  private val spool: Path = Paths.get(spoolDir)
  // "." prefix: Spark's file stream source ignores hidden files, so a
  // half-written temp never enters a micro-batch; the rename is atomic on
  // the same filesystem.
  private val tmpDir: Path = spool.resolve(".ingest-tmp")
  private val seq = new AtomicLong(0)
  // receiver-instance tag: restarts never collide with spooled files a
  // previous incarnation already produced (names embed start time + pid).
  private val tag =
    s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}"

  private var server: HttpServer = _

  /** Bound port (useful when constructed with port 0 in tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): HttpIngest = synchronized {
    require(server == null, "receiver already started")
    Files.createDirectories(tmpDir)
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          if (ex.getRequestMethod != "POST") respond(ex, 405)
          else if (ex.getRequestURI.getPath != urlPath) respond(ex, 404)
          else {
            val body = ex.getRequestBody.readAllBytes()
            spoolDurably(body)
            respond(ex, 202)
          }
        } catch {
          case e: Throwable =>
            try respond(ex, 500)
            catch { case _: Throwable => () }
            System.err.println(s"[http_ingest] request failed: ${e.getMessage}")
        } finally ex.close()
    })
    server.start()
    this
  }

  /** temp write → fsync file → atomic rename → fsync DIRECTORY: the file
    * is either invisible or complete, and once the 202 goes out its
    * directory entry is journaled too — a rename whose metadata is lost in
    * a crash after the ack would silently drop an acked message. */
  private def spoolDurably(body: Array[Byte]): Unit = {
    val n = seq.getAndIncrement()
    val tmp = tmpDir.resolve(f"b-$tag-$n%012d.txt")
    val ch = java.nio.channels.FileChannel.open(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try { ch.write(java.nio.ByteBuffer.wrap(body)); ch.force(true) }
    finally ch.close()
    Files.move(tmp, spool.resolve(tmp.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
    HttpIngest.fsyncDir(spool)
  }

  private def respond(ex: HttpExchange, code: Int): Unit = {
    ex.sendResponseHeaders(code, -1) // empty body, like tiny_http Response::empty
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }
}

object HttpIngest {
  /** "host[:port]" → (host, port); bracketed IPv6 supported; missing port
    * defaults to 4195 (the reference's example bind). An UNbracketed
    * multi-colon address is rejected rather than guessed at: "::1" would
    * otherwise split at the last colon into host ":" port 1, silently
    * binding the wrong thing — IPv6 literals must be written "[::1]:4195". */
  private[graft] def parseAddress(address: String): (String, Int) =
    if (address.startsWith("[")) {
      val end = address.indexOf(']')
      require(end > 0, s"unclosed IPv6 literal in address: $address")
      val rest = address.drop(end + 1)
      require(rest.isEmpty || rest.startsWith(":"),
        s"unexpected '$rest' after bracketed literal in address: $address")
      val p = if (rest.startsWith(":")) parsePort(rest.drop(1), address) else 4195
      (address.substring(1, end), p)
    } else {
      require(address.count(_ == ':') <= 1,
        s"ambiguous address '$address': bracket IPv6 literals as [host]:port")
      address.lastIndexOf(':') match {
        case -1 => (address, 4195)
        case i => (address.take(i), parsePort(address.drop(i + 1), address))
      }
    }

  private def parsePort(s: String, address: String): Int = {
    require(s.nonEmpty && s.forall(_.isDigit) && s.length <= 5,
      s"invalid port '$s' in address: $address")
    val p = s.toInt
    require(p <= 65535, s"port out of range in address: $address")
    p
  }

  /** fsync a directory so a just-renamed entry survives power loss (POSIX
    * requires a separate fsync of the parent directory). Filesystems that
    * refuse to open directories for sync make this a no-op. */
  private def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** Build from an `http_server` [[SourceConf]]: `address` = listen address
    * (reference HttpServer.address), `path` = URL path (reference
    * HttpServer.path, default "/post" per config_examples/http.yml), and
    * `config.spool_dir` = the durable handoff directory the Spark side
    * tails. */
  def fromConf(conf: SourceConf): HttpIngest = {
    require(conf.typ == "http_server", s"not an http_server source: ${conf.typ}")
    new HttpIngest(
      conf.address.getOrElse("0.0.0.0:4195"),
      conf.path.getOrElse("/post"),
      conf.config.getOrElse("spool_dir",
        sys.error("http_server needs config.spool_dir (durable handoff directory)")))
  }
}
