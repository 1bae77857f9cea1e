package graft.streaming

import graft.sources.WebhookAuth
import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{ChannelFutureListener, ChannelHandlerContext, ChannelInitializer,
  ChannelOption, MultiThreadIoEventLoopGroup, SimpleChannelInboundHandler}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http.{DefaultFullHttpResponse, FullHttpRequest, HttpHeaderNames,
  HttpMessage, HttpObjectAggregator, HttpRequest, HttpResponseStatus, HttpServerCodec,
  HttpServerExpectContinueHandler, HttpUtil}
import io.netty.util.concurrent.DefaultThreadFactory
import java.net.{InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

/** S1's front door executed for real: an in-process HTTP endpoint that
  * receives webhook POSTs, verifies them per-integration, audit-logs every
  * request, and lands accepted ones in the JSONL request log that
  * [[WebhookStream.start]] ingests — the engine-side re-expression of
  * `api/helpers.rb:167-255` (`handle_webhook_request`):
  *
  *  - route = `/v1/service_integrations/<opaque_id>`, like the reference's
  *    webhook routes; unknown opaque id is 404;
  *  - the integration's auth family ([[WebhookAuth]]) decides; a reject is
  *    answered 401 with the `Whdb-Rejected-Reason` header
  *    (`api/helpers.rb:210-213`) and is NOT landed;
  *  - every request (accepted or not) is appended to the logged-webhooks
  *    audit file synchronously, as the reference audit-logs in-request
  *    ("It should be fast enough", `api/helpers.rb:228-231`);
  *  - accepted requests land in [[WebhookStream.requestSchema]] form with a
  *    receiver-assigned monotone `__ingest_seq` — arrival order is the
  *    last-wins tiebreak the merge relies on;
  *  - the response body is the replicator's synchronous webhook response
  *    (`webhook_response`), 202 by default.
  *
  * Each accepted request lands as its own immutable file: the streaming file
  * source tails the directory by discovering new files, so append-in-place
  * is not an option. At production rates a fronting collector would batch
  * many requests per file; one-per-request keeps the landing atomic here.
  *
  * Transport: Netty (the jars Spark already ships for its RPC layer), on
  * sockets with `TCP_NODELAY`, and each reply is one full response with a
  * `Content-Length`, written and flushed once. A reply written as headers
  * then body on a Nagle socket holds the body until the client acknowledges
  * the headers, and a client that is waiting for the reply delays that ACK
  * by ~40 ms: a sender that posts back to back on a keep-alive connection
  * got ~25 replies/s per connection. The JDK server's own switch
  * (`-Dsun.net.httpserver.nodelay`) is read once per JVM, by whichever
  * `com.sun.net.httpserver` server starts first, so a receiver cannot rely
  * on setting it.
  *
  * One event-loop thread accepts, reads and handles every connection, so
  * requests are handled one at a time in arrival order: `__ingest_seq`
  * order is landing order, and the high-water mark and audit file are
  * written by one thread. A request body larger than [[MaxBodyBytes]] is
  * not buffered past that bound: it is answered 413, audited with an empty
  * body and never landed.
  */
object WebhookReceiver {

  /** One mounted integration: how to verify, and what to answer. */
  final case class Route(
      verify: (Map[String, String], String) => WebhookAuth.Verdict,
      responseStatus: Int = 202,
      responseBody: String = """{"o":"k"}""")

  /** A running receiver; `close()` stops accepting, closes every open
    * connection and waits until the event-loop thread has stopped. */
  final class Started(val port: Int, shutdown: () => Unit) extends AutoCloseable {
    def url(opaqueId: String): String =
      s"http://127.0.0.1:$port$RoutePrefix$opaqueId"
    def close(): Unit = shutdown()
  }

  /** The largest request body the receiver buffers: far above any
    * provider's webhook payload, and a bound on what one sender can make
    * the receiver hold. */
  val MaxBodyBytes: Int = 16 * 1024 * 1024

  private val RoutePrefix = "/v1/service_integrations/"

  /** Name prefix of the receiver's event-loop threads. */
  private[streaming] val ThreadPrefix = "graft-webhook-receiver"

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonObj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")

  /** First value per header, lower-cased keys: the form WebhookAuth takes.
    * Locale.ROOT: a Turkish-locale JVM's default toLowerCase turns 'I' into
    * a dotless i, so 'X-Signature' would never match 'x-signature' and
    * every signed webhook would be rejected. */
  private def headersOf(req: HttpRequest): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    req.headers.names.asScala
      .map(k => k.toLowerCase(java.util.Locale.ROOT) -> req.headers.get(k)).toMap
  }

  /** Start the receiver on `port` (0 = ephemeral). `landingDir` receives one
    * JSONL file per accepted request; `auditFile` gets one line per request
    * (the logged-webhooks table, `logged_webhook.rb`). */
  def start(routes: Map[String, Route], landingDir: Path, auditFile: Path,
            port: Int = 0): Started = {
    Files.createDirectories(landingDir)
    if (auditFile.getParent != null) Files.createDirectories(auditFile.getParent)
    // Resume the sequence from a dedicated high-water-mark sidecar, not
    // (only) from surviving landing files: the landing dir grows one file
    // per request forever, so a retention/archival job WILL eventually
    // delete old req-N.json files — and a restart that derived its seq from
    // the survivors would then re-issue names the streaming checkpoint has
    // already recorded as processed (silent data loss). The sidecar is
    // written atomically on every accept; the scan-forward over surviving
    // files covers the crash window between landing req-N and persisting N.
    val hwmFile = landingDir.resolve("_seq_hwm")
    val sidecarHwm =
      if (Files.exists(hwmFile)) Files.readString(hwmFile).trim.toLong else 0L
    val scannedHwm = {
      val s = Files.list(landingDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case n if n.matches("req-\\d+\\.json") =>
            n.stripPrefix("req-").stripSuffix(".json").toLong }
          .foldLeft(0L)(math.max)
      } finally s.close()
    }
    val seq = new AtomicLong(math.max(sidecarHwm, scannedHwm))
    // Serialized + monotone: concurrent accepts must not let a lower seq
    // overwrite a higher persisted mark. (Both sidecar names start with
    // '_'/'.' so Spark's file source ignores them.)
    val hwmLock = new Object
    var persistedHwm = math.max(sidecarHwm, scannedHwm)
    def persistHwm(n: Long): Unit = hwmLock.synchronized {
      if (n > persistedHwm) {
        val tmp = landingDir.resolve("._seq_hwm.tmp")
        Files.writeString(tmp, n.toString)
        Files.move(tmp, hwmFile,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        persistedHwm = n
      }
    }
    val auditLock = new Object

    def audit(opaqueId: String, status: Int, headers: Map[String, String],
              body: String): Unit = auditLock.synchronized {
      // rejected/unknown bodies are truncated for the log table (the
      // reference's retention truncation); accepted bodies are already
      // landed in full, so the audit line may keep them whole for replay
      val kept = if (status >= 400) body.take(4096) else body
      val line = "{" +
        s""""opaque_id":${jsonStr(opaqueId)},"status":$status,""" +
        s""""headers":${jsonObj(headers)},"body":${jsonStr(kept)}}""" + "\n"
      Files.writeString(auditFile, line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      ()
    }

    def respond(ctx: ChannelHandlerContext, req: HttpRequest, status: Int, body: String,
                extraHeaders: Seq[(String, String)] = Nil): Unit = {
      val res = new DefaultFullHttpResponse(req.protocolVersion,
        HttpResponseStatus.valueOf(status), Unpooled.wrappedBuffer(body.getBytes(UTF_8)))
      extraHeaders.foreach { case (k, v) => res.headers.set(k, v) }
      res.headers.set(HttpHeaderNames.CONTENT_TYPE, "application/json")
      HttpUtil.setContentLength(res, res.content.readableBytes)
      val keepAlive = HttpUtil.isKeepAlive(req)
      HttpUtil.setKeepAlive(res, keepAlive)
      val written = ctx.writeAndFlush(res)
      if (!keepAlive) written.addListener(ChannelFutureListener.CLOSE)
    }

    def handle(ctx: ChannelHandlerContext, req: FullHttpRequest): Unit = try {
      val path = new URI(req.uri).getPath
      if (!path.startsWith(RoutePrefix)) respond(ctx, req, 404, """{"error":"not found"}""")
      else {
        val opaqueId = path.stripPrefix(RoutePrefix)
        val body = req.content.toString(UTF_8)
        val headers = headersOf(req)
        routes.get(opaqueId) match {
          case None =>
            audit(opaqueId, 404, headers, body)
            respond(ctx, req, 404, """{"error":"no service integration"}""")
          case Some(route) =>
            route.verify(headers, body) match {
              case WebhookAuth.Rejected(reason) =>
                audit(opaqueId, 401, headers, body)
                respond(ctx, req, 401, """{"error":"unauthorized"}""",
                  Seq("Whdb-Rejected-Reason" -> reason))
              case WebhookAuth.Accepted =>
                val n = seq.incrementAndGet()
                val line = "{" +
                  s""""body":${jsonStr(body)},"headers":${jsonObj(headers)},""" +
                  s""""path":${jsonStr(path)},"method":${jsonStr(req.method.name)},""" +
                  s""""__ingest_seq":$n}""" + "\n"
                // write-then-rename so the streaming source never reads a
                // partially-written landing file
                val tmp = landingDir.resolve(s".req-$n.json.tmp")
                Files.writeString(tmp, line)
                Files.move(tmp, landingDir.resolve(s"req-$n.json"),
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                persistHwm(n)
                audit(opaqueId, route.responseStatus, headers, body)
                respond(ctx, req, route.responseStatus, route.responseBody)
            }
        }
      }
    } catch {
      case e: Exception => respond(ctx, req, 500, s"""{"error":${jsonStr(e.toString)}}""")
    }

    /** Audits an oversize request as 413 with an empty body (the aggregator
      * has dropped what arrived of it), then lets the aggregator answer 413. */
    def aggregator() = new HttpObjectAggregator(MaxBodyBytes) {
      override protected def handleOversizedMessage(ctx: ChannelHandlerContext,
                                                    oversized: HttpMessage): Unit = {
        try oversized match {
          case req: HttpRequest =>
            val path = new URI(req.uri).getPath
            if (path.startsWith(RoutePrefix))
              audit(path.stripPrefix(RoutePrefix), 413, headersOf(req), "")
          case _ =>
        } finally super.handleOversizedMessage(ctx, oversized)
      }
    }

    val loop = new MultiThreadIoEventLoopGroup(1,
      new DefaultThreadFactory(ThreadPrefix, true), NioIoHandler.newFactory())
    // shutting the loop down closes every channel registered on it: the
    // listening channel and each open keep-alive connection
    def stop(): Unit =
      loop.shutdownGracefully(0, 0, TimeUnit.SECONDS).awaitUninterruptibly()
    try {
      val server = new ServerBootstrap()
        .group(loop)
        .channel(classOf[NioServerSocketChannel])
        .childOption(ChannelOption.TCP_NODELAY, java.lang.Boolean.TRUE)
        .childHandler(new ChannelInitializer[SocketChannel] {
          override def initChannel(ch: SocketChannel): Unit =
            ch.pipeline.addLast(new HttpServerCodec, new HttpServerExpectContinueHandler,
              aggregator(), new SimpleChannelInboundHandler[FullHttpRequest] {
                override def channelRead0(ctx: ChannelHandlerContext, req: FullHttpRequest): Unit =
                  if (req.decoderResult.isSuccess) handle(ctx, req)
                  else {
                    // a request the codec could not parse never reaches a
                    // route and is not audited; the connection is closed
                    HttpUtil.setKeepAlive(req, false)
                    respond(ctx, req, 400, """{"error":"bad request"}""")
                  }
                override def exceptionCaught(ctx: ChannelHandlerContext, e: Throwable): Unit =
                  ctx.close()
              })
        })
        .bind(new InetSocketAddress("127.0.0.1", port)).sync().channel()
      new Started(server.localAddress.asInstanceOf[InetSocketAddress].getPort, () => stop())
    } catch {
      case e: Throwable => stop(); throw e
    }
  }
}
