package graft.streaming

import graft.SparkSpec
import graft.replicators.Replicators
import graft.sources.WebhookAuth
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** S1 end-to-end over REAL HTTP, matching `api/helpers.rb:167-255` +
  * `jobs/process_webhook.rb:32-45`: in-process HTTP server -> per-service
  * verification -> audit insert -> landing log -> WebhookStream -> merged
  * snapshot. The only fake is the network distance. */
class WebhookReceiverSpec extends SparkSpec {

  private val secret = "whsec_test_1234"

  private def signed(body: String, atEpoch: Long): String =
    s"t=$atEpoch,v1=${WebhookAuth.hmacSha256Hex(secret, s"$atEpoch.$body")}"

  private def charge(id: String, amount: Int, created: Long) =
    s"""{"id":"$id","object":"charge","amount":$amount,"created":$created,"status":"ok"}"""
  private def event(resource: String, created: Long) =
    s"""{"object":"event","created":$created,"data":{"object":$resource}}"""

  /** Landed request files only — the landing dir also holds the `_seq_hwm`
    * sidecar (which Spark's file source ignores, names starting with '_'). */
  private def landed(dir: java.nio.file.Path): Long = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.matches("req-\\d+\\.json")).toLong
    } finally s.close()
  }

  private def post(client: HttpClient, url: String, body: String,
                   headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("HTTP receive -> verify -> audit -> land -> stream -> merged table") {
    val dir = Files.createTempDirectory("whhttp")
    val landing = dir.resolve("landing")
    val audit = dir.resolve("audit/logged_webhooks.jsonl")
    val now = 1700000000L
    val routes = Map("svi_stripe_x" -> WebhookReceiver.Route(
      verify = (headers, body) => WebhookAuth.verifySignedHeader(
        headers.get("stripe-signature"), body, secret, nowEpoch = now)))
    val started = WebhookReceiver.start(routes, landing, audit)
    try {
      val client = HttpClient.newHttpClient()
      val url = started.url("svi_stripe_x")

      // two valid webhooks, arrival order sets the merge tiebreak
      val b1 = event(charge("ch_1", 100, 1000), 1000)
      assert(post(client, url, b1, "Stripe-Signature" -> signed(b1, now)).statusCode() == 202)
      val b2 = event(charge("ch_1", 111, 3000), 3000)
      val r2 = post(client, url, b2, "Stripe-Signature" -> signed(b2, now))
      assert(r2.statusCode() == 202 && r2.body() == """{"o":"k"}""")

      // bad signature: 401 + reason header, NOT landed
      val bad = post(client, url, b1, "Stripe-Signature" -> s"t=$now,v1=deadbeef")
      assert(bad.statusCode() == 401)
      assert(bad.headers().firstValue("Whdb-Rejected-Reason").get == "signature mismatch")
      // stale timestamp: its own reason (replay protection)
      val stale = post(client, url, b1, "Stripe-Signature" -> signed(b1, now - 9999))
      assert(stale.headers().firstValue("Whdb-Rejected-Reason").get == "timestamp out of tolerance")
      // unknown integration: 404
      assert(post(client, started.url("svi_nope"), b1).statusCode() == 404)

      // only the two accepted requests landed
      assert(landed(landing) == 2)

      // the landed log streams into the merged snapshot (process_webhook.rb)
      val q = WebhookStream.start(spark, Replicators.stripeChargeV1,
        landing.toString, s"$dir/snap", s"$dir/chk")
      q.awaitTermination()
      val out = new SnapshotStore(s"$dir/snap")
        .readOr(graft.operators.Pipeline.emptyTarget(Replicators.stripeChargeV1, spark))
        .collect()
      assert(out.length == 1)
      assert(out(0).getAs[String]("stripe_id") == "ch_1")
      assert(out(0).getAs[Long]("amount") == 111L) // newer update won

      // the audit log captured EVERY request with its status
      val lines = Files.readAllLines(audit)
      assert(lines.size == 5)
      val statuses = spark.read.json(audit.toString)
        .groupBy("status").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(statuses == Map(202L -> 2L, 401L -> 2L, 404L -> 1L))
    } finally started.close()
  }

  test("audit keeps accepted bodies whole and truncates rejected ones") {
    val dir = Files.createTempDirectory("whhttp3")
    val audit = dir.resolve("audit.jsonl")
    val routes = Map("svi_sec" -> WebhookReceiver.Route(
      verify = (headers, _) => WebhookAuth.verifySecretHeader(
        headers.get("x-secret"), "s3cr3t")))
    val started = WebhookReceiver.start(routes, dir.resolve("landing"), audit)
    try {
      val client = HttpClient.newHttpClient()
      val url = started.url("svi_sec")
      val big = "x" * 10000
      assert(post(client, url, big, "X-Secret" -> "s3cr3t").statusCode() == 202)
      assert(post(client, url, big, "X-Secret" -> "wrong").statusCode() == 401)
      val rows = spark.read.json(audit.toString)
        .select("status", "body").collect()
        .map(r => r.getLong(0) -> r.getString(1).length).toMap
      assert(rows(202L) == 10000) // accepted: whole, replayable
      assert(rows(401L) == 4096)  // rejected: truncated for the log
    } finally started.close()
  }

  test("a restarted receiver resumes the ingest seq instead of overwriting") {
    val dir = Files.createTempDirectory("whhttp4")
    val landing = dir.resolve("landing")
    val routes = Map("svi_open" -> WebhookReceiver.Route(
      verify = (_, _) => WebhookAuth.Accepted))
    val client = HttpClient.newHttpClient()
    val s1 = WebhookReceiver.start(routes, landing, dir.resolve("a1.jsonl"))
    try (1 to 3).foreach(i => post(client, s1.url("svi_open"), s"""{"i":$i}"""))
    finally s1.close()
    // restart on the SAME durable landing dir: seq must continue at 4, not
    // reset to 1 and silently replace req-1.json (already recorded as
    // processed by the streaming source)
    val s2 = WebhookReceiver.start(routes, landing, dir.resolve("a2.jsonl"))
    try post(client, s2.url("svi_open"), """{"i":4}""")
    finally s2.close()
    assert(landed(landing) == 4)
    val seqs = spark.read.schema(WebhookStream.requestSchema)
      .json(landing.toString)
      .select("__ingest_seq").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == (1L to 4L))

    // retention deletes every landed file; the sidecar high-water mark must
    // still carry the seq forward — a scan-only restart would reset to 1
    // and re-issue names the streaming checkpoint already processed
    import scala.jdk.CollectionConverters._
    val s = Files.list(landing)
    try s.iterator().asScala
      .filter(_.getFileName.toString.matches("req-\\d+\\.json"))
      .toList.foreach(f => Files.delete(f))
    finally s.close()
    val s3 = WebhookReceiver.start(routes, landing, dir.resolve("a3.jsonl"))
    try post(client, s3.url("svi_open"), """{"i":5}""")
    finally s3.close()
    val after = spark.read.schema(WebhookStream.requestSchema)
      .json(landing.toString)
      .select("__ingest_seq").collect().map(_.getLong(0))
    assert(after.toSeq == Seq(5L))
  }

  test("concurrent senders land with unique monotone ingest seqs") {
    val dir = Files.createTempDirectory("whhttp2")
    val landing = dir.resolve("landing")
    val audit = dir.resolve("audit.jsonl")
    val routes = Map("svi_open" -> WebhookReceiver.Route(
      verify = (_, _) => WebhookAuth.Accepted))
    val started = WebhookReceiver.start(routes, landing, audit)
    try {
      val client = HttpClient.newHttpClient()
      val url = started.url("svi_open")
      val threads = (1 to 4).map { t =>
        new Thread(() => (1 to 25).foreach { i =>
          post(client, url, s"""{"t":$t,"i":$i}""")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(landed(landing) == 100)
      val seqs = spark.read.schema(WebhookStream.requestSchema)
        .json(landing.toString)
        .select("__ingest_seq").collect().map(_.getLong(0)).sorted
      assert(seqs.toSeq == (1L to 100L)) // unique, gapless, monotone
    } finally started.close()
  }

  private val openRoute = Map("svi_open" -> WebhookReceiver.Route(
    verify = (_, _) => WebhookAuth.Accepted))

  /** A socket to the receiver whose reads give up after 10 s, so a reply or
    * EOF that never comes fails the test instead of hanging it. */
  private def socketTo(port: Int): Socket = {
    val s = new Socket("127.0.0.1", port)
    s.setSoTimeout(10000)
    s
  }

  private def rawPost(s: Socket, opaqueId: String, body: String, extra: String = ""): Unit = {
    val bytes = body.getBytes(UTF_8)
    s.getOutputStream.write(
      (s"POST /v1/service_integrations/$opaqueId HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Length: ${bytes.length}\r\n$extra\r\n").getBytes(UTF_8) ++ bytes)
    s.getOutputStream.flush()
  }

  /** The reply's status line and headers, read up to the blank line. */
  private def readHead(s: Socket): String = {
    val b = new java.io.ByteArrayOutputStream
    while (!b.toString(UTF_8).endsWith("\r\n\r\n")) {
      val c = s.getInputStream.read()
      assert(c >= 0, s"EOF inside the reply head: ${b.toString(UTF_8)}")
      b.write(c)
    }
    b.toString(UTF_8)
  }

  private def contentLength(head: String): Int =
    head.split("\r\n").collectFirst {
      case h if h.toLowerCase(java.util.Locale.ROOT).startsWith("content-length:") =>
        h.drop("content-length:".length).trim.toInt
    }.get

  test("back-to-back POSTs on one keep-alive connection are answered without a delayed-ACK stall") {
    val dir = Files.createTempDirectory("whhttp-b2b")
    val started = WebhookReceiver.start(openRoute, dir.resolve("landing"), dir.resolve("a.jsonl"))
    try {
      // HTTP/1.1 pins the client to one pooled connection for sequential sends
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val url = started.url("svi_open")
      (1 to 5).foreach(i => post(client, url, s"""{"warm":$i}"""))
      val ms = (1 to 30).map { i =>
        val t0 = System.nanoTime()
        assert(post(client, url, s"""{"i":$i}""").statusCode() == 202)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // a reply written as headers then body on a Nagle socket waits ~40 ms
      // for the client's delayed ACK of the headers
      assert(ms(ms.size / 2) < 20.0, s"reply ms: ${ms.mkString(", ")}")
      assert(landed(dir.resolve("landing")) == 35)
    } finally started.close()
  }

  test("a chunked request body lands byte-identical and passes signature verification") {
    val dir = Files.createTempDirectory("whhttp-chunked")
    val landing = dir.resolve("landing")
    val now = 1700000000L
    val routes = Map("svi_stripe_x" -> WebhookReceiver.Route(
      verify = (headers, body) => WebhookAuth.verifySignedHeader(
        headers.get("stripe-signature"), body, secret, nowEpoch = now)))
    val started = WebhookReceiver.start(routes, landing, dir.resolve("a.jsonl"))
    try {
      // ~200 KB with multi-byte characters, sent with no Content-Length
      val body = event(charge("ch_\u00e9\u4e2d", 7, 1000), 1000)
        .replace("\"status\":\"ok\"", "\"status\":\"ok\",\"note\":\"" +
          "caf\u00e9 \u4e2d\u6587 " * 20000 + "\"")
      val bytes = body.getBytes(UTF_8)
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder(URI.create(started.url("svi_stripe_x")))
        .header("Stripe-Signature", signed(body, now))
        .POST(HttpRequest.BodyPublishers.ofInputStream(() => new java.io.ByteArrayInputStream(bytes)))
        .build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(res.statusCode() == 202, res.body())
      assert(landed(landing) == 1)
      val got = spark.read.schema(WebhookStream.requestSchema).json(landing.toString)
        .select("body").collect().map(_.getString(0))
      assert(got.length == 1 && got(0).getBytes(UTF_8).sameElements(bytes))
    } finally started.close()
  }

  test("a Connection: close request gets its reply and then EOF") {
    val dir = Files.createTempDirectory("whhttp-close")
    val started = WebhookReceiver.start(openRoute, dir.resolve("landing"), dir.resolve("a.jsonl"))
    try {
      val s = socketTo(started.port)
      try {
        rawPost(s, "svi_open", """{"i":1}""", "Connection: close\r\n")
        val head = readHead(s)
        assert(head.startsWith("HTTP/1.1 202"), head)
        // the whole body, then EOF: readAllBytes returns only at EOF (a
        // connection left open fails on the read timeout)
        val rest = s.getInputStream.readAllBytes()
        assert(new String(rest, UTF_8) == """{"o":"k"}""")
        assert(rest.length == contentLength(head))
      } finally s.close()
      assert(landed(dir.resolve("landing")) == 1)
    } finally started.close()
  }

  test("close() closes open keep-alive connections, frees the port and stops its thread") {
    val dir = Files.createTempDirectory("whhttp-stop")
    val started = WebhookReceiver.start(openRoute, dir.resolve("landing"), dir.resolve("a.jsonl"))
    val s = socketTo(started.port)
    try {
      rawPost(s, "svi_open", """{"i":1}""")
      val head = readHead(s)
      assert(head.startsWith("HTTP/1.1 202"), head)
      s.getInputStream.readNBytes(contentLength(head))
      import scala.jdk.CollectionConverters._
      def loopThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
        .filter(_.getName.startsWith(WebhookReceiver.ThreadPrefix))
      val threads = loopThreads
      assert(threads.nonEmpty)
      started.close()
      assert(s.getInputStream.read() == -1) // the idle keep-alive connection was closed
      new java.net.ServerSocket(started.port, 1,
        java.net.InetAddress.getByName("127.0.0.1")).close()
      threads.foreach(_.join(10000L))
      assert(loopThreads.isEmpty, loopThreads.map(_.getName).mkString(", "))
    } finally { s.close(); started.close() }
  }

  test("an oversize body is answered 413, audited once with an empty body and never landed") {
    val dir = Files.createTempDirectory("whhttp-413")
    val landing = dir.resolve("landing")
    val audit = dir.resolve("a.jsonl")
    val started = WebhookReceiver.start(openRoute, landing, audit)
    try {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      assert(post(client, started.url("svi_open"), """{"i":1}""").statusCode() == 202)
      val hwm = Files.readString(landing.resolve("_seq_hwm"))
      val s = socketTo(started.port)
      try {
        // the head announces one byte over the bound; no body byte follows
        s.getOutputStream.write(("POST /v1/service_integrations/svi_open HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\nX-Probe: big\r\n" +
          s"Content-Length: ${WebhookReceiver.MaxBodyBytes + 1}\r\n\r\n").getBytes(UTF_8))
        s.getOutputStream.flush()
        val head = readHead(s)
        assert(head.startsWith("HTTP/1.1 413"), head)
      } finally s.close()
      assert(landed(landing) == 1)
      assert(Files.readString(landing.resolve("_seq_hwm")) == hwm)
      val rows = spark.read.json(audit.toString)
        .selectExpr("status", "body", "headers['x-probe']").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      assert(rows.toSeq == Seq((202L, """{"i":1}""", null), (413L, "", "big")))
    } finally started.close()
  }

  test("a request the codec cannot parse is answered 400 and closed, never audited or landed") {
    val dir = Files.createTempDirectory("whhttp-400")
    val audit = dir.resolve("a.jsonl")
    val started = WebhookReceiver.start(openRoute, dir.resolve("landing"), audit)
    try {
      val s = socketTo(started.port)
      try {
        // a header block past the codec's 8 KiB bound
        rawPost(s, "svi_open", """{"i":1}""", s"X-Pad: ${"p" * 9000}\r\n")
        val head = readHead(s)
        assert(head.startsWith("HTTP/1.1 400"), head)
        s.getInputStream.readNBytes(contentLength(head))
        assert(s.getInputStream.read() == -1)
      } finally s.close()
      assert(landed(dir.resolve("landing")) == 0)
      assert(!Files.exists(audit))
    } finally started.close()
  }
}
