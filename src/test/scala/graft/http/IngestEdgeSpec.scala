package graft.http

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import graft.SparkSuite

/** Round-13 ingest-edge tail: batch envelope + gap dedup
  * (router_batch_handler.go), throttle shed (router.go:258-261), tracking
  * pixel (router_pixel_handler.go), settings stub, failed-events read-back
  * (bulkerapp/app/router.go:370-433). */
class IngestEdgeSpec extends SparkSuite {

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def obj(json: String) =
    om.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]

  private def http(method: String, url: String, body: Option[String],
                   headers: Map[String, String] = Map.empty): (Int, Array[Byte], Map[String, String]) = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(b.getBytes(UTF_8)) finally out.close()
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val bytes = is.readAllBytes()
    import scala.jdk.CollectionConverters._
    // JDK header-field casing varies; normalize keys to lowercase
    val hs = conn.getHeaderFields.asScala.collect {
      case (k, vs) if k != null => k.toLowerCase(java.util.Locale.ROOT) -> vs.get(0) }.toMap
    conn.disconnect()
    (code, bytes, hs)
  }

  private def post(url: String, body: String, headers: Map[String, String] = Map.empty) = {
    val (c, b, _) = http("POST", url, Some(body), headers); (c, new String(b, UTF_8))
  }

  private def registry(streams: WriteKeys.Stream*) = WriteKeys.Registry(
    bindings = Map(
      "k1" -> WriteKeys.Binding("k1",
        WriteKeys.storedHash("sec1", "salt0", "gs"), "destA", "s2s"),
      "kb" -> WriteKeys.Binding("kb",
        WriteKeys.storedHash("bsec", "s2", "gs"), "destB", "browser")),
    plain = Map("plainkey" -> (("destC", "browser"))),
    globalSecrets = Seq("gs"), streams = streams.toSeq)

  // ------------------------------------------------------------ gap dedup

  test("deduplicateBatch: within-gap dup dropped, dropped dup does NOT advance the key's clock") {
    def ev(ts: String) = obj(
      s"""{"anonymousId":"a","userId":"u","type":"track","event":"e","properties":{"p":1},"timestamp":"$ts"}""")
    // t0, t0+gap (dropped: |diff| <= gap), t0+1.5*gap — the third is 1.5gap
    // from the LAST KEPT (t0) so it survives; if the dropped dup had
    // advanced the clock it would sit 0.5gap away and be wrongly dropped
    val batch = Seq(ev("2024-01-01T00:00:00Z"), ev("2024-01-01T00:00:05Z"),
      ev("2024-01-01T00:00:07.500Z"))
    val out = BatchIngest.deduplicateBatch(batch, 5000)
    assert(out.map(_.get("timestamp").asText) ==
      Seq("2024-01-01T00:00:00Z", "2024-01-01T00:00:07.500Z"))
  }

  test("deduplicateBatch: any key-field difference defeats the dedup; missing/garbage timestamps always pass") {
    val base = """{"anonymousId":"a","userId":"u","type":"track","event":"e","properties":{"p":1},"traits":{"t":2},"timestamp":"2024-01-01T00:00:00Z"}"""
    def mut(f: (com.fasterxml.jackson.databind.node.ObjectNode) => Unit) = {
      val o = obj(base); f(o); o
    }
    val dupTs = "2024-01-01T00:00:01Z"
    val variants = Seq[com.fasterxml.jackson.databind.node.ObjectNode](
      mut(o => { o.put("timestamp", dupTs); o.put("userId", "OTHER"); () }),
      mut(o => { o.put("timestamp", dupTs); o.put("event", "OTHER"); () }),
      mut(o => { o.put("timestamp", dupTs)
        o.set[com.fasterxml.jackson.databind.JsonNode]("properties", obj("""{"p":9}""")); () }),
      mut(o => { o.put("timestamp", dupTs)
        o.set[com.fasterxml.jackson.databind.JsonNode]("traits", obj("""{"t":9}""")); () }))
    val exactDup = mut(o => { o.put("timestamp", dupTs); () })
    val batch = Seq(obj(base)) ++ variants ++ Seq(exactDup)
    val out = BatchIngest.deduplicateBatch(batch, 60000)
    assert(out.size == 1 + variants.size) // only the exact dup collapses
    // no timestamp / unparseable timestamp: dedup is skipped entirely
    val noTs = obj("""{"anonymousId":"a","type":"track","event":"e"}""")
    val noTs2 = obj("""{"anonymousId":"a","type":"track","event":"e"}""")
    val badTs = mut(o => { o.put("timestamp", "not-a-date"); () })
    assert(BatchIngest.deduplicateBatch(Seq(noTs, noTs2, badTs, badTs), 60000).size == 4)
  }

  // --------------------------------------------------------- live batches

  test("/api/s/s2s/batch: gap dedup + counts + per-event spool with envelope") {
    val reg = registry(WriteKeys.Stream("destA", deduplicateWindowMs = 5000))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val srv = new IngestServer(
      (d, t, e) => spooled.synchronized { spooled += ((d, t, e)); () },
      (_, _, _, _, _) => 0L, auth = Some(reg)).start()
    try {
      val body =
        """{"writeKey":"k1:sec1","batch":[
          {"anonymousId":"a1","type":"track","event":"buy","properties":{"n":1},"timestamp":"2024-01-01T00:00:00Z"},
          {"anonymousId":"a1","type":"track","event":"buy","properties":{"n":1},"timestamp":"2024-01-01T00:00:02Z"},
          {"anonymousId":"a1","type":"track","event":"buy","properties":{"n":1},"timestamp":"2024-01-01T00:00:30Z"},
          {"anonymousId":"a2","type":"page"}
        ]}"""
      val (code, resp) = post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch", body)
      assert(code == 200, resp)
      // 4 received, 1 inside-gap dup dropped, 3 spooled
      assert(resp.contains("\"receivedEvents\":4"))
      assert(resp.contains("\"okEvents\":3"))
      assert(resp.contains("\"deduplicatedEvents\":1"))
      assert(resp.contains("\"processedEvents\":3"))
      assert(resp.contains("\"ok\":true"))
      assert(spooled.size == 3 && spooled.forall(_._1 == "destA"))
      assert(spooled.forall(_._3.contains("\"ingestType\":\"s2s\"")))
      assert(spooled.count(_._3.contains("\"type\":\"track\"")) == 2)
      assert(spooled.count(_._3.contains("\"type\":\"page\"")) == 1)
    } finally srv.stop()
  }

  test("batch context merges UNDER each event's own context; eventsName forces track + default name") {
    val reg = registry(WriteKeys.Stream("destA"))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[String]
    val srv = new IngestServer(
      (_, _, e) => spooled.synchronized { spooled += e; () },
      (_, _, _, _, _) => 0L, auth = Some(reg)).start()
    try {
      val body =
        """{"writeKey":"k1:sec1","eventsName":"signup","context":{"ip":"1.2.3.4","lib":"srv"},"batch":[
          {"anonymousId":"a1"},
          {"anonymousId":"a2","event":"custom","context":{"ip":"9.9.9.9"}}
        ]}"""
      val (code, resp) = post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch", body)
      assert(code == 200 && resp.contains("\"okEvents\":2"), resp)
      val evs = spooled.map(s => om.readTree(s).get("event"))
      // event 1: no own context/name — batch context + default event name
      val e1 = evs.find(_.get("anonymousId").asText == "a1").get
      assert(e1.get("event").asText == "signup" && e1.get("type").asText == "track")
      assert(e1.get("context").get("ip").asText == "1.2.3.4")
      // event 2: own event name and own context fields WIN over batch-level
      val e2 = evs.find(_.get("anonymousId").asText == "a2").get
      assert(e2.get("event").asText == "custom")
      assert(e2.get("context").get("ip").asText == "9.9.9.9")
      assert(e2.get("context").get("lib").asText == "srv")
    } finally srv.stop()
  }

  test("batch location is STRICT writeKey-only: no slug/sole fallback; /v1/batch uses browser typing; gzip accepted") {
    val reg = registry(WriteKeys.Stream("onlyStream"))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val srv = new IngestServer(
      (d, _, e) => spooled.synchronized { spooled += ((d, e)); () },
      (_, _, _, _, _) => 0L, auth = Some(reg)).start()
    try {
      // a sole-stream workspace does NOT resolve a keyless batch (the
      // reference calls getStream strict=true — writeKey locator only)
      val noKey = """{"batch":[{"type":"page"}]}"""
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch", noKey)._1 == 401)
      assert(post(s"http://127.0.0.1:${srv.port}/v1/batch", noKey)._1 == 401)
      // /v1/batch is NOT an s2s endpoint: plain browser key resolves there,
      // and the event stamps ingestType browser
      val withPlain = """{"writeKey":"plainkey","batch":[{"type":"page"}]}"""
      assert(post(s"http://127.0.0.1:${srv.port}/v1/batch", withPlain)._1 == 200)
      assert(spooled.last._1 == "destC" &&
        spooled.last._2.contains("\"ingestType\":\"browser\""))
      // ...but not on the s2s batch endpoint (plain public keys are
      // browser-map-only, repository.go:88-111)
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch", withPlain)._1 == 401)
      // an s2s hashed key lands on either; header key wins over envelope
      val hdrKey = """{"writeKey":"plainkey","batch":[{"type":"identify"}]}"""
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch", hdrKey,
        Map("X-Write-Key" -> "k1:sec1"))._1 == 200)
      assert(spooled.last._1 == "destA" &&
        spooled.last._2.contains("\"ingestType\":\"s2s\""))
      // a hashed BROWSER key on the s2s batch endpoint resolves under the
      // writeKeyDefined rule and stamps the KEY's type (router.go:641-648)
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch",
        """{"writeKey":"kb:bsec","batch":[{"type":"page"}]}""")._1 == 200)
      assert(spooled.last._1 == "destB" &&
        spooled.last._2.contains("\"ingestType\":\"browser\""))
      // a bare STREAM ID works as a plain writeKey (repository.go:78-79
      // indexes every id in both plain maps) — the strict batch path
      // resolves it where slug/sole never apply
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch",
        """{"writeKey":"onlyStream","batch":[{"type":"page"}]}""")._1 == 200)
      assert(spooled.last._1 == "onlyStream" &&
        spooled.last._2.contains("\"ingestType\":\"s2s\""))
      // gzip body (router_batch_handler.go:135-137)
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("""{"writeKey":"k1:sec1","batch":[{"type":"page"}]}""".getBytes(UTF_8))
      gz.close()
      val conn = new URI(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.setRequestProperty("Content-Encoding", "gzip")
      val out = conn.getOutputStream
      try out.write(bos.toByteArray) finally out.close()
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      // invalid event types / missing type are per-event errors, batch-level 200
      val bad = """{"writeKey":"k1:sec1","batch":[{"type":"nonsense"},{"anonymousId":"x"},{"type":"track"}]}"""
      val (c2, r2) = post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch", bad)
      assert(c2 == 200 && r2.contains("\"ok\":false") && r2.contains("\"okEvents\":0"), r2)
      assert(r2.contains("Unknown event type") &&
        r2.contains("type property of event is required") &&
        r2.contains("'event' property is required"))
    } finally srv.stop()
  }

  // ------------------------------------------------------------- throttle

  test("throttle: deterministic percentile; 0 sheds nothing, 100 sheds all, 50 splits reproducibly") {
    val bodies = (1 to 200).map(i => s"""{"n":$i}""")
    assert(bodies.forall(!IngestThrottle.shed(_, 0)))
    assert(bodies.forall(IngestThrottle.shed(_, 100)))
    val shed50 = bodies.count(IngestThrottle.shed(_, 50))
    assert(shed50 > 60 && shed50 < 140, s"50% throttle shed $shed50/200")
    // determinism: the same body always decides the same way
    bodies.foreach { b =>
      assert(IngestThrottle.shed(b, 50) == (IngestThrottle.pct(b) < 50))
      assert(IngestThrottle.shed(b, 50) == IngestThrottle.shed(b, 50))
    }
    // monotone in the throttle percentage
    bodies.foreach { b => (0 to 99).foreach { t =>
      if (IngestThrottle.shed(b, t)) assert(IngestThrottle.shed(b, t + 1)) } }
  }

  test("throttled single events answer 402, reach onShed, and never spool; batch counts them as errors") {
    val reg = registry(WriteKeys.Stream("destA", throttle = 100),
      WriteKeys.Stream("destC"))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[String]
    val shed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val srv = new IngestServer(
      (_, _, e) => spooled.synchronized { spooled += e; () },
      (_, _, _, _, _) => 0L, auth = Some(reg),
      onShed = (d, e) => shed.synchronized { shed += ((d, e)); () }).start()
    try {
      val (code, resp) = post(s"http://127.0.0.1:${srv.port}/api/s/s2s/track",
        """{"a":1}""", Map("X-Write-Key" -> "k1:sec1"))
      assert(code == 402 && resp.contains("throttled"))
      assert(spooled.isEmpty && shed.toSeq == Seq(("destA", """{"a":1}""")))
      // an unthrottled stream is unaffected
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/page?writekey=plainkey",
        """{"a":2}""")._1 == 200)
      assert(spooled.size == 1)
      // batch path: shed events appear as per-event 'throttled' errors
      val (c2, r2) = post(s"http://127.0.0.1:${srv.port}/api/s/s2s/batch",
        """{"writeKey":"k1:sec1","batch":[{"type":"page"},{"type":"identify"}]}""")
      assert(c2 == 200 && r2.contains("\"okEvents\":0") && r2.contains("throttled"), r2)
      assert(shed.size == 3)
    } finally srv.stop()
  }

  // ---------------------------------------------------------------- pixel

  test("/api/px/:tp: query-param event spools through the locator chain and answers the 1x1 GIF") {
    val reg = registry(WriteKeys.Stream("destB"))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val srv = new IngestServer(
      (d, _, e) => spooled.synchronized { spooled += ((d, e)); () },
      (_, _, _, _, _) => 0L, auth = Some(reg)).start()
    try {
      val data = java.util.Base64.getEncoder.encodeToString(
        """{"anonymousId":"anon1","properties":{"src":"email"}}""".getBytes(UTF_8))
      val (code, bytes, hs) = http("GET",
        s"http://127.0.0.1:${srv.port}/api/px/open?data=$data&writekey=k1:sec1&campaign=c1&context.page.url=https%3A%2F%2Fx.io",
        None)
      assert(code == 200)
      assert(bytes.sameElements(PixelIngest.EmptyGif))
      assert(hs.get("content-type").contains("image/gif"))
      assert(hs.get("cache-control").exists(_.contains("no-store")))
      assert(spooled.size == 1 && spooled.head._1 == "destA")
      val ev = om.readTree(spooled.head._2)
      assert(ev.get("type").asText == "open" && ev.get("ingestType").asText == "s2s")
      val e = ev.get("event")
      assert(e.get("anonymousId").asText == "anon1")       // from data=
      assert(e.get("properties").get("src").asText == "email")
      assert(e.get("campaign").asText == "c1")             // flat param
      assert(e.get("context").get("page").get("url").asText == "https://x.io") // dotted path
      // slug locator reuse: keyless GET resolves the non-strict stream;
      // transport params (slug/writekey) never leak into the event payload
      http("GET", s"http://127.0.0.1:${srv.port}/api/px/open?slug=destB&x=1", None)
      assert(spooled.size == 2 && spooled.last._1 == "destB")
      val last = om.readTree(spooled.last._2)
      assert(last.get("ingestType").asText == "browser")
      assert(!last.get("event").hasNonNull("slug"))
      // malformed data= (bad base64): the event is REJECTED — nothing
      // spools (the reference errors the whole event) but the page still
      // gets its GIF
      val (cBad, bBad, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/api/px/open?data=%2B%2Bnot-base64&writekey=k1:sec1", None)
      assert(cBad == 200 && bBad.sameElements(PixelIngest.EmptyGif) && spooled.size == 2)
      // a failed key still falls through the writeKeyDefined chain to the
      // sole-stream fallback (reference locator order) — so to see the
      // not-found leg the sole stream must be strict
      val strictSrv = new IngestServer((_, _, _) => fail("must not spool"),
        (_, _, _, _, _) => 0L,
        auth = Some(registry(WriteKeys.Stream("destB", strict = true)))).start()
      try {
        val (c3, b3, _) = http("GET",
          s"http://127.0.0.1:${strictSrv.port}/api/px/open?writekey=bogus", None)
        assert(c3 == 200 && b3.sameElements(PixelIngest.EmptyGif))
      } finally strictSrv.stop()
    } finally srv.stop()
  }

  test("pixel process_headers: cookie identity, generated anonymousId sets a cookie, referer fills page") {
    val reg = registry(WriteKeys.Stream("destB"))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[String]
    val srv = new IngestServer(
      (_, _, e) => spooled.synchronized { spooled += e; () },
      (_, _, _, _, _) => 0L, auth = Some(reg),
      newId = () => "fixed-uuid-1").start()
    try {
      // identity from cookies; referer fills context.page and (page event)
      // properties
      http("GET",
        s"http://127.0.0.1:${srv.port}/api/px/page?slug=destB&process_headers=true",
        None, Map(
          "Cookie" -> "__eventn_id=cookie-anon; __eventn_uid=u42; __eventn_id_usr=%7B%22plan%22%3A%22pro%22%7D",
          "Referer" -> "https://shop.io/cart?x=1"))
      val e1 = om.readTree(spooled.head).get("event")
      assert(e1.get("anonymousId").asText == "cookie-anon")
      assert(e1.get("userId").asText == "u42")
      assert(e1.get("context").get("traits").get("plan").asText == "pro")
      assert(e1.get("context").get("page").get("host").asText == "shop.io")
      assert(e1.get("context").get("page").get("path").asText == "/cart")
      assert(e1.get("properties").get("url").asText == "https://shop.io/cart?x=1")
      // no cookie: a fresh id is minted and handed back via Set-Cookie
      val (_, _, hs) = http("GET",
        s"http://127.0.0.1:${srv.port}/api/px/open?slug=destB&process_headers=1", None)
      assert(hs.get("set-cookie")
        .exists(_.contains("__eventn_id=fixed-uuid-1")))
      val e2 = om.readTree(spooled.last).get("event")
      assert(e2.get("anonymousId").asText == "fixed-uuid-1")
      // WITHOUT process_headers cookies are ignored
      http("GET", s"http://127.0.0.1:${srv.port}/api/px/open?slug=destB&z=1",
        None, Map("Cookie" -> "__eventn_id=cookie-anon"))
      assert(!om.readTree(spooled.last).get("event").hasNonNull("anonymousId"))
    } finally srv.stop()
  }

  // ------------------------------------------------ cors + shed→events-log

  test("CORS: OPTIONS preflight answered directly; responses echo a present Origin") {
    val reg = registry(WriteKeys.Stream("destA"))
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L,
      auth = Some(reg)).start()
    try {
      // OPTIONS preflight never reaches the handler logic — answered with
      // the allow set (router.go:209-218); HttpURLConnection drops Origin,
      // so preflight rides HttpClient
      val b = java.net.http.HttpRequest
        .newBuilder(new URI(s"http://127.0.0.1:${srv.port}/api/s/s2s/track"))
        .method("OPTIONS", java.net.http.HttpRequest.BodyPublishers.noBody())
        .header("Origin", "https://shop.io")
      val resp = java.net.http.HttpClient.newHttpClient().send(
        b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Access-Control-Allow-Origin")
        .orElse("") == "https://shop.io")
      assert(resp.headers().firstValue("Access-Control-Allow-Credentials")
        .orElse("") == "true")
      assert(resp.headers().firstValue("Access-Control-Allow-Headers")
        .orElse("").contains("x-write-key"))
      // a POST carrying an Origin gets the echo on the real response too
      val p = java.net.http.HttpRequest
        .newBuilder(new URI(s"http://127.0.0.1:${srv.port}/api/s/s2s/track"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("""{"a":1}"""))
        .header("Origin", "https://shop.io")
        .header("X-Write-Key", "k1:sec1")
      val resp2 = java.net.http.HttpClient.newHttpClient().send(
        p.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp2.statusCode() == 200)
      assert(resp2.headers().firstValue("Access-Control-Allow-Origin")
        .orElse("") == "https://shop.io")
      // without an Origin the real response carries no allow headers
      val p3 = java.net.http.HttpRequest
        .newBuilder(new URI(s"http://127.0.0.1:${srv.port}/api/s/s2s/track"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString("""{"a":1}"""))
        .header("X-Write-Key", "k1:sec1")
      val resp3 = java.net.http.HttpClient.newHttpClient().send(
        p3.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp3.statusCode() == 200)
      assert(resp3.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
    } finally srv.stop()
  }

  test("shed events land in the events log as SKIPPED through the onShed hook (router_ingest_handler.go:44-47)") {
    import graft.streaming.{ActorEvent, JdbcEventsLog}
    val url = "jdbc:derby:memory:edge_shedlog;create=true"
    val log = new JdbcEventsLog(url, flushEvery = 1)
    val reg = registry(WriteKeys.Stream("destA", throttle = 100))
    val srv = new IngestServer((_, _, _) => fail("must not spool"),
      (_, _, _, _, _) => 0L, auth = Some(reg),
      onShed = (streamId, raw) => log.post(ActorEvent(
        eventType = "incoming", actorId = streamId, level = "error",
        timestampMs = 1L, content = s"""SKIPPED throttled: $raw"""))).start()
    try {
      assert(post(s"http://127.0.0.1:${srv.port}/api/s/s2s/track",
        """{"a":1}""", Map("X-Write-Key" -> "k1:sec1"))._1 == 402)
      val rows = log.getEvents("incoming", "destA", Some("error"), None, None, 10)
      assert(rows.size == 1)
      assert(rows.head.content == """SKIPPED throttled: {"a":1}""")
    } finally srv.stop()
  }

  // -------------------------------------------------------------- classic

  test("classic /api/v1/event[s]: token spots, array bodies, soft-200 browser errors, strict key typing") {
    val reg = registry(WriteKeys.Stream("soleStream")) // sole MUST NOT resolve keylessly
    val spooled = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val srv = new IngestServer(
      (d, _, e) => spooled.synchronized { spooled += ((d, e)); () },
      (_, _, _, _, _) => 0L, auth = Some(reg)).start()
    try {
      val base = s"http://127.0.0.1:${srv.port}"
      // browser endpoint + browser key via ?token=
      val (c1, r1) = post(s"$base/api/v1/event?token=kb:bsec", """{"event_type":"pageview"}""")
      assert(c1 == 200 && r1 == """{"ok":true}""")
      assert(spooled.last._1 == "destB")
      assert(spooled.last._2 ==
        """{"type":"classic","ingestType":"browser","event":{"event_type":"pageview"}}""")
      // ARRAY body fans out to one spool per element (X-Auth-Token spot)
      val (c2, _) = post(s"$base/api/v1/events", """[{"a":1},{"a":2}]""",
        Map("X-Auth-Token" -> "kb:bsec"))
      assert(c2 == 200 && spooled.size == 3)
      // s2s endpoint: s2s key lands typed s2s; browser key REJECTED (classic
      // keyType matching, unlike the writeKeyDefined /api/s chain)
      assert(post(s"$base/api/v1/s2s/event", """{"b":1}""",
        Map("api_key" -> "k1:sec1"))._1 == 200)
      assert(spooled.last._1 == "destA" &&
        spooled.last._2.contains("\"ingestType\":\"s2s\""))
      assert(post(s"$base/api/v1/s2s/event?token=kb:bsec", """{"b":1}""")._1 == 401)
      // browser-side failures answer 200 with the error IN THE BODY (the
      // classic client contract); s2s failures are real HTTP errors
      val (c3, r3) = post(s"$base/api/v1/event?token=bogus", """{"x":1}""")
      assert(c3 == 200 && r3.contains("\"ok\":false") && r3.contains("stream not found"))
      assert(post(s"$base/api/v1/s2s/event?token=bogus", """{"x":1}""")._1 == 401)
      // STRICT location: a sole-stream workspace never resolves keylessly
      val (c4, r4) = post(s"$base/api/v1/event", """{"x":1}""")
      assert(c4 == 200 && r4.contains("\"ok\":false"))
      // randomized alias /api.<rand> with the p_<rand> token spot
      assert(post(s"$base/api.r4nd0m?p_ab=plainkey", """{"z":9}""")._1 == 200)
      assert(spooled.last._1 == "destC" &&
        spooled.last._2.contains("\"ingestType\":\"browser\""))
      // the standard credential spots apply too, and OUTRANK ?token=
      // (getDataLocator runs first, router_classic_handler.go:109)
      assert(post(s"$base/api/v1/event?token=bogus", """{"w":1}""",
        Map("X-Write-Key" -> "kb:bsec"))._1 == 200)
      assert(spooled.last._1 == "destB")
      assert(spooled.size == 6)
    } finally srv.stop()
  }

  // ------------------------------------------------------------- settings

  test("settings endpoint echoes the writeKey inside the static analytics.js plan") {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L).start()
    try {
      val (code, body, hs) = http("GET",
        s"http://127.0.0.1:${srv.port}/v1/projects/MYKEY/settings", None)
      val s = new String(body, UTF_8)
      assert(code == 200)
      assert(hs.get("cache-control").exists(_.contains("max-age=86400")))
      val parsed = om.readTree(s) // the response must be valid JSON
      assert(parsed.get("integrations").get("Segment.io").get("apiKey").asText == "MYKEY")
      assert(parsed.get("plan").get("track").get("__default").get("enabled").asBoolean)
      assert(parsed.get("analyticsNextEnabled").asBoolean)
      // aliases: /projects/:key/settings and the doubled projects form
      val (_, b2, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/projects/K2/settings", None)
      assert(om.readTree(new String(b2, UTF_8)).get("integrations")
        .get("Segment.io").get("apiKey").asText == "K2")
      val (_, b3, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/v1/projects/projects/K3/settings", None)
      assert(om.readTree(new String(b3, UTF_8)).get("integrations")
        .get("Segment.io").get("apiKey").asText == "K3")
      // a %22 in the path segment is JSON-escaped, not injected
      val (_, b4, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/v1/projects/K%22%2C%22x%22%3A1/settings", None)
      assert(om.readTree(new String(b4, UTF_8)).get("integrations")
        .get("Segment.io").get("apiKey").asText == "K\",\"x\":1")
    } finally srv.stop()
  }

  // ------------------------------------------------------- failed readback

  test("/failed/:dest streams NDJSON per status; unknown status is a 400") {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L,
      failedLines = Some((dest, status) =>
        Iterator(s"""{"dest":"$dest","status":"$status","n":1}""",
          s"""{"dest":"$dest","status":"$status","n":2}"""))).start()
    try {
      val (code, body, hs) = http("GET",
        s"http://127.0.0.1:${srv.port}/failed/pg1?status=retry", None)
      assert(code == 200)
      assert(hs.get("content-type").contains("application/x-ndjson"))
      val lines = new String(body, UTF_8).split("\n").toSeq
      assert(lines == Seq("""{"dest":"pg1","status":"retry","n":1}""",
        """{"dest":"pg1","status":"retry","n":2}"""))
      // default status is dead (router.go:372)
      val (_, b2, _) = http("GET", s"http://127.0.0.1:${srv.port}/failed/pg1", None)
      assert(new String(b2, UTF_8).contains("\"status\":\"dead\""))
      val (c3, b3, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/failed/pg1?status=nope", None)
      assert(c3 == 400 && new String(b3, UTF_8).contains("unknown status"))
    } finally srv.stop()
  }

  test("/failed surfaces a mid-stream read failure as an in-band ERROR line (headers already committed)") {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L,
      failedLines = Some((_, _) =>
        Iterator("""{"n":1}""") ++ new Iterator[String] {
          def hasNext = true
          def next(): String = throw new RuntimeException("parquet gone")
        })).start()
    try {
      val (code, body, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/failed/pg1?status=dead", None)
      val lines = new String(body, UTF_8).split("\n").toSeq
      assert(code == 200) // headers were committed before the failure
      assert(lines.head == """{"n":1}""")
      assert(lines.last.contains("\"ERROR\"") && lines.last.contains("parquet gone"))
    } finally srv.stop()
  }

  // ------------------------------------------------------ events-log readback

  private def seededLogServer(): (IngestServer, Long) = {
    import graft.streaming.{ActorEvent, StreamEventsLog}
    val base = 1700000000000L // 13-digit epoch ms, addressable by ?start/?end
    var t = base
    val log = new StreamEventsLog(maxSize = 1000, clock = () => t)
    for (i <- 1 to 12) {
      t = base + i
      val level = if (i % 4 == 0) "error" else "info"
      log.postAsync(ActorEvent("incoming", "a", level, t,
        s"""{"body":"{\\"writeKey\\":\\"w$i:sec$i\\"}","n":$i}"""))
      log.flush() // one event per flush: deterministic "<ms>-0" ids
    }
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L,
      logEvents = Some(LogReadback.reader(log))).start()
    (srv, base)
  }

  test("/log: newest-first NDJSON page, beforeId exclusive cursor, limit<1000 rule, masked writeKey") {
    val (srv, base) = seededLogServer()
    try {
      def get(qs: String) = {
        val (c, b, hs) = http("GET",
          s"http://127.0.0.1:${srv.port}/log/incoming.info/a?$qs", None)
        (c, new String(b, UTF_8), hs)
      }
      val (c1, b1, hs1) = get("ndjson=true&limit=5")
      assert(c1 == 200 && hs1.get("content-type").contains("application/x-ndjson"))
      val p1 = b1.split("\n").toSeq.map(om.readTree)
      // error-level events fan out to the `all` stream too — all 12 present,
      // newest first
      assert(p1.map(_.get("content").get("n").asInt) == Seq(12, 11, 10, 9, 8))
      // n=12 is error-level: the fan-out XADDs the error stream first (-0),
      // then the all stream (-1) — the id records that order
      assert(p1.head.get("id").asText == s"${base + 12}-1")
      assert(p1.head.get("date").asText.startsWith("20")) // ISO-8601
      // incoming bodies carry the masked writeKey, secret tail replaced
      assert(p1.head.get("content").get("body").asText ==
        """{"writeKey": "w12:***"}""")
      // the cursor EXCLUDES beforeId itself
      val cursor = p1.last.get("id").asText // "<base+8>-0"
      val (_, b2, _) = get(s"ndjson=true&limit=5&beforeId=$cursor")
      assert(b2.split("\n").toSeq.map(om.readTree(_).get("content").get("n").asInt) ==
        Seq(7, 6, 5, 4, 3))
      // limit >= 1000 is ignored (default 100); limit=0 = uncapped
      assert(get("ndjson=true&limit=1000")._2.split("\n").length == 12)
      assert(get("ndjson=true&limit=0")._2.split("\n").length == 12)
      // the error level picks the error stream: only i in {4,8,12}
      val (_, be, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/log/incoming.error/a?ndjson=true", None)
      assert(new String(be, UTF_8).split("\n").toSeq
        .map(om.readTree(_).get("content").get("n").asInt) == Seq(12, 8, 4))
    } finally srv.stop()
  }

  test("/log: date window bounds inclusive; a tighter end REPLACES the cursor; array framing; maxBytes") {
    val (srv, base) = seededLogServer()
    try {
      def get(qs: String) = {
        val (c, b, hs) = http("GET",
          s"http://127.0.0.1:${srv.port}/log/incoming.info/a?$qs", None)
        (c, new String(b, UTF_8), hs)
      }
      // inclusive [start, end] in epoch ms
      val (_, bw, _) = get(s"ndjson=true&start=${base + 3}&end=${base + 6}")
      assert(bw.split("\n").toSeq.map(om.readTree(_).get("content").get("n").asInt) ==
        Seq(6, 5, 4, 3))
      // end < beforeId's ms: the ms bound REPLACES the id bound
      val (_, br, _) = get(s"ndjson=true&beforeId=${base + 10}-0&end=${base + 5}")
      assert(br.split("\n").head.contains("\"n\":5"))
      // end >= beforeId's ms: the cursor stays, the end date is dropped
      val (_, bk, _) = get(s"ndjson=true&beforeId=${base + 5}-0&end=${base + 10}&limit=2")
      assert(bk.split("\n").toSeq.map(om.readTree(_).get("content").get("n").asInt) ==
        Seq(4, 3))
      // default framing is a JSON array
      val (ca, ba, hsa) = get("limit=3")
      assert(ca == 200 && hsa.get("content-type").contains("application/json"))
      val arr = om.readTree(ba)
      assert(arr.isArray && arr.size == 3 && arr.get(0).get("content").get("n").asInt == 12)
      // maxBytes stops at the first overflowing record (2 records fit)
      val oneLen = LogReadback.recordJson("incoming",
        LogReadback.Record(s"${base + 12}-0", base + 12,
          s"""{"body":"{\\"writeKey\\":\\"w12:sec12\\"}","n":12}""")).getBytes(UTF_8).length
      val (_, bm, _) = get(s"ndjson=true&maxBytes=${2 * oneLen + 2}")
      assert(bm.split("\n").length == 2)
    } finally srv.stop()
  }

  test("/log: param 400 contracts, malformed beforeId is the backend 500, missing .level is a 400") {
    val (srv, _) = seededLogServer()
    try {
      def get(path: String) = {
        val (c, b, _) = http("GET", s"http://127.0.0.1:${srv.port}$path", None)
        (c, new String(b, UTF_8))
      }
      val (cl, bl) = get("/log/incoming.info/a?limit=abc")
      assert(cl == 400 && bl.contains("'limit' parameter must be an integer number"))
      val (cm, bm) = get("/log/incoming.info/a?maxBytes=abc")
      assert(cm == 400 && bm.contains("'maxBytes' parameter must be an integer number"))
      val (cs, bs) = get("/log/incoming.info/a?start=2024-13-99")
      assert(cs == 400 && bs.contains(
        "'start' parameter must be either unix timestamp or date in '2006-01-02' format"))
      // a DAY parses at UTC midnight (no rows that old: empty page, not an error)
      val (cd, bd) = get("/log/incoming.info/a?ndjson=true&end=2001-01-02")
      assert(cd == 200 && bd.isEmpty)
      val (cb, bb) = get("/log/incoming.info/a?beforeId=xyz")
      assert(cb == 500 && bb.contains("Failed to get events log"))
      val (ck, bk) = get("/log/incoming/a")
      assert(ck == 400 && bk.contains("<type>.<level>"))
    } finally srv.stop()
  }

  // ---------------------------------------------------- health + aliases + test

  test("/health is unconditional liveness; /ready gates on the injected probe") {
    @volatile var out: Option[String] = Some("spool not writable")
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L,
      readiness = () => out).start()
    try {
      def get(path: String) = {
        val (c, b, _) = http("GET", s"http://127.0.0.1:${srv.port}$path", None)
        (c, new String(b, UTF_8))
      }
      assert(get("/health") == ((200, """{"status":"pass"}""")))
      val (cr, br) = get("/ready")
      assert(cr == 503 && br == """{"status":"fail","output":"spool not writable"}""")
      out = None
      assert(get("/ready") == ((200, """{"status":"pass"}""")))
      // the probe contexts are exact: a longer path is not a health check
      assert(get("/healthx")._1 == 404 && get("/readyz")._1 == 404)
    } finally srv.stop()
  }

  test("short batch aliases /b /v1/b /batch/b /v1/batch/b all ingest; /bulk/ coexists; unknown /b… 404s") {
    val reg = registry(WriteKeys.Stream("destA"))
    val spooled = scala.collection.mutable.ArrayBuffer.empty[String]
    var bulked = 0L
    val srv = new IngestServer(
      (_, _, raw) => spooled.synchronized { spooled += raw; () },
      (_, _, _, _, lines) => { bulked += lines.size; lines.size.toLong },
      auth = Some(reg)).start()
    try {
      val env = """{"writeKey":"k1:sec1","batch":[{"type":"track","event":"e1"}]}"""
      Seq("/b", "/v1/b", "/batch/b", "/v1/batch/b").foreach { alias =>
        val (c, b) = post(s"http://127.0.0.1:${srv.port}$alias", env)
        assert(c == 200 && b.contains("\"okEvents\":1"), s"alias $alias")
      }
      assert(spooled.size == 4)
      // the longest-prefix neighbours are untouched: /bulk/ still bulk-loads
      val (cb, bb) = post(s"http://127.0.0.1:${srv.port}/bulk/destA?tableName=events", """{"a":1}""")
      assert(cb == 200 && bb.contains("\"rows\":1") && bulked == 1L)
      // an unknown path under the /b context is a 404, not a mis-routed batch
      val (cn, _) = post(s"http://127.0.0.1:${srv.port}/based", env)
      assert(cn == 404)
      val (cn2, _) = post(s"http://127.0.0.1:${srv.port}/v1/bx", env)
      assert(cn2 == 404)
      val (cn3, _) = post(s"http://127.0.0.1:${srv.port}/bx", env)
      assert(cn3 == 404)
    } finally srv.stop()
  }

  test("POST /test: ok for a known dialect, live-probes a JDBC url, 422 on parse/type/connect failures") {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L).start()
    try {
      def tst(body: String) = post(s"http://127.0.0.1:${srv.port}/test", body)
      assert(tst("""{"id":"d1","destinationType":"postgres"}""") ==
        ((200, """{"ok":true}""")))
      // Derby is the live stand-in: the url is actually connected
      assert(tst("""{"destinationType":"derby","url":"jdbc:derby:memory:ct_ok;create=true"}""")._1 == 200)
      val (cp, bp) = tst("not json at all")
      assert(cp == 422 && bp.contains("parse failed"))
      val (cu, bu) = tst("""{"destinationType":"oracle9i"}""")
      assert(cu == 422 && bu.contains("unknown bulker implementation: oracle9i"))
      val (cc, bc) = tst("""{"destinationType":"derby","url":"jdbc:derby:memory:ct_missing_db"}""")
      assert(cc == 422 && bc.contains("error creating bulker"))
      val (cn, _) = tst("""{"destinationType":"derby"}""")
      assert(cn == 200) // no url: dialect-text validation only (K1-K6 treatment)
    } finally srv.stop()
  }

  // ------------------------------------------------------------ script edge

  test("GET /p.js and /s/lib.js: bytes, ETag/304, HEAD, gzip negotiation, 405 for POST") {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L).start()
    try {
      def req(method: String, path: String, headers: Map[String, String] = Map.empty) = {
        val conn = new URI(s"http://127.0.0.1:${srv.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod(method)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        val bytes = if (is == null) Array.empty[Byte] else is.readAllBytes()
        import scala.jdk.CollectionConverters._
        val hs = conn.getHeaderFields.asScala.collect {
          case (k, vs) if k != null => k.toLowerCase(java.util.Locale.ROOT) -> vs.get(0) }.toMap
        conn.disconnect()
        (code, bytes, hs)
      }
      for (path <- Seq("/p.js", "/s/lib.js")) {
        val (c1, b1, h1) = req("GET", path)
        assert(c1 == 200 && h1.get("content-type").contains("application/javascript"))
        val body = new String(b1, UTF_8)
        assert(body.contains("data-write-key") && body.contains("window.jitsu"))
        assert(if (path == "/p.js") body.contains("/api/s/")
               else body.contains("/api/v1/event?token="))
        val etag = h1("etag")
        // conditional GET → 304, no body
        val (c2, b2, _) = req("GET", path, Map("If-None-Match" -> etag))
        assert(c2 == 304 && b2.isEmpty)
        // HEAD: headers (incl. length) only
        val (c3, b3, h3) = req("HEAD", path)
        assert(c3 == 200 && b3.isEmpty &&
          h3.get("content-length").exists(_.toInt == b1.length))
        // gzip negotiation: encoded body, distinct ETag, same content
        val (c4, b4, h4) = req("GET", path, Map("Accept-Encoding" -> "gzip"))
        assert(c4 == 200 && h4.get("content-encoding").contains("gzip"))
        assert(h4("etag") != etag)
        val gunzipped = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(b4)).readAllBytes()
        assert(java.util.Arrays.equals(gunzipped, b1))
        // method contract
        assert(req("POST", path)._1 == 405)
      }
      // robots: deny-all
      val (cr, br, _) = req("GET", "/robots.txt")
      assert(cr == 200 && new String(br, UTF_8).contains("Disallow: /"))
    } finally srv.stop()
  }

  test("/connections-metrics/:workspaceId renders the engine's metric snapshot in the Prometheus shape") {
    // a workspace-prefixed destination, throttled so both statuses accrue
    val ws = "ws12345678" // exactly the 10-char minimum
    val reg = WriteKeys.Registry(
      bindings = Map("mk" -> WriteKeys.Binding("mk",
        WriteKeys.storedHash("msec", "salt", "gs"), s"$ws-pg", "s2s")),
      plain = Map.empty, globalSecrets = Seq("gs"),
      streams = Seq(WriteKeys.Stream(s"$ws-pg", throttle = 50)))
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L,
      auth = Some(reg)).start()
    try {
      srv.metrics.gauge(s"$ws-pg", "batch", "events")(() => 7L)
      srv.metrics.gauge("otherws-123-pg", "batch", "events")(() => 99L) // filtered out
      var ok, shed = 0
      for (i <- 1 to 20) {
        val (c, _) = post(s"http://127.0.0.1:${srv.port}/api/s/s2s/track?writekey=mk:msec",
          s"""{"n":$i}""")
        if (c == 200) ok += 1 else { assert(c == 402); shed += 1 }
      }
      assert(ok > 0 && shed > 0) // the 50% gate splits deterministically
      val (cm, bm, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/connections-metrics/$ws", None)
      assert(cm == 200)
      val root = om.readTree(new String(bm, UTF_8))
      assert(root.get("status").asText == "success")
      assert(root.get("data").get("resultType").asText == "vector")
      import scala.jdk.CollectionConverters._
      val rows = root.get("data").get("result").elements().asScala.toSeq
      // the other workspace's gauge is filtered out by the id prefix
      assert(rows.forall(_.get("metric").get("destinationId").asText.startsWith(s"$ws-")))
      def value(name: String, label: (String, String)): Option[String] =
        rows.find(r => r.get("metric").get("__name__").asText == name &&
          r.get("metric").get(label._1).asText == label._2)
          .map(_.get("value").get(1).asText)
      assert(value("bulkerapp_consumer_queue_size", "mode" -> "batch").contains("7"))
      assert(value("connection_message_statuses", "status" -> "success").contains(ok.toString))
      assert(value("connection_message_statuses", "status" -> "skipped").contains(shed.toString))
      // the reference's workspaceId guard
      val (cb, bb, _) = http("GET",
        s"http://127.0.0.1:${srv.port}/connections-metrics/short", None)
      assert(cb == 400 && new String(bb, UTF_8).contains("invalid workspaceId"))
    } finally srv.stop()
  }

  test("ScriptServing.update hot-swaps the bundle: new bytes, new ETag, old conditional misses") {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L).start()
    try {
      val (_, b1, h1) = http("GET", s"http://127.0.0.1:${srv.port}/p.js", None)
      val etag1 = h1("etag")
      srv.modernScript.update("// v2 bundle\n".getBytes(UTF_8))
      val (c2, b2, h2) = http("GET", s"http://127.0.0.1:${srv.port}/p.js", None,
        Map("If-None-Match" -> etag1)) // stale tag must NOT 304 after a swap
      assert(c2 == 200 && new String(b2, UTF_8) == "// v2 bundle\n")
      assert(h2("etag") != etag1 && !java.util.Arrays.equals(b1, b2))
    } finally srv.stop()
  }

  test("LogReadback.recordJson degrades unparseable content to an in-band EVENTS_LOG_ERROR row") {
    val bad = LogReadback.recordJson("incoming",
      LogReadback.Record("1-0", 1L, "{broken json"))
    val node = om.readTree(bad) // the degraded row itself must be valid JSON
    assert(node.has("EVENTS_LOG_ERROR"))
    assert(node.get("OBJECT").asText == "{broken json")
    // a page mixing good and bad records still renders fully
    val (_, body) = LogReadback.render("incoming", Seq(
      LogReadback.Record("2-0", 2L, """{"n":2}"""),
      LogReadback.Record("1-0", 1L, "{broken json")), ndjson = true, maxBytes = 0)
    assert(new String(body, UTF_8).split("\n").length == 2)
  }

  test("EdgeMetrics: past the series cap, new caller-controlled labels fold into __other__") {
    val m = new EdgeMetrics
    for (i <- 1 to 10000) m.incStatus(s"d$i", "t", "success")
    assert(m.statusCount("d1", "t", "success") == 1L)
    m.incStatus("brand-new-dest", "brand-new-table", "success")
    m.incStatus("brand-new-dest2", "t", "error")
    assert(m.statusCount("brand-new-dest", "brand-new-table", "success") == 0L)
    assert(m.statusCount("__other__", "__other__", "success") == 1L)
    assert(m.statusCount("__other__", "__other__", "error") == 1L)
    // established series keep counting exactly
    m.incStatus("d1", "t", "success")
    assert(m.statusCount("d1", "t", "success") == 2L)
  }

  test("FailedReadback.lines reads the real RetryQueue parquet with bookkeeping, deterministic order") {
    import graft.streaming.{RetryPolicy, RetryQueue}
    val base = java.nio.file.Files.createTempDirectory("graft_failed_").toString
    val queue = RetryQueue(s"$base/retry", s"$base/dlq", RetryPolicy())
    val batch = df("event_id BIGINT, v STRING",
      Seq(Row(2L, "b"), Row(1L, "a"), Row(3L, "c")))
    queue.enqueue(batch, batchId = 7L, error = "sink down", nowMs = 1000L)
    val retryLines = FailedReadback.lines(spark, queue, "retry").toSeq
    assert(retryLines.size == 3)
    val first = om.readTree(retryLines.head)
    assert(first.get("event_id").asLong == 1L) // ordered by first event column
    assert(first.get("__batch_id").asLong == 7L)
    assert(first.get("__retries").asInt == 1)
    assert(first.get("__error").asText == "sink down")
    assert(FailedReadback.lines(spark, queue, "dead").isEmpty) // no DLQ yet
    intercept[IllegalArgumentException] {
      FailedReadback.lines(spark, queue, "bogus")
    }
  }

  test("ConnectionTest: an unreachable-host probe is bounded by the timeout") {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val r = ConnectionTest.test(
      """{"destinationType":"postgres","url":"jdbc:postgresql://x/db"}""",
      connect = _ => latch.await(), // a connect that never returns
      timeoutMs = 150L)
    latch.countDown()
    assert(r.isLeft && r.swap.exists(_.contains("timed out")))
  }

  test("a blocked handler does not stall the rest of the edge (pooled executor)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val srv = new IngestServer(
      (_, _, _) => gate.await(), // /post handler blocks until released
      (_, _, _, _, _) => 0L).start()
    try {
      val slow = new Thread(() =>
        post(s"http://127.0.0.1:${srv.port}/post/d1?tableName=t", """{"a":1}"""))
      slow.setDaemon(true); slow.start()
      Thread.sleep(100) // let the slow request occupy its handler thread
      // /health must answer while /post is parked — serial dispatch would hang
      val conn = new java.net.URI(s"http://127.0.0.1:${srv.port}/health")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(2000); conn.setReadTimeout(2000)
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    } finally { gate.countDown(); srv.stop() }
  }
}
