package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.nio.charset.StandardCharsets.UTF_8

import Http.{respond, respondBytes}

/** Deterministic ingest throttling (billing-quota shedding): the reference
  * sheds `stream.Throttle` percent of events with `rand.Int31n(100) <
  * throttle` (ingest/router.go:258-261, config `ingest/repository.go:215`).
  * The random draw is replaced by a deterministic percentile of the raw
  * event body — `uint32(md5(body)[0:4]) % 100` — so a shed set is exactly
  * replayable by tests and oracles while keeping the same uniform-percent
  * semantics. Shed events are reported through the server's `onShed` hook
  * (the reference logs them as SKIPPED to the events log) and answered 402.
  */
object IngestThrottle {

  /** Percentile in [0,100) of a raw body — first 4 MD5 bytes as an
    * unsigned int, mod 100. */
  def pct(body: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes(UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % 100L).toInt
  }

  /** `throttle >= 100` sheds everything (router.go:259). */
  def shed(body: String, throttle: Int): Boolean =
    throttle > 0 && (throttle >= 100 || pct(body) < throttle)
}

/** HTTP façade over the engine — the reference's ingest edge re-expressed
  * with the JDK's built-in server (zero deps):
  *
  *   - `POST /post/:destId?tableName=T` (router.go:122-191): ONE JSON event,
  *     appended to the destination's spool folder — the stand-in for the
  *     Kafka produce; the [[graft.streaming.MicroBatch]] file stream drains
  *     the spool exactly like the reference's batch consumer drains the
  *     topic. Responds `{"ok":true}` immediately (async path).
  *   - `POST /bulk/:destId?tableName=T&mode=M` (router.go:220-321): an
  *     NDJSON body processed SYNCHRONOUSLY through the caller-supplied
  *     loader; responds with the load state.
  *   - `POST /api/s/:tp`, `/api/s/s2s/:tp` (ingest/router.go:174-177):
  *     Segment-compatible authenticated single-event ingest.
  *   - `POST /api/s/s2s/batch`, `/v1/batch`, `/batch`
  *     (ingest/router.go:166-172): batch envelope with gap dedup
  *     ([[BatchIngest]]).
  *   - `GET /api/px/:tp` (ingest/router.go:175): tracking pixel
  *     ([[PixelIngest]]).
  *   - `GET|POST /v1/projects/:writeKey/settings`, `/projects/...`
  *     (ingest/router.go:160-165): analytics.js settings stub.
  *   - `GET /failed/:destId?status=retry|dead` (bulkerapp/app/router.go:72):
  *     NDJSON read-back of a destination's retry/DLQ state, via the
  *     injected `failedLines` reader ([[FailedReadback]]).
  *   - `GET /log/:eventType.:level/:actorId` (router.go:67,485-571):
  *     events-log read-back with the id-cursor/date/limit filter matrix,
  *     via the injected `logEvents` reader ([[LogReadback]]).
  *   - `POST /test` (router.go:66,434-483): destination config test
  *     ([[ConnectionTest]]).
  *   - `GET /ready` + `/health` (router.go:68-69, ingest/router.go:189):
  *     liveness is always 200; readiness consults the injected probe
  *     (the engine's stand-in for the reference's Kafka-metadata gate).
  *   - `POST /b`, `/v1/b`, `/batch/b`, `/v1/batch/b`
  *     (ingest/router.go:166-171): short batch aliases onto the same
  *     handler (SDKs ship configured with either spelling).
  *   - `GET|HEAD /p.js`, `/s/lib.js` (ingest/router.go:179,187): the tag
  *     script bundles ([[ScriptServing]]), plus `/robots.txt`.
  *   - `GET /connections-metrics/:workspaceId` (router.go:344-369): the
  *     workspace's connection metrics in the Prometheus query-response
  *     shape, answered from the engine's own [[EdgeMetrics]] snapshot
  *     (the reference proxies the same two metric families to an external
  *     Prometheus this environment doesn't have).
  *
  * The HTTP layer holds no engine logic: `spool`, `bulkLoad`, `onShed` and
  * `failedLines` are injected, so the same server fronts any destination
  * stack. Single-event payloads are line-oriented and never parsed here
  * (the reference also forwards raw bytes to Kafka; parsing happens in the
  * consumer); batch and pixel payloads are parsed because their semantics
  * (gap dedup, query-param events) require it.
  */
final class IngestServer(
    spool: (String, String, String) => Unit,        // (dest, table, rawEvent)
    bulkLoad: (String, String, String, Seq[String], Seq[String]) => Long, // (dest, table, mode, pk, lines) => rows
    auth: Option[WriteKeys.Registry] = None, // enables /api/s, batch, pixel
    onShed: (String, String) => Unit = (_, _) => (), // (streamId, rawEvent) — SKIPPED hook
    failedLines: Option[(String, String) => Iterator[String]] = None, // (destId, status)
    newId: () => String = () => java.util.UUID.randomUUID().toString,
    logEvents: Option[LogReadback.Reader] = None, // enables GET /log/...
    readiness: () => Option[String] = () => None, // Some(output) = NOT ready
    // schema-aware bulk loader: supersedes `bulkLoad` when present (the
    // 5-arg legacy shape cannot carry the X-Jitsu-Schema declaration)
    bulkLoadEx: Option[BulkRequest => Long] = None
) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  // one shared mapper (readTree is thread-safe) — handlers must not pay a
  // fresh ObjectMapper construction per request
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The live auth/stream config snapshot. Every authenticated handler
    * reads it PER REQUEST (the reference's handlers call
    * `repository.GetData()` the same way), so a hot-swapped registry —
    * key added/revoked, stream throttled, link retyped — takes effect on
    * the next request with no restart. Wire [[updateAuth]] to a
    * [[graft.streaming.ConfigRepository]]`.onChange` for polled config. */
  @volatile private var registry: Option[WriteKeys.Registry] = auth

  def updateAuth(reg: WriteKeys.Registry): Unit = registry = Some(reg)

  /** Per-connection message/queue metrics behind `/connections-metrics`
    * ([[EdgeMetrics]]). Every admit/shed/patch-error below counts here. */
  val metrics = new EdgeMetrics

  private def spool0(dest: String, table: String, raw: String): Unit = {
    spool(dest, table, raw)
    metrics.incStatus(dest, table, "success")
  }

  private def shed0(dest: String, table: String, raw: String): Unit = {
    onShed(dest, raw)
    metrics.incStatus(dest, table, "skipped")
  }

  def port: Int = server.getAddress.getPort

  /** Query string as a map (last value wins) — single-valued params. */
  private def query(ex: HttpExchange): Map[String, String] =
    queryPairs(ex).toMap

  /** Query string as ordered pairs (repeats preserved) — the pixel event
    * parser needs multi-valued params. */
  private def queryPairs(ex: HttpExchange): Seq[(String, String)] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8") }

  private def destOf(ex: HttpExchange, prefix: String): String =
    ex.getRequestURI.getPath.stripPrefix(prefix).takeWhile(_ != '/')

  private def readBody(ex: HttpExchange): String = {
    val gzip = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
      .exists(_.contains("gzip"))
    val in = if (gzip) new java.util.zip.GZIPInputStream(ex.getRequestBody)
             else ex.getRequestBody
    new String(in.readAllBytes(), UTF_8)
  }

  private def errorBody(e: Exception, fallback: String): String =
    s"""{"ok":false,"error":${graft.Verify.jsonStr(Option(e.getMessage).getOrElse(fallback))}}"""

  /** [[Http.route]] with the edge's 500 body, `{"ok":false,"error":…}`. */
  private def route(path: String, exact: Boolean = false, withCors: Boolean = false,
                    fallback: String = "error")(handle: HttpExchange => Unit): Unit =
    Http.route(server, path, errorBody(_, fallback), exact, withCors)(handle)

  /** The spool envelope every ingest path emits — type + the locator's
    * ingest type around the raw event (the reference wraps raw bytes the
    * same way before the Kafka produce). */
  private def envelope(tp: String, ingestType: String, rawEvent: String): String =
    s"""{"type":${graft.Verify.jsonStr(tp)},"ingestType":"$ingestType","event":$rawEvent}"""

  // -------------------------------------------------------------- handlers

  /** Single-event Segment ingest (`IngestHandler`), on the writeKeyDefined
    * locator chain. The event body is spooled raw inside a
    * `{"type":...,"ingestType":...,"event":...}` envelope. */
  private def handleApiS(reg: WriteKeys.Registry, ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/api/s/")
    val s2s = path.startsWith("s2s/")
    val tp = (if (s2s) path.stripPrefix("s2s/") else path).takeWhile(_ != '/')
    if (s2s && tp == "batch") { handleBatch(reg, ex, s2sEndpoint = true); return }
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
    val hdr = (n: String) => Option(ex.getRequestHeaders.getFirst(n))
    val q = query(ex) // parse the query string once per request
    val key = WriteKeys.extract(hdr("Authorization"), hdr("X-Write-Key"),
      q.get("writekey"))
    if (ex.getRequestMethod != "POST" || tp.isEmpty || body.isEmpty)
      respond(ex, 400, """{"ok":false,"error":"POST /api/s/[s2s/]:type with a JSON body"}""")
    // the writeKeyDefined locator chain both /api/s endpoints run
    // (router_ingest_handler.go:30 + router.go:591-592): writeKey →
    // slug → ambiguous-domain → sole. Slug and domain are exclusive —
    // getDataLocator (router.go:388-396) derives the slug from the Host
    // subdomain and RETURNS EARLY, so a request that carries a slug never
    // consults the domain locator; the ?slug= param stands in for the
    // dataHosts subdomain.
    else {
      val slug = q.get("slug").filter(_.nonEmpty)
      val domain = if (slug.isDefined) None else hdr("Host").map(_.split(":")(0))
      WriteKeys.locate(reg, slug, domain, key, s2s) match {
        case None =>
          respond(ex, 401, s"""{"ok":false,"error":"invalid writeKey ${
            key.map(WriteKeys.mask).getOrElse("(none)")}"}""")
        case Some((streamId, ingType)) if ingType == "browser" &&
            !graft.streaming.IngestFilters.checkOrigin(
              reg.jsDomains.getOrElse(streamId, ""), hdr("Origin")) =>
          // browser-typed ingest only: the stream's
          // authorizedJavaScriptDomains gate the Origin header. NOTE a
          // deliberate divergence: the reference's checkOrigin exists
          // (router.go:607-625) but its call sites are commented out
          // (router_ingest_handler.go:113) and even the disabled body
          // only WARNED — this edge enforces the documented config
          // instead of shipping a dead gate.
          respond(ex, 403, s"""{"ok":false,"error":${graft.Verify.jsonStr(
            s"origin ${hdr("Origin").getOrElse("")} is not authorized")}}""")
        case Some((streamId, ingType)) =>
          // stamp type + the LOCATOR's ingest type (a hashed key carries
          // its own: a browser key resolving on /api/s/s2s stamps
          // 'browser', router.go:641-648) WITHOUT parsing the payload —
          // but the URL-decoded type segment must be JSON-escaped and the
          // body must at least LOOK like a JSON value, or the spooled
          // record is unparseable yet was acked with 200
          val trimmed = body.trim
          val throttle = reg.streamConfig(streamId).map(_.throttle).getOrElse(0)
          if (trimmed.isEmpty ||
              !(trimmed.head == '{' || trimmed.head == '[')) {
            respond(ex, 400,
              """{"ok":false,"error":"body must be a JSON object or array"}""")
          } else if (IngestThrottle.shed(trimmed, throttle)) {
            // billing-quota shed (router.go:258-261): SKIPPED, not failed
            shed0(streamId, q.getOrElse("tableName", "events"), trimmed)
            respond(ex, 402, """{"ok":false,"error":"throttled"}""")
          } else {
            spool0(streamId, q.getOrElse("tableName", "events"),
              envelope(tp, ingType, trimmed))
            respond(ex, 200, """{"ok":true}""")
          }
      }
    }
  }

  /** Batch-envelope ingest (`BatchHandler`,
    * router_batch_handler.go:109-249): writeKey-ONLY stream location (the
    * reference calls `getStream(loc, strict=true, ...)` — no slug/domain/
    * sole fallback), gap dedup when the stream configures it, batch-level
    * context merged under each event, then the per-event spool path. */
  private def handleBatch(reg: WriteKeys.Registry, ex: HttpExchange,
                          s2sEndpoint: Boolean): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 400, """{"ok":false,"error":"POST a batch envelope"}"""); return
    }
    val body = readBody(ex)
    val payload =
      try BatchIngest.parse(body)
      catch { case e: Exception =>
        respond(ex, 400, errorBody(e, "error parsing message")); return }
    val hdr = (n: String) => Option(ex.getRequestHeaders.getFirst(n))
    val q = query(ex)
    // header/query key first, the envelope's writeKey as the fallback
    // extractor (router_batch_handler.go:150)
    val key = WriteKeys.extract(hdr("Authorization"), hdr("X-Write-Key"),
      q.get("writekey")).orElse(payload.writeKey)
    key.flatMap(k => reg.resolve(k, s2sEndpoint, writeKeyDefined = true)) match {
      case None =>
        respond(ex, 401, s"""{"ok":false,"error":"stream not found for: ${
          key.map(WriteKeys.mask).getOrElse("(no writeKey)")}"}""")
      case Some((streamId, ingType)) =>
        // the stamped type is the LOCATOR's (a browser key resolving on
        // the s2s batch endpoint stamps 'browser', router.go:641-648 —
        // same rule as handleApiS); s2sEndpoint only shapes responses
        val cfg = reg.streamConfig(streamId)
        val gap = cfg.map(_.deduplicateWindowMs).getOrElse(0)
        val throttle = cfg.map(_.throttle).getOrElse(0)
        val received = payload.batch.size
        val batch =
          if (gap > 0) BatchIngest.deduplicateBatch(payload.batch, gap)
          else payload.batch
        val deduplicated = received - batch.size
        val table = q.getOrElse("tableName", "events")
        var okEvents = 0
        val errors = scala.collection.mutable.ArrayBuffer.empty[String]
        batch.foreach { ev =>
          BatchIngest.patchBatchEvent(ev, payload.context, payload.eventsName) match {
            case Left(err) =>
              errors += err
              metrics.incStatus(streamId, table, "error")
            case Right(pev) =>
              val raw = pev.toString
              if (IngestThrottle.shed(raw, throttle)) {
                shed0(streamId, table, raw); errors += "throttled"
              } else {
                val tp = Option(pev.get("type")).map(_.asText).getOrElse("track")
                spool0(streamId, table, envelope(tp, ingType, raw))
                okEvents += 1
              }
          }
        }
        val extra = new StringBuilder
        if (deduplicated > 0)
          extra ++= s""","deduplicatedEvents":$deduplicated,"processedEvents":${batch.size}"""
        if (errors.nonEmpty)
          extra ++= s""","errors":${errors.map(graft.Verify.jsonStr).mkString("[", ",", "]")}"""
        val allOk = batch.size == okEvents && errors.isEmpty
        respond(ex, 200,
          s"""{"ok":$allOk,"receivedEvents":$received,"okEvents":$okEvents$extra}""")
    }
  }

  /** Classic jitsu event API (`ClassicHandler`,
    * router_classic_handler.go:79-207; routes ingest/router.go:180-186):
    * `/api/v1/event[s]` types the request browser, `/api/v1/s2s/event[s]`
    * s2s, and the randomized `/api.<rand>` alias hides the browser path
    * from blockers. The token arrives as `?token=`, `X-Auth-Token`,
    * `api_key`, or the first `p_<rand>` query param; stream location is
    * STRICT writeKey-only (`getStream(loc, strict=true, ...)`) with the
    * classic keyType-must-match rule. The body is ONE event or an ARRAY
    * (no gap dedup — that is the Segment batch endpoint's semantics), each
    * spooled under a `classic` envelope. Browser-side failures answer 200
    * with the error in the body (the classic client contract —
    * `utils.Ternary(s2sEndpoint, 4xx, StatusOK)`); s2s failures 400/401. */
  private def handleClassic(reg: WriteKeys.Registry, ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val s2sEndpoint = path.startsWith("/api/v1/s2s/")
    def soft(code: Int, msg: String): Unit =
      respond(ex, if (s2sEndpoint) code else 200,
        s"""{"ok":false,"error":${graft.Verify.jsonStr(msg)}}""")
    if (ex.getRequestMethod != "POST") { soft(400, "POST an event"); return }
    val hdr = (n: String) => Option(ex.getRequestHeaders.getFirst(n))
    val pairs = queryPairs(ex)
    val q = pairs.toMap
    // getDataLocator (router_classic_handler.go:109 + router.go:369-387)
    // consults Authorization/X-Write-Key/?writekey= FIRST, then the
    // classic token spots via the writeKeyExtractor fallback
    val token = WriteKeys.extract(hdr("Authorization"), hdr("X-Write-Key"),
        q.get("writekey"))
      .orElse(q.get("token").filter(_.nonEmpty))
      .orElse(hdr("X-Auth-Token")).orElse(hdr("api_key"))
      .orElse(pairs.collectFirst { case (k, v) if k.startsWith("p_") && v.nonEmpty => v })
    token.flatMap(t => reg.resolve(t, s2sEndpoint)) match {
      case None => soft(401, s"stream not found for: ${
        token.map(WriteKeys.mask).getOrElse("(no token)")}")
      case Some((streamId, ingType)) =>
        val body = readBody(ex).trim
        // one event or an array of events (router_classic_handler.go:149-163)
        val events: Either[String, Seq[String]] =
          if (body.isEmpty) Left("empty body")
          else if (body.head == '[')
            try {
              val root = jsonMapper.readTree(body)
              import scala.jdk.CollectionConverters._
              Right(root.elements().asScala.map(_.toString).toSeq)
            } catch { case e: Exception =>
              Left(s"error parsing message: ${Option(e.getMessage).getOrElse("bad JSON")}") }
          else if (body.head == '{') Right(Seq(body))
          else Left("body must be a JSON object or array")
        events match {
          case Left(err) => soft(400, err)
          case Right(evs) =>
            val throttle = reg.streamConfig(streamId).map(_.throttle).getOrElse(0)
            val table = q.getOrElse("tableName", "events")
            var shedCount = 0
            evs.foreach { raw =>
              if (IngestThrottle.shed(raw, throttle)) { shed0(streamId, table, raw); shedCount += 1 }
              else spool0(streamId, table, envelope("classic", ingType, raw))
            }
            if (shedCount == evs.size && shedCount > 0)
              respond(ex, if (s2sEndpoint) 402 else 200,
                """{"ok":false,"error":"throttled"}""")
            else respond(ex, 200, """{"ok":true}""")
        }
    }
  }

  /** Tracking-pixel ingest (`PixelHandler`,
    * router_pixel_handler.go:36-134): GET, event from query params, full
    * writeKeyDefined locator chain WITHOUT a payload key extractor, always
    * answered with the 1×1 GIF — a pixel never surfaces errors to the
    * embedding page (every ResponseError there uses StatusOK). The
    * `destination_url` redirect leg is out of scope (an open-redirect
    * guard, not a dataflow). */
  private def handlePixel(reg: WriteKeys.Registry, ex: HttpExchange): Unit =
    try {
      ex.getResponseHeaders.set("Cache-Control", "no-cache, no-store, must-revalidate")
      ex.getResponseHeaders.set("Pragma", "no-cache")
      ex.getResponseHeaders.set("Expires", "0")
      val tp = destOf(ex, "/api/px/")
      val hdr = (n: String) => Option(ex.getRequestHeaders.getFirst(n))
      val pairs = queryPairs(ex)
      val q = pairs.toMap
      def gif(): Unit = respondBytes(ex, 200, PixelIngest.EmptyGif, "image/gif")
      if (ex.getRequestMethod != "GET" || tp.isEmpty) { gif(); return }
      val event = PixelIngest.parseEvent(pairs)
      // utils.IsTruish (jitsubase/utils/bool.go:31-41): 'true' (ci) or '1'
      val truish = q.get("process_headers").map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .exists(Set("true", "1").contains)
      if (truish)
        PixelIngest.processHeaders(event, PixelIngest.parseCookies(hdr("Cookie")),
          hdr("Referer"), tp, newId).foreach { anon =>
          ex.getResponseHeaders.set("Set-Cookie",
            s"__eventn_id=$anon; Path=/; SameSite=None; Secure")
        }
      val key = WriteKeys.extract(hdr("Authorization"), hdr("X-Write-Key"),
        q.get("writekey"))
      val slug = q.get("slug").filter(_.nonEmpty)
      val domain = if (slug.isDefined) None else hdr("Host").map(_.split(":")(0))
      WriteKeys.locate(reg, slug, domain, key, s2sEndpoint = false) match {
        case None => gif() // stream not found: still a 200 GIF
        case Some((streamId, ingType)) =>
          val raw = event.toString
          val throttle = reg.streamConfig(streamId).map(_.throttle).getOrElse(0)
          if (IngestThrottle.shed(raw, throttle))
            shed0(streamId, q.getOrElse("tableName", "events"), raw)
          else spool0(streamId, q.getOrElse("tableName", "events"),
            envelope(tp, ingType, raw))
          gif()
      }
    } catch { case _: Exception =>
      respondBytes(ex, 200, PixelIngest.EmptyGif, "image/gif") }

  /** analytics.js settings stub (`SettingsHandler`,
    * router_segment_settings_handler.go): the writeKey is ECHOED, never
    * validated — the reference serves the same static plan to any key so
    * analytics.js bootstraps before its first event auths. */
  private def handleSettings(ex: HttpExchange, prefix: String): Unit = {
    val rest0 = ex.getRequestURI.getPath.stripPrefix(prefix).stripPrefix("/")
    // the doubled alias `/v1/projects/projects/:writeKey/settings`
    // (ingest/router.go:162,165) collapses to the same key
    val rest = if (rest0.startsWith("projects/")) rest0.stripPrefix("projects/")
               else rest0
    val writeKey = rest.stripSuffix("/settings").takeWhile(_ != '/')
    ex.getResponseHeaders.set("Cache-Control", "public, max-age=86400")
    // the path segment is URL-decoded — JSON-escape it so a %22 cannot
    // break or inject into the declared application/json body (same
    // hardening as the /api/s/:tp envelope)
    respond(ex, 200, SettingsJson.header.stripSuffix("\"") +
      graft.Verify.jsonStr(writeKey) + SettingsJson.footer.stripPrefix("\""))
  }

  /** Failed-events read-back (`FailedHandler`): chunked NDJSON from the
    * injected reader; unknown status is a 400 like the reference. */
  private def handleFailed(read: (String, String) => Iterator[String],
                           ex: HttpExchange): Unit = {
    val destId = destOf(ex, "/failed/")
    val status = query(ex).getOrElse("status", "dead")
    if (ex.getRequestMethod != "GET" || destId.isEmpty)
      respond(ex, 400, """{"error":"GET /failed/:destinationId"}""")
    else if (!FailedReadback.Statuses.contains(status))
      respond(ex, 400, s"""{"error":"unknown status: $status (should be 'retry' or 'dead')"}""")
    else {
      val it = read(destId, status)
      ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
      ex.sendResponseHeaders(200, 0L) // chunked: length unknown up front
      val out = ex.getResponseBody
      // the iterator is lazy (the queue read runs during the stream): a
      // mid-stream failure cannot become a 500 anymore — surface it as
      // an in-band ERROR line, exactly the reference's FailedHandler
      // contract (router.go:415-419 writes {"ERROR": ...} rows)
      try it.foreach { line => out.write(line.getBytes(UTF_8)); out.write('\n') }
      catch { case e: Exception =>
        out.write(s"""{"ERROR":${graft.Verify.jsonStr(
          Option(e.getMessage).getOrElse("read failed"))}}""".getBytes(UTF_8))
        out.write('\n')
      }
      ex.close()
    }
  }

  /** Events-log read-back (`EventsLogHandler`, router.go:485-571): the
    * filter params parse with the reference's exact 400 contracts, the
    * backend read streams newest-first, and a backend failure is the
    * reference's 500. A missing `.level` in the event key is a 400 here
    * (the reference indexes `parts[1]` unguarded and 500s via recovery). */
  private def handleLog(read: LogReadback.Reader, ex: HttpExchange): Unit = {
    val segs = ex.getRequestURI.getPath.stripPrefix("/log/").split("/")
    if (ex.getRequestMethod != "GET" || segs.length < 2 || segs(0).isEmpty) {
      respond(ex, 400, """{"error":"GET /log/:eventType.:level/:actorId"}"""); return
    }
    val keyParts = segs(0).split("\\.", 2)
    if (keyParts.length < 2) {
      respond(ex, 400,
        """{"error":"eventType path segment must be <type>.<level>"}"""); return
    }
    val (eventType, level) = (keyParts(0), keyParts(1))
    val actorId = segs(1)
    val q = query(ex)
    def intParam(name: String): Option[Int] = q.get(name).map { s =>
      try s.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"'$name' parameter must be an integer number") }
    }
    def dateParam(name: String): Option[Long] =
      try LogReadback.parseDateParam(q.get(name))
      catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(s"'$name' parameter must be " +
          "either unix timestamp or date in '2006-01-02' format") }
    val (maxBytes, startMs, endMs, limit) =
      try {
        val mb = intParam("maxBytes").getOrElse(0)
        val st = dateParam("start")
        val en = dateParam("end")
        // router.go:521-528: a parsed limit REPLACES the default only
        // when < 1000; limit=0 therefore means uncapped
        val lim = intParam("limit").filter(_ < 1000).getOrElse(100)
        (mb, st, en, lim)
      } catch { case e: IllegalArgumentException =>
        respond(ex, 400, s"""{"error":${graft.Verify.jsonStr(e.getMessage)}}""")
        return
      }
    val filter = LogReadback.Filter(
      q.get("beforeId").filter(_.nonEmpty), startMs, endMs, limit)
    val records =
      try read(eventType, level, actorId, filter)
      catch { case e: Exception =>
        respond(ex, 500, s"""{"error":${graft.Verify.jsonStr(
          "Failed to get events log: " + Option(e.getMessage).getOrElse("read failed"))}}""")
        return
      }
    val (ct, body) = LogReadback.render(eventType, records,
      LogReadback.truish(q.get("ndjson")), maxBytes)
    respondBytes(ex, 200, body, ct)
  }

  /** Connection test (`TestConnectionHandler`, router.go:434-483). */
  private def handleTest(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 400, """{"ok":false,"error":"POST a destination config"}"""); return
    }
    ConnectionTest.test(readBody(ex)) match {
      case Left(err) =>
        respond(ex, 422, s"""{"ok":false,"error":${graft.Verify.jsonStr(err)}}""")
      case Right(_) => respond(ex, 200, """{"ok":true}""")
    }
  }

  /** Liveness (`/health`) is unconditional; readiness (`/ready`) consults
    * the injected probe — the engine's stand-in for the reference's
    * Kafka-metadata/producer-queue gate (router.go:90-121): a load
    * balancer must stop routing before the edge can't spool. */
  private def handleHealth(ex: HttpExchange, gated: Boolean): Unit = {
    val failure = if (gated) readiness() else None
    failure match {
      case None => respond(ex, 200, """{"status":"pass"}""")
      case Some(out) => respond(ex, 503,
        s"""{"status":"fail","output":${graft.Verify.jsonStr(out)}}""")
    }
  }

  // ----------------------------------------------------------------- wiring

  def start(portHint: Int = 0): IngestServer = {
    server = Http.server(portHint)
    route("/post/") { ex =>
      val dest = destOf(ex, "/post/")
      val q = query(ex)
      val table = q.getOrElse("tableName", "")
      // modeOverride forces the produce topic's mode in the reference
      // (router.go:127,146-150); this engine drains one spool per
      // (dest, table) either way, so the override only VALIDATES here —
      // same 400 contract, no behavioral fork to mis-route
      val mode = q.get("modeOverride").filter(_.nonEmpty)
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
      if (ex.getRequestMethod != "POST" || dest.isEmpty || body.isEmpty)
        respond(ex, 400, """{"ok":false,"error":"POST /post/:dest with a JSON body"}""")
      else if (mode.exists(m => m != "batch" && m != "stream"))
        respond(ex, 400, s"""{"ok":false,"error":${graft.Verify.jsonStr(
          s"invalid bulker mode: ${mode.get}")}}""")
      else if (table.isEmpty)
        // required on the events path too (router.go:156-159) — the
        // reference never defaults a target table
        respond(ex, 400, """{"ok":false,"error":"tableName query parameter is required"}""")
      else { spool0(dest, table, body); respond(ex, 200, """{"ok":true}""") }
    }
    // profile-rebuild trigger (`ProfilesHandler`, router.go:65,193-218):
    // enqueue the profileId into the builder's priority queue — the
    // builder itself is not in the reference tree (its topics are skipped
    // by the topic manager); the edge contract is just the enqueue
    route("/profiles/") { ex =>
      val segs = ex.getRequestURI.getPath.stripPrefix("/profiles/").split("/")
      if (ex.getRequestMethod != "POST" || segs.length < 2 || segs(0).isEmpty || segs(1).isEmpty)
        respond(ex, 400, """{"ok":false,"error":"POST /profiles/:profileBuilderId/:priority"}""")
      else {
        val profileId = query(ex).getOrElse("profileId", "")
        spool0(segs(0), s"profiles_${segs(1)}",
          s"""{"profileId":${graft.Verify.jsonStr(profileId)}}""")
        respond(ex, 200, """{"ok":true}""")
      }
    }
    route("/bulk/", fallback = "load failed") { ex =>
      val dest = destOf(ex, "/bulk/")
      val q = query(ex)
      val mode = q.getOrElse("mode", "replace_table") // router.go:233 default
      // repeated ?pk= params become the stream's primary key and switch
      // deduplication on (router.go:258-262 WithPrimaryKey+WithDeduplicate)
      val pks = queryPairs(ex).collect { case ("pk", v) if v.nonEmpty => v }
      // an explicit schema rides the X-Jitsu-Schema header
      // (router.go:228,261-272): validated HERE (bad JSON is the
      // reference's 400 before any stream work), applied by schema-aware
      // loaders (bulkLoadEx); the legacy 5-arg loader cannot carry it
      val schemaHeader = Option(ex.getRequestHeaders.getFirst("X-Jitsu-Schema"))
        .filter(_.nonEmpty)
      // the reference unmarshals into a STRUCT (types.Schema), so shape
      // errors — non-object root, non-array `fields`, non-object field,
      // mistyped name/type — 400 just like bad syntax does
      val schemaBad = schemaHeader.exists { sj =>
        try {
          val root = jsonMapper.readTree(sj)
          import scala.jdk.CollectionConverters._
          !root.isObject || Option(root.get("fields")).exists(f =>
            !f.isArray || f.elements().asScala.exists(e => !e.isObject ||
              Option(e.get("name")).exists(!_.isTextual) ||
              Option(e.get("type")).exists(t => !t.isNumber || !t.canConvertToInt)))
        } catch { case _: Exception => true }
      }
      val lines = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      if (ex.getRequestMethod != "POST" || dest.isEmpty)
        respond(ex, 400, """{"ok":false,"error":"POST /bulk/:dest"}""")
      else if (!q.get("tableName").exists(_.nonEmpty))
        // required in the reference (router.go:253-256) — a bulk load
        // with no target table is always a caller bug
        respond(ex, 400, """{"ok":false,"error":"tableName query parameter is required"}""")
      else if (schemaBad)
        respond(ex, 400, """{"ok":false,"error":"schema unmarshal error"}""")
      else if (lines.exists(_.startsWith("ABORT")))
        // an ABORT line mid-body aborts the whole load (router.go:285-289)
        respond(ex, 400, """{"ok":false,"error":"aborted"}""")
      else if (lines.isEmpty)
        // consumed == 0: the reference ABORTS the stream and answers 200
        // ok without completing (router.go:313-317) — an empty body must
        // never reach the loader (a replace_table complete would wipe
        // the target table)
        respond(ex, 200, """{"ok":true,"rows":0}""")
      else {
        val table = q("tableName")
        val rows = bulkLoadEx match {
          case Some(f) => f(BulkRequest(dest, table, mode, pks, schemaHeader, lines))
          case None => bulkLoad(dest, table, mode, pks, lines)
        }
        respond(ex, 200, s"""{"ok":true,"rows":$rows}""")
      }
    }
    // Segment-compatible authenticated edge (ingest/router.go:160-177);
    // handlers read the CURRENT registry per request — hot-reload safe
    if (auth.isDefined) {
      route("/api/s/", withCors = true)(handleApiS(registry.get, _))
      route("/v1/batch", withCors = true)(handleBatch(registry.get, _, s2sEndpoint = false))
      route("/batch", withCors = true)(handleBatch(registry.get, _, s2sEndpoint = false))
      route("/api/px/", withCors = true)(handlePixel(registry.get, _))
      route("/api/v1/", withCors = true)(handleClassic(registry.get, _))
      // randomized classic alias `/api.<rand>` (router.go:186) — a distinct
      // literal prefix, so it cannot shadow the /api/... contexts
      route("/api.", withCors = true)(handleClassic(registry.get, _))
      // short batch aliases (ingest/router.go:166-171): "/b" would swallow
      // any unknown "/b..." path ("/bulk/" and "/batch" are longer and win
      // for theirs), so the aliases are exact. `/batch/b` and `/v1/batch/b`
      // already route through "/batch" and "/v1/batch" (handleBatch
      // ignores the trailing segment)
      route("/b", exact = true, withCors = true)(handleBatch(registry.get, _, s2sEndpoint = false))
      route("/v1/b", exact = true, withCors = true)(handleBatch(registry.get, _, s2sEndpoint = false))
    }
    route("/v1/projects", withCors = true)(handleSettings(_, "/v1/projects"))
    route("/projects", withCors = true)(handleSettings(_, "/projects"))
    failedLines.foreach(read => route("/failed/")(handleFailed(read, _)))
    logEvents.foreach(read => route("/log/")(handleLog(read, _)))
    route("/test", exact = true)(handleTest)
    // exact: a typo'd probe path must not read as healthy
    route("/health", exact = true)(handleHealth(_, gated = false))
    route("/ready", exact = true)(handleHealth(_, gated = true))
    // connections metrics (router.go:344-369): the reference proxies the
    // workspace's PromQL to Prometheus; here the engine's own EdgeMetrics
    // snapshot renders the same query-response shape (same <10-char guard)
    route("/connections-metrics/") { ex =>
      val ws = destOf(ex, "/connections-metrics/")
      if (ex.getRequestMethod != "GET") respond(ex, 404, Http.NotFound)
      else if (ws.length < 10)
        respond(ex, 400, """{"error":"invalid workspaceId"}""")
      else respond(ex, 200, metrics.promJson(ws))
    }
    // static script edge (ingest/router.go:179,187) + robots
    route("/p.js", exact = true)(modernScript.serve)
    route("/s/lib.js", exact = true)(classicScript.serve)
    route("/robots.txt")(respond(_, 200, "User-agent: *\nDisallow: /\n", "text/plain"))
    // without an executor the JDK server runs every handler on its single
    // dispatcher thread — one slow request (a /test probe, a big bulk body)
    // would stall /health and every ingest path behind it
    pool = java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-ingest-http"); t.setDaemon(true); t
      })
    server.setExecutor(pool)
    server.start()
    this
  }

  /** The served tag bundles — hot-swappable via [[ScriptServing.update]]. */
  val modernScript = new ScriptServing(ScriptServing.modernBundle)
  val classicScript = new ScriptServing(ScriptServing.classicBundle)

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }
}

/** One parsed `/bulk/:dest` request (`BulkHandler`, router.go:220-321):
  * everything the loader needs, including the `X-Jitsu-Schema` declared
  * schema (raw JSON — `{"name":…,"fields":[{"name":…,"type":…},…]}`) that
  * pins column types ahead of the data (the reference's `WithSchema`
  * stream option; the engine's `schema`/`columnTypes` options are the
  * library-path twin). */
final case class BulkRequest(dest: String, table: String, mode: String,
                             pks: Seq[String], schemaJson: Option[String],
                             lines: Seq[String]) {

  /** The declared schema as engine options: ordered field names + the
    * typed subset (fields whose `type` int maps onto the engine lattice;
    * UNKNOWN/absent types stay inferable, exactly WithSchema's behavior of
    * pinning declared columns ahead of the data). */
  def declaredSchema: (Seq[String], Map[String, graft.core.DataKind]) =
    schemaJson.map(BulkRequest.parseSchema).getOrElse((Nil, Map.empty))
}

object BulkRequest {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse the header's `types.Schema` JSON (`{"name":…,"fields":
    * [{"name":…,"type":<int>},…]}`, bulkerlib/types/schema.go). The type
    * ints are the reference's DataType iota order (datatype.go:16-33),
    * which [[graft.core.DataKind.rank]] mirrors one-for-one. */
  def parseSchema(json: String): (Seq[String], Map[String, graft.core.DataKind]) = {
    import scala.jdk.CollectionConverters._
    val root = mapper.readTree(json)
    val fields = Option(root.get("fields")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val named = fields.flatMap { f =>
      Option(f.get("name")).filter(_.isTextual).map(_.asText).filter(_.nonEmpty)
        .map(_ -> Option(f.get("type")).filter(_.isNumber).map(_.asInt).getOrElse(0))
    }
    val kinds = named.flatMap { case (n, code) =>
      graft.core.DataKind.all.find(k => k.rank == code && k != graft.core.DataKind.Unknown)
        .map(n -> _)
    }.toMap
    (named.map(_._1), kinds)
  }
}

/** The static settings document served to analytics.js
  * (router_segment_settings_handler.go:8-9): Segment.io integration keyed
  * by the request's writeKey, default-enabled plan. */
object SettingsJson {
  val header: String = """{"integrations":{"Segment.io":{"apiKey":""""
  val footer: String = """","versionSettings":{"version":"4.4.7","componentTypes":["browser"]}}},""" +
    """"plan":{"track":{"__default":{"enabled":true}},"identify":{"__default":{"enabled":true}},""" +
    """"group":{"__default":{"enabled":true}}},"analyticsNextEnabled":true}"""
}
