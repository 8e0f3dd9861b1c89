package graft.http

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CountDownLatch

import graft.{Engine, SparkSuite}
import graft.http.SyncController.{Connector, TaskConfiguration, TaskDescriptor}
import graft.sink.JdbcSink
import graft.sources.SyncDb
import graft.sql.DerbyDialect

/** The sync-controller task plane (sync-controller/task_manager.go +
  * router.go + job_runner.go lifecycle + sync-sidecar/db/db.go): HTTP
  * surface, pod naming, the spec/check/discover/read sidecar legs with
  * their warehouse bookkeeping, cancel stickiness, the scheduled-sync
  * dedup, the stale janitor, and the conditional-upsert guards. */
class SyncControllerSpec extends SparkSuite {

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def http(method: String, url: String, body: Option[String] = None,
                   headers: Map[String, String] = Map.empty): (Int, String) = {
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
    val s = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
    conn.disconnect()
    (code, s)
  }

  private def freshSink(tag: String): JdbcSink =
    JdbcSink(s"jdbc:derby:memory:synctl_$tag;create=true", DerbyDialect,
      maxWriteConnections = 2)

  private def rows(sink: JdbcSink, sql: String): Seq[Seq[String]] =
    sink.withConnection { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        while (rs.next()) buf += (1 to n).map(i => String.valueOf(rs.getString(i)))
        buf.toSeq
      } finally st.close()
    }

  /** Wait (bounded) until the controller has no pods / statuses in flight. */
  private def quiesce(ctl: SyncController): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!ctl.quiesced && System.nanoTime() < deadline) Thread.sleep(10)
    assert(ctl.quiesced, "controller did not quiesce in 30s")
  }

  private def lineConnector(
      specL: Seq[String] = Nil, checkL: Seq[String] = Nil,
      discoverL: Seq[String] = Nil,
      readL: (TaskDescriptor, () => Boolean) => Iterator[String] =
        (_, _) => Iterator.empty): Connector = new Connector {
    def spec(): Iterator[String] = specL.iterator
    def check(cfg: TaskConfiguration): Iterator[String] = checkL.iterator
    def discover(cfg: TaskConfiguration): Iterator[String] = discoverL.iterator
    def read(desc: TaskDescriptor, cfg: TaskConfiguration,
             cancelled: () => Boolean): Iterator[String] = readL(desc, cancelled)
  }

  private val T0 = 1754000000000L // fixed clock for deterministic timestamps

  private def ctlWith(sink: JdbcSink, conns: Map[String, Connector],
                      consoleUrl: String = "", consoleToken: String = "",
                      taskTimeoutMs: Long = 48L * 3600 * 1000,
                      watcherPeriodMs: Long = 10000L,
                      runningReportEveryMs: Long = 60000L,
                      schedDelayMs: Long = 0L): SyncController =
    new SyncController(new Engine(spark, sink), sink, conns,
      consoleUrl = consoleUrl, consoleToken = consoleToken,
      nowMs = () => T0, schedulerDelayMs = _ => schedDelayMs,
      taskTimeoutMs = taskTimeoutMs, watcherPeriodMs = watcherPeriodMs,
      runningReportEveryMs = runningReportEveryMs).start()

  // ---------------------------------------------------------------- podName

  test("podName: registry prefix stripped, taskId tail, lowered, sanitized") {
    // job_runner.go:414-420
    assert(SyncController.podName("SYNC1", "0123456789abcdef0123456789abcdef-XYZ",
      "airbyte/source-Postgres_DB", "read") == "postgres-db-sync1-read--xyz")
    assert(SyncController.podName("s", "short", "jitsucom/source-firebase", "spec")
      == "firebase-s-spec-")
    // blank taskId: a fresh 36-char UUID leaves a 4-char tail
    val generated = SyncController.podName("s", "", "pkg", "check")
    assert(generated.startsWith("pkg-s-check-") &&
      generated.length == "pkg-s-check-".length + 4)
  }

  // ----------------------------------------------------------- SyncDb guards

  test("SyncDb: spec upsert is immutable once specs landed; error keeps slot") {
    val sink = freshSink("dbspec")
    SyncDb.init(sink)
    SyncDb.insertSpecError(sink, "p", "v1", T0, "boom")
    assert(rows(sink, s"""SELECT specs, error FROM "${SyncDb.SpecTable}"""") ==
      Seq(Seq("null", "boom")))
    SyncDb.upsertSpec(sink, "p", "v1", """{"ok":1}""", T0 + 1, "")
    SyncDb.upsertSpec(sink, "p", "v1", """{"ok":2}""", T0 + 2, "") // guarded out
    SyncDb.insertSpecError(sink, "p", "v1", T0 + 3, "late")        // guarded out
    assert(rows(sink, s"""SELECT specs, error FROM "${SyncDb.SpecTable}"""") ==
      Seq(Seq("""{"ok":1}""", "")))
  }

  test("SyncDb: running-guarded task upserts never flip a finished row") {
    val sink = freshSink("dbtask")
    SyncDb.init(sink)
    SyncDb.upsertRunningTask(sink, "sy", "t1", "p", "v", T0, "RUNNING", "", "{}", T0)
    SyncDb.updateRunningTaskStatus(sink, "t1", "CANCELLED")
    // all three RUNNING-guarded writes must be no-ops now
    SyncDb.upsertRunningTask(sink, "sy", "t1", "p", "v", T0, "RUNNING", "", "{}", T0 + 9)
    SyncDb.updateRunningTaskDate(sink, "t1", T0 + 9)
    SyncDb.updateRunningTaskMetrics(sink, "t1", """{"cpu":1}""", T0 + 9)
    assert(rows(sink,
      s"""SELECT status, metrics FROM "${SyncDb.TaskTable}" WHERE task_id='t1'""") ==
      Seq(Seq("CANCELLED", "null")))
    // the sidecar's final unguarded write still lands (read.go owns it)
    SyncDb.upsertTaskDescriptionAndError(sink, "sy", "t1", "p", "v", T0,
      "CANCELLED", """{"s":1}""", "The task was cancelled", T0 + 10)
    assert(rows(sink,
      s"""SELECT status, description FROM "${SyncDb.TaskTable}"""") ==
      Seq(Seq("CANCELLED", """{"s":1}""")))
  }

  test("SyncDb: check error insert is DO NOTHING; catalog RUNNING guard") {
    val sink = freshSink("dbchk")
    SyncDb.init(sink)
    SyncDb.upsertCheck(sink, "p", "v", "k1", "SUCCESS", "", T0)
    SyncDb.insertCheckError(sink, "p", "v", "k1", "FAILED", "FAILED: x", T0 + 1)
    assert(rows(sink, s"""SELECT status FROM "${SyncDb.CheckTable}"""") ==
      Seq(Seq("SUCCESS")))
    SyncDb.upsertCatalogSuccess(sink, "p", "v", "k1", "{}", T0, "SUCCESS", "")
    SyncDb.upsertRunningCatalogStatus(sink, "p", "v", "k1", T0 + 1, "FAILED", "late")
    assert(rows(sink, s"""SELECT status FROM "${SyncDb.CatalogTable}"""") ==
      Seq(Seq("SUCCESS")))
    SyncDb.closeStaleTasks(sink, T0) // smoke: no RUNNING rows → 0
  }

  test("SyncDb: concurrent upserts on one key collapse to a single row (insert race)") {
    // Postgres ON CONFLICT is atomic; the UPDATE-then-INSERT re-expression
    // must tolerate losing the insert race under concurrent tasks
    val sink = freshSink("dbrace")
    SyncDb.init(sink)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(24)
    (0 until 24).foreach { i =>
      pool.execute(() => {
        try {
          go.await()
          SyncDb.upsertCheck(sink, "p", "v", "hotkey", s"S$i", "", T0 + i)
          SyncDb.upsertState(sink, "sy", "hotstream", s"""{"i":$i}""", T0 + i)
          SyncDb.insertCheckError(sink, "p", "v", s"late$i", "FAILED", "x", T0)
        } catch { case t: Throwable => errs.add(t); () }
        finally done.countDown()
      })
    }
    go.countDown()
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, s"concurrent upserts threw: ${errs}")
    assert(rows(sink, s"""SELECT COUNT(*) FROM "${SyncDb.CheckTable}"
        WHERE "key"='hotkey'""") == Seq(Seq("1")))
    assert(rows(sink, s"""SELECT COUNT(*) FROM "${SyncDb.StateTable}"
        WHERE stream='hotstream'""") == Seq(Seq("1")))
  }

  // ------------------------------------------------------------ HTTP surface

  test("spec task: happy path lands source_spec; unknown package lands error") {
    val sink = freshSink("spec")
    val ctl = ctlWith(sink, Map("airbyte/source-ok" -> lineConnector(
      specL = Seq("""{"type":"SPEC","spec":{"title":"ok-spec"}}"""))))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val (hc, hb) = http("GET", s"$api/health")
      assert(hc == 200 && hb == """{"status":"pass"}""")
      val (c1, b1) = http("GET", s"$api/spec?package=airbyte/source-ok&version=v1")
      assert(c1 == 200)
      val n1 = om.readTree(b1)
      assert(n1.get("ok").asBoolean && n1.get("startedAt").asLong == T0 / 1000)
      val (c2, _) = http("GET", s"$api/spec?package=airbyte/source-ghost&version=v9")
      assert(c2 == 200) // pod creation succeeds; the pod itself fails
      quiesce(ctl)
      assert(rows(sink, s"""SELECT package, version, specs, error
          FROM "${SyncDb.SpecTable}" ORDER BY package""") == Seq(
        Seq("airbyte/source-ghost", "v9", "null",
          "connector package 'airbyte/source-ghost' not found"),
        Seq("airbyte/source-ok", "v1", """{"title":"ok-spec"}""", "")))
    } finally ctl.stop()
  }

  test("a handler failure answers 500 with the {ok:false,error} body; unknown paths 404") {
    val sink = freshSink("err500")
    val ctl = ctlWith(sink, Map.empty)
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      assert(http("GET", s"$api/specx") == ((404, """{"error":"not found"}""")))
      // /cancel writes source_task: with the table gone the handler throws
      sink.withConnection { c =>
        val st = c.createStatement()
        try st.execute(s"""DROP TABLE "${SyncDb.TaskTable}"""") finally st.close()
      }
      val (code, body) = http("GET", s"$api/cancel?package=p&syncId=s&taskId=t")
      assert(code == 500, body)
      val n = om.readTree(body)
      assert(n.size == 2 && !n.get("ok").asBoolean, body)
      assert(n.get("error").asText.contains(SyncDb.TaskTable), body)
    } finally ctl.stop()
  }

  test("check task: SUCCEEDED normalizes; connector failure lands FAILED row") {
    val sink = freshSink("check")
    val ctl = ctlWith(sink, Map(
      "ok" -> lineConnector(checkL = Seq(
        """{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}""")),
      "bad" -> lineConnector(checkL = Seq(
        """{"type":"LOG","log":{"level":"ERROR","message":"credentials rejected"}}"""))))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      assert(http("POST", s"$api/check?package=ok&version=v1&storageKey=sk1",
        Some("""{"config":{}}"""))._2 == """{"ok":true}""")
      assert(http("POST", s"$api/check?package=bad&version=v1&storageKey=sk2",
        Some("""{"config":{}}"""))._2 == """{"ok":true}""")
      quiesce(ctl)
      assert(rows(sink, s"""SELECT "key", status, description
          FROM "${SyncDb.CheckTable}" ORDER BY "key"""") == Seq(
        Seq("sk1", "SUCCESS", ""),
        Seq("sk2", "FAILED", "FAILED: credentials rejected")))
      // bad json body → 400 (task_manager.go:56-59)
      assert(http("POST", s"$api/check?package=ok", Some("{nope"))._1 == 400)
    } finally ctl.stop()
  }

  test("discover: RUNNING → SUCCESS catalog; thenRun kicks the console") {
    val sink = freshSink("disc")
    // a console stub recording the sources/run call (task_manager.go:185-213)
    val calls = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val console = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    console.createContext("/", ex => {
      calls.add(ex.getRequestURI.toString + "|" +
        ex.getRequestHeaders.getFirst("Authorization"))
      ex.sendResponseHeaders(200, 0L); ex.close()
    })
    console.start()
    val ctl = ctlWith(sink, Map("fb" -> lineConnector(
      discoverL = Seq("""{"type":"CATALOG","catalog":{"streams":[{"name":"c1"}]}}"""))),
      consoleUrl = s"http://127.0.0.1:${console.getAddress.getPort}",
      consoleToken = "tok")
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      assert(http("POST", s"$api/discover?package=fb&version=v2&storageKey=skd" +
        "&workspaceId=ws1&syncId=sy1&taskId=tk1&thenRun=true",
        Some("""{"config":{}}"""))._2 == """{"ok":true}""")
      quiesce(ctl)
      assert(rows(sink, s"""SELECT "key", status, "catalog"
          FROM "${SyncDb.CatalogTable}"""") ==
        Seq(Seq("skd", "SUCCESS", """{"streams":[{"name":"c1"}]}""")))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (calls.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(calls.size == 1 && calls.get(0) ==
        "/api/ws1/sources/run?syncId=sy1&taskId=tk1&skipRefresh=true&nodelay=true|Bearer tok")
    } finally { ctl.stop(); console.stop(0) }
  }

  private val readCatalog = """{"streams":[
    {"stream":{"name":"t","namespace":"ns",
      "json_schema":{"properties":{"id":{"type":"integer"},"v":{"type":"integer"}}},
      "source_defined_primary_key":[["id"]],"default_cursor_field":[]},
     "sync_mode":"incremental","cursor_field":["v"]},
    {"stream":{"name":"u","namespace":"ns",
      "json_schema":{"properties":{"id":{"type":"integer"}}},
      "source_defined_primary_key":[],"default_cursor_field":[]},
     "sync_mode":"full_refresh","cursor_field":[]}]}"""

  private def rec(id: Long, v: Long) =
    s"""{"type":"RECORD","record":{"stream":"t","namespace":"ns","data":{"id":$id,"v":$v}}}"""
  private def state(c: Long) =
    s"""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"t","namespace":"ns"},"stream_state":{"c":$c}}}}"""
  private val startedT =
    """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"t","namespace":"ns"},"status":"STARTED"}}}"""

  /** A read that emits `head` then blocks until cancelled — the live-pod
    * stdout-pipe gate every cancel/heartbeat test needs. `entered` counts
    * down when the gate is reached (i.e. after `head` was fully consumed
    * and any checkpoint it triggered committed). */
  private def gatedRead(entered: CountDownLatch, head: Seq[String],
                        onStart: () => Unit = () => ())
      : (TaskDescriptor, () => Boolean) => Iterator[String] =
    (_, cancelled) => {
      onStart()
      val gate = new Iterator[String] {
        def hasNext: Boolean = {
          entered.countDown()
          while (!cancelled()) {
            try Thread.sleep(5) catch { case _: InterruptedException => () }
          }
          false
        }
        def next(): String = throw new NoSuchElementException
      }
      head.iterator ++ gate
    }

  test("read task: RUNNING row, warehouse load, states, SUCCESS status map") {
    val sink = freshSink("read")
    val readL = (_: TaskDescriptor, _: () => Boolean) => Iterator(
      """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"t","namespace":"ns"},"status":"STARTED"}}}""",
      rec(1, 10), rec(2, 20), state(20),
      """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"t","namespace":"ns"},"status":"COMPLETE"}}}""",
      """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"u","namespace":"ns"},"status":"STARTED"}}}""",
      """{"type":"RECORD","record":{"stream":"u","namespace":"ns","data":{"id":7}}}""",
      """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"u","namespace":"ns"},"status":"COMPLETE"}}}""")
    val ctl = ctlWith(sink, Map("src" -> lineConnector(readL = readL)))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val body = s"""{"config":{},"catalog":$readCatalog,"state":{"ns.t":{"c":0}}}"""
      assert(http("POST", s"$api/read?package=src&version=v1&syncId=sy2" +
        "&taskId=0123456789abcdef0123456789abcdef-r1&tableNamePrefix=sc_",
        Some(body))._2 == """{"ok":true}""")
      quiesce(ctl)
      val task = rows(sink, s"""SELECT status, description, error
          FROM "${SyncDb.TaskTable}" WHERE sync_id='sy2'""")
      assert(task.size == 1)
      assert(task.head.head == "SUCCESS" && task.head(2) == "")
      val desc = om.readTree(task.head(1))
      assert(desc.get("ns.t").get("events").asLong == 2)
      assert(desc.get("ns.t").get("status").asText == "SUCCESS")
      assert(desc.get("ns.t").get("bytes").asLong > 0)
      assert(desc.get("ns.u").get("events").asLong == 1)
      // incremental stream checkpointed its state (read.go:622-626)
      assert(rows(sink, s"""SELECT stream, state FROM "${SyncDb.StateTable}"
          WHERE sync_id='sy2'""") == Seq(Seq("ns.t", """{"c":20}""")))
      assert(rows(sink, """SELECT COUNT(*) FROM "SC_T"""") == Seq(Seq("2")))
      assert(rows(sink, """SELECT COUNT(*) FROM "SC_U"""") == Seq(Seq("1")))
    } finally ctl.stop()
  }

  test("cancel mid-read: committed chunk survives, CANCELLED sticks") {
    val sink = freshSink("cancel")
    val entered = new CountDownLatch(1)
    val readL = gatedRead(entered, Seq(startedT, rec(1, 10), rec(2, 20), state(20)))
    val ctl = ctlWith(sink, Map("slow" -> lineConnector(readL = readL)))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val taskId = "0123456789abcdef0123456789abcdef-c1"
      val body = s"""{"config":{},"catalog":$readCatalog,"state":{"ns.t":{"c":0}}}"""
      assert(http("POST",
        s"$api/read?package=slow&version=v1&syncId=sy3&taskId=$taskId",
        Some(body))._2 == """{"ok":true}""")
      assert(entered.await(20, java.util.concurrent.TimeUnit.SECONDS))
      assert(http("GET",
        s"$api/cancel?package=slow&syncId=sy3&taskId=$taskId")._2 == """{"ok":true}""")
      quiesce(ctl)
      val task = rows(sink, s"""SELECT status, description, error
          FROM "${SyncDb.TaskTable}" WHERE sync_id='sy3'""")
      assert(task.head.head == "CANCELLED")
      assert(task.head(2) == "The task was cancelled")
      val desc = om.readTree(task.head(1))
      // interrupted open stream: committed chunk kept → PARTIAL (read.go)
      assert(desc.get("ns.t").get("status").asText == "PARTIAL")
      assert(desc.get("ns.t").get("events").asLong == 2)
      assert(desc.get("ns.t").get("error").asText ==
        "Stream was interrupted. Check logs for errors.")
      // unprocessed catalog stream → bare CANCELLED stat (read.go:90-92)
      assert(desc.get("ns.u").get("status").asText == "CANCELLED")
      assert(desc.get("ns.u").get("events").asLong == 0)
      // chunk committed before the cancel survives in the warehouse
      assert(rows(sink, """SELECT COUNT(*) FROM "T"""") == Seq(Seq("2")))
      // saved state survives; RUNNING-guarded writes can't flip the row back
      assert(rows(sink, s"""SELECT state FROM "${SyncDb.StateTable}"
          WHERE sync_id='sy3'""") == Seq(Seq("""{"c":20}""")))
      SyncDb.upsertRunningTask(sink, "sy3", taskId, "slow", "v1", T0,
        "RUNNING", "", "{}", T0 + 5)
      assert(rows(sink, s"""SELECT status FROM "${SyncDb.TaskTable}"
          WHERE sync_id='sy3'""") == Seq(Seq("CANCELLED")))
    } finally ctl.stop()
  }

  test("timeout cancel rolls up TIME_EXCEEDED (read.go:76-119)") {
    val sink = freshSink("timeout")
    val entered = new CountDownLatch(1)
    val readL = gatedRead(entered, Seq(startedT, rec(1, 10), rec(2, 20), state(20)))
    // taskTimeoutMs = -1: any cancel counts as past the timeout
    val ctl = ctlWith(sink, Map("slow" -> lineConnector(readL = readL)),
      taskTimeoutMs = -1L)
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val taskId = "0123456789abcdef0123456789abcdef-t1"
      val body = s"""{"config":{},"catalog":$readCatalog,"state":{"ns.t":{"c":0}}}"""
      http("POST", s"$api/read?package=slow&version=v1&syncId=sy4&taskId=$taskId",
        Some(body))
      assert(entered.await(20, java.util.concurrent.TimeUnit.SECONDS))
      http("GET", s"$api/cancel?package=slow&syncId=sy4&taskId=$taskId")
      quiesce(ctl)
      val task = rows(sink, s"""SELECT status, description, error
          FROM "${SyncDb.TaskTable}" WHERE sync_id='sy4'""")
      // the controller's cancel write is guarded-in first (CANCELLED), then
      // the sidecar's rollup lands the TIME_EXCEEDED verdict unguarded
      assert(task.head.head == "TIME_EXCEEDED")
      assert(task.head(2).startsWith("Task timeout: The task has been running"))
      val desc = om.readTree(task.head(1))
      assert(desc.get("ns.u").get("status").asText == "TIME_EXCEEDED")
      assert(desc.get("ns.t").get("status").asText == "PARTIAL")
    } finally ctl.stop()
  }

  test("cancel before ANY stream opened: bare CANCELLED row, no description map") {
    // read.go:128-141 — the empty-processedStreams branch writes
    // status+error only (sendBadStatus), never a stream map
    val sink = freshSink("cancel0")
    val entered = new CountDownLatch(1)
    val readL = gatedRead(entered, head = Nil) // blocks before emitting anything
    val ctl = ctlWith(sink, Map("slow" -> lineConnector(readL = readL)))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val taskId = "0123456789abcdef0123456789abcdef-z1"
      http("POST", s"$api/read?package=slow&version=v1&syncId=sy8&taskId=$taskId",
        Some(s"""{"config":{},"catalog":$readCatalog}"""))
      assert(entered.await(20, java.util.concurrent.TimeUnit.SECONDS))
      http("GET", s"$api/cancel?package=slow&syncId=sy8&taskId=$taskId")
      quiesce(ctl)
      assert(rows(sink, s"""SELECT status, description, error
          FROM "${SyncDb.TaskTable}" WHERE sync_id='sy8'""") ==
        Seq(Seq("CANCELLED", "null", "The task was cancelled")))
    } finally ctl.stop()
  }

  test("pod watcher heartbeats RUNNING with cpu/mem metrics for a live read") {
    val sink = freshSink("watch")
    val entered = new CountDownLatch(1)
    val readL = gatedRead(entered, Seq(startedT))
    // fast watcher ticks, zero min-report interval → heartbeat every tick
    val ctl = ctlWith(sink, Map("slow" -> lineConnector(readL = readL)),
      watcherPeriodMs = 50L, runningReportEveryMs = 0L)
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val taskId = "0123456789abcdef0123456789abcdef-w1"
      http("POST", s"$api/read?package=slow&version=v1&syncId=sy6&taskId=$taskId",
        Some(s"""{"config":{},"catalog":$readCatalog}"""))
      assert(entered.await(20, java.util.concurrent.TimeUnit.SECONDS))
      // the watcher's RUNNING+metrics heartbeat must land on the row
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      var metrics: Seq[Seq[String]] = Nil
      while (metrics.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        metrics = rows(sink, s"""SELECT metrics FROM "${SyncDb.TaskTable}"
            WHERE task_id='$taskId' AND metrics IS NOT NULL""")
      }
      assert(metrics.nonEmpty, "no metrics heartbeat landed in 20s")
      val node = om.readTree(metrics.head.head)
      assert(node.get("cpu_usage").asDouble >= 0.0)
      http("GET", s"$api/cancel?package=slow&syncId=sy6&taskId=$taskId")
      quiesce(ctl)
      // final CANCELLED row; the heartbeat never resurrects it (guards)
      assert(rows(sink, s"""SELECT status FROM "${SyncDb.TaskTable}"
          WHERE task_id='$taskId'""") == Seq(Seq("CANCELLED")))
    } finally ctl.stop()
  }

  test("duplicate pod name → ALREADY_CREATED: the second POST never runs a pod") {
    val sink = freshSink("dup")
    val entered = new CountDownLatch(1)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val readL = gatedRead(entered, Seq(startedT),
      onStart = () => { ran.incrementAndGet(); () })
    val ctl = ctlWith(sink, Map("slow" -> lineConnector(readL = readL)))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val t1 = "0123456789abcdef0123456789abcdef-d1"
      val body = s"""{"config":{},"catalog":$readCatalog}"""
      assert(http("POST", s"$api/read?package=slow&version=v1&syncId=sy7&taskId=$t1",
        Some(body))._2 == """{"ok":true}""")
      assert(entered.await(20, java.util.concurrent.TimeUnit.SECONDS))
      // identical (syncId, taskId, package, type) → same pod name →
      // ALREADY_CREATED (job_runner.go:459-463,470-474); still ok:true on
      // the wire, but no second pod runs
      assert(http("POST", s"$api/read?package=slow&version=v1&syncId=sy7&taskId=$t1",
        Some(body))._2 == """{"ok":true}""")
      Thread.sleep(200)
      assert(ran.get() == 1, "duplicate pod name must not spawn a second pod")
      http("GET", s"$api/cancel?package=slow&syncId=sy7&taskId=$t1")
      quiesce(ctl)
    } finally ctl.stop()
  }

  test("scheduled trigger dedups against a running sync; stale janitor closes") {
    val sink = freshSink("sched")
    val entered = new CountDownLatch(1)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val readL = gatedRead(entered, Seq(startedT),
      onStart = () => { ran.incrementAndGet(); () })
    val ctl = ctlWith(sink, Map("slow" -> lineConnector(readL = readL)))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val t1 = "0123456789abcdef0123456789abcdef-s1"
      val body = s"""{"config":{},"catalog":$readCatalog}"""
      http("POST", s"$api/read?package=slow&version=v1&syncId=sy5&taskId=$t1",
        Some(body))
      assert(entered.await(20, java.util.concurrent.TimeUnit.SECONDS))
      // a scheduler-triggered duplicate of the SAME sync: skipped
      // (job_runner.go:433-443)
      val by = java.net.URLEncoder.encode("""{"trigger":"scheduled"}""", "UTF-8")
      http("POST", s"$api/read?package=slow&version=v1&syncId=sy5" +
        s"&taskId=0123456789abcdef0123456789abcdef-s2&startedBy=$by", Some(body))
      Thread.sleep(300) // delay fn is 0; give the scheduler thread a beat
      assert(ran.get() == 1, "scheduled duplicate must be skipped")
      http("GET", s"$api/cancel?package=slow&syncId=sy5&taskId=$t1")
      quiesce(ctl)
      // stale janitor: plant a RUNNING row with an old heartbeat
      SyncDb.upsertRunningTask(sink, "sy9", "t-stale", "p", "v", T0 - 7200000L,
        "RUNNING", "", "{}", T0 - 7200000L)
      assert(ctl.closeStaleTasksNow(T0 - 3600000L) == 1)
      assert(rows(sink, s"""SELECT status, error FROM "${SyncDb.TaskTable}"
          WHERE task_id='t-stale'""") ==
        Seq(Seq("FAILED", SyncDb.StaleTaskError)))
    } finally ctl.stop()
  }

  test("soak: 12 parallel reads with rolling cancels leave no pods or sync locks") {
    // the load shape the reference's K8s deployment sees: concurrent read
    // pods + operator cancels; after quiesce nothing may leak — no live
    // pod, no pending status, no dangling sync lock, every task row terminal
    val sink = freshSink("soak")
    val nTasks = 12
    val gates = Vector.fill(nTasks)(new CountDownLatch(1))
    // single-stream catalog: evens complete stream t (SUCCESS), odds gate
    // before the COMPLETE trace so the cancel lands mid-stream (CANCELLED)
    val soakCatalog = """{"streams":[
      {"stream":{"name":"t","namespace":"ns",
        "json_schema":{"properties":{"id":{"type":"integer"},"v":{"type":"integer"}}},
        "source_defined_primary_key":[["id"]],"default_cursor_field":[]},
       "sync_mode":"incremental","cursor_field":["v"]}]}"""
    val completeT =
      """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"t","namespace":"ns"},"status":"COMPLETE"}}}"""
    val readL: (TaskDescriptor, () => Boolean) => Iterator[String] =
      (desc, cancelled) => {
        val i = desc.syncId.stripPrefix("soak").toInt
        val head = Seq(startedT, rec(i * 10 + 1, 1), rec(i * 10 + 2, 2),
          state(i * 10 + 2))
        if (i % 2 == 0) (head :+ completeT).iterator // completes normally
        else {
          val gate = new Iterator[String] {
            def hasNext: Boolean = {
              gates(i).countDown()
              while (!cancelled()) {
                try Thread.sleep(5) catch { case _: InterruptedException => () }
              }
              false
            }
            def next(): String = throw new NoSuchElementException
          }
          head.iterator ++ gate
        }
      }
    val ctl = ctlWith(sink, Map("src" -> lineConnector(readL = readL)))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      def tid(i: Int) = s"0123456789abcdef0123456789abcdef-k$i"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val errs = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val done = new CountDownLatch(nTasks)
      (0 until nTasks).foreach { i =>
        pool.execute(() => {
          try {
            val r = http("POST", s"$api/read?package=src&version=v1&syncId=soak$i" +
              s"&taskId=${tid(i)}&tableNamePrefix=soak${i}_",
              Some(s"""{"config":{},"catalog":$soakCatalog}"""))
            if (r._2 != """{"ok":true}""") errs.add(s"task $i: ${r._2}"); ()
          } catch { case t: Throwable => errs.add(s"task $i: $t"); () }
          finally done.countDown()
        })
      }
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(errs.isEmpty, s"soak submits failed: $errs")
      // rolling cancels: each odd task is cancelled once its first chunk
      // committed (the gate is past the head lines)
      (1 until nTasks by 2).foreach { i =>
        assert(gates(i).await(60, java.util.concurrent.TimeUnit.SECONDS),
          s"task $i never reached its gate")
        http("GET", s"$api/cancel?package=src&syncId=soak$i&taskId=${tid(i)}")
      }
      pool.shutdown()
      assert(ctl.awaitQuiesce(120000L), "soak did not quiesce")
      val st = rows(sink, s"""SELECT sync_id, status
          FROM "${SyncDb.TaskTable}"""").map(r => r(0) -> r(1)).toMap
      (0 until nTasks).foreach { i =>
        val want = if (i % 2 == 0) "SUCCESS" else "CANCELLED"
        assert(st.get(s"soak$i").contains(want),
          s"task $i: expected $want, got ${st.get(s"soak$i")}")
      }
      // no dangling sync lock: a scheduled re-sync of a completed sync must
      // RUN (a leaked lock would skip it silently)
      val by = java.net.URLEncoder.encode("""{"trigger":"scheduled"}""", "UTF-8")
      http("POST", s"$api/read?package=src&version=v1&syncId=soak0" +
        s"&taskId=0123456789abcdef0123456789abcdef-p0&tableNamePrefix=soak0_" +
        s"&startedBy=$by", Some(s"""{"config":{},"catalog":$soakCatalog}"""))
      assert(ctl.awaitQuiesce(60000L))
      assert(rows(sink, s"""SELECT status FROM "${SyncDb.TaskTable}"
          WHERE task_id='0123456789abcdef0123456789abcdef-p0'""") ==
        Seq(Seq("SUCCESS")), "scheduled re-sync was suppressed by a leaked lock")
    } finally ctl.stop()
  }

  test("discover leg rejects unsupported protocol types like the sidecar") {
    // spec_catalog.go:87-101: RECORD/STATE in a spec/check/discover leg
    // panic "not supported type"; TRACE/CONTROL stay ignored
    val sink = freshSink("strict")
    val ctl = ctlWith(sink, Map("leaky" -> lineConnector(
      discoverL = Seq(
        """{"type":"TRACE","trace":{"type":"STREAM_STATUS"}}""",
        """{"type":"CONTROL","control":{"type":"CONNECTOR_CONFIG"}}""",
        """{"type":"RECORD","record":{"stream":"t","data":{"id":1}}}""",
        """{"type":"CATALOG","catalog":{"streams":[]}}"""))))
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      assert(http("POST", s"$api/discover?package=leaky&version=v1&storageKey=skx",
        Some("""{"config":{}}"""))._2 == """{"ok":true}""")
      assert(ctl.awaitQuiesce(30000L))
      // the RECORD line kills the leg BEFORE the catalog lands
      assert(rows(sink, s"""SELECT status, description
          FROM "${SyncDb.CatalogTable}" WHERE "key"='skx'""") ==
        Seq(Seq("FAILED", "not supported type: RECORD")))
    } finally ctl.stop()
  }

  test("quiesced counts scheduler-delayed jobs; awaitQuiesce is event-driven") {
    val sink = freshSink("sched2")
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    // the read gates on a latch RELEASED AFTER the not-quiesced assert — a
    // host stall can't let the delayed pod finish before the assert runs
    val go = new CountDownLatch(1)
    val ctl = ctlWith(sink, Map("src" -> lineConnector(
      readL = (_, _) => {
        go.await(30, java.util.concurrent.TimeUnit.SECONDS)
        ran.incrementAndGet(); Iterator.empty
      })),
      schedDelayMs = 100L)
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val by = java.net.URLEncoder.encode("""{"trigger":"scheduled"}""", "UTF-8")
      http("POST", s"$api/read?package=src&version=v1&syncId=syq" +
        s"&taskId=0123456789abcdef0123456789abcdef-q1&startedBy=$by",
        Some(s"""{"config":{},"catalog":$readCatalog}"""))
      // the delayed-sleep thread or the gated pod is in flight: either way
      // the controller must NOT look idle
      assert(!ctl.quiesced,
        "a scheduler-delayed job must hold quiesce until its pod finishes")
      go.countDown()
      assert(ctl.awaitQuiesce(30000L))
      assert(ran.get() == 1)
    } finally { go.countDown(); ctl.stop() }
  }

  test("concurrent scheduled triggers for one sync spawn exactly one pod") {
    // the r18 review fix: the sync lock lands via putIfAbsent BEFORE the
    // pod spawns — a containsKey-then-spawn pair would let two delayed
    // triggers waking together both pass the check and double-run the sync
    val sink = freshSink("sched4")
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val go = new CountDownLatch(1)
    val ctl = ctlWith(sink, Map("src" -> lineConnector(
      readL = (_, _) => {
        ran.incrementAndGet()
        go.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Iterator.empty
      })))  // schedDelayMs = 0: both triggers race immediately
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      val by = java.net.URLEncoder.encode("""{"trigger":"scheduled"}""", "UTF-8")
      Seq("c1", "c2").foreach { t =>
        http("POST", s"$api/read?package=src&version=v1&syncId=syc" +
          s"&taskId=0123456789abcdef0123456789abcdef-$t&startedBy=$by",
          Some(s"""{"config":{},"catalog":$readCatalog}"""))
      }
      // hold the winner's pod open until BOTH trigger threads have made
      // their putIfAbsent decision — otherwise c1 could finish and release
      // its lock before c2 even raced, making a legitimate second run
      val decided = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (ctl.pendingScheduledJobs > 0 && System.nanoTime() < decided)
        Thread.sleep(5)
      assert(ctl.pendingScheduledJobs == 0, "trigger threads never decided")
      go.countDown()
      assert(ctl.awaitQuiesce(30000L))
      assert(ran.get() == 1,
        s"concurrent scheduled triggers double-ran the sync: ${ran.get()}")
    } finally { go.countDown(); ctl.stop() }
  }

  test("dangling thenRun sync lock is freed at watcher cadence") {
    // job_runner.go:99-102,190-196: the watcher rebuilds active syncs from
    // live read/thenRun pods each tick — a thenRun whose console callback
    // never materializes a read task must suppress scheduled syncs for
    // ~watcherPeriodMs, not until the 15-minute janitor
    val sink = freshSink("locks")
    val console = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    console.createContext("/", ex => { ex.sendResponseHeaders(200, 0L); ex.close() })
    console.start()
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val ctl = ctlWith(sink, Map("fb" -> lineConnector(
      discoverL = Seq("""{"type":"CATALOG","catalog":{"streams":[]}}"""),
      readL = (_, _) => { ran.incrementAndGet(); Iterator.empty })),
      consoleUrl = s"http://127.0.0.1:${console.getAddress.getPort}",
      consoleToken = "tok", watcherPeriodMs = 50L)
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      // thenRun discover: console answers 200 but never starts a read →
      // the sy-lock dangles
      http("POST", s"$api/discover?package=fb&version=v1&storageKey=skl" +
        "&workspaceId=ws&syncId=syl&taskId=0123456789abcdef0123456789abcdef-d1" +
        "&thenRun=true", Some("""{"config":{}}"""))
      assert(ctl.awaitQuiesce(30000L))
      Thread.sleep(300) // > several watcher ticks: the lock must be swept
      val by = java.net.URLEncoder.encode("""{"trigger":"scheduled"}""", "UTF-8")
      http("POST", s"$api/read?package=fb&version=v1&syncId=syl" +
        s"&taskId=0123456789abcdef0123456789abcdef-r9&startedBy=$by",
        Some(s"""{"config":{},"catalog":$readCatalog}"""))
      assert(ctl.awaitQuiesce(30000L))
      assert(ran.get() == 1,
        "scheduled sync must run once the dangling thenRun lock is swept")
    } finally { ctl.stop(); console.stop(0) }
  }
}
