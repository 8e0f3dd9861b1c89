package graft.queries

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Engine
import graft.core.Tables
import graft.http.SyncController
import graft.http.SyncController.{Connector, TaskConfiguration, TaskDescriptor}
import graft.sink.JdbcSink
import graft.sources.{Airbyte, Firebase, SyncDb}
import graft.sql.DerbyDialect

/** P15 — the sync-controller task-manager data plane LIVE end-to-end
  * (sync-controller/task_manager.go:35-215, router.go:21-33,
  * job_runner.go task lifecycle, sync-sidecar/db/db.go bookkeeping):
  * every row this query emits is either landed by HTTP-created connector
  * tasks running through [[SyncController]] into Derby, or read back from
  * the `source_spec` / `source_check` / `source_catalog` / `source_state` /
  * `source_task` tables those tasks maintain — all oracle-recomputed from
  * parquet (fixture-derived data rows and stream counts) or pinned wire
  * constants (spec/catalog JSON, status/error texts, the fixed clock).
  *
  * Scenario legs, in production order:
  *  1. `GET /spec` for the Firebase connector → `source_spec` row with the
  *     connector's SPEC JSON; a second spec for an unknown package fails
  *     like a dead image pull → the `listenTaskStatus` error row;
  *  2. `POST /check` happy (SUCCEEDED→SUCCESS normalization) and failing
  *     (CONNECTION_STATUS FAILED message lands verbatim);
  *  3. `POST /discover?thenRun=true` → `source_catalog` SUCCESS row with
  *     the discovered catalog, then the console `sources/run` callback
  *     (task_manager.go:185-213) recorded by a live console stub;
  *  4. `POST /read` for Firebase → full warehouse sync through the SAME
  *     AirbyteRunner/Engine as s6/s8 + the task SUCCESS row whose
  *     description is the catalog-ordered stream-status map + the LEGACY
  *     state checkpoint;
  *  5. `POST /read` for a slow connector, cancelled mid-read after its
  *     first committed chunk: the chunk SURVIVES in the warehouse, the
  *     saved state survives, and the task row is CANCELLED and STAYS
  *     cancelled (every later RUNNING-guarded write is a no-op);
  *  6. the stale-task janitor closes an orphaned RUNNING row with the
  *     reference's support message (db.go:51).
  *
  * Scale posture: the whole task plane is control-plane rows; the read
  * tasks' chunk loads are the distributed engine pipeline. Fixture caps are
  * FIXED-COUNT (140/90/80 rows) so the query costs the same at every SF. */
object SyncOps {

  private val JdbcUrl = "jdbc:derby:memory:graft_p15;create=true"
  private val T0 = 1754000000000L // controller clock (whole second: /spec rounds)
  private val FbNowMs = 1754000012345L // the connector's emitted_at / legacy state

  private lazy val om = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The exact strings the sidecar lands: jackson re-rendering of the
    * connector's SPEC / CATALOG payloads (`node.get("spec").toString`,
    * spec_catalog.go:113-118,135-140). Catalog shape depends only on the
    * fixture's collection IDs. */
  private lazy val FbSpecJson =
    om.readTree(Firebase.spec()).get("spec").toString
  private lazy val FbCatalogJson = {
    val stub = new Firebase.FixtureStore(Seq("products" -> Nil), Nil)
    om.readTree(Firebase.discover(stub)).get("catalog").toString
  }

  private val GhostError = "connector package 'airbyte/source-ghost' not found"
  private val TA = "0123456789abcdef0123456789abcdef-ta"
  private val TB = "0123456789abcdef0123456789abcdef-tb"

  private def http(method: String, url: String, body: Option[String] = None,
                   headers: Map[String, String] = Map.empty): (Int, String) =
    StreamOps.httpCall(method, url, body, headers)

  /** The Firebase connector runtime: the same [[Firebase]] data plane s8
    * proves, surfaced through the task-manager's Connector contract. */
  private final class FbConnector(store: Firebase.Store) extends Connector {
    def spec(): Iterator[String] = Iterator.single(Firebase.spec())
    def check(cfg: TaskConfiguration): Iterator[String] =
      Iterator.single(Firebase.check(store))
    def discover(cfg: TaskConfiguration): Iterator[String] =
      Iterator.single(Firebase.discover(store))
    def read(desc: TaskDescriptor, cfg: TaskConfiguration,
             cancelled: () => Boolean): Iterator[String] =
      Firebase.read(store, Airbyte.parseCatalog(cfg.catalogJson), FbNowMs,
        prevStateJson = "", batchSize = 7)
  }

  def p15SyncTasks(s: SparkSession, d: String): DataFrame = {
    val sink = JdbcSink(JdbcUrl, DerbyDialect, maxWriteConnections = 4)
    (Seq("P15_FIRESTORE_PRODUCTS", "P15_AUTH_USERS", "P15S_DEV_INC") ++
      Seq(SyncDb.SpecTable, SyncDb.CatalogTable, SyncDb.CheckTable,
        SyncDb.StateTable, SyncDb.TaskTable)).foreach { t =>
      try sink.withConnection(sink.exec(_, s"""DROP TABLE "$t""""))
      catch { case _: java.sql.SQLException => () }
    }

    // ---- fixtures (FIXED-COUNT caps; quantization in Spark, house rule)
    val parts = Tables.part(s, d).filter(col("p_partkey") % 13 === 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size").cast(LongType).as("psize"),
        floor(col("p_retailprice") * 100 + 0.5).cast(LongType).as("cents"))
      .orderBy(col("p_partkey")).limit(140)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val users = Tables.customer(s, d).filter(col("c_custkey") % 17 === 0)
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")).limit(90)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val slowEvents = Tables.events(s, d).filter(col("event_id") % 23 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("cents"))
      .orderBy(col("event_id")).limit(80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    require(parts.nonEmpty && users.nonEmpty && slowEvents.length > 40,
      s"p15 fixture sampling thin (|p|=${parts.length} |u|=${users.length} " +
        s"|e|=${slowEvents.length}): testdata no longer covers %13/%17/%23")

    val docs = parts.map { case (pk, name, brand, psize, cents) =>
      Firebase.Doc(id = f"p$pk%07d", data = Map(
        "name" -> name, "brand" -> brand, "retail_cents" -> cents, "psize" -> psize))
    }
    val authUsers = users.map { case (ck, name) =>
      val created = 1500000000000L + ck * 3600000L + ck % 997
      val login = created + ck * 720000L + 500
      Firebase.AuthUser(
        uid = s"u$ck", email = s"c$ck@example.test", displayName = name,
        phoneNumber = "+1-555-" + f"$ck%06d",
        photoUrl = s"https://img.example.test/u$ck",
        providerIds = (ck % 3) match {
          case 0 => Seq("password", "google.com")
          case 1 => Seq("password")
          case _ => null
        },
        disabled = ck % 4 == 0,
        creationTimestampMs = created,
        lastLogInTimestampMs = login,
        lastRefreshTimestampMs = login)
    }
    val store = new Firebase.FixtureStore(Seq("products" -> docs.toSeq), authUsers.toSeq)

    val chunkA = slowEvents.take(40)
    val slowEntered = new CountDownLatch(1)
    def evJson(t: (Long, Long, String, Long)): String =
      s"""{"event_id":${t._1},"user_id":${t._2},"etype":"${t._3}","cents":${t._4}}"""
    val slowConnector: Connector = new Connector {
      def spec(): Iterator[String] = Iterator.empty
      def check(cfg: TaskConfiguration): Iterator[String] = Iterator.empty
      def discover(cfg: TaskConfiguration): Iterator[String] = Iterator.empty
      def read(desc: TaskDescriptor, cfg: TaskConfiguration,
               cancelled: () => Boolean): Iterator[String] = {
        val head = Iterator.single(
          """{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"inc","namespace":"dev"},"status":"STARTED"}}}""") ++
          chunkA.iterator.map(t =>
            s"""{"type":"RECORD","record":{"stream":"inc","namespace":"dev","data":${evJson(t)}}}""") ++
          Iterator.single(
            s"""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"inc","namespace":"dev"},"stream_state":{"c":${chunkA.last._1}}}}}""")
        val gate = new Iterator[String] {
          def hasNext: Boolean = {
            slowEntered.countDown()
            // the pod's stdout pipe: blocks until the SIGTERM (interrupt)
            while (!cancelled()) {
              try Thread.sleep(5)
              catch { case _: InterruptedException => () }
            }
            false
          }
          def next(): String = throw new NoSuchElementException
        }
        head ++ gate
      }
    }
    val badConnector: Connector = new Connector {
      def spec(): Iterator[String] = Iterator.empty
      def check(cfg: TaskConfiguration): Iterator[String] = Iterator.single(
        """{"type":"CONNECTION_STATUS","connectionStatus":{"status":"FAILED","message":"auth: invalid credentials"}}""")
      def discover(cfg: TaskConfiguration): Iterator[String] = Iterator.empty
      def read(desc: TaskDescriptor, cfg: TaskConfiguration,
               cancelled: () => Boolean): Iterator[String] = Iterator.empty
    }

    // ---- a live console stub recording the thenRun callback
    val consoleCalls = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val console = graft.http.Http.server(0)
    console.createContext("/", ex => {
      consoleCalls.add(ex.getRequestURI.toString + "|" +
        ex.getRequestHeaders.getFirst("Authorization"))
      graft.http.Http.respond(ex, 200, "")
    })
    console.start()

    val ctl = new SyncController(new Engine(s, sink), sink,
      connectors = Map(
        "airbyte/source-firebase" -> new FbConnector(store),
        "airbyte/source-slow" -> slowConnector,
        "airbyte/source-badauth" -> badConnector),
      consoleUrl = s"http://127.0.0.1:${console.getAddress.getPort}",
      consoleToken = "p15-console-tok",
      nowMs = () => T0,
      // the scenario drives the janitor deterministically via
      // closeStaleTasksNow and the heartbeat machinery is pinned by
      // SyncControllerSpec — park both periodic threads past the query's
      // lifetime so its wall time can't couple to their wakeups
      janitorPeriodMs = 3600000L,
      watcherPeriodMs = 3600000L).start()
    try {
      val api = s"http://127.0.0.1:${ctl.port}"
      def expectOk(resp: (Int, String), what: String): Unit =
        require(resp._1 == 200 && om.readTree(resp._2).get("ok").asBoolean,
          s"p15 $what: HTTP ${resp._1} ${resp._2}")

      require(http("GET", s"$api/health")._2 == """{"status":"pass"}""",
        "p15: health must pass once inited")

      // 1. spec tasks: live connector + the dead-image failure leg
      val specResp = http("GET", s"$api/spec?package=airbyte/source-firebase&version=1.0.0")
      expectOk(specResp, "GET /spec")
      require(om.readTree(specResp._2).get("startedAt").asLong == T0 / 1000,
        "p15: /spec must echo the rounded start second")
      expectOk(http("GET", s"$api/spec?package=airbyte/source-ghost&version=9.9"),
        "GET /spec ghost")

      // 2. check tasks
      expectOk(http("POST",
        s"$api/check?package=airbyte/source-firebase&version=1.0.0&storageKey=sk-fb",
        Some("""{"config":{"projectId":"demo"}}""")), "POST /check fb")
      expectOk(http("POST",
        s"$api/check?package=airbyte/source-badauth&version=0.2&storageKey=sk-bad",
        Some("""{"config":{}}""")), "POST /check bad")

      // 3. discover with thenRun: catalog row + console kickoff
      expectOk(http("POST",
        s"$api/discover?package=airbyte/source-firebase&version=1.0.0" +
          s"&storageKey=sk-fb&workspaceId=wsA&syncId=syA&taskId=$TA&thenRun=true",
        Some("""{"config":{"projectId":"demo"}}""")), "POST /discover")

      // 4. the Firebase read task (the console-initiated read in production)
      // the ${SOURCE_NAMESPACE} template must travel URL-encoded ({} are
      // illegal URI characters; the handler URL-decodes)
      def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
      val fbCatalog = Firebase.configuredCatalogJson(store)
      expectOk(http("POST",
        s"$api/read?package=airbyte/source-firebase&version=1.0.0&syncId=syA" +
          s"&taskId=$TA&tableNamePrefix=${enc("p15_${SOURCE_NAMESPACE}_")}",
        Some(s"""{"config":{"projectId":"demo"},"catalog":$fbCatalog,"state":{}}""")),
        "POST /read fb")

      // 5. the slow read task, cancelled after its first committed chunk
      val slowCatalog = """{"streams":[
        {"stream":{"name":"inc","namespace":"dev",
          "json_schema":{"properties":{"event_id":{"type":"integer"},"user_id":{"type":"integer"},
            "etype":{"type":"string"},"cents":{"type":"integer"}}},
          "source_defined_primary_key":[["event_id"]],"default_cursor_field":[]},
         "sync_mode":"incremental","cursor_field":["cents"]},
        {"stream":{"name":"extra","namespace":"dev",
          "json_schema":{"properties":{"event_id":{"type":"integer"}}},
          "source_defined_primary_key":[],"default_cursor_field":[]},
         "sync_mode":"full_refresh","cursor_field":[]}]}"""
      expectOk(http("POST",
        s"$api/read?package=airbyte/source-slow&version=0.1&syncId=syB" +
          s"&taskId=$TB&tableNamePrefix=${enc("p15s_${SOURCE_NAMESPACE}_")}",
        Some(s"""{"config":{},"catalog":$slowCatalog,"state":{"dev.inc":{"c":0}}}""")),
        "POST /read slow")
      require(slowEntered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "p15: slow read never reached its gate (chunk commit stalled)")
      expectOk(http("GET",
        s"$api/cancel?package=airbyte/source-slow&syncId=syB&taskId=$TB"),
        "GET /cancel")

      // all pods + status rollups drained (event-driven: the controller
      // signals on every pod exit / status drain, so this wait is not
      // coupled to sleep-tick granularity under host throttle)
      require(ctl.awaitQuiesce(120000L), "p15: controller did not quiesce in 120s")
      require(consoleCalls.size == 1, s"p15: console calls = ${consoleCalls.size}")

      // 6. the stale janitor: an orphaned heartbeat closes FAILED
      SyncDb.upsertRunningTask(sink, "syOld", "t-stale", "airbyte/source-slow",
        "0.1", T0 - 7200000L, "RUNNING", "", "", T0 - 7200000L)
      require(ctl.closeStaleTasksNow(T0 - 3600000L) == 1,
        "p15: stale janitor must close exactly the planted row")

      // ---- read-back: warehouse tables + bookkeeping tables → one frame
      def readBack(table: String) =
        s.read.jdbc(sink.url, s"\"$table\"", new java.util.Properties())

      val prodRows = readBack("P15_FIRESTORE_PRODUCTS").select(
        lit("prod").as("kind"), col("ID").as("k"),
        col("NAME").as("a"), col("BRAND").as("b"),
        col("RETAIL_CENTS").as("n1"), col("PSIZE").as("n2"),
        lit(null).cast(StringType).as("js"))
      val userRows = readBack("P15_AUTH_USERS").select(
        lit("user").as("kind"), col("UID").as("k"),
        col("EMAIL").as("a"), col("NAME").as("b"),
        when(col("DISABLED"), 1L).otherwise(0L).as("n1"),
        unix_timestamp(col("CREATED_AT")).as("n2"),
        col("SIGN_IN_METHODS").as("js"))
      val slowRows = readBack("P15S_DEV_INC").select(
        lit("slow").as("kind"), col("EVENT_ID").cast(StringType).as("k"),
        col("ETYPE").as("a"), lit(null).cast(StringType).as("b"),
        col("CENTS").as("n1"), col("USER_ID").as("n2"),
        lit(null).cast(StringType).as("js"))
      val specRows = readBack(SyncDb.SpecTable).select(
        lit("spec").as("kind"), col("PACKAGE").as("k"),
        col("VERSION").as("a"), col("ERROR").as("b"),
        unix_timestamp(col("TIMESTAMP")).as("n1"), lit(null).cast(LongType).as("n2"),
        col("SPECS").as("js"))
      val checkRows = readBack(SyncDb.CheckTable).select(
        lit("check").as("kind"), col("KEY").as("k"),
        col("STATUS").as("a"), col("DESCRIPTION").as("b"),
        unix_timestamp(col("TIMESTAMP")).as("n1"), lit(null).cast(LongType).as("n2"),
        concat(col("PACKAGE"), lit("|"), col("VERSION")).as("js"))
      val catalogRows = readBack(SyncDb.CatalogTable).select(
        lit("catalog").as("kind"), col("KEY").as("k"),
        col("STATUS").as("a"), col("DESCRIPTION").as("b"),
        unix_timestamp(col("TIMESTAMP")).as("n1"), lit(null).cast(LongType).as("n2"),
        col("CATALOG").as("js"))
      val stateRows = readBack(SyncDb.StateTable).select(
        lit("state").as("kind"),
        concat(col("SYNC_ID"), lit("|"), col("STREAM")).as("k"),
        lit(null).cast(StringType).as("a"), lit(null).cast(StringType).as("b"),
        unix_timestamp(col("TIMESTAMP")).as("n1"), lit(null).cast(LongType).as("n2"),
        col("STATE").as("js"))
      val taskRows = readBack(SyncDb.TaskTable).select(
        lit("task").as("kind"), col("TASK_ID").as("k"),
        col("STATUS").as("a"), col("ERROR").as("b"),
        unix_timestamp(col("STARTED_AT")).as("n1"),
        unix_timestamp(col("UPDATED_AT")).as("n2"),
        col("SYNC_ID").as("js"))

      // the task descriptions parsed into per-stream rows (events + status
      // are the oracle-recomputable core; exact byte counts are pinned by
      // SyncControllerSpec instead — line lengths aren't SQL-expressible)
      import scala.jdk.CollectionConverters._
      val tstreamRows: Seq[Row] = readBack(SyncDb.TaskTable)
        .select(col("TASK_ID"), col("DESCRIPTION")).collect().toSeq
        .flatMap { r =>
          val tid = r.getString(0)
          val desc = r.getString(1)
          if (desc == null || desc.isEmpty || !desc.startsWith("{")) Nil
          else {
            val node = om.readTree(desc)
            node.fields().asScala.map { e =>
              Row("tstream", s"$tid|${e.getKey}",
                e.getValue.get("status").asText,
                Option(e.getValue.get("error")).map(_.asText).getOrElse(""),
                e.getValue.get("events").asLong,
                if (e.getValue.get("bytes").asLong > 0) 1L else 0L,
                null)
            }.toSeq
          }
        }
      val consoleRow = Row("console", "call",
        consoleCalls.get(0), null, null, null, null)
      val metaSchema = StructType(Seq(
        StructField("kind", StringType), StructField("k", StringType),
        StructField("a", StringType, nullable = true),
        StructField("b", StringType, nullable = true),
        StructField("n1", LongType, nullable = true),
        StructField("n2", LongType, nullable = true),
        StructField("js", StringType, nullable = true)))
      val meta = s.createDataFrame((tstreamRows :+ consoleRow).asJava, metaSchema)

      prodRows.unionByName(userRows).unionByName(slowRows)
        .unionByName(specRows).unionByName(checkRows).unionByName(catalogRows)
        .unionByName(stateRows).unionByName(taskRows).unionByName(meta)
    } finally { ctl.stop(); console.stop(0) }
  }

  /** Single-quote escaping for SQL string literals interpolated into the
    * oracle — the connector JSON is apostrophe-free today, but a future
    * description text with one must not silently break the oracle query. */
  private def sq(s: String): String = s.replace("'", "''")

  private lazy val p15Oracle = {
    val t0s = T0 / 1000
    s"""
    WITH p AS (
      SELECT p_partkey AS pk, p_name AS name, p_brand AS brand,
             CAST(p_size AS BIGINT) AS psize,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part WHERE p_partkey % 13 = 0 ORDER BY p_partkey LIMIT 140),
    u AS (
      SELECT c_custkey AS ck, c_name AS name,
             1500000000000 + c_custkey * 3600000 + c_custkey % 997 AS created_ms
      FROM customer WHERE c_custkey % 17 = 0 ORDER BY c_custkey LIMIT 90),
    slow AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_id % 23 = 0 ORDER BY event_id LIMIT 40)
    SELECT 'prod' AS kind, 'p' || lpad(CAST(pk AS VARCHAR), 7, '0') AS k,
           name AS a, brand AS b, cents AS n1, psize AS n2,
           CAST(NULL AS VARCHAR) AS js
    FROM p
    UNION ALL
    SELECT 'user', 'u' || CAST(ck AS VARCHAR),
           'c' || CAST(ck AS VARCHAR) || '@example.test', name,
           CASE WHEN ck % 4 = 0 THEN 1 ELSE 0 END,
           created_ms // 1000,
           CASE CAST(ck % 3 AS INTEGER)
             WHEN 0 THEN '["password","google.com"]'
             WHEN 1 THEN '["password"]' ELSE NULL END
    FROM u
    UNION ALL
    SELECT 'slow', CAST(event_id AS VARCHAR), event_type, NULL,
           cents, user_id, NULL
    FROM slow
    UNION ALL SELECT 'spec', 'airbyte/source-firebase', '1.0.0', '',
           $t0s, NULL, '${sq(FbSpecJson)}'
    UNION ALL SELECT 'spec', 'airbyte/source-ghost', '9.9',
           '${sq(GhostError)}',
           $t0s, NULL, NULL
    UNION ALL SELECT 'check', 'sk-fb', 'SUCCESS', '', $t0s, NULL,
           'airbyte/source-firebase|1.0.0'
    UNION ALL SELECT 'check', 'sk-bad', 'FAILED', 'auth: invalid credentials',
           $t0s, NULL, 'airbyte/source-badauth|0.2'
    UNION ALL SELECT 'catalog', 'sk-fb', 'SUCCESS', '', $t0s, NULL,
           '${sq(FbCatalogJson)}'
    UNION ALL SELECT 'state', 'syA|_LEGACY_STATE', NULL, NULL, $t0s, NULL,
           '{"timestamp":$FbNowMs}'
    UNION ALL SELECT 'state', 'syB|dev.inc', NULL, NULL, $t0s, NULL,
           '{"c":' || (SELECT MAX(event_id) FROM slow) || '}'
    UNION ALL SELECT 'task', '$TA', 'SUCCESS', '', $t0s, $t0s, 'syA'
    UNION ALL SELECT 'task', '$TB', 'CANCELLED', 'The task was cancelled',
           $t0s, $t0s, 'syB'
    UNION ALL SELECT 'task', 't-stale', 'FAILED',
           'The sync task was interrupted unexpectedly. Please contact support@jitsu.com',
           ${(T0 - 7200000L) / 1000}, ${(T0 - 7200000L) / 1000}, 'syOld'
    UNION ALL SELECT 'tstream', '$TA|firestore.products', 'SUCCESS', '',
           (SELECT COUNT(*) FROM p), 1, NULL
    UNION ALL SELECT 'tstream', '$TA|auth.users', 'SUCCESS', '',
           (SELECT COUNT(*) FROM u), 1, NULL
    UNION ALL SELECT 'tstream', '$TB|dev.inc', 'PARTIAL',
           'Stream was interrupted. Check logs for errors.',
           (SELECT COUNT(*) FROM slow), 1, NULL
    UNION ALL SELECT 'tstream', '$TB|dev.extra', 'CANCELLED', '', 0, 0, NULL
    UNION ALL SELECT 'console', 'call',
           '/api/wsA/sources/run?syncId=syA&taskId=$TA&skipRefresh=true&nodelay=true|Bearer p15-console-tok',
           NULL, NULL, NULL, NULL"""
  }

  val qs: Map[String, Q] = Map(
    "p15_sync_tasks" -> Q(p15SyncTasks, Some(p15Oracle)))
}
