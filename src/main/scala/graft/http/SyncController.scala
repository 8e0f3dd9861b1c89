package graft.http

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.Engine
import graft.http.Http.respond
import graft.sink.JdbcSink
import graft.sources.{Airbyte, AirbyteRunner, SyncDb}

/** The sync-controller task-manager data plane
  * (`sync-controller/task_manager.go` + `router.go` + the job-runner's
  * task lifecycle from `job_runner.go`, with the sidecar's warehouse
  * bookkeeping from `sync-sidecar/spec_catalog.go` / `read.go`): an HTTP
  * surface that creates spec / check / discover / read connector tasks,
  * runs each as an in-process "pod" (a daemon thread driving the connector's
  * Airbyte-protocol line stream — the stand-in for the K8s pod + sidecar
  * this environment cannot launch), rolls task statuses through the same
  * status channel → `listenTaskStatus` switch as the reference, and lands
  * every result in the `source_spec` / `source_check` / `source_catalog` /
  * `source_state` / `source_task` tables via [[SyncDb]].
  *
  * Faithful semantics carried over:
  *  - routes + response shapes (router.go:21-33, task_manager.go:35-152):
  *    `GET /spec`, `POST /check`, `POST /discover`, `POST /read`,
  *    `GET /cancel`, `GET /health` (503 `fail` until inited);
  *  - pod naming (job_runner.go:414-420 `PodName`): connector prefix
  *    stripping, non-alphanumerics → `-`, task-id tail `[32:]`, lowercased;
  *  - scheduled-sync dedup (job_runner.go:422-446 `CreateJob`): a
  *    scheduler-triggered task without `nodelay` waits a syncId-hashed
  *    delay and is skipped when the sync already has a running task;
  *  - `ALREADY_CREATED` when the pod name is already live
  *    (job_runner.go:449-476);
  *  - the `listenTaskStatus` rollup switch (task_manager.go:215-277):
  *    spec/check/discover failure rows, discover RUNNING-on-create +
  *    `thenRun` read kickoff through the console callback
  *    (task_manager.go:185-213 `runReadTask`), read task
  *    RUNNING/FAILED/metrics bookkeeping — all against guarded upserts so
  *    a CANCELLED task STAYS cancelled;
  *  - cancel (task_manager.go:106-115): flips the RUNNING row to CANCELLED
  *    and terminates the discover + read pods;
  *  - the stale-task janitor (task_manager.go:216-226): RUNNING rows whose
  *    heartbeat is older than one hour close as FAILED with the
  *    reference's support message.
  *
  * Scale posture: the controller is pure control plane — every HTTP handler
  * and status transition writes single bookkeeping rows; the data plane
  * behind a read task is [[AirbyteRunner]] → [[Engine]], whose chunk loads
  * are the same distributed pipeline s6/s8 prove.
  */
final class SyncController(
    engine: Engine,
    sink: JdbcSink,
    connectors: Map[String, SyncController.Connector],
    consoleUrl: String = "",
    consoleToken: String = "",
    nowMs: () => Long = () => System.currentTimeMillis(),
    /** scheduled-trigger jitter (job_runner.go:433: `hash(syncId)%60` s);
      * injectable so specs don't sleep */
    schedulerDelayMs: String => Long =
      // abs on the LONG: math.abs(Int.MinValue) is still negative and a
      // negative Thread.sleep would kill the scheduler thread
      syncId => (math.abs(scala.util.hashing.MurmurHash3.stringHash(syncId).toLong) % 60) * 1000L,
    taskTimeoutMs: Long = 48L * 3600 * 1000,
    staleAfterMs: Long = 3600 * 1000L,
    janitorPeriodMs: Long = 15L * 60 * 1000,
    /** watchPodStatuses poll period (CONTAINER_STATUS_CHECK_SECONDS=10,
      * config.go:31) — live read pods heartbeat RUNNING + resource metrics
      * at most once per `runningReportEveryMs` (job_runner.go:138,156-158) */
    watcherPeriodMs: Long = 10000L,
    runningReportEveryMs: Long = 60000L) {

  import SyncController._

  private var server: HttpServer = _
  private val mapper = new ObjectMapper()
  private val statusQueue = new LinkedBlockingQueue[TaskStatus]()
  private val pods = new java.util.concurrent.ConcurrentHashMap[String, Pod]()
  private val runningSyncs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val inited = new AtomicBoolean(false)
  private val closed = new AtomicBoolean(false)
  private val pendingStatuses = new java.util.concurrent.atomic.AtomicInteger(0)
  /** scheduler-delayed jobs whose hashed-delay sleep thread is still in
    * flight — no pod exists yet, so quiesce must count them or a waiter can
    * declare the controller idle just before the delayed pod spawns */
  private val pendingScheduled = new java.util.concurrent.atomic.AtomicInteger(0)
  private val quiesceLock = new Object
  private var listenerThread: Thread = _
  private var janitorThread: Thread = _
  private var watcherThread: Thread = _

  def port: Int = server.getAddress.getPort
  private def js(s: String): String = graft.Verify.jsonStr(s)

  // ----------------------------------------------------------- descriptors

  private final class Pod(val name: String, val desc: TaskDescriptor,
                          val thread: Thread) {
    val cancelled = new AtomicBoolean(false)
    /** set AFTER the terminate interrupt was issued — lets the pod wait
      * out the one in-flight interrupt before its deferred bookkeeping */
    val interruptIssued = new AtomicBoolean(false)
    /** last RUNNING report, 0 = never (job_runner.go:138 runningPods) */
    val lastReportedMs = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** One in-flight or finished status signal (task.go:58-65). `ack` lets
    * the pod wait for its CREATED bookkeeping before doing work — the
    * in-process twin of K8s pod-startup latency, without which the
    * sidecar's result write could race the CREATED row (the reference has
    * the same theoretical race; a sub-millisecond "pod" makes it real). */
  private final case class TaskStatus(desc: TaskDescriptor, status: String,
                                      error: String = "",
                                      metrics: Map[String, Double] = Map.empty,
                                      ack: Option[CountDownLatch] = None)

  private def sendStatus(st: TaskStatus): Unit = {
    pendingStatuses.incrementAndGet()
    // offer, not put: the queue is unbounded so this never blocks, and a
    // pod thread carrying a pending cancel interrupt must still be able to
    // report its terminal status (put() would throw InterruptedException
    // and leak the pending counter — seen as a quiesce hang under test)
    statusQueue.offer(st)
    ()
  }

  // --------------------------------------------------------------- pod run

  /** job_runner.go:422-446 CreateJob: direct for manual/nodelay triggers;
    * scheduler triggers wait the hashed delay then skip when the sync
    * already runs a task. */
  private def createJob(desc: TaskDescriptor, cfg: TaskConfiguration): (String, String) = {
    val byScheduler =
      try {
        val n = mapper.readTree(if (desc.startedBy.isEmpty) "{}" else desc.startedBy)
        Option(n.get("trigger")).exists(_.asText("") == "scheduled")
      } catch { case _: Exception => false }
    if (!byScheduler || isTruish(desc.nodelay)) spawnPod(desc, cfg)
    else {
      pendingScheduled.incrementAndGet()
      val th = new Thread(() => {
        try {
          try Thread.sleep(math.max(0L, schedulerDelayMs(desc.syncId)))
          catch { case _: InterruptedException => () }
          // the lock must land ATOMICALLY and BEFORE the pod spawns: an
          // in-process pod is sub-millisecond, so spawn-then-put lets the
          // pod finish and remove its own lock first — the late put then
          // resurrects a dangling entry that suppresses the next scheduled
          // sync; and two delayed triggers waking together would both pass
          // a containsKey probe (the r17 created→running ordering lesson —
          // the reference's K8s pod latency hides the same race,
          // job_runner.go:438-440)
          // not taken ⇒ the sync already runs a task: skip (dedup)
          if (runningSyncs.putIfAbsent(desc.syncId, desc.taskId) == null) {
            spawnPod(desc.copy(startedAt = nowMs()), cfg)
            ()
          }
        } finally { pendingScheduled.decrementAndGet(); signalQuiesce() }
      }, s"sync-sched-${desc.syncId}")
      th.setDaemon(true); th.start()
      (StatusPending, "")
    }
  }

  /** job_runner.go:449-483 createJob: duplicate pod name → ALREADY_CREATED;
    * otherwise spawn the pod thread and report CREATED. */
  private def spawnPod(desc: TaskDescriptor, cfg: TaskConfiguration): (String, String) = {
    val name = desc.podName
    val created = new CountDownLatch(1)
    val pod = new Pod(name, desc,
      new Thread(() => {
        // the pod starts work only after its CREATED bookkeeping landed; a
        // cancel arriving during startup must still reach runPod (the
        // cancelled flag ends the pod immediately) — an uncaught interrupt
        // here would leak the pods entry and wedge quiesce forever
        try created.await(10, TimeUnit.SECONDS)
        catch { case _: InterruptedException => () }
        runPod(name, desc, cfg)
      }, s"sync-pod-$name"))
    if (pods.putIfAbsent(name, pod) != null) (StatusAlreadyCreated, "")
    else {
      pod.thread.setDaemon(true)
      sendStatus(TaskStatus(desc, StatusCreated, ack = Some(created)))
      pod.thread.start()
      (StatusCreated, "")
    }
  }

  /** The pod body: resolve the connector (an unknown package fails like a
    * dead image pull), run the per-command sidecar leg, and report the
    * terminal pod status (job_runner.go:107-126 watcher outcomes). */
  private def runPod(name: String, desc: TaskDescriptor, cfg: TaskConfiguration): Unit = {
    val pod = pods.get(name)
    if (desc.taskType == "read" || isTruish(desc.thenRun))
      runningSyncs.put(desc.syncId, desc.taskId)
    try {
      connectors.get(desc.pkg) match {
        case None =>
          throw new IllegalStateException(
            s"connector package '${desc.pkg}' not found")
        case Some(conn) =>
          desc.taskType match {
            case "read" =>
              readLeg(conn, desc, cfg, () => pod.cancelled.get(),
                settleCancel = () => if (pod.cancelled.get()) {
                  // wait out the ONE terminate interrupt (issued exactly
                  // once — terminatePod is CAS-guarded), then clear it so
                  // the deferred Derby bookkeeping can't be killed mid-write
                  while (!pod.interruptIssued.get()) Thread.onSpinWait()
                  Thread.interrupted()
                  ()
                })
            case _ => specCatalogLeg(conn, desc, cfg)
          }
      }
      sendStatus(TaskStatus(desc, StatusSuccess))
    } catch {
      case e: Throwable =>
        sendStatus(TaskStatus(desc, StatusFailed,
          Option(e.getMessage).getOrElse(e.toString)))
    } finally {
      pods.remove(name)
      if (desc.taskType == "read") runningSyncs.remove(desc.syncId, desc.taskId)
      signalQuiesce()
    }
  }

  private final class SidecarFailure(msg: String) extends RuntimeException(msg)

  /** spec_catalog.go:20-141: drain the connector's protocol lines; SPEC /
    * CONNECTION_STATUS / CATALOG land their warehouse rows (each clears the
    * pending first-error); a surviving first error or a died pipe rolls up
    * FAILED, writing the per-command error row (spec_catalog.go:143-168)
    * before the pod status propagates the same failure to
    * `listenTaskStatus`. */
  private def specCatalogLeg(conn: Connector, desc: TaskDescriptor,
                             cfg: TaskConfiguration): Unit = {
    var firstErr = ""
    val lines = desc.taskType match {
      case "spec" => conn.spec()
      case "check" => conn.check(cfg)
      case "discover" => conn.discover(cfg)
      case other => throw new IllegalStateException(s"unknown command: $other")
    }
    def fail(description: String): Nothing = {
      desc.taskType match {
        case "spec" =>
          SyncDb.insertSpecError(sink, desc.pkg, desc.version, desc.startedAt, description)
        case "discover" =>
          SyncDb.upsertCatalogStatus(sink, desc.pkg, desc.version, desc.storageKey,
            desc.startedAt, "FAILED", description)
        case "check" =>
          SyncDb.insertCheckError(sink, desc.pkg, desc.version, desc.storageKey,
            "FAILED", s"FAILED: $description", desc.startedAt)
        case _ => ()
      }
      throw new SidecarFailure(description)
    }
    try lines.foreach { line =>
      val node = try mapper.readTree(line) catch { case _: Exception => null }
      if (node == null || !node.isObject) () // bare passthrough log line
      else Option(node.get("type")).map(_.asText("")).getOrElse("") match {
        case "LOG" =>
          val log = node.get("log")
          val level = Option(log).flatMap(l => Option(l.get("level")))
            .map(_.asText("").toUpperCase).getOrElse("")
          if (level == "ERROR" || level == "FATAL") {
            val msg = Option(log).flatMap(l => Option(l.get("message")))
              .map(_.asText("")).getOrElse("")
            if (firstErr.isEmpty) firstErr = msg
          }
        case "SPEC" =>
          firstErr = "" // a result supersedes earlier error logs
          SyncDb.upsertSpec(sink, desc.pkg, desc.version,
            node.get("spec").toString, desc.startedAt, "")
        case "CONNECTION_STATUS" =>
          firstErr = ""
          val cs = node.get("connectionStatus")
          val st = Option(cs.get("status")).map(_.asText("")).getOrElse("")
            .replace("SUCCEEDED", "SUCCESS")
          val msg = Option(cs.get("message")).map(_.asText("")).getOrElse("")
          SyncDb.upsertCheck(sink, desc.pkg, desc.version, desc.storageKey,
            st, msg, desc.startedAt)
        case "CATALOG" =>
          firstErr = ""
          SyncDb.upsertCatalogSuccess(sink, desc.pkg, desc.version, desc.storageKey,
            node.get("catalog").toString, desc.startedAt, "SUCCESS", "")
        // the reference ignores TRACE and warns-and-ignores CONTROL; every
        // other type (RECORD/STATE in a spec/check/discover leg, DEBUG, …)
        // panics "not supported type" (spec_catalog.go:87-101)
        case "TRACE" | "CONTROL" => ()
        case other =>
          fail(s"not supported type: $other")
      }
    } catch {
      case e: SidecarFailure => throw e
      case e: Exception => fail(Option(e.getMessage).getOrElse(e.toString))
    }
    if (firstErr.nonEmpty) fail(firstErr)
  }

  /** read.go's sidecar leg over [[AirbyteRunner]]: the configured catalog +
    * prior state come from the task configuration (the reference's
    * `/config` secret files), saved states land in `source_state`
    * (read.go:622-626), and the rollup writes the catalog-ordered stream
    * status map as the task description (read.go:85-141). */
  private def readLeg(conn: Connector, desc: TaskDescriptor, cfg: TaskConfiguration,
                      cancelled: () => Boolean,
                      settleCancel: () => Unit): Unit = {
    val catalog = Airbyte.parseCatalog(cfg.catalogJson)
    val runnerCfg = AirbyteRunner.Config(
      namespace = desc.namespace,
      tableNamePrefix = desc.tableNamePrefix,
      toSameCase = isTruish(desc.toSameCase),
      addMeta = isTruish(desc.addMeta),
      // DEDUPLICATE defaults true when unset (sync-sidecar/main.go:130)
      deduplicate = desc.deduplicate.isEmpty || isTruish(desc.deduplicate),
      fullSync = isTruish(desc.fullSync),
      initialState = cfg.stateJson,
      packageName = desc.pkg,
      nowMs = nowMs)
    val runner = new AirbyteRunner(engine, catalog, runnerCfg)
    val raw = runner.run(conn.read(desc, cfg, cancelled), cancelled)
    // the terminate interrupt may still be PENDING if it landed outside a
    // blocking wait; settle it so the deferred bookkeeping below (Derby
    // writes use interruptible locks) runs — the sidecar's SIGTERM handler
    // likewise only flags, and the deferred rollup always completes
    settleCancel()
    raw.states.foreach { case (stream, state) =>
      SyncDb.upsertState(sink, desc.syncId, stream, state, nowMs())
    }
    // read.go:76-77,89-91,113-116: a cancel that fired past the task
    // timeout is a TIME_EXCEEDED, not a CANCELLED — both for unprocessed
    // streams and the rollup, with the reference's split-your-sync hint
    val timeExceeded =
      cancelled() && nowMs() - desc.startedAt > taskTimeoutMs
    if (!raw.processedAny) {
      // read.go:128-141 — NO stream was ever opened: the row carries
      // status+error only, never a description map, and the timeout takes
      // the SHORT message form
      if (raw.firstError.nonEmpty)
        SyncDb.upsertTaskError(sink, desc.syncId, desc.taskId, desc.pkg,
          desc.version, desc.startedAt, "FAILED", s"ERROR: ${raw.firstError}", nowMs())
      else if (timeExceeded)
        SyncDb.upsertTaskError(sink, desc.syncId, desc.taskId, desc.pkg,
          desc.version, desc.startedAt, "TIME_EXCEEDED",
          s"Task timeout: task is running for more than ${taskTimeoutMs / 3600000} hours.",
          nowMs())
      else if (cancelled())
        SyncDb.upsertTaskError(sink, desc.syncId, desc.taskId, desc.pkg,
          desc.version, desc.startedAt, "CANCELLED", "The task was cancelled", nowMs())
      else
        SyncDb.upsertTaskDescriptionAndError(sink, desc.syncId, desc.taskId,
          desc.pkg, desc.version, desc.startedAt, "SUCCESS", "", "", nowMs())
      return
    }
    val result =
      if (!timeExceeded) raw
      else raw.copy(
        status = if (raw.status == "CANCELLED") "TIME_EXCEEDED" else raw.status,
        error = if (raw.status == "CANCELLED")
          s"Task timeout: The task has been running for more than " +
            s"${taskTimeoutMs / 3600000} hours. Consider splitting the " +
            "selected streams into multiple Sync entities."
        else raw.error,
        streams = raw.streams.map(sr =>
          if (sr.status == "CANCELLED") sr.copy(status = "TIME_EXCEEDED") else sr))
    val statusMap = result.streams.map { sr =>
      val err = if (sr.error.nonEmpty) s""","error":${js(sr.error)}""" else ""
      s"${js(sr.stream)}:" +
        s"""{"events":${sr.events},"bytes":${sr.bytes},"status":${js(sr.status)}$err}"""
    }.mkString("{", ",", "}")
    if (result.status == "FAILED" && result.error.startsWith("ERROR: ")
        && result.streams.forall(_.status == "FAILED"))
      // read.go:122-124 sendBadStatus: an all-failed run with a first error
      // lands status+error only (no description)
      SyncDb.upsertTaskError(sink, desc.syncId, desc.taskId, desc.pkg, desc.version,
        desc.startedAt, result.status, result.error, nowMs())
    else
      SyncDb.upsertTaskDescriptionAndError(sink, desc.syncId, desc.taskId, desc.pkg,
        desc.version, desc.startedAt, result.status, statusMap, result.error, nowMs())
  }

  // ------------------------------------------------- the status rollup loop

  /** task_manager.go:215-277 listenTaskStatus. */
  private def listenTaskStatus(): Unit =
    while (!closed.get()) {
      val st = statusQueue.poll(50, TimeUnit.MILLISECONDS)
      if (st != null) {
        val d = st.desc
        try st.desc.taskType match {
          case "spec" =>
            if (isFailure(st.status))
              SyncDb.insertSpecError(sink, d.pkg, d.version, d.startedAt, st.error)
          case "discover" =>
            if (isFailure(st.status)) {
              SyncDb.upsertRunningCatalogStatus(sink, d.pkg, d.version, d.storageKey,
                d.startedAt, "FAILED", st.error)
              if (isTruish(d.thenRun)) runReadTask(d)
            } else if (st.status == StatusCreated)
              SyncDb.upsertCatalogStatus(sink, d.pkg, d.version, d.storageKey,
                d.startedAt, "RUNNING", "")
            else if (st.status == StatusSuccess && isTruish(d.thenRun))
              runReadTask(d)
          case "check" =>
            if (isFailure(st.status))
              SyncDb.insertCheckError(sink, d.pkg, d.version, d.storageKey, "FAILED",
                Seq(st.status, st.error).mkString(": "), d.startedAt)
          case "read" =>
            st.status match {
              case StatusCreateFailed | StatusFailed | StatusInitTimeout =>
                SyncDb.upsertRunningTask(sink, d.syncId, d.taskId, d.pkg, d.version,
                  d.startedAt, "FAILED", Seq(st.status, st.error).mkString(": "),
                  d.startedBy, nowMs())
              case StatusCreated =>
                SyncDb.upsertRunningTask(sink, d.syncId, d.taskId, d.pkg, d.version,
                  d.startedAt, "RUNNING", "", d.startedBy, nowMs())
              case StatusRunning =>
                if (st.metrics.nonEmpty)
                  SyncDb.updateRunningTaskMetrics(sink, d.taskId,
                    st.metrics.toSeq.sortBy(_._1)
                      .map { case (k, v) =>
                        val r = if (v == v.floor && math.abs(v) < 1e15)
                          v.toLong.toString else v.toString
                        s"${js(k)}:$r"
                      }
                      .mkString("{", ",", "}"), nowMs())
                else SyncDb.updateRunningTaskDate(sink, d.taskId, nowMs())
              case _ => () // sidecar manages success status (task_manager.go:263)
            }
          case _ => ()
        } catch { case _: Exception => () } // Errorf-and-continue (task_manager.go:267)
        st.ack.foreach(_.countDown())
        pendingStatuses.decrementAndGet()
        signalQuiesce()
      }
    }

  private def isFailure(s: String): Boolean =
    s == StatusCreateFailed || s == StatusFailed || s == StatusInitTimeout

  /** task_manager.go:185-213 — the `thenRun` kickoff: GET the console's
    * sources/run endpoint with the bearer token; any failure lands a FAILED
    * task row and releases the sync. */
  private def runReadTask(d: TaskDescriptor): Unit = {
    if (consoleUrl.isEmpty || consoleToken.isEmpty) {
      runningSyncs.remove(d.syncId)
      ()
    } else {
      val url = s"$consoleUrl/api/${d.workspaceId}/sources/run?syncId=${d.syncId}" +
        s"&taskId=${d.taskId}&skipRefresh=true&nodelay=true"
      val fail: String => Unit = msg => {
        runningSyncs.remove(d.syncId)
        SyncDb.upsertRunningTask(sink, d.syncId, d.taskId, d.pkg, d.version,
          d.startedAt, "FAILED", s"FAILED: Unable to initiate read task: $msg",
          d.startedBy, nowMs())
      }
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Authorization", s"Bearer $consoleToken").GET().build()
        val res = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        if (res.statusCode() != 200) fail(s"HTTP ${res.statusCode()}")
      } catch { case e: Exception =>
        fail(Option(e.getMessage).getOrElse(e.toString))
      }
    }
  }

  /** job_runner terminatePod stand-in: flag + interrupt the pod thread (the
    * SIGTERM the sidecar observes); the thread removes itself on exit.
    * IDEMPOTENT: only the first terminate interrupts — a watcher re-kill or
    * a double cancel must not land a second interrupt inside the pod's
    * deferred Derby bookkeeping. */
  def terminatePod(name: String): Unit = {
    val pod = pods.get(name)
    if (pod != null && pod.cancelled.compareAndSet(false, true)) {
      pod.thread.interrupt() // flag is set synchronously by this call
      pod.interruptIssued.set(true)
    }
  }

  /** Expose the janitor deterministically (the 15-minute ticker calls this
    * with `now - staleAfterMs`). */
  def closeStaleTasksNow(olderThanMs: Long): Int =
    SyncDb.closeStaleTasks(sink, olderThanMs)

  /** Test/ops hook: true when no pod, queued status, or scheduler-delayed
    * job is in flight. */
  def quiesced: Boolean =
    pods.isEmpty && pendingStatuses.get() == 0 && pendingScheduled.get() == 0

  /** Test hook: scheduler-delayed jobs whose decision (spawn or skip) has
    * not landed yet — lets a spec wait for the putIfAbsent race to settle
    * without sleeping. */
  def pendingScheduledJobs: Int = pendingScheduled.get()

  private def signalQuiesce(): Unit =
    quiesceLock.synchronized { quiesceLock.notifyAll() }

  /** Event-driven quiesce wait: signaled by the listener draining a status,
    * a pod removing itself, and a scheduler thread finishing — no poll tick,
    * so callers aren't coupled to host scheduling granularity. */
  def awaitQuiesce(timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    quiesceLock.synchronized {
      var remMs = timeoutMs
      while (!quiesced && remMs > 0) {
        // cap each wait: a signal can race in between the quiesced check and
        // wait(), and missing one must cost a bounded re-check, not the
        // whole timeout
        quiesceLock.wait(math.min(remMs, 250L))
        remMs = (deadline - System.nanoTime()) / 1000000L
      }
      quiesced
    }
  }

  // --------------------------------------------------------------- handlers

  private def q(ex: HttpExchange, name: String): String = {
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    query.split("&").iterator.map(_.split("=", 2)).collectFirst {
      case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, UTF_8)
      case Array(k) if k == name => ""
    }.getOrElse("")
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  /** task.go:82-92 TaskConfiguration from the POST body; a null state
    * becomes `{}` (task_manager.go:125-127). */
  private def parseConfig(raw: String): TaskConfiguration = {
    val n = mapper.readTree(if (raw.trim.isEmpty) "{}" else raw)
    def f(name: String): String =
      Option(n.get(name)).filterNot(_.isNull).map(_.toString).getOrElse("")
    val state = f("state")
    TaskConfiguration(f("config"), f("catalog"),
      if (state.isEmpty) "{}" else state, f("destinationConfig"))
  }

  /** Parse the POST body or answer the reference's 400 (task_manager.go:
    * 56-59); None means the response was already written. */
  private def parsedConfigOr400(ex: HttpExchange): Option[TaskConfiguration] =
    try Some(parseConfig(body(ex)))
    catch { case e: Exception =>
      respond(ex, 400, s"""{"ok":false,"error":${js(String.valueOf(e.getMessage))}}""")
      None
    }

  private def createAndRespond(ex: HttpExchange, desc: TaskDescriptor,
                               cfg: TaskConfiguration, specShape: Boolean): Unit = {
    val (status, error) = createJob(desc, cfg)
    if (status == StatusCreateFailed)
      respond(ex, 200, s"""{"ok":false,"error":${js(error)}}""")
    else if (specShape)
      // SpecHandler returns the rounded start second (task_manager.go:38,51)
      respond(ex, 200, s"""{"ok":true,"startedAt":${desc.startedAt / 1000}}""")
    else respond(ex, 200, """{"ok":true}""")
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "/spec") =>
        // time.Now().Round(time.Second) — half-up to the whole second
        val rounded = ((nowMs() + 500) / 1000) * 1000
        createAndRespond(ex, TaskDescriptor(taskType = "spec",
          pkg = q(ex, "package"), version = q(ex, "version"),
          startedAt = rounded), TaskConfiguration.Empty, specShape = true)
      case ("POST", "/check") =>
        parsedConfigOr400(ex).foreach(cfg =>
          createAndRespond(ex, TaskDescriptor(taskType = "check",
            pkg = q(ex, "package"), version = q(ex, "version"),
            storageKey = q(ex, "storageKey"), startedAt = nowMs()),
            cfg, specShape = false))
      case ("POST", "/discover") =>
        parsedConfigOr400(ex).foreach(cfg =>
          createAndRespond(ex, TaskDescriptor(taskType = "discover",
            workspaceId = q(ex, "workspaceId"), syncId = q(ex, "syncId"),
            taskId = q(ex, "taskId"), pkg = q(ex, "package"),
            version = q(ex, "version"), storageKey = q(ex, "storageKey"),
            startedAt = nowMs(), thenRun = q(ex, "thenRun"),
            fullSync = q(ex, "fullSync"), startedBy = q(ex, "startedBy")),
            cfg, specShape = false))
      case ("POST", "/read") =>
        parsedConfigOr400(ex).foreach(cfg => createAndRespond(ex,
          TaskDescriptor(taskType = "read",
          pkg = q(ex, "package"), version = q(ex, "version"),
          syncId = q(ex, "syncId"), taskId = q(ex, "taskId"),
          namespace = q(ex, "namespace"),
          tableNamePrefix = q(ex, "tableNamePrefix"),
          toSameCase = q(ex, "toSameCase"), addMeta = q(ex, "addMeta"),
          deduplicate = q(ex, "deduplicate"), fullSync = q(ex, "fullSync"),
          debug = q(ex, "debug"), nodelay = q(ex, "nodelay"),
          startedBy = q(ex, "startedBy"), startedAt = nowMs()),
          cfg, specShape = false))
      case ("GET", "/cancel") =>
        val pkg = q(ex, "package")
        val syncId = q(ex, "syncId")
        val taskId = q(ex, "taskId")
        SyncDb.updateRunningTaskStatus(sink, taskId, "CANCELLED")
        terminatePod(podName(syncId, taskId, pkg, "discover"))
        terminatePod(podName(syncId, taskId, pkg, "read"))
        respond(ex, 200, """{"ok":true}""")
      case ("GET", "/health") =>
        if (inited.get()) respond(ex, 200, """{"status":"pass"}""")
        else respond(ex, 503, """{"status":"fail"}""")
      case _ => respond(ex, 404, Http.NotFound)
    }
  }

  // ----------------------------------------------------------------- wiring

  def start(portHint: Int = 0): SyncController = {
    SyncDb.init(sink)
    server = Http.server(portHint)
    Seq("/spec", "/check", "/discover", "/read", "/cancel", "/health").foreach(
      Http.route(server, _, e =>
        s"""{"ok":false,"error":${js(Option(e.getMessage).getOrElse(e.toString))}}""")(handle))
    server.start()
    listenerThread = new Thread(() => listenTaskStatus(), "sync-task-status")
    listenerThread.setDaemon(true)
    listenerThread.start()
    janitorThread = new Thread(() => {
      while (!closed.get()) {
        try Thread.sleep(janitorPeriodMs)
        catch { case _: InterruptedException => () }
        if (!closed.get()) {
          closeStaleTasksNow(nowMs() - staleAfterMs)
          ()
        }
      }
    }, "sync-task-janitor")
    janitorThread.setDaemon(true)
    janitorThread.start()
    watcherThread = new Thread(() => {
      // two-strike lock sweep state: a lock is reaped only when it was
      // ALSO dangling on the previous tick — a scheduled trigger places
      // its lock (putIfAbsent) an instant before its pod registers, and a
      // single-tick sweep landing exactly in that gap would reap the fresh
      // lock and reopen the double-spawn race; no real dangling lock can
      // un-dangle between ticks without a pod appearing
      var prevDangling = Set.empty[String]
      while (!closed.get()) {
        try Thread.sleep(watcherPeriodMs)
        catch { case _: InterruptedException => () }
        if (!closed.get()) {
          val now = nowMs()
          // job_runner.go:99-102,190-196: the watcher tick rebuilds the
          // active-sync set from live READ pods (plus thenRun discovers,
          // which re-store their lock while running) and drops every other
          // sync lock — so a thenRun whose console callback never
          // materialized a read task frees its sync in ~2·watcherPeriodMs,
          // not at the 15-minute janitor cadence
          val liveSyncs = new java.util.HashSet[String]()
          pods.forEach { (_, pod) =>
            if (pod.desc.taskType == "read" || isTruish(pod.desc.thenRun))
              liveSyncs.add(pod.desc.syncId)
            ()
          }
          val dangling = scala.jdk.CollectionConverters
            .SetHasAsScala(runningSyncs.keySet).asScala
            .filterNot(liveSyncs.contains).toSet
          val reap = dangling.intersect(prevDangling)
          prevDangling = dangling -- reap
          reap.foreach(runningSyncs.remove)
          pods.forEach { (name, pod) =>
            val last = pod.lastReportedMs.get()
            if (now - last >= runningReportEveryMs) {
              // job_runner.go:138-143: kill pods past the task timeout;
              // the read rollup turns the resulting cancel into
              // TIME_EXCEEDED
              if (now - pod.desc.startedAt > taskTimeoutMs) terminatePod(name)
              else if (pod.lastReportedMs.compareAndSet(last, now))
                // report RUNNING at most once per minute with the pod's
                // resource usage (job_runner.go:144-158 getPodResUsage —
                // cgroup cpu/mem there, per-thread cpu/alloc here)
                sendStatus(TaskStatus(pod.desc, StatusRunning,
                  metrics = podResUsage(pod)))
            }
          }
          ()
        }
      }
    }, "sync-pod-watcher")
    watcherThread.setDaemon(true)
    watcherThread.start()
    inited.set(true)
    this
  }

  /** The in-process twin of cgroup `cpu.stat usage_usec / memory.peak`
    * (job_runner.go:323-388): the pod thread's CPU seconds and allocated
    * bytes; only positive readings are reported, like the reference. */
  private def podResUsage(pod: Pod): Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double]
    try {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      val cpuNs = mx.getThreadCpuTime(pod.thread.getId)
      if (cpuNs > 0) out += "cpu_usage" -> cpuNs / 1e9
      mx match {
        case sun: com.sun.management.ThreadMXBean =>
          val alloc = sun.getThreadAllocatedBytes(pod.thread.getId)
          if (alloc > 0) out += "mem_usage" -> alloc.toDouble
        case _ => ()
      }
    } catch { case _: Exception => () }
    out.toMap
  }

  def stop(): Unit = {
    closed.set(true)
    if (server != null) server.stop(0)
    if (janitorThread != null) janitorThread.interrupt()
    if (watcherThread != null) watcherThread.interrupt()
    pods.forEach((name, _) => terminatePod(name))
  }
}

object SyncController {

  val StatusRunning = "RUNNING"
  val StatusFailed = "FAILED"
  val StatusTimeExceeded = "TIME_EXCEEDED"
  val StatusSuccess = "SUCCESS"
  val StatusCreated = "CREATED"
  val StatusCreateFailed = "CREATE_FAILED"
  val StatusAlreadyCreated = "ALREADY_CREATED"
  val StatusInitTimeout = "INIT_TIMEOUT"
  val StatusPending = "PENDING"

  /** task.go:12-33 TaskDescriptor (string-typed flags exactly as the wire
    * carries them; `startedAt` held as epoch millis). */
  final case class TaskDescriptor(
      taskType: String,
      pkg: String,
      version: String = "",
      taskId: String = "",
      workspaceId: String = "",
      syncId: String = "",
      storageKey: String = "",
      namespace: String = "",
      toSameCase: String = "",
      addMeta: String = "",
      deduplicate: String = "",
      tableNamePrefix: String = "",
      fullSync: String = "",
      debug: String = "",
      nodelay: String = "",
      startedBy: String = "",
      thenRun: String = "",
      startedAt: Long = 0L) {
    def podName: String = SyncController.podName(syncId, taskId, pkg, taskType)
  }

  /** task.go:82-92 — raw JSON slices of the POST body. */
  final case class TaskConfiguration(configJson: String, catalogJson: String,
                                     stateJson: String, destinationConfigJson: String) {
    def isEmpty: Boolean =
      configJson.isEmpty && catalogJson.isEmpty &&
        (stateJson.isEmpty || stateJson == "{}")
  }
  object TaskConfiguration {
    val Empty: TaskConfiguration = TaskConfiguration("", "", "{}", "")
  }

  /** The connector runtime a package name resolves to — the stand-in for
    * pulling and running the connector image: each command returns the
    * pod's stdout protocol lines. `read` receives the cancel flag so a
    * terminated pod can end its pipe (the SIGTERM path). */
  trait Connector {
    def spec(): Iterator[String]
    def check(cfg: TaskConfiguration): Iterator[String]
    def discover(cfg: TaskConfiguration): Iterator[String]
    def read(desc: TaskDescriptor, cfg: TaskConfiguration,
             cancelled: () => Boolean): Iterator[String]
  }

  /** utils.IsTruish (jitsubase/utils/bool.go:31-36) for the wire's string
    * flags. */
  def isTruish(v: String): Boolean = v != null && (v.toLowerCase == "true" || v == "1")

  private val NonAlphaNum = "[^a-zA-Z0-9-]".r

  /** job_runner.go:414-420 PodName: task-id tail after char 32 (a fresh
    * UUID when blank), connector registry prefixes stripped, non-alphanumeric
    * runs replaced, lowercased. */
  def podName(syncId: String, taskId: String, pkg: String, taskType: String): String = {
    val tid0 = if (taskId == null || taskId.isEmpty)
      java.util.UUID.randomUUID().toString else taskId
    val tid = if (tid0.length > 32) tid0.substring(32) else ""
    val p = pkg.stripPrefix("airbyte/source-").stripPrefix("jitsucom/source-")
    (NonAlphaNum.replaceAllIn(p, "-") + "-" + syncId + "-" + taskType + "-" + tid)
      .toLowerCase
  }
}
