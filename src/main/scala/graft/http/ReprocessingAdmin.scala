package graft.http

import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.http.Http.respond
import graft.sink.JdbcSink
import graft.streaming.FailoverReprocessor
import graft.streaming.FailoverReprocessor.{Db, JobConfig}

/** The reprocessing admin HTTP surface
  * (admin/router_reprocessing_handler.go + router.go:33-46): start / list /
  * inspect / cancel failover-reprocessing jobs and read their worker rows,
  * token-authenticated with the reference's CORS preflight contract.
  * Response shapes mirror `jobToResponse` (router_reprocessing_handler
  * .go:68-104): lifecycle timestamps as `yyyy-MM-dd'T'HH:mm:ss'Z'`,
  * `progress` = processed/total files, the cursor from the most recently
  * updated RUNNING worker, and `{"jobs":[...]}` newest-first. The K8s
  * enrichment legs (k8s_job_status, pod log read-back) are orchestration
  * against a cluster API this environment does not have; job status here
  * derives from the worker rows, which is the reference's own fallback
  * (failover_reprocessor.go:372-437).
  *
  * The data plane behind POST /jobs is [[FailoverReprocessor.run]] on a
  * caller-supplied runner (a daemon thread by default — the reference
  * returns as soon as the K8s job is submitted, so start responds with the
  * job in `running`, not with results). */
final class ReprocessingAdmin(
    spark: org.apache.spark.sql.SparkSession,
    sink: JdbcSink,
    streams: Seq[FailoverReprocessor.StreamDef] = Nil,
    authToken: Option[String] = None,
    newId: () => String = () => java.util.UUID.randomUUID().toString,
    runner: Option[(FailoverReprocessor.Job, JobConfig) => Unit] = None) {

  private var server: HttpServer = _
  private val mapper = new ObjectMapper()

  def port: Int = server.getAddress.getPort

  // ------------------------------------------------------------- rendering

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
  private def ts(t: java.sql.Timestamp): String = TsFmt.format(t.toInstant)
  private def js(s: String): String = graft.Verify.jsonStr(s)

  private def jobJson(j: Db.FullJob): String = {
    val progress =
      if (j.totalFiles > 0) j.processedFiles.toDouble / j.totalFiles else 0.0
    val opt = Seq(
      j.startedAt.map(t => s""""started_at":${js(ts(t))}"""),
      j.completedAt.map(t => s""""completed_at":${js(ts(t))}"""),
      Option(j.currentFile).filter(_.nonEmpty)
        .map(f => s""""current_file":${js(f)}"""),
      Option(j.error).filter(_.nonEmpty).map(e => s""""last_error":${js(e)}"""))
      .flatten.map("," + _).mkString
    s"""{"id":${js(j.id)},"status":${js(j.status)},"config":${j.config},""" +
      s""""created_at":${js(ts(j.createdAt))}$opt,""" +
      s""""current_line":${j.currentLine},"total_files":${j.totalFiles},""" +
      s""""processed_files":${j.processedFiles},"total_lines":${j.totalLines},""" +
      s""""success_count":${j.success},"error_count":${j.errorCount},""" +
      s""""skipped_count":${j.skipped},"processed_bytes":${j.processedBytes},""" +
      s""""progress":$progress,"total_workers":${j.totalWorkers}}"""
  }

  private def workerJson(w: Db.WorkerRow): String = {
    val opt = Seq(
      Option(w.currentFile).filter(_.nonEmpty)
        .map(f => s""""current_file":${js(f)}"""),
      Option(w.lastError).filter(_.nonEmpty).map(e => s""""error":${js(e)}"""))
      .flatten.map("," + _).mkString
    s"""{"worker_index":${w.workerIndex},"status":${js(w.status)},""" +
      s""""assigned_files":${w.assignedFiles},"processed_files":${w.processedFiles},""" +
      s""""total_lines":${w.totalLines},"success_count":${w.success},""" +
      s""""error_count":${w.error},"skipped_count":${w.skipped},""" +
      s""""processed_bytes":${w.processedBytes},"current_line":${w.currentLine}$opt}"""
  }

  // --------------------------------------------------------------- parsing

  private def textOf(n: JsonNode, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).getOrElse("")
  private def arrOf(n: JsonNode, f: String): Seq[String] =
    Option(n.get(f)).filterNot(_.isNull).toSeq.flatMap { a =>
      import scala.jdk.CollectionConverters._
      a.elements().asScala.map(_.asText).toSeq
    }
  private def instOf(n: JsonNode, f: String): Option[java.time.Instant] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty)
      .filter(_ != "0001-01-01T00:00:00Z") // Go's zero time = unset
      .map { s =>
        // Go's time.Time accepts any RFC3339 offset, not just 'Z' —
        // Instant.parse alone would 400 a valid "+02:00" timestamp
        try java.time.Instant.parse(s)
        catch { case _: java.time.format.DateTimeParseException =>
          java.time.OffsetDateTime.parse(s).toInstant }
      }

  /** ReprocessingStartRequest → JobConfig, with the reference's path
    * validation (failover_reprocessor.go:117-125). `retry_attempts` and
    * `limit` are accepted and recorded in the job config exactly like the
    * reference (whose worker also never reads them, main.go). */
  private def parseStart(body: String): Either[String, JobConfig] = {
    val n = mapper.readTree(body)
    val s3 = textOf(n, "s3_path")
    val local = textOf(n, "local_path")
    if (s3.isEmpty && local.isEmpty)
      Left("either s3_path or local_path must be provided")
    else if (s3.nonEmpty && local.nonEmpty)
      Left("only one of s3_path or local_path can be provided")
    else Right(JobConfig(
      path = if (s3.nonEmpty) s3 else local,
      streamIds = arrOf(n, "stream_ids"),
      connectionIds = arrOf(n, "connection_ids"),
      files = arrOf(n, "files"),
      dryRun = Option(n.get("dry_run")).exists(_.asBoolean(false)),
      startFile = textOf(n, "start_file"),
      startLine = Option(n.get("start_line")).map(_.asLong(0L)).getOrElse(0L),
      batchSize = Option(n.get("batch_size")).map(_.asInt(0)).getOrElse(0),
      dateFrom = instOf(n, "date_from"),
      dateTo = instOf(n, "date_to"),
      retryAttempts = Option(n.get("retry_attempts")).map(_.asInt(0)).getOrElse(0),
      limit = Option(n.get("limit")).map(_.asLong(0L)).getOrElse(0L)))
  }

  // -------------------------------------------------------------- handlers

  private def errJson(msg: String): String = s"""{"error":${js(msg)}}"""
  private def err(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, errJson(msg))

  private def authed(ex: HttpExchange): Boolean = authToken match {
    case None => true
    case Some(t) =>
      val got = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      if (got == s"Bearer $t") true
      else { err(ex, 401, "unauthorized"); false }
  }

  private def startJob(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val parsed = try parseStart(body) catch {
      case e: Exception => err(ex, 400, Option(e.getMessage).getOrElse("bad json")); return
    }
    parsed match {
      case Left(m) => err(ex, 500, m) // StartJob errors are 500s in the reference
      case Right(cfg) =>
        val id = newId()
        val job = try FailoverReprocessor.startJob(spark, sink, id, cfg)
        catch { case e: Exception =>
          err(ex, 500, Option(e.getMessage).getOrElse("start failed")); return
        }
        val run = runner.getOrElse {
          (j: FailoverReprocessor.Job, c: JobConfig) =>
            FailoverReprocessor.run(spark, sink, j, c, streams); ()
        }
        val th = new Thread(() => {
          // thread-local job group: a cancel kills the data plane's Spark
          // jobs (the in-process twin of the reference deleting the K8s
          // job, failover_reprocessor.go:506-518)
          spark.sparkContext.setJobGroup(jobGroup(id),
            s"reprocessing job $id", interruptOnCancel = true)
          try run(job, cfg)
          catch { case e: Exception =>
            // guarded: a cancel-induced abort must not overwrite 'cancelled'
            Db.finishJob(sink, id, "failed",
              Option(e.getMessage).getOrElse(e.toString))
          } finally spark.sparkContext.clearJobGroup()
        }, s"reprocess-$id")
        th.setDaemon(true)
        th.start()
        Db.fullJob(sink, id) match {
          case Some(j) => respond(ex, 200, jobJson(j))
          case None => err(ex, 500, s"job $id vanished")
        }
    }
  }

  private def cancelJob(ex: HttpExchange, id: String): Unit =
    Db.fullJob(sink, id) match {
      case None => err(ex, 400, s"reprocessing job $id not found")
      case Some(j) if j.status == "completed" || j.status == "cancelled" =>
        err(ex, 400, s"job $id is already finished")
      case Some(_) =>
        Db.updateJobStatus(sink, id, "cancelled")
        // stop the data plane: cancels every Spark job the runner thread
        // submitted under this job's group (interrupt-on-cancel); run()'s
        // own completed/failed writes are guarded so 'cancelled' sticks
        spark.sparkContext.cancelJobGroup(jobGroup(id))
        Db.fullJob(sink, id) match {
          case Some(j) => respond(ex, 200, jobJson(j))
          case None => err(ex, 400, s"reprocessing job $id not found")
        }
    }

  private def jobGroup(id: String): String = s"reprocessing-$id"

  // ---------------------------------------------------------------- wiring

  def start(portHint: Int = 0): ReprocessingAdmin = {
    Db.init(sink)
    server = Http.server(portHint)
    // one context, longest-prefix safe: every subresource parses from the
    // path ("/api/admin/..." cannot collide with the ingest contexts)
    Http.route(server, "/api/admin/reprocessing/jobs",
        e => errJson(Option(e.getMessage).getOrElse(e.toString)), withCors = true) { ex =>
      if (authed(ex)) {
        val rest = ex.getRequestURI.getPath
          .stripPrefix("/api/admin/reprocessing/jobs").stripPrefix("/")
        val segs = rest.split("/").filter(_.nonEmpty)
        (ex.getRequestMethod, segs.toList) match {
          case ("POST", Nil) => startJob(ex)
          case ("GET", Nil) =>
            val jobs = Db.listJobIds(sink)
              .flatMap(Db.fullJob(sink, _)).map(jobJson)
            respond(ex, 200, jobs.mkString("""{"jobs":[""", ",", "]}"))
          case ("GET", id :: Nil) =>
            Db.fullJob(sink, id) match {
              case Some(j) => respond(ex, 200, jobJson(j))
              case None => err(ex, 404, s"reprocessing job $id not found")
            }
          case ("GET", id :: "workers" :: Nil) =>
            respond(ex, 200, Db.workers(sink, id).map(workerJson)
              .mkString("""{"workers":[""", ",", "]}"))
          case ("POST", id :: "cancel" :: Nil) => cancelJob(ex, id)
          case _ => err(ex, 404, "not found")
        }
      }
    }
    server.start()
    this
  }

  def stop(): Unit = if (server != null) server.stop(0)
}
