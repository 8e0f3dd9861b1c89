package graft.http

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CountDownLatch

import graft.SparkSuite
import graft.sink.JdbcSink
import graft.sql.DerbyDialect
import graft.streaming.FailoverReprocessor
import graft.streaming.FailoverReprocessor.Db

/** The reprocessing admin ops surface
  * (admin/router_reprocessing_handler.go): bearer auth, CORS preflight,
  * start-request validation, the job/list/workers/cancel wire shapes, and
  * a real end-to-end job driven through the HTTP layer. */
class ReprocessingAdminSpec extends SparkSuite {

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

  private def spoolWith(lines: Map[String, Seq[String]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_radm_").toString
    lines.foreach { case (name, ls) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        ls.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    dir
  }

  private def msg(id: Long, src: String) =
    s"""{"messageCreated":"2024-01-05T00:00:00Z","origin":{"sourceId":"$src","slug":"$src-slug"},"event":{"event_id":$id}}"""

  private val streams = Seq(
    FailoverReprocessor.StreamDef("srcA", "srcA-slug", Seq("c-1", "c-2")))

  private def freshSink(tag: String): JdbcSink = {
    val sink = JdbcSink(s"jdbc:derby:memory:radm_$tag;create=true", DerbyDialect,
      maxWriteConnections = 2)
    sink
  }

  test("auth + CORS: 401 without bearer, preflight short-circuits with allow headers") {
    val sink = freshSink("auth")
    val admin = new ReprocessingAdmin(spark, sink, streams,
      authToken = Some("sesame")).start()
    try {
      val base = s"http://127.0.0.1:${admin.port}/api/admin/reprocessing/jobs"
      assert(http("GET", base)._1 == 401)
      assert(http("GET", base, headers = Map("Authorization" -> "Bearer wrong"))._1 == 401)
      val (ok, body) = http("GET", base, headers = Map("Authorization" -> "Bearer sesame"))
      assert(ok == 200 && body == """{"jobs":[]}""")
      // preflight: HttpURLConnection drops Origin — use java.net.http
      val rq = java.net.http.HttpRequest.newBuilder(URI.create(base))
        .method("OPTIONS", java.net.http.HttpRequest.BodyPublishers.noBody())
        .header("Origin", "http://console.example").build()
      val resp = java.net.http.HttpClient.newHttpClient()
        .send(rq, java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Access-Control-Allow-Origin")
        .orElse("") == "http://console.example")
      assert(resp.headers().firstValue("Access-Control-Allow-Methods")
        .orElse("").contains("OPTIONS"))
      // a non-preflight request without an Origin gets no allow headers
      val plain = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(URI.create(base))
          .header("Authorization", "Bearer sesame").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(plain.statusCode() == 200)
      assert(plain.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
    } finally admin.stop()
  }

  test("start validation: path matrix and malformed JSON") {
    val sink = freshSink("val")
    val admin = new ReprocessingAdmin(spark, sink, streams).start()
    try {
      val base = s"http://127.0.0.1:${admin.port}/api/admin/reprocessing/jobs"
      val (c1, b1) = http("POST", base, Some("""{"dry_run":false}"""))
      assert(c1 == 500 && b1.contains("either s3_path or local_path"))
      val (c2, b2) = http("POST", base,
        Some("""{"s3_path":"s3://b/x","local_path":"/tmp/y"}"""))
      assert(c2 == 500 && b2.contains("only one of"))
      assert(http("POST", base, Some("{not json"))._1 == 400)
      // an empty spool is a StartJob error, not a crash
      val empty = java.nio.file.Files.createTempDirectory("graft_radm_e").toString
      val (c3, b3) = http("POST", base, Some(s"""{"local_path":"$empty"}"""))
      assert(c3 == 500 && b3.contains("no files found"))
      assert(http("GET", s"$base/nosuch")._1 == 404)
    } finally admin.stop()
  }

  test("job lifecycle over the wire: start → running, workers, finish, cancel matrix") {
    val sink = freshSink("life")
    val dir = spoolWith(Map(
      "kafka_failover_2024_01_05T00_00_00.ndjson" ->
        (1 to 6).map(i => msg(i, "srcA")),
      "kafka_failover_2024_01_06T00_00_00.ndjson" ->
        Seq(msg(7, "srcA"), "not json {")))
    val gate = new CountDownLatch(1)
    val done = new CountDownLatch(2) // both jobs' runners must finish
    // newId pops from the head: job-a first, then job-b — so created_at
    // DESC and the id-DESC same-tick tie-break AGREE that job-b lists first
    var ids = List("job-a", "job-b")
    val admin = new ReprocessingAdmin(spark, sink, streams,
      newId = () => { val h = ids.head; ids = ids.tail; h },
      runner = Some((job, cfg) => {
        gate.await()
        FailoverReprocessor.run(spark, sink, job, cfg, streams)
        done.countDown()
      })).start()
    try {
      val base = s"http://127.0.0.1:${admin.port}/api/admin/reprocessing/jobs"
      val (c1, b1) = http("POST", base, Some(s"""{"local_path":"$dir","batch_size":3}"""))
      assert(c1 == 200)
      val j1 = om.readTree(b1)
      assert(j1.get("id").asText == "job-a")
      assert(j1.get("status").asText == "running")
      assert(j1.get("total_files").asInt == 2 && j1.get("total_workers").asInt == 2)
      assert(j1.get("progress").asDouble == 0.0)
      assert(j1.get("config").get("local_path").asText == dir)

      // a second (never-started) job lists FIRST: newest-first by
      // created_at DESC, and on a same-tick tie id DESC also ranks job-b
      // ahead — the ACTUAL response order is asserted, both ids byte-for-byte
      val (c2, _) = http("POST", base, Some(s"""{"local_path":"$dir"}"""))
      assert(c2 == 200)
      val list = om.readTree(http("GET", base)._2).get("jobs")
      assert(list.size == 2)
      assert(Seq(list.get(0).get("id").asText, list.get(1).get("id").asText)
        == Seq("job-b", "job-a"))

      // workers initialized pending with assigned counts before the run
      val w0 = om.readTree(http("GET", s"$base/job-a/workers")._2).get("workers")
      assert(w0.size == 2)
      assert((0 until 2).forall(i => w0.get(i).get("assigned_files").asInt == 1))

      // cancel the idle job-b while 'running' (its runner is gated too)
      val (cc, cb) = http("POST", s"$base/job-b/cancel", Some(""))
      assert(cc == 200 && om.readTree(cb).get("status").asText == "cancelled")
      assert(http("POST", s"$base/job-b/cancel", Some(""))._1 == 400)

      // release the data plane and wait for job-a to finish
      gate.countDown()
      assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
      // the run() bookkeeping marks completion; poll the wire for it
      var jb = om.readTree(http("GET", s"$base/job-a")._2)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (jb.get("status").asText != "completed" && System.nanoTime() < deadline) {
        Thread.sleep(100); jb = om.readTree(http("GET", s"$base/job-a")._2)
      }
      assert(jb.get("status").asText == "completed")
      assert(jb.get("processed_files").asInt == 2)
      assert(jb.get("total_lines").asLong == 8L)   // 7 messages + 1 malformed
      assert(jb.get("success_count").asLong == 7L) // all parseable admitted
      assert(jb.get("error_count").asLong == 1L)   // the malformed line
      assert(jb.get("skipped_count").asLong == 0L)
      assert(jb.get("progress").asDouble == 1.0)
      assert(jb.get("completed_at") != null)
      // finished jobs refuse cancel (failover_reprocessor.go:500-503)
      val (c3, b3) = http("POST", s"$base/job-a/cancel", Some(""))
      assert(c3 == 400 && b3.contains("already finished"))
      // worker rows carry cursors after the run
      val w1 = om.readTree(http("GET", s"$base/job-a/workers")._2).get("workers")
      assert((0 until 2).exists(i =>
        w1.get(i).get("current_line").asLong > 0))
      // cancellation STICKS: job-b's gated runner also released and ran to
      // its guarded completed-write, which must not overwrite 'cancelled'
      val jbCancelled = om.readTree(http("GET", s"$base/job-b")._2)
      assert(jbCancelled.get("status").asText == "cancelled")
    } finally admin.stop()
  }
}
