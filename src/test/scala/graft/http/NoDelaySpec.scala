package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** TCP no-delay on the edge. With Nagle on, the JDK server writes a
  * response's headers and body separately and the body waits out the
  * client's delayed ACK: ~45 ms a request on a keep-alive connection,
  * ~0.9 s for 20. The JDK reads `sun.net.httpserver.nodelay` once per JVM,
  * when its first server is built, and other specs in this JVM build
  * servers of their own — so the timing runs in a child JVM
  * ([[NoDelayProbe]]) on this JVM's classpath, whatever the suite order. */
class NoDelaySpec extends AnyFunSuite {

  test("20 back-to-back keep-alive requests to /health finish without the Nagle stall") {
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val p = new ProcessBuilder(javaBin.toString, "-Xmx64m",
      "-cp", System.getProperty("java.class.path"), "graft.http.NoDelayProbe")
      .redirectErrorStream(true).start()
    val finished = p.waitFor(120, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    assert(finished && p.exitValue() == 0, out)
    val ms = "elapsed_ms=(\\d+)".r.findFirstMatchIn(out).map(_.group(1).toLong)
      .getOrElse(fail(s"no elapsed_ms line in: $out"))
    info(s"20 requests: $ms ms")
    assert(ms < 400, s"20 keep-alive requests took $ms ms (stalled: ~900 ms)")
  }
}

/** Starts an [[IngestServer]], opens one HTTP/1.1 keep-alive connection
  * with 5 warm-up requests, then times 20 more `GET /health` on it and
  * prints `elapsed_ms=<n>`. */
object NoDelayProbe {
  def main(args: Array[String]): Unit = {
    val srv = new IngestServer((_, _, _) => (), (_, _, _, _, _) => 0L).start()
    try {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}/health")).build()
      def get(): Unit = {
        val r = client.send(req, HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"/health answered ${r.statusCode()}")
      }
      (1 to 5).foreach(_ => get())
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => get())
      println(s"elapsed_ms=${(System.nanoTime() - t0) / 1000000}")
    } finally srv.stop()
  }
}
