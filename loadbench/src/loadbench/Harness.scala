package loadbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One timed load unit: a `complete()` call or one corpus pipeline pass. */
final case class Load(startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      events: Long, rawBytes: Long, ok: Boolean,
                      layerNs: Map[String, Long], catalogMisses: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What every workload hands back after its timed window. */
trait Workload {
  /** Build this repetition's inputs and pre-existing target state. */
  def setup(rep: Int): Unit
  /** Run load units before the window until code generation and the JIT
    * settle (not recorded); see [[Harness.warm]]. */
  def warmUp(): Unit
  /** Run the timed window, recording each load unit through the harness. */
  def window(seconds: Double): Unit
  /** Output-check misses, one line each; empty means every output is right. */
  def check(): Seq[String]
  /** Events (or docs) that completed and passed the output checks. */
  def verifiedEvents: Long
  /** Seconds the throughput is measured over: the timed window of a
    * closed loop, the loader's busy time in it for an open loop. */
  def windowSeconds: Double
  /** Operations attempted and failed besides the load units (e.g. HTTP requests). */
  def extraAttempted: Long = 0
  def extraFailed: Long = 0
  /** CPU the benchmark's own client threads spent, excluded from the program's. */
  def clientCpuNs: Long = 0
  /** Workload-specific per-layer metrics for the traced run. */
  def layerMetrics: Metrics
}

/** Records load units under a deadline and, when tracing, books their time
  * and Spark work to the program's layers. */
final class Harness(val spark: SparkSession, val opts: Opts, val results: Path,
                    val deadlineS: Double) {
  val spans = new Spans
  val originNs: Long = System.nanoTime()
  val counters: Option[SparkCounters] =
    if (opts.trace) { val c = new SparkCounters; spark.sparkContext.addSparkListener(c); Some(c) }
    else None
  @volatile private var sampler: Option[StackSampler] = None
  val loads = ArrayBuffer.empty[Load]
  /** The load unit now running, so the watchdog can book it if it stalls. */
  private final case class InFlight(thread: Thread, startNs: Long, startMs: Long, events: Long,
                                    rawBytes: Long, layersBefore: Map[String, Long], misses0: Long)
  @volatile private var current: Option[InFlight] = None
  @volatile var recording = false

  /** Sample this thread's stack while loads run on it (traced runs only). */
  def sampleLoadsOn(t: Thread): Unit = if (opts.trace) {
    sampler.foreach { s => s.halt(); earlierSamplersCpuNs += s.selfCpuNs }
    val s = new StackSampler(t); s.start(); sampler = Some(s)
  }
  private var earlierSamplersCpuNs = 0L
  /** CPU time of every sampler this run started. */
  def samplerCpuNs: Long = earlierSamplersCpuNs + sampler.map(_.selfCpuNs).getOrElse(0L)
  def stopSampler(): Unit = sampler.foreach(_.halt())

  /** Run one load unit on the calling thread. `body` returns whether the
    * program reported success; the unit is recorded only while the timed
    * window is open. */
  def load(name: String, events: Long, rawBytes: Long)(body: => Boolean): Boolean = {
    val before = sampler.map(_.snapshot()).getOrElse(Map.empty)
    val misses0 = graft.sink.TableCache.missCount.get
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    current = Some(InFlight(Thread.currentThread(), startNs, startMs, events, rawBytes, before, misses0))
    sampler.foreach(_.active = true)
    val ok = try body catch { case e: Exception =>
      System.err.println(s"[loadbench] $name failed: $e"); false }
    sampler.foreach(_.active = false)
    current = None
    val endNs = System.nanoTime()
    val after = sampler.map(_.snapshot()).getOrElse(Map.empty)
    val layerNs = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
    if (recording) loads.synchronized {
      loads += Load(startNs, endNs, startMs, System.currentTimeMillis(), events, rawBytes, ok,
        layerNs, graft.sink.TableCache.missCount.get - misses0)
      if (opts.trace) spans.add(name, startNs, endNs,
        layerNs.map { case (k, v) => s"self.$k" -> v / 1e9 } +
          ("events" -> events.toDouble) + ("ok" -> (if (ok) 1.0 else 0.0)))
    }
    ok
  }

  /** Watchdog: a load past the deadline is a failure. It is booked as a
    * failed load with the layer times sampled so far (traced runs), so
    * `sink.merge_s_max` shows a stalled merge; its thread's stack (and
    * every other thread's) is saved; then `onStall` ends the run. A stalled
    * load is booked whether or not the timed window is open. */
  def watch(onStall: String => Unit): Unit = {
    val t = new Thread(() => {
      var done = false
      while (!done) {
        Thread.sleep(100)
        current.foreach { f =>
          if ((System.nanoTime() - f.startNs) / 1e9 > deadlineS) {
            val stack = f.thread.getStackTrace
            val now = System.nanoTime()
            val layerNs = sampler.map(_.snapshot()).getOrElse(Map.empty[String, Long])
              .map { case (k, v) => k -> (v - f.layersBefore.getOrElse(k, 0L)) }
            loads.synchronized {
              loads += Load(f.startNs, now, f.startMs, System.currentTimeMillis(), f.events, f.rawBytes,
                ok = false, layerNs, graft.sink.TableCache.missCount.get - f.misses0)
            }
            val file = results.resolve(
              s"stall-${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}.txt")
            val text = new StringBuilder(
              s"load on thread ${f.thread.getName} exceeded its ${deadlineS}s deadline after " +
              f"${(now - f.startNs) / 1e9}%.1fs, stalled in layer ${Layers.ofStack(stack)}\n")
            layerNs.toSeq.sortBy(_._1).foreach { case (k, v) => text ++= f"  sampled $k: ${v / 1e9}%.3fs\n" }
            text ++= "\n"
            def dump(t: Thread, st: Array[StackTraceElement]) =
              text ++= s"\"${t.getName}\" ${t.getState}\n" ++= st.map("    at " + _).mkString("\n") ++= "\n\n"
            dump(f.thread, stack)
            Thread.getAllStackTraces.forEach((t, st) => if (t ne f.thread) dump(t, st))
            Files.write(file, text.toString.getBytes("UTF-8"))
            done = true
            onStall(file.toString)
          }
        }
      }
    }, "loadbench-watchdog")
    t.setDaemon(true)
    t.start()
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `unit` `times` times before the window (not recorded): the
    * set-ups have already paid the cold JVM's first use; these let the load
    * path's own code generation and JIT settle (after one bulk batch, the
    * next is still ~15% slower). */
  def warm(times: Int)(unit: => Unit): Unit = (1 to times).foreach(_ => unit)
}

object Harness {
  val serial = new AtomicLong()
  /** A fresh in-memory Derby database URL. */
  def derbyUrl(tag: String): String =
    s"jdbc:derby:memory:lb_${tag}_${serial.incrementAndGet()};create=true"

  /** Drop an in-memory Derby database, releasing its heap. */
  def dropDerby(url: String): Unit = {
    val base = url.takeWhile(_ != ';')
    try java.sql.DriverManager.getConnection(base + ";drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception
  }

  def query(url: String, sql: String): Vector[Vector[AnyRef]] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Vector.newBuilder[Vector[AnyRef]]
      while (rs.next()) out += (1 to n).map(rs.getObject).toVector
      out.result()
    } finally c.close()
  }

  /** Live column name → SQL type name, straight from JDBC metadata. */
  def columnTypes(url: String, table: String): Map[String, String] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.getMetaData.getColumns(null, null, table, null)
      val b = Map.newBuilder[String, String]
      while (rs.next()) if (rs.getString("TABLE_NAME") == table)
        b += rs.getString("COLUMN_NAME") -> rs.getString("TYPE_NAME")
      b.result()
    } finally c.close()
  }
}
