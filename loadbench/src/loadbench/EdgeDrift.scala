package loadbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{Engine, StreamConfig}
import graft.http.{IngestServer, WriteKeys}
import graft.sql.DerbyDialect

/** `edge_drift`: an open loop of single Segment-style track events sent at
  * a fixed rate to `/api/s/s2s/track`, authenticated by a hashed writeKey.
  * The spool is cut into batch-mode append loads of exactly `batch` events
  * with no pk, one after another on one loader thread.
  *
  * The batch size is fixed and the throughput is taken over the loader's
  * busy time, so neither depends on the offered rate: a faster loader
  * shows as shorter loads and a higher `events_per_s`, whether arrivals
  * outpace it or not. `rate` is set below today's capacity (a warm 100-event
  * load takes 1.2–1.4 s on 4 cores, 70–85 events/s), so the spool does not
  * grow over the window and freshness has a steady state. A load's cost is
  * mostly fixed (short Spark jobs, DDL): 40-event loads took as long and
  * spread between runs three times as much.
  *
  * Traffic properties: a new event type (with two new properties) every
  * `newTypeEvery` events, so columns keep appearing (ALTER ADD); and drift:
  * for two types in three, the second property changes type (int → string
  * or int → float) `driftAfter` events after the type first appears. A
  * load holds `batch` events and `driftAfter` exceeds it, so the load that
  * creates a column sees only the property's first type: that type is the
  * column's type, and later values that do not convert go to
  * `_unmapped_data`. */
final class EdgeDrift(spark: SparkSession, h: Harness, seed: Long, clients: Int) extends Workload {
  val rate = 50.0 // events per second
  val batch = 100
  /** One new type per load, at its first event: every load makes the same
    * schema change (two new columns), so the loads of a window cost alike. */
  val newTypeEvery = batch
  val targetEvents = batch
  val driftAfter = 3 * batch
  /** Each load compiles code for a new schema, so the JIT takes longer to
    * settle here: after two warm-up loads the next ones still ran 10–20%
    * slower than after four. */
  val warmUnits = 4
  val table = "edge_events"
  private val keyId = "loadbench"
  private val secret = s"s3cret-$seed"

  private final case class Spooled(raw: String, atNs: Long)
  private final case class Sent(i: Int, dueNs: Long, doneNs: Long, status: Int)

  private var url = ""
  private var engine: Engine = _
  private var server: IngestServer = _
  private val spool = new ConcurrentLinkedQueue[Spooled]()
  private val spoolNs = new AtomicLong()
  private val sent = new ConcurrentLinkedQueue[Sent]()
  /** Commit time of each loaded event, by its messageId index. */
  private val committedNs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val spoolWaitS = new ConcurrentLinkedQueue[java.lang.Double]()
  private val clientCpu = new AtomicLong()
  /** Events sent in the window: whole batches, at least `seconds` of them. */
  private var windowEvents = 0
  /** Index of the first event sent in the timed window. */
  private var firstWindowEvent = targetEvents
  private val busyNs = new AtomicLong()
  private var loadMisses = Vector.empty[String]
  private var verified = 0L
  private var lateMaxMs = 0.0
  private var success0 = 0L
  private var columnsAtStart = 0

  private def typeOf(i: Int): Int = i / newTypeEvery
  /** Event `i` in send order; its event type is new every `newTypeEvery`
    * events, otherwise the types introduced so far in turn. The types, and
    * so every load's schema changes, follow from `i` alone: the seed
    * draws only the values, so the work per load does not depend on it. */
  def event(i: Int): String = {
    val rng = new Rng(seed * 1000003L + i)
    val newest = typeOf(i)
    val t = i % newTypeEvery match { case 0 => newest; case k => k % (newest + 1) }
    val sinceIntro = i - t * newTypeEvery
    val a = t % 4 match {
      case 0 => rng.int(100000).toString
      case 1 => f"${rng.int(100000) / 100.0 + 0.005}%.3f"
      case 2 => "\"" + rng.word() + "\""
      case _ => rng.chance(0.5).toString
    }
    val b = if (sinceIntro <= driftAfter) rng.int(1000).toString
            else t % 3 match {
              case 0 => "\"" + rng.word() + "\""
              case 1 => f"${rng.int(1000) + 0.5}%.1f"
              case _ => rng.int(1000).toString
            }
    val ts = java.time.Instant.ofEpochMilli(1767225600000L + i * 10L).toString
    s"""{"messageId":"m$i","type":"track","event":"type_$t","userId":"u${rng.int(5000)}",""" +
      s""""timestamp":"$ts","context":{"ip":"10.0.${rng.int(256)}.${rng.int(256)}",""" +
      s""""library":{"name":"analytics-go","version":"3.${rng.int(5)}"}},""" +
      s""""properties":{"prop_${t}_a":$a,"prop_${t}_b":$b,"revenue":${rng.int(10000)}.25}}"""
  }

  /** Column → SQL type the lattice plan expects once event `upTo - 1` is loaded. */
  private def plannedTypes(upTo: Int): Map[String, String] = {
    val kinds = IndexedSeq("BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN")
    val perType = (0 to typeOf(upTo - 1)).flatMap { t =>
      Seq(s"EVENT_PROPERTIES_PROP_${t}_A" -> kinds(t % 4), s"EVENT_PROPERTIES_PROP_${t}_B" -> "BIGINT")
    }
    (perType ++ Seq("EVENT_TIMESTAMP" -> "TIMESTAMP", "EVENT_MESSAGEID" -> "VARCHAR",
      "EVENT_PROPERTIES_REVENUE" -> "DOUBLE")).toMap
  }

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def send(i: Int): Int = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.port}/api/s/s2s/track?tableName=$table"))
      .header("X-Write-Key", s"$keyId:$secret")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(event(i))).build()
    client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  /** Cut the spool into one append load of at most `batch` events. */
  private def loadSpool(): Boolean = {
    val cut = Iterator.continually(spool.poll()).takeWhile(_ != null).take(batch).toVector
    if (cut.isEmpty) return true
    val startNs = System.nanoTime()
    cut.foreach(s => spoolWaitS.add((startNs - s.atNs) / 1e9))
    var rows = -1L
    val ok = h.load("engine.complete", cut.length, cut.map(_.raw.length.toLong).sum) {
      val st = engine.createStream(table, StreamConfig(mode = Engine.Batch))
      cut.foreach(s => st.consume(s.raw))
      val state = st.complete()
      rows = state.rows
      state.status == "ok"
    }
    val now = System.nanoTime()
    busyNs.addAndGet(now - startNs)
    val ids = cut.map(s => idOf(s.raw))
    if (ok) ids.foreach(i => committedNs.put(i, now))
    if (!ok || rows != cut.length)
      loadMisses :+= s"load of ${cut.length} events: ok=$ok rows=$rows"
    ok
  }

  private val IdRe = """"messageId":"m(\d+)"""".r
  private def idOf(raw: String): Int = IdRe.findFirstMatchIn(raw).map(_.group(1).toInt).getOrElse(-1)

  def setup(rep: Int): Unit = {
    if (server != null) server.stop()
    if (url.nonEmpty) Harness.dropDerby(url)
    spool.clear(); sent.clear(); committedNs.clear(); spoolWaitS.clear()
    url = Harness.derbyUrl("edge")
    engine = Engine(spark, url, DerbyDialect)
    val salt = "salt"
    val registry = WriteKeys.Registry(
      bindings = Map(keyId -> WriteKeys.Binding(keyId,
        WriteKeys.storedHash(secret, salt, "global"), "edge-stream", "s2s")),
      plain = Map.empty, globalSecrets = Seq("global"))
    server = new IngestServer(
      spool = (_, _, raw) => {
        val t0 = System.nanoTime()
        spool.add(Spooled(raw, t0))
        spoolNs.addAndGet(System.nanoTime() - t0)
      },
      bulkLoad = (_, _, _, _, _) => 0L,
      auth = Some(registry)).start(0)
    // the pre-existing table: the first events, sent and loaded
    sendAndLoad(0, targetEvents)
  }

  /** Send events `from` until `until` over all connections, then load them. */
  private def sendAndLoad(from: Int, until: Int): Unit = {
    (0 until clients).map { k =>
      val t = new Thread(() => (from + k until until by clients).foreach { i =>
        val code = send(i)
        sent.add(Sent(i, System.nanoTime(), System.nanoTime(), code))
      })
      t.start(); t
    }.foreach(_.join())
    require(loadSpool(), s"edge load of events $from until $until failed")
  }

  /** Whole batches, sent and loaded: the schema keeps changing, but code
    * generation and the JIT still warm. */
  def warmUp(): Unit = {
    var next = targetEvents
    h.warm(warmUnits) { sendAndLoad(next, next + batch); next += batch }
    firstWindowEvent = next
  }

  def window(seconds: Double): Unit = {
    val n = math.ceil(rate * seconds / batch).toInt * batch
    windowEvents = n
    success0 = server.metrics.statusCount("edge-stream", table, "success")
    columnsAtStart = Harness.columnTypes(url, table.toUpperCase).size
    spoolNs.set(0); spoolWaitS.clear(); busyNs.set(0)
    val t0 = System.nanoTime() + 50000000L
    val sending = new java.util.concurrent.atomic.AtomicBoolean(true)
    // full batches only; a rest (from refused requests) goes once sending ends
    val loader = new Thread(() => {
      while (sending.get || !spool.isEmpty) {
        if (spool.size >= batch || !sending.get) loadSpool()
        else Thread.sleep(5)
      }
    }, "loadbench-edge-loader")
    h.sampleLoadsOn(loader)
    loader.start()
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    val senders = (0 until clients).map { k =>
      val t = new Thread(() => {
        var i = firstWindowEvent + k
        var late = 0.0
        while (i < firstWindowEvent + n) {
          val due = t0 + ((i - firstWindowEvent) / rate * 1e9).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          else late = math.max(late, -wait / 1e6)
          val code = try send(i) catch { case _: java.io.IOException => -1 }
          sent.add(Sent(i, due, System.nanoTime(), code))
          i += clients
        }
        clientCpu.addAndGet(tmx.getCurrentThreadCpuTime)
        synchronized { lateMaxMs = math.max(lateMaxMs, late) }
      }, s"loadbench-edge-client-$k")
      t.start(); t
    }
    senders.foreach(_.join())
    sending.set(false)
    loader.join()
    h.stopSampler()
  }

  def check(): Seq[String] = {
    val acked = sent.asScala.filter(_.status == 200).map(_.i).toSet
    val rows = Harness.query(url, s"""SELECT "EVENT_MESSAGEID" FROM "${table.toUpperCase}"""")
    val counts = rows.map(_(0).toString.stripPrefix("m").toInt).groupBy(identity).map { case (k, v) => k -> v.size }
    val missing = acked.filterNot(counts.contains)
    val dup = counts.filter(_._2 != 1).keys
    val extra = counts.keySet.diff(acked)
    val types = Harness.columnTypes(url, table.toUpperCase)
    val planned = plannedTypes(firstWindowEvent + windowEvents)
    val typeMisses = planned.toSeq.sorted.collect {
      case (c, _) if !types.contains(c) => s"column $c missing"
      case (c, t) if !types(c).startsWith(t) => s"column $c is ${types(c)}, planned $t"
    }
    val rowMisses = (if (missing.nonEmpty) Seq(s"${missing.size} acked events missing, e.g. m${missing.min}") else Nil) ++
      (if (dup.nonEmpty) Seq(s"${dup.size} events loaded more than once, e.g. m${dup.min}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"${extra.size} unacked events loaded, e.g. m${extra.min}") else Nil)
    val misses = loadMisses ++ rowMisses ++ typeMisses
    verified = if (misses.isEmpty) acked.count(_ >= firstWindowEvent).toLong else 0L
    misses
  }

  private def windowSent = sent.asScala.filter(_.i >= firstWindowEvent).toSeq
  def verifiedEvents: Long = verified
  /** The loader's busy time: throughput is its capacity, not the offered rate. */
  def windowSeconds: Double = busyNs.get / 1e9
  override def extraAttempted: Long = windowSent.size.toLong
  override def extraFailed: Long = windowSent.count(_.status != 200).toLong
  override def clientCpuNs: Long = clientCpu.get

  def layerMetrics: Metrics = {
    val m = new Metrics
    val ws = windowSent
    val httpMs = ws.map(s => (s.doneNs - s.dueNs) / 1e6)
    val fresh = ws.flatMap(s => Option(committedNs.get(s.i)).map(c => (c - s.dueNs) / 1e9))
    m.put("http.requests", ws.size, "count")
    m.put("http.non2xx", ws.count(_.status != 200), "count")
    m.put("http.spool_s", spoolNs.get / 1e9, "s")
    m.put("http.edge_success", server.metrics.statusCount("edge-stream", table, "success") - success0, "count")
    m.put("http.ms_p50", Stats.median(httpMs), "ms")
    m.put("http.ms_p99", Stats.quantile(httpMs, 0.99), "ms")
    m.put("http.send_late_ms_max", lateMaxMs, "ms")
    m.put("edge.freshness_s_p50", if (fresh.isEmpty) 0 else Stats.median(fresh), "s")
    m.put("edge.freshness_s_p99", if (fresh.isEmpty) 0 else Stats.quantile(fresh, 0.99), "s")
    val waits = spoolWaitS.asScala.map(_.doubleValue).toSeq
    m.put("engine.queue_wait_s_p50", if (waits.isEmpty) 0 else Stats.median(waits), "s")
    val cols = Harness.columnTypes(url, table.toUpperCase)
    m.put("shape.columns_out", cols.size, "count")
    m.put("shape.string_columns", cols.values.count(_.startsWith("VARCHAR")), "count")
    m.put("sink.columns_added", cols.size - columnsAtStart, "count")
    m
  }
}
