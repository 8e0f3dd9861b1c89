package loadbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{Engine, StreamConfig}
import graft.sql.DerbyDialect

/** `bulk_merge` and `bulk_unique`: a closed loop of large NDJSON batches in
  * batch mode with pk, in-batch dedup, a discriminator and a merge window,
  * all into one table that exists before the window opens.
  *
  * Traffic properties: `mix.keys` live primary keys (the target's size) and
  * the batches' duplicate rate (see [[BulkMerge.Mix]]), `oldShare` of the
  * target's rows older than the merge window (they survive every merge
  * beside the new row), and `propsPerEvent` of `props` sparse properties per
  * event over nested user/context objects. */
final class BulkMerge(spark: SparkSession, h: Harness, work: Path, seed: Long,
                      mix: BulkMerge.Mix) extends Workload {
  val keys = mix.keys
  val eventsPerBatch = mix.eventsPerBatch
  val batchFiles = 4
  val props = 100
  val propsPerEvent = 10
  val oldShare = 0.2
  val windowDays = 30
  /** The loads' clock: merge-window arithmetic must not depend on the wall clock. */
  val nowMs: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  val table = "bulk_events"

  private case class Ev(id: Int, seq: Long, version: Int)
  private var url = ""
  private var engine: Engine = _
  private var batches: IndexedSeq[(Path, Long, IndexedSeq[Ev])] = IndexedSeq.empty
  /** Expected table state: per key, the row inside the merge window (if any)
    * and the rows older than it, which merges never touch. */
  private val recent = mutable.Map.empty[Int, Long]
  private val old = mutable.Map.empty[Int, Long]
  private var loaded = 0L
  private var loadMisses = Vector.empty[String]
  private var firstStartNs, lastEndNs = 0L
  private var columnsAtStart = 0

  private val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true,
    discriminator = Seq("version"), mergeWindowDays = windowDays,
    timestampColumn = Some("ts"), nowMs = () => nowMs)

  private def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString

  private def event(b: StringBuilder, rng: Rng, ev: Ev, tsMs: Long): Unit = {
    b ++= s"""{"id":"k${ev.id}","seq":${ev.seq},"version":${ev.version},"ts":"${iso(tsMs)}","""
    b ++= s""""type":"track","event":"${rng.pick(Events)}","""
    b ++= s""""user":{"id":"u${rng.int(50000)}","email":"${rng.word()}@${rng.word()}.io","""
    b ++= s""""traits":{"plan":"${rng.pick(Plans)}","age":${18 + rng.int(60)}}},"""
    b ++= s""""context":{"ip":"10.${rng.int(256)}.${rng.int(256)}.${rng.int(256)}","""
    b ++= s""""page":{"path":"/p/${rng.int(1000)}","title":"${rng.word()} ${rng.word()}"},"""
    b ++= s""""library":{"name":"loadbench","version":"1.${rng.int(9)}"}},"properties":{"""
    val chosen = Iterator.continually(rng.int(props)).distinct.take(propsPerEvent).toSeq.sorted
    b ++= chosen.map { p =>
      val v = p % 4 match {
        case 0 => rng.int(1000000).toString
        case 1 => f"${rng.int(100000) / 100.0 + 0.005}%.3f"
        case 2 => "\"" + rng.word() + "\""
        case _ => rng.chance(0.5).toString
      }
      s""""p_$p":$v"""
    }.mkString(",")
    b ++= "}}\n"
  }

  private def write(name: String, lines: StringBuilder): (Path, Long) = {
    val p = work.resolve(name)
    val bytes = lines.toString.getBytes("UTF-8")
    Files.write(p, bytes)
    (p, bytes.length.toLong)
  }

  def setup(rep: Int): Unit = {
    if (url.nonEmpty) Harness.dropDerby(url)
    recent.clear(); old.clear()
    val rng = new Rng(seed)
    var seq = 0L
    // the pre-existing target: every key once; a share of them older than
    // the merge window
    val snap = new StringBuilder
    (0 until keys).foreach { k =>
      val isOld = rng.chance(oldShare)
      val ts = if (isOld) nowMs - (windowDays + 30 + rng.int(300)) * 86400000L
               else nowMs - rng.int(10 * 86400) * 1000L
      event(snap, rng, Ev(k, seq, 0), ts)
      if (isOld) old(k) = seq else recent(k) = seq
      seq += 1
    }
    val (snapPath, snapBytes) = write("snapshot.ndjson", snap)
    batches = (0 until batchFiles).map { bi =>
      val b = new StringBuilder
      val ids: IndexedSeq[Int] =
        if (mix.hotShare == 0) rng.shuffle(0 until keys).take(eventsPerBatch)
        else IndexedSeq.fill(eventsPerBatch)(if (rng.chance(mix.hotShare)) rng.int(keys / 10) else rng.int(keys))
      val evs = ids.map { id =>
        val ev = Ev(id, seq, rng.int(4))
        seq += 1
        event(b, rng, ev, nowMs - rng.int(10 * 86400) * 1000L)
        ev
      }
      val (p, n) = write(s"batch-$bi.ndjson", b)
      (p, n, evs)
    }
    url = Harness.derbyUrl("bulk")
    engine = Engine(spark, url, DerbyDialect)
    var error = ""
    val ok = h.load("engine.complete", keys, snapBytes) {
      val st = engine.createStream(table, cfg)
      st.consumeDataset(spark.read.textFile(snapPath.toString))
      val state = st.complete()
      error = state.error.toString
      state.status == "ok"
    }
    require(ok, s"snapshot load failed: $error")
  }

  /** Apply one batch to the expected state: per key the highest version
    * wins, ties to the later event; the winner replaces the in-window row. */
  private def expect(evs: IndexedSeq[Ev]): Int = {
    val win = mutable.Map.empty[Int, Ev]
    evs.foreach(e => if (win.get(e.id).forall(w => e.version >= w.version)) win(e.id) = e)
    win.values.foreach(e => recent(e.id) = e.seq)
    win.size
  }

  private def runBatch(i: Int): Boolean = {
    val (path, bytes, evs) = batches(i % batches.length)
    var ok = false
    val recorded = h.load("engine.complete", evs.length, bytes) {
      val st = engine.createStream(table, cfg)
      st.consumeDataset(spark.read.textFile(path.toString))
      val state = st.complete()
      val want = expect(evs)
      ok = state.status == "ok" && state.rows == want
      if (!ok) loadMisses :+= s"batch $i: status=${state.status} rows=${state.rows} want=$want ${state.error}"
      state.status == "ok"
    }
    recorded && ok
  }

  private var next = 0

  def warmUp(): Unit = h.warm(2) { runBatch(next); next += 1 }

  def window(seconds: Double): Unit = {
    columnsAtStart = Harness.columnTypes(url, table.toUpperCase).size
    val t0 = System.nanoTime()
    firstStartNs = t0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      if (runBatch(next)) loaded += eventsPerBatch
      next += 1
    }
    lastEndNs = System.nanoTime()
  }

  def check(): Seq[String] = {
    val rows = Harness.query(url, s"""SELECT "ID", "SEQ" FROM "${table.toUpperCase}"""")
    val got = rows.map(r => (r(0).toString.stripPrefix("k").toInt, r(1).asInstanceOf[Number].longValue))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val want = (recent.keySet ++ old.keySet).map(k =>
      k -> (recent.get(k).toSeq ++ old.get(k).toSeq).sorted.toVector).toMap
    val bad = want.keySet.union(got.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
    val tableMisses = bad.take(5).map(k => s"key k$k: table has ${got.get(k)} want ${want.get(k)}") ++
      (if (bad.size > 5) Seq(s"... ${bad.size} keys differ") else Nil)
    if (tableMisses.nonEmpty) loaded = 0
    loadMisses ++ tableMisses
  }

  def verifiedEvents: Long = loaded
  def windowSeconds: Double = (lastEndNs - firstStartNs) / 1e9

  def layerMetrics: Metrics = {
    val m = new Metrics
    val cols = Harness.columnTypes(url, table.toUpperCase)
    m.put("shape.columns_out", cols.size, "count")
    m.put("shape.string_columns", cols.values.count(_.startsWith("VARCHAR")), "count")
    m.put("sink.columns_added", cols.size - columnsAtStart, "count")
    m
  }

  private val Events = IndexedSeq("Order Completed", "Product Viewed", "Signed Up", "Page Viewed")
  private val Plans = IndexedSeq("free", "pro", "team", "enterprise")
}

object BulkMerge {
  /** A bulk workload's traffic: `keys` primary keys, `eventsPerBatch`
    * events per batch, and `hotShare` of them on a hot tenth of the keys;
    * with `hotShare` 0 a batch holds each of its keys once. */
  final case class Mix(keys: Int, eventsPerBatch: Int, hotShare: Double)

  /** `bulk_merge`: pk duplicates within and across batches; about two
    * thirds of a batch's events collapse in the in-batch dedup. */
  val Duplicates = Mix(keys = 1000, eventsPerBatch = 1500, hotShare = 0.6)

  /** `bulk_unique`: no pk duplicates within a batch, as in the reference's
    * `bigdata_test.go` (unique ids); each batch replaces every key once. */
  val Unique = Mix(keys = 1000, eventsPerBatch = 1000, hotShare = 0.0)
}
