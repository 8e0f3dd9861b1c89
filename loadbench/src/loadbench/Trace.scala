package loadbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Books a driver stack to one program layer, from the outside: the
  * innermost `graft.` frame (and the sink method it runs under) names the
  * layer whose public function is executing. */
object Layers {
  def classify(frames: Seq[(String, String)]): String = {
    val graft = frames.filter(_._1.startsWith("graft."))
    def under(cls: String, method: String) = graft.exists { case (c, m) =>
      c.stripSuffix("$") == cls && (m == method || m.contains("$" + method + "$")) }
    // graft.sql / graft.core are helpers: book them to their caller's layer
    graft.find { case (c, _) => !c.startsWith("graft.sql.") && !c.startsWith("graft.core.") } match {
      // a registry query's DataFrame runs its jobs when the corpus pass collects it
      case None => if (frames.exists(_._1.startsWith("loadbench.CorpusDedup"))) "llm" else "other"
      case Some((c, _)) =>
        if (c.startsWith("graft.sink.")) {
          if (under("graft.sink.JdbcSink", "append") || under("graft.sink.JdbcSink", "appendTo") ||
              under("graft.sink.JdbcSink", "streamUpsert")) "sink.stage"
          else if (under("graft.sink.JdbcSink", "inTx")) "sink.merge"
          else if (under("graft.sink.JdbcSink", "existingColumns") ||
                   under("graft.sink.JdbcSink", "ensureTable") ||
                   under("graft.sink.JdbcSink", "ensureTableCached") ||
                   c.startsWith("graft.sink.DdlLock") || c.startsWith("graft.sink.TableCache") ||
                   c.startsWith("graft.sink.SchemaEvolution")) "sink.catalog"
          else "sink.stage" // staging-table create/drop around the write
        }
        else if (c.startsWith("graft.shape.")) "shape"
        else if (c.startsWith("graft.ops.")) "ops"
        else if (c.startsWith("graft.queries.") || c.startsWith("graft.llm.") ||
                 c.startsWith("graft.functions.")) "llm"
        else if (c.startsWith("graft.http.")) "http"
        else "engine"
    }
  }

  def ofStack(st: Array[StackTraceElement]): String =
    classify(st.toSeq.map(f => (f.getClassName, f.getMethodName)))

  /** Spark's long call-site form: one `cls.method(File.scala:N)` per line. */
  def ofCallSite(details: String): String =
    classify(Option(details).toSeq.flatMap(_.split("\n")).flatMap { line =>
      val head = line.trim.takeWhile(_ != '(')
      val dot = head.lastIndexOf('.')
      if (dot <= 0) None else Some(head.take(dot) -> head.drop(dot + 1))
    })
}

/** Spark-side counters per job and stage, each booked to the layer whose
  * call launched it (SQL executions carry their caller's stack in
  * `details`; plain RDD jobs carry it on their stages). */
final class SparkCounters extends SparkListener {
  final case class Job(layer: String, submitMs: Long)
  final case class Stage(layer: String, submitMs: Long, endMs: Long,
                         inputBytes: Long, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, recordsWritten: Long, cpuNs: Long, tasks: Int)

  private val execLayer = TrieMap.empty[Long, String]
  private val stageLayer = TrieMap.empty[Int, String]
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execLayer(s.executionId) = Layers.ofCallSite(s.details)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val viaSql = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execLayer.get(id.toLong))
    val layer = viaSql.getOrElse(
      j.stageInfos.headOption.map(s => Layers.ofCallSite(s.details)).getOrElse("other"))
    j.stageIds.foreach(stageLayer(_) = layer)
    jobs.add(Job(layer, j.time))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val si = s.stageInfo
    val tm = si.taskMetrics
    if (tm != null) stages.add(Stage(stageLayer.getOrElse(si.stageId, "other"),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      tm.inputMetrics.bytesRead, tm.shuffleReadMetrics.totalBytesRead,
      tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled,
      tm.outputMetrics.recordsWritten, tm.executorCpuTime, si.numTasks))
  }

  /** Wait until every started job has ended and its events are booked. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < until &&
           (started.get != ended.get || last != stages.size)) {
      last = stages.size
      Thread.sleep(100)
    }
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.asScala.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq
  def stagesIn(fromMs: Long, toMs: Long): Seq[Stage] =
    stages.asScala.filter(s => s.submitMs >= fromMs && s.submitMs <= toMs).toSeq
}

/** Samples one driver thread's stack every few milliseconds and books the
  * time between samples to the layer on top (see [[Layers]]). Only time
  * inside an open span counts. */
final class StackSampler(target: Thread, periodMs: Long = 4) extends Thread("loadbench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var active = false
  private val nanos = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile var selfCpuNs = 0L

  def snapshot(): Map[String, Long] = nanos.synchronized(nanos.toMap)

  override def run(): Unit = {
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    var last = System.nanoTime()
    while (running) {
      val layer = if (active) Some(Layers.ofStack(target.getStackTrace)) else None
      val now = System.nanoTime()
      layer.foreach(l => nanos.synchronized(nanos(l) += now - last))
      last = now
      selfCpuNs = tmx.getCurrentThreadCpuTime
      Thread.sleep(periodMs)
    }
  }

  def halt(): Unit = { running = false; join(1000) }
}

/** A load unit's span, kept in memory and written out when the benchmark
  * ends; its layers' sampled self times ride along as attributes. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def json(originNs: Long): String = Json.obj(Seq(
    "id" -> id.toString, "name" -> Json.str(name),
    "start_s" -> Json.num((startNs - originNs) / 1e9), "end_s" -> Json.num((endNs - originNs) / 1e9)) ++
    attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
}

final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  def add(name: String, startNs: Long, endNs: Long, attrs: Map[String, Double]): Unit =
    buf.add(Span(ids.incrementAndGet(), name, startNs, endNs, attrs))
  def write(path: java.nio.file.Path, originNs: Long): Unit =
    java.nio.file.Files.write(path, buf.asScala.toSeq.sortBy(_.id).map(_.json(originNs))
      .mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
}

/** Whole-process counters: GC, heap peak, Spark tasks and executor CPU. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Plans the session's cache manager still holds (the persisted-RDD
    * count where its private list cannot be read). */
  def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch { case _: ReflectiveOperationException => spark.sparkContext.getPersistentRDDs.size }
  }
}
