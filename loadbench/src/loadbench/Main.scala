package loadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and prints its result as the last line
  * of standard output (see README.md for the metric definitions). */
object Main {
  /** Per-layer metrics of the traced run, in report order, with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.complete_s" -> "s", "engine.jobs" -> "count", "engine.stages" -> "count",
    "engine.raw_passes" -> "ratio", "engine.driver_only_s" -> "s", "engine.queue_wait_s_p50" -> "s",
    "engine.cached_plans_left" -> "count", "engine.loads_failed" -> "count", "engine.unexplained_s" -> "s",
    "shape.s" -> "s", "shape.jobs" -> "count", "shape.raw_passes" -> "ratio",
    "shape.columns_out" -> "count", "shape.string_columns" -> "count",
    "ops.dedup_s" -> "s", "ops.dedup_rows_in" -> "count", "ops.dedup_rows_out" -> "count",
    "ops.dedup_shuffle_bytes" -> "bytes",
    "sink.catalog_s" -> "s", "sink.catalog_misses" -> "count", "sink.columns_added" -> "count",
    "sink.stage_s" -> "s", "sink.merge_s" -> "s", "sink.merge_s_max" -> "s", "sink.rows_written" -> "count",
    "http.requests" -> "count", "http.non2xx" -> "count", "http.spool_s" -> "s",
    "http.edge_success" -> "count", "http.ms_p50" -> "ms", "http.ms_p99" -> "ms",
    "http.send_late_ms_max" -> "ms", "edge.freshness_s_p50" -> "s", "edge.freshness_s_p99" -> "s",
    "llm.clean_corpus_s" -> "s", "llm.dedup_cluster_exact_s" -> "s", "llm.dedup_survivor_s" -> "s",
    "llm.jobs" -> "count", "llm.stages" -> "count", "llm.input_bytes" -> "bytes",
    "llm.shuffle_bytes" -> "bytes", "llm.spill_bytes" -> "bytes", "llm.cached_plans_left" -> "count",
    "llm.output_rows" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "run.load_s_p50" -> "s", "run.load_s_tail" -> "s", "run.load_s_tail_pct" -> "%", "run.loads" -> "count",
    "run.failed_frac" -> "ratio", "run.events_per_s" -> "events/s", "run.sampler_cpu_frac" -> "ratio")

  val SetupReps = 3
  val DeadlineS = 60.0

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = Opts.parse(args)
    val cpus = Host.cpus
    val loadBefore = Host.loadAvg
    val work = Paths.get(opts.work).toAbsolutePath
    val results = Paths.get(opts.results).toAbsolutePath
    Files.createDirectories(work); Files.createDirectories(results)

    val spark = SparkSession.builder().master(s"local[$cpus]").appName("loadbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect() // first job: scheduler and codegen warm
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val h = new Harness(spark, opts, results, DeadlineS)
    val w: Workload = opts.workload match {
      case "bulk_merge"   => new BulkMerge(spark, h, work, opts.seed, BulkMerge.Duplicates)
      case "bulk_unique"  => new BulkMerge(spark, h, work, opts.seed, BulkMerge.Unique)
      case "edge_drift"   => new EdgeDrift(spark, h, opts.seed, cpus)
      case "corpus_dedup" => new CorpusDedup(spark, h, work, opts.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // a stalled load holds warehouse locks, so no output check can run:
    // report the failure with what the booked loads show, and halt without
    // waiting for it
    h.watch(file => {
      report(h, w, Seq(s"load stalled past ${DeadlineS}s; stacks in $file"),
        extra = stalled(h), loadBefore = loadBefore)
      Runtime.getRuntime.halt(0)
    })
    h.sampleLoadsOn(Thread.currentThread())

    val repS = (0 until SetupReps).map(r => h.time(w.setup(r))._2)
    val warmS = h.time(w.warmUp())._2
    val setupS = sessionS + Stats.median(repS) + warmS

    val gc0 = Jvm.gcMs
    Jvm.resetHeapPeak()
    val cpu0 = Host.processCpuNs
    val samplerCpu0 = h.samplerCpuNs
    h.recording = true
    val winStartMs = System.currentTimeMillis()
    w.window(opts.seconds)
    h.recording = false
    val winEndMs = System.currentTimeMillis()
    val samplerCpuNs = h.samplerCpuNs - samplerCpu0
    val cpuNs = Host.processCpuNs - cpu0 - w.clientCpuNs - samplerCpuNs
    h.stopSampler()
    val gcS = (Jvm.gcMs - gc0) / 1000.0
    val misses = w.check()

    val e2e = new Metrics
    e2e.put("setup_s", setupS, "s")
    e2e.put("events_per_s", w.verifiedEvents / math.max(w.windowSeconds, 1e-9), "events/s")
    e2e.put("load_s_p50", Stats.median(h.loads.map(_.seconds).toSeq), "s")
    e2e.put("cpu_ms_per_kevent", cpuNs / 1e6 / math.max(h.loads.map(_.events).sum / 1000.0, 1e-9), "ms")
    val extra = new Metrics
    if (opts.trace) extra ++= layers(h, w, spark, winStartMs, winEndMs, gcS, samplerCpuNs, e2e)
    extra.put("setup.session_s", sessionS, "s")
    extra.put("setup.rep_s_median", Stats.median(repS), "s")
    extra.put("setup.warmup_s", warmS, "s")
    report(h, w, misses, e2e, extra, loadBefore)
    // everything the run started lives in this JVM: end it without waiting
    // on Spark's shutdown hooks (the work directory is removed by run.py)
    Runtime.getRuntime.halt(0)
  }

  private val reported = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Print the host context and the result line (once), and save both.
    * Only metrics that were computed are printed. */
  def report(h: Harness, w: Workload, misses: Seq[String],
             e2e: Metrics = new Metrics, extra: Metrics = new Metrics,
             loadBefore: Double = Double.NaN): Unit = if (reported.compareAndSet(false, true)) {
    val opts = h.opts
    val loads = h.loads.synchronized(h.loads.toVector)
    val attempted = math.max(1L, loads.size + w.extraAttempted + (if (misses.nonEmpty) 1 else 0))
    val failed = loads.count(!_.ok) + w.extraFailed + misses.size
    misses.foreach(m => System.err.println(s"[loadbench] check: $m"))
    val shown = new Metrics
    if (!opts.trace) shown ++= e2e
    else PerLayer.foreach { case (n, u) => extra.get(n).foreach(shown.put(n, _, u)) }
    val host = Host.context(loadBefore, Host.loadAvg)
    val result = Json.obj(Seq(
      "correct" -> (misses.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> shown.json))
    val tag = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    val all = new Metrics; all ++= e2e; all ++= extra
    Files.write(h.results.resolve(s"$tag.json"), Json.obj(Seq(
      "host" -> host, "result" -> result, "all_metrics" -> all.json,
      "load_s" -> loads.map(l => Json.num(l.seconds)).mkString("[", ", ", "]"),
      "misses" -> misses.map(Json.str).mkString("[", ", ", "]"))).getBytes("UTF-8"))
    if (opts.trace) h.spans.write(h.results.resolve(s"$tag-spans.json"), h.originNs)
    println(s"host: $host")
    println(result)
    System.out.flush()
  }

  /** Per-layer numbers from the recorded loads, the Spark counters and the
    * stack sampler. Times and counts are per load unit unless named as
    * totals (`*_max`, `*_misses`, `http.*`, `spark.*`, `jvm.*`). */
  private def layers(h: Harness, w: Workload, spark: SparkSession, fromMs: Long, toMs: Long,
                     gcS: Double, samplerCpuNs: Long, e2e: Metrics): Metrics = {
    val m = new Metrics
    val c = h.counters.get
    c.settle()
    val loads = h.loads.toVector
    val n = math.max(loads.size, 1).toDouble
    def perLoad(f: Load => Double) = loads.map(f).sum / n
    def self(l: Load, k: String) = l.layerNs.getOrElse(k, 0L) / 1e9
    val jobsOf = loads.map(l => l -> c.jobsIn(l.startMs, l.endMs)).toMap
    val stagesOf = loads.map(l => l -> c.stagesIn(l.startMs, l.endMs)).toMap
    val raw = loads.map(_.rawBytes).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val isCorpus = h.opts.workload == "corpus_dedup"
    val cached = Jvm.cachedPlans(spark).toDouble

    m.put("engine.complete_s", perLoad(_.seconds), "s")
    m.put("engine.jobs", perLoad(l => jobsOf(l).size), "count")
    m.put("engine.stages", perLoad(l => stagesOf(l).size), "count")
    m.put("engine.raw_passes", ratio(stagesOf.values.flatten.map(_.inputBytes).sum, raw), "ratio")
    m.put("engine.driver_only_s", perLoad { l =>
      val spans = stagesOf(l).map(s => (math.max(s.submitMs, l.startMs), math.min(s.endMs, l.endMs)))
        .filter(s => s._2 > s._1).sortBy(_._1)
      val covered = spans.foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - math.max(a, end), b) }._1
      math.max(0.0, l.seconds - covered / 1000.0)
    }, "s")
    m.put("engine.queue_wait_s_p50", 0.0, "s")
    m.put(if (isCorpus) "llm.cached_plans_left" else "engine.cached_plans_left", cached, "count")
    m.put("engine.loads_failed", loads.count(!_.ok), "count")
    val booked = Seq("shape", "ops", "sink.catalog", "sink.stage", "sink.merge")
    m.put("engine.unexplained_s", if (isCorpus) 0.0 else perLoad(l => l.seconds - booked.map(self(l, _)).sum), "s")

    m.put("shape.s", perLoad(self(_, "shape")), "s")
    m.put("shape.jobs", perLoad(l => jobsOf(l).count(_.layer == "shape")), "count")
    m.put("shape.raw_passes", ratio(stagesOf.values.flatten.filter(_.layer == "shape").map(_.inputBytes).sum, raw), "ratio")

    // the staging write is where the pk exchange of the in-batch dedup runs
    val dedups = h.opts.workload.startsWith("bulk_")
    def staging(l: Load) = stagesOf(l).filter(_.layer == "sink.stage")
    if (dedups) {
      m.put("ops.dedup_s", perLoad(l => staging(l).filter(_.shuffleWrite > 0)
        .map(s => (s.endMs - s.submitMs) / 1000.0).sum), "s")
      m.put("ops.dedup_rows_in", perLoad(_.events), "count")
      m.put("ops.dedup_rows_out", perLoad(l => staging(l).map(_.recordsWritten).sum), "count")
      m.put("ops.dedup_shuffle_bytes", perLoad(l => staging(l).map(_.shuffleWrite).sum), "bytes")
    }
    m.put("sink.catalog_s", perLoad(self(_, "sink.catalog")), "s")
    m.put("sink.catalog_misses", loads.map(_.catalogMisses).sum, "count")
    m.put("sink.stage_s", perLoad(self(_, "sink.stage")), "s")
    m.put("sink.merge_s", perLoad(self(_, "sink.merge")), "s")
    m.put("sink.merge_s_max", if (loads.isEmpty) 0.0 else loads.map(self(_, "sink.merge")).max, "s")
    m.put("sink.rows_written", perLoad(l => staging(l).map(_.recordsWritten).sum), "count")

    if (isCorpus) {
      def llm(l: Load) = stagesOf(l).filter(_.layer == "llm")
      m.put("llm.jobs", perLoad(l => jobsOf(l).count(_.layer == "llm")), "count")
      m.put("llm.stages", perLoad(llm(_).size), "count")
      m.put("llm.input_bytes", perLoad(llm(_).map(_.inputBytes).sum), "bytes")
      m.put("llm.shuffle_bytes", perLoad(llm(_).map(_.shuffleWrite).sum), "bytes")
      m.put("llm.spill_bytes", perLoad(llm(_).map(_.spill).sum), "bytes")
    }

    val inWindow = c.stagesIn(fromMs, toMs)
    m.put("jvm.gc_s", gcS, "s")
    m.put("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB")
    m.put("spark.tasks", inWindow.map(_.tasks).sum, "count")
    m.put("spark.executor_cpu_s", inWindow.map(_.cpuNs).sum / 1e9, "s")

    val secs = loads.map(_.seconds)
    val pct = Stats.tailPercentile(secs.size)
    m.put("run.load_s_p50", e2e.get("load_s_p50").getOrElse(0.0), "s")
    m.put("run.load_s_tail", if (secs.isEmpty) 0.0 else pct.map(p => Stats.quantile(secs, p / 100)).getOrElse(secs.max), "s")
    m.put("run.load_s_tail_pct", pct.getOrElse(100.0), "%")
    m.put("run.loads", loads.size, "count")
    m.put("run.failed_frac", ratio(loads.count(!_.ok) + w.extraFailed, loads.size + w.extraAttempted), "ratio")
    m.put("run.events_per_s", e2e.get("events_per_s").getOrElse(0.0), "events/s")
    m.put("run.sampler_cpu_frac", ratio(samplerCpuNs / 1e9, (toMs - fromMs) / 1000.0), "ratio")
    m ++= w.layerMetrics
    // a layer the workload does not use did no work
    PerLayer.foreach { case (n, u) => if (m.get(n).isEmpty) m.put(n, 0.0, u) }
    m
  }

  /** What the booked loads show after a load stalled: the stalled one is
    * among them, failed, with the layer times sampled until its deadline. */
  private def stalled(h: Harness): Metrics = {
    val m = new Metrics
    val loads = h.loads.synchronized(h.loads.toVector)
    m.put("engine.loads_failed", loads.count(!_.ok), "count")
    m.put("run.loads", loads.size, "count")
    if (h.opts.trace && loads.nonEmpty) {
      val merge = loads.map(_.layerNs.getOrElse("sink.merge", 0L) / 1e9)
      m.put("sink.merge_s", merge.sum / loads.size, "s")
      m.put("sink.merge_s_max", merge.max, "s")
      m.put("engine.complete_s", loads.map(_.seconds).sum / loads.size, "s")
    }
    m
  }
}
