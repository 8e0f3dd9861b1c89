package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.{SparkEntry, SparkSuite}

/** The query runner keeps each query's conf on its own session: two queries
  * started at once on one parent session each plan at their own shuffle
  * width — the narrowed one's lazily returned frame included — and the
  * parent's conf is never written. */
class RunnerSpec extends SparkSuite {
  private val Width = "spark.sql.shuffle.partitions"
  private val sf = "/root/testdata/sf0.001"

  /** Partition counts of the hash exchanges `df` plans. */
  private def hashWidths(df: DataFrame): Set[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning => h.numPartitions }.toSet
  }

  test("a narrowed and a full-width query run at once on one parent, each at its own width") {
    val parent = spark.newSession()
    parent.conf.set(Width, "7")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) { seen.add(parent.conf.get(Width)); Thread.sleep(2) })
    poller.start()
    def start(name: String): (Thread, () => Set[Int]) = {
      @volatile var widths = Set.empty[Int]
      @volatile var failure: Throwable = null
      val t = new Thread(() =>
        try widths = hashWidths(SparkEntry.queries(name)(parent, sf))
        catch { case e: Throwable => failure = e })
      t.start()
      (t, () => { t.join(); if (failure != null) throw failure; widths })
    }
    try {
      val (_, narrowed) = start("q_stream_hll")
      val (_, full) = start("q1_agg")
      val (n, f) = (narrowed(), full())
      assert(n.nonEmpty && f.nonEmpty, s"no hash exchange planned: $n, $f")
      assert(n == Set(Tuning.controlShuffle), "the narrowed query's returned frame")
      assert(f == Set(7), "the full-width query")
    } finally { running = false; poller.join() }
    assert(seen.contains("7") && seen.size == 1, s"parent width while running: $seen")
    assert(parent.conf.get(Width) == "7")
  }
}
