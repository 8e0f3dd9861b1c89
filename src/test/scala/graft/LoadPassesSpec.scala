package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler._
import graft.sql.DerbyDialect
import graft.sink.{JdbcSink, TableCache}

/** What one `complete()` costs in Spark work, per mode, over a file-backed
  * batch: the jobs it launches, how many times it reads the raw input
  * (stage `bytesRead` ÷ file size), and that `LoadState.rows` is the rows
  * written — taken from the write, not from re-running the pipeline.
  *
  * A read of the batch is: (1) JSON schema inference, (2) the string-class
  * scan, (3) the write (which runs parse → shape → dedup). Besides these
  * three, only a dedup or stream-mode shuffle adds a job.
  *
  * A small batch held on the driver (`consume()`, or `consumeDataset` of a
  * driver-built Dataset) runs none of (1)–(3) as a job: it is shaped and
  * inserted on the driver. Only a dedup's shuffle still needs Spark. */
class LoadPassesSpec extends SparkSuite {

  /** Counts the jobs of one job group and the input bytes of their stages. */
  private final class GroupCounter(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val jobsEnded = new AtomicInteger
    val bytesRead = new AtomicLong
    private val stages = TrieMap.empty[Int, Boolean] // stage id → completed
    private val ours = TrieMap.empty[Int, Unit]      // job ids of the group

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(p => p.getProperty("spark.jobGroup.id") == group)) {
        jobs.incrementAndGet()
        ours(j.jobId) = ()
      }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (ours.contains(j.jobId)) jobsEnded.incrementAndGet()
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      if (Option(s.properties).exists(p => p.getProperty("spark.jobGroup.id") == group))
        stages(s.stageInfo.stageId) = false
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stages.contains(s.stageInfo.stageId)) {
        bytesRead.addAndGet(s.stageInfo.taskMetrics.inputMetrics.bytesRead)
        stages(s.stageInfo.stageId) = true
      }

    /** Wait for the listener bus to deliver every event of the group. */
    def settle(): Unit = {
      val until = System.currentTimeMillis() + 20000
      def done = jobsEnded.get == jobs.get && stages.values.forall(identity)
      while (!done && System.currentTimeMillis() < until) Thread.sleep(20)
      Thread.sleep(200) // a straggling job start would land here
      assert(done, "listener events did not settle")
    }
  }

  private final case class Cost(jobs: Int, rawReads: Double, state: streaming.LoadState)

  private val groups = new AtomicInteger

  /** One `complete()` of a stream fed by `feed`: its jobs, the input bytes
    * its stages read, and its state. */
  private def run(db: String, table: String, cfg: StreamConfig)(
      feed: BulkerStream => Unit): (Int, Long, streaming.LoadState) = {
    val group = s"load-passes-${groups.incrementAndGet()}"
    val counter = new GroupCounter(group)
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    try {
      val engine = new Engine(spark, JdbcSink(s"jdbc:derby:memory:passes_$db;create=true", DerbyDialect))
      val st = engine.createStream(table, cfg)
      feed(st)
      sc.setJobGroup(group, "LoadPassesSpec")
      val state = try st.complete() finally sc.clearJobGroup()
      counter.settle()
      (counter.jobs.get, counter.bytesRead.get, state)
    } finally sc.removeSparkListener(counter)
  }

  /** One `complete()` over `lines` written to a file, with its cost. */
  private def load(db: String, table: String, cfg: StreamConfig, lines: Seq[String]): Cost = {
    val file = Files.createTempFile("passes_", ".ndjson")
    Files.write(file, lines.mkString("", "\n", if (lines.isEmpty) "" else "\n").getBytes("UTF-8"))
    val size = Files.size(file)
    try {
      val (jobs, bytesRead, state) =
        run(db, table, cfg)(_.consumeDataset(spark.read.textFile(file.toString)))
      Cost(jobs, if (size == 0) 0.0 else bytesRead.toDouble / size, state)
    } finally Files.delete(file)
  }

  /** 60 events on 40 keys: the in-batch dedup drops 20. */
  private val batch: Seq[String] = (0 until 60).map { i =>
    s"""{"id":${i % 40},"seq":$i,"name":"n$i","at":"2024-01-02 03:04:${"%02d".format(i % 60)}",""" +
      s""""flag":${i % 2 == 0},"props":{"k":"v$i","n":$i}}"""
  }

  private def assertCost(c: Cost, jobs: Int, reads: Int, rows: Long): Unit = {
    assert(c.state.status == "ok", c.state.error)
    assert(c.state.rows == rows)
    assert(c.jobs == jobs)
    assert(math.abs(c.rawReads - reads) < 0.05, s"raw reads ${c.rawReads}")
  }

  test("batch + pk + dedup: 3 raw reads, rows = distinct keys written") {
    TableCache.clear()
    val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true)
    assertCost(load("dedup", "pd", cfg, batch), jobs = 4, reads = 3, rows = 40)
    // the second load merges into the live table at the same cost
    assertCost(load("dedup", "pd", cfg, batch.take(30)), jobs = 4, reads = 3, rows = 30)
  }

  test("batch append (no pk): 3 raw reads, rows = events written") {
    TableCache.clear()
    assertCost(load("append", "pa", StreamConfig(mode = Engine.Batch), batch),
      jobs = 3, reads = 3, rows = 60)
  }

  test("stream mode: 3 raw reads, rows = upserted keys") {
    TableCache.clear()
    assertCost(load("stream", "ps", StreamConfig(mode = Engine.Stream, pk = Seq("id")), batch),
      jobs = 4, reads = 3, rows = 40)
  }

  test("replace_table: 3 raw reads, rows = the new generation") {
    TableCache.clear()
    val cfg = StreamConfig(mode = Engine.ReplaceTable)
    assertCost(load("rt", "prt", cfg, batch), jobs = 3, reads = 3, rows = 60)
    assertCost(load("rt", "prt", cfg, batch.take(10)), jobs = 3, reads = 3, rows = 10)
  }

  test("replace_partition: 3 raw reads, rows = the partition's rows") {
    TableCache.clear()
    val cfg = StreamConfig(mode = Engine.ReplacePartition, partitionId = Some("p1"))
    assertCost(load("rp", "prp", cfg, batch), jobs = 3, reads = 3, rows = 60)
  }

  test("events fed one by one through consume(): an append is 0 jobs") {
    TableCache.clear()
    for (events <- Seq(batch, batch.take(25))) { // create, then append to the live table
      val (jobs, _, state) = run("consume", "pc", StreamConfig(mode = Engine.Batch))(st =>
        events.foreach(st.consume))
      assert(state.status == "ok", state.error)
      assert(state.rows == events.length)
      assert(jobs == 0)
    }
  }

  test("a driver-held Dataset through consumeDataset(): an append is 0 jobs") {
    TableCache.clear()
    import spark.implicits._
    for (events <- Seq(batch, batch.take(25))) {
      val (jobs, _, state) = run("local", "pl", StreamConfig(mode = Engine.Batch))(
        _.consumeDataset(spark.createDataset(events)))
      assert(state.status == "ok", state.error)
      assert(state.rows == events.length)
      assert(jobs == 0)
    }
  }

  test("consume() above the driver gate keeps the distributed append: 3 jobs") {
    TableCache.clear()
    val pad = "p" * 9000
    val big = batch.map(e => e.dropRight(1) + s""","pad":"$pad"}""")
    assert(big.map(_.length).sum > graft.shape.Ingest.DriverMaxChars)
    val (jobs, _, state) = run("gate", "pg", StreamConfig(mode = Engine.Batch))(st =>
      big.foreach(st.consume))
    assert(state.status == "ok", state.error)
    assert(state.rows == big.length)
    assert(jobs == 3)
  }

  test("consume() with a pk dedup: shaping runs no job, the dedup write runs 2") {
    TableCache.clear()
    val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true)
    val (jobs, _, state) = run("cdedup", "pcd", cfg)(st => batch.foreach(st.consume))
    assert(state.status == "ok", state.error)
    assert(state.rows == 40)
    // the dedup's exchange and the write after it; the file-backed load
    // above runs these 2 after inference and the string-class scan
    assert(jobs == 2)
  }

  test("a hint-carrying batch through consume(): 0 jobs, the distributed hints and DDL") {
    TableCache.clear()
    import spark.implicits._
    val hinted = batch.take(10).map(e => e.dropRight(1) +
      ""","__sql_type_name":["string","VARCHAR(64)"],"__sql_type_props":"json"}""")
    val (jobs, _, state) = run("hints", "ph", StreamConfig(mode = Engine.Batch))(st =>
      hinted.foreach(st.consume))
    assert(state.status == "ok", state.error)
    assert(jobs == 0)
    val dist = load("hints", "phd", StreamConfig(mode = Engine.Batch), hinted)
    assert(dist.state.status == "ok", dist.state.error)
    assert(graft.shape.Ingest.shape(spark, hinted.toDS()).hints ==
      graft.shape.Ingest.shape(spark, spark.createDataset(spark.sparkContext.parallelize(hinted, 4))).hints)
    def ddl(table: String) = JdbcSink(s"jdbc:derby:memory:passes_hints", DerbyDialect)
      .withConnection { c =>
        val rs = c.getMetaData.getColumns(null, null, table, null)
        Iterator.continually(rs).takeWhile(_.next()).map(r =>
          r.getString("COLUMN_NAME") -> s"${r.getString("TYPE_NAME")}(${r.getInt("COLUMN_SIZE")})").toList
      }
    assert(ddl("PH").contains("NAME" -> "VARCHAR(64)"))
    assert(ddl("PH") == ddl("PHD"))
  }

  test("an empty batch into a live table returns rows 0") {
    TableCache.clear()
    for ((cfg, i) <- Seq(
        StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true),
        StreamConfig(mode = Engine.Batch),
        StreamConfig(mode = Engine.Stream, pk = Seq("id"))).zipWithIndex) {
      assert(load("empty", s"pe$i", cfg, batch).state.status == "ok")
      val c = load("empty", s"pe$i", cfg, Nil)
      assert(c.state.status == "ok" && c.state.rows == 0, c.state)
    }
  }
}
