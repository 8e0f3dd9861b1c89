package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSuite

/** RocksDB state store — the bounded-memory backend for corpus-scale
  * streaming state (state spills to local disk + block cache instead of
  * living wholly in executor heap). The backend must be result-invisible:
  * the same stateful query yields byte-identical output under both
  * providers, and the RocksDB run must PROVE it used RocksDB (custom state
  * metrics in the progress events), not silently fall back. */
class RocksDbStateSpec extends SparkSuite {

  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Watermarked dedup over two micro-batches with a redelivered overlap;
    * returns (output rows, rocksdb-metrics-present). */
  private def run(provider: Option[String]): (Seq[(Long, Long)], Boolean) = {
    val base = java.nio.file.Files.createTempDirectory("graft_rocks_").toString
    import spark.implicits._
    Seq((1L, 1000L), (2L, 2000L), (3L, 3000L)).toDF("id", "ts_ms")
      .coalesce(1).write.parquet(s"$base/input/b0")
    Seq((3L, 3000L), (4L, 4000L)).toDF("id", "ts_ms") // 3 redelivered
      .coalesce(1).write.parquet(s"$base/input/b1")
    val schema = StructType.fromDDL("id BIGINT, ts_ms BIGINT")
    val prev = spark.conf.getOption(ProviderKey)
    provider.foreach(spark.conf.set(ProviderKey, _))
    try {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/input/*")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("id")
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val usedRocks = q.recentProgress.exists(_.stateOperators.exists(
        _.customMetrics.keySet().stream().anyMatch(_.startsWith("rocksdb"))))
      val rows = spark.read.parquet(s"$base/out")
        .select("id", "ts_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      (rows, usedRocks)
    } finally prev match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  test("RocksDB provider yields identical dedup output and really runs RocksDB") {
    val (hdfsRows, hdfsUsedRocks) = run(None)
    val (rocksRows, rocksUsedRocks) = run(Some(Rocks))
    assert(!hdfsUsedRocks, "default provider unexpectedly reported rocksdb metrics")
    assert(rocksUsedRocks, "RocksDB provider not engaged — silent fallback?")
    assert(rocksRows == hdfsRows, s"backend changed results: $rocksRows vs $hdfsRows")
    assert(rocksRows == Seq((1L, 1000L), (2L, 2000L), (3L, 3000L), (4L, 4000L)))
  }

  test("provider conf set at start is restored after the registry query") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.GraftExpressions
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[QueryProgressEvent]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => progress.add(p)
        case _ => ()
      }
    }
    val prev = spark.conf.getOption(ProviderKey)
    // the caller names a provider of its own: the query's RocksDB conf must
    // win on the query's clone and leave the caller's value alone
    spark.conf.set(ProviderKey, hdfs)
    GraftExpressions.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.queries.Registry.all("q_stream_dedup_rocks").run(spark, "/root/testdata/sf0.001").count()
      GraftExpressions.drainListenerBus(spark)
      assert(!progress.isEmpty, "q_stream_dedup_rocks reported no progress")
      assert(progress.asScala.exists(_.progress.stateOperators.exists(
        _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))),
        "the caller's provider overrode the query's RocksDB conf")
      assert(spark.conf.get(ProviderKey) == hdfs)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prev match {
        case Some(p) => spark.conf.set(ProviderKey, p)
        case None    => spark.conf.unset(ProviderKey)
      }
    }
  }

  test("q_stream_dedup_rocks through the runner runs RocksDB; the caller's provider is untouched") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.GraftExpressions
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[QueryProgressEvent]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent => progress.add(p)
        case _ => ()
      }
    }
    /** Whether the named query, run through `Q.run`, reported rocksdb* metrics. */
    def reportsRocks(name: String): Boolean = {
      GraftExpressions.drainListenerBus(spark)
      progress.clear()
      graft.queries.Registry.all(name).run(spark, "/root/testdata/sf0.001").count()
      GraftExpressions.drainListenerBus(spark)
      assert(!progress.isEmpty, s"$name reported no progress")
      progress.asScala.exists(_.progress.stateOperators.exists(
        _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))))
    }
    // the caller's provider: Spark's default (HDFS-backed), never RocksDB
    val before = spark.conf.getOption(ProviderKey)
    assert(!before.contains(Rocks))
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(reportsRocks("q_stream_dedup_rocks"), "RocksDB provider not engaged under run")
      assert(spark.conf.getOption(ProviderKey) == before)
      assert(!reportsRocks("q_stream_dedup"), "default-provider query reported rocksdb metrics")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.conf.getOption(ProviderKey) == before)
  }
}
