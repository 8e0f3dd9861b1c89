package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{DataKind, Tables}
import graft.ops.Dedup
import graft.sink.{JdbcSink, SchemaEvolution}
import graft.sql.{ColumnSpec, DerbyDialect, TableSpec}

/** Warehouse-sink operators exercised LIVE against embedded Derby (the JDBC
  * database that ships with Spark): real CREATE TABLE, ALTER TABLE ADD,
  * MERGE, and row-wise upserts — then read back through spark.read.jdbc and
  * hash-compared against the DuckDB oracle. Only the URL/dialect differ for
  * a real warehouse.
  *
  * Scale note: embedded Derby lives in the local JVM (fine under local[n];
  * a cluster uses a server URL). Bulk rows always travel through Spark's
  * distributed JDBC writer — the driver connection only runs DDL/MERGE text.
  */
object SinkOps {

  // low write fan-out: embedded Derby contends on page latches past a few
  // concurrent writer connections (see StreamOps note)
  private def derby(db: String) =
    JdbcSink(s"jdbc:derby:memory:$db;create=true", DerbyDialect, maxWriteConnections = 4)

  private def dropIfExists(sink: JdbcSink, table: String): Unit =
    try sink.withConnection(sink.exec(_, s"DROP TABLE \"$table\""))
    catch { case _: java.sql.SQLException => () }

  private def readBack(s: SparkSession, sink: JdbcSink, table: String): DataFrame =
    s.read.jdbc(sink.url, s"\"$table\"", new java.util.Properties())

  /** K7/T8/B3: dedup → auto-CREATE TABLE (with PK) → distributed append →
    * read back. The full vertical slice of the reference's batch mode. */
  def k7Roundtrip(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_k7")
    dropIfExists(sink, "EVENTS_DEDUP")
    val data = Dedup.inBatch(Tables.events(s, d), Seq("user_id", "event_type"),
        discriminators = Seq("ts_ns"), arrival = Some(col("event_id")))
      .select("user_id", "event_type", "event_id", "ts_ms", "value")
    val spec = sink.specFor(data, "events_dedup", pk = Seq("user_id", "event_type"))
    sink.ensureTable(spec)
    sink.append(data, spec.name)
    readBack(s, sink, "EVENTS_DEDUP").select(
      col("USER_ID").as("user_id"), col("EVENT_TYPE").as("event_type"),
      col("EVENT_ID").as("event_id"), col("TS_MS").as("ts_ms"), col("VALUE").as("value"))
  }

  private val k7Oracle = """
    SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1"""

  /** T6+T7: pure-DataFrame schema evolution — existing-type-wins casts with
    * `_unmapped_data` overflow, new column added (abstract.go:422-553). */
  def t7Evolution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val batch1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("id"), (col("event_id") * 2).as("m"))
    val batch2 = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("id"), col("event_type").as("m"), col("value").as("extra"))
    val existing = TableSpec("t", Seq(
      ColumnSpec("id", DataKind.Int64), ColumnSpec("m", DataKind.Int64)))
    val plan = SchemaEvolution.evolve(batch2, existing)
    batch1
      .withColumn("extra", lit(null).cast(DoubleType))
      .withColumn(SchemaEvolution.UnmappedColumn, lit(null).cast(StringType))
      .unionByName(plan.projected)
  }

  private val t7Oracle = """
    SELECT event_id AS id, event_id * 2 AS m, CAST(NULL AS DOUBLE) AS extra,
           CAST(NULL AS VARCHAR) AS _unmapped_data
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, TRY_CAST(event_type AS BIGINT), value,
           '{"m":"' || event_type || '"}'
    FROM events WHERE event_id % 2 = 1"""

  /** T7/T8 LIVE: batch 2 evolves against the REAL Derby catalog — live
    * column kinds read from JDBC metadata, ALTER TABLE ADD for the new
    * columns, unconvertible values into `_unmapped_data`. */
  def t8EvolutionLive(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_t8")
    dropIfExists(sink, "EVOLVE_T")
    val ev = Tables.events(s, d)
    val batch1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("id"), (col("event_id") * 2).as("m"))
    val spec1 = sink.specFor(batch1, "evolve_t")
    sink.ensureTable(spec1)
    sink.append(batch1, spec1.name)

    val batch2raw = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("id"), col("event_type").as("m"), col("value").as("extra"))
    val batch2 = sink.adapt(batch2raw) // dialect identifier form before diffing vs live
    val live = TableSpec("EVOLVE_T", sink.existingColumns("EVOLVE_T").get)
    val plan = SchemaEvolution.evolve(batch2, live)
    val evolved = live.copy(columns = live.columns ++ plan.newColumns
      :+ ColumnSpec(sink.dialect.adaptIdentifier(SchemaEvolution.UnmappedColumn), DataKind.Json))
    sink.ensureTable(evolved)
    sink.append(plan.projected, evolved.name)
    readBack(s, sink, "EVOLVE_T").select(
      col("ID").as("id"), col("M").as("m"), col("EXTRA").as("extra"),
      col("_UNMAPPED_DATA").as("unmapped"))
  }

  // unmapped keys carry the LIVE column names — uppercase under Derby's
  // identifier policy, exactly as Snowflake would (abstract.go:69-78)
  private val t8Oracle = """
    SELECT event_id AS id, event_id * 2 AS m, CAST(NULL AS DOUBLE) AS extra,
           CAST(NULL AS VARCHAR) AS unmapped
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, TRY_CAST(event_type AS BIGINT), value,
           '{"M":"' || event_type || '"}'
    FROM events WHERE event_id % 2 = 1"""

  /** D4 LIVE: stream-mode row-wise upsert — two batches, second wins per pk
    * (autocommit_stream.go:41-140); each executor partition runs its own
    * prepared-statement batch. */
  def d4StreamUpsert(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_d4")
    dropIfExists(sink, "STREAM_T")
    val ev = Tables.events(s, d)
    def dedup(df: DataFrame) =
      Dedup.inBatch(df, Seq("user_id"), arrival = Some(col("event_id")))
        .select("user_id", "event_id", "event_type", "value")
    val batch1 = dedup(ev.filter(col("event_id") < 500))
    val batch2 = dedup(ev.filter(col("event_id") >= 500))
    val spec = sink.specFor(batch1, "stream_t", pk = Seq("user_id"))
    sink.ensureTable(spec)
    sink.streamUpsert(batch1, spec)
    sink.streamUpsert(batch2, spec)
    readBack(s, sink, "STREAM_T").select(
      col("USER_ID").as("user_id"), col("EVENT_ID").as("event_id"),
      col("EVENT_TYPE").as("event_type"), col("VALUE").as("value"))
  }

  private val d4Oracle = """
    SELECT user_id, event_id, event_type, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1"""

  /** D2 LIVE: transactional tmp-table MERGE with a merge window — target
    * rows outside the window survive a pk collision (D3). */
  def d2MergeLive(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_d2")
    dropIfExists(sink, "MERGE_T")
    val ev = Tables.events(s, d)
    val target = ev.filter(col("event_id") < 800)
      .select("event_id", "user_id", "event_type", "ts_ms", "value")
    val source = Dedup.inBatch(ev.filter(col("event_id") >= 800),
        Seq("user_id"), arrival = Some(col("event_id")))
      .select("event_id", "user_id", "event_type", "ts_ms", "value")
    val spec = sink.specFor(target, "merge_t", pk = Seq("user_id", "event_id"))
    sink.ensureTable(spec)
    sink.append(target, spec.name)
    // window on the TARGET row (D3): only rows inside it may be replaced.
    // Derby MERGE can't delete, so the live shape is delete-then-insert
    // like Redshift (redshift.go:260-309): delete in-window pk matches.
    sink.loadMerge(source, spec.copy(pk = Seq(sink.dialect.adaptIdentifier("user_id"))),
      windowPredicate = Some("""__T__."TS_MS" >= 1704240000000"""))
    readBack(s, sink, "MERGE_T").select(
      col("EVENT_ID").as("event_id"), col("USER_ID").as("user_id"),
      col("EVENT_TYPE").as("event_type"), col("TS_MS").as("ts_ms"), col("VALUE").as("value"))
  }

  private val d2LiveOracle = EltOpsShared.d2OracleSql

  /** P2 LIVE: ReplaceTable — load the old generation, then replace it with a
    * new batch via the tmp-table + atomic rename swap
    * (sql_adapter_base.go:730-740, replacetable_stream.go:51-117). The read-
    * back must show ONLY the new generation. */
  def p2ReplaceTable(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_p2")
    dropIfExists(sink, "REPLACE_T")
    val ev = Tables.events(s, d)
    val oldGen = ev.filter(col("event_id") < 300)
      .select("event_id", "user_id", "event_type", "value")
    val spec = sink.specFor(oldGen, "replace_t")
    sink.ensureTable(spec)
    sink.append(oldGen, spec.name)
    val newGen = ev.filter(col("event_id") >= 300)
      .select("event_id", "user_id", "event_type", "value")
    sink.replaceTable(newGen, "replace_t")
    readBack(s, sink, "REPLACE_T").select(
      col("EVENT_ID").as("event_id"), col("USER_ID").as("user_id"),
      col("EVENT_TYPE").as("event_type"), col("VALUE").as("value"))
  }

  private val p2Oracle = """
    SELECT event_id, user_id, event_type, value FROM events WHERE event_id >= 300"""

  /** P3 LIVE: targeted DELETE + TRUNCATE (sql_adapter_base.go:299-411).
    * One table is row-deleted by predicate, a second truncated; the result
    * is the survivors of the first plus the (empty) second — the truncate is
    * proven by the read-back row count being exactly the delete survivors. */
  def p3Delete(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_p3")
    dropIfExists(sink, "DELETE_T"); dropIfExists(sink, "TRUNC_T")
    val ev = Tables.events(s, d)
    val rows = ev.select("event_id", "user_id", "event_type", "value")
    val spec = sink.specFor(rows, "delete_t")
    sink.ensureTable(spec)
    sink.append(rows, spec.name)
    sink.withConnection(sink.exec(_,
      sink.dialect.deleteWhere(spec, s"${sink.dialect.quote("EVENT_TYPE")} = 'click'")))
    val tspec = sink.specFor(rows, "trunc_t")
    sink.ensureTable(tspec)
    sink.append(rows.limit(10), tspec.name)
    sink.withConnection(sink.exec(_, sink.dialect.truncate(tspec)))
    val survivors = readBack(s, sink, "DELETE_T")
    val truncated = readBack(s, sink, "TRUNC_T")
    survivors.unionByName(truncated).select(
      col("EVENT_ID").as("event_id"), col("USER_ID").as("user_id"),
      col("EVENT_TYPE").as("event_type"), col("VALUE").as("value"))
  }

  private val p3Oracle = """
    SELECT event_id, user_id, event_type, value FROM events WHERE event_type <> 'click'"""

  /** P1 LIVE: ReplacePartition against the real catalog — tmp-table stage,
    * DELETE + copy in one transaction (replacepartition_stream.go:85-161). */
  def p1ReplacePartitionLive(s: SparkSession, d: String): DataFrame = {
    val sink = derby("graft_p1")
    dropIfExists(sink, "PART_T")
    val ev = Tables.events(s, d)
    val stamped = ev.select(col("event_id"), col("user_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("part_id"))
    val spec = sink.specFor(stamped, "part_t")
    sink.ensureTable(spec)
    sink.append(stamped, spec.name)
    val batch = stamped.filter(col("part_id") === "2024-01-02" && col("event_id") % 3 === 0)
    sink.replacePartition(batch, spec, "part_id", "2024-01-02")
    readBack(s, sink, "PART_T").select(
      col("EVENT_ID").as("event_id"), col("USER_ID").as("user_id"),
      col("PART_ID").as("part_id"))
  }

  private val p1LiveOracle = """
    SELECT event_id, user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS part_id
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') <> '2024-01-02'
       OR (strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-02' AND event_id % 3 = 0)"""

  /** K8's Avro leg LIVE (types/marshaller.go:309-325): the batch marshals
    * to deflate-coded Avro container objects — one per partition, real
    * binary encoding via the avro core library Spark itself ships — and
    * reads back through the container's embedded schema. A column that is
    * null for most rows exercises the `["null", T]` union path end-to-end.
    * The oracle replays the projection; equality proves the format carried
    * every value (longs, doubles, strings, nulls) losslessly. */
  def k8AvroSink(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.SaveMode
    import graft.sink.{AvroSink, FileSink}
    val dir = "/tmp/graft_k8_avro/events"
    val data = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ms"),
        when(col("event_id") % 7 === 0, col("event_type")).as("tag"))
    FileSink.write(data, dir, SaveMode.Overwrite,
      FileSink.Config(format = "avro", gzip = true))
    AvroSink.read(s, dir, data.schema)
  }

  private val k8AvroOracle = """
    SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms,
           CASE WHEN event_id % 7 = 0 THEN event_type END AS tag
    FROM events"""

  /** K8 LIVE: S3-style file sink — in-file pk dedup, gzip NDJSON objects
    * partitioned by event_type, read back through the schema-on-read path
    * (file_storage/abstract.go:27-120). The local dir stands in for the
    * bucket; the writer/layout/codec path is identical under s3a://. */
  def k8FileSink(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.SaveMode
    import graft.sink.FileSink
    val dir = s"/tmp/graft_k8/events"
    val data = Tables.events(s, d)
      .select("user_id", "event_type", "event_id", "ts_ms", "value")
    val cfg = FileSink.Config(format = "ndjson", gzip = true,
      partitionBy = Seq("event_type"), pk = Seq("user_id", "event_type"),
      discriminators = Seq("ts_ms"))
    FileSink.write(data, dir, SaveMode.Overwrite, cfg, arrival = Some(col("event_id")))
    FileSink.read(s, dir, StructType(Seq(
      StructField("user_id", StringType), StructField("event_id", LongType),
      StructField("ts_ms", LongType), StructField("value", DoubleType),
      StructField("event_type", StringType))), cfg)
      .select("user_id", "event_type", "event_id", "ts_ms", "value")
  }

  // ts_ms (not ts_ns) is the discriminator here, so ties fall to arrival
  // order (highest event_id) — same shape as the k7 oracle
  private val k8Oracle = """
    SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1"""

  /** K8 columnar leg: the ORC file sink round-trips the same in-file
    * pk-dedup + folder-partitioned layout as the NDJSON object sink —
    * completing the marshaller matrix (NDJSON/CSV/JSON-array/Avro/Parquet/
    * ORC) with the lake format where typed columns survive natively, so the
    * read-back needs no schema-on-read cast pass and scans prune both by
    * partition dir and by column. */
  def k8OrcSink(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.SaveMode
    import graft.sink.FileSink
    val dir = "/tmp/graft_k8_orc/events"
    val data = Tables.events(s, d)
      .select("user_id", "event_type", "event_id", "ts_ms", "value")
    val cfg = FileSink.Config(format = "orc", gzip = false,
      partitionBy = Seq("event_type"), pk = Seq("user_id", "event_type"),
      discriminators = Seq("ts_ms"))
    FileSink.write(data, dir, SaveMode.Overwrite, cfg, arrival = Some(col("event_id")))
    FileSink.read(s, dir, StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_ms", LongType), StructField("value", DoubleType),
      StructField("event_type", StringType))), cfg)
      .select("user_id", "event_type", "event_id", "ts_ms", "value")
  }

  /** P1 on the LAKE path: dynamic partition overwrite — only the touched
    * day rewrites, never the table (the 100 TB ReplacePartition; the pure-
    * DataFrame p1 query models the same final state for comparison). */
  def p1ReplacePartitionFile(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p1f/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p1f"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    val batch = ev.filter(col("day") === "2024-01-02" && col("event_id") % 3 === 0)
    FileSink.replacePartition(batch, dir, Seq("day"))
    s.read.schema(StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("day", StringType)))).parquet(dir)
      .select("event_id", "user_id", "day")
  }

  /** P5: copy-on-write lake MERGE. Builds a 30-day-partitioned parquet lake
    * from events, applies a deterministic change set confined to the first
    * week (pk-matched updates double `value`; inserts clone `%97` rows under
    * shifted ids), and reads the merged table back. Only the 7 touched day
    * partitions rewrite — [[graft.sink.FileSink.mergeCow]] proves the no-read
    * guarantee for untouched partitions in `FileSinkSpec`. */
  def p5LakeMerge(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p5/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p5"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    val week = ev.filter(col("day") < "2024-01-08")
    val upd = week.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 2) // double: *2 is exact on both engines
    val ins = week.filter(col("event_id") % 97 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    FileSink.mergeCow(upd.unionByName(ins), dir, Seq("event_id"), "day")
    s.read.schema(StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("day", StringType)))).parquet(dir)
      .select("event_id", "user_id", "value", "day")
  }

  /** P9: the same merge as [[p5LakeMerge]] through the MERGE-ON-READ leg
    * ([[graft.sink.FileSink.mergeMorVersioned]]): the commit writes ONLY
    * delta files (no base partition rewrites — the 100 TB property), a
    * second delta commit supersedes part of the first (delta-vs-delta
    * precedence by commit version), and the query reads the reconciled
    * view. Oracle = p5's: merge-on-read must be indistinguishable from
    * copy-on-write. */
  def p9LakeMor(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p9/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p9"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    FileSink.commitVersion(s, dir)
    val week = ev.filter(col("day") < "2024-01-08")
    val upd = week.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 2)
    val ins = week.filter(col("event_id") % 97 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    // two delta commits: the second re-updates a subset of the first's pks
    // (value * 4) then the first's value for those pks must LOSE — the
    // highest delta version wins at read time
    FileSink.mergeMorVersioned(upd.withColumn("value", col("value") * 2),
      dir, Seq("event_id"), "day") // transient state: value * 4
    val v = FileSink.mergeMorVersioned(upd.unionByName(ins), dir, Seq("event_id"), "day")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("day", StringType)))
    FileSink.readMorVersion(s, dir, v, schema, Seq("event_id"), "day")
      .select("event_id", "user_id", "value", "day")
  }

  private val morSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType), StructField("day", StringType)))

  /** P10: merge-on-read DELETE — after an MOR merge, `user_id % 37 == 0`
    * rows are removed via TOMBSTONE files ([[graft.sink.FileSink
    * .deleteMorVersioned]]): zero data files rewrite (the 100 TB GDPR
    * shape — the erasure is logical until compaction), and the reconciled
    * read drops the victims exactly like the COW delete would. */
  def p10MorDelete(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p10/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p10"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    FileSink.commitVersion(s, dir)
    val upd = ev.filter(col("day") < "2024-01-08" && col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 2)
    FileSink.mergeMorVersioned(upd, dir, Seq("event_id"), "day")
    val v = FileSink.deleteMorVersioned(s, dir, morSchema,
      col("user_id") % 37 === 0, "day", Seq("event_id"))
    FileSink.readMorVersion(s, dir, v, morSchema, Seq("event_id"), "day")
      .select("event_id", "user_id", "value", "day")
  }

  private val p10Oracle = """
    WITH ev AS (
      SELECT event_id, user_id, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    merged AS (
      SELECT event_id, user_id,
        CASE WHEN day < '2024-01-08' AND event_id % 7 = 0
             THEN value * 2 ELSE value END AS value, day
      FROM ev)
    SELECT event_id, user_id, value, day FROM merged
    WHERE user_id % 37 <> 0"""

  /** P11: change data feed — the insert/update/delete rows between the
    * initial commit and the current version of an MOR lake
    * ([[graft.sink.FileSink.changeFeed]]): one MOR merge (updates +
    * inserts) and one tombstone delete later, the feed must classify
    * every row movement with null-safe payload comparison, and emit
    * nothing for untouched rows. */
  def p11ChangeFeed(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p11/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p11"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    val v1 = FileSink.commitVersion(s, dir)
    val week = ev.filter(col("day") < "2024-01-08")
    val upd = week.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 2)
    val ins = week.filter(col("event_id") % 97 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    FileSink.mergeMorVersioned(upd.unionByName(ins), dir, Seq("event_id"), "day")
    val v = FileSink.deleteMorVersioned(s, dir, morSchema,
      col("user_id") % 41 === 0, "day", Seq("event_id"))
    FileSink.changeFeed(s, dir, morSchema, Seq("event_id"), "day", v1, v)
      .select("event_id", "day", "user_id", "value", "change_type")
  }

  // a %7==0 update whose value is 0.0 doubles to itself → unchanged, not an
  // update: the oracle applies the same payload comparison the feed does
  private val p11Oracle = """
    WITH ev AS (
      SELECT event_id, user_id, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    v2 AS (
      SELECT event_id, user_id,
        CASE WHEN day < '2024-01-08' AND event_id % 7 = 0
             THEN value * 2 ELSE value END AS value, day
      FROM ev
      UNION ALL
      SELECT event_id + 10000000, user_id, value, day
      FROM ev WHERE day < '2024-01-08' AND event_id % 97 = 0),
    v3 AS (SELECT * FROM v2 WHERE user_id % 41 <> 0)
    SELECT v3.event_id, v3.day, v3.user_id, v3.value, 'insert' AS change_type
    FROM v3 LEFT JOIN ev ON ev.event_id = v3.event_id AND ev.day = v3.day
    WHERE ev.event_id IS NULL
    UNION ALL
    SELECT ev.event_id, ev.day, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), 'delete'
    FROM ev LEFT JOIN v3 ON v3.event_id = ev.event_id AND v3.day = ev.day
    WHERE v3.event_id IS NULL
    UNION ALL
    SELECT v3.event_id, v3.day, v3.user_id, v3.value, 'update'
    FROM v3 JOIN ev ON ev.event_id = v3.event_id AND ev.day = v3.day
    WHERE NOT (v3.value IS NOT DISTINCT FROM ev.value
           AND v3.user_id IS NOT DISTINCT FROM ev.user_id)"""

  /** Zone-map file skipping ([[graft.sink.FileSink.writeStats]] /
    * `readVersionWhere`): the lake is laid out range-partitioned on
    * event_id so per-file min/max stats are selective; a committed stats
    * sidecar then lets a range read shortlist files BEFORE any footer is
    * opened. The FileSinkSpec corrupt-bystander test is the proof files
    * are skipped; this query is the correctness half — pruned read ≡
    * plain filter. */
  def tStatsPrune(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_statsprune/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_statsprune"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    // range layout = selective zone maps (the same reason tables z-order)
    ev.repartitionByRange(8, col("event_id")).write.parquet(dir)
    val v = FileSink.commitVersion(s, dir)
    FileSink.writeStats(s, dir, v, morSchema, Seq("event_id"))
    FileSink.readVersionWhere(s, dir, v, morSchema, "event_id", 2000, 4000)
      .select("event_id", "user_id", "value", "day")
  }

  private val tStatsPruneOracle = """
    SELECT event_id, user_id, value,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events WHERE event_id BETWEEN 2000 AND 4000"""

  private val p5Oracle = """
    WITH ev AS (
      SELECT event_id, user_id, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    ch AS (
      SELECT event_id, user_id, value * 2 AS value, day
      FROM ev WHERE day < '2024-01-08' AND event_id % 7 = 0
      UNION ALL
      SELECT event_id + 10000000, user_id, value, day
      FROM ev WHERE day < '2024-01-08' AND event_id % 97 = 0)
    SELECT event_id, user_id, value, day FROM ev
    WHERE event_id NOT IN (SELECT event_id FROM ch)
    UNION ALL
    SELECT event_id, user_id, value, day FROM ch"""

  /** P7: snapshot isolation + time travel on the lake
    * ([[graft.sink.FileSink.mergeCowVersioned]]): v1 commits, a CDC merge
    * commits v2 WITHOUT touching v1's files, and the query reads BOTH
    * versions AFTER the merge — the v1 leg proving a pinned manifest is
    * undisturbed by later writes (the table-format property that makes
    * concurrent readers and reproducible training runs possible on one
    * lake). Oracle: v1 = the snapshot, v2 = the merged state. */
  def p7TimeTravel(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p7/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p7"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    val v1 = FileSink.commitVersion(s, dir)
    val week = ev.filter(col("day") < "2024-01-08")
    val upd = week.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") * 2)
    val ins = week.filter(col("event_id") % 97 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    val v2 = FileSink.mergeCowVersioned(upd.unionByName(ins), dir, Seq("event_id"), "day")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("day", StringType)))
    FileSink.readVersion(s, dir, v1, schema).withColumn("snap", lit("v1"))
      .unionByName(FileSink.readVersion(s, dir, v2, schema).withColumn("snap", lit("v2")))
      .select("snap", "event_id", "user_id", "value", "day")
  }

  private val p7Oracle = """
    WITH ev AS (
      SELECT event_id, user_id, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    ch AS (
      SELECT event_id, user_id, value * 2 AS value, day
      FROM ev WHERE day < '2024-01-08' AND event_id % 7 = 0
      UNION ALL
      SELECT event_id + 10000000, user_id, value, day
      FROM ev WHERE day < '2024-01-08' AND event_id % 97 = 0)
    SELECT 'v1' AS snap, event_id, user_id, value, day FROM ev
    UNION ALL
    SELECT 'v2' AS snap, event_id, user_id, value, day FROM (
      SELECT event_id, user_id, value, day FROM ev
      WHERE event_id NOT IN (SELECT event_id FROM ch)
      UNION ALL
      SELECT event_id, user_id, value, day FROM ch) m"""

  /** P8: GDPR-erasure on the versioned lake
    * ([[graft.sink.FileSink.deleteWhereVersioned]]): every event of the
    * erasure user set (`user_id % 37 = 0`) is removed by rewriting ONLY the
    * files a pushed-predicate planning scan proves affected, as a new
    * snapshot — v1 remains pinned-readable (audit trail until `vacuum`),
    * and the output reads the post-delete version. FileSinkSpec proves the
    * file-level pruning on a layout where victims are clustered. */
  def p8GdprDelete(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p8/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_p8"), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    ev.write.partitionBy("day").parquet(dir)
    FileSink.commitVersion(s, dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("day", StringType)))
    val v2 = FileSink.deleteWhereVersioned(s, dir, schema,
      col("user_id") % 37 === 0, "day")
    FileSink.readVersion(s, dir, v2, schema)
      .select("event_id", "user_id", "value", "day")
  }

  private val p8Oracle = """
    SELECT event_id, user_id, value,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events WHERE user_id % 37 <> 0"""

  /** P6: end-to-end incremental backfill — the composed ELT loop that
    * [[EltOps.tPartitionDiff]] plans and partition replacement executes.
    * The stale lake (v1) is reconciled to the new snapshot (v2) by (1)
    * diffing per-day signatures, (2) REWRITING only `changed`/`added`
    * days via dynamic partition overwrite, (3) deleting `removed` days'
    * folders — `unchanged` partitions are never read or written (their
    * files are untouched, FileSinkSpec-style). At 100 TB this is the
    * difference between a full-table rebuild and touching the 3 days that
    * actually moved. Oracle = v2 itself: after backfill the lake must BE
    * the new snapshot. */
  def p6Backfill(s: SparkSession, d: String): DataFrame = {
    import graft.sink.FileSink
    val dir = "/tmp/graft_p6/events"
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path("/tmp/graft_p6"), true)
    val v1 = EltOps.snapshotV1(s, d)
    val v2 = EltOps.snapshotV2(v1).persist() // diff side + rebuild side
    v1.write.partitionBy("day").parquet(dir) // the stale lake
    val plan = EltOps.partitionDiff(v1, v2)
      .filter(col("status") =!= "unchanged")
      .select("day", "status").collect() // control-plane: one row per moved day
    val rebuild = plan.filter(r => r.getString(1) != "removed").map(_.getString(0))
    if (rebuild.nonEmpty)
      FileSink.replacePartition(
        v2.filter(col("day").isin(rebuild.toSeq: _*)), dir, Seq("day"))
    plan.filter(_.getString(1) == "removed").foreach { r =>
      f.delete(new org.apache.hadoop.fs.Path(dir, s"day=${r.getString(0)}"), true)
    }
    s.read.schema(StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("day", StringType)))).parquet(dir)
      .select("event_id", "user_id", "value", "day")
  }

  private val p6Oracle = """
    WITH ev AS (
      SELECT event_id, user_id, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events)
    SELECT event_id, user_id,
           CASE WHEN day < '2024-01-08' AND event_id % 7 = 0
                THEN value * 2 ELSE value END AS value, day
    FROM ev WHERE day <> '2024-01-29'
    UNION ALL
    SELECT event_id + 20000000, user_id, value, '2024-02-01' AS day
    FROM ev WHERE day = '2024-01-01'"""

  /** P12: raw-event archive → warehouse-loss → reprocessing replay — the
    * disaster-recovery loop (`ingest/backup_logger.go:22`,
    * `reprocessing-worker/main.go`). The edge spools every raw event as
    * date-partitioned gzip NDJSON ([[graft.streaming.RawArchive]]) BEFORE
    * anything parses it; the warehouse then loses its newest third of days
    * (DELETE — the simulated disaster); `reprocess` reads the archive from
    * one day BEFORE the loss boundary (deliberate overlap), re-parses, and
    * re-drives the ordinary pk-merge batch path. The merge makes replay
    * idempotent: overlap rows update in place (their `src` flips to
    * 'replay' — proof the replay touched them without duplicating them),
    * lost rows are reinserted, and the final table must BE the original.
    * Scale shape: the archive read prunes to the replayed dates at the
    * directory listing (hive `dt=` partitions), the replay is one
    * distributed parse + one merge — a 100 TB archive recovers a lost week
    * without listing, let alone reading, anything else. */
  def p12Reprocess(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.RawArchive
    val base = "/tmp/graft_p12"
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
      s.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(base), true)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .persist() // archive write + initial load + day probe
    // 1. the raw archive the edge accumulated all along (distributed write;
    //    the per-event edge Writer is the same layout, ArchiveSpec-proven)
    RawArchive.archive(
      ev.select(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("value"))).as("raw"), col("dt")),
      s"$base/archive/dest1")
    // 2. initial warehouse load through the ordinary batch path
    val sink = derby("graft_p12")
    dropIfExists(sink, "REPROC_SINK")
    val withSrc = ev.withColumn("src", lit("initial"))
    val spec = sink.specFor(withSrc, "reproc_sink", pk = Seq("event_id"))
    sink.ensureTable(spec)
    sink.loadMerge(withSrc, spec)
    // 3. the disaster: the newest third of days vanish from the warehouse
    val days = ev.select("dt").distinct().orderBy("dt")
      .collect().map(_.getString(0)) // control-plane: one row per day
    val cutIdx = days.length * 2 / 3
    val cut = days(cutIdx)
    val overlap = days(math.max(cutIdx - 1, 0)) // replay from one day early
    sink.withConnection(sink.exec(_,
      s"DELETE FROM \"REPROC_SINK\" WHERE \"DT\" >= '$cut'"))
    ev.unpersist()
    // 4. reprocess: pruned archive read → parse → same pk-merge path
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val replay = RawArchive.readRange(s, s"$base/archive/dest1", overlap)
      .select(from_json(col("value"), schema).as("e"), col("dt"))
      .select(col("e.event_id").as("event_id"), col("e.user_id").as("user_id"),
        col("e.event_type").as("event_type"), col("e.value").as("value"),
        col("dt"), lit("replay").as("src"))
    sink.loadMerge(replay, spec)
    // 5. the recovered table must be the original, byte for byte
    readBack(s, sink, "REPROC_SINK")
      .select(col("EVENT_ID").as("event_id"), col("USER_ID").as("user_id"),
        col("EVENT_TYPE").as("event_type"), col("VALUE").as("value"),
        col("DT").as("dt"), col("SRC").as("src"))
  }

  private val p12Oracle = """
    WITH e AS (
      SELECT event_id, user_id, event_type, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt
      FROM events),
    days AS (
      SELECT dt, row_number() OVER (ORDER BY dt) AS rn
      FROM (SELECT DISTINCT dt FROM e) t),
    marks AS (
      SELECT max(CASE WHEN rn = greatest(((SELECT count(*) FROM days) * 2) // 3, 1)
                      THEN dt END) AS overlap_dt
      FROM days)
    SELECT e.event_id, e.user_id, e.event_type, e.value, e.dt,
      CASE WHEN e.dt >= m.overlap_dt THEN 'replay' ELSE 'initial' END AS src
    FROM e, marks m"""

  private val p1FileOracle = """
    SELECT event_id, user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') <> '2024-01-02'
       OR (strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-02' AND event_id % 3 = 0)"""

  /** Dynamic partition pruning — the 100 TB fact-scan property that a
    * partitioned lake join only READS the partitions the dim selects,
    * decided at RUNTIME. A 30-day-partitioned events lake joins a derived
    * day dim on the PARTITION column; the dim's filter sits on a NON-join
    * attribute (day-of-month ≤ 7), so no static constraint propagation can
    * reach the fact scan — Catalyst plants a DynamicPruningExpression
    * subquery in the scan's PartitionFilters, fed by the join's reused
    * broadcast, and 23 of 30 day folders are never opened. DppSpec asserts
    * the plan marker AND that `input_file_name()` post-execution saw only
    * the 7 matching folders (`df.inputFiles` would lie — it ignores
    * runtime pruning). */
  def qDppJoin(s: SparkSession, d: String): DataFrame = {
    val dir = "/tmp/graft_dpp/events"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path("/tmp/graft_dpp"), true)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .write.partitionBy("day").parquet(dir)
    dppJoinFrame(s, d, dir)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
  }

  /** The fact/dim halves of [[qDppJoin]], factored so DppSpec can re-plan
    * the join over the already-written lake and tag the fact with
    * `input_file_name()` BEFORE the join (after it, Spark rejects the
    * multi-source expression). */
  def dppFact(s: SparkSession, dir: String): DataFrame =
    s.read.schema(StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("day", StringType)))).parquet(dir)

  def dppDim(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day")).distinct()
      .withColumn("dom", dayofmonth(to_date(col("day"))))
      .filter(col("dom") <= 7)

  def dppJoinFrame(s: SparkSession, d: String, dir: String): DataFrame =
    dppFact(s, dir).join(broadcast(dppDim(s, d)), Seq("day"))

  private val qDppOracle = """
    WITH ev AS (
      SELECT event_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events)
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM ev
    WHERE day(CAST(day AS DATE)) <= 7
    GROUP BY day"""

  /** K9 LIVE — the webhook destination's DELIVERED set, oracle-gated
    * (implementations/api_based/webhook.go:92-230). A real loopback
    * receiver accepts the executor-side NDJSON chunk posts; one injected
    * 503 on the first attempt of the chunk carrying the minimum sampled
    * event proves the bounded-retry path end-to-end (that chunk's body
    * arrives exactly twice — at-least-once — and the read-back dedups).
    * The oracle recomputes the admitted sample; `marker_attempts` pins the
    * retry count. Scale shape: rows marshal and POST per partition on the
    * executors (no driver collect, no single socket); the capture file is
    * test apparatus, not the dataflow. */
  def b15WebhookDelivery(s: SparkSession, d: String): DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    val base = "/tmp/graft_b15"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val data = Tables.events(s, d)
      .filter(col("event_id") % 17 === 0)
      .select(col("event_id"), col("event_type"), col("user_id"))
    // control plane: the fault marker is the minimum sampled id (1 row)
    val markerRow = data.agg(min("event_id")).head()
    require(!markerRow.isNullAt(0),
      "b15: event_id % 17 sample is empty — regenerated testdata no longer " +
        "carries a multiple of 17; repick the sampling residue")
    val marker = markerRow.getLong(0)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val faulted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val receiver = graft.http.Http.server(0)
    receiver.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      received.add(body)
      // `"event_id":M,`|`"event_id":M}` — delimited so M never prefix-matches
      val isMarker = body.contains(s""""event_id":$marker,""") ||
        body.contains(s""""event_id":$marker}""")
      if (isMarker && faulted.compareAndSet(false, true))
        graft.http.Http.respond(ex, 503, "")
      else graft.http.Http.respond(ex, 200, "ok", "text/plain")
    })
    receiver.start()
    try graft.sink.Webhook(
        s"http://127.0.0.1:${receiver.getAddress.getPort}/hook",
        chunkRows = 200, maxAttempts = 3, backoffMs = 10)
      .post(data)
    finally receiver.stop(0)
    val bodies = received.toArray.map(_.toString)
    val markerAttempts = bodies.count(b =>
      b.contains(s""""event_id":$marker,""") || b.contains(s""""event_id":$marker}"""))
    new java.io.File(base).mkdirs()
    val w = new java.io.BufferedWriter(new java.io.FileWriter(s"$base/recv.ndjson"))
    try bodies.foreach { b => w.write(b); w.newLine() } finally w.close()
    s.read.schema(StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType))))
      .json(s"$base/recv.ndjson")
      .distinct() // the faulted chunk delivered twice (at-least-once)
      .withColumn("marker_attempts", lit(markerAttempts.toLong))
  }

  private val b15Oracle = """
    SELECT event_id, event_type, user_id, CAST(2 AS BIGINT) AS marker_attempts
    FROM events WHERE event_id % 17 = 0"""

  def qs: Map[String, Q] = Map(
    "q_dpp_join"        -> Q(qDppJoin, Some(qDppOracle)),
    "b15_webhook_delivery" -> Q(b15WebhookDelivery, Some(b15Oracle)),
    "k7_jdbc_roundtrip" -> Q(k7Roundtrip, Some(k7Oracle)),
    "k8_file_sink"      -> Q(k8FileSink, Some(k8Oracle)),
    "k8_avro_sink"      -> Q(k8AvroSink, Some(k8AvroOracle)),
    "k8_orc_sink"       -> Q(k8OrcSink, Some(k8Oracle)),
    "p1_replace_partition_file" -> Q(p1ReplacePartitionFile, Some(p1FileOracle)),
    "p5_lake_merge"     -> Q(p5LakeMerge, Some(p5Oracle)),
    "p9_lake_mor"       -> Q(p9LakeMor, Some(p5Oracle)),
    "p10_mor_delete"    -> Q(p10MorDelete, Some(p10Oracle)),
    "p11_change_feed"   -> Q(p11ChangeFeed, Some(p11Oracle)),
    "t_stats_prune"     -> Q(tStatsPrune, Some(tStatsPruneOracle)),
    "p6_backfill"       -> Q(p6Backfill, Some(p6Oracle)),
    "p12_reprocess"     -> Q(p12Reprocess, Some(p12Oracle)),
    "p7_time_travel"    -> Q(p7TimeTravel, Some(p7Oracle)),
    "p8_gdpr_delete"    -> Q(p8GdprDelete, Some(p8Oracle)),
    "t7_evolution"      -> Q(t7Evolution, Some(t7Oracle)),
    "t8_evolution_live" -> Q(t8EvolutionLive, Some(t8Oracle)),
    "d4_stream_upsert"  -> Q(d4StreamUpsert, Some(d4Oracle)),
    "d2_merge_live"     -> Q(d2MergeLive, Some(d2LiveOracle)),
    "p2_replace_table"  -> Q(p2ReplaceTable, Some(p2Oracle)),
    "p3_delete"         -> Q(p3Delete, Some(p3Oracle)),
    "p1_replace_partition_live" -> Q(p1ReplacePartitionLive, Some(p1LiveOracle)),
  )
}

/** Oracle SQL shared between the DataFrame and live-sink renderings of the
  * same semantics. */
object EltOpsShared {
  val d2OracleSql: String = s"""
    WITH target AS (SELECT * FROM events WHERE event_id < 800),
    src AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id >= 800) t WHERE rn = 1)
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM target
    WHERE NOT coalesce(epoch_ms(ts) >= 1704240000000, false)
       OR user_id NOT IN (SELECT user_id FROM src)
    UNION ALL
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM src"""
}
