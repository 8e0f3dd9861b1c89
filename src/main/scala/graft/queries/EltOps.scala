package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.ops.{Dedup, Merge, Partitions}
import graft.shape.Ingest

/** ELT-operator queries: each drives the real ingest/dedup/merge/partition
  * path over driver-generated tables and pairs with a DuckDB oracle that
  * reconstructs the expected result from the same parquet.
  *
  * The NDJSON inputs are built by serializing table rows to JSON strings
  * (distributed `to_json`), so `Ingest.shape` runs the genuine
  * parse→flatten→sanitize→infer pipeline — not a pre-parsed shortcut.
  */
object EltOps {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** T1+T2+T4: nested JSON → flattened columns; weird identifier sanitized;
    * array stringified; ISO timestamp string sniffed to TIMESTAMP. */
  def t1Flatten(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // spread the unsplittable single-row-group scan: JSON parse+inference is
    // the CPU-heavy path here and must not run on one core
    val raw = Tables.spread(s, Tables.lineitem(s, d)).select(to_json(struct(
      struct(col("l_orderkey").as("key"), col("l_linenumber").cast(LongType).as("line")).as("order"),
      col("l_quantity").as("qty"),
      array(col("l_returnflag"), col("l_linestatus")).as("tags"),
      col("l_partkey").as("$part key!"),
      col("l_shipdate").as("ship"))).as("j")).as[String]
    // the raw lines are COMPUTED (to_json over a table scan): cache the
    // normalized text so inference + parse don't both rebuild every line.
    // samplingRatio: every line serializes the SAME struct, so the key
    // universe is stable by construction — inference over a 5% sample finds
    // the identical schema and the inference pass stops being a second full
    // scan (the documented knob for exactly this shape; correctness is
    // unchanged because the parse pass still reads every row)
    // (persisting the parsed rows instead measured SLOWER here: the final
    // consumer is count-like, so the second parse is column-pruned to
    // near-nothing, while a cache forces full-width materialization)
    Ingest.shape(s, raw,
      Ingest.ShapeOptions(cacheNormalized = true, samplingRatio = 0.05)).df
  }

  private val t1Oracle = """
    SELECT l_partkey AS "$part key_",
           l_orderkey AS order_key,
           CAST(l_linenumber AS BIGINT) AS order_line,
           l_quantity AS qty,
           l_shipdate AS ship,
           '["' || l_returnflag || '","' || l_linestatus || '"]' AS tags
    FROM lineitem"""

  /** T4+T6: batch-level type inference with LCA widening — a column that is
    * INT64 in some events and FLOAT64 in others lands as DOUBLE; bool and
    * sniffed-timestamp columns type correctly; an always-null column is
    * dropped (omitNils). */
  def t4Infer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val jsonOpts = Map("ignoreNullFields" -> "false")
    val even = ev.filter(col("event_id") % 2 === 0).select(to_json(struct(
      col("event_id").as("id"),
      (col("event_id") * 2).as("m"), // INT64 here
      (col("event_id") % 4 === 0).as("flag"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("when"),
      lit(null).cast(StringType).as("gone")), jsonOpts).as("j")).as[String]
    val odd = ev.filter(col("event_id") % 2 === 1).select(to_json(struct(
      col("event_id").as("id"),
      col("value").as("m"), // FLOAT64 here → column widens to DOUBLE
      (col("event_id") % 4 === 0).as("flag"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("when"),
      lit(null).cast(StringType).as("gone")), jsonOpts).as("j")).as[String]
    Ingest.shape(s, even.union(odd)).df
  }

  private val t4Oracle = """
    SELECT (event_id % 4 = 0) AS flag,
           event_id AS id,
           CASE WHEN event_id % 2 = 0 THEN CAST(event_id * 2 AS DOUBLE) ELSE value END AS m,
           date_trunc('second', ts) AS "when"
    FROM events"""

  /** T5: `__sql_type_` hint on a nested object suppresses flattening — the
    * object is stringified to JSON text and the hint key is removed. */
  def t5Hints(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = Tables.events(s, d).select(to_json(struct(
      col("event_id").as("id"),
      struct(col("user_id").as("a"), col("event_type").as("b")).as("payload"),
      lit("json").as("__sql_type_payload"))).as("j")).as[String]
    Ingest.shape(s, raw).df
  }

  private val t5Oracle = """
    SELECT event_id AS id,
           '{"a":' || user_id || ',"b":"' || event_type || '"}' AS payload
    FROM events"""

  /** D1: in-batch PK dedup with discriminator — highest ts wins per
    * (user_id, event_type), ties to the highest arrival id
    * (abstract_transactional.go:439-496). */
  def d1Dedup(s: SparkSession, d: String): DataFrame =
    Dedup.inBatch(Tables.events(s, d), Seq("user_id", "event_type"),
        discriminators = Seq("ts_ns"), arrival = Some(col("event_id")))
      .select("user_id", "event_type", "event_id", "ts_ms", "value")

  private val d1Oracle = """
    SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1"""

  /** D2+D3: cross-batch upsert with a merge window. Target rows outside the
    * window survive even when their pk collides with the source. */
  private val WindowStartMs = 1704240000000L // 2024-01-03T00:00:00Z

  def d2MergeWindow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val target = ev.filter(col("event_id") < 800)
    val source = Dedup.inBatch(ev.filter(col("event_id") >= 800),
      Seq("user_id"), arrival = Some(col("event_id")))
    Merge.upsert(target, source, Seq("user_id"),
        window = Some(col("ts_ms") >= WindowStartMs))
      .select("event_id", "user_id", "event_type", "ts_ms", "value")
  }

  private val d2Oracle = s"""
    WITH target AS (SELECT * FROM events WHERE event_id < 800),
    src AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id >= 800) t WHERE rn = 1)
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM target
    WHERE NOT coalesce(epoch_ms(ts) >= $WindowStartMs, false)
       OR user_id NOT IN (SELECT user_id FROM src)
    UNION ALL
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM src"""

  /** P1: replace one partition — final state after the swap; rows of the
    * replaced day come only from the new batch
    * (replacepartition_stream.go:78-161). */
  def p1ReplacePartition(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val target = ev.withColumn(Partitions.PartitionCol, date_format(col("ts"), "yyyy-MM-dd"))
    val batch = ev.filter(
      date_format(col("ts"), "yyyy-MM-dd") === "2024-01-02" && col("event_type") === "purchase")
    Partitions.replacePartition(target, batch, "2024-01-02")
      .select("event_id", "user_id", Partitions.PartitionCol)
  }

  private val p1Oracle = """
    SELECT event_id, user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS __partition_id
    FROM events WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') <> '2024-01-02'
    UNION ALL
    SELECT event_id, user_id, '2024-01-02' AS __partition_id
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-02'
      AND event_type = 'purchase'"""

  /** P4: date-granularity truncation (delete_condition.go:64-187) driving a
    * partition-grain aggregate. */
  def p4DateTrunc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        Partitions.truncate(col("ts"), "DAY").as("day"),
        Partitions.truncate(col("ts"), "HOUR").as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast(DoubleType).as("total"))

  private val p4Oracle = """
    SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2"""

  /** Dataset profiler: per-column null counts + numeric min/max in ONE
    * map-side-combinable aggregate pass — the "what is in this table"
    * utility every ELT run wants before schema decisions; at 100 TB still
    * exactly one scan. */
  def tProfile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val row = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(col("user_id").isNull.cast(LongType)).as("user_id_nulls"),
      sum(col("event_type").isNull.cast(LongType)).as("event_type_nulls"),
      sum(col("value").isNull.cast(LongType)).as("value_nulls"),
      min(col("event_id")).as("event_id_min"), max(col("event_id")).as("event_id_max"),
      min(dec(col("value"))).cast(DoubleType).as("value_min"),
      max(dec(col("value"))).cast(DoubleType).as("value_max"),
      // EXACT percentiles (linear interpolation between closest ranks —
      // the same rule DuckDB's quantile_cont applies), quantized for
      // cross-engine float stability. At 100 TB swap for approx_percentile
      // and drop the oracle to a tolerance check — exact percentile sorts.
      graft.llm.TextOps.quant(percentile(col("value"), lit(0.5)), 4).as("value_p50"),
      graft.llm.TextOps.quant(percentile(col("value"), lit(0.95)), 4).as("value_p95"),
      countDistinct(col("event_type")).as("event_type_card"))
    row
  }

  private val tProfileOracle = """
    SELECT COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
      CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
      MIN(event_id) AS event_id_min, MAX(event_id) AS event_id_max,
      CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_min,
      CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_max,
      floor(quantile_cont(value, 0.5) * 1e4 + 0.5) / 1e4 AS value_p50,
      floor(quantile_cont(value, 0.95) * 1e4 + 0.5) / 1e4 AS value_p95,
      COUNT(DISTINCT event_type) AS event_type_card
    FROM events"""

  /** CDC apply: collapse an (entity, seq)-ordered change stream of
    * upserts/deletes into the final snapshot — the "apply the binlog to the
    * warehouse" operator downstream of bulker's upsert path (the reference
    * merges updates only, sql_adapter_base.go:495-560; delete-aware apply is
    * what a CDC source like Debezium needs on top). Latest change per entity
    * wins; a terminal delete removes the entity.
    *
    * Scale shape: ONE map-side-combinable aggregate (`max_by` on the unique
    * sequence number) — no window sort, no join; duplicates and out-of-order
    * delivery collapse in the partial aggregate before anything shuffles. */
  def d6CdcApply(s: SparkSession, d: String): DataFrame = {
    val ch = Tables.events(s, d).select(
      expr("event_id div 3").as("entity_id"), col("event_id").as("seq"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("value"), col("ts_ms"))
    ch.groupBy("entity_id")
      .agg(max(col("seq")).as("seq"),
        max_by(col("op"), col("seq")).as("op"),
        max_by(col("value"), col("seq")).as("value"),
        max_by(col("ts_ms"), col("seq")).as("ts_ms"))
      .filter(col("op") =!= "D")
      .select("entity_id", "seq", "value", "ts_ms")
  }

  private val d6Oracle = """
    WITH ch AS (
      SELECT event_id // 3 AS entity_id, event_id AS seq,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value, epoch_ms(ts) AS ts_ms
      FROM events),
    latest AS (
      SELECT entity_id, max(seq) AS seq,
             max_by(op, seq) AS op, max_by(value, seq) AS value,
             max_by(ts_ms, seq) AS ts_ms
      FROM ch GROUP BY 1)
    SELECT entity_id, seq, value, ts_ms FROM latest WHERE op <> 'D'"""

  /** Partition-level change detection between two table snapshots — the
    * incremental-ELT trigger that decides WHICH partitions feed a
    * reprocessing run ([[SinkOps.p5LakeMerge]]'s planning half, and the
    * partition-granular sibling of [[LlmOps.corpusDiff]]). Each snapshot
    * collapses to one (count, content-XOR) signature row per day: the XOR
    * of per-row 60-bit content hashes is ORDER-INDEPENDENT and cannot
    * overflow, so the signature is a pure function of the partition's row
    * SET on any engine and any partitioning. A changed/added/removed
    * verdict then costs one |days|-sized full-outer join — the table's
    * data never crosses the network twice. Doubles enter the row hash as
    * `floor(value·100 + 0.5)` (exact IEEE, engine-neutral) — never as
    * formatted strings, which render differently across engines. */
  /** The v1 snapshot (events by day) and its deterministically mutated v2
    * (first-week %7 updates, day-29 dropped, a cloned day 2024-02-01
    * appended) — shared by [[tPartitionDiff]] and [[SinkOps.p6Backfill]] so
    * diff and backfill can never disagree about what changed. */
  private[queries] def snapshotV1(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))

  private[queries] def snapshotV2(ev: DataFrame): DataFrame = ev
    .filter(col("day") =!= "2024-01-29")
    .withColumn("value",
      when(col("day") < "2024-01-08" && col("event_id") % 7 === 0,
        col("value") * 2).otherwise(col("value")))
    .unionByName(ev.filter(col("day") === "2024-01-01")
      .withColumn("event_id", col("event_id") + 20000000L)
      .withColumn("day", lit("2024-02-01")))

  def tPartitionDiff(s: SparkSession, d: String): DataFrame = {
    val ev = snapshotV1(s, d)
    val v2 = snapshotV2(ev)
    partitionDiff(ev, v2)
  }

  /** (day, status, n_v1, n_v2) between any two snapshots with a `day`
    * column — one signature aggregate per side + one |days|-row join. */
  private[queries] def partitionDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    // Null components are coalesced to a NUL sentinel on BOTH sides —
    // concat_ws would silently SKIP a null arg while the oracle's '||'
    // nulls the whole row out of bit_xor, so the signatures would diverge
    // the first time the driver regenerates data with a nullable column.
    def nn(c: org.apache.spark.sql.Column) =
      coalesce(c.cast(org.apache.spark.sql.types.StringType), lit("\u0000"))
    def sig(df: DataFrame): DataFrame = df
      .withColumn("h", graft.llm.TextOps.hash60(concat(
        nn(col("event_id")), lit(":"), nn(col("user_id")), lit(":"),
        nn(floor(col("value") * 100 + 0.5).cast(LongType)))))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
    sig(v1).select(col("day"), col("n").as("n_v1"), col("x").as("x1"))
      .join(sig(v2).select(col("day"), col("n").as("n_v2"), col("x").as("x2")),
        Seq("day"), "full_outer")
      .select(col("day"),
        when(col("n_v1").isNull, "added")
          .when(col("n_v2").isNull, "removed")
          .when(col("n_v1") === col("n_v2") && col("x1") === col("x2"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"))
  }

  private val partitionDiffOracle = s"""
    WITH ev AS (
      SELECT event_id, user_id, value,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
      FROM events),
    v2 AS (
      SELECT event_id, user_id,
             CASE WHEN day < '2024-01-08' AND event_id % 7 = 0
                  THEN value * 2 ELSE value END AS value, day
      FROM ev WHERE day <> '2024-01-29'
      UNION ALL
      SELECT event_id + 20000000, user_id, value, '2024-02-01'
      FROM ev WHERE day = '2024-01-01'),
    s1 AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_v1,
        bit_xor(${LlmOps.hashSql(
          "COALESCE(event_id::VARCHAR, chr(0)) || ':' || COALESCE(user_id::VARCHAR, chr(0)) || ':' || COALESCE(CAST(floor(value*100 + 0.5) AS BIGINT)::VARCHAR, chr(0))")}) AS x1
      FROM ev GROUP BY 1),
    s2 AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_v2,
        bit_xor(${LlmOps.hashSql(
          "COALESCE(event_id::VARCHAR, chr(0)) || ':' || COALESCE(user_id::VARCHAR, chr(0)) || ':' || COALESCE(CAST(floor(value*100 + 0.5) AS BIGINT)::VARCHAR, chr(0))")}) AS x2
      FROM v2 GROUP BY 1)
    SELECT COALESCE(s1.day, s2.day) AS day,
      CASE WHEN s1.day IS NULL THEN 'added'
           WHEN s2.day IS NULL THEN 'removed'
           WHEN n_v1 = n_v2 AND x1 = x2 THEN 'unchanged'
           ELSE 'changed' END AS status,
      COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2
    FROM s1 FULL OUTER JOIN s2 ON s1.day = s2.day"""

  def qs: Map[String, Q] = Map(
    "t_partition_diff"     -> Q(tPartitionDiff, Some(partitionDiffOracle)),
    "d6_cdc_apply"         -> Q(d6CdcApply, Some(d6Oracle)),
    "t1_flatten"           -> Q(t1Flatten, Some(t1Oracle)),
    "t4_infer"             -> Q(t4Infer, Some(t4Oracle)),
    "t5_hints"             -> Q(t5Hints, Some(t5Oracle)),
    "d1_dedup"             -> Q(d1Dedup, Some(d1Oracle)),
    "d2_merge_window"      -> Q(d2MergeWindow, Some(d2Oracle)),
    "p1_replace_partition" -> Q(p1ReplacePartition, Some(p1Oracle)),
    "p4_date_trunc"        -> Q(p4DateTrunc, Some(p4Oracle)),
    "t_profile"            -> Q(tProfile, Some(tProfileOracle)),
  )
}
