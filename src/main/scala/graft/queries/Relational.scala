package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Relational query surface: aggregation, join, window, top-k, and the
  * reference's admin read-back (S7, sql_adapter_base.go:217-297).
  *
  * All monetary aggregates run in DECIMAL(18,2) and only cast to DOUBLE at
  * the end so Spark and DuckDB agree bit-for-bit regardless of summation
  * order — double-sum nondeterminism would otherwise break the hash compare
  * and, at scale, make results run-to-run unstable.
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H-Q1-style pricing summary. Scale notes: single hash aggregation,
    * partial (map-side) aggregate first, filter pushed to the parquet scan. */
  def q1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  private val q1Oracle = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus"""

  /** Join + aggregate + top-k: revenue per order with the customer dimension
    * broadcast (a ~1:150 dim at any SF — never shuffle the fact side for it). */
  def q3(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
    val c = Tables.customer(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(o("o_orderkey"), c("c_name"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  private val q3Oracle = """
    SELECT o_orderkey, c_name, revenue FROM (
      SELECT o.o_orderkey, c.c_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o.o_orderkey, c.c_name)
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"""

  /** Window functions: per-customer running order value and order sequence.
    * One shuffle on o_custkey; the two windows share the same partitioning
    * so Catalyst evaluates them in a single Window node. */
  def qWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("order_seq", row_number().over(w))
      .withColumn("running_total",
        sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType))
      .select("o_custkey", "o_orderkey", "order_seq", "running_total")
  }

  private val qWindowOracle = """
    SELECT o_custkey, o_orderkey,
      ROW_NUMBER() OVER w AS order_seq,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"""

  /** Top-k scan: TakeOrderedAndProject — no full sort, each partition keeps
    * k rows, driver merges. The 100 TB-safe form of ORDER BY ... LIMIT. */
  def qTopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)

  private val qTopKOracle = """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""

  /** Admin read-back (S7, sql_adapter_base.go:217-297): conjunctive
    * WhenConditions + ORDER BY asc, and the Count variant. */
  def s7(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 1000 && col("c_mktsegment") === "BUILDING")
      .orderBy(col("c_custkey").asc)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")

  private val s7Oracle = """
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    WHERE c_acctbal > 1000 AND c_mktsegment = 'BUILDING'
    ORDER BY c_custkey ASC"""

  /** TPC-H Q5 shape: six-table star join — small dims broadcast
    * (region→nation→supplier/customer), the two fact tables join on their
    * keys, revenue aggregated per nation. The canonical "did the optimizer
    * pick broadcast for dims and shuffle only the facts" probe. */
  def q5(s: SparkSession, d: String): DataFrame = {
    val dec18 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 2))
    Tables.region(s, d).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, d), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.supplier(s, d), col("n_nationkey") === col("s_nationkey"))
      .join(Tables.lineitem(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec18(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec18(col("l_discount"))))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  private val q5Oracle = """
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_lines
    FROM region
    JOIN nation ON r_regionkey = n_regionkey
    JOIN supplier ON n_nationkey = s_nationkey
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name"""

  /** T4-adjacent: typed extraction from a JSON payload column
    * (`get_json_object`/`from_json` over events.props) feeding an
    * aggregate — the "parse only the fields you need" path that keeps a
    * 100 TB JSON column from being fully deserialized. */
  def propsExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(from_json(col("props"), StructType.fromDDL("k INT")).getField("k").as("k"),
        col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))

  private val propsOracle = """
    SELECT json_extract(props::JSON, '$.k')::INT AS k, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1"""

  /** S7's Count variant (sql_adapter_base.go:287-297): conjunctive
    * conditions → one count row per group key. */
  def s7Count(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 1000)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))

  private val s7CountOracle = """
    SELECT c_mktsegment, COUNT(*) AS n FROM customer
    WHERE c_acctbal > 1000 GROUP BY 1"""

  /** As-of enrichment over the event stream: every 10th event is a "profile
    * update"; each event picks up the latest update's value at or before
    * its timestamp, per user. Runs [[graft.ops.AsOf.join]] — the
    * union-window form with ONE key shuffle and no range join; the oracle
    * is the identical window construction in SQL. */
  def qAsof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("ts_ms"), col("value"))
    // updates dedupe to one per (user, ts): latest event id wins — the
    // uniqueness contract AsOf.join requires
    val upd = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("dim_id"),
        max_by(col("value"), col("event_id")).as("dim_value"))
    graft.ops.AsOf.join(
      ev.select("event_id", "user_id", "ts_ms"), upd,
      key = "user_id", ts = "ts_ms", valueCols = Seq("dim_id", "dim_value"))
  }

  /** The same as-of enrichment through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.BroadcastAsOfJoinExec]]): per-key time index broadcast,
    * binary-search probe, zero exchanges on the fact side — the plan for a
    * broadcastable dimension. Shares [[qAsof]]'s oracle: same answer, two
    * physical strategies. */
  def qAsofBcast(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("ts_ms"), col("value"))
    val upd = ev.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("dim_id"),
        max_by(col("value"), col("event_id")).as("dim_value"))
    graft.ops.AsOf.joinBroadcast(
      ev.select("event_id", "user_id", "ts_ms"), upd,
      key = "user_id", ts = "ts_ms", valueCols = Seq("dim_id", "dim_value"))
  }

  private val qAsofOracle = """
    WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events),
    upd AS (
      SELECT user_id, ts_ms, max(event_id) AS dim_id,
             max_by(value, event_id) AS dim_value
      FROM ev WHERE event_id % 10 = 0 AND ts_ms IS NOT NULL GROUP BY 1, 2),
    merged AS (
      SELECT user_id, ts_ms, 0 AS is_left, NULL::BIGINT AS event_id,
             dim_id FROM upd
      UNION ALL
      SELECT user_id, ts_ms, 1, event_id, NULL FROM ev),
    filled AS (
      -- carry the never-null update ANCHOR forward, then join the full
      -- update row back ON THE ANCHOR ALONE (dim_id is a globally-unique
      -- event id; re-adding user_id would silently drop NULL-keyed rows):
      -- the output is always one atomic snapshot (the implementation fills
      -- a struct; per-column IGNORE-NULLS fills would resurrect stale
      -- values under null fields)
      SELECT user_id, ts_ms, is_left, event_id,
        last_value(dim_id IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts_ms NULLS FIRST, is_left
          ROWS UNBOUNDED PRECEDING) AS asof_dim_id
      FROM merged)
    SELECT f.event_id, f.user_id, f.ts_ms, f.asof_dim_id,
           u.dim_value AS asof_dim_value
    FROM filled f
    LEFT JOIN upd u ON u.dim_id = f.asof_dim_id
    WHERE f.is_left = 1"""

  /** ROLLUP grouping-set aggregation: per-(flag, status) subtotals, per-flag
    * subtotals, and the grand total in ONE pass — Spark expands the grouping
    * sets inside a single hash aggregate (map-side partials included), so
    * the fact table is scanned and shuffled once, not once per level.
    * `grouping_id` disambiguates real NULL keys from subtotal rows. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().as("gid"),
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        count(lit(1)).as("n"))

  private val qRollupOracle = """
    SELECT l_returnflag, l_linestatus,
      CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  /** Z-score outlier detection per event type — the load-time data-quality
    * screen. One map-side-combined stats aggregate (5 rows) broadcast back
    * onto the stream; the moment sums are decimal-quantized so mean/σ are
    * bit-identical regardless of partition order, making the z-cut
    * deterministic at any parallelism. */
  def tAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
    val q6 = (c: Column) => graft.llm.TextOps.quant(c, 6).cast(DecimalType(28, 8))
    val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(q6(col("value"))).cast(DoubleType).as("s1"),
        sum(q6(col("value") * col("value"))).cast(DoubleType).as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("sd",
        sqrt(greatest(col("s2") / col("n") - col("mean") * col("mean"), lit(0d))))
    ev.join(broadcast(stats), "event_type")
      .filter(col("sd") > 0 && abs(col("value") - col("mean")) >= lit(3d) * col("sd"))
      .select(col("event_id"), col("event_type"), col("value"),
        graft.llm.TextOps.quant((col("value") - col("mean")) / col("sd"), 4).as("z"))
  }

  private val tAnomalyOracle = """
    WITH stats AS (
      SELECT event_type, count(*) AS n,
        CAST(SUM(CAST(floor(value * 1e6 + 0.5) / 1e6 AS DECIMAL(28,8))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(floor((value * value) * 1e6 + 0.5) / 1e6 AS DECIMAL(28,8))) AS DOUBLE) AS s2
      FROM events GROUP BY 1),
    st AS (
      SELECT event_type, s1 / n AS mean,
             sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd
      FROM stats)
    SELECT e.event_id, e.event_type, e.value,
           floor(((e.value - mean) / sd) * 1e4 + 0.5) / 1e4 AS z
    FROM events e JOIN st USING (event_type)
    WHERE sd > 0 AND abs(e.value - mean) >= 3 * sd"""

  /** Per-group top-k — the scale-safe form of "top 5 per category": a
    * hash-partitioned rank window + filter, so every group ranks inside its
    * own partition and nothing global sorts (contrast [[qTopK]], whose
    * global ORDER BY LIMIT is a TakeOrdered). The deterministic (value,
    * event_id) tiebreak keeps the answer engine-independent. */
  def qGroupTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 5)
  }

  private val qGroupTopKOracle = """
    SELECT event_id, event_type, value, rk FROM (
      SELECT event_id, event_type, value,
        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY value DESC, event_id ASC) AS BIGINT) AS rk
      FROM events) t
    WHERE rk <= 5"""

  /** Per-group top-k with BOUNDED state — the 100 TB form of
    * [[qGroupTopK]]: the native [[graft.functions.BoundedK]] aggregate
    * keeps a ≤5-entry heap per group map-side, so the shuffle moves
    * `groups × 5` entries instead of ranking every row of every group
    * inside a window sort. Same answer as the window form on non-null
    * scores (the (value DESC, event_id ASC) order is total); its own
    * oracle below ranks only non-null values, mirroring the aggregate's
    * null-skip — the window form instead ranks nulls last, so the two
    * diverge exactly when a group has < 5 non-null values. */
  def qGroupTopKBounded(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.llm.TextOps.topKBy(col("value"), col("event_id"), 5).as("tk"))
      .select(col("event_type"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("e.id").as("event_id"), col("event_type"),
        col("e.score").as("value"), (col("p") + 1).cast(LongType).as("rk"))
  }

  private val qGroupTopKBoundedOracle = """
    SELECT event_id, event_type, value, rk FROM (
      SELECT event_id, event_type, value,
        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY value DESC, event_id ASC) AS BIGINT) AS rk
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL) t
    WHERE rk <= 5"""

  /** Semi/anti-join breadth (EXISTS / NOT EXISTS): customers with at least
    * one 1996 order vs customers with none — `left_semi` and `left_anti`
    * keep only the probe side's columns, so the build side never widens the
    * output and the join degenerates to a hash-set membership test. */
  def qSemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o96 = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .select(col("o_custkey"))
    val active = c.join(o96, c("c_custkey") === o96("o_custkey"), "left_semi")
      .withColumn("status", lit("active_1996"))
    val dormant = c.join(o96, c("c_custkey") === o96("o_custkey"), "left_anti")
      .withColumn("status", lit("no_1996_orders"))
    active.unionByName(dormant).select("c_custkey", "c_mktsegment", "status")
  }

  private val qSemiAntiOracle = """
    SELECT c_custkey, c_mktsegment, 'active_1996' AS status FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
    UNION ALL
    SELECT c_custkey, c_mktsegment, 'no_1996_orders' AS status FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')"""

  // ---- fuzzy entity-resolution join ------------------------------------

  private val FuzzyLevMax = 3
  private val FuzzyBlockCap = 100

  /** Entity resolution over part names: blocked fuzzy self-match with a
    * Levenshtein verify — the record-linkage primitive (Fellegi-Sunter
    * blocking + string-distance comparison). Candidates are pairs of
    * DISTINCT names sharing a blocking key (first token OR last token,
    * union-deduped); each candidate is verified with the codegen'd built-in
    * `levenshtein` ≤ [[FuzzyLevMax]]; support counts ride along so a
    * survivorship step can pick the canonical spelling.
    *
    * Scale shape: ER runs over the DISTINCT-VALUE table (|names| ≪ rows at
    * 100 TB), so the self-join sides are value tables, not the corpus; every
    * candidate comes from an equi-join on a blocking key — never all-pairs;
    * keys whose block exceeds [[FuzzyBlockCap]] are dropped before the join
    * (the same over-cap discipline as the n-gram inverted index), bounding
    * the worst block at cap² pairs. The value table is persisted because
    * self-join sides re-evaluate their subtree. */
  def qFuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val (plan, keyed) = fuzzyJoinPlan(s, d)
    // materialize the (tiny) verified-pair result so keyed's cache can be
    // released before we return — persisted blocks otherwise leak into
    // the rest of a 142-query run
    val out = plan.localCheckpoint(true)
    keyed.unpersist()
    out
  }

  /** The fuzzy-join PLAN plus its persisted blocking table — split out so
    * plan-inspection specs can see the optimizer's planted bound before
    * [[qFuzzyJoin]] checkpoints it away. Caller owns `keyed.unpersist()`. */
  private[graft] def fuzzyJoinPlan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.plans.LevenshteinLengthBound.install(s) // free length-diff pre-filter
    val keyed = Tables.part(s, d)
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      .select(col("p_name"), col("cnt"),
        element_at(split(col("p_name"), " "), 1).as("w1"),
        element_at(split(col("p_name"), " "), -1).as("w2"))
      .persist() // two blocking passes × two self-join sides + count lookups
    def candidates(k: String): DataFrame = {
      val blocks = keyed.select(col("p_name"), col(k).as("bk"))
      val ok = blocks.groupBy("bk").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= FuzzyBlockCap).select("bk")
      val side = blocks.join(broadcast(ok), "bk")
      side.alias("a").join(side.alias("b"),
          col("a.bk") === col("b.bk") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("a_name"), col("b.p_name").as("b_name"))
    }
    val plan = candidates("w1").union(candidates("w2")).distinct()
      // filter on the INLINE expression so [[graft.plans.LevenshteinLengthBound]]
      // can plant its free length-diff pre-filter; survivors (tiny) recompute
      // the distance once more for the output column
      .filter(levenshtein(col("a_name"), col("b_name")) <= FuzzyLevMax)
      .withColumn("lev", levenshtein(col("a_name"), col("b_name")))
      .join(broadcast(keyed.select(col("p_name").as("a_name"), col("cnt").as("a_cnt"))), "a_name")
      .join(broadcast(keyed.select(col("p_name").as("b_name"), col("cnt").as("b_cnt"))), "b_name")
      .select("a_name", "b_name", "lev", "a_cnt", "b_cnt")
    (plan, keyed)
  }

  // blocking + candidate CTEs shared by the fuzzy join and the golden-record
  // oracle (one copy: a fix to the blocking reaches both at once)
  private val fuzzyCtes = s"""n AS MATERIALIZED (
      SELECT p_name, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY 1),
    k AS MATERIALIZED (SELECT p_name, cnt,
            string_split(p_name, ' ')[1] AS w1,
            string_split(p_name, ' ')[-1] AS w2 FROM n),
    b1 AS (SELECT w1 FROM k GROUP BY 1 HAVING count(*) <= $FuzzyBlockCap),
    b2 AS (SELECT w2 FROM k GROUP BY 1 HAVING count(*) <= $FuzzyBlockCap),
    cand AS (
      SELECT a.p_name AS a_name, b.p_name AS b_name
      FROM k a JOIN k b ON a.w1 = b.w1 AND a.p_name < b.p_name
      JOIN b1 ON a.w1 = b1.w1
      UNION
      SELECT a.p_name, b.p_name
      FROM k a JOIN k b ON a.w2 = b.w2 AND a.p_name < b.p_name
      JOIN b2 ON a.w2 = b2.w2)"""

  private val qFuzzyJoinOracle = s"""
    WITH $fuzzyCtes
    SELECT a_name, b_name, levenshtein(a_name, b_name) AS lev,
           ka.cnt AS a_cnt, kb.cnt AS b_cnt
    FROM cand
    JOIN k ka ON ka.p_name = a_name
    JOIN k kb ON kb.p_name = b_name
    WHERE levenshtein(a_name, b_name) <= $FuzzyLevMax"""

  /** Fuzzy-ER survivorship (golden record): the merge step downstream of
    * [[qFuzzyJoin]] — verified match pairs cluster into entities (connected
    * components over the name-pair edges, [[graft.llm.Corpus.clusterPairs]];
    * min-label over strings is UTF-8 order on both engines), and each
    * cluster elects its canonical spelling by support count
    * (cnt DESC, name ASC — a total order, deterministic anywhere). Output =
    * one row per MATCHED name with its cluster and the canonical pick;
    * unmatched names are already golden and stay out.
    *
    * Scale shape: pairs come from the blocked fuzzy join (never all-pairs);
    * clustering runs over the pair table — the uniqueness FAILURES, a
    * sliver of the value table; the election is one map-side-combinable
    * min_by aggregate per cluster, no window over the corpus. */
  def qErGolden(s: SparkSession, d: String): DataFrame = {
    // qFuzzyJoin returns a checkpointed (materialized) frame — re-reading it
    // per clustering pass is a block read, no persist (and no leak) needed
    val pairs = qFuzzyJoin(s, d).select("a_name", "b_name")
    val clusters = graft.llm.Corpus.clusterPairs(pairs, "a_name", "b_name")
      .select(col("node").as("p_name"), col("cluster_id"))
    val cnts = Tables.part(s, d)
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
    val members = clusters.join(cnts, "p_name")
    val canon = members.groupBy("cluster_id")
      .agg(min_by(struct(col("p_name"), col("cnt")),
        struct(-col("cnt"), col("p_name"))).as("c"))
      .select(col("cluster_id"), col("c.p_name").as("canonical"),
        col("c.cnt").as("canonical_cnt"))
    members.join(broadcast(canon), "cluster_id")
      .select("p_name", "cnt", "cluster_id", "canonical", "canonical_cnt")
  }

  private val qErGoldenOracle = s"""
    WITH RECURSIVE $fuzzyCtes,
    matched AS MATERIALIZED (
      SELECT a_name, b_name FROM cand
      WHERE levenshtein(a_name, b_name) <= $FuzzyLevMax),
    nodes AS (SELECT a_name AS nm FROM matched UNION SELECT b_name FROM matched),
    edges AS (SELECT a_name AS i, b_name AS j FROM matched
              UNION SELECT b_name, a_name FROM matched),
    reach(node, m) AS (
      SELECT nm, nm FROM nodes
      UNION
      SELECT r.node, e.j FROM reach r JOIN edges e ON e.i = r.m),
    cl AS MATERIALIZED (
      SELECT node AS p_name, min(m) AS cluster_id FROM reach GROUP BY 1),
    mem AS MATERIALIZED (
      SELECT cl.p_name, cl.cluster_id, n.cnt FROM cl JOIN n USING (p_name)),
    canon AS (
      SELECT cluster_id, p_name AS canonical, cnt AS canonical_cnt FROM (
        SELECT cluster_id, p_name, cnt,
          row_number() OVER (PARTITION BY cluster_id
            ORDER BY cnt DESC, p_name ASC) AS rn
        FROM mem) t WHERE rn = 1)
    SELECT m.p_name, m.cnt, m.cluster_id, c.canonical, c.canonical_cnt
    FROM mem m JOIN canon c USING (cluster_id)"""

  /** Per-JVM warehouse dir for bucketed tables (same lifetime discipline as
    * LlmOps.IncrementalIdxDir: one dir per session, not per call). */
  private lazy val BucketDir: String =
    java.nio.file.Files.createTempDirectory("graft_buckets_").toString

  /** Bucketed co-located join: both join sides pre-bucketed on the join key
    * (`bucketBy(8, key)`, one file per bucket), so the sort-merge join reads
    * each bucket pair directly — the executed plan contains ZERO shuffle
    * exchanges: not for the join, and not for the following per-key
    * aggregate either (the join output is already clustered on the key).
    * This is THE lever for repeated big-big joins at 100 TB: the shuffle is
    * paid once at ingest (the bucketed write), not once per query — exactly
    * how a warehouse lays out fact tables that join every day. The tables
    * are (re)built per (sfDir, session) and reused across calls in the same
    * session; BucketedJoinSpec asserts the exchange-free plan. */
  def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.pathTag(d) // tables are per-sfDir
    def ensure(name: String, df: => DataFrame, key: String): String = {
      val t = s"${name}_$tag"
      if (!s.catalog.tableExists(t))
        // repartition on the key: Spark's bucket hash IS HashPartitioning's
        // Murmur3(key) pmod n, so each task holds exactly one bucket's rows
        // → one file per bucket (also what keeps sorted-bucket metadata
        // usable on read)
        df.repartition(8, col(key)).write
          .option("path", s"$BucketDir/$t")
          .bucketBy(8, key).sortBy(key)
          .mode("overwrite").format("parquet").saveAsTable(t)
      t
    }
    val li = s.table(ensure("graft_li_bkt",
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey"))
    val o = s.table(ensure("graft_o_bkt",
      Tables.orders(s, d).select("o_orderkey", "o_orderdate"), "o_orderkey"))
    li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val qBucketedJoinOracle = """
    SELECT o.o_orderkey,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey"""

  /** 2-D skyline / Pareto frontier (Börzsönyi et al. 2001): orders not
    * dominated on (price, recency) — "no other order is at least as
    * expensive AND at least as recent, strictly better in one". The
    * distributed shape is the textbook two-phase: each partition computes
    * its LOCAL skyline with an in-partition sort-sweep (skylines compose —
    * the global skyline is a subset of the union of local ones, and a
    * local skyline of random points is tiny), then the union collapses on
    * one partition with the same sweep. No global sort, no pair joins —
    * the oracle's NOT EXISTS dominance scan is exactly what this avoids
    * at scale. Duplicate (price, day) points co-survive (neither
    * dominates); equal-price groups keep only their max-day rows. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_totalprice"),
        expr("datediff(o_orderdate, DATE'1970-01-01')").cast(LongType).as("o_day"))
      .as[(Long, Double, Long)]
    def sweep(it: Iterator[(Long, Double, Long)]): Iterator[(Long, Double, Long)] = {
      val sorted = it.toArray.sortBy { case (id, x, y) => (-x, -y, id) }
      val out = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
      var i = 0
      var bestY = Long.MinValue
      while (i < sorted.length) {
        val x = sorted(i)._2
        var j = i
        while (j < sorted.length && sorted(j)._2 == x) j += 1 // [i, j) = equal-price group
        val groupMax = sorted(i)._3 // sorted y DESC within the group
        if (groupMax > bestY) {
          var k = i
          while (k < j && sorted(k)._3 == groupMax) { out += sorted(k); k += 1 }
          bestY = groupMax
        }
        i = j
      }
      out.iterator
    }
    pts.mapPartitions(sweep)         // local skylines: bounded output per partition
      .repartition(1).mapPartitions(sweep) // exact skyline of the small union
      .toDF("o_orderkey", "o_totalprice", "o_day")
  }

  private val qSkylineOracle = """
    WITH p AS (
      SELECT o_orderkey, o_totalprice,
             CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS o_day
      FROM orders)
    SELECT a.o_orderkey, a.o_totalprice, a.o_day FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.o_totalprice >= a.o_totalprice AND b.o_day >= a.o_day
        AND (b.o_totalprice > a.o_totalprice OR b.o_day > a.o_day))"""

  private val Q18Threshold = 200

  /** TPC-H Q18 shape ("large volume customers"): orders whose line-item
    * quantities sum past a threshold, with customer attribution. The scale
    * lesson is baked into plan ORDER: aggregate the fact table FIRST (one
    * map-side-combinable sum keyed on l_orderkey, then a HAVING that
    * shrinks it to the qualifying slice), and only join that small result
    * to orders and customer — never join-then-aggregate, which would carry
    * every lineitem row through two joins before reducing. The final
    * ordering is a TakeOrdered top-100, not a global sort. */
  def q18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("total_qty"))
      .filter(col("total_qty") > Q18Threshold)
    big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"),
        col("o_totalprice"), col("total_qty").cast(DoubleType).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(100)
  }

  private val q18Oracle = s"""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > $Q18Threshold)
    SELECT c_name, o_orderkey,
           strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS o_day,
           o_totalprice, total_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""

  // ---- Bloom semi-join reduction ---------------------------------------

  private val BjWords = 1024
  private val BjBits = 63 // signed-safe bits per word (same layout as the decontaminate filter)
  private val BjM = BjWords * BjBits
  private val BjK = 4

  /** Semi-join reduction via a Bloom filter (Bernstein & Goodman's classic
    * distributed-join reducer; Spark's AQE injects the same idea as a
    * runtime bloom when statistics allow — here it is explicit and
    * deterministic). The dim key set folds into an 8 KiB bit array riding
    * the plan as a LITERAL, so the fact side is pruned by a narrow codegen
    * filter BEFORE its shuffle — at 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the matching slice.
    * False positives only: the exact join downstream removes them, so any
    * composed query stays oracle-exact with no bloom modeling in the
    * oracle. */
  private[queries] def bloomSemiReduce(fact: DataFrame, key: String,
                                       dimKeys: DataFrame): DataFrame = {
    def pos(c: Column, i: Int): Column = pmod(xxhash64(lit(i), c), lit(BjM.toLong))
    val words = Array.ofDim[Long](BjWords)
    dimKeys.select(col(dimKeys.columns.head).as("k"))
      .select(explode(array((0 until BjK).map(i => pos(col("k"), i)): _*)).as("b"))
      .groupBy((col("b") / BjBits).cast(IntegerType).as("j"))
      .agg(expr(s"bit_or(shiftleft(1L, int(b % $BjBits)))").as("w"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1)) // ≤1024 rows
    val filt = typedlit(words.toSeq)
    val hit = (0 until BjK).map { i =>
      val b = pos(col(key), i)
      element_at(filt, (b / BjBits).cast(IntegerType) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (b % BjBits).cast(IntegerType))) =!= 0
    }.reduce(_ && _)
    fact.filter(col(key).isNotNull && hit)
  }

  /** Q-shaped proof of [[bloomSemiReduce]]: revenue by priority for one
    * order month, with the lineitem side bloom-reduced before the join.
    * The oracle is the PLAIN join — the reduction must be invisible in the
    * answer. */
  def qBloomJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderpriority").persist() // bloom build + join probe
    val fact = bloomSemiReduce(Tables.lineitem(s, d), "l_orderkey",
      dim.select("o_orderkey"))
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"))
  }

  private val qBloomJoinOracle = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-04-01'
    GROUP BY 1"""

  /** Referential-integrity audit (the FK half of the data-quality family —
    * [[EventOps.tDqRules]] covers row rules): for every declared FK
    * relation, how many child rows, how many null keys (legal — a null FK
    * is "unknown", not a violation), how many ORPHANS (non-null key with no
    * parent). Scale shape: each child first collapses to its DISTINCT key
    * multiplicity (map-side combinable — the join and shuffle see |keys|
    * rows, never |rows|), then ONE left join against the parent key set and
    * ONE aggregate produce the relation's row; no cross joins, the 6
    * relation rows union. */
  /** One FK relation's audit row — split out for the planted-orphan spec. */
  private[queries] def fkRelation(nm: String, child: DataFrame, key: String,
                                  parent: DataFrame, pkey: String): DataFrame = {
    val ck = child.groupBy(col(key).as("k")).agg(count(lit(1)).as("n"))
    val pk = parent.select(col(pkey).as("k")).distinct().withColumn("hit", lit(1))
    ck.join(pk, Seq("k"), "left")
      .agg(
        coalesce(sum("n"), lit(0L)).as("n_child"),
        coalesce(sum(when(col("k").isNull, col("n")).otherwise(0L)), lit(0L)).as("n_nulls"),
        coalesce(sum(when(col("k").isNotNull && col("hit").isNull, col("n"))
          .otherwise(0L)), lit(0L)).as("n_orphans"))
      .select(lit(nm).as("relation"), col("n_child"), col("n_nulls"), col("n_orphans"))
  }

  def tFkCheck(s: SparkSession, d: String): DataFrame = {
    def rel(nm: String, child: DataFrame, key: String,
            parent: DataFrame, pkey: String): DataFrame =
      fkRelation(nm, child, key, parent, pkey)
    rel("lineitem.l_orderkey->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      .unionByName(rel("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .unionByName(rel("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"))
      .unionByName(rel("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey"))
      .unionByName(rel("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey",
        Tables.region(s, d), "r_regionkey"))
      .unionByName(rel("events.user_id->customer", Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey"))
  }

  private val tFkCheckOracle = {
    def rel(nm: String, child: String, key: String, parent: String, pkey: String) = s"""
      SELECT '$nm' AS relation,
        CAST(count(*) AS BIGINT) AS n_child,
        CAST(count(*) FILTER (WHERE c.$key IS NULL) AS BIGINT) AS n_nulls,
        CAST(count(*) FILTER (WHERE c.$key IS NOT NULL AND p.$pkey IS NULL) AS BIGINT) AS n_orphans
      FROM $child c LEFT JOIN (SELECT DISTINCT $pkey FROM $parent) p ON c.$key = p.$pkey"""
    Seq(
      rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      rel("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      rel("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      rel("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      rel("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      rel("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))
      .mkString("\n      UNION ALL\n")
  }

  // ---- correlated subqueries (the Catalyst decorrelation surface) --------
  //
  // These four shapes are deliberately expressed as SQL text with correlated
  // scalar / EXISTS / NOT-EXISTS subqueries — not hand-decorrelated
  // DataFrame joins — so Catalyst's RewriteCorrelatedScalarSubquery /
  // RewritePredicateSubquery paths are what plans them. The SAME text is the
  // DuckDB oracle, and PlanSweep keeps the decorrelated plans honest: a
  // rewrite that planted a nested loop or cartesian would fail the sweep.
  // Float discipline: scalar-min compares stored values (no arithmetic);
  // the avg-threshold is cross-multiplied into exact DECIMAL/BIGINT terms
  // (qty·5·cnt < sum) so row membership can't flip on a summation-order ULP.

  private def tpchViews(s: SparkSession, d: String): Unit = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
  }

  /** TPC-H Q2 shape: correlated SCALAR MIN — cheapest lineitem per small
    * part. Decorrelates to a partkey-grouped MIN aggregate hash-joined back;
    * equality on the stored double is engine-exact (no arithmetic). */
  private val q2CorrSql = """
    SELECT p.p_partkey, p.p_brand, l.l_suppkey, l.l_extendedprice AS min_price
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 5
      AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                               FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)"""

  def q2CorrMin(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q2CorrSql)
  }

  /** TPC-H Q4 shape: EXISTS semi-join — priority counts of orders with a
    * returned line. Decorrelates to a left-semi hash join on o_orderkey. */
  private val q4ExistsSql = """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority"""

  def q4Exists(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q4ExistsSql)
  }

  /** TPC-H Q17 shape: per-part AVG threshold — revenue of small-lot orders
    * for small parts. The correlated avg is cross-multiplied into exact
    * terms (qty·5·cnt < sum in DECIMAL) so no float division decides
    * membership; two correlated scalars each decorrelate to one partkey
    * aggregate. */
  private val q17AvgSql = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 3
      AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 *
          (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)"""

  def q17AvgThreshold(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q17AvgSql)
  }

  /** TPC-H Q21 shape: EXISTS + NOT EXISTS with a non-equality correlated
    * predicate — suppliers solely responsible for the returned line of a
    * finished multi-supplier order. The hardest decorrelation of the four:
    * both subqueries join on l_orderkey with an l_suppkey <> filter
    * (left-semi then left-anti hash joins). */
  private val q21AntiSemiSql = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name"""

  def q21AntiSemi(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q21AntiSemiSql)
  }

  /** TPC-H Q20 shape (partsupp-free — the testdata carries no partsupp, so
    * the availability threshold reads off lineitem itself): suppliers who
    * shipped MORE THAN 3× the average supplier share of some small part —
    * a nested IN whose grouped HAVING carries TWO correlated scalars
    * against the group key (per-part distinct-supplier count and per-part
    * quantity sum). The deepest nesting of the correlated family: Catalyst
    * must decorrelate scalars inside an aggregate inside a predicate
    * subquery (two partkey aggregates joined into the HAVING, then a
    * left-semi on s_suppkey). The share test is cross-multiplied
    * DECIMAL/BIGINT (sum·cnt > total·3) — no division decides membership;
    * the 3× bar selects 1/10, 26/100, 53/1000 suppliers across the three
    * SFs (probed), so the semi-join is discriminating at every scale. */
  private val q20NestedInSql = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_size <= 4
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) *
               (SELECT COUNT(DISTINCT l3.l_suppkey)
                FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
           > (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 3)"""

  def q20NestedIn(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q20NestedInSql)
  }

  /** TPC-H Q22 shape: above-average-balance customers with NO high-value
    * order — an uncorrelated scalar threshold plus a NOT EXISTS anti-join,
    * aggregated per nation. (The classic no-order-at-all predicate is
    * vacuous on this data — every customer has orders at every SF — so the
    * anti-join keys on orders above a price bar instead; 14 survivors at
    * sf0.01.) The average is cross-multiplied (bal·cnt > sum, both exact
    * DECIMAL/BIGINT) so no engine's decimal division can flip a membership
    * at the boundary; the total re-casts the exact DECIMAL sum to double
    * only on output. */
  private val q22AntiAvgSql = """
    SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) *
            (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0)
          > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
             FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    GROUP BY c.c_nationkey"""

  def q22AntiAvg(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    tpchViews(s, d); s.sql(q22AntiAvgSql)
  }

  // ── Round-14 widening: the remaining distinct TPC-H plan shapes ──────
  // q7/q8/q9/q13/q14 are DataFrame-first (joins, conditional aggregates,
  // outer-join distributions — broadcast only the truly-fixed nation/region
  // dims, let AQE size the rest); q11/q15/q16 run the SAME SQL text through
  // Catalyst and DuckDB (uncorrelated-scalar HAVING, scalar-MAX-over-CTE,
  // and NOT IN null-aware anti join — subquery shapes the optimizer must
  // decorrelate, kept honest by PlanSweep).

  /** TPC-H Q7 shape: volume shipping between nation pairs — two broadcast
    * ALIASES of the 25-row nation dim on either end of the fact chain; the
    * `n_nationkey <= 7` dim filters reach the supplier/customer joins via
    * constraint propagation, so the fact shuffle carries only matching
    * rows. */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter(col("n1_key") <= 7 && col("n2_key") <= 7 &&
        col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast(DoubleType).as("revenue"))
  }

  private val q7Oracle = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l.l_shipdate) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <= 7 AND n2.n_nationkey <= 7
      AND n1.n_name <> n2.n_name
    GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)"""

  /** TPC-H Q8 shape: market share — one supplier nation's fraction of the
    * revenue sold into one customer region, per year. The conditional
    * aggregate (SUM(CASE)/SUM) stays in exact DECIMAL until both sides are
    * final, then one double division — no per-row float decides anything. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    val sn = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val cn = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      .select(col("r_regionkey"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .join(broadcast(asia), col("cn_region") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0)))
        .cast(DoubleType) / sum(rev).cast(DoubleType)).as("mkt_share"))
  }

  private val q8Oracle = """
    SELECT YEAR(o.o_orderdate) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    JOIN region rg ON rg.r_regionkey = n2.n_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE rg.r_name = 'ASIA'
    GROUP BY YEAR(o.o_orderdate)"""

  /** TPC-H Q9 shape: product-type profit by supplier nation and year. The
    * testdata carries no partsupp, so cost is the part's retail price times
    * quantity (bulker-free adaptation, same plan: 5-table join, per-row
    * exact DECIMAL amount, two-key aggregate). */
  def q9Profit(s: SparkSession, d: String): DataFrame = {
    val amount = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")) -
      dec(col("p_retailprice")) * dec(col("l_quantity"))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_type").isin("PROMO", "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(amount).cast(DoubleType).as("sum_profit"))
  }

  private val q9Oracle = """
    SELECT n.n_name, YEAR(o.o_orderdate) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))
                  - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_type IN ('PROMO', 'ECONOMY')
    GROUP BY n.n_name, YEAR(o.o_orderdate)"""

  /** TPC-H Q11 shape: parts whose value exceeds 1.5× the average part's
    * share of the total — TWO uncorrelated scalar subqueries in the HAVING
    * (distinct-part count and corpus total), cross-multiplied in exact
    * BIGINT cents (sum·cnt·2 > total·3) so no decimal-width or division
    * rule can flip a membership; the fraction is scale-free, so the
    * predicate discriminates identically at every SF. */
  private val q11SignificantSql = """
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) *
             (SELECT COUNT(DISTINCT l2.l_partkey) FROM lineitem l2) * 2
         > (SELECT SUM(CAST(CAST(l2.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) FROM lineitem l2) * 3"""

  def q11Significant(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q11SignificantSql)
  }

  /** TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
    * with the filter INSIDE the join condition (so zero-order customers
    * survive as count 0), then a second aggregation over the counts. Two
    * shuffles (custkey, then the tiny c_count key), both key-partitioned. */
  def q13Distribution(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  private val q13Oracle = """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
      GROUP BY c.c_custkey)
    GROUP BY c_count"""

  /** TPC-H Q14 shape: promo revenue share for one quarter — a single-row
    * conditional-aggregate ratio; both sums stay exact DECIMAL, one double
    * division at the end. */
  def q14PromoShare(s: SparkSession, d: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .agg((lit(100).cast(DoubleType) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0))).cast(DoubleType) /
        sum(rev).cast(DoubleType)).as("promo_share"))
  }

  private val q14Oracle = """
    SELECT 100 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                               THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'"""

  /** TPC-H Q15 shape: top supplier by one-year revenue — an aggregate CTE
    * probed by a scalar MAX over ITSELF; the argmax equality compares the
    * exact DECIMAL sums (double only on output), so ties and boundaries are
    * engine-exact. The CTE is evaluated twice by both engines (once for the
    * max, once for the join); a production form would cache it — here it is
    * one keyed aggregate per side, no wide state. */
  private val q15TopSupplierSql = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(r2.total_rev) FROM revenue r2)"""

  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q15TopSupplierSql)
  }

  /** TPC-H Q16 shape: supplier diversity per part attribute, excluding
    * suppliers matched by a NOT IN subquery — Catalyst's null-aware anti
    * join path — then COUNT(DISTINCT) per (brand, type, size). At sf0.001
    * the exclusion set is empty (no negative balances), which is exactly
    * the NOT IN edge the null-aware plan must keep-all on. */
  private val q16NotInSql = """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 5
      AND l.l_suppkey NOT IN (SELECT s.s_suppkey FROM supplier s WHERE s.s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size"""

  def q16NotIn(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(q16NotInSql)
  }

  /** TPC-H Q6 shape: forecast-revenue-change — the minimal scan shape. No
    * join, no grouping: three pushable predicates and one exact-DECIMAL
    * product sum. The point at 100 TB is the scan itself — all three
    * filters must reach the parquet reader (PlanSweep-visible pushdown),
    * and the single-row aggregate is a map-side partial + 1-row exchange.
    * Discounts are clean 2-dp values, so the DECIMAL(18,2) band compare
    * can't straddle a rounding tie on either engine. */
  def q6Forecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
        dec(col("l_discount")) >= dec(lit(0.03)) &&
        dec(col("l_discount")) <= dec(lit(0.07)) &&
        col("l_quantity") < 25)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast(DoubleType).as("revenue"))

  private val q6Oracle = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(l_discount AS DECIMAL(18,2)) >= CAST(0.03 AS DECIMAL(18,2))
      AND CAST(l_discount AS DECIMAL(18,2)) <= CAST(0.07 AS DECIMAL(18,2))
      AND l_quantity < 25"""

  /** TPC-H Q10 shape: returned-item revenue per customer — a one-quarter
    * order slice joined to its 'R'-flagged lines, grouped by the full
    * customer identity (the wide GROUP BY rides the same custkey shuffle).
    * Both selective filters sit UNDER their joins, so the fact shuffle
    * carries only the quarter's returned lines; nation is broadcast. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(rev).cast(DoubleType).as("revenue"))
  }

  private val q10Oracle = """
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name"""

  /** TPC-H Q12 shape: late-line priority split — join orders to lines and
    * pivot the order priority into two conditional counts per line status.
    * The testdata carries no l_shipmode/l_commitdate/l_receiptdate
    * (reference Q12's columns), so the shape is kept with what exists:
    * "late" = shipped >60 days after the order date, and l_linestatus is
    * the 2-value grouping key. Counts stay BIGINT on both engines (DuckDB
    * SUM(int) is HUGEINT — cast). */
  def q12LateLines(s: SparkSession, d: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(hi, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
        sum(when(!hi, lit(1L)).otherwise(lit(0L))).as("low_line_count"))
  }

  private val q12Oracle = """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_linestatus"""

  /** TPC-H Q19 shape: disjunction-of-conjunctions revenue — three
    * brand/size/quantity blocks OR'd across the part⋈lineitem join.
    * Catalyst extracts the per-side common factors from the disjunction
    * (brand IN set + size bound to the part scan, quantity envelope to the
    * lineitem scan) so both scans prune before the join; quantities and
    * sizes are integral, so the BETWEEN bounds are exact on both engines. */
  def q19Disjunction(s: SparkSession, d: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    val pred =
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#14" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#25" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(sum(rev).cast(DoubleType).as("revenue"))
  }

  private val q19Oracle = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)"""

  def qs: Map[String, Q] = Map(
    "q6_forecast_revenue" -> Q(q6Forecast, Some(q6Oracle)),
    "q10_returned_items" -> Q(q10ReturnedItems, Some(q10Oracle)),
    "q12_late_lines" -> Q(q12LateLines, Some(q12Oracle)),
    "q19_disjunct_revenue" -> Q(q19Disjunction, Some(q19Oracle)),
    "q7_volume_shipping" -> Q(q7VolumeShipping, Some(q7Oracle)),
    "q8_market_share" -> Q(q8MarketShare, Some(q8Oracle)),
    "q9_profit" -> Q(q9Profit, Some(q9Oracle)),
    "q11_significant" -> Q(q11Significant, Some(q11SignificantSql)),
    "q13_distribution" -> Q(q13Distribution, Some(q13Oracle)),
    "q14_promo_share" -> Q(q14PromoShare, Some(q14Oracle)),
    "q15_top_supplier" -> Q(q15TopSupplier, Some(q15TopSupplierSql)),
    "q16_notin_distinct" -> Q(q16NotIn, Some(q16NotInSql)),
    "q2_corr_min" -> Q(q2CorrMin, Some(q2CorrSql)),
    "q4_exists" -> Q(q4Exists, Some(q4ExistsSql)),
    "q17_avg_threshold" -> Q(q17AvgThreshold, Some(q17AvgSql)),
    "q21_anti_semi" -> Q(q21AntiSemi, Some(q21AntiSemiSql)),
    "q20_nested_in" -> Q(q20NestedIn, Some(q20NestedInSql)),
    "q22_anti_avg" -> Q(q22AntiAvg, Some(q22AntiAvgSql)),
    "t_fk_check" -> Q(tFkCheck, Some(tFkCheckOracle)),
    "q_bloom_join" -> Q(qBloomJoin, Some(qBloomJoinOracle)),
    "q18_top_orders" -> Q(q18, Some(q18Oracle)),
    "q_skyline" -> Q(qSkyline, Some(qSkylineOracle)),
    "q_bucketed_join" -> Q(qBucketedJoin, Some(qBucketedJoinOracle)),
    "q_fuzzy_join" -> Q(qFuzzyJoin, Some(qFuzzyJoinOracle)),
    "q_er_golden"  -> Q(qErGolden, Some(qErGoldenOracle)),
    "q_semi_anti"  -> Q(qSemiAnti, Some(qSemiAntiOracle)),
    "q_group_topk" -> Q(qGroupTopK, Some(qGroupTopKOracle)),
    "q_group_topk_bounded" -> Q(qGroupTopKBounded, Some(qGroupTopKBoundedOracle)),
    "q_asof"    -> Q(qAsof, Some(qAsofOracle)),
    "q_asof_bcast" -> Q(qAsofBcast, Some(qAsofOracle)),
    "q_rollup"  -> Q(qRollup, Some(qRollupOracle)),
    "t_anomaly" -> Q(tAnomaly, Some(tAnomalyOracle)),
    "q1_agg"    -> Q(q1, Some(q1Oracle)),
    "q3_join"   -> Q(q3, Some(q3Oracle)),
    "q_window"  -> Q(qWindow, Some(qWindowOracle)),
    "q_topk"    -> Q(qTopK, Some(qTopKOracle)),
    "s7_select" -> Q(s7, Some(s7Oracle)),
    "s7_count"  -> Q(s7Count, Some(s7CountOracle)),
    "q5_join_agg" -> Q(q5, Some(q5Oracle)),
    "t9_props_extract" -> Q(propsExtract, Some(propsOracle)),
  )
}
