package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running totals without a stratum-wide window.
  *
  * `sum(v) OVER (PARTITION BY stratum ORDER BY k)` routes EVERY row of a
  * stratum through one reducer's sort — the same single-partition
  * degeneracy the bounded top-k aggregate ([[graft.functions.BoundedK]],
  * behind `top_k_by` / `min_k_by`) removes from rank windows, except a
  * prefix SUM cannot be heap-truncated: every row needs its exact running
  * total. The scale shape here is the classic two-level prefix sum over an
  * order-preserving COARSENING of the sort key:
  *
  *  1. per-(stratum, bucket) totals — ONE map-side-combinable hash
  *     aggregate (a narrow second scan of the input, never a shuffle of
  *     the payload);
  *  2. exclusive per-bucket offsets — a window over that TINY aggregate
  *     frame, bounded by the number of OBSERVED buckets per stratum (the
  *     coarsening contract below), not by row count;
  *  3. offsets broadcast-join back, and the within-bucket running total is
  *     a window partitioned by (stratum, bucket) — each sort is one
  *     bucket's rows, never the stratum.
  *
  * Coarsening contract: `bucket` must be a deterministic, MONOTONE
  * NON-DECREASING function of the `order` prefix (high bits of a uniform
  * hash key, `id >> shift` for a dense id) so that
  * (bucket ASC, order ASC) equals the global stratum order, with both
  * sides bounded: observed buckets per stratum stay collectable-window
  * small (≤ ~2^16 — step 2's sort) and rows per bucket stay
  * partition-sort small (step 3's sort). [[hashBucket]] / [[idBucket]]
  * provide those two standard coarsenings.
  *
  * The input is consumed TWICE (bucket totals + the main pass). The totals
  * scan is narrow (column-pruned to keys + value), so the payload is never
  * shuffled twice — but the VALUE column is evaluated once per scan.
  * Callers with a VERY expensive value derivation (a full BPE encode)
  * materialize the valued frame first (tokenizePack's localCheckpoint);
  * for a plain tokenize the rescan is cheaper than materializing
  * (measured: persisting tokenBudget/packSequences' tokenized frame
  * changed nothing at sf0.1 and would spill the corpus at scale).
  *
  * Two negative results, so nobody re-attempts them: (1) deriving the
  * bucket totals from the windowed frame (`max` of the inclusive running
  * sum) to share one exchange does NOT work — column pruning pushes each
  * branch's projection below the exchange independently (the totals
  * branch drops the passthrough payload columns), the two shuffles no
  * longer canonicalize equal, ReuseExchange never fires, and the payload
  * gets shuffled once PER BRANCH on top of the double evaluation; an
  * explicit `repartition(sk, b)` doesn't pin it either (projects push
  * through RepartitionByExpression too). (2) The small-SF gap vs the
  * stratum window it replaces (~+0.3 s/query at sf0.1) is NOT the double
  * evaluation — it is the fixed overhead of the extra narrow shuffle +
  * broadcast + tiny offset window, which is flat in data size and is
  * bought back with interest the moment one stratum outgrows a reducer
  * (SkewStressSpec "bucketed prefix sum 10x scaling").
  */
object PrefixSum {

  /** High `bits` of a 60-bit uniform hash key — ≤2^bits buckets at any
    * corpus size, ~N/2^bits rows per bucket. The default 16 holds both
    * bounds from test scale through ~10^11 rows. */
  def hashBucket(h60: Column, bits: Int = 16): Column =
    shiftright(h60, 60 - bits)

  /** `id >> shift` for a dense non-negative id — ≤2^shift rows per bucket
    * at any scale; observed buckets grow as maxId/2^shift (still tiny
    * relative to rows). */
  def idBucket(id: Column, shift: Int = 16): Column = shiftright(id, shift)

  /** `df` plus column `out` = running total of `value` over rows of the
    * same stratum at-or-before (`inclusive`) / strictly-before this row in
    * (`bucket`, `order`) order. Column order of `df` is preserved; `out`
    * is appended. (`order`, tie-broken by caller-guaranteed uniqueness)
    * must be total within a stratum for the result to be deterministic —
    * the same contract the window form it replaces had. */
  def running(df: DataFrame, stratumCols: Seq[String], bucket: Column,
              order: Seq[Column], value: Column, out: String,
              inclusive: Boolean): DataFrame = {
    val b = "__ps_bucket"
    val v = "__ps_v"
    val off = "__ps_off"
    val sk = stratumCols.map(col)
    val withB = df.withColumn(b, bucket).withColumn(v, value)
    val bucketTotals = withB.groupBy(sk :+ col(b): _*)
      .agg(sum(col(v)).as("__ps_bsum"))
    val offsets = bucketTotals.withColumn(off,
        coalesce(sum(col("__ps_bsum")).over(
          Window.partitionBy(sk: _*).orderBy(col(b).asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__ps_bsum")
    val w = Window.partitionBy(sk :+ col(b): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1)
    // NULL-SAFE equi-join (`<=>`): a using-columns join would silently
    // DROP rows of a null stratum, where the window form this replaces
    // keeps null as an ordinary group. Aliased sides — offsets derives
    // from withB, so bare column refs would be ambiguous self-join refs.
    val keys = stratumCols :+ b
    val cond = keys.map(c => col(s"__ps_l.$c") <=> col(s"__ps_r.$c"))
      .reduce(_ && _)
    withB.as("__ps_l").join(broadcast(offsets.as("__ps_r")), cond)
      .select(col(s"__ps_l.$v") +: col(s"__ps_r.$off") +:
        (keys.map(c => col(s"__ps_l.$c").as(c)) ++
          df.columns.filterNot(keys.contains).map(c => col(s"__ps_l.$c"))): _*)
      .withColumn(out, coalesce(sum(col(v)).over(w), lit(0L)) + col(off))
      .select(df.columns.map(col) :+ col(out): _*)
  }
}
