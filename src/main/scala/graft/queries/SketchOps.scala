package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.llm.TextOps
import LlmOps.{hashSql, qSql, shinglesSql, toksSql}

/** Corpus-statistics operators a 100 TB training-data build runs before and
  * during selection: sketch-based distinct counting (KMV), unigram language-
  * model scoring (the classic perplexity-filter signal), DSIR-style hashed
  * n-gram importance weighting for data selection, and curriculum phase
  * assignment.
  *
  * Shared discipline with [[LlmOps]]: every sketch is deterministic (the
  * portable 60-bit md5 hash), every float aggregation is decimal-quantized
  * so partition order cannot change the answer, and no operator's plan
  * contains a global sort or an unbucketed pair join.
  */
object SketchOps {

  // ---- KMV distinct-count sketch ---------------------------------------

  private val KmvK = 64
  private val Max60 = 1152921504606846976.0 // 2^60: the hash60 value space

  /** Per-source distinct-shingle estimate via a K-Minimum-Values sketch
    * (Bar-Yossef et al. 2002): keep the K smallest distinct hash values;
    * estimate = (K−1) / U_(K) where U_(K) is the K-th smallest hash scaled
    * to [0,1). The exact-distinct answer this replaces is a full shuffle of
    * every distinct value; the sketch shuffles the same distinct stream but
    * the per-group state downstream is K longs.
    *
    * Scale shape: ONE shuffle on `source` where the map-side partial is the
    * native [[graft.functions.KMinK]] aggregate — ≤K longs of state per
    * group per task, distinct-inside-the-bound, no rank window and no
    * upstream `.distinct()` shuffle; nothing ever sorts more than K rows. */
  def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(col("source"), explode(TextOps.shingles(col("__toks"), 3)).as("g"))
    sh.select(col("source"), TextOps.hash60(col("g")).as("h"))
      .groupBy("source").agg(TextOps.kminK(col("h"), KmvK).as("hs"))
      .filter(size(col("hs")) === KmvK) // sources with < K distinct have no estimate
      .select(col("source"),
        floor(lit((KmvK - 1).toDouble * Max60) / element_at(col("hs"), KmvK))
          .cast(LongType).as("est_distinct"))
  }

  private val kmvOracle = s"""
    WITH sh AS (
      SELECT source, unnest(${shinglesSql(toksSql, 3)}) AS g FROM (
        SELECT source, $toksSql AS sp, text FROM documents) t),
    h AS (SELECT DISTINCT source, ${hashSql("g")} AS h FROM sh),
    r AS (SELECT source, h,
            row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h)
    SELECT source,
           CAST(floor(${(KmvK - 1).toDouble * Max60} / h) AS BIGINT) AS est_distinct
    FROM r WHERE rn = $KmvK"""

  // ---- HyperLogLog distinct-count sketch -------------------------------

  private[queries] val HllM = 64 // registers (b = 6 index bits off the 60-bit hash)
  private val HllAlphaM2 = 0.709 * HllM * HllM // α_64 per Flajolet et al. 2007
  // estimator numerator, ONE driver-computed double shared bit-identically
  // with the oracle literal: α·m² · 2^55 (the 2^55 un-scales the exact
  // integer register sum below)
  private[queries] val HllNum = HllAlphaM2 * math.pow(2, 55)

  /** Per-source distinct-shingle estimate via HyperLogLog (Flajolet,
    * Fusy, Gandouet, Meunier 2007) — the complement of [[kmvDistinct]]:
    * where KMV keeps the K smallest hash VALUES, HLL keeps only the max
    * leading-zero RANK per register (m=64 registers, 6 index bits), so the
    * per-group state is 64 bytes no matter how many distinct values flow
    * through. Includes the paper's small-range linear-counting correction
    * (E ≤ 2.5m with empty registers); the 32-bit large-range correction
    * does not apply to a 60-bit hash space.
    *
    * Determinism: the harmonic sum Σ 2^−M_j is kept as the EXACT integer
    * Σ 2^(55−M_j) (every term ≤ 2^54, the sum ≤ 2^60 — order-free long
    * arithmetic; a double sum would round differently per partition
    * order), with one double division at the very end. The rank is integer
    * too: ρ = 55 − bitlength(h >> 6) via `bin()`, identical in both
    * engines — no log2 float edge.
    *
    * Scale shape: ONE shuffle keyed (source, register) with a map-side max
    * partial, then a 64-rows-per-source aggregate — mergeable bounded
    * sketch state, the canonical 100 TB distinct-count shape.
    *
    * The two halves below are shared with [[StreamOps.qStreamHll]], where
    * the register table IS the streaming aggregation state.
    */
  /** (key..., h) → (key..., j, rho): HLL register index + leading-zero
    * rank, all integer (`bin()` bitlength — no float log2 edge). */
  private[queries] def hllRegisterCols(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed
      .select(keys.map(col) :+ (col("h") % lit(HllM.toLong)).as("j") :+
        shiftright(col("h"), 6).as("w"): _*)
      .withColumn("rho",
        lit(55) - when(col("w") === 0L, lit(0)).otherwise(length(bin(col("w")))))
      .groupBy((keys :+ "j").map(col): _*).agg(max(col("rho")).as("mj"))

  /** (key..., j, mj) registers → (key..., v_zero, hll_est) with the exact
    * integer harmonic sum + small-range correction. */
  private[queries] def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame = {
    val agg = regs.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("present"),
        sum(expr("shiftleft(cast(1 as bigint), cast(55 - mj as int))")).as("s_present"))
      .select(keys.map(col) :+ (lit(HllM.toLong) - col("present")).as("v_zero") :+
        (col("s_present") +
          (lit(HllM.toLong) - col("present")) * lit(1L << 55)).as("s_int"): _*)
    val raw = lit(HllNum) / col("s_int").cast(DoubleType)
    agg.select(keys.map(col) :+ col("v_zero") :+
      TextOps.quant(
        when(col("v_zero") > 0L && raw <= lit(2.5 * HllM),
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v_zero")))
          .otherwise(raw), 4).as("hll_est"): _*)
  }

  def hllDistinct(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(col("source"), explode(TextOps.shingles(col("__toks"), 3)).as("g"))
    val regs = hllRegisterCols(
      sh.select(col("source"), TextOps.hash60(col("g")).as("h")), Seq("source"))
    hllEstimate(regs, Seq("source"))
  }

  private val hllOracle = s"""
    WITH sh AS (
      SELECT source, unnest(${shinglesSql(toksSql, 3)}) AS g FROM (
        SELECT source, $toksSql AS sp, text FROM documents) t),
    h AS (SELECT source, ${hashSql("g")} AS h FROM sh),
    r AS (SELECT source, h % $HllM AS j,
            55 - (CASE WHEN h // $HllM = 0 THEN 0
                       ELSE length(bin(h // $HllM)) END) AS rho FROM h),
    m AS (SELECT source, j, max(rho) AS mj FROM r GROUP BY 1, 2),
    agg AS (SELECT source, CAST(count(*) AS BIGINT) AS present,
              CAST(sum(1::BIGINT << (55 - mj)) AS BIGINT) AS s_present
            FROM m GROUP BY 1),
    fin AS (SELECT source, $HllM - present AS v_zero,
              s_present + ($HllM - present) * (1::BIGINT << 55) AS s_int FROM agg)
    SELECT source, v_zero,
      ${qSql(s"""CASE WHEN v_zero > 0 AND $HllNum / s_int <= ${2.5 * HllM}
                 THEN $HllM * ln($HllM.0 / v_zero)
                 ELSE $HllNum / s_int END""", 4)} AS hll_est
    FROM fin"""

  /** Hierarchical HLL rollup — HLL's merge law, the twin of [[kmvRollup]]:
    * each shard keeps its own m=64 max-rank registers (64 bytes of state),
    * and merging shards is a register-wise MAX — which by max-associativity
    * equals the direct single-pass sketch exactly, so the rolled-up
    * estimate is BIT-IDENTICAL to sketching the whole corpus at once (the
    * oracle computes the direct form; equality IS the merge law). The merge
    * input is ≤ shards·m rows. This is why HLL is the 100 TB distinct-count
    * workhorse: per-partition state is constant and union is lossless. */
  def hllRollup(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(pmod(col("doc_id"), lit(8L)).as("shard"),
        explode(TextOps.shingles(col("__toks"), 3)).as("g"))
    val shardRegs = hllRegisterCols( // ≤ 8·64 rows
      sh.select(col("shard"), TextOps.hash60(col("g")).as("h")), Seq("shard"))
    val merged = shardRegs.groupBy("j").agg(max(col("mj")).as("mj"))
    hllEstimate(merged, Seq.empty)
  }

  /** The oracle is the DIRECT un-sharded sketch: passing means the shard
    * rollup reproduced it exactly. */
  private val hllRollupOracle = s"""
    WITH sh AS (
      SELECT unnest(${shinglesSql(toksSql, 3)}) AS g FROM (
        SELECT $toksSql AS sp, text FROM documents) t),
    h AS (SELECT ${hashSql("g")} AS h FROM sh),
    r AS (SELECT h % $HllM AS j,
            55 - (CASE WHEN h // $HllM = 0 THEN 0
                       ELSE length(bin(h // $HllM)) END) AS rho FROM h),
    m AS (SELECT j, max(rho) AS mj FROM r GROUP BY 1),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS present,
              CAST(sum(1::BIGINT << (55 - mj)) AS BIGINT) AS s_present FROM m),
    fin AS (SELECT $HllM - present AS v_zero,
              s_present + ($HllM - present) * (1::BIGINT << 55) AS s_int FROM agg)
    SELECT v_zero,
      ${qSql(s"""CASE WHEN v_zero > 0 AND $HllNum / s_int <= ${2.5 * HllM}
                 THEN $HllM * ln($HllM.0 / v_zero)
                 ELSE $HllNum / s_int END""", 4)} AS hll_est
    FROM fin"""

  /** Hierarchical KMV rollup — the MERGEABILITY of the sketch, which is the
    * whole reason sketches exist at 100 TB: each shard keeps its own K
    * minimum distinct hash values (map-side, bounded state), and merging is
    * "union the survivor sets, keep the K smallest" — which by construction
    * equals the K smallest of the whole corpus, so the rolled-up estimate is
    * BIT-IDENTICAL to a direct single-pass sketch (the oracle computes the
    * direct form; equality is the merge law, not luck). The per-shard state
    * is the native [[graft.functions.KMinK]] aggregate — bounded ≤K map-side
    * partials, no rank window sorting a shard's whole distinct set. After
    * the per-shard sketches the merge input is ≤ shards·K rows — the final
    * top-K is a TakeOrdered (per-partition heads + driver merge), never a
    * global sort. */
  def kmvRollup(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(pmod(col("doc_id"), lit(8L)).as("shard"),
        explode(TextOps.shingles(col("__toks"), 3)).as("g"))
    val survivors = sh.select(col("shard"), TextOps.hash60(col("g")).as("h"))
      .groupBy("shard").agg(TextOps.kminK(col("h"), KmvK).as("hs"))
      .select(explode(col("hs")).as("h")).distinct() // ≤ shards·K rows total
    survivors.orderBy(col("h").asc).limit(KmvK)
      .agg(max(col("h")).as("hk"), count(lit(1)).as("k"))
      .select(floor(lit((KmvK - 1).toDouble * Max60) / col("hk")).cast(LongType)
        .as("est_distinct"), col("k"))
  }

  private val kmvRollupOracle = s"""
    WITH sh AS (
      SELECT unnest(${shinglesSql(toksSql, 3)}) AS g FROM (
        SELECT $toksSql AS sp, text FROM documents) t),
    h AS (SELECT DISTINCT ${hashSql("g")} AS h FROM sh),
    r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h)
    SELECT CAST(floor(${(KmvK - 1).toDouble * Max60} / max(h)) AS BIGINT) AS est_distinct,
           count(*) AS k
    FROM r WHERE rn <= $KmvK"""

  /** KMV set-operation estimates between two corpus halves (Beyer et al.
    * 2007 "On Synopses for Distinct-Value Estimation"): from each side's
    * bounded K-minimum sketch alone, estimate |A∪B| (the merged sketch's
    * K-th minimum — exact merge law) and |A∩B| via the Jaccard estimator
    * `|sketch(A) ∩ sketch(B) ∩ unionTopK| / K`. The corpus is scanned once
    * per side with O(K) state; the set algebra runs on 2·K longs.
    *
    * Output is one row: union/intersection estimates plus the sketch-level
    * Jaccard numerator (the oracle recomputes all three from scratch). */
  def kmvSetOps(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select((col("doc_id") % 2).as("side"),
        explode(TextOps.shingles(col("__toks"), 3)).as("g"))
    val sketches = sh.select(col("side"), TextOps.hash60(col("g")).as("h"))
      .groupBy("side").agg(TextOps.kminK(col("h"), KmvK).as("hs"))
    // set algebra over 2·K longs: array functions on a 2-row frame — the
    // "distributed" part ended at the bounded per-side aggregation
    val a = sketches.filter(col("side") === 0).select(col("hs").as("ha"))
    val b = sketches.filter(col("side") === 1).select(col("hs").as("hb"))
    a.crossJoin(b)
      .withColumn("hu", slice(array_sort(array_union(col("ha"), col("hb"))), 1, KmvK))
      .withColumn("ku", element_at(col("hu"), KmvK))
      .withColumn("inter_k",
        size(array_intersect(array_intersect(col("ha"), col("hb")), col("hu"))).cast(LongType))
      .select(
        floor(lit((KmvK - 1).toDouble * Max60) / col("ku")).cast(LongType)
          .as("est_union"),
        col("inter_k"),
        floor(col("inter_k") * lit((KmvK - 1).toDouble * Max60)
          / lit(KmvK.toDouble) / col("ku")).cast(LongType).as("est_intersect"))
  }

  private val kmvSetOpsOracle = s"""
    WITH sh AS (
      SELECT doc_id % 2 AS side, unnest(${shinglesSql(toksSql, 3)}) AS g FROM (
        SELECT doc_id, $toksSql AS sp, text FROM documents) t),
    h AS (SELECT DISTINCT side, ${hashSql("g")} AS h FROM sh),
    r AS (SELECT side, h,
            row_number() OVER (PARTITION BY side ORDER BY h) AS rn FROM h),
    sk AS (SELECT side, list(h ORDER BY h) AS hs FROM r WHERE rn <= $KmvK GROUP BY side),
    ab AS (SELECT
        (SELECT hs FROM sk WHERE side = 0) AS ha,
        (SELECT hs FROM sk WHERE side = 1) AS hb),
    u AS (SELECT ha, hb,
        list_sort(list_distinct(list_concat(ha, hb)))[1:$KmvK] AS hu FROM ab)
    SELECT
      CAST(floor(${(KmvK - 1).toDouble * Max60} / hu[$KmvK]) AS BIGINT) AS est_union,
      CAST(len(list_intersect(list_intersect(ha, hb), hu)) AS BIGINT) AS inter_k,
      CAST(floor(len(list_intersect(list_intersect(ha, hb), hu))
        * ${(KmvK - 1).toDouble * Max60} / ${KmvK.toDouble} / hu[$KmvK]) AS BIGINT)
        AS est_intersect
    FROM u"""

  // ---- unigram-LM perplexity scoring -----------------------------------

  /** Per-document negative log-likelihood under the corpus's own unigram
    * language model — the classic perplexity quality filter (high nll =
    * tokens the corpus finds surprising = likely junk). Two map-side-
    * combinable aggregations (doc term counts → corpus term counts) and one
    * token-keyed join; per-token nll terms are quantized and decimal-summed
    * so the per-doc average is partition-order-independent. */
  def perplexity(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("ctf"))
      .persist() // two consumers: the vocab aggregate + the scoring join
    val vocab = tf.groupBy("t").agg(sum("ctf").as("c"))
    val total = vocab.agg(sum(col("c")).as("n_total"))
    val scores = vocab.crossJoin(broadcast(total))
      .select(col("t"),
        TextOps.quant(log(col("n_total") * lit(1.0) / col("c")), 6).as("nll_t"))
    tf.join(scores, "t")
      .select(col("doc_id"), col("ctf"),
        TextOps.quant(col("ctf") * col("nll_t"), 6).cast(DecimalType(28, 8)).as("term"))
      .groupBy("doc_id")
      .agg(sum(col("ctf")).as("n_tokens"), sum(col("term")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        TextOps.quant(col("s").cast(DoubleType) / col("n_tokens"), 4).as("nll"))
  }

  private val perplexityOracle = s"""
    WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents
                 WHERE length(trim(text)) > 0),
    tf AS (SELECT doc_id, t, count(*) AS ctf FROM tok GROUP BY 1, 2),
    vocab AS (SELECT t, CAST(sum(ctf) AS BIGINT) AS c FROM tf GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
    scores AS (SELECT t, ${qSql("ln(n_total * 1.0 / c)", 6)} AS nll_t FROM vocab, tot),
    terms AS (SELECT doc_id, ctf,
                CAST(${qSql("ctf * nll_t", 6)} AS DECIMAL(28,8)) AS term
              FROM tf JOIN scores USING (t))
    SELECT doc_id, CAST(sum(ctf) AS BIGINT) AS n_tokens,
           ${qSql("CAST(sum(term) AS DOUBLE) / sum(ctf)", 4)} AS nll
    FROM terms GROUP BY doc_id"""

  // ---- bigram-LM scoring -----------------------------------------------

  /** Per-document NLL under the corpus's own add-one-smoothed BIGRAM model —
    * the context-aware upgrade of [[perplexity]]'s unigram filter:
    * `p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)`, so a document full of common
    * words in UNCOMMON orders now scores as surprising.
    *
    * Scale shape mirrors perplexity exactly: the model is two token-keyed
    * aggregates (bigram + left-word counts, both ≪ corpus) and V is a 1-row
    * total; the scoring join keys on the bigram; every float is quantized
    * and decimal-summed. Documents under 2 tokens have no bigrams and are
    * excluded on both sides. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    // ONE tokenization pass feeds both model sides (bigram + unigram counts)
    val toked = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .persist()
    val bf = toked.filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(TextOps.ngrams(col("__toks"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cbg"))
      .persist() // model aggregate + the scoring join both consume it
    val bigrams = bf.groupBy("bg").agg(sum("cbg").as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val unigrams = toked
      .select(explode(col("__toks")).as("t")).filter(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val v = unigrams.agg(count(lit(1)).as("vsize"))
    val scores = bigrams
      .join(unigrams.select(col("t").as("w1"), col("c1")), "w1")
      .crossJoin(broadcast(v))
      .select(col("bg"),
        TextOps.quant(log((col("c1") + col("vsize")) * lit(1.0) / (col("c12") + 1)), 6)
          .as("nll_bg"))
    bf.join(scores, "bg")
      .select(col("doc_id"), col("cbg"),
        TextOps.quant(col("cbg") * col("nll_bg"), 6).cast(DecimalType(28, 8)).as("term"))
      .groupBy("doc_id")
      .agg(sum(col("cbg")).as("n_bigrams"), sum(col("term")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        TextOps.quant(col("s").cast(DoubleType) / col("n_bigrams"), 4).as("nll"))
  }

  private val bigramLmOracle = {
    val ngrams2 = s"""CASE WHEN len(sp) >= 2
          THEN [array_to_string(sp[i:i+1],' ') for i in range(1, len(sp))]
          ELSE [array_to_string(sp,' ')] END"""
    s"""
    WITH t0 AS (SELECT doc_id, $toksSql AS sp FROM documents
                WHERE length(trim(text)) > 0),
    bf AS (SELECT doc_id, bg, count(*) AS cbg FROM (
             SELECT doc_id, unnest($ngrams2) AS bg FROM t0 WHERE len(sp) >= 2) x
           GROUP BY 1, 2),
    bigrams AS (SELECT bg, CAST(sum(cbg) AS BIGINT) AS c12,
                  string_split(bg, ' ')[1] AS w1 FROM bf GROUP BY 1),
    unigrams AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM (
                   SELECT unnest(sp) AS t FROM t0) u WHERE length(t) > 0 GROUP BY 1),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM unigrams),
    scores AS (SELECT bg, ${qSql("ln((c1 + vsize) * 1.0 / (c12 + 1))", 6)} AS nll_bg
               FROM bigrams JOIN unigrams ON bigrams.w1 = unigrams.t CROSS JOIN v),
    terms AS (SELECT doc_id, cbg,
                CAST(${qSql("cbg * nll_bg", 6)} AS DECIMAL(28,8)) AS term
              FROM bf JOIN scores USING (bg))
    SELECT doc_id, CAST(sum(cbg) AS BIGINT) AS n_bigrams,
           ${qSql("CAST(sum(term) AS DOUBLE) / sum(cbg)", 4)} AS nll
    FROM terms GROUP BY doc_id"""
  }

  // ---- DSIR importance weights -----------------------------------------

  private val DsirBuckets = 8192L

  /** Data Selection with Importance Resampling (Xie et al. 2023) weights:
    * hashed-bigram bag-of-features models of a TARGET distribution (here the
    * English slice) and the RAW corpus; each document's weight is its mean
    * per-feature log-likelihood ratio. Documents that look like the target
    * score above 0, off-target ones below — the selection signal a mixture
    * builder resamples by.
    *
    * Scale shape: feature extraction is narrow; both distribution models
    * collapse to ≤ 8192-row bucket tables (map-side-combined counts) that
    * BROADCAST back onto the per-doc bucket counts — the corpus is never
    * shuffled except to group its own (doc, bucket) rows. */
  def dsir(s: SparkSession, d: String): DataFrame = {
    val feats = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        explode(TextOps.shingles(col("__toks"), 2)).as("g"))
      .select(col("doc_id"), col("lang"),
        pmod(TextOps.hash60(col("g")), lit(DsirBuckets)).as("b"))
      .persist() // three consumers: raw counts, target counts, per-doc counts
    val raw = feats.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = feats.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
    val j = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
    val tot = j.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    // add-1 smoothed log-ratio per bucket, quantized so the broadcast table
    // is bit-identical on every executor and engine
    val w = j.crossJoin(broadcast(tot)).select(col("b"),
      TextOps.quant(
        log((col("ct") + 1) * lit(1.0) / (col("nt") + DsirBuckets)) -
        log((col("cr") + 1) * lit(1.0) / (col("nr") + DsirBuckets)), 6).as("w"))
    feats.groupBy("doc_id", "b").agg(count(lit(1)).as("cb"))
      .join(broadcast(w), "b")
      .select(col("doc_id"), col("cb"),
        TextOps.quant(col("cb") * col("w"), 6).cast(DecimalType(28, 8)).as("term"))
      .groupBy("doc_id")
      .agg(sum(col("cb")).as("n_feats"), sum(col("term")).as("s"))
      .select(col("doc_id"), col("n_feats"),
        TextOps.quant(col("s").cast(DoubleType) / col("n_feats"), 4).as("logw"))
  }

  private val dsirOracle = s"""
    WITH feats AS (
      SELECT doc_id, lang, ${hashSql("g")} % $DsirBuckets AS b FROM (
        SELECT doc_id, lang, unnest(${shinglesSql(toksSql, 2)}) AS g FROM (
          SELECT doc_id, lang, $toksSql AS sp, text FROM documents) t0) t),
    raw AS (SELECT b, count(*) AS cr FROM feats GROUP BY 1),
    tgt AS (SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY 1),
    j AS (SELECT b, cr, COALESCE(ct, 0) AS ct FROM raw LEFT JOIN tgt USING (b)),
    tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM j),
    w AS (SELECT b, ${qSql(s"ln((ct + 1) * 1.0 / (nt + $DsirBuckets)) - ln((cr + 1) * 1.0 / (nr + $DsirBuckets))", 6)} AS w
          FROM j, tot),
    db AS (SELECT doc_id, b, count(*) AS cb FROM feats GROUP BY 1, 2),
    terms AS (SELECT doc_id, cb, CAST(${qSql("cb * w", 6)} AS DECIMAL(28,8)) AS term
              FROM db JOIN w USING (b))
    SELECT doc_id, CAST(sum(cb) AS BIGINT) AS n_feats,
           ${qSql("CAST(sum(term) AS DOUBLE) / sum(cb)", 4)} AS logw
    FROM terms GROUP BY doc_id"""

  // ---- curriculum phases -----------------------------------------------

  private val CurriculumPhases = 4

  /** Curriculum assignment: within each source stratum, rank documents by
    * quality (best first) and cut into equal phases — phase 1 trains first.
    * Stratifying by source keeps the window hash-partitioned (a GLOBAL
    * quality ntile would be a rangepartitioning sort — the shape this
    * codebase bans) and matches how corpus shards are actually scheduled. */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    LlmOps.enrich(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("phase",
        ntile(CurriculumPhases).over(
          Window.partitionBy("source")
            .orderBy(col("quality").desc, col("doc_id").asc)).cast(LongType))
  }

  /** [[curriculum]]'s corpus-scale twin — SAME phases (one oracle SQL,
    * byte-identical results), NO stratum-wide sort. The reference-shape
    * query above ntiles inside a per-source rank window, which routes a
    * giant source's full doc set through one reducer's sort; this form
    * decomposes the rank instead:
    *
    *   rank(doc) = #docs with strictly better quality in the source
    *             + position among EQUAL-quality docs by doc_id
    *
    * The first term is an exclusive cumsum over the per-(source, quality)
    * tie counts — a window over a frame bounded by DISTINCT QUALITY VALUES
    * per source (quality is 4-decimal quantized, so ≤10⁴ rows regardless
    * of corpus size). The second is a bucketed prefix COUNT
    * ([[graft.ops.PrefixSum]], stratum = (source, quality), `doc_id >> 16`
    * buckets) — nothing sorts more than one bucket even when half the
    * corpus shares one quality score. `ntile` then reconstructs from
    * (rank, source size) in closed form (the standard padded-buckets
    * formula both engines implement). Nothing anywhere sorts a stratum. */
  def curriculumBounded(s: SparkSession, d: String): DataFrame =
    // narrow (doc_id, source, quality) projection feeds THREE consumers
    // (tie counts, source sizes, the prefix count) — persist so the
    // tokenize-heavy enrich runs once
    curriculumBoundedFrom(
      LlmOps.enrich(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("quality")).persist(),
      CurriculumPhases)

  /** The decomposed-rank core over ANY (doc_id, source, quality) frame —
    * driveable with synthetic tie-heavy fleets (SkewStressSpec pins
    * closed-form ntile equality when half a stratum shares one quality). */
  private[queries] def curriculumBoundedFrom(base: DataFrame,
                                             phases: Int): DataFrame = {
    val P = phases.toLong
    val tieOff = base.groupBy("source", "quality")
      .agg(count(lit(1)).as("__tn"))
      .withColumn("__off",
        coalesce(sum(col("__tn")).over(
          Window.partitionBy("source").orderBy(col("quality").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__tn")
    val sizes = base.groupBy("source").agg(count(lit(1)).as("__n"))
    val pos = graft.ops.PrefixSum.running(base, Seq("source", "quality"),
      graft.ops.PrefixSum.idBucket(col("doc_id")), Seq(col("doc_id").asc),
      lit(1L), "__pos", inclusive = true)
    // Spark/DuckDB ntile over N rows: the first N%P buckets carry
    // floor(N/P)+1 rows, the rest floor(N/P). Integer-exact via double
    // division + truncation (values ≪ 2^52).
    val rk = col("__off") + col("__pos")
    val bs = (col("__n") / P).cast(LongType)
    val rem = col("__n") - bs * P
    val padded = (bs + 1) * rem
    val phase = when(rk <= padded,
        ((rk - 1) / (bs + 1)).cast(LongType) + 1)
      .otherwise(rem +
        ((rk - 1 - padded) / greatest(bs, lit(1L))).cast(LongType) + 1)
    pos.join(broadcast(tieOff), Seq("source", "quality"))
      .join(broadcast(sizes), Seq("source"))
      .withColumn("phase", phase)
      .select("doc_id", "source", "quality", "phase")
  }

  private val curriculumOracle = {
    val en = TextOps.LangStopwords.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""
    WITH feats AS (
      SELECT doc_id, source,
        ${qSql("least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - least(punct * 5, 1.0)) * 0.3 + least(stop * 3, 1.0) * 0.3", 4)} AS quality
      FROM (
        SELECT doc_id, source,
          len(sp)::BIGINT AS n_tokens,
          len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE / length(text) AS punct,
          len(list_filter(sp, t -> list_contains($en, t)))::DOUBLE / len(sp) AS stop
        FROM (SELECT doc_id, source, text, $toksSql AS sp FROM documents) t) tt)
    SELECT doc_id, source, quality,
           CAST(ntile($CurriculumPhases) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS phase
    FROM feats"""
  }

  // ---- BM25 retrieval scoring ------------------------------------------

  private val Bm25Terms = Seq("table", "query", "join")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 relevance of every document to a fixed query-term set — the
    * retrieval scorer a data pipeline uses to mine topical subsets. The
    * query terms are filtered out of the token stream BEFORE any shuffle
    * (the exploded frame holds only matching tokens), document frequencies
    * and idf live in a ≤|terms|-row broadcast, and document length
    * normalization comes from one corpus-stats row — the fact table
    * shuffles once, keyed on doc_id. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), size(col("__toks")).cast(LongType).as("dl"), col("__toks"))
    val tf = docs
      .select(col("doc_id"), col("dl"),
        explode(filter(col("__toks"),
          t => t.isin(Bm25Terms.map(_.asInstanceOf[Any]): _*))).as("t"))
      .groupBy("doc_id", "dl", "t").agg(count(lit(1)).as("tf"))
    val corpusStats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val df_ = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val idf = df_.crossJoin(broadcast(corpusStats))
      .select(col("t"), col("n_docs"), col("sum_dl"),
        TextOps.quant(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6)
          .as("idf"))
    tf.join(broadcast(idf), "t")
      .select(col("doc_id"),
        TextOps.quant(
          col("idf") * (col("tf") * (Bm25K1 + 1)) /
            (col("tf") + lit(Bm25K1) *
              (lit(1 - Bm25B) + lit(Bm25B) * col("dl") /
                (col("sum_dl") * lit(1.0) / col("n_docs")))), 6)
          .cast(DecimalType(28, 8)).as("term"))
      .groupBy("doc_id").agg(sum("term").as("s"))
      .select(col("doc_id"), TextOps.quant(col("s").cast(DoubleType), 4).as("score"))
  }

  private val bm25Oracle = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH docs AS (SELECT doc_id, len($toksSql)::BIGINT AS dl, text FROM documents),
    stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM docs),
    tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
    tf AS (SELECT d.doc_id, d.dl, k.t, count(*) AS tf
           FROM (SELECT * FROM tok WHERE t IN ($terms)) k JOIN docs d USING (doc_id)
           GROUP BY 1, 2, 3),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    idf AS (SELECT t, n_docs, sum_dl,
              ${qSql("ln((n_docs - df + 0.5) / (df + 0.5) + 1)", 6)} AS idf
            FROM df, stats),
    terms AS (SELECT doc_id,
                CAST(${qSql(s"idf * (tf * ($Bm25K1 + 1)) / (tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl / (sum_dl * 1.0 / n_docs)))", 6)} AS DECIMAL(28,8)) AS term
              FROM tf JOIN idf USING (t))
    SELECT doc_id, ${qSql("CAST(sum(term) AS DOUBLE)", 4)} AS score
    FROM terms GROUP BY doc_id"""
  }

  // ---- reciprocal-rank fusion ------------------------------------------

  private val RrfK = 60   // the published RRF damping constant
  private val RrfTopN = 100

  /** Hybrid retrieval fusion (Cormack et al.'s reciprocal rank fusion):
    * the BM25 relevance ranking fused with a document-quality ranking —
    * RRF = Σ 1/(K + rank_i) over the rankings a doc appears in. This is how
    * a topical-subset miner combines "matches the query" with "worth
    * training on" without score calibration.
    *
    * Scale shape: each ranking is first cut to its top-N by a TakeOrdered
    * (per-partition heads + driver merge — never a global sort of the
    * corpus); the rank-assignment windows then order ≤ N rows, and the
    * fusion is a full outer join of two ≤ N-row frames. Everything
    * downstream of the TakeOrdered is control-plane-sized. */
  def rankFusion(s: SparkSession, d: String): DataFrame = {
    val wBm = Window.orderBy(col("score").desc, col("doc_id").asc)
    val topBm = bm25(s, d).orderBy(col("score").desc, col("doc_id").asc).limit(RrfTopN)
      .withColumn("r_bm25", row_number().over(wBm).cast(LongType))
      .select("doc_id", "r_bm25")
    val qual = LlmOps.enrich(Tables.documents(s, d))
      .select(col("doc_id"), col("quality"))
    val wQ = Window.orderBy(col("quality").desc, col("doc_id").asc)
    val topQ = qual.orderBy(col("quality").desc, col("doc_id").asc).limit(RrfTopN)
      .withColumn("r_quality", row_number().over(wQ).cast(LongType))
      .select("doc_id", "r_quality")
    topBm.join(topQ, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_bm25"), col("r_quality"),
        TextOps.quant(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_quality")), lit(0.0)), 6).as("rrf"))
  }

  private lazy val rankFusionOracle = {
    val en = TextOps.LangStopwords.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""
    WITH bm AS (
      SELECT doc_id, score,
        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_bm25
      FROM ($bm25Oracle) b
      ORDER BY score DESC, doc_id ASC LIMIT $RrfTopN),
    qual AS (
      SELECT doc_id,
        ${qSql("least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - least(punct * 5, 1.0)) * 0.3 + least(stop * 3, 1.0) * 0.3", 4)} AS quality
      FROM (
        SELECT doc_id,
          len(sp)::BIGINT AS n_tokens,
          len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE / length(text) AS punct,
          len(list_filter(sp, t -> list_contains($en, t)))::DOUBLE / len(sp) AS stop
        FROM (SELECT doc_id, text, $toksSql AS sp FROM documents) t) tt),
    tq AS (
      SELECT doc_id,
        row_number() OVER (ORDER BY quality DESC, doc_id ASC) AS r_quality
      FROM qual ORDER BY quality DESC, doc_id ASC LIMIT $RrfTopN)
    SELECT COALESCE(bm.doc_id, tq.doc_id) AS doc_id, r_bm25, r_quality,
      ${qSql("COALESCE(1.0 / (" + RrfK + " + r_bm25), 0.0) + COALESCE(1.0 / (" + RrfK + " + r_quality), 0.0)", 6)} AS rrf
    FROM bm FULL OUTER JOIN tq ON bm.doc_id = tq.doc_id"""
  }

  // ---- domain mixture weights ------------------------------------------

  /** Per-source resampling weights that rebalance the corpus token mass to
    * a uniform mixture — weight > 1 means upsample, < 1 downsample. One
    * map-side-combined aggregate to |sources| rows plus a one-row totals
    * broadcast; nothing document-sized ever shuffles. */
  def domainMix(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(TextOps.tokens(col("text"))).cast(LongType).as("dl"))
      .groupBy("source").agg(sum("dl").as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        TextOps.quant(col("total") * lit(1.0) / (col("n_sources") * col("n_tokens")), 6)
          .as("weight"))
  }

  private val domainMixOracle = s"""
    WITH per AS (
      SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS n_sources FROM per)
    SELECT source, n_tokens,
           ${qSql("total * 1.0 / (n_sources * n_tokens)", 6)} AS weight
    FROM per, tot"""

  /** Temperature-scaled source mixing (XLM-R-style: sample share
    * q_s ∝ p_s^α with α = 1/T) at T = 2, i.e. q_s ∝ √n_s — the standard
    * knob that upweights tail sources less aggressively than uniform
    * [[domainMix]] rebalancing. α = 0.5 is the oracle-stable choice on
    * purpose: IEEE-754 `sqrt` is correctly rounded on every engine where
    * generic `pow` is not. Each source's per-mille keep rate targets HALF
    * the corpus tokens redistributed by q (clamped to [1, 1000]); shares
    * and rates quantize through DECIMAL sums so no float fold order can
    * move them. Same scale shape as [[resample]]: a |sources|-row broadcast
    * onto a narrow hash-gate filter — the corpus scans once, shuffles
    * never. */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(TextOps.tokens(col("text"))).cast(LongType).as("dl"))
      .groupBy("source").agg(sum("dl").as("n_tokens"))
      .withColumn("sq", TextOps.quant(sqrt(col("n_tokens").cast(DoubleType)), 6)
        .cast(DecimalType(28, 8)))
    val tot = per.agg(sum(col("n_tokens")).as("total"), sum(col("sq")).as("ssum"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("q_share",
        TextOps.quant(col("sq").cast(DoubleType) / col("ssum").cast(DoubleType), 6))
      .select(col("source"),
        least(greatest(
          floor(TextOps.quant(col("total").cast(DoubleType) * col("q_share") /
            (lit(2.0) * col("n_tokens").cast(DoubleType)), 6) * 1000).cast(LongType),
          lit(1L)), lit(1000L)).as("per_mille"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .filter(pmod(TextOps.hash60(concat(col("doc_id").cast(StringType), lit(":tmix"))),
        lit(1000L)) < col("per_mille"))
      .select("doc_id", "source", "per_mille")
  }

  private val temperatureMixOracle = s"""
    WITH per AS (
      SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    sq AS (SELECT source, n_tokens,
             CAST(${qSql("sqrt(n_tokens::DOUBLE)", 6)} AS DECIMAL(28,8)) AS sq
           FROM per),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, sum(sq) AS ssum FROM sq),
    rates AS (
      SELECT source,
        least(greatest(CAST(floor(${qSql(
          s"total::DOUBLE * ${qSql("sq::DOUBLE / ssum::DOUBLE", 6)} / (2.0 * n_tokens::DOUBLE)",
          6)} * 1000) AS BIGINT), 1), 1000) AS per_mille
      FROM sq, tot)
    SELECT doc_id, source, per_mille
    FROM documents JOIN rates USING (source)
    WHERE ${hashSql("doc_id::VARCHAR || ':tmix'")} % 1000 < per_mille"""

  // ---- PMI co-occurrence mining ----------------------------------------

  private val PmiMinCount = 5L

  /** Pointwise-mutual-information co-occurrence pairs within a ±2-token
    * window — the collocation statistic (word2vec-era SGNS trains on exactly
    * this co-occurrence distribution) a corpus build mines for tokenizer
    * merges and phrase detection.
    *
    * Scale shape: pair generation is NARROW — each offset-k pair list is a
    * zip of two slices of the materialized token array (no positional
    * self-join, no explode-then-join-on-position, which would be quadratic
    * in document length) — and the only shuffles key on the pair and the
    * unigram. The unigram model and the two corpus totals collapse to
    * broadcast tables, so nothing document-sized moves twice. The total
    * pair count is computed arithmetically from per-doc token counts
    * (Σ max(n−1,0)+max(n−2,0)) instead of re-scanning the pair stream. */
  def pmi(s: SparkSession, d: String): DataFrame = {
    val toksd = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .persist() // three consumers: unigrams, pairs, totals
    val n = size(col("tk"))
    def pairsAt(k: Int): Column =
      zip_with(slice(col("tk"), lit(1), greatest(n - k, lit(0))),
        slice(col("tk"), lit(1 + k), greatest(n - k, lit(0))),
        (a, b) => struct(least(a, b).as("x"), greatest(a, b).as("y")))
    val pairs = toksd.select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val pc = pairs.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= PmiMinCount)
    val uni = toksd.select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_t"))
      .persist() // three consumers (x-side, y-side, totals) — broadcast
                 // build sides don't reuse exchanges
    val totals = toksd
      .agg(sum(greatest(n - 1, lit(0)) + greatest(n - 2, lit(0))).cast(LongType).as("n_pair"))
      .crossJoin(broadcast(uni.agg(sum(col("n_t")).cast(LongType).as("n_tok"))))
    pc.join(broadcast(uni.select(col("t").as("x"), col("n_t").as("n_x"))), "x")
      .join(broadcast(uni.select(col("t").as("y"), col("n_t").as("n_y"))), "y")
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("n_xy"),
        TextOps.quant(log(
          (col("n_xy").cast(DoubleType) * col("n_tok") * col("n_tok")) /
            (col("n_pair").cast(DoubleType) * col("n_x") * col("n_y"))), 4).as("pmi"))
  }

  private val pmiOracle = s"""
    WITH t AS (SELECT doc_id, $toksSql AS sp FROM documents),
    tok AS (SELECT doc_id, unnest(sp) AS w, generate_subscripts(sp, 1) AS pos FROM t),
    pairs AS (
      SELECT least(a.w, b.w) AS x, greatest(a.w, b.w) AS y
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2),
    pc AS (SELECT x, y, count(*) AS n_xy FROM pairs GROUP BY 1, 2
           HAVING count(*) >= $PmiMinCount),
    uni AS (SELECT w, count(*) AS n_t FROM tok GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pair FROM pairs),
    tk AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_tok FROM uni)
    SELECT x, y, n_xy,
      ${qSql("ln((n_xy * 1.0 * n_tok * n_tok) / (n_pair * 1.0 * ux.n_t * uy.n_t))", 4)} AS pmi
    FROM pc
    JOIN uni ux ON ux.w = pc.x
    JOIN uni uy ON uy.w = pc.y
    CROSS JOIN tot CROSS JOIN tk"""

  // ---- Count-Min heavy hitters -----------------------------------------

  private val CmDepth = 4
  private val CmWidth = 256L
  private val CmTopK = 10

  private def cmBucket(key: Column, i: Column): Column =
    TextOps.hash60(concat(key.cast(StringType), lit(":cm:"), i.cast(StringType))) %
      lit(CmWidth)

  /** Heavy hitters via a Count-Min sketch (Cormode & Muthukrishnan 2005) —
    * the frequency complement of [[kmvDistinct]]/[[hllDistinct]]: the whole
    * stream folds into a d×w counter matrix ([[CmDepth]]×[[CmWidth]] cells,
    * map-side combinable), and a key's frequency estimate is the MIN of its
    * d counters (always ≥ truth — one-sided error, proven in the spec).
    * Top-K by (estimate, key) gives the deterministic heavy-hitter report
    * without ever materializing the exact per-key counts.
    *
    * Scale shape: the build is a narrow ×d explode into ONE bounded
    * aggregate (≤ d·w rows of state regardless of stream size); the probe
    * side joins the broadcast sketch on (row, bucket); the final top-K is a
    * TakeOrdered. Nothing keyed on the raw stream ever shuffles except the
    * distinct-key pass — which at 100 TB is the keyspace, not the stream. */
  /** The d×w cell build — exposed so the streaming twin folds micro-batches
    * into the SAME bounded aggregate (complete-mode state = these cells). */
  private[queries] def cmCells(keyed: DataFrame, keyCol: String): DataFrame = {
    val rows = (0 until CmDepth).map(lit(_))
    keyed.select(col(keyCol), explode(array(rows: _*)).as("i"))
      .withColumn("bucket", cmBucket(col(keyCol), col("i")))
      .groupBy("i", "bucket").agg(count(lit(1)).as("c")) // ≤ d·w cells
  }

  /** The probe + top-K tail over a built sketch. */
  private[queries] def cmProbe(sketch: DataFrame, keys: DataFrame,
                               keyCol: String): DataFrame = {
    val rows = (0 until CmDepth).map(lit(_))
    keys.distinct()
      .select(col(keyCol), explode(array(rows: _*)).as("i"))
      .withColumn("bucket", cmBucket(col(keyCol), col("i")))
      .join(broadcast(sketch), Seq("i", "bucket"))
      .groupBy(keyCol).agg(min(col("c")).as("est"))
      .orderBy(col("est").desc, col(keyCol).asc).limit(CmTopK)
  }

  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.events(s, d).select(col("user_id"))
    cmProbe(cmCells(keys, "user_id"), keys, "user_id")
  }

  private[queries] val heavyHittersOracle = s"""
    WITH cells AS (
      SELECT user_id, i,
        ${hashSql("user_id::VARCHAR || ':cm:' || i::VARCHAR")} % $CmWidth AS bucket
      FROM events, unnest([${(0 until CmDepth).mkString(", ")}]) AS u(i)),
    sketch AS (SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
               FROM cells GROUP BY 1, 2),
    probes AS (
      SELECT user_id, i,
        ${hashSql("user_id::VARCHAR || ':cm:' || i::VARCHAR")} % $CmWidth AS bucket
      FROM (SELECT DISTINCT user_id FROM events) dk,
           unnest([${(0 until CmDepth).mkString(", ")}]) AS u(i))
    SELECT p.user_id, min(s.c) AS est
    FROM probes p JOIN sketch s USING (i, bucket)
    GROUP BY 1 ORDER BY est DESC, user_id ASC LIMIT $CmTopK"""

  // ---- skip-gram training pairs ----------------------------------------

  private val SkipgramWindow = 2
  private val SkipgramVocabK = 100
  private val SkipgramNegs = 2

  /** Word2vec-SGNS training data (Mikolov et al. 2013): directional
    * (center, context) pair counts within a ±[[SkipgramWindow]] token
    * window, restricted to the corpus's own top-K vocabulary, plus
    * [[SkipgramNegs]] deterministic hash-drawn negative vocabulary ids per
    * positive pair (a draw colliding with the center or the true context is
    * dropped, not re-drawn — the emitted set stays a pure function of the
    * corpus, like [[LlmOps.contrastivePairs]]).
    *
    * Scale shape: pair generation is NARROW — each offset is a zip of two
    * slices of the materialized token array, in both directions (no
    * positional self-join); the vocabulary is a control-plane TakeOrdered
    * collect broadcast back; the only shuffle keys on the (center, context)
    * pair. Negatives are a per-pair explode of hash draws — no join against
    * anything. */
  def skipgram(s: SparkSession, d: String): DataFrame = skipgramData(s, d)._1

  /** The pair frame plus the realized vocabulary size (the id space the
    * SGNS trainer's weight tables span). */
  private def skipgramData(s: SparkSession, d: String): (DataFrame, Int) = {
    import s.implicits._
    val toksd = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .persist() // two consumers: vocabulary pass + pair pass
    val top = toksd.select(explode(col("tk")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(SkipgramVocabK)
      .collect().map(_.getString(0))
    val vocab = top.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
      .toSeq.toDF("token", "vid")
    val n = size(col("tk"))
    // (center, context) at offset k, both directions: two slice zips
    def pairsAt(k: Int): Column = concat(
      zip_with(slice(col("tk"), lit(1), greatest(n - k, lit(0))),
        slice(col("tk"), lit(1 + k), greatest(n - k, lit(0))),
        (a, b) => struct(a.as("c"), b.as("x"))),
      zip_with(slice(col("tk"), lit(1 + k), greatest(n - k, lit(0))),
        slice(col("tk"), lit(1), greatest(n - k, lit(0))),
        (a, b) => struct(a.as("c"), b.as("x"))))
    val pairs = toksd
      .select(explode(concat((1 to SkipgramWindow).map(pairsAt): _*)).as("p"))
      .select(col("p.c").as("center"), col("p.x").as("context"))
    val pos = pairs
      .join(broadcast(vocab.select(col("token").as("center"), col("vid").as("center_id"))), "center")
      .join(broadcast(vocab.select(col("token").as("context"), col("vid").as("context_id"))), "context")
      .groupBy("center_id", "context_id").agg(count(lit(1)).as("n_pos"))
    val frame = pos.select(col("center_id"), col("context_id"), col("n_pos"),
        explode(array((1 to SkipgramNegs).map(lit(_)): _*)).as("neg_rank"))
      .withColumn("neg_id",
        TextOps.hash60(concat(col("center_id").cast(StringType), lit(":"),
          col("context_id").cast(StringType), lit(":neg:"),
          col("neg_rank").cast(StringType))) % lit(top.length.toLong) + lit(1L))
      .filter(col("neg_id") =!= col("center_id") && col("neg_id") =!= col("context_id"))
    (frame, top.length)
  }

  // shared by the skipgram dump and the SGNS trainer's replay: `sgpairs`
  // is the emitted (center, context, n_pos, neg_rank, neg_id) set
  private val skipgramCtes = s"""t AS (SELECT doc_id, $toksSql AS sp FROM documents),
    tok AS (SELECT doc_id, unnest(sp) AS w, generate_subscripts(sp, 1) AS pos FROM t),
    vocab AS (
      SELECT token, row_number() OVER (ORDER BY freq DESC, token ASC) AS vid
      FROM (SELECT w AS token, count(*) AS freq FROM tok GROUP BY 1
            ORDER BY freq DESC, token ASC LIMIT $SkipgramVocabK) v),
    vsize AS (SELECT count(*) AS vn FROM vocab),
    pairs AS (
      SELECT a.w AS center, b.w AS context
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id
        AND abs(b.pos - a.pos) BETWEEN 1 AND $SkipgramWindow),
    pos AS (
      SELECT vc.vid AS center_id, vx.vid AS context_id, count(*) AS n_pos
      FROM pairs
      JOIN vocab vc ON vc.token = pairs.center
      JOIN vocab vx ON vx.token = pairs.context
      GROUP BY 1, 2),
    drawn AS (
      SELECT center_id, context_id, n_pos, r AS neg_rank,
        ${hashSql("center_id::VARCHAR || ':' || context_id::VARCHAR || ':neg:' || r::VARCHAR")}
          % vn + 1 AS neg_id
      FROM pos, vsize, unnest([${(1 to SkipgramNegs).mkString(", ")}]) AS u(r)),
    sgpairs AS MATERIALIZED (
      SELECT center_id, context_id, n_pos, neg_rank, neg_id FROM drawn
      WHERE neg_id <> center_id AND neg_id <> context_id)"""

  private val skipgramOracle =
    s"WITH $skipgramCtes\n    SELECT * FROM sgpairs"

  // ---- trained SGNS embeddings (fixed-point batch trainer) --------------

  private val SgnsDims = 8
  private val SgnsEpochs = 6
  private val SgnsF = 65536          // fixed-point scale (1.0 == 2^16)
  private val SgnsClamp = 2 * SgnsF  // weight clamp ±2.0
  private val SgnsSigDen = 4 * SgnsF // hard sigmoid: F/2 + rawDot/(4F)
  private val SgnsLrDen = 4 * SgnsF  // update: g / (ws · 4F) ⇒ lr = 1/4
  private val SgnsInitMod = SgnsF / 2
  private val SgnsInitOff = SgnsF / 4

  /** Word2vec skip-gram-negative-sampling TRAINING (Mikolov et al. 2013,
    * arXiv:1310.4546) over [[skipgram]]'s pair set, re-disciplined to
    * integer fixed-point exactly like `llm_quality_perceptron`: a BATCH
    * epoch form (the paper's per-pair SGD order is inherently sequential —
    * no oracle could replay it), a HARD sigmoid
    * `clamp(½ + x/4, 0, 1)` in 2^16 fixed point (the float σ would make
    * every gradient an ulp hazard), md5-derived deterministic init, and
    * per-word mean-gradient updates with truncating division (Scala
    * BigInt `/` and DuckDB HUGEINT `//` both truncate toward zero) plus a
    * ±2.0 clamp. Positives push σ(u_c·v_t) toward 1, the hash-drawn
    * negatives toward 0; counts weight everything.
    *
    * Scale shape (the perceptron precedent): ONE corpus-scale pass builds
    * the weighted pair/negative sample table (≤ 3·V² rows after the pair
    * aggregation — model-bounded, persisted); each epoch is one pass over
    * it under the BROADCAST weight literals plus a ≤ 2·V·D-row aggregate
    * collected as control-plane feedback; driver state = the two weight
    * matrices. Gradient sums ride in DECIMAL(38,0)/HUGEINT so no corpus
    * size can overflow them. */
  def sgnsTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tf0, vocabN) = skipgramData(s, d)
    val tf = tf0.persist() // pos AND neg legs scan it: one corpus pass, not two
    val pos = tf.select(col("center_id"), col("context_id"), col("n_pos"))
      .distinct() // tf carries one row per neg draw
      .groupBy(col("center_id").as("c"), col("context_id").as("t"))
      .agg(sum("n_pos").as("sw")).withColumn("lbl", lit(1))
    val neg = tf
      .groupBy(col("center_id").as("c"), col("neg_id").as("t"))
      .agg(sum("n_pos").as("sw")).withColumn("lbl", lit(0))
    val samples = pos.unionByName(neg).persist()
    samples.count() // materialize once so the epochs never re-run the pair gen
    tf.unpersist()

    val D = SgnsDims
    def init(kind: String): Array[Array[Long]] =
      Array.tabulate(vocabN + 1, D) { (vid, j) =>
        if (vid == 0) 0L
        else TextOps.hash60Str(s"sgns:$kind:$vid:$j") % SgnsInitMod - SgnsInitOff
      }
    val u = init("u")
    val v = init("v")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)

    // truncating long division by a positive constant (what DuckDB `//`
    // and BigInt `/` do); operands stay < 2^38 so the double path is exact
    def truncDiv(x: Column, den: Long): Column =
      when(x >= 0, (x - pmod(x, lit(den))) / lit(den))
        .otherwise(-((-x - pmod(-x, lit(den))) / lit(den))).cast(LongType)

    for (_ <- 1 to SgnsEpochs) {
      val uLit = typedLit(u.map(_.toSeq).toSeq)
      val vLit = typedLit(v.map(_.toSeq).toSeq)
      // element_at is 1-based: row for vid sits at position vid + 1
      // (position 1 is the unused vid-0 row)
      def uAt(vid: Column, j: Column) =
        element_at(element_at(uLit, vid.cast("int") + lit(1)), j + lit(1))
      def vAt(vid: Column, j: Column) =
        element_at(element_at(vLit, vid.cast("int") + lit(1)), j + lit(1))
      val rawDot = (0 until D)
        .map(j => uAt(col("c"), lit(j)) * vAt(col("t"), lit(j)))
        .reduce(_ + _) // ≤ D·(2F)² < 2^38: exact
      val sig = greatest(lit(0L),
        least(lit(SgnsF.toLong), lit(SgnsF / 2L) + truncDiv(rawDot, SgnsSigDen)))
      // ONE fused pass (the WordPiece-trainer precedent): the (tag, j)
      // plane explodes from a 2·D-element literal, so the former
      // legU/legV union — whose arms each re-scanned `samples` and
      // re-evaluated the sigmoid — collapses into a single scan with `e`
      // an attribute BELOW the Generate (computed once per sample row).
      // DECIMAL sums are order-independent, so the gradients stay
      // bit-identical to the two-leg form the oracle replays.
      val ex = samples
        .withColumn("e", sig - when(col("lbl") === 1, SgnsF.toLong).otherwise(0L))
        .select(col("c"), col("t"), col("sw"), col("e"),
          explode(typedLit(
            (0 until D).flatMap(j => Seq(("u", j), ("v", j))).toList)).as("tj"))
      val grads = ex.select(
          col("tj._1").as("tag"),
          when(col("tj._1") === "u", col("c")).otherwise(col("t")).as("vid"),
          col("tj._2").as("j"),
          (col("sw").cast(dec) * col("e") *
            when(col("tj._1") === "u", vAt(col("t"), col("tj._2")))
              .otherwise(uAt(col("c"), col("tj._2")))).as("g"),
          col("sw"))
        .groupBy("tag", "vid", "j")
        .agg(sum("g").as("g"), sum(col("sw").cast(dec)).as("ws"))
        .collect() // ≤ 2·V·D control-plane rows
      grads.foreach { r =>
        val (tag, vid, j) = (r.getString(0), r.getLong(1).toInt, r.getInt(2))
        val g = BigInt(r.getDecimal(3).toBigInteger)
        val ws = BigInt(r.getDecimal(4).toBigInteger)
        val m = if (tag == "u") u else v
        val delta = (g / (ws * SgnsLrDen)).toLong // BigInt /: truncates
        m(vid)(j) = math.max(-SgnsClamp.toLong,
          math.min(SgnsClamp.toLong, m(vid)(j) - delta))
      }
    }
    samples.unpersist()
    (1 to vocabN).flatMap(vid => (0 until D).map(j =>
      (vid.toLong, j.toLong, u(vid)(j), v(vid)(j))))
      .toDF("vid", "dim", "uq", "vq")
  }

  private val sgnsOracle = {
    def epoch(i: Int): String = {
      val (pw, nw) = (s"sw$i", s"sw${i + 1}")
      s"""dot$i AS MATERIALIZED (
      SELECT s.c, s.t, s.lbl, s.sw, SUM(uc.uq * vt.vq) AS z
      FROM sgsamples s
      JOIN $pw uc ON uc.vid = s.c
      JOIN $pw vt ON vt.vid = s.t AND vt.j = uc.j
      GROUP BY 1, 2, 3, 4),
    er$i AS MATERIALIZED (
      SELECT c, t, lbl, sw,
        CAST(GREATEST(0, LEAST($SgnsF, ${SgnsF / 2} + z // $SgnsSigDen))
             - CASE WHEN lbl = 1 THEN $SgnsF ELSE 0 END AS BIGINT) AS e
      FROM dot$i),
    gu$i AS MATERIALIZED (
      SELECT e.c AS vid, w.j, SUM(CAST(e.sw AS HUGEINT) * e.e * w.vq) AS g,
             SUM(CAST(e.sw AS HUGEINT)) AS ws
      FROM er$i e JOIN $pw w ON w.vid = e.t GROUP BY 1, 2),
    gv$i AS MATERIALIZED (
      SELECT e.t AS vid, w.j, SUM(CAST(e.sw AS HUGEINT) * e.e * w.uq) AS g,
             SUM(CAST(e.sw AS HUGEINT)) AS ws
      FROM er$i e JOIN $pw w ON w.vid = e.c GROUP BY 1, 2),
    $nw AS MATERIALIZED (
      SELECT w.vid, w.j,
        CAST(GREATEST(-$SgnsClamp, LEAST($SgnsClamp, w.uq -
          CAST(COALESCE(gu.g // (gu.ws * $SgnsLrDen), 0) AS BIGINT))) AS BIGINT) AS uq,
        CAST(GREATEST(-$SgnsClamp, LEAST($SgnsClamp, w.vq -
          CAST(COALESCE(gv.g // (gv.ws * $SgnsLrDen), 0) AS BIGINT))) AS BIGINT) AS vq
      FROM $pw w
      LEFT JOIN gu$i gu ON gu.vid = w.vid AND gu.j = w.j
      LEFT JOIN gv$i gv ON gv.vid = w.vid AND gv.j = w.j)"""
    }
    s"""
    WITH $skipgramCtes,
    sgsamples AS MATERIALIZED (
      SELECT c, t, 1 AS lbl, CAST(sum(n_pos) AS BIGINT) AS sw
      FROM (SELECT DISTINCT center_id AS c, context_id AS t, n_pos
            FROM sgpairs) p
      GROUP BY 1, 2
      UNION ALL
      SELECT center_id, neg_id, 0, CAST(sum(n_pos) AS BIGINT)
      FROM sgpairs GROUP BY 1, 2, 3),
    sgdims AS (SELECT unnest(generate_series(0, ${SgnsDims - 1})) AS j),
    sw0 AS MATERIALIZED (
      SELECT vid, j,
        CAST(${hashSql("'sgns:u:' || vid || ':' || j")} % $SgnsInitMod
             - $SgnsInitOff AS BIGINT) AS uq,
        CAST(${hashSql("'sgns:v:' || vid || ':' || j")} % $SgnsInitMod
             - $SgnsInitOff AS BIGINT) AS vq
      FROM (SELECT vid FROM vocab) vv, sgdims),
    ${(0 until SgnsEpochs).map(epoch).mkString(",\n    ")}
    SELECT vid, CAST(j AS BIGINT) AS dim, uq, vq FROM sw$SgnsEpochs"""
  }

  // ---- source-pair similarity matrix -----------------------------------

  /** Pairwise Jaccard between SOURCES over their distinct 3-shingle sets —
    * the corpus-level overlap matrix a mixture designer reads before
    * weighting (two sources that are 40% the same text should not both get
    * full weight, and a crawl that substantially overlaps a benchmark
    * source is a contamination signal at the SOURCE level, before any
    * per-document check). Scale shape: one distinct pass to (source,
    * shingle), then a self-join on the shingle hash whose per-key fan-out
    * is bounded by |sources| (≤ a few hundred in any real build), never by
    * corpus size — output ≤ |shingles|·C(|sources|, 2) rows collapsing in a
    * map-side count. */
  def sourceSim(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d).select(col("source"),
        explode(TextOps.shingleHash60(TextOps.tokens(col("text")), 3)).as("h"))
      .distinct().persist() // feeds sizes + both self-join sides
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("nb"))), "sb")
      .select(col("sa"), col("sb"), col("inter"),
        TextOps.quant(col("inter") / (col("na") + col("nb") - col("inter")), 3).as("jac"))
  }

  private val sourceSimOracle = s"""
    WITH sh AS (
      SELECT DISTINCT source, h FROM (
        SELECT source, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS h
        FROM documents) t),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
    i AS (
      SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2)
    SELECT sa, sb, inter,
           ${qSql("inter * 1.0 / (za.n + zb.n - inter)", 3)} AS jac
    FROM i JOIN sizes za ON za.source = sa JOIN sizes zb ON zb.source = sb"""

  // ---- mixture resampling ----------------------------------------------

  /** Mixture weight → clamped per-mille keep rate — THE resampling scale,
    * shared with [[LlmOps.build]] so the two can never disagree about what
    * "the" resampling step is. */
  private[queries] def perMilleFromWeight(weight: Column): Column =
    least(greatest(floor(weight * 300).cast(LongType), lit(1L)), lit(1000L))

  /** Deterministic resample gate: keep iff hash60(id:resample) ‰ < rate —
    * reproducible under any partitioning, any engine, any re-run. */
  private[queries] def resampleGate(id: Column, perMille: Column): Column =
    pmod(TextOps.hash60(concat(id.cast(StringType), lit(":resample"))),
      lit(1000L)) < perMille

  /** The RESAMPLING step [[domainMix]]'s weights exist for, composed
    * end-to-end: each source's per-mille keep rate is its rebalancing
    * weight scaled and clamped, and each document passes the deterministic
    * hash gate (no `rand()`). One |sources|-row broadcast onto a narrow
    * filter: the corpus is scanned once and never shuffled. */
  def resample(s: SparkSession, d: String): DataFrame = {
    val rates = domainMix(s, d).select(col("source"),
      perMilleFromWeight(col("weight")).as("per_mille"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .filter(resampleGate(col("doc_id"), col("per_mille")))
      .select("doc_id", "source", "per_mille")
  }

  private val resampleOracle = s"""
    WITH per AS (
      SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS n_sources FROM per),
    rates AS (
      SELECT source,
        least(greatest(CAST(floor(${qSql("total * 1.0 / (n_sources * n_tokens)", 6)} * 300) AS BIGINT), 1), 1000) AS per_mille
      FROM per, tot)
    SELECT doc_id, source, per_mille
    FROM documents JOIN rates USING (source)
    WHERE ${hashSql("doc_id::VARCHAR || ':resample'")} % 1000 < per_mille"""

  // ---- Bloom-filter membership sketch ----------------------------------

  private val BloomWords = 1024      // filter = 1024 longs (8 KiB), fixed
  // 63 data bits per word: DuckDB raises on `1::BIGINT << 63`, so the
  // highest (sign) bit stays unused on BOTH engines and every shift is
  // signed-safe
  private val BloomBitsPerWord = 63
  private val BloomM = BloomWords.toLong * BloomBitsPerWord // 64512 bit positions
  private val BloomK = 4             // probes per key (Kirsch–Mitzenmacher)
  private val BloomGramN = 5         // same gram size as llm_decontaminate
  private val BloomBenchMod = 97L    // same benchmark slice as llm_decontaminate

  /** The k probe positions for one gram hash pair: Kirsch & Mitzenmacher
    * 2006 double hashing — `(h1 + i·h2) mod m` simulates k independent
    * hash functions from two, so each probe costs arithmetic, not md5. */
  private def bloomPositions(g: Column): Seq[Column] = {
    val h1 = TextOps.hash60(concat(g, lit(":bf1"))) % BloomM
    val h2 = TextOps.hash60(concat(g, lit(":bf2"))) % BloomM
    (0 until BloomK).map(i => (h1 + lit(i.toLong) * h2) % BloomM)
  }

  /** Bloom-filter benchmark decontamination (Bloom 1970) — the
    * constant-memory twin of `llm_decontaminate`, the shape of AI2's `bff`
    * dedup tool for Dolma: the benchmark's n-grams are folded into ONE
    * fixed 8 KiB bit array, and every training document probes that array
    * with pure column arithmetic. Where the exact form broadcasts the
    * benchmark's distinct-gram SET (size ∝ benchmark), the Bloom form ships
    * `BloomWords` longs NO MATTER how large the benchmark grows — the
    * trade is a deterministic false-positive rate (≈ (1−e^(−kn/m))^k,
    * ~0.4% at sf0.01), i.e. a few extra docs dropped, never leakage kept.
    *
    * Scale shape: the filter build aggregates the (tiny) benchmark side to
    * ≤1024 `(word, bits)` rows — a bounded control-plane collect, like the
    * vocab/centroid collects — and the corpus side is a NARROW pass:
    * explode grams, 4 probes of a literal array per gram, then one
    * map-side-combined max per doc. No join anywhere; the corpus never
    * shuffles row data, only the per-doc 0/1 partials.
    *
    * Determinism: bit positions are integer arithmetic off the portable
    * 60-bit hash on both engines, so the oracle rebuilds the identical
    * filter and flags the identical docs — false positives included. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench = col("doc_id") % BloomBenchMod === 0

    val benchWords = docs.filter(isBench)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .select(explode(TextOps.shingles(col("__toks"), BloomGramN)).as("g"))
      .select(explode(array(bloomPositions(col("g")): _*)).as("b"))
      // duplicate grams just re-set the same bits: bit_or is idempotent,
      // so no distinct() shuffle is needed ahead of the 1024-group agg
      .groupBy((col("b") / BloomBitsPerWord).cast(IntegerType).as("j"))
      .agg(expr(s"bit_or(shiftleft(1L, int(b % $BloomBitsPerWord)))").as("w"))
    val words = Array.ofDim[Long](BloomWords)
    benchWords.collect().foreach(r => words(r.getInt(0)) = r.getLong(1)) // ≤1024 rows
    val filt = typedlit(words.toSeq)

    var probed = docs.filter(!isBench)
      // explode_outer: a doc shorter than the gram size has no probes and
      // must be KEPT (null gram → null hit → counts as 0 below)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        explode_outer(
          TextOps.shingles(TextOps.tokens(col("text")), BloomGramN)).as("g"))
    bloomPositions(col("g")).zipWithIndex.foreach { case (b, i) =>
      probed = probed.withColumn(s"__b$i", b)
    }
    val gramHit = (0 until BloomK).map { i =>
      element_at(filt, (col(s"__b$i") / BloomBitsPerWord).cast(IntegerType) + 1)
        .bitwiseAND(expr(s"shiftleft(1L, int(__b$i % $BloomBitsPerWord))")) =!= 0
    }.reduce(_ && _)
    probed
      .groupBy("doc_id", "lang", "source", "n_chars")
      .agg(max(when(gramHit, 1L).otherwise(0L)).as("__hit"))
      .filter(col("__hit") === 0L)
      .select("doc_id", "lang", "source", "n_chars")
  }

  private val bloomDecontaminateOracle = s"""
    WITH bg AS (
      SELECT unnest(${shinglesSql(toksSql, BloomGramN)}) AS g
      FROM documents WHERE doc_id % $BloomBenchMod = 0),
    bh AS (SELECT ${hashSql("g || ':bf1'")} % $BloomM AS h1,
                  ${hashSql("g || ':bf2'")} % $BloomM AS h2 FROM bg),
    pos AS (SELECT (h1 + i * h2) % $BloomM AS b
            FROM bh CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) ii),
    words AS (SELECT b // $BloomBitsPerWord AS j,
                     bit_or(1::BIGINT << CAST(b % $BloomBitsPerWord AS INT)) AS w
              FROM pos GROUP BY 1),
    tg AS (SELECT doc_id, unnest(${shinglesSql(toksSql, BloomGramN)}) AS g
           FROM documents WHERE doc_id % $BloomBenchMod <> 0),
    th AS (SELECT doc_id, g, ${hashSql("g || ':bf1'")} % $BloomM AS h1,
                  ${hashSql("g || ':bf2'")} % $BloomM AS h2 FROM tg),
    tp AS (SELECT doc_id, g, (h1 + i * h2) % $BloomM AS b
           FROM th CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) ii),
    tb AS (SELECT doc_id, g,
             CASE WHEN w IS NOT NULL
                   AND (w & (1::BIGINT << CAST(b % $BloomBitsPerWord AS INT))) <> 0
                  THEN 1 ELSE 0 END AS bitset
           FROM tp LEFT JOIN words ON words.j = tp.b // $BloomBitsPerWord),
    gh AS (SELECT doc_id, g, min(bitset) AS allset FROM tb GROUP BY 1, 2),
    dh AS (SELECT doc_id, max(allset) AS hit FROM gh GROUP BY 1)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d LEFT JOIN dh USING (doc_id)
    WHERE d.doc_id % $BloomBenchMod <> 0 AND COALESCE(dh.hit, 0) = 0"""

  def qs: Map[String, Q] = Map(
    "llm_bloom_decontaminate" -> Q(bloomDecontaminate, Some(bloomDecontaminateOracle)),
    "llm_resample"     -> Q(resample, Some(resampleOracle)),
    "llm_temperature_mix" -> Q(temperatureMix, Some(temperatureMixOracle)),
    "llm_rank_fusion"  -> Q(rankFusion, Some(rankFusionOracle)),
    "llm_kmv_rollup"   -> Q(kmvRollup, Some(kmvRollupOracle)),
    "llm_source_sim"   -> Q(sourceSim, Some(sourceSimOracle)),
    "llm_pmi"          -> Q(pmi, Some(pmiOracle)),
    "llm_skipgram"     -> Q(skipgram, Some(skipgramOracle)),
    // the epoch aggregates reduce into ≤ 2·V·D groups (model-bounded), so 8
    // reduce tasks is the right width at ANY corpus size. 8, not Narrow's 4:
    // r21 A/B read 3.88 s at 8 vs 4.46 s at 4 — sgns epochs are
    // literal-compile + map-side bound, not reducer-commit bound
    "llm_sgns_train"   -> Q(sgnsTrain, Some(sgnsOracle),
      Map("spark.sql.shuffle.partitions" -> "8")),
    "llm_kmv_distinct" -> Q(kmvDistinct, Some(kmvOracle)),
    "llm_hll_distinct" -> Q(hllDistinct, Some(hllOracle)),
    "q_heavy_hitters"  -> Q(heavyHitters, Some(heavyHittersOracle)),
    "llm_hll_rollup"   -> Q(hllRollup, Some(hllRollupOracle)),
    "llm_perplexity"   -> Q(perplexity, Some(perplexityOracle)),
    "llm_bigram_lm"    -> Q(bigramLm, Some(bigramLmOracle)),
    "llm_kmv_setops"   -> Q(kmvSetOps, Some(kmvSetOpsOracle)),
    "llm_dsir"         -> Q(dsir, Some(dsirOracle)),
    "llm_curriculum"   -> Q(curriculum, Some(curriculumOracle)),
    "llm_curriculum_bounded" -> Q(curriculumBounded, Some(curriculumOracle)),
    "llm_bm25"         -> Q(bm25, Some(bm25Oracle)),
    "llm_domain_mix"   -> Q(domainMix, Some(domainMixOracle)))
}
