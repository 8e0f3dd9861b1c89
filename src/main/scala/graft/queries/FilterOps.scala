package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables
import graft.llm.TextOps
import LlmOps.{hashSql, qSql, toksSql}

/** Corpus gating the standard web-scale cleaning recipes run before any
  * dedup or selection pass: C4/RefinedWeb-style URL + content filtering
  * (Raffel et al. 2020 §2.2; Penedo et al. 2023 §3) and a fasttext-style
  * hashed linear quality scorer (Joulin et al. 2016 — the CCNet/LLaMA
  * quality-classifier shape).
  *
  * Scale shape: the filter and the fixed scorer are ONE narrow projection
  * per document — the domain blocklist is a literal `isin` (pure filter,
  * not even a broadcast join), the rule columns are in-row arithmetic, and
  * the scorer folds its hashed features in-row over a materialized,
  * codegen-hashed feature array; no shuffle, scan + project + filter. The
  * exception is the TRAINED classifier below: K sequential epochs over a
  * persisted doc-aligned feature frame (2 keyed shuffles per epoch).
  */
object FilterOps {

  // documents carry no URL column: derive the canonical synthetic URL from
  // the source id (documented stand-in — a real corpus supplies the real
  // column and NOTHING else changes). Blocklist and rule thresholds are the
  // operator's static config.
  private val BlockedSources = Seq("src7", "src13")
  private val MinWords = 20
  private val BadWords = Seq("slow", "dup")
  private val BadMax = 0.04

  /** C4-style URL + line-rule gate: domain blocklist, minimum word count,
    * bad-word ratio. Emits every document with its rule flags and the
    * combined keep decision (the gate a pipeline applies is
    * `filter(col("kept"))` — emitting flags keeps the oracle strong and the
    * reject-reason statistics queryable). */
  def urlFilter(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("domain", concat(col("source"), lit(".example.com")))
      .withColumn("__toks", toks)
      .withColumn("n_words", size(col("__toks")).cast(LongType))
      .withColumn("bad_ratio", TextOps.quant(
        size(filter(col("__toks"), t => t.isin(BadWords.map(_.asInstanceOf[Any]): _*)))
          * lit(1.0) / col("n_words"), 6))
      .withColumn("blocked_domain",
        col("source").isin(BlockedSources.map(_.asInstanceOf[Any]): _*))
      .withColumn("too_short", col("n_words") < MinWords)
      .withColumn("too_bad", col("bad_ratio") > BadMax)
      .select(col("doc_id"), col("domain"), col("n_words"), col("bad_ratio"),
        col("blocked_domain"), col("too_short"), col("too_bad"),
        (!col("blocked_domain") && !col("too_short") && !col("too_bad")).as("kept"))
  }

  private val urlFilterOracle = {
    val blocked = BlockedSources.map(s0 => s"'$s0'").mkString(", ")
    val bad = BadWords.map(w => s"'$w'").mkString(", ")
    s"""
    WITH t AS (
      SELECT doc_id, source, $toksSql AS toks FROM documents
      WHERE length(trim(text)) > 0),
    r AS (
      SELECT doc_id, source || '.example.com' AS domain,
        CAST(len(toks) AS BIGINT) AS n_words,
        ${qSql(s"len(list_filter(toks, x -> x IN ($bad))) * 1.0 / len(toks)", 6)} AS bad_ratio,
        source IN ($blocked) AS blocked_domain,
        len(toks) < $MinWords AS too_short
      FROM t)
    SELECT doc_id, domain, n_words, bad_ratio, blocked_domain, too_short,
      bad_ratio > $BadMax AS too_bad,
      (NOT blocked_domain AND NOT too_short AND NOT (bad_ratio > $BadMax)) AS kept
    FROM r"""
  }

  // ---- hashed linear quality scorer -------------------------------------

  private val HashBuckets = 8192L

  /** fasttext-style scorer: features = word unigrams + (non-distinct) word
    * bigrams, hashed by the portable 60-bit hash in ONE codegen'd pass
    * ([[graft.functions.Hash60Array]]); each feature's weight is a fixed
    * deterministic projection of its hash (`(h mod B - B/2) / (B/2)` — the
    * stand-in for a trained weight vector, which would ship as a broadcast
    * map and change nothing about the plan); the document margin is the
    * in-row mean of its feature weights (a single left fold in array order,
    * so both engines run the identical IEEE addition sequence). */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val half = lit(HashBuckets / 2)
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .withColumn("__toks", toks)
      .withColumn("__hs", TextOps.hash60Array(
        concat(col("__toks"), TextOps.ngrams(col("__toks"), 2))))
      .withColumn("n_feats", size(col("__hs")).cast(LongType))
      .withColumn("margin", TextOps.quant(
        aggregate(col("__hs"), lit(0.0),
          (acc, h) => acc + (h % lit(HashBuckets) - half).cast("double") / half)
          / col("n_feats"), 6))
      .select(col("doc_id"), col("n_feats"), col("margin"),
        (col("margin") > 0d).as("keep"))
  }

  private val qualityOracle = {
    val b = HashBuckets
    val ngrams2 = """CASE WHEN len(toks) >= 2
          THEN [array_to_string(toks[i:i+1],' ') for i in range(1, len(toks))]
          ELSE [array_to_string(toks,' ')] END"""
    s"""
    WITH t AS (
      SELECT doc_id, $toksSql AS toks FROM documents
      WHERE length(trim(text)) > 0),
    f AS (
      SELECT doc_id,
        list_transform(list_concat(toks, $ngrams2), x -> ${hashSql("x")}) AS hs
      FROM t),
    m AS (
      SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_feats,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(hs, h -> CAST(h % $b - ${b / 2} AS DOUBLE) / ${b / 2})),
          (acc, x) -> acc + x) AS msum
      FROM f)
    SELECT doc_id, n_feats, ${qSql("msum / n_feats", 6)} AS margin,
      ${qSql("msum / n_feats", 6)} > 0 AS keep
    FROM m"""
  }

  // ── trained quality classifier ─────────────────────────────────────────
  // llm_quality_score runs a FIXED hashed-linear scorer; this is the
  // TRAINING step of the same CCNet/LLaMA-recipe pipeline (Joulin et al.
  // 2016): a batch perceptron over hashed token-PRESENCE features. Integer
  // arithmetic end-to-end (features, weights, margins are all BIGINT) so
  // every iteration replays bit-exactly in the oracle — no sigmoid, no
  // float, no summation-order hazard. Presence (0/1), not counts: count
  // features let bulk vocabulary mass swamp the update and the batch
  // perceptron limit-cycles near chance (measured); the bounded-norm
  // presence form reaches 97-99% accuracy by iteration 12 at every SF.
  // The label is the corpus's own bad-token gate (the same `slow`/`dup`
  // markers llm_quality_score rules on) — an almost-linearly-separable
  // target under 1024 buckets; a real deployment supplies teacher labels
  // and NOTHING else changes.
  //
  // Scale shape: the feature frame is built once and persisted; each of
  // the K iterations is ONE window pass (per-doc margin under the current
  // weights, broadcast as a 1025-long array literal) + ONE ≤1025-row
  // aggregate collected to the driver. Driver state = the weight vector.
  // At 100 TB: K·2 keyed shuffles over the cached features, nothing else.

  private val PerceptronBuckets = 1024 // +1 bias feature at index 1024
  // 12 epochs: the batch form plateaus on the majority class for a few
  // rounds before the accumulated minority mass breaks the symmetry —
  // measured escape by round 11 at every SF (final errors 7/500, 14/500,
  // 60/5000 at sf0.001/0.01/0.1 = 97-99% accuracy)
  private val PerceptronIters = 12

  /** Hashed presence features per doc (x = 1 per distinct bucket hit) + a
    * constant bias feature, labeled by the bad-token gate. `docs` feeds
    * BOTH union arms (persist-before-multi-consumer rule — otherwise the
    * corpus tokenizes twice); the caller materializes the result while the
    * returned handle is cached and unpersists it when done. */
  private def perceptronFeatures(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      TextOps.tokens(col("text")).as("tk"))
      .withColumn("y", when(arrays_overlap(col("tk"),
        typedLit(BadWords)), lit(-1L)).otherwise(lit(1L)))
      .persist()
    val feats = docs.select(col("doc_id"), col("y"), explode(col("tk")).as("tok"))
      .select(col("doc_id"), col("y"),
        pmod(TextOps.hash60(col("tok")), lit(PerceptronBuckets.toLong)).as("j"))
      .distinct()
      .withColumn("x", lit(1L))
      .unionByName(docs.select(col("doc_id"), col("y"),
        lit(PerceptronBuckets.toLong).as("j"), lit(1L).as("x")))
    (feats, docs)
  }

  /** Batch-perceptron training: w ← w + Σ_{misclassified} y·x per
    * iteration, margin ties (=0) count as misclassified. Returns the final
    * weight vector as (feature, weight) rows plus a `feature = -1` row
    * carrying the final misclassified-doc count. */
  def qualityPerceptron(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // K sequential epochs = 2K+1 tiny jobs whose per-task overhead, not
    // compute, dominates at bench scale: pre-shuffle the cached features
    // onto few, doc-aligned partitions so every epoch's window is
    // exchange-free and each job launches Tuning.controlShuffle tasks
    // instead of 32+ (at real corpus scale the same alignment holds at
    // natural width)
    // the first epoch materializes `feats` while the tokenized docs handle
    // is still cached (unpersisted in the finally), so the corpus is
    // tokenized exactly once with no extra materialization pass
    val (raw, docs) = perceptronFeatures(s, d)
    val feats = raw.repartition(Tuning.controlShuffle, col("doc_id")).persist()
    try {
      val w = Array.fill(PerceptronBuckets + 1)(0L)
      def dotted = {
        val wlit = typedLit(w.toSeq)
        feats.withColumn("dot",
          sum(element_at(wlit, col("j").cast("int") + 1) * col("x"))
            .over(Window.partitionBy("doc_id")))
      }
      for (_ <- 1 to PerceptronIters) {
        val delta = dotted.filter(col("y") * col("dot") <= 0)
          .groupBy("j").agg(sum(col("y") * col("x")).as("delta"))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        delta.foreach { case (j, dw) => w(j) += dw }
      }
      val errs = dotted.filter(col("y") * col("dot") <= 0)
        .select("doc_id").distinct().count()
      import s.implicits._
      (w.indices.map(j => (j.toLong, w(j))) :+ ((-1L, errs)))
        .toDF("feature", "weight")
    } finally { feats.unpersist(); docs.unpersist(); () }
  }

  private val perceptronOracle = {
    val b = PerceptronBuckets
    val bad = BadWords.map(w => s"'$w'").mkString(", ")
    def iter(i: Int): String = {
      val (pw, m, nw) = (s"w${i - 1}", s"m$i", s"w$i")
      s"""$m AS MATERIALIZED (
      SELECT f.doc_id FROM feats f JOIN $pw ON $pw.j = f.j
      GROUP BY f.doc_id, f.y HAVING f.y * SUM($pw.w * f.x) <= 0),
    $nw AS MATERIALIZED (
      SELECT $pw.j, CAST($pw.w + COALESCE(d.delta, 0) AS BIGINT) AS w
      FROM $pw LEFT JOIN (
        SELECT j, CAST(SUM(y * x) AS BIGINT) AS delta
        FROM feats JOIN $m USING (doc_id) GROUP BY j) d ON d.j = $pw.j)"""
    }
    val wN = s"w$PerceptronIters"
    s"""
    WITH lbl AS MATERIALIZED (
      SELECT doc_id, $toksSql AS tk,
             CASE WHEN len(list_intersect($toksSql, [$bad])) > 0
                  THEN -1 ELSE 1 END AS y
      FROM documents),
    feats AS MATERIALIZED (
      SELECT DISTINCT doc_id, y, ${hashSql("tok")} % $b AS j, CAST(1 AS BIGINT) AS x
      FROM (SELECT doc_id, y, unnest(tk) AS tok FROM lbl)
      UNION ALL
      SELECT doc_id, y, $b, 1 FROM lbl),
    w0 AS MATERIALIZED (
      SELECT j, CAST(0 AS BIGINT) AS w
      FROM (SELECT unnest(generate_series(0, $b)) AS j)),
    ${(1 to PerceptronIters).map(iter).mkString(",\n    ")}
    SELECT CAST(j AS BIGINT) AS feature, w AS weight FROM $wN
    UNION ALL
    SELECT -1, (SELECT CAST(COUNT(*) AS BIGINT) FROM (
      SELECT f.doc_id FROM feats f JOIN $wN ON $wN.j = f.j
      GROUP BY f.doc_id, f.y HAVING f.y * SUM($wN.w * f.x) <= 0))"""
  }

  def qs: Map[String, Q] = Map(
    "llm_url_filter"    -> Q(urlFilter, Some(urlFilterOracle)),
    "llm_quality_perceptron" -> Q(qualityPerceptron, Some(perceptronOracle)),
    "llm_quality_score" -> Q(qualityScore, Some(qualityOracle)))
}
