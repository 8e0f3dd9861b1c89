package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.llm.{Corpus, Multimodal, NearDup, Similarity, TextOps}
import graft.llm.Multimodal.{BandCap, FpBandBits, FpBands, FpHamT, MmBandBits, MmBands, MmBits, MmHamming, VdMinFrames}
import graft.llm.NearDup.{ContainThreshold, DfCap, JaccardThreshold, NumBands, NumHashes, RowsPerBand, SimHamMax}
import graft.ops.{BandJoin, Dedup}
import graft.ops.BandJoin.BandKey

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup family (exact, n-gram Jaccard, MinHash-LSH, SimHash fingerprints),
  * similarity search (brute-force + LSH-bucketed ANN), text analysis
  * (lang-ID, quality, token stats), and multimodal feature plumbing. The
  * text near-dup kernels live in [[graft.llm.NearDup]]; the queries here
  * wrap them.
  *
  * Every oracle below is generated from the SAME Scala constants that drive
  * the Spark plan (hash function, MinHash coefficients, LSH hyperplanes), so
  * even the sketch-based operators hash-compare exactly. No pipeline ever
  * builds an unbucketed cross product: pair discovery always goes through a
  * key join (shingle, band key, or LSH bucket) — the only scalable shape at
  * 100 TB.
  */
object LlmOps {

  // ---- shared SQL fragments (DuckDB), mirrors of TextOps ----------------
  private[queries] def hashSql(e: String) = s"('0x' || substr(md5($e),1,15))::BIGINT"
  private[queries] val toksSql = """string_split_regex(trim(text), '\s+')"""
  private[queries] def shinglesSql(sp: String, n: Int) =
    s"""CASE WHEN len($sp) >= $n
        THEN list_distinct([array_to_string($sp[i:i+${n - 1}],' ') for i in range(1, len($sp)-${n - 2})])
        ELSE [array_to_string($sp,' ')] END"""
  private[queries] def qSql(e: String, k: Int) = s"floor(($e) * 1e$k + 0.5) / 1e$k"
  private def minhashSql(hs: String, i: Int) = {
    val (a, b, p) = (TextOps.MinHashA(i), TextOps.MinHashB(i), TextOps.MinHashP)
    s"list_min(list_transform($hs, h -> ($a * (h % $p) + $b) % $p))"
  }

  // ---- exact dedup ------------------------------------------------------

  /** Exact content dedup: hash-groupBy on a collision-free content hash; one
    * shuffle, survivor = smallest doc_id, dup cardinality kept. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), Seq("text"), "doc_id")
      .select("doc_id", "dup_count", "n_chars")

  private val exactOracle = """
    SELECT doc_id, dup_count, n_chars FROM (
      SELECT doc_id, n_chars,
             count(*) OVER (PARTITION BY text) AS dup_count,
             row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
      FROM documents) t
    WHERE rn = 1"""

  // ---- n-gram Jaccard near-dup -----------------------------------------

  /** Candidate pairs via an inverted shingle index (join on the shingle —
    * never all-pairs), document-frequency cap for scale, exact Jaccard
    * verification. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    NearDup.jaccardVerify(NearDup.cappedShingleIndex(Tables.documents(s, d)), JaccardThreshold)

  /** Containment near-dup: `inter / min(|A|, |B|)` over the same capped
    * inverted shingle index ([[NearDup.containment]]). Same 100 TB shape as
    * [[ngramJaccard]] (index join, never all-pairs). */
  def containment(s: SparkSession, d: String): DataFrame =
    NearDup.containment(NearDup.cappedShingleIndex(Tables.documents(s, d)))

  private val containmentOracle = s"""
    WITH sh0 AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sh AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0) t
      WHERE df <= $DfCap),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j, ${qSql("inter * 1.0 / least(sa.n, sb.n)", 3)} AS containment
    FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
    WHERE ${qSql("inter * 1.0 / least(sa.n, sb.n)", 3)} >= $ContainThreshold"""

  private val ngramOracle = s"""
    WITH sh0 AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sh AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0) t
      WHERE df <= $DfCap),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j, ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} AS jac
    FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
    WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold"""

  // ---- exact all-pairs similarity join (prefix filtering) ---------------

  /** EXACT all-pairs Jaccard join ([[NearDup.prefixJoinPairs]]):
    * [[ngramJaccard]] keeps its index tractable by DROPPING shingles hotter
    * than [[NearDup.DfCap]]; prefix filtering stays exact with a still-bounded
    * index — no stage is quadratic in the corpus and no qualifying pair can
    * be missed. */
  def prefixJoin(s: SparkSession, d: String): DataFrame =
    NearDup.prefixJoinPairs(Tables.documents(s, d))

  /** Oracle = the EXACT pair set (no df cap) — prefix filtering is lossless,
    * so the full inverted-index join in DuckDB must agree bit-for-bit. */
  private val prefixJoinOracle = s"""
    WITH sh AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i, j, ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} AS jac
    FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
    WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold"""

  // ---- exact substring (repeated-span) dedup ---------------------------

  private val SubstrK = 8 // minimum duplicated run, in tokens

  /** Exact substring dedup (the repeated-span complement of document-level
    * near-dup, after Lee et al. 2021 "Deduplicating Training Data Makes
    * Language Models Better"): find every run of ≥ [[SubstrK]] tokens that
    * occurs MORE THAN ONCE anywhere in the corpus and report, per document,
    * how many tokens sit inside such runs and how many maximal duplicated
    * spans they merge into.
    *
    * The published implementation builds a corpus-wide suffix array — a
    * global sort no cluster wants to pay. The Spark-first shape instead
    * keys on POSITIONAL k-gram hashes: a token run of length ≥ k is
    * duplicated iff each of its k-grams is duplicated, so (1) one narrow
    * scan emits (doc, pos, gram-hash) rows, (2) one map-side-combinable
    * count finds hashes with global multiplicity ≥ 2, (3) an equi-join
    * marks duplicated positions (never a pair join — membership only, so a
    * million-fold duplicated boilerplate line costs its row count, not its
    * pair count), and (4) a per-document window merges covered positions
    * into maximal spans (per-doc work, bounded by document length). No
    * stage touches pairs or global order — the whole pipeline is two keyed
    * shuffles regardless of how duplicated the corpus is. */
  private def substrCovered(docs: DataFrame): (DataFrame, DataFrame) = {
    val k = SubstrK
    val grams = docs.select(col("doc_id"),
        TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        size(col("tk")).cast(LongType).as("n_tokens"),
        TextOps.positionalGramHash60(col("tk"), k).as("gs"))
      .persist() // gram pass feeds the position explode AND the final join
    val pg = grams.select(col("doc_id"),
        posexplode(col("gs")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    // global multiplicity ≥ 2 ⇒ the k-gram text occurs at least twice
    // (within one doc or across docs — both are training-set repetition)
    val dup = pg.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    // membership join (not broadcast: the duplicated-gram set scales with
    // corpus duplication); each duplicated k-gram start covers positions
    // [pos, pos+k-1] — distinct covered positions, |doc|-bounded per doc
    val covered = pg.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cp"))
      .distinct()
    (grams, covered)
  }

  /** The REPORT half: per-doc duplicated-token coverage and maximal span
    * count, read off [[substrCovered]] with a per-doc lag window (gaps-and-
    * islands — |doc|-bounded per partition). */
  def substrDedup(s: SparkSession, d: String): DataFrame =
    substrDedupFrom(Tables.documents(s, d))

  /** [[substrDedup]] over ANY (doc_id, text) frame — driveable with
    * synthetic corpora (SkewStressSpec's 10× curve). */
  private[queries] def substrDedupFrom(docs: DataFrame): DataFrame = {
    val (grams, covered) = substrCovered(docs)
    val isl = covered.withColumn("brk",
      when(col("cp") - lag("cp", 1).over(
        Window.partitionBy("doc_id").orderBy("cp")) === 1, 0L).otherwise(1L))
    val agg = isl.groupBy("doc_id").agg(
      count(lit(1)).as("dup_tokens"), sum(col("brk")).as("n_spans"))
    grams.select("doc_id", "n_tokens")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  private val substrDedupOracle = s"""
    WITH toks AS (
      SELECT doc_id, $toksSql AS tk FROM documents),
    grams AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        CASE WHEN len(tk) >= $SubstrK
          THEN [${hashSql(s"array_to_string(tk[i:i+${SubstrK - 1}],' ')")}
                for i in range(1, len(tk)-${SubstrK}+2)]
          ELSE [] END AS gs
      FROM toks),
    pg AS (
      SELECT doc_id, unnest(gs) AS h, generate_subscripts(gs, 1) AS pos FROM grams),
    duph AS (SELECT h FROM pg GROUP BY h HAVING count(*) >= 2),
    dpos AS (SELECT pg.doc_id, pg.pos FROM pg JOIN duph USING (h)),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS cp
      FROM dpos CROSS JOIN range(0, $SubstrK) r(j)),
    isl AS (
      SELECT doc_id, cp,
        CASE WHEN cp - lag(cp) OVER (PARTITION BY doc_id ORDER BY cp) = 1
             THEN 0 ELSE 1 END AS brk
      FROM covered)
    SELECT g.doc_id, any_value(g.n_tokens) AS n_tokens,
           CAST(count(i.cp) AS BIGINT) AS dup_tokens,
           CAST(coalesce(sum(i.brk), 0) AS BIGINT) AS n_spans
    FROM grams g LEFT JOIN isl i USING (doc_id)
    GROUP BY g.doc_id"""

  /** The REMOVAL half of [[substrDedup]]: re-emit each document with every
    * token inside a duplicated ≥[[SubstrK]]-run dropped — the transform an
    * exact-substring dedup actually applies before training. Covered
    * positions gather into a per-doc set (|doc|-bounded) and the rebuild is
    * one in-row pass over the token array; the membership probe is linear
    * in the doc's own covered count, never corpus-sized. */
  def substrClean(s: SparkSession, d: String): DataFrame = {
    val (grams, covered) = substrCovered(Tables.documents(s, d))
    val covSets = covered.groupBy("doc_id").agg(collect_set(col("cp")).as("cov"))
    grams.select("doc_id", "tk", "n_tokens")
      .join(covSets, Seq("doc_id"), "left")
      .withColumn("cov",
        coalesce(col("cov"), array().cast(ArrayType(IntegerType))))
      .select(col("doc_id"),
        concat_ws(" ", filter(
          transform(sequence(lit(1), size(col("tk"))),
            i => when(!array_contains(col("cov"), i), element_at(col("tk"), i))),
          t => t.isNotNull)).as("clean_text"),
        (col("n_tokens") - size(col("cov"))).as("n_kept"))
  }

  private val substrCleanOracle = s"""
    WITH toks AS (
      SELECT doc_id, $toksSql AS tk FROM documents),
    grams AS (
      SELECT doc_id, tk,
        CASE WHEN len(tk) >= $SubstrK
          THEN [${hashSql(s"array_to_string(tk[i:i+${SubstrK - 1}],' ')")}
                for i in range(1, len(tk)-${SubstrK}+2)]
          ELSE [] END AS gs
      FROM toks),
    pg AS (
      SELECT doc_id, unnest(gs) AS h, generate_subscripts(gs, 1) AS pos FROM grams),
    duph AS (SELECT h FROM pg GROUP BY h HAVING count(*) >= 2),
    dpos AS (SELECT pg.doc_id, pg.pos FROM pg JOIN duph USING (h)),
    covered AS (
      SELECT DISTINCT doc_id, pos + j AS cp
      FROM dpos CROSS JOIN range(0, $SubstrK) r(j)),
    covsets AS (SELECT doc_id, list(cp) AS cov FROM covered GROUP BY 1)
    SELECT g.doc_id,
      coalesce(array_to_string([g.tk[i] for i in range(1, len(g.tk)+1)
                                if NOT list_contains(coalesce(c.cov, []), i)], ' '),
               '') AS clean_text,
      CAST(len(g.tk) - len(coalesce(c.cov, [])) AS BIGINT) AS n_kept
    FROM grams g LEFT JOIN covsets c USING (doc_id)"""

  // ---- MinHash + LSH near-dup ------------------------------------------

  /** MinHash signatures → banded buckets → candidate pairs (join on band
    * key) → exact-Jaccard verification of candidates only
    * ([[NearDup.minhashPairs]]). The 100 TB shape: signatures are narrow
    * per-row work; the only shuffles are the band-key join and the
    * candidate verification. */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    NearDup.minhashPairs(Tables.documents(s, d))

  /** Signature-only near-dup ESTIMATION: the verify-free MinHash variant —
    * when shingle sets are too large to intersect (or discarded after
    * signaturing, as a real index does), Jaccard is estimated as the
    * fraction of AGREEING signature positions (the MinHash estimator
    * itself, Broder 1997: P[min-hash agrees] = J). Candidates still come
    * from the band join; the estimate touches only the 16-long signatures,
    * so verification state is CONSTANT per pair no matter how long the
    * documents are — the trade is ±1/16 estimate granularity instead of
    * exact Jaccard.
    *
    * Scale shape: signatures computed once (persisted), bands derived from
    * them, candidate pairs join the signature table twice by doc_id; the
    * 16 position-agreements are a codegen'd sum of element_at compares —
    * no shingle explode ever happens. */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    val sigs = NearDup.hashedShingles(Tables.documents(s, d))
      .withColumn("sigv", TextOps.minhashSignature(col("hs"), NumHashes))
      .select(col("doc_id"), col("sigv")).persist()
    val joined = BandJoin.selfPairs(NearDup.sigBands(sigs), BandKey)
      .join(sigs.select(col("doc_id").as("i"), col("sigv").as("sa")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("sigv").as("sb")), "j")
    val matches = (0 until NumHashes).map(k =>
      when(element_at(col("sa"), k + 1) === element_at(col("sb"), k + 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    joined
      .select(col("i"), col("j"),
        TextOps.quant(matches * lit(1.0) / NumHashes, 3).as("est_jac"))
      .filter(col("est_jac") >= JaccardThreshold)
  }

  private lazy val minhashEstimateOracle = {
    val agree = (0 until NumHashes).map(k =>
      s"CASE WHEN sa.s$k = sb.s$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""
    WITH $bandsCteSql,
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.i, c.j, ($agree) AS m
      FROM cands c
      JOIN sigs sa ON sa.doc_id = c.i
      JOIN sigs sb ON sb.doc_id = c.j)
    SELECT i, j, ${qSql(s"m * 1.0 / $NumHashes", 3)} AS est_jac
    FROM est WHERE ${qSql(s"m * 1.0 / $NumHashes", 3)} >= $JaccardThreshold"""
  }

  /** Shared oracle CTE block (shingle-hash source -> 16-value signatures ->
    * (doc_id, band, key) rows), interpolated by every MinHash oracle so the
    * band-key SQL shape can never desynchronize between them. */
  private[queries] lazy val bandsCteSql: String = {
    val sigDefs = (0 until NumHashes).map(i => s"${minhashSql("hs", i)} AS s$i").mkString(",\n        ")
    val bandRows = (0 until NumBands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS key FROM sigs"
    }.mkString("\n      UNION ALL\n      ")
    s"""hsrc AS (
      SELECT doc_id, list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")}) AS hs
      FROM documents),
    sigs AS (
      SELECT doc_id,
        $sigDefs
      FROM hsrc),
    bands AS (
      $bandRows)"""
  }

  private val minhashOracle = {
    s"""
    WITH $bandsCteSql,
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    sh AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN cands c ON c.i = a.doc_id AND c.j = b.doc_id
      GROUP BY 1, 2)
    SELECT i, j, ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} AS jac
    FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
    WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold"""
  }

  // ---- LSH recall evaluation vs the exact join --------------------------

  /** Recall measurement of the MinHash-LSH dedup pipeline against the EXACT
    * similarity join — the index-trust number for the TEXT side, the twin
    * of [[annRecall]] on the embedding side, made possible by
    * [[NearDup.prefixJoinPairs]] being exact. Since the r20 rewrite the LSH leg is
    * verified by a semi-join against the exact pair set, so `n_hit ==
    * n_lsh` holds BY CONSTRUCTION (the same persisted frame is counted
    * twice) — the independent cross-check of the LSH pipeline lives in the
    * DuckDB oracle, which still computes both legs separately and
    * hash-compares. recall_permille is integer-exact (`·1000 div`), so the
    * measurement hash-compares. One extra aggregate over the union of
    * tagged pair sets — no cross joins, no second scan beyond the two
    * pipelines themselves. */
  def lshEval(s: SparkSession, d: String): DataFrame = {
    // EVAL-ONLY at bench scale: this form materializes the full exact pair
    // set. The 100 TB path is [[lshEvalSampled]], which estimates the same
    // permille on a deterministic doc sample at O(|sample|·df) cost.
    // ONE tokenize+shingle+hash pass feeds BOTH pipelines (each would
    // otherwise scan and hash the corpus independently)
    val withHs = NearDup.hashedShingles(Tables.documents(s, d)).persist()
    val exact = NearDup.prefixJoinFromIndex(
      withHs.select(col("doc_id"), explode(col("hs")).as("s")))
      .select("i", "j").persist()
    // r20: LSH's VERIFIED pairs are by definition the band candidates whose
    // true Jaccard passes τ — and `exact` already IS the complete J ≥ τ
    // pair set (prefix filtering is lossless), so verification is a
    // semi-join against it instead of a second intersect pass over the
    // shingle sets. n_hit == n_lsh was an invariant before (verified LSH ⊆
    // exact by construction) and is an arithmetic identity now; the DuckDB
    // oracle still computes both legs independently and hash-compares.
    val bands = NearDup.bandFrameFromHashes(withHs)
    val lshCands = BandJoin.selfPairs(bands, BandKey)
    // lsh feeds the union twice (n_lsh + n_hit) — persist or the band
    // pipeline runs per consumer
    val lsh = lshCands.join(exact, Seq("i", "j"), "left_semi").persist()
    val out = exact.select(lit(1L).as("ex"), lit(0L).as("ls"), lit(0L).as("ht"))
      .unionAll(lsh.select(lit(0L).as("ex"), lit(1L).as("ls"), lit(0L).as("ht")))
      .unionAll(lsh.select(lit(0L).as("ex"), lit(0L).as("ls"), lit(1L).as("ht")))
      .agg(sum("ex").as("n_exact"), sum("ls").as("n_lsh"), sum("ht").as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        expr("CASE WHEN n_exact = 0 THEN NULL ELSE (n_hit * 1000) div n_exact END")
          .as("recall_permille"))
      .localCheckpoint(true) // 1 row; releases the caches below NOW
    Seq(withHs, exact, bands, lsh).foreach(_.unpersist())
    out
  }

  private lazy val lshEvalOracle = s"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    epairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS MATERIALIZED (
      SELECT i, j FROM epairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold),
    $bandsCteSql,
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    vpairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN cands c ON c.i = a.doc_id AND c.j = b.doc_id
      GROUP BY 1, 2),
    lsh AS MATERIALIZED (
      SELECT i, j FROM vpairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
      (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
      (SELECT CAST(count(*) AS BIGINT) FROM exact e JOIN lsh l ON e.i = l.i AND e.j = l.j) AS n_hit,
      CASE WHEN (SELECT count(*) FROM exact) = 0 THEN NULL
           ELSE ((SELECT count(*) FROM exact e JOIN lsh l ON e.i = l.i AND e.j = l.j) * 1000)
                // (SELECT count(*) FROM exact) END AS recall_permille"""

  // ---- sampled recall eval (the 100 TB shape) ---------------------------

  private[queries] val EvalSampleMod = 20

  private[queries] def evalSampled(c: Column): Column =
    pmod(TextOps.hash60(c.cast(StringType)), lit(EvalSampleMod)) === 0

  /** The two pair sets of [[lshEvalSampled]], exposed for the agreement
    * spec: (exact pairs touching the sample, LSH-verified pairs touching
    * the sample). Both are normalized (i < j) and persisted; the caller
    * unpersists. */
  /** Exact pairs with ≥1 sampled endpoint — ONE-SIDED prefix filter: only
    * sampled docs build (df-ASC) prefixes; candidates come from joining
    * those prefixes against the FULL shingle index. Lossless by the prefix
    * lemma (J ≥ τ ⇒ inter ≥ ⌈τ|x|⌉ ⇒ x's (|x|−⌈τ|x|⌉+1)-prefix hits y),
    * and the work scales with |sample|·df, never the corpus pair count. */
  private def sampledExactPairs(withHs: DataFrame, shFull: DataFrame): DataFrame = {
    val tau = JaccardThreshold
    val dfc = shFull.groupBy("s").agg(count(lit(1)).as("df"))
    val prefS = shFull.filter(evalSampled(col("doc_id"))).join(dfc, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("sorted"))
      .select(col("doc_id").as("sd"), size(col("sorted")).as("sn"),
        explode(slice(col("sorted"), lit(1),
          (size(col("sorted")) - ceil(lit(tau) * size(col("sorted"))) + 1)
            .cast(IntegerType))).as("e"))
      .select(col("sd"), col("sn"), col("e.s").as("s"))
    // r20: the full-index side's per-doc size is size(hs) off the cached
    // array frame — the old shape paid a sizes groupBy + join to re-derive
    // exactly that; the verify likewise joins the array frame directly
    val idx = withHs.select(col("doc_id").as("od"),
      size(col("hs")).cast(LongType).as("onn"), explode(col("hs")).as("s"))
    val cands = prefS.join(idx, "s")
      .filter(col("sd") =!= col("od") &&
        least(col("sn"), col("onn")) >= lit(tau) * greatest(col("sn"), col("onn")))
      .select(least(col("sd"), col("od")).as("i"),
        greatest(col("sd"), col("od")).as("j"))
      .distinct()
    NearDup.verifyCandidates(withHs.select(col("doc_id"), col("hs").as("ss")),
      cands, tau).select("i", "j")
  }

  private[queries] def sampledPairSets(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val withHs = NearDup.hashedShingles(Tables.documents(s, d)).persist()
    val shFull = withHs.select(col("doc_id"), explode(col("hs")).as("s")).persist()
    val exactS = sampledExactPairs(withHs, shFull).persist()
    // LSH pairs with ≥1 sampled endpoint — sampled docs' bands join the
    // FULL band index (never full×full): identical to restricting the full
    // band self-join, since cohabitation and the exact verify are symmetric.
    val bands = NearDup.bandFrameFromHashes(withHs).persist()
    val lshCands = BandJoin.probePairs(
      bands.filter(evalSampled(col("doc_id"))), bands, BandKey)
    // r20: every lshCands pair touches the sample, so its verified subset
    // is exactly lshCands ∩ exactS (exactS = ALL J ≥ τ pairs with a
    // sampled endpoint — the one-sided prefix build is lossless): a
    // semi-join replaces the second intersect pass. The oracle still
    // replays both full pipelines independently.
    val lshS = lshCands.join(exactS, Seq("i", "j"), "left_semi").persist()
    (exactS, lshS, Seq(withHs, shFull, bands, exactS, lshS))
  }

  /** [[lshEval]]'s 100 TB form: recall is ESTIMATED on a deterministic
    * 1/[[EvalSampleMod]] hash-sample of documents instead of materializing
    * the full exact pair set — the exact side runs a one-sided prefix join
    * (sampled prefixes ⋈ full index) and the LSH side joins sampled bands
    * against the full band index, so both legs cost O(|sample|·df). The
    * oracle replays the FULL pipelines and restricts them to the sample,
    * so a green hash-compare IS the proof that the sampled estimator
    * agrees with the exact-form restriction. */
  def lshEvalSampled(s: SparkSession, d: String): DataFrame = {
    val (exactS, lshS, cached) = sampledPairSets(s, d)
    val nSampled = Tables.documents(s, d)
      .filter(evalSampled(col("doc_id"))).select(col("doc_id"))
    // lshS ⊆ exactS by construction (semi-join verify), so the hit set IS
    // lshS — the union reads the persisted frame a second time
    val out = exactS.select(lit(1L).as("ex"), lit(0L).as("ls"), lit(0L).as("ht"), lit(0L).as("sd"))
      .unionAll(lshS.select(lit(0L).as("ex"), lit(1L).as("ls"), lit(0L).as("ht"), lit(0L).as("sd")))
      .unionAll(lshS.select(lit(0L).as("ex"), lit(0L).as("ls"), lit(1L).as("ht"), lit(0L).as("sd")))
      .unionAll(nSampled.select(lit(0L).as("ex"), lit(0L).as("ls"), lit(0L).as("ht"), lit(1L).as("sd")))
      .agg(sum("sd").as("n_docs_sampled"), sum("ex").as("n_exact"),
        sum("ls").as("n_lsh"), sum("ht").as("n_hit"))
      .select(col("n_docs_sampled"), col("n_exact"), col("n_lsh"), col("n_hit"),
        expr("CASE WHEN n_exact = 0 THEN NULL ELSE (n_hit * 1000) div n_exact END")
          .as("recall_permille"))
      .localCheckpoint(true) // 1 row; releases the caches below NOW
    cached.foreach(_.unpersist())
    out
  }

  private lazy val lshEvalSampledOracle = s"""
    WITH samp AS MATERIALIZED (
      SELECT doc_id FROM documents WHERE (${hashSql("doc_id::VARCHAR")}) % $EvalSampleMod = 0),
    sh AS MATERIALIZED (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    epairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS MATERIALIZED (
      SELECT i, j FROM epairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold
        AND (i IN (SELECT doc_id FROM samp) OR j IN (SELECT doc_id FROM samp))),
    $bandsCteSql,
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    vpairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN cands c ON c.i = a.doc_id AND c.j = b.doc_id
      GROUP BY 1, 2),
    lsh AS MATERIALIZED (
      SELECT i, j FROM vpairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold
        AND (i IN (SELECT doc_id FROM samp) OR j IN (SELECT doc_id FROM samp)))
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_docs_sampled,
      (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
      (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
      (SELECT CAST(count(*) AS BIGINT) FROM exact e JOIN lsh l ON e.i = l.i AND e.j = l.j) AS n_hit,
      CASE WHEN (SELECT count(*) FROM exact) = 0 THEN NULL
           ELSE ((SELECT count(*) FROM exact e JOIN lsh l ON e.i = l.i AND e.j = l.j) * 1000)
                // (SELECT count(*) FROM exact) END AS recall_permille"""

  /** [[clusterEval]]'s 100 TB form: precision/recall of the SimHash
    * components, estimated on the same deterministic doc sample. The
    * implied-pair count restricted to the sample is exact integer
    * arithmetic off the per-cluster (size k, sampled-members m) table —
    * m(k−1) − m(m−1)/2 per cluster — so neither the implied nor the exact
    * pair set is ever materialized beyond the sample's pairs. */
  def clusterEvalSampled(s: SparkSession, d: String): DataFrame = {
    // r21: same one-scan base as [[clusterEval]] — the simhash leg reads
    // `sh` off the persisted frame instead of re-scanning + re-tokenizing
    // the corpus through dedupCluster.
    val base = evalBase(Tables.documents(s, d)).persist()
    val withHs = base.select(col("doc_id"), col("hs"))
    val shFull = withHs.select(col("doc_id"), explode(col("hs")).as("s")).persist()
    val exactS = sampledExactPairs(withHs, shFull).persist()
    val cl = NearDup.components(NearDup.simhashBandPairs(
      base.select(col("doc_id"), col("sh")), bandBits = 8)).persist()
    val perCluster = cl.groupBy("cluster_id").agg(
      count(lit(1)).as("k"),
      sum(when(evalSampled(col("doc_id")), 1L).otherwise(0L)).as("m"))
    val hits = exactS
      .join(cl.select(col("doc_id").as("i"), col("cluster_id").as("ci")), "i")
      .join(cl.select(col("doc_id").as("j"), col("cluster_id").as("cj")), "j")
      .filter(col("ci") === col("cj"))
    val out = perCluster.select(
        (col("m") * (col("k") - 1) - expr("m * (m - 1) div 2")).as("imp"),
        lit(0L).as("ex"), lit(0L).as("ht"))
      .unionAll(exactS.select(lit(0L).as("imp"), lit(1L).as("ex"), lit(0L).as("ht")))
      .unionAll(hits.select(lit(0L).as("imp"), lit(0L).as("ex"), lit(1L).as("ht")))
      .agg(sum("imp").as("implied_pairs_sampled"),
        sum("ex").as("exact_pairs_sampled"), sum("ht").as("hits_sampled"))
      .select(col("implied_pairs_sampled"), col("exact_pairs_sampled"),
        col("hits_sampled"),
        expr("CASE WHEN implied_pairs_sampled = 0 THEN NULL ELSE (hits_sampled * 1000) div implied_pairs_sampled END")
          .as("precision_permille"),
        expr("CASE WHEN exact_pairs_sampled = 0 THEN NULL ELSE (hits_sampled * 1000) div exact_pairs_sampled END")
          .as("recall_permille"))
      .localCheckpoint(true) // 1 row; releases the caches below NOW
    Seq(base, shFull, exactS, cl).foreach(_.unpersist())
    out
  }

  private lazy val clusterEvalSampledOracle = s"""
    WITH RECURSIVE $ccReachCtesSql,
    labels AS MATERIALIZED (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1),
    samp AS MATERIALIZED (
      SELECT doc_id FROM documents WHERE (${hashSql("doc_id::VARCHAR")}) % $EvalSampleMod = 0),
    percl AS MATERIALIZED (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS k,
        CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM samp)) AS BIGINT) AS sm
      FROM labels GROUP BY 1),
    sh2 AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sizes2 AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
    ep AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exactp AS MATERIALIZED (
      SELECT i, j FROM ep JOIN sizes2 sa ON sa.doc_id = i JOIN sizes2 sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold
        AND (i IN (SELECT doc_id FROM samp) OR j IN (SELECT doc_id FROM samp))),
    hits AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM exactp e JOIN labels a ON a.doc_id = e.i JOIN labels b ON b.doc_id = e.j
      WHERE a.cluster_id = b.cluster_id)
    SELECT
      (SELECT CAST(SUM(sm * (k - 1) - sm * (sm - 1) // 2) AS BIGINT) FROM percl) AS implied_pairs_sampled,
      (SELECT CAST(count(*) AS BIGINT) FROM exactp) AS exact_pairs_sampled,
      (SELECT c FROM hits) AS hits_sampled,
      CAST(CASE WHEN (SELECT SUM(sm * (k - 1) - sm * (sm - 1) // 2) FROM percl) = 0 THEN NULL
           ELSE ((SELECT c FROM hits) * 1000) // (SELECT SUM(sm * (k - 1) - sm * (sm - 1) // 2) FROM percl) END
        AS BIGINT) AS precision_permille,
      CAST(CASE WHEN (SELECT count(*) FROM exactp) = 0 THEN NULL
           ELSE ((SELECT c FROM hits) * 1000) // (SELECT count(*) FROM exactp) END
        AS BIGINT) AS recall_permille"""

  // ---- incremental near-dup against a stored band index ----------------

  /** Incremental near-dup: dedup the NEW slice of the corpus against the
    * stored BAND INDEX of the already-ingested corpus — the daily-increment
    * shape at 100 TB, where yesterday's corpus is never re-signatured: its
    * (doc_id, band, key) rows live in storage and only the increment
    * computes signatures. Candidates come from new-bands ⋈ stored-bands
    * (never new×new, never old×old), and verification touches only
    * candidate docs. The "stored" index is genuinely written to and read
    * back from parquet to prove the round-trip. Output: (new doc `i`,
    * matched old doc `j`, exact jaccard). */
  def incrementalNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val history = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    // ONE scratch dir per JVM (a fixed shared path would let a concurrent
    // session's overwrite race this session's lazy read; a dir per CALL
    // would orphan one per query invocation)
    val idxDir = IncrementalIdxDir
    NearDup.bandFrame(history).write.mode("overwrite").parquet(idxDir)
    val idx = s.read.parquet(idxDir)
    // its own join, not BandJoin.probePairs: new and stored are disjoint
    // doc sets, so there is no id filter and no (least, greatest) order
    val cands = NearDup.bandFrame(fresh).as("a").join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()
    // verify on STRING shingle arrays here: hashing the WHOLE corpus's
    // shingles first (as minhashPairs does, where the signature pass needs
    // the hashes anyway) would be a pure extra md5 pass with no downstream
    // saving; the candidate join prunes non-matching docs in-stream.
    // r21 (ADVICE): verifyCandidates joins docSets TWICE (i-side + j-side)
    // — persist so the corpus tokenize+shingle pass runs once, and release
    // eagerly behind a pair-set-sized checkpoint like the other callers.
    val docSets = docs.select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("ss")).persist()
    val out = NearDup.verifyCandidates(docSets, cands, JaccardThreshold)
      .localCheckpoint(true)
    docSets.unpersist()
    out
  }

  private lazy val IncrementalIdxDir: String =
    java.nio.file.Files.createTempDirectory("graft_band_index_").toString

  private val incrementalOracle = {
    s"""
    WITH $bandsCteSql,
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
    sh AS (
      SELECT doc_id, unnest(${shinglesSql(toksSql, 3)}) AS s FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT c.i, c.j, count(*) AS inter
      FROM cands c
      JOIN sh a ON a.doc_id = c.i
      JOIN sh b ON b.doc_id = c.j AND b.s = a.s
      GROUP BY 1, 2)
    SELECT i, j, ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} AS jac
    FROM pairs JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
    WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold"""
  }

  // ---- SimHash + fingerprint -------------------------------------------

  def simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.hash60Array(TextOps.tokens(col("text"))).as("hs"))
      .select(col("doc_id"), TextOps.simhash32FromHashes(col("hs")).as("simhash"))

  /** The n-bit simhash bit-vote sum as DuckDB SQL (mirrors the kernel). */
  private def simhashBitsSql(n: Int): String = (0 until n).map { b =>
    s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $b) & 1 = 1)) - len(hs) > 0 THEN (1::BIGINT << $b) ELSE 0 END)"
  }.mkString(" +\n      ")

  private val simhashOracle = s"""
    SELECT doc_id,
      ${simhashBitsSql(32)} AS simhash
    FROM (SELECT doc_id, list_transform($toksSql, t -> ${hashSql("t")}) AS hs
          FROM documents) t"""

  /** SimHash near-dup: candidates share one of the four 8-bit bands of the
    * 32-bit fingerprint (two fingerprints within Hamming ≤ 3 MUST agree on
    * ≥1 band — pigeonhole), verified by exact Hamming distance via
    * bit_count(xor). Pair discovery is an equi-join on (band, byte); no
    * all-pairs anywhere — the standard simhash dedup shape at corpus scale. */
  def simhashNearDup(s: SparkSession, d: String): DataFrame =
    NearDup.simhashBandPairs(Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.hash60Array(TextOps.tokens(col("text"))).as("hs"))
      .select(col("doc_id"), TextOps.simhash32FromHashes(col("hs")).as("sh")),
      bandBits = 8)

  /** The WIDE (60-bit) simhash near-dup — the 100 TB form: the 32-bit
    * fingerprint's four 8-bit bands have only 256 keys each, so at corpus
    * scale every band bucket holds Θ(N/256) docs and the band join goes
    * quadratic no matter how uniform the text is. Four 15-bit bands keep
    * identical Hamming ≤ 3 recall (same pigeonhole) with 128× the keyspace —
    * bucket work drops by the same factor (SkewStressSpec pins the curve).
    * 60 bits (not 64) so the fingerprint stays non-negative in a BIGINT on
    * both engines. */
  def simhashNearDupWide(s: SparkSession, d: String): DataFrame =
    NearDup.simhashBandPairs(Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.hash60Array(TextOps.tokens(col("text"))).as("hs"))
      .select(col("doc_id"), TextOps.simhashFromHashes(col("hs"), 60).as("sh")),
      bandBits = 15)

  /** Shared band-join oracle: n-bit fingerprints, 4 bands of `bandBits`.
    * `bands` is referenced twice (the self-join) → AS MATERIALIZED, or
    * DuckDB inlines the whole n-term bit-vote chain once per side (the
    * multiply-referenced-CTE house rule). */
  private def simhashNearDupOracleFor(n: Int, bandBits: Int): String = s"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id,
        ${simhashBitsSql(n)} AS sh
      FROM (SELECT doc_id, list_transform($toksSql, t -> ${hashSql("t")}) AS hs
            FROM documents) t),
    bands AS MATERIALIZED (
      SELECT doc_id, sh, band, (sh >> (band * $bandBits)) & ${(1 << bandBits) - 1} AS byte
      FROM sh, unnest([0, 1, 2, 3]) AS u(band))
    SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
      bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= $SimHamMax"""

  private val simhashNearDupOracle = simhashNearDupOracleFor(32, 8)
  private val simhashNearDupWideOracle = simhashNearDupOracleFor(60, 15)

  /** Near-dup CLUSTERS from the simhash pair set: connected components by
    * min-label propagation ([[graft.llm.Corpus.clusterPairs]]) — dedup must
    * keep one representative per component, not per pair. The oracle walks
    * the same reachability with a recursive CTE. */
  def dedupCluster(s: SparkSession, d: String): DataFrame =
    NearDup.components(simhashNearDup(s, d))

  /** Cluster-quality evaluation: how faithfully do the SimHash near-dup
    * COMPONENTS (what [[dedupCluster]] dedups by) reflect the exact
    * Jaccard pair set? Components take a transitive closure — A~B~C links
    * A to C without A and C ever matching — so precision against the exact
    * set is the measured cost of clustering, and recall the benefit. The
    * implied-pair count is NEVER materialized (a giant component would make
    * that quadratic): it is Σ sz·(sz−1)/2 off the cluster-size table, and
    * the hit count attaches cluster labels to the (small) exact pair set
    * instead — both scale-safe. Permilles are integer-exact. */
  def clusterEval(s: SparkSession, d: String): DataFrame = {
    // EVAL-ONLY at bench scale (full exact pair set); the 100 TB path is
    // [[clusterEvalSampled]].
    // r21: ONE corpus scan + tokenize feeds BOTH legs — the simhash
    // fingerprint (cluster side) and the shingle-hash arrays (exact side)
    // are projections of the same persisted per-doc frame, where the old
    // shape ran dedupCluster and prefixJoinPairs as two independent
    // scan+tokenize pipelines. Values are expression-identical, so the
    // oracle hash is untouched.
    val base = evalBase(Tables.documents(s, d)).persist()
    val cl = NearDup.components(NearDup.simhashBandPairs(
      base.select(col("doc_id"), col("sh")), bandBits = 8))
      .persist() // label frame feeds sizes + both pair-label joins
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val exact = NearDup.prefixJoinFromIndex(
      base.select(col("doc_id"), explode(col("hs")).as("s")))
      .select("i", "j").persist()
    val hits = exact
      .join(cl.select(col("doc_id").as("i"), col("cluster_id").as("ci")), "i")
      .join(cl.select(col("doc_id").as("j"), col("cluster_id").as("cj")), "j")
      .filter(col("ci") === col("cj"))
    val out = sizes.select(expr("sz * (sz - 1) div 2").as("imp"), lit(1L).as("ncl"),
        col("sz").as("nd"), lit(0L).as("ex"), lit(0L).as("ht"))
      .unionAll(exact.select(lit(0L).as("imp"), lit(0L).as("ncl"),
        lit(0L).as("nd"), lit(1L).as("ex"), lit(0L).as("ht")))
      .unionAll(hits.select(lit(0L).as("imp"), lit(0L).as("ncl"),
        lit(0L).as("nd"), lit(0L).as("ex"), lit(1L).as("ht")))
      .agg(sum("ncl").as("n_clusters"), sum("nd").as("n_docs"),
        sum("imp").as("implied_pairs"), sum("ex").as("exact_pairs"),
        sum("ht").as("hits"))
      .select(col("n_clusters"), col("n_docs"), col("implied_pairs"),
        col("exact_pairs"), col("hits"),
        expr("CASE WHEN implied_pairs = 0 THEN NULL ELSE (hits * 1000) div implied_pairs END")
          .as("precision_permille"),
        expr("CASE WHEN exact_pairs = 0 THEN NULL ELSE (hits * 1000) div exact_pairs END")
          .as("recall_permille"))
      .localCheckpoint(true) // 1 row; releases the caches below NOW
    Seq(base, cl, exact).foreach(_.unpersist())
    out
  }

  /** ONE-scan eval base (r21): `(doc_id, sh, hs)` — the 32-bit simhash
    * fingerprint AND the distinct shingle-hash array off a single tokenize
    * pass. `tk` is bound as a column of the inner projection and referenced
    * by two non-cheap kernel expressions, so CollapseProject keeps the
    * projections separate and the tokenizer runs once per row (the
    * materialize-before-multi-traversal house rule). */
  private def evalBase(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        TextOps.simhash32FromHashes(TextOps.hash60Array(col("tk"))).as("sh"),
        TextOps.shingleHash60(col("tk"), 3).as("hs"))

  private lazy val clusterEvalOracle = s"""
    WITH RECURSIVE $ccReachCtesSql,
    labels AS MATERIALIZED (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1),
    sizes AS MATERIALIZED (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1),
    sh2 AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sizes2 AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
    ep AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exactp AS MATERIALIZED (
      SELECT i, j FROM ep JOIN sizes2 sa ON sa.doc_id = i JOIN sizes2 sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold),
    hits AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM exactp e JOIN labels a ON a.doc_id = e.i JOIN labels b ON b.doc_id = e.j
      WHERE a.cluster_id = b.cluster_id)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM sizes) AS n_clusters,
      (SELECT CAST(sum(sz) AS BIGINT) FROM sizes) AS n_docs,
      (SELECT CAST(sum(sz * (sz - 1) // 2) AS BIGINT) FROM sizes) AS implied_pairs,
      (SELECT CAST(count(*) AS BIGINT) FROM exactp) AS exact_pairs,
      (SELECT c FROM hits) AS hits,
      CASE WHEN (SELECT sum(sz * (sz - 1) // 2) FROM sizes) = 0 THEN NULL
           ELSE CAST(((SELECT c FROM hits) * 1000)
                // (SELECT CAST(sum(sz * (sz - 1) // 2) AS BIGINT) FROM sizes) AS BIGINT)
      END AS precision_permille,
      CASE WHEN (SELECT count(*) FROM exactp) = 0 THEN NULL
           ELSE ((SELECT c FROM hits) * 1000) // (SELECT count(*) FROM exactp)
      END AS recall_permille"""

  /** Shared recursive connected-components chain over a near-dup pair set
    * (`pairs`→`nodes`→`edges`→`reach`) — consumers append their own
    * `min(m) GROUP BY node` aggregate. ONE builder on purpose: four
    * oracles (cluster, wide cluster, survivor, leak-free split) walk the
    * same reachability, and a fix to the walk must reach all of them at
    * once. The Spark twin is [[NearDup.components]]. */
  private def ccReachSql(pairsSql: String): String = s"""
    pairs AS MATERIALIZED (SELECT i, j FROM ($pairsSql) q),
    nodes AS (SELECT i AS n FROM pairs UNION SELECT j FROM pairs),
    edges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
    reach(node, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.node, e.j FROM reach r JOIN edges e ON e.i = r.m)"""

  private val ccReachCtesSql = ccReachSql(simhashNearDupOracle)

  private val dedupClusterOracle = s"""
    WITH RECURSIVE $ccReachCtesSql
    SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node"""

  /** [[dedupCluster]] riding the WIDE (60-bit) fingerprint — the 100 TB
    * composition proven end-to-end: [[simhashNearDupWide]]'s thin-bucket
    * band pairs feed the SAME clustering machinery (driver union-find ⇄
    * checkpointed label propagation), so a corpus-scale dedup never has to
    * route through the 256-key 32-bit banding to get components. */
  def dedupClusterWide(s: SparkSession, d: String): DataFrame =
    NearDup.components(simhashNearDupWide(s, d))

  private val dedupClusterWideOracle = s"""
    WITH RECURSIVE ${ccReachSql(simhashNearDupWideOracle)}
    SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node"""

  /** [[dedupCluster]] over the EXACT pair set instead of SimHash
    * components — what [[clusterEval]]'s measurement argues for (47,618
    * implied pairs from 25 true ones at sf0.01): components built on
    * verified-Jaccard edges can only over-merge through genuine ≥τ CHAINS,
    * not through fingerprint coincidence. Same clustering machinery
    * (driver union-find ⇄ checkpointed label propagation), same oracle
    * walk, different — exact — edge set. */
  def dedupClusterExact(s: SparkSession, d: String): DataFrame =
    NearDup.components(NearDup.prefixJoinPairs(Tables.documents(s, d)))

  /** Recursive reachability over the EXACT (prefix-join) pair set — the
    * exact-edge twin of [[ccReachCtesSql]], shared by the exact cluster and
    * exact survivor oracles. */
  private lazy val exactReachCtesSql = s"""
    sh3 AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s
      FROM documents),
    sizes3 AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY 1),
    ep3 AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS MATERIALIZED (
      SELECT i, j FROM ep3 JOIN sizes3 sa ON sa.doc_id = i JOIN sizes3 sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold),
    nodes AS (SELECT i AS n FROM pairs UNION SELECT j FROM pairs),
    edges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
    reach(node, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.node, e.j FROM reach r JOIN edges e ON e.i = r.m)"""

  private lazy val dedupClusterExactOracle = s"""
    WITH RECURSIVE $exactReachCtesSql
    SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node"""

  /** Quality survivorship over the EXACT clusters — the production pick
    * once [[clusterEval]] has shown what fingerprint components cost:
    * every document lands in a cluster (singletons are their own), and
    * each cluster keeps its argmax-(n_chars, −doc_id) member. Same one
    * left-join + one map-side min(struct) aggregate as [[dedupSurvivor]],
    * exact edge set. */
  def dedupSurvivorExact(s: SparkSession, d: String): DataFrame = {
    val cl = dedupClusterExact(s, d)
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("n_chars")).as("neg"), col("doc_id"))).as("best"))
      .select(col("cid").as("cluster_id"), col("best.doc_id").as("survivor_id"),
        col("n_members"), (-col("best.neg")).as("survivor_chars"))
  }

  private lazy val dedupSurvivorExactOracle = s"""
    WITH RECURSIVE $exactReachCtesSql,
    cl AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node),
    mem AS (
      SELECT d.doc_id, d.n_chars, COALESCE(cl.cluster_id, d.doc_id) AS cid
      FROM documents d LEFT JOIN cl ON cl.node = d.doc_id)
    SELECT cid AS cluster_id,
           min_by(doc_id, -n_chars * (1::BIGINT << 40) + doc_id) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_members,
           max(n_chars) AS survivor_chars
    FROM mem GROUP BY cid"""

  /** Quality-aware dedup survivorship: near-dup clustering keeps ONE
    * representative per component — and real pipelines keep the BEST
    * member (longest / highest-quality), not the smallest id. Survivor =
    * argmax over (n_chars, −doc_id): a total order, so the pick is
    * deterministic under any partitioning; docs with no near-dup are their
    * own singleton cluster and survive unchanged.
    *
    * Scale shape: the cluster assignment is [[dedupCluster]]'s (banded
    * pair join + min-label components); membership attaches by ONE
    * left join on doc_id (the cluster table is |clustered-nodes|-sized,
    * far smaller than the corpus), and survivorship is one
    * map-side-combinable min(struct) aggregate — no window, no sort. */
  /** Every doc's near-dup cluster label (+ requested doc columns): CC over
    * the simhash pair set, singletons labeled with their own id — the
    * Spark side of the pattern its three oracle twins share via
    * `ccReachCtesSql`. */
  private def clusterAssign(s: SparkSession, d: String,
                            extraCols: Seq[String] = Nil): DataFrame =
    Tables.documents(s, d).select("doc_id", extraCols: _*)
      .join(dedupCluster(s, d), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))

  def dedupSurvivor(s: SparkSession, d: String): DataFrame = {
    clusterAssign(s, d, Seq("n_chars"))
      .select(col("doc_id"), col("n_chars"), col("cluster_id").as("cid"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("n_chars")).as("neg"), col("doc_id"))).as("best"))
      .select(col("cid").as("cluster_id"), col("best.doc_id").as("survivor_id"),
        col("n_members"), (-col("best.neg")).as("survivor_chars"))
  }

  private val dedupSurvivorOracle = s"""
    WITH RECURSIVE $ccReachCtesSql,
    cl AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node),
    mem AS (
      SELECT d.doc_id, d.n_chars, COALESCE(cl.cluster_id, d.doc_id) AS cid
      FROM documents d LEFT JOIN cl ON cl.node = d.doc_id)
    SELECT cid AS cluster_id,
           -- (max chars, then min id) packed into one orderable BIGINT:
           -- doc_id < 2^40 for any conceivable slice of this corpus
           min_by(doc_id, -n_chars * (1::BIGINT << 40) + doc_id) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_members,
           max(n_chars) AS survivor_chars
    FROM mem GROUP BY cid"""

  /** PII redaction over the corpus. The synthetic documents carry no PII,
    * so (like [[embedNearDup]]'s seeded vectors) every 7th doc gets a
    * deterministic email + phone appended and the oracle reproduces the
    * same concatenation — the hash-match proves pattern parity and the
    * redaction cascade, not an empty no-op. */
  def redactPii(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).withColumn("t",
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact a"), col("doc_id").cast(StringType),
          lit("@ex.com or call +1 555 000 "), col("doc_id").cast(StringType)))
        .otherwise(col("text")))
    seeded.select(col("doc_id"),
      regexp_count(col("t"), lit(TextOps.EmailRe)).cast(LongType).as("n_emails"),
      regexp_count(col("t"), lit(TextOps.PhoneRe)).cast(LongType).as("n_phones"),
      md5(TextOps.redactPii(col("t"))).as("checksum"))
  }

  private val redactOracle = s"""
    SELECT doc_id,
      len(regexp_extract_all(t, '${TextOps.EmailRe}'))::BIGINT AS n_emails,
      len(regexp_extract_all(t, '${TextOps.PhoneRe}'))::BIGINT AS n_phones,
      md5(regexp_replace(regexp_replace(t, '${TextOps.EmailRe}', '<EMAIL>', 'g'),
        '${TextOps.PhoneRe}', '<PHONE>', 'g')) AS checksum
    FROM (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
          THEN text || ' contact a' || doc_id::VARCHAR || '@ex.com or call +1 555 000 ' || doc_id::VARCHAR
          ELSE text END AS t
      FROM documents) s"""

  /** Rolling word-5-gram fingerprint (min-hash; the k=1 winnowing signature). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      array_min(TextOps.shingleHash60(TextOps.tokens(col("text")), 5))
        .as("fingerprint"))

  private val fingerprintOracle = s"""
    SELECT doc_id,
      list_min(list_transform(${shinglesSql(toksSql, 5)}, x -> ${hashSql("x")})) AS fingerprint
    FROM documents"""

  private val WinnowK = 3 // k-gram size
  private val WinnowW = 4 // window width (guarantee: any match ≥ w+k-1 tokens is caught)

  /** Winnowing (the published MOSS fingerprint selection): hash every
    * k-gram IN ORDER, slide a w-window over the hash sequence, keep each
    * window's minimum, distinct the selected set. Output is the per-doc
    * fingerprint inventory as (doc_id, fp) rows — the inverted-index shape
    * plagiarism/overlap detection joins on. Narrow per-row work. */
  def winnow(s: SparkSession, d: String): DataFrame = {
    // materialize the hash sequence BEFORE the windowing lambda: an inline
    // subexpression inside a higher-order lambda re-evaluates per element
    // (interpreted), which would recompute every md5 once per window
    val withHs = Tables.documents(s, d).select(col("doc_id"),
      TextOps.ngramHash60(TextOps.tokens(col("text")), WinnowK).as("hs"))
    val hs = col("hs")
    val fps = when(size(hs) >= WinnowW,
      array_distinct(transform(sequence(lit(0), size(hs) - WinnowW),
        i => array_min(slice(hs, i + 1, lit(WinnowW))))))
      .otherwise(array(array_min(hs)))
    withHs.select(col("doc_id"), explode(fps).as("fp"))
  }

  private val winnowOracle = {
    val ngramsSql =
      s"""CASE WHEN len(sp) >= $WinnowK
          THEN [array_to_string(sp[i:i+${WinnowK - 1}],' ') for i in range(1, len(sp)-${WinnowK - 2})]
          ELSE [array_to_string(sp,' ')] END"""
    s"""
    WITH h AS (
      SELECT doc_id, list_transform($ngramsSql, x -> ${hashSql("x")}) AS hs
      FROM (SELECT doc_id, $toksSql AS sp FROM documents) t)
    SELECT doc_id, unnest(
      CASE WHEN len(hs) >= $WinnowW
        THEN list_distinct([list_min(hs[i:i+${WinnowW - 1}]) for i in range(1, len(hs)-${WinnowW - 2})])
        ELSE [list_min(hs)] END) AS fp
    FROM h"""
  }

  // ---- text analysis ----------------------------------------------------

  def textStats(s: SparkSession, d: String): DataFrame = {
    val nTokens = size(col("__toks"))
    val punct = TextOps.punctRatio(col("text"))
    // stopword hits via the one-pass LangHits kernel (hits[1] = en)
    val stop = element_at(col("__hits"), 1).cast(DoubleType) / nTokens
    Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__hits", TextOps.langHits(col("__toks")))
      .select(
        col("doc_id"),
        nTokens.cast(LongType).as("n_tokens"),
        length(col("text")).cast(LongType).as("n_chars_m"),
        TextOps.bpeishCount(col("text")).cast(LongType).as("n_bpeish"),
        TextOps.quant(punct, 4).as("punct_ratio"),
        TextOps.quant(stop, 4).as("stop_ratio"),
        TextOps.qualityScore(nTokens, punct, stop).as("quality"))
  }

  private val textStatsOracle = {
    val en = TextOps.LangStopwords.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""
    SELECT doc_id,
      n_tokens, n_chars_m, n_bpeish,
      ${qSql("punct", 4)} AS punct_ratio,
      ${qSql("stop", 4)} AS stop_ratio,
      ${qSql("least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - least(punct * 5, 1.0)) * 0.3 + least(stop * 3, 1.0) * 0.3", 4)} AS quality
    FROM (
      SELECT doc_id,
        len(sp)::BIGINT AS n_tokens,
        length(text)::BIGINT AS n_chars_m,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpeish,
        len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE / length(text) AS punct,
        len(list_filter(sp, t -> list_contains($en, t)))::DOUBLE / len(sp) AS stop
      FROM (SELECT doc_id, text, $toksSql AS sp FROM documents) t) tt"""
  }

  // ---- weighted sampling without replacement ----------------------------

  private val WeightedSampleK = 50
  private val Pow2_60 = 1152921504606846976.0 // 2^60: the hash60 value space

  /** Quality-weighted sampling WITHOUT replacement via the one-pass
    * Efraimidis–Spirakis A-ES scheme (2006): each document draws a
    * deterministic uniform u = hash60(doc_id:ws)/2^60 and ranks by
    * key = ln(u)/w (the log form of u^(1/w); ln u < 0, so larger weight
    * pulls the key toward 0) with w = the shared [[TextOps.qualityScore]] —
    * the principled "sample k docs proportional to quality" selection,
    * where [[Corpus]]-style hash gates give only per-group RATES. The key
    * is quantized to 6 decimals with a doc_id tiebreak so the boundary is
    * engine-independent; no `rand()` anywhere.
    *
    * Scale shape: one narrow projection (tokens/punct/stopwords in-row)
    * then a TakeOrdered of the top [[WeightedSampleK]] keys — per-partition
    * heads + driver merge, never a global sort. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val n = size(col("__toks"))
    val punct = TextOps.punctRatio(col("text"))
    val stop = element_at(col("__hits"), 1).cast(DoubleType) / n
    val u = TextOps.hash60(concat(col("doc_id").cast(StringType), lit(":ws")))
      .cast(DoubleType) / lit(Pow2_60)
    Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__hits", TextOps.langHits(col("__toks")))
      .select(col("doc_id"),
        greatest(TextOps.qualityScore(n, punct, stop), lit(0.0001)).as("w"))
      .withColumn("key_q", TextOps.quant(log(u) / col("w"), 6))
      .orderBy(col("key_q").desc, col("doc_id").asc).limit(WeightedSampleK)
  }

  /** A-ES key replay CTEs (`q`→`w`→`keys`), shared by the global and the
    * per-stratum sampling oracles — one copy of the weight/key arithmetic. */
  private def aesKeyCtes = {
    val en = TextOps.LangStopwords.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""q AS (
      SELECT doc_id,
        len(sp)::BIGINT AS n_tokens,
        len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE / length(text) AS punct,
        len(list_filter(sp, t2 -> list_contains($en, t2)))::DOUBLE / len(sp) AS stop
      FROM (SELECT doc_id, text, $toksSql AS sp FROM documents) t),
    w AS (
      SELECT doc_id,
        greatest(${qSql("least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - least(punct * 5, 1.0)) * 0.3 + least(stop * 3, 1.0) * 0.3", 4)}, 0.0001) AS w
      FROM q),
    keys AS (
      SELECT doc_id, w,
        ${qSql(s"ln(${hashSql("doc_id::VARCHAR || ':ws'")} / $Pow2_60) / w", 6)} AS key_q
      FROM w)"""
  }

  private val weightedSampleOracle = s"""
    WITH $aesKeyCtes
    SELECT doc_id, w, key_q FROM keys
    ORDER BY key_q DESC, doc_id ASC LIMIT $WeightedSampleK"""

  private val GroupSampleK = 10

  /** Per-stratum weighted sampling without replacement: the A-ES selection
    * of [[weightedSample]] run INDEPENDENTLY inside every source — "the k
    * best-quality-weighted docs per domain", the stratified form a corpus
    * mix actually needs (the global form can starve a small domain).
    *
    * Scale shape: the same narrow in-row key projection, then ONE hash
    * aggregate with the bounded [[graft.functions.BoundedK]] heap — the
    * shuffle moves |sources|×K entries, never a per-group sort and never
    * the corpus; contrast with a rank window, which would sort every
    * group's full row set. */
  def groupWeightedSample(s: SparkSession, d: String): DataFrame = {
    val n = size(col("__toks"))
    val punct = TextOps.punctRatio(col("text"))
    val stop = element_at(col("__hits"), 1).cast(DoubleType) / n
    val u = TextOps.hash60(concat(col("doc_id").cast(StringType), lit(":ws")))
      .cast(DoubleType) / lit(Pow2_60)
    Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__hits", TextOps.langHits(col("__toks")))
      .select(col("source"), col("doc_id"),
        greatest(TextOps.qualityScore(n, punct, stop), lit(0.0001)).as("w"))
      .withColumn("key_q", TextOps.quant(log(u) / col("w"), 6))
      .groupBy(col("source"))
      .agg(TextOps.topKBy(col("key_q"), col("doc_id"), GroupSampleK).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("source"), col("e.id").as("doc_id"),
        col("e.score").as("key_q"), (col("p") + 1).cast(LongType).as("rk"))
  }

  private val groupWeightedSampleOracle = s"""
    WITH $aesKeyCtes
    SELECT source, doc_id, key_q, rk FROM (
      SELECT d.source, k.doc_id, k.key_q,
        CAST(row_number() OVER (PARTITION BY d.source
          ORDER BY k.key_q DESC, k.doc_id ASC) AS BIGINT) AS rk
      FROM keys k JOIN documents d USING (doc_id)) t
    WHERE rk <= $GroupSampleK"""

  /** Repetition quality filters (published MassiveText/Gopher-style rules):
    * duplicate-2/3-gram fractions and top-2-gram coverage per document —
    * the standard "is this document degenerate repetition" signals. All
    * in-row arithmetic: narrow, shuffle-free, codegen-adjacent. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextOps.ngrams(toks, 2).as("g2"), TextOps.ngrams(toks, 3).as("g3"))
      .select(
        col("doc_id"),
        TextOps.dupRatioFromGrams(col("g2")).as("dup2_ratio"),
        TextOps.dupRatioFromGrams(col("g3")).as("dup3_ratio"),
        TextOps.topFractionFromGrams(col("g2")).as("top2_fraction"))
  }

  private val repetitionOracle = {
    def ngramsSql(n: Int) =
      s"""CASE WHEN len(sp) >= $n
          THEN [array_to_string(sp[i:i+${n - 1}],' ') for i in range(1, len(sp)-${n - 2})]
          ELSE [array_to_string(sp,' ')] END"""
    s"""
    SELECT doc_id,
      ${qSql("(len(g2) - len(list_distinct(g2))) * 1.0 / len(g2)", 4)} AS dup2_ratio,
      ${qSql("(len(g3) - len(list_distinct(g3))) * 1.0 / len(g3)", 4)} AS dup3_ratio,
      ${qSql("list_max(list_transform(list_distinct(g2), g -> len(list_filter(g2, x -> x = g)))) * 1.0 / len(g2)", 4)} AS top2_fraction
    FROM (
      SELECT doc_id, ${ngramsSql(2)} AS g2, ${ngramsSql(3)} AS g3
      FROM (SELECT doc_id, $toksSql AS sp FROM documents) t) tt"""
  }

  private val VocabTopK = 100

  /** Vocabulary building: corpus-wide token frequencies, top-K by count
    * (deterministic tie order). The canonical one-shuffle aggregation —
    * explode is narrow, the groupBy partial-aggregates map-side, top-K is a
    * single ordered limit. At 100 TB this is exactly the shape tokenizer
    * training starts from. */
  def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(VocabTopK)

  private val vocabOracle = s"""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest($toksSql) AS token FROM documents) t
    GROUP BY token ORDER BY freq DESC, token ASC LIMIT $VocabTopK"""

  private val CoverageK = 16

  /** Vocabulary-coverage QA: per source, what fraction of running tokens the
    * top-K vocabulary covers — the report run before committing to a
    * tokenizer (low coverage → the vocab underserves that source and its
    * texts will shatter into fallback pieces). The vocab is a corpus-wide
    * TakeOrdered (control-plane sized) broadcast against a narrow token
    * explode: one shuffle for the per-source aggregate, nothing corpus-sized
    * ever moves. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val top = Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(CoverageK)
      .select(col("token"), lit(1L).as("__in"))
    Tables.documents(s, d)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(broadcast(top), Seq("token"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("coverage",
        TextOps.quant(lit(1.0) - col("n_oov") / col("n_tokens"), 4))
  }

  private val vocabCoverageOracle = s"""
    WITH v AS (
      SELECT token FROM (
        SELECT unnest($toksSql) AS token FROM documents) t
      GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT $CoverageK),
    toks AS (SELECT source, unnest($toksSql) AS token FROM documents),
    agg AS (
      SELECT source, count(*) AS n_tokens,
        CAST(sum(CASE WHEN token IN (SELECT token FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
      FROM toks GROUP BY source)
    SELECT source, n_tokens, n_oov,
      ${qSql("1.0 - n_oov * 1.0 / n_tokens", 4)} AS coverage
    FROM agg"""

  def langId(s: SparkSession, d: String): DataFrame = {
    // all four language scores from ONE LangHits traversal
    val scores = TextOps.LangStopwords.zipWithIndex.map { case ((l, _), i) =>
      l -> element_at(col("__hits"), i + 1)
    }
    Tables.documents(s, d)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__hits", TextOps.langHits(col("__toks")))
      .select(
        col("doc_id") +: scores.map { case (l, c) => c.cast(LongType).as(s"s_$l") }
          :+ TextOps.langId(scores).as("lang_guess"): _*)
  }

  private val langIdOracle = {
    val scoreDefs = TextOps.LangStopwords.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(sp, t -> list_contains($arr, t)))::BIGINT AS s_$l"
    }.mkString(",\n        ")
    val langs = TextOps.LangStopwords.map(_._1)
    val caseExpr = langs.init.zipWithIndex.foldRight(s"'${langs.last}'") {
      case ((l, i), elseC) =>
        val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN $conds THEN '$l' ELSE $elseC END"
    }
    s"""
    SELECT doc_id, s_en, s_de, s_es, s_fr, $caseExpr AS lang_guess
    FROM (
      SELECT doc_id,
        $scoreDefs
      FROM (SELECT doc_id, $toksSql AS sp FROM documents) t) tt"""
  }

  // ---- similarity search ------------------------------------------------

  private[queries] val AnnK = 5
  private val AnnPlanes = Similarity.planes(6, 64) // 64 buckets
  private val NearDupPlanes = Similarity.planes(8, 64) // 256 buckets, pinned for the oracle
  private val NearDupCos = 0.995
  private val NearDupSeeds = 20 // vectors cloned-with-perturbation to seed real near-dups
  private val SeedIdOffset = 1000000L

  private def cosineSql(a: String, b: String) = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, 65), k -> $x[k]::DOUBLE * $y[k]::DOUBLE))"
    s"${dot(a, b)} / sqrt(${dot(a, a)}) / sqrt(${dot(b, b)})"
  }

  private def bucketSql(emb: String, planes: Array[Array[Double]]) =
    planes.zipWithIndex.map { case (p, j) =>
      val lits = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, 65), k -> $emb[k]::DOUBLE * ($lits)[k])) > 0 THEN (1::BIGINT << $j) ELSE 0 END)"
    }.mkString(" +\n        ")

  /** Brute-force cosine top-k: the correctness baseline (query side tiny →
    * broadcast nested loop; at scale this is the per-bucket fallback). */
  def annBrute(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteTopK(emb.filter(col("vec_id") < 10), emb, AnnK)
  }

  private val annBruteOracle = s"""
    SELECT query_id, rank, neighbor_id, cos FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${qSql(cosineSql("q.embedding", "c.embedding"), 4)} AS cos,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY ${qSql(cosineSql("q.embedding", "c.embedding"), 4)} DESC, c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10) t
    WHERE rank <= $AnnK"""

  /** LSH-bucketed ANN: candidates share a random-hyperplane bucket — the
    * corpus shuffles once on the bucket key; no cross-join. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, AnnK, AnnPlanes)
  }

  private val annLshOracle = s"""
    WITH b AS (
      SELECT vec_id, embedding,
        ${bucketSql("embedding", AnnPlanes)} AS bucket
      FROM embeddings)
    SELECT query_id, rank, neighbor_id, cos FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${qSql(cosineSql("q.embedding", "c.embedding"), 4)} AS cos,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY ${qSql(cosineSql("q.embedding", "c.embedding"), 4)} DESC, c.vec_id ASC) AS rank
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 10) t
    WHERE rank <= $AnnK"""

  /** Multi-probe LSH ANN: same bucket space as [[annLsh]] but each query
    * also probes every Hamming-1 bucket — recovers neighbors lost to a
    * single hyperplane split (the plain-LSH recall gap) at (b+1)× the
    * candidate cost, still equi-joined. */
  def annMultiProbe(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 10), emb, AnnK, AnnPlanes)
  }

  private val annMultiProbeOracle = s"""
    WITH b AS (
      SELECT vec_id, embedding,
        ${bucketSql("embedding", AnnPlanes)} AS bucket
      FROM embeddings),
    probes AS (
      SELECT vec_id, embedding,
        unnest([bucket] || [xor(bucket, (1::BIGINT << j)) for j in range(0, ${AnnPlanes.length})]) AS pbucket
      FROM b WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
      FROM probes q JOIN b c ON c.bucket = q.pbucket AND q.vec_id <> c.vec_id)
    SELECT query_id, rank, neighbor_id, cos FROM (
      SELECT query_id, neighbor_id,
        ${qSql(cosineSql("qe", "ce"), 4)} AS cos,
        row_number() OVER (PARTITION BY query_id
          ORDER BY ${qSql(cosineSql("qe", "ce"), 4)} DESC, neighbor_id ASC) AS rank
      FROM cand) t
    WHERE rank <= $AnnK"""

  private[queries] val IvfCentroids = 16
  private[queries] val IvfNprobe = 2

  /** IVF ANN: designated-centroid cells + nprobe probing — the inverted-
    * file scale path beside the LSH one (cells from data regions instead of
    * random hyperplanes). Centroids are the first 16 corpus vectors so the
    * oracle reproduces the assignment exactly. */
  /** ANN evaluation: per-query recall@K of every approximate searcher
    * against the brute-force ground truth — the measurement an ANN
    * deployment runs before trusting its index (PERF.md's recall table is
    * this op's offline ancestor). Truth is computed ONCE and persisted
    * (three method joins read it); each hit count is a (query, neighbor)
    * equi-join + map-side-combinable sum. The brute baseline's broadcast
    * nested loop is the documented intended plan (allowlisted), and the
    * query set is tiny by contract — nothing here touches corpus scale
    * beyond what the searchers themselves do. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val truth = annBrute(s, d).select(col("query_id"), col("neighbor_id")).persist()
    def one(name: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(lit(name).as("method"), col("query_id"), col("n_hit"),
          TextOps.quant(col("n_hit") / lit(AnnK.toDouble), 4).as("recall"))
    one("lsh", annLsh(s, d))
      .unionByName(one("multiprobe", annMultiProbe(s, d)))
      .unionByName(one("ivf", annIvf(s, d)))
  }

  private lazy val annRecallOracle = {
    def one(name: String, sql: String) = s"""
      SELECT '$name' AS method, query_id, n_hit,
        ${qSql(s"n_hit / $AnnK.0", 4)} AS recall
      FROM (
        SELECT t.query_id,
          CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM truth t LEFT JOIN ($sql) a
          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        GROUP BY 1) x"""
    s"""
    WITH truth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM ($annBruteOracle) t)
    ${one("lsh", annLshOracle)}
    UNION ALL ${one("multiprobe", annMultiProbeOracle)}
    UNION ALL ${one("ivf", annIvfOracle)}"""
  }

  def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(
      emb.filter(col("vec_id") < 10), emb,
      emb.filter(col("vec_id") < IvfCentroids), AnnK, IvfNprobe)
  }

  /** Corpus-scale k-NN join: every 16th embedding is a "query" (standing in
    * for the every-document-is-a-query retrieval/contrastive build) and finds
    * its [[AnnK]] nearest neighbors through the SAME IVF cell structure as
    * `llm_ann_ivf` — but with the query side shuffled, the cell join
    * broadcast-free, and the per-query rank a bounded heap aggregate instead
    * of a window sort ([[Similarity.knnJoinIvf]]). Cell assignment and
    * cosine arithmetic are identical to the probe form, so the oracle is the
    * same SQL with a wider query filter. */
  def knnJoin(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.knnJoinIvf(
      emb.filter(col("vec_id") % 16 === 3), emb,
      emb.filter(col("vec_id") < IvfCentroids), AnnK, IvfNprobe)
  }

  private[queries] lazy val knnJoinOracle = ivfOracleFor("e.vec_id % 16 = 3")

  private[queries] lazy val annIvfOracle = ivfOracleFor("e.vec_id < 10")

  private def ivfOracleFor(queryFilter: String) = {
    def cellsSql(filter: String, keep: String) = s"""
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${qSql(cosineSql("e.embedding", "c.cent"), 6)} DESC, c.cent_id ASC) AS cr
        FROM embeddings e CROSS JOIN cents c
        WHERE $filter) t
      WHERE cr <= $keep"""
    s"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < $IvfCentroids),
    corpus_cells AS (${cellsSql("TRUE", "1")}),
    query_cells AS (${cellsSql(queryFilter, IvfNprobe.toString)}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce
      FROM query_cells q JOIN corpus_cells c ON q.cent_id = c.cent_id
        AND q.vec_id <> c.vec_id)
    SELECT query_id, rank, neighbor_id, cos FROM (
      SELECT query_id, neighbor_id,
        ${qSql(cosineSql("qe", "ce"), 4)} AS cos,
        row_number() OVER (PARTITION BY query_id
          ORDER BY ${qSql(cosineSql("qe", "ce"), 4)} DESC, neighbor_id ASC) AS rank
      FROM cand) t
    WHERE rank <= $AnnK"""
  }

  /** Embedding-cosine near-dup pairs, bucket-joined (near-identical vectors
    * share all sign bits, so each pair meets inside one LSH bucket).
    *
    * The driver's embeddings are mutually random (max pairwise cosine ≈ 0.6),
    * so a threshold pass over the raw table proves nothing — the query SEEDS
    * deterministic near-duplicates (a ±0.1% per-coordinate perturbation of
    * the first [[NearDupSeeds]] vectors, ids offset by [[SeedIdOffset]]) and
    * the oracle reproduces the same arithmetic, making the hash-match a real
    * check of bucketing + cosine. The plane count here is pinned at 8 for the
    * static oracle; the production path is [[Similarity.nearDupPairs]], which
    * scales the bucket space with the corpus. */
  /** The seeded corpus every embedding near-dup query shares: the real
    * vectors plus [[NearDupSeeds]] clones carrying a ±0.1% per-dim
    * perturbation (guaranteed genuine near-dups). */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
    val seeded = base.filter(col("vec_id") < NearDupSeeds).select(
      (col("vec_id") + SeedIdOffset).as("vec_id"),
      transform(col("embedding"),
        (x, k) => x * (lit(1d) + lit(0.0005) * (k % 5 - lit(2)).cast(DoubleType)))
        .as("embedding"))
    base.unionByName(seeded)
  }

  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    val corpus = nearDupCorpus(s, d)
    // persist: the self-join would evaluate the 8 hyperplane dot-products
    // once per side otherwise
    val b = corpus.select(col("vec_id"), col("embedding"),
      Similarity.lshBucket(col("embedding"), NearDupPlanes).as("bucket"))
      .persist()
    Similarity.bucketPairs(b).filter(col("cos") >= NearDupCos)
  }

  /** The oracle twin of [[nearDupCorpus]]: the `base` vectors and their
    * `seeded` perturbed clones, shared by every seeded-corpus oracle. */
  private val nearDupCorpusCtes = s"""base AS (
      SELECT vec_id, list_transform(range(1, 65), k -> embedding[k]::DOUBLE) AS embedding
      FROM embeddings),
    seeded AS (
      SELECT vec_id + $SeedIdOffset AS vec_id,
        list_transform(range(1, 65), k -> embedding[k]::DOUBLE * (1.0 + 0.0005 * ((k - 1) % 5 - 2))) AS embedding
      FROM embeddings WHERE vec_id < $NearDupSeeds)"""

  private val embedNearDupOracle = s"""
    WITH $nearDupCorpusCtes,
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM seeded),
    b AS (
      SELECT vec_id, embedding,
        ${bucketSql("embedding", NearDupPlanes)} AS bucket
      FROM corpus)
    SELECT a.vec_id AS i, b.vec_id AS j,
      ${qSql(cosineSql("a.embedding", "b.embedding"), 4)} AS cos
    FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ${qSql(cosineSql("a.embedding", "b.embedding"), 4)} >= $NearDupCos"""

  private[queries] val BandedBands = 4
  private[queries] val BandedPerBand = 6
  // pinned for the oracle, like NearDupPlanes; the production knob is
  // perBand ≈ planesFor(n) with the SAME band count (recall is set by
  // bands, bucket thinness by perBand)
  private[queries] val BandedPlanes = Similarity.planes(BandedBands * BandedPerBand, 64)

  /** Banded cosine-LSH near-dup — the HIGH-RECALL scale form of
    * [[embedNearDup]]. The single-bucket form admits a candidate only when
    * ALL plane signs agree (miss probability compounds with plane count —
    * the very knob `planesFor` must grow for bucket thinness at corpus
    * scale), so recall decays exactly where scale needs more planes. Four
    * bands of six planes admit on ANY band agreeing — recall
    * 1−(1−p^r)^B instead of p^(r·B) — the same AND/OR banding minhash-LSH
    * uses for text (SkewStressSpec measures the gap on an adversarial
    * fleet).
    *
    * Plan shape: ONE codegen'd 24-plane signature pass ([[Similarity
    * .lshBucket]]); band keys are BIT SLICES of the signature (no per-band
    * re-traversal); candidate pairs dedupe BEFORE the cosine verify; the
    * verify joins embeddings back by key — never an all-pairs product. */
  def embedNearDupBanded(s: SparkSession, d: String): DataFrame =
    bandedPairsFrom(nearDupCorpus(s, d), NearDupCos)

  /** The banded core over ANY (vec_id, embedding) frame — the pinned-plane
    * instance of [[Similarity.bandedPairsWith]]; driveable with synthetic
    * fleets (SkewStressSpec measures the recall gap vs the
    * AND-of-all-planes key on an adversarial fleet). */
  private[queries] def bandedPairsFrom(corpusIn: DataFrame,
                                       threshold: Double): DataFrame =
    Similarity.bandedPairsWith(corpusIn, BandedPlanes, BandedBands,
      BandedPerBand, threshold)

  private val embedNearDupBandedOracle = s"""
    WITH $nearDupCorpusCtes,
    corpus AS MATERIALIZED (SELECT * FROM base UNION ALL SELECT * FROM seeded),
    sig AS MATERIALIZED (
      SELECT vec_id,
        ${bucketSql("embedding", BandedPlanes)} AS sig
      FROM corpus),
    bands AS MATERIALIZED (
      SELECT vec_id, band, (sig >> (band * $BandedPerBand)) & ${(1 << BandedPerBand) - 1} AS key
      FROM sig, unnest([${(0 until BandedBands).mkString(", ")}]) AS u(band)),
    cands AS (
      SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
    SELECT i, j, q AS cos FROM (
      SELECT i, j, ${qSql(cosineSql("ca.embedding", "cb.embedding"), 4)} AS q
      FROM cands JOIN corpus ca ON ca.vec_id = i JOIN corpus cb ON cb.vec_id = j) t
    WHERE q >= $NearDupCos"""

  /** Hard-negative mining (the DPR/contrastive-retrieval recipe): for each
    * anchor that has a semantic positive, the HARDEST non-positive — the
    * highest-cosine bucket-cohabitant BELOW the near-dup threshold (so it
    * is confusable but genuinely different; random-hash negatives in
    * [[contrastivePairs]] are the easy-negative baseline). Negatives are
    * restricted to real corpus vectors; anchors whose bucket holds nothing
    * but their positive drop out (no candidate ⇒ no row).
    *
    * Scale shape: the SAME single bucket-key shuffle as [[embedNearDup]]
    * (the candidate frame is shared/persisted, computed once); the
    * per-anchor pick is a map-side-combinable `max_by` argmax — no window,
    * no sort, nothing quadratic beyond the bucketed pair set. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val corpus = nearDupCorpus(s, d)
    val b = corpus.select(col("vec_id"), col("embedding"),
      Similarity.lshBucket(col("embedding"), NearDupPlanes).as("bucket"))
      .persist()
    // ALL bucket-cohabiting pairs with cosine — persisted because the
    // anchor (≥ threshold) and negative (< threshold) slices both read it
    val cand = Similarity.bucketPairs(b).persist()
    val anchors = cand
      .filter(col("cos") >= NearDupCos && col("i") < SeedIdOffset)
      .groupBy(col("i").as("anchor_id")).agg(min(col("j")).as("pos_id"))
    val negCand = cand.filter(col("cos") < NearDupCos)
    val bothDirs = negCand.select(col("i").as("a"), col("j").as("b"), col("cos"))
      .unionByName(negCand.select(col("j").as("a"), col("i").as("b"), col("cos")))
      .filter(col("b") < SeedIdOffset) // negatives are real corpus vectors
    anchors.join(bothDirs, col("anchor_id") === col("a"))
      .groupBy("anchor_id")
      .agg(min(col("pos_id")).as("pos_id"),
        max_by(col("b"), struct(col("cos"), -col("b"))).as("hard_neg_id"),
        max(col("cos")).as("neg_cos"))
  }

  private val hardNegativesOracle = s"""
    WITH $nearDupCorpusCtes,
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM seeded),
    b AS (
      SELECT vec_id, embedding,
        ${bucketSql("embedding", NearDupPlanes)} AS bucket
      FROM corpus),
    cand AS MATERIALIZED (
      SELECT a.vec_id AS i, b.vec_id AS j,
        ${qSql(cosineSql("a.embedding", "b.embedding"), 4)} AS cos
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    anchors AS (
      SELECT i AS anchor_id, min(j) AS pos_id FROM cand
      WHERE cos >= $NearDupCos AND i < $SeedIdOffset GROUP BY 1),
    negc AS (
      SELECT i AS a, j AS b, cos FROM cand WHERE cos < $NearDupCos
      UNION ALL
      SELECT j AS a, i AS b, cos FROM cand WHERE cos < $NearDupCos),
    sel AS (
      SELECT an.anchor_id, an.pos_id, n.b, n.cos,
        row_number() OVER (PARTITION BY an.anchor_id
          ORDER BY n.cos DESC, n.b ASC) AS rn
      FROM anchors an JOIN negc n ON n.a = an.anchor_id
      WHERE n.b < $SeedIdOffset)
    SELECT anchor_id, pos_id, b AS hard_neg_id, cos AS neg_cos
    FROM sel WHERE rn = 1"""

  /** Semantic decontamination — the embedding-space twin of the n-gram
    * [[decontaminate]]: corpus vectors cosine-close (≥ [[NearDupCos]]) to
    * ANY benchmark vector are flagged as eval leakage. The benchmark here
    * is the [[NearDupSeeds]] perturbed clones (cos→1 with their corpus
    * sources — exactly the "benchmark item leaked into the crawl" shape);
    * in production it is the eval suite's embeddings.
    *
    * Scale shape: benchmarks are SMALL (thousands of rows at 100 TB), so
    * the bench bucket table BROADCASTS and the corpus joins it on the LSH
    * bucket key without ever shuffling; the verdict join is another
    * broadcast (hit ids ≤ corpus). The corpus is scanned once, narrow,
    * exactly like the n-gram decontaminate — no pair shuffle anywhere. */
  def semDecontaminate(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
    val bench = base.filter(col("vec_id") < NearDupSeeds).select(
      col("vec_id").as("bench_id"),
      transform(col("embedding"),
        (x, k) => x * (lit(1d) + lit(0.0005) * (k % 5 - lit(2)).cast(DoubleType)))
        .as("b_embedding"))
      .withColumn("bucket", Similarity.lshBucket(col("b_embedding"), NearDupPlanes))
    val hits = base
      .withColumn("bucket", Similarity.lshBucket(col("embedding"), NearDupPlanes))
      .join(broadcast(bench), "bucket")
      .filter(TextOps.quant(
        Similarity.cosine(col("embedding"), col("b_embedding")), 4) >= NearDupCos)
      .select(col("vec_id")).distinct()
    base.select(col("vec_id"))
      .join(broadcast(hits.withColumn("hit", lit(1))), Seq("vec_id"), "left")
      .select(col("vec_id"), col("hit").isNull.as("kept"))
  }

  private val semDecontaminateOracle = s"""
    WITH base AS (
      SELECT vec_id, list_transform(range(1, 65), k -> embedding[k]::DOUBLE) AS embedding
      FROM embeddings),
    bench AS (
      SELECT vec_id AS bench_id,
        list_transform(range(1, 65), k -> embedding[k]::DOUBLE * (1.0 + 0.0005 * ((k - 1) % 5 - 2))) AS b_embedding
      FROM embeddings WHERE vec_id < $NearDupSeeds),
    bb AS (SELECT bench_id, b_embedding,
             ${bucketSql("b_embedding", NearDupPlanes)} AS bucket FROM bench),
    cb AS (SELECT vec_id, embedding,
             ${bucketSql("embedding", NearDupPlanes)} AS bucket FROM base),
    hits AS (
      SELECT DISTINCT cb.vec_id
      FROM cb JOIN bb ON cb.bucket = bb.bucket
      WHERE ${qSql(cosineSql("cb.embedding", "bb.b_embedding"), 4)} >= $NearDupCos)
    SELECT base.vec_id, (hits.vec_id IS NULL) AS kept
    FROM base LEFT JOIN hits ON hits.vec_id = base.vec_id"""

  private val PcaDim = 64       // driver corpus embedding dimension
  private val PcaIters = 6      // power-iteration rounds (fixed, replayed by the oracle)

  /** Top-principal-component projection by POWER ITERATION — the spectral
    * member of the embedding-analysis family (beside Lloyd k-means and the
    * PQ codebooks): scores every vector by its coordinate along the
    * corpus's dominant variance direction (the axis outlier filters and
    * whitening passes use first).
    *
    * Scale shape: one narrow scan builds the dim² second-moment matrix
    * (per-row outer products folded by a map-side-combinable sum — the
    * input is never joined to itself row-by-row and never leaves its
    * partition before partial aggregation); the 64×64 matrix is a bounded
    * model pull to the driver (like the k-means centroid and PQ codebook
    * pulls), the iterations run on the driver in microseconds, and the
    * projection is one more narrow pass with the learned vector broadcast
    * as a literal. At a larger dim the outer-product fold becomes a native
    * codegen'd expression; the plan shape is unchanged.
    *
    * Cross-engine determinism (the oracle replays ALL of it): inputs
    * quantize to 1e-6 integers, second moments and every matrix-vector
    * product are EXACT int64 sums (order-free — no float accumulation
    * anywhere), and the two unavoidable float steps (covariance combine,
    * L∞ normalization) are single expressions evaluated in the same
    * operation order on identical inputs, then re-quantized to integers.
    * Sign is pinned by the fixed all-ones start vector. */
  def pcaProject(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 1e6 + 0.5)).as("xq"))
      .persist() // moment pass + mean pass + projection pass
    val prods = emb.select(col("vec_id"),
      flatten(transform(col("xq"), a => transform(col("xq"), b => a * b))).as("pp"))
    val sxy = prods.select(posexplode(col("pp")).as(Seq("jk", "v")))
      .groupBy("jk").agg(sum(col("v")).as("sxy"))
    val sx = emb.select(posexplode(col("xq")).as(Seq("j", "x")))
      .groupBy("j").agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    // bounded model pull: exactly dim² + dim rows, like the kmeans pull
    val sxyM = sxy.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sxA = new Array[Long](PcaDim); var n = 0L
    sx.collect().foreach { r => sxA(r.getInt(0)) = r.getLong(1); n = r.getLong(2) }
    val ci = Array.tabulate(PcaDim, PcaDim) { (j, k) =>
      // c is in quantized-input units (×1e12 of the real covariance);
      // ×1e-4 keeps |ci|·|vi|·dim safely inside int64 while retaining
      // 1e-8-of-real resolution — the iteration only needs the direction
      val c = sxyM(j * PcaDim + k).toDouble / n -
        (sxA(j).toDouble / n) * (sxA(k).toDouble / n)
      math.floor(c * 1e-4 + 0.5).toLong
    }
    var v = Array.fill(PcaDim)(1000000L)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(PcaDim)(j =>
        (0 until PcaDim).map(k => ci(j)(k) * v(k)).sum) // exact int64
      val m = w.map(math.abs).max
      v = w.map(wj => math.floor((wj.toDouble / m.toDouble) * 1e6 + 0.5).toLong)
    }
    val mvnum = (0 until PcaDim).map(j => sxA(j) * v(j)).sum
    val vLit = array(v.map(lit(_)): _*)
    emb.select(col("vec_id"),
      TextOps.quant(
        (aggregate(zip_with(col("xq"), vLit, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast(DoubleType)
          - lit(mvnum.toDouble / n)) / lit(1e12), 6).as("pc1"))
  }

  private lazy val pcaOracle = {
    def iter(t: Int) = s"""
    w$t AS (SELECT c.j, CAST(SUM(c.ci * v.vi) AS BIGINT) AS w
            FROM covi c JOIN v${t - 1} v ON v.k = c.k GROUP BY 1),
    m$t AS (SELECT MAX(ABS(w)) AS m FROM w$t),
    v$t AS (SELECT w$t.j AS k,
              CAST(floor((w::DOUBLE / m::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vi
            FROM w$t, m$t)"""
    s"""
    WITH xq AS MATERIALIZED (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
             CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS x
      FROM embeddings),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    sx AS MATERIALIZED (
      SELECT j, CAST(SUM(x) AS BIGINT) AS sx FROM xq GROUP BY j),
    sxy AS (
      SELECT a.j AS j, b.j AS k, CAST(SUM(a.x * b.x) AS BIGINT) AS sxy
      FROM xq a JOIN xq b USING (vec_id) GROUP BY 1, 2),
    covi AS MATERIALIZED (
      SELECT sxy.j, sxy.k,
        CAST(floor(((sxy::DOUBLE / n) - (sa.sx::DOUBLE / n) * (sb.sx::DOUBLE / n))
                   * 0.0001 + 0.5) AS BIGINT) AS ci
      FROM sxy JOIN sx sa ON sa.j = sxy.j JOIN sx sb ON sb.j = sxy.k, nn),
    v0 AS (SELECT j AS k, CAST(1000000 AS BIGINT) AS vi FROM range(0, $PcaDim) t(j)),
    ${(1 to PcaIters).map(iter).mkString(",")},
    mv AS (SELECT CAST(SUM(sx.sx * v.vi) AS BIGINT) AS mvnum
           FROM sx JOIN v$PcaIters v ON v.k = sx.j),
    p AS (SELECT xq.vec_id, CAST(SUM(xq.x * v.vi) AS BIGINT) AS pq
          FROM xq JOIN v$PcaIters v ON v.k = xq.j GROUP BY 1)
    SELECT p.vec_id,
      ${qSql("(pq::DOUBLE - mvnum::DOUBLE / n) / 1000000000000.0", 6)} AS pc1
    FROM p, mv, nn"""
  }

  private val KmeansCentroids = 32

  /** One k-means Lloyd step over the corpus embeddings (deterministic
    * data-vector seeds, like [[annIvf]]'s cells): assignment via broadcast
    * argmax, centroid update via a decimal-exact (cluster, dim) aggregate.
    * Output = the updated centroids as flat per-dim rows. */
  def kmeans(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.kmeansStep(emb, emb.filter(col("vec_id") < KmeansCentroids))
  }

  private val kmeansOracle = s"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
      WHERE vec_id < $KmeansCentroids),
    asg AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${qSql(cosineSql("e.embedding", "c.cent"), 6)} DESC,
                     c.cent_id ASC) AS cr
        FROM embeddings e CROSS JOIN cents c) t
      WHERE cr = 1),
    exploded AS (
      SELECT cent_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM asg)
    SELECT cent_id, dim,
      ${qSql(s"SUM(CAST(${qSql("v", 6)} AS DECIMAL(28,8)))::DOUBLE / count(*)", 4)} AS mean_q,
      count(*) AS n_members
    FROM exploded GROUP BY 1, 2"""

  /** SemDeDup-style semantic dedup: embedding near-dup pairs (LSH-bucketed
    * cosine, [[embedNearDup]]) → connected components → keep the minimum id
    * per component. Pairwise removal alone would over-keep: of (a,b),(b,c)
    * it keeps a AND c even when all three are mutual near-dups. Output is
    * the cluster assignment + keep flag for every vector that participated
    * in a pair (vectors in no pair survive by definition). */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupFrom(embedNearDup(s, d))

  /** Pair set → [[NearDup.components]] → (vec_id, cluster_id, kept) — ONE
    * body for the single-bucket and banded forms. */
  private def semDedupFrom(pairs: DataFrame): DataFrame =
    NearDup.components(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("kept"))

  private val NegsPerAnchor = 3

  /** Contrastive training pairs for embedding models: every document with a
    * semantic near-duplicate becomes an ANCHOR, its smallest-id near-dup is
    * the POSITIVE, and `NegsPerAnchor` deterministic hash-drawn corpus
    * vectors are the NEGATIVES (a draw colliding with the anchor or the
    * positive is dropped, not re-drawn — the emitted set stays a pure
    * function of the corpus). In-batch/random negatives are the standard
    * recipe (SimCLR/DPR); hard-negative mining composes by swapping the
    * hash draw for an [[Similarity.lshTopK]] candidate set.
    *
    * Scale shape: positives ride the bucketed near-dup pair pipeline (never
    * all-pairs); negatives are a narrow per-anchor explode of `k` hash
    * draws — no join against the corpus at all; the corpus size is one
    * control-plane count. */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).count() // control-plane: the id space
    val anchors = embedNearDup(s, d)
      .filter(col("i") < lit(SeedIdOffset)) // anchors are REAL corpus vectors
      .groupBy(col("i").as("anchor_id"))
      .agg(min(col("j")).as("pos_id"))
    anchors.select(col("anchor_id"), col("pos_id"),
        explode(array((1 to NegsPerAnchor).map(lit(_)): _*)).as("neg_rank"))
      .withColumn("neg_id",
        TextOps.hash60(concat(col("anchor_id").cast(StringType), lit(":neg:"),
          col("neg_rank").cast(StringType))) % lit(n))
      .filter(col("neg_id") =!= col("anchor_id") && col("neg_id") =!= col("pos_id"))
  }

  private val contrastiveOracle = s"""
    WITH pairs AS (SELECT i, j FROM ($embedNearDupOracle) q),
    anchors AS (
      SELECT i AS anchor_id, min(j) AS pos_id FROM pairs
      WHERE i < $SeedIdOffset GROUP BY 1),
    drawn AS (
      SELECT anchor_id, pos_id, n AS neg_rank,
        ${hashSql("anchor_id::VARCHAR || ':neg:' || n::VARCHAR")}
          % (SELECT count(*) FROM embeddings) AS neg_id
      FROM anchors, unnest([${(1 to NegsPerAnchor).mkString(", ")}]) AS u(n))
    SELECT anchor_id, pos_id, neg_rank, neg_id FROM drawn
    WHERE neg_id <> anchor_id AND neg_id <> pos_id"""

  /** Shared semdedup component-walk oracle over ANY pair SQL — the
    * embedding twin of [[ccReachSql]]: a fix to the walk must reach the
    * single-bucket and banded forms at once. */
  private def semDedupCcSql(pairsSql: String): String = s"""
    WITH RECURSIVE
    pairs AS MATERIALIZED (SELECT i, j FROM ($pairsSql) q),
    nodes AS (SELECT i AS n FROM pairs UNION SELECT j FROM pairs),
    edges AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
    reach(node, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.node, e.j FROM reach r JOIN edges e ON e.i = r.m)
    SELECT node AS vec_id, min(m) AS cluster_id, node = min(m) AS kept
    FROM reach GROUP BY node"""

  private val semDedupOracle = semDedupCcSql(embedNearDupOracle)

  /** [[semDedup]] riding the BANDED pair set — the 100 TB composition for
    * embedding space, like `llm_dedup_cluster_wide` is for simhash: the
    * high-recall banded candidates feed the SAME clustering machinery
    * (driver union-find ⇄ checkpointed label propagation), so a
    * corpus-scale semantic dedup never has to trade recall for bucket
    * thinness to get components. */
  def semDedupBanded(s: SparkSession, d: String): DataFrame =
    semDedupFrom(embedNearDupBanded(s, d))

  private val semDedupBandedOracle = semDedupCcSql(embedNearDupBandedOracle)

  // ---- the composed training-data pipeline ------------------------------

  private val PipelineQuality = 0.3

  /** The end-to-end corpus-cleaning pipeline — what the operators exist
    * FOR, composed: quality score → language filter → exact dedup →
    * MinHash-LSH near-dup removal (higher doc_id of each verified pair
    * drops). Every stage is the same operator the standalone queries use;
    * the oracle recomputes the whole chain independently. Output: the
    * surviving corpus inventory. */
  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val enriched = enrich(Tables.documents(s, d))
      .select(col("doc_id"), col("text"), col("quality"),
        col("lang_guess").as("lang"))
    dedupChain(enriched.filter(
      col("quality") >= PipelineQuality && col("lang") === "en"))
  }

  /** The dedup half of [[cleanCorpus]] over an already-filtered
    * (doc_id, text, quality, lang) frame: exact-hash dedup FIRST, then
    * MinHash-LSH banding over the survivors only. The ORDERING is the
    * 100 TB defense against giant identical-text cliques — an N-doc
    * boilerplate clique collapses losslessly to one representative (with
    * `dup_count` = N) before any band bucket can inherit its C(N,2)
    * candidate pairs; SkewStressSpec plants exactly that clique and pins
    * the candidate volume. Driveable with synthetic corpora. */
  private[queries] def dedupChain(kept: DataFrame): DataFrame = {
    // persist: the survivors feed minhashPairs TWICE (signature branch +
    // shingle-verify branch) and the final anti-join — without this the
    // whole tokenize→quality→window-dedup chain re-runs three times
    val exact = Dedup.exact(kept, Seq("text"), "doc_id").persist()
    val losers = NearDup.minhashPairs(exact.select("doc_id", "text"))
      .select(col("j").as("doc_id")).distinct()
    exact.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "quality", "lang", "dup_count")
  }

  private val cleanCorpusOracle = {
    val en = TextOps.LangStopwords.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    val scoreDefs = TextOps.LangStopwords.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(sp, t -> list_contains($arr, t)))::BIGINT AS s_$l"
    }.mkString(",\n        ")
    val langs = TextOps.LangStopwords.map(_._1)
    val caseExpr = langs.init.zipWithIndex.foldRight(s"'${langs.last}'") {
      case ((l, i), elseC) =>
        val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN $conds THEN '$l' ELSE $elseC END"
    }
    val sigDefs = (0 until NumHashes).map(i => s"${minhashSql("hs", i)} AS s$i").mkString(",\n        ")
    val bandRows = (0 until NumBands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS key FROM sigs"
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH feats AS (
      SELECT doc_id, text,
        ${qSql("least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - least(punct * 5, 1.0)) * 0.3 + least(stop * 3, 1.0) * 0.3", 4)} AS quality,
        $caseExpr AS lang
      FROM (
        SELECT doc_id, text,
          len(sp)::BIGINT AS n_tokens,
          len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE / length(text) AS punct,
          len(list_filter(sp, t -> list_contains($en, t)))::DOUBLE / len(sp) AS stop,
          $scoreDefs
        FROM (SELECT doc_id, text, $toksSql AS sp FROM documents) t) tt),
    kept AS (
      SELECT * FROM feats WHERE quality >= $PipelineQuality AND lang = 'en'),
    exact AS (
      SELECT doc_id, text, quality, lang, dup_count FROM (
        SELECT *, count(*) OVER (PARTITION BY text) AS dup_count,
               row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
        FROM kept) t WHERE rn = 1),
    hsrc AS (
      SELECT doc_id, list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")}) AS hs
      FROM exact),
    sigs AS (
      SELECT doc_id,
        $sigDefs
      FROM hsrc),
    bands AS (
      $bandRows),
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    sh AS (
      SELECT doc_id, unnest(list_transform(${shinglesSql(toksSql, 3)}, x -> ${hashSql("x")})) AS s FROM exact),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      JOIN cands c ON c.i = a.doc_id AND c.j = b.doc_id
      GROUP BY 1, 2),
    losers AS (
      SELECT DISTINCT j FROM pairs
      JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      WHERE ${qSql("inter * 1.0 / (sa.n + sb.n - inter)", 3)} >= $JaccardThreshold)
    SELECT doc_id, quality, lang, dup_count FROM exact
    WHERE doc_id NOT IN (SELECT j FROM losers)"""
  }

  // ---- vocabulary encoding ----------------------------------------------

  private val EncodeVocabK = 100

  /** Materialize training tokens: every (doc, position) encoded against the
    * corpus's own top-K vocabulary, out-of-vocabulary → id 0 — the step that
    * turns a selected corpus into model input. The vocabulary is a
    * CONTROL-PLANE artifact: K rows collected once on the driver (a
    * TakeOrdered, not a global sort), ids assigned there, broadcast back —
    * so the token stream itself is one narrow explode + one broadcast join,
    * scanned exactly once. A window-over-everything id assignment would be
    * the banned single-partition sort. */
  def encode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE tokenize+explode serves both the vocab pass and the output pass
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
      .persist()
    val top = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(EncodeVocabK)
      .collect().map(_.getString(0))
    val vocab = top.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
      .toSeq.toDF("token", "vid")
    toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        coalesce(col("vid"), lit(0L)).as("token_id"))
  }

  private val encodeOracle = s"""
    WITH tok AS (
      SELECT doc_id, unnest(sp) AS token,
             generate_subscripts(sp, 1)::BIGINT - 1 AS pos
      FROM (SELECT doc_id, $toksSql AS sp FROM documents) t),
    vocab AS (
      SELECT token, row_number() OVER (ORDER BY freq DESC, token ASC) AS vid
      FROM (SELECT token, count(*) AS freq FROM tok GROUP BY 1
            ORDER BY freq DESC, token ASC LIMIT $EncodeVocabK) v)
    SELECT doc_id, pos, COALESCE(vid, 0) AS token_id
    FROM tok LEFT JOIN vocab USING (token)"""

  // ---- span corruption (denoising objectives) ---------------------------

  private val ScBlock = 20 // block size: one masked span per block
  private val ScSpan = 3   // span length → 3/20 = 15% masked, T5's rate
  private val ScStartMod = 18 // span start offset ∈ [0, 18): span fits the block

  /** T5-style span corruption (Raffel et al. 2020): turn each document into
    * a (input, target) denoising pair — contiguous token spans replaced by
    * per-span sentinels in the input, and the target listing each sentinel
    * with its original tokens. Spans are DETERMINISTIC: positions partition
    * into fixed [[ScBlock]]-token blocks and each block masks the
    * [[ScSpan]]-token span starting at hash60(doc:block:sc) mod
    * [[ScStartMod]] — non-overlapping by construction, exactly 15% of full
    * blocks, no rand(), reproducible under any partitioning (the i.i.d.
    * masking of the paper, derandomized the same way the split/sample
    * gates are).
    *
    * Scale shape: one narrow posexplode + in-row mask arithmetic, then ONE
    * doc-keyed aggregate whose per-group state is the document's own
    * tokens; both output strings derive from a single materialized sorted
    * array (two lambda traversals of a MATERIALIZED column — the
    * interpreted-lambda rule). */
  def spanCorrupt(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
      .withColumn("block", expr(s"pos div $ScBlock"))
      .withColumn("soff",
        TextOps.hash60(concat(col("doc_id").cast(StringType), lit(":"),
          col("block").cast(StringType), lit(":sc"))) % lit(ScStartMod.toLong))
      .withColumn("rel", col("pos") % lit(ScBlock))
      .withColumn("masked",
        col("rel") >= col("soff") && col("rel") < col("soff") + lit(ScSpan))
      .withColumn("start", col("rel") === col("soff"))
    tk.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(
        col("pos"), col("token"), col("masked"), col("start"), col("block"))))
        .as("arr"))
      .select(col("doc_id"),
        concat_ws(" ", filter(transform(col("arr"), e =>
          when(e.getField("start"),
            concat(lit("<X_"), e.getField("block").cast(StringType), lit(">")))
            .when(e.getField("masked"), lit(null))
            .otherwise(e.getField("token"))), x => x.isNotNull)).as("input_text"),
        concat_ws(" ", filter(transform(col("arr"), e =>
          when(e.getField("start"),
            concat(lit("<X_"), e.getField("block").cast(StringType), lit("> "),
              e.getField("token")))
            .when(e.getField("masked"), e.getField("token"))
            .otherwise(lit(null))), x => x.isNotNull)).as("target_text"))
  }

  private val spanCorruptOracle = s"""
    WITH tok AS (
      SELECT doc_id, unnest(sp) AS token,
             generate_subscripts(sp, 1)::BIGINT - 1 AS pos
      FROM (SELECT doc_id, $toksSql AS sp FROM documents) t),
    f AS (
      SELECT doc_id, pos, token, block,
        (rel >= soff AND rel < soff + $ScSpan) AS masked,
        (rel = soff) AS start
      FROM (
        SELECT doc_id, pos, token, pos // $ScBlock AS block,
          ${hashSql(s"doc_id::VARCHAR || ':' || (pos // $ScBlock)::VARCHAR || ':sc'")}
            % $ScStartMod AS soff,
          pos % $ScBlock AS rel
        FROM tok) m)
    SELECT doc_id,
      COALESCE(string_agg(CASE WHEN start THEN '<X_' || block || '>'
                               WHEN masked THEN NULL ELSE token END,
                          ' ' ORDER BY pos), '') AS input_text,
      COALESCE(string_agg(CASE WHEN start THEN '<X_' || block || '> ' || token
                               WHEN masked THEN token ELSE NULL END,
                          ' ' ORDER BY pos), '') AS target_text
    FROM f GROUP BY doc_id"""

  /** THE shared quality/language enrichment — single source of truth for
    * every query that gates or ranks on document quality (clean_corpus,
    * build, curriculum, rank_fusion). Adds `n_tokens`, `quality`, and
    * `lang_guess` (the table's own `lang` column, where present, is
    * untouched); all language scores come from ONE LangHits traversal of a
    * bound token column. Editing the quality formula or the language
    * inventory here changes every consumer at once — the six hand-copied
    * variants this replaces could silently diverge. */
  private[queries] def enrich(docs: DataFrame): DataFrame = {
    val n = size(col("__toks"))
    val punct = TextOps.punctRatio(col("text"))
    val stop = element_at(col("__hits"), 1).cast(DoubleType) / n
    val scores = TextOps.LangStopwords.zipWithIndex.map { case ((l, _), i) =>
      l -> element_at(col("__hits"), i + 1)
    }
    docs
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__hits", TextOps.langHits(col("__toks")))
      .withColumn("n_tokens", n.cast(LongType))
      .withColumn("quality", TextOps.qualityScore(n, punct, stop))
      .withColumn("lang_guess", TextOps.langId(scores))
      .drop("__toks", "__hits")
  }

  // ---- the full selection-and-mixing build ------------------------------

  /** The flagship end-to-end BUILD: every selection/mixing stage chained in
    * production order over one corpus —
    *   quality+language gate → exact dedup → benchmark decontamination →
    *   domain-mix resampling → train/val/test split → sequence packing —
    * each stage the same library operator its standalone query drives, the
    * oracle one independent SQL recomputation of the whole chain. Where
    * [[cleanCorpus]] proves the dedup family composes, this proves the
    * SELECTION family does: what ships is (doc, source, split, seq) — the
    * manifest a trainer reads.
    *
    * Scale posture: the gates are narrow; dedup is one content-hash
    * shuffle; decontamination broadcasts the benchmark n-gram set; the
    * mixture model is a |sources|-row broadcast; packing windows per
    * source shard. Nothing global-sorts and nothing pair-joins. */
  def build(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val bench = all.filter(col("doc_id") % 50 === 0)
    val corpus = all.filter(col("doc_id") % 50 =!= 0)
    val kept = enrich(corpus)
      .select(col("doc_id"), col("text"), col("source"), col("n_tokens"),
        col("quality"), col("lang_guess").as("lang"))
      .filter(col("quality") >= PipelineQuality && col("lang") === "en")
    // survivors feed the decontamination probe AND the final anti-join —
    // persist so the enrichment+window chain runs once
    val exact = Dedup.exact(kept, Seq("text"), "doc_id").persist()
    val decon = Corpus.decontaminate(exact, bench, 3).persist()
    val per = decon.groupBy("source").agg(sum(col("n_tokens")).as("src_tokens"))
    val tot = per.agg(sum(col("src_tokens")).as("total"), count(lit(1)).as("n_sources"))
    val rates = per.crossJoin(broadcast(tot)).select(col("source"),
      SketchOps.perMilleFromWeight(
        TextOps.quant(col("total") * lit(1.0) / (col("n_sources") * col("src_tokens")), 6))
        .as("per_mille"))
    val sampled = decon.join(broadcast(rates), "source")
      .filter(SketchOps.resampleGate(col("doc_id"), col("per_mille")))
    // pack offset: bucketed two-level prefix sum, not a per-source cumsum
    // window (graft.ops.PrefixSum — nothing sorts more than one doc_id
    // bucket). Its two input scans re-run only the broadcast
    // rate-join + gate over the PERSISTED decon frame.
    graft.ops.PrefixSum.running(sampled, Seq("source"),
        graft.ops.PrefixSum.idBucket(col("doc_id")),
        Seq(col("doc_id").asc), col("n_tokens"), "__cum", inclusive = false)
      .withColumn("split", Corpus.splitAssign(SplitFences))
      .withColumn("seq_id",
        col("__cum").divide(PackTokens).cast(LongType))
      .select("doc_id", "source", "quality", "split", "n_tokens", "seq_id")
  }

  // lazy: interpolates SplitFences/PackTokens, declared further down the file
  private lazy val buildOracle = {
    val en = TextOps.LangStopwords.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    val scoreDefs = TextOps.LangStopwords.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(sp, t -> list_contains($arr, t)))::BIGINT AS s_$l"
    }.mkString(",\n        ")
    val langs = TextOps.LangStopwords.map(_._1)
    val caseExpr = langs.init.zipWithIndex.foldRight(s"'${langs.last}'") {
      case ((l, i), elseC) =>
        val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN $conds THEN '$l' ELSE $elseC END"
    }
    val sortedFences = SplitFences.sortBy(_._2)
    val splitArms = sortedFences.init.map { case (n, f) => s"WHEN sb < $f THEN '$n'" }
      .mkString(" ")
    s"""
    WITH feats AS (
      SELECT doc_id, text, source, n_tokens,
        ${qSql("least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - least(punct * 5, 1.0)) * 0.3 + least(stop * 3, 1.0) * 0.3", 4)} AS quality,
        $caseExpr AS lang
      FROM (
        SELECT doc_id, text, source,
          len(sp)::BIGINT AS n_tokens,
          len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE / length(text) AS punct,
          len(list_filter(sp, t -> list_contains($en, t)))::DOUBLE / len(sp) AS stop,
          $scoreDefs
        FROM (SELECT doc_id, text, source, $toksSql AS sp FROM documents
              WHERE doc_id % 50 <> 0) t) tt),
    kept AS (
      SELECT * FROM feats WHERE quality >= $PipelineQuality AND lang = 'en'),
    exact AS (
      SELECT doc_id, text, source, n_tokens, quality FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
        FROM kept) t WHERE rn = 1),
    bgrams AS (
      SELECT DISTINCT unnest(${shinglesSql(toksSql, 3)}) AS g
      FROM documents WHERE doc_id % 50 = 0),
    tsh AS (
      SELECT doc_id, unnest(${shinglesSql(toksSql, 3)}) AS g FROM exact),
    contam AS (SELECT DISTINCT t.doc_id FROM tsh t JOIN bgrams b ON t.g = b.g),
    decon AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    per AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
            FROM decon GROUP BY 1),
    tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total, count(*) AS n_sources
            FROM per),
    rates AS (
      SELECT source,
        least(greatest(CAST(floor(${qSql("total * 1.0 / (n_sources * src_tokens)", 6)} * 300) AS BIGINT), 1), 1000) AS per_mille
      FROM per, tot),
    sampled AS (
      SELECT d.doc_id, d.source, d.quality, d.n_tokens
      FROM decon d JOIN rates USING (source)
      WHERE ${hashSql("d.doc_id::VARCHAR || ':resample'")} % 1000 < per_mille),
    packed AS (
      SELECT doc_id, source, quality, n_tokens,
        ${hashSql("doc_id::VARCHAR || ':split'")} % 1000 AS sb,
        CAST(COALESCE(SUM(n_tokens) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackTokens
          AS BIGINT) AS seq_id
      FROM sampled)
    SELECT doc_id, source, quality,
      CASE $splitArms ELSE '${sortedFences.last._1}' END AS split,
      n_tokens, seq_id
    FROM packed"""
  }

  // ---- multimodal -------------------------------------------------------

  /** Binary media plumbing: text bytes stand in for opaque payloads; decode
    * is stubbed deterministically, the Dataset/mapPartitions shape is real. */
  def mmFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.fromText(Tables.documents(s, d), "doc_id", "text")).toDF()

  private val mmOracle = """
    SELECT doc_id,
      octet_length(encode(text))::BIGINT AS n_bytes,
      (octet_length(encode(text)) % 640)::BIGINT AS width,
      (octet_length(encode(text)) % 480)::BIGINT AS height,
      (1 + octet_length(encode(text)) % 10)::BIGINT AS n_frames,
      md5(text) AS checksum
    FROM documents"""

  /** Perceptual blockhash over the binary payload: 8 equal byte spans, bit
    * set where the span's byte mass beats the payload mean — integer-exact
    * (cross-multiplied), so the oracle mirrors it bit-for-bit; docs are
    * ASCII so `ord(substr(...))` IS the byte. Near-identical payloads stay
    * Hamming-close → downstream dedup reuses the SimHash band shape. */
  def mmBlockhash(s: SparkSession, d: String): DataFrame =
    Multimodal.blockHash(
      Multimodal.fromText(
        // empty payloads carry no signal and the oracle drops them — match
        Tables.documents(s, d).filter(length(col("text")) > 0),
        "doc_id", "text")).toDF()

  private val mmBlockhashOracle = """
    WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    by AS (SELECT doc_id, n, ((i - 1) * 8) // n AS k, ord(substr(text, i, 1)) AS v
           FROM b, LATERAL UNNEST(generate_series(1, n)) AS u(i)),
    blk AS (SELECT doc_id, n, k, CAST(sum(v) AS BIGINT) AS s_k, count(*) AS c_k
            FROM by GROUP BY 1, 2, 3),
    tot AS (SELECT doc_id, CAST(sum(s_k) AS BIGINT) AS s FROM blk GROUP BY 1)
    SELECT blk.doc_id,
      CAST(SUM(CASE WHEN s_k * n > s * c_k THEN 1::BIGINT << k ELSE 0 END) AS BIGINT) AS blockhash,
      CAST(max(n) AS BIGINT) AS n_bytes
    FROM blk JOIN tot USING (doc_id) GROUP BY 1"""

  /** DCT perceptual hash over the media seam — see
    * [[graft.llm.Multimodal.phash]]. Oracle replays byte→block means via
    * `ord(substr(...))` (docs are ASCII so char codes are byte values), the
    * quantized DCT basis rides as a 240-row VALUES literal generated from
    * the SAME Scala constants, per-term products quantize to 9dp, and the
    * coefficient is an exact DECIMAL sum — the sign bits cannot drift. */
  def mmPhash(s: SparkSession, d: String): DataFrame =
    Multimodal.phash(
      Multimodal.fromText(
        Tables.documents(s, d).filter(length(col("text")) > 0),
        "doc_id", "text")).toDF()

  private lazy val mmPhashOracle = {
    val b = Multimodal.PhashBlocks
    val cosRows = (for {
      j <- 1 until b; k <- 0 until b
    } yield s"($j, $k, ${BigDecimal(Multimodal.dctCosQ(j)(k))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString})")
      .mkString(",\n        ")
    s"""
    WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    by AS (SELECT doc_id, n, ((i - 1) * $b) // n AS k, ord(substr(text, i, 1)) AS v
           FROM b, LATERAL UNNEST(generate_series(1, n)) AS u(i)),
    blk AS (SELECT doc_id, n, k, CAST(sum(v) AS BIGINT) AS s_k, count(*) AS c_k
            FROM by GROUP BY 1, 2, 3),
    cosq(j, k, coef) AS (VALUES
        $cosRows),
    terms AS (
      SELECT blk.doc_id, cosq.j,
             ${qSql("cosq.coef * (s_k * 1.0 / c_k)", 9)} AS t
      FROM blk JOIN cosq ON cosq.k = blk.k),
    coefs AS (
      SELECT doc_id, j, SUM(CAST(t AS DECIMAL(28,9))) AS c
      FROM terms GROUP BY 1, 2)
    SELECT coefs.doc_id,
      CAST(SUM(CASE WHEN c > 0 THEN 1::BIGINT << (j - 1) ELSE 0 END) AS BIGINT) AS phash,
      CAST(any_value(n2.n) AS BIGINT) AS n_bytes
    FROM coefs JOIN (SELECT doc_id, n FROM b) n2 USING (doc_id)
    GROUP BY 1"""
  }

  /** Frame sampling: every 3rd fixed-size frame record per payload —
    * fan-out plumbing with content-exact verification (the docs are ASCII,
    * so byte slices mirror to substr in the oracle). */
  def mmFrameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.fromText(Tables.documents(s, d), "doc_id", "text"),
        stride = 3, frameBytes = 64)
      .toDF()
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast(LongType).as("frame_len"),
        md5(col("frame")).as("frame_md5"))

  private val mmFrameOracle = """
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS n, text FROM documents),
    idx AS (
      SELECT doc_id, n, text,
             unnest(range(0, greatest(1, n // 64), 3)) AS frame_idx
      FROM f)
    SELECT doc_id, frame_idx,
      octet_length(encode(substr(text, (frame_idx * 64 + 1)::INT, 64)))::BIGINT AS frame_len,
      md5(substr(text, (frame_idx * 64 + 1)::INT, 64)) AS frame_md5
    FROM idx"""

  /** Resize plumbing: per-partition batch pass, one codec init per
    * partition; geometry + byte budget + content checksum verified (budget
    * 20 ≤ the shortest doc, so the stub never pads and the oracle mirrors
    * a pure prefix). */
  def mmResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resize(
        Multimodal.fromText(Tables.documents(s, d), "doc_id", "text"), 32, 32)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        length(col("resized")).cast(LongType).as("n_bytes"),
        md5(col("resized")).as("checksum"))

  private val mmResizeOracle = """
    SELECT doc_id, 32::BIGINT AS width, 32::BIGINT AS height,
      octet_length(encode(substr(text, 1, 20)))::BIGINT AS n_bytes,
      md5(substr(text, 1, 20)) AS checksum
    FROM documents"""

  // ---- multimodal near-dup ---------------------------------------------

  /** Multimodal near-dup: [[Multimodal.imageDedup]] over the 48-bit
    * perceptual blockhash — band collision proposes, full-hash Hamming
    * distance (≤ 6) verifies, over-hot band keys drop. With a real image
    * codec the fingerprint becomes a DCT phash; every plan shape downstream
    * of the hash is unchanged. */
  def mmDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.imageDedup(Multimodal.blockHash(
        Multimodal.fromText(
          Tables.documents(s, d).filter(length(col("text")) > 0),
          "doc_id", "text"),
        blocks = MmBits).toDF())

  /** The image dedup oracle after its `b`/`by` raster CTEs: blockhash →
    * 12-bit bands → df cap → candidates → Hamming. One text for the stub
    * and the real-decode query, like [[ccReachSql]]. */
  private def mmDedupSql(rasterCtes: String): String = {
    val bandArms = (0 until MmBands).map(b =>
      s"SELECT doc_id, $b AS band, (h // ${1L << (b * MmBandBits)}) % ${1L << MmBandBits} AS key FROM bh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH $rasterCtes,
    blk AS (SELECT doc_id, n, k, CAST(sum(v) AS BIGINT) AS s_k, count(*) AS c_k
            FROM by GROUP BY 1, 2, 3),
    tot AS (SELECT doc_id, CAST(sum(s_k) AS BIGINT) AS s FROM blk GROUP BY 1),
    bh AS (SELECT blk.doc_id,
        CAST(SUM(CASE WHEN s_k * n > s * c_k THEN 1::BIGINT << k ELSE 0 END) AS BIGINT) AS h
      FROM blk JOIN tot USING (doc_id) GROUP BY 1),
    bands0 AS (
      $bandArms),
    bands AS (SELECT doc_id, band, key FROM (
        SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS df
        FROM bands0) t
      WHERE df <= $BandCap),
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT i, j, CAST(bit_count(xor(ha.h, hb.h)) AS BIGINT) AS hamming
    FROM cands JOIN bh ha ON ha.doc_id = i JOIN bh hb ON hb.doc_id = j
    WHERE bit_count(xor(ha.h, hb.h)) <= $MmHamming"""
  }

  private val mmDedupOracle = mmDedupSql(
    s"""b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    by AS (SELECT doc_id, n, ((i - 1) * $MmBits) // n AS k, ord(substr(text, i, 1)) AS v
           FROM b, LATERAL UNNEST(generate_series(1, n)) AS u(i))""")

  // ---- multimodal REAL decode (JDK ImageIO) -----------------------------

  private val MmRealW = 16
  private val MmRealH = 16

  /** Deterministic 16×16 grayscale raster from a doc's ASCII text — pixel i
    * is text byte (i mod n) — PNG-encoded via ImageIO into a REAL binary
    * payload. The raster rule is SQL-expressible, which is what lets the
    * oracle rebuild the exact pixels the PNG decode must recover. */
  /** The ONE text→payload bridge for the real-codec queries: non-empty
    * docs' UTF-8 bytes (ASCII by data contract, TablesSpec-guarded) handed
    * to a per-row payload builder on executors. The image, video, and
    * audio builders all go through here so the data-contract assumptions
    * live in exactly one place. */
  private def textBytesMedia(s: SparkSession, d: String, mime: String)(
      build: Array[Byte] => Array[Byte])
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    Tables.documents(s, d).filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          // every real-media oracle replays the raster/PCM as CODE POINTS
          // (ord(substr(text,…))) while this side cycles UTF-8 BYTES — the
          // two agree only for ASCII text. The driver regenerates testdata
          // between rounds: if text encoding ever drifts, fail HERE with
          // the diagnosis instead of going oracle-red across the family.
          require(bytes.length == text.length,
            s"non-ASCII document text (doc_id=$id): the real-media oracles " +
              "replay code points and would diverge from the byte raster")
          Multimodal.MediaRow(id, build(bytes), mime)
        }
      }
  }

  /** Byte-cycled raster: pixel i = byte (i + offset) mod n. */
  private def cycledRaster(bytes: Array[Byte], n: Int, offset: Int = 0): Array[Byte] =
    Array.tabulate(n)(i => bytes((i + offset) % bytes.length))

  private def mmRealMedia(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] =
    textBytesMedia(s, d, "image/png")(bytes =>
      Multimodal.encodeImage(MmRealW, MmRealH,
        cycledRaster(bytes, MmRealW * MmRealH)))

  /** Raster rebuild CTEs shared by the three real-decode oracles: `by` is
    * (doc_id, pixel index i in 0..255, byte value v) — exactly the
    * grayscale raster [[graft.llm.Multimodal.ImageIoDecoder]] recovers from
    * the PNG (gray PNG round-trips bit-exactly). */
  private def mmRealByCte(blocks: Int): String = s"""
    b AS (SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) > 0),
    by AS (SELECT doc_id, ${MmRealW * MmRealH} AS n,
                  (i * $blocks) // ${MmRealW * MmRealH} AS k,
                  ord(substr(text, ((i % b.n) + 1)::INT, 1)) AS v,
                  i
           FROM b, LATERAL UNNEST(generate_series(0, ${MmRealW * MmRealH} - 1)) AS u(i))"""

  /** REAL image features: render→PNG→ImageIO decode on executors; geometry
    * comes from the decoded header, the checksum from the decoded raster. */
  def mmFeaturesReal(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(mmRealMedia(s, d), Multimodal.ImageIoDecoder)
      .toDF().select("doc_id", "width", "height", "n_frames", "checksum")

  private val mmFeaturesRealOracle = s"""
    WITH ${mmRealByCte(1)}
    SELECT doc_id, ${MmRealW}::BIGINT AS width, ${MmRealH}::BIGINT AS height,
      1::BIGINT AS n_frames,
      md5(string_agg(chr(v), '' ORDER BY i)) AS checksum
    FROM by GROUP BY 1"""

  /** REAL decode perceptual hash: the same quantized-DCT [[mmPhash]] runs
    * over pixels a genuine PNG parse produced — the "documented stub"
    * caveat now covers only audio/video. */
  def mmPhashReal(s: SparkSession, d: String): DataFrame =
    Multimodal.phash(mmRealMedia(s, d), Multimodal.ImageIoDecoder).toDF()

  private lazy val mmPhashRealOracle = {
    val b = Multimodal.PhashBlocks
    val cosRows = (for {
      j <- 1 until b; k <- 0 until b
    } yield s"($j, $k, ${BigDecimal(Multimodal.dctCosQ(j)(k))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString})")
      .mkString(",\n        ")
    s"""
    WITH ${mmRealByCte(b)},
    blk AS (SELECT doc_id, n, k, CAST(sum(v) AS BIGINT) AS s_k, count(*) AS c_k
            FROM by GROUP BY 1, 2, 3),
    cosq(j, k, coef) AS (VALUES
        $cosRows),
    terms AS (
      SELECT blk.doc_id, cosq.j,
             ${qSql("cosq.coef * (s_k * 1.0 / c_k)", 9)} AS t
      FROM blk JOIN cosq ON cosq.k = blk.k),
    coefs AS (
      SELECT doc_id, j, SUM(CAST(t AS DECIMAL(28,9))) AS c
      FROM terms GROUP BY 1, 2)
    SELECT doc_id,
      CAST(SUM(CASE WHEN c > 0 THEN 1::BIGINT << (j - 1) ELSE 0 END) AS BIGINT) AS phash,
      ${MmRealW * MmRealH}::BIGINT AS n_bytes
    FROM coefs GROUP BY 1"""
  }

  /** REAL decode near-dup: the [[mmDedup]] band+Hamming pipeline over
    * 48-bit blockhashes of ImageIO-decoded rasters. */
  def mmDedupReal(s: SparkSession, d: String): DataFrame =
    Multimodal.imageDedup(Multimodal.blockHash(mmRealMedia(s, d),
      blocks = MmBits, decoder = Multimodal.ImageIoDecoder).toDF())

  private lazy val mmDedupRealOracle = mmDedupSql(mmRealByCte(MmBits))

  /** REAL image resize: PNG decode → nearest-neighbor 16×16 → 8×8 on the
    * grayscale raster; the oracle rebuilds the source raster from text and
    * replays the integer sampling (`src[y·16/8][x·16/8]` = every other
    * pixel), hashing the resized bytes — the resize leg of the multimodal
    * family over REAL decoded pixels, replacing the byte-budget stub. */
  def mmResizeReal(s: SparkSession, d: String): DataFrame =
    Multimodal.resizeNearest(mmRealMedia(s, d), 8, 8, Multimodal.ImageIoDecoder)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        md5(col("resized")).as("checksum"))

  private val mmResizeRealOracle = s"""
    WITH ${mmRealByCte(1)},
    px AS (
      SELECT doc_id, oy * 8 + ox AS oi, v
      FROM by
      JOIN (SELECT unnest(generate_series(0, 7)) AS oy) yy
        ON (by.i // $MmRealW) = oy * $MmRealH // 8
      JOIN (SELECT unnest(generate_series(0, 7)) AS ox)
        ON (by.i % $MmRealW) = ox * $MmRealW // 8)
    SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
      md5(string_agg(chr(v), '' ORDER BY oi)) AS checksum
    FROM px GROUP BY 1"""

  private val MmFrames = 3
  private val MmFrameW = 8
  private val MmFrameH = 8

  /** 3-keyframe GFR1 container per doc: frame f's 8×8 raster is the text
    * bytes cycled with offset f — SQL-expressible, each frame a genuine
    * PNG. */
  private def mmRealVideo(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] =
    textBytesMedia(s, d, "video/x-gfr") { bytes =>
      Multimodal.FrameContainer.encode((0 until MmFrames).map(f =>
        Multimodal.encodeImage(MmFrameW, MmFrameH,
          cycledRaster(bytes, MmFrameW * MmFrameH, offset = f))))
    }

  /** REAL frame sampling: keyframe seek (offset arithmetic — skipped
    * frames' bytes never parse) + real PNG decode of every 2nd frame; the
    * oracle rebuilds each sampled frame's raster from text and hashes it.
    * With this, the multimodal stub caveat narrows to audio only. */
  def mmFrameSampleReal(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFramesReal(mmRealVideo(s, d), stride = 2,
        Multimodal.ImageIoDecoder)
      .toDF()
      .select(col("doc_id"), col("frame_idx"),
        md5(col("raster")).as("frame_md5"))

  private lazy val mmFrameSampleRealOracle = {
    val n = MmFrameW * MmFrameH
    val arms = (0 until MmFrames by 2).map { f =>
      s"""SELECT doc_id, ${f}::BIGINT AS frame_idx,
        md5(string_agg(chr(ord(substr(text, (((i + $f) % len) + 1)::INT, 1))), '' ORDER BY i)) AS frame_md5
      FROM (SELECT doc_id, text, length(text) AS len,
              unnest(generate_series(0, ${n - 1})) AS i
            FROM documents WHERE length(text) > 0) t
      GROUP BY doc_id"""
    }
    arms.mkString("\n    UNION ALL\n    ")
  }

  /** Per-pixel error budget for the MJPEG gate: measured q=1.0 grayscale
    * JPEG round-trip error is ≤1 (DCT rounding only — quant tables all
    * ones); 2 leaves margin without admitting a wrong frame (a demux
    * off-by-one decodes a DIFFERENT cycled raster — off by whole bytes of
    * ASCII text, far outside 2). MultimodalSpec anchors the measurement. */
  private val AviTol = 2

  /** Real MJPEG-AVI per doc: the same three cycled-raster keyframes as the
    * GFR1 fixture, each a genuine q=1.0 JPEG, muxed into a standard RIFF
    * AVI with `movi`/`idx1` ([[graft.llm.Multimodal.AviMjpeg]]). */
  private def mmAviVideo(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] =
    textBytesMedia(s, d, "video/avi") { bytes =>
      Multimodal.AviMjpeg.encode((0 until MmFrames).map(f =>
        Multimodal.encodeJpeg(MmFrameW, MmFrameH,
          cycledRaster(bytes, MmFrameW * MmFrameH, offset = f))),
        MmFrameW, MmFrameH)
    }

  /** REAL video demux + decode: keyframe seek through a genuine AVI `idx1`
    * index (skipped frames' bytes never parse) and real JPEG decode of
    * every 2nd frame — the last multimodal stand-in (GFR1's own framing)
    * retired. JPEG is LOSSY, so unlike the PNG queries the oracle cannot
    * hash-replay pixels; it pins the (doc, frame) set, decoded geometry,
    * and a per-pixel error bound of [[AviTol]] against the SQL-expressible
    * source raster (recomputed Spark-side from the same text — a demuxer
    * that returned the wrong frame or offset fails it by whole ASCII
    * bytes). The container layer itself is verified BIT-exactly in
    * MultimodalSpec (frame-bytes round-trip, corrupt-frame seek honesty). */
  def mmFrameSampleAvi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frames = Multimodal.sampleFramesAvi(mmAviVideo(s, d), stride = 2,
      Multimodal.ImageIoDecoder)
    val src = Tables.documents(s, d).filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
    frames.toDF().join(src, "doc_id")
      .as[(Long, Long, Array[Byte], String)]
      .map { case (id, fi, raster, text) =>
        val srcR = cycledRaster(text.getBytes("UTF-8"),
          MmFrameW * MmFrameH, offset = fi.toInt)
        val maxErr = raster.zip(srcR).map { case (a, b) =>
          math.abs((a & 0xff) - (b & 0xff)) }.max
        (id, fi, raster.length.toLong, maxErr <= AviTol)
      }.toDF("doc_id", "frame_idx", "n_px", "within_tol")
  }

  /** The LOSSLESS AVI leg: same RIFF/movi/idx1 container and seek path, but
    * an UNCOMPRESSED 8-bit DIB stream (`00db`, BI_RGB + gray palette) —
    * pixels survive the container bit-exactly, so this oracle hash-replays
    * the decoded rasters EXACTLY (same oracle as the GFR1 frame sampler:
    * the container changed, the pixels must not). Between this and
    * [[mmFrameSampleAvi]] the AVI demuxer is pinned from both sides:
    * bounded-error through the real lossy codec, hash-exact through the
    * raw stream. */
  def mmFrameSampleAviRaw(s: SparkSession, d: String): DataFrame = {
    val media = textBytesMedia(s, d, "video/avi") { bytes =>
      Multimodal.AviMjpeg.encodeRawGray((0 until MmFrames).map(f =>
        cycledRaster(bytes, MmFrameW * MmFrameH, offset = f)),
        MmFrameW, MmFrameH)
    }
    Multimodal.sampleFramesAviRaw(media, stride = 2).toDF()
      .select(col("doc_id"), col("frame_idx"),
        md5(col("raster")).as("frame_md5"))
  }

  private val mmFrameSampleAviOracle = s"""
    SELECT doc_id, f AS frame_idx,
      ${MmFrameW * MmFrameH}::BIGINT AS n_px, TRUE AS within_tol
    FROM documents, (VALUES (0::BIGINT), (2::BIGINT)) AS fr(f)
    WHERE length(text) > 0"""

  // keyframe fixture: KfFrames frames in scenes of KfScene — within a scene
  // each frame adds +1 brightness (tiny MAD), a scene cut re-aligns the
  // raster by KfJump bytes (large MAD on any non-degenerate text)
  private val KfFrames = 8
  private val KfScene = 4
  private val KfJump = 37
  private val KfThreshold = 320L // 5x the exact within-scene MAD (64 px * 1)

  /** Shot-boundary keyframe selection (`mm_keyframes`): the planted scenes
    * ride a REAL uncompressed AVI through the real RIFF demux; scoring is
    * consecutive-frame MAD in one narrow flatMap per doc
    * ([[graft.llm.Multimodal.keyframes]] — no shuffle, no frame-pair
    * join). `is_key` derives ONLY from the measured MAD, so the oracle —
    * which rebuilds every pixel from the text arithmetic and applies the
    * same threshold — agrees on any input, planted structure or not. */
  def mmKeyframes(s: SparkSession, d: String): DataFrame = {
    val n = MmFrameW * MmFrameH
    val media = textBytesMedia(s, d, "video/avi") { bytes =>
      Multimodal.AviMjpeg.encodeRawGray((0 until KfFrames).map { f =>
        cycledRaster(bytes, n, offset = KfJump * (f / KfScene))
          .map(b => (((b & 0xff) + f % KfScene) % 256).toByte)
      }, MmFrameW, MmFrameH)
    }
    Multimodal.keyframes(media, KfThreshold).toDF()
      .select(col("doc_id"), col("frame_idx"), col("mad"), col("is_key"))
  }

  private val mmKeyframesOracle = s"""
    WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    px AS (
      SELECT doc_id, f, i,
        (ord(substr(text, (((i + $KfJump * (f // $KfScene)) % n) + 1)::INT, 1))
         + (f % $KfScene)) % 256 AS v
      FROM b,
        LATERAL UNNEST(generate_series(0, ${KfFrames - 1})) AS uf(f),
        LATERAL UNNEST(generate_series(0, ${MmFrameW * MmFrameH - 1})) AS ui(i)),
    mad AS (
      SELECT a.doc_id, a.f AS frame_idx, CAST(sum(abs(a.v - p.v)) AS BIGINT) AS mad
      FROM px a JOIN px p ON p.doc_id = a.doc_id AND p.i = a.i AND p.f = a.f - 1
      GROUP BY 1, 2)
    SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx, CAST(0 AS BIGINT) AS mad,
           TRUE AS is_key
    FROM b
    UNION ALL
    SELECT doc_id, frame_idx, mad, mad >= $KfThreshold AS is_key FROM mad"""

  // MJPEG keyframes: 4 scenes × 3 frames; scene brightness bit = (s%3==1),
  // so cuts land at frames 3 and 6 but NOT 9 (0→0); in-scene jitter ±2
  private val KfmScene = 3
  private val KfmScenes = 4
  private val KfmThreshold = 48L * MmFrameW * MmFrameH

  /** Keyframe selection through the LOSSY MJPEG leg: every `00dc` chunk is
    * a genuine baseline JPEG decoded by `javax.imageio`, so exact MADs are
    * decoder arithmetic no SQL can replay — this is the BOUNDED-ERROR
    * oracle design (r15 verdict): the fixture plants scene structure whose
    * decision margins dwarf any plausible decode error (in-scene source
    * MAD ≤ 2/pixel, cut MAD = 96/pixel, threshold 48/pixel — the q=1.0
    * JPEG error is spec-bounded at ≤1/pixel, and the decision survives
    * errors up to ±23/pixel), and the oracle checks the DECISIONS, which
    * the engine must reach through the real demux + real lossy decode +
    * MAD pipeline. Cuts occur only where the scene brightness bit CHANGES,
    * so a decoder that ignored frames, reordered them, or mis-decoded by
    * more than the margin would flip a decision. */
  def mmKeyframesMjpeg(s: SparkSession, d: String): DataFrame = {
    val n = MmFrameW * MmFrameH
    val media = textBytesMedia(s, d, "video/avi") { bytes =>
      Multimodal.AviMjpeg.encode((0 until KfmScene * KfmScenes).map { f =>
        val bit = if ((f / KfmScene) % 3 == 1) 1 else 0
        val jit = if (f % KfmScene == 1) 2 else 0
        Multimodal.encodeJpeg(MmFrameW, MmFrameH,
          cycledRaster(bytes, n).map(b =>
            ((b & 0xff) % 64 + 32 + 96 * bit + jit).toByte))
      }, MmFrameW, MmFrameH)
    }
    Multimodal.keyframes(media, KfmThreshold).toDF()
      .select(col("doc_id"), col("frame_idx"), col("is_key"))
  }

  private val mmKeyframesMjpegOracle = s"""
    SELECT doc_id, f::BIGINT AS frame_idx,
      (f = 0 OR (f % $KfmScene = 0
                 AND ((f // $KfmScene) % 3 = 1) != (((f // $KfmScene) - 1) % 3 = 1)))
        AS is_key
    FROM documents,
      LATERAL UNNEST(generate_series(0, ${KfmScene * KfmScenes - 1})) AS u(f)
    WHERE length(text) > 0"""

  private val MmAudioSamples = 256
  private val MmAudioWindows = 8

  /** REAL audio decode: 256 PCM samples (text bytes cycled) wrapped in a
    * genuine 8-bit mono WAV on executors, parsed back through the JDK's
    * RIFF reader, features from the DECODED samples — per-window integer
    * energy Σ|s−128| + raster checksum. The oracle rebuilds the samples
    * from text. With image, resize, frame-sample, and audio all running
    * real codecs, NOTHING in the multimodal family is a stub. */
  def mmAudioReal(s: SparkSession, d: String): DataFrame = {
    val media = textBytesMedia(s, d, "audio/wav")(bytes =>
      Multimodal.WavCodec.encode(cycledRaster(bytes, MmAudioSamples)))
    Multimodal.audioFeatures(media, MmAudioWindows).toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("checksum"), posexplode(col("win_energy")).as(Seq("w", "energy")))
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("checksum"), col("w").cast(LongType).as("w"), col("energy"))
  }

  private lazy val mmAudioRealOracle = s"""
    WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    pcm AS (SELECT doc_id, i, (i * $MmAudioWindows) // $MmAudioSamples AS w,
                   ord(substr(text, ((i % b.n) + 1)::INT, 1)) AS v
            FROM b, LATERAL UNNEST(generate_series(0, ${MmAudioSamples - 1})) AS u(i)),
    sums AS (SELECT doc_id, md5(string_agg(chr(v), '' ORDER BY i)) AS checksum
             FROM pcm GROUP BY 1)
    SELECT pcm.doc_id, ${Multimodal.WavCodec.SampleRate.toLong}::BIGINT AS sample_rate,
      ${MmAudioSamples}::BIGINT AS n_samples, sums.checksum,
      w::BIGINT AS w, CAST(SUM(abs(v - 128)) AS BIGINT) AS energy
    FROM pcm JOIN sums USING (doc_id)
    GROUP BY 1, 2, 3, 4, 5"""

  // ---- audio spectral features + fingerprint dedup ----------------------

  private def audioMedia(s: SparkSession, d: String) =
    textBytesMedia(s, d, "audio/wav")(bytes =>
      Multimodal.WavCodec.encode(cycledRaster(bytes, MmAudioSamples)))

  /** Audio SPECTRAL features through the real WAV codec: 8 integer-DFT bin
    * energies per 32-sample window of the decoded PCM, correlated against
    * the StrictMath-quantized [[Multimodal.SpectralTable]] whose values are
    * EMBEDDED in the oracle SQL — no engine evaluates a transcendental, so
    * re²+im² replays exactly. One decode + one narrow pass per document. */
  def mmAudioSpectral(s: SparkSession, d: String): DataFrame =
    Multimodal.spectral(audioMedia(s, d)).toDF()
      .select(col("doc_id"), col("w"), col("bin"), col("energy"))

  // the quantized DFT tables as flat SQL array literals (k·N + n + 1 indexed)
  private lazy val spectralTablesCte = {
    import Multimodal.SpectralTable._
    def flat(t: Array[Array[Long]]) =
      (0 until K).flatMap(k => (0 until N).map(n => t(k)(n))).mkString(", ")
    s"ct AS (SELECT [${flat(cosQ)}] AS ca, [${flat(sinQ)}] AS sa)"
  }

  private def spectralCtes = {
    import Multimodal.SpectralTable._
    s"""b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    $spectralTablesCte,
    pcm AS (SELECT doc_id, i // $N AS w, i % $N AS nn,
                   ord(substr(text, ((i % b.n) + 1)::INT, 1)) - 128 AS c
            FROM b, LATERAL UNNEST(generate_series(0, ${MmAudioSamples - 1})) AS u(i)),
    bins AS MATERIALIZED (
      SELECT doc_id, w, k,
        SUM(c * ca[(k * $N + nn + 1)::INT]) AS re,
        SUM(c * sa[(k * $N + nn + 1)::INT]) AS im
      FROM pcm, ct, LATERAL UNNEST(generate_series(0, ${K - 1})) AS uk(k)
      GROUP BY 1, 2, 3)"""
  }

  private lazy val mmAudioSpectralOracle = s"""
    WITH $spectralCtes
    SELECT doc_id, w::BIGINT AS w, k::BIGINT AS bin,
           CAST(re * re + im * im AS BIGINT) AS energy
    FROM bins"""

  // ---- audio sample-rate conversion (integer linear interpolation) ------

  private val MmResampleLegs = Seq(("down", 2, 3), ("up", 3, 2))

  /** Audio sample-rate conversion through the real WAV codec — the
    * 16 kHz-normalization step of an audio training pipeline, as the audio
    * twin of image `mm_resize`: each document's decoded PCM is resampled
    * by integer linear interpolation ([[Multimodal.resampleLinear]]) both
    * DOWN (×2/3) and UP (×3/2), and each leg emits per-window integer
    * signatures — `energy` = Σ|v−128| plus the position-weighted
    * `wsum` = Σ v·(j+1), which a sample-order or off-by-one bug cannot
    * leave unchanged. Every division truncates toward zero on both
    * engines (Scala `Long./` == DuckDB `//`), so the oracle replays every
    * interpolated sample exactly from the text-derived PCM. One decode +
    * one narrow flatMap per document, no shuffle. */
  def mmAudioResample(s: SparkSession, d: String): DataFrame =
    Multimodal.audioResample(audioMedia(s, d), MmResampleLegs, MmAudioWindows)
      .toDF()
      .select(col("doc_id"), col("leg"), col("n_out"), col("w"),
        col("energy"), col("wsum"))

  private lazy val mmAudioResampleOracle = {
    val n = MmAudioSamples
    val legsVals = MmResampleLegs.map { case (t, num, den) =>
      s"('$t', ${math.max(1L, n.toLong * num / den)})"
    }.mkString(", ")
    s"""
    WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    pcm AS MATERIALIZED (
      SELECT doc_id, i, ord(substr(text, ((i % b.n) + 1)::INT, 1)) AS v
      FROM b, LATERAL UNNEST(generate_series(0, ${n - 1})) AS u(i)),
    legs(leg, m) AS (VALUES $legsVals),
    vals AS (
      SELECT sa.doc_id, l.leg, l.m, u.j,
             sa.v + ((sb.v - sa.v) * ((u.j * $n) % l.m)) // l.m AS v
      FROM legs l,
           LATERAL UNNEST(generate_series(0, l.m - 1)) AS u(j),
           pcm sa, pcm sb
      WHERE sa.i = (u.j * $n) // l.m
        AND sb.doc_id = sa.doc_id
        AND sb.i = least((u.j * $n) // l.m + 1, ${n - 1}))
    SELECT doc_id, leg, CAST(m AS BIGINT) AS n_out,
           CAST((j * $MmAudioWindows) // m AS BIGINT) AS w,
           CAST(SUM(abs(v - 128)) AS BIGINT) AS energy,
           CAST(SUM(v * (j + 1)) AS BIGINT) AS wsum
    FROM vals
    GROUP BY 1, 2, 3, 4"""
  }

  /** Audio near-duplicate detection on a Chromaprint-style fingerprint:
    * 49 sign-of-second-difference bits over the spectral energies
    * ([[Multimodal.audioFingerprint]]), paired by [[Multimodal.audioDedup]]
    * (7 bands of 7 bits, df cap 100, Hamming ≤ 10). Output = every
    * fingerprint (kind 'fp') plus the surviving pairs (kind 'pair'). The
    * oracle replays PCM → integer DFT → bit packing → banding → the same
    * df cap → Hamming from the text alone. */
  def mmAudioFpDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.audioDedup(
      Multimodal.audioFingerprint(audioMedia(s, d)).toDF())

  private lazy val mmAudioFpDedupOracle = {
    import Multimodal.SpectralTable._
    s"""
    WITH $spectralCtes,
    eng AS (SELECT doc_id, w, k, re * re + im * im AS e FROM bins),
    fps AS MATERIALIZED (
      SELECT a.doc_id,
        CAST(SUM(CASE WHEN (a.e - pk.e) - (pw.e - pwk.e) > 0
             THEN 1::BIGINT << ((a.w - 1) * ${K - 1} + (a.k - 1))::INT
             ELSE 0 END) AS BIGINT) AS fp
      FROM eng a
      JOIN eng pk  ON pk.doc_id = a.doc_id  AND pk.w = a.w      AND pk.k = a.k - 1
      JOIN eng pw  ON pw.doc_id = a.doc_id  AND pw.w = a.w - 1  AND pw.k = a.k
      JOIN eng pwk ON pwk.doc_id = a.doc_id AND pwk.w = a.w - 1 AND pwk.k = a.k - 1
      WHERE a.w >= 1 AND a.k >= 1
      GROUP BY 1),
    bands0 AS (
      SELECT doc_id, b, (fp >> (b * $FpBandBits)::INT) & ${(1 << FpBandBits) - 1} AS bb
      FROM fps, LATERAL UNNEST(generate_series(0, ${FpBands - 1})) AS ub(b)),
    bands AS MATERIALIZED (
      SELECT doc_id, b, bb FROM (
        SELECT doc_id, b, bb, count(*) OVER (PARTITION BY b, bb) AS df
        FROM bands0) t
      WHERE df <= $BandCap),
    cand AS (
      SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      FROM bands x JOIN bands y ON y.b = x.b AND y.bb = x.bb
        AND y.doc_id > x.doc_id),
    pairs AS (
      SELECT c.da, c.db, CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS ham
      FROM cand c
      JOIN fps fa ON fa.doc_id = c.da
      JOIN fps fb ON fb.doc_id = c.db
      WHERE bit_count(xor(fa.fp, fb.fp)) <= $FpHamT)
    SELECT 'fp' AS kind, doc_id AS a, CAST(-1 AS BIGINT) AS b, fp AS v FROM fps
    UNION ALL
    SELECT 'pair', da, db, ham FROM pairs"""
  }

  // ---- video near-dup (frame-fingerprint matching) ----------------------

  private val VdFrames = 4
  private val VdOff = 17

  /** Video near-duplicate detection by frame-fingerprint matching — the
    * video leg of the perceptual-dedup triangle (image `mm_dedup_real`,
    * audio `mm_audio_fpdedup`): each doc's 4-frame uncompressed AVI demuxes
    * through the real RIFF parser, every frame fingerprints to the 48-bit
    * blockhash ([[graft.llm.Multimodal.videoFrameHashes]] — ONE narrow
    * flatMap per doc, 16 bytes out per frame), and [[Multimodal.videoDedup]]
    * pairs two videos when ≥ 3 frames match at the SAME frame index with
    * Hamming ≤ 6: band keys scoped to the frame index, never an all-pairs
    * product, and no video's pixels ever cross the wire. */
  def mmVideoDedup(s: SparkSession, d: String): DataFrame = {
    val n = MmFrameW * MmFrameH
    val media = textBytesMedia(s, d, "video/avi") { bytes =>
      Multimodal.AviMjpeg.encodeRawGray((0 until VdFrames).map(f =>
        cycledRaster(bytes, n, offset = VdOff * f)), MmFrameW, MmFrameH)
    }
    Multimodal.videoDedup(Multimodal.videoFrameHashes(media, MmBits).toDF())
  }

  private lazy val mmVideoDedupOracle = {
    val npx = MmFrameW * MmFrameH
    s"""
    WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) > 0),
    by AS (SELECT doc_id, f, (i * $MmBits) // $npx AS k,
             ord(substr(text, (((i + $VdOff * f) % n) + 1)::INT, 1)) AS v
           FROM b,
             LATERAL UNNEST(generate_series(0, ${VdFrames - 1})) AS uf(f),
             LATERAL UNNEST(generate_series(0, ${npx - 1})) AS ui(i)),
    blk AS (SELECT doc_id, f, k, CAST(sum(v) AS BIGINT) AS s_k, count(*) AS c_k
            FROM by GROUP BY 1, 2, 3),
    tot AS (SELECT doc_id, f, CAST(sum(s_k) AS BIGINT) AS s
            FROM blk GROUP BY 1, 2),
    fh AS MATERIALIZED (
      SELECT blk.doc_id, blk.f,
        CAST(SUM(CASE WHEN s_k * $npx > s * c_k THEN 1::BIGINT << k
             ELSE 0 END) AS BIGINT) AS h
      FROM blk JOIN tot USING (doc_id, f) GROUP BY 1, 2),
    bands0 AS (
      SELECT doc_id, f, band,
        (h >> (band * $MmBandBits)::INT) & ${(1L << MmBandBits) - 1} AS key
      FROM fh, LATERAL UNNEST(generate_series(0, ${MmBands - 1})) AS ub(band)),
    bands AS MATERIALIZED (
      SELECT doc_id, f, band, key FROM (
        SELECT doc_id, f, band, key,
               count(*) OVER (PARTITION BY f, band, key) AS df
        FROM bands0) t
      WHERE df <= $BandCap),
    cands AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM bands a JOIN bands b
        ON a.f = b.f AND a.band = b.band AND a.key = b.key
          AND a.doc_id < b.doc_id),
    m AS (
      SELECT c.i, c.j, CAST(count(*) AS BIGINT) AS n_matched
      FROM cands c
      JOIN fh ha ON ha.doc_id = c.i
      JOIN fh hb ON hb.doc_id = c.j AND hb.f = ha.f
      WHERE bit_count(xor(ha.h, hb.h)) <= $MmHamming
      GROUP BY 1, 2)
    SELECT i, j, n_matched FROM m WHERE n_matched >= $VdMinFrames"""
  }

  // ---- corpus-version diff ----------------------------------------------

  /** Corpus diff between two snapshot versions — the "what changed since the
    * last training run" report every recurring pipeline needs before it
    * decides what to re-process. v1/v2 are deterministic snapshots derived
    * from the same table (v1 lacks the %10==9 docs and predates the %7==0
    * revisions; v2 lacks the %13==3 docs): a FULL OUTER join on the pk
    * compares content hashes — one shuffle per side, 16-byte rows, no text
    * ever moves. At 100 TB both sides read straight from storage and the
    * added/removed/changed sets drive incremental re-processing. */
  def corpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val v1 = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = docs.filter(col("doc_id") % 13 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
  }

  private val corpusDiffOracle = """
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 10 != 9),
    v2 AS (
      SELECT doc_id,
        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h2
      FROM documents WHERE doc_id % 13 != 3)
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      CASE WHEN h1 IS NULL THEN 'added'
           WHEN h2 IS NULL THEN 'removed'
           WHEN h1 != h2 THEN 'changed'
           ELSE 'unchanged' END AS status
    FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id"""

  // ---- epoch-weighted oversampling --------------------------------------

  /** Epoch-weighted replication — the data-mixing knob where a source runs
    * MORE than one epoch (repeat code 3×, web 1.2×): every doc gets its
    * source's integer epoch count, and the fractional remainder becomes one
    * extra copy for a deterministic per-mille hash gate of the docs. Purely
    * row-local arithmetic + a narrow explode — no join, no shuffle; the
    * output feeds packing/sharding exactly like the base corpus. */
  def oversample(s: SparkSession, d: String): DataFrame = {
    val base = TextOps.hash60(concat(col("source"), lit(":epbase"))) % 3 + 1 // 1..3 epochs
    val pm = TextOps.hash60(concat(col("source"), lit(":epfrac"))) % 1000 // frac epoch as ‰
    val extra = when(
      TextOps.hash60(concat(col("doc_id").cast(StringType), lit(":ep"))) % 1000 < pm,
      1L).otherwise(0L)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), (base + extra).as("copies"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("copies") - 1)).as("copy"))
  }

  private val oversampleOracle = s"""
    WITH c AS (
      SELECT doc_id, source,
        1 + ${hashSql("source || ':epbase'")} % 3 +
        CASE WHEN ${hashSql("doc_id::VARCHAR || ':ep'")} % 1000
               < ${hashSql("source || ':epfrac'")} % 1000
             THEN 1 ELSE 0 END AS copies
      FROM documents)
    SELECT doc_id, source, unnest(range(0, copies)) AS copy FROM c"""

  // ---- decontamination / sampling / packing ----------------------------

  private val DecontamN = 5
  private val BenchMod = 97L

  /** Benchmark decontamination: drop every training document sharing ANY
    * `DecontamN`-gram with the held-out benchmark set (the standard
    * eval-overlap filter in LLM data pipelines; e.g. GPT-3 appendix C uses
    * 13-grams — 5 here because the synthetic docs are ~30 tokens).
    *
    * Scale shape: the benchmark is tiny by definition, so its distinct
    * n-gram set BROADCASTS; training docs explode to (doc_id, gram) once and
    * semi-join that broadcast — no shuffle of the corpus, no self-join. A
    * deterministic slice (`doc_id % 97 == 0`) stands in for the benchmark. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBench = col("doc_id") % BenchMod === 0
    graft.llm.Corpus.decontaminate(docs.filter(!isBench), docs.filter(isBench), DecontamN)
      .select("doc_id", "lang", "source", "n_chars")
  }

  private val decontaminateOracle = s"""
    WITH bench AS (
      SELECT DISTINCT unnest(${shinglesSql(toksSql, DecontamN)}) AS g
      FROM documents WHERE doc_id % $BenchMod = 0),
    tg AS (
      SELECT doc_id, unnest(${shinglesSql(toksSql, DecontamN)}) AS g
      FROM documents WHERE doc_id % $BenchMod <> 0),
    bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bench USING (g))
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id % $BenchMod <> 0
      AND doc_id NOT IN (SELECT doc_id FROM bad)"""

  private val SamplePerMille = Seq("en" -> 500L, "de" -> 200L) // others: 100‰
  private val SampleDefault = 100L

  /** Deterministic stratified sampling: keep a doc iff
    * `hash(doc_id) mod 1000 < rate(lang)` — per-language per-mille rates
    * (the corpus-mixing knob of a training-data pipeline). Hash-based gating
    * makes the sample REPRODUCIBLE and embarrassingly parallel: a narrow
    * filter with zero shuffles, stable under re-partitioning and re-runs —
    * unlike `TABLESAMPLE`/`rand()`, identical on every engine. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.sampleStratified(Tables.documents(s, d), "lang",
        SamplePerMille, SampleDefault)
      .select("doc_id", "lang", "source")

  private val sampleOracle = {
    val rateSql = SamplePerMille.foldRight(SampleDefault.toString) {
      case ((l, r), acc) => s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
    }
    s"""
    SELECT doc_id, lang, source FROM documents
    WHERE ${hashSql("(doc_id::VARCHAR || ':sample')")} % 1000 < ($rateSql)"""
  }

  private val PackTokens = 512L

  /** Sequence packing: concatenate documents in deterministic order and
    * assign each the index of the `PackTokens`-token context window its
    * first token lands in (GPT-style packing with boundary splitting). The
    * running offset is a cumulative sum PER SOURCE SHARD — packing is
    * order-dependent, so the parallel unit is the shard, exactly how a
    * 100 TB corpus packs (per input shard), never a global sort. */
  def packSequences(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.packSequences(Tables.documents(s, d), "source", "doc_id",
        PackTokens)
      .select("doc_id", "source", "n_tokens", "seq_id")

  private val packOracle = s"""
    SELECT doc_id, source, n_tokens,
      CAST(COALESCE(SUM(n_tokens) OVER (
        PARTITION BY source ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackTokens
        AS BIGINT) AS seq_id
    FROM (
      SELECT doc_id, source, len($toksSql)::BIGINT AS n_tokens
      FROM documents) t"""

  // ---- chunk-level exact dedup -----------------------------------------

  private val ChunkTokens = 20

  /** Exact substring dedup over 20-token windows (the span-level pass that
    * catches boilerplate shared between otherwise-distinct documents).
    * Corpus-wide first-occurrence keyed on the chunk HASH — one 8-byte-key
    * shuffle, no pair explosion. */
  def chunkDedup(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.chunkDedup(Tables.documents(s, d), ChunkTokens)

  private val chunkDedupOracle = {
    val w = ChunkTokens
    s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
               WHERE length(trim(text)) > 0),
    c AS (SELECT doc_id, i,
            ${hashSql(s"array_to_string(toks[(i*$w+1):(i*$w+$w)], ' ')")} AS h
          FROM t, LATERAL UNNEST(generate_series(0,
            CAST(ceil(len(toks)/$w.0) AS BIGINT)-1)) AS u(i)),
    r AS (SELECT doc_id,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
          FROM c)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
    FROM r GROUP BY doc_id"""
  }

  private val RagWindow = 32
  private val RagStride = 24

  /** RAG/context-window chunking (see [[graft.llm.Corpus.ragChunk]]):
    * 32-token windows every 24 tokens with stable hash chunk ids — the
    * retrieval-index prep stage. Zero shuffles: the plan is scan → narrow
    * explode → project. */
  def ragChunk(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.ragChunk(Tables.documents(s, d), RagWindow, RagStride)

  private val ragChunkOracle = {
    val (w, st) = (RagWindow, RagStride)
    s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
               WHERE length(trim(text)) > 0),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    g AS (SELECT doc_id, toks, n, i
          FROM n, LATERAL UNNEST(generate_series(0,
            GREATEST(0, CAST(ceil((n - $w)/$st.0) AS BIGINT)))) AS u(i))
    SELECT doc_id, i AS chunk_idx,
      ${hashSql(s"doc_id::VARCHAR || ':' || i::VARCHAR || ':rag'")} AS chunk_id,
      array_to_string(toks[(i*$st+1):(i*$st+$w)], ' ') AS chunk_text,
      CAST(LEAST($w, n - i*$st) AS BIGINT) AS n_tokens
    FROM g"""
  }

  private val ChunkStride = 10

  /** Overlapping-window exact dedup (stride < window): catches duplicated
    * spans that straddle the disjoint chunk boundaries [[chunkDedup]] uses —
    * two occurrences align whenever their offsets agree mod `stride`
    * (1/stride of phases, vs 1/window for disjoint blocks; certainty needs a
    * suffix-array pass, and `llm_fingerprint_winnow` is the probabilistic
    * alternative). Costs window/stride× the chunk rows of the disjoint
    * pass; the plan shape (narrow explode → one 8-byte-hash shuffle) is
    * identical. */
  def chunkDedupOverlap(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.chunkDedup(Tables.documents(s, d), ChunkTokens,
      stride = ChunkStride)

  private val chunkDedupOverlapOracle = {
    val w = ChunkTokens
    val st = ChunkStride
    s"""
    WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
               WHERE length(trim(text)) > 0),
    c AS (SELECT doc_id, i,
            ${hashSql(s"array_to_string(toks[(i*$st+1):(i*$st+$w)], ' ')")} AS h
          FROM t, LATERAL UNNEST(generate_series(0,
            CAST(floor((len(toks)-1)/$st.0) AS BIGINT))) AS u(i)),
    r AS (SELECT doc_id,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
          FROM c)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
    FROM r GROUP BY doc_id"""
  }

  // ---- train/val/test split --------------------------------------------

  private val SplitFences = Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L)

  /** Deterministic corpus split: per-(split, lang) doc counts — the mixing
    * table every training run starts from. The assignment is a narrow
    * hash-gate; the count is one map-side-combinable aggregation. */
  def splitCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("split", graft.llm.Corpus.splitAssign(SplitFences))
      .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))

  private val splitOracle = {
    // CASE arms generated from the SAME fences the Spark side folds over —
    // editing SplitFences can never desynchronize the oracle
    val sorted = SplitFences.sortBy(_._2)
    val arms = sorted.init.map { case (n, f) => s"WHEN b < $f THEN '$n'" }.mkString(" ")
    s"""
    SELECT split, lang, count(*) AS n_docs FROM (
      SELECT CASE $arms ELSE '${sorted.last._1}' END AS split, lang
      FROM (SELECT ${hashSql("doc_id::VARCHAR || ':split'")} % 1000 AS b, lang
            FROM documents) t) tt
    GROUP BY 1, 2"""
  }

  /** LEAKAGE-FREE split: assignment hashes the near-dup CLUSTER id, not the
    * doc id — two near-duplicate documents can never straddle train/test
    * (the classic eval-leak a doc-hash split permits: the test doc's twin
    * sits in train). Unclustered docs are their own singleton cluster, so
    * outside near-dup components this IS [[splitCounts]]'s assignment
    * discipline with the same fences.
    *
    * Scale shape: the pair pipeline and connected components are exactly
    * [[dedupCluster]]'s; the extra work is ONE left join of the corpus
    * against the |clustered-nodes|-sized cluster table plus the narrow
    * hash-fence projection. */
  def splitLeakfree(s: SparkSession, d: String): DataFrame =
    clusterAssign(s, d).withColumn("split",
      graft.llm.Corpus.splitAssign(SplitFences, idCol = "cluster_id"))

  private lazy val splitLeakfreeOracle = {
    val sorted = SplitFences.sortBy(_._2)
    val arms = sorted.init.map { case (n, f) => s"WHEN b < $f THEN '$n'" }.mkString(" ")
    s"""
    WITH RECURSIVE $ccReachCtesSql,
    cc AS (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
    j AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cc USING (doc_id))
    SELECT doc_id, cluster_id,
      CASE $arms ELSE '${sorted.last._1}' END AS split
    FROM (SELECT doc_id, cluster_id,
            ${hashSql("cluster_id::VARCHAR || ':split'")} % 1000 AS b FROM j) t"""
  }

  // ---- TF-IDF -----------------------------------------------------------

  /** Top TF-IDF term per document (ln-idf, quantized score, term-asc tie
    * break). Feature extraction for topic/relevance filtering: two keyed
    * aggregations + one vocabulary join — never all-pairs. */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // corpus document count: control-plane probe (same role as the
    // broadcast-vs-shuffle count in Merge.upsert)
    val n = docs.filter(length(trim(col("text"))) > 0).count()
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    graft.llm.Corpus.tfidf(docs, n)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("doc_id"), col("token").as("top_term"),
        col("tf"), col("df"), col("tfidf"))
  }

  private val tfidfOracle = s"""
    WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents
                 WHERE length(trim(text)) > 0),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM tf),
    sc AS (SELECT doc_id, token, tf, df,
             ${qSql("tf * ln(nd::DOUBLE / df)", 4)} AS tfidf
           FROM tf JOIN dfq USING (token) CROSS JOIN n),
    rk AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn FROM sc)
    SELECT doc_id, token AS top_term, tf, df, tfidf FROM rk WHERE rn = 1"""

  // ---- token entropy ----------------------------------------------------

  /** Shannon entropy of each document's token distribution — the
    * degenerate-text signal repetition ratios miss. Decimal-summed so the
    * float aggregation is order-independent (cross-engine-stable). */
  def entropy(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.tokenEntropy(Tables.documents(s, d))

  private val entropyOracle = s"""
    WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents
                 WHERE length(trim(text)) > 0),
    cnt AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
              SUM(CAST(${qSql("c * ln(c)", 6)} AS DECIMAL(28,8)))::DOUBLE AS clnc
            FROM cnt GROUP BY doc_id)
    SELECT doc_id, n, ${qSql("ln(n) - clnc / n", 4)} AS entropy FROM agg"""

  // ---- per-source quota ------------------------------------------------

  private val QuotaK = 10

  /** Per-source quota capping by deterministic hash order — corpus mixing's
    * "no source drowns the rest" guard. One stratum shuffle. */
  def quota(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.quotaPerStratum(Tables.documents(s, d), "source", QuotaK)
      .select("doc_id", "source", "quota_rank")

  private val quotaOracle = s"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS quota_rank FROM (
      SELECT doc_id, source, row_number() OVER (
        PARTITION BY source
        ORDER BY ${hashSql("doc_id::VARCHAR || ':quota'")} ASC, doc_id ASC) AS rn
      FROM documents) t
    WHERE rn <= $QuotaK"""

  // ---- token-budget mixing ---------------------------------------------

  private val BudgetTokens = 2000L

  /** Token-budget sampling per source: keep docs in deterministic hash
    * order while the running token total stays within budget — the
    * "N tokens per source" mixing primitive. */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    graft.llm.Corpus.tokenBudget(Tables.documents(s, d), "source", BudgetTokens)
      .select("doc_id", "source", "n_tokens", "cum_tokens")

  private val tokenBudgetOracle = s"""
    SELECT doc_id, source, n_tokens, cum_tokens FROM (
      SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (
          PARTITION BY source ORDER BY h, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM (
        SELECT doc_id, source, len($toksSql)::BIGINT AS n_tokens,
               ${hashSql("doc_id::VARCHAR || ':budget'")} AS h
        FROM documents) t) tt
    WHERE cum_tokens <= $BudgetTokens"""

  // ---- shard materialization -------------------------------------------

  private val NumShards = 32

  /** The build's last step: deterministic hash-sharding for training
    * consumption. Shard id is a pure hash gate (narrow, reproducible,
    * stable under repartitioning — `rand()` or round-robin would not be);
    * the output here is the per-shard manifest (doc count + token mass)
    * a writer uses to size output files. At scale the frame then writes
    * `partitionBy(shard)` through the file sink. */
  def shard(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("shard",
        TextOps.hash60(concat(col("doc_id").cast(StringType), lit(":shard"))) % NumShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast(LongType)).as("n_tokens"))

  private val shardOracle = s"""
    SELECT ${hashSql("doc_id::VARCHAR || ':shard'")} % $NumShards AS shard,
           count(*) AS n_docs,
           CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1"""

  def qs: Map[String, Q] = Map(
    "llm_shard"         -> Q(shard, Some(shardOracle)),
    "llm_token_budget"  -> Q(tokenBudget, Some(tokenBudgetOracle)),
    "llm_chunk_dedup"   -> Q(chunkDedup, Some(chunkDedupOracle)),
    "llm_rag_chunk"     -> Q(ragChunk, Some(ragChunkOracle)),
    "llm_chunk_dedup_overlap" -> Q(chunkDedupOverlap, Some(chunkDedupOverlapOracle)),
    "llm_split"         -> Q(splitCounts, Some(splitOracle)),
    "llm_split_leakfree" -> Q(splitLeakfree, Some(splitLeakfreeOracle)),
    "llm_tfidf"         -> Q(tfidfTop, Some(tfidfOracle)),
    "llm_entropy"       -> Q(entropy, Some(entropyOracle)),
    "llm_quota"         -> Q(quota, Some(quotaOracle)),
    "llm_decontaminate" -> Q(decontaminate, Some(decontaminateOracle)),
    "llm_sample"        -> Q(sampleStratified, Some(sampleOracle)),
    "llm_pack"          -> Q(packSequences, Some(packOracle)),
    "llm_exact_dedup"   -> Q(exactDedup, Some(exactOracle)),
    "llm_ngram_jaccard" -> Q(ngramJaccard, Some(ngramOracle)),
    "llm_prefix_join"   -> Q(prefixJoin, Some(prefixJoinOracle)),
    "llm_lsh_eval"      -> Q(lshEval, Some(lshEvalOracle)),
    "llm_lsh_eval_sampled" -> Q(lshEvalSampled, Some(lshEvalSampledOracle)),
    "llm_cluster_eval_sampled" -> Q(clusterEvalSampled, Some(clusterEvalSampledOracle)),
    "llm_containment"   -> Q(containment, Some(containmentOracle)),
    "llm_substr_dedup"  -> Q(substrDedup, Some(substrDedupOracle)),
    "llm_substr_clean"  -> Q(substrClean, Some(substrCleanOracle)),
    "llm_minhash_lsh"   -> Q(minhashLsh, Some(minhashOracle)),
    "llm_minhash_estimate" -> Q(minhashEstimate, Some(minhashEstimateOracle)),
    "llm_simhash"       -> Q(simhash, Some(simhashOracle)),
    "llm_simhash_neardup" -> Q(simhashNearDup, Some(simhashNearDupOracle)),
    "llm_simhash_neardup_wide" -> Q(simhashNearDupWide, Some(simhashNearDupWideOracle)),
    "llm_dedup_cluster_wide" -> Q(dedupClusterWide, Some(dedupClusterWideOracle)),
    "llm_dedup_cluster" -> Q(dedupCluster, Some(dedupClusterOracle)),
    "llm_cluster_eval"  -> Q(clusterEval, Some(clusterEvalOracle)),
    "llm_dedup_cluster_exact" -> Q(dedupClusterExact, Some(dedupClusterExactOracle)),
    "llm_dedup_survivor_exact" -> Q(dedupSurvivorExact, Some(dedupSurvivorExactOracle)),
    "llm_dedup_survivor" -> Q(dedupSurvivor, Some(dedupSurvivorOracle)),
    "llm_redact"        -> Q(redactPii, Some(redactOracle)),
    "llm_fingerprint"   -> Q(fingerprint, Some(fingerprintOracle)),
    "llm_winnow"        -> Q(winnow, Some(winnowOracle)),
    "llm_textstats"     -> Q(textStats, Some(textStatsOracle)),
    "llm_weighted_sample" -> Q(weightedSample, Some(weightedSampleOracle)),
    "llm_group_weighted_sample" -> Q(groupWeightedSample, Some(groupWeightedSampleOracle)),
    "llm_span_corrupt"  -> Q(spanCorrupt, Some(spanCorruptOracle)),
    "llm_repetition"    -> Q(repetition, Some(repetitionOracle)),
    "llm_langid"        -> Q(langId, Some(langIdOracle)),
    "llm_vocab"         -> Q(vocab, Some(vocabOracle)),
    "llm_vocab_coverage" -> Q(vocabCoverage, Some(vocabCoverageOracle)),
    "llm_clean_corpus"  -> Q(cleanCorpus, Some(cleanCorpusOracle)),
    "llm_build"         -> Q(build, Some(buildOracle)),
    "llm_encode"        -> Q(encode, Some(encodeOracle)),
    "llm_ann_brute"     -> Q(annBrute, Some(annBruteOracle)),
    "llm_ann_lsh"       -> Q(annLsh, Some(annLshOracle)),
    "llm_ann_multiprobe" -> Q(annMultiProbe, Some(annMultiProbeOracle)),
    "llm_ann_ivf"       -> Q(annIvf, Some(annIvfOracle)),
    "llm_ann_recall"    -> Q(annRecall, Some(annRecallOracle)),
    "llm_knn_join"      -> Q(knnJoin, Some(knnJoinOracle)),
    "llm_embed_neardup" -> Q(embedNearDup, Some(embedNearDupOracle)),
    "llm_embed_neardup_banded" -> Q(embedNearDupBanded, Some(embedNearDupBandedOracle)),
    "llm_semdedup"      -> Q(semDedup, Some(semDedupOracle)),
    "llm_semdedup_banded" -> Q(semDedupBanded, Some(semDedupBandedOracle)),
    "llm_sem_decontaminate" -> Q(semDecontaminate, Some(semDecontaminateOracle)),
    "llm_contrastive"   -> Q(contrastivePairs, Some(contrastiveOracle)),
    "llm_hard_negatives" -> Q(hardNegatives, Some(hardNegativesOracle)),
    "llm_kmeans"        -> Q(kmeans, Some(kmeansOracle)),
    "llm_pca_project"   -> Q(pcaProject, Some(pcaOracle)),
    "llm_incremental"   -> Q(incrementalNearDup, Some(incrementalOracle)),
    "llm_corpus_diff"   -> Q(corpusDiff, Some(corpusDiffOracle)),
    "llm_oversample"    -> Q(oversample, Some(oversampleOracle)),
    "mm_dedup"          -> Q(mmDedup, Some(mmDedupOracle)),
    "mm_features"       -> Q(mmFeatures, Some(mmOracle)),
    "mm_blockhash"      -> Q(mmBlockhash, Some(mmBlockhashOracle)),
    "mm_phash"          -> Q(mmPhash, Some(mmPhashOracle)),
    "mm_features_real"  -> Q(mmFeaturesReal, Some(mmFeaturesRealOracle)),
    "mm_phash_real"     -> Q(mmPhashReal, Some(mmPhashRealOracle)),
    "mm_dedup_real"     -> Q(mmDedupReal, Some(mmDedupRealOracle)),
    "mm_resize_real"    -> Q(mmResizeReal, Some(mmResizeRealOracle)),
    "mm_framesample_real" -> Q(mmFrameSampleReal, Some(mmFrameSampleRealOracle)),
    "mm_framesample_avi" -> Q(mmFrameSampleAvi, Some(mmFrameSampleAviOracle)),
    "mm_framesample_avi_raw" -> Q(mmFrameSampleAviRaw, Some(mmFrameSampleRealOracle)),
    "mm_keyframes"      -> Q(mmKeyframes, Some(mmKeyframesOracle)),
    "mm_audio_real"     -> Q(mmAudioReal, Some(mmAudioRealOracle)),
    "mm_audio_resample" -> Q(mmAudioResample, Some(mmAudioResampleOracle)),
    "mm_audio_spectral" -> Q(mmAudioSpectral, Some(mmAudioSpectralOracle)),
    "mm_keyframes_mjpeg" -> Q(mmKeyframesMjpeg, Some(mmKeyframesMjpegOracle)),
    "mm_audio_fpdedup"  -> Q(mmAudioFpDedup, Some(mmAudioFpDedupOracle)),
    "mm_video_dedup"    -> Q(mmVideoDedup, Some(mmVideoDedupOracle)),
    "mm_framesample"    -> Q(mmFrameSample, Some(mmFrameOracle)),
    "mm_resize"         -> Q(mmResize, Some(mmResizeOracle)),
  )
}
