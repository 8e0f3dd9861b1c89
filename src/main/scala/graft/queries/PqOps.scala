package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.core.Tables
import graft.llm.Similarity
import LlmOps.qSql

/** Product-quantization ANN (Jégou et al. 2011) — the compressed-domain
  * search layer a billion-vector corpus actually runs: vectors become
  * `m` one-byte codes against per-subspace codebooks; search reads codes,
  * not floats, through a per-query distance table (ADC).
  *
  * Scale analysis:
  *  - encode: broadcast codebook cross collapsed by a map-side argmin —
  *    the corpus never shuffles; output is m small rows (bytes) per vector;
  *  - search: the m×k distance table is driver-computed (kilobytes) and
  *    baked into the scan as literal lookups — ONE narrow projection over
  *    the codes table, no join, no shuffle; memory-bound by design, which
  *    is the entire point of PQ at 100 TB.
  *
  * `llm_pq_encode`/`llm_pq_search` run TRAINED per-subspace codebooks
  * ([[graft.llm.Similarity.pqTrainCodebook]]: seed init + `Iters` Lloyd
  * rounds, all subspaces in one corpus-scale job per round) — the oracle
  * replays the training rounds as materialized CTEs. `llm_ann_ivfpq` keeps
  * designated seed codewords to pin the coarse+fine composition itself.
  */
object PqOps {

  private val Dim = 64
  private val M = 8          // subspaces → 8 codes per vector
  private val Sub = Dim / M
  private val KCodes = 16    // codewords per subspace (seed vec_id < 16)
  private val NQueries = 4   // query vectors (vec_id < 4)
  private val TopK = 5

  private def seeds(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < KCodes)

  private val Iters = 2 // Lloyd rounds per subspace (oracle replays each)

  /** Trained per-subspace codebooks ([[Similarity.pqTrainCodebook]]) — the
    * real FAISS `PQy` shape: seeds initialize, `Iters` Lloyd rounds refine.
    * Control-plane sized (m·k rows), deterministic, oracle-replayable.
    * Memoized per data dir: three registry queries (encode, search, recall)
    * consume the same deterministic training output, and a production build
    * would persist the codebook rather than retrain per consumer. */
  private val cbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Long, Array[Double])]]()
  private def trainedCb(s: SparkSession, d: String): Seq[(Int, Long, Array[Double])] =
    cbCache.computeIfAbsent(d, _ =>
      Similarity.pqTrainCodebook(Tables.embeddings(s, d), seeds(s, d), M, Dim, Iters))

  def pqEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cbDf = trainedCb(s, d).map { case (j, c, v) => (j, c, v.toSeq) }
      .toDF("sub", "code_id", "subvec")
    Similarity.pqEncode(emb, cbDf, M, Dim)
  }

  private val NProbe = 2

  /** IVF-PQ: coarse cells restrict the ADC scan to `NProbe/16` of the codes
    * (see [[graft.llm.Similarity.pqSearchADCIvf]]) — the FAISS `IVFx,PQy`
    * composition. Probe lists are driver-computed against the control-plane
    * centroid table; the per-vector cell attaches by one vec_id equi-join. */
  def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val seedRows = seeds(s, d).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val cbRows = for {
      (vid, e) <- seedRows.toSeq; j <- 0 until M
    } yield (j, vid, e.slice(j * Sub, j * Sub + Sub).map(_.toDouble))
    val qs = seedRows.filter(_._1 < NQueries)
      .map { case (vid, e) => (vid, e.map(_.toDouble)) }.toSeq
    import s.implicits._
    val cbDf = cbRows.map { case (j, vid, sv) => (j, vid, sv.map(_.toFloat).toSeq) }
      .toDF("sub", "code_id", "subvec")
    val codes = Similarity.pqEncode(emb, cbDf, M, Dim)
    val cells = Similarity.coarseCells(emb, seeds(s, d))
    // nprobe nearest centroids per query: driver twin of the corpus-side
    // quant6 L2 argmin (same accumulation order, same tie-break)
    val probes: Map[Long, Seq[Long]] = qs.map { case (qid, qv) =>
      val ds = seedRows.map { case (cid, cv) =>
        var acc = 0d
        var i = 0
        while (i < qv.length) { val dd = qv(i) - cv(i); acc += dd * dd; i += 1 }
        (math.floor(acc * 1e6 + 0.5) / 1e6, cid)
      }
      qid -> ds.sortBy(identity).take(NProbe).map(_._2).toSeq
    }.toMap
    Similarity.pqSearchADCIvf(qs, codes, cells, probes, cbRows, M, TopK)
  }

  /** Compressed-domain k-NN JOIN: EVERY corpus vector is a query (the
    * retrieval/contrastive-build shape) against the TRAINED codebook, IVF-
    * restricted to [[NProbe]] seed cells — [[Similarity.pqKnnJoin]], where
    * the ADC distance tables are a DataFrame joined by (cell, sub, code)
    * instead of per-query plan literals. The plan is CONSTANT in |queries|
    * (PqKnnJoinSpec asserts it), which is what retires the "driver-shaped at
    * 100× query volume" caveat on the literal probe forms. */
  def pqKnnJoinQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cbDf = trainedCb(s, d).map { case (j, c, v) => (j, c, v.toSeq) }
      .toDF("sub", "code_id", "subvec")
    val codes = Similarity.pqEncode(emb, cbDf, M, Dim)
    val cells = Similarity.coarseCells(emb, seeds(s, d))
    Similarity.pqKnnJoin(emb, codes, cbDf, cells, seeds(s, d), M, Dim, TopK, NProbe)
  }

  def pqSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // trained codebook (control-plane, Iters Lloyd rounds); queries are the
    // ORIGINAL embeddings of vec_id < NQueries — one bounded collect
    val cbRows = trainedCb(s, d)
    val qs = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1).toSeq
    val cbDf = cbRows.map { case (j, vid, sv) => (j, vid, sv.toSeq) }
      .toDF("sub", "code_id", "subvec")
    val codes = Similarity.pqEncode(emb, cbDf, M, Dim)
    Similarity.pqSearchADC(qs, codes, cbRows, M, TopK)
  }

  /** PQ recall evaluation — the compressed-domain twin of `llm_ann_recall`:
    * per-query recall@K of the SEED-codebook ADC search vs the TRAINED one,
    * both against exact squared-L2 ground truth (the metric PQ approximates;
    * cosine truth would conflate metric mismatch with quantization loss).
    * Makes the training win an oracle-gated artifact, not just a spec claim.
    *
    * Scale shape: truth is the brute baseline over a tiny broadcast query
    * set (the allowlisted BNL, as `llm_ann_brute`); each hit count is a
    * (query, neighbor) equi-join + map-side sum; both searchers are the
    * documented compressed-domain scans. */
  /** Exact L2 top-K truth per query — the persisted ground-truth frame
    * behind every quantized-recall measurement; the CALLER unpersists. */
  private def l2TruthTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = broadcast(emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qe")))
    // r21: bounded k-min heap aggregate instead of a rank window — the
    // window sorted every query's FULL candidate set inside one shuffle
    // partition; the heap keeps ≤K map-side entries per query and combines
    // for free (same (__d ASC, id ASC) total order, ids unique — the exact
    // trade BoundedK documents, and the shape pqKnnJoin already uses for
    // its ranking).
    q.crossJoin(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("__ce")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__d", graft.llm.TextOps.quant(
        Similarity.l2sq(col("__qe"), col("__ce")), 6))
      .groupBy("query_id")
      .agg(graft.llm.TextOps.minKBy(col("__d"), col("neighbor_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id")).persist()
  }

  def pqRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val truth = l2TruthTopK(s, d) // released before return
    def one(name: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(lit(name).as("method"), col("query_id"), col("n_hit"),
          graft.llm.TextOps.quant(col("n_hit") / lit(TopK.toDouble), 4).as("recall"))
    // seed-codebook search: slice codebook from the seed vectors (float
    // subvecs — the llm_ann_ivfpq codebook), encode, ADC scan
    val seedRows = seeds(s, d).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val seedCb = (for { (vid, e) <- seedRows.toSeq; j <- 0 until M }
      yield (j, vid, e.slice(j * Sub, j * Sub + Sub).map(_.toDouble)))
    val qsv = seedRows.filter(_._1 < NQueries)
      .map { case (vid, e) => (vid, e.map(_.toDouble)) }.toSeq
    val seedCbDf = seedCb.map { case (j, vid, sv) => (j, vid, sv.map(_.toFloat).toSeq) }
      .toDF("sub", "code_id", "subvec")
    val seedSearch = Similarity.pqSearchADC(qsv,
      Similarity.pqEncode(emb, seedCbDf, M, Dim), seedCb, M, TopK)
    // r21: the trained search reuses the seedRows collect (queries are the
    // original embeddings of vec_id < NQueries ⊂ the seed rows, identical
    // float→double widening) instead of calling pqSearch's own collect —
    // one fewer embeddings scan + collect job per run; values unchanged.
    val cbRows = trainedCb(s, d)
    val trainedCbDf = cbRows.map { case (j, vid, sv) => (j, vid, sv.toSeq) }
      .toDF("sub", "code_id", "subvec")
    val trainedSearch = Similarity.pqSearchADC(qsv,
      Similarity.pqEncode(emb, trainedCbDf, M, Dim), cbRows, M, TopK)
    // materialize the tiny result (2·NQueries rows) so the truth cache can
    // be released NOW — otherwise its blocks leak into every later query of
    // a full Verify/Bench run (the harness action happens after we return)
    val out = one("pq_seed", seedSearch)
      .unionByName(one("pq_trained", trainedSearch)).localCheckpoint(true)
    truth.unpersist()
    out
  }

  // ---- oracles ----------------------------------------------------------

  private def l2Sql(a: String, b: String) =
    s"""list_sum(list_transform(range(1, ${Sub + 1}),
        k -> ($a[k]::DOUBLE - $b[k]::DOUBLE) * ($a[k]::DOUBLE - $b[k]::DOUBLE)))"""

  // codebook + per-(vector,subspace) nearest codeword from SEED codewords
  // (the ivfpq oracle keeps this shape; encode/search train theirs below)
  private def encodeCtes = s"""cb AS MATERIALIZED (
      SELECT CAST(j AS INTEGER) AS sub, vec_id AS code_id,
             embedding[(j*$Sub+1):(j*$Sub+$Sub)] AS subvec
      FROM embeddings, unnest(range(0, $M)) AS u(j) WHERE vec_id < $KCodes),
    sv AS (
      SELECT vec_id, CAST(j AS INTEGER) AS sub,
             embedding[(j*$Sub+1):(j*$Sub+$Sub)] AS svec
      FROM embeddings, unnest(range(0, $M)) AS u(j)),
    dists AS MATERIALIZED (
      SELECT sv.vec_id, sv.sub, cb.code_id,
             ${qSql(l2Sql("svec", "subvec"), 6)} AS d
      FROM sv JOIN cb USING (sub)),
    enc AS MATERIALIZED (
      SELECT vec_id, sub, code_id AS code, d AS dist_q FROM (
        SELECT vec_id, sub, code_id, d,
          row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY d ASC, code_id ASC) AS rn
        FROM dists) t WHERE rn = 1)"""

  /** Codebook TRAINING replay: cb0 = seed slices, then `Iters` Lloyd rounds —
    * per round the (vector, subspace) argmin assignment (quant6 L2, min-code
    * tie-break) and the decimal-exact per-dimension member mean, a codeword
    * with no members keeping its previous position. Bit-for-bit the
    * computation [[graft.llm.Similarity.pqTrainCodebook]] runs. Every
    * multiply-referenced CTE is MATERIALIZED (DuckDB inlines per reference
    * otherwise — the chain would expand exponentially). */
  private def trainCtes: String = {
    val head = s"""sv AS MATERIALIZED (
      SELECT vec_id, CAST(j AS INTEGER) AS sub,
             embedding[(j*$Sub+1):(j*$Sub+$Sub)] AS svec
      FROM embeddings, unnest(range(0, $M)) AS u(j)),
    svd AS MATERIALIZED (
      SELECT vec_id, sub, CAST(generate_subscripts(svec, 1) AS INTEGER) AS dim,
             unnest(svec)::DOUBLE AS v
      FROM sv),
    cb0 AS MATERIALIZED (
      SELECT sub, vec_id AS code_id, list_transform(svec, x -> x::DOUBLE) AS subvec
      FROM sv WHERE vec_id < $KCodes)"""
    val rounds = (1 to Iters).map { r =>
      s"""asg$r AS MATERIALIZED (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code_id AS code,
          row_number() OVER (PARTITION BY s.vec_id, s.sub
            ORDER BY ${qSql(l2Sql("s.svec", "c.subvec"), 6)} ASC, c.code_id ASC) AS rn
        FROM sv s JOIN cb${r - 1} c USING (sub)) t WHERE rn = 1),
    upd$r AS (
      SELECT x.sub, a.code AS code_id, x.dim,
             ${qSql(s"SUM(CAST(${qSql("x.v", 6)} AS DECIMAL(28,8)))::DOUBLE / count(*)", 6)} AS mq
      FROM svd x JOIN asg$r a ON a.vec_id = x.vec_id AND a.sub = x.sub
      GROUP BY 1, 2, 3),
    cb$r AS MATERIALIZED (
      SELECT p.sub, p.code_id, COALESCE(n.subvec, p.subvec) AS subvec
      FROM cb${r - 1} p LEFT JOIN (
        SELECT sub, code_id, list(mq ORDER BY dim) AS subvec
        FROM upd$r GROUP BY 1, 2) n
      ON n.sub = p.sub AND n.code_id = p.code_id)"""
    }
    (head +: rounds).mkString(",\n    ")
  }

  /** Trained-codebook encode: the same argmin as `enc`, against `cb$Iters`. */
  private def encodeCtesTrained = s"""$trainCtes,
    dists AS MATERIALIZED (
      SELECT sv.vec_id, sv.sub, cb.code_id,
             ${qSql(l2Sql("svec", "subvec"), 6)} AS d
      FROM sv JOIN cb$Iters cb USING (sub)),
    enc AS MATERIALIZED (
      SELECT vec_id, sub, code_id AS code, d AS dist_q FROM (
        SELECT vec_id, sub, code_id, d,
          row_number() OVER (PARTITION BY vec_id, sub
            ORDER BY d ASC, code_id ASC) AS rn
        FROM dists) t WHERE rn = 1)"""

  private val pqEncodeOracle =
    s"WITH $encodeCtesTrained\n    SELECT vec_id, sub, code, dist_q FROM enc"

  /** ADC search tail over a given codebook CTE set — shared by the trained
    * search oracle, the seed search embedded in the recall oracle. */
  private def searchSql(ctes: String, cbName: String) = s"""WITH $ctes,
    qd AS MATERIALIZED (
      SELECT q.vec_id AS query_id, q.sub, cb.code_id,
             ${qSql(l2Sql("svec", "subvec"), 6)} AS d
      FROM (SELECT vec_id, sub, svec FROM sv WHERE vec_id < $NQueries) q
      JOIN $cbName cb USING (sub)),
    approx AS (
      SELECT qd.query_id, e.vec_id AS neighbor_id,
             ${qSql("CAST(SUM(CAST(qd.d AS DECIMAL(28,8))) AS DOUBLE)", 6)} AS adist
      FROM enc e JOIN qd ON qd.sub = e.sub AND qd.code_id = e.code
      WHERE qd.query_id <> e.vec_id
      GROUP BY 1, 2)
    SELECT query_id, rank, neighbor_id, adist FROM (
      SELECT query_id, neighbor_id, adist,
        row_number() OVER (PARTITION BY query_id
          ORDER BY adist ASC, neighbor_id ASC) AS rank
      FROM approx) t WHERE rank <= $TopK"""

  private val pqSearchOracle = searchSql(encodeCtesTrained, s"cb$Iters")

  private def l2FullSql(a: String, b: String) =
    s"""list_sum(list_transform(range(1, ${Dim + 1}),
        k -> ($a[k]::DOUBLE - $b[k]::DOUBLE) * ($a[k]::DOUBLE - $b[k]::DOUBLE)))"""

  private val ivfPqSearchOracle = s"""WITH $encodeCtes,
    cd AS MATERIALIZED (
      SELECT e.vec_id, c.vec_id AS cent_id,
             ${qSql(l2FullSql("e.embedding", "c.embedding"), 6)} AS d
      FROM embeddings e, embeddings c WHERE c.vec_id < $KCodes),
    cells AS MATERIALIZED (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cent_id ASC) AS rn
        FROM cd) t WHERE rn = 1),
    probes AS MATERIALIZED (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cent_id ASC) AS rn
        FROM cd WHERE vec_id < $NQueries) t WHERE rn <= $NProbe),
    qd AS MATERIALIZED (
      SELECT q.vec_id AS query_id, q.sub, cb.code_id,
             ${qSql(l2Sql("svec", "subvec"), 6)} AS d
      FROM (SELECT vec_id, sub, svec FROM sv WHERE vec_id < $NQueries) q
      JOIN cb USING (sub)),
    approx AS (
      SELECT qd.query_id, e.vec_id AS neighbor_id,
             ${qSql("CAST(SUM(CAST(qd.d AS DECIMAL(28,8))) AS DOUBLE)", 6)} AS adist
      FROM enc e
      JOIN cells ce ON ce.vec_id = e.vec_id
      JOIN probes p ON p.cell = ce.cell
      JOIN qd ON qd.sub = e.sub AND qd.code_id = e.code
             AND qd.query_id = p.query_id
      WHERE qd.query_id <> e.vec_id
      GROUP BY 1, 2)
    SELECT query_id, rank, neighbor_id, adist FROM (
      SELECT query_id, neighbor_id, adist,
        row_number() OVER (PARTITION BY query_id
          ORDER BY adist ASC, neighbor_id ASC) AS rank
      FROM approx) t WHERE rank <= $TopK"""

  /** Trained codebook + IVF cells/probes over seed centroids, every vector a
    * query — the [[pqKnnJoinQ]] replay. Same building blocks as the pq_search
    * and ivfpq oracles: trained-codebook encode, quant6 subdistances, decimal
    * ADC sum, (adist, neighbor_id) rank. */
  private val pqKnnJoinOracle = s"""WITH $encodeCtesTrained,
    cd AS MATERIALIZED (
      SELECT e.vec_id, c.vec_id AS cent_id,
             ${qSql(l2FullSql("e.embedding", "c.embedding"), 6)} AS d
      FROM embeddings e, embeddings c WHERE c.vec_id < $KCodes),
    cells AS MATERIALIZED (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cent_id ASC) AS rn
        FROM cd) t WHERE rn = 1),
    probes AS MATERIALIZED (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY d ASC, cent_id ASC) AS rn
        FROM cd) t WHERE rn <= $NProbe),
    qd AS MATERIALIZED (
      SELECT q.vec_id AS query_id, q.sub, cb.code_id,
             ${qSql(l2Sql("svec", "subvec"), 6)} AS d
      FROM sv q JOIN cb$Iters cb USING (sub)),
    approx AS (
      SELECT qd.query_id, e.vec_id AS neighbor_id,
             ${qSql("CAST(SUM(CAST(qd.d AS DECIMAL(28,8))) AS DOUBLE)", 6)} AS adist
      FROM enc e
      JOIN cells ce ON ce.vec_id = e.vec_id
      JOIN probes p ON p.cell = ce.cell
      JOIN qd ON qd.sub = e.sub AND qd.code_id = e.code
             AND qd.query_id = p.query_id
      WHERE qd.query_id <> e.vec_id
      GROUP BY 1, 2)
    SELECT query_id, rank, neighbor_id, adist FROM (
      SELECT query_id, neighbor_id, adist,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY adist ASC, neighbor_id ASC) AS BIGINT) AS rank
      FROM approx) t WHERE rank <= $TopK"""

  private val pqRecallOracle = {
    def one(name: String, sql: String) = s"""
    SELECT '$name' AS method, query_id, n_hit,
      ${qSql(s"n_hit / $TopK.0", 4)} AS recall
    FROM (
      SELECT t.query_id,
        CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM truth t LEFT JOIN ($sql) a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY 1) x"""
    s"""
    WITH truth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${qSql(l2FullSql("q.embedding", "e.embedding"), 6)} ASC,
                     e.vec_id ASC) AS rk
        FROM embeddings q, embeddings e
        WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id) t
      WHERE rk <= $TopK)
    ${one("pq_seed", searchSql(encodeCtes, "cb"))}
    UNION ALL ${one("pq_trained", pqSearchOracle)}"""
  }

  // ---- int8 scalar quantization ----------------------------------------

  /** SQ8 scalar quantization (FAISS `SQ8`): each dimension maps to one byte
    * against a per-dim global [min, max] — 4× smaller than float32 with a
    * fixed, data-independent decode, the cheap sibling of PQ that most
    * vector stores run first. One exploded pass builds the 64-row moment
    * table (map-side-combinable min/max — only 64 rows per partition
    * shuffle), which BROADCASTS back onto the same exploded frame for the
    * encode; nothing corpus-sized shuffles. Codes are exact on both engines:
    * (x−lo)/(hi−lo)·255 is pure IEEE double arithmetic on identical float
    * inputs and the rounding is the engine-neutral floor(·+0.5). Global
    * min/max bounds mean the ratio is already in [0,1] — no clamp branch to
    * diverge. `err` is the per-coordinate reconstruction error (quantized
    * 6dp), making the query double as the quantization-quality report. */
  /** (vec_id, dim, xd, lo, hi, code) — the shared long-format SQ8 code
    * frame behind encode and search. */
  private def sq8Codes(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("xd"))
      .persist() // feeds the moment pass AND the encode pass
    val mm = x.groupBy("dim").agg(min("xd").as("lo"), max("xd").as("hi"))
    // |vecs|·dim long-format codes; eager so the x cache releases NOW (and
    // sq8Search's double consumption reads checkpoint blocks, not a re-run)
    val out = x.join(broadcast(mm), "dim")
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("xd"),
        col("lo"), col("hi"),
        when(col("hi") === col("lo"), 0L)
          .otherwise(floor((col("xd") - col("lo")) / (col("hi") - col("lo")) * 255 + 0.5)
            .cast("long")).as("code"))
      .localCheckpoint(true)
    x.unpersist()
    out
  }

  def sq8Encode(s: SparkSession, d: String): DataFrame =
    sq8Codes(s, d)
      .select(col("vec_id"), col("dim"), col("code"),
        graft.llm.TextOps.quant(
          abs(col("lo") + col("code") / lit(255.0) * (col("hi") - col("lo")) - col("xd")),
          6).as("err"))

  /** SQ8 asymmetric-distance search: queries keep their EXACT coordinates,
    * the corpus is read as dequantized codes (the SQ analog of PQ's ADC).
    * The per-dim squared error is decimal-quantized before the DECIMAL sum
    * so ranking is engine-exact; the per-query top-K is the bounded
    * [[graft.functions.BoundedK]] heap (≤K map-side state), never a
    * window sort over all candidates. The 256-row (query, dim) table
    * broadcasts; the codes table never shuffles for scoring — only the
    * (query, vec) partial sums move, map-side combined. */
  def sq8Search(s: SparkSession, d: String): DataFrame = {
    val codes = sq8Codes(s, d) // already checkpointed: both consumers read blocks
    val qd = codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("dim"), col("xd").as("qv"))
    val e = col("lo") + col("code") / lit(255.0) * (col("hi") - col("lo")) - col("qv")
    val dists = codes.join(broadcast(qd), Seq("dim"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.llm.TextOps.quant(e * e, 6).as("dd"))
      .groupBy("query_id", "neighbor_id")
      .agg(graft.llm.TextOps.quant(
        sum(col("dd").cast(DecimalType(28, 8))).cast(DoubleType), 6).as("adist"))
    dists.groupBy("query_id")
      .agg(graft.llm.TextOps.minKBy(col("adist"), col("neighbor_id"), TopK).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("query_id"), (col("p") + 1).cast(LongType).as("rank"),
        col("t.id").as("neighbor_id"), col("t.key").as("adist"))
  }

  /** Recall@[[TopK]] of [[sq8Search]] against the exact L2 truth — the
    * SQ-family member of the live index-trust measurements (pq_recall /
    * ann_recall / lsh_eval). SQ8's per-dim half-step error is tiny next to
    * the 64-dim distances, so recall here should sit near 1000‰ — which is
    * the point: the measurement, not the assumption, is what ships. */
  def sq8Recall(s: SparkSession, d: String): DataFrame = {
    val truth = l2TruthTopK(s, d) // released before return
    val out = truth.join(
        sq8Search(s, d).select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(lit("sq8").as("method"), col("query_id"), col("n_hit"),
        graft.llm.TextOps.quant(col("n_hit") / lit(TopK.toDouble), 4).as("recall"))
      .localCheckpoint(true) // tiny; lets the truth cache release NOW
    truth.unpersist()
    out
  }

  private val sq8SearchOracle = {
    val deq = "(lo + code / 255.0 * (hi - lo) - qv)"
    s"""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS xd
      FROM embeddings),
    mm AS (SELECT dim, min(xd) AS lo, max(xd) AS hi FROM x GROUP BY 1),
    enc AS (
      SELECT vec_id, x.dim, lo, hi,
             CASE WHEN hi = lo THEN 0
                  ELSE CAST(floor((xd - lo) / (hi - lo) * 255 + 0.5) AS BIGINT)
             END AS code
      FROM x JOIN mm USING (dim)),
    qd AS (SELECT vec_id AS query_id, dim, xd AS qv FROM x WHERE vec_id < $NQueries),
    dd AS (
      SELECT qd.query_id, e.vec_id AS neighbor_id,
             ${qSql(s"$deq * $deq", 6)} AS d
      FROM enc e JOIN qd ON qd.dim = e.dim AND qd.query_id <> e.vec_id),
    approx AS (
      SELECT query_id, neighbor_id,
             ${qSql("CAST(SUM(CAST(d AS DECIMAL(28,8))) AS DOUBLE)", 6)} AS adist
      FROM dd GROUP BY 1, 2)
    SELECT query_id, rank, neighbor_id, adist FROM (
      SELECT query_id, neighbor_id, adist,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY adist ASC, neighbor_id ASC) AS BIGINT) AS rank
      FROM approx) t
    WHERE rank <= $TopK"""
  }

  private lazy val sq8RecallOracle = s"""
    WITH truth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${qSql(l2FullSql("q.embedding", "e.embedding"), 6)} ASC,
                     e.vec_id ASC) AS rk
        FROM embeddings q, embeddings e
        WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id) t
      WHERE rk <= $TopK)
    SELECT 'sq8' AS method, query_id, n_hit,
      ${qSql(s"n_hit / $TopK.0", 4)} AS recall
    FROM (
      SELECT t.query_id,
        CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM truth t LEFT JOIN ($sq8SearchOracle) a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY 1) x"""

  private val sq8Oracle = s"""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS xd
      FROM embeddings),
    mm AS (SELECT dim, min(xd) AS lo, max(xd) AS hi FROM x GROUP BY 1),
    enc AS (
      SELECT vec_id, CAST(x.dim AS BIGINT) AS dim,
             CASE WHEN hi = lo THEN 0
                  ELSE CAST(floor((xd - lo) / (hi - lo) * 255 + 0.5) AS BIGINT)
             END AS code, xd, lo, hi
      FROM x JOIN mm USING (dim))
    SELECT vec_id, dim, code,
           ${qSql("abs(lo + code / 255.0 * (hi - lo) - xd)", 6)} AS err
    FROM enc"""

  def qs: Map[String, Q] = Map(
    "llm_sq8_encode" -> Q(sq8Encode, Some(sq8Oracle)),
    "llm_sq8_search" -> Q(sq8Search, Some(sq8SearchOracle)),
    "llm_sq8_recall" -> Q(sq8Recall, Some(sq8RecallOracle)),
    "llm_pq_encode" -> Q(pqEncode, Some(pqEncodeOracle)),
    "llm_pq_search" -> Q(pqSearch, Some(pqSearchOracle)),
    "llm_pq_recall" -> Q(pqRecall, Some(pqRecallOracle)),
    "llm_ann_ivfpq" -> Q(ivfPqSearch, Some(ivfPqSearchOracle)),
    "llm_pq_knn_join" -> Q(pqKnnJoinQ, Some(pqKnnJoinOracle)))
}
