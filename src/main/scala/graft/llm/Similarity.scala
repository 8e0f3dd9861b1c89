package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.BandJoin

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k: correct baseline, O(|Q|·|C|) — only sane when
  *    the query side is small enough to broadcast (it is here; at scale it is
  *    the per-bucket fallback);
  *  - random-hyperplane LSH: each vector gets a b-bit signature (sign of the
  *    dot product against b fixed ±1 hyperplanes); candidates share the
  *    bucket, top-k is computed within it. The corpus shuffles ONCE on the
  *    bucket key; no cross-join ever materializes. Multi-probe (flipping
  *    low-margin bits) is the recall knob at scale.
  *
  * All arithmetic is double-precision over the float values with fixed
  * (hash-derived) hyperplanes, so the DuckDB oracle reproduces every bucket
  * and every cosine bit-for-bit.
  */
object Similarity {

  private def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftExpressions.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftExpressions.expression(c)

  /** Double-precision cosine similarity of two float-array columns — a
    * native codegen'd one-pass kernel ([[graft.functions.CosineSim]]),
    * bit-identical to [[cosineFolded]]. */
  def cosine(a: Column, b: Column): Column =
    bridge(graft.functions.CosineSim(expr(a), expr(b)))

  /** The higher-order-function form of [[cosine]] (`zip_with` product +
    * sequential `aggregate` fold). Interpreted, so ~6 lambda traversals per
    * pair — kept as the executable spec the native kernel is verified
    * against. */
  def cosineFolded(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0d), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Deterministic ±1 hyperplanes: plane j, dimension d. */
  def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes)(j => Array.tabulate(dim)(d =>
      if ((TextOps.hash60Str(s"plane:$j:$d") & 1L) == 1L) 1d else -1d))

  /** Plane count for a corpus of `n` vectors targeting `perBucket` vectors
    * per bucket. Bucket count MUST grow with the corpus — a fixed 2^b bucket
    * space makes within-bucket pairing quadratic once n >> 2^b. At 100 TB
    * (billions of vectors) this yields ~22+ planes; callers that need an
    * engine-independent oracle pin the count instead and document the scale. */
  def planesFor(n: Long, perBucket: Int = 256): Int = {
    val buckets = math.max(1.0, n.toDouble / perBucket)
    math.max(4, math.ceil(math.log(buckets) / math.log(2)).toInt)
  }

  /** Near-duplicate pairs by cosine ≥ `threshold`, bucket-joined under
    * corpus-scaled hyperplanes (the production entry point — one count job
    * to size the bucket space, then one shuffle on the bucket key). */
  def nearDupPairs(corpus: DataFrame, threshold: Double, dim: Int,
                   id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val ps = planes(planesFor(corpus.count()), dim)
    bucketPairs(corpus.select(col(id).as("vec_id"), col(emb).as("embedding"),
        lshBucket(col(emb), ps).as("bucket")))
      .filter(col("cos") >= threshold)
  }

  /** (i, j, cos) for every pair of a (vec_id, embedding, bucket) frame that
    * shares a bucket: `i < j`, so no vector pairs with itself and each pair
    * comes out once, and `cos` is quantized to 4 places. The single-bucket
    * LSH join every threshold and hard-negative pass starts from — one
    * equi-join on the bucket key, never an all-pairs product. Nothing is
    * persisted: the two join sides do not share an exchange, so a caller
    * whose bucket frame is costly to compute persists it. */
  def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.as("a").join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        TextOps.quant(cosine(col("a.embedding"), col("b.embedding")), 4).as("cos"))

  /** Banded near-dup pairs over a FIXED plane family: `bands` keys of
    * `perBand` bits each, a pair is a candidate when ANY band agrees
    * (recall 1−(1−p^perBand)^bands instead of the single-bucket p^planes),
    * then one exact-cosine verify per DEDUPED candidate. When the whole
    * family fits one Long (≤ 62 planes) the signature is ONE codegen'd
    * kernel pass and band keys are bit slices; wider families compute one
    * kernel per band. Candidates dedupe BEFORE the verify and embeddings
    * join back by key — never an all-pairs product. */
  def bandedPairsWith(corpusIn: DataFrame, ps: Array[Array[Double]],
                      bands: Int, perBand: Int, threshold: Double,
                      id: String = "vec_id", emb: String = "embedding"): DataFrame =
    // persist: feeds the signature pass AND both verify sides
    bandedCore(corpusIn.select(col(id), col(emb).as("embedding")).persist(),
      ps, bands, perBand, threshold, id)

  /** [[bandedPairsWith]] over an already-projected-and-persisted
    * (id, embedding) frame — lets [[bandedNearDupPairs]] share one cached
    * scan between its sizing count and the signature pass. */
  private def bandedCore(corpus: DataFrame, ps: Array[Array[Double]],
                         bands: Int, perBand: Int, threshold: Double,
                         id: String): DataFrame = {
    require(ps.length == bands * perBand, "plane family must be bands x perBand")
    // MATERIALIZE the signature as a named column BEFORE the band-key
    // projection: inlining the kernel into the explode's array would
    // evaluate it once per band per row (Generate does no subexpression
    // elimination) — the dominant scan at corpus scale. The ≤62-plane
    // family is one kernel column sliced into band bits; wider families
    // (the 10^9-vector regime) carry one kernel column per band, each
    // evaluated once.
    val sigCols: Seq[Column] =
      if (bands * perBand <= 62) Seq(lshBucket(col("embedding"), ps).as("__sig0"))
      else (0 until bands).map(b =>
        lshBucket(col("embedding"), ps.slice(b * perBand, (b + 1) * perBand))
          .as(s"__sig$b"))
    val bandKeys: Seq[Column] =
      if (bands * perBand <= 62) BandJoin.bitBands(col("__sig0"), bands, perBand)
      else (0 until bands).map(b => col(s"__sig$b"))
    val bb = BandJoin.bandRows(corpus.select(col(id) +: sigCols: _*), Seq(id), bandKeys)
    // a pair colliding in several bands verifies ONCE
    val cands = BandJoin.selfPairs(bb, BandJoin.BandKey, id)
    // pair-set-sized; eager so the two caches above release NOW instead of
    // leaking for the session lifetime (r19 ADVICE)
    val out = cands
      .join(corpus.select(col(id).as("i"), col("embedding").as("ea")), "i")
      .join(corpus.select(col(id).as("j"), col("embedding").as("eb")), "j")
      .select(col("i"), col("j"),
        TextOps.quant(cosine(col("ea"), col("eb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .localCheckpoint(true)
    corpus.unpersist(); bb.unpersist()
    out
  }

  /** [[bandedPairsWith]] under CORPUS-SCALED planes — the production banded
    * entry point: `perBand = planesFor(n)` keeps every band's buckets
    * ~perBucket-thin as the corpus grows (the knob that makes the
    * single-bucket form lose recall), while the OR-of-`bands` keeps recall
    * high. At 10^9 vectors this is 4 bands × ~22 planes — past a Long's
    * bits, so the per-band kernel branch engages automatically. */
  def bandedNearDupPairs(corpus: DataFrame, threshold: Double, dim: Int,
                         bands: Int = 4,
                         id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    // count the PERSISTED projection bandedPairsWith consumes, so the
    // sizing pass and the signature pass share one scan of the input
    val prepared = corpus.select(col(id), col(emb).as("embedding")).persist()
    val perBand = planesFor(prepared.count())
    bandedCore(prepared, planes(bands * perBand, dim), bands, perBand,
      threshold, id)
  }

  /** b-bit LSH bucket of an embedding column under fixed hyperplanes — all
    * plane dots in ONE codegen'd traversal ([[graft.functions.LshBucket]]),
    * bit-identical to [[lshBucketFolded]]. */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    bridge(graft.functions.LshBucket(expr(emb), planes.map(_.toSeq).toSeq))

  /** The higher-order-function form of [[lshBucket]]: b interpreted
    * `aggregate(zip_with(...))` traversals — the executable spec for the
    * native kernel. */
  def lshBucketFolded(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val dot = aggregate(
        zip_with(emb, lit(p), (x, w) => x.cast(DoubleType) * w),
        lit(0d), (acc, v) => acc + v)
      when(dot > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Hard ceiling on [[bruteTopK]]'s query side: past this a brute cross is
    * a quadratic scale-killer, not a truth baseline — callers must route
    * through the LSH/IVF/PQ paths instead. */
  val BruteQueryCap = 100000L

  /** Brute-force top-k: every query row against the whole corpus. The query
    * side must be small (broadcast nested-loop join by construction) — a
    * limit-guarded count enforces [[BruteQueryCap]] at runtime so a corpus-
    * scale frame can't silently ship a quadratic cross. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                queryId: String = "vec_id", corpusId: String = "vec_id"): DataFrame = {
    // ONE bounded probe: limit(cap+1) never scans past cap+1 rows
    val probed = queries.limit(BruteQueryCap.toInt + 1).count()
    require(probed <= BruteQueryCap,
      s"bruteTopK query side exceeds $BruteQueryCap rows — brute force is the " +
        "EVAL-tier truth baseline; use lshTopK/ivfTopK/pq paths at corpus scale")
    val q = broadcast(queries.select(col(queryId).as("query_id"), col("embedding").as("__qe")))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col("embedding").as("__ce"))
    rank(q.crossJoin(c), k)
  }

  /** LSH top-k: join on the bucket key — one shuffle of the corpus by bucket,
    * candidates only within buckets. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Array[Array[Double]],
              queryId: String = "vec_id", corpusId: String = "vec_id"): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), col("embedding").as("__qe"),
      lshBucket(col("embedding"), planes).as("__bucket"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col("embedding").as("__ce"),
      lshBucket(col("embedding"), planes).as("__bucket"))
    rank(broadcast(q).join(c, "__bucket"), k)
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into cells around
    * centroid vectors; a query searches only its `nprobe` nearest cells.
    *
    * Centroids here are DESIGNATED corpus vectors (deterministic — k-means
    * would converge them, but a reproducible cell assignment is what the
    * correctness oracle needs; at scale you'd run k-means|| once offline
    * and pass the result in). Assignment is a broadcast argmax over the
    * centroid set — one narrow pass; the only shuffle is the cell-key join,
    * exactly like the LSH path but with learned/designated regions instead
    * of random hyperplanes. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int,
              queryId: String = "vec_id", corpusId: String = "vec_id",
              centroidId: String = "vec_id"): DataFrame =
    ivfTopKFromCells(queries, ivfCells(corpus, centroids, corpusId, centroidId),
      centroids, k, nprobe, queryId, centroidId)

  private def withCentCos(df: DataFrame, centroids: DataFrame,
                          centroidId: String): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centroidId).as("__cent_id"), col("embedding").as("__cent")))
    df.crossJoin(cents)
      .withColumn("__ccos", TextOps.quant(cosine(col("embedding"), col("__cent")), 6))
  }

  /** Cosine cell assignment `(neighbor_id, __cell, __ce)` — the index-build
    * half of [[ivfTopK]], exposed so an incrementally-maintained (streaming)
    * index runs the identical computation per batch. Nearest cell per corpus
    * vector is an ARGMAX, so a map-side-combinable hash aggregate (max_by on
    * the strictly-unique (ccos, -cent_id) key — same tie order as the
    * oracle's cent_id ASC), NOT a sort window: the cross-product never
    * shuffles, only one pre-combined row per vector does. */
  def ivfCells(corpus: DataFrame, centroids: DataFrame,
               corpusId: String = "vec_id",
               centroidId: String = "vec_id"): DataFrame =
    withCentCos(corpus.select(col(corpusId).as("neighbor_id"), col("embedding")),
        centroids, centroidId)
      .groupBy(col("neighbor_id"))
      .agg(max_by(col("__cent_id"), struct(col("__ccos"), -col("__cent_id"))).as("__cell"),
        first(col("embedding")).as("__ce"))

  /** The probe half of [[ivfTopK]]: queries pick their nprobe nearest cells,
    * the prebuilt cell index supplies candidates, cosine top-k ranks. The
    * query-side rank is a window, but the query set is tiny by contract —
    * control-plane sized. */
  def ivfTopKFromCells(queries: DataFrame, corpusCells: DataFrame,
                       centroids: DataFrame, k: Int, nprobe: Int,
                       queryId: String = "vec_id",
                       centroidId: String = "vec_id"): DataFrame = {
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("__cent_id").asc)
    val queryCells = withCentCos(
        queries.select(col(queryId).as("query_id"), col("embedding")),
        centroids, centroidId)
      .withColumn("__cr", row_number().over(qw))
      .filter(col("__cr") <= nprobe) // probe the nprobe nearest cells
      .select(col("query_id"), col("embedding").as("__qe"), col("__cent_id").as("__cell"))
    // no dedup needed: each corpus vector lives in EXACTLY one cell and a
    // query's nprobe cells are distinct, so a (query, neighbor) pair meets
    // at most once — the join output is already pair-unique
    rank(broadcast(queryCells).join(corpusCells, "__cell"), k)
  }

  /** Corpus-scale k-NN JOIN — [[ivfTopKFromCells]] for a query side too big
    * to broadcast (building contrastive/retrieval training pairs means every
    * document is a query). Three structural changes from the probe form:
    * the query-side nprobe rank is a window keyed by query_id (a real
    * shuffle — the query set is corpus-sized by assumption), the cell join
    * is a plain shuffled equi-join on the cell key (both sides hash-
    * partition by cell; no broadcast anywhere), and ranking uses the
    * bounded [[graft.functions.BoundedK]] heap aggregate — ≤k entries of
    * map-side state per query — instead of a window sort over every
    * candidate. Per-query candidate count is bounded by its nprobe cells'
    * sizes, so nothing is quadratic in the corpus; a hot cell is the skew
    * knob (AQE splits it, or pre-split cells by training finer centroids). */
  def knnJoinIvf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                 k: Int, nprobe: Int,
                 queryId: String = "vec_id", corpusId: String = "vec_id",
                 centroidId: String = "vec_id"): DataFrame = {
    val cells = ivfCells(corpus, centroids, corpusId, centroidId)
    // r21: the corpus-sized query-side nprobe rank is the bounded top-K
    // heap aggregate (same (__ccos DESC, __cent_id ASC) total order as the
    // old rank window, centroid ids unique) — ≤nprobe map-side entries per
    // query instead of sorting every query's centroid cross in the shuffle
    val queryCells = withCentCos(
        queries.select(col(queryId).as("query_id"), col("embedding")),
        centroids, centroidId)
      .groupBy(col("query_id"))
      .agg(TextOps.topKBy(col("__ccos"), col("__cent_id"), nprobe).as("__tk"),
        first(col("embedding")).as("__qe"))
      .select(col("query_id"), col("__qe"), explode(col("__tk")).as("__t"))
      .select(col("query_id"), col("__qe"), col("__t.id").as("__cell"))
    val cands = queryCells.join(cells, "__cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", TextOps.quant(cosine(col("__qe"), col("__ce")), 4))
    cands.groupBy("query_id")
      .agg(TextOps.topKBy(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("query_id"), (col("p") + 1).cast(LongType).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos"))
  }

  /** Multi-probe LSH top-k — the recall knob: each query probes its own
    * bucket PLUS every bucket at Hamming distance 1 (one sign bit flipped),
    * catching neighbors that straddle a single hyperplane. Probes explode on
    * the QUERY side (b+1 rows per query, still an equi-join on the bucket
    * key) so the corpus shuffles exactly once and nothing is quadratic;
    * candidate pairs met in several probes dedup before ranking. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
                        planes: Array[Array[Double]],
                        queryId: String = "vec_id", corpusId: String = "vec_id"): DataFrame = {
    val bucket = lshBucket(col("embedding"), planes)
    val probes = array(bucket +: planes.indices.map(j =>
      bucket.bitwiseXOR(lit(1L << j))): _*)
    val q = queries.select(col(queryId).as("query_id"), col("embedding").as("__qe"),
      explode(probes).as("__bucket"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col("embedding").as("__ce"),
      bucket.as("__bucket"))
    // no dedup needed: the b+1 probe buckets of a query are pairwise distinct
    // (bucket ^ (1<<j) are all different) and each corpus vector hashes to
    // ONE bucket, so a (query, neighbor) pair meets in at most one probe
    rank(broadcast(q).join(c, "__bucket"), k)
  }

  /** One distributed Lloyd iteration — the k-means step semantic-dedup and
    * curriculum pipelines run over corpus embeddings: assign every vector
    * to its nearest centroid by cosine, then recompute each centroid as the
    * per-dimension member mean.
    *
    * Scale shape: assignment is a broadcast-centroids cross consumed by a
    * map-side-combinable argmax (the corpus never shuffles for it; same
    * shape as [[ivfTopK]]'s cell assignment); the update is ONE
    * (cluster, dim) hash aggregation whose sums are decimal-exact —
    * order-independent, so the new centroids are bit-reproducible on any
    * partitioning. Output is flat per-dim rows
    * `(cent_id, dim, mean_q, n_members)` — the array form is one
    * `collect_list` away, flat rows hash-compare across engines. */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame,
                 corpusId: String = "vec_id",
                 centroidId: String = "vec_id"): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centroidId).as("__cent_id"), col("embedding").as("__cent")))
    val assigned = corpus.select(col(corpusId).as("__vid"), col("embedding"))
      .crossJoin(cents)
      .withColumn("__ccos", TextOps.quant(cosine(col("embedding"), col("__cent")), 6))
      .groupBy(col("__vid"))
      .agg(max_by(col("__cent_id"), struct(col("__ccos"), -col("__cent_id"))).as("cent_id"),
        first(col("embedding")).as("__e"))
    assigned
      .select(col("cent_id"), posexplode(col("__e")).as(Seq("dim", "__v")))
      .groupBy(col("cent_id"), col("dim").cast(LongType).as("dim"))
      .agg(
        TextOps.quant(
          sum(TextOps.quant(col("__v").cast(DoubleType), 6).cast(DecimalType(28, 8)))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_q"),
        count(lit(1)).as("n_members"))
  }

  /** Iterated Lloyd: run [[kmeansStep]] `iters` times, feeding each round's
    * centroids back in. Centroids are CONTROL-PLANE data (k × dim doubles —
    * kilobytes at any corpus size), so collecting them to the driver and
    * re-broadcasting per round is the correct shape: the corpus-sized work
    * stays distributed, and there is no growing lineage to checkpoint
    * because each round starts from a fresh literal centroid frame.
    * Returns the final per-dim centroid rows (kmeansStep's shape). */
  def kmeansIterate(corpus: DataFrame, seeds: DataFrame, iters: Int,
                    corpusId: String = "vec_id"): DataFrame = {
    require(iters > 0, s"kmeansIterate needs at least one iteration, got $iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    // centroid state lives on the driver across rounds (control-plane sized);
    // a centroid that wins no members keeps its PREVIOUS position instead of
    // vanishing — standard Lloyd never shrinks k mid-run
    var centsMap: Map[Long, Seq[Float]] = seeds
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    var lastRows: Array[org.apache.spark.sql.Row] = Array.empty
    (0 until iters).foreach { _ =>
      val cents = centsMap.toSeq.toDF("vec_id", "embedding")
      lastRows = kmeansStep(corpus, cents, corpusId = corpusId).collect()
      val means = lastRows.groupBy(_.getLong(0)).map { case (cid, rs) =>
        cid -> rs.sortBy(_.getLong(1)).map(r => r.getDouble(2).toFloat).toSeq
      }
      centsMap = centsMap ++ means
    }
    // the final round is already on the driver — return it as a literal
    // frame instead of a lazy plan that would re-run the whole step on use
    lastRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.toDF("cent_id", "dim", "mean_q", "n_members")
  }

  /** Squared-Euclidean distance — codegen'd one-pass kernel
    * ([[graft.functions.L2Sq]]), bit-identical to [[l2sqFolded]]. */
  def l2sq(a: Column, b: Column): Column =
    bridge(graft.functions.L2Sq(expr(a), expr(b)))

  /** Interpreted executable spec for [[l2sq]]. */
  def l2sqFolded(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (p, q) => {
        val d = p.cast(DoubleType) - q.cast(DoubleType); d * d
      }),
      lit(0d), (acc, v) => acc + v)

  // ---- product quantization --------------------------------------------

  /** PQ codebook rows `(sub, code_id, subvec)` from DESIGNATED seed vectors
    * (Jégou et al. 2011 "Product Quantization for Nearest Neighbor Search"):
    * each seed's embedding is sliced into `m` contiguous subvectors. Seeds
    * stand in for per-subspace k-means codebooks — deterministic, which is
    * what the correctness oracle needs; at scale you'd run [[kmeansIterate]]
    * per subspace offline and pass the result in, and nothing downstream
    * changes. The codebook is control-plane sized (m · k · dim/m floats). */
  def pqCodebook(seeds: DataFrame, m: Int, dim: Int,
                 id: String = "vec_id"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    seeds.select(col(id).as("code_id"),
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          slice(col("embedding"), j * sub + 1, sub).as("subvec"))): _*)).as("s"))
      .select(col("s.sub").as("sub"), col("code_id"), col("s.subvec"))
  }

  /** Train per-subspace PQ codebooks with Lloyd iterations (the production
    * path [[pqCodebook]]'s Scaladoc promises — Jégou et al. 2011 §II.C train
    * one k-means per subspace): seeds give the initial codewords, then each
    * round reassigns every (vector, subspace) slice to its nearest codeword
    * (squared L2, min-code tie-break — [[pqEncode]]'s exact argmin) and
    * recomputes each codeword as the per-dimension member mean. All `m`
    * subspaces train in ONE corpus-scale job per round: the broadcast
    * codebook cross collapses through a map-side argmin, the mean is a
    * decimal-exact (sub, code, dim) hash aggregate, and only m·k·(dim/m)
    * control-plane rows come back to the driver. A codeword with no members
    * keeps its previous position (standard Lloyd; same convention as
    * [[kmeansIterate]]). Means are quant6 so the DuckDB oracle replays the
    * trained codebook bit-for-bit.
    *
    * Returns driver-side rows `(sub, code_id, subvec)` — control-plane
    * sized, ready for [[pqEncode]] (via a literal frame) and the ADC search
    * distance tables. */
  def pqTrainCodebook(corpus: DataFrame, seeds: DataFrame, m: Int, dim: Int,
                      iters: Int, id: String = "vec_id"): Seq[(Int, Long, Array[Double])] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(iters >= 0, s"negative iteration count $iters")
    val sub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    // initial codebook: seed slices widened to double (kilobytes)
    var cb: Map[(Int, Long), Array[Double]] = seeds
      .select(col(id), col("embedding")).collect().flatMap { r =>
        val vid = r.getLong(0)
        val e = r.getSeq[Float](1).toArray
        (0 until m).map(j => (j, vid) -> e.slice(j * sub, j * sub + sub).map(_.toDouble))
      }.toMap
    // the per-round job scans this sliced frame — materialize it once
    val sv = corpus.select(col(id).as("vec_id"),
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          slice(col("embedding"), j * sub + 1, sub).as("svec"))): _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.svec").as("svec"))
      .persist()
    try {
      (0 until iters).foreach { _ =>
        val cbDf = broadcast(cb.toSeq.map { case ((j, c), v) => (j, c, v.toSeq) }
          .toDF("sub", "code_id", "subvec"))
        val rows = sv.join(cbDf, "sub")
          .withColumn("__d", TextOps.quant(l2sq(col("svec"), col("subvec")), 6))
          .groupBy("vec_id", "sub")
          .agg(max_by(col("code_id"), struct(-col("__d"), -col("code_id"))).as("code"),
            first(col("svec")).as("svec"))
          .select(col("sub"), col("code"), posexplode(col("svec")).as(Seq("dim", "__v")))
          .groupBy("sub", "code", "dim")
          .agg(TextOps.quant(
            sum(TextOps.quant(col("__v").cast(DoubleType), 6).cast(DecimalType(28, 8)))
              .cast(DoubleType) / count(lit(1)), 6).as("mean_q"))
          .collect()
        val means = rows.groupBy(r => (r.getInt(0), r.getLong(1))).map { case (key, rs) =>
          key -> rs.sortBy(_.getInt(2)).map(_.getDouble(3))
        }
        cb = cb ++ means
      }
    } finally { sv.unpersist(); () }
    cb.toSeq.map { case ((j, c), v) => (j, c, v) }.sortBy(t => (t._1, t._2))
  }

  /** PQ encode: each vector's `m` subvectors → the id of the nearest
    * codeword (squared L2, deterministic min-code tie-break). Output
    * `(vec_id, sub, code, dist_q)` — the 1-byte-per-subspace compressed
    * representation that makes billion-vector search memory-bound instead
    * of FLOP-bound.
    *
    * Scale shape: the codebook cross is BROADCAST and collapses through a
    * map-side-combinable argmin before anything shuffles — the corpus
    * never moves; the output is m rows (effectively m bytes) per vector. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int, dim: Int,
               id: String = "vec_id"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    val cb = broadcast(codebook.select(col("sub"), col("code_id"), col("subvec")))
    corpus.select(col(id).as("vec_id"),
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          slice(col("embedding"), j * sub + 1, sub).as("__sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.__sv").as("__sv"))
      .join(cb, "sub")
      .withColumn("__d", TextOps.quant(l2sq(col("__sv"), col("subvec")), 6))
      .groupBy("vec_id", "sub")
      .agg(max_by(col("code_id"), struct(-col("__d"), -col("code_id"))).as("code"),
        min(col("__d")).as("dist_q"))
  }

  /** Asymmetric-distance (ADC) PQ search: the per-query distance TABLE
    * (m × k quantized subdistances — kilobytes) is computed on the driver
    * from the query vectors and the codebook, then baked into the scan as
    * literal lookup arrays: the corpus pass reads each vector's m codes,
    * indexes the table, and decimal-sums — a narrow projection per query
    * with no join, which is the whole point of ADC. (The one shuffle here
    * consolidates the flat encode rows to a wide row per vector — a store
    * that persists codes wide, as a production build would, skips it.)
    * `queries`: (query_id, full embedding) collected rows; `codes`: the
    * [[pqEncode]] output. Returns top-k by approximate distance. */
  def pqSearchADC(queryVecs: Seq[(Long, Array[Double])], codes: DataFrame,
                  codebook: Seq[(Int, Long, Array[Double])],
                  m: Int, k: Int): DataFrame =
    pqSearchADCCore(queryVecs, codes, codebook, m, k, None)

  /** IVF-PQ (IVFADC search layout, Jégou et al. 2011 §V; direct encoding,
    * FAISS `by_residual=false`): the ADC scan touches ONLY vectors whose
    * coarse cell is in the query's probe list, so compressed-domain search
    * reads `nprobe/|cells|` of the codes instead of all of them — the
    * composition that makes billion-vector search both memory-bound (PQ)
    * and sublinear (IVF).
    *
    * `cells`: (vec_id, cell) coarse assignment (see [[coarseCells]]);
    * `probes`: per-query allowed cell ids (driver-computed against the
    * control-plane centroid table — kilobytes). The restriction is one
    * vec_id equi-join (a production build stores the cell WITH the codes
    * and skips even that) plus a literal array-membership filter; the scan
    * itself stays narrow. */
  def pqSearchADCIvf(queryVecs: Seq[(Long, Array[Double])], codes: DataFrame,
                     cells: DataFrame, probes: Map[Long, Seq[Long]],
                     codebook: Seq[(Int, Long, Array[Double])],
                     m: Int, k: Int): DataFrame =
    pqSearchADCCore(queryVecs, codes, codebook, m, k, Some((cells, probes)))

  /** Coarse quantizer: nearest centroid per corpus vector by squared L2
    * (deterministic min-centroid tie-break) — the IVF cell assignment.
    * Broadcast centroid cross collapsed by a map-side-combinable argmin;
    * the corpus never shuffles. */
  def coarseCells(corpus: DataFrame, centroids: DataFrame,
                  id: String = "vec_id", centroidId: String = "vec_id"): DataFrame = {
    val cents = broadcast(centroids.select(
      col(centroidId).as("__cent_id"), col("embedding").as("__cent")))
    corpus.select(col(id).as("vec_id"), col("embedding"))
      .crossJoin(cents)
      .withColumn("__d", TextOps.quant(l2sq(col("embedding"), col("__cent")), 6))
      .groupBy("vec_id")
      .agg(max_by(col("__cent_id"), struct(-col("__d"), -col("__cent_id"))).as("cell"))
  }

  /** Compressed-domain k-NN JOIN — ADC with the distance tables as DATA, not
    * plan literals. [[pqSearchADC]]/[[pqSearchADCIvf]] are the right shape
    * for a probe SET (driver-computed m×k tables baked into one scan), but
    * the plan grows linearly in |queries|: at corpus-scale query volume the
    * literals themselves become the bottleneck (compilation + driver
    * memory). Here the table is a DataFrame: queries explode into m
    * subvectors, a broadcast codebook join scores every (query, sub, code)
    * cell (|Q|·m·k rows — the same kilobytes per query, now distributed),
    * and scoring is an equi-join of those rows to the flat code rows on
    * (cell, sub, code) — both sides hash-partition on the composite key, no
    * broadcast of anything query-sized, no per-query expression. Each
    * (query, neighbor) pair meets in exactly m rows (a vector has one code
    * per subspace, one coarse cell), so the decimal ADC sum is a map-side-
    * combinable groupBy, and ranking is the bounded
    * [[graft.functions.BoundedK]] heap — [[knnJoinIvf]]'s shuffle shape with
    * [[pqSearchADC]]'s compressed scoring. IVF restriction: queries pick
    * nprobe cells by the same quant6 squared-L2 argmin as [[coarseCells]]
    * (a k-min heap grouped by query_id — a real shuffle, the query set is
    * corpus-sized by assumption). */
  def pqKnnJoin(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
                cells: DataFrame, centroids: DataFrame,
                m: Int, dim: Int, k: Int, nprobe: Int,
                queryId: String = "vec_id", centroidId: String = "vec_id"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    val q = queries.select(col(queryId).as("query_id"), col("embedding"))
    // the ADC distance table as a frame: |Q|·m·k quant6 subdistances
    val qd = q.select(col("query_id"),
        explode(array((0 until m).map(j => struct(lit(j).as("sub"),
          slice(col("embedding"), j * sub + 1, sub).as("__sv"))): _*)).as("s"))
      .select(col("query_id"), col("s.sub").as("sub"), col("s.__sv").as("__sv"))
      .join(broadcast(codebook.select(col("sub"), col("code_id"), col("subvec"))), "sub")
      .select(col("query_id"), col("sub"), col("code_id").as("code"),
        TextOps.quant(l2sq(col("__sv"), col("subvec")), 6).as("__d"))
    // nprobe coarse cells per query — the same quant6 L2 argmin as
    // coarseCells. r21: ranked by the bounded k-min heap aggregate (same
    // (__cd ASC, id ASC) total order as the old rank window, ids unique)
    // — the window sorted every query's full centroid cross inside one
    // shuffle partition; the heap keeps ≤nprobe map-side entries per query
    // and combines before the exchange.
    val cents = broadcast(centroids.select(
      col(centroidId).as("__cent_id"), col("embedding").as("__cent")))
    val queryCells = q.crossJoin(cents)
      .withColumn("__cd", TextOps.quant(l2sq(col("embedding"), col("__cent")), 6))
      .groupBy("query_id")
      .agg(TextOps.minKBy(col("__cd"), col("__cent_id"), nprobe).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__t"))
      .select(col("query_id"), col("__t.id").as("cell"))
    // distance-table rows fan out to their query's probe cells, then meet
    // the (cell-annotated) code rows on the composite key — the ONE shuffled
    // equi-join; candidates are bounded by probed-cell sizes, never all-pairs
    val qdc = qd.join(queryCells, "query_id")
    val codeCells = codes.select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
      .join(cells.select(col("vec_id").as("neighbor_id"), col("cell")), "neighbor_id")
    codeCells.join(qdc, Seq("cell", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(TextOps.quant(
        sum(col("__d").cast(DecimalType(28, 8))).cast(DoubleType), 6).as("adist"))
      .groupBy("query_id")
      .agg(TextOps.minKBy(col("adist"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("query_id"), (col("p") + 1).cast(LongType).as("rank"),
        col("t.id").as("neighbor_id"), col("t.key").as("adist"))
  }

  private def pqSearchADCCore(queryVecs: Seq[(Long, Array[Double])], codes: DataFrame,
                              codebook: Seq[(Int, Long, Array[Double])],
                              m: Int, k: Int,
                              restrict: Option[(DataFrame, Map[Long, Seq[Long]])]): DataFrame = {
    // dtab(query)(sub) = sorted-by-code array of quant6 subdistances; code
    // ids are the seed vec_ids — map them to dense positions for indexing
    val codeIds = codebook.map(_._2).distinct.sorted
    val codePos = codeIds.zipWithIndex.toMap
    // consolidate flat encode rows to one wide row per vector ONCE: the
    // single exploded projection below is its only consumer, so it is not
    // cached (a production build persists codes wide to storage and skips
    // the consolidation entirely)
    val flat = codes.groupBy("vec_id")
      .agg(map_from_arrays(collect_list(col("sub")), collect_list(col("code")))
        .as("__cm"))
    // IVF restriction: attach each vector's coarse cell (one vec_id
    // equi-join; a production layout stores the cell with the codes)
    val wide = restrict.fold(flat) { case (cells, _) =>
      flat.join(cells.select(col("vec_id"), col("cell")), "vec_id")
    }
    // ALL queries ride one exploded projection (not a union of per-query
    // branches: each branch's distinct literals would compile its own
    // whole-stage codegen unit — Q compilations for one logical scan)
    val queryStructs = queryVecs.map { case (qid, qv) =>
      val dtab: Map[Int, Array[Double]] = codebook.groupBy(_._1).map {
        case (s, rows) =>
          val arr = new Array[Double](codeIds.length)
          rows.foreach { case (_, cid, cv) =>
            var acc = 0d
            var i = 0
            while (i < cv.length) {
              val d = qv(s * cv.length + i) - cv(i); acc += d * d; i += 1
            }
            arr(codePos(cid)) = math.floor(acc * 1e6 + 0.5) / 1e6 // quant6, driver twin
          }
          s -> arr
      }
      // Σ_sub dtab[sub][code(sub)] as an exact decimal sum of quant6 terms
      val adist = (0 until m).map { s =>
        // literal k-entry lookup array, indexed by the code's dense position
        element_at(lit(dtab(s)), array_position(lit(codeIds.toArray),
          element_at(col("__cm"), lit(s))).cast("int"))
          .cast(DecimalType(28, 8))
      }.reduce(_ + _)
      // per-query probe gate: a literal cell-id membership test — no join
      val ok = restrict.fold(lit(true)) { case (_, probes) =>
        array_contains(lit(probes.getOrElse(qid, Seq.empty[Long]).toArray),
          col("cell"))
      }
      struct(lit(qid).as("query_id"), TextOps.quant(adist.cast(DoubleType), 6).as("adist"),
        ok.as("ok"))
    }
    val perQuery = wide
      .select(col("vec_id").as("neighbor_id"), explode(array(queryStructs: _*)).as("__q"))
      .filter(col("__q.ok"))
      .select(col("__q.query_id").as("query_id"), col("neighbor_id"), col("__q.adist").as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    perQuery.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** Shared ranking tail: cosine (rounded for cross-engine stability),
    * self-match removed, deterministic tie-break, k rows per query. */
  private def rank(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cands
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", TextOps.quant(cosine(col("__qe"), col("__ce")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }
}
