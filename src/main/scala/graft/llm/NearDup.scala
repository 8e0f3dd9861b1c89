package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.BandJoin
import graft.ops.BandJoin.BandKey

/** Document-level text near-dup: candidate pairs → verification → one
  * cluster per connected component. Every kernel takes a plain
  * `(doc_id, text)` frame (or a frame derived from one here), so any
  * source composes; the registry queries in [[graft.queries.LlmOps]] are
  * thin wrappers whose DuckDB oracles read the constants below.
  *
  * Pair discovery is always a key join — shingle, MinHash band key or
  * SimHash band — never an all-pairs product:
  *   - [[cappedShingleIndex]] + [[jaccardVerify]] / [[containment]]: the
  *     inverted shingle index with hot shingles dropped (approximate);
  *   - [[prefixJoinPairs]]: prefix filtering, exact with a bounded index;
  *   - [[minhashPairs]]: MinHash-LSH band candidates, exact-verified;
  *   - [[simhashBandPairs]]: SimHash bands, Hamming-verified;
  *   - [[components]]: any pair set → connected components.
  */
object NearDup {

  val JaccardThreshold = 0.5
  val ContainThreshold = 0.8
  val DfCap = 100 // shingles in more docs than this are uninformative — and explode pair counts
  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand = NumHashes / NumBands
  val SimHamMax = 3 // published near-dup threshold for 32-bit simhash

  // ---- shingle frames ----------------------------------------------------

  /** (doc_id, hs): each doc's distinct 3-shingle HASH array — the frame the
    * MinHash signature branch and every verify branch consume. Hashing
    * happens here, once (the codegen'd Hash60Array kernel): signatures
    * permute the hashes, and verification intersects 8-byte-long sets
    * instead of shingle strings — same exactness (the oracle hashes
    * identically), smaller state everywhere downstream. */
  def hashedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextOps.shingleHash60(TextOps.tokens(col("text")), 3).as("hs"))

  /** (doc_id, s) inverted shingle-hash index with hot shingles removed
    * ([[BandJoin.capHot]] at [[DfCap]]), PERSISTED: it feeds both sides of
    * the pair self-join plus the per-doc sizes, and self-join sides do not
    * share exchanges; the caller unpersists. The source is scanned and
    * tokenized twice (count pass + index pass) — map-only work, where a
    * window form would move AND sort the whole index. */
  def cappedShingleIndex(docs: DataFrame): DataFrame = {
    // rows carry the 60-bit shingle HASH, not the string: the count pass,
    // the cap join and the pair self-join all move 8-byte longs; the oracle
    // hashes identically, so a collision folds the same shingles on both
    // engines and the comparison stays exact
    val sh0 = docs.select(col("doc_id"),
      explode(TextOps.shingleHash60(TextOps.tokens(col("text")), 3)).as("s"))
    BandJoin.capHot(sh0, Seq("s"), DfCap).persist()
  }

  // ---- verification -------------------------------------------------------

  /** (i, j, inter, ni, nj) for every pair sharing a shingle of a DF-CAPPED
    * (doc_id, s) index — the cap bounds the per-shingle fan-out. */
  private def overlaps(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val joined = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    joined.groupBy("i", "j").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "i").withColumnRenamed("n", "ni"), "i")
      .join(sizes.withColumnRenamed("doc_id", "j").withColumnRenamed("n", "nj"), "j")
  }

  /** (i, j, jac): pairs of a capped index with quantized Jaccard ≥
    * `threshold`. Candidate pairs from elsewhere go through
    * [[verifyCandidates]] instead. */
  def jaccardVerify(sh: DataFrame, threshold: Double): DataFrame =
    overlaps(sh)
      .withColumn("jac", TextOps.quant(col("inter") / (col("ni") + col("nj") - col("inter")), 3))
      .filter(col("jac") >= threshold)
      .select("i", "j", "jac")

  /** (i, j, containment): `inter / min(|A|, |B|)` ≥ [[ContainThreshold]]
    * over the same overlap frame — the ASYMMETRIC variant that catches a
    * short document quoted inside a long one, which Jaccard's union
    * denominator dilutes below threshold. */
  def containment(sh: DataFrame): DataFrame =
    overlaps(sh)
      .withColumn("containment", TextOps.quant(col("inter") / least(col("ni"), col("nj")), 3))
      .filter(col("containment") >= ContainThreshold)
      .select("i", "j", "containment")

  /** (i, j, jac): exact-Jaccard verification of candidate pairs (i, j)
    * against a per-doc DISTINCT-element array frame `docSets` (doc_id, ss).
    * One linear join chain — `docSets` is joined by key on each side, so a
    * non-matching doc never streams further than the join; |ss| is the
    * doc's distinct element count. */
  def verifyCandidates(docSets: DataFrame, cands: DataFrame,
                       threshold: Double): DataFrame =
    cands
      .join(docSets.select(col("doc_id").as("i"), col("ss").as("sa")), "i")
      .join(docSets.select(col("doc_id").as("j"), col("ss").as("sb")), "j")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac",
        TextOps.quant(col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 3))
      .filter(col("jac") >= threshold)
      .select("i", "j", "jac")

  // ---- exact all-pairs join (prefix filtering) ----------------------------

  /** EXACT all-pairs Jaccard join (i, j, jac) via prefix filtering (Bayardo
    * et al. 2007; Chaudhuri et al. 2006 SSJoin). Under ANY global total
    * order on shingles, a pair with J ≥ τ must share a shingle within each
    * side's first `|x| − ⌈τ·|x|⌉ + 1` shingles, so only those prefixes are
    * indexed. The order is (document frequency ASC, hash ASC) — rarest
    * first — so the hot shingles that blow up an uncapped index sort to the
    * suffix and are never indexed at all. The per-doc array frame is
    * persisted for the call (one tokenize + shingle + hash pass; the
    * exploded index is re-derived from it per consumer). */
  def prefixJoinPairs(docs: DataFrame): DataFrame = {
    val withHs = hashedShingles(docs).persist()
    val out = prefixJoinFromIndex(
      withHs.select(col("doc_id"), explode(col("hs")).as("s")))
    withHs.unpersist()
    out
  }

  /** [[prefixJoinPairs]] over an already-built uncapped (doc_id, s) index,
    * so a caller can share one shingle pass between pipelines. The result
    * is checkpointed (pair-set-sized), so the caller may release the index
    * as soon as this returns. */
  def prefixJoinFromIndex(sh: DataFrame): DataFrame = {
    val (cands, _, grouped) = prefixCandidates(sh)
    val out = verifyCandidates(grouped, cands, JaccardThreshold).localCheckpoint(true)
    grouped.unpersist()
    out
  }

  /** The prefix join's candidates over a (doc_id, s) index. ONE df-attach +
    * groupBy builds each doc's (df ASC, s ASC)-sorted array `ss`, PERSISTED
    * (read twice by the prefix self-join and twice by the verify); the
    * prefix index is an explode of its head slice. Returns (candidates
    * (i, j), prefix index, grouped): the caller unpersists `grouped`. */
  def prefixCandidates(sh: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val tau = JaccardThreshold
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val grouped = sh.join(df, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("sorted"))
      .select(col("doc_id"), col("sorted.s").as("ss"))
      .persist()
    val pref = grouped
      .select(col("doc_id"), size(col("ss")).as("n"),
        explode(slice(col("ss"), lit(1),
          (size(col("ss")) - ceil(lit(tau) * size(col("ss"))) + 1)
            .cast(IntegerType))).as("s"))
    // candidates: shared prefix shingle + the length filter (a qualifying
    // pair has min ≥ τ·max — τ=0.5 and integer sizes keep the double
    // arithmetic exact; the filter only prunes, the verify decides)
    val cands = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >= lit(tau) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    (cands, pref, grouped)
  }

  // ---- MinHash-LSH --------------------------------------------------------

  /** (doc_id, band, key) MinHash band rows for a (doc_id, text) frame — the
    * unit an LSH index stores. */
  def bandFrame(docs: DataFrame): DataFrame =
    bandFrameFromHashes(hashedShingles(docs))

  /** (doc_id, band, key) band rows of a [[hashedShingles]] frame: ONE
    * codegen'd pass computes the whole signature (MinHashSig); the band
    * explode is narrow. */
  def bandFrameFromHashes(withHs: DataFrame): DataFrame =
    sigBands(withHs.withColumn("sigv", TextOps.minhashSignature(col("hs"), NumHashes)))

  /** (doc_id, band, key) rows of a (doc_id, sigv) signature frame. */
  def sigBands(sigs: DataFrame): DataFrame = {
    val sig = (0 until NumHashes).map(i => element_at(col("sigv"), i + 1))
    BandJoin.bandRows(sigs, Seq("doc_id"),
      (0 until NumBands).map(b => TextOps.bandKey(sig, b, RowsPerBand)))
  }

  /** (i, j, jac): MinHash-LSH near-dup pairs of a (doc_id, text) frame —
    * band-key candidates, verified by exact Jaccard on the shingle-hash
    * sets. The hash frame is persisted (the signature branch and the verify
    * branch both read it), and [[BandJoin.selfPairs]] persists the band
    * frame. Both stay cached, because the lazy result reads them, and the
    * caller gets no handle to either: once the pairs are consumed (e.g. by
    * [[components]], which materializes its result), only
    * `spark.catalog.clearCache()` releases them. */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val withHs = hashedShingles(docs).persist()
    val cands = BandJoin.selfPairs(bandFrameFromHashes(withHs), BandKey)
    verifyCandidates(withHs.select(col("doc_id"), col("hs").as("ss")),
      cands, JaccardThreshold)
  }

  // ---- SimHash ------------------------------------------------------------

  /** (i, j, hamming) over a (doc_id, sh) fingerprint frame: 4 bands of
    * `bandBits` bits, equi-join on (band, key), exact Hamming ≤
    * [[SimHamMax]] (pigeonhole: 4 bands cover Hamming ≤ 3 whatever the
    * band width).
    *
    * This is not [[Multimodal.hammingPairs]], the perceptual families'
    * pair step: the fingerprint rides in the band rows and the distance is
    * a [[BandJoin.selfPairs]] `carry` column, so no hash is joined back,
    * and no band key is capped. Routing it through `hammingPairs` would
    * add a cap and two joins that the simhash oracles do not have. */
  def simhashBandPairs(sh: DataFrame, bandBits: Int): DataFrame = {
    val bands = BandJoin.bandRows(sh, Seq("doc_id", "sh"),
      BandJoin.bitBands(col("sh"), 4, bandBits))
    BandJoin.selfPairs(bands, BandKey, carry = Seq(
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast(LongType).as("hamming")))
      .filter(col("hamming") <= SimHamMax)
  }

  // ---- components -----------------------------------------------------------

  /** (doc_id, cluster_id) for every id in the (i, j) pair set: connected
    * components by [[Corpus.clusterPairs]], `cluster_id` = the component's
    * smallest id — dedup keeps one document per component, not per pair.
    * The pairs are persisted for the walk (both direction-unions of the edge
    * list read them) and released before returning: `clusterPairs` consumes
    * them eagerly on both of its paths. */
  def components(pairs: DataFrame): DataFrame = {
    val p = pairs.select("i", "j").persist()
    val out = Corpus.clusterPairs(p).select(col("node").as("doc_id"), col("cluster_id"))
    p.unpersist()
    out
  }
}
