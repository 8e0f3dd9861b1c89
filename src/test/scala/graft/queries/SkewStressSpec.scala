package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.llm.{Multimodal, NearDup, TextOps}

/** Skewed-corpus stress: real corpora are power-law — one boilerplate
  * paragraph (license header, nav bar, disclaimer) lands in a large
  * fraction of documents. A naive inverted-index join generates
  * Σ_s C(df(s), 2) candidate rows, which the boilerplate makes quadratic
  * in the clique size; the engine's two defenses must keep candidate
  * generation sub-quadratic:
  *  - the DF-CAP (llm_ngram_jaccard / llm_containment): shingles hotter
  *    than DfCap drop from the index before any join;
  *  - the df-ASC PREFIX (llm_prefix_join, exact): boilerplate shingles
  *    sort to the END of each doc's df-ordered list, so the indexed
  *    prefix holds only the doc's rarest shingles and hot shingles are
  *    never indexed — losslessly, since a qualifying pair must share a
  *    prefix shingle.
  * The planted corpus: 300 docs carrying a 21-token boilerplate paragraph
  * plus unique tails (pairwise Jaccard ≪ τ — NOT near-dups, so any pair
  * work on them is pure waste), 1200 fully unique docs. */
class SkewStressSpec extends SparkSuite {
  import spark.implicits._

  private val boiler = (1 to 21).map(i => s"boiler$i").mkString(" ")

  private lazy val corpus = {
    val hot = (0 until 300).map { i =>
      val tail = (1 to 40).map(j => s"u${i}x$j").mkString(" ")
      (i.toLong, s"$boiler $tail")
    }
    val cold = (0 until 1200).map { i =>
      (1000L + i, (1 to 40).map(j => s"c${i}y$j").mkString(" "))
    }
    (hot ++ cold).toDF("doc_id", "text")
  }

  private def shingleIndex = corpus.select(col("doc_id"),
    explode(TextOps.shingleHash60(TextOps.tokens(col("text")), 3)).as("s"))

  /** Σ_s C(df(s), 2) — the candidate-generation work an inverted-index
    * self-join performs over index `sh`. */
  private def pairWork(sh: org.apache.spark.sql.DataFrame): Long =
    sh.groupBy("s").agg(count(lit(1)).as("df"))
      .agg(sum(expr("df * (df - 1) div 2"))).first().getLong(0)

  test("df-cap drops boilerplate shingles: candidate work collapses vs the naive index") {
    val naive = pairWork(shingleIndex)
    val capped = NearDup.cappedShingleIndex(corpus)
    val cappedWork = pairWork(capped)
    capped.unpersist()
    info(s"candidate work: naive=$naive capped=$cappedWork " +
      f"(ratio ${naive.toDouble / math.max(1, cappedWork)}%.0f x)")
    // 19 boilerplate shingles x C(300,2) ≈ 852k naive candidates from the
    // hot clique alone; the cap must remove ALL of them (df=300 > DfCap=100)
    assert(naive > 800000L, s"test corpus lost its skew: naive=$naive")
    assert(cappedWork < naive / 100,
      s"df-cap failed to collapse candidate work: $cappedWork vs $naive")
  }

  test("df-ASC prefix join never indexes hot shingles: candidates stay sub-quadratic and exact") {
    val sh = shingleIndex.persist()
    val (cands, pref, grouped) = NearDup.prefixCandidates(sh)
    val nCands = cands.count()
    // hot shingles must not appear in any doc's indexed prefix
    val boilerHashes = TextOps.shingleHash60(TextOps.tokens(lit(boiler)), 3)
    val hotInPrefix = pref.join(
      spark.range(1).select(explode(boilerHashes).as("s")), "s").count()
    info(s"prefix candidates=$nCands hotShinglesIndexed=$hotInPrefix")
    assert(hotInPrefix == 0L, "boilerplate shingles leaked into the prefix index")
    // sub-quadratic: nothing shares rare shingles here, so candidates are
    // ~0; allow a linear slack rather than the ~45k a quadratic clique gives
    assert(nCands < 1500L, s"prefix candidates exploded: $nCands")
    // and losslessness is not at stake: the corpus has no qualifying pairs,
    // and the full exact join agrees
    assert(NearDup.prefixJoinPairs(corpus).count() == 0L)
    grouped.unpersist(); sh.unpersist()
  }

  test("video band cap: a hot frame-fingerprint clique generates ZERO candidates") {
    // 150 videos of identical content (every frame hashes to the same 48
    // bits — the video analogue of the boilerplate clique: an intro card,
    // a station ident) would naively generate C(150,2) x 4 frames x 4
    // bands candidate rows; with df=150 > the 100-key band cap every band
    // bucket is dropped before the self-join
    def fleet(n: Int, hash: Long, base: Long) =
      (0 until n).flatMap(i => (0 until 4).map(f =>
        (base + i, f.toLong, hash)))
    val hot = fleet(150, 0x0000123456789L, 0L)
    // plus a small genuine near-dup group under the cap: 3 videos whose
    // frame hashes flip one distinct low bit each (pairwise Hamming 2 <= 6
    // on every frame; bands 1-3 stay identical, so candidates surface)
    val near = (0 until 3).flatMap(i => (0 until 4).map(f =>
      (9000L + i, f.toLong, 0x7770000000000L ^ (1L << i))))
    val fh = (hot ++ near).toDF("doc_id", "frame_idx", "fhash")
    val out = Multimodal.videoDedup(fh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the clique contributes nothing; the under-cap trio pairs fully with
    // all 4 frames agreeing
    assert(out.forall(_._1 >= 9000L), s"hot-clique pair leaked: ${out.take(3).toSeq}")
    assert(out.toSet == Set((9000L, 9001L, 4L), (9000L, 9002L, 4L),
      (9001L, 9002L, 4L)), s"unexpected pairs: ${out.toSeq}")
  }

  test("audio band cap: a hot audio-fingerprint clique generates ZERO candidates") {
    // 150 identical 49-bit audio fingerprints (re-encodes of one jingle —
    // the audio boilerplate clique) would naively generate C(150,2) x 7
    // bands candidate rows; with df=150 > the 100-doc band cap every band
    // bucket of the clique drops before the self-join. The 7-bit band keys
    // make this cap load-bearing: only 128 keys exist per band, so at
    // corpus scale EVERY bucket of a naive join is quadratic.
    val hot = (0 until 150).map(i => (i.toLong, 0x1A2B3C4D5E6FL))
    // plus a genuine near-dup trio under the cap: one distinct low bit
    // flipped each (pairwise Hamming 2 <= 10; bands 1-6 stay identical)
    val near = (0 until 3).map(i => (9000L + i, 0x0F0F0F0F0F0F0L ^ (1L << i)))
    val out = Multimodal.audioDedup((hot ++ near).toDF("doc_id", "fp"))
      .filter(col("kind") === "pair")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.forall(_._1 >= 9000L), s"hot-clique pair leaked: ${out.take(3).toSeq}")
    assert(out.toSet == Set((9000L, 9001L, 2L), (9000L, 9002L, 2L),
      (9001L, 9002L, 2L)), s"unexpected pairs: ${out.toSeq}")
  }

  // ---- 10× scaling curves for the r16 perceptual dedups -----------------
  //
  // The same skew question at fleet scale: drive the band-join entry
  // points directly with synthetic fingerprint fleets at N and 10N (the
  // codec stage is covered by the mm_* oracles; these tests are about the
  // JOIN's growth curve), and check the distributed result against an
  // EXACT driver replay of the banding semantics (bucket df → cap drop →
  // candidate → Hamming) — the PageRank-differential pattern. Asserted
  // bounds: candidate volume never exceeds the cap's structural ceiling
  // Σ_buckets C(min(df,cap),2) ≤ bands·2^bits·C(cap,2) (CONSTANT in N —
  // the whole point of the df cap), planted near-dup recall stays ≥ 90%
  // at saturation, and 10× data costs < 40× wall time (quadratic would
  // be 100×). Numbers recorded in PERF.md.

  /** Exact driver replay of the banded-Hamming join: returns (pairs,
    * candidateVolume) where pairs = {(a, b, hamming)} and candidateVolume
    * = Σ over SURVIVING buckets of C(df, 2) (the join's row count). */
  private def bandedRef(fps: Map[Long, Long], bands: Int, bits: Int,
                        cap: Long, hamT: Long): (Set[(Long, Long, Long)], Long) = {
    val buckets = scala.collection.mutable.Map.empty[(Int, Long), List[Long]]
    for ((d, f) <- fps; b <- 0 until bands) {
      val key = (f >>> (b * bits)) & ((1L << bits) - 1)
      buckets.updateWith((b, key))(o => Some(d :: o.getOrElse(Nil)))
    }
    val cand = scala.collection.mutable.Set.empty[(Long, Long)]
    var vol = 0L
    for ((_, ds) <- buckets if ds.size <= cap) {
      vol += ds.size.toLong * (ds.size - 1) / 2
      val a = ds.sorted
      for (i <- a.indices; j <- (i + 1) until a.size) cand += ((a(i), a(j)))
    }
    val pairs = cand.iterator.flatMap { case (x, y) =>
      val h = java.lang.Long.bitCount(fps(x) ^ fps(y)).toLong
      if (h <= hamT) Some((x, y, h)) else None
    }.toSet
    (pairs, vol)
  }

  /** Fleet generator: N docs in 3-member near-dup clusters — golden-ratio
    * spread base fingerprints, member i flips bit i (pairwise Hamming 2,
    * under both thresholds). */
  private def fleet(n: Int, maskBits: Int): Map[Long, Long] = {
    val mask = (1L << maskBits) - 1
    (0 until n).map { d =>
      val c = d / 3
      val base = (c.toLong * 0x9E3779B97F4A7C15L) & mask
      d.toLong -> (base ^ (1L << (d % 3)))
    }.toMap
  }

  private def audioRun(fps: Map[Long, Long]): (Set[(Long, Long, Long)], Long) = {
    val t0 = System.nanoTime()
    val out = Multimodal.audioDedup(fps.toSeq.toDF("doc_id", "fp"))
      .filter(col("kind") === "pair")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    (out, (System.nanoTime() - t0) / 1000000L)
  }

  test("audio fpdedup 10x scaling: exact vs driver replay, capped candidate ceiling") {
    val (small, big) = (fleet(1200, 49), fleet(12000, 49))
    val (refS, volS) = bandedRef(small, 7, 7, 100L, 10L)
    val (refB, volB) = bandedRef(big, 7, 7, 100L, 10L)
    // the structural ceiling: candidate volume can NEVER exceed
    // bands · 2^bits · C(cap,2), no matter how large N grows
    val ceiling = 7L * 128L * (100L * 99L / 2)
    assert(volS <= ceiling && volB <= ceiling,
      s"candidate volume broke the cap ceiling: $volS / $volB vs $ceiling")
    // planted recall at saturation (12k docs ≈ 94 docs per 7-bit bucket,
    // brushing the cap): a planted pair survives unless ALL 7 of its
    // band buckets went hot — must stay ≥ 90%
    val planted = (0 until 12000 / 3).flatMap { c =>
      val m = Seq(c * 3L, c * 3L + 1, c * 3L + 2)
      Seq((m(0), m(1)), (m(0), m(2)), (m(1), m(2)))
    }.toSet
    val found = planted.count(p => refB.exists(r => (r._1, r._2) == p))
    assert(found >= planted.size * 9 / 10,
      s"planted recall collapsed at saturation: $found/${planted.size}")
    val (outS, tS) = audioRun(small)
    val (outB, tB) = audioRun(big)
    assert(outS == refS, s"1x mismatch: ${outS.size} vs ref ${refS.size}")
    assert(outB == refB, s"10x mismatch: ${outB.size} vs ref ${refB.size}")
    // sub-quadratic wall growth (quadratic would be ~100×); generous
    // slack for host throttle windows
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"audio fpdedup: 1x ${outS.size} pairs/${tS}ms vol=$volS; " +
      s"10x ${outB.size} pairs/${tB}ms vol=$volB (ceiling $ceiling, " +
      s"recall $found/${planted.size})")
  }

  test("video dedup 10x scaling: exact vs driver replay, linear candidate growth") {
    // 4 identical frames per doc: per-frame banding is 4 copies of the
    // doc-level reference; Hamming is frame-invariant so every passing
    // pair matches all 4 frames (≥ VdMinFrames=3)
    val (smallN, bigN) = (2400, 24000)
    def run(n: Int): (Set[(Long, Long, Long)], Long, Set[(Long, Long, Long)], Long) = {
      val fps = fleet(n, 48)
      val (ref, vol) = bandedRef(fps, 4, 12, 100L, 6L)
      val fh = fps.toSeq.flatMap { case (d, h) =>
        (0 until 4).map(f => (d, f.toLong, h)) }.toDF("doc_id", "frame_idx", "fhash")
      val t0 = System.nanoTime()
      val out = Multimodal.videoDedup(fh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      (ref.map { case (a, b, _) => (a, b, 4L) }, vol, out,
        (System.nanoTime() - t0) / 1000000L)
    }
    val (refS, volS, outS, tS) = run(smallN)
    val (refB, volB, outB, tB) = run(bigN)
    assert(outS == refS, s"1x mismatch: ${outS.size} vs ref ${refS.size}")
    assert(outB == refB, s"10x mismatch: ${outB.size} vs ref ${refB.size}")
    // 12-bit keys: buckets stay far under the cap at 24k docs, so
    // candidate volume grows ~bands·N²/2·4096 (≈ 11.7·N at N=24k, plus
    // the 3-member cluster cohesion term) — assert it stays within the
    // 4·bands·N density envelope (observed: ~12.2·N)
    assert(volB <= 4L * 4 * bigN,
      s"10x candidate volume $volB exceeds the linear-density bound")
    // every planted pair must be found (no bucket is near the cap here)
    assert(refB.size >= bigN, s"planted pairs missing: ${refB.size} < $bigN")
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"video dedup: 1x ${outS.size} pairs/${tS}ms vol=$volS; " +
      s"10x ${outB.size} pairs/${tB}ms vol=$volB")
  }

  // ---- 10× scaling curve for the TEXT near-dup family (r18) -------------
  //
  // Same discipline as the perceptual curves above, now for the minhash-LSH
  // pipeline behind llm_minhash_lsh / the lsh_eval family: drive
  // NearDup.minhashPairs with synthetic 3-member near-dup clusters at N and
  // 10N and check the distributed result against an EXACT driver replay of
  // the full pipeline (shingle→hash60→16-perm signature→4-band md5 keys→
  // bucket pairs→quantized-Jaccard verify) built from the SAME constants.
  // The text band keyspace is md5-wide (unlike the 7-bit audio keys), so
  // candidate volume is governed by true cluster structure: 3-member
  // clusters ⇒ ≤ bands·3·(N/3) = 4N bucket pairs — LINEAR in N, which is
  // the 100 TB claim this test pins.

  /** Exact driver replay of the minhash-LSH pipeline. Returns
    * (pairs(i, j, jac·1000), candidateVolume = Σ_buckets C(df,2)). */
  private def minhashRef(docs: Seq[(Long, String)])
      : (Set[(Long, Long, Long)], Long) = {
    import graft.llm.TextOps
    val hs: Map[Long, Array[Long]] = docs.map { case (d, text) =>
      val toks = text.trim.split("\\s+")
      val sh =
        if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
        else Seq(toks.mkString(" "))
      d -> sh.map(TextOps.hash60Str).toArray
    }.toMap
    val sig: Map[Long, Array[Long]] = hs.map { case (d, a) =>
      d -> Array.tabulate(16)(i => a.map(h =>
        (TextOps.MinHashA(i) * (h % TextOps.MinHashP) + TextOps.MinHashB(i))
          % TextOps.MinHashP).min)
    }
    val buckets = scala.collection.mutable.Map.empty[(Int, String), List[Long]]
    for ((d, sg) <- sig; b <- 0 until 4) {
      val key = graft.shape.Names.md5hex(sg.slice(b * 4, b * 4 + 4).mkString(","))
      buckets.updateWith((b, key))(o => Some(d :: o.getOrElse(Nil)))
    }
    var vol = 0L
    val cand = scala.collection.mutable.Set.empty[(Long, Long)]
    for ((_, ds) <- buckets) {
      vol += ds.size.toLong * (ds.size - 1) / 2
      val a = ds.sorted
      for (i <- a.indices; j <- (i + 1) until a.size) cand += ((a(i), a(j)))
    }
    val pairs = cand.iterator.flatMap { case (x, y) =>
      val (sa, sb) = (hs(x).toSet, hs(y).toSet)
      val inter = (sa & sb).size
      val jac = math.floor(inter.toDouble / (sa.size + sb.size - inter) * 1000 + 0.5) / 1000
      if (jac >= 0.5) Some((x, y, math.round(jac * 1000))) else None
    }.toSet
    (pairs, vol)
  }

  /** N docs in 3-member near-dup clusters: 40 shared cluster tokens + one
    * member-unique tail token ⇒ 38 of 39 shingles shared, J = 0.95 ≫ τ. */
  private def textFleet(n: Int): Seq[(Long, String)] =
    (0 until n).map { d =>
      val c = d / 3
      val base = (1 to 40).map(j => s"c${c}w$j").mkString(" ")
      (d.toLong, s"$base m$d")
    }

  private def lshRun(docs: Seq[(Long, String)]): (Set[(Long, Long, Long)], Long) = {
    val t0 = System.nanoTime()
    val out = NearDup.minhashPairs(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1000))).toSet
    (out, (System.nanoTime() - t0) / 1000000L)
  }

  /** Σ_buckets C(df,2) for 4-band banding at `bits` per band — volume only
    * (no pair materialization: the 8-bit side of the simhash comparison is
    * deliberately in the millions). */
  private def bandVolume(fps: Map[Long, Long], bits: Int): Long = {
    val df = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for ((_, f) <- fps; b <- 0 until 4) {
      val key = (f >>> (b * bits)) & ((1L << bits) - 1)
      df.updateWith((b, key))(o => Some(o.getOrElse(0L) + 1)); ()
    }
    df.valuesIterator.map(n => n * (n - 1) / 2).sum
  }

  test("wide simhash bands: 15-bit keys collapse bucket work vs 8-bit at fleet scale") {
    // the 32-bit fingerprint's 8-bit bands have 256 keys: at N docs EVERY
    // bucket holds Θ(N/256) and the band join is quadratic regardless of
    // content. The 60-bit form's 15-bit bands (llm_simhash_neardup_wide)
    // have 32768 keys — same 4-band Hamming ≤ 3 pigeonhole, 128× thinner
    // buckets. Fleet: 24k docs in 3-member clusters (low-bit flips ⇒ bands
    // 1-3 identical inside a cluster, so every planted pair is a candidate).
    val n = 24000
    val fps = fleet(n, 60)
    val narrowVol = bandVolume(fps.map { case (d, f) => d -> (f & 0xFFFFFFFFL) }, 8)
    val wideVol = bandVolume(fps, 15)
    assert(narrowVol >= 20L * wideVol,
      s"15-bit bands should collapse bucket work ≥20x: narrow=$narrowVol wide=$wideVol")
    // exactness of the distributed wide form vs the driver replay
    val (ref, _) = bandedRef(fps, 4, 15, Long.MaxValue, 3L)
    assert(ref.size >= n, s"planted pairs missing from the replay: ${ref.size}")
    val out = NearDup.simhashBandPairs(fps.toSeq.toDF("doc_id", "sh"), bandBits = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == ref, s"wide-band mismatch: ${out.size} vs ref ${ref.size}")
    info(s"simhash bands at N=$n: 8-bit vol=$narrowVol, 15-bit vol=$wideVol " +
      f"(${narrowVol.toDouble / wideVol}%.0fx), pairs=${out.size}")
  }

  // ---- 10× scaling curve for the ANN family (IVF k-NN join) --------------

  /** N vectors in 3-member near-dup clusters: a ±1 sign pattern per cluster
    * (32 dims, golden-ratio bits) + one member-unique unit dim (3 reserved
    * dims) ⇒ within-cluster cosine 32/33 ≈ 0.970, cross-cluster ≤ ~0.94 —
    * every vector's true top-2 is exactly its two mates. */
  private def embFleet(n: Int): IndexedSeq[(Long, Array[Double])] =
    (0 until n).map { d =>
      val c = d / 3
      val bits = c.toLong * 0x9E3779B97F4A7C15L
      val v = new Array[Double](35)
      var i = 0
      while (i < 32) { v(i) = if (((bits >>> i) & 1L) == 1L) 1.0 else -1.0; i += 1 }
      v(32 + d % 3) = 1.0
      (d.toLong, v)
    }

  test("IVF knn-join 10x scaling: sqrt-N cells, mates recovered, brute-equal at 1x") {
    import graft.llm.Similarity
    // the corpus-scale k-NN join (every vector is a query): cells grow as
    // √N — the IVF balance point (build N·C + search N·(N/C), both N^1.5,
    // so 10× data costs ~31.6×, far under the brute join's 100×)
    def run(n: Int): (Map[Long, Set[Long]], Long) = {
      val fleet = embFleet(n)
      val clusters = n / 3
      val cN = math.ceil(math.sqrt(n.toDouble)).toInt
      val step = math.max(1, clusters / cN)
      // centroids = pure sign centers (member dims zeroed) so all three
      // mates keep EXACTLY equal cosine to every centroid — deterministic
      // co-located cells regardless of quantization
      val cents = (0 until clusters by step).map { c =>
        val v = fleet(c * 3)._2.clone()
        v(32) = 0.0; v(33) = 0.0; v(34) = 0.0
        (c.toLong, v)
      }
      val corpus = fleet.toDF("vec_id", "embedding")
      val t0 = System.nanoTime()
      val out = Similarity.knnJoinIvf(corpus, corpus,
          cents.toDF("vec_id", "embedding"), k = 2, nprobe = 1)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      (out, (System.nanoTime() - t0) / 1000000L)
    }
    def mates(d: Long): Set[Long] = {
      val c = d / 3
      Set(c * 3, c * 3 + 1, c * 3 + 2) - d
    }
    val (outS, tS) = run(1200)
    val (outB, tB) = run(12000)
    // 1×: the IVF result equals brute-force truth (same kernel, self rows
    // dropped from the brute top-3)
    val corpusS = embFleet(1200).toDF("vec_id", "embedding")
    val brute = Similarity.bruteTopK(corpusS, corpusS, k = 3)
      .collect().filter(r => r.getLong(0) != r.getLong(2))
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Number](1).longValue).take(2).map(_.getLong(2)).toSet }
    assert(outS == brute, "IVF(1x) diverged from the brute-force truth")
    // 10×: planted mates recovered (deterministic given the fixed fleet)
    val okB = (0 until 12000).count(d => outB.get(d.toLong).contains(mates(d.toLong)))
    assert(okB >= 12000 * 99 / 100, s"mate recall collapsed at 10x: $okB/12000")
    // measured growth is ~1.8x (fixed overhead dominates at this scale);
    // 20x leaves an order of magnitude of throttle slack while still
    // sitting far under both the N^1.5 (31.6x) and brute (100x) laws
    assert(tB < math.max(tS, 500L) * 20,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"ivf knn-join: 1x ${tS}ms (brute-equal), 10x ${tB}ms, " +
      s"mate recall $okB/12000, cells ${math.ceil(math.sqrt(1200)).toInt}→" +
      s"${math.ceil(math.sqrt(12000)).toInt}")
  }

  // ---- giant-clique ORDERING: exact dedup collapses BEFORE banding (r19) --
  //
  // PERF.md's posture note says the text LSH band join carries no df cap
  // because the production chains run exact-hash dedup first, so an N-doc
  // identical-boilerplate clique collapses losslessly to one representative
  // before any banding can inherit its C(N,2) pairs. This test turns that
  // prose into a measurement: plant the clique, run the chain's stages, pin
  // the collapse and the post-dedup candidate volume.

  test("clean-corpus chain: an identical-doc clique collapses at exact dedup before banding") {
    val n = 3000
    val cliqueText = (1 to 40).map(i => s"cqb$i").mkString(" ")
    val clique = (0 until n).map(i => (i.toLong, cliqueText))
    val uniques = (0 until 300).map(i =>
      (10000L + i, (1 to 40).map(j => s"q${i}z$j").mkString(" ")))
    val clusters = (0 until 6).map { d => // two genuine 3-member near-dup groups
      val c = d / 3
      (20000L + d, (1 to 40).map(j => s"nd${c}w$j").mkString(" ") + s" m$d")
    }
    val kept = (clique ++ uniques ++ clusters).toDF("doc_id", "text")
      .withColumn("quality", lit(0.5)).withColumn("lang", lit("en"))
    // stage 1 (exact dedup — now a map-side min_by aggregate, no window):
    // the clique collapses to ONE representative carrying dup_count = N
    val exact = graft.ops.Dedup.exact(kept, Seq("text"), "doc_id").persist()
    val survivors = 1 + 300 + 6
    assert(exact.count() == survivors.toLong)
    assert(!exact.queryExecution.executedPlan.toString.contains("Window"),
      "exact dedup regressed to a window sort — giant cliques skew again")
    // stage 2 (banding over the SURVIVORS only): candidate volume is linear
    // in survivors; un-pre-deduped the clique ALONE would put 4·C(3000,2)
    // ≈ 18M pairs into its four band buckets
    val vol = NearDup.bandFrame(exact.select("doc_id", "text"))
      .groupBy("band", "key").agg(count(lit(1)).as("df"))
      .agg(sum(expr("df * (df - 1) div 2"))).first().getLong(0)
    assert(vol <= 4L * survivors,
      s"post-dedup candidate volume super-linear: $vol vs ${4L * survivors}")
    exact.unpersist()
    // end-to-end: one clique representative with the full multiplicity, the
    // two near-dup cluster minima survive, their four twins drop
    val out = LlmOps.dedupChain(kept)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out.size == 1 + 300 + 2, s"chain emitted ${out.size} docs")
    assert(out(0L) == n.toLong, s"clique rep dup_count = ${out.get(0L)}")
    assert(out(20000L) == 1L && out(20003L) == 1L &&
      !out.contains(20001L) && !out.contains(20004L),
      "near-dup survivorship broke after the clique collapse")
    info(s"clique n=$n: survivors=$survivors, post-dedup band volume=$vol " +
      s"(naive clique volume would be ${4L * n.toLong * (n - 1) / 2})")
  }

  // ---- 10× scaling curve: chunk dedup (r19) ------------------------------

  /** N docs of 4 chunks (window 20): chunk 0 = boilerplate shared by ALL
    * docs (the hot hash, df = N), chunks 1–2 shared within the 3-member
    * cluster, chunk 3 doc-unique. */
  private def chunkFleet(n: Int): Seq[(Long, String)] = {
    val boiler = (1 to 20).map(i => s"kb$i").mkString(" ")
    (0 until n).map { d =>
      val c = d / 3
      val cl = (1 to 40).map(j => s"kc${c}_$j").mkString(" ")
      val uniq = (1 to 20).map(j => s"ku${d}_$j").mkString(" ")
      (d.toLong, s"$boiler $cl $uniq")
    }
  }

  test("chunk dedup 10x scaling: map-side first-occurrence agg, exact, no window") {
    // first-occurrence semantics are replayable in closed form: doc 0 owns
    // every one of its chunks; later cluster heads (d % 3 == 0) own their
    // two cluster chunks and the unique chunk but inherit the boilerplate
    // dup; other members dup boilerplate + both cluster chunks
    def expected(n: Int): Map[Long, (Long, Long)] =
      (0 until n).map { d =>
        val dups = if (d == 0) 0L else if (d % 3 == 0) 1L else 3L
        d.toLong -> ((4L, dups))
      }.toMap
    def run(n: Int) = {
      val out = graft.llm.Corpus.chunkDedup(chunkFleet(n).toDF("doc_id", "text"), 20)
      val t0 = System.nanoTime()
      val got = out.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      (got, out, (System.nanoTime() - t0) / 1000000L)
    }
    val (gotS, outS, tS) = run(1200)
    val (gotB, _, tB) = run(12000)
    assert(gotS == expected(1200), "1x mismatch vs closed-form replay")
    assert(gotB == expected(12000), "10x mismatch vs closed-form replay")
    // the scale posture itself: the plan must carry NO window (the hot
    // boilerplate hash would route all N occurrences through one reducer
    // sort) and NO join (ScaleSpec's long-standing pin)
    val plan = outS.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"chunk dedup: 1x ${tS}ms, 10x ${tB}ms (hot hash df=12000 rides the " +
      "map-side combine)")
  }

  // ---- 10× scaling curve: exact-substring dedup (r19) --------------------

  /** N docs of 30 tokens: a 12-token boilerplate run shared by ALL docs
    * (hot k-grams, df = N), a 10-token run shared within the 3-member
    * cluster, an 8-token unique tail. */
  private def substrFleet(n: Int): Seq[(Long, Array[String])] =
    (0 until n).map { d =>
      val c = d / 3
      val tk = ((1 to 12).map(i => s"sb$i") ++ (1 to 10).map(j => s"sc${c}_$j") ++
        (1 to 8).map(j => s"su${d}_$j")).toArray
      (d.toLong, tk)
    }

  /** Exact driver replay of the positional-k-gram substring dedup: global
    * gram multiplicity ≥ 2 → covered positions [pos, pos+k−1] → islands.
    * Returns per-doc (n_tokens, dup_tokens, n_spans) plus the total
    * dup-gram-position volume (the membership join's row count). */
  private def substrRef(docs: Seq[(Long, Array[String])])
      : (Map[Long, (Long, Long, Long)], Long) = {
    val k = 8
    val gramsOf: Map[Long, IndexedSeq[String]] = docs.map { case (d, tk) =>
      d -> (if (tk.length >= k) (0 to tk.length - k).map(i => tk.slice(i, i + k).mkString(" "))
            else IndexedSeq.empty[String])
    }.toMap
    val df = scala.collection.mutable.Map.empty[String, Int]
    for ((_, gs) <- gramsOf; g <- gs) { df.updateWith(g)(o => Some(o.getOrElse(0) + 1)); () }
    var vol = 0L
    val per = docs.map { case (d, tk) =>
      val dupStarts = gramsOf(d).zipWithIndex.collect { case (g, i) if df(g) >= 2 => i + 1 }
      vol += dupStarts.size
      val covered = dupStarts.flatMap(p => p until (p + k)).toSet.toSeq.sorted
      val spans = covered.zipWithIndex.count { case (p, idx) =>
        idx == 0 || covered(idx - 1) != p - 1 }
      d -> ((tk.length.toLong, covered.size.toLong, spans.toLong))
    }.toMap
    (per, vol)
  }

  test("substring dedup 10x scaling: exact vs driver replay, linear dup-position volume") {
    val (small, big) = (substrFleet(1200), substrFleet(12000))
    val (refS, volS) = substrRef(small)
    val (refB, volB) = substrRef(big)
    // the membership join's row volume is positions-with-duplicated-grams —
    // bounded by total positions, i.e. LINEAR in N (each doc has ≤ 23 gram
    // starts), and the measured growth must track it
    assert(volS <= 23L * small.size && volB <= 23L * big.size,
      s"dup-position volume broke the linear bound: $volS / $volB")
    assert(volB <= volS * 12, s"volume growth super-linear: $volS → $volB")
    def run(docs: Seq[(Long, Array[String])]) = {
      val frame = docs.map { case (d, tk) => (d, tk.mkString(" ")) }.toDF("doc_id", "text")
      val t0 = System.nanoTime()
      val got = LlmOps.substrDedupFrom(frame).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      (got, (System.nanoTime() - t0) / 1000000L)
    }
    val (outS, tS) = run(small)
    val (outB, tB) = run(big)
    assert(outS == refS, "1x mismatch vs driver replay")
    assert(outB == refB, "10x mismatch vs driver replay")
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"substr dedup: 1x ${tS}ms vol=$volS; 10x ${tB}ms vol=$volB")
  }

  // ---- 10× scaling curve: embedding near-dup / semdedup (r19) ------------

  /** N vectors in 3-member near-dup clusters built for DETERMINISTIC
    * bucketing under ±1 hyperplanes: 61 ±1 sign dims (odd-parity dot
    * products — every plane projection is an odd integer ± 0.5, so a
    * member's 0.5-weight unique dim can never flip a sign) + 3 reserved
    * member dims. Within-cluster cosine 61/61.25 ≈ 0.9959 ≥ 0.995. */
  private def cosFleet(n: Int): IndexedSeq[(Long, Array[Double])] =
    (0 until n).map { d =>
      val c = d / 3
      val bits = c.toLong * 0x9E3779B97F4A7C15L
      val v = new Array[Double](64)
      var i = 0
      while (i < 61) { v(i) = if (((bits >>> i) & 1L) == 1L) 1.0 else -1.0; i += 1 }
      v(61 + d % 3) = 0.5
      (d.toLong, v)
    }

  /** Exact driver replay of [[graft.llm.Similarity.nearDupPairs]]: the SAME
    * corpus-scaled plane count (planesFor), ±1 plane family, index-order
    * dot accumulation, and left-associated cosine division as the codegen'd
    * kernels. Returns (pairs, bucket candidate volume, nPlanes). */
  private def semdedupRef(fleet: IndexedSeq[(Long, Array[Double])], threshold: Double)
      : (Set[(Long, Long, Double)], Long, Int) = {
    import graft.llm.Similarity
    val nPlanes = Similarity.planesFor(fleet.size.toLong)
    val ps = Similarity.planes(nPlanes, 64)
    def bucket(v: Array[Double]): Long = {
      var b = 0L; var j = 0
      while (j < nPlanes) {
        var dot = 0d; var k = 0
        while (k < 64) { dot += v(k) * ps(j)(k); k += 1 }
        if (dot > 0) b |= (1L << j)
        j += 1
      }
      b
    }
    def cosQ(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0d; var xx = 0d; var yy = 0d; var k = 0
      while (k < 64) { xy += a(k) * b(k); xx += a(k) * a(k); yy += b(k) * b(k); k += 1 }
      math.floor(xy / math.sqrt(xx) / math.sqrt(yy) * 10000 + 0.5) / 10000
    }
    val byBucket = fleet.groupBy { case (_, v) => bucket(v) }
    var vol = 0L
    val pairs = Set.newBuilder[(Long, Long, Double)]
    for ((_, ms) <- byBucket) {
      vol += ms.size.toLong * (ms.size - 1) / 2
      val a = ms.sortBy(_._1)
      for (i <- a.indices; j <- (i + 1) until a.size) {
        val q = cosQ(a(i)._2, a(j)._2)
        if (q >= threshold) pairs += ((a(i)._1, a(j)._1, q))
      }
    }
    (pairs.result(), vol, nPlanes)
  }

  test("embedding near-dup 10x scaling: corpus-scaled planes, exact vs driver replay") {
    import graft.llm.Similarity
    val threshold = 0.995
    val (small, big) = (cosFleet(1200), cosFleet(12000))
    val (refS, volS, pS) = semdedupRef(small, threshold)
    val (refB, volB, pB) = semdedupRef(big, threshold)
    // planesFor grows the bucket space with the corpus, so within-bucket
    // pairing stays ~N·perBucket — LINEAR in N (a FIXED bucket space would
    // be quadratic, the narrow-band degeneracy in embedding space)
    assert(pB > pS, s"plane count failed to grow with the corpus: $pS → $pB")
    assert(volS <= 300L * small.size && volB <= 300L * big.size,
      s"bucket volume broke the linear-density bound: $volS / $volB")
    // planted recall is DETERMINISTIC here (odd-parity projections cannot
    // flip on the member dims): every within-cluster pair must be present
    val planted = (0 until big.size / 3).flatMap { c =>
      val m = Seq(c * 3L, c * 3L + 1, c * 3L + 2)
      Seq((m(0), m(1)), (m(0), m(2)), (m(1), m(2)))
    }
    assert(planted.forall(p => refB.exists(r => (r._1, r._2) == p)),
      "planted near-dup pair missing from the replay")
    def run(fleet: IndexedSeq[(Long, Array[Double])]) = {
      val t0 = System.nanoTime()
      val out = Similarity.nearDupPairs(fleet.toDF("vec_id", "embedding"),
          threshold, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      (out, (System.nanoTime() - t0) / 1000000L)
    }
    val (outS, tS) = run(small)
    val (outB, tB) = run(big)
    assert(outS == refS, s"1x mismatch: ${outS.size} vs ref ${refS.size}")
    assert(outB == refB, s"10x mismatch: ${outB.size} vs ref ${refB.size}")
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"embed near-dup: 1x ${outS.size} pairs/${tS}ms vol=$volS planes=$pS; " +
      s"10x ${outB.size} pairs/${tB}ms vol=$volB planes=$pB")
  }

  // ---- banded cosine LSH: recall gap vs the AND-of-all-planes key (r19) --

  /** Adversarial fleet for BANDING recall: ±1 cluster bases over 61 dims
    * with a ±0.12 member-hash perturbation on EVERY dim — large enough to
    * flip a hyperplane sign a measurable fraction of the time (projection
    * deltas ~N(0, (2·0.12)²·61) against the odd-integer base lattice),
    * small enough that within-cluster cosine stays ≈ 0.986 ≫ the 0.95
    * verify threshold. This is the regime scale forces: more planes for
    * bucket thinness ⇒ compounding AND-miss probability. */
  private def advCosFleet(n: Int): IndexedSeq[(Long, Array[Double])] =
    (0 until n).map { d =>
      val c = d / 3
      val bits = c.toLong * 0x9E3779B97F4A7C15L
      val mbits = (d.toLong + 1) * 0xC2B2AE3D27D4EB4FL
      val v = new Array[Double](64)
      var i = 0
      while (i < 61) {
        val b = if (((bits >>> i) & 1L) == 1L) 1.0 else -1.0
        val m = if (((mbits >>> i) & 1L) == 1L) 0.12 else -0.12
        v(i) = b + m
        i += 1
      }
      (d.toLong, v)
    }

  test("banded cosine LSH beats the AND-of-all-planes key on plane-flipping near-dups") {
    import graft.llm.Similarity
    val n = 3000
    val threshold = 0.95
    val fleet = advCosFleet(n)
    val vecs = fleet.toMap
    val ps = LlmOps.BandedPlanes
    val (bands, perBand) = (LlmOps.BandedBands, LlmOps.BandedPerBand)
    val mask = (1L << perBand) - 1
    def sig(v: Array[Double]): Long = {
      var b = 0L; var j = 0
      while (j < ps.length) {
        var dot = 0d; var k = 0
        while (k < 64) { dot += v(k) * ps(j)(k); k += 1 }
        if (dot > 0) b |= (1L << j)
        j += 1
      }
      b
    }
    def cosQ(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0d; var xx = 0d; var yy = 0d; var k = 0
      while (k < 64) { xy += a(k) * b(k); xx += a(k) * a(k); yy += b(k) * b(k); k += 1 }
      math.floor(xy / math.sqrt(xx) / math.sqrt(yy) * 10000 + 0.5) / 10000
    }
    val sigs = fleet.map { case (d, v) => d -> sig(v) }.toMap
    val planted = (0 until n / 3).flatMap { c =>
      val m = Seq(c * 3L, c * 3L + 1, c * 3L + 2)
      Seq((m(0), m(1)), (m(0), m(2)), (m(1), m(2)))
    }
    // every planted pair passes the verify — banding recall is the whole game
    assert(planted.forall { case (a, b) => cosQ(vecs(a), vecs(b)) >= threshold })
    val bandHit = planted.count { case (a, b) =>
      (0 until bands).exists(bi =>
        ((sigs(a) >>> (bi * perBand)) & mask) == ((sigs(b) >>> (bi * perBand)) & mask)) }
    val andHit = planted.count { case (a, b) => sigs(a) == sigs(b) }
    info(f"planted=${planted.size} banded=$bandHit (${bandHit * 100.0 / planted.size}%.0f%%) " +
      f"and24=$andHit (${andHit * 100.0 / planted.size}%.0f%%)")
    assert(bandHit >= planted.size * 7 / 10,
      s"banded recall collapsed: $bandHit/${planted.size}")
    assert(andHit * 2 <= bandHit,
      s"no recall gap: banded $bandHit vs and24 $andHit — the banding buys nothing")
    // distributed == exact replay (candidates from per-band buckets, then
    // quantized-cosine verify)
    val byKey = scala.collection.mutable.Map.empty[(Int, Long), List[Long]]
    for ((d, sg) <- sigs; bi <- 0 until bands)
      byKey.updateWith((bi, (sg >>> (bi * perBand)) & mask))(o => Some(d :: o.getOrElse(Nil)))
    val cand = scala.collection.mutable.Set.empty[(Long, Long)]
    for ((_, ds) <- byKey) {
      val a = ds.sorted
      for (i <- a.indices; j <- (i + 1) until a.size) cand += ((a(i), a(j)))
    }
    val ref = cand.iterator.flatMap { case (x, y) =>
      val q = cosQ(vecs(x), vecs(y))
      if (q >= threshold) Some((x, y, q)) else None
    }.toSet
    val out = LlmOps.bandedPairsFrom(fleet.toDF("vec_id", "embedding"), threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == ref, s"banded distributed diverged: ${out.size} vs ref ${ref.size}")
  }

  // ---- 10× scaling curve: CORPUS-SCALED banded near-dup (r19) ------------

  test("corpus-scaled banded near-dup 10x: per-band planes grow, exact vs replay, wide branch") {
    import graft.llm.Similarity
    val threshold = 0.995
    def cosQ64(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0d; var xx = 0d; var yy = 0d; var k = 0
      while (k < 64) { xy += a(k) * b(k); xx += a(k) * a(k); yy += b(k) * b(k); k += 1 }
      math.floor(xy / math.sqrt(xx) / math.sqrt(yy) * 10000 + 0.5) / 10000
    }
    /** Exact replay of [[Similarity.bandedPairsWith]]: per-band keys from
      * the band's plane slice (identical in the bit-slice and per-band
      * kernel branches), candidate dedupe, quantized-cosine verify. */
    def replay(fleet: IndexedSeq[(Long, Array[Double])], bands: Int, perBand: Int,
               ps: Array[Array[Double]]): (Set[(Long, Long, Double)], Long) = {
      val vecs = fleet.toMap
      def bandKey(v: Array[Double], b: Int): Long = {
        var key = 0L; var j = 0
        while (j < perBand) {
          var dot = 0d; var k = 0
          val p = ps(b * perBand + j)
          while (k < 64) { dot += v(k) * p(k); k += 1 }
          if (dot > 0) key |= (1L << j)
          j += 1
        }
        key
      }
      val byKey = scala.collection.mutable.Map.empty[(Int, Long), List[Long]]
      for ((d, v) <- fleet; b <- 0 until bands)
        byKey.updateWith((b, bandKey(v, b)))(o => Some(d :: o.getOrElse(Nil)))
      var vol = 0L
      val cand = scala.collection.mutable.Set.empty[(Long, Long)]
      for ((_, ds) <- byKey) {
        vol += ds.size.toLong * (ds.size - 1) / 2
        val a = ds.sorted
        for (i <- a.indices; j <- (i + 1) until a.size) cand += ((a(i), a(j)))
      }
      val pairs = cand.iterator.flatMap { case (x, y) =>
        val q = cosQ64(vecs(x), vecs(y))
        if (q >= threshold) Some((x, y, q)) else None
      }.toSet
      (pairs, vol)
    }
    def run(fleet: IndexedSeq[(Long, Array[Double])]) = {
      val t0 = System.nanoTime()
      val out = Similarity.bandedNearDupPairs(fleet.toDF("vec_id", "embedding"),
          threshold, 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      (out, (System.nanoTime() - t0) / 1000000L)
    }
    val (small, big) = (cosFleet(1200), cosFleet(12000))
    val pbS = Similarity.planesFor(1200)
    val pbB = Similarity.planesFor(12000)
    assert(pbB > pbS, s"per-band plane count failed to grow: $pbS → $pbB")
    val (refS, volS) = replay(small, 4, pbS, Similarity.planes(4 * pbS, 64))
    val (refB, volB) = replay(big, 4, pbB, Similarity.planes(4 * pbB, 64))
    // per band the bucket space tracks n/perBucket, so total candidate
    // volume stays ~bands·perBucket·n — LINEAR in N
    assert(volS <= 1200L * small.size && volB <= 1200L * big.size,
      s"banded volume broke the linear-density bound: $volS / $volB")
    // planted recall is deterministic (odd-parity projections): every
    // within-cluster pair shares the FULL signature, so every band agrees
    val planted = (0 until big.size / 3).flatMap { c =>
      val m = Seq(c * 3L, c * 3L + 1, c * 3L + 2)
      Seq((m(0), m(1)), (m(0), m(2)), (m(1), m(2)))
    }
    assert(planted.forall(p => refB.exists(r => (r._1, r._2) == p)),
      "planted pair missing from the banded replay")
    val (outS, tS) = run(small)
    val (outB, tB) = run(big)
    assert(outS == refS, s"1x mismatch: ${outS.size} vs ref ${refS.size}")
    assert(outB == refB, s"10x mismatch: ${outB.size} vs ref ${refB.size}")
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    // the >62-plane family (10^9-vector regime: 4 × 16 planes) takes the
    // per-band kernel branch — same answers as the replay
    val wide = Similarity.planes(64, 64)
    val (refW, _) = replay(small, 4, 16, wide)
    val outW = Similarity.bandedPairsWith(small.toDF("vec_id", "embedding"),
        wide, 4, 16, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(outW == refW, s"wide-branch mismatch: ${outW.size} vs ref ${refW.size}")
    info(s"banded scaled: 1x ${outS.size} pairs/${tS}ms vol=$volS perBand=$pbS; " +
      s"10x ${outB.size} pairs/${tB}ms vol=$volB perBand=$pbB; wide ${outW.size}")
  }

  // ---- 10× scaling curve: wide-simhash CLUSTERING layer (r19) ------------

  test("wide-cluster 10x scaling: distributed label propagation equals driver union-find") {
    // the r18 curve covered the wide BAND JOIN; this one drives the
    // clustering layer on top of it — forcing the ITERATIVE path
    // (driverMaxEdges = 0) so the checkpointed label-propagation loop is
    // what's measured, checked against a driver union-find of the same
    // replayed pair set
    def components(pairs: Set[(Long, Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((i, j, _) <- pairs) {
        val (ra, rb) = (find(i), find(j))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      pairs.flatMap(p => Seq(p._1, p._2)).map(nd => nd -> find(nd)).toMap
    }
    def run(n: Int): (Map[Long, Long], Long) = {
      val pairs = NearDup.simhashBandPairs(fleet(n, 60).toSeq.toDF("doc_id", "sh"),
        bandBits = 15).select("i", "j")
      val t0 = System.nanoTime()
      val labels = graft.llm.Corpus.clusterPairs(pairs, driverMaxEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (labels, (System.nanoTime() - t0) / 1000000L)
    }
    val refS = components(bandedRef(fleet(1200, 60), 4, 15, Long.MaxValue, 3L)._1)
    val refB = components(bandedRef(fleet(12000, 60), 4, 15, Long.MaxValue, 3L)._1)
    val (outS, tS) = run(1200)
    val (outB, tB) = run(12000)
    assert(outS == refS, s"1x labels diverged: ${outS.size} vs ${refS.size}")
    assert(outB == refB, s"10x labels diverged: ${outB.size} vs ${refB.size}")
    // the loop is scheduling-bound at this scale (O(log diameter) rounds of
    // fixed job cost) — 10× data must stay far under quadratic growth
    assert(tB < math.max(tS, 2000L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"wide clustering: 1x ${refS.size} nodes/${tS}ms, " +
      s"10x ${refB.size} nodes/${tB}ms (iterative path forced)")
  }

  test("minhash LSH 10x scaling: exact vs driver replay, linear candidate growth") {
    val (small, big) = (textFleet(1200), textFleet(12000))
    val (refS, volS) = minhashRef(small)
    val (refB, volB) = minhashRef(big)
    // linear candidate growth: ≤ bands · pairs-per-cluster · clusters = 4N
    assert(volS <= 4L * small.size && volB <= 4L * big.size,
      s"candidate volume broke the linear bound: $volS / $volB")
    // planted recall (deterministic given the fixed hash family): a J=0.95
    // pair misses only when all 4 bands disagree — must stay ≥ 90%
    val planted = (0 until big.size / 3).flatMap { c =>
      val m = Seq(c * 3L, c * 3L + 1, c * 3L + 2)
      Seq((m(0), m(1)), (m(0), m(2)), (m(1), m(2)))
    }.toSet
    val found = planted.count(p => refB.exists(r => (r._1, r._2) == p))
    assert(found >= planted.size * 9 / 10,
      s"planted recall collapsed: $found/${planted.size}")
    val (outS, tS) = lshRun(small)
    val (outB, tB) = lshRun(big)
    assert(outS == refS, s"1x mismatch: ${outS.size} vs ref ${refS.size}")
    assert(outB == refB, s"10x mismatch: ${outB.size} vs ref ${refB.size}")
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"minhash lsh: 1x ${outS.size} pairs/${tS}ms vol=$volS; " +
      s"10x ${outB.size} pairs/${tB}ms vol=$volB (recall $found/${planted.size})")
  }

  // ---- 10× scaling curve: n-gram Jaccard inverted index (late r19) -------

  /** Exact driver replay of the capped-inverted-index Jaccard dedup:
    * shingle→df→cap blacklist→per-shingle pair lists→exact verify. Returns
    * (pairs with rounded jac, candidate volume Σ_kept C(df, 2) — by
    * construction the distributed self-join's exact row count). */
  private def ngramRef(docs: Seq[(Long, String)], dfCap: Int)
      : (Set[(Long, Long, Long)], Long) = {
    val kept: Map[Long, Set[Long]] = {
      val hs = docs.map { case (d, text) =>
        val toks = text.trim.split("\\s+")
        val sh =
          if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
          else Seq(toks.mkString(" "))
        d -> sh.map(TextOps.hash60Str).toSet
      }
      val df = hs.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
      hs.map { case (d, ss) => d -> ss.filter(s => df(s) <= dfCap) }.toMap
    }
    val lists = kept.toSeq.flatMap { case (d, ss) => ss.iterator.map(_ -> d) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    var vol = 0L
    val inter = scala.collection.mutable.Map.empty[(Long, Long), Int]
    for (ds <- lists; i <- ds.indices; j <- (i + 1) until ds.size) {
      vol += 1
      inter.updateWith((ds(i), ds(j)))(o => Some(o.getOrElse(0) + 1)); ()
    }
    val pairs = inter.iterator.flatMap { case ((x, y), n) =>
      val jac = math.floor(n.toDouble / (kept(x).size + kept(y).size - n) * 1000 + 0.5) / 1000
      if (jac >= 0.5) Some((x, y, math.round(jac * 1000))) else None
    }.toSet
    (pairs, vol)
  }

  test("ngram jaccard 10x scaling: capped index exact vs driver replay, linear volume") {
    // textFleet clusters PLUS corpus-wide boilerplate: the boilerplate
    // shingles' df = N ≫ cap, so the cap must erase them from the index at
    // BOTH scales — without it the candidate volume would be C(N,2)
    def fleet(n: Int) = textFleet(n).map { case (d, t) => (d, s"$boiler $t") }
    val (small, big) = (fleet(1200), fleet(12000))
    val (refS, volS) = ngramRef(small, 100)
    val (refB, volB) = ngramRef(big, 100)
    // linear candidate bound: per 3-doc cluster ~44 kept shingles × ≤3
    // pairs ⇒ ≤ 50·N/3 rows; and the 10× corpus grows volume ~10×, not 100×
    assert(volS <= 50L * small.size && volB <= 50L * big.size,
      s"candidate volume broke the linear bound: $volS / $volB")
    assert(volB <= volS * 12, s"volume grew super-linearly: $volS -> $volB")
    def run(docs: Seq[(Long, String)]) = {
      val t0 = System.nanoTime()
      val out = NearDup.jaccardVerify(
          NearDup.cappedShingleIndex(docs.toDF("doc_id", "text")), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1000))).toSet
      (out, (System.nanoTime() - t0) / 1000000L)
    }
    val (outS, tS) = run(small)
    val (outB, tB) = run(big)
    assert(outS == refS, s"1x mismatch: ${outS.size} vs ref ${refS.size}")
    assert(outB == refB, s"10x mismatch: ${outB.size} vs ref ${refB.size}")
    // every planted cluster pair must survive (J = 0.95 ≫ τ, and the kept
    // cluster shingles are untouched by the cap)
    val planted = (0 until big.size / 3).flatMap { c =>
      Seq((c * 3L, c * 3L + 1), (c * 3L, c * 3L + 2), (c * 3L + 1, c * 3L + 2))
    }
    assert(planted.forall(p => outB.exists(r => (r._1, r._2) == p)),
      "a planted near-dup pair fell out of the capped index")
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"ngram jaccard: 1x ${outS.size} pairs/${tS}ms vol=$volS; " +
      s"10x ${outB.size} pairs/${tB}ms vol=$volB")
  }

  // ---- 10× scaling curve: bucketed prefix sum (late r19) -----------------

  test("bucketed prefix sum 10x scaling: giant stratum, exact vs driver replay") {
    // one giant stratum carries 94% of the rows — under the old
    // stratum-wide cumsum window every one of them sorted in ONE reducer;
    // the bucketed plan's window partitions on (stratum, id-bucket), so no
    // sort exceeds 2^shift rows at any corpus size
    def fleet(n: Int) = (0 until n).map { i =>
      (i.toLong, if (i % 16 == 15) "small" else "giant", (i % 7 + 1).toLong)
    }
    def replay(rows: Seq[(Long, String, Long)]): Map[Long, Long] =
      rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(_._1).scanLeft((-1L, 0L)) { case ((_, cum), (id, _, v)) =>
          (id, cum + v)
        }.drop(1)
      }
    def run(n: Int) = {
      val out = graft.ops.PrefixSum.running(
        fleet(n).toDF("id", "src", "v").repartition(8),
        Seq("src"), graft.ops.PrefixSum.idBucket(col("id"), shift = 6),
        Seq(col("id").asc), col("v"), "cum", inclusive = true)
      val t0 = System.nanoTime()
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      (got, out, (System.nanoTime() - t0) / 1000000L)
    }
    val (gotS, outS, tS) = run(4800)
    val (gotB, _, tB) = run(48000)
    assert(gotS == replay(fleet(4800)), "1x mismatch vs driver replay")
    assert(gotB == replay(fleet(48000)), "10x mismatch vs driver replay")
    // the scale pin: every Window in the plan partitions on the bucket
    // (the per-bucket cumsum and the tiny offsets frame), never on the
    // stratum alone
    val plan = outS.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, plan)
    assert(windows.forall(w => w.contains("__ps_bucket")), windows.mkString("\n"))
    assert(tB < math.max(tS, 500L) * 40,
      s"10x data cost ${tB}ms vs 1x ${tS}ms — super-linear blowup")
    info(s"prefix sum: 1x ${tS}ms, 10x ${tB}ms (giant stratum never sorts " +
      "in one reducer: 64-row buckets)")
  }

  test("bounded curriculum: closed-form ntile equals the rank window under giant ties") {
    // the adversarial shape for the decomposed rank: HALF of a big stratum
    // shares ONE quality score (the tie group whose internal order the
    // bucketed prefix count must reproduce), the rest spread over a few
    // values so tile boundaries land INSIDE tie runs; a second tiny
    // stratum exercises N < phases (degenerate one-row tiles)
    val rows = (0 until 9000).map { i =>
      val q = if (i % 2 == 0) 0.5 else Seq(0.9, 0.7, 0.3, 0.1)((i / 2) % 4)
      (i.toLong, "giant", q)
    } ++ Seq((90001L, "tiny", 0.8), (90002L, "tiny", 0.2))
    val base = rows.toDF("doc_id", "source", "quality")
    for (p <- Seq(3, 4, 7)) {
      val want = base.withColumn("phase",
        ntile(p).over(org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id").asc)).cast("long"))
      val got = SketchOps.curriculumBoundedFrom(base, p)
      assertSameRows(got, want.select("doc_id", "source", "quality", "phase"))
    }
  }
}
