package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSuite

/** The perceptual pair step, [[Multimodal.hammingPairs]], against a
  * driver-side brute force: bit bands, the hot-key cap, distinct candidates,
  * the scoped join-back and the Hamming bound. */
class HammingPairsSpec extends SparkSuite {

  private type H = (Long, Int, Long) // doc_id, scope, hash
  private type P = (Long, Long, Int, Long) // i, j, scope, hamming

  private def frame(rows: Seq[H]): DataFrame =
    df("doc_id BIGINT, scope INT, hash BIGINT",
      rows.map { case (d, s, h) => Row(d, s, h) })

  /** The step's rows as (i, j, scope, hamming); scope is 0 when unscoped. */
  private def run(rows: Seq[H], scoped: Boolean, bands: Int, bits: Int,
                  maxHam: Long): Seq[P] = {
    val in = if (scoped) frame(rows) else frame(rows).drop("scope")
    val out = Multimodal.hammingPairs(in, "hash", if (scoped) Seq("scope") else Nil,
      bands, bits, maxHam)
    out.collect().toSeq.map { r =>
      if (scoped) (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))
      else (r.getLong(0), r.getLong(1), 0, r.getLong(2))
    }.sorted
  }

  // ---- brute force ----------------------------------------------------

  private def brute(rows: Seq[H], scoped: Boolean, bands: Int, bits: Int,
                    cap: Long, maxHam: Long): Seq[P] = {
    def scopeOf(r: H) = if (scoped) r._2 else 0
    val mask = (1L << bits) - 1
    val bandRows = for (r <- rows; b <- 0 until bands)
      yield (r._1, (scopeOf(r), b, (r._3 >> (b * bits)) & mask))
    val cands = bandRows.groupBy(_._2).values.filter(_.size <= cap).toSeq
      .flatMap(g => for (a <- g; b <- g if a._1 < b._1) yield (a._1, b._1)).distinct
    val byDoc = rows.groupBy(_._1)
    (for {
      (i, j) <- cands
      a <- byDoc(i)
      b <- byDoc(j) if scopeOf(a) == scopeOf(b)
      h = java.lang.Long.bitCount(a._3 ^ b._3).toLong if h <= maxHam
    } yield (i, j, scopeOf(a), h)).sorted
  }

  /** 80–319 docs of 12-bit hashes, 0–2 bits off one of two centres (the
    * first drawn 4 times in 5), so bands collide, the centre's keys go past
    * [[Multimodal.BandCap]] on the larger frames only, and distances
    * straddle the bound; scoped frames give each doc a random subset of 3
    * scope values. */
  private def seeded(seed: Int, scoped: Boolean): Seq[H] = {
    val rnd = new scala.util.Random(seed)
    val centres = Seq.fill(2)(rnd.nextInt(1 << 12).toLong)
    def flip() = if (rnd.nextBoolean()) 1L << rnd.nextInt(12) else 0L
    def near() = centres(if (rnd.nextInt(5) == 0) 1 else 0) ^ flip() ^ flip()
    val docs = 80 + rnd.nextInt(240)
    for {
      d <- 0L until docs
      s <- if (scoped) (0 until 3).filter(_ => rnd.nextInt(4) > 0) else Seq(0)
    } yield (d, s, near())
  }

  test("20 seeded frames, unscoped and scoped: hammingPairs matches brute force") {
    val dropped = collection.mutable.Map(false -> 0, true -> 0)
    var pairs = 0
    for (seed <- 1 to 20; scoped <- Seq(false, true)) {
      val rows = seeded(seed, scoped)
      val (bands, bits) = if (seed % 2 == 0) (4, 3) else (3, 4)
      val maxHam = 1L + seed % 4
      val got = run(rows, scoped, bands, bits, maxHam)
      val want = brute(rows, scoped, bands, bits, Multimodal.BandCap, maxHam)
      assert(got == want, s"seed $seed scoped=$scoped")
      pairs += got.size
      dropped(scoped) += brute(rows, scoped, bands, bits, Long.MaxValue, maxHam).size - want.size
    }
    // the frames exercise both the join and the cap, scoped and unscoped
    assert(pairs > 0 && dropped.values.forall(_ > 0), s"pairs $pairs, dropped by the cap $dropped")
  }

  test("exactly maxHam is kept, maxHam + 1 is dropped") {
    // the high byte is equal, so band 1 proposes all three pairs
    val rows = Seq((1L, 0, 0x0000L), (2L, 0, 0x0007L), (3L, 0, 0x000FL))
    assert(run(rows, scoped = false, bands = 2, bits = 8, maxHam = 3) ==
      Seq((1L, 2L, 0, 3L), (2L, 3L, 0, 1L)))
  }

  test("a key held by exactly BandCap rows pairs, one held by BandCap + 1 rows does not") {
    val cap = Multimodal.BandCap
    val atCap = (1L to cap).map(d => (d, 0, 0x0101L))
    val overCap = (cap + 1 to 2 * cap + 1).map(d => (d, 0, 0x0202L))
    assert(run(atCap ++ overCap, scoped = false, bands = 1, bits = 16, maxHam = 0) ==
      (for (i <- 1L to cap; j <- i + 1 to cap) yield (i, j, 0, 0L)))
  }

  test("a pair colliding in every band comes out once") {
    val rows = Seq((1L, 0, 0x5A5AL), (2L, 0, 0x5A5AL))
    assert(run(rows, scoped = false, bands = 4, bits = 4, maxHam = 0) ==
      Seq((1L, 2L, 0, 0L)))
  }

  test("a scoped pair is proposed and compared only within one scope value") {
    val (a, c, d) = (0x0F0L, 0x333L, 0xCCCL)
    val rows = Seq(
      // docs 1 and 2 hold the same hash, but at different scope values
      (1L, 0, a), (2L, 1, a),
      // docs 3 and 4 collide at scope 0; at scope 1 doc 4's hash equals
      // doc 3's scope-0 hash, which must not count
      (3L, 0, c), (3L, 1, d), (4L, 0, c), (4L, 1, c))
    assert(run(rows, scoped = true, bands = 3, bits = 4, maxHam = 2) ==
      Seq((3L, 4L, 0, 0L)))
  }
}
