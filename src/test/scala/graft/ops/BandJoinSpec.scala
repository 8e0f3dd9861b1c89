package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The band-join kernel against a driver-side brute force: hot-key cap,
  * self pairs over scoped keys, probe pairs over an overlapping index, and
  * bit-slice band keys. */
class BandJoinSpec extends SparkSuite {

  private val Schema = "doc_id BIGINT, scope INT, band INT, key BIGINT"
  private type B = (Long, Int, Int, Long) // doc_id, scope, band, key

  private def frame(rows: Seq[B]): DataFrame =
    df(Schema, rows.map { case (d, s, b, k) => Row(d, s, b, k) })

  private def pairs(out: DataFrame): Seq[(Long, Long)] =
    out.select("i", "j").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def keyOf(r: B) = (r._2, r._3, r._4)

  // ---- brute force ----------------------------------------------------

  private def bruteCap(rows: Seq[B], cap: Int): Seq[B] = {
    val n = rows.groupBy(keyOf).view.mapValues(_.size).toMap
    rows.filter(r => n(keyOf(r)) <= cap)
  }

  private def bruteSelf(rows: Seq[B]): Set[(Long, Long)] =
    (for (a <- rows; b <- rows if keyOf(a) == keyOf(b) && a._1 < b._1)
      yield (a._1, b._1)).toSet

  private def bruteProbe(probe: Seq[B], index: Seq[B]): Set[(Long, Long)] =
    (for (a <- probe; b <- index if keyOf(a) == keyOf(b) && a._1 != b._1)
      yield (math.min(a._1, b._1), math.max(a._1, b._1))).toSet

  private def seeded(seed: Int): Seq[B] = {
    val rnd = new scala.util.Random(seed)
    val docs = 8 + rnd.nextInt(20)
    for (d <- 0L until docs; b <- 0 until 3)
      yield (d, rnd.nextInt(2), b, rnd.nextInt(4).toLong)
  }

  private val Keys = Seq("scope", "band", "key")

  test("20 seeded band frames: capHot, selfPairs and probePairs match brute force") {
    var (dropped, found) = (0, 0)
    for (seed <- 1 to 20) {
      val rows = seeded(seed)
      val cap = 2 + seed % 4
      val capped = BandJoin.capHot(frame(rows), Keys, cap)
      val kept = bruteCap(rows, cap)
      dropped += rows.size - kept.size
      // the anti-join puts the key columns first
      assert(capped.select("doc_id", Keys: _*).collect().toSeq.map(r =>
          (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sorted == kept.sorted,
        s"seed $seed capHot")

      val self = pairs(BandJoin.selfPairs(capped, Keys))
      assert(self.size == self.toSet.size, s"seed $seed selfPairs emits a pair twice")
      assert(self.toSet == bruteSelf(kept), s"seed $seed selfPairs")
      found += self.size
      capped.unpersist()

      val all = frame(rows)
      val probe = rows.filter(_._1 % 3 == 0)
      val probed = pairs(BandJoin.probePairs(all.filter(col("doc_id") % 3 === 0), all, Keys))
      assert(probed.size == probed.toSet.size, s"seed $seed probePairs emits a pair twice")
      assert(probed.toSet == bruteProbe(probe, rows), s"seed $seed probePairs")
    }
    // the frames exercise both the cap and the join
    assert(dropped > 0 && found > 0)
  }

  test("capHot keeps a key with exactly cap rows and drops one with cap+1") {
    val atCap = (1L to 3L).map(d => (d, 0, 0, 7L))
    val overCap = (4L to 7L).map(d => (d, 0, 0, 8L))
    val out = BandJoin.capHot(frame(atCap ++ overCap), Keys, 3)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("selfPairs: a scoped key pairs only inside its scope, a multi-band collision once") {
    val rows = Seq(
      // docs 1, 2 agree in all three bands of scope 0: one pair, not three
      (1L, 0, 0, 5L), (2L, 0, 0, 5L), (1L, 0, 1, 6L), (2L, 0, 1, 6L),
      (1L, 0, 2, 9L), (2L, 0, 2, 9L),
      // doc 3 shares (band, key) with doc 1 but in another scope: no pair
      (3L, 1, 0, 5L))
    val bands = frame(rows)
    val scoped = BandJoin.selfPairs(bands, Keys)
    assert(pairs(scoped) == Seq((1L, 2L)))
    // without the scope column doc 3 does collide with docs 1 and 2
    assert(pairs(BandJoin.selfPairs(bands.drop("scope"), Seq("band", "key"))).sorted ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    bands.unpersist()
  }

  test("selfPairs carries pair columns computed from both sides") {
    val bands = frame(Seq((4L, 0, 0, 1L), (9L, 0, 0, 1L), (2L, 0, 1, 3L), (4L, 0, 1, 3L)))
    val out = BandJoin.selfPairs(bands, Keys,
      carry = Seq((col("a.doc_id") + col("b.doc_id")).as("s")))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      Seq((2L, 4L, 6L), (4L, 9L, 13L)))
    bands.unpersist()
  }

  test("probePairs over an overlapping index: no self pairs, each pair canonical once") {
    val index = Seq((1L, 0, 0, 5L), (2L, 0, 0, 5L), (3L, 0, 0, 5L),
      (1L, 0, 1, 6L), (3L, 0, 1, 6L))
    // the probe IS part of the index, and 1-3 collides in two bands
    val probe = index.filter(r => r._1 == 3L || r._1 == 1L)
    val out = pairs(BandJoin.probePairs(frame(probe), frame(index), Keys))
    assert(out.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("bitBands cuts a long into masked bit slices, one band row each") {
    val rnd = new scala.util.Random(42)
    val sigs = Seq(0L, 1L, (1L << 60) - 1, Long.MaxValue) ++
      Seq.fill(16)(rnd.nextLong() >>> 4)
    val src = df("doc_id BIGINT, sig BIGINT",
      sigs.zipWithIndex.map { case (s, i) => Row(i.toLong, s) })
    for ((bands, bits) <- Seq((4, 8), (4, 15), (7, 7))) {
      val out = BandJoin.bandRows(src, Seq("doc_id"),
          BandJoin.bitBands(col("sig"), bands, bits))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      val want = (for ((s, i) <- sigs.zipWithIndex; b <- 0 until bands)
        yield (i.toLong, b, (s >> (b * bits)) & ((1L << bits) - 1))).sorted
      assert(out == want, s"$bands x $bits")
    }
  }
}
