package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSuite

/** The single-bucket embedding pair step, [[Similarity.bucketPairs]],
  * against a driver-side brute force: every same-bucket pair once, `i < j`,
  * the 4-place cosine, and nothing across buckets. */
class BucketPairsSpec extends SparkSuite {

  private type V = (Long, Seq[Double], Int) // vec_id, embedding, bucket

  private def frame(rows: Seq[V]): DataFrame =
    df("vec_id BIGINT, embedding ARRAY<DOUBLE>, bucket INT",
      rows.map { case (id, e, b) => Row(id, e, b) })

  private def run(rows: Seq[V]): Seq[(Long, Long, Double)] =
    Similarity.bucketPairs(frame(rows)).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    def dot(x: Seq[Double], y: Seq[Double]) = x.zip(y).map { case (p, q) => p * q }.sum
    dot(a, b) / math.sqrt(dot(a, a)) / math.sqrt(dot(b, b))
  }

  private def brute(rows: Seq[V]): Seq[(Long, Long, Double)] =
    (for (a <- rows; b <- rows if a._3 == b._3 && a._1 < b._1)
      yield (a._1, b._1, cosine(a._2, b._2))).sortBy(p => (p._1, p._2))

  /** 5–24 vectors with distinct shuffled ids in 3 buckets; every third
    * vector repeats an earlier one's embedding, often in another bucket. */
  private def seeded(seed: Int): Seq[V] = {
    val rnd = new scala.util.Random(seed)
    val n = 5 + rnd.nextInt(20)
    val ids = rnd.shuffle((0L until 100L).toList).take(n)
    val es = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    ids.map { id =>
      val e = if (es.nonEmpty && rnd.nextInt(3) == 0) es(rnd.nextInt(es.size))
              else Seq.fill(4)(rnd.nextGaussian())
      es += e
      (id, e, rnd.nextInt(3))
    }
  }

  test("20 seeded frames: bucketPairs matches brute force") {
    var found = 0
    for (seed <- 1 to 20) {
      val rows = seeded(seed)
      val got = run(rows)
      val want = brute(rows)
      assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)), s"seed $seed pairs")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._3 - w._3) <= 0.5e-4 + 1e-9, s"seed $seed cos $g vs $w")
        assert(math.abs(g._3 * 1e4 - math.rint(g._3 * 1e4)) < 1e-6, s"seed $seed cos $g not 4-place")
      }
      found += got.size
    }
    assert(found > 0)
  }

  test("no self-pairs, i < j, and equal vectors in different buckets never pair") {
    val e = Seq(1.0, 2.0, 3.0)
    val rows = Seq((5L, e, 0), (2L, e, 0), (9L, e, 1), (7L, e, 2), (3L, e, 1))
    assert(run(rows) == Seq((2L, 5L, 1.0), (3L, 9L, 1.0)))
  }
}
