package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The public text near-dup kernels: the components step and the README's
  * MinHash pairs → components → keep-the-minimum composition. */
class NearDupSpec extends SparkSuite {
  import spark.implicits._

  /** Three near-dup clusters of 40-word docs (one word differs per member,
    * Jaccard ≈ 0.9 inside a cluster, 0 across) plus two singletons. */
  private val corpus = {
    def doc(c: Int, m: Int) = ((1 to 40).map(w => s"c${c}w$w") :+ s"m$m").mkString(" ")
    val clustered = for (c <- 0 until 3; m <- 0 until 3) yield ((c * 10 + m).toLong, doc(c, m))
    clustered ++ Seq(100L -> doc(7, 0), 200L -> doc(8, 0))
  }

  test("components labels every paired id with its component minimum and releases the pairs") {
    spark.catalog.clearCache()
    val pairs = Seq((3L, 5L), (5L, 9L), (9L, 4L), (20L, 21L)).toDF("i", "j")
    val got = NearDup.components(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("MinHash pairs → components → keep each cluster's minimum leaves one doc per cluster") {
    val docs = corpus.toDF("doc_id", "text")
    val clusters = NearDup.components(NearDup.minhashPairs(docs))
    val kept = docs.join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(0L, 10L, 20L, 100L, 200L))
    spark.catalog.clearCache()
  }

  test("containment admits every planted Jaccard pair (inside a cluster inter/min = 38/39)") {
    val sh = NearDup.cappedShingleIndex(corpus.toDF("doc_id", "text"))
    val jac = NearDup.jaccardVerify(sh, NearDup.JaccardThreshold)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val con = NearDup.containment(sh).select("i", "j").as[(Long, Long)].collect().toSet
    assert(jac.size == 9 && jac.subsetOf(con), s"jaccard $jac, containment $con")
    sh.unpersist()
  }
}
