package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkSuite

/** The semantic dedup queries hand their pair set to the components step,
  * which must release the pairs it persisted: after `semDedup` /
  * `semDedupBanded` the session caches no more plans than building their
  * pair source alone leaves behind. */
class SemDedupCacheSpec extends SparkSuite {
  import spark.implicits._

  /** A 64-dim `embeddings` table of 60 seeded random vectors; the queries
    * plant their own near-dups (perturbed clones of the first vectors), so
    * every run has pairs to cluster. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_semdedup_").toString
    val rnd = new scala.util.Random(11)
    (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    d
  }

  /** Plans the session's cache manager holds (its list is private). */
  private def cachedPlans: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  private type Query = (SparkSession, String) => DataFrame

  private def check(pairs: Query, dedup: Query): Unit = {
    spark.catalog.clearCache()
    assert(pairs(spark, dir).count() > 0, "no near-dup pairs: the spec tests nothing")
    val bySource = cachedPlans
    spark.catalog.clearCache()
    assert(dedup(spark, dir).count() > 0)
    assert(cachedPlans <= bySource,
      s"dedup left $cachedPlans cached plans, its pair source $bySource")
    spark.catalog.clearCache()
  }

  test("semDedup caches no more plans than embedNearDup leaves") {
    check(LlmOps.embedNearDup, LlmOps.semDedup)
  }

  test("semDedupBanded caches no more plans than embedNearDupBanded leaves") {
    check(LlmOps.embedNearDupBanded, LlmOps.semDedupBanded)
  }
}
