package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.NearDup

/** Two-decade scaling probe (manual, not part of the suite): drives five
  * representative kernels (three text near-dup, the IVF k-NN join, the
  * bucketed prefix sum) at 1x / 10x / 100x synthetic fleets
  * and prints wall times. The 10x points replicate the SkewStressSpec
  * curves (same generators); the 100x points extend each curve a further
  * decade — run once from an idle host, results recorded in PERF.md.
  *
  * Usage: sbt "Test/runMain graft.tools.DecadeProbe" (optional arg: cpus). */
object DecadeProbe {

  /** N docs in 3-member near-dup clusters (SkewStressSpec.textFleet). */
  private def textFleet(n: Int): Seq[(Long, String)] =
    (0 until n).map { d =>
      val c = d / 3
      val base = (1 to 40).map(j => s"c${c}w$j").mkString(" ")
      (d.toLong, s"$base m$d")
    }

  private def time[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[decade] $what%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      // driver.memory must be set on the JVM launch line (sbt forks with
      // -Xmx from build.sbt); a builder config here has no effect in an
      // already-launched local JVM, so none is set
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def docs(n: Int): DataFrame =
      textFleet(n).toDF("doc_id", "text").repartition(32)

    // warm the session machinery once so the 1x points aren't startup
    time("warmup") { docs(1200).count() }

    // minhash LSH banding (llm_minhash_lsh core)
    for (n <- Seq(1200, 12000, 120000)) {
      val d = docs(n)
      time(s"minhash_lsh n=$n") {
        NearDup.minhashPairs(d).count()
      }
    }

    // capped inverted shingle index + exact Jaccard (llm_ngram_jaccard core)
    for (n <- Seq(1200, 12000, 120000)) {
      val d = docs(n)
      time(s"ngram_jaccard n=$n") {
        NearDup.jaccardVerify(
          NearDup.cappedShingleIndex(d), 0.5).count()
      }
    }

    // df-ASC prefix join, exact near-dup (llm_prefix_join core — the
    // lossless candidate generator; growth is linear in docs because only
    // each doc's rarest (1-tau) shingle prefix ever indexes)
    for (n <- Seq(1200, 12000, 120000)) {
      val d = docs(n)
      time(s"prefix_join n=$n") {
        NearDup.prefixJoinPairs(d).count()
      }
    }

    // IVF corpus k-NN join, sqrt-N cells (llm_knn_join core — N^1.5 law,
    // so the second decade predicts ~31.6x; SkewStressSpec.embFleet shape)
    def embFleet(n: Int): IndexedSeq[(Long, Array[Double])] =
      (0 until n).map { d =>
        val c = d / 3
        val bits = c.toLong * 0x9E3779B97F4A7C15L
        val v = new Array[Double](35)
        var i = 0
        while (i < 32) { v(i) = if (((bits >>> i) & 1L) == 1L) 1.0 else -1.0; i += 1 }
        v(32 + d % 3) = 1.0
        (d.toLong, v)
      }
    for (n <- Seq(1200, 12000, 120000)) {
      val fleet = embFleet(n)
      val clusters = n / 3
      val cN = math.ceil(math.sqrt(n.toDouble)).toInt
      val step = math.max(1, clusters / cN)
      val cents = (0 until clusters by step).map { c =>
        val v = fleet(c * 3)._2.clone()
        v(32) = 0.0; v(33) = 0.0; v(34) = 0.0
        (c.toLong, v)
      }
      val corpus = fleet.toDF("vec_id", "embedding").repartition(32)
      time(s"ivf_knn_join n=$n") {
        graft.llm.Similarity.knnJoinIvf(corpus, corpus,
          cents.toDF("vec_id", "embedding"), k = 2, nprobe = 1).count()
      }
    }

    // bucketed two-level prefix sum, 94%-giant stratum (PrefixSum core)
    for (n <- Seq(48000, 480000, 4800000)) {
      val fleet = spark.range(n.toLong).select(col("id"),
        when(col("id") % 16 === 15, "small").otherwise("giant").as("src"),
        (col("id") % 7 + 1).as("v"))
      time(s"prefix_sum n=$n") {
        graft.ops.PrefixSum.running(fleet, Seq("src"),
          graft.ops.PrefixSum.idBucket(col("id"), shift = 12),
          Seq(col("id").asc), col("v"), "cum", inclusive = true).count()
      }
    }
    spark.stop()
  }
}
