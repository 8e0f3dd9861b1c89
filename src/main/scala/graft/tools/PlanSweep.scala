package graft.tools

/** Plan-shape sweep: flag scale red-flags (rangepartitioning = global sort,
  * CartesianProduct / BroadcastNestedLoop = pair blowup) in every registry
  * query's executed plan, and FAIL (exit 1) when a flag appears outside the
  * committed allowlist below — a new global sort or nested-loop join cannot
  * slip into the registry unnoticed. Not part of the driver contract.
  *
  * Every allowlisted entry is an INTENDED plan, documented at its query:
  *  - brute-force ANN baseline / centroid-assignment crosses: the model
  *    side is a broadcast of ≤k rows (kmeans centroids, IVF cells, ANN
  *    baseline) — a bounded broadcast nested loop is the plan you want;
  *  - 1-row corpus-totals crosses (perplexity/dsir/bm25/pmi/domain_mix and
  *    their consumers rank_fusion/resample/build): joining every row to the
  *    single aggregate-totals row;
  *  - s7_select: the admin read-back is an intentional ORDER BY page.
  */
object PlanSweep {

  /** query → flags that are the documented intended plan for that query. */
  val Allow: Map[String, Set[String]] = Map(
    "llm_ann_brute"   -> Set("BroadcastNestedLoop"),
    "llm_ann_recall"  -> Set("BroadcastNestedLoop"), // embeds the brute truth baseline
    "llm_ann_ivf"     -> Set("BroadcastNestedLoop"),
    "llm_knn_join"    -> Set("BroadcastNestedLoop"), // same ≤16-row centroid cross; the CELL join is shuffled

    "q_stream_ann"    -> Set("BroadcastNestedLoop"), // same ≤16-row centroid cross as ivf
    "llm_ann_ivfpq"   -> Set("BroadcastNestedLoop"), // ≤16-row centroid cross (coarse cells)
    "llm_pq_knn_join" -> Set("BroadcastNestedLoop"), // same ≤16-row centroid cross (coarse cells + query probes); the (cell, sub, code) join is shuffled
    "llm_pq_recall"   -> Set("BroadcastNestedLoop"), // brute L2 truth baseline, as ann_recall
    "llm_bm25"        -> Set("BroadcastNestedLoop"),
    "llm_build"       -> Set("BroadcastNestedLoop"),
    "llm_domain_mix"  -> Set("BroadcastNestedLoop"),
    "llm_dsir"        -> Set("BroadcastNestedLoop"),
    "llm_kmeans"      -> Set("BroadcastNestedLoop"),
    "llm_perplexity"  -> Set("BroadcastNestedLoop"),
    "llm_bigram_lm"   -> Set("BroadcastNestedLoop"), // 1-row V-size cross, as perplexity
    "llm_kmv_setops"  -> Set("BroadcastNestedLoop"), // 1-row × 1-row sketch cross
    "llm_pmi"         -> Set("BroadcastNestedLoop"),
    "llm_rank_fusion" -> Set("BroadcastNestedLoop"),
    "llm_resample"    -> Set("BroadcastNestedLoop"),
    "llm_temperature_mix" -> Set("BroadcastNestedLoop"), // 1-row totals cross, as domain_mix
    "q_triangle_count" -> Set("BroadcastNestedLoop"), // 1-row × 1-row × 1-row summary cross
    "s7_select"       -> Set("rangepartitioning"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkEntry.localSession(8)
    var unlisted = List.empty[String]
    var errors = List.empty[String]
    graft.queries.Registry.all.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        val plan = q.run(spark, sfDir).queryExecution.executedPlan.toString
        val flags = Seq(
          "rangepartitioning" -> plan.contains("rangepartitioning"),
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoop" -> plan.contains("BroadcastNestedLoop"))
          .collect { case (f, true) => f }
        val fresh = flags.filterNot(Allow.getOrElse(name, Set.empty))
        if (fresh.nonEmpty) unlisted ::= s"$name: ${fresh.mkString(",")}"
        val tag = if (flags.isEmpty) "clean"
          else if (fresh.isEmpty) s"allowed(${flags.mkString(",")})"
          else s"NEW-FLAG(${fresh.mkString(",")})"
        println(s"[sweep] $name: $tag")
      } catch { case e: Throwable =>
        errors ::= name
        println(s"[sweep] $name: ERROR ${Option(e.getMessage).getOrElse(e.toString).take(80)}")
      }
    }
    spark.stop()
    if (unlisted.nonEmpty || errors.nonEmpty) {
      println(s"[sweep] FAIL — unlisted flags: ${unlisted.reverse.mkString("; ")}" +
        (if (errors.nonEmpty) s"; errors: ${errors.reverse.mkString(",")}" else ""))
      sys.exit(1)
    }
    println("[sweep] PASS — no unlisted scale flags")
  }
}
