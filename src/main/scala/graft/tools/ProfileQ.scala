package graft.tools

import org.apache.spark.scheduler._

/** r20 optimization-round profiler: runs named registry queries solo (same
  * session shape as Bench) with a listener that attributes wall time to
  * jobs and stages, so "where do the seconds go" is a measurement instead
  * of a guess. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.ProfileQ <sfDir> <q1,q2,...> [reps]
  */
object ProfileQ {
  final case class StageRow(stageId: Int, name: String, tasks: Int,
                            ms: Long, shuffleReadMB: Double, shuffleWriteMB: Double,
                            inputMB: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.SparkEntry.localSession(32)
    // same first-use warm as Bench's cheap prefix (keep it short: the point
    // is per-stage attribution, not absolute parity with Bench)
    spark.range(1000).selectExpr("sum(id)").collect()
    try graft.core.Tables.events(graft.queries.Q.session(spark, Map.empty), sfDir)
      .limit(10).collect()
    catch { case _: Throwable => () }

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRow]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for { a <- si.submissionTime; b <- si.completionTime } yield b - a).getOrElse(-1L)
        val m = si.taskMetrics
        stages.put(si.stageId, StageRow(si.stageId, si.name, si.numTasks, ms,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6))
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, (desc, js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (d, t0, _) =>
          jobs.put(je.jobId, (d, t0, je.time)) }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val qs = graft.queries.Registry.all
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        stages.clear(); jobs.clear()
        try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => () }
        val t0 = System.nanoTime()
        try { qs(name).run(spark, sfDir).count(); () }
        catch { case e: Throwable => println(s"!! $name failed: ${e.getMessage}") }
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftExpressions.drainListenerBus(spark)
        println(f"%n===== $name rep $rep: $sec%.3f s =====")
        import scala.jdk.CollectionConverters._
        val jrows = jobs.asScala.toSeq.sortBy(_._1)
        println(f"  jobs: ${jrows.size}")
        jrows.foreach { case (id, (d, a, b)) =>
          val dur = if (b > 0) (b - a) / 1e3 else -1.0
          println(f"  job $id%3d  $dur%7.3f s  ${d.take(90)}")
        }
        val srows = stages.asScala.values.toSeq.sortBy(-_.ms)
        println(f"  stages: ${srows.size}, stage-ms sum ${srows.map(_.ms).sum / 1e3}%.3f s")
        srows.take(18).foreach { s =>
          println(f"  stage ${s.stageId}%4d ${s.ms / 1e3}%7.3f s tasks=${s.tasks}%3d " +
            f"in=${s.inputMB}%7.1fMB sr=${s.shuffleReadMB}%7.1fMB sw=${s.shuffleWriteMB}%7.1fMB  ${s.name.take(70)}")
        }
      }
    }
    spark.stop()
  }
}
