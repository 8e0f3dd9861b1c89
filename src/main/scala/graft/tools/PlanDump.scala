package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.GraftExpressions
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Runs named registry queries (through `Q.run`, result written to the
  * `noop` sink) and dumps the formatted physical plan of EVERY SQL execution
  * each query started — eager collects and checkpoints inside the query as
  * well as its final frame — into `<outDir>/<query>_<tag>.txt`, the
  * optimization rounds' before/after plan artifacts. Plans come from a
  * SparkContext-level listener, so executions on the runner's session clone
  * are seen. Not part of the driver contract. The data directory is written
  * as `<sfDir>`, so dumps taken from two checkouts diff on the plans alone.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: PlanDump <sfDir> <outDir> <tag> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag, list) = args.take(4)
    val dataDir = Paths.get(sfDir).toAbsolutePath.normalize.toString
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.SparkEntry.localSession(8)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s)
        case _ => ()
      }
    })
    Files.createDirectories(Paths.get(outDir))
    val qs = graft.queries.Registry.all
    names.foreach { name =>
      spark.sharedState.cacheManager.clearCache()
      GraftExpressions.drainListenerBus(spark)
      started.clear()
      val failed =
        try { qs(name).run(spark, sfDir).write.format("noop").mode("overwrite").save(); "" }
        catch { case e: Throwable => s"(query failed: ${e.getMessage})\n" }
      GraftExpressions.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val plans = started.asScala.toSeq.sortBy(_.executionId).zipWithIndex.map { case (s, i) =>
        s"== execution $i ==\n${s.physicalPlanDescription}" }
      val txt = (failed + plans.mkString("\n")).replace(dataDir, "<sfDir>")
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"wrote $outDir/${name}_$tag.txt (${plans.size} executions, ${txt.length} chars)")
    }
    spark.stop()
  }
}
