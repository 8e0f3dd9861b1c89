package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for named registry queries into files —
  * the r20 optimization round's before/after plan artifacts
  * (`plans/r20/<query>_<tag>.txt`). Not part of the driver contract.
  * The data directory is written as `<sfDir>`, so dumps taken from two
  * checkouts diff on the plans alone.
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
    val dataDir = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.queries.Registry.all
    names.foreach { name =>
      val plan =
        try qs(name).fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"(plan failed: ${e.getMessage})" }
      val txt = plan.replace(dataDir, "<sfDir>")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
