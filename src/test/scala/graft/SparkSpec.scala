package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). No
  * artifact isolation, as in `SparkEntry.localSession`: an isolated
  * session's class loader keys the generated-code cache, so every `Q.run`
  * clone and every streaming query would compile its code again. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import scala.jdk.CollectionConverters._

  /** Rows as a sorted multiset of string renderings — order-free compare. */
  def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) "∅" else r.get(i).toString)).sortBy(_.mkString("|"))

  def assertSameRows(a: DataFrame, b: DataFrame): Unit =
    assert(canon(a) == canon(b))

  def df(schema: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  def jsonDf(lines: String*): graft.shape.Ingest.Shaped = {
    import spark.implicits._
    graft.shape.Ingest.shape(spark, lines.toSeq.toDS())
  }
}
