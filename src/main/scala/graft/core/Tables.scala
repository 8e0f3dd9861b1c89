package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md). */
object Tables {
  /** The test parquet files are single-row-group (unsplittable), so Spark
    * scans them as ONE partition. For the CPU-heavy text/embedding operators
    * (shingling, md5 hashing, cosine math) that serializes ALL work onto one
    * core — spread those scans across the cluster. Only the heavy consumers
    * pay the (tiny) shuffle: cheap relational scans keep their single
    * partition, where a forced shuffle costs more than it saves. At real
    * scale a 100 TB table has thousands of splits and the branch never fires. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Collision-free per-sfDir tag for scratch dirs / table names: the
    * sanitized path (readable) plus a 64-bit content hash (injective in
    * practice — sanitization alone maps '/a/b' and '/a_b' to the same tag,
    * and a 32-bit hashCode both collides and goes negative at Int.MinValue).
    * Valid in both file paths and SQL identifiers. */
  def pathTag(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(d.getBytes("UTF-8"))
    val h = md.take(8).map("%02x".format(_)).mkString
    s"${d.replaceAll("[^A-Za-z0-9]", "_")}_$h"
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = spread(s, apply(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = spread(s, apply(s, d, "embeddings"))

  /** The driver has regenerated `events.parquet` with different physical
    * encodings for `ts` across rounds — TIMESTAMP(NANOS) (unrepresentable in
    * Spark's µs TimestampType, read as raw long via the runner default
    * `spark.sql.legacy.parquet.nanosAsLong`, `Q.Defaults`), then TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (Spark TIMESTAMP_NTZ). The loader is therefore
    * encoding-agnostic: it branches on the dtype Spark actually loaded and
    * always exposes the same three columns:
    *   - `ts_ns`  — epoch nanoseconds (long)
    *   - `ts_ms`  — epoch milliseconds (long, floor)
    *   - `ts`     — TimestampType truncated to milliseconds
    * Oracle side uses DuckDB `epoch_ms(ts)` which floors identically.
    * NTZ wall-times are interpreted as UTC instants via a timestampdiff
    * against the NTZ epoch literal — session-timezone-independent, so the
    * result is the same whether or not the caller set session.timeZone=UTC. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    val tsNanos = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // parquet TIMESTAMP(NANOS) → raw nanos
        col("ts")
      case org.apache.spark.sql.types.TimestampNTZType => // parquet TIMESTAMP(MICROS, NTZ)
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * lit(1000L)
      case _: org.apache.spark.sql.types.TimestampType => // parquet TIMESTAMP(MICROS, UTC-adjusted)
        unix_micros(col("ts")) * lit(1000L)
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported dtype $other")
    }
    raw
      .withColumn("ts", tsNanos) // replace in place: keeps column position stable
      .withColumnRenamed("ts", "ts_ns")
      // exact integer FLOOR division (Spark `div` truncates toward zero;
      // DuckDB epoch_ms floors — identical for the driver's post-epoch data,
      // but keep the loader oracle-exact for any instant)
      .withColumn("ts_ms", expr("(ts_ns - pmod(ts_ns, 1000000)) div 1000000"))
      .withColumn("ts", timestamp_millis(col("ts_ms")))
  }
}
