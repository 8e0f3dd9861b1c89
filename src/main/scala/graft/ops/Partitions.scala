package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-level replacement operators.
  *
  * - ReplacePartition (implementations/sql/replacepartition_stream.go:78-161):
  *   every incoming row is stamped with `__partition_id`; on commit the
  *   target partition is cleared and the batch appended — an empty batch
  *   still clears the partition.
  * - Date granularity (delete_condition.go:64-187).
  *
  * On a lake table ReplacePartition is `INSERT OVERWRITE` with dynamic
  * partition overwrite: [[graft.sink.FileSink.replacePartition]] sets
  * `partitionOverwriteMode=dynamic` on that one write, never in the
  * session, so only the touched partitions rewrite — the 100 TB-safe path.
  * The DataFrame-level form below expresses the same final state for the
  * correctness oracle. ReplaceTable is [[graft.sink.JdbcSink.replaceTable]].
  */
object Partitions {

  val PartitionCol = "__partition_id"

  /** Stamp a batch with its partition id (replacepartition_stream.go:78-83). */
  def stamp(batch: DataFrame, partitionId: String): DataFrame =
    batch.withColumn(PartitionCol, lit(partitionId))

  /** Final state of the target after replacing one partition. */
  def replacePartition(target: DataFrame, batch: DataFrame, partitionId: String): DataFrame =
    target.filter(col(PartitionCol) =!= lit(partitionId))
      .unionByName(stamp(batch.drop(PartitionCol), partitionId))

  /** Date-granularity truncation (delete_condition.go:64-187): HOUR, DAY,
    * WEEK, MONTH, QUARTER, YEAR. Spark `date_trunc` implements all of them. */
  def truncate(ts: Column, granularity: String): Column = {
    val g = granularity.toUpperCase match {
      case "HOUR" => "hour"; case "DAY" => "day"; case "WEEK" => "week"
      case "MONTH" => "month"; case "QUARTER" => "quarter"; case "YEAR" => "year"
      case other => other.toLowerCase
    }
    date_trunc(g, ts)
  }
}
