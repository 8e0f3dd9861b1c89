package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.core.{Conversions, DataKind}
import graft.sql.{ColumnSpec, TableSpec}

/** Schema evolution of a shaped batch against a live table
  * (abstract.go:422-553 `adjustTableColumnTypes`):
  *
  *   - existing column's type WINS: batch values are cast to it; values that
  *     cannot convert move to the `_unmapped_data` JSON column and the cast
  *     column gets NULL for that row;
  *   - new columns are added (unless `schemaFreeze` or the table is at
  *     `maxColumns`, options.go:53-63) — frozen/overflow columns route whole
  *     values into `_unmapped_data`;
  *   - existing columns absent from the batch are null-filled.
  *
  * One narrow projection — convertibility is decided per value with
  * `try_cast`-style expressions, so the 100 TB cost is a single codegen'd
  * map stage, no extra scan. Only a conversion that can fail
  * ([[Conversions.canFail]]) gets an unmapped check: a batch whose kinds
  * already match the live table projects `_unmapped_data` as a typed null
  * (or the incoming `_unmapped_data`), with no per-row JSON.
  */
object SchemaEvolution {

  val UnmappedColumn = "_unmapped_data" // abstract.go:23

  final case class Plan(projected: DataFrame, newColumns: Seq[ColumnSpec])

  def batchKind(df: DataFrame, col: String): DataKind =
    DataKind.fromSpark(df.schema(col).dataType)

  /** Align `batch` to `existing`. Returns the projected frame (existing
    * column order, then surviving new columns, then `_unmapped_data`) and
    * the DDL additions the sink must apply. */
  private def isUnmappedName(n: String): Boolean = n.equalsIgnoreCase(UnmappedColumn)

  def evolve(batch: DataFrame, existing: TableSpec,
             schemaFreeze: Boolean = false, maxColumns: Int = 5000): Plan = {
    // A live table that already holds `_unmapped_data` (any batch after the
    // first overflow) must NOT yield two same-named output columns: exclude
    // it from the existing projection and emit exactly one overflow column,
    // named as the live table spells it (case-normalized dialects uppercase it).
    val (unmappedExisting, dataExisting) = existing.columns.partition(c => isUnmappedName(c.name))
    val unmappedName = unmappedExisting.headOption.map(_.name).getOrElse(UnmappedColumn)
    val existingNames = dataExisting.map(_.name)
    val batchCols = batch.columns.toSeq

    // overflow candidates: (name, original column) pairs routed to _unmapped_data
    val overflow = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]

    // existing columns: cast with existing-type-wins; absent → null
    val existingProjected = dataExisting.map { spec =>
      if (batchCols.contains(spec.name)) {
        val from = batchKind(batch, spec.name)
        val orig = col(s"`${spec.name}`")
        val converted = Conversions.convert(orig, from, spec.kind).cast(spec.kind.spark)
        // a non-null original that converted to null is unmapped
        // (abstract.go:500-553); a total conversion never yields one
        if (Conversions.canFail(from, spec.kind))
          overflow += spec.name -> when(orig.isNotNull && converted.isNull, orig.cast("string"))
        converted.as(spec.name)
      } else lit(null).cast(spec.kind.spark).as(spec.name)
    }

    // new columns: add up to maxColumns unless frozen
    val newNames = batchCols.filterNot(existingNames.contains).filterNot(isUnmappedName)
    val room = math.max(0, maxColumns - existing.columns.length)
    val (added, frozen) =
      if (schemaFreeze) (Nil, newNames)
      else (newNames.take(room), newNames.drop(room))
    val addedSpecs = added.map(n => ColumnSpec(n, batchKind(batch, n)))
    val addedProjected = added.map(n => col(s"`$n`").as(n))
    frozen.foreach(n => overflow += n -> col(s"`$n`").cast("string"))

    // an incoming `_unmapped_data` column (a re-loaded overflow row) merges in:
    // fresh overflow wins, otherwise the batch's existing value carries through
    val incomingUnmapped = batchCols.find(isUnmappedName)
      .map(n => col(s"`$n`").cast("string"))
    val fresh = unmappedJson(overflow.toSeq)
    val unmappedValue = incomingUnmapped match {
      case Some(prev) if overflow.nonEmpty => coalesce(fresh, prev)
      case Some(prev)                      => prev
      case None                            => fresh
    }
    val unmapped = unmappedValue.as(unmappedName)

    Plan(batch.select(existingProjected ++ addedProjected :+ unmapped: _*),
      addedSpecs)
  }

  /** The `_unmapped_data` text of `candidates` (name → string value, null
    * where nothing is routed): a JSON object of the non-null values, or
    * null when all are null. "Any non-null" is one flat n-ary test, so a
    * wide batch does not build a left-deep `||` chain. No candidates: a
    * typed null. */
  private[graft] def unmappedJson(candidates: Seq[(String, Column)]): Column =
    if (candidates.isEmpty) lit(null).cast(StringType)
    else when(coalesce(candidates.map(_._2): _*).isNotNull,
      to_json(struct(candidates.map { case (n, c) => c.as(n) }: _*)))
}
