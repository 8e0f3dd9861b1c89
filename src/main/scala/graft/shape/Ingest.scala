package graft.shape

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Conversions, DataKind}

/** End-to-end ingest shaping: raw NDJSON → flattened, sanitized, typed
  * DataFrame — the reference's per-event `ProcessEvents` pipeline
  * (sql/processor.go:15-52: hints → flatten → infer) re-expressed as
  * batch-level steps:
  *
  *   1. `spark.read.json` — one distributed schema-inference pass (the
  *      columnar equivalent of per-event `TypeFromValue` + LCA widening:
  *      mixed int/float → double, anything ∨ string → string).
  *   2. Hint values, when the batch carries `__sql_type_*` fields: one tiny
  *      aggregate.
  *   3. The string-class scan ([[Infer.scanStringColumns]]): one grouped
  *      aggregate over unpivoted (column, value) cells decides timestamp
  *      sniff, bool/number lattice mixes and all-null columns for every
  *      string column at once; its plan does not widen with the column
  *      count.
  *   4. ONE narrow projection: flatten + rename + cast. It reads nothing by
  *      itself — the load that writes the shaped frame runs it.
  *
  * So shaping reads the raw batch twice (steps 1 and 3) and shuffles only
  * the scan's per-column flags.
  */
object Ingest {

  final case class ShapeOptions(
      caseMode: Names.CaseMode = Names.KeepCase,
      omitNils: Boolean = true,
      maxIdentifierLength: Int = 63,
      /** flattened paths to keep as JSON text (declared-schema fields,
        * options.go "schema" — abstract.go:103-111) */
      declaredFields: Seq[String] = Nil,
      /** hard cap on column count (options.go:59-63, default 5000) */
      maxColumns: Int = 5000,
      /** declared column types (the `columnTypes` stream option,
        * sql/options.go:13-39): overrides the inferred kind of a flattened
        * column; the value is cast, unconvertible values become null */
      columnTypes: Map[String, DataKind] = Map.empty,
      /** schema-inference sampling for `spark.read.json` — at 100 TB a full
        * second pass for inference is the dominant cost; sample it when the
        * key universe is stable (1.0 = exact, the correctness-gate default) */
      samplingRatio: Double = 1.0,
      /** persist the normalized text between the inference pass and the
        * parse pass — worth it when the raw lines are themselves the output
        * of upstream compute (serialized events), NOT when they stream
        * straight off cheap storage reads */
      cacheNormalized: Boolean = false)

  final case class Shaped(df: DataFrame, hints: Seq[Infer.Hint])

  /** Shape a batch of raw JSON strings.
    *
    * Spark's JSON schema inference silently drops empty-key fields, which the
    * reference instead surfaces as `_unnamed` (flattener.go:48-52) — so empty
    * keys are textually renamed before the parse (a narrow, codegen'd
    * `regexp_replace`; the pattern only fires on `{` or `,` directly followed
    * by an empty key). */
  def shape(spark: SparkSession, raw: Dataset[String],
            opts: ShapeOptions = ShapeOptions()): Shaped = {
    import spark.implicits._
    // The rename regex only needs to run on lines that actually contain `""`
    // — the guard is a cheap substring probe, so clean events (the common
    // case) skip the full regex scan over every byte.
    val hasEmptyKey = col("value").contains("\"\"")
    val normalized0 =
      raw.toDF("value")
        .select(when(hasEmptyKey,
          regexp_replace(col("value"), """([\{,]\s*)""\s*:""", "$1\"_unnamed\":"))
          .otherwise(col("value")).as("value"))
        .as[String]
    val normalized = if (opts.cacheNormalized) normalized0.persist() else normalized0
    val reader =
      if (opts.samplingRatio < 1.0)
        spark.read.option("samplingRatio", opts.samplingRatio.toString)
      else spark.read
    shapeDf(reader.json(normalized), opts)
  }

  /** Shape an already-parsed (possibly nested) DataFrame. */
  def shapeDf(parsed: DataFrame, opts: ShapeOptions = ShapeOptions()): Shaped = {
    val transform: String => String = n => Names.normalizeCase(n, opts.caseMode)

    // T5: hints are read and stripped BEFORE flattening (processor.go:20-40);
    // hinted OBJECT targets are then not flattened (processor.go:34-40).
    val hintFields = Infer.hintFields(parsed.schema)
    val hints = Infer.resolveHints(parsed, hintFields, transform)
    val cleaned = Infer.stripHintFields(parsed, hintFields)
    val notFlat = hints.map(_.target).toSet ++ opts.declaredFields

    // T1: flatten.
    val noHints = Flattener.flatten(cleaned, transform, notFlat)

    // T2/T3: sanitize identifiers. DISTINCT source names can sanitize to the
    // SAME identifier ("a!" and "a?" → "a_"); the reference's ordered-map
    // put makes the last writer win — merge such collisions into one column
    // (last non-null value), never emit duplicate names.
    val sanitized = noHints.columns.map(
      Names.column(_, Names.KeepCase, opts.maxIdentifierLength))
    val renamed =
      if (sanitized.distinct.length == sanitized.length)
        noHints.toDF(sanitized: _*)
      else {
        val pairs = sanitized.zip(noHints.columns.map(c => col(s"`$c`"))).toSeq
        val byName = pairs.groupBy(_._1)
        noHints.select(pairs.map(_._1).distinct.map { n =>
          byName(n) match {
            case Seq((_, only)) => only.as(n)
            case cols           => coalesce(cols.map(_._2).reverse: _*).as(n)
          }
        }: _*)
      }

    // T4: timestamp sniff + lattice recovery of bool/number mixes +
    // omit-nil columns, one grouped agg over all string cols.
    val overridden = hints.map(h => Names.column(h.target, Names.KeepCase, opts.maxIdentifierLength)).toSet
    val stringCols = renamed.schema.fields
      .filter(f => f.dataType == StringType && !overridden.contains(f.name))
      .map(_.name).toSeq
    val classes = Infer.scanStringColumns(renamed, stringCols)
    val (tsCols, allNull) = (classes.tsCols, classes.allNull)

    val dropped = if (opts.omitNils) renamed.drop(allNull.filterNot(overridden): _*) else renamed
    val hintByCol = hints.map(h => Names.column(h.target, Names.KeepCase, opts.maxIdentifierLength) -> h).toMap
    val projected = dropped.select(dropped.columns.map { c =>
      val v = col(s"`$c`")
      // known timestamp field names are TIMESTAMP whenever their values
      // parse, EVEN in mixed columns (types/converter.go:36-44) — ordinary
      // columns only convert when every non-null value passes the sniff
      val knownTs = Infer.KnownTimestampFields.contains(c.toLowerCase) &&
        dropped.schema(c).dataType == StringType
      val sniffed =
        // conversion INTO a timestamp column accepts bare dates → midnight
        // (converter.go:354 supportDates=true), unlike the detection sniff
        if (tsCols.contains(c) || knownTs) Conversions.sniffTimestampOrDate(v)
        // Spark collapses bool/number mixes to string; the reference's
        // lattice says BOOL∨INT64→INT64 and BOOL∨FLOAT64→FLOAT64
        // (converter.go:13-34) — restore that answer
        else if (classes.boolIntCols.contains(c))
          coalesce(Conversions.anyToBoolean(v).cast(LongType), Conversions.stringToLong(v))
        else if (classes.boolFloatCols.contains(c))
          coalesce(Conversions.anyToBoolean(v).cast(DoubleType), Conversions.stringToDouble(v))
        else v
      // declared columnTypes override the inferred kind (options.go:13-39)
      val base = opts.columnTypes.get(c) match {
        case Some(to) =>
          val from = DataKind.fromSpark(dropped.schema(c).dataType)
          Conversions.convert(col(s"`$c`"), from, to).cast(to.spark)
        case None => sniffed
      }
      hintByCol.get(c) match {
        case Some(h) => base.as(c, h.metadata)
        case None    => base.as(c)
      }
    }: _*)

    // over-cap columns route to `_unmapped_data` — the reference never drops
    // data silently (abstract.go:422-553 routes overflow the same way)
    val capped =
      if (projected.columns.length > opts.maxColumns) {
        val keep = projected.columns.take(opts.maxColumns)
        val over = projected.columns.drop(opts.maxColumns)
        val overStruct = struct(over.map(c => col(s"`$c`").cast(StringType).as(c)).toSeq: _*)
        val any = over.map(c => col(s"`$c`").isNotNull).reduce(_ || _)
        projected.select(keep.map(c => col(s"`$c`")).toSeq
          :+ when(any, to_json(overStruct)).as(graft.sink.SchemaEvolution.UnmappedColumn): _*)
      } else projected
    Shaped(capped, hints)
  }
}
