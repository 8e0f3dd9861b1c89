package graft.shape

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Conversions

/** Type inference post-pass (T4) and `__sql_type_` hint extraction (T5).
  *
  * Inference (reference: types/datatype.go:218-242, sql/type_resolver.go:42-86)
  * is per-value in the reference with LCA widening across the batch; Spark's
  * JSON reader already gives the numeric/bool/string widening per batch. What
  * it does NOT give is the reference's timestamp sniff (datatype.go:169-215):
  * a string column whose every non-null value looks like a timestamp becomes
  * TIMESTAMP — mixed columns stay STRING, exactly the lattice LCA
  * (TIMESTAMP ∨ STRING = STRING).
  *
  * Scale note: the sniff decision for ALL string columns is ONE grouped
  * aggregate over unpivoted (column, value) cells, whose plan does not
  * grow with the column count (see [[scanStringColumns]]); the cast is a
  * narrow projection. No per-column jobs, no collect of data rows.
  */
object Infer {

  /** A `__sql_type_<field>` hint found in the batch schema
    * (processor.go:54-95): `target` is the flattened column the hint applies
    * to ("" suffix → the enclosing object itself), `hintCol` is the flattened
    * name of the hint field, `castType`/`ddlType` filled from the value. */
  final case class Hint(target: String, hintCol: String,
                        castType: String, ddlType: Option[String]) {
    def metadata: Metadata = {
      val b = new MetadataBuilder().putString("sqlType", castType).putBoolean("override", true)
      ddlType.foreach(b.putString("ddlType", _))
      b.build()
    }
  }

  val HintPrefix = "__sql_type_"

  /** A hint field located in the PARSED (still nested) schema: the path
    * segments of the hint field itself and of the flattened target name.
    * Hints must be read and removed BEFORE flattening (processor.go:20-40) —
    * a hint addressing its own enclosing object would otherwise be swallowed
    * by the stringification it requests. */
  final case class HintField(segments: Seq[String], targetSegments: Seq[String])

  /** Driver-side schema walk: every `__sql_type_*` field at any nesting depth. */
  def hintFields(schema: StructType): Seq[HintField] = {
    def walk(prefix: Seq[String], st: StructType): Seq[HintField] =
      st.fields.toSeq.flatMap { f =>
        if (f.name.startsWith(HintPrefix)) {
          val suffix = f.name.stripPrefix(HintPrefix).stripPrefix("_")
          // empty suffix → hint addresses the whole enclosing object
          val target = if (suffix.isEmpty) prefix else prefix :+ suffix
          Seq(HintField(prefix :+ f.name, target))
        } else f.dataType match {
          case nested: StructType => walk(prefix :+ f.name, nested)
          case _                  => Nil
        }
      }
    walk(Nil, schema)
  }

  private def nestedCol(segments: Seq[String]): Column =
    segments.tail.foldLeft(col(s"`${segments.head}`"))((c, s) => c.getField(s))

  /** Resolve hint values with one tiny aggregate over the PARSED frame
    * (hints are per-event in the reference; the batch form takes the first
    * non-null occurrence — matching matrix-test fixtures where hints are
    * constant). Array-valued hints are `[castType, ddlType]`. */
  def resolveHints(parsed: DataFrame, fields: Seq[HintField],
                   transform: String => String): Seq[Hint] = {
    if (fields.isEmpty) return Nil
    def dtOf(segs: Seq[String]): DataType =
      segs.foldLeft(parsed.schema: DataType) {
        case (st: StructType, s) => st(s).dataType
        case (dt, _)             => dt
      }
    // Array-valued hints ([castType, ddlType], processor.go:54-95) stay a
    // real ARRAY through the aggregate — a ddlType containing a comma
    // ("numeric(38,18)") must not be split apart by string surgery.
    val isArray = fields.map(hf => dtOf(hf.segments).isInstanceOf[ArrayType])
    val aggs = fields.zipWithIndex.map { case (hf, i) =>
      val base = nestedCol(hf.segments)
      val c =
        if (isArray(i)) first(transform_(base), ignoreNulls = true)
        else first(base, ignoreNulls = true).cast(StringType)
      c.as(s"h$i")
    }
    val row = parsed.agg(aggs.head, aggs.tail: _*).collect()(0)
    fields.zipWithIndex.flatMap { case (hf, i) =>
      val target = hf.targetSegments.map(transform).mkString("_")
      val hintName = hf.segments.map(transform).mkString("_")
      if (isArray(i)) {
        Option(row.getSeq[String](i)).collect {
          case parts if parts.nonEmpty =>
            Hint(target, hintName, parts.head, parts.lift(1))
        }
      } else Option(row.getString(i)).map(Hint(target, hintName, _, None))
    }
  }

  /** Array hint elements → strings (elements may parse as non-string). */
  private def transform_(base: Column): Column =
    transform(base, e => e.cast(StringType))

  /** Remove hint fields from the parsed frame before flattening. Top-level
    * hints drop the column; nested ones rebuild the struct via `dropFields`. */
  def stripHintFields(parsed: DataFrame, fields: Seq[HintField]): DataFrame =
    fields.foldLeft(parsed) { (df, hf) =>
      if (hf.segments.length == 1) df.drop(hf.segments.head)
      else {
        val top = hf.segments.head
        val dotted = hf.segments.tail.map(s => s"`$s`").mkString(".")
        df.withColumn(top, col(s"`$top`").dropFields(dotted))
      }
    }

  /** Column classes recovered from a string column whose values Spark's
    * JSON inference could not unify: the reference's lattice unifies
    * BOOL∨INT64→INT64 and BOOL∨FLOAT64→FLOAT64 (converter.go:13-34), while
    * Spark collapses such mixes to string — these classes restore the
    * lattice answer. */
  final case class StringClasses(tsCols: Seq[String], allNull: Seq[String],
                                 boolIntCols: Seq[String], boolFloatCols: Seq[String])

  private val BoolRe = "(?:true|false|True|False|TRUE|FALSE)"
  private val IntRe = "[-+]?[0-9]+"
  private val FloatRe = "[-+]?(?:[0-9]+\\.?[0-9]*|\\.[0-9]+)(?:[eE][-+]?[0-9]+)?"

  /** One pass deciding, for every string column: (a) every value looks like
    * a timestamp (→ TIMESTAMP), (b) entirely null (→ drop under omitNils),
    * (c) every value is bool-or-int (→ INT64 per the lattice), (d) every
    * value is bool-or-numeric (→ FLOAT64).
    *
    * The plan has the same width whatever the column count: the candidates
    * unpivot into (column index, value) cells, null cells drop, and ONE
    * grouped aggregate writes the six lattice flags once, keyed by index.
    * A column with no group holds only nulls. The flags combine map-side,
    * so the shuffle carries at most one row per column per partition; no
    * data rows are collected. */
  def scanStringColumns(df: DataFrame, candidates: Seq[String]): StringClasses = {
    if (candidates.isEmpty) return StringClasses(Nil, Nil, Nil, Nil)
    val cells = df
      .select(inline(array(candidates.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("i"), col(s"`$c`").as("v"))
      }: _*)))
      .where(col("v").isNotNull) // only non-null values vote
    val v = col("v")
    val flags = cells.groupBy("i").agg(
      // TIMESTAMP classification needs every value to pass the CONVERT
      // sniff (which allows bare dates, converter.go:354) AND at least one
      // value to be a full timestamp — a column of only `yyyy-MM-dd`
      // strings stays STRING, matching detection with supportDates=false
      // (datatype.go:126); mixed full-ISO + date columns land TIMESTAMP
      // with dates at midnight (the date_mix fixture)
      bool_and(Conversions.looksLikeTimestampOrDate(v)) && bool_or(Conversions.looksLikeTimestamp(v)),
      bool_and(v.rlike(s"^(?:$BoolRe|$IntRe)$$")),
      bool_and(v.rlike(s"^(?:$BoolRe|$FloatRe)$$")),
      // the mix must ACTUALLY mix: an all-digit column is a quoted-string
      // column (the reference keeps quoted values STRING); only a column
      // holding both bool tokens and number tokens is the inference
      // conflict the lattice resolves downward
      bool_or(v.rlike(s"^$BoolRe$$")) && bool_or(v.rlike(s"^$FloatRe$$")))
    // one class per column that has a value; a null flag never holds
    val classOf: Map[Int, String] = flags.collect().map { r =>
      def holds(j: Int) = !r.isNullAt(j) && r.getBoolean(j)
      r.getInt(0) -> (
        if (holds(1)) "ts"
        else if (holds(2) && holds(4)) "boolInt"
        else if (holds(3) && holds(4)) "boolFloat"
        else "string")
    }.toMap
    val indexed = candidates.zipWithIndex
    def inClass(cls: Option[String]) =
      indexed.collect { case (c, i) if classOf.get(i) == cls => c }
    StringClasses(inClass(Some("ts")), inClass(None),
      inClass(Some("boolInt")), inClass(Some("boolFloat")))
  }

  /** Default-TIMESTAMP field names (types/converter.go:36-44): these are
    * timestamp-typed whenever their values parse, even in mixed columns. */
  val KnownTimestampFields: Set[String] = Set("_timestamp", "utc_time", "local_tz_offset")
}
