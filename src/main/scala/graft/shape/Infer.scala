package graft.shape

import org.apache.spark.sql.{Column, DataFrame, GraftExpressions, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
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
  * Scale note: the sniff decision for ALL string columns is ONE map-only
  * pass over unpivoted (column, value) cells, whose plan does not grow
  * with the column count (see [[scanStringColumns]]); the cast is a
  * narrow projection. No per-column jobs, no shuffle, no collect of data
  * rows.
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
    * constant). Array-valued hints are `[castType, ddlType]`. A frame held
    * on the driver reads the same values through a folded projection and
    * takes the first non-null one there: no job. */
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
    val values = fields.zipWithIndex.map { case (hf, i) =>
      val base = nestedCol(hf.segments)
      if (isArray(i)) transform_(base) else base.cast(StringType)
    }
    val row =
      // a driver-held frame: the projection folds, the first non-null is
      // taken here, and no job runs
      (if (GraftExpressions.isLocal(parsed)) GraftExpressions.localRows(parsed.select(values: _*))
       else None) match {
        case Some(rows) =>
          Row.fromSeq(values.indices.map(i => rows.iterator.map(_.get(i)).find(_ != null).orNull))
        case None =>
          val aggs = values.zipWithIndex.map { case (v, i) => first(v, ignoreNulls = true).as(s"h$i") }
          parsed.agg(aggs.head, aggs.tail: _*).collect()(0)
      }
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
    * unpivot into (column index, value) cells, null cells drop, and each
    * cell computes the six lattice flags. Every partition folds its cells
    * into one bitmap per flag (plus "seen"), the driver ORs the partitions'
    * bitmaps together. One stage, no shuffle; the driver receives
    * 7 × ⌈columns / 64⌉ longs per partition and no data rows. A column
    * never seen holds only nulls.
    *
    * On a frame held on the driver (every leaf a `LocalRelation`) the
    * unpivot, a `Generate` the optimizer does not fold, runs on the
    * driver instead: the non-null cells become a `LocalRelation`, the same
    * six flag expressions fold over it, and the same fold ORs the bits.
    * No job runs. */
  def scanStringColumns(df: DataFrame, candidates: Seq[String]): StringClasses = {
    if (candidates.isEmpty) return StringClasses(Nil, Nil, Nil, Nil)
    val spark = df.sparkSession
    import spark.implicits._
    val words = (candidates.length + 63) / 64
    val v = col("v")
    // a flag of a non-null value is never null; "all" rules are stored
    // as their breaks, so every bitmap merges by OR
    def flagged(cells: DataFrame) = cells.select(col("i"),
      // TIMESTAMP classification needs every value to pass the CONVERT
      // sniff (which allows bare dates, converter.go:354) AND at least one
      // value to be a full timestamp — a column of only `yyyy-MM-dd`
      // strings stays STRING, matching detection with supportDates=false
      // (datatype.go:126); mixed full-ISO + date columns land TIMESTAMP
      // with dates at midnight (the date_mix fixture)
      !Conversions.looksLikeTimestampOrDate(v),
      Conversions.looksLikeTimestamp(v),
      !v.rlike(s"^(?:$BoolRe|$IntRe)$$"),
      !v.rlike(s"^(?:$BoolRe|$FloatRe)$$"),
      // the mix must ACTUALLY mix: an all-digit column is a quoted-string
      // column (the reference keeps quoted values STRING); only a column
      // holding both bool tokens and number tokens is the inference
      // conflict the lattice resolves downward
      v.rlike(s"^$BoolRe$$"),
      v.rlike(s"^$FloatRe$$"))
    def distributed(cells: DataFrame): Seq[Array[Long]] =
      flagged(cells).mapPartitions(foldFlags(_, words)).collect().toSeq
    // `inline` is a Generate, which ConvertToLocalRelation does not fold:
    // a driver-held frame unpivots its non-null cells here instead, and
    // only the flag projection runs, folded
    val local =
      if (!GraftExpressions.isLocal(df)) None
      else GraftExpressions.localRows(df.select(candidates.map(c => col(s"`$c`")): _*))
    val parts = local match {
      case Some(rows) =>
        val cells = spark.createDataFrame(
          rows.flatMap(r => candidates.indices.collect {
            case i if !r.isNullAt(i) => Row(i, r.getString(i))
          }).asJava,
          StructType(Seq(StructField("i", IntegerType), StructField("v", StringType))))
        GraftExpressions.localRows(flagged(cells))
          .map(flags => foldFlags(flags.iterator, words).toSeq)
          .getOrElse(distributed(cells))
      case None =>
        distributed(df
          .select(inline(array(candidates.zipWithIndex.map { case (c, i) =>
            struct(lit(i).as("i"), col(s"`$c`").as("v"))
          }: _*)))
          .where(v.isNotNull)) // only non-null values vote
    }
    val merged = new Array[Long](ScanFlags * words)
    parts.foreach { bits =>
      var w = 0
      while (w < merged.length) { merged(w) |= bits(w); w += 1 }
    }
    def flag(f: Int, i: Int): Boolean = (merged(f * words + i / 64) & (1L << (i % 64))) != 0
    def classOf(i: Int): Option[String] =
      if (!flag(0, i)) None
      else if (!flag(1, i) && flag(2, i)) Some("ts")
      else if (flag(5, i) && flag(6, i) && !flag(3, i)) Some("boolInt")
      else if (flag(5, i) && flag(6, i) && !flag(4, i)) Some("boolFloat")
      else Some("string")
    val classes = candidates.indices.map(classOf)
    def inClass(cls: Option[String]) =
      candidates.zip(classes).collect { case (c, k) if k == cls => c }
    StringClasses(inClass(Some("ts")), inClass(None),
      inClass(Some("boolInt")), inClass(Some("boolFloat")))
  }

  /** Bitmaps of [[scanStringColumns]]: seen, then its six flags in order. */
  private val ScanFlags = 7

  /** One partition's flagged cells → its bitmaps, `words` longs per flag. */
  private def foldFlags(cells: Iterator[Row], words: Int): Iterator[Array[Long]] = {
    val bits = new Array[Long](ScanFlags * words)
    cells.foreach { r =>
      val i = r.getInt(0)
      val word = i / 64
      val bit = 1L << (i % 64)
      bits(word) |= bit
      var f = 1
      while (f < ScanFlags) {
        if (r.getBoolean(f)) bits(f * words + word) |= bit
        f += 1
      }
    }
    Iterator.single(bits)
  }

  /** Default-TIMESTAMP field names (types/converter.go:36-44): these are
    * timestamp-typed whenever their values parse, even in mixed columns. */
  val KnownTimestampFields: Set[String] = Set("_timestamp", "utc_time", "local_tz_offset")
}
