package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level value conversions along the typecast tree.
  *
  * Each function is the Spark-declarative rendering of a conversion rule in
  * the reference (types/converter.go:45-365). All are built from
  * `org.apache.spark.sql.functions` so they stay inside whole-stage codegen;
  * no UDFs anywhere on this path.
  */
object Conversions {

  /** ISO-8601 / RFC3339 with millis — the reference's canonical wire format
    * for timestamps (types/converter.go:214-222 `timestampToString`). */
  val IsoMillis = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

  /** Guarded timestamp sniff (types/datatype.go:169-215): strings of length
    * 19..35 starting with '1' or '2' that parse under RFC3339 or
    * `yyyy-MM-dd HH:mm:ss` layouts. Non-matching values yield null. */
  def sniffTimestamp(c: Column): Column = {
    val candidate = length(c).between(DataKind.TsMinLen, DataKind.TsMaxLen) &&
      substring(c, 1, 1).isin("1", "2")
    when(candidate,
      coalesce(
        try_to_timestamp(c),                                  // ISO / catalyst default
        try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss"))))
  }

  /** True for strings that look like timestamps under the sniff guards. */
  def looksLikeTimestamp(c: Column): Column = sniffTimestamp(c).isNotNull

  /** Convert-path sniff that ALSO accepts bare `yyyy-MM-dd` dates (→
    * midnight), mirroring `ReformatTimeValue(v, supportDates = true)` —
    * the reference allows dates when converting INTO an already
    * timestamp-typed column (types/converter.go:354) while type DETECTION
    * keeps the 19-char minimum (datatype.go:126, supportDates = false). */
  def sniffTimestampOrDate(c: Column): Column = {
    val dateCandidate = length(c) === 10 && substring(c, 1, 1).isin("1", "2")
    coalesce(sniffTimestamp(c),
      when(dateCandidate, try_to_timestamp(c, lit("yyyy-MM-dd"))))
  }

  /** True for values the convert path accepts into a TIMESTAMP column. */
  def looksLikeTimestampOrDate(c: Column): Column =
    sniffTimestampOrDate(c).isNotNull

  /** string → int64; the reference also accepts comma/space grouped numbers
    * (`StringWithCommasToFloat`, types/converter.go:333-365). */
  def stringToLong(c: Column): Column =
    regexp_replace(c, "[ ,]", "").try_cast(LongType)

  def stringToDouble(c: Column): Column =
    regexp_replace(c, "[ ,]", "").try_cast(DoubleType)

  /** bool → 1/0 (types/converter.go:286-301). */
  def boolToLong(c: Column): Column = c.cast(LongType)

  /** float → int only when integral, else null → caller overflows the value
    * to `_unmapped_data` (types/converter.go:305-329 `floatToNumber`). */
  def doubleToLongIfIntegral(c: Column): Column =
    when(c === floor(c), c.cast(LongType))

  /** anything → string (types/converter.go:169-254). Timestamps format as
    * RFC3339-millis; other types use Spark's canonical cast. */
  def toText(c: Column, from: DataKind): Column = from match {
    case DataKind.Timestamp => date_format(c, IsoMillis)
    case _                  => c.cast(StringType)
  }

  /** strconv.ParseBool's exact domain (types/converter.go:192-205):
    * 1/t/T/TRUE/true/True and the 0/f/… negatives; anything else is NOT a
    * bool (null → unmapped route). Spark's native string→boolean cast also
    * accepts y/yes/n/no, which the reference rejects — so no cast fallback. */
  def anyToBoolean(c: Column): Column = {
    val t = trim(c)
    when(t.isin("1", "t", "T", "TRUE", "true", "True"), lit(true))
      .when(t.isin("0", "f", "F", "FALSE", "false", "False"), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  /** Postgres value mapping: strip NUL bytes which text columns reject
    * (implementations/sql/postgres.go:122-149). */
  def stripNulBytes(c: Column): Column = regexp_replace(c, "\\x00", "")

  /** Composite PK join — the reference joins pk values with `_###_`
    * (abstract_transactional.go:591-607). */
  def compositePk(pkCols: Seq[Column]): Column = concat_ws("_###_", pkCols: _*)

  /** Cast a column from one engine kind to another following the conversion
    * table; values that cannot convert become null (the schema-evolution
    * layer routes the originals to `_unmapped_data`, abstract.go:422-553). */
  def convert(c: Column, from: DataKind, to: DataKind): Column = (from, to) match {
    case (f, t) if f == t       => c
    case (DataKind.Unknown, _)  => lit(null).cast(to.spark)
    case (_, DataKind.Str)      => toText(c, from)
    case (_, DataKind.Json)     => toText(c, from)
    // declared/convert path allows bare dates (converter.go:354)
    case (DataKind.Str, DataKind.Timestamp) => sniffTimestampOrDate(c)
    case (DataKind.Str, DataKind.Int64)     => stringToLong(c)
    case (DataKind.Str, DataKind.Float64)   => stringToDouble(c)
    case (DataKind.Str, DataKind.Bool)      => anyToBoolean(c)
    case (DataKind.Bool, DataKind.Int64)    => boolToLong(c)
    case (DataKind.Bool, DataKind.Float64)  => c.cast(DoubleType)
    case (DataKind.Int64, DataKind.Float64) => c.cast(DoubleType)
    case (DataKind.Int64, DataKind.Bool)    => c =!= 0L
    case (DataKind.Float64, DataKind.Int64) => doubleToLongIfIntegral(c)
    case (DataKind.Timestamp, _)            => toText(c, from).try_cast(to.spark)
    case _                                  => c.try_cast(to.spark)
  }

  /** Can [[convert]] from `from` to `to` turn a non-null value into null?
    * True for the parsing conversions (Str → Timestamp/Int64/Float64/Bool),
    * Float64 → Int64, Timestamp → non-text kinds and the `try_cast`
    * fallbacks. Every other pair is total: same kind, anything → Str/Json,
    * the widenings Bool → Int64/Float64 and Int64 → Float64, Int64 → Bool,
    * and Unknown → anything (its values are always null). */
  def canFail(from: DataKind, to: DataKind): Boolean = (from, to) match {
    case (f, t) if f == t                                   => false
    case (DataKind.Unknown, _)                              => false
    case (_, DataKind.Str | DataKind.Json)                  => false
    case (DataKind.Bool, DataKind.Int64 | DataKind.Float64) => false
    case (DataKind.Int64, DataKind.Float64 | DataKind.Bool) => false
    case _                                                  => true
  }
}
