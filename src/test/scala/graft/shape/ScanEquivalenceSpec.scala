package graft.shape

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Conversions
import graft.SparkSuite

/** [[Infer.scanStringColumns]] (one grouped aggregate over unpivoted cells)
  * against the per-column scan it replaced, kept here as the reference:
  * seven aggregates per string column in one global aggregate. Both must
  * classify every column the same on the lattice fixtures, on seeded random
  * mixes, and past Spark's 100-field codegen limit. */
class ScanEquivalenceSpec extends SparkSuite {
  import spark.implicits._

  private val BoolRe = "(?:true|false|True|False|TRUE|FALSE)"
  private val IntRe = "[-+]?[0-9]+"
  private val FloatRe = "[-+]?(?:[0-9]+\\.?[0-9]*|\\.[0-9]+)(?:[eE][-+]?[0-9]+)?"

  /** The per-column reference scan: 7 aggregates for every column. */
  private def referenceScan(df: DataFrame, candidates: Seq[String]): Infer.StringClasses = {
    if (candidates.isEmpty) return Infer.StringClasses(Nil, Nil, Nil, Nil)
    val aggs = candidates.flatMap { c =>
      val v = col(s"`$c`")
      Seq(
        bool_and(v.isNull || Conversions.looksLikeTimestampOrDate(v)).as(s"ts__$c"),
        bool_or(v.isNotNull && Conversions.looksLikeTimestamp(v)).as(s"hts__$c"),
        bool_and(v.isNull || v.rlike(s"^(?:$BoolRe|$IntRe)$$")).as(s"bi__$c"),
        bool_and(v.isNull || v.rlike(s"^(?:$BoolRe|$FloatRe)$$")).as(s"bf__$c"),
        bool_or(v.isNotNull && v.rlike(s"^$BoolRe$$")).as(s"hb__$c"),
        bool_or(v.isNotNull && v.rlike(s"^$FloatRe$$")).as(s"hn__$c"),
        count(v).as(s"n__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def flag(prefix: String, c: String): Boolean = {
      val idx = row.fieldIndex(s"${prefix}__$c")
      !row.isNullAt(idx) && row.getBoolean(idx) &&
        row.getLong(row.fieldIndex(s"n__$c")) > 0
    }
    val ts = candidates.filter(c => flag("ts", c) && flag("hts", c))
    def mixed(c: String) = flag("hb", c) && flag("hn", c)
    val bi = candidates.filterNot(ts.contains).filter(c => flag("bi", c) && mixed(c))
    val bf = candidates.filterNot(ts.contains).filterNot(bi.contains)
      .filter(c => flag("bf", c) && mixed(c))
    val allNull = candidates.filter(c => row.getLong(row.fieldIndex(s"n__$c")) == 0L)
    Infer.StringClasses(ts, allNull, bi, bf)
  }

  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq

  /** Both scans over `df`'s string columns; returns the (equal) classes. */
  private def assertSameClasses(df: DataFrame): Infer.StringClasses = {
    val cands = stringCols(df)
    val want = referenceScan(df, cands)
    val got = Infer.scanStringColumns(df, cands)
    assert(got == want)
    got
  }

  private def parsed(lines: String*): DataFrame = spark.read.json(lines.toSeq.toDS())

  test("IngestSpec fixtures classify identically") {
    val fixtures = Seq(
      // date-only column, ISO + date mix, a non-timestamp among timestamps
      parsed("""{"d":"2024-01-02","mix":"2024-01-02T03:04:05Z","w":"2024-01-02 03:04:05"}""",
        """{"d":"2024-02-03","mix":"2024-02-03","w":"not a date"}"""),
      // bool/int, bool/float, quoted digits, quoted bools
      parsed("""{"bi":true,"bf":true,"zip":"01234","qb":"true"}""",
        """{"bi":3,"bf":1.5,"zip":"99999","qb":"false"}""", """{"bi":false,"bf":2}"""),
      // known timestamp names in a mixed column, sub-second layouts
      parsed("""{"_timestamp":"2024-01-02 03:04:05","t":"2024-01-02T03:04:05.123456+00:00"}""",
        """{"_timestamp":"not a date","t":"2024-06-07T08:09:10.111Z"}"""),
      // all-null columns beside values
      parsed("""{"a":"x","gone":null,"half":null}""", """{"a":"y","gone":null,"half":"2024-01-02 03:04:05"}"""))
    val seen = fixtures.map(assertSameClasses)
    // the fixtures reach every class
    assert(seen.exists(_.tsCols.contains("mix")) && seen.exists(_.tsCols.contains("half")))
    assert(!seen.exists(_.tsCols.contains("d")) && !seen.exists(_.tsCols.contains("w")))
    assert(seen.exists(_.boolIntCols == Seq("bi")) && seen.exists(_.boolFloatCols == Seq("bf")))
    assert(seen.exists(_.allNull == Seq("gone")))
  }

  /** Values of one kind, as the JSON reader leaves them in a string column. */
  private val pools: Seq[Seq[String]] = Seq(
    Seq("2024-01-02 03:04:05", "2023-12-31T23:59:59Z", "2024-06-07T08:09:10.111+02:00",
      "1999-01-01T00:00:00.123456+00:00"),
    Seq("2024-01-02", "1970-01-01", "2099-12-31"),
    Seq("true", "false", "TRUE", "False"),
    Seq("0", "-17", "+42", "0123"),
    Seq("1.5", "-.25", "3e10", "7."),
    Seq("x", "not a date", "3rd", "1,234", "", " 1"))

  /** `cols` string columns of `rows` rows; each column draws from one to
    * three pools, with some nulls, and some columns are all null. */
  private def randomMix(seed: Long, cols: Int, rows: Int): DataFrame = {
    val rnd = new Random(seed)
    val spec = Seq.fill(cols) {
      if (rnd.nextInt(8) == 0) Nil
      else Seq.fill(1 + rnd.nextInt(3))(pools(rnd.nextInt(pools.length))).distinct
    }
    val data = Seq.fill(rows)(Row.fromSeq(spec.map { drawn =>
      if (drawn.isEmpty || rnd.nextInt(4) == 0) null
      else { val p = drawn(rnd.nextInt(drawn.length)); p(rnd.nextInt(p.length)) }
    }))
    val schema = StructType((0 until cols).map(i => StructField(s"c$i", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  test("seeded random mixes classify identically") {
    val seen = (1L to 6L).map(seed => assertSameClasses(randomMix(seed, cols = 24, rows = 40)))
    assert(seen.exists(_.tsCols.nonEmpty) && seen.exists(_.allNull.nonEmpty))
    assert(seen.exists(_.boolIntCols.nonEmpty) && seen.exists(_.boolFloatCols.nonEmpty))
  }

  test("300 string columns, past the 100-field codegen limit, classify identically") {
    val got = assertSameClasses(randomMix(seed = 300L, cols = 300, rows = 30))
    assert(got.tsCols.nonEmpty && got.allNull.nonEmpty && got.boolIntCols.nonEmpty)
  }

  test("partitions that each see part of a column merge to the whole column's class") {
    // one RDD partition per group; the last one is empty
    val parts: Seq[Seq[Row]] = Seq(
      Seq(Row("true", null, "2024-01-02 03:04:05", "2024-01-02T03:04:05Z", "x"),
          Row("false", null, "2024-01-03 03:04:05", "2024-01-02", "y")),
      Seq(Row("1", "2024-01-02 03:04:05", "not a date", "2024-02-03", null),
          Row("-2", "2024-01-04 03:04:05", "2024-01-05 03:04:05", "2024-02-04", "3.5")),
      Nil)
    val schema = StructType(Seq("bi", "half", "broken", "dates", "s").map(StructField(_, StringType)))
    val data = spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.length).flatMap(identity), schema)
    assert(data.rdd.glom().map(_.length).collect().toSeq == Seq(2, 2, 0))
    val got = assertSameClasses(data)
    assert(got.boolIntCols == Seq("bi"))       // bools in one partition, ints in the other
    assert(got.tsCols == Seq("half", "dates")) // null in one partition, values in the other
    assert(got.allNull.isEmpty && got.boolFloatCols.isEmpty)
  }
}
