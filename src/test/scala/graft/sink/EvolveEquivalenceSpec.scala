package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, StructsToJson}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Conversions, DataKind}
import graft.sql.{ColumnSpec, TableSpec}
import graft.SparkSuite

/** [[SchemaEvolution.evolve]] (an unmapped check only where
  * [[Conversions.canFail]]) against the formula it replaced, kept here as
  * the reference: a check for every live column and a `||` chain over them.
  * Both must return the same rows and the same `_unmapped_data` text for
  * every (batch type, live kind) pair, or both refuse the pair. */
class EvolveEquivalenceSpec extends SparkSuite {

  /** The previous formula: every live column in the batch is a candidate. */
  private def referenceEvolve(batch: DataFrame, existing: TableSpec,
                              schemaFreeze: Boolean): DataFrame = {
    def isUnmapped(n: String) = n.equalsIgnoreCase(SchemaEvolution.UnmappedColumn)
    val (unmappedExisting, dataExisting) = existing.columns.partition(c => isUnmapped(c.name))
    val unmappedName = unmappedExisting.headOption.map(_.name).getOrElse(SchemaEvolution.UnmappedColumn)
    val batchCols = batch.columns.toSeq
    val overflow = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    val existingProjected = dataExisting.map { spec =>
      if (batchCols.contains(spec.name)) {
        val from = SchemaEvolution.batchKind(batch, spec.name)
        val orig = col(s"`${spec.name}`")
        val converted = Conversions.convert(orig, from, spec.kind).cast(spec.kind.spark)
        overflow += spec.name -> when(orig.isNotNull && converted.isNull, orig.cast("string"))
        converted.as(spec.name)
      } else lit(null).cast(spec.kind.spark).as(spec.name)
    }
    val newNames = batchCols.filterNot(dataExisting.map(_.name).contains).filterNot(isUnmapped)
    val (added, frozen) = if (schemaFreeze) (Nil, newNames) else (newNames, Nil)
    frozen.foreach(n => overflow += n -> col(s"`$n`").cast("string"))
    val overflowStruct = struct(overflow.toSeq.map { case (n, c) => c.as(n) }: _*)
    val anyOverflow = overflow.toSeq.map(_._2.isNotNull).reduceOption(_ || _).getOrElse(lit(false))
    val unmappedValue = batchCols.find(isUnmapped).map(n => col(s"`$n`").cast("string")) match {
      case Some(prev) => coalesce(when(anyOverflow, to_json(overflowStruct)), prev)
      case None       => when(anyOverflow, to_json(overflowStruct))
    }
    batch.select(existingProjected ++ added.map(n => col(s"`$n`").as(n)) :+
      unmappedValue.as(unmappedName): _*)
  }

  /** One batch column type and its adversarial values. */
  private final case class Source(label: String, ddl: String, values: Seq[Any])

  private val sources: Seq[Source] = Seq(
    Source("unknown", "VOID", Seq(null, null)),
    Source("bool", "BOOLEAN", Seq(true, false, null)),
    Source("byte", "TINYINT", Seq(1.toByte, 0.toByte, (-7).toByte, null)),
    Source("int64", "BIGINT", Seq(0L, 1L, -5L, Long.MaxValue, null)),
    Source("float64", "DOUBLE", Seq(2.5, 3.0, -0.0, 1e20, null)),
    Source("decimal", "DECIMAL(38,2)", Seq(
      new java.math.BigDecimal("2.50"), new java.math.BigDecimal("7.00"), null)),
    Source("str", "STRING", Seq("1e20", "2.5", "true", "42", "1,234", "2024-01-02",
      "2024-01-02 03:04:05", "2024-01-02T03:04:05.123Z", "x", "", null)),
    Source("date", "DATE", Seq(java.sql.Date.valueOf("2024-01-02"), null)),
    Source("timestamp", "TIMESTAMP", Seq(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123"), null)),
    Source("json", "STRUCT<a: BIGINT, b: STRING>", Seq(Row(1L, "x"), Row(null, null), null)),
    Source("array", "ARRAY<BIGINT>", Seq(Seq(1L, 2L), Seq.empty[Long], null)))

  /** Live kinds a warehouse column can carry. */
  private val liveKinds = DataKind.all.filterNot(_ == DataKind.Unknown)

  /** Rows of `df` as text, with its column names and types. */
  private def rendered(df: DataFrame): (Seq[(String, DataType)], Seq[Seq[String]]) =
    (df.schema.fields.toSeq.map(f => f.name -> f.dataType), canon(df))

  private def batchOf(src: Source, incoming: Boolean): DataFrame = {
    val rows = src.values.zipWithIndex.map { case (v, i) =>
      val base = Seq(i.toLong, v, if (i % 2 == 0) s"e$i" else null)
      Row.fromSeq(if (incoming) base :+ (if (i % 3 == 0) null else s"""{"old":$i}""") else base)
    }
    df(s"id BIGINT, c ${src.ddl}, extra STRING" +
      (if (incoming) ", _unmapped_data STRING" else ""), rows)
  }

  /** Both formulas over one pair; true when both accepted it. */
  private def assertSame(src: Source, live: DataKind, incoming: Boolean, freeze: Boolean): Boolean = {
    val batch = batchOf(src, incoming)
    val spec = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("c", live),
      ColumnSpec("gone", DataKind.Str)))
    val want = scala.util.Try(rendered(referenceEvolve(batch, spec, freeze)))
    val got = scala.util.Try(rendered(SchemaEvolution.evolve(batch, spec, schemaFreeze = freeze).projected))
    val pair = s"${src.label} → ${live.name} (incoming=$incoming, freeze=$freeze)"
    assert(want.isSuccess == got.isSuccess, s"$pair: reference $want, change $got")
    want.foreach(w => assert(got.get == w, pair))
    want.isSuccess
  }

  test("every (batch type, live kind) pair: same rows and _unmapped_data as the reference") {
    val accepted = for (src <- sources; live <- liveKinds; incoming <- Seq(false, true))
      yield (src.label, live, assertSame(src, live, incoming, freeze = incoming))
    // the pairs that reach an unmapped value are accepted, not refused
    for ((label, live) <- Seq("str" -> DataKind.Int64, "str" -> DataKind.Timestamp,
        "float64" -> DataKind.Int64, "timestamp" -> DataKind.Float64, "unknown" -> DataKind.Bool))
      assert(accepted.exists(a => a._1 == label && a._2 == live && a._3), s"$label → $live refused")
  }

  test("adversarial values reach _unmapped_data exactly as before") {
    val batch = df("id BIGINT, n STRING, f DOUBLE, t STRING, _unmapped_data STRING", Seq(
      Row(1L, "1e20", 2.5, "2024-01-02", null),
      Row(2L, "true", 3.0, "2024-01-02 03:04:05", """{"prev":1}"""),
      Row(3L, "42", null, "soon", """{"prev":2}""")))
    val spec = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("n", DataKind.Int64),
      ColumnSpec("f", DataKind.Int64), ColumnSpec("t", DataKind.Timestamp)))
    val got = SchemaEvolution.evolve(batch, spec).projected
    assert(rendered(got) == rendered(referenceEvolve(batch, spec, schemaFreeze = false)))
    assert(canon(got.select("id", "_unmapped_data")) == Seq(
      Seq("1", """{"n":"1e20","f":"2.5"}"""),
      Seq("2", """{"n":"true"}"""),
      Seq("3", """{"t":"soon"}""")))
  }

  test("a batch whose kinds match the live table projects no CaseWhen and no to_json") {
    val batch = df("id BIGINT, s STRING, d DOUBLE, b BOOLEAN, t TIMESTAMP, j STRUCT<a: BIGINT>",
      Seq(Row(1L, "x", 2.5, true, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), Row(1L))))
    val spec = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("s", DataKind.Str),
      ColumnSpec("d", DataKind.Float64), ColumnSpec("b", DataKind.Bool),
      ColumnSpec("t", DataKind.Timestamp), ColumnSpec("j", DataKind.Json)))
    val out = SchemaEvolution.evolve(batch, spec).projected
    val exprs = out.queryExecution.analyzed.expressions
    assert(!exprs.exists(_.exists(e => e.isInstanceOf[CaseWhen] || e.isInstanceOf[StructsToJson])),
      out.queryExecution.analyzed.treeString)
    assert(out.schema(SchemaEvolution.UnmappedColumn).dataType == StringType)
    assert(canon(out.select(SchemaEvolution.UnmappedColumn)) == Seq(Seq("∅")))
  }
}
