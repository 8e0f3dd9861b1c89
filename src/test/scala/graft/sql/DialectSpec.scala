package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.core.DataKind

/** SQL-generation and type reverse-mapping per dialect
  * (sql_adapter_base.go:131-145,562-740; types_test.go collision corpus). */
class DialectSpec extends AnyFunSuite {

  test("kindFor: tinyint(1) is Bool, not Int64 (MySQL bool adoption)") {
    assert(MySqlDialect.kindFor("tinyint(1)") == DataKind.Bool)
    assert(MySqlDialect.kindFor("tinyint(4)") == DataKind.Int64)
    assert(MySqlDialect.kindFor("bit") == DataKind.Bool)
  }

  test("kindFor: point/interval are NOT integers") {
    assert(PostgresDialect.kindFor("point") == DataKind.Str)
    assert(PostgresDialect.kindFor("interval") == DataKind.Str)
  }

  test("kindFor: the common families") {
    assert(PostgresDialect.kindFor("bigint") == DataKind.Int64)
    assert(PostgresDialect.kindFor("int8") == DataKind.Int64)
    assert(PostgresDialect.kindFor("INTEGER") == DataKind.Int64)
    assert(PostgresDialect.kindFor("smallint") == DataKind.Int64)
    assert(PostgresDialect.kindFor("double precision") == DataKind.Float64)
    assert(PostgresDialect.kindFor("numeric(38,18)") == DataKind.Float64)
    assert(SnowflakeDialect.kindFor("NUMBER(38,0)") == DataKind.Float64)
    assert(PostgresDialect.kindFor("timestamp with time zone") == DataKind.Timestamp)
    assert(MySqlDialect.kindFor("datetime(6)") == DataKind.Timestamp)
    assert(PostgresDialect.kindFor("date") == DataKind.Timestamp)
    assert(PostgresDialect.kindFor("boolean") == DataKind.Bool)
    assert(PostgresDialect.kindFor("jsonb") == DataKind.Json)
    assert(RedshiftDialect.kindFor("super") == DataKind.Json)
    assert(SnowflakeDialect.kindFor("VARIANT") == DataKind.Json)
    assert(PostgresDialect.kindFor("text") == DataKind.Str)
    assert(PostgresDialect.kindFor("character varying(65535)") == DataKind.Str)
  }

  test("kindFor inverts typeFor on every dialect and kind") {
    for (d <- Dialect.all.values; k <- DataKind.all if k != DataKind.Unknown) {
      val expected = k match {
        // JSON is carried as text on dialects without a JSON type
        case DataKind.Json if Set("snowflake", "derby", "clickhouse")(d.name) => DataKind.Str
        case other => other
      }
      assert(d.kindFor(d.typeFor(k)) == expected, s"${d.name}: $k via ${d.typeFor(k)}")
    }
  }

  test("createTable includes ordered columns and pk constraint") {
    val t = TableSpec("t1", Seq(
      ColumnSpec("id", DataKind.Int64), ColumnSpec("name", DataKind.Str)),
      pk = Seq("id"))
    val sql = PostgresDialect.createTable(t, ifNotExists = false)
    assert(sql == """CREATE TABLE "t1" ("id" bigint, "name" text, CONSTRAINT "t1_pk" PRIMARY KEY ("id"))""")
  }

  test("ddlOverride from a __sql_type_ hint wins over the kind mapping") {
    val t = TableSpec("t", Seq(ColumnSpec("v", DataKind.Str, ddlOverride = Some("varchar(4)"))))
    assert(PostgresDialect.createTable(t).contains("\"v\" varchar(4)"))
  }

  test("postgres merge is INSERT .. ON CONFLICT ON CONSTRAINT") {
    val tgt = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("v", DataKind.Str)), pk = Seq("id"))
    val tmp = TableSpec("t_tmp", tgt.columns)
    val Seq(sql) = PostgresDialect.mergeInto(tgt, tmp, Seq("id", "v"), Seq("id"))
    assert(sql.contains("ON CONFLICT ON CONSTRAINT \"t_pk\" DO UPDATE SET"))
    assert(sql.contains("excluded.\"v\""))
    assert(!sql.contains("excluded.\"id\" ")) // pk not updated
  }

  test("mysql merge is ON DUPLICATE KEY UPDATE with backtick quoting") {
    val tgt = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("v", DataKind.Str)), pk = Seq("id"))
    val Seq(sql) = MySqlDialect.mergeInto(tgt, TableSpec("tmp", tgt.columns), Seq("id", "v"), Seq("id"))
    assert(sql.contains("ON DUPLICATE KEY UPDATE `v` = S.`v`"))
  }

  test("redshift merge is delete-then-insert with the window predicate on the target") {
    val tgt = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("ts", DataKind.Timestamp)), pk = Seq("id"))
    val stmts = RedshiftDialect.mergeInto(tgt, TableSpec("tmp", tgt.columns),
      Seq("id", "ts"), Seq("id"), windowPredicate = Some("""__T__."ts" >= '2024-01-01'"""))
    assert(stmts.length == 2)
    assert(stmts.head.startsWith("DELETE FROM"))
    assert(stmts.head.contains(""""t"."ts" >= '2024-01-01'"""))
    assert(stmts(1).startsWith("INSERT INTO"))
  }

  test("clickhouse create uses ReplacingMergeTree with pk ORDER BY and ts partition (D5)") {
    val t = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("ts", DataKind.Timestamp)),
      pk = Seq("id"), timestampCol = Some("ts"))
    val sql = ClickHouseDialect.createTable(t)
    assert(sql.contains("ENGINE = ReplacingMergeTree()"))
    assert(sql.contains("PARTITION BY toYYYYMM(`ts`)"))
    assert(sql.contains("ORDER BY (`id`)"))
    // merge degenerates to plain copy — storage collapses duplicates
    val Seq(copy) = ClickHouseDialect.mergeInto(t, TableSpec("tmp", t.columns), Seq("id", "ts"), Seq("id"))
    assert(copy.startsWith("INSERT INTO"))
  }

  test("bigquery create adds day-grain time partitioning (bigquery.go:400-410)") {
    val t = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64),
      ColumnSpec("ts", DataKind.Timestamp)), timestampCol = Some("ts"))
    val sql = BigQueryDialect.createTable(t)
    assert(sql.endsWith("PARTITION BY DATE(`ts`)"))
    // no timestamp column → plain table
    assert(!BigQueryDialect.createTable(t.copy(timestampCol = None)).contains("PARTITION"))
  }

  test("duckdb merge is INSERT OR REPLACE") {
    val t = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64)), pk = Seq("id"))
    val Seq(sql) = DuckDbDialect.mergeInto(t, TableSpec("tmp", t.columns), Seq("id"), Seq("id"))
    assert(sql.startsWith("INSERT OR REPLACE INTO"))
  }

  test("clickhouse cluster mode: ON CLUSTER + Replicated engine + Distributed facade") {
    val d = ClickHouseDialect.onCluster("main")
    val t = TableSpec("evt", Seq(ColumnSpec("id", DataKind.Int64)), pk = Seq("id"))
    val create = d.createTable(t)
    assert(create.contains("ON CLUSTER `main`"))
    assert(create.contains("ReplicatedReplacingMergeTree"))
    val Some(dist) = d.createDistributed(t)
    assert(dist.contains("ENGINE = Distributed(`main`, currentDatabase(), `evt_local`, rand())"))
    assert(d.addColumn(t, ColumnSpec("v", DataKind.Str)).contains("ON CLUSTER `main`"))
    // single-node instance emits no cluster clauses
    assert(!ClickHouseDialect.createTable(t).contains("ON CLUSTER"))
    assert(ClickHouseDialect.createDistributed(t).isEmpty)
  }

  test("physical load paths: COPY / PUT+COPY / LOAD DATA / s3() per warehouse") {
    val t = TableSpec("t", Seq(ColumnSpec("id", DataKind.Int64)))
    val rs = RedshiftDialect.loadStaged(t, "s3://bucket/stage/part.csv.gz")
    assert(rs == Seq("""COPY "t" FROM 's3://bucket/stage/part.csv.gz' CSV IGNOREHEADER 1 GZIP"""))
    val sf = SnowflakeDialect.loadStaged(t, "/tmp/stage/part.csv", gzip = false)
    assert(sf.head.startsWith("PUT 'file:///tmp/stage/part.csv' @~"))
    assert(sf(1).startsWith("""COPY INTO "t" FROM @~"""))
    val my = MySqlDialect.loadStaged(t, "/tmp/stage/part.csv")
    assert(my.head.startsWith("LOAD DATA LOCAL INFILE '/tmp/stage/part.csv' INTO TABLE `t`"))
    val ch = ClickHouseDialect.loadStaged(t, "https://bucket.s3/stage.csv")
    assert(ch == Seq("INSERT INTO `t` SELECT * FROM s3('https://bucket.s3/stage.csv', 'CSVWithNames')"))
    // generic JDBC dialects have no staged path (row-wise writer instead)
    assert(PostgresDialect.loadStaged(t, "/x").isEmpty)
    assert(DerbyDialect.loadStaged(t, "/x").isEmpty)
  }

  test("identifier adaptation applies case mode and length cap per dialect") {
    assert(PostgresDialect.adaptIdentifier("MiXeD Name!") == "mixed name_")
    assert(SnowflakeDialect.adaptIdentifier("mixed") == "MIXED")
    assert(DerbyDialect.adaptIdentifier("a") == "A")
    val long = "c" * 300
    assert(PostgresDialect.adaptIdentifier(long).length == 63)
    assert(MySqlDialect.adaptIdentifier(long).length == 64)
    assert(RedshiftDialect.adaptIdentifier(long).length == 127)
  }

  test("only Derby indexes the staging table, on the merge key") {
    val tmp = TableSpec("T_TMP_1", Seq(ColumnSpec("id", DataKind.Str), ColumnSpec("v", DataKind.Str)))
    assert(DerbyDialect.stagingIndex(tmp, Seq("id")) ==
      Some("""CREATE INDEX "T_TMP_1" ON "T_TMP_1" ("id")"""))
    assert(DerbyDialect.stagingIndex(tmp, Nil).isEmpty)
    Dialect.all.values.filterNot(_ == DerbyDialect).foreach(d =>
      assert(d.stagingIndex(tmp, Seq("id")).isEmpty, d.name))
  }

  test("the pk constraint name is cut to the cap, the same in CREATE and ON CONFLICT") {
    val long = TableSpec("t" * 63, Seq(ColumnSpec("id", DataKind.Int64), ColumnSpec("v", DataKind.Str)),
      pk = Seq("id"))
    val name = PostgresDialect.pkName(long)
    assert(name == "t" * 60 + "_pk")
    assert(PostgresDialect.createTable(long).contains(s"""CONSTRAINT "$name" PRIMARY KEY"""))
    assert(PostgresDialect.mergeInto(long, long.copy(name = "s"), Seq("id", "v"), Seq("id"), None)
      .head.contains(s"""ON CONFLICT ON CONSTRAINT "$name" DO UPDATE"""))
    assert(PostgresDialect.pkName(long.copy(name = "t1")) == "t1_pk")
  }

  test("quote escapes embedded quote characters") {
    assert(PostgresDialect.quote("""a"b""") == """"a""b"""")
    assert(MySqlDialect.quote("a`b") == "`a``b`")
  }
}
