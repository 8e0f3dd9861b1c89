package graft.sql

import graft.core.DataKind
import graft.shape.Names

/** One column of a physical table. `ddlOverride` carries a `__sql_type_`
  * hint's DDL text (processor.go:54-95, Override=true). */
final case class ColumnSpec(name: String, kind: DataKind, ddlOverride: Option[String] = None)

/** Physical table spec (implementations/sql/table.go:41-56): ordered columns,
  * ordered PK field set, optional event-timestamp column and namespace. */
final case class TableSpec(
    name: String,
    columns: Seq[ColumnSpec],
    pk: Seq[String] = Nil,
    timestampCol: Option[String] = None,
    namespace: Option[String] = None) {
  def column(n: String): Option[ColumnSpec] = columns.find(_.name == n)
}

/** Per-warehouse SQL generation: identifier rules, the DataKind↔DDL type
  * mapping, and the DDL/DML statement shapes (CREATE/ALTER/MERGE/DELETE/
  * RENAME). This is the reference's `SQLAdapter` surface
  * (implementations/sql/sql_adapter.go, sql_adapter_base.go:562-740)
  * re-expressed as a typeclass — the Spark engine decides WHAT to run,
  * the dialect decides the TEXT.
  *
  * Statement generation is pure string work on the driver; all bulk data
  * movement stays in Spark's distributed JDBC/file writers.
  */
trait Dialect {
  def name: String
  def quoteChar: String = "\""
  def maxIdentifierLength: Int = 63
  def caseMode: Names.CaseMode = Names.KeepCase

  /** DataKind → canonical DDL type (first entry of the reference's per-DB
    * type list). */
  def typeFor(kind: DataKind): String

  /** DDL type → DataKind, `%`-pattern style reverse match
    * (sql_adapter_base.go:131-145). Bool/exact cases are checked BEFORE the
    * integer word-match so MySQL `tinyint(1)` maps to Bool, and the int match
    * is on the base type word so `point`/`interval` never false-positive. */
  def kindFor(ddl: String): DataKind = {
    val t = ddl.toLowerCase
    val base = t.takeWhile(_ != '(').trim // "tinyint(1)" → "tinyint", "numeric(38,2)" → "numeric"
    if (t == "tinyint(1)" || t == "bit" || t.contains("bool")) DataKind.Bool
    else if (t.contains("json") || t.contains("variant") || t.contains("super")) DataKind.Json
    else if (t.contains("timestamp") || t.contains("datetime") || base == "date") DataKind.Timestamp
    else if (t.contains("double") || t.contains("float") || t.contains("real") ||
             t.contains("decimal") || t.contains("numeric") || base == "number") DataKind.Float64
    else if (base.matches("(big|small|tiny|medium)?int(eger)?(2|4|8|64)?") ||
             base == "serial" || base == "bigserial") DataKind.Int64
    else DataKind.Str
  }

  /** Per-warehouse value mapping (T9) applied to the bulk frame right before
    * the write — hooks like Postgres's NUL-byte strip
    * (postgres.go:122-149, sql_adapter_base.go:56-65). Default: identity. */
  def mapValues(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df

  def quote(id: String): String =
    quoteChar + id.replace(quoteChar, quoteChar + quoteChar) + quoteChar

  /** Apply this dialect's identifier policy: case mode, sanitization,
    * length cap (table_helper.go:414-448, abstract.go:69-78). */
  def adaptIdentifier(id: String): String =
    Names.column(id, caseMode, maxIdentifierLength)

  /** `base` + `suffix` within [[maxIdentifierLength]]: the base is cut,
    * never the suffix, so a derived name (a tmp table's unique stamp, a
    * swap-out name, a constraint name) never collapses into its base or a
    * sibling. */
  def derivedName(base: String, suffix: String): String =
    base.take(maxIdentifierLength - suffix.length) + suffix

  /** The primary-key constraint's name: [[createTable]] declares it and
    * Postgres's `ON CONFLICT ON CONSTRAINT` names it. */
  def pkName(t: TableSpec): String = derivedName(t.name, "_pk")

  def qualified(t: TableSpec): String =
    t.namespace.map(n => quote(n) + ".").getOrElse("") + quote(t.name)

  protected def columnDdl(c: ColumnSpec): String =
    s"${quote(c.name)} ${c.ddlOverride.getOrElse(typeFor(c.kind))}"

  /** CREATE TABLE with optional PK constraint (sql_adapter_base.go:562-620). */
  def createTable(t: TableSpec, ifNotExists: Boolean = true): String = {
    val cols = t.columns.map(columnDdl)
    val pk = if (t.pk.nonEmpty)
      Seq(s"CONSTRAINT ${quote(pkName(t))} PRIMARY KEY (${t.pk.map(quote).mkString(", ")})")
    else Nil
    val ine = if (ifNotExists && supportsIfNotExists) "IF NOT EXISTS " else ""
    s"CREATE TABLE $ine${qualified(t)} (${(cols ++ pk).mkString(", ")})"
  }

  protected def supportsIfNotExists: Boolean = true

  /** ALTER TABLE ADD COLUMN (table_helper.go:128-221 patch path). */
  def addColumn(t: TableSpec, c: ColumnSpec): String =
    s"ALTER TABLE ${qualified(t)} ADD ${quote(c.name)} ${c.ddlOverride.getOrElse(typeFor(c.kind))}"

  /** Plain tmp→target copy (sql_adapter_base.go:495-560 no-dedup branch). */
  def insertSelect(target: TableSpec, from: TableSpec, cols: Seq[String]): String = {
    val cl = cols.map(quote).mkString(", ")
    s"INSERT INTO ${qualified(target)} ($cl) SELECT $cl FROM ${qualified(from)}"
  }

  /** Dedup copy: MERGE / ON CONFLICT / INSERT OR REPLACE per warehouse, with
    * the optional merge-window predicate on the TARGET rows (D3,
    * bigquery.go:253-257). Returns the statement list to run in one tx. */
  def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                pk: Seq[String], windowPredicate: Option[String] = None): Seq[String] = {
    // ANSI MERGE (snowflake.go:42, redshift.go:41, bigquery.go:42 shape)
    val on = pk.map(c => s"T.${quote(c)} = S.${quote(c)}") ++
      windowPredicate.map(p => s"(${p.replace("__T__", "T")})")
    val nonPk = cols.filterNot(pk.contains)
    val updateSet =
      (if (nonPk.nonEmpty) nonPk else cols).map(c => s"${quote(c)} = S.${quote(c)}").mkString(", ")
    val insertCols = cols.map(quote).mkString(", ")
    val insertVals = cols.map(c => s"S.${quote(c)}").mkString(", ")
    Seq(s"""MERGE INTO ${qualified(target)} T USING (SELECT ${cols.map(quote).mkString(", ")} FROM ${qualified(from)}) S
           |ON ${on.mkString(" AND ")}
           |WHEN MATCHED THEN UPDATE SET $updateSet
           |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin)
  }

  /** DDL that indexes the staging table `tmp` on the merge key, run in the
    * merge transaction before [[mergeInto]]'s statements. Default: none —
    * the warehouse plans the merge's key probe itself. */
  def stagingIndex(tmp: TableSpec, pk: Seq[String]): Option[String] = None

  /** Single-row upsert for stream mode (sql_adapter_base.go:428-493).
    * Returns the statement and the column order in which `?` placeholders
    * must be bound (columns may repeat — e.g. MERGE binds pk then values). */
  def upsertRow(t: TableSpec, cols: Seq[String], pk: Seq[String]): (String, Seq[String]) = {
    // default: ANSI MERGE over a VALUES row
    val on = pk.map(c => s"T.${quote(c)} = S.${quote(c)}").mkString(" AND ")
    val nonPk = cols.filterNot(pk.contains)
    val updateSet = (if (nonPk.nonEmpty) nonPk else cols)
      .map(c => s"${quote(c)} = S.${quote(c)}").mkString(", ")
    (s"""MERGE INTO ${qualified(t)} T USING (VALUES (${cols.map(_ => "?").mkString(", ")})) AS S (${cols.map(quote).mkString(", ")})
       |ON $on
       |WHEN MATCHED THEN UPDATE SET $updateSet
       |WHEN NOT MATCHED THEN INSERT (${cols.map(quote).mkString(", ")}) VALUES (${cols.map(c => s"S.${quote(c)}").mkString(", ")})""".stripMargin,
     cols)
  }

  /** Physical bulk-load statements: stage-file → warehouse ingestion text
    * (the per-DB `LoadTable` paths — COPY/PUT+COPY/LOAD DATA). The engine
    * stages with Spark's distributed file writers; the dialect says how the
    * warehouse slurps the staged objects. Default: empty (generic JDBC
    * appends row-wise through the driver instead). */
  def loadStaged(t: TableSpec, stagePath: String, format: String = "csv",
                 gzip: Boolean = true): Seq[String] = Nil

  def deleteWhere(t: TableSpec, cond: String): String =
    s"DELETE FROM ${qualified(t)} WHERE $cond"
  def truncate(t: TableSpec): String = s"TRUNCATE TABLE ${qualified(t)}"
  def drop(t: TableSpec, ifExists: Boolean = true): String =
    s"DROP TABLE ${if (ifExists) "IF EXISTS " else ""}${qualified(t)}"
  /** ReplaceTable swap (sql_adapter_base.go:730-740). */
  def renameTable(from: TableSpec, to: String): String =
    s"ALTER TABLE ${qualified(from)} RENAME TO ${quote(to)}"
}

/** postgres.go:60-81. */
object PostgresDialect extends Dialect {
  val name = "postgres"
  override val caseMode: Names.CaseMode = Names.LowerCase
  /** Postgres text columns reject NUL bytes — strip them from every string
    * column (T9, postgres.go:122-149). A narrow codegen'd projection. */
  override def mapValues(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    df.select(df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType == StringType) graft.core.Conversions.stripNulBytes(c).as(f.name) else c
    }: _*)
  }
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown => "text"
    case DataKind.Int64     => "bigint"
    case DataKind.Float64   => "double precision"
    case DataKind.Timestamp => "timestamp with time zone"
    case DataKind.Bool      => "boolean"
    case DataKind.Json      => "jsonb"
  }
  override def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                         pk: Seq[String], windowPredicate: Option[String]): Seq[String] = {
    // pgBulkMergeQuery (postgres.go:64): INSERT ... SELECT ... ON CONFLICT
    // ON CONSTRAINT pk DO UPDATE SET col = excluded.col
    val cl = cols.map(quote).mkString(", ")
    val updateSet = cols.filterNot(pk.contains) match {
      case Nil => cols.map(c => s"${quote(c)} = excluded.${quote(c)}").mkString(", ")
      case up  => up.map(c => s"${quote(c)} = excluded.${quote(c)}").mkString(", ")
    }
    val where = windowPredicate.map(p => s" WHERE ${p.replace("__T__", qualified(target))}").getOrElse("")
    Seq(s"INSERT INTO ${qualified(target)} ($cl) SELECT $cl FROM ${qualified(from)} " +
      s"ON CONFLICT ON CONSTRAINT ${quote(pkName(target))} DO UPDATE SET $updateSet$where")
  }
}

/** mysql.go:46-62. */
object MySqlDialect extends Dialect {
  val name = "mysql"
  override val quoteChar = "`"
  override val maxIdentifierLength = 64
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown => "text"
    case DataKind.Int64     => "bigint"
    case DataKind.Float64   => "double"
    case DataKind.Timestamp => "timestamp(6)"
    case DataKind.Bool      => "boolean"
    case DataKind.Json      => "JSON"
  }
  override def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                         pk: Seq[String], windowPredicate: Option[String]): Seq[String] = {
    // mySQLBulkMergeQuery (mysql.go:47): ON DUPLICATE KEY UPDATE c = S.c
    val cl = cols.map(quote).mkString(", ")
    val updateSet = cols.filterNot(pk.contains).map(c => s"${quote(c)} = S.${quote(c)}").mkString(", ")
    Seq(s"INSERT INTO ${qualified(target)} ($cl) SELECT * FROM (SELECT $cl FROM ${qualified(from)}) AS S " +
      s"ON DUPLICATE KEY UPDATE $updateSet")
  }
  /** LOAD DATA LOCAL INFILE from the staged CSV (mysql.go:226-290). */
  override def loadStaged(t: TableSpec, stagePath: String, format: String,
                          gzip: Boolean): Seq[String] = Seq(
    s"LOAD DATA LOCAL INFILE '$stagePath' INTO TABLE ${qualified(t)} " +
      "FIELDS TERMINATED BY ',' OPTIONALLY ENCLOSED BY '\"' LINES TERMINATED BY '\\n' IGNORE 1 LINES")
}

/** snowflake.go:42-69 — uppercase identifiers, ANSI MERGE. */
object SnowflakeDialect extends Dialect {
  val name = "snowflake"
  override val caseMode: Names.CaseMode = Names.UpperCase
  override val maxIdentifierLength = 255
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown | DataKind.Json => "text"
    case DataKind.Int64     => "bigint"
    case DataKind.Float64   => "double precision"
    case DataKind.Timestamp => "TIMESTAMP_TZ(6)"
    case DataKind.Bool      => "boolean"
  }
  /** PUT to the user stage, then COPY INTO (snowflake.go:40,414-470). */
  override def loadStaged(t: TableSpec, stagePath: String, format: String,
                          gzip: Boolean): Seq[String] = Seq(
    s"PUT 'file://$stagePath' @~ AUTO_COMPRESS=${if (gzip) "FALSE" else "TRUE"} PARALLEL=8",
    s"COPY INTO ${qualified(t)} FROM @~ FILE_FORMAT = (TYPE = ${format.toUpperCase}" +
      s"${if (format.equalsIgnoreCase("csv")) " SKIP_HEADER = 1 FIELD_OPTIONALLY_ENCLOSED_BY = '\"'" else ""})" +
      " PURGE = TRUE")
}

/** bigquery.go:42-71 — MERGE with the partition-pruning window predicate. */
object BigQueryDialect extends Dialect {
  val name = "bigquery"
  override val quoteChar = "`"
  override val maxIdentifierLength = 300
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown => "STRING"
    case DataKind.Int64     => "INT64"
    case DataKind.Float64   => "FLOAT64"
    case DataKind.Timestamp => "TIMESTAMP"
    case DataKind.Bool      => "BOOL"
    case DataKind.Json      => "JSON"
  }
  /** Day-grain TimePartitioning on the timestamp column
    * (bigquery.go:400-410) — the storage layout that makes the D3 merge
    * window prune partitions instead of scanning the table. */
  override def createTable(t: TableSpec, ifNotExists: Boolean = true): String = {
    val base = super.createTable(t, ifNotExists)
    t.timestampCol.map(c => s"$base PARTITION BY DATE(${quote(c)})").getOrElse(base)
  }
}

/** redshift.go:41-70 — MERGE (delete-then-insert under the hood on RS). */
object RedshiftDialect extends Dialect {
  val name = "redshift"
  override val caseMode: Names.CaseMode = Names.LowerCase
  override val maxIdentifierLength = 127
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown => "character varying(65535)"
    case DataKind.Int64     => "bigint"
    case DataKind.Float64   => "double precision"
    case DataKind.Timestamp => "timestamp with time zone"
    case DataKind.Bool      => "boolean"
    case DataKind.Json      => "super"
  }
  override def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                         pk: Seq[String], windowPredicate: Option[String]): Seq[String] = {
    // redshift.go:42,260-309: DELETE FROM target USING source ON pk [AND window], then insert
    val join = pk.map(c => s"${qualified(target)}.${quote(c)} = S.${quote(c)}")
    val win = windowPredicate.map(p => p.replace("__T__", qualified(target)))
    Seq(
      s"DELETE FROM ${qualified(target)} USING ${qualified(from)} S WHERE ${(join ++ win).mkString(" AND ")}",
      insertSelect(target, from, cols))
  }
  /** CSV.gz staged on S3 → COPY (redshift.go:28-33,220-258). */
  override def loadStaged(t: TableSpec, stagePath: String, format: String,
                          gzip: Boolean): Seq[String] = {
    val fmt = format.toUpperCase match {
      case "CSV" => "CSV IGNOREHEADER 1"
      case _     => "JSON 'auto'"
    }
    Seq(s"COPY ${qualified(t)} FROM '$stagePath' $fmt${if (gzip) " GZIP" else ""}")
  }
}

/** clickhouse.go:1202-1243 — dedup is storage-level (ReplacingMergeTree,
  * D5); merge degenerates to a plain copy (clickhouse.go:821-823). The
  * class form carries cluster topology (ON CLUSTER DDL + a Distributed
  * façade table, clickhouse.go:900+); the companion object is the
  * single-node instance. */
sealed class ClickHouseDialectBase(cluster: Option[String]) extends Dialect {
  val name = "clickhouse"
  override val quoteChar = "`"
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown | DataKind.Json => "String"
    case DataKind.Int64     => "Int64"
    case DataKind.Float64   => "Float64"
    case DataKind.Timestamp => "DateTime64(6)"
    case DataKind.Bool      => "Bool"
  }
  protected def onCluster: String =
    cluster.map(c => s" ON CLUSTER ${quote(c)}").getOrElse("")
  override def createTable(t: TableSpec, ifNotExists: Boolean): String = {
    val cols = t.columns.map(columnDdl).mkString(", ")
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    val engine = cluster
      .map(_ => "ReplicatedReplacingMergeTree('/clickhouse/tables/{shard}/" + t.name + "', '{replica}')")
      .getOrElse("ReplacingMergeTree()")
    val orderBy = if (t.pk.nonEmpty) t.pk.map(quote).mkString(", ")
      else t.columns.headOption.map(c => quote(c.name)).getOrElse("tuple()")
    val partition = t.timestampCol.map(c => s" PARTITION BY toYYYYMM(${quote(c)})").getOrElse("")
    s"CREATE TABLE $ine${qualified(t)}$onCluster ($cols) ENGINE = $engine$partition ORDER BY ($orderBy)"
  }
  /** Distributed façade over the sharded local tables
    * (clickhouse.go cluster mode): readers/writers hit this one. */
  def createDistributed(t: TableSpec, localSuffix: String = "_local"): Option[String] =
    cluster.map { c =>
      s"CREATE TABLE IF NOT EXISTS ${qualified(t)}$onCluster AS ${quote(t.name + localSuffix)} " +
        s"ENGINE = Distributed(${quote(c)}, currentDatabase(), ${quote(t.name + localSuffix)}, rand())"
    }
  override def addColumn(t: TableSpec, col: ColumnSpec): String =
    s"ALTER TABLE ${qualified(t)}$onCluster ADD COLUMN ${quote(col.name)} ${col.ddlOverride.getOrElse(typeFor(col.kind))}"
  override def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                         pk: Seq[String], windowPredicate: Option[String]): Seq[String] =
    Seq(insertSelect(target, from, cols)) // ReplacingMergeTree collapses later
  override def truncate(t: TableSpec): String = s"TRUNCATE TABLE ${qualified(t)}$onCluster"
  /** Server-side pull from object storage (clickhouse.go:676-820 presigned
    * `INSERT … SELECT FROM s3(...)`). */
  override def loadStaged(t: TableSpec, stagePath: String, format: String,
                          gzip: Boolean): Seq[String] = {
    val fmt = if (format.equalsIgnoreCase("csv")) "CSVWithNames" else "JSONEachRow"
    Seq(s"INSERT INTO ${qualified(t)} SELECT * FROM s3('$stagePath', '$fmt')")
  }
}

object ClickHouseDialect extends ClickHouseDialectBase(None) {
  /** Cluster-mode variant: `ON CLUSTER` DDL + Replicated engines +
    * Distributed façade (clickhouse.go cluster support). */
  def onCluster(name: String): ClickHouseDialectBase = new ClickHouseDialectBase(Some(name))
}

/** duckdb.go:55-72 — INSERT OR REPLACE. The DuckDB correctness oracle's own
  * dialect. */
object DuckDbDialect extends Dialect {
  val name = "duckdb"
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown => "text"
    case DataKind.Int64     => "bigint"
    case DataKind.Float64   => "double"
    case DataKind.Timestamp => "timestamp with time zone"
    case DataKind.Bool      => "boolean"
    case DataKind.Json      => "json"
  }
  override def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                         pk: Seq[String], windowPredicate: Option[String]): Seq[String] = {
    val cl = cols.map(quote).mkString(", ")
    Seq(s"INSERT OR REPLACE INTO ${qualified(target)} ($cl) SELECT $cl FROM ${qualified(from)}")
  }
}

/** Apache Derby — the live-test target (embedded, ships with Spark). ANSI
  * MERGE since 10.11; no IF NOT EXISTS; RENAME TABLE syntax. */
object DerbyDialect extends Dialect {
  val name = "derby"
  override val maxIdentifierLength = 128
  override val caseMode: Names.CaseMode = Names.UpperCase
  override protected def supportsIfNotExists: Boolean = false
  def typeFor(k: DataKind): String = k match {
    case DataKind.Str | DataKind.Unknown | DataKind.Json => "VARCHAR(32000)"
    case DataKind.Int64     => "BIGINT"
    case DataKind.Float64   => "DOUBLE"
    case DataKind.Timestamp => "TIMESTAMP"
    case DataKind.Bool      => "BOOLEAN"
  }
  override def truncate(t: TableSpec): String = s"TRUNCATE TABLE ${qualified(t)}"
  override def renameTable(from: TableSpec, to: String): String =
    s"RENAME TABLE ${qualified(from)} TO ${quote(to)}"
  override def addColumn(t: TableSpec, c: ColumnSpec): String =
    s"ALTER TABLE ${qualified(t)} ADD COLUMN ${quote(c.name)} ${c.ddlOverride.getOrElse(typeFor(c.kind))}"
  override def drop(t: TableSpec, ifExists: Boolean = true): String =
    s"DROP TABLE ${qualified(t)}" // Derby has no IF EXISTS; callers catch
  /** Derby MERGE requires a base-table source — use the one-row
    * SYSIBM.SYSDUMMY1 with typed `CAST(? AS …)` params (a `?` alone is
    * untyped and rejected in the ON clause). Binding order: pk casts in ON,
    * update SET values, then INSERT values. */
  override def upsertRow(t: TableSpec, cols: Seq[String], pk: Seq[String]): (String, Seq[String]) = {
    def cast(c: String) =
      s"CAST(? AS ${t.column(c).map(cs => cs.ddlOverride.getOrElse(typeFor(cs.kind))).getOrElse("VARCHAR(32000)")})"
    val on = pk.map(c => s"T.${quote(c)} = ${cast(c)}").mkString(" AND ")
    val nonPk = cols.filterNot(pk.contains)
    val updCols = if (nonPk.nonEmpty) nonPk else cols
    val updateSet = updCols.map(c => s"${quote(c)} = ${cast(c)}").mkString(", ")
    (s"""MERGE INTO ${qualified(t)} T USING SYSIBM.SYSDUMMY1 ON $on
       |WHEN MATCHED THEN UPDATE SET $updateSet
       |WHEN NOT MATCHED THEN INSERT (${cols.map(quote).mkString(", ")}) VALUES (${cols.map(cast).mkString(", ")})""".stripMargin,
     pk ++ updCols ++ cols)
  }

  /** Delete-then-insert (the redshift.go:260-309 shape): ANSI MERGE updates
    * every in-window matching row in place, which is wrong when the target
    * holds several rows per merge key — the reference deletes replaceable
    * rows and inserts the batch once. */
  override def mergeInto(target: TableSpec, from: TableSpec, cols: Seq[String],
                         pk: Seq[String], windowPredicate: Option[String]): Seq[String] = {
    val corr = pk.map(c => s"S.${quote(c)} = ${qualified(target)}.${quote(c)}").mkString(" AND ")
    val win = windowPredicate.map(p => s"${p.replace("__T__", qualified(target))} AND ").getOrElse("")
    Seq(
      s"DELETE FROM ${qualified(target)} WHERE ${win}EXISTS (SELECT 1 FROM ${qualified(from)} S WHERE $corr)",
      insertSelect(target, from, cols))
  }

  /** Derby does not hash-join `VARCHAR` keys, so [[mergeInto]]'s correlated
    * EXISTS is a nested loop over two heaps, target rows × batch keys; an
    * index on the staging pk makes each probe a B-tree lookup. Derby keeps
    * index names apart from table names, so the index takes its table's
    * name: unique per load and within the length cap by construction.
    * Dropping the tmp table drops it. */
  override def stagingIndex(tmp: TableSpec, pk: Seq[String]): Option[String] =
    if (pk.isEmpty) None
    else Some(s"CREATE INDEX ${qualified(tmp)} ON ${qualified(tmp)} (${pk.map(quote).mkString(", ")})")
}

object Dialect {
  val all: Map[String, Dialect] = Seq(
    PostgresDialect, MySqlDialect, SnowflakeDialect, BigQueryDialect,
    RedshiftDialect, ClickHouseDialect, DuckDbDialect, DerbyDialect)
    .map(d => d.name -> d).toMap
}
