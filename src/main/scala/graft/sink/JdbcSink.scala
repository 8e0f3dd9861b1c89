package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}
import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, GraftExpressions, Observation, Row, SaveMode}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.core.DataKind
import graft.sql.{ColumnSpec, Dialect, TableSpec}

/** Warehouse destination over JDBC — the reference's transactional load path
  * (abstract_transactional.go:152-206) in Spark form:
  *
  *   - bulk rows move through Spark's distributed JDBC writer into a
  *     pre-created table (we generate the DDL; Spark never invents types);
  *   - control statements (CREATE/ALTER/MERGE/DELETE/RENAME) run on ONE
  *     driver connection inside a transaction (B3): tmp table → MERGE/copy →
  *     commit, rollback + drop tmp on failure;
  *   - stream mode (D4) is a per-partition upsert loop with prepared-
  *     statement batches (autocommit_stream.go:41-140).
  *
  * A frame that folds to a `LocalRelation` (a small batch shaped on the
  * driver) skips Spark's writer: its rows insert on one driver connection
  * in one transaction (see `write`).
  *
  * Every load method returns the rows it wrote. A distributed write counts
  * them with an [[org.apache.spark.sql.Observation]] on the written frame:
  * the count rides the write's own pass, so no caller re-runs the pipeline
  * to learn it. A driver insert counts the rows it bound.
  *
  * Live-tested against embedded Derby (in the local[n] JVM); against a real
  * warehouse only the URL and dialect change.
  */
final case class JdbcSink(url: String, dialect: Dialect,
                          /** cap on concurrent warehouse connections per
                            * write — every write coalesces the frame down to
                            * it first, so a 32-core micro-batch doesn't open
                            * 32 sockets for 5k rows; raise for genuinely
                            * wide bulk loads */
                          maxWriteConnections: Int = 16) {

  def withConnection[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** In one transaction; rollback on failure. */
  def inTx[T](f: Connection => T): T = withConnection { c =>
    c.setAutoCommit(false)
    try { val r = f(c); c.commit(); r }
    catch { case e: Throwable => c.rollback(); throw e }
  }

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Existing column specs from JDBC metadata, or None if the table does not
    * exist (table_helper.go:128-221 getOrCreate path). The table name is a
    * SEARCH PATTERN to getColumns — `_`/`%` are wildcards, so names like
    * EVOLVE_T would match phantom tables; escape them and double-check the
    * returned TABLE_NAME. */
  def existingColumns(table: String,
                      namespace: Option[String] = None): Option[Seq[ColumnSpec]] =
    withConnection { c =>
      val md = c.getMetaData
      val esc = Option(md.getSearchStringEscape).getOrElse("\\")
      def pat(s: String) =
        s.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
      val rs = md.getColumns(null, namespace.map(pat).orNull, pat(table), null)
      val cols = Iterator.continually(rs)
        .takeWhile(_.next())
        .filter(r => r.getString("TABLE_NAME") == table &&
          namespace.forall(_ == r.getString("TABLE_SCHEM")))
        .map(r => ColumnSpec(r.getString("COLUMN_NAME"), dialect.kindFor(r.getString("TYPE_NAME"))))
        .toList
      if (cols.isEmpty) None else Some(cols)
    }

  /** Get-or-create + patch: create the table or ALTER-ADD missing columns
    * (diff by name only, table.go:200-236). Returns the live spec. */
  def ensureTable(spec: TableSpec): TableSpec = {
    TableCache.missCount.incrementAndGet()
    existingColumns(spec.name, spec.namespace) match {
      case None =>
        withConnection(exec(_, dialect.createTable(spec, ifNotExists = false)))
        spec
      case Some(live) =>
        val liveNames = live.map(_.name).toSet
        val missing = spec.columns.filterNot(c => liveNames.contains(c.name))
        if (missing.nonEmpty) withConnection { c =>
          missing.foreach(m => exec(c, dialect.addColumn(spec, m)))
        }
        spec.copy(columns = live ++ missing)
    }
  }

  /** Cache key includes the namespace — same-named tables in two schemas
    * are different tables. */
  private def cacheKey(table: String, namespace: Option[String]): String =
    namespace.map(_ + ".").getOrElse("") + table

  /** [[ensureTable]] behind the schema cache + per-table DDL lock (B6,
    * table_helper.go:285-353): a cached spec that already covers the batch's
    * columns costs ZERO catalog round-trips; anything else takes the table
    * lock and hits the real catalog. Call [[invalidate]] after a load error
    * so the next batch re-reads reality. */
  def ensureTableCached(spec: TableSpec): TableSpec = {
    val key = cacheKey(spec.name, spec.namespace)
    TableCache.get(url, key) match {
      case Some(cached) if spec.columns.forall(c => cached.columns.exists(_.name == c.name)) =>
        cached.copy(pk = spec.pk)
      case _ =>
        // in-JVM serialization first (free), then the WAREHOUSE lock row —
        // two engines sharing this warehouse cannot interleave their ALTERs
        // (DdlLock, table_helper.go:285-304; the JVM mutex alone only covers
        // streams inside one driver)
        TableCache.lockFor(url, key).synchronized {
          DdlLock.withLock(this, url, key) {
            val live = ensureTable(spec)
            TableCache.put(url, key, live)
            live
          }
        }
    }
  }

  def invalidate(table: String, namespace: Option[String] = None): Unit =
    TableCache.invalidate(url, cacheKey(table, namespace))

  /** Stream upsert with the autocommit retry (autocommit_stream.go:42-93):
    * a failed upsert invalidates the schema cache, re-ensures the table
    * against the REAL catalog (someone may have altered/dropped it), and
    * retries the batch once. Returns the rows of the attempt that
    * succeeded, so a retried batch counts once. */
  def streamUpsertWithRetry(df: DataFrame, spec: TableSpec, batchSize: Int = 100): Long = {
    val live = ensureTableCached(spec)
    try streamUpsert(df, live, batchSize)
    catch {
      case _: Exception =>
        invalidate(spec.name, spec.namespace)
        val relive = ensureTableCached(spec)
        streamUpsert(df, relive, batchSize)
    }
  }

  /** Spec from a DataFrame under this dialect's identifier rules. */
  def specFor(df: DataFrame, table: String, pk: Seq[String] = Nil): TableSpec =
    TableSpec(
      dialect.adaptIdentifier(table),
      df.columns.toSeq.map(c =>
        ColumnSpec(dialect.adaptIdentifier(c), DataKind.fromSpark(df.schema(c).dataType))),
      pk.map(dialect.adaptIdentifier))

  /** Rename DataFrame columns to the dialect's identifier form and apply its
    * value mapping (T9 — e.g. Postgres NUL-byte strip). A frame whose names
    * are already in that form keeps its plan: no rename projection. */
  def adapt(df: DataFrame): DataFrame = {
    val names = df.columns.map(dialect.adaptIdentifier)
    dialect.mapValues(if (names.sameElements(df.columns)) df else df.toDF(names: _*))
  }

  /** Distributed append into an existing table (the bulk data path).
    * Returns the rows written. */
  def append(df: DataFrame, table: String): Long = write(adapt(df), dialect.quote(table))

  /** Append to a (possibly namespaced) spec — the qualified-name form. */
  def appendTo(df: DataFrame, spec: TableSpec): Long = write(adapt(df), dialect.qualified(spec))

  /** Write an [[adapt]]ed frame into `target`; returns the rows written.
    *
    * A frame whose whole plan folds into a `LocalRelation` (a driver-held
    * batch shaped by Project-only Column code) runs no Spark job: its rows
    * insert on one driver connection, in one transaction, in prepared
    * batches bound by [[JdbcSink.bindRow]], and the count is the rows
    * bound. Spark's `JdbcUtils.savePartition` reads the `TaskContext`, so
    * it cannot run outside a task. Any other frame goes through Spark's
    * distributed JDBC writer. */
  private def write(adapted: DataFrame, target: String): Long = {
    val local =
      if (GraftExpressions.isLocal(adapted)) GraftExpressions.localRows(adapted) else None
    local match {
      case Some(rows) =>
        val cols = adapted.columns.toSeq
        inTx { c =>
          val st = c.prepareStatement(insertRow(target, cols))
          try JdbcSink.bindBatches(st, rows.iterator, cols.indices.toArray, WriteBatchRows)
          finally st.close()
        }
      case None =>
        JdbcSink.ensureWriterDialects()
        // the connection cap is a coalesce, not the writer's `numPartitions`
        // option: that option coalesces behind the observed plan, and the
        // observation then reads 0
        JdbcSink.countingRows(adapted) { counted =>
          counted.coalesce(maxWriteConnections).write.mode(SaveMode.Append)
            .option("batchsize", WriteBatchRows) // fewer executeBatch round-trips per partition
            .jdbc(url, target, new java.util.Properties())
        }
    }
  }

  /** Rows per `executeBatch` of a write. */
  private val WriteBatchRows = 10000

  /** A one-row `INSERT` into `target` (already quoted) binding `cols` in
    * order. */
  private def insertRow(target: String, cols: Seq[String]): String =
    s"INSERT INTO $target (${cols.map(dialect.quote).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** The staging path every batch load shares: create a tmp table shaped
    * like `adapted`, fill it through `stage`, then run `finish` over it on
    * ONE connection in one transaction. The tmp table is dropped after
    * `finish` — unless `finish` renamed it live (`consumed`) — and also
    * when any step fails, so a failed load leaves no `_tmp_` table behind.
    * Returns the rows staged. */
  private def viaTmpTable(adapted: DataFrame, base: String, consumed: Boolean = false)(
      stage: TableSpec => Long)(finish: (Connection, TableSpec) => Unit): Long = {
    val tmpSpec = specFor(adapted, dialect.derivedName(base, s"_tmp_${System.nanoTime()}"))
    def dropTmp(): Unit = withConnection(exec(_, dialect.drop(tmpSpec)))
    withConnection(exec(_, dialect.createTable(tmpSpec, ifNotExists = false)))
    val rows =
      try { val n = stage(tmpSpec); inTx(finish(_, tmpSpec)); n }
      catch { case e: Throwable =>
        try dropTmp() catch { case d: Throwable => e.addSuppressed(d) }
        throw e
      }
    if (!consumed) dropTmp()
    rows
  }

  /** Batch-mode transactional load (B3 + D2/D3): stage to a tmp table, then
    * MERGE/copy into the target in one tx, drop tmp
    * (abstract_transactional.go:152-206). The tx first builds the
    * dialect's [[Dialect.stagingIndex]]; a key too long to index (Derby's
    * `XSCB6`) fails that statement alone, and the merge probes the batch
    * unindexed.
    *
    * `subBatches` > 1 is the reference's `temporaryBatchSize` (B2,
    * abstract_transactional.go:439-450): one logical batch stages through
    * multiple deterministic chunk loads into the SAME tmp table before the
    * single merge tx — bounding any one write wave without changing the
    * committed result. Returns the rows staged (the batch's rows). */
  def loadMerge(df: DataFrame, target: TableSpec,
                windowPredicate: Option[String] = None,
                subBatches: Int = 1): Long = {
    val adapted = adapt(df)
    viaTmpTable(adapted, target.name) { tmp =>
      if (subBatches <= 1) write(adapted, dialect.quote(tmp.name))
      else {
        val chunk = org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.crc32(
            org.apache.spark.sql.functions.to_json(
              org.apache.spark.sql.functions.struct(
                adapted.columns.map(c => col(s"`$c`")): _*))),
          lit(subBatches))
        (0 until subBatches).map(i =>
          write(adapted.filter(chunk === i), dialect.quote(tmp.name))).sum
      }
    } { (c, tmp) =>
      dialect.stagingIndex(tmp, target.pk).foreach { ddl =>
        try exec(c, ddl)
        catch { case e: SQLException if e.getSQLState == JdbcSink.IndexKeyTooLong => () }
      }
      dialect.mergeInto(target, tmp, tmp.columns.map(_.name), target.pk, windowPredicate)
        .foreach(exec(c, _))
    }
  }

  /** ReplaceTable (P2): load tmp then swap it in, in one tx
    * (sql_adapter_base.go:730-740, replacetable_stream.go:51-117). A failed
    * stage leaves the live table as it was, and so does a failed swap on a
    * warehouse whose DDL is transactional. Returns the rows of the new
    * generation. */
  def replaceTable(df: DataFrame, table: String): Long = {
    val adapted = adapt(df)
    val name = dialect.adaptIdentifier(table)
    viaTmpTable(adapted, name, consumed = true)(tmp => write(adapted, dialect.quote(tmp.name))) { (c, tmp) =>
      val deprecated = dialect.derivedName(name, "_deprecated")
      if (existingColumns(name).isDefined) {
        exec(c, dialect.renameTable(TableSpec(name, Nil), deprecated))
        exec(c, dialect.renameTable(tmp, name))
        exec(c, dialect.drop(TableSpec(deprecated, Nil), ifExists = false))
      } else exec(c, dialect.renameTable(tmp, name))
    }
  }

  /** ReplacePartition (P1): stage the batch to a tmp table through the
    * distributed writer, then clear + copy in ONE transaction — a crash
    * between delete and insert can never lose the partition
    * (replacepartition_stream.go:85-161 does the same clear+copy in one tx).
    * An empty batch still clears the partition; no `df.isEmpty` probe job —
    * an empty tmp table copies zero rows. Returns the rows copied in. */
  def replacePartition(df: DataFrame, target: TableSpec,
                       partitionCol: String, partitionId: String): Long = {
    val adapted = adapt(df)
    val pc = dialect.adaptIdentifier(partitionCol)
    viaTmpTable(adapted, target.name)(tmp => write(adapted, dialect.quote(tmp.name))) { (c, tmp) =>
      exec(c, dialect.deleteWhere(target,
        s"${dialect.quote(pc)} = '${partitionId.replace("'", "''")}'"))
      exec(c, dialect.insertSelect(target, tmp, tmp.columns.map(_.name)))
    }
  }

  /** Stream-mode row-wise upsert (D4, autocommit_stream.go:41-140): each
    * partition opens a connection and runs prepared-statement batches. With
    * no pk there is nothing to match on, so each row is a plain insert, as
    * in the reference's autocommit stream. Returns the rows upserted. */
  def streamUpsert(df: DataFrame, target: TableSpec, batchSize: Int = 100): Long = {
    val adapted = adapt(df)
    val cols = adapted.columns.toSeq
    val (sql, paramCols) =
      if (target.pk.isEmpty) (insertRow(dialect.qualified(target), cols), cols)
      else dialect.upsertRow(target, cols, target.pk)
    val jdbcUrl = url
    // row index for each `?`, in bind order (a column may bind more than once)
    val paramIdx: Array[Int] = paramCols.map(cols.indexOf).toArray
    require(paramIdx.forall(_ >= 0), s"upsertRow param not in frame: $paramCols vs $cols")
    // one connection per partition — bound them like the bulk writer
    JdbcSink.countingRows(adapted) { counted =>
      // closure captures only primitives/strings — not this (Dialect isn't serializable)
      counted.coalesce(maxWriteConnections).foreachPartition { rows: Iterator[Row] =>
        val c = DriverManager.getConnection(jdbcUrl)
        try {
          val st = c.prepareStatement(sql)
          try { JdbcSink.bindBatches(st, rows, paramIdx, batchSize); () }
          finally st.close()
        } finally c.close()
      }
    }
  }
}

object JdbcSink {

  /** Spark's built-in Derby writer dialect maps StringType → CLOB, and Derby
    * rejects a CLOB-typed NULL bind against the VARCHAR columns our DDL
    * creates. Register a writer dialect that binds strings as VARCHAR;
    * every other type falls through to Spark's defaults. */
  private lazy val registerWriterDialects: Unit = {
    import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
    import org.apache.spark.sql.types.{DataType, StringType}
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType => Some(JdbcType("VARCHAR(32000)", java.sql.Types.VARCHAR))
        case _          => None
      }
    })
  }
  private[sink] def ensureWriterDialects(): Unit = registerWriterDialects

  /** Derby's SQLState for an index key that does not fit one page. */
  private val IndexKeyTooLong = "XSCB6"

  /** Run `write` over `df` with a row count observed on the same pass, and
    * return that count. An empty frame counts 0. */
  private def countingRows(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    // the count arrives through the listener bus, which drops events when
    // its queue overflows: a lost count fails the load instead of hanging it
    val counted =
      try Await.result(rows.future, CountWait)
      catch { case _: TimeoutException =>
        throw new IllegalStateException(s"the write's row count did not arrive within $CountWait")
      }
    counted.getAs[Long]("rows")
  }

  private val CountWait = 1.minute

  /** Bind each of `rows` through [[bindRow]] and execute in batches of
    * `batchSize`. Returns the rows bound. */
  private[sink] def bindBatches(st: PreparedStatement, rows: Iterator[Row],
                                paramIdx: Array[Int], batchSize: Int): Long = {
    var n = 0L
    rows.foreach { r =>
      bindRow(st, r, paramIdx)
      st.addBatch()
      n += 1
      if (n % batchSize == 0) st.executeBatch()
    }
    if (n % batchSize != 0) st.executeBatch()
    n
  }

  private[sink] def bindRow(st: PreparedStatement, r: Row, paramIdx: Array[Int]): Unit = {
    var p = 0
    while (p < paramIdx.length) {
      val i = paramIdx(p)
      val v = if (r.isNullAt(i)) null else r.get(i)
      v match {
        case null                  => st.setObject(p + 1, null)
        case l: Long               => st.setLong(p + 1, l)
        case d: Double             => st.setDouble(p + 1, d)
        case s: String             => st.setString(p + 1, s)
        case b: Boolean            => st.setBoolean(p + 1, b)
        case t: java.sql.Timestamp => st.setTimestamp(p + 1, t)
        case x: Int                => st.setInt(p + 1, x)
        case other                 => st.setObject(p + 1, other)
      }
      p += 1
    }
  }
}
