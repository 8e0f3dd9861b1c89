package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.DataKind
import graft.ops.Dedup
import graft.shape.{Ingest, Names}
import graft.sink.{JdbcSink, SchemaEvolution}
import graft.sql.{ColumnSpec, Dialect, TableSpec}
import graft.streaming.LoadState

/** Stream options — the reference's option surface
  * (bulkerlib/options.go, implementations/sql/options.go) in one config:
  * pk/deduplicate/discriminator (D1), mergeWindow (D3), schemaFreeze and
  * maxColumns (T7), columnTypes and declared schema (T4/T5 priority ladder),
  * timestampColumn, namespace. */
final case class StreamConfig(
    mode: String = Engine.Batch, // bulker.go:22-52 BulkMode
    pk: Seq[String] = Nil,
    deduplicate: Boolean = false,
    discriminator: Seq[String] = Nil, // options: deduplicate + discriminatorField
    mergeWindowDays: Int = 365,       // sql/options.go:41-45 default
    timestampColumn: Option[String] = None,
    partitionId: Option[String] = None, // replace_partition's __partition_id value
    schemaFreeze: Boolean = false,
    maxColumns: Int = 5000,
    columnTypes: Map[String, DataKind] = Map.empty,
    declaredFields: Seq[String] = Nil,
    omitNils: Boolean = true,
    /** force every table/column name to the destination's canonical case
      * (lower; upper where the catalog is upper-native) even for dialects
      * that would otherwise keep the source casing
      * (bulkerlib/options.go:115-121, sql/abstract.go:69-78) */
    toSameCase: Boolean = false,
    /** target schema/dataset (bulkerlib namespace option); created when
      * absent */
    namespace: Option[String] = None,
    nowMs: () => Long = () => System.currentTimeMillis())

object StreamConfig {
  /** Parse the reference's string option surface (bulkerlib/options.go,
    * sql/options.go) — the spellings a connector config carries:
    * `mode`, `primaryKey` (comma list), `deduplicate`, `discriminatorField`,
    * `deduplicateWindow` (days), `timestampColumn`, `schemaFreeze`,
    * `maxColumnsCount`, `columnTypes` (`name=type` comma list),
    * `omitNils`, `partitionId`, `schema` (declared field comma list).
    * A malformed number is rejected with an `IllegalArgumentException`
    * naming its key. */
  def fromOptions(opts: Map[String, String]): StreamConfig = {
    def list(k: String) = opts.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def bool(k: String, dflt: Boolean) = opts.get(k).map(_.trim.toLowerCase == "true").getOrElse(dflt)
    def int(k: String, dflt: Int) = opts.get(k).map(v =>
      v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"option $k must be an integer, got '$v'")))
      .getOrElse(dflt)
    StreamConfig(
      mode = opts.getOrElse("mode", Engine.Batch),
      pk = list("primaryKey"),
      deduplicate = bool("deduplicate", dflt = false),
      discriminator = list("discriminatorField"),
      mergeWindowDays = int("deduplicateWindow", 365),
      timestampColumn = opts.get("timestampColumn").map(_.trim),
      partitionId = opts.get("partitionId").map(_.trim),
      schemaFreeze = bool("schemaFreeze", dflt = false),
      toSameCase = bool("toSameCase", dflt = false),
      maxColumns = int("maxColumnsCount", 5000),
      columnTypes = list("columnTypes").flatMap { kv =>
        kv.split("=", 2) match {
          case Array(n, t) => DataKind.forName(t).map(n.trim -> _)
          case _           => None
        }
      }.toMap,
      declaredFields = list("schema"),
      omitNils = bool("omitNils", dflt = true),
      namespace = opts.get("namespace").map(_.trim))
  }
}

/** The embedding API (§3.3, bulker.go:58-101): `createStream` returns a
  * session that accepts events and commits them as ONE load unit into one
  * table — `consume` for driver-side event feeding (the library path),
  * `consumeDataset` for cluster-scale inputs (never collects). The whole
  * reference lifecycle — hints → flatten → infer → dedup → evolve-vs-live →
  * ensure DDL → mode-dispatched transactional load — runs on `complete()`.
  */
final class Engine(spark: SparkSession, sink: JdbcSink) {

  def createStream(table: String, cfg: StreamConfig = StreamConfig()): BulkerStream = {
    require(Engine.Modes.contains(cfg.mode), s"unknown mode: ${cfg.mode}")
    new BulkerStream(spark, sink, table, cfg)
  }
}

object Engine {
  val Stream = "stream"
  val Batch = "batch"
  val ReplaceTable = "replace_table"
  val ReplacePartition = "replace_partition"
  val Modes: Set[String] = Set(Stream, Batch, ReplaceTable, ReplacePartition)

  def apply(spark: SparkSession, url: String, dialect: Dialect): Engine =
    new Engine(spark, JdbcSink(url, dialect))
}

final class BulkerStream private[graft] (
    spark: SparkSession, sink: JdbcSink, table: String, cfg: StreamConfig) {

  private val buffered = ArrayBuffer.empty[String]
  private var datasetInput: Option[Dataset[String]] = None
  private var aborted = false

  /** Buffer one raw JSON event (bulker.go:92 ConsumeJSON — driver path). */
  def consume(rawJson: String): Unit = { buffered += rawJson; () }

  /** Provide the whole batch as a distributed Dataset (the scale path; the
    * reference's HTTP bulk body maps here). */
  def consumeDataset(ds: Dataset[String]): Unit = { datasetInput = Some(ds); () }

  /** Roll back: nothing was written before complete(), so abort just drops
    * the buffer (bulker.go:99; transactional modes never partially commit). */
  def abort(): Unit = { aborted = true; buffered.clear(); datasetInput = None }

  /** Effective case policy: the dialect's own, unless `toSameCase` forces
    * the destination-canonical case (lower; upper on upper-native catalogs —
    * sql/abstract.go:69-78). */
  private def streamCaseMode: Names.CaseMode =
    if (!cfg.toSameCase) sink.dialect.caseMode
    else if (sink.dialect.caseMode == Names.UpperCase) Names.UpperCase
    else Names.LowerCase

  private def shapeOptions = {
    val mode = streamCaseMode
    // user-facing option keys address SOURCE field names; the shaped frame
    // carries case-normalized sanitized names — adapt the keys the same way
    def adapt(k: String): String =
      Names.column(Names.normalizeCase(k, mode), Names.KeepCase,
        sink.dialect.maxIdentifierLength)
    Ingest.ShapeOptions(
      caseMode = mode,
      omitNils = cfg.omitNils,
      maxIdentifierLength = sink.dialect.maxIdentifierLength,
      // matched against pre-sanitize flattened paths → case-normalize only
      declaredFields = cfg.declaredFields.map(Names.normalizeCase(_, mode)),
      maxColumns = cfg.maxColumns,
      columnTypes = cfg.columnTypes.map { case (k, v) => adapt(k) -> v })
  }

  /** Shape → dedup → evolve-vs-live → DDL → mode-dispatched load. */
  def complete(): LoadState = {
    require(!aborted, "stream aborted")
    val raw = datasetInput.getOrElse(
      spark.createDataset(buffered.toSeq)(Encoders.STRING))
    val opts = shapeOptions
    val shaped0 = Ingest.shape(spark, raw, opts)
    // WithSchema seeds declared-but-ABSENT columns ahead of the data
    // (replacetable_stream.go:33-34 copies the declared schema into the
    // table; adjustTableColumnTypes does the same on the other modes): a
    // declared field no event carries still becomes a column, typed by its
    // declared type (an untyped declaration takes the typecast root STRING)
    // seeding respects the same column cap Ingest.shape enforces: a
    // declared-but-absent field beyond the cap carries no data (no event
    // has it), so it drops rather than overflowing the sink's DDL past
    // maxColumns
    val declRoom = math.max(0, opts.maxColumns - shaped0.df.columns.length)
    val missingDeclared = opts.declaredFields
      .map(Names.column(_, Names.KeepCase, sink.dialect.maxIdentifierLength))
      .distinct
      .filterNot(c => shaped0.df.columns.exists(_.equalsIgnoreCase(c)))
      .take(declRoom)
    val shaped =
      if (missingDeclared.isEmpty) shaped0
      else shaped0.copy(df = missingDeclared.foldLeft(shaped0.df)((d, c) =>
        d.withColumn(c, lit(null).cast(
          opts.columnTypes.getOrElse(c, DataKind.Str).spark))))
    val adaptedPk = cfg.pk.map(sink.dialect.adaptIdentifier)
    val ns = cfg.namespace.map(sink.dialect.adaptIdentifier)
    // ensure the target namespace exists (sql_adapter_base.go CreateSchema path)
    ns.foreach { n =>
      try sink.withConnection(sink.exec(_, s"CREATE SCHEMA ${sink.dialect.quote(n)}"))
      catch { case _: java.sql.SQLException => () } // already exists
    }

    // an empty batch parses to no columns: nothing to key on, no rows to drop
    val deduped =
      if ((cfg.deduplicate || cfg.mode == Engine.Stream) && cfg.pk.nonEmpty &&
          shaped.df.columns.nonEmpty)
        Dedup.inBatch(shaped.df, cfg.pk, cfg.discriminator) // D1: last-wins + discriminator
      else shaped.df

    val caseAdjustedTable =
      if (cfg.toSameCase) Names.normalizeCase(table, streamCaseMode) else table
    val batchName = sink.dialect.adaptIdentifier(caseAdjustedTable)
    // a hint's explicit ddlType passes through raw; a bare castType naming a
    // canonical kind maps through the dialect's type table (processor.go:54-95)
    val hintDdl = shaped.hints.map { h =>
      val ddl = h.ddlType.getOrElse(
        DataKind.forName(h.castType).map(sink.dialect.typeFor).getOrElse(h.castType))
      sink.dialect.adaptIdentifier(h.target) -> ddl
    }.toMap

    // evolve against the live catalog when the table exists (T7/T8)
    val (frame, spec) = sink.existingColumns(batchName, ns) match {
      case Some(live) if cfg.mode != Engine.ReplaceTable =>
        val adapted = sink.adapt(deduped)
        val plan = SchemaEvolution.evolve(adapted, TableSpec(batchName, live),
          schemaFreeze = cfg.schemaFreeze, maxColumns = cfg.maxColumns)
        val withUnmapped = live.exists(c =>
          c.name.equalsIgnoreCase(SchemaEvolution.UnmappedColumn))
        val evolvedCols = live ++ plan.newColumns ++
          (if (withUnmapped) Nil
           else Seq(ColumnSpec(
             sink.dialect.adaptIdentifier(SchemaEvolution.UnmappedColumn), DataKind.Json)))
        // pk stays LOGICAL (merge key only): most warehouses don't enforce
        // pk constraints, and merge-window semantics legitimately leave an
        // out-of-window duplicate beside the new row (redshift_iam.go:428-472)
        val evolved = TableSpec(batchName, evolvedCols, namespace = ns)
        (plan.projected, sink.ensureTableCached(evolved))
      case _ =>
        val spec0 = sink.specFor(deduped, caseAdjustedTable).copy(namespace = ns)
        val spec = spec0.copy(columns = spec0.columns.map(c =>
          hintDdl.get(c.name).map(d => c.copy(ddlOverride = Some(d))).getOrElse(c)))
        (deduped, sink.ensureTableCached(spec)) // the load method adapts it
    }

    val windowPredicate = cfg.timestampColumn.flatMap { tc =>
      val adapted = sink.dialect.adaptIdentifier(tc)
      // a batch whose events carry no timestamp column can't window: the
      // predicate would reference a column the table doesn't have (yet) —
      // merge unwindowed, exactly as if the option were unset for this batch
      if (!spec.columns.exists(_.name == adapted)) None
      else {
        val col = sink.dialect.quote(adapted)
        val fromMs = cfg.nowMs() - cfg.mergeWindowDays * 86400000L
        val ts = java.time.Instant.ofEpochMilli(fromMs).toString.replace("T", " ").stripSuffix("Z")
        Some(s"__T__.$col >= TIMESTAMP('$ts')") // D3: prune-the-target predicate
      }
    }

    try {
      // rows written, counted by the write itself (JdbcSink's load methods)
      val rows = cfg.mode match {
        case Engine.Stream =>
          sink.streamUpsertWithRetry(frame, spec.copy(pk = adaptedPk)) // D4 + B6 retry
        case Engine.Batch =>
          if (adaptedPk.nonEmpty)
            sink.loadMerge(frame, spec.copy(pk = adaptedPk), windowPredicate) // D2/D3/B3
          else sink.appendTo(frame, spec)
        case Engine.ReplaceTable =>
          val n = sink.replaceTable(frame, table) // P2 rename swap
          // the swap changed the physical table behind the cached spec
          sink.invalidate(spec.name, spec.namespace)
          n
        case Engine.ReplacePartition =>
          val pid = cfg.partitionId.getOrElse(
            throw new IllegalArgumentException("replace_partition needs partitionId"))
          val pc = graft.ops.Partitions.PartitionCol
          val pcAdapted = sink.dialect.adaptIdentifier(pc)
          // a live table already carries the partition column — the stamp
          // below is the only writer of it (replacepartition_stream.go:78-83)
          val stamped = frame.drop(pc).drop(pcAdapted).withColumn(pc, lit(pid))
          val full = spec.copy(columns =
            spec.columns.filterNot(_.name == pcAdapted) :+ ColumnSpec(pcAdapted, DataKind.Str))
          sink.ensureTable(full)
          sink.replacePartition(stamped, full, pc, pid) // P1, one tx
      }
      LoadState("engine", spec.name, 0L, "ok", rows, "", cfg.nowMs())
    } catch {
      case e: Exception =>
        sink.invalidate(spec.name, spec.namespace)
        LoadState("engine", spec.name, 0L, "failed", 0L,
          Option(e.getMessage).getOrElse(e.getClass.getName), cfg.nowMs())
    }
  }
}
