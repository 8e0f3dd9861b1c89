package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.ops.Dedup

/** S3/GCS-style batch file destination (K8).
  *
  * Reference semantics (implementations/file_storage/abstract.go:27-120,
  * implementations/s3.go:97-319, types/marshaller.go:37-50,309-325): each
  * batch becomes object(s) under a folder per table, in NDJSON or CSV,
  * optionally gzipped; the SAME in-batch pk dedup as the SQL path runs
  * before marshalling; `replace_table` mode overwrites the whole folder.
  *
  * Spark-first rendering: `df.write.json/csv` with a compression codec and
  * optional `partitionBy` — the distributed writers ARE the marshaller, one
  * object per partition, no driver-side byte shuffling. A local `baseDir`
  * stands in for the bucket; on a cluster it is `s3a://…`/`gs://…` and
  * nothing else changes (the Hadoop FS connector is the only moving part).
  */
object FileSink {

  /** Verify the pre-deduped-on-pk contract on every [[mergeMorVersioned]]
    * change batch (one extra aggregation per commit over the already-
    * persisted batch). Default on — a violated contract silently corrupts
    * reconciliation; disable only when the upstream pipeline provably
    * dedups and merge-commit latency matters. */
  @volatile var verifyPreDeduped: Boolean = true

  /** Batch-file format negotiation (types/marshaller.go:37-50): the
    * reference picks NDJSON or CSV (+gzip) per destination. */
  final case class Config(
      format: String = "ndjson", // ndjson | csv | json_array | avro | parquet | orc
      /** for avro this selects the spec's deflate codec (RFC 1951) */
      gzip: Boolean = true,
      /** folder partitioning (the object-key layout knob) */
      partitionBy: Seq[String] = Nil,
      /** in-file dedup keys — same D1 semantics as the SQL path
        * (file_storage/abstract.go:27-63) */
      pk: Seq[String] = Nil,
      discriminators: Seq[String] = Nil)

  /** Write one batch under `dir`. `Append` = batch mode (new objects beside
    * the old), `Overwrite` = replace_table. Returns the deduped frame that
    * was written (for callers chaining state accounting). */
  def write(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Append,
            cfg: Config = Config(),
            arrival: Option[org.apache.spark.sql.Column] = None): Unit = {
    val deduped =
      if (cfg.pk.nonEmpty) Dedup.inBatch(df, cfg.pk, cfg.discriminators, arrival)
      else df
    // DataFrameWriter mutates in place — build ONE chain per format
    val w = deduped.write.mode(mode)
    if (cfg.partitionBy.nonEmpty) w.partitionBy(cfg.partitionBy: _*)
    cfg.format match {
      case "ndjson" =>
        if (cfg.gzip) w.option("compression", "gzip")
        w.json(dir)
      case "csv" =>
        if (cfg.gzip) w.option("compression", "gzip")
        w.option("header", "true").csv(dir)
      // beyond the reference's marshaller set: the columnar formats any
      // Spark-era lake sink actually wants (gzip flag is a no-op — these
      // carry their own codecs)
      case "parquet" => w.option("compression", "snappy").parquet(dir)
      case "orc"     => w.orc(dir)
      // the reference marshaller's JSON-ARRAY format (marshaller.go:37-50):
      // one `[obj,…]` document per partition — the wire shape api_based
      // destinations take; Spark's multiLine JSON reader reads it back
      case "json_array" =>
        require(cfg.partitionBy.isEmpty, "json_array sink: no folder partitioning")
        if (mode == SaveMode.Overwrite) {
          val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
            deduped.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        }
        writeJsonArray(deduped, dir, cfg.gzip,
          runTag = java.util.UUID.randomUUID.toString.take(8))
      // the reference marshaller's fourth format (marshaller.go:309-325):
      // Avro container objects, one per partition, via [[AvroSink]]
      case "avro" =>
        require(cfg.partitionBy.isEmpty, "avro sink: no folder partitioning")
        if (mode == SaveMode.Overwrite) {
          val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
            deduped.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        }
        AvroSink.write(deduped, dir, if (cfg.gzip) "deflate" else "null",
          runTag = java.util.UUID.randomUUID.toString.take(8))
      case other     => throw new IllegalArgumentException(s"unknown file format: $other")
    }
  }

  /** JSON-array writer: rows marshal to JSON on the executors (distributed
    * `to_json`, like the webhook leg); each non-empty partition assembles
    * ONE `[obj,…]` document, optionally gzipped. */
  private def writeJsonArray(df: DataFrame, dir: String, gzip: Boolean,
                             runTag: String): Unit = {
    import org.apache.spark.sql.functions.{col => c, struct, to_json}
    val jdf = df.select(to_json(struct(df.columns.map(n => c(s"`$n`")): _*)).as("j"))
    jdf.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
          new org.apache.hadoop.conf.Configuration())
        val ext = if (gzip) ".json.gz" else ".json"
        val raw = fs.create(new org.apache.hadoop.fs.Path(dir,
          f"part-$runTag-$pid%05d$ext"), true)
        val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
        var n = 0L
        try {
          w.write("[")
          rows.foreach { r =>
            if (n > 0) w.write(",\n")
            w.write(r.getString(0)); n += 1
          }
          w.write("]")
        } finally w.close()
        Iterator.single(n)
      }
    }.count()
    ()
  }

  /** ReplacePartition on a lake folder (P1): DYNAMIC partition overwrite —
    * only the partitions present in `batch` rewrite; everything else is
    * untouched. This is the 100 TB-safe path the DataFrame union form only
    * models: `INSERT OVERWRITE` semantics without a full-table rewrite
    * (replacepartition_stream.go:85-161; an empty batch is a no-op here
    * because a file store has no partition row to clear — delete the folder
    * for that). Columnar formats only (JSON/CSV folders have no reliable
    * overwrite story). The mode is a per-write option, so the session's
    * conf is never touched and a concurrent write keeps its own mode. */
  def replacePartition(batch: DataFrame, dir: String, partitionBy: Seq[String],
                       format: String = "parquet"): Unit = {
    val w = batch.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .option("partitionOverwriteMode", "dynamic")
    format match {
      case "parquet" => w.parquet(dir)
      case "orc"     => w.orc(dir)
      case other => throw new IllegalArgumentException(s"no overwrite for format: $other")
    }
  }

  /** Copy-on-write MERGE into a partitioned lake folder — the lakehouse
    * upsert (Delta/Iceberg `MERGE INTO` semantics without a table format;
    * the file-store rendering of the JDBC `loadMerge` path,
    * abstract_transactional.go:439-496). Matched pks replace, unmatched
    * change rows insert. Only partitions PRESENT in `changes` are read or
    * rewritten: the touched-partition list is the one driver-side collect
    * (one row per touched partition — the same control-plane file planning
    * every lakehouse MERGE does), the target read carries an explicit schema
    * (no footer sniffing) plus a literal partition filter (static pruning),
    * and the write is dynamic partition overwrite. Merge cost scales with
    * the touched slice, never the table.
    *
    * Contract: a change row carries its CURRENT partition value — a pk that
    * moves partitions must be handled as delete+insert by the caller (the
    * same contract Hive dynamic-overwrite upserts have). */
  def mergeCow(changes: DataFrame, dir: String, pk: Seq[String],
               partitionCol: String, format: String = "parquet"): Unit = {
    val spark = changes.sparkSession
    val ch = changes.persist() // feeds the touched list, the anti-join, and the union
    val touched = ch.select(partitionCol).distinct().collect().map(_.get(0))
    if (touched.nonEmpty) {
      // partition col last: Spark surfaces discovered partition columns after
      // the data columns; the merge itself is name-based so order is cosmetic
      val dataFields = ch.schema.fields.filterNot(_.name == partitionCol)
      val schema = StructType(dataFields :+ ch.schema(partitionCol))
      val reader = spark.read.schema(schema)
      val target = (format match {
        case "parquet" => reader.parquet(dir)
        case "orc"     => reader.orc(dir)
        case other     => throw new IllegalArgumentException(s"no merge for format: $other")
      }).filter(col(partitionCol).isin(touched: _*))
      // localCheckpoint materializes the merged slice before the overwrite —
      // never read-and-overwrite the same files in one job; the held state is
      // exactly the touched partitions, which IS the copy-on-write contract
      val merged = target.join(ch, pk, "left_anti").unionByName(ch)
        .localCheckpoint(true)
      replacePartition(merged, dir, Seq(partitionCol), format)
    }
    ch.unpersist()
    ()
  }

  // ---- versioned snapshots (manifest-pinned time travel) ----------------

  /** Snapshot isolation for the partitioned lake, the table-format idea
    * (Iceberg/Delta) reduced to its load-bearing core: a snapshot is a
    * MANIFEST — a text file listing the data files visible at version N —
    * and writers never mutate files in place, so any pinned manifest stays
    * readable forever. [[mergeCowVersioned]] writes the merged slice as NEW
    * files beside the old ones and commits a manifest that swaps only the
    * touched partitions' entries; readers at version N list N's manifest
    * and read exactly those files. Old versions cost only the storage of
    * their superseded files until [[vacuum]] drops the ones no retained
    * manifest references. */
  private def manifestPath(dir: String, v: Int) = s"$dir/_graft_manifest_v$v.txt"
  private def deltaManifestPath(dir: String, v: Int) = s"$dir/_graft_delta_v$v.txt"

  /** Full-listing checkpoint cadence: commits between checkpoints write only
    * a ±delta manifest (O(changes) metadata per commit, the Delta-checkpoint
    * shape), so at daily-commit scale neither the commit nor the read walks
    * the whole chain — a read touches ≤ 1 checkpoint + [[CheckpointEvery]]−1
    * delta files no matter how many commits the table has seen. */
  val CheckpointEvery = 10

  private def fsFor(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)

  /** Highest committed version, 0 if none. */
  def currentVersion(spark: SparkSession, dir: String): Int = {
    val fs = fsFor(spark, dir)
    def maxOf(glob: String, prefix: String): Int = {
      val st = fs.globStatus(new org.apache.hadoop.fs.Path(dir, glob))
      if (st == null || st.isEmpty) 0
      else st.map(_.getPath.getName.stripPrefix(prefix).stripSuffix(".txt").toInt).max
    }
    math.max(maxOf("_graft_manifest_v*.txt", "_graft_manifest_v"),
      maxOf("_graft_delta_v*.txt", "_graft_delta_v"))
  }

  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val it = fs.listFiles(base, true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val baseUri = base.toUri.getPath
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        out += p.toUri.getPath.stripPrefix(baseUri).stripPrefix("/")
    }
    out.toSeq.sorted
  }

  private def readLines(fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[String] = {
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Resolve version `v`'s full file list: the nearest checkpoint at or
    * below `v` plus the (≤ [[CheckpointEvery]]−1) delta manifests after it.
    * Bounded metadata I/O no matter how long the commit history is. */
  private def readManifest(spark: SparkSession, dir: String, v: Int): Seq[String] = {
    val fs = fsFor(spark, dir)
    if (fs.exists(new org.apache.hadoop.fs.Path(manifestPath(dir, v))))
      return readLines(fs, manifestPath(dir, v))
    var ck = v - 1
    while (ck >= 1 && !fs.exists(new org.apache.hadoop.fs.Path(manifestPath(dir, ck)))) ck -= 1
    require(ck >= 1, s"readManifest: no checkpoint manifest at or below v$v under $dir")
    val files = scala.collection.mutable.LinkedHashSet(readLines(fs, manifestPath(dir, ck)): _*)
    ((ck + 1) to v).foreach { w =>
      readLines(fs, deltaManifestPath(dir, w)).foreach { line =>
        if (line.startsWith("+ ")) files += line.drop(2)
        else if (line.startsWith("- ")) files -= line.drop(2)
        else throw new IllegalStateException(s"corrupt delta manifest v$w: '$line'")
      }
    }
    files.toSeq.sorted
  }

  /** Commit version `v` with file list `files`. Checkpoint versions (v1 and
    * every [[CheckpointEvery]]-th) write the full listing; the rest write a
    * ±delta vs v−1 — O(changes) bytes, not O(table files). The exclusive
    * `create` is the commit lock either way. */
  private def writeManifest(spark: SparkSession, dir: String, v: Int,
                            files: Seq[String],
                            prevFiles: Option[Seq[String]] = None): Unit = {
    val fs = fsFor(spark, dir)
    if (v == 1 || v % CheckpointEvery == 0) {
      val out = fs.create(new org.apache.hadoop.fs.Path(manifestPath(dir, v)), false)
      try out.write((files.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    } else {
      // callers that already resolved v-1 pass it in — a MOR commit must
      // not pay the checkpoint-window metadata walk twice
      val prev = prevFiles.getOrElse(readManifest(spark, dir, v - 1)).toSet
      val cur = files.toSet
      val lines = (cur -- prev).toSeq.sorted.map("+ " + _) ++
        (prev -- cur).toSeq.sorted.map("- " + _)
      val out = fs.create(new org.apache.hadoop.fs.Path(deltaManifestPath(dir, v)), false)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Commit the CURRENTLY VISIBLE data files as the next version (used once
    * after the initial table write; merges commit their own). Returns the
    * new version number. */
  def commitVersion(spark: SparkSession, dir: String): Int = {
    val v = currentVersion(spark, dir) + 1
    writeManifest(spark, dir, v, listDataFiles(fsFor(spark, dir), dir))
    v
  }

  /** Read the table AS OF version `v`: exactly the manifest's files, with
    * partition columns recovered via basePath. */
  def readVersion(spark: SparkSession, dir: String, v: Int,
                  schema: StructType): DataFrame = {
    val files = readManifest(spark, dir, v).map(f => s"$dir/$f")
    spark.read.option("basePath", dir).schema(schema).parquet(files: _*)
  }

  /** [[mergeCow]] with snapshot isolation: the merged slice lands in NEW
    * uniquely-named files (old files untouched — concurrent readers of any
    * pinned version are never disturbed), and the commit is one manifest
    * write swapping the touched partitions' entries. Returns the committed
    * version. */
  def mergeCowVersioned(changes: DataFrame, dir: String, pk: Seq[String],
                        partitionCol: String): Int = {
    val spark = changes.sparkSession
    val fs = fsFor(spark, dir)
    val prevV = currentVersion(spark, dir)
    require(prevV >= 1, s"mergeCowVersioned: no committed version under $dir")
    val prevFiles = readManifest(spark, dir, prevV)
    // a COW merge reads manifest files as plain rows — un-reconciled deltas
    // would make the anti-join keep superseded base rows
    require(!prevFiles.exists(isDelta),
      s"mergeCowVersioned: $dir has MOR delta files — run compactMor first")
    val ch = changes.persist()
    val dataFields = ch.schema.fields.filterNot(_.name == partitionCol)
    val schema = StructType(dataFields :+ ch.schema(partitionCol))
    // Touched files come from a PLANNING scan (partition pruning keeps it to
    // footer reads of touched dirs), not from string-prefix matching on
    // manifest paths — Hive path escaping (spaces, ':', '/', null →
    // __HIVE_DEFAULT_PARTITION__) and date/timestamp rendering would break a
    // raw `toString` prefix match and silently leave stale rows unsuperseded.
    val touchedVals = ch.select(partitionCol).distinct().collect().map(_.get(0))
    val touchedFiles: Seq[String] =
      if (touchedVals.isEmpty || prevFiles.isEmpty) Seq.empty
      else planTouchedFiles(spark, dir, schema, prevFiles,
        touchedPred(partitionCol, touchedVals.toSeq))
    val keptFiles = prevFiles.filterNot(touchedFiles.contains)
    val target =
      if (touchedFiles.isEmpty) ch.limit(0)
      else spark.read.option("basePath", dir).schema(schema)
        .parquet(touchedFiles.map(f => s"$dir/$f"): _*)
    val merged = target.join(ch, pk, "left_anti").unionByName(ch)
    val moved = stageAndMove(merged, dir, partitionCol, prevV + 1)
    ch.unpersist()
    val v = prevV + 1
    writeManifest(spark, dir, v, keptFiles ++ moved, Some(prevFiles))
    v
  }

  /** Write `rows` partitioned into a staging dir, then move each part-file
    * under its partition dir with a fresh unique name — never overwriting,
    * never deleting existing data files. Returns the moved relative paths.
    * `prefix` names the file class ("part" = base data, "delta-v..." = MOR
    * delta — readers classify by name). */
  private def stageAndMove(rows: DataFrame, dir: String, partitionCol: String,
                           v: Int, prefix: String = "part"): Seq[String] = {
    val spark = rows.sparkSession
    val fs = fsFor(spark, dir)
    val stage = s"$dir/__stage_v$v"
    rows.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(stage)
    val moved = scala.collection.mutable.ArrayBuffer[String]()
    fs.globStatus(new org.apache.hadoop.fs.Path(s"$stage/$partitionCol=*")).foreach { pd =>
      val pname = pd.getPath.getName
      val destDir = new org.apache.hadoop.fs.Path(dir, pname)
      fs.mkdirs(destDir)
      fs.globStatus(new org.apache.hadoop.fs.Path(pd.getPath, "part-*.parquet")).foreach { f =>
        val unique = s"$prefix-v$v-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
        fs.rename(f.getPath, new org.apache.hadoop.fs.Path(destDir, unique))
        moved += s"$pname/$unique"
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    moved.toSeq
  }

  /** Null-safe membership predicate on the partition column — bare `isin`
    * never matches null, which would silently drop null-partition rows
    * (they live in `__HIVE_DEFAULT_PARTITION__` and their value collects
    * as null). Shared by every touched-partition planning scan. */
  private def touchedPred(partitionCol: String,
                          vals: Seq[Any]): org.apache.spark.sql.Column = {
    val pc = org.apache.spark.sql.functions.col(partitionCol)
    val nonNull = vals.filter(_ != null)
    val p0 = if (nonNull.isEmpty) org.apache.spark.sql.functions.lit(false)
             else pc.isin(nonNull: _*)
    if (vals.contains(null)) p0 || pc.isNull else p0
  }

  /** PLANNING scan: the manifest-relative paths of `files` holding any row
    * matching `pred` — partition pruning keeps it to footer reads of the
    * matching dirs; one collected row per affected file (control-plane). */
  private def planTouchedFiles(spark: SparkSession, dir: String,
                               schema: StructType, files: Seq[String],
                               pred: org.apache.spark.sql.Column): Seq[String] = {
    val baseUriPath = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    spark.read.option("basePath", dir).schema(schema)
      .parquet(files.map(f => s"$dir/$f"): _*)
      .filter(pred)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0)))
        .toUri.getPath.stripPrefix(baseUriPath).stripPrefix("/"))
      .toSeq
  }

  // ---- merge-on-read (delta files + read-time reconcile) ----------------

  /** A manifest entry is a MOR delta if its filename says so. */
  private def isDelta(relPath: String): Boolean = {
    val n = relPath.split('/').last
    n.startsWith("delta-v") || n.startsWith("tomb-v")
  }

  /** Merge-on-read MERGE: the change rows land as DELTA files committed
    * into the manifest beside the untouched base files — the commit reads
    * and rewrites NOTHING (cost = |changes|, vs [[mergeCowVersioned]]'s
    * whole-touched-partition rewrite: at 100 TB a 1-row upsert must not
    * rewrite a partition). Readers reconcile via [[readMorVersion]]
    * (pk anti-join per partition); [[compactMor]] folds accumulated deltas
    * back into base files. Same contract as mergeCow: change rows carry
    * their current partition value, and a batch is pre-deduped on pk. */
  def mergeMorVersioned(changes: DataFrame, dir: String, pk: Seq[String],
                        partitionCol: String): Int = {
    val spark = changes.sparkSession
    val prevV = currentVersion(spark, dir)
    require(prevV >= 1, s"mergeMorVersioned: no committed version under $dir")
    val v = prevV + 1
    val prevFiles = readManifest(spark, dir, prevV)
    // the pre-deduped-on-pk contract is load-bearing: a duplicate (pk,
    // partition) in one batch would reconcile nondeterministically (same-__dv
    // ties broken by shuffle layout) — fail loudly instead of silently.
    // The check costs one extra aggregation pass over the (persisted) batch
    // per commit, so a latency-critical streaming deployment whose upstream
    // provably dedups (e.g. Dedup.inBatch right before) can switch it off.
    val batch = changes.persist()
    if (verifyPreDeduped) {
      val keyCols = (pk :+ partitionCol).map(org.apache.spark.sql.functions.col)
      val chk = batch.agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.struct(keyCols: _*))).first()
      require(chk.getLong(0) == chk.getLong(1),
        s"mergeMorVersioned: change batch violates the pre-deduped-on-pk " +
          s"contract (${chk.getLong(0)} rows, ${chk.getLong(1)} distinct " +
          s"(${(pk :+ partitionCol).mkString(",")}))")
    }
    val moved = try stageAndMove(batch, dir, partitionCol, v, prefix = "delta")
                finally { batch.unpersist(); () }
    writeManifest(spark, dir, v, prevFiles ++ moved, Some(prevFiles))
    v
  }

  /** Read version `v` of a MOR table: base rows superseded by a delta drop
    * via an anti-join on (pk, partition) — the SAME per-partition match
    * scope as [[mergeCow]] (a pk that moves partitions is delete+insert by
    * contract) — and for a pk touched by several delta commits the HIGHEST
    * delta version wins (the delta file name carries its commit version —
    * no extra metadata read). Falls back to a plain manifest read when the
    * version has no deltas. Reconcile cost is one |deltas|-row build side
    * against the base scan. */
  def readMorVersion(spark: SparkSession, dir: String, v: Int,
                     schema: StructType, pk: Seq[String],
                     partitionCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = readManifest(spark, dir, v)
    val (deltas, bases) = files.partition(isDelta)
    def read(fs: Seq[String]): DataFrame =
      spark.read.option("basePath", dir).schema(schema)
        .parquet(fs.map(f => s"$dir/$f"): _*)
    if (deltas.isEmpty) return read(bases)
    val keys = pk :+ partitionCol
    // one pass over every non-base file: upsert deltas carry full rows,
    // tombstones only (pk, partition) — the file NAME carries both the
    // commit version and the event kind, so no extra metadata read
    val dv = read(deltas)
      .withColumn("__dv",
        regexp_extract(input_file_name(), "(?:delta|tomb)-v(\\d+)-", 1).cast("int"))
      .withColumn("__tomb", input_file_name().rlike("tomb-v\\d+-"))
    // per (pk, partition) the HIGHEST-version event wins: a later delete
    // kills an earlier upsert, a later upsert resurrects a deleted pk
    // |deltas|-bounded (compaction keeps it so) and consumed by BOTH the
    // anti-join build side and the union arm — materialize once, or the
    // delta scan + window dedup run per consumer (the documented #1 local
    // perf bug), multiplied across every readMorVersion call
    val latest = Dedup.inBatch(dv, keys, discriminators = Seq("__dv"))
      .localCheckpoint(true)
    val live = latest.filter(!col("__tomb")).drop("__dv", "__tomb")
    val base = if (bases.isEmpty) live.limit(0) else read(bases)
    // NULL-SAFE anti-join: the partition key can legitimately be null
    // (__HIVE_DEFAULT_PARTITION__) and a plain equi-anti-join would never
    // match it — null-partition upserts would duplicate instead of
    // superseding, and null-partition tombstones would not delete
    val latKeys = latest.select(keys.map(k => col(k).as(s"__k_$k")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    base.join(latKeys, cond, "left_anti")
      .unionByName(live)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }

  /** Merge-on-read DELETE WHERE: victims land as TOMBSTONE files — (pk,
    * partition) rows only, no data rewrite at all (vs
    * [[deleteWhereVersioned]]'s affected-file rewrite). Commit cost =
    * one predicate scan of the reconciled view + |victims| narrow rows;
    * readers drop tombstoned pks during reconcile; [[compactMor]] makes
    * the deletion physical. SQL DELETE semantics: null-predicate rows
    * survive. Limitation inherent to pk tombstones: a row whose pk IS null
    * cannot be addressed (null never equi-matches) — use the COW
    * [[deleteWhereVersioned]] for those. Returns the committed version. */
  def deleteMorVersioned(spark: SparkSession, dir: String, schema: StructType,
                         predicate: org.apache.spark.sql.Column,
                         partitionCol: String, pk: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    val prevV = currentVersion(spark, dir)
    require(prevV >= 1, s"deleteMorVersioned: no committed version under $dir")
    val v = prevV + 1
    val victims = readMorVersion(spark, dir, prevV, schema, pk, partitionCol)
      .filter(coalesce(predicate, lit(false)))
      .select((pk :+ partitionCol).map(col).toSeq: _*).distinct()
    val prevFiles = readManifest(spark, dir, prevV)
    val moved = stageAndMove(victims, dir, partitionCol, v, prefix = "tomb")
    writeManifest(spark, dir, v, prevFiles ++ moved, Some(prevFiles))
    v
  }

  /** Change data feed between two committed versions — the "what changed
    * since my last read" contract downstream incremental consumers (CDC
    * relays, cache invalidation, incremental training-set refresh) build
    * on. Rows are classified insert/delete/update by a null-safe
    * (pk, partition) full-outer join of the two reconciled views with
    * null-safe payload comparison — engine-exact, no timestamps needed.
    * Scale shape: two manifest-pinned scans + one co-partitioned shuffle
    * join on the pk; nothing depends on how many commits lie between the
    * versions. */
  def changeFeed(spark: SparkSession, dir: String, schema: StructType,
                 pk: Seq[String], partitionCol: String,
                 fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = pk :+ partitionCol
    val nonKey = schema.fieldNames.filterNot(keys.contains).toSeq
    val a = readMorVersion(spark, dir, fromV, schema, pk, partitionCol)
      .withColumn("__a", lit(1)).as("a")
    val b = readMorVersion(spark, dir, toV, schema, pk, partitionCol)
      .withColumn("__b", lit(1)).as("b")
    val cond = keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val samePayload =
      if (nonKey.isEmpty) lit(true)
      else nonKey.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
    a.join(b, cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
        nonKey.map(c => col(s"b.$c").as(c)) :+ // post-image (null on delete)
        when(col("a.__a").isNull, "insert")
          .when(col("b.__b").isNull, "delete")
          .when(!samePayload, "update")
          .otherwise("unchanged").as("change_type"): _*)
      .filter(col("change_type") =!= "unchanged")
  }

  /** Auto-compaction policy for the MOR lake: compact when the pending
    * delta/tombstone FILE count exceeds `maxDeltas`, or when deltas exceed
    * `maxRatio` of the base file count (a small table drowning in deltas
    * compacts early; a huge table tolerates an absolute trickle). The
    * decision is pure manifest arithmetic — one metadata read, zero data
    * I/O — so a streaming merge loop can afford it after EVERY commit; the
    * compaction itself is [[compactMor]] (layout-preserving when `layoutBy`
    * is given, so zone-map selectivity survives). Returns the new version
    * when it compacted, None while within budget. This is the read/write
    * amplification dial: deltas make commits O(|batch|), the trigger bounds
    * how many of them every reader must reconcile. */
  def maybeCompactMor(spark: SparkSession, dir: String, schema: StructType,
                      pk: Seq[String], partitionCol: String,
                      maxDeltas: Int = 8, maxRatio: Double = 0.5,
                      layoutBy: Option[String] = None,
                      filesPerPartition: Int = 0): Option[Int] = {
    val v = currentVersion(spark, dir)
    require(v >= 1, s"maybeCompactMor: no committed version under $dir")
    val files = readManifest(spark, dir, v)
    val (deltas, bases) = files.partition(isDelta)
    val over = deltas.size > maxDeltas ||
      (bases.nonEmpty && deltas.size.toDouble / bases.size > maxRatio)
    if (over && deltas.nonEmpty)
      // pass the manifest we decided on: one metadata read for decision AND
      // compaction, and no commit can slip between the two
      Some(compactMorFrom(spark, dir, schema, pk, partitionCol,
        layoutBy, filesPerPartition, v, files))
    else None
  }

  /** Fold the current version's deltas into new base files: partitions
    * holding deltas rewrite from the reconciled view (planning scan finds
    * their base files, as [[mergeCowVersioned]] does); every other
    * partition's base entries carry over byte-identical. Commits and
    * returns the new version (a no-op commit if there are no deltas). */
  def compactMor(spark: SparkSession, dir: String, schema: StructType,
                 pk: Seq[String], partitionCol: String,
                 layoutBy: Option[String] = None,
                 filesPerPartition: Int = 0): Int = {
    val prevV = currentVersion(spark, dir)
    require(prevV >= 1, s"compactMor: no committed version under $dir")
    compactMorFrom(spark, dir, schema, pk, partitionCol, layoutBy,
      filesPerPartition, prevV, readManifest(spark, dir, prevV))
  }

  private def compactMorFrom(spark: SparkSession, dir: String, schema: StructType,
                             pk: Seq[String], partitionCol: String,
                             layoutBy: Option[String], filesPerPartition: Int,
                             prevV: Int, files: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    val (deltas, bases) = files.partition(isDelta)
    val v = prevV + 1
    if (deltas.isEmpty) { writeManifest(spark, dir, v, files, Some(files)); return v }
    val touchedVals = spark.read.option("basePath", dir).schema(schema)
      .parquet(deltas.map(f => s"$dir/$f"): _*)
      .select(partitionCol).distinct().collect().map(_.get(0))
    // null-safe throughout: a null-partition delta/tombstone must pull its
    // base files into the rewrite and its rows into the reconcile, or the
    // compaction would drop the upserts and resurrect the tombstoned rows
    val pred = touchedPred(partitionCol, touchedVals.toSeq)
    // planning scan: base files in delta-touched partitions (control-plane)
    val touchedBase =
      if (bases.isEmpty) Seq.empty[String]
      else planTouchedFiles(spark, dir, schema, bases, pred)
    val keptBase = bases.filterNot(touchedBase.contains)
    val reconciled0 = readMorVersion(spark, dir, prevV, schema, pk, partitionCol)
      .filter(pred)
    // optional clustering: range-lay the rewrite on (partition, layout key)
    // so each new base file covers a contiguous key range — the layout that
    // makes [[writeStats]] zone maps selective (compaction is the natural,
    // already-paid-for moment to restore it)
    val reconciled = layoutBy match {
      case Some(c) =>
        val n = if (filesPerPartition > 0) filesPerPartition * math.max(1, touchedVals.length)
                else spark.sessionState.conf.numShufflePartitions
        reconciled0.repartitionByRange(n, col(partitionCol), col(c))
      case None => reconciled0
    }
    val moved = stageAndMove(reconciled, dir, partitionCol, v)
    writeManifest(spark, dir, v, keptBase ++ moved, Some(files))
    v
  }

  /** Row-level DELETE WHERE on the versioned lake — the GDPR-erasure /
    * retention-enforcement primitive. Two passes: (1) a PLANNING scan with
    * the predicate pushed to parquet (row-group stats skip non-matching
    * groups) collects `input_file_name()`s — one row per AFFECTED file, the
    * same file-level planning a deletion-vector table format does with its
    * stats; (2) only affected files rewrite (predicate inverted), everything
    * else keeps its manifest entry byte-identical. How few files are
    * affected is a LAYOUT property: victims clustered by the layout key
    * (see t_zorder) rewrite a handful of files; victims spread everywhere
    * rewrite the table — which is the honest physics of row deletion.
    * Commits and returns the new version. */
  def deleteWhereVersioned(spark: SparkSession, dir: String, schema: StructType,
                           predicate: org.apache.spark.sql.Column,
                           partitionCol: String): Int = {
    val fs = fsFor(spark, dir)
    val prevV = currentVersion(spark, dir)
    require(prevV >= 1, s"deleteWhereVersioned: no committed version under $dir")
    val prevFiles = readManifest(spark, dir, prevV)
    require(!prevFiles.exists(isDelta),
      s"deleteWhereVersioned: $dir has MOR delta files — run compactMor first")
    val paths = prevFiles.map(f => s"$dir/$f")
    val baseLen = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val affected = spark.read.option("basePath", dir).schema(schema)
      .parquet(paths: _*).filter(predicate)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0)))
        .toUri.getPath.stripPrefix(baseLen).stripPrefix("/"))
      .toSet // control-plane: one row per affected file
    val v = prevV + 1
    if (affected.isEmpty) { writeManifest(spark, dir, v, prevFiles, Some(prevFiles)); return v }
    val kept = prevFiles.filterNot(affected.contains)
    val survivors = spark.read.option("basePath", dir).schema(schema)
      .parquet(affected.map(f => s"$dir/$f").toSeq: _*)
      // DELETE WHERE p removes rows where p is TRUE; null-p rows SURVIVE
      .filter(!org.apache.spark.sql.functions.coalesce(predicate,
        org.apache.spark.sql.functions.lit(false)))
    val moved = stageAndMove(survivors, dir, partitionCol, v)
    writeManifest(spark, dir, v, kept ++ moved, Some(prevFiles))
    v
  }

  // ---- manifest stats (zone maps → file skipping) -----------------------

  private def statsPath(dir: String, v: Int) = s"$dir/_graft_stats_v$v.json"

  /** Per-file min/max zone maps for `statCols` at version `v`, committed as
    * a stats sidecar. INCREMENTAL: data files are immutable, so stats for
    * files already covered by v−1's sidecar carry over and only NEW files
    * scan — commit cost tracks the commit's own writes, not table size (the
    * same contract a table format gets from write-time footer stats). Null
    * or missing stats are always legal: pruning treats them as
    * "could match". Numeric (integral/floating) stat columns only. */
  def writeStats(spark: SparkSession, dir: String, v: Int, schema: StructType,
                 statCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    statCols.foreach { c =>
      val dt = schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"writeStats: non-numeric stat column $c ($dt)")
    }
    val fs = fsFor(spark, dir)
    val manifest = readManifest(spark, dir, v)
    require(!manifest.exists(isDelta),
      s"writeStats: $dir@v$v has MOR delta files — run compactMor first " +
        "(zone maps are a plain-row contract; tombstones/deltas have no stats meaning)")
    val prev: Map[String, Map[String, (Double, Double)]] =
      if (v > 1 && fs.exists(new org.apache.hadoop.fs.Path(statsPath(dir, v - 1))))
        readStats(spark, dir, v - 1)
      else Map.empty
    val known = prev.keySet
    val fresh = manifest.filterNot(known)
    val baseUriPath = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val scanned: Map[String, Map[String, (Double, Double)]] =
      if (fresh.isEmpty) Map.empty
      else {
        val aggs = statCols.flatMap(c => Seq(
          min(col(c).cast("double")).as(s"__min_$c"),
          max(col(c).cast("double")).as(s"__max_$c")))
        spark.read.option("basePath", dir).schema(schema)
          .parquet(fresh.map(f => s"$dir/$f"): _*)
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect() // control-plane: one row per NEW file
          .map { r =>
            val rel = new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0)))
              .toUri.getPath.stripPrefix(baseUriPath).stripPrefix("/")
            rel -> statCols.flatMap { c =>
              val lo = r.getAs[Any](s"__min_$c"); val hi = r.getAs[Any](s"__max_$c")
              if (lo == null || hi == null) None
              else Some(c -> (lo.asInstanceOf[Double], hi.asInstanceOf[Double]))
            }.toMap
          }.toMap
      }
    val stats = manifest.map(f =>
      f -> prev.getOrElse(f, scanned.getOrElse(f, Map.empty))).toMap
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = stats.toSeq.sortBy(_._1).map { case (f, cols) =>
      val node = om.createObjectNode()
      node.put("f", f)
      cols.foreach { case (c, (lo, hi)) =>
        val cn = om.createObjectNode(); cn.put("min", lo); cn.put("max", hi)
        node.set[com.fasterxml.jackson.databind.JsonNode](c, cn); ()
      }
      om.writeValueAsString(node)
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(statsPath(dir, v)), false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readStats(spark: SparkSession, dir: String,
                        v: Int): Map[String, Map[String, (Double, Double)]] = {
    val fs = fsFor(spark, dir)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    readLines(fs, statsPath(dir, v)).map { line =>
      val node = om.readTree(line)
      val f = node.get("f").asText()
      import scala.jdk.CollectionConverters._
      val cols = node.properties().asScala.collect {
        case e if e.getKey != "f" =>
          e.getKey -> (e.getValue.get("min").asDouble(), e.getValue.get("max").asDouble())
      }.toMap
      f -> cols
    }.toMap
  }

  /** Read version `v` keeping only files whose `statCol` zone map can
    * intersect [lower, upper] — file-level skipping BEFORE any footer is
    * opened (at 100 TB the object-listing/footer round-trips are the cost,
    * not the row decode; parquet row-group stats only help after the open).
    * Files without stats are conservatively read. The residual predicate
    * still applies, so the result equals a plain filtered read. */
  def readVersionWhere(spark: SparkSession, dir: String, v: Int,
                       schema: StructType, statCol: String,
                       lowerBound: Double, upperBound: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = readManifest(spark, dir, v)
    require(!files.exists(isDelta),
      s"readVersionWhere: $dir@v$v has MOR delta files — run compactMor first " +
        "(a plain-row read would surface stale base rows and tombstone phantoms)")
    // a version without a stats sidecar is legal: no zone maps → no pruning
    val stats =
      if (fsFor(spark, dir).exists(new org.apache.hadoop.fs.Path(statsPath(dir, v))))
        readStats(spark, dir, v)
      else Map.empty[String, Map[String, (Double, Double)]]
    val kept = files.filter { f =>
      stats.get(f).flatMap(_.get(statCol)) match {
        // one-ULP widening: stats stored as doubles round BIGINTs past 2^53;
        // widening the file's range outward keeps pruning conservative (a
        // half-ULP rounding can then never skip a file with matching rows)
        case Some((lo, hi)) =>
          Math.nextUp(hi) >= lowerBound && Math.nextDown(lo) <= upperBound
        case None => true // no stats → could match
      }
    }
    val residual = col(statCol) >= lowerBound && col(statCol) <= upperBound
    if (kept.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.option("basePath", dir).schema(schema)
      .parquet(kept.map(f => s"$dir/$f"): _*)
      .filter(residual)
  }

  /** Drop manifest metadata no longer needed to resolve any version ≥
    * `keepFrom`: checkpoints and deltas strictly below the newest
    * checkpoint ≤ `keepFrom`. The retained tail stays resolvable
    * (checkpoint + deltas); versions below `keepFrom` become unreadable —
    * call AFTER [[vacuum]] has reclaimed their data files. Returns the
    * number of metadata files deleted. */
  def vacuumManifests(spark: SparkSession, dir: String, keepFrom: Int): Long = {
    val fs = fsFor(spark, dir)
    // newest full checkpoint at or below keepFrom — everything older than it
    // can never participate in resolving keepFrom..current
    var ck = keepFrom
    while (ck >= 1 && !fs.exists(new org.apache.hadoop.fs.Path(manifestPath(dir, ck)))) ck -= 1
    require(ck >= 1, s"vacuumManifests: no checkpoint at or below v$keepFrom under $dir")
    var n = 0L
    (1 until ck).foreach { v =>
      // stats sidecars reclaim with their version, or zone-map metadata
      // accretes forever on a daily-commit table
      Seq(manifestPath(dir, v), deltaManifestPath(dir, v), statsPath(dir, v))
        .foreach { p =>
          if (fs.delete(new org.apache.hadoop.fs.Path(p), false)) n += 1
        }
    }
    n
  }

  /** Drop data files referenced by NO manifest ≥ `keepFrom` — the storage
    * reclaim half of snapshot isolation. Returns the deleted count. */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Int): Long = {
    val fs = fsFor(spark, dir)
    val cur = currentVersion(spark, dir)
    val live = (keepFrom to cur).flatMap(v => readManifest(spark, dir, v)).toSet
    val all = listDataFiles(fs, dir)
    var n = 0L
    all.filterNot(live.contains).foreach { f =>
      if (fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$f"), false)) n += 1
    }
    n
  }

  /** Compact a columnar table folder: rewrite into ~`targetFileMB` objects.
    * Micro-batch sinks accrete small files (one-per-partition-per-batch);
    * scan cost at 100 TB is dominated by object count, so periodic
    * compaction is part of the sink's contract. Rewrites via a staged swap
    * (never read-and-overwrite in place). */
  def compact(spark: SparkSession, dir: String, targetFileMB: Int = 128,
              format: String = "parquet"): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(dir)
    val bytes = fs.getContentSummary(path).getLength
    val files = math.max(1, (bytes / (targetFileMB * 1024L * 1024L)).toInt)
    val df = format match {
      case "parquet" => spark.read.parquet(dir)
      case "orc"     => spark.read.orc(dir)
      case other     => throw new IllegalArgumentException(s"compact: $other")
    }
    val staged = new org.apache.hadoop.fs.Path(dir + "__compact")
    val w = df.repartition(files).write.mode(SaveMode.Overwrite)
    format match { case "parquet" => w.parquet(staged.toString); case _ => w.orc(staged.toString) }
    fs.delete(path, true)
    fs.rename(staged, path)
    files.toLong
  }

  /** Read a table folder back. The schema must be supplied — a file sink has
    * no catalog; partition columns are discovered from the folder layout and
    * must be included in `schema`. */
  def read(spark: SparkSession, dir: String, schema: StructType,
           cfg: Config = Config()): DataFrame = cfg.format match {
    case "ndjson"  => spark.read.schema(schema).json(dir)
    case "json_array" =>
      spark.read.schema(schema).option("multiLine", "true").json(dir)
    case "csv"     => spark.read.schema(schema).option("header", "true").csv(dir)
    case "parquet" => spark.read.schema(schema).parquet(dir)
    case "orc"     => spark.read.schema(schema).orc(dir)
    case "avro"    => AvroSink.read(spark, dir, schema)
    case other     => throw new IllegalArgumentException(s"unknown file format: $other")
  }
}
