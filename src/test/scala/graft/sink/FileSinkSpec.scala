package graft.sink

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSuite

/** File-sink roundtrips (K8, file_storage/abstract.go:27-120): NDJSON/CSV,
  * gzip codec on disk, partitioned layout, in-file dedup parity. */
class FileSinkSpec extends SparkSuite {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_fs_").toString

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType),
    StructField("s", StringType)))

  private def data = df("id BIGINT, v DOUBLE, s STRING",
    Seq(Row(1L, 1.5, "x"), Row(2L, 2.5, "y"), Row(2L, 3.5, "y2")))

  test("gzip NDJSON roundtrip preserves rows and produces .gz objects") {
    val dir = tmp()
    FileSink.write(data, dir, SaveMode.Overwrite, FileSink.Config())
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), files.toSeq)
    assert(canon(FileSink.read(spark, dir, schema)) == canon(data))
  }

  test("CSV roundtrip with header") {
    val dir = tmp()
    val cfg = FileSink.Config(format = "csv", gzip = false)
    FileSink.write(data, dir, SaveMode.Overwrite, cfg)
    assert(canon(FileSink.read(spark, dir, schema, cfg)) == canon(data))
  }

  test("gzip CSV objects roundtrip (the Redshift/Snowflake staging format)") {
    val dir = tmp()
    val cfg = FileSink.Config(format = "csv", gzip = true)
    FileSink.write(data, dir, SaveMode.Overwrite, cfg)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".csv.gz")), files.toSeq)
    assert(canon(FileSink.read(spark, dir, schema, cfg)) == canon(data))
  }

  test("in-file pk dedup: later arrival wins, like the SQL path (D1 parity)") {
    val dir = tmp()
    val cfg = FileSink.Config(pk = Seq("id"))
    FileSink.write(data, dir, SaveMode.Overwrite, cfg, arrival = Some(col("v")))
    val back = FileSink.read(spark, dir, schema, cfg)
    assert(canon(back) == Seq(Seq("1", "1.5", "x"), Seq("2", "3.5", "y2")))
  }

  test("partitioned layout restores the partition column on read") {
    val dir = tmp()
    val cfg = FileSink.Config(partitionBy = Seq("s"), gzip = false)
    FileSink.write(data, dir, SaveMode.Overwrite, cfg)
    assert(new java.io.File(dir, "s=x").isDirectory)
    val back = FileSink.read(spark, dir, schema, cfg)
    assert(canon(back.select("id", "v", "s")) == canon(data.select("id", "v", "s")))
  }

  test("parquet and orc columnar formats roundtrip (lake-sink path)") {
    for (fmt <- Seq("parquet", "orc")) {
      val dir = tmp()
      val cfg = FileSink.Config(format = fmt)
      FileSink.write(data, dir, SaveMode.Overwrite, cfg)
      assert(canon(FileSink.read(spark, dir, schema, cfg)) == canon(data), fmt)
    }
  }

  test("replacePartition rewrites ONLY the touched partition (dynamic overwrite)") {
    val dir = tmp()
    data.write.partitionBy("s").parquet(dir + "/t")
    val batch = df("id BIGINT, v DOUBLE, s STRING", Seq(Row(99L, 9.9, "y")))
    FileSink.replacePartition(batch, dir + "/t", Seq("s"))
    val back = spark.read.parquet(dir + "/t")
    // s=y fully replaced; s=x and s=y2 untouched
    assert(canon(back.select("id", "s")) == Seq(
      Seq("1", "x"), Seq("2", "y2"), Seq("99", "y")))
  }

  test("replacePartition sets the overwrite mode per write, not in the session conf") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "spark.sql.sources.partitionOverwriteMode"
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val sessionMode = spark.conf.get(key)
    val group = "replace-partition-conf"
    // the session conf a job runs under travels in its properties
    val modes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          modes.add(String.valueOf(j.properties.getProperty(key)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "FileSinkSpec")
      try FileSink.replacePartition(
        df("id BIGINT, v DOUBLE, s STRING", Seq(Row(7L, 7.5, "x"))), dir, Seq("s"))
      finally sc.clearJobGroup()
      val until = System.currentTimeMillis() + 20000
      while (modes.isEmpty && System.currentTimeMillis() < until) Thread.sleep(20)
      Thread.sleep(200) // a straggling job start would land here
    } finally sc.removeSparkListener(listener)
    assert(!modes.isEmpty, "the write ran no job in the group")
    assert(!modes.contains("dynamic"), s"write jobs ran with the session's $key: $modes")
    assert(spark.conf.get(key) == sessionMode)
    // dynamic overwrite still: s=x replaced, s=y and s=y2 survive
    assert(canon(spark.read.parquet(dir).select("id", "s")) == Seq(
      Seq("2", "y"), Seq("2", "y2"), Seq("7", "x")))
  }

  test("mergeCow: matched pks replace, unmatched insert, other partitions keep their rows") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    // update id=2 in s=y (value changes), insert id=7 into s=y; s=x/s=y2 untouched
    val changes = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"), Row(7L, 7.0, "y")))
    FileSink.mergeCow(changes, dir, Seq("id"), "s")
    val back = spark.read.schema(schema).parquet(dir)
    assert(canon(back) == canon(df("id BIGINT, v DOUBLE, s STRING", Seq(
      Row(1L, 1.5, "x"), Row(2L, 9.0, "y"), Row(7L, 7.0, "y"), Row(2L, 3.5, "y2")))))
  }

  test("mergeCow never reads untouched partitions (corrupt bystander file is survivable)") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    // replace the s=x partition's data with garbage: ANY read of it — footer
    // sniffing included — would throw, so a passing merge proves the no-read
    // guarantee, not just no-rewrite
    val xDir = new java.io.File(dir, "s=x")
    xDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    java.nio.file.Files.write(
      new java.io.File(xDir, "part-corrupt.parquet").toPath,
      "this is not a parquet file".getBytes)
    val changes = df("id BIGINT, v DOUBLE, s STRING", Seq(Row(2L, 9.0, "y")))
    FileSink.mergeCow(changes, dir, Seq("id"), "s") // must not touch s=x
    val back = spark.read.schema(schema).parquet(dir)
      .filter(col("s") =!= "x") // the corrupt partition is unreadable by design
    assert(canon(back) == canon(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"), Row(2L, 3.5, "y2")))))
  }

  test("mergeCow is idempotent: re-applying the same batch is a fixpoint (stream replay safety)") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val changes = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"), Row(7L, 7.0, "y")))
    FileSink.mergeCow(changes, dir, Seq("id"), "s")
    val once = canon(spark.read.schema(schema).parquet(dir))
    FileSink.mergeCow(changes, dir, Seq("id"), "s") // at-least-once replay
    assert(canon(spark.read.schema(schema).parquet(dir)) == once)
  }

  test("versioned merge: a pinned v1 manifest reads the pre-merge state after v2 commits") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val v1 = FileSink.commitVersion(spark, dir)
    val v1Before = canon(FileSink.readVersion(spark, dir, v1, schema))
    val changes = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"), Row(7L, 7.0, "y")))
    val v2 = FileSink.mergeCowVersioned(changes, dir, Seq("id"), "s")
    assert(v1 == 1 && v2 == 2)
    // time travel: v1 is byte-stable across the merge
    assert(canon(FileSink.readVersion(spark, dir, v1, schema)) == v1Before)
    // v2 sees the merge
    assert(canon(FileSink.readVersion(spark, dir, v2, schema)) ==
      canon(df("id BIGINT, v DOUBLE, s STRING", Seq(
        Row(1L, 1.5, "x"), Row(2L, 9.0, "y"), Row(7L, 7.0, "y"), Row(2L, 3.5, "y2")))))
  }

  test("MOR merge: base files stay byte-identical; the commit writes only |changes| delta rows") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val v1 = FileSink.commitVersion(spark, dir)
    def dataFiles(): Map[String, (Long, String)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir)).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        f.getAbsolutePath -> (bytes.length.toLong, md5)
      }.toMap
    }
    val basesBefore = dataFiles()
    val changes = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"), Row(7L, 7.0, "y")))
    val v2 = FileSink.mergeMorVersioned(changes, dir, Seq("id"), "s")
    val after = dataFiles()
    // every pre-merge base file is still there, byte-identical (no partition
    // rewrote — the property COW cannot give a 1-row upsert)
    basesBefore.foreach { case (p, sig) => assert(after.get(p).contains(sig), p) }
    // the only new files are deltas, and they hold exactly the change rows
    val newFiles = after.keySet -- basesBefore.keySet
    assert(newFiles.nonEmpty && newFiles.forall(_.matches(".*/delta-v2-[0-9a-f]+\\.parquet$")),
      newFiles)
    val deltaRows = spark.read.parquet(newFiles.toSeq: _*).count()
    assert(deltaRows == 2, s"delta rows: $deltaRows")
    // reconciled read: matched pk replaced, unmatched inserted, rest intact
    assert(canon(FileSink.readMorVersion(spark, dir, v2, schema, Seq("id"), "s")) ==
      canon(df("id BIGINT, v DOUBLE, s STRING", Seq(
        Row(1L, 1.5, "x"), Row(2L, 9.0, "y"), Row(7L, 7.0, "y"), Row(2L, 3.5, "y2")))))
    // pinned v1 is undisturbed
    assert(canon(FileSink.readMorVersion(spark, dir, v1, schema, Seq("id"), "s")) == canon(data))
  }

  test("MOR: later delta version supersedes earlier; compactMor folds deltas into base") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 8.0, "y"), Row(9L, 9.0, "x"))), dir, Seq("id"), "s")
    val v3 = FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"))), dir, Seq("id"), "s")
    val expect = df("id BIGINT, v DOUBLE, s STRING", Seq(
      Row(1L, 1.5, "x"), Row(9L, 9.0, "x"), Row(2L, 9.0, "y"), Row(2L, 3.5, "y2")))
    assert(canon(FileSink.readMorVersion(spark, dir, v3, schema, Seq("id"), "s")) == canon(expect))
    // compact: deltas fold into base; the s=y2 partition (never touched by a
    // delta) keeps its base file byte-identical
    val y2Before = new java.io.File(dir, "s=y2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val v4 = FileSink.compactMor(spark, dir, schema, Seq("id"), "s")
    val manifest4 = FileSink.readVersion(spark, dir, v4, schema)
    assert(canon(manifest4) == canon(expect)) // plain read: no deltas left
    val y2After = new java.io.File(dir, "s=y2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    y2Before.foreach { case (n, bytes) => assert(y2After.get(n).contains(bytes), n) }
    // and a COW merge is legal again after compaction
    FileSink.mergeCowVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 5.0, "x"))), dir, Seq("id"), "s")
  }

  test("MOR tombstone delete: no rewrite, later upsert resurrects, compact makes it physical") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    // v2: delete id=2 everywhere (both partitions) — zero data files rewrite
    val before = new java.io.File(dir, "s=y").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val v2 = FileSink.deleteMorVersioned(spark, dir, schema,
      col("id") === 2L, "s", Seq("id"))
    val afterNames = new java.io.File(dir, "s=y").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(before.subsetOf(afterNames), "base file rewritten by a tombstone delete")
    assert((afterNames -- before).forall(_.startsWith("tomb-v2-")), afterNames -- before)
    assert(canon(FileSink.readMorVersion(spark, dir, v2, schema, Seq("id"), "s")) ==
      canon(df("id BIGINT, v DOUBLE, s STRING", Seq(Row(1L, 1.5, "x")))))
    // v3: an upsert of id=2 in s=y RESURRECTS it there (higher version wins);
    // the s=y2 tombstone still holds
    val v3 = FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 8.0, "y"))), dir, Seq("id"), "s")
    val expect3 = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 1.5, "x"), Row(2L, 8.0, "y")))
    assert(canon(FileSink.readMorVersion(spark, dir, v3, schema, Seq("id"), "s")) ==
      canon(expect3))
    // compact folds deletes + upserts into plain base files
    val v4 = FileSink.compactMor(spark, dir, schema, Seq("id"), "s")
    assert(canon(FileSink.readVersion(spark, dir, v4, schema)) == canon(expect3))
    // physically gone: no tombstone/delta files referenced, and the deleted
    // pk is not in any manifest-visible file
    assert(canon(FileSink.readMorVersion(spark, dir, v4, schema, Seq("id"), "s")) ==
      canon(expect3))
  }

  test("MOR tombstone delete: null-predicate rows survive (SQL DELETE semantics)") {
    val dir = tmp() + "/t"
    df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(null, 1.0, "x"), Row(2L, 2.0, "x"))).write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    val v2 = FileSink.deleteMorVersioned(spark, dir, schema,
      col("id") === 2L, "s", Seq("id"))
    val back = FileSink.readMorVersion(spark, dir, v2, schema, Seq("id"), "s")
    assert(canon(back) == canon(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(null, 1.0, "x")))))
  }

  test("MOR replay safety: re-committing the same batch leaves the reconciled read a fixpoint") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    val batch = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"), Row(7L, 7.0, "y")))
    val v2 = FileSink.mergeMorVersioned(batch, dir, Seq("id"), "s")
    val once = canon(FileSink.readMorVersion(spark, dir, v2, schema, Seq("id"), "s"))
    // at-least-once foreachBatch replay: same rows, higher version —
    // highest-version-wins reconcile collapses the duplicate commit
    val v3 = FileSink.mergeMorVersioned(batch, dir, Seq("id"), "s")
    assert(canon(FileSink.readMorVersion(spark, dir, v3, schema, Seq("id"), "s")) == once)
  }

  test("vacuumManifests drops metadata below the governing checkpoint; tail stays resolvable") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    (2 to 15).foreach { i =>
      FileSink.mergeCowVersioned(df("id BIGINT, v DOUBLE, s STRING",
        Seq(Row(200L + i, i.toDouble, "y"))), dir, Seq("id"), "s")
    }
    val v15 = canon(FileSink.readVersion(spark, dir, 15, schema))
    val v12 = canon(FileSink.readVersion(spark, dir, 12, schema))
    // keepFrom=12 → governing checkpoint is v10; v1 + deltas 2..9 drop
    val n = FileSink.vacuumManifests(spark, dir, keepFrom = 12)
    assert(n == 9L, s"deleted $n metadata files")
    assert(!new java.io.File(dir, "_graft_manifest_v1.txt").exists())
    assert(!new java.io.File(dir, "_graft_delta_v9.txt").exists())
    assert(new java.io.File(dir, "_graft_manifest_v10.txt").exists())
    // the retained window still resolves identically
    assert(canon(FileSink.readVersion(spark, dir, 15, schema)) == v15)
    assert(canon(FileSink.readVersion(spark, dir, 12, schema)) == v12)
  }

  test("manifest stats pruning: out-of-range files are NEVER OPENED (corrupt bystander)") {
    val dir = tmp() + "/t"
    // three files with disjoint id ranges via partition dirs (pruning is
    // file-level; the layout just makes ranges controllable)
    df("id BIGINT, v DOUBLE, s STRING", Seq(
      Row(1L, 1.0, "lo"), Row(5L, 2.0, "lo"),
      Row(100L, 3.0, "mid"), Row(150L, 4.0, "mid"),
      Row(900L, 5.0, "hi"))).write.partitionBy("s").parquet(dir)
    val v = FileSink.commitVersion(spark, dir)
    FileSink.writeStats(spark, dir, v, schema, Seq("id"))
    // corrupt the hi-range file AFTER stats were written: any open throws
    val hiDir = new java.io.File(dir, "s=hi")
    hiDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "garbage".getBytes)
    }
    // pruned read of the low range skips the corrupt file entirely
    val pruned = FileSink.readVersionWhere(spark, dir, v, schema, "id", 0, 200)
    assert(canon(pruned) == canon(df("id BIGINT, v DOUBLE, s STRING", Seq(
      Row(1L, 1.0, "lo"), Row(5L, 2.0, "lo"),
      Row(100L, 3.0, "mid"), Row(150L, 4.0, "mid")))))
    // the unpruned read proves the corrupt file WOULD have been fatal
    intercept[Throwable] {
      FileSink.readVersion(spark, dir, v, schema).filter(col("id") <= 200).collect()
    }
  }

  test("writeStats is incremental: a later commit scans only its NEW files") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val v1 = FileSink.commitVersion(spark, dir)
    FileSink.writeStats(spark, dir, v1, schema, Seq("id"))
    val v2 = FileSink.mergeCowVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(7L, 7.0, "y"))), dir, Seq("id"), "s")
    // corrupt an UNTOUCHED file (s=x) between the two stats passes: if
    // writeStats(v2) re-scanned old files this would throw
    new java.io.File(dir, "s=x").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "garbage".getBytes)
      }
    FileSink.writeStats(spark, dir, v2, schema, Seq("id"))
    // carried-over stats still prune correctly: id ≤ 1 lives only in s=x,
    // so a disjoint range read never touches the corrupt file
    val pruned = FileSink.readVersionWhere(spark, dir, v2, schema, "id", 2, 10)
    assert(canon(pruned) == canon(df("id BIGINT, v DOUBLE, s STRING", Seq(
      Row(2L, 2.5, "y"), Row(7L, 7.0, "y"), Row(2L, 3.5, "y2")))))
  }

  test("compactMor(layoutBy) restores a clustered layout: disjoint zone maps per partition") {
    val dir = tmp() + "/t"
    // ids deliberately interleaved across the initial write
    val rows = Seq(1L, 50L, 2L, 51L, 3L, 52L, 4L, 53L).map(i => Row(i, i.toDouble, "y"))
    df("id BIGINT, v DOUBLE, s STRING", rows).repartition(4)
      .write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(100L, 1.0, "y"))), dir, Seq("id"), "s")
    val v = FileSink.compactMor(spark, dir, schema, Seq("id"), "s",
      layoutBy = Some("id"), filesPerPartition = 2)
    FileSink.writeStats(spark, dir, v, schema, Seq("id"))
    // rows survive the clustered rewrite
    assert(FileSink.readVersion(spark, dir, v, schema).count() == 9L)
    // zone maps of the new base files are pairwise DISJOINT on id — the
    // property that makes range reads skip files
    val pruned = FileSink.readVersionWhere(spark, dir, v, schema, "id", 0, 10)
    assert(canon(pruned) == canon(df("id BIGINT, v DOUBLE, s STRING",
      (1L to 4L).map(i => Row(i, i.toDouble, "y")))))
    val opened = pruned.select(input_file_name()).distinct().count()
    val total = FileSink.readVersion(spark, dir, v, schema)
      .select(input_file_name()).distinct().count()
    assert(opened < total, s"pruning opened all $total files")
  }

  test("maybeCompactMor: no-ops within the delta budget, fires past it, reconcile invariant") {
    val dir = tmp() + "/t"
    df("id BIGINT, v DOUBLE, s STRING", Seq(Row(1L, 1.0, "y"), Row(2L, 2.0, "y")))
      .write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    def merge(id: Long, v: Double) = FileSink.mergeMorVersioned(
      df("id BIGINT, v DOUBLE, s STRING", Seq(Row(id, v, "y"))), dir, Seq("id"), "s")
    merge(1L, 10.0); merge(2L, 20.0) // 2 delta files: within budget
    assert(FileSink.maybeCompactMor(spark, dir, schema, Seq("id"), "s",
      maxDeltas = 2, maxRatio = 1e9).isEmpty)
    val before = canon(FileSink.readMorVersion(spark, dir,
      FileSink.currentVersion(spark, dir), schema, Seq("id"), "s"))
    merge(3L, 30.0) // third delta trips the absolute budget
    val compacted = FileSink.maybeCompactMor(spark, dir, schema, Seq("id"), "s",
      maxDeltas = 2, maxRatio = 1e9)
    assert(compacted.nonEmpty, "trigger did not fire past maxDeltas")
    // the compacted manifest holds NO deltas and reconciles identically
    val after = FileSink.readMorVersion(spark, dir, compacted.get, schema, Seq("id"), "s")
    assert(canon(after) == canon(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 10.0, "y"), Row(2L, 20.0, "y"), Row(3L, 30.0, "y")))))
    assert(before != canon(after)) // sanity: the third merge was part of it
    assert(FileSink.maybeCompactMor(spark, dir, schema, Seq("id"), "s",
      maxDeltas = 0, maxRatio = 0.0).isEmpty, "no deltas left to compact")
  }

  test("maybeCompactMor(ratio) with layoutBy: zone-map selectivity survives auto-compaction") {
    val dir = tmp() + "/t"
    val rows = Seq(1L, 50L, 2L, 51L, 3L, 52L, 4L, 53L).map(i => Row(i, i.toDouble, "y"))
    df("id BIGINT, v DOUBLE, s STRING", rows).repartition(4)
      .write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(100L, 1.0, "y"))), dir, Seq("id"), "s")
    // 1 delta / 4 bases = 0.25 — a 0.2 ratio policy fires
    val v = FileSink.maybeCompactMor(spark, dir, schema, Seq("id"), "s",
      maxDeltas = Int.MaxValue, maxRatio = 0.2,
      layoutBy = Some("id"), filesPerPartition = 2)
    assert(v.nonEmpty, "ratio trigger did not fire")
    FileSink.writeStats(spark, dir, v.get, schema, Seq("id"))
    val pruned = FileSink.readVersionWhere(spark, dir, v.get, schema, "id", 0, 10)
    assert(canon(pruned) == canon(df("id BIGINT, v DOUBLE, s STRING",
      (1L to 4L).map(i => Row(i, i.toDouble, "y")))))
    val opened = pruned.select(input_file_name()).distinct().count()
    val total = FileSink.readVersion(spark, dir, v.get, schema)
      .select(input_file_name()).distinct().count()
    assert(opened < total, s"auto-compaction lost the clustered layout ($total files all opened)")
  }

  test("compactMor keeps null-partition deltas and tombstones (null-safe planning)") {
    val dir = tmp() + "/t"
    // a null partition value lands in __HIVE_DEFAULT_PARTITION__
    df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 1.0, null), Row(2L, 2.0, null), Row(3L, 3.0, "y")))
      .write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    // upsert id=1 and tombstone id=2 — both in the NULL partition
    FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 9.0, null))), dir, Seq("id"), "s")
    FileSink.deleteMorVersioned(spark, dir, schema, col("id") === 2L, "s", Seq("id"))
    val expect = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 9.0, null), Row(3L, 3.0, "y")))
    val v = FileSink.compactMor(spark, dir, schema, Seq("id"), "s")
    // a non-null-safe isin would have dropped the upsert and resurrected
    // the tombstoned row here
    assert(canon(FileSink.readVersion(spark, dir, v, schema)) == canon(expect))
  }

  test("readVersionWhere/writeStats refuse a table with pending MOR deltas") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val v1 = FileSink.commitVersion(spark, dir)
    FileSink.writeStats(spark, dir, v1, schema, Seq("id"))
    val v2 = FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"))), dir, Seq("id"), "s")
    intercept[IllegalArgumentException] {
      FileSink.writeStats(spark, dir, v2, schema, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      FileSink.readVersionWhere(spark, dir, v2, schema, "id", 0, 10)
    }
  }

  test("changeFeed between identical versions is empty; delete post-images are null") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    val v1 = FileSink.commitVersion(spark, dir)
    // v1 → v1: no movement at all
    assert(FileSink.changeFeed(spark, dir, schema, Seq("id"), "s", v1, v1).count() == 0L)
    FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"))), dir, Seq("id"), "s")
    val v3 = FileSink.deleteMorVersioned(spark, dir, schema,
      col("id") === 1L, "s", Seq("id"))
    val feed = FileSink.changeFeed(spark, dir, schema, Seq("id"), "s", v1, v3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    // (id, s, change_type): id=2@y updated, id=1@x deleted (null post-image)
    assert(feed == Set((2L, "y", "update"), (1L, "x", "delete")), feed)
    val del = FileSink.changeFeed(spark, dir, schema, Seq("id"), "s", v1, v3)
      .filter(col("change_type") === "delete").collect()(0)
    assert(del.isNullAt(del.fieldIndex("v")), "delete post-image must be null")
  }

  test("zone maps: an all-null stat column never prunes (conservative read)") {
    val dir = tmp() + "/t"
    df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(null, 1.0, "x"), Row(null, 2.0, "x"), Row(5L, 3.0, "y")))
      .write.partitionBy("s").parquet(dir)
    val v = FileSink.commitVersion(spark, dir)
    FileSink.writeStats(spark, dir, v, schema, Seq("id"))
    // the all-null file has no id stats → must still be read; null ids fail
    // the residual range predicate, so only the matching row returns
    val out = FileSink.readVersionWhere(spark, dir, v, schema, "id", 0, 10)
    assert(canon(out) == canon(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(5L, 3.0, "y")))))
  }

  test("MOR guard: COW merge on a table with pending deltas fails loudly") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    FileSink.mergeMorVersioned(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(2L, 9.0, "y"))), dir, Seq("id"), "s")
    intercept[IllegalArgumentException] {
      FileSink.mergeCowVersioned(df("id BIGINT, v DOUBLE, s STRING",
        Seq(Row(1L, 5.0, "x"))), dir, Seq("id"), "s")
    }
  }

  test("versioned merge evolves schema: old files surface null for a column added later") {
    // v1 writes (id, v, s); v2's changes carry a NEW column w — the merge
    // rewrites only touched partitions, so v2 mixes old-schema and
    // new-schema files; reading v2 under the WIDENED schema must fill null
    // for w in untouched partitions (the lake half of T7 schema evolution)
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    val widened = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("w", StringType), StructField("s", StringType)))
    val changes = df("id BIGINT, v DOUBLE, w STRING, s STRING",
      Seq(Row(2L, 9.0, "new", "y")))
    val v2 = FileSink.mergeCowVersioned(changes, dir, Seq("id"), "s")
    val back = FileSink.readVersion(spark, dir, v2, widened)
    assert(canon(back) == canon(df("id BIGINT, v DOUBLE, w STRING, s STRING", Seq(
      Row(1L, 1.5, null, "x"), Row(2L, 9.0, "new", "y"), Row(2L, 3.5, null, "y2")))))
  }

  test("deleteWhereVersioned rewrites only affected files; null predicate rows survive") {
    val dir = tmp() + "/t"
    // victim id=2 lives only in partitions y and y2; x must keep its file
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    val v2 = FileSink.deleteWhereVersioned(spark, dir, schema,
      col("id") === 2L, "s")
    val back = FileSink.readVersion(spark, dir, v2, schema)
    assert(canon(back) == canon(df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 1.5, "x")))))
    // file-level pruning: v2's DELTA manifest never mentions s=x — the
    // unaffected partition's entries carry over untouched
    val delta2 = {
      val src = scala.io.Source.fromFile(s"$dir/_graft_delta_v2.txt")
      try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    }
    assert(delta2.nonEmpty && !delta2.exists(_.contains("s=x/")),
      s"unaffected partition's file was rewritten: $delta2")
    // null-predicate rows survive the delete (SQL DELETE semantics)
    val d2 = tmp() + "/t2"
    df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(null, 1.0, "x"), Row(2L, 2.0, "x"))).write.partitionBy("s").parquet(d2)
    FileSink.commitVersion(spark, d2)
    val dv = FileSink.deleteWhereVersioned(spark, d2, schema, col("id") === 2L, "s")
    assert(FileSink.readVersion(spark, d2, dv, schema).count() == 1L)
  }

  test("versioned commits: manifest create is the commit lock; a later commit never rewrites an earlier manifest") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    val v2 = FileSink.mergeCowVersioned(
      df("id BIGINT, v DOUBLE, s STRING", Seq(Row(2L, 9.0, "y"))), dir, Seq("id"), "s")
    // v2 is a DELTA manifest (checkpoints land at v1 and every Nth commit)
    val v2Manifest = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$dir/_graft_delta_v2.txt"))
    val v3 = FileSink.mergeCowVersioned(
      df("id BIGINT, v DOUBLE, s STRING", Seq(Row(7L, 7.0, "y"))), dir, Seq("id"), "s")
    assert(v2 == 2 && v3 == 3)
    // earlier manifests are immutable across later commits
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$dir/_graft_delta_v2.txt")) == v2Manifest)
    // and the commit LOCK: creating an already-committed manifest path
    // throws (a racing writer that computed the same next-version loses)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException] {
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/_graft_delta_v3.txt"), false).close()
    }
    // both snapshots stay readable
    assert(canon(FileSink.readVersion(spark, dir, v2, schema)) !=
      canon(FileSink.readVersion(spark, dir, v3, schema)))
  }

  test("manifest checkpoints: read I/O is bounded by the checkpoint window, not commit count") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir) // v1 = checkpoint
    // 24 more commits → versions 2..25; checkpoints at 10 and 20, deltas
    // elsewhere — each delta manifest carries O(changes) lines, never the
    // whole table listing
    (2 to 25).foreach { i =>
      FileSink.mergeCowVersioned(df("id BIGINT, v DOUBLE, s STRING",
        Seq(Row(100L + i, i.toDouble, "y"))), dir, Seq("id"), "s")
    }
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("_graft_manifest_v20.txt"))
    assert(names.contains("_graft_delta_v25.txt"))
    assert(!names.contains("_graft_manifest_v25.txt"))
    // commit cost: a delta manifest is a few ± lines, not a full listing
    val deltaLines = java.nio.file.Files.readAllLines(
      java.nio.file.Path.of(s"$dir/_graft_delta_v25.txt"))
    assert(deltaLines.size < 10, deltaLines)
    val v25 = canon(FileSink.readVersion(spark, dir, 25, schema))
    // FILE-ACCESS PROOF: delete every metadata file OUTSIDE the resolve
    // window (checkpoint 20 + deltas 21..25). If a read of v25 walked the
    // chain it would now fail; bounded resolution must not notice.
    (Seq("_graft_manifest_v1.txt", "_graft_manifest_v10.txt") ++
      ((2 to 19).filter(_ != 10).map(i => s"_graft_delta_v$i.txt"))).foreach { n =>
      val f = new java.io.File(dir, n)
      assert(f.exists(), s"test setup: $n missing"); f.delete()
    }
    assert(canon(FileSink.readVersion(spark, dir, 25, schema)) == v25)
    // mid-window versions resolve from the same bounded set
    assert(canon(FileSink.readVersion(spark, dir, 22, schema)).nonEmpty)
  }

  test("vacuum drops only files no retained manifest references; v2 survives") {
    val dir = tmp() + "/t"
    data.write.partitionBy("s").parquet(dir)
    FileSink.commitVersion(spark, dir)
    val v2 = FileSink.mergeCowVersioned(
      df("id BIGINT, v DOUBLE, s STRING", Seq(Row(2L, 9.0, "y"))), dir, Seq("id"), "s")
    val v2Rows = canon(FileSink.readVersion(spark, dir, v2, schema))
    val deleted = FileSink.vacuum(spark, dir, keepFrom = v2)
    assert(deleted >= 1, "superseded v1 file should have been reclaimed")
    assert(canon(FileSink.readVersion(spark, dir, v2, schema)) == v2Rows)
  }

  test("compact rewrites many small objects into few, preserving rows") {
    val dir = tmp() + "/t"
    // 6 tiny appends → many small files
    (1 to 6).foreach { i =>
      df("id BIGINT, v DOUBLE, s STRING", Seq(Row(i.toLong, i + 0.5, s"r$i")))
        .write.mode(SaveMode.Append).parquet(dir)
    }
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 6)
    FileSink.compact(spark, dir, targetFileMB = 128)
    val after = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1) // tiny table → one object
    assert(spark.read.parquet(dir).count() == 6)
  }

  test("batch mode appends new objects beside the old (Append)") {
    val dir = tmp()
    FileSink.write(data, dir, SaveMode.Overwrite, FileSink.Config())
    FileSink.write(df("id BIGINT, v DOUBLE, s STRING", Seq(Row(9L, 9.5, "z"))),
      dir, SaveMode.Append, FileSink.Config())
    assert(FileSink.read(spark, dir, schema).count() == 4)
  }

  test("json_array objects are single [obj,…] documents; gzip + append round-trip") {
    val dir = tmp()
    val cfg = FileSink.Config(format = "json_array", gzip = true,
      pk = Seq("id"), discriminators = Seq("v"))
    FileSink.write(data.repartition(2), dir, SaveMode.Overwrite, cfg)
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // local-FS .crc sidecars
    assert(names.nonEmpty && names.forall(_.endsWith(".json.gz")), names.toSeq)
    // each object is ONE well-formed JSON array (the api_based wire shape)
    val in = new java.util.zip.GZIPInputStream(
      new java.io.FileInputStream(new java.io.File(dir, names.head)))
    val text = new String(in.readAllBytes(), "UTF-8")
    assert(text.startsWith("[") && text.endsWith("]"), text.take(80))
    // in-file pk dedup ran: id=2 keeps the max-discriminator row
    val back = FileSink.read(spark, dir, schema, cfg)
    assertSameRows(back, df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 1.5, "x"), Row(2L, 3.5, "y2"))))
    FileSink.write(df("id BIGINT, v DOUBLE, s STRING", Seq(Row(9L, 9.5, "z"))),
      dir, SaveMode.Append, cfg)
    assert(FileSink.read(spark, dir, schema, cfg).count() == 3)
  }
}
