package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.llm.NearDup

/** The incremental near-dup band index under at-least-once delivery and
  * compaction: whatever the segmentation, replay, or compaction history, the
  * emitted candidate pair set must equal the one-shot batch computation. */
class StreamOpsSpec extends SparkSuite {

  // small corpus with planted near-dups: three families of shared shingle
  // runs, ids interleaved so cross-batch pairs arrive in both id orders
  private def docs: DataFrame = {
    import spark.implicits._
    (0L until 24L).map { i =>
      val fam = i % 3
      val noise = s"tail$i unique$i"
      (i, s"family $fam shares a long run of tokens alpha bravo charlie " +
        s"delta echo foxtrot golf hotel $fam $noise")
    }.toDF("doc_id", "text")
  }

  /** One-shot reference pair set: every band collision once, canonical. */
  private def oneShotPairs: Set[(Long, Long)] = {
    val b = NearDup.bandFrame(docs).persist()
    val out = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    b.unpersist()
    out
  }

  private def streamedPairs(outDir: String): Set[(Long, Long)] =
    spark.read.parquet(outDir).drop("batch").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_sndspec_").toString
    (s"$base/index", s"$base/pairs")
  }

  private def slices: Seq[DataFrame] =
    (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))

  test("streamed pair set equals one-shot batch, with compaction firing mid-stream") {
    val (idx, out) = freshDirs()
    slices.zipWithIndex.foreach { case (sl, bid) =>
      StreamOps.nearDupBatchStep(spark, sl, bid.toLong, idx, out)
    }
    // compaction fired (CompactAt=2): by batch 3 the closed partitions have
    // consolidated into a negative generation dir
    val parts = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts.exists(_.startsWith("batch=-")), s"no consolidated gen in $parts")
    assert(parts.size < 4, s"compaction left all per-batch partitions: $parts")
    assert(streamedPairs(out) == oneShotPairs)
  }

  test("pair set is invariant under at-least-once replay of the open batch") {
    val (idx, out) = freshDirs()
    val sl = slices
    sl.zipWithIndex.foreach { case (s0, bid) =>
      StreamOps.nearDupBatchStep(spark, s0, bid.toLong, idx, out)
    }
    // replay the LAST batch (its checkpoint commit "failed"): the step must
    // not pair docs with their own stale index rows nor duplicate pairs
    StreamOps.nearDupBatchStep(spark, sl.last, (sl.size - 1).toLong, idx, out)
    assert(streamedPairs(out) == oneShotPairs)
    // and a replay AFTER its rows were consolidated is equally idempotent:
    // force-compact everything below a fictitious later batch, then replay
    StreamOps.compactBatchIndex(spark, idx, sl.size.toLong)
    StreamOps.nearDupBatchStep(spark, sl.last, (sl.size - 1).toLong, idx, out)
    assert(streamedPairs(out) == oneShotPairs)
  }

  test("trickle batch probes only its own pb buckets, and the pair set stays exact") {
    import spark.implicits._
    val (idx, out) = freshDirs()
    slices.zipWithIndex.foreach { case (sl, bid) =>
      StreamOps.nearDupBatchStep(spark, sl, bid.toLong, idx, out)
    }
    // a 1-doc trickle batch: 4 band rows → ≤4 of the PbBuckets buckets
    val tiny = Seq((100L, "family 1 shares a long run of tokens alpha bravo " +
      "charlie delta echo foxtrot golf hotel 1 tailX uniqueX")).toDF("doc_id", "text")
    val pbs = NearDup.bandFrame(tiny).withColumn("pb", StreamOps.pbCol)
      .select("pb").distinct().collect().map(_.getLong(0)).toSet
    assert(pbs.size <= 4)
    // input_file_name() reports what EXECUTION actually read — file-level
    // proof the isin() filter partition-prunes the index scan
    val pruned = spark.read.parquet(idx)
      .filter(col("pb").isin(pbs.toSeq: _*))
    val prunedFiles = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val prunedDirs = prunedFiles.flatMap(
      _.split("/").find(_.startsWith("pb="))).map(_.stripPrefix("pb=").toLong)
    assert(prunedDirs.subsetOf(pbs), s"pruned read touched foreign buckets: $prunedDirs vs $pbs")
    val allFiles = spark.read.parquet(idx).select(input_file_name()).distinct().count()
    assert(prunedFiles.size < allFiles,
      s"no pruning: ${prunedFiles.size} of $allFiles files read")
    // and the step itself (which uses the pruned probe) emits exactly the
    // one-shot pair set of the 25-doc corpus
    StreamOps.nearDupBatchStep(spark, tiny, 4L, idx, out)
    val b = NearDup.bandFrame(docs.unionByName(tiny)).persist()
    val expect = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    b.unpersist()
    assert(streamedPairs(out) == expect)
  }

  test("streaming IVF index accumulates to the batch-built cells; probe matches ivfTopK") {
    import spark.implicits._
    import graft.llm.Similarity
    val emb = (0L until 40L).map { i =>
      (i, Seq.tabulate(8)(k =>
        (((i * 31 + k * 7) % 13).toFloat - 6f) + (i % 5).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 4)
    val base = java.nio.file.Files.createTempDirectory("graft_sannspec_").toString
    val idx = s"$base/index"
    val sl = (0 until 3).map(k => emb.filter(col("vec_id") % 3 === k))
    sl.zipWithIndex.foreach { case (b, bid) =>
      StreamOps.annIndexBatchStep(spark, b, cents, bid.toLong, idx)
    }
    // replay the open batch after compaction has fired — idempotent overwrite
    StreamOps.annIndexBatchStep(spark, sl.last, cents, 2L, idx)
    val accumulated = spark.read.parquet(idx).select("neighbor_id", "__cell", "__ce")
    assertSameRows(accumulated, Similarity.ivfCells(emb, cents))
    val queries = emb.filter(col("vec_id") < 3)
    assertSameRows(
      Similarity.ivfTopKFromCells(queries, accumulated, cents, k = 4, nprobe = 2),
      Similarity.ivfTopK(queries, emb, cents, k = 4, nprobe = 2))
  }

  test("compaction preserves the index content (src_batch rows, no loss, no dupes)") {
    val (idx, out) = freshDirs()
    slices.take(3).zipWithIndex.foreach { case (s0, bid) =>
      StreamOps.nearDupBatchStep(spark, s0, bid.toLong, idx, out)
    }
    val before = indexRows(idx)
    StreamOps.compactBatchIndex(spark, idx, openBatch = 3L)
    assert(indexRows(idx) == before)
  }

  private def indexRows(idx: String): Seq[Seq[Any]] =
    spark.read.parquet(idx).drop("batch")
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("crash after generation write but before deletes: replay only finishes the deletes") {
    val (idx, out) = freshDirs()
    slices.take(2).zipWithIndex.foreach { case (s0, bid) =>
      StreamOps.nearDupBatchStep(spark, s0, bid.toLong, idx, out)
    }
    val before = indexRows(idx)
    // snapshot the soon-closed partitions, compact (write gen + delete them),
    // then restore the originals — the on-disk state a crash between the
    // generation's job commit and the partition deletes leaves behind
    val p0 = spark.read.parquet(s"$idx/batch=0").localCheckpoint(true)
    val p1 = spark.read.parquet(s"$idx/batch=1").localCheckpoint(true)
    StreamOps.compactBatchIndex(spark, idx, openBatch = 2L)
    p0.write.partitionBy("pb").parquet(s"$idx/batch=0")
    p1.write.partitionBy("pb").parquet(s"$idx/batch=1")
    // replayed batch 2 re-runs compaction: the completed generation must be
    // kept as-is (never read-and-overwritten) and the stale originals dropped
    StreamOps.compactBatchIndex(spark, idx, openBatch = 2L)
    val parts = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=-2"), s"unexpected partitions after recovery: $parts")
    assert(indexRows(idx) == before)
  }

  test("torn generation write (no _SUCCESS): replay discards it and compacts the intact originals") {
    val (idx, out) = freshDirs()
    slices.take(2).zipWithIndex.foreach { case (s0, bid) =>
      StreamOps.nearDupBatchStep(spark, s0, bid.toLong, idx, out)
    }
    val before = indexRows(idx)
    // a torn write: data files landed but the job never committed (_SUCCESS
    // absent) — simulate with a stray copy of batch=0's files
    val conf = spark.sparkContext.hadoopConfiguration
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(idx), conf)
    val gen = new org.apache.hadoop.fs.Path(s"$idx/batch=-2")
    f.mkdirs(gen)
    f.globStatus(new org.apache.hadoop.fs.Path(s"$idx/batch=0/pb=*/part-*")).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, f,
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(gen,
          st.getPath.getParent.getName), st.getPath.getName), false, conf)
    }
    StreamOps.compactBatchIndex(spark, idx, openBatch = 2L)
    val parts = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(parts == Set("batch=-2"), s"unexpected partitions after recovery: $parts")
    assert(indexRows(idx) == before)
  }

  test("true stream-stream interval join equals the batch form on the same events") {
    import spark.implicits._
    // dense same-user bursts so the 5-minute bound matches within AND
    // across the quartile segment boundaries the query stages
    val rows = (0 until 300).map { i =>
      Ev(i.toLong, (1704067200000L + i * 90000L) * 1000000L, (i % 4).toLong,
        "view", i.toDouble, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_sjoin_spec_").toString
    rows.toDF().write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertSameRows(
      graft.queries.Registry.all("q_stream_join").fn(spark, dir),
      graft.queries.Registry.all("q_interval_join").fn(spark, dir)
        .select("event_id", "user_id", "upd_id", "upd_value"))
  }

  test("streaming histogram quantiles equal the batch sketch on the same events") {
    import spark.implicits._
    // gappy per-type value distributions; ts as epoch-nanos long (one of the
    // three encodings Tables.events accepts)
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 400).map { i =>
      Ev(i.toLong, (1704067200000L + i * 1000L) * 1000000L, (i % 5).toLong,
        if (i % 3 == 0) "view" else "click",
        math.floor(rnd.nextDouble() * 900) / 10.0, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_squant_spec_").toString
    rows.toDF().write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertSameRows(
      graft.queries.Registry.all("q_stream_quantile").fn(spark, dir),
      graft.queries.Registry.all("t_hist_quantile").fn(spark, dir))
  }

  test("IVF probe is immune to duplicate index rows left by an interrupted compaction") {
    import spark.implicits._
    import graft.llm.Similarity
    val emb = (0L until 30L).map { i =>
      (i, Seq.tabulate(8)(k =>
        (((i * 17 + k * 5) % 11).toFloat - 5f) + (i % 4).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 4)
    val cells = Similarity.ivfCells(emb, cents)
    // duplicate every row — the worst interrupted-compaction outcome
    val dup = cells.unionByName(cells).dropDuplicates("neighbor_id")
    val queries = emb.filter(col("vec_id") < 3)
    assertSameRows(
      Similarity.ivfTopKFromCells(queries, dup, cents, k = 4, nprobe = 2),
      Similarity.ivfTopKFromCells(queries, cells, cents, k = 4, nprobe = 2))
  }
}
