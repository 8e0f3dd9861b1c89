package graft

import graft.sql.DerbyDialect
import graft.sink.{JdbcSink, TableCache}

/** The reference's matrix pattern (sql/bulker_test.go:291 TestBasics):
  * NDJSON fixtures driven through the PUBLIC embedding API across bulk
  * modes, asserting the final live table. Fixtures mirror the semantics of
  * sql/test_data/{types,repeated_ids,type_hints,schema_option}.ndjson. */
class EngineSpec extends SparkSuite {

  private def engine(db: String): Engine = {
    TableCache.clear()
    new Engine(spark, JdbcSink(s"jdbc:derby:memory:eng_$db;create=true", DerbyDialect))
  }

  private def readTable(db: String, table: String) =
    spark.read.jdbc(s"jdbc:derby:memory:eng_$db;create=true",
      s""""${table.toUpperCase}"""", new java.util.Properties())

  private val typesFixture = Seq(
    """{"id":1,"b":true,"f":1.5,"s":"x","t":"2024-01-02 03:04:05"}""",
    """{"id":2,"b":false,"f":2.5,"s":"y","t":"2024-01-03 04:05:06"}""")

  test("batch mode: types fixture creates a typed table (matrix: types.ndjson)") {
    val e = engine("types")
    val st = e.createStream("tfix", StreamConfig(mode = Engine.Batch))
    typesFixture.foreach(st.consume)
    val state = st.complete()
    assert(state.status == "ok" && state.rows == 2)
    val back = readTable("types", "tfix")
    val types = back.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("ID") == "long"); assert(types("B") == "boolean")
    assert(types("F") == "double"); assert(types("T") == "timestamp")
    assert(back.count() == 2)
  }

  test("batch mode + pk dedups in-batch and merges cross-batch (repeated_ids.ndjson)") {
    val e = engine("ids")
    val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true)
    val s1 = e.createStream("rfix", cfg)
    s1.consume("""{"id":1,"v":"a"}"""); s1.consume("""{"id":1,"v":"b"}""")
    s1.consume("""{"id":2,"v":"c"}""")
    assert(s1.complete().status == "ok")
    // later occurrence wins in-batch
    assert(canon(readTable("ids", "rfix").select("ID", "V")) ==
      Seq(Seq("1", "b"), Seq("2", "c")))
    val s2 = e.createStream("rfix", cfg)
    s2.consume("""{"id":2,"v":"c2"}"""); s2.consume("""{"id":3,"v":"d"}""")
    assert(s2.complete().status == "ok")
    // cross-batch upsert by pk
    assert(canon(readTable("ids", "rfix").select("ID", "V")) ==
      Seq(Seq("1", "b"), Seq("2", "c2"), Seq("3", "d")))
  }

  test("stream mode: row-wise upsert path") {
    val e = engine("stream")
    val cfg = StreamConfig(mode = Engine.Stream, pk = Seq("id"))
    val s1 = e.createStream("sfix", cfg)
    s1.consume("""{"id":1,"v":"a"}""")
    assert(s1.complete().status == "ok")
    val s2 = e.createStream("sfix", cfg)
    s2.consume("""{"id":1,"v":"a2"}""")
    assert(s2.complete().status == "ok")
    assert(canon(readTable("stream", "sfix").select("ID", "V")) == Seq(Seq("1", "a2")))
  }

  test("replace_table swaps the generation (replacetable_stream_test.go)") {
    val e = engine("rt")
    val s1 = e.createStream("gfix", StreamConfig(mode = Engine.Batch))
    s1.consume("""{"id":1}"""); s1.consume("""{"id":2}""")
    assert(s1.complete().status == "ok")
    val s2 = e.createStream("gfix", StreamConfig(mode = Engine.ReplaceTable))
    s2.consume("""{"id":9,"fresh":"yes"}""")
    assert(s2.complete().status == "ok")
    val back = readTable("rt", "gfix")
    assert(canon(back.select("ID", "FRESH")) == Seq(Seq("9", "yes")))
  }

  test("replace_partition clears exactly one partition (replacepartition_stream_test.go)") {
    val e = engine("rp")
    def load(pid: String, rows: String*): Unit = {
      val st = e.createStream("pfix",
        StreamConfig(mode = Engine.ReplacePartition, partitionId = Some(pid)))
      rows.foreach(st.consume)
      assert(st.complete().status == "ok")
    }
    load("d1", """{"id":1}""", """{"id":2}""")
    load("d2", """{"id":3}""")
    load("d1", """{"id":9}""") // replaces d1 only
    assert(canon(readTable("rp", "pfix").select("ID", "__PARTITION_ID")) ==
      Seq(Seq("3", "d2"), Seq("9", "d1")))
  }

  test("schema evolution vs live table: new column ALTERed in, wrong type overflows") {
    val e = engine("evo")
    val s1 = e.createStream("efix", StreamConfig(mode = Engine.Batch))
    s1.consume("""{"id":1,"m":10}""")
    assert(s1.complete().status == "ok")
    val s2 = e.createStream("efix", StreamConfig(mode = Engine.Batch))
    s2.consume("""{"id":2,"m":"not-a-number","extra":1.5}""")
    assert(s2.complete().status == "ok")
    val back = readTable("evo", "efix")
    assert(back.columns.toSeq.contains("EXTRA"))
    val r2 = back.filter("ID = 2").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("M"))) // unconvertible → null
    assert(r2.getString(r2.fieldIndex("_UNMAPPED_DATA")).contains("not-a-number"))
  }

  test("schemaFreeze rejects new columns into _unmapped_data (schema_freeze_test.go)") {
    val e = engine("freeze")
    val s1 = e.createStream("ffix", StreamConfig(mode = Engine.Batch))
    s1.consume("""{"id":1}""")
    assert(s1.complete().status == "ok")
    val s2 = e.createStream("ffix", StreamConfig(mode = Engine.Batch, schemaFreeze = true))
    s2.consume("""{"id":2,"sneaky":"v"}""")
    assert(s2.complete().status == "ok")
    val back = readTable("freeze", "ffix")
    assert(!back.columns.contains("SNEAKY"))
    assert(canon(back.filter("ID = 2").select("_UNMAPPED_DATA")) ==
      Seq(Seq("""{"SNEAKY":"v"}""")))
  }

  test("type hints override DDL on create (type_hints.ndjson)") {
    val e = engine("hints")
    val st = e.createStream("hfix", StreamConfig(mode = Engine.Batch))
    st.consume("""{"id":1,"payload":{"k":1},"__sql_type_payload":"json"}""")
    assert(st.complete().status == "ok")
    assert(canon(readTable("hints", "hfix").select("PAYLOAD")) ==
      Seq(Seq("""{"k":1}""")))
  }

  test("merge window: old target rows survive a pk collision (mergewindow_test.go)") {
    val fixedNow = java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
    val e = engine("win")
    val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true,
      timestampColumn = Some("ts"), mergeWindowDays = 30, nowMs = () => fixedNow)
    val s1 = e.createStream("wfix", cfg)
    s1.consume("""{"id":1,"ts":"2024-05-20 00:00:00","v":"in-window"}""")
    s1.consume("""{"id":2,"ts":"2024-01-01 00:00:00","v":"out-of-window"}""")
    assert(s1.complete().status == "ok")
    val s2 = e.createStream("wfix", cfg)
    s2.consume("""{"id":1,"ts":"2024-05-30 00:00:00","v":"new1"}""")
    s2.consume("""{"id":2,"ts":"2024-05-30 00:00:00","v":"new2"}""")
    assert(s2.complete().status == "ok")
    val back = readTable("win", "wfix")
    // id=1 was in-window → replaced; id=2's old row predates the window →
    // it SURVIVES beside the new row (the reference's window semantics)
    assert(canon(back.select("V")) ==
      Seq(Seq("new1"), Seq("new2"), Seq("out-of-window")))
  }

  test("merge window fixture replay: 31-day window (mergewindow_test.go runs 1-2)") {
    // frozen clock 2023-02-07T00:00:00Z, the reference's fixture timestamps
    val now = java.time.Instant.parse("2023-02-07T00:00:00Z").toEpochMilli
    def cfg(days: Int) = StreamConfig(mode = Engine.Batch, pk = Seq("id"),
      deduplicate = true, timestampColumn = Some("_timestamp"),
      mergeWindowDays = days, nowMs = () => now)
    def row(d: String, id: Int, name: String) =
      s"""{"_timestamp":"2023-$d:00:00.000Z","id":$id,"name":"$name"}"""
    val e = engine("mw12")
    val batch1 = Seq("01-01T00" -> 1, "01-05T00" -> 2, "01-09T00" -> 3,
      "01-13T00" -> 4, "01-17T00" -> 5, "01-21T00" -> 6, "01-25T00" -> 7,
      "01-29T00" -> 8, "02-02T00" -> 9, "02-07T00" -> 10)
    val s1 = e.createStream("mw", cfg(365))
    batch1.foreach { case (d, id) => s1.consume(row(d, id, s"test$id")) }
    assert(s1.complete().status == "ok")
    assert(readTable("mw12", "mw").count() == 10L)
    // run 2: same ids suffixed B, window 31d → cutoff 2023-01-07: ids 1, 2
    // predate it, so their old rows SURVIVE beside the new ones; 3-10 merge
    val s2 = e.createStream("mw", cfg(31))
    batch1.foreach { case (d, id) => s2.consume(row(d, id, s"test${id}B")) }
    assert(s2.complete().status == "ok")
    val got = readTable("mw12", "mw").select("NAME").collect()
      .map(_.getString(0)).sorted.toSeq
    val exp = (Seq("test1", "test2") ++ (1 to 10).map(i => s"test${i}B")).sorted
    assert(got == exp, s"$got")
  }

  test("merge window fixture replay: 5-day then wide window (runs 3-4)") {
    val now = java.time.Instant.parse("2023-02-07T00:00:00Z").toEpochMilli
    def cfg(days: Int) = StreamConfig(mode = Engine.Batch, pk = Seq("id"),
      deduplicate = true, timestampColumn = Some("_timestamp"),
      mergeWindowDays = days, nowMs = () => now)
    def row(d: String, id: Int, name: String) =
      s"""{"_timestamp":"2023-$d:00:00.000Z","id":$id,"name":"$name"}"""
    val e = engine("mw34")
    val dates = Map(7 -> "01-25T00", 8 -> "01-29T00", 9 -> "02-02T00", 10 -> "02-07T00")
    val s1 = e.createStream("mw", cfg(365))
    dates.toSeq.sortBy(_._1).foreach { case (id, d) => s1.consume(row(d, id, s"test${id}B")) }
    assert(s1.complete().status == "ok")
    // run 3 (window 5 → cutoff 2023-02-02 INCLUSIVE): 7, 8 predate it and
    // duplicate; 9 (exactly at the cutoff) and 10 merge
    val s2 = e.createStream("mw", cfg(5))
    dates.toSeq.sortBy(_._1).foreach { case (id, d) => s2.consume(row(d, id, s"test${id}C")) }
    assert(s2.complete().status == "ok")
    val got3 = readTable("mw34", "mw").select("NAME").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got3 == Seq("test10C", "test7B", "test7C", "test8B", "test8C", "test9C"), s"$got3")
    // run 4 (wide window again, ids 9-10 only): 9C/10C replaced by D; the
    // 7/8 duplicates left by run 3 are untouched — merges never reach back
    val s3 = e.createStream("mw", cfg(365))
    Seq(9, 10).foreach(id => s3.consume(row(dates(id), id, s"test${id}D")))
    assert(s3.complete().status == "ok")
    val got4 = readTable("mw34", "mw").select("NAME").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got4 == Seq("test10D", "test7B", "test7C", "test8B", "test8C", "test9D"), s"$got4")
  }

  test("merge window: µs-precision timestamps around the cutoff (micros testdata era)") {
    // the driver testdata now carries µs-precision timestamps; prove the
    // window cutoff (built at ms precision) compares correctly against
    // sub-millisecond _timestamp values on the target side. Frozen clock
    // 2023-02-07, window 5 days → cutoff 2023-02-02T00:00:00.000 exactly.
    val now = java.time.Instant.parse("2023-02-07T00:00:00Z").toEpochMilli
    val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true,
      timestampColumn = Some("_timestamp"), mergeWindowDays = 5, nowMs = () => now)
    val e = engine("mwus")
    val s1 = e.createStream("mw", cfg)
    // 1µs BEFORE the cutoff → predates the window → old row must SURVIVE
    s1.consume("""{"id":1,"_timestamp":"2023-02-01T23:59:59.999999Z","name":"before-us"}""")
    // 1µs AFTER the cutoff → inside the window → old row must be REPLACED
    s1.consume("""{"id":2,"_timestamp":"2023-02-02T00:00:00.000001Z","name":"after-us"}""")
    assert(s1.complete().status == "ok")
    // both µs fractions must land in the warehouse intact (not ms-truncated),
    // otherwise id=1 sits exactly AT the cutoff and merges, masking the test
    val stored = readTable("mwus", "mw").select("_TIMESTAMP").collect()
      .map(_.getTimestamp(0).getNanos).sorted.toSeq
    assert(stored == Seq(1000, 999999000), s"µs lost in ingest: $stored")
    val s2 = e.createStream("mw", cfg)
    s2.consume("""{"id":1,"_timestamp":"2023-02-06T00:00:00.000000Z","name":"new1"}""")
    s2.consume("""{"id":2,"_timestamp":"2023-02-06T00:00:00.000000Z","name":"new2"}""")
    assert(s2.complete().status == "ok")
    val got = readTable("mwus", "mw").select("NAME").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got == Seq("before-us", "new1", "new2"), s"$got")
  }

  test("merge window: a null-timestamp target row is never replaced (kept, not dropped)") {
    val now = java.time.Instant.parse("2023-02-07T00:00:00Z").toEpochMilli
    val cfg = StreamConfig(mode = Engine.Batch, pk = Seq("id"), deduplicate = true,
      timestampColumn = Some("_timestamp"), mergeWindowDays = 365, nowMs = () => now)
    val e = engine("mwnull")
    val s1 = e.createStream("mw", cfg)
    s1.consume("""{"id":1,"name":"no-ts"}""") // null _timestamp
    assert(s1.complete().status == "ok")
    val s2 = e.createStream("mw", cfg)
    s2.consume("""{"id":1,"_timestamp":"2023-02-06T00:00:00.000Z","name":"with-ts"}""")
    assert(s2.complete().status == "ok")
    val got = readTable("mwnull", "mw").select("NAME").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(got == Seq("no-ts", "with-ts"), s"$got") // null ts = outside window
  }

  test("date_mix: mixed full-ISO and bare-date strings type TIMESTAMP (date_mix.ndjson)") {
    val e = engine("dmix")
    val st = e.createStream("dm", StreamConfig(mode = Engine.Batch))
    st.consume("""{"_timestamp":"2022-08-18T14:17:22.375Z","id":1,"name":"test1","dt":"2022-08-18T14:17:22.375Z"}""")
    st.consume("""{"_timestamp":"2022-08-18T14:17:22.375Z","id":2,"name":"test2","dt":"2022-08-18"}""")
    st.consume("""{"_timestamp":"2022-08-18T14:17:22.375Z","id":3,"name":"test3","dt":"2022-08-18T14:17:22.375Z"}""")
    assert(st.complete().status == "ok")
    val back = readTable("dmix", "dm")
    assert(back.schema("DT").dataType.typeName == "timestamp", back.schema.treeString)
    val got = back.select(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("DT"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .collect().map(_.getString(0)).sorted.toSeq
    // the bare date landed at midnight (converter.go:354 supportDates=true)
    assert(got == Seq("2022-08-18 00:00:00.000",
      "2022-08-18 14:17:22.375", "2022-08-18 14:17:22.375"), s"$got")
  }

  test("date_mix with declared schema: columnTypes dt=TIMESTAMP forces the type") {
    val e = engine("dmix2")
    val st = e.createStream("dm", StreamConfig(mode = Engine.Batch,
      columnTypes = Map("dt" -> graft.core.DataKind.Timestamp)))
    st.consume("""{"_timestamp":"2022-08-18T14:17:22.375Z","id":1,"dt":"2022-08-18T14:17:22.375Z"}""")
    st.consume("""{"_timestamp":"2022-08-18T14:17:22.375Z","id":2,"dt":"2022-08-18"}""")
    assert(st.complete().status == "ok")
    val back = readTable("dmix2", "dm")
    assert(back.schema("DT").dataType.typeName == "timestamp")
    assert(back.count() == 2L)
  }

  test("a column of ONLY bare dates stays STRING (detection keeps the 19-char floor)") {
    val e = engine("donly")
    val st = e.createStream("d", StreamConfig(mode = Engine.Batch))
    st.consume("""{"id":1,"day":"2022-08-18"}""")
    st.consume("""{"id":2,"day":"2022-08-19"}""")
    assert(st.complete().status == "ok")
    val back = readTable("donly", "d")
    assert(back.schema("DAY").dataType.typeName == "string", back.schema.treeString)
  }

  test("emoji and unicode identifiers load cleanly (emoji.ndjson fixture)") {
    val e = engine("emoji")
    val st = e.createStream("moji", StreamConfig(mode = Engine.Batch))
    st.consume("""{"id":1,"😀reaction":"love","café":"au lait"}""")
    assert(st.complete().status == "ok")
    val back = readTable("emoji", "moji")
    // emoji sanitizes to _; unicode letters survive (uppercased by Derby)
    assert(back.columns.toSet == Set("ID", "_REACTION", "CAFÉ", "_UNMAPPED_DATA")
      || back.columns.toSet == Set("ID", "_REACTION", "CAFÉ"))
    assert(canon(back.select("_REACTION", "CAFÉ")) == Seq(Seq("love", "au lait")))
  }

  test("abort discards the buffer; nothing reaches the sink") {
    val e = engine("abort")
    val st = e.createStream("afix", StreamConfig(mode = Engine.Batch))
    st.consume("""{"id":1}""")
    st.abort()
    intercept[IllegalArgumentException] { st.complete() }
  }

  test("namespace option: the table lives in its schema (namespace_test.go)") {
    val e = engine("nsopt")
    val st = e.createStream("nfix",
      StreamConfig(mode = Engine.Batch, namespace = Some("app2")))
    st.consume("""{"id":1}""")
    assert(st.complete().status == "ok")
    val back = spark.read.jdbc("jdbc:derby:memory:eng_nsopt;create=true",
      """"APP2"."NFIX"""", new java.util.Properties())
    assert(back.count() == 1)
    // a second batch evolves INSIDE the namespace
    val st2 = e.createStream("nfix",
      StreamConfig(mode = Engine.Batch, namespace = Some("app2")))
    st2.consume("""{"id":2,"extra":"x"}""")
    assert(st2.complete().status == "ok")
    val back2 = spark.read.jdbc("jdbc:derby:memory:eng_nsopt;create=true",
      """"APP2"."NFIX"""", new java.util.Properties())
    assert(back2.count() == 2 && back2.columns.contains("EXTRA"))
  }

  test("StreamConfig.fromOptions parses the reference's option spellings") {
    val cfg = StreamConfig.fromOptions(Map(
      "mode" -> "stream", "primaryKey" -> "id, user_id",
      "deduplicate" -> "true", "discriminatorField" -> "ts",
      "deduplicateWindow" -> "31", "timestampColumn" -> "ts",
      "schemaFreeze" -> "true", "maxColumnsCount" -> "100",
      "columnTypes" -> "a=bigint, b=timestamp, c=nosuch",
      "schema" -> "payload", "omitNils" -> "false"))
    assert(cfg.mode == Engine.Stream)
    assert(cfg.pk == Seq("id", "user_id"))
    assert(cfg.deduplicate && cfg.schemaFreeze && !cfg.omitNils)
    assert(cfg.discriminator == Seq("ts"))
    assert(cfg.mergeWindowDays == 31 && cfg.maxColumns == 100)
    assert(cfg.columnTypes == Map(
      "a" -> graft.core.DataKind.Int64, "b" -> graft.core.DataKind.Timestamp))
    assert(cfg.declaredFields == Seq("payload"))
    // defaults
    val dflt = StreamConfig.fromOptions(Map.empty)
    assert(dflt.mode == Engine.Batch && dflt.mergeWindowDays == 365 &&
      dflt.maxColumns == 5000 && dflt.omitNils)
  }

  test("StreamConfig.fromOptions rejects a malformed number, naming the key") {
    for ((k, v) <- Seq("deduplicateWindow" -> "31d", "maxColumnsCount" -> "", "maxColumnsCount" -> "1e3")) {
      val e = intercept[IllegalArgumentException](StreamConfig.fromOptions(Map(k -> v)))
      assert(!e.isInstanceOf[NumberFormatException], s"$k=$v: ${e.getClass}")
      assert(e.getMessage.contains(k), e.getMessage)
    }
    // surrounding blanks are not malformed
    assert(StreamConfig.fromOptions(Map("deduplicateWindow" -> " 7 ")).mergeWindowDays == 7)
  }

  test("options-driven stream: discriminator + columnTypes flow end to end") {
    val e = engine("opts")
    val cfg = StreamConfig.fromOptions(Map(
      "mode" -> "batch", "primaryKey" -> "id", "deduplicate" -> "true",
      "discriminatorField" -> "prio", "columnTypes" -> "amount=bigint"))
    val st = e.createStream("ofix", cfg)
    st.consume("""{"id":1,"prio":5,"v":"low","amount":"1,000"}""")
    st.consume("""{"id":1,"prio":9,"v":"high","amount":"2,000"}""")
    st.consume("""{"id":1,"prio":7,"v":"mid","amount":"3,000"}""")
    assert(st.complete().status == "ok")
    val back = readTable("opts", "ofix")
    // highest discriminator wins; the declared type parses "2,000" → 2000
    assert(canon(back.select("ID", "V", "AMOUNT")) == Seq(Seq("1", "high", "2000")))
    assert(back.schema("AMOUNT").dataType == org.apache.spark.sql.types.LongType)
  }

  test("consumeDataset drives the distributed path (HTTP bulk body shape)") {
    import spark.implicits._
    val e = engine("ds")
    val st = e.createStream("dfix", StreamConfig(mode = Engine.Batch))
    st.consumeDataset((1 to 100).map(i => s"""{"id":$i,"v":"r$i"}""").toDS())
    val state = st.complete()
    assert(state.status == "ok" && state.rows == 100)
    assert(readTable("ds", "dfix").count() == 100)
  }

  /** Derby flavored, but case-preserving (quoted mixed-case identifiers are
    * legal in Derby) — exercises the toSameCase option's forcing rule against
    * a dialect that would otherwise keep source casing
    * (bulkerlib/options.go:115-121, naming_test.go:80-95). */
  private object KeepCaseDerby extends graft.sql.Dialect {
    val name = "derby-keepcase"
    override val maxIdentifierLength = 128
    override val caseMode = graft.shape.Names.KeepCase
    override protected def supportsIfNotExists: Boolean = false
    def typeFor(k: graft.core.DataKind): String = graft.sql.DerbyDialect.typeFor(k)
  }

  test("toSameCase forces destination-canonical case on a case-keeping dialect") {
    TableCache.clear()
    val url = "jdbc:derby:memory:eng_case;create=true"
    val e = new Engine(spark, JdbcSink(url, KeepCaseDerby))
    val st = e.createStream("MiXeD_Case",
      StreamConfig.fromOptions(Map("mode" -> Engine.Batch, "toSameCase" -> "true")))
    st.consume("""{"UserName":"a","Id":1}""")
    assert(st.complete().status == "ok")
    val back = spark.read.jdbc(url, "\"mixed_case\"", new java.util.Properties())
    assert(back.columns.toSet == Set("username", "id"))

    // without the option the same dialect keeps the source casing
    val st2 = e.createStream("Kept_Case",
      StreamConfig.fromOptions(Map("mode" -> Engine.Batch)))
    st2.consume("""{"UserName":"b","Id":2}""")
    assert(st2.complete().status == "ok")
    val kept = spark.read.jdbc(url, "\"Kept_Case\"", new java.util.Properties())
    assert(kept.columns.toSet == Set("UserName", "Id"))
  }
}
