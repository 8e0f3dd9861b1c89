package graft

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Dataset, GraftExpressions}
import org.apache.spark.sql.catalyst.json.DriverJson
import graft.core.DataKind
import graft.shape.Ingest
import graft.sink.JdbcSink
import graft.sql.DerbyDialect
import graft.streaming.LoadState

/** A batch shaped and inserted on the driver gives the same table as the
  * distributed path. Each case loads its batches twice, into two fresh
  * Derby databases: once through `consume()` (a `LocalRelation`, so the
  * driver path when under the gate) and once through `consumeDataset` of
  * an RDD-backed Dataset in 4 partitions (never the driver path). The two
  * tables must have the same column names, column types and rows. */
class DriverLoadSpec extends SparkSuite {
  import spark.implicits._

  private val dbs = new AtomicInteger

  /** An RDD-backed Dataset: its leaf is not a `LocalRelation`. */
  private def distributed(lines: Seq[String]): Dataset[String] =
    spark.createDataset(spark.sparkContext.parallelize(lines, 4))

  /** One `complete()` and the Spark jobs it started. */
  private def load(url: String, cfg: StreamConfig)(feed: BulkerStream => Unit): (LoadState, Int) = {
    val group = s"driver-load-${dbs.incrementAndGet()}"
    val st = new Engine(spark, JdbcSink(url, DerbyDialect)).createStream("eq", cfg)
    feed(st)
    val sc = spark.sparkContext
    sc.setJobGroup(group, "DriverLoadSpec")
    val state = try st.complete() finally sc.clearJobGroup()
    GraftExpressions.drainListenerBus(spark)
    (state, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Column (name, type) pairs in table order, and the rows as sorted text. */
  private def contents(url: String): (Seq[(String, String)], Seq[String]) = {
    val c = DriverManager.getConnection(url)
    try {
      val md = c.getMetaData.getColumns(null, null, "EQ", null)
      val cols = Iterator.continually(md).takeWhile(_.next()).map(r =>
        r.getString("COLUMN_NAME") -> s"${r.getString("TYPE_NAME")}(${r.getInt("COLUMN_SIZE")})").toList
      if (cols.isEmpty) (Nil, Nil) // no load created the table
      else {
        val rs = c.createStatement().executeQuery("SELECT * FROM \"EQ\"")
        val rows = Iterator.continually(rs).takeWhile(_.next()).map(r =>
          cols.indices.map(i => Option(r.getString(i + 1)).getOrElse("∅")).mkString("|")).toList
        (cols, rows.sorted)
      }
    } finally c.close()
  }

  /** Load `batches` in order through both paths and compare the tables.
    * The driver side must run no job unless the batch is past the gate or
    * its write needs a shuffle (a pk dedup, stream mode). */
  private def assertSameTable(cfg: StreamConfig, batches: Seq[String]*): Unit = {
    val n = dbs.incrementAndGet()
    val (localUrl, distUrl) =
      (s"jdbc:derby:memory:drv_l$n;create=true", s"jdbc:derby:memory:drv_d$n;create=true")
    val shuffles = cfg.mode == Engine.Stream || (cfg.deduplicate && cfg.pk.nonEmpty)
    batches.foreach { lines =>
      val (local, jobs) = load(localUrl, cfg)(st => lines.foreach(st.consume))
      val (dist, _) = load(distUrl, cfg)(_.consumeDataset(distributed(lines)))
      assert(local.status == dist.status, s"driver: ${local.error}; distributed: ${dist.error}")
      assert(local.rows == dist.rows)
      val underGate = lines.map(_.length).sum <= Ingest.DriverMaxChars
      assert((jobs == 0) == (underGate && !shuffles), s"$jobs jobs")
    }
    val (localCols, localRows) = contents(localUrl)
    val (distCols, distRows) = contents(distUrl)
    assert(localCols == distCols)
    assert(localRows == distRows)
  }

  private val batch = StreamConfig(mode = Engine.Batch)

  /** The shaping fixtures: IngestSpec's, the lattice mixes, the t1 line. */
  private val fixtures: Seq[(String, StreamConfig, Seq[String])] = Seq(
    ("types", batch, Seq(
      """{"b":true,"i":1,"f":1.5,"s":"x","t":"2024-01-02 03:04:05"}""",
      """{"b":false,"i":2,"f":2.5,"s":"y","t":"2024-01-03 04:05:06"}""")),
    ("int and float widen", batch, Seq("""{"m":1}""", """{"m":1.5}""")),
    ("number and string widen", batch, Seq("""{"m":1}""", """{"m":"x"}""")),
    ("bool and int", batch, Seq("""{"m":true}""", """{"m":3}""", """{"m":false}""")),
    ("bool and float", batch, Seq("""{"m":true}""", """{"m":1.5}""")),
    ("quoted digits and bools", batch, Seq(
      """{"zip":"01234","b":"true"}""", """{"zip":"99999","b":"false"}""")),
    ("date only", batch, Seq("""{"id":1,"day":"2022-08-18"}""", """{"id":2,"day":"2022-08-19"}""")),
    ("dates and timestamps mixed", batch, Seq(
      """{"_timestamp":"2022-08-18T14:17:22.375Z","id":1,"dt":"2022-08-18T14:17:22.375Z"}""",
      """{"_timestamp":"not a date","id":2,"dt":"2022-08-18"}""",
      """{"_timestamp":"2022-08-18T14:17:22.375Z","id":3,"w":"2024-01-02 03:04:05"}""",
      """{"id":4,"w":"junk","t":"2024-01-02T03:04:05.123456+00:00"}""")),
    ("all-null column, omitNils on", batch, Seq(
      """{"a":1,"gone":null}""", """{"a":2,"gone":null}""")),
    ("all-null column, omitNils off", batch.copy(omitNils = false), Seq(
      """{"a":1,"gone":null}""", """{"a":2,"gone":null}""")),
    ("empty keys", batch, Seq(
      """{"":1,"a":2}""", """{"a":3,"x":{"":4,"y":5}}""", """{ "" :6}""")),
    ("identifiers sanitize and collide", batch, Seq(
      """{"$part key!":5,"café":6,"a!":1,"a?":2}""",
      s"""{"${"p" * 70}_a":1,"${"p" * 70}_b":2}""",
      """{"id":1,"😀reaction":"love","MiXeD":"x"}""")),
    ("sql_type hints", batch, Seq(
      """{"id":1,"payload":{"k":1},"__sql_type_payload":"json","code":"a","__sql_type_code":["string","VARCHAR(64)"]}""",
      """{"id":2,"payload":{"k":2},"obj":{"n":3,"__sql_type_n":"bigint"}}""")),
    ("a malformed line", batch, Seq("""{"a":1}""", """{"a":2,"b":""", """[1,2]""")),
    // every kind but Unknown, whose cast to VOID neither path can plan
    ("columnTypes for every kind", batch.copy(columnTypes = Map(
      "s" -> DataKind.Str, "i" -> DataKind.Int64, "f" -> DataKind.Float64,
      "t" -> DataKind.Timestamp, "b" -> DataKind.Bool, "j" -> DataKind.Json)), Seq(
      """{"s":1,"i":"7","f":"2.5","t":"2024-01-02 03:04:05","b":"true","j":"{}"}""",
      """{"s":"x","i":"1,234","f":"nope","t":"junk","b":1,"j":"[1]"}""")),
    ("declared fields", batch.copy(declaredFields = Seq("obj", "absent")), Seq(
      """{"obj":{"a":1},"x":2}""")),
    ("maxColumns overflow", batch.copy(maxColumns = 2), Seq(
      """{"a":1,"b":2,"c":3,"d":4}""", """{"a":5,"e":"six"}""")),
    ("t1 line", batch, Seq(
      """{"order":{"key":1,"line":2},"qty":17.0,"tags":["N","O"],"$part key!":155190,"ship":"1996-03-13"}""",
      """{"order":{"key":3,"line":1},"qty":36.0,"tags":["R","F"],"$part key!":67310,"ship":"1996-04-12"}""")),
    ("seeded mix", batch, {
      val rnd = new scala.util.Random(14)
      (0 until 200).map { i =>
        def pick(vs: String*) = vs(rnd.nextInt(vs.length))
        s"""{"id":$i,"n":${pick("1", "2.5", "true", "null", "\"7\"")},""" +
          s""""when":${pick("\"2024-01-02 03:04:05\"", "\"2024-02-03\"", "null")},""" +
          s""""nest":{"k":${pick("\"v\"", "3", "false")}},"arr":[${pick("1", "\"a\"", "")}]}"""
      }
    }))

  test("the driver JSON read matches spark.read.json: schema and rows") {
    for ((name, _, lines) <- fixtures) {
      val driver = DriverJson.read(spark, lines)
      val dist = spark.read.json(distributed(lines))
      assert(driver.schema == dist.schema, name)
      assert(canon(driver) == canon(dist), name)
    }
  }

  for ((name, cfg, lines) <- fixtures)
    test(s"new table, batch append: $name") { assertSameTable(cfg, lines) }

  /** A live table, then a batch whose kinds conflict with it: a bigint
    * gets text (→ `_unmapped_data`), a string gets a number, a timestamp
    * gets junk, and a new column arrives. */
  private val live = Seq(
    """{"id":1,"n":5,"s":"x","t":"2024-01-02 03:04:05","f":1.5}""",
    """{"id":2,"n":6,"s":"y","t":"2024-01-03 03:04:05","f":2.5}""")
  private val conflicting = Seq(
    """{"id":2,"n":"abc","s":7,"t":"garbage","f":true,"fresh":true}""",
    """{"id":3,"n":8,"s":"z","t":"2024-01-04 03:04:05","f":3}""",
    """{"id":3,"n":9,"s":"w","fresh":false}""")

  test("live table with type conflicts: batch append") {
    assertSameTable(batch, live, conflicting)
  }

  test("live table with type conflicts: pk merge with dedup") {
    assertSameTable(batch.copy(pk = Seq("id"), deduplicate = true), live, conflicting)
  }

  test("live table with type conflicts: replace_table") {
    assertSameTable(StreamConfig(mode = Engine.ReplaceTable), live, conflicting)
  }

  test("live table with type conflicts: replace_partition") {
    val cfg = StreamConfig(mode = Engine.ReplacePartition, partitionId = Some("p1"))
    assertSameTable(cfg, live, conflicting, live.take(1))
  }

  test("live table with type conflicts: schemaFreeze and a full table") {
    assertSameTable(batch.copy(schemaFreeze = true), live, conflicting)
    assertSameTable(batch.copy(maxColumns = 6), live, conflicting)
  }

  test("one batch on each side of the gate") {
    def padded(width: Int) = (0 until 60).map(i => s"""{"id":$i,"pad":"${"p" * width}"}""")
    val under = padded(8000)
    val over = padded(9000)
    assert(under.map(_.length).sum <= Ingest.DriverMaxChars)
    assert(over.map(_.length).sum > Ingest.DriverMaxChars)
    assertSameTable(batch, under, over)
  }

  test("stream mode without a pk inserts every event") {
    val url = s"jdbc:derby:memory:drv_s${dbs.incrementAndGet()};create=true"
    val cfg = StreamConfig(mode = Engine.Stream)
    for (k <- 0 until 2) {
      val (state, _) = load(url, cfg)(st =>
        (0 until 3).foreach(i => st.consume(s"""{"id":$i,"load":$k}""")))
      assert(state.status == "ok", state.error)
      assert(state.rows == 3)
    }
    assert(contents(url)._2.length == 6)
    assertSameTable(cfg, live, conflicting)
  }
}
