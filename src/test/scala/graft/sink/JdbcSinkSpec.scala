package graft.sink

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.core.DataKind
import graft.sql.{ColumnSpec, DerbyDialect, TableSpec}
import graft.SparkSuite

/** Live-catalog sink semantics against embedded Derby: get-or-create,
  * ALTER-ADD patch, atomic ReplaceTable swap, transactional
  * ReplacePartition (incl. empty batch), delete/truncate, stream upsert —
  * the bulker_test.go matrix rows that don't need a network warehouse. */
class JdbcSinkSpec extends SparkSuite {

  private def freshSink(db: String): JdbcSink =
    JdbcSink(s"jdbc:derby:memory:test_$db;create=true", DerbyDialect)

  private def drop(s: JdbcSink, t: String): Unit =
    try s.withConnection(s.exec(_, s"""DROP TABLE "$t"""")) catch { case _: Exception => () }

  private def readBack(s: JdbcSink, t: String) =
    spark.read.jdbc(s.url, s""""$t"""", new java.util.Properties())

  test("ensureTable creates, then patches missing columns via ALTER ADD") {
    val sink = freshSink("ensure")
    drop(sink, "E1")
    val spec1 = TableSpec("E1", Seq(ColumnSpec("ID", DataKind.Int64)))
    sink.ensureTable(spec1)
    assert(sink.existingColumns("E1").get.map(_.name) == Seq("ID"))
    val spec2 = TableSpec("E1", Seq(
      ColumnSpec("ID", DataKind.Int64), ColumnSpec("V", DataKind.Str)))
    val live = sink.ensureTable(spec2)
    assert(live.columns.map(_.name) == Seq("ID", "V"))
    assert(sink.existingColumns("E1").get.map(_.name).toSet == Set("ID", "V"))
  }

  test("cross-engine DDL lock: two sinks racing ALTERs on one Derby lose no column, no deadlock") {
    // two ENGINE stand-ins: separate JdbcSink instances on the same
    // warehouse, coordinating ONLY through the DdlLock row (the in-JVM
    // TableCache mutex is deliberately bypassed — two real engines don't
    // share a JVM)
    val url = "jdbc:derby:memory:test_ddlrace;create=true"
    val (a, b) = (JdbcSink(url, DerbyDialect), JdbcSink(url, DerbyDialect))
    drop(a, "RACE_T"); drop(a, DdlLock.Table)
    a.ensureTable(TableSpec("RACE_T", Seq(ColumnSpec("ID", DataKind.Int64))))
    val inside = new java.util.concurrent.atomic.AtomicBoolean(false)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def engine(sink: JdbcSink, prefix: String) = new Thread(() =>
      try (0 until 8).foreach { i =>
        DdlLock.withLock(sink, url, "RACE_T", timeoutMs = 30000L) {
          if (!inside.compareAndSet(false, true)) overlapped.set(true)
          try {
            // read-patch like ensureTable: live columns + my next one
            val live = sink.existingColumns("RACE_T").get
            val spec = TableSpec("RACE_T",
              live :+ ColumnSpec(s"$prefix$i", DataKind.Int64))
            sink.ensureTable(spec)
          } finally inside.set(false)
        }
      } catch { case t: Throwable => failures.add(t); () })
    val (ta, tb) = (engine(a, "A"), engine(b, "B"))
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    assert(failures.isEmpty, s"engine failed: ${failures.peek()}")
    assert(!overlapped.get(), "two engines were inside the DDL lock at once")
    val cols = a.existingColumns("RACE_T").get.map(_.name).toSet
    val want = Set("ID") ++ (0 until 8).flatMap(i => Seq(s"A$i", s"B$i"))
    assert(cols == want, s"dropped columns: ${(want -- cols).toSeq.sorted}")
    // the lock table drains: every episode released its row
    a.withConnection { c =>
      val rs = c.createStatement().executeQuery(
        s"""SELECT COUNT(*) FROM "${DdlLock.Table}"""")
      rs.next(); assert(rs.getInt(1) == 0)
    }
  }

  test("DdlLock: held lock times out with the reference's error; stale holder is evicted") {
    val url = "jdbc:derby:memory:test_ddlstale;create=true"
    val sink = JdbcSink(url, DerbyDialect)
    drop(sink, DdlLock.Table)
    var clock = 1000000L
    val now = () => clock
    DdlLock.acquire(sink, "d_t", "owner1", timeoutMs = 60000L, now = now)
    // a second engine times out while the lock is fresh (timeoutMs=0: the
    // injected clock is frozen, so the deadline must already have passed)
    val e = intercept[IllegalStateException] {
      DdlLock.acquire(sink, "d_t", "owner2", timeoutMs = 0L, staleMs = 60000L, now = now)
    }
    assert(e.getMessage.contains("already locked: timeout"))
    // ... but takes over once the holder is stale (crash recovery)
    clock += 120000L
    DdlLock.acquire(sink, "d_t", "owner2", timeoutMs = 1000L, staleMs = 60000L, now = now)
    // the evicted owner's late release must NOT free owner2's lock
    DdlLock.release(sink, "d_t", "owner1")
    val e2 = intercept[IllegalStateException] {
      DdlLock.acquire(sink, "d_t", "owner3", timeoutMs = 0L, staleMs = 60000L, now = now)
    }
    assert(e2.getMessage.contains("already locked"))
    DdlLock.release(sink, "d_t", "owner2")
    DdlLock.acquire(sink, "d_t", "owner3", timeoutMs = 1000L, staleMs = 60000L, now = now)
    DdlLock.release(sink, "d_t", "owner3")
  }

  test("DdlLock: a pre-heartbeat 3-column lock table is migrated in place, old rows evictable") {
    val sink = freshSink("ddlmigrate")
    drop(sink, DdlLock.Table)
    // an older engine version left the 3-column shape behind, with a holder
    // row that never released
    sink.withConnection { c =>
      sink.exec(c, s"""CREATE TABLE "${DdlLock.Table}" (
        "LOCK_ID" VARCHAR(8192) NOT NULL, "OWNER" VARCHAR(8192),
        "ACQUIRED_MS" BIGINT, PRIMARY KEY ("LOCK_ID"))""")
      sink.exec(c, s"""INSERT INTO "${DdlLock.Table}" VALUES ('m_t', 'ghost', 5)""")
    }
    val now = () => 1000000L
    // acquire migrates (ALTER ADD HEARTBEAT_MS DEFAULT 0), sees the ghost's
    // zero heartbeat as instantly stale, evicts it, and takes the lock
    DdlLock.acquire(sink, "m_t", "owner1", timeoutMs = 1000L, now = now)
    assert(DdlLock.heartbeat(sink, "m_t", "owner1", now))
    DdlLock.release(sink, "m_t", "owner1")
  }

  test("DdlLock heartbeat: a beating slow holder survives past staleMs; an evicted owner's beat fences") {
    val url = "jdbc:derby:memory:test_ddlbeat;create=true"
    val sink = JdbcSink(url, DerbyDialect)
    drop(sink, DdlLock.Table)
    var clock = 5000000L
    val now = () => clock
    DdlLock.acquire(sink, "slow_t", "holder", timeoutMs = 60000L, now = now)
    // the holder's DDL runs LONGER than staleMs, but its heartbeat thread
    // keeps beating — a challenger can never evict it
    (1 to 4).foreach { _ =>
      clock += 20000L // stays under staleMs=30000 between beats
      assert(DdlLock.heartbeat(sink, "slow_t", "holder", now))
    }
    // 80s elapsed since acquire (>> staleMs) yet the lock held firm
    val e = intercept[IllegalStateException] {
      DdlLock.acquire(sink, "slow_t", "rival", timeoutMs = 0L, now = now)
    }
    assert(e.getMessage.contains("already locked"))
    // silence past staleMs: the rival takes over, and the old holder's next
    // beat returns FALSE — the fencing signal that its lock is lost
    clock += 60000L
    DdlLock.acquire(sink, "slow_t", "rival", timeoutMs = 1000L, now = now)
    assert(!DdlLock.heartbeat(sink, "slow_t", "holder", now))
    DdlLock.release(sink, "slow_t", "rival")
  }

  test("DdlLock.withLock: a fenced holder fails loudly and never frees the rival's lock") {
    val url = "jdbc:derby:memory:test_ddlfence;create=true"
    val sink = JdbcSink(url, DerbyDialect)
    drop(sink, DdlLock.Table)
    // simulate an eviction mid-episode: while f runs, a rival force-takes
    // the row (what stale eviction does after a long JVM freeze); the
    // holder's next beat returns false → the episode must THROW even
    // though f completed, and release must NOT delete the rival's row
    val e = intercept[DdlLock.LockLostException] {
      DdlLock.withLock(sink, url, "FENCED_T", heartbeatMs = 50L) {
        sink.withConnection { c =>
          val st = c.createStatement()
          try {
            st.executeUpdate(
              s"""DELETE FROM "${DdlLock.Table}" WHERE "LOCK_ID" LIKE '%FENCED_T'""")
            st.executeUpdate(
              s"""INSERT INTO "${DdlLock.Table}" VALUES ('${url}_FENCED_T', 'rival', 1, 1)""")
          } finally st.close()
        }
        Thread.sleep(300) // several beat periods: the false beat lands
      }
    }
    assert(e.getMessage.contains("lost"))
    sink.withConnection { c =>
      val rs = c.createStatement().executeQuery(
        s"""SELECT "OWNER" FROM "${DdlLock.Table}" WHERE "LOCK_ID" = '${url}_FENCED_T'""")
      assert(rs.next() && rs.getString(1) == "rival") // rival's row survived
    }
  }

  test("existingColumns does not see phantom tables through _ wildcards") {
    val sink = freshSink("wild")
    drop(sink, "AXB"); drop(sink, "A_B")
    // AXB would match the pattern A_B if `_` weren't escaped
    sink.ensureTable(TableSpec("AXB", Seq(ColumnSpec("ONLY_IN_AXB", DataKind.Int64))))
    assert(sink.existingColumns("A_B").isEmpty)
    sink.ensureTable(TableSpec("A_B", Seq(ColumnSpec("ID", DataKind.Int64))))
    assert(sink.existingColumns("A_B").get.map(_.name) == Seq("ID"))
  }

  test("append + read back round-trips values") {
    val sink = freshSink("append")
    drop(sink, "AP")
    val data = df("id BIGINT, v DOUBLE, s STRING",
      Seq(Row(1L, 1.5, "x"), Row(2L, 2.5, null)))
    val spec = sink.specFor(data, "ap")
    sink.ensureTable(spec)
    sink.append(data, spec.name)
    assert(canon(readBack(sink, "AP")) == canon(data))
  }

  test("replaceTable atomically swaps generations (P2)") {
    val sink = freshSink("swap")
    drop(sink, "RT")
    val gen1 = df("id BIGINT", Seq(Row(1L), Row(2L)))
    val spec = sink.specFor(gen1, "rt")
    sink.ensureTable(spec); sink.append(gen1, spec.name)
    val gen2 = df("id BIGINT", Seq(Row(10L)))
    sink.replaceTable(gen2, "rt")
    assert(canon(readBack(sink, "RT")) == Seq(Seq("10")))
    // and again on the now-existing table (exercises the rename path twice)
    sink.replaceTable(gen1, "rt")
    assert(canon(readBack(sink, "RT")) == Seq(Seq("1"), Seq("2")))
  }

  test("replaceTable: a failed stage throws, leaves no tmp table, and the live table is unchanged") {
    val sink = freshSink("swapfail")
    drop(sink, "RF")
    val gen1 = df("id BIGINT, s STRING", Seq(Row(1L, "a"), Row(2L, "b")))
    val spec = sink.specFor(gen1, "rf")
    sink.ensureTable(spec); sink.append(gen1, spec.name)
    // 40,000 chars do not fit Derby's VARCHAR(32000): the stage write fails
    val tooLong = df("id BIGINT, s STRING", Seq(Row(3L, "x" * 40000)))
    intercept[Exception](sink.replaceTable(tooLong, "rf"))
    val tables = sink.withConnection { c =>
      val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
    }
    assert(!tables.exists(_.startsWith("RF_")), tables)
    assert(canon(readBack(sink, "RF")) == Seq(Seq("1", "a"), Seq("2", "b")))
  }

  test("replacePartition clears only the target partition, in one tx (P1)") {
    val sink = freshSink("part")
    drop(sink, "RP")
    val data = df("id BIGINT, part STRING",
      Seq(Row(1L, "d1"), Row(2L, "d1"), Row(3L, "d2")))
    val spec = sink.specFor(data, "rp")
    sink.ensureTable(spec); sink.append(data, spec.name)
    val batch = df("id BIGINT, part STRING", Seq(Row(9L, "d1")))
    sink.replacePartition(batch, spec, "part", "d1")
    assert(canon(readBack(sink, "RP")) == Seq(Seq("3", "d2"), Seq("9", "d1")))
  }

  test("replacePartition with an EMPTY batch still clears the partition") {
    val sink = freshSink("partempty")
    drop(sink, "RPE")
    val data = df("id BIGINT, part STRING", Seq(Row(1L, "d1"), Row(2L, "d2")))
    val spec = sink.specFor(data, "rpe")
    sink.ensureTable(spec); sink.append(data, spec.name)
    sink.replacePartition(data.filter(lit(false)), spec, "part", "d1")
    assert(canon(readBack(sink, "RPE")) == Seq(Seq("2", "d2")))
  }

  test("loadMerge upserts by pk through a tmp table in a tx (D2/B3)") {
    val sink = freshSink("merge")
    drop(sink, "MG")
    val base = df("id BIGINT, v STRING", Seq(Row(1L, "old1"), Row(2L, "old2")))
    val spec = sink.specFor(base, "mg", pk = Seq("id"))
    sink.ensureTable(spec); sink.append(base, spec.name)
    val delta = df("id BIGINT, v STRING", Seq(Row(2L, "new2"), Row(3L, "new3")))
    sink.loadMerge(delta, spec)
    assert(canon(readBack(sink, "MG")) == Seq(
      Seq("1", "old1"), Seq("2", "new2"), Seq("3", "new3")))
  }

  test("loadMerge honors the merge window: out-of-window rows survive (D3)") {
    val sink = freshSink("mergewin")
    drop(sink, "MW")
    val base = df("id BIGINT, ts BIGINT, v STRING",
      Seq(Row(1L, 100L, "in-window"), Row(1L, 10L, "out-of-window")))
    val spec = sink.specFor(base, "mw", pk = Seq("id"))
    // create WITHOUT pk constraint (two rows share id on purpose)
    sink.ensureTable(spec.copy(pk = Nil))
    sink.append(base, spec.name)
    val delta = df("id BIGINT, ts BIGINT, v STRING", Seq(Row(1L, 200L, "new")))
    sink.loadMerge(delta, spec, windowPredicate = Some("""__T__."TS" >= 50"""))
    assert(canon(readBack(sink, "MW").select("v")) ==
      Seq(Seq("new"), Seq("out-of-window")))
  }

  test("streamUpsert: prepared-statement merge per row, last batch wins (D4)") {
    val sink = freshSink("stream")
    drop(sink, "SU")
    val b1 = df("id BIGINT, v STRING", Seq(Row(1L, "a"), Row(2L, "b")))
    val spec = sink.specFor(b1, "su", pk = Seq("id"))
    sink.ensureTable(spec)
    sink.streamUpsert(b1, spec)
    sink.streamUpsert(df("id BIGINT, v STRING", Seq(Row(2L, "b2"), Row(3L, "c"))), spec)
    assert(canon(readBack(sink, "SU")) == Seq(
      Seq("1", "a"), Seq("2", "b2"), Seq("3", "c")))
  }

  test("delete and truncate (P3)") {
    val sink = freshSink("del")
    drop(sink, "DL")
    val data = df("id BIGINT, t STRING", Seq(Row(1L, "keep"), Row(2L, "kill")))
    val spec = sink.specFor(data, "dl")
    sink.ensureTable(spec); sink.append(data, spec.name)
    sink.withConnection(sink.exec(_, sink.dialect.deleteWhere(spec, """"T" = 'kill'""")))
    assert(canon(readBack(sink, "DL")) == Seq(Seq("1", "keep")))
    sink.withConnection(sink.exec(_, sink.dialect.truncate(spec)))
    assert(readBack(sink, "DL").count() == 0)
  }

  test("namespace: tables live in their schema, lookups are schema-scoped (namespace_test.go)") {
    val sink = freshSink("ns")
    try sink.withConnection(sink.exec(_, "CREATE SCHEMA \"NS1\""))
    catch { case _: Exception => () }
    try sink.withConnection(sink.exec(_, """DROP TABLE "NS1"."NT""""))
    catch { case _: Exception => () }
    val spec = TableSpec("NT", Seq(ColumnSpec("ID", DataKind.Int64)), namespace = Some("NS1"))
    sink.ensureTable(spec)
    assert(sink.existingColumns("NT", Some("NS1")).get.map(_.name) == Seq("ID"))
    // the same table name outside the namespace is NOT visible
    assert(sink.existingColumns("NT", Some("APP")).isEmpty)
    val data = df("ID BIGINT", Seq(Row(1L)))
    sink.appendTo(data, spec)
    assert(spark.read.jdbc(sink.url, """"NS1"."NT"""", new java.util.Properties()).count() == 1)
  }

  test("every load method returns the rows it wrote, counted on the write pass") {
    val sink = freshSink("rows")
    Seq("RW", "RWT").foreach(drop(sink, _))
    val data = df("id BIGINT, part STRING",
      (1L to 30L).map(i => Row(i, if (i % 3 == 0) "d2" else "d1")))
    val spec = sink.specFor(data, "rw", pk = Seq("id"))
    sink.ensureTable(spec.copy(pk = Nil)) // appends below repeat keys
    // 24 partitions coalesce to the connection cap; the count is unchanged
    assert(sink.append(data.repartition(24), spec.name) == 30)
    assert(sink.appendTo(data.filter("id <= 5"), spec) == 5)
    assert(sink.loadMerge(data.filter("id > 20"), spec) == 10)
    assert(sink.loadMerge(data, spec, subBatches = 4) == 30) // chunks sum once
    assert(sink.replacePartition(data.filter("part = 'd2'"), spec, "part", "d2") == 10)
    assert(sink.replacePartition(data.filter(lit(false)), spec, "part", "d2") == 0)
    assert(sink.streamUpsert(data.filter("id <= 7"), spec) == 7)
    assert(sink.replaceTable(data.filter("id <= 3"), "rwt") == 3)
    assert(readBack(sink, "RWT").count() == 3)
    // a retried stream upsert counts the batch once: drop the table behind
    // the schema cache so the first attempt fails
    TableCache.clear()
    sink.ensureTableCached(spec)
    drop(sink, "RW")
    assert(sink.streamUpsertWithRetry(data, spec) == 30)
    assert(readBack(sink, "RW").count() == 30)
  }

  test("postgres value mapping strips NUL bytes during adapt (T9)") {
    val sink = JdbcSink("unused", graft.sql.PostgresDialect)
    val data = df("S STRING", Seq(Row("a" + "\u0000" + "b")))
    assert(canon(sink.adapt(data)) == Seq(Seq("ab")))
    // and columns take the dialect's lowercase identifier form
    assert(sink.adapt(data).columns.toSeq == Seq("s"))
  }
}
