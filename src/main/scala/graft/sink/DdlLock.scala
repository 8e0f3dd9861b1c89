package graft.sink

import graft.core.DataKind
import graft.sql.{ColumnSpec, TableSpec}

/** Cross-engine DDL lock (`table_helper.go:285–304`): the reference wraps
  * warehouse DDL in a distributed lock from its coordination service; two
  * engines sharing one warehouse must not interleave ALTERs. With Spark
  * there is no external coordinator to assume, so the WAREHOUSE ITSELF is
  * the coordination service: a lock is a ROW whose INSERT must succeed —
  * the primary key on `LOCK_ID` makes the insert exclusive (a violation
  * means another engine holds it), acquisition retries with backoff until
  * `timeoutMs` (the reference's `tableLockTimeout` → "Table has been
  * already locked: timeout" error), and a holder that crashed without
  * releasing is evicted after `staleMs` (the TTL its coordination locks
  * carry). This is the same exclusive-create pattern the file lake already
  * proves for manifest commits ([[FileSink]]'s `writeManifest`), moved onto
  * a JDBC primary key.
  *
  * Scale shape: pure control plane — one short-lived row per DDL episode on
  * the driver connection; the data path never touches it. */
object DdlLock {

  val Table = "GRAFT_DDL_LOCKS"

  private val lockSpec = TableSpec(Table, Seq(
    ColumnSpec("LOCK_ID", DataKind.Str),
    ColumnSpec("OWNER", DataKind.Str),
    ColumnSpec("ACQUIRED_MS", DataKind.Int64),
    ColumnSpec("HEARTBEAT_MS", DataKind.Int64)), pk = Seq("LOCK_ID"))

  private def ensureLockTable(sink: JdbcSink): Unit =
    try sink.withConnection(sink.exec(_,
      sink.dialect.createTable(lockSpec, ifNotExists = false)))
    catch {
      case e: java.sql.SQLException =>
        // only "already exists" is benign — a real failure (connection,
        // disk) must surface, not be misread as a held lock downstream.
        // A fresh CREATE needs no probe; only a PRE-EXISTING table pays
        // the (single) metadata query, which doubles as the migration scan.
        val cols = sink.existingColumns(Table)
        if (cols.isEmpty) throw e
        // migrate a pre-heartbeat lock table in place: a 3-column DDL_LOCKS
        // left by an older engine version would otherwise make acquire's
        // 4-value INSERT fail with an opaque shape error. Only the BIGINT
        // bookkeeping columns are addable (newer versions never add key/
        // owner strings); DEFAULT 0 marks any surviving pre-migration
        // holder row instantly stale (it never beat and never will), so it
        // is evictable rather than wedging DDL forever.
        def up(s: String) = s.toUpperCase(java.util.Locale.ROOT)
        val have = cols.getOrElse(Nil).map(c => up(c.name)).toSet
        lockSpec.columns
          .filter(c => c.kind == DataKind.Int64 && !have.contains(up(c.name)))
          .foreach { c =>
            try sink.withConnection(sink.exec(_,
              s"""ALTER TABLE "$Table" ADD COLUMN "${c.name}" BIGINT DEFAULT 0"""))
            catch {
              case e2: java.sql.SQLException =>
                // two engines may migrate CONCURRENTLY (the exact scenario
                // this lock serves): losing the ALTER race is benign iff
                // the column is there now
                val now = sink.existingColumns(Table).getOrElse(Nil)
                  .map(x => up(x.name))
                if (!now.contains(up(c.name))) throw e2
            }
          }
    }

  /** Is this the exclusivity signal (integrity-constraint violation,
    * SQLState 23xxx — Derby 23505 duplicate key), as opposed to a real
    * warehouse error that must propagate? */
  private def isDuplicateKey(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).exists(_.startsWith("23"))

  /** The reference's `getTableIdentifier` (table_helper.go:303). */
  def lockId(destinationId: String, table: String): String =
    s"${destinationId}_$table"

  /** Default TTL before a holder is presumed crashed. Staleness is judged
    * on the HEARTBEAT column, which [[withLock]] refreshes from a daemon
    * thread every [[DefaultHeartbeatMs]] while holding — so a live-but-SLOW
    * holder (one long ALTER) keeps beating and is never evicted, and the
    * TTL can sit at seconds instead of the ten-minutes a beat-less TTL
    * would need: a crashed engine stops wedging DDL after ~30 s (~15
    * missed beats), well under any acquire timeout's worth of damage. */
  val DefaultStaleMs: Long = 30000L

  /** Holder heartbeat period — eviction requires missing ~15 beats. */
  val DefaultHeartbeatMs: Long = 2000L

  /** Acquire `id` or throw after `timeoutMs` — INSERT-must-succeed with
    * exponential backoff; stale rows (HEARTBEAT older than `staleMs` by
    * `now`) are evicted between attempts so a crashed engine cannot wedge
    * DDL. */
  def acquire(sink: JdbcSink, id: String, owner: String,
              timeoutMs: Long = 10000L, staleMs: Long = DefaultStaleMs,
              now: () => Long = () => System.currentTimeMillis()): Unit = {
    ensureLockTable(sink)
    val deadline = now() + timeoutMs
    var backoff = 5L
    while (true) {
      val got =
        try sink.withConnection { c =>
          val ps = c.prepareStatement(s"""INSERT INTO "$Table" VALUES (?, ?, ?, ?)""")
          try {
            ps.setString(1, id); ps.setString(2, owner)
            ps.setLong(3, now()); ps.setLong(4, now())
            ps.executeUpdate()
          } finally ps.close()
          true
        }
        catch {
          case e: java.sql.SQLException if isDuplicateKey(e) => false // held
        }
      if (got) return
      // evict a holder whose HEARTBEAT went silent, then retry (the insert
      // stays the only way in)
      sink.withConnection { c =>
        val ps = c.prepareStatement(
          s"""DELETE FROM "$Table" WHERE "LOCK_ID" = ? AND "HEARTBEAT_MS" < ?""")
        try { ps.setString(1, id); ps.setLong(2, now() - staleMs); ps.executeUpdate() }
        finally ps.close()
      }
      if (now() >= deadline)
        throw new IllegalStateException(
          s"unable to lock table $id. Table has been already locked: timeout after ${timeoutMs}ms")
      Thread.sleep(backoff)
      backoff = math.min(backoff * 2, 200L)
    }
  }

  /** Refresh `owner`'s heartbeat on `id`. Returns false when the row is no
    * longer ours (we were evicted as stale and possibly replaced) — the
    * fencing signal: a holder seeing false must treat its lock as lost. */
  def heartbeat(sink: JdbcSink, id: String, owner: String,
                now: () => Long = () => System.currentTimeMillis()): Boolean =
    sink.withConnection { c =>
      val ps = c.prepareStatement(
        s"""UPDATE "$Table" SET "HEARTBEAT_MS" = ? WHERE "LOCK_ID" = ? AND "OWNER" = ?""")
      try {
        ps.setLong(1, now()); ps.setString(2, id); ps.setString(3, owner)
        ps.executeUpdate() == 1
      } finally ps.close()
    }

  /** Release `id` if `owner` still holds it (a stale-evicted owner's late
    * release must not free the NEW holder's lock). */
  def release(sink: JdbcSink, id: String, owner: String): Unit =
    sink.withConnection { c =>
      val ps = c.prepareStatement(
        s"""DELETE FROM "$Table" WHERE "LOCK_ID" = ? AND "OWNER" = ?""")
      try { ps.setString(1, id); ps.setString(2, owner); ps.executeUpdate() }
      finally ps.close()
    }

  private val ownerSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Shared daemon scheduler for holder heartbeats — one thread serves
    * every lock in the JVM (episodes are short; most never beat once). */
  private lazy val beats = {
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val th = new Thread(r, "graft-ddl-lock-heartbeat"); th.setDaemon(true); th
    })
    t.setRemoveOnCancelPolicy(true)
    t
  }

  /** Thrown when a holder discovers (via a false heartbeat) that it was
    * evicted as stale while its DDL ran — the work may have raced another
    * engine's, so the episode must NOT report success. */
  final class LockLostException(id: String, owner: String)
    extends IllegalStateException(
      s"DDL lock $id was lost by $owner mid-episode (evicted as stale): " +
        "the work may have raced another engine and must be retried")

  /** Run `f` under the warehouse lock for (destinationId, table), with the
    * holder heartbeat running so a long `f` is never evicted as stale. If
    * the heartbeat ever reports the lock LOST (the JVM froze past staleMs
    * and a rival took over), the episode fails loudly with
    * [[LockLostException]] even when `f` itself succeeded — a fenced
    * holder must not report success for possibly-raced DDL. */
  def withLock[T](sink: JdbcSink, destinationId: String, table: String,
                  timeoutMs: Long = 10000L,
                  heartbeatMs: Long = DefaultHeartbeatMs)(f: => T): T = {
    val id = lockId(destinationId, table)
    val owner = s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}-${ownerSeq.incrementAndGet()}"
    acquire(sink, id, owner, timeoutMs)
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = beats.scheduleAtFixedRate(
      () => try { if (!heartbeat(sink, id, owner)) fenced.set(true) }
            catch { case _: Exception => () }, // transient beat failure ≠ lost
      heartbeatMs, heartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
      val out = f
      if (fenced.get()) throw new LockLostException(id, owner)
      out
    } finally {
      beat.cancel(false)
      if (!fenced.get()) release(sink, id, owner) // an evicted row isn't ours
    }
  }
}
