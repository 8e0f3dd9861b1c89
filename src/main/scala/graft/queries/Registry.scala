package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (where the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle over the same parquet
  * tables. Column names/types must agree exactly between the two. `conf` is
  * the session conf the query needs; [[run]] applies it, `fn` alone runs at
  * the caller's conf. */
final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String],
                   conf: Map[String, String] = Map.empty) {
  /** `fn` on `Q.session(s, conf)`; the lazy frame it returns stays bound to
    * that clone, so it also executes under that conf. */
  def run(s: SparkSession, d: String): DataFrame = fn(Q.session(s, conf), d)
}

object Q {
  /** Runner default: `events.parquet` has shipped `ts` as TIMESTAMP(NANOS),
    * which Spark reads only as raw longs (see `Tables.events`). */
  val Defaults: Map[String, String] = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A clone of `s` (same runtime conf, strategies and cache manager) with
    * [[Defaults]] and then `conf` set on it; `s` itself is never written. */
  def session(s: SparkSession, conf: Map[String, String]): SparkSession = {
    val c = org.apache.spark.sql.GraftExpressions.cloneSession(s)
    (Defaults ++ conf).foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}

/** Shared per-query tuning. */
private[queries] object Tuning {
  /** Conf of CONTROL-PLANE-shaped queries: [[controlShuffle]] shuffle
    * partitions. For state-backed streams (a stream-stream join commits 4
    * state stores PER partition every micro-batch) and iterative trainers
    * whose per-round jobs aggregate small cached frames — where 32
    * post-shuffle tasks are pure scheduling overhead. Never for CPU-heavy
    * fan-out work, where task width IS the parallelism. Results must be
    * partitioning-independent (exact integer/decimal aggregates,
    * totally-ordered TakeOrdered). */
  lazy val Narrow: Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> controlShuffle.toString)

  /** Partition width of control-plane queries, from
    * `SPARK_GRAFT_CONTROL_SHUFFLE` (default 4), read once. A deployment
    * knob, not a constant tuned to one host. r21 measurement (per-query
    * minima over 3-rep solo runs, cross-window controlled): 4 beats the
    * r10/r15 value of 8 on EVERY state-backed stream (join 8.0→6.0, hll
    * 5.0/4.2→2.6, cms 3.4→2.8, dedup_rocks 5.3→3.2; trainers
    * flat-to-better) — the per-micro-batch state-store commit fan-out
    * scales with partition count while the state itself is
    * key-volume-bounded. Production sizes this to state volume, never core
    * count (OPTIMIZATION_r21.md). */
  lazy val controlShuffle: Int = parseControlShuffle(sys.env)

  val ControlShuffleVar = "SPARK_GRAFT_CONTROL_SHUFFLE"

  /** The `SPARK_GRAFT_CONTROL_SHUFFLE` value in `env`: unset is 4; anything
    * but a positive integer is an `IllegalArgumentException` naming the
    * variable. */
  def parseControlShuffle(env: Map[String, String]): Int =
    graft.SparkEntry.positiveIntVar(env, ControlShuffleVar, 4)
}

object Registry {
  def all: Map[String, Q] = Relational.qs ++ EltOps.qs ++ LlmOps.qs ++ SketchOps.qs ++ SinkOps.qs ++ StreamOps.qs ++ EventOps.qs ++ BpeOps.qs ++ FilterOps.qs ++ PqOps.qs ++ GraphOps.qs ++ AirbyteOps.qs ++ ReprocessOps.qs ++ SyncOps.qs
}
