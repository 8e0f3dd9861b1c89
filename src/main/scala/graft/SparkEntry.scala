package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.Registry
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2, each run on a
    * session clone carrying its conf (`graft.queries.Q.run`). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { case (k, q) => k -> (q.run _) }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.collect { case (k, q) if q.oracle.isDefined => k -> q.oracle.get }

  val CpusVar = "SPARK_GRAFT_CPUS"

  /** The local master's core count from `SPARK_GRAFT_CPUS` in `env`, which
    * also sets the shuffle width: unset is `default`; anything but a
    * positive integer is an `IllegalArgumentException` naming the
    * variable. */
  def parseCpus(env: Map[String, String], default: Int): Int =
    positiveIntVar(env, CpusVar, default)

  /** The local session the harness mains run in: `local[cpus]` with the
    * shuffle width at `cpus` (`SPARK_GRAFT_CPUS`, `defaultCpus` when unset),
    * UTC session time zone, no UI, WARN logs. No artifact isolation: an
    * isolated session's own executor class loader keys Spark's generated-code
    * cache, so every `Q.run` clone would compile all its code again. */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = parseCpus(sys.env, defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val OnlyVar = "SPARK_GRAFT_ONLY"

  /** The comma-separated query names in `SPARK_GRAFT_ONLY` in `env`, `None`
    * when unset (run everything). A name not in `known`, or no name at all,
    * is an `IllegalArgumentException` naming the variable. */
  def parseOnly(env: Map[String, String], known: collection.Set[String]): Option[Set[String]] =
    env.get(OnlyVar).map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(known).toSeq.sorted
      require(names.nonEmpty, s"$OnlyVar names no query, got '$v'")
      require(unknown.isEmpty, s"$OnlyVar names unknown queries: ${unknown.mkString(", ")}")
      names
    }

  /** The positive integer `env(name)`, or `default` when it is unset;
    * any other value is an `IllegalArgumentException` naming `name`. */
  def positiveIntVar(env: Map[String, String], name: String, default: Int): Int =
    env.get(name) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }
}
