package loadbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Command line: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --results DIR`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, results: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("results"))
  }
}

object Stats {
  /** Linear-interpolated quantile (the "type 7" rule numpy and R default to). */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, or None when there are fewer than 20 samples. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10)
}

/** An ordered bag of named metrics, each a number with its unit. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def ++=(o: Metrics): Unit = o.m.foreach { case (k, v) => m(k) = v }
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def json: String = m.map { case (k, (v, u)) =>
    s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
  }.mkString("{", ", ", "}")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Host context printed beside every result, so throttled windows are
  * visible next to the numbers. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def loadAvg: Double = os.getSystemLoadAverage
  def processCpuNs: Long = os.getProcessCpuTime

  /** `cpus` is the parallelism the run uses (Spark's `local[n]` and the
    * client count): the processors the JVM sees, `nproc` (both follow the
    * affinity mask). */
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def context(loadBefore: Double, loadAfter: Double): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val heapArgs = rt.getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:MaxRAM")).toSeq
    Json.obj(Seq(
      "cpus" -> cpus.toString,
      "nproc" -> cpus.toString,
      "loadavg_before" -> Json.num(loadBefore),
      "loadavg_after" -> Json.num(loadAfter),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576.0),
      "heap_args" -> heapArgs.map(Json.str).mkString("[", ", ", "]"),
      "java" -> Json.str(System.getProperty("java.version"))))
  }
}

/** Deterministic pseudo-random source (SplitMix64): the same seed yields
  * the same inputs on every JVM. */
final class Rng(seed: Long) {
  private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def int(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def double(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def chance(p: Double): Boolean = double() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.length))
  /** The elements in a seeded random order (Fisher–Yates). */
  def shuffle[T](xs: Seq[T]): IndexedSeq[T] = {
    val b = scala.collection.mutable.ArrayBuffer.from(xs)
    (b.length - 1 to 1 by -1).foreach { i => val j = int(i + 1); val t = b(i); b(i) = b(j); b(j) = t }
    b.toIndexedSeq
  }
  /** A pronounceable lower-case word of 2–4 syllables. */
  def word(): String = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val b = new StringBuilder
    (0 until 2 + int(3)).foreach { _ => b += cons(int(cons.length)); b += vow(int(vow.length)) }
    b.toString
  }
}
