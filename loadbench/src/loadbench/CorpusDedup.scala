package loadbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.queries.Registry

/** `corpus_dedup`: a seeded corpus with the `documents.parquet` schema and
  * planted exact and near-duplicate clusters, run through
  * `llm_clean_corpus`, `llm_dedup_cluster_exact` and `llm_dedup_survivor`.
  *
  * Traffic properties: `background` unique documents; `clusters` planted
  * clusters of one base document plus 1–3 near-duplicates (the base with
  * one extra word) and, for a third of them, an exact copy of the base;
  * and `junk` documents the quality and language gates must drop. */
final class CorpusDedup(spark: SparkSession, h: Harness, work: Path, seed: Long) extends Workload {
  val background = 500
  val clusters = 60
  val junk = 30
  val vocabulary = 6000
  val queries = Seq("llm_clean_corpus", "llm_dedup_cluster_exact", "llm_dedup_survivor")

  private var docs: IndexedSeq[CorpusDoc] = IndexedSeq.empty
  private var dir = ""
  private var passes = 0L
  private var firstStartNs, lastEndNs = 0L
  private var outputs = Vector.empty[Map[String, Array[Row]]]
  private var misses = Vector.empty[String]
  private val fns = Registry.all

  private def generate(): IndexedSeq[CorpusDoc] = {
    val rng = new Rng(seed)
    val vocab = IndexedSeq.fill(vocabulary)(rng.word()).distinct
    def text(n: Int) = IndexedSeq.fill(n)(rng.pick(vocab)).mkString(" ")
    val out = mutable.ArrayBuffer.empty[(String, Boolean)]
    (0 until background).foreach(_ => out += ((text(90 + rng.int(60)), true)))
    (0 until clusters).foreach { c =>
      val base = text(90 + rng.int(60))
      out += ((base, true))
      (0 until 1 + rng.int(3)).foreach(_ => out += ((base + " " + rng.pick(vocab), true)))
      if (c % 3 == 0) out += ((base, true))
    }
    val german = IndexedSeq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf")
    (0 until junk).foreach { j =>
      if (j % 2 == 0) out += ((IndexedSeq.fill(100)(
        if (rng.chance(0.6)) rng.pick(german) else rng.pick(vocab)).mkString(" "), false))
      else out += ((IndexedSeq.fill(8)(rng.pick(vocab) + "!!").mkString(" "), false))
    }
    // ids in shuffled order, so cluster members are not neighbours
    val ids = rng.shuffle(0L until out.size.toLong)
    out.indices.map(i => CorpusDoc(1000 + ids(i), out(i)._1, out(i)._2))
  }

  private def write(docs: IndexedSeq[CorpusDoc], to: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val rows = docs.map(d => Row(d.id, d.text, if (d.good) "en" else "xx",
      s"src${d.id % 7}", d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$to/documents.parquet")
  }

  def setup(rep: Int): Unit = {
    docs = generate()
    dir = work.resolve(s"corpus-$rep").toString
    write(docs, dir)
  }

  /** One pass of the three queries over `from`, outputs collected. */
  private def pass(from: String, size: Long): Map[String, Array[Row]] = {
    var outs = Map.empty[String, Array[Row]]
    val times = mutable.Map.empty[String, Double]
    val ok = h.load("llm.pass", size, 0L) {
      queries.foreach { q =>
        val t0 = System.nanoTime()
        outs += q -> fns(q).fn(spark, from).collect()
        times(q) = (System.nanoTime() - t0) / 1e9
      }
      true
    }
    if (ok) { passTimes :+= times.toMap; passes += 1 }
    outs
  }
  private var passTimes = Vector.empty[Map[String, Double]]

  def warmUp(): Unit = {
    h.warm(2)(pass(dir, docs.size))
    passes = 0; passTimes = Vector.empty
  }

  def window(seconds: Double): Unit = {
    firstStartNs = System.nanoTime()
    while ((System.nanoTime() - firstStartNs) / 1e9 < seconds) outputs :+= pass(dir, docs.size)
    lastEndNs = System.nanoTime()
  }

  def check(): Seq[String] = {
    val expected = Expected(docs)
    misses = outputs.zipWithIndex.flatMap { case (outs, i) =>
      if (outs.size < queries.size) Seq(s"pass ${i + 1}: a query failed")
      else expected.misses(outs).map(s => s"pass ${i + 1}: $s")
    }
    misses
  }
  def verifiedEvents: Long = if (misses.isEmpty) passes * docs.size else 0L
  def windowSeconds: Double = (lastEndNs - firstStartNs) / 1e9

  def layerMetrics: Metrics = {
    val m = new Metrics
    Seq("llm_clean_corpus" -> "llm.clean_corpus_s", "llm_dedup_cluster_exact" -> "llm.dedup_cluster_exact_s",
        "llm_dedup_survivor" -> "llm.dedup_survivor_s").foreach { case (q, name) =>
      m.put(name, Stats.median(passTimes.map(_(q))), "s")
    }
    m.put("llm.output_rows", Stats.median(outputs.map(_.values.map(_.length.toDouble).sum)), "count")
    m
  }
}

/** One generated document; `good` ones pass the quality and language gates. */
private final case class CorpusDoc(id: Long, text: String, good: Boolean)

/** The expected outputs, derived from the documents alone: exact Jaccard
  * over distinct word 3-shingles for the exact clusters and the clean
  * corpus, and an independent 32-bit SimHash (md5-based 60-bit word
  * hashes, one ±1 vote per word and bit, Hamming ≤ 3) for the survivors. */
private final case class Expected(docs: IndexedSeq[CorpusDoc]) {
  private val ids = docs.map(_.id)
  private val textOf = docs.map(d => d.id -> d.text).toMap

  private def tokens(t: String) = t.trim.split("\\s+")
  private def shingles(t: String): Set[String] = tokens(t).sliding(3).map(_.mkString(" ")).toSet

  /** Pairs (i < j) of the given docs with shingle Jaccard ≥ 0.5. */
  private def exactPairs(of: Seq[Long]): Seq[(Long, Long)] = {
    val sh = of.map(i => i -> shingles(textOf(i))).toMap
    val index = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (i, s) => s.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += i) }
    val cands = index.values.filter(_.size > 1).flatMap { b =>
      for (x <- b; y <- b if x < y) yield (x, y) }.toSet
    cands.toSeq.filter { case (i, j) =>
      val inter = sh(i).intersect(sh(j)).size
      inter.toDouble / (sh(i).size + sh(j).size - inter) >= 0.5
    }
  }

  private def components(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val root = nodes.map(n => n -> find(n)).toMap
    val minOf = root.groupBy(_._2).map { case (r, ms) => r -> ms.keys.min }
    root.map { case (n, r) => n -> minOf(r) }
  }

  private val allPairs = exactPairs(ids)

  /** `llm_dedup_cluster_exact`: (doc_id, cluster_id) for every doc in a pair. */
  val clusterExact: Set[(Long, Long)] = {
    val inPairs = allPairs.flatMap(p => Seq(p._1, p._2)).distinct
    components(inPairs, allPairs).toSet
  }

  /** `llm_clean_corpus`: (doc_id, dup_count) of the kept docs that survive
    * exact dedup (smallest id per text) and are not the larger end of a
    * near-duplicate pair. */
  val cleanCorpus: Set[(Long, Long)] = {
    val byText = docs.filter(_.good).groupBy(_.text).values.map(g => g.map(_.id).min -> g.size.toLong).toMap
    val losers = exactPairs(byText.keys.toSeq).map(_._2).toSet
    byText.filter { case (id, _) => !losers(id) }.toSet
  }

  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }
  private def simhash32(t: String): Long = {
    val hs = tokens(t).map(hash60)
    (0 until 32).foldLeft(0L) { (acc, b) =>
      val vote = hs.foldLeft(0L)((v, x) => v + (if (((x >>> b) & 1L) == 1L) 1 else -1))
      if (vote > 0) acc | (1L << b) else acc
    }
  }

  /** `llm_dedup_survivor`: (cluster_id, survivor_id, n_members, survivor_chars). */
  val survivors: Set[(Long, Long, Long, Long)] = {
    val sh = docs.map(d => d.id -> simhash32(d.text)).toArray
    val pairs = for {
      a <- sh.indices; b <- a + 1 until sh.length
      if java.lang.Long.bitCount(sh(a)._2 ^ sh(b)._2) <= 3
    } yield (math.min(sh(a)._1, sh(b)._1), math.max(sh(a)._1, sh(b)._1))
    val label = components(ids, pairs)
    label.groupBy(_._2).map { case (cid, ms) =>
      val members = ms.keys.toSeq
      val best = members.minBy(m => (-textOf(m).length.toLong, m))
      (cid, best, members.size.toLong, textOf(best).length.toLong)
    }.toSet
  }

  def misses(outs: Map[String, Array[Row]]): Seq[String] = {
    def l(r: Row, c: String) = r.getAs[Number](c).longValue
    def diff[T](name: String, got: Set[T], want: Set[T]) =
      if (got == want) Nil
      else Seq(s"$name: ${want.diff(got).size} expected rows missing, ${got.diff(want).size} unexpected " +
        s"(e.g. ${want.diff(got).headOption.orElse(got.diff(want).headOption).getOrElse("")})")
    diff("llm_clean_corpus", outs("llm_clean_corpus").map(r => (l(r, "doc_id"), l(r, "dup_count"))).toSet, cleanCorpus) ++
    diff("llm_dedup_cluster_exact", outs("llm_dedup_cluster_exact").map(r => (l(r, "doc_id"), l(r, "cluster_id"))).toSet,
      clusterExact) ++
    diff("llm_dedup_survivor", outs("llm_dedup_survivor").map(r =>
      (l(r, "cluster_id"), l(r, "survivor_id"), l(r, "n_members"), l(r, "survivor_chars"))).toSet, survivors)
  }
}
