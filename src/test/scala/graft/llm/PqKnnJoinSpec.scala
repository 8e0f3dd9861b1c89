package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** [[Similarity.pqKnnJoin]] — the compressed-domain k-NN join — must be
  * result-identical to the literal-probe ADC form ([[Similarity.pqSearchADCIvf]])
  * on a shared query set, and its plan must be CONSTANT in |queries| (the
  * literal form's plan grows linearly — the flagged 100×-query-volume
  * bottleneck this operator retires). */
class PqKnnJoinSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 16
  private val M = 4
  private val KSeeds = 8
  private val NProbe = 2
  private val K = 3

  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(Dim)(k => (((seed * 1103515245 + k * 12345) % 1000) / 250.0f) - 2.0f)

  private lazy val rows = (0L until 40L).map(i => (i, vec(i.toInt * 13 + 5)))
  private lazy val emb = rows.toDF("vec_id", "embedding").persist()
  private lazy val seeds = emb.filter(col("vec_id") < KSeeds)
  private lazy val cbDf = Similarity.pqCodebook(seeds, M, Dim).persist()
  private lazy val codes = Similarity.pqEncode(emb, cbDf, M, Dim).persist()
  private lazy val cells = Similarity.coarseCells(emb, seeds).persist()

  private def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("pqKnnJoin equals the literal ADC-IVF probe form on shared queries") {
    val cbRows = cbDf.collect().map(r => (r.getInt(0), r.getLong(1),
      r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq
    val seedVecs = rows.take(KSeeds).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val qs = rows.take(4).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    // driver probe lists: the same quant6 L2 argmin the join form runs as a
    // window (mirrors PqOps.ivfPqSearch's driver twin)
    val probes: Map[Long, Seq[Long]] = qs.map { case (qid, qv) =>
      val ds = seedVecs.map { case (cid, cv) =>
        var acc = 0d
        var i = 0
        while (i < qv.length) { val dd = qv(i) - cv(i); acc += dd * dd; i += 1 }
        (q6(acc), cid)
      }
      qid -> ds.sortBy(identity).take(NProbe).map(_._2).toSeq
    }.toMap
    val literal = Similarity.pqSearchADCIvf(qs, codes, cells, probes, cbRows, M, K)
    val joined = Similarity.pqKnnJoin(emb.filter(col("vec_id") < 4), codes, cbDf,
      cells, seeds, M, Dim, K, NProbe)
    assertSameRows(literal, joined)
  }

  test("pqKnnJoin plan is constant in |queries|; the literal form's grows") {
    def joinPlan(n: Int) = Similarity.pqKnnJoin(
      emb.filter(col("vec_id") < n), codes, cbDf, cells, seeds, M, Dim, K, NProbe)
      .queryExecution.optimizedPlan.toString
    val (p4, p32) = (joinPlan(4), joinPlan(32))
    // only the filter literal differs — no per-query expression anywhere
    assert(math.abs(p4.length - p32.length) <= 8, s"${p4.length} vs ${p32.length}")
    assert(!p4.contains("explode([struct(query_id"), "per-query literal structs leaked in")
    // contrast: the literal ADC form bakes an m×k table per query
    def litPlan(n: Int) = Similarity.pqSearchADC(
      rows.take(n).map { case (i, v) => (i, v.map(_.toDouble).toArray) },
      codes, cbDf.collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq, M, K)
      .queryExecution.optimizedPlan.toString
    val (l2p, l8p) = (litPlan(2), litPlan(8))
    assert(l8p.length > l2p.length + 1000,
      s"literal form should grow with |queries|: ${l2p.length} vs ${l8p.length}")
  }

  test("pqKnnJoin self-consistency: every query gets k ranked rows, no self-match") {
    val out = Similarity.pqKnnJoin(emb, codes, cbDf, cells, seeds, M, Dim, K, NProbe)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 40 * K)
    out.foreach { case (q, _, n, a) => assert(q != n && a >= 0d) }
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 40)
    byQ.values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1L to K))
      // ranks follow (adist asc, neighbor_id asc)
      val sorted = rs.sortBy(_._2).map(r => (r._4, r._3))
      assert(sorted.toSeq == sorted.sortBy(identity).toSeq)
    }
  }

  test("pqSearchADC and pqSearchADCIvf leave nothing cached") {
    spark.catalog.clearCache()
    // fresh, unpersisted inputs: the suite's shared frames are persisted
    val e = rows.toDF("vec_id", "embedding")
    val sd = e.filter(col("vec_id") < KSeeds)
    val cb = Similarity.pqCodebook(sd, M, Dim)
    val cbRows = cb.collect().map(r => (r.getInt(0), r.getLong(1),
      r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq
    val cd = Similarity.pqEncode(e, cb, M, Dim)
    val qs = rows.take(4).map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val probes: Map[Long, Seq[Long]] = qs.map(q => q._1 -> Seq(0L, 1L)).toMap
    assert(Similarity.pqSearchADC(qs, cd, cbRows, M, K).collect().length == 4 * K)
    Similarity.pqSearchADCIvf(qs, cd, Similarity.coarseCells(e, sd), probes, cbRows, M, K)
      .collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
