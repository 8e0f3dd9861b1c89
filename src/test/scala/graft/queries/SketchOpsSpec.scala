package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.llm.TextOps

/** Round-6 corpus-statistics operators, each checked against an exact
  * driver-side reference computed with the same quantization arithmetic
  * (the specs re-derive the math independently of the Spark plan). */
class SketchOpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- shared Scala twins of the operator arithmetic --------------------

  private def quant(x: Double, k: Int): Double = {
    val m = math.pow(10, k); math.floor(x * m + 0.5) / m
  }
  private def toks(text: String): Seq[String] = text.trim.split("\\s+").toSeq
  private def shingles(ts: Seq[String], n: Int): Seq[String] =
    if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSeq.distinct
    else Seq(ts.mkString(" "))
  /** Decimal sum exactly as the plans do it: each quant6 double cast to
    * DECIMAL(28,8) (HALF_UP at the 8th place), summed, back to double. */
  private def decSum(terms: Seq[Double]): Double =
    terms.map(t => BigDecimal(t).setScale(8, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  /** Deterministic synthetic corpus: `n` docs over `nSources` sources with a
    * seeded token stream (vocab `v`), plus a per-doc marker so every text is
    * unique. */
  private def corpus(n: Int, nSources: Int, v: Int, len: Int,
                     seed: Long): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val words = Seq.fill(len)(s"w${rnd.nextInt(v)}")
      (i.toLong, (words :+ s"m$i").mkString(" "), "en", s"src${i % nSources}")
    }
  }

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- KMV --------------------------------------------------------------

  test("kmvDistinct equals the exact K-minimum-values estimate and lands near truth") {
    val rows = corpus(60, 2, 400, 40, seed = 7L)
    val d = writeDocs(rows)
    val out = SketchOps.kmvDistinct(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val bySource = rows.groupBy(_._4)
    bySource.foreach { case (src, docs) =>
      val hs = docs.flatMap(r => shingles(toks(r._2), 3))
        .map(TextOps.hash60Str).distinct.sorted
      assert(hs.length >= 64, s"seed corpus too small for $src: ${hs.length}")
      val hk = hs(63) // 64th smallest
      val expected = math.floor(63.0 * 1152921504606846976.0 / hk).toLong
      assert(out(src) == expected, s"$src: ${out(src)} vs $expected")
      // estimator sanity: within 40% of the true distinct count (k=64 ⇒
      // ~12.6% standard error; the seed keeps this deterministic)
      assert(math.abs(out(src).toDouble / hs.length - 1.0) < 0.4,
        s"$src: est ${out(src)} vs exact ${hs.length}")
    }
  }

  // ---- HyperLogLog ------------------------------------------------------

  test("hllDistinct equals the exact HLL reference and lands near truth") {
    val rows = corpus(60, 2, 400, 40, seed = 9L)
    val d = writeDocs(rows)
    val out = SketchOps.hllDistinct(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

    rows.groupBy(_._4).foreach { case (src, docs) =>
      val hs = docs.flatMap(r => shingles(toks(r._2), 3))
        .map(TextOps.hash60Str).distinct
      // register replay: j = h % 64, rho = 55 - bitlength(h >> 6)
      val regs = hs.groupBy(h => (h % 64).toInt).map { case (j, vs) =>
        j -> vs.map { h =>
          val w = h >> 6
          55 - (if (w == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(w))
        }.max
      }
      val vZero = 64 - regs.size
      val sInt = regs.values.map(mj => 1L << (55 - mj)).sum + vZero.toLong * (1L << 55)
      val raw = 0.709 * 64 * 64 * math.pow(2, 55) / sInt.toDouble
      val est = quant(
        if (vZero > 0 && raw <= 160.0) 64.0 * math.log(64.0 / vZero) else raw, 4)
      assert(out(src) == ((vZero.toLong, est)), s"$src: ${out(src)} vs ($vZero, $est)")
      // estimator sanity: 64 registers ⇒ ~13% standard error; stay within 40%
      assert(math.abs(est / hs.length - 1.0) < 0.4, s"$src: est $est vs ${hs.length}")
    }
    // bounded-state plan: register agg + per-source agg, no sort anywhere
    val plan = SketchOps.hllDistinct(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("rangepartitioning"), plan)
  }

  // ---- span corruption --------------------------------------------------

  test("spanCorrupt is invertible and masks 15% of full blocks deterministically") {
    val rows = corpus(30, 2, 40, 45, seed = 21L) // 46 tokens → 3 blocks
    val d = writeDocs(rows)
    val byId = rows.map(r => r._1 -> toks(r._2)).toMap
    val out = LlmOps.spanCorrupt(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length == rows.length)
    out.foreach { case (id, input, target) =>
      // parse target: <X_k> tok tok tok <X_k'> ... → sentinel -> span
      val spans = scala.collection.mutable.Map[String, Vector[String]]()
      var cur: String = null
      target.split(" ").foreach { t =>
        if (t.startsWith("<X_")) { cur = t; spans(cur) = Vector() }
        else spans(cur) = spans(cur) :+ t
      }
      // substitute each sentinel back: must reproduce the original exactly
      val rebuilt = input.split(" ").flatMap { t =>
        if (t.startsWith("<X_")) spans(t) else Vector(t)
      }.toSeq
      assert(rebuilt == byId(id), s"doc $id failed to reconstruct")
      // every FULL block masks exactly ScSpan tokens (15% corruption rate)
      val fullBlocks = byId(id).length / 20
      val masked = spans.values.map(_.length).sum
      assert(masked >= fullBlocks * 3, s"doc $id masked only $masked")
      // determinism: sentinel offsets replay from the hash
      spans.keys.foreach { s0 =>
        val b = s0.stripPrefix("<X_").stripSuffix(">").toLong
        val soff = TextOps.hash60Str(s"$id:$b:sc") % 18
        val spanStart = (b * 20 + soff).toInt
        assert(byId(id).slice(spanStart, spanStart + spans(s0).length) == spans(s0))
      }
    }
  }

  // ---- weighted sampling (A-ES) ----------------------------------------

  test("weightedSample equals the exact Efraimidis-Spirakis selection") {
    // two length strata → two distinct quality weights (punct = stop = 0
    // for the synthetic vocab, so quality = quant(0.4·min(n/100,1)+0.3, 4))
    val rows = corpus(60, 2, 50, 25, seed = 3L) ++
      corpus(40, 2, 50, 90, seed = 4L).map { case (i, t, l, s0) => (i + 1000L, t, l, s0) }
    val d = writeDocs(rows)
    val expected = rows.map { r =>
      val n = toks(r._2).length
      val w = quant(0.4 * math.min(n / 100.0, 1.0) + 0.3, 4)
      val u = TextOps.hash60Str(s"${r._1}:ws").toDouble / 1152921504606846976.0
      (r._1, w, quant(math.log(u) / w, 6))
    }.sortBy { case (id, _, k) => (-k, id) }.take(50)
    val got = LlmOps.weightedSample(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // the heavier stratum must be over-represented vs its 40% share
    val heavy = got.count(_._1 >= 1000L)
    assert(heavy > 20, s"heavy stratum got $heavy of 50")
    // TakeOrdered, never a global sort
    val plan = LlmOps.weightedSample(spark, d).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  // ---- unigram perplexity ----------------------------------------------

  test("perplexity matches an exact unigram-NLL reference, junk scores above fluent") {
    val rows = Seq(
      (1L, "the cat sat on the mat and the cat slept", "en", "s0"),
      (2L, "the cat sat on the mat again and again today", "en", "s0"),
      (3L, "zqx jvk wpf qqq zzz", "en", "s0")) // off-distribution junk
    val d = writeDocs(rows)
    val out = SketchOps.perplexity(spark, d)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap

    val tf = rows.flatMap(r => toks(r._2).map(t => (r._1, t)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = tf.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n = vocab.values.sum
    rows.foreach { case (id, text, _, _) =>
      val terms = toks(text).distinct.map { t =>
        val ctf = tf((id, t))
        quant(ctf * quant(math.log(n * 1.0 / vocab(t)), 6), 6)
      }
      val nTok = toks(text).size.toLong
      val expected = quant(decSum(terms) / nTok, 4)
      assert(out(id)._1 == nTok && out(id)._2 == expected,
        s"doc $id: ${out(id)} vs ($nTok, $expected)")
    }
    // the signal: junk doc is more surprising than the fluent pair
    assert(out(3L)._2 > out(1L)._2 && out(3L)._2 > out(2L)._2)
  }

  // ---- DSIR -------------------------------------------------------------

  test("dsir matches an exact log-ratio reference and ranks target-like docs first") {
    val en = (1 to 6).map(i =>
      (i.toLong, "the cat sat on the mat and the dog ran fast today number " + i, "en", "s0"))
    val fr = (7 to 12).map(i =>
      (i.toLong, "le chat dort sur le tapis et le chien court vite numero " + i, "fr", "s0"))
    val rows = en ++ fr
    val d = writeDocs(rows)
    val out = SketchOps.dsir(spark, d)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap

    val B = 8192L
    val feats = rows.flatMap(r => shingles(toks(r._2), 2)
      .map(g => (r._1, r._3, TextOps.hash60Str(g) % B)))
    val cr = feats.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val ct = feats.filter(_._2 == "en").groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val nr = cr.values.sum; val nt = ct.values.sum
    val w = cr.keys.map { b =>
      b -> quant(math.log((ct.getOrElse(b, 0L) + 1) * 1.0 / (nt + B)) -
                 math.log((cr(b) + 1) * 1.0 / (nr + B)), 6)
    }.toMap
    rows.foreach { case (id, text, _, _) =>
      val db = feats.filter(_._1 == id).groupBy(_._3).view.mapValues(_.size.toLong)
      val terms = db.map { case (b, cb) => quant(cb * w(b), 6) }.toSeq
      val nF = db.values.sum
      val expected = quant(decSum(terms) / nF, 4)
      assert(out(id) == ((nF, expected)), s"doc $id: ${out(id)} vs ($nF, $expected)")
    }
    val enMean = en.map(r => out(r._1)._2).sum / en.size
    val frMean = fr.map(r => out(r._1)._2).sum / fr.size
    assert(enMean > 0 && frMean < 0 && enMean > frMean,
      s"selection signal inverted: en $enMean fr $frMean")
  }

  // ---- curriculum -------------------------------------------------------

  test("curriculum phases are balanced per source and ordered by quality") {
    val rows = corpus(48, 2, 200, 30, seed = 11L)
    val d = writeDocs(rows)
    val out = SketchOps.curriculum(spark, d)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(3)))

    out.groupBy(_._1).foreach { case (src, docs) =>
      val sizes = docs.groupBy(_._3).view.mapValues(_.size).toMap
      assert(sizes.keySet == Set(1L, 2L, 3L, 4L), s"$src phases: $sizes")
      assert(sizes.values.max - sizes.values.min <= 1, s"$src unbalanced: $sizes")
      // phase 1 holds the best quality; boundaries may tie but never invert
      (1L to 3L).foreach { p =>
        val lo = docs.filter(_._3 == p).map(_._2).min
        val hi = docs.filter(_._3 == p + 1).map(_._2).max
        assert(lo >= hi, s"$src: phase $p min $lo < phase ${p + 1} max $hi")
      }
    }
  }

  // ---- BM25 -------------------------------------------------------------

  test("bm25 matches an exact reference; more query-term mass scores higher") {
    val rows = Seq(
      (1L, "table table table scan of the table", "en", "s0"),
      (2L, "one table mention in otherwise plain text here", "en", "s0"),
      (3L, "query join query join table", "en", "s0"),
      (4L, "nothing relevant in this document at all", "en", "s0"))
    val d = writeDocs(rows)
    val out = SketchOps.bm25(spark, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val (k1, b) = (1.2, 0.75)
    val terms = Seq("table", "query", "join")
    val dls = rows.map(r => r._1 -> toks(r._2).size.toLong).toMap
    val nDocs = rows.size
    val avgdl = dls.values.sum * 1.0 / nDocs
    val tf = rows.flatMap(r => toks(r._2).filter(terms.contains)
      .groupBy(identity).map { case (t, o) => ((r._1, t), o.size.toLong) }).toMap
    val dfm = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = rows.flatMap { case (id, text, _, _) =>
      val ts = toks(text).filter(terms.contains).distinct
      if (ts.isEmpty) None else Some(id -> quant(decSum(ts.map { t =>
        val idf = quant(math.log((nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1), 6)
        val f = tf((id, t)).toDouble
        quant(idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dls(id) / avgdl)), 6)
      }), 4))
    }.toMap
    assert(out == expected, s"$out vs $expected")
    assert(!out.contains(4L) && out(1L) > out(2L))
  }

  test("domainMix rebalances token mass toward the uniform mixture exactly") {
    val rows = Seq(
      (1L, "a b c d e f g h", "en", "big"),   // 8 tokens
      (2L, "a b c d e f g h", "en", "big"),   // big: 16
      (3L, "a b c d e f g h", "en", "small")) // small: 8
    val d = writeDocs(rows)
    val out = SketchOps.domainMix(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // total 24, S=2: w = 24 / (2 * n_s)
    assert(out("big") == ((16L, quant(24.0 / 32, 6))))
    assert(out("small") == ((8L, quant(24.0 / 16, 6))))
  }

  // ---- anomaly ----------------------------------------------------------

  test("tAnomaly flags exactly the >=3-sigma rows with the exact z") {
    // 40 tightly clustered values + one wild outlier per type
    val base = (0 until 40).map(i => (i.toLong, 1704067200000000000L + i * 1000000000L,
      i.toLong, "click", 100.0 + (i % 5)))
    val outlier = Seq((99L, 1704067200000000000L, 99L, "click", 500.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_anom_").toString
    (base ++ outlier).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = graft.queries.Relational.tAnomaly(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    val vals = (base ++ outlier).map(_._5)
    val q6d = (x: Double) => BigDecimal(quant(x, 6)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val n = vals.size
    val s1 = vals.map(q6d).sum.toDouble
    val s2 = vals.map(v => q6d(v * v)).sum.toDouble
    val mean = s1 / n
    val sd = math.sqrt(math.max(s2 / n - mean * mean, 0))
    val exp = (base ++ outlier).filter(r => math.abs(r._5 - mean) >= 3 * sd)
      .map(r => (r._1, r._5, quant((r._5 - mean) / sd, 4)))
    assert(out.toSet == exp.toSet, s"${out.toSeq} vs $exp")
    assert(out.exists(_._1 == 99L) && out.length == 1)
  }

  test("kmvRollup: shard-merged sketch equals the direct global sketch (merge law)") {
    val rows = corpus(60, 2, 400, 40, seed = 7L)
    val d = writeDocs(rows)
    // direct global reference: K-th smallest distinct hash over ALL shingles
    val hs = rows.flatMap(r => shingles(toks(r._2), 3))
      .map(TextOps.hash60Str).distinct.sorted
    assert(hs.length >= 64)
    val expEst = math.floor(63.0 * 1152921504606846976.0 / hs(63)).toLong
    val got = SketchOps.kmvRollup(spark, d).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == expEst) // bit-identical to the direct form
    assert(got(0).getLong(1) == 64L)
    // estimate lands near the true distinct count (KMV σ ≈ 1/√(K−2) ≈ 13%)
    val err = math.abs(got(0).getLong(0).toDouble / hs.length - 1.0)
    assert(err < 0.5, s"estimate ${got(0).getLong(0)} vs truth ${hs.length}")
    // merge input is bounded: no global sort anywhere (TakeOrdered instead),
    // and no rank window — per-shard minima come from the bounded KMinK
    // aggregate's map-side partials
    val plan = SketchOps.kmvRollup(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.toLowerCase.contains("window"), plan)
    assert(plan.contains("kmin_k"), plan)
  }

  test("bigramLm scores add-one-smoothed bigram NLL exactly; <2-token docs excluded") {
    val rows = Seq(
      (1L, "a b a b", "en", "s"),  // bigrams: (a b)x2, (b a)x1
      (2L, "a b", "en", "s"),
      (3L, "solo", "en", "s"))     // 1 token → excluded
    val d = writeDocs(rows)
    val out = SketchOps.bigramLm(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: c(a b)=3, c(b a)=1; unigrams: a=4(3+1... doc3 'solo' counts too)
    // tokens: doc1 a,b,a,b doc2 a,b doc3 solo → c(a)=3, c(b)=3, c(solo)=1, V=3
    val q6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    val nllAB = q6(math.log((3 + 3) * 1.0 / (3 + 1))) // w1=a: c1=3, c12=3
    val nllBA = q6(math.log((3 + 3) * 1.0 / (1 + 1))) // w1=b: c1=3, c12=1
    def dec(x: Double) = BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val d1 = math.floor((dec(q6(2 * nllAB)) + dec(q6(1 * nllBA))).toDouble / 3 * 1e4 + 0.5) / 1e4
    val d2 = math.floor(q6(1 * nllAB) / 1 * 1e4 + 0.5) / 1e4
    assert(out == Map(1L -> ((3L, d1)), 2L -> ((1L, d2))), s"$out")
  }

  test("KMinK aggregate: K smallest distinct longs, map-side-combinable, null-safe") {
    import spark.implicits._
    val vals = Seq(9L, 3L, 3L, 7L, 1L, 5L, 5L, 8L, 2L, 6L, 4L, 1L)
    val df = vals.map(v => ("g", v)).toDF("g", "h")
      .union(Seq(("g", null.asInstanceOf[java.lang.Long])).toDF("g", "h"))
      .repartition(5) // forces partial buffers + a real merge path
    val out = df.groupBy("g").agg(TextOps.kminK(col("h"), 4).as("hs"))
      .collect()(0).getSeq[Long](1)
    assert(out == Seq(1L, 2L, 3L, 4L)) // distinct, ascending, bounded at K
    // fewer than K distinct values → all of them, still ascending
    val small = Seq(5L, 5L, 2L).map(v => ("g", v)).toDF("g", "h")
      .groupBy("g").agg(TextOps.kminK(col("h"), 4).as("hs"))
      .collect()(0).getSeq[Long](1)
    assert(small == Seq(2L, 5L))
  }

  test("TopKByScore aggregate: K best by (score desc, id asc), bounded, merge-safe") {
    import spark.implicits._
    val rows = Seq(
      ("g", 5.0, 10L), ("g", 9.0, 3L), ("g", 9.0, 1L), ("g", 2.0, 7L),
      ("g", 9.0, 5L), ("g", 7.0, 2L), ("h", 1.0, 4L))
    val df = rows.toDF("g", "v", "id")
      .union(Seq(("g", null.asInstanceOf[java.lang.Double], 99L))
        .toDF("g", "v", "id").select(col("g"), col("v").cast("double"), col("id")))
      .repartition(5) // forces partial heaps + a real merge path
    val out = df.groupBy("g")
      .agg(TextOps.topKBy(col("v"), col("id"), 3).as("tk"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1)))).toMap
    // ties on score break by id ASC; null score skipped; bounded at K
    assert(out("g") == Seq((9.0, 1L), (9.0, 3L), (9.0, 5L)))
    // fewer than K rows → all of them, still rank-ordered
    assert(out("h") == Seq((1.0, 4L)))
  }

  test("TopKByScore randomized parity: 50 seeded datasets equal a driver sort-take reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    (1 to 50).foreach { _ =>
      val k = 1 + rnd.nextInt(6)
      val rows = (1 to (1 + rnd.nextInt(60))).map { i =>
        (s"g${rnd.nextInt(3)}", rnd.nextInt(8).toDouble, i.toLong) // many score ties
      }
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3))
          .sortBy { case (s, id) => (-s, id) }.take(k)
      }
      val got = rows.toDF("g", "v", "id").repartition(1 + rnd.nextInt(6))
        .groupBy("g").agg(TextOps.topKBy(col("v"), col("id"), k).as("tk"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1)))).toMap
      assert(got.view.mapValues(_.toList).toMap == expect.view.mapValues(_.toList).toMap,
        s"k=$k rows=${rows.take(8)}…")
      // the same kernel ascending: min_k_by over the doubles, over exact
      // bigint keys 2^59 + v (one double for all of them — only a Long
      // compare ranks them), and minKBy(x) == topKBy(-x) negated back, the
      // identity the distance rankings rely on
      val df = rows.map { case (g, v, id) => (g, v, (1L << 59) + v.toLong, id) }
        .toDF("g", "v", "key", "id").repartition(1 + (k + rows.size) % 6)
      def ranked(agg: org.apache.spark.sql.Column, value: org.apache.spark.sql.Row => Any) =
        df.groupBy("g").agg(agg.as("mk")).collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(e => (value(e), e.getLong(1))).toList).toMap
      def expectMin[V](key: ((String, Double, Long)) => V)(implicit o: Ordering[V]) =
        rows.groupBy(_._1).map { case (g, rs) =>
          g -> rs.sortBy(r => (key(r), r._3)).take(k).map(r => (key(r), r._3)).toList
        }
      val minD = ranked(TextOps.minKBy(col("v"), col("id"), k), _.getDouble(0))
      assert(minD == expectMin(_._2), s"min_k_by double k=$k rows=${rows.take(8)}…")
      val minL = ranked(TextOps.minKBy(col("key"), col("id"), k), _.getLong(0))
      assert(minL == expectMin(r => (1L << 59) + r._2.toLong),
        s"min_k_by bigint k=$k rows=${rows.take(8)}…")
      assert(ranked(TextOps.topKBy(-col("v"), col("id"), k), -_.getDouble(0)) == minD)
    }
  }

  test("BoundedK type check: a string value is rejected, naming (double|bigint, bigint)") {
    import spark.implicits._
    val df = Seq(("g", "a", 1L)).toDF("g", "v", "id")
    Seq(TextOps.topKBy(col("v"), col("id"), 2), TextOps.minKBy(col("v"), col("id"), 2))
      .foreach { agg =>
        val e = intercept[org.apache.spark.sql.AnalysisException](
          df.groupBy("g").agg(agg.as("tk")).collect())
        assert(e.getMessage.contains("(double|bigint, bigint), got (string, bigint)"),
          e.getMessage)
      }
  }

  test("resample: per-source keep rates derive from mixture weights; the hash gate is reproducible") {
    val rows = Seq(
      (1L, "a b c d e f g h", "en", "big"), (2L, "a b c d e f g h", "en", "big"),
      (3L, "a b c d e f g h", "en", "small")) ++
      (4L to 40L).map(i => (i, "w x y z " * 2, "en", if (i % 3 == 0) "small" else "big"))
    val d = writeDocs(rows.map(r => (r._1, r._2.trim, r._3, r._4)))
    val out = SketchOps.resample(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // rates: clamp(floor(quant6(total/(S*n_s)) * 300), 1, 1000) per source
    val toksOf = (t: String) => t.trim.split("\\s+").length.toLong
    val per = rows.groupBy(_._4).map { case (s0, rs) => s0 -> rs.map(r => toksOf(r._2)).sum }
    val total = per.values.sum
    val rates = per.map { case (s0, n) =>
      s0 -> math.min(math.max(math.floor(quant(total.toDouble / (per.size * n), 6) * 300).toLong, 1L), 1000L)
    }
    out.foreach { case (_, s0, pm) => assert(pm == rates(s0)) }
    // gate: kept iff hash60(id:resample) % 1000 < rate — exact replay
    val expectedKept = rows.filter { r =>
      TextOps.hash60Str(s"${r._1}:resample") % 1000 < rates(r._4)
    }.map(_._1).toSet
    assert(out.map(_._1).toSet == expectedKept)
    // determinism: a second run keeps the identical set
    assert(SketchOps.resample(spark, d).collect().map(_.getLong(0)).toSet == expectedKept)
  }

  // ---- PMI --------------------------------------------------------------

  test("pmi equals the exact windowed co-occurrence reference") {
    val rows = corpus(50, 2, 12, 30, seed = 11L) // small vocab → counts ≥ 5
    val d = writeDocs(rows)
    val docsToks = rows.map(r => toks(r._2))
    def pairsOf(ts: Seq[String]): Seq[(String, String)] =
      (ts.dropRight(1).zip(ts.drop(1)) ++ ts.dropRight(2).zip(ts.drop(2)))
        .map { case (a, b) => if (a <= b) (a, b) else (b, a) }
    val allPairs = docsToks.flatMap(pairsOf)
    val nPair = docsToks.map(ts => math.max(ts.length - 1, 0) + math.max(ts.length - 2, 0)).sum.toLong
    assert(allPairs.length.toLong == nPair) // the arithmetic total the plan uses
    val uni = docsToks.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val nTok = uni.values.sum
    val expected = allPairs.groupBy(identity).collect {
      case ((x, y), ps) if ps.size >= 5 =>
        val nxy = ps.size.toLong
        (x, y, nxy, quant(math.log(
          nxy.toDouble * nTok * nTok / (nPair.toDouble * uni(x) * uni(y))), 4))
    }.toSeq
    assert(expected.nonEmpty, "fixture produced no pairs over the count floor")
    val got = SketchOps.pmi(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.sorted == expected.sorted)
    // narrow pair generation: no positional self-join, no pair product
    val plan = SketchOps.pmi(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("rangepartitioning"), plan)
  }

  // ---- Count-Min heavy hitters ------------------------------------------

  test("Count-Min estimate is one-sided (est >= truth) and exact absent collisions") {
    // skewed stream over a tiny keyspace: heavy keys must surface exactly
    val events = (1 to 300).map(i => (i.toLong, 7L)) ++ // user 7: 300 events
      (1 to 80).map(i => (300L + i, 11L)) ++           // user 11: 80
      (1 to 500).map(i => (400L + i, (100 + i % 50).toLong)) // 50 users × 10
    val dir = java.nio.file.Files.createTempDirectory("graft_cm_").toString
    events.toDF("event_id", "user_id")
      .withColumn("ts", col("event_id") * 1000000000L) // epoch nanos (Tables.events contract)
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SketchOps.heavyHitters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val truth = events.groupBy(_._2).map { case (u, es) => u -> es.size.toLong }
    // one-sided error: every estimate >= the true count
    got.foreach { case (u, est) => assert(est >= truth(u), s"user $u: $est < ${truth(u)}") }
    // 52 keys in 4×256 cells: the two heavy keys lead, in order
    assert(got.take(2).map(_._1).toSeq == Seq(7L, 11L), got.mkString(","))
    // bounded sketch + TakeOrdered: no global sort of the stream
    val plan = SketchOps.heavyHitters(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  // ---- skip-gram --------------------------------------------------------

  test("skipgram equals the exact SGNS reference (pairs, vocab ids, negative draws)") {
    val rows = corpus(40, 2, 10, 25, seed = 7L)
    val d = writeDocs(rows)
    val docsToks = rows.map(r => toks(r._2))
    val freq = docsToks.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val vocab = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(100)
      .zipWithIndex.map { case ((t, _), i) => t -> (i + 1).toLong }.toMap
    val vn = vocab.size.toLong
    def pairsOf(ts: Seq[String]): Seq[(String, String)] =
      (1 to 2).flatMap { k =>
        ts.dropRight(k).zip(ts.drop(k)) ++ ts.drop(k).zip(ts.dropRight(k))
      }
    val pos = docsToks.flatMap(pairsOf)
      .collect { case (c, x) if vocab.contains(c) && vocab.contains(x) =>
        (vocab(c), vocab(x)) }
      .groupBy(identity).map { case ((c, x), ps) => (c, x, ps.size.toLong) }
    val expected = pos.flatMap { case (c, x, n) =>
      (1 to 2).map { r =>
        (c, x, n, r, TextOps.hash60Str(s"$c:$x:neg:$r") % vn + 1)
      }.filter { case (_, _, _, _, neg) => neg != c && neg != x }
    }.toSeq
    assert(expected.nonEmpty)
    val got = SketchOps.skipgram(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSeq
    assert(got.sorted == expected.sorted)
    // narrow pair generation + broadcast vocab: no pair product, no global sort
    val plan = SketchOps.skipgram(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("rangepartitioning"), plan)
  }

  // ---- SGNS trainer ------------------------------------------------------

  test("sgns_train equals a plain-Scala fixed-point reference, bit for bit") {
    val rows = corpus(30, 2, 10, 20, seed = 11L)
    val d = writeDocs(rows)
    // reference implementation: same pipeline in naive Scala/BigInt
    val (fp, nd, epochs, clampW, sigDen, lrDen) =
      (65536L, 8, 6, 131072L, 262144L, 262144L)
    val pairs = SketchOps.skipgram(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    val vocabN = {
      val docsToks = rows.map(r => r._2.trim.split("\\s+").toSeq)
      math.min(100, docsToks.flatten.distinct.size)
    }
    val pos = pairs.map(p => (p._1, p._2, p._3)).distinct
      .groupBy(p => (p._1, p._2)).map { case ((c, t), xs) => (c, t, 1, xs.map(_._3).sum) }
    val neg = pairs.groupBy(p => (p._1, p._5)).map { case ((c, t), xs) => (c, t, 0, xs.map(_._3).sum) }
    val samples = (pos ++ neg).toSeq
    def init(kind: String) = Array.tabulate(vocabN + 1, nd)((vid, j) =>
      if (vid == 0) 0L else TextOps.hash60Str(s"sgns:$kind:$vid:$j") % (fp / 2) - fp / 4)
    val u = init("u"); val v = init("v")
    def tdiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt: truncates to zero
    for (_ <- 1 to epochs) {
      val gu = collection.mutable.Map.empty[(Long, Int), (BigInt, BigInt)]
      val gv = collection.mutable.Map.empty[(Long, Int), (BigInt, BigInt)]
      samples.foreach { case (c, t, lbl, sw) =>
        val z = (0 until nd).map(j => u(c.toInt)(j) * v(t.toInt)(j)).sum
        val sig = math.max(0L, math.min(fp, fp / 2 + tdiv(z, sigDen).toLong))
        val e = sig - (if (lbl == 1) fp else 0L)
        (0 until nd).foreach { j =>
          val (ug, uw) = gu.getOrElse((c, j), (BigInt(0), BigInt(0)))
          gu((c, j)) = (ug + BigInt(sw) * e * v(t.toInt)(j), uw + sw)
          val (vg, vw) = gv.getOrElse((t, j), (BigInt(0), BigInt(0)))
          gv((t, j)) = (vg + BigInt(sw) * e * u(c.toInt)(j), vw + sw)
        }
      }
      gu.foreach { case ((vid, j), (g, ws)) =>
        u(vid.toInt)(j) = math.max(-clampW, math.min(clampW,
          u(vid.toInt)(j) - tdiv(g, ws * lrDen).toLong)) }
      gv.foreach { case ((vid, j), (g, ws)) =>
        v(vid.toInt)(j) = math.max(-clampW, math.min(clampW,
          v(vid.toInt)(j) - tdiv(g, ws * lrDen).toLong)) }
    }
    val expected = (1 to vocabN).flatMap(vid => (0 until nd).map(j =>
      (vid.toLong, j.toLong, u(vid)(j), v(vid)(j)))).sorted
    val got = SketchOps.sgnsTrain(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(got == expected)
    assert(got.exists { case (_, _, uq, vq) => uq != 0 || vq != 0 })
  }

  // ---- plan shapes ------------------------------------------------------

  test("sketch-op plans: hash-partitioned only — no global sort, no pair product") {
    val d = writeDocs(corpus(24, 2, 100, 20, seed = 3L))
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "kmv" -> SketchOps.kmvDistinct(spark, d),
      "perplexity" -> SketchOps.perplexity(spark, d),
      "dsir" -> SketchOps.dsir(spark, d),
      "curriculum" -> SketchOps.curriculum(spark, d)
    ).foreach { case (name, df0) =>
      val plan = df0.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"), s"$name global-sorts:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name cross-joins:\n$plan")
      // perplexity/dsir cross a ONE-ROW broadcast totals frame into their
      // bounded model tables (vocab / 8192 buckets) — that nested-loop is
      // the intended plan; kmv/curriculum must have none at all
      assert(!plan.contains("BroadcastNestedLoop") ||
        name == "perplexity" || name == "dsir",
        s"$name nested-loops:\n$plan")
      assert(df0.count() > 0)
    }
  }

  // ---- Bloom-filter decontamination -------------------------------------

  test("bloomDecontaminate replays the driver filter exactly; errors are FP-only; no join in the plan") {
    val base = corpus(120, 2, 300, 30, seed = 31L)
    // plant contamination: train doc 5 embeds the first 5-gram of bench doc 0
    val bench0 = toks(base(0)._2).take(5).mkString(" ")
    val rows = base.map { case r @ (id, text, l, src) =>
      if (id == 5L) (id, s"$text $bench0", l, src) else r
    }
    val d = writeDocs(rows)
    val kept = SketchOps.bloomDecontaminate(spark, d)
      .collect().map(_.getLong(0)).toSet

    // driver twin of the filter arithmetic (same constants as the operator)
    val M = 1024L * 63
    def pos(g: String): Seq[Long] = {
      val h1 = TextOps.hash60Str(g + ":bf1") % M
      val h2 = TextOps.hash60Str(g + ":bf2") % M
      (0 until 4).map(i => (h1 + i * h2) % M)
    }
    val (bench, train) = rows.partition(_._1 % 97 == 0)
    val words = Array.ofDim[Long](1024)
    bench.flatMap(r => shingles(toks(r._2), 5)).flatMap(pos)
      .foreach(b => words((b / 63).toInt) |= 1L << (b % 63))
    def hits(text: String): Boolean =
      shingles(toks(text), 5).exists(g =>
        pos(g).forall(b => (words((b / 63).toInt) & (1L << (b % 63))) != 0))
    val expectKept = train.filter(r => !hits(r._2)).map(_._1).toSet
    assert(kept == expectKept)
    assert(!kept.contains(5L), "planted contamination must be dropped")

    // Bloom errs in ONE direction: every exactly-contaminated doc is dropped
    // (no false negatives), extra drops are the documented FP rate
    val benchGrams = bench.flatMap(r => shingles(toks(r._2), 5)).toSet
    val exactBad = train.filter(r =>
      shingles(toks(r._2), 5).exists(benchGrams)).map(_._1).toSet
    assert(exactBad.intersect(kept).isEmpty, "a contaminated doc leaked through")

    // the filter rides as a literal array: the corpus plan has NO join
    val plan = SketchOps.bloomDecontaminate(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
  }
}
