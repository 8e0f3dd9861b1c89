package graft.functions

import graft.SparkSuite

/** The SQL-function surface: every [[GraftFunctionSet]] entry must be
  * callable from `spark.sql` after the imperative registration (the
  * cluster-wide injector consumes the SAME list, so this one suite covers
  * both sites — the drift this guards against actually happened: the two
  * sites each carried functions the other lacked). */
class FunctionSetSpec extends SparkSuite {

  org.apache.spark.sql.GraftExpressions.registerFunctions(spark)

  test("every function in the set registers and evaluates via SQL") {
    import spark.implicits._
    Seq(("a b c d e", Seq(1.0f, 2.0f))).toDF("text", "emb")
      .createOrReplaceTempView("fs_t")
    val out = spark.sql("""
      SELECT
        minhash_sig(hash60_array(split(text, ' ')), 4)                  AS sig,
        hash60_array(split(text, ' '))                                  AS hs,
        lang_hits(split(text, ' '))                                     AS lh,
        cosine_sim(emb, emb)                                            AS cos,
        shingle_hash60(split(text, ' '), 3)                             AS sh,
        shingle_hash60(split(text, ' '), 3, 'multi')                    AS shm,
        simhash32(hash60_array(split(text, ' ')))                       AS sim,
        bpe_pieces(split(text, ' '), array('a'), array('b'))            AS bpe,
        lsh_bucket(emb, 4, 2)                                           AS bucket
      FROM fs_t""").collect()(0)
    assert(out.getSeq[Long](0).length == 4)
    assert(out.getSeq[Long](1).length == 5)
    assert(math.abs(out.getDouble(3) - 1.0) < 1e-6)
    assert(out.getSeq[Long](4).length == 3) // 5 tokens → 3 distinct 3-shingles
    assert(out.getSeq[Long](5).length == 3)
    // aggregates from the same set
    val agg = spark.sql(
      "SELECT kmin_k(h, 3) AS km, top_k_by(CAST(h AS DOUBLE), h, 2) AS tk, " +
        "min_k_by(h, h, 2) AS mk " +
        "FROM (SELECT explode(hash60_array(split('a b c d e', ' '))) AS h)").collect()(0)
    assert(agg.getSeq[Long](0).length == 3)
    assert(agg.getSeq[org.apache.spark.sql.Row](1).length == 2)
    assert(agg.getSeq[org.apache.spark.sql.Row](2).length == 2)
  }

  test("an aggregate's k outside int range is rejected, never wrapped to a small k") {
    // 4294967299 = 2^32 + 3: an unchecked toInt would run it with k = 3
    Seq("kmin_k(h, 4294967299)", "top_k_by(CAST(h AS DOUBLE), h, 4294967299)",
        "min_k_by(h, h, 4294967299)").foreach { call =>
      val e = intercept[Exception](spark.sql(
        s"SELECT $call AS r FROM (SELECT explode(array(1L, 2L, 3L, 4L)) AS h)").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains("4294967299 out of int range")), s"$call: $msgs")
    }
  }

  test("SQL results agree with the Column-API twins (one kernel, two doors)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("x y z w v u t").toDF("text")
    df.createOrReplaceTempView("fs_t2")
    val viaSql = spark.sql(
      "SELECT shingle_hash60(split(text, ' '), 3) AS sh FROM fs_t2")
      .collect()(0).getSeq[Long](0)
    val viaCol = df.select(
      graft.llm.TextOps.shingleHash60(split(col("text"), " "), 3).as("sh"))
      .collect()(0).getSeq[Long](0)
    assert(viaSql == viaCol)
  }
}
