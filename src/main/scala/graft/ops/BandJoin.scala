package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate-pair generation by band-key equality — the kernel every
  * near-dup family shares (MinHash, SimHash, perceptual image/audio/video
  * hashes, banded cosine LSH, the streaming band index).
  *
  * A family cuts its signature into band keys ([[bitBands]] for a long
  * signature, its own key columns otherwise), explodes them into one row per
  * (band, key) ([[bandRows]]), optionally drops over-hot keys ([[capHot]]),
  * and turns the band frame into distinct candidate pairs ([[selfPairs]] or
  * [[probePairs]]). Verification — Jaccard, Hamming, cosine, frame count —
  * stays with the family. Pair discovery is always an equi-join on the key
  * columns, never an all-pairs product, and a pair that collides in several
  * bands comes out once.
  */
object BandJoin {

  /** The key columns of a [[bandRows]] frame. */
  val BandKey: Seq[String] = Seq("band", "key")

  /** `bands` keys of `bits` bits each, cut from the long signature `sig`:
    * key b is `(sig >> b·bits) & (2^bits − 1)`. */
  def bitBands(sig: Column, bands: Int, bits: Int): Seq[Column] = {
    val mask = (1L << bits) - 1
    (0 until bands).map(b => shiftright(sig, b * bits).bitwiseAND(lit(mask)))
  }

  /** One `(keep…, band, key)` row per element of `keys`; band b holds
    * `keys(b)`. */
  def bandRows(rows: DataFrame, keep: Seq[String], keys: Seq[Column]): DataFrame =
    rows.select(keep.map(col) :+ explode(array(keys.zipWithIndex.map {
        case (k, b) => struct(lit(b).as("band"), k.as("key")) }: _*)).as("bk"): _*)
      .select(keep.map(col) ++ Seq(col("bk.band"), col("bk.key")): _*)

  /** `rows` without the rows whose `keys` value occurs more than `cap`
    * times. A key shared by a large part of the corpus is boilerplate, not
    * signal, and would make the pair join quadratic. The count combines
    * map-side and the (small, by definition) over-cap set joins as a
    * BROADCAST anti-join — never a window over `rows`, which would shuffle
    * and sort every row. */
  def capHot(rows: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val hot = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(keys.map(col): _*)
    rows.join(broadcast(hot), keys, "left_anti")
  }

  /** Distinct `(i, j)` pairs, `i < j`, of the `id`s that share every one of
    * `keys` in the band frame `bands`. Scoped keys are extra key columns
    * (e.g. a frame index). `carry` adds pair columns computed from the two
    * band rows, aliased `a` and `b`, before the distinct; each must be a
    * function of the pair.
    *
    * `bands` is persisted (the caller may `unpersist` it): the two sides of
    * a self-join do not share an exchange, so an unpersisted frame runs its
    * whole signature pipeline once per side. */
  def selfPairs(bands: DataFrame, keys: Seq[String], id: String = "doc_id",
                carry: Seq[Column] = Nil): DataFrame = {
    bands.persist()
    bands.as("a").join(bands.as("b"), keysMatch(keys) && col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("i"), col(s"b.$id").as("j")) ++ carry: _*)
      .distinct()
  }

  /** Distinct canonical `(i, j)` pairs, `i = least`, `j = greatest`, of a
    * `probe` band row and an `index` band row that share every one of
    * `keys` and have different `id`s. The probe may overlap the index: a
    * pair found from both sides, or in several bands, comes out once, and
    * no id pairs with itself. Nothing is persisted. */
  def probePairs(probe: DataFrame, index: DataFrame, keys: Seq[String],
                 id: String = "doc_id"): DataFrame =
    probe.as("a").join(index.as("b"), keysMatch(keys) && col(s"a.$id") =!= col(s"b.$id"))
      .select(least(col(s"a.$id"), col(s"b.$id")).as("i"),
        greatest(col(s"a.$id"), col(s"b.$id")).as("j"))
      .distinct()

  private def keysMatch(keys: Seq[String]): Column =
    keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
}
