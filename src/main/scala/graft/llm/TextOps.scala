package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, portable 60-bit hashing, MinHash signatures,
  * SimHash fingerprints, language-ID and quality heuristics.
  *
  * Everything is built from `org.apache.spark.sql.functions` higher-order
  * array functions — per-row narrow work, whole-stage codegen, zero shuffles
  * until an operator explicitly joins/aggregates. The hash is md5-derived so
  * the DuckDB oracle can reproduce every value bit-for-bit.
  */
object TextOps {

  /** Whitespace tokens. Documents are single-space separated; `\s+` keeps the
    * operator correct on arbitrary text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Portable 60-bit hash: first 15 hex chars of md5 as a non-negative long.
    * DuckDB mirror: `('0x' || substr(md5(s),1,15))::BIGINT`. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Scala-side twin of [[hash60]] for driver-computed constants. */
  def hash60Str(s: String): Long =
    java.lang.Long.parseLong(
      graft.shape.Names.md5hex(s).substring(0, 15), 16)

  /** Every element of a string array hashed in ONE codegen'd pass — the
    * native twin of `transform(arr, hash60)`, which would run the per-
    * element md5 behind an interpreted lambda traversal (see
    * [[graft.functions.Hash60Array]]; bit-parity proved in TextOpsSpec). */
  def hash60Array(c: Column): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.Hash60Array(
        org.apache.spark.sql.GraftExpressions.expression(c)))

  /** Fused `hash60Array(shingles(toks, n))` — the whole
    * window→concat→distinct→hash composition in one codegen'd pass (see
    * [[graft.functions.ShingleHash60]]; bit-parity proved in TextOpsSpec).
    * This is stage one of every text-dedup pipeline, so the interpreted
    * `transform`+`array_distinct` it replaces was the widest remaining
    * interpreted span in the engine. */
  def shingleHash60(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.ShingleHash60(
        org.apache.spark.sql.GraftExpressions.expression(toks), n))

  /** Fused `hash60Array(ngrams(toks, n))` — non-distinct multiset windows
    * (winnowing, repetition), same kernel in [[graft.functions.ShingleHash60]]
    * `Multi` mode. */
  def ngramHash60(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.ShingleHash60(
        org.apache.spark.sql.GraftExpressions.expression(toks), n,
        graft.functions.ShingleHash60.Multi))

  /** Fused positional k-gram hashes: window starts in order, EMPTY under n
    * tokens — the substring-dedup shape (`Positional` mode). */
  def positionalGramHash60(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.ShingleHash60(
        org.apache.spark.sql.GraftExpressions.expression(toks), n,
        graft.functions.ShingleHash60.Positional))

  /** BPE piece kernel: apply a learned merge list in one codegen'd pass
    * (see [[graft.functions.BpePieces]]). `perWord = true` treats the array
    * as a word list and flattens per-word pieces; `false` applies the rules
    * to the array as one symbol sequence. */
  def bpePieces(c: Column, rules: Seq[(String, String)], perWord: Boolean,
                byteLevel: Boolean = false): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.BpePieces(
        org.apache.spark.sql.GraftExpressions.expression(c), rules, perWord, byteLevel))

  /** Greedy longest-match WordPiece encode of a document's word array
    * against a learned vocabulary (see [[graft.functions.WordPieces]]). */
  def wordPieces(c: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.WordPieces(
        org.apache.spark.sql.GraftExpressions.expression(c), vocab))

  /** Unigram-LM Viterbi encode of a document's word array against a
    * learned (piece, score) vocabulary (see
    * [[graft.functions.UnigramPieces]]). */
  def unigramPieces(c: Column, vocab: Seq[(String, Long)]): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.UnigramPieces(
        org.apache.spark.sql.GraftExpressions.expression(c), vocab))

  /** Bounded K-minimum-values aggregate: the K smallest DISTINCT longs per
    * group in O(K) map-side state (see [[graft.functions.KMinK]]) — no
    * upstream `.distinct()` and no rank window needed. */
  def kminK(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.KMinK(
        org.apache.spark.sql.GraftExpressions.expression(c), k)
        .toAggregateExpression())

  /** Bounded per-group top-K by (score DESC, id ASC) over a double or
    * bigint score — ≤K heap entries of map-side state per group instead of
    * a rank-window sort (see [[graft.functions.BoundedK]]). Returns
    * rank-ordered `array<struct<score,id>>`. */
  def topKBy(score: Column, id: Column, k: Int): Column = boundedK(score, id, k, descending = true)

  /** The ascending twin of [[topKBy]]: the K smallest by (key ASC, id ASC),
    * over a double or an EXACT bigint key. Returns rank-ordered
    * `array<struct<key,id>>`. */
  def minKBy(key: Column, id: Column, k: Int): Column = boundedK(key, id, k, descending = false)

  private def boundedK(value: Column, id: Column, k: Int, descending: Boolean): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.BoundedK(
        org.apache.spark.sql.GraftExpressions.expression(value),
        org.apache.spark.sql.GraftExpressions.expression(id), k, descending)
        .toAggregateExpression())

  /** Distinct word n-gram shingles. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array_distinct(array(concat_ws(" ", toks))))

  /** NON-distinct n-grams — repetition metrics need the multiset. */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Duplicate-n-gram fraction (the published repetition quality filters:
    * Gopher/MassiveText-style "fraction of duplicate n-grams") over a
    * MATERIALIZED gram-array column. 0 = no repeats. In-row arithmetic —
    * no shuffle, no explode. */
  def dupRatioFromGrams(gs: Column): Column =
    quant((size(gs) - size(array_distinct(gs))).cast("double") / size(gs), 4)

  /** Fraction of the document covered by its SINGLE most frequent n-gram
    * (the "top n-gram coverage" repetition filter) over a materialized gram
    * column — the counting lambda references `gs` per element, so an inline
    * gram expression would rebuild the array once per distinct gram. */
  def topFractionFromGrams(gs: Column): Column = {
    val maxCount = array_max(transform(array_distinct(gs),
      g => size(filter(gs, x => x === g))))
    quant(maxCount.cast("double") / size(gs), 4)
  }

  /** Convenience forms over raw tokens — hot paths materialize the gram
    * array first. */
  def dupNgramRatio(toks: Column, n: Int): Column = dupRatioFromGrams(ngrams(toks, n))
  def topNgramFraction(toks: Column, n: Int): Column = topFractionFromGrams(ngrams(toks, n))

  // ---- MinHash ----------------------------------------------------------

  /** Affine MinHash permutations over a prime modulus. h_i(x) =
    * (a_i * (x mod P) + b_i) mod P; P > 2^32 keeps (x mod P) ≤ 2^33 and
    * a_i ~ 2^20 keeps the product < 2^53 — no int64 overflow on either
    * engine. Constants are fixed so every run (and the oracle) agrees. */
  val MinHashP = 4294967311L
  val MinHashA: Array[Long] = Array(
    1000003L, 1000033L, 1000037L, 1000039L, 1000081L, 1000099L, 1000117L, 1000121L,
    1000133L, 1000151L, 1000159L, 1000171L, 1000183L, 1000187L, 1000193L, 1000199L)
  val MinHashB: Array[Long] = Array.tabulate(16)(i => 97L + i * 1009L)

  /** MinHash signature value i over an array of 60-bit shingle hashes. */
  def minhash(hashes: Column, i: Int): Column =
    array_min(transform(hashes,
      h => (lit(MinHashA(i)) * (h % MinHashP) + lit(MinHashB(i))) % MinHashP))

  /** The full n-value signature in ONE codegen'd pass — same math as n
    * [[minhash]] calls, minus the n interpreted traversals (see
    * [[graft.functions.MinHashSig]]). */
  def minhashSignature(hashes: Column, n: Int): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftExpressions.expression(hashes),
        MinHashA.take(n).toSeq, MinHashB.take(n).toSeq, MinHashP))

  /** LSH band key: md5 of the comma-joined signature slice
    * [band*rows, (band+1)*rows). Equal band key ⇒ candidate pair. */
  def bandKey(sig: Seq[Column], band: Int, rows: Int): Column =
    md5(concat_ws(",", sig.slice(band * rows, (band + 1) * rows).map(_.cast(StringType)): _*))

  // ---- SimHash ----------------------------------------------------------

  /** 32-bit SimHash over a MATERIALIZED token-hash array column. Bit b is
    * set when the sum over tokens of ±1 (sign of the token-hash's bit b) is
    * positive. The input must be a bound column (not an inline transform):
    * each of the 32 bit-votes traverses the array once, and an inline
    * subexpression would re-hash every token 32× per row. */
  def simhash32FromHashes(hashes: Column): Column =
    simhashFromHashes(hashes, 32)

  /** Parameterized-width SimHash (≤ 60 bits so the value stays non-negative
    * in a BIGINT on every engine) — the wide form is the band-join scale
    * path: 15-bit bands have 128× the keyspace of the classic 8-bit ones. */
  def simhashFromHashes(hashes: Column, bits: Int): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.SimHash32(
        org.apache.spark.sql.GraftExpressions.expression(hashes), bits))

  /** The folded form of [[simhash32FromHashes]] — 32 interpreted aggregate
    * traversals; kept as the executable spec the native kernel is verified
    * against (including its null-element −1 vote and null-array → 0). */
  def simhash32Folded(hashes: Column): Column =
    (0 until 32).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  /** Convenience form over raw tokens — ONLY for one-shot/small frames;
    * hot paths materialize the hash array first (see
    * [[simhash32FromHashes]]). */
  def simhash32(toks: Column): Column =
    simhash32FromHashes(hash60Array(toks))

  // ---- Language ID ------------------------------------------------------

  /** Tiny per-language stopword inventories (frequency heuristics). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "a", "is", "that", "it", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "se", "no", "los"),
    "fr" -> Seq("le", "et", "un", "pour", "dans", "ce", "une", "sur", "avec", "pas"))

  /** Frequency-weighted stopword hits for one language — the interpreted
    * executable spec of [[langHits]] (one lambda traversal per language). */
  def langScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** ALL per-language stopword hit counts (LangStopwords order) in ONE
    * codegen'd traversal — one hash probe per token instead of
    * |languages|·|stopwords| string compares (see
    * [[graft.functions.LangHits]]; parity with [[langScore]] proved in
    * TextOpsSpec). Bind the result to a column and `element_at` it. */
  def langHits(toks: Column): Column =
    org.apache.spark.sql.GraftExpressions.column(
      graft.functions.LangHits(
        org.apache.spark.sql.GraftExpressions.expression(toks)))

  /** Arg-max language with a fixed priority order on ties (en→de→es→fr). */
  def langId(scores: Seq[(String, Column)]): Column =
    scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, s), i), elseC) =>
        val rest = scores.drop(i + 1).map(_._2)
        when(rest.map(s >= _).reduce(_ && _), lang).otherwise(elseC)
    }

  // ---- Quality ----------------------------------------------------------

  /** Punctuation characters per total characters. */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^\\p{L}\\p{N}\\s]")).cast(DoubleType) / length(text)

  /** BPE-ish token count: letter runs, digit runs, single punctuation — the
    * standard pre-tokenizer shape. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  // ---- PII redaction ----------------------------------------------------

  /** Email/phone patterns restricted to the RE2 ∩ java.util.regex common
    * subset (no backreferences, no lookaround), so Spark and any RE2-based
    * engine (DuckDB, ClickHouse) match identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** PII scrubbing — the standard pre-training cleanup pass: emails then
    * phone-like digit runs replaced with typed placeholder tokens. A narrow
    * projection (regex over each row, zero shuffles); emails are redacted
    * FIRST so their digits can never be eaten as phone fragments. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Engine-agnostic quantization to k decimals: `round()` half-handling
    * differs across engines (Spark HALF_UP vs DuckDB HALF_EVEN), so exact
    * .5 boundaries would hash-mismatch; floor(x·10^k + 0.5) is deterministic
    * everywhere given the same double input. */
  def quant(c: Column, k: Int): Column = {
    val m = math.pow(10, k)
    floor(c * m + 0.5) / m
  }

  /** Composite quality score in [0,1]: length, punctuation sanity, stopword
    * density. Deterministic, mirrored in the oracle. */
  def qualityScore(nTokens: Column, punct: Column, stopRatio: Column): Column =
    quant(
      least(nTokens.cast(DoubleType) / 100d, lit(1d)) * 0.4 +
      (lit(1d) - least(punct * 5, lit(1d))) * 0.3 +
      least(stopRatio * 3, lit(1d)) * 0.3, 4)
}
