package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.core.Tables
import graft.llm.{Bpe, TextOps}
import LlmOps.toksSql

/** Distributed BPE tokenizer queries — the subword-tokenization capability a
  * training-data pipeline needs beyond word-level vocab encoding
  * (reference scope: corpus preparation; the reference engine itself stops
  * at ELT, so this derives from the published algorithm, Sennrich et al.
  * 2016, arXiv:1508.07909).
  *
  * Scale analysis (the part that matters at 100 TB):
  *  - `llm_bpe_train`: ONE corpus-scale pass — the map-side-combined word
  *    count — then a TakeOrdered collect of the top-`VocabCap` model rows.
  *    Training over that bounded model is control-plane work (the same
  *    treatment kmeans gives centroids); [[Bpe.trainDistributed]] is the
  *    executor-resident per-round variant for uncapped vocabularies,
  *    spec-proven identical.
  *  - `llm_bpe_encode`: merges broadcast inside the codegen'd
  *    [[graft.functions.BpePieces]] kernel — a narrow projection per
  *    document, no shuffle at all after the train step.
  *
  * The oracle replays training EXACTLY: a chained CTE per merge round (pair
  * count → deterministic argmax → fold-apply), then a recursive CTE that
  * re-encodes every distinct word through the learned ranks. Nothing is
  * sampled or approximated on either side.
  */
object BpeOps {

  val NMerges = 40
  private[queries] val VocabCap = 8192
  private val Sep = "\u001f" // joins pieces for checksums; never in tokens

  /** The one corpus-scale pass: word frequencies, map-side combined. */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** The bounded (TakeOrdered) word model, collected — the ONE
    * control-plane pull every trainer below shares. */
  private def collectedModel(s: SparkSession, d: String): Seq[(String, Long)] =
    wordCounts(s, d)
      .orderBy(col("freq").desc, col("word").asc).limit(VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Bounded model collect + driver training (see object doc). */
  def trainedMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
    Bpe.train(collectedModel(s, d), NMerges)

  /** Byte-level variant: the same capped model, trained over the UTF-8
    * hex-pair alphabet ([[Bpe.byteSyms]]) — the GPT-2-convention fallback
    * that leaves NO token out-of-vocabulary. */
  def trainedByteMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
    Bpe.train(collectedModel(s, d), NMerges, Bpe.byteSyms)

  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, d).toDF("rank", "lhs", "rhs", "merged", "weight")
  }

  /** Executor-per-round trainer on the SAME capped model — the form a
    * cluster runs when the word model is too large to collect: per round one
    * map-side-combined pair-count aggregate + a 1-row TakeOrdered feedback,
    * the merge applied executor-side by the codegen'd BpePieces kernel
    * ([[Bpe.trainDistributed]]). The model cap itself stays distributed
    * (TakeOrdered — the frame never hits the driver). Gated by the same
    * oracle as the driver form: both paths must emit the identical table. */
  def bpeTrainDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = wordCounts(s, d)
      .orderBy(col("freq").desc, col("word").asc).limit(VocabCap)
    Bpe.trainDistributed(model, NMerges)
      .toDF("rank", "lhs", "rhs", "merged", "weight")
  }

  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val rules = trainedMerges(s, d).map(m => (m.lhs, m.rhs))
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextOps.bpePieces(TextOps.tokens(col("text")), rules, perWord = true)
          .as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast(LongType).as("n_pieces"),
        md5(concat_ws(Sep, col("pieces"))).as("checksum"))
  }

  /** Lossless-tokenization invariant: BPE merges never cross word
    * boundaries and never drop or invent characters, so concatenating a
    * doc's pieces reproduces its whitespace-stripped text exactly. The
    * oracle computes the target straight from the text (NO BPE replay) —
    * any encode defect that loses, invents, or reorders CHARACTERS breaks
    * the hash compare. (Merge-ORDER defects are invisible here by
    * construction — any segmentation concatenates back to the word — and
    * are what `llm_bpe_encode`'s full-replay oracle exists to catch.)
    * This is the decode-side contract the encode queries alone cannot
    * see. */
  def bpeRoundtrip(s: SparkSession, d: String): DataFrame = {
    val rules = trainedMerges(s, d).map(m => (m.lhs, m.rhs))
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        md5(concat_ws("",
          TextOps.bpePieces(TextOps.tokens(col("text")), rules, perWord = true)))
          .as("decoded_md5"))
  }

  /** Byte-level BPE encode — the GPT-2 byte-fallback convention over the
    * hex-pair alphabet: merges learned on UTF-8 bytes of the same capped
    * word model, applied by the same codegen'd [[graft.functions.BpePieces]]
    * kernel in byteLevel mode. Any unicode input tokenizes (256 base
    * symbols, no OOV); same narrow no-shuffle scan shape as
    * `llm_bpe_encode`. The oracle replays train + re-encode over
    * `regexp_extract_all(hex(encode(word)), '..')`. */
  def bpeBytes(s: SparkSession, d: String): DataFrame = {
    val rules = trainedByteMerges(s, d).map(m => (m.lhs, m.rhs))
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextOps.bpePieces(TextOps.tokens(col("text")), rules, perWord = true,
          byteLevel = true).as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast(LongType).as("n_pieces"),
        md5(concat_ws(Sep, col("pieces"))).as("checksum"))
  }

  /** Byte-level roundtrip contract, now over ARBITRARY unicode: pieces are
    * hex pairs of the word's UTF-8 bytes, so the separator-less concat of a
    * doc's pieces IS `hex(utf8(whitespace-stripped text))` — the oracle
    * computes that straight from the text with NO replay. Any byte lost,
    * invented, or reordered by the cascade breaks the hash. */
  def bpeBytesRoundtrip(s: SparkSession, d: String): DataFrame = {
    val rules = trainedByteMerges(s, d).map(m => (m.lhs, m.rhs))
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        md5(concat_ws("",
          TextOps.bpePieces(TextOps.tokens(col("text")), rules, perWord = true,
            byteLevel = true)))
          .as("decoded_md5"))
  }

  private val bpeBytesRoundtripOracle = """
    SELECT doc_id,
           md5(hex(encode(regexp_replace(text, '[\t\n\x0b\f\r ]', '', 'g')))) AS decoded_md5
    FROM documents WHERE length(trim(text)) > 0"""

  // explicit class, not '\s': Java regex \s includes \x0B (vertical tab)
  // while RE2's does not — a testdata doc containing 0x0B (ASCII, so it
  // passes the TablesSpec guard) would silently diverge the engines
  private val bpeRoundtripOracle = """
    SELECT doc_id, md5(regexp_replace(text, '[\t\n\x0b\f\r ]', '', 'g')) AS decoded_md5
    FROM documents WHERE length(trim(text)) > 0"""

  // ---- oracle: exact replay of the training loop in SQL -----------------

  // the two base alphabets: code points, and UTF-8 bytes as hex pairs
  // (DuckDB hex(encode(v)) and Spark hex(encode(v,'UTF-8')) both render
  // uppercase — the byte symbols agree byte-for-byte across engines)
  private val CharSplit = "regexp_extract_all(word, '.')"
  private val ByteSplit = "regexp_extract_all(hex(encode(word)), '..')"

  // word-frequency model + initial per-word symbol state (w0/s0)
  private def modelCtes(splitSql: String) = s"""w0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest($toksSql) AS word FROM documents
            WHERE length(trim(text)) > 0) t
      WHERE length(word) > 0 GROUP BY 1
      ORDER BY freq DESC, word LIMIT $VocabCap),
    s0 AS MATERIALIZED (SELECT word, freq, $splitSql AS syms FROM w0)"""

  // the fold-apply of one merge rule over a symbol list: accumulate into a
  // chr(31)-joined string (append rhs WITHOUT a separator when the previous
  // symbol is exactly lhs), then split back — the same left-to-right single
  // pass Bpe.applyRule runs
  private def applySql(syms: String, lhs: String, rhs: String) = s"""string_split(
          list_reduce($syms, (acc, x) -> CASE
            WHEN x = $rhs AND (acc = $lhs OR ends_with(acc, chr(31) || $lhs))
            THEN acc || x ELSE acc || chr(31) || x END), chr(31))"""

  // one training round: weighted adjacent-pair count → deterministic argmax
  // → guarded apply (an exhausted-vocabulary round leaves state unchanged)
  private def roundCtes(i: Int) = s"""p$i AS (
      SELECT syms[k] AS lhs, syms[k+1] AS rhs, CAST(sum(freq) AS BIGINT) AS w
      FROM s$i, unnest(range(1, len(syms))) AS u(k) GROUP BY 1, 2),
    b$i AS MATERIALIZED (SELECT lhs, rhs, w FROM p$i ORDER BY w DESC, lhs, rhs LIMIT 1),
    s${i + 1} AS MATERIALIZED (
      SELECT word, freq,
        CASE WHEN b.lhs IS NULL THEN syms
        ELSE ${applySql("syms", "b.lhs", "b.rhs")} END AS syms
      FROM s$i LEFT JOIN b$i b ON TRUE)"""

  private def trainCtes(splitSql: String): String =
    (Seq(modelCtes(splitSql)) ++ (0 until NMerges).map(roundCtes)).mkString(",\n    ")

  private val mergesSelect = (0 until NMerges)
    .map(i => s"SELECT $i AS rank, lhs, rhs, lhs || rhs AS merged, w AS weight FROM b$i")
    .mkString("\n    UNION ALL ")

  private[queries] val bpeTrainOracle = s"WITH ${trainCtes(CharSplit)}\n    $mergesSelect"

  // full train + re-encode replay, parameterized by the base alphabet
  private def encodeOracle(splitSql: String) = s"""WITH RECURSIVE ${trainCtes(splitSql)},
    merges AS MATERIALIZED ($mergesSelect),
    docs AS (SELECT doc_id, $toksSql AS toks FROM documents
             WHERE length(trim(text)) > 0),
    dw AS MATERIALIZED (SELECT doc_id, k AS pos, toks[k] AS word
           FROM docs, unnest(range(1, len(toks) + 1)) AS u(k)
           WHERE length(toks[k]) > 0),
    words AS MATERIALIZED (SELECT DISTINCT word FROM dw),
    enc AS (
      SELECT word, 0 AS r, $splitSql AS syms FROM words
      UNION ALL
      SELECT e.word, e.r + 1,
        CASE WHEN m.lhs IS NULL THEN e.syms
        ELSE ${applySql("e.syms", "m.lhs", "m.rhs")} END
      FROM enc e LEFT JOIN merges m ON m.rank = e.r
      WHERE e.r < $NMerges),
    final AS (SELECT word, syms FROM enc WHERE r = $NMerges)
    SELECT dw.doc_id, CAST(sum(len(f.syms)) AS BIGINT) AS n_pieces,
           md5(string_agg(array_to_string(f.syms, chr(31)), chr(31) ORDER BY dw.pos)) AS checksum
    FROM dw JOIN final f USING (word) GROUP BY 1"""

  private[queries] val bpeEncodeOracle = encodeOracle(CharSplit)
  private[queries] val bpeBytesOracle = encodeOracle(ByteSplit)

  // ---- WordPiece: likelihood-scored merges + greedy longest-match -------

  private[queries] val WpMerges = 30

  /** WordPiece trainer over the same capped model ([[graft.llm.Wordpiece]]):
    * per round the winner maximizes `count(ab)/(count(a)·count(b))` over the
    * CURRENT state — quantized to an exact integer quotient (BigInt here,
    * HUGEINT in the oracle) so no float ulp can pick different winners.
    * Same scale shape as `llm_bpe_train`: one corpus-scale word-count pass,
    * bounded-model control-plane training. */
  def wordpieceTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainedWpMerges(s, d)._2
      .toDF("rank", "lhs", "rhs", "merged", "weight", "score_q")
  }

  /** The executor-per-round WordPiece trainer on the SAME capped model —
    * the cluster form for word models too large to collect (see
    * [[graft.llm.Wordpiece.trainDistributed]]: per round two map-side
    * aggregates + two broadcast joins + a 1-row TakeOrdered). Gated by the
    * same oracle as the driver form: both paths must emit the identical
    * merge table, exact quotients included. */
  def wordpieceTrainDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = wordCounts(s, d)
      .orderBy(col("freq").desc, col("word").asc).limit(VocabCap)
    graft.llm.Wordpiece.trainDistributed(model, WpMerges)
      .toDF("rank", "lhs", "rhs", "merged", "weight", "score_q")
  }

  private def trainedWpMerges(s: SparkSession, d: String)
      : (Seq[String], Seq[graft.llm.Wordpiece.Merge]) = {
    val wc = wordCounts(s, d)
      .orderBy(col("freq").desc, col("word").asc).limit(VocabCap) // TakeOrdered
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (wc.map(_._1), graft.llm.Wordpiece.train(wc, WpMerges))
  }

  /** WordPiece encode — greedy longest-match against the learned vocabulary
    * (base code points of the model words + merged pieces), an uncoverable
    * word collapsing to one `[UNK]`. The vocabulary broadcasts inside the
    * codegen'd [[graft.functions.WordPieces]] kernel: a narrow no-shuffle
    * projection per document, like `llm_bpe_encode`. The oracle replays
    * training, materializes the longest-match table per (word, position),
    * and walks each distinct word with a recursive CTE. */
  def wordpieceEncode(s: SparkSession, d: String): DataFrame = {
    val (modelWords, merges) = trainedWpMerges(s, d)
    val vocab = graft.llm.Wordpiece.vocab(modelWords, merges)
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextOps.wordPieces(TextOps.tokens(col("text")), vocab).as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast(LongType).as("n_pieces"),
        size(filter(col("pieces"), p => p === lit(graft.llm.Wordpiece.Unk)))
          .cast(LongType).as("n_unk"),
        md5(concat_ws(Sep, col("pieces"))).as("checksum"))
  }

  // one WordPiece training round: state-weighted symbol + pair counts →
  // exact HUGEINT score quotient argmax → guarded apply. The quotient is
  // <= 10^18 (both unigram counts >= the pair count), so BIGINT holds it.
  private def wpRoundCtes(i: Int) = s"""u$i AS (
      SELECT syms[k] AS s, CAST(sum(freq) AS BIGINT) AS c
      FROM s$i, unnest(range(1, len(syms) + 1)) AS t(k) GROUP BY 1),
    p$i AS (
      SELECT syms[k] AS lhs, syms[k+1] AS rhs, CAST(sum(freq) AS BIGINT) AS w
      FROM s$i, unnest(range(1, len(syms))) AS t(k) GROUP BY 1, 2),
    b$i AS MATERIALIZED (
      SELECT lhs, rhs, w,
        CAST((CAST(w AS HUGEINT) * CAST(1000000000000000000 AS HUGEINT))
             // (CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT)) AS BIGINT) AS q
      FROM p$i JOIN u$i ua ON ua.s = lhs JOIN u$i ub ON ub.s = rhs
      ORDER BY q DESC, lhs, rhs LIMIT 1),
    s${i + 1} AS MATERIALIZED (
      SELECT word, freq,
        CASE WHEN b.lhs IS NULL THEN syms
        ELSE ${applySql("syms", "b.lhs", "b.rhs")} END AS syms
      FROM s$i LEFT JOIN b$i b ON TRUE)"""

  private def wpTrainCtes: String =
    (Seq(modelCtes(CharSplit)) ++ (0 until WpMerges).map(wpRoundCtes)).mkString(",\n    ")

  private val wpMergesSelect = (0 until WpMerges)
    .map(i => s"SELECT $i AS rank, lhs, rhs, lhs || rhs AS merged, w AS weight, q AS score_q FROM b$i")
    .mkString("\n    UNION ALL ")

  private[queries] val wpTrainOracle = s"WITH $wpTrainCtes\n    $wpMergesSelect"

  private[queries] val wpEncodeOracle = s"""WITH RECURSIVE $wpTrainCtes,
    merges AS MATERIALIZED ($wpMergesSelect),
    vocab AS MATERIALIZED (
      SELECT DISTINCT piece FROM (
        SELECT unnest(regexp_extract_all(word, '.')) AS piece FROM w0
        UNION ALL
        SELECT merged FROM merges) v),
    docs AS (SELECT doc_id, $toksSql AS toks FROM documents
             WHERE length(trim(text)) > 0),
    dw AS MATERIALIZED (SELECT doc_id, k AS pos, toks[k] AS word
           FROM docs, unnest(range(1, len(toks) + 1)) AS t(k)
           WHERE length(toks[k]) > 0),
    words AS MATERIALIZED (SELECT DISTINCT word FROM dw),
    lens AS (SELECT DISTINCT len(piece) AS l FROM vocab),
    best AS MATERIALIZED (
      -- expand (word, pos) by the few distinct piece LENGTHS so the vocab
      -- probe is a hash equi-join on the candidate substring, not a
      -- nested-loop over expression matches
      SELECT c.word, c.pos, max(c.l) AS l
      FROM (SELECT a.word, a.pos, ln.l, substr(a.word, a.pos, ln.l) AS cand
            FROM (SELECT word, k AS pos
                  FROM words, unnest(range(1, len(word) + 1)) AS t(k)) a, lens ln
            WHERE a.pos + ln.l - 1 <= len(a.word)) c
      JOIN vocab v ON v.piece = c.cand
      GROUP BY 1, 2),
    walk(word, pos, n, acc) AS (
      SELECT word, 1, 0, '' FROM words
      UNION ALL
      SELECT w.word, w.pos + b.l, w.n + 1,
        w.acc || (CASE WHEN w.n = 0 THEN '' ELSE chr(31) END)
              || substr(w.word, w.pos, b.l)
      FROM walk w JOIN best b ON b.word = w.word AND b.pos = w.pos
      WHERE w.pos <= len(w.word)),
    covered AS (SELECT word, n, acc FROM walk WHERE pos = len(word) + 1),
    enc AS (
      SELECT w.word,
        CAST(COALESCE(c.n, 1) AS BIGINT) AS np,
        CAST(CASE WHEN c.word IS NULL THEN 1
             ELSE len(list_filter(string_split(c.acc, chr(31)), p -> p = '[UNK]'))
             END AS BIGINT) AS unk,
        COALESCE(c.acc, '[UNK]') AS pieces
      FROM words w LEFT JOIN covered c USING (word))
    SELECT dw.doc_id, CAST(sum(e.np) AS BIGINT) AS n_pieces,
           CAST(sum(e.unk) AS BIGINT) AS n_unk,
           md5(string_agg(e.pieces, chr(31) ORDER BY dw.pos)) AS checksum
    FROM dw JOIN enc e USING (word) GROUP BY 1"""

  // ---- unigram-LM (SentencePiece-style) Viterbi segmentation -----------

  private val UniK = 512 // piece vocab caps: top-K unigram…
  private val BigK = 256 // …and top-K bigram pieces (freq desc, text asc)

  /** SentencePiece-style Viterbi segmentation (Kudo 2018,
    * arXiv:1804.10959), word-level: the piece vocabulary is the top-`UniK`
    * unigrams plus top-`BigK` adjacent bigrams, and each document is
    * segmented by the optimal dynamic program — minimize piece count, on
    * ties maximize total covered piece frequency (a total integer order, so
    * the optimum is unique and engine-independent; the float-logprob
    * objective of the paper would tie-break on ulps). With max piece length
    * 2 the DP lookback is 2: `dp[i] = best(dp[i−1]+uni(w_i),
    * dp[i−2]+big(w_{i−1}w_i))`.
    *
    * GATE RELATIONSHIP (vs the r16 trained-unigram queries): this query
    * segments against the PRE-TRAINING heuristic vocabulary — raw
    * top-frequency unigrams + bigrams, the baseline a pipeline runs before
    * an EM-trained model exists — and its DP objective is the
    * integer count/frequency order above. [[unigramEncode]]
    * (`llm_unigram_encode`) is the post-training stage: it encodes against
    * the Viterbi-EM-TRAINED vocabulary from [[graft.llm.Unigram.train]]
    * (`llm_unigram_train`), whose scores are learned, not raw counts. Both
    * gates stay: they pin different production stages, not duplicates.
    *
    * Scale shape: model tables are bounded (UniK+BigK rows) and BROADCAST —
    * the corpus explodes to (doc, pos) once, picks up per-position piece
    * frequencies by broadcast join (no map-literal lookups in the fold),
    * regroups to per-doc cost arrays (one doc_id-keyed shuffle with small
    * per-group sort_array), and runs the DP as ONE `aggregate` fold per
    * document — bounded accumulator, single traversal, no pair join, no
    * global sort. The oracle replays the identical DP with a recursive CTE
    * stepping one token per iteration. */
  def viterbiSegment(s: SparkSession, d: String): DataFrame = {
    val toked = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
    val uni = toked.select(explode(col("tk")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("uf"))
      .orderBy(col("uf").desc, col("w").asc).limit(UniK)
    val big = toked.filter(size(col("tk")) >= 2)
      .select(explode(TextOps.ngrams(col("tk"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("bf"))
      .orderBy(col("bf").desc, col("bg").asc).limit(BigK)

    val pos = toked
      .select(col("doc_id"), col("tk"), posexplode(col("tk")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), col("w"),
        when(col("pos") > 0,
          concat(element_at(col("tk"), col("pos")), lit(" "), col("w"))).as("bg"))
      .join(broadcast(uni), Seq("w"), "left")
      .join(broadcast(big), Seq("bg"), "left")
    val costs = pos.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(struct(col("pos"), col("uf"), col("bf")))).as("cs"))
    // the DP fold: acc = (dp[i-1], dp[i]) as (n1,f1,n,f); candidate A
    // extends dp[i] with the unigram (OOV => freq 0), candidate B extends
    // dp[i-1] with the bigram piece when it exists; lexicographic best
    val fold = aggregate(
      col("cs"),
      struct(lit(0L).as("n1"), lit(0L).as("f1"),
        lit(0L).as("n"), lit(0L).as("f")),
      (acc, x) => {
        val an = acc("n") + lit(1L)
        val af = acc("f") + coalesce(x("uf"), lit(0L))
        val bn = acc("n1") + lit(1L)
        val bf = acc("f1") + x("bf")
        val aWins = x("bf").isNull || (an < bn) || (an === bn && af >= bf)
        struct(acc("n").as("n1"), acc("f").as("f1"),
          when(aWins, an).otherwise(bn).as("n"),
          when(aWins, af).otherwise(bf).as("f"))
      })
    costs.select(col("doc_id"), col("n_tokens"),
      fold.getField("n").as("n_pieces"), fold.getField("f").as("tot_freq"))
  }

  private val viterbiOracle = {
    val ngrams2 = s"""CASE WHEN len(tk) >= 2
          THEN [array_to_string(tk[i:i+1],' ') for i in range(1, len(tk))]
          ELSE [array_to_string(tk,' ')] END"""
    s"""
    WITH RECURSIVE
    toks AS MATERIALIZED (
      SELECT doc_id, $toksSql AS tk FROM documents
      WHERE length(trim(text)) > 0),
    uni AS MATERIALIZED (
      SELECT w, uf FROM (
        SELECT w, uf, row_number() OVER (ORDER BY uf DESC, w ASC) AS rn FROM (
          SELECT t AS w, CAST(count(*) AS BIGINT) AS uf FROM (
            SELECT unnest(tk) AS t FROM toks) u
          WHERE length(t) > 0 GROUP BY 1) c) r
      WHERE rn <= $UniK),
    big AS MATERIALIZED (
      SELECT bg, bf FROM (
        SELECT bg, bf, row_number() OVER (ORDER BY bf DESC, bg ASC) AS rn FROM (
          SELECT bg, CAST(count(*) AS BIGINT) AS bf FROM (
            SELECT unnest($ngrams2) AS bg FROM toks WHERE len(tk) >= 2) x
          GROUP BY 1) c) r
      WHERE rn <= $BigK),
    step(doc_id, i, pn1, pf1, pn, pf) AS (
      SELECT t.doc_id, 1, 0::BIGINT, 0::BIGINT,
             1::BIGINT, COALESCE(u.uf, 0)::BIGINT
      FROM toks t LEFT JOIN uni u ON u.w = t.tk[1]
      UNION ALL
      SELECT s.doc_id, s.i + 1, s.pn, s.pf,
        CASE WHEN b.bf IS NULL OR s.pn + 1 < s.pn1 + 1
               OR (s.pn + 1 = s.pn1 + 1
                   AND s.pf + COALESCE(u.uf, 0) >= s.pf1 + b.bf)
             THEN s.pn + 1 ELSE s.pn1 + 1 END,
        CASE WHEN b.bf IS NULL OR s.pn + 1 < s.pn1 + 1
               OR (s.pn + 1 = s.pn1 + 1
                   AND s.pf + COALESCE(u.uf, 0) >= s.pf1 + b.bf)
             THEN s.pf + COALESCE(u.uf, 0) ELSE s.pf1 + b.bf END
      FROM step s
      JOIN toks t ON t.doc_id = s.doc_id AND s.i < len(t.tk)
      LEFT JOIN uni u ON u.w = t.tk[s.i + 1]
      LEFT JOIN big b ON b.bg = t.tk[s.i] || ' ' || t.tk[s.i + 1])
    SELECT s.doc_id, len(t.tk)::BIGINT AS n_tokens,
           s.pn AS n_pieces, s.pf AS tot_freq
    FROM step s JOIN toks t ON t.doc_id = s.doc_id AND s.i = len(t.tk)"""
  }

  // ---- unigram-LM (SentencePiece) Viterbi-EM trainer --------------------

  private def cappedModel(s: SparkSession, d: String) = wordCounts(s, d)
    .orderBy(col("freq").desc, col("word").asc).limit(VocabCap) // TakeOrdered

  /** Unigram-LM EM training ([[graft.llm.Unigram]]): seed substring vocab →
    * [[graft.llm.Unigram.Rounds]] rounds of (integer-order Viterbi segment →
    * hard counts → prune to 3m/4 used multis, chars kept forever). Same
    * scale shape as the sibling trainers: one corpus-scale word-count
    * shuffle, bounded-model control-plane rounds. The oracle replays every
    * round — seed, per-round recursive Viterbi walk, counts, prune. */
  def unigramTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wc = cappedModel(s, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.llm.Unigram.train(wc).toDF("piece", "score")
  }

  /** The executor-per-round twin ([[graft.llm.Unigram.trainDistributed]]):
    * seed via a substring explode + TakeOrdered, each EM round segments
    * executor-side through the codegen'd [[graft.functions.UnigramPieces]]
    * kernel and collects only the bounded count table. Gated by the same
    * oracle: both paths must emit the identical vocabulary. */
  def unigramTrainDist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.llm.Unigram.trainDistributed(cappedModel(s, d)).toDF("piece", "score")
  }

  /** Viterbi encode of every document against the trained unigram
    * vocabulary — broadcast model inside the codegen kernel, a narrow
    * no-shuffle projection per document; uncoverable words collapse to one
    * `[UNK]`. The oracle replays training then DP-walks every DISTINCT
    * word with the same packed-key recursion. (The TRAINED-vocab twin of
    * [[viterbiSegment]]'s pre-training heuristic gate — see the gate
    * relationship note there.) */
  def unigramEncode(s: SparkSession, d: String): DataFrame = {
    val wc = cappedModel(s, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val vocab = graft.llm.Unigram.train(wc)
    Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextOps.unigramPieces(TextOps.tokens(col("text")), vocab).as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast(LongType).as("n_pieces"),
        size(filter(col("pieces"), p => p === lit(graft.llm.Unigram.Unk)))
          .cast(LongType).as("n_unk"),
        md5(concat_ws(Sep, col("pieces"))).as("checksum"))
  }

  /** One Viterbi DP walk as a recursive CTE, carrying the last
    * [[graft.llm.Unigram.MaxLen]] (=4) dp states (count, score-sum, piece
    * accumulator) per word; each step probes the 4 candidate substrings
    * ending at the new position against the vocabulary and picks the
    * winner by the packed key `n·2^50 − f·8 + (4−l)` MINIMIZED — exactly
    * the (fewest pieces, max score-sum, longest piece) order while
    * f < 2^47 (f is bounded by wordLen × corpus char count, orders of
    * magnitude below that at any test SF) and n < 2^13 (word length). An
    * all-invalid step carries NULL — an uncoverable ([UNK]) word. */
  private def uniWalkCte(name: String, src: String, vocab: String): String = {
    val cands = (1 to 4).map { l =>
      val j = l - 1
      val valid = s"g$l.piece IS NOT NULL AND w.n$j IS NOT NULL"
      val acc = s"CASE WHEN w.a$j = '' THEN g$l.piece ELSE w.a$j || chr(31) || g$l.piece END"
      s"""CASE WHEN $valid THEN w.n$j + 1 END AS cn$l,
          CASE WHEN $valid THEN w.f$j + g$l.sc END AS cf$l,
          CASE WHEN $valid THEN $acc END AS ca$l,
          CASE WHEN $valid THEN (w.n$j + 1) * 1125899906842624
               - (w.f$j + g$l.sc) * 8 + ${4 - l} END AS k$l"""
    }.mkString(",\n          ")
    def pick(f: String) =
      s"""CASE WHEN bk IS NULL THEN NULL WHEN bk = k4 THEN ${f}4
             WHEN bk = k3 THEN ${f}3 WHEN bk = k2 THEN ${f}2 ELSE ${f}1 END"""
    s"""$name(word, freq, i, n0, f0, a0, n1, f1, a1, n2, f2, a2, n3, f3, a3) AS (
      SELECT word, freq, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), '',
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
      FROM $src
      UNION ALL
      SELECT word, freq, i, ${pick("cn")}, ${pick("cf")}, ${pick("ca")},
             p0n, p0f, p0a, p1n, p1f, p1a, p2n, p2f, p2a
      FROM (SELECT z.*, least(k1, k2, k3, k4) AS bk FROM (
        SELECT w.word, w.freq, w.i + 1 AS i,
          $cands,
          w.n0 AS p0n, w.f0 AS p0f, w.a0 AS p0a,
          w.n1 AS p1n, w.f1 AS p1f, w.a1 AS p1a,
          w.n2 AS p2n, w.f2 AS p2f, w.a2 AS p2a
        FROM $name w
        LEFT JOIN $vocab g1 ON g1.piece = substr(w.word, w.i + 1, 1)
        LEFT JOIN $vocab g2 ON w.i >= 1 AND g2.piece = substr(w.word, w.i, 2)
        LEFT JOIN $vocab g3 ON w.i >= 2 AND g3.piece = substr(w.word, w.i - 1, 3)
        LEFT JOIN $vocab g4 ON w.i >= 3 AND g4.piece = substr(w.word, w.i - 2, 4)
        WHERE w.i < len(w.word)) z) y)"""
  }

  // capped word model + seed vocabulary: all single code points + the
  // top-SeedMulti multi-cp substrings by (weighted count DESC, piece ASC)
  private def uniModelCte = s"""uw0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest($toksSql) AS word FROM documents
            WHERE length(trim(text)) > 0) t
      WHERE length(word) > 0 GROUP BY 1
      ORDER BY freq DESC, word LIMIT $VocabCap),
    usub AS MATERIALIZED (
      SELECT substr(word, p, l) AS piece, CAST(sum(freq) AS BIGINT) AS c
      FROM uw0,
           unnest(range(1, len(word) + 1)) AS tp(p),
           unnest(range(1, ${graft.llm.Unigram.MaxLen + 1})) AS tl(l)
      WHERE p + l - 1 <= len(word)
      GROUP BY 1),
    uv0 AS MATERIALIZED (
      SELECT piece, c AS sc FROM usub WHERE len(piece) = 1
      UNION ALL
      SELECT piece, c FROM (
        SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rn
        FROM usub WHERE len(piece) >= 2) r
      WHERE rn <= ${graft.llm.Unigram.SeedMulti})"""

  // one EM round: Viterbi walk → hard counts → M-step + 3m/4 prune
  private def uniRoundCtes(i: Int): String = s"""${uniWalkCte(s"uwalk$i", "uw0", s"uv$i")},
    useg$i AS (SELECT freq, a0 AS acc FROM uwalk$i WHERE i = len(word)),
    ucnt$i AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(acc, chr(31))) AS piece, freq FROM useg$i) x
      GROUP BY 1),
    uv${i + 1} AS MATERIALIZED (
      SELECT v.piece, COALESCE(c.c, 0) AS sc
      FROM uv$i v LEFT JOIN ucnt$i c USING (piece) WHERE len(v.piece) = 1
      UNION ALL
      SELECT piece, c FROM (
        SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece ASC) AS rn,
               count(*) OVER () AS m
        FROM ucnt$i WHERE len(piece) >= 2) r
      WHERE rn * 4 <= m * 3)"""

  private def uniTrainCtes: String =
    (Seq(uniModelCte) ++ (0 until graft.llm.Unigram.Rounds).map(uniRoundCtes))
      .mkString(",\n    ")

  private[queries] val uniTrainOracle =
    s"""WITH RECURSIVE $uniTrainCtes
    SELECT piece, sc AS score FROM uv${graft.llm.Unigram.Rounds}"""

  private[queries] val uniEncodeOracle = s"""WITH RECURSIVE $uniTrainCtes,
    udocs AS (SELECT doc_id, $toksSql AS toks FROM documents
              WHERE length(trim(text)) > 0),
    udw AS MATERIALIZED (SELECT doc_id, k AS pos, toks[k] AS word
          FROM udocs, unnest(range(1, len(toks) + 1)) AS t(k)
          WHERE length(toks[k]) > 0),
    uwords AS MATERIALIZED (
      SELECT word, CAST(1 AS BIGINT) AS freq FROM (SELECT DISTINCT word FROM udw) q),
    ${uniWalkCte("uewalk", "uwords", s"uv${graft.llm.Unigram.Rounds}")},
    ueseg AS (SELECT word, n0 AS n, a0 AS acc FROM uewalk WHERE i = len(word)),
    uenc AS MATERIALIZED (
      SELECT word, CAST(COALESCE(n, 1) AS BIGINT) AS np,
             CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS unk,
             COALESCE(acc, '${graft.llm.Unigram.Unk}') AS pieces
      FROM ueseg)
    SELECT udw.doc_id, CAST(sum(e.np) AS BIGINT) AS n_pieces,
           CAST(sum(e.unk) AS BIGINT) AS n_unk,
           md5(string_agg(e.pieces, chr(31) ORDER BY udw.pos)) AS checksum
    FROM udw JOIN uenc e USING (word) GROUP BY 1"""

  // ---- the end-to-end tokenizer production chain ------------------------

  private val ChainPackTokens = 512L

  /** `llm_tokenize_pack` — the tokenizer PRODUCTION chain in one query,
    * each stage the already-proven shape, composed in production order:
    *
    *  1. TRAIN: one corpus-scale word-count pass → capped model →
    *     [[Bpe.train]] (the `llm_bpe_train` stage, control-plane bounded);
    *  2. VOCAB: the tokenizer's emission vocabulary — distinct pieces of
    *     the model words under the learned merges, dense ids in code-point
    *     order (derived from the ALREADY-COLLECTED model: no extra pass);
    *  3. ENCODE: the codegen'd [[graft.functions.BpePieces]] kernel per
    *     document — REAL trained-tokenizer token counts and the exact
    *     piece-stream checksum (narrow projection, zero shuffle);
    *  4. PACK: per-source running token offset → `seq_id` context-window
    *     assignment (the `llm_pack` shard shape: ONE window shuffle on the
    *     shard key, never a global sort);
    *  5. MANIFEST: per (source, seq_id) shard rollup — doc count, token
    *     total, order-independent `bit_xor(hash60(checksum))` content
    *     signature (one map-side-combinable aggregate).
    *
    * No shuffle exists between encode and pack beyond pack's own window
    * exchange — the encode output flows straight into the running sum. The
    * oracle replays the WHOLE chain: train CTEs → recursive re-encode →
    * window pack → shard rollup → vocab ranking. */
  def tokenizePack(s: SparkSession, d: String): DataFrame = {
    // stage 1: the one corpus pass + driver train (llm_bpe_train's shape)
    val wc = collectedModel(s, d)
    val merges = Bpe.train(wc, NMerges)
    val rules = merges.map(m => (m.lhs, m.rhs))
    // stage 2: emission vocabulary from the same collected model
    val vocab = wc.map(_._1).flatMap(w => Bpe.encodeWord(w, rules)).distinct
      .sortWith(Bpe.cpCompare(_, _) < 0).zipWithIndex
    // stage 3: codegen encode — narrow, no shuffle
    val enc = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        TextOps.bpePieces(TextOps.tokens(col("text")), rules, perWord = true)
          .as("pieces"))
      .select(col("doc_id"), col("source"),
        size(col("pieces")).cast(LongType).as("n_tokens"),
        md5(concat_ws(Sep, col("pieces"))).as("checksum"))
    // stage 4: shard-local running offset (llm_pack's bucketed prefix sum,
    // real tokens). Checkpoint BEFORE the prefix sum: PrefixSum consumes
    // its input twice (bucket totals + main pass) and the codegen'd encode
    // is the expensive leg — materialize it once, then both prefix-sum
    // scans and both downstream consumers read the checkpoint.
    val encC = enc.localCheckpoint(true)
    val packed = graft.ops.PrefixSum.running(encC, Seq("source"),
        graft.ops.PrefixSum.idBucket(col("doc_id")),
        Seq(col("doc_id").asc), col("n_tokens"),
        "__cum", inclusive = false)
      .withColumn("seq_id",
        col("__cum").divide(ChainPackTokens).cast(LongType))
      .drop("__cum")
      // feeds BOTH the doc rows and the manifest aggregate (the house
      // multi-consumer rule); lazy persist — encC already cut the lineage
      .persist()
    val docRows = packed.select(lit("doc").as("kind"),
      col("doc_id").cast(StringType).as("k"),
      col("source"), col("n_tokens").as("n1"), col("seq_id").as("n2"),
      col("checksum").as("sig"))
    // stage 5: shard manifest — map-side-combinable rollup
    val manifest = packed
      .withColumn("h", TextOps.hash60(col("checksum")))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n1"), sum(col("n_tokens")).as("n2"),
        expr("bit_xor(h)").cast(StringType).as("sig"))
      .select(lit("shard").as("kind"),
        col("seq_id").cast(StringType).as("k"),
        col("source"), col("n1"), col("n2"), col("sig"))
    import s.implicits._
    val vocabRows = vocab.toDF("k", "id").select(lit("vocab").as("kind"),
      col("k"), lit(null).cast(StringType).as("source"),
      col("id").cast(LongType).as("n1"),
      lit(null).cast(LongType).as("n2"),
      lit(null).cast(StringType).as("sig"))
    docRows.unionByName(manifest).unionByName(vocabRows)
  }

  private val tokenizePackOracle = s"""WITH RECURSIVE ${trainCtes(CharSplit)},
    merges AS MATERIALIZED ($mergesSelect),
    docs AS (SELECT doc_id, source, $toksSql AS toks FROM documents
             WHERE length(trim(text)) > 0),
    dw AS MATERIALIZED (SELECT doc_id, k AS pos, toks[k] AS word
           FROM docs, unnest(range(1, len(toks) + 1)) AS u(k)
           WHERE length(toks[k]) > 0),
    words AS MATERIALIZED (SELECT DISTINCT word FROM dw),
    enc AS (
      SELECT word, 0 AS r, $CharSplit AS syms FROM words
      UNION ALL
      SELECT e.word, e.r + 1,
        CASE WHEN m.lhs IS NULL THEN e.syms
        ELSE ${applySql("e.syms", "m.lhs", "m.rhs")} END
      FROM enc e LEFT JOIN merges m ON m.rank = e.r
      WHERE e.r < $NMerges),
    final AS MATERIALIZED (SELECT word, syms FROM enc WHERE r = $NMerges),
    de AS MATERIALIZED (
      SELECT dw.doc_id, CAST(sum(len(f.syms)) AS BIGINT) AS n_tokens,
             md5(string_agg(array_to_string(f.syms, chr(31)), chr(31)
               ORDER BY dw.pos)) AS checksum
      FROM dw JOIN final f USING (word) GROUP BY 1),
    dd AS MATERIALIZED (
      SELECT d.doc_id, d.source, de.n_tokens, de.checksum,
        CAST(COALESCE(SUM(de.n_tokens) OVER (
          PARTITION BY d.source ORDER BY d.doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          // $ChainPackTokens AS BIGINT) AS seq_id
      FROM docs d JOIN de ON de.doc_id = d.doc_id),
    voc AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS id
      FROM (SELECT DISTINCT piece
            FROM (SELECT unnest(syms) AS piece FROM s$NMerges) q1) q2)
    SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS k, source,
           n_tokens AS n1, seq_id AS n2, checksum AS sig
    FROM dd
    UNION ALL
    SELECT 'shard', CAST(seq_id AS VARCHAR), source,
           CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
           CAST(bit_xor(${LlmOps.hashSql("checksum")}) AS VARCHAR)
    FROM dd GROUP BY source, seq_id
    UNION ALL
    SELECT 'vocab', piece, NULL, CAST(id AS BIGINT), NULL, NULL FROM voc"""

  def qs: Map[String, Q] = Map(
    "llm_tokenize_pack" -> Q(tokenizePack, Some(tokenizePackOracle)),
    "llm_bpe_train"  -> Q(bpeTrain, Some(bpeTrainOracle)),
    "llm_bpe_train_dist" -> Q(bpeTrainDist, Some(bpeTrainOracle), Tuning.Narrow),
    "llm_bpe_encode" -> Q(bpeEncode, Some(bpeEncodeOracle)),
    "llm_bpe_bytes"  -> Q(bpeBytes, Some(bpeBytesOracle)),
    "llm_bpe_bytes_roundtrip" -> Q(bpeBytesRoundtrip, Some(bpeBytesRoundtripOracle)),
    "llm_bpe_roundtrip" -> Q(bpeRoundtrip, Some(bpeRoundtripOracle)),
    "llm_wordpiece_train"  -> Q(wordpieceTrain, Some(wpTrainOracle)),
    "llm_wordpiece_train_dist" -> Q(wordpieceTrainDist, Some(wpTrainOracle), Tuning.Narrow),
    "llm_wordpiece_encode" -> Q(wordpieceEncode, Some(wpEncodeOracle)),
    "llm_viterbi_segment" -> Q(viterbiSegment, Some(viterbiOracle)),
    "llm_unigram_train" -> Q(unigramTrain, Some(uniTrainOracle)),
    "llm_unigram_train_dist" -> Q(unigramTrainDist, Some(uniTrainOracle)),
    "llm_unigram_encode" -> Q(unigramEncode, Some(uniEncodeOracle)))
}
