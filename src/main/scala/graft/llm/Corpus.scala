package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-level training-data operators: benchmark decontamination,
  * deterministic stratified sampling, and sequence packing — the set a
  * 100 TB pretraining pipeline runs after dedup/quality filtering.
  * Query-layer wrappers with DuckDB oracles live in
  * [[graft.queries.LlmOps]]; these take plain DataFrames so they compose
  * with any upstream source.
  */
object Corpus {

  /** Drop every training document sharing ANY `n`-gram with `bench` (the
    * standard eval-overlap filter; GPT-3 appendix C uses 13-grams).
    *
    * Scale shape: a benchmark is tiny by definition → its distinct n-gram
    * set broadcasts; the corpus explodes to (id, gram) ONCE and semi-joins
    * that broadcast, so the corpus itself never shuffles and nothing is
    * quadratic. Returns the surviving training rows, all columns. */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(c: Column) = explode(TextOps.shingles(TextOps.tokens(c), n))
    val benchGrams = bench.select(grams(col(textCol)).as("__g")).distinct()
    val contaminated = train.select(col(idCol), grams(col(textCol)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Keep a row iff `hash(id) mod 1000 < perMille(stratum)` — reproducible
    * hash-gated sampling with per-stratum rates (the corpus-mixing knob).
    * A narrow filter: zero shuffles, stable under re-partitioning and
    * re-runs, identical on every engine — unlike `TABLESAMPLE`/`rand()`. */
  def sampleStratified(docs: DataFrame, strataCol: String,
                       perMille: Seq[(String, Long)], defaultPerMille: Long,
                       idCol: String = "doc_id", salt: String = ":sample"): DataFrame = {
    val bucket = TextOps.hash60(concat(col(idCol).cast(StringType), lit(salt))) % 1000
    val rate = perMille.foldRight(lit(defaultPerMille): Column) {
      case ((s, r), acc) => when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    docs.filter(bucket < rate)
  }

  /** Connected components over a near-duplicate pair set: every document
    * gets the SMALLEST doc id reachable through pair edges as its
    * `cluster_id` — the step a dedup pipeline runs after pair generation
    * (keep one representative per cluster, not per pair: pairwise removal
    * of (a,b),(b,c) would wrongly keep both a and c).
    *
    * Min-label propagation: each round every node takes the min of its own
    * and its neighbors' labels — one equi-join + partial-aggregate shuffle
    * per round, converging in graph-diameter rounds (near-dup clusters are
    * shallow: diameters of 2-4). The convergence probe is a driver-side
    * count (control-plane). At extreme diameters the same loop accepts the
    * large-star/small-star edge rewriting to converge in O(log n) rounds —
    * the per-round dataflow is identical. */
  def clusterPairs(pairs: DataFrame, iCol: String = "i", jCol: String = "j",
                   maxIter: Int = 25, driverMaxEdges: Long = 2000000L): DataFrame = {
    // near-dup pairs are the corpus's uniqueness FAILURES — usually a sliver
    // of the data. Under the threshold, union-find on the driver beats ~6
    // distributed rounds of fixed scheduler cost; past it (or for non-long
    // ids) the iterative dataflow below scales arbitrarily. The probe is ONE
    // limit-guarded collect of the undirected pair rows (union-find needs no
    // direction doubling) — not a count + a second collect, and not an eager
    // edge checkpoint: each of those cost an extra pass of the pair pipeline.
    val guard = math.min(driverMaxEdges, Int.MaxValue - 1L).toInt
    lazy val probe = pairs.select(col(iCol), col(jCol)).limit(guard + 1).collect()
    def small = probe.length <= guard
    val spark = pairs.sparkSession
    import spark.implicits._
    (pairs.schema(iCol).dataType, pairs.schema(jCol).dataType) match {
      case (LongType, LongType) if small =>
        return driverUnionFind(probe.map(r => (r.getLong(0), r.getLong(1))), Ordering.Long)
          .toSeq.toDF("node", "cluster_id")
      case (StringType, StringType) if small =>
        return driverUnionFind(probe.map(r => (r.getString(0), r.getString(1))), Utf8Order)
          .toSeq.toDF("node", "cluster_id")
      case _ => ()
    }
    val edgesRaw = pairs.select(col(iCol).as("src"), col(jCol).as("dst"))
      .union(pairs.select(col(jCol).as("src"), col(iCol).as("dst")))
    // the iterative path's frames are localCheckpoint'ed: iterative plans
    // otherwise NEST (round n's lineage contains round n-1's twice) and the
    // analyzer blows the driver heap long before the data is large —
    // checkpointing truncates the lineage to the materialized blocks, the
    // standard shape for iterative dataflow on Spark
    val edges = edgesRaw.localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(min(col("dlabel")).as("nmin"))
        .select(col("src").as("node"), col("nmin"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("cand"))
      // pointer jumping: also adopt the candidate's OWN current label
      // (L(L(v))) — labels descend along paths exponentially, so rounds are
      // O(log diameter) instead of O(diameter); the fixpoint (stable under
      // neighbor-min) is unchanged
      val updated = stepped
        .join(labels.select(col("node").as("cand"), col("label").as("cl")),
          Seq("cand"), "left")
        .select(col("node"), col("label"),
          least(col("cand"), coalesce(col("cl"), col("cand"))).as("next"))
        .localCheckpoint(true)
      converged = updated.filter(col("next") < col("label")).isEmpty
      labels = updated.select(col("node"), col("next").as("label"))
      it += 1
    }
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Small-graph path: classic union-find with path compression, attaching
    * the larger root under the smaller in `order` — every element starts as
    * its own root, so the invariant "root = min of merged roots" makes the
    * final root exactly the component minimum (the same labels the
    * distributed loop converges to). Returns (node, root) for every node. */
  private def driverUnionFind[T](pairs: Array[(T, T)], order: Ordering[T]): Iterator[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (order.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => (k, find(k)))
  }

  /** String node order: UTF-8 binary (code-point) order — what Spark's
    * UTF8String `min` and DuckDB's `min` over VARCHAR both compute;
    * `java.lang.String.compareTo` is UTF-16 and ranks supplementary
    * characters below U+E000..U+FFFF, so it would elect different cluster
    * roots than the engines (the `Bpe.cpCompare` rule). */
  private val Utf8Order: Ordering[String] = Ordering.fromLessThan((a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)

  /** RAG/context-window chunking: split every document into fixed
    * `windowTokens`-token chunks starting every `stride` tokens (stride <
    * window ⇒ overlapping context, the standard retrieval-index prep), with
    * a STABLE per-chunk id — `hash60(doc_id:chunk_idx:rag)` survives
    * re-runs and corpus growth, so a vector index built on `chunk_id` can
    * be maintained incrementally instead of rebuilt.
    *
    * Scale shape: entirely narrow — tokens materialize once per doc (the
    * repo-wide interpreted-lambda discipline), the chunk explode is
    * per-row, and no shuffle, join, or sort appears anywhere; output size
    * is `≈ n_tokens/stride` rows per doc. Returns
    * `(id, chunk_idx, chunk_id, chunk_text, n_tokens)`. */
  def ragChunk(docs: DataFrame, windowTokens: Int, stride: Int,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (w, st) = (windowTokens, stride)
    require(w > 0 && st > 0 && st <= w, s"need 0 < stride <= window, got ($w, $st)")
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      // last chunk start: smallest i*st covering the tail — ceil((n-w)/st),
      // floored at 0 so short docs still emit their single chunk
      .select(col(idCol), col("__n"), posexplode(transform(
        sequence(lit(0L), greatest(lit(0L),
          ceil((col("__n") - lit(w)) / lit(st.toDouble)))),
        i => concat_ws(" ", slice(col("__toks"), (i * st + 1).cast(IntegerType), lit(w)))))
        .as(Seq("__pos", "chunk_text")))
      .select(col(idCol), col("__pos").cast(LongType).as("chunk_idx"),
        TextOps.hash60(concat(col(idCol).cast(StringType), lit(":"),
          col("__pos").cast(StringType), lit(":rag"))).as("chunk_id"),
        col("chunk_text"),
        least(lit(w), col("__n") - col("__pos") * st).cast(LongType).as("n_tokens"))
  }

  /** Exact substring-level dedup over fixed token windows (the published
    * exact pass runs on ~50-token spans; window size is a knob here):
    * each document splits into consecutive `windowTokens`-token chunks, and
    * a chunk seen EARLIER anywhere in the corpus (order: doc id, then chunk
    * position) counts as a duplicate. Returns per-doc
    * `(id, n_chunks, n_dup_chunks)` — the trim/drop policy is the caller's.
    *
    * Scale shape: the chunk explode is narrow; the only corpus-wide shuffle
    * keys on the 8-byte chunk HASH (never the chunk text), and the
    * first-occurrence window inside each hash group is tiny. The per-doc
    * re-aggregation partial-aggregates map-side. Nothing is quadratic — a
    * repeated chunk costs its own group size, not a pair explosion. */
  def chunkDedup(docs: DataFrame, windowTokens: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 stride: Int = 0): DataFrame = {
    val w = windowTokens
    // stride < window ⇒ overlapping windows: a duplicated span is caught
    // when its two occurrence offsets agree mod `stride` — disjoint blocks
    // need agreement mod `window`, so sliding raises the catch rate from
    // 1/window to 1/stride phase alignments (certainty needs stride=1 — a
    // suffix-array pass; winnowing fingerprints are the probabilistic
    // alternative already in [[fingerprints]]). stride = w (the default) is
    // the original disjoint chunking.
    val st = if (stride <= 0) w else { require(stride <= w, "stride > window"); stride }
    // materialize the token array BEFORE the chunking lambda: higher-order
    // functions are interpreted and re-evaluate inline subexpressions per
    // element (the repo-wide lambda discipline)
    val toksOf = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
    val chunks = toksOf
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), floor((size(col("__toks")) - 1) / lit(st.toDouble)).cast(IntegerType)),
        i => concat_ws(" ", slice(col("__toks"), i * st + 1, lit(w))))).as(Seq("__pos", "__chunk")))
      .select(col(idCol), col("__pos"), TextOps.hash60(col("__chunk")).as("__h"))
    // exactly one position per distinct hash is non-duplicate — the global
    // (id, pos)-min — so per doc: n_dup_chunks = n_chunks − #hashes whose
    // first occurrence lands in the doc. min(struct) is MAP-SIDE COMBINABLE:
    // a boilerplate chunk shared by a large fraction of the corpus collapses
    // to one row per input partition before the shuffle, where the previous
    // row_number window routed EVERY occurrence of a hot hash through one
    // partition's sort — the chunk-level analogue of the narrow-band-key
    // degeneracy. The recombination is a tagged union, not a join, so the
    // plan stays join-free (ScaleSpec pins it).
    val firsts = chunks.groupBy("__h")
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
      .select(col(s"__first.$idCol").as(idCol))
    // per-doc chunk counts come straight off the token count (the chunking
    // lambda emits exactly floor((n−1)/stride)+1 windows) — a second cheap
    // narrow scan, so the corpus-sized position frame has ONE consumer and
    // needs no cache
    val counts = toksOf.select(col(idCol),
      (floor((size(col("__toks")) - 1) / lit(st.toDouble)) + 1).cast(LongType).as("__c"),
      lit(0L).as("__f"))
    counts.unionByName(firsts.select(col(idCol), lit(0L).as("__c"), lit(1L).as("__f")))
      .groupBy(idCol)
      .agg(sum(col("__c")).as("n_chunks"),
        (sum(col("__c")) - sum(col("__f"))).as("n_dup_chunks"))
  }

  /** Deterministic train/val/test assignment: `hash(id+salt) mod 1000`
    * against cumulative per-mille fences — the split survives re-runs,
    * re-partitioning, and corpus growth (a doc never migrates between
    * splits when other docs appear). Narrow, zero shuffles. */
  def splitAssign(fences: Seq[(String, Long)],
                  idCol: String = "doc_id", salt: String = ":split"): Column = {
    val bucket = TextOps.hash60(concat(col(idCol).cast(StringType), lit(salt))) % 1000
    val sorted = fences.sortBy(_._2)
    sorted.init.foldRight(lit(sorted.last._1): Column) {
      case ((name, upTo), elseC) => when(bucket < upTo, name).otherwise(elseC)
    }
  }

  /** At most `k` documents per stratum, chosen by deterministic hash order —
    * per-source quota capping for corpus mixing (a giant crawl source can't
    * drown the curated ones).
    *
    * Scale shape: a bounded k-min heap per stratum ([[TextOps.minKBy]],
    * exact 60-bit integer keys) — the shuffle moves `strata × k` entries
    * with map-side combine and nothing ever sorts more than k, where a
    * rank window would sort EVERY stratum's full row set in one reducer (a
    * giant crawl source = one partition). The selected `strata × k`
    * (id, rank) pairs join back to the docs by id — a keyed join whose
    * small side is quota-bounded by construction.
    *
    * Contract: `idCol` must be a UNIQUE, NON-NULL BIGINT (the corpus doc-id
    * contract) — the join-back keys on it alone, and the heap skips null
    * keys. Input passes twice (election + probe), both narrow over the
    * caller's frame; callers stacking quota on an expensive derived
    * pipeline should persist it first. */
  def quotaPerStratum(docs: DataFrame, strataCol: String, k: Int,
                      idCol: String = "doc_id", salt: String = ":quota"): DataFrame = {
    val idField = docs.schema.find(_.name.equalsIgnoreCase(idCol)).getOrElse(
      throw new IllegalArgumentException(s"quotaPerStratum: no column $idCol"))
    require(idField.dataType == LongType,
      s"quotaPerStratum needs a BIGINT id column for the bounded heap, " +
        s"got ${idField.dataType.catalogString}")
    // the heap skips null keys and the join-back drops null-id rows, so a
    // caller violating the non-null contract would SILENTLY lose rows
    // (r19 ADVICE) — fail loudly instead; for valid input the branch is a
    // codegen'd null check, free on the hot path
    val checkedId = when(col(idCol).isNotNull, col(idCol))
      .otherwise(raise_error(
        lit(s"quotaPerStratum: null $idCol violates the non-null id contract")))
    val h = TextOps.hash60(concat(checkedId.cast(StringType), lit(salt)))
    val picked = docs
      .groupBy(col(strataCol))
      .agg(TextOps.minKBy(h, col(idCol), k).as("__mins"))
      .select(posexplode(col("__mins")).as(Seq("__r", "__e")))
      .select(col("__e.id").as(idCol),
        (col("__r") + 1).cast(LongType).as("quota_rank"))
    docs.join(picked, Seq(idCol))
      .select(docs.columns.map(col) :+ col("quota_rank"): _*)
  }

  /** Select documents per stratum in deterministic hash order until a TOKEN
    * budget fills — mixing "N billion tokens per source" is specified in
    * tokens, not documents, so a per-mille row gate cannot express it.
    * A doc is kept iff the running token total through it stays within
    * budget; the cumulative sum is exact integer arithmetic, so the
    * selection is reproducible everywhere.
    *
    * Scale shape: the running total is a two-level prefix sum bucketed on
    * the high hash bits ([[graft.ops.PrefixSum]]) — a stratum-wide cumsum
    * window would sort a giant crawl source in ONE reducer, the same
    * degeneracy [[quotaPerStratum]]'s bounded heap removes from its rank
    * window (a prefix SUM can't heap-truncate, so it buckets instead).
    * The hash IS the sort key, so its high bits are an order-preserving,
    * uniformly-balanced coarsening for free. Tokenization is evaluated
    * twice (the bucket-totals scan + the main pass — both narrow,
    * map-only, column-pruned); a measured persist of the tokenized frame
    * bought nothing at sf0.1 and would materialize the corpus at scale,
    * so the rescan is the deliberate choice. */
  def tokenBudget(docs: DataFrame, strataCol: String, budgetTokens: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  salt: String = ":budget"): DataFrame = {
    val h = TextOps.hash60(concat(col(idCol).cast(StringType), lit(salt)))
    val withTok = docs
      .withColumn("n_tokens", size(TextOps.tokens(col(textCol))).cast(LongType))
      .withColumn("__h", h)
    graft.ops.PrefixSum.running(withTok, Seq(strataCol),
        graft.ops.PrefixSum.hashBucket(col("__h")),
        Seq(col("__h").asc, col(idCol).asc), col("n_tokens"),
        "cum_tokens", inclusive = true)
      .filter(col("cum_tokens") <= budgetTokens)
      .drop("__h")
  }

  /** Per-document TF-IDF (ln-idf, raw term counts): the feature-extraction
    * step topic filters and relevance scoring start from. `nDocs` is the
    * corpus document count — a control-plane constant, passed in so the plan
    * has no count-induced barrier.
    *
    * Scale shape: one (doc, token) aggregation (map-side combinable), a
    * vocabulary-keyed document-frequency aggregation, and one join keyed on
    * the token — all hash-shuffles, never all-pairs. The score is quantized
    * so ranking downstream is cross-engine-stable. */
  def tfidf(docs: DataFrame, nDocs: Long,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      // two consumers (the df aggregation + the scoring join): persist so
      // tokenize→explode→per-doc aggregate runs once, not per consumer
      .persist()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(df, "token")
      .select(col(idCol), col("token"), col("tf"), col("df"),
        TextOps.quant(col("tf") * log(lit(nDocs.toDouble) / col("df")), 4).as("tfidf"))
  }

  /** Per-document Shannon entropy of the token distribution (nats) — the
    * degenerate-text filter repetition ratios miss (a doc cycling two
    * tokens has dup-ratio ≈ 1 AND entropy ≈ ln 2; a doc of one token glued
    * to varied text needs the entropy signal). H = ln n − Σ c·ln c / n.
    *
    * The Σ c·ln c partial sums land in arbitrary partition order, so each
    * term is quantized and summed as DECIMAL — exact, order-independent,
    * identical on every engine (the repo's decimal-sum rule for float
    * aggregates). */
  def tokenEntropy(docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val counts = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    counts.groupBy(idCol)
      .agg(sum(col("c")).as("n"),
        sum(TextOps.quant(col("c") * log(col("c")), 6).cast(DecimalType(28, 8)))
          .cast(DoubleType).as("clnc"))
      .select(col(idCol), col("n"),
        TextOps.quant(log(col("n")) - col("clnc") / col("n"), 4).as("entropy"))
  }

  /** GPT-style sequence packing with boundary splitting: documents
    * concatenate in `orderCol` order and each gets the index of the
    * `windowTokens`-token context window its FIRST token lands in.
    * Packing is order-dependent, so the parallel unit is the `shardCol`
    * shard (cumulative sum per shard) — exactly how a 100 TB corpus packs;
    * never a global sort. Output adds `n_tokens` and `seq_id`. */
  def packSequences(docs: DataFrame, shardCol: String, orderCol: String,
                    windowTokens: Long, textCol: String = "text"): DataFrame = {
    // the running offset is a bucketed two-level prefix sum
    // ([[graft.ops.PrefixSum]]): a per-shard cumsum WINDOW would sort a
    // giant source's full doc set in one reducer; `doc_id >> 16` buckets
    // the dense order key so nothing sorts more than one bucket. Contract:
    // `orderCol` is a dense non-negative BIGINT (the corpus doc-id shape).
    require(docs.schema(orderCol).dataType == LongType,
      s"packSequences needs a BIGINT order column for the bucketed prefix " +
        s"sum, got ${docs.schema(orderCol).dataType.catalogString}")
    graft.ops.PrefixSum.running(
        docs.withColumn("n_tokens",
          size(TextOps.tokens(col(textCol))).cast(LongType)),
        Seq(shardCol), graft.ops.PrefixSum.idBucket(col(orderCol)),
        Seq(col(orderCol).asc), col("n_tokens"), "__cum", inclusive = false)
      .withColumn("seq_id",
        col("__cum").divide(windowTokens).cast(LongType))
      .drop("__cum")
  }
}
