package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels

import graft.core.Tables
import graft.text.Shingles

/** Distributed BPE subword tokenizer: merge-table TRAINING and corpus
  * ENCODING as declared, oracle-checked queries — the tokenizer-
  * training step of a training-data pipeline, not just the chars/4
  * token-count heuristic (`q_token_count` keeps that as the cheap
  * estimate; this is the real thing).
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units"): start from characters, repeatedly
  * merge the most frequent adjacent symbol pair. The scale shape is
  * the textbook one:
  *
  *   - ONE corpus scan builds the distinct-word frequency table; all
  *     k merge iterations run over that VOCAB table (bounded by
  *     |vocab| × word length, millions of rows at 100 TB — not the
  *     corpus), each iteration a map-side-combined pair count plus a
  *     one-row argmax. The only driver-resident state is the k-row
  *     merge table itself — the trained model, same pattern as the
  *     kmeans centroids and the PCA direction.
  *   - per-iteration `localCheckpoint` truncates the fold-expression
  *     lineage so iteration i+1's pair count does not re-execute
  *     iterations 1..i (the kmeans/pagerank iterative-lineage rule).
  *   - ENCODING never re-folds the corpus: tokens broadcast-join the
  *     final word→symbols table (vocab-sized), and the per-doc
  *     fingerprint is one hash aggregate with state bounded by
  *     document length (the `encodeTokens` collect/sort/transform
  *     shape).
  *
  * Merge application is a greedy left-to-right single pass: scan the
  * symbol list, replace each non-overlapping (left, right) adjacency
  * with the merged symbol ("aaaa" + (a,a) → [aa, aa], not [aa, a]).
  * Both the Spark fold (`functions.aggregate`) and the DuckDB oracle
  * (`list_reduce` over a unit-separator-joined accumulator) implement
  * the SAME pass, so the oracle re-derives the whole merge table —
  * pair counts, argmax tie-breaks (count desc, then left, then right,
  * both engines binary string order) and all — and the hash gate
  * proves training AND encoding end-to-end.
  *
  * Determinism notes: pair counts are integer sums of integer word
  * frequencies; symbols are drawn from the corpus's alnum alphabet, so
  * the chr(31) accumulator separator and the ' ' fingerprint joiner
  * can never collide with symbol content.
  *
  * Merge-count honesty: the declared queries train k=8 — enough to put
  * argmax, tie-breaks, and the fold behind the hash gate. A production
  * k≈30k would not loop 30k full pair-counts: after a merge only pairs
  * ADJACENT to the new symbol change count, so real trainers maintain
  * the pair-count table incrementally (subtract consumed (l,r) /
  * neighbor pairs, add the new symbol's neighbor pairs — each round a
  * delta aggregate over the words containing the merged pair, found by
  * an inverted pair→word index). Same shuffle shape, vocab-bound like
  * the full recount, ~k× less work; the full recount here keeps the
  * oracle SQL mechanical.
  */
object Bpe extends graft.QueryModule {

  /** One learned merge: step is 1-based rank order. */
  final case class Merge(step: Int, lft: String, rgt: String, merged: String, pair_count: Long)

  /** Greedy left-to-right single-pass application of one merge rule to
    * a symbol array. The `size(acc) > 0` guard runs FIRST and `And`
    * short-circuits, so `element_at` never sees the empty accumulator's
    * index 0 (which is an error even for `try_element_at` — index 0 is
    * "invalid index", not out-of-bounds).
    */
  private[graft] def mergeFold(syms: Column, lft: String, rgt: String): Column =
    mergeFoldDyn(syms, lit(lft), lit(rgt))

  /** [[mergeFold]] with the merge pair as COLUMNS — the serving form:
    * a broadcast model row carries the merge table as data, so the pair
    * is not known at plan-build time (see
    * [[graft.streaming.DocStream.tokenizeOnIngest]]).
    */
  private[graft] def mergeFoldDyn(syms: Column, lft: Column, rgt: Column): Column =
    // native kernel (r17, guide §4 / the TokenSpans precedent): the
    // HOF `aggregate` fold ran through the lambda interpreter per
    // element and built one intermediate accumulator array per symbol;
    // the kernel is one JVM loop with identical greedy semantics
    // (BpeFold.foldOnce — null sides never compare equal, plain append)
    Kernels.bpeMergeFoldAll(syms, array(struct(lft.as("lft"), rgt.as("rgt"))))

  /** The trained tokenizer packed for SERVING: one row whose `merges`
    * column is the step-ordered array of (lft, rgt) rules — the same
    * one-row broadcast-model convention as [[Classify.dsirModel]] /
    * [[Classify.nbModel]], so a scorer (batch or stream) cross-joins
    * it and applies the rules per row with zero shuffles.
    */
  def bpeModel(merges: Seq[Merge]): DataFrame = {
    // no SparkSession at hand from the merges alone; callers pass docs'
    // session implicitly via the active session
    val spark = SparkSession.active
    import spark.implicits._
    Seq(Tuple1(merges.sortBy(_.step).map(m => (m.lft, m.rgt)))).toDF("raw")
      .select(expr(
        "transform(raw, r -> named_struct('lft', r._1, 'rgt', r._2))").as("merges"))
  }

  /** The distinct-word frequency table with each word split to its
    * character symbols: (word, freq, syms).
    */
  private def symbolTable(docs: DataFrame): DataFrame =
    Shingles.tokensWithPos(docs)
      .groupBy(col("term").as("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Train `k` merges; returns the merge table (driver-side — it IS
    * the model) and the final word→symbols DataFrame for encoding.
    */
  private[graft] def train(docs: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    // LAZY checkpoints (r17, guide §2.4 job-count): each step's argmax
    // action materializes the previous step's fold inside its OWN job,
    // so the loop runs k jobs instead of 2k — same lineage truncation,
    // same results, half the per-step scheduling overhead that
    // dominates a vocab-sized table at any core count.
    var syms = symbolTable(docs).localCheckpoint(false)
    val merges = Seq.newBuilder[Merge]
    for (step <- 1 to k) {
      val top = syms
        .select(col("freq"), explode(Kernels.arrayAdjPairs(col("syms"))).as("p"))
        .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("lft"), col("rgt"))
        .limit(1)
        .collect()
      require(top.nonEmpty, s"corpus ran out of symbol pairs before merge $step of $k")
      val (lft, rgt, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += Merge(step, lft, rgt, lft + rgt, c)
      syms = syms.withColumn("syms", mergeFold(col("syms"), lft, rgt)).localCheckpoint(false)
    }
    (merges.result(), syms)
  }

  /** [[train]]'s production-shaped sibling: the INCREMENTAL pair-count
    * trainer — spec-pinned to produce the identical merge sequence
    * (argmax, counts, tie-breaks) as the full recount.
    *
    * The full recount pays an all-pairs explode + shuffle + aggregate
    * over the whole vocab EVERY round; but a merge only changes counts
    * of pairs adjacent to the new symbol, so this maintains the pair
    * table by delta: each round explodes old/new adjacencies of the
    * AFFECTED words only (±freq), folds them into the running counts,
    * and drops pairs at zero. Affected words are found by comparing
    * the fold output to the input — still one vocab-table scan per
    * round, but the shuffled delta is tiny; at a production k≈30k the
    * next rung is an inverted pair→word index so even the scan is
    * restricted to postings of the merged pair.
    */
  private[graft] def trainIncremental(docs: DataFrame, k: Int): Seq[Merge] = {
    var words = symbolTable(docs).localCheckpoint(true)
    var pc = words
      .select(col("freq"), explode(Kernels.arrayAdjPairs(col("syms"))).as("p"))
      .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
      .agg(sum(col("freq")).as("c"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    for (step <- 1 to k) {
      val top = pc.orderBy(col("c").desc, col("lft"), col("rgt")).limit(1).collect()
      require(top.nonEmpty, s"corpus ran out of symbol pairs before merge $step of $k")
      val (lft, rgt, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += Merge(step, lft, rgt, lft + rgt, c)
      val updated = words
        .withColumn("new_syms", mergeFold(col("syms"), lft, rgt))
        .localCheckpoint(true)
      val delta = updated
        .filter(col("new_syms") =!= col("syms"))
        .select(explode(concat(
          transform(Kernels.arrayAdjPairs(col("new_syms")),
            p => struct(p.getField("lft").as("lft"), p.getField("rgt").as("rgt"),
              col("freq").as("c"))),
          transform(Kernels.arrayAdjPairs(col("syms")),
            p => struct(p.getField("lft").as("lft"), p.getField("rgt").as("rgt"),
              (-col("freq")).as("c"))))).as("d"))
        .select(col("d.lft").as("lft"), col("d.rgt").as("rgt"), col("d.c").as("c"))
      pc = pc.unionByName(delta)
        .groupBy("lft", "rgt").agg(sum(col("c")).as("c"))
        .filter(col("c") > 0)
        .localCheckpoint(true)
      words = updated
        .select(col("word"), col("freq"), col("new_syms").as("syms"))
    }
    merges.result()
  }

  /** Distinct adjacent pairs of a word's symbols — its postings keys. */
  private def postingsOf(words: DataFrame): DataFrame =
    words.select(col("word"), explode(array_distinct(Kernels.arrayAdjPairs(col("syms")))).as("p"))
      .select(col("p.lft").as("lft"), col("p.rgt").as("rgt"), col("word"))

  /** The production rung above [[trainIncremental]]: an inverted
    * pair→word POSTINGS index finds round i's affected words, so the
    * greedy merge fold — the expensive per-word work — runs ONLY on
    * words that (may) contain the merged pair, never on the full
    * vocab. Spec-pinned ([[BpeSpec]]) to the identical merge sequence
    * as [[train]].
    *
    * The state design is APPEND-ONLY — a first version that rewrote
    * the vocab and postings tables every round measured SLOWER than
    * [[trainIncremental]] (the 7·|vocab|-row postings rewrite dwarfed
    * the fold savings), so nothing vocab-sized is ever written after
    * init:
    *   - `wordsBase` + `postBase`: checkpointed ONCE at init, never
    *     touched again;
    *   - `overrides` (word → current syms, only words some merge has
    *     changed) and `postAdds` (adjacencies created by merges):
    *     small delta tables, re-checkpointed per round, bounded by
    *     cumulative churn — not by vocab;
    *   - a round's candidate words = (postBase ∪ postAdds) postings of
    *     the argmax pair. Entries are never deleted, so this is a
    *     SUPERSET (a word may have lost the pair to an earlier merge);
    *     the fold itself is the verifier — unchanged candidates drop
    *     out exactly like trainIncremental's changed-filter, just over
    *     candidates instead of the whole vocab;
    *   - current syms for candidates = broadcast-pruned fetch from
    *     wordsBase overridden by `overrides` (coalesce) — a narrow
    *     no-shuffle scan, the piece a bucketed vocab store would turn
    *     into a pruned read.
    * Per-round SHUFFLED and WRITTEN bytes are postings/churn-bound;
    * the broadcast of a pair's postings is safe precisely because
    * argmax pairs get rare as k grows (the dense early merges are few
    * and bounded by the alphabet²).
    */
  private[graft] def trainPostings(docs: DataFrame, k: Int): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wordsBase = symbolTable(docs).localCheckpoint(true)
    var pc = wordsBase
      .select(col("freq"), explode(Kernels.arrayAdjPairs(col("syms"))).as("p"))
      .groupBy(col("p.lft").as("lft"), col("p.rgt").as("rgt"))
      .agg(sum(col("freq")).as("c"))
      .localCheckpoint(true)
    val postBase = postingsOf(wordsBase).localCheckpoint(true)
    var overrides = Seq.empty[(String, Seq[String])].toDF("word", "osyms")
    var postAdds = Seq.empty[(String, String, String)].toDF("lft", "rgt", "word")
    val merges = Seq.newBuilder[Merge]
    for (step <- 1 to k) {
      val top = pc.orderBy(col("c").desc, col("lft"), col("rgt")).limit(1).collect()
      require(top.nonEmpty, s"corpus ran out of symbol pairs before merge $step of $k")
      val (lft, rgt, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += Merge(step, lft, rgt, lft + rgt, c)
      // postings lookup (superset: entries are never deleted)
      val pairPred = col("lft") === lit(lft) && col("rgt") === lit(rgt)
      val cand = postBase.filter(pairPred).select("word")
        .unionByName(postAdds.filter(pairPred).select("word"))
        .distinct()
      // current symbols of the candidates only: base overridden by the
      // latest merge result, both fetches broadcast-pruned
      val cur = wordsBase.join(broadcast(cand), Seq("word"), "left_semi")
        .join(overrides, Seq("word"), "left")
        .select(col("word"), col("freq"), coalesce(col("osyms"), col("syms")).as("syms"))
      // the fold verifies: stale candidates (pair already consumed by
      // an earlier merge) come out unchanged and drop here
      val affected = cur
        .withColumn("new_syms", mergeFold(col("syms"), lft, rgt))
        .filter(col("new_syms") =!= col("syms"))
        .localCheckpoint(true)
      val delta = affected
        .select(explode(concat(
          transform(Kernels.arrayAdjPairs(col("new_syms")),
            p => struct(p.getField("lft").as("lft"), p.getField("rgt").as("rgt"),
              col("freq").as("c"))),
          transform(Kernels.arrayAdjPairs(col("syms")),
            p => struct(p.getField("lft").as("lft"), p.getField("rgt").as("rgt"),
              (-col("freq")).as("c"))))).as("d"))
        .select(col("d.lft").as("lft"), col("d.rgt").as("rgt"), col("d.c").as("c"))
      pc = pc.unionByName(delta)
        .groupBy("lft", "rgt").agg(sum(col("c")).as("c"))
        .filter(col("c") > 0)
        .localCheckpoint(true)
      val newWords = affected.select(col("word"), col("freq"), col("new_syms").as("syms"))
      overrides = overrides.join(affected.select("word"), Seq("word"), "left_anti")
        .unionByName(newWords.select(col("word"), col("syms").as("osyms")))
        .localCheckpoint(true)
      postAdds = postAdds.unionByName(postingsOf(newWords)).localCheckpoint(true)
    }
    merges.result()
  }

  /** The learned merge table as a DataFrame: (step, lft, rgt, merged,
    * pair_count), `k` rows. `samplePct` < 100 trains on a DETERMINISTIC
    * doc_id hash-sample of the corpus ([[TextOps.hashBucket]], the
    * engine's shared sampling rule) — how production tokenizers are
    * actually trained at 100 TB: pair statistics concentrate fast, so
    * a few-percent sample reproduces the head of the merge sequence at
    * a fraction of the per-round scan (BpeSpec measures the overlap on
    * testdata; counts then reflect the sample, so the declared query
    * keeps samplePct = 100 and its oracle unchanged).
    */
  def bpeMerges(docs: DataFrame, k: Int = 8, samplePct: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(sampled(docs, samplePct), k)._1.toDF()
  }

  /** Train and return the merge table as the driver-side model —
    * the form [[bpeEncodeWith]], [[bpeModel]] and [[writeBpeModel]]
    * consume (the DataFrame twin is [[bpeMerges]]).
    */
  def bpeTrainModel(docs: DataFrame, k: Int = 8, samplePct: Int = 100): Seq[Merge] =
    train(sampled(docs, samplePct), k)._1

  /** Persist a trained merge table to parquet — the train-once half of
    * the tokenizer lifecycle (r9 verdict #1): a production tokenizer
    * is trained once, shipped as an artifact, and applied to every new
    * corpus/stream. The table is k rows of model state; reading it
    * back costs one tiny parquet scan instead of the full per-merge
    * training sweep ([[bpeMerges]] pays k corpus-vocab passes).
    */
  /** VERSIONED single-table artifact ([[graft.core.Artifacts
    * .writeVersioned]]): each refresh seals a fresh `v=<n+1>/`, the
    * reader resolves the highest complete one, so a crashed refresh
    * leaves the previous merge table SERVING instead of a loud
    * refusal (safe-and-serving — r10 stretch #9; legacy flat
    * artifacts stay readable through the same `_SUCCESS` gate).
    */
  def writeBpeModel(spark: SparkSession, merges: Seq[Merge], dir: String): Unit = {
    import spark.implicits._
    graft.core.Artifacts.writeVersioned(merges.toDF(), dir)
  }

  /** Load a persisted merge table, step-ordered — feed to
    * [[bpeEncodeWith]] (batch) or [[bpeModel]] (stream serving).
    * Round-trips exactly: strings and longs, no floats involved.
    */
  def readBpeModel(spark: SparkSession, dir: String): Seq[Merge] = {
    import spark.implicits._
    graft.core.Artifacts.readLatestVersioned(spark, dir, "readBpeModel",
        "retrain with writeBpeModel")
      .as[Merge].collect().toSeq.sortBy(_.step)
  }

  /** Deterministic corpus hash-sample: keep doc_ids in the first
    * `samplePct` of 100 md5 buckets.
    */
  private def sampled(docs: DataFrame, samplePct: Int): DataFrame =
    if (samplePct >= 100) docs
    else docs.filter(TextOps.hashBucket(col("doc_id")) < samplePct)

  /** Corpus encoded with `k` trained merges: per document the token
    * count, subword count, and an order-pinning md5 over the full
    * subword sequence — (doc_id, n_tokens, n_subwords, subwords_md5).
    * Every corpus token is in the vocab by construction (the vocab is
    * trained on the same corpus), so the broadcast join is inner.
    *
    * The broadcast is the deliberate scale choice: a trained tokenizer
    * vocabulary is MB-scale (even a web-corpus lexicon truncated to
    * the training cut is millions of short rows), which every executor
    * wants resident once — the alternative is shuffling the full
    * corpus token stream by word, a corpus-sized exchange for a
    * dimension-sized table. If the vocab ever outgrew the broadcast
    * budget, dropping the `broadcast` hint degrades to that shuffle
    * join without a semantic change.
    */
  def bpeEncode(docs: DataFrame, k: Int = 8): DataFrame =
    encodeFrom(docs, train(docs, k)._2)

  /** Corpus encoded with a FIXED, already-trained merge table — the
    * SERVING path: a production tokenizer is trained once and then
    * applied to every new corpus/stream, so encoding must not retrain.
    * The k merges (driver-side model, like the centroid/codebook
    * tables) are applied to THIS corpus's distinct-word vocab by
    * chaining the greedy fold in step order — one vocab-bound pass,
    * checkpointed every 16 merges so expression depth (and codegen
    * method size) stays bounded at any k — then the same broadcast
    * encode join as [[bpeEncode]]. Words the training corpus never saw
    * fall through to whatever symbols the merges produce (ultimately
    * characters), exactly like a real subword tokenizer on fresh text.
    * BpeSpec pins self-application equal to [[bpeEncode]] and drives a
    * cross-corpus apply.
    */
  def bpeEncodeWith(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    // ONE native kernel call per distinct word (r17, guide §4): char
    // split + every merge rule applied in step order inside a single
    // JVM loop ([[graft.functions.BpeEncodeWord]]) — replaces k
    // chained interpreted `aggregate` folds plus the every-16-merges
    // lineage checkpoint the old expression-depth growth forced
    // (expression depth is now constant in k). Identical greedy
    // semantics rule for rule, so the encode output is bit-identical
    // (BpeSpec pins self-application == bpeEncode on top of the
    // oracle hash).
    val ordered = merges.sortBy(_.step)
    if (ordered.isEmpty) return encodeFrom(docs, symbolTable(docs))
    val rules = array(ordered.map(m =>
      struct(lit(m.lft).as("lft"), lit(m.rgt).as("rgt"))): _*)
    val finalSyms = Shingles.tokensWithPos(docs)
      .groupBy(col("term").as("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", Kernels.bpeEncodeWord(col("word"), rules))
    encodeFrom(docs, finalSyms)
  }

  /** The shared encode tail: broadcast the word→symbols table, join
    * the token stream, aggregate per-doc counts + the order-pinned
    * subword fingerprint.
    */
  private def encodeFrom(docs: DataFrame, finalSyms: DataFrame): DataFrame =
    Shingles.tokensWithPos(docs)
      .join(broadcast(finalSyms.select(col("word").as("term"), col("syms"))), Seq("term"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(size(col("syms"))).as("n_subwords"),
        md5(concat_ws(" ",
          flatten(transform(array_sort(collect_list(struct(col("pos"), col("syms")))),
            p => p.getField("syms"))))).as("subwords_md5"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_merges" -> { (spark, dir) =>
      bpeMerges(Tables.documents(spark, dir), 8).orderBy("step")
    },
    "q_bpe_encode" -> { (spark, dir) =>
      bpeEncode(Tables.documents(spark, dir), 8).orderBy("doc_id")
    },
    // The SERVING split: train the tokenizer on the even-doc_id half,
    // apply the fixed merge table corpus-wide via bpeEncodeWith — the
    // real deployment shape (train once, encode everything), with
    // odd-half-only words exercising the unseen-word fallthrough. The
    // oracle re-derives the half-corpus training chain AND the
    // corpus-wide application. k=16: measured on all three SFs, the
    // even-half merge sequence diverges from full-corpus training by
    // step 11/2/4 — so this output provably differs from q_bpe_encode's
    // (a k=8 apply was byte-identical at sf0.001).
    "q_bpe_apply" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val merges = train(docs.filter(col("doc_id") % 2 === 0), 16)._1
      bpeEncodeWith(docs, merges).orderBy("doc_id")
    },

    // Persisted-tokenizer lifecycle under the full hash gate: train →
    // write the merge table → read back → apply. Oracle is
    // q_bpe_apply's own SQL — the parquet round-trip (strings + longs,
    // lossless) must be invisible to the hash.
    "q_bpe_served" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      // shared deterministic fixture (the IVFADC convention): train +
      // write once per sweep, serve the saved artifact thereafter —
      // exact longs/strings round-trip, hash-invisible either way
      val mDir = graft.core.Fixtures.artifactDir(dir, "bpe-model") { d =>
        writeBpeModel(spark, train(docs.filter(col("doc_id") % 2 === 0), 16)._1, d)
      }
      bpeEncodeWith(docs, readBpeModel(spark, mDir)).orderBy("doc_id")
    },

    // Tokenizer fertility report: per-source subwords-per-word and
    // chars-per-subword under the SERVING tokenizer (q_bpe_apply's
    // even-half-trained merges) — the standard tokenizer-eval table
    // (fertility by domain/language) that decides whether a tokenizer
    // under-serves part of the mix. One tiny aggregate over the
    // already-declared encode output; ratios are single IEEE divisions
    // of exact integer sums, so the doubles are cross-engine identical.
    "q_tokenizer_fertility" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      val merges = train(docs.filter(col("doc_id") % 2 === 0), 16)._1
      bpeEncodeWith(docs, merges)
        .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"),
          (sum(col("n_subwords")).cast("double") /
            sum(col("n_tokens")).cast("double")).as("fertility"),
          (sum(col("n_chars")).cast("double") /
            sum(col("n_subwords")).cast("double")).as("chars_per_subword"))
        .orderBy("source")
    }
  )

  // ------------------------------------------------------------------ //
  // DuckDB oracle: mechanically generated CTE chain that re-derives    //
  // the merge table itself — argmax, tie-breaks, greedy fold and all.  //
  // ------------------------------------------------------------------ //

  private val tokSql =
    """SELECT doc_id, term, pos FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents) z WHERE term <> ''""".stripMargin

  /** Top-pair CTE body for step i over symbol table s{i-1}. */
  private def pairSql(prev: String): String =
    s"""SELECT lft, rgt, lft || rgt AS merged, c AS pair_count FROM (
       |    SELECT syms[u] AS lft, syms[u+1] AS rgt, CAST(sum(freq) AS BIGINT) AS c
       |    FROM (SELECT freq, syms, unnest(generate_series(1, len(syms)-1)) AS u FROM $prev) z
       |    GROUP BY lft, rgt) t
       |  ORDER BY c DESC, lft, rgt LIMIT 1""".stripMargin

  /** Merge-applied symbol table CTE body: the SAME greedy left-to-right
    * fold as [[mergeFold]], over a chr(31)-joined string accumulator
    * (list_reduce seeds the accumulator with the first element, which
    * is exactly the fold's state after one symbol).
    */
  private def foldSql(prev: String, p: String): String = {
    val ss = "string_split(acc, chr(31))"
    s"""SELECT w.word, w.freq,
       |    string_split(list_reduce(w.syms, (acc, s) ->
       |      CASE WHEN ($ss)[-1] = p.lft AND s = p.rgt
       |           THEN CASE WHEN len($ss) = 1 THEN p.merged ELSE
       |                array_to_string(list_slice($ss, 1, len($ss)-1), chr(31)) ||
       |                chr(31) || p.merged END
       |           ELSE acc || chr(31) || s END), chr(31)) AS syms
       |  FROM $prev w CROSS JOIN $p p""".stripMargin
  }

  /** WITH-clause prefix training `k` merges: tok, s0, p1, s1 … pk, sk.
    * `vocabFilter` restricts the TRAINING vocab's token stream (e.g. a
    * doc_id split) while `tok` itself stays corpus-wide for encoding.
    */
  private def trainSql(k: Int, vocabFilter: String = ""): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  ${pairSql(s"s${i - 1}")}),
         |s$i AS MATERIALIZED (
         |  ${foldSql(s"s${i - 1}", s"p$i")})""".stripMargin
    }
    s"""tok AS MATERIALIZED ($tokSql),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq, string_split(word, '') AS syms FROM (
       |    SELECT term AS word, count(*) AS freq FROM tok $vocabFilter GROUP BY term) wf),
       |${steps.mkString(",\n")}""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val k = 8
    val mergeRows = (1 to k)
      .map(i => s"SELECT $i AS step, lft, rgt, merged, pair_count FROM p$i")
      .mkString("\n  UNION ALL ")
    // shared by q_bpe_apply and its served twin (q_bpe_served): the
    // merge-table parquet round-trip must be invisible to the hash
    val bpeApplySql = {
      val ka = 16
      val applies = (1 to ka).map(i =>
        s"v$i AS MATERIALIZED (\n  ${foldSql(s"v${i - 1}", s"p$i")})").mkString(",\n")
      s"""WITH ${trainSql(ka, "WHERE doc_id % 2 = 0")},
         |v0 AS MATERIALIZED (
         |  SELECT word, freq, string_split(word, '') AS syms FROM (
         |    SELECT term AS word, count(*) AS freq FROM tok GROUP BY term) wf),
         |$applies,
         |enc AS (
         |  SELECT t.doc_id, t.pos, v.syms
         |  FROM tok t JOIN v$ka v ON t.term = v.word)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
         |  md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS subwords_md5
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
    Map(
      "q_bpe_served" -> bpeApplySql,
      "q_bpe_merges" ->
        s"""WITH ${trainSql(k)}
           |$mergeRows
           |ORDER BY step""".stripMargin,
      "q_bpe_encode" ->
        s"""WITH ${trainSql(k)},
           |enc AS (
           |  SELECT t.doc_id, t.pos, s.syms
           |  FROM tok t JOIN s$k s ON t.term = s.word)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
           |  md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS subwords_md5
           |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // train on the even half (s0..s16 chain over the filtered vocab),
      // then apply p1..p16 to the FULL corpus vocab (v0..v16 fold
      // chain) and encode every document — bpeEncodeWith's SQL twin
      "q_bpe_apply" -> bpeApplySql,
      // q_bpe_apply's chain, aggregated per source instead of per doc
      "q_tokenizer_fertility" -> {
        val ka = 16
        val applies = (1 to ka).map(i =>
          s"v$i AS MATERIALIZED (\n  ${foldSql(s"v${i - 1}", s"p$i")})").mkString(",\n")
        s"""WITH ${trainSql(ka, "WHERE doc_id % 2 = 0")},
           |v0 AS MATERIALIZED (
           |  SELECT word, freq, string_split(word, '') AS syms FROM (
           |    SELECT term AS word, count(*) AS freq FROM tok GROUP BY term) wf),
           |$applies,
           |enc AS (
           |  SELECT t.doc_id, t.pos, len(v.syms) AS ns
           |  FROM tok t JOIN v$ka v ON t.term = v.word),
           |per_doc AS (
           |  SELECT doc_id, count(*) AS n_tokens, sum(ns) AS n_subwords
           |  FROM enc GROUP BY doc_id)
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(p.n_tokens) AS BIGINT) AS n_words,
           |  CAST(sum(p.n_subwords) AS BIGINT) AS n_subwords,
           |  CAST(sum(p.n_subwords) AS DOUBLE) / CAST(sum(p.n_tokens) AS DOUBLE)
           |    AS fertility,
           |  CAST(sum(d.n_chars) AS DOUBLE) / CAST(sum(p.n_subwords) AS DOUBLE)
           |    AS chars_per_subword
           |FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin
      }
    )
  }
}
