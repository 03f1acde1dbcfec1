package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.text.Shingles
import graft.tfidf.TfIdf

/** Text-analysis operators for a training-data pipeline: token stats,
  * tokenizer comparison (whitespace vs BPE-ish regex), quality scoring,
  * language-ID heuristic, and content fingerprinting. All run over the
  * `documents` table and are DuckDB-oracle-checked.
  *
  * Scale: every query is tokenize → per-doc aggregate — embarrassingly
  * parallel, one shuffle on doc_id (or none where the aggregate can ride
  * the scan), no driver materialization.
  */
object TextOps extends graft.QueryModule {

  /** "Stopwords" derived from the data itself: the 10 globally most
    * frequent terms (ties broken lexicographically). Data-derived so the
    * query is hash-stable at every scale factor; the oracle derives the
    * same set with the same rule.
    */
  private def topTerms(docs: DataFrame, k: Int = 10): DataFrame =
    TfIdf.tokens(docs)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)
      .select(col("term").as("stop_term"))

  private val topTermsSql =
    """SELECT term AS stop_term FROM (
      |  SELECT term, count(*) AS n FROM tok GROUP BY term
      |  ORDER BY n DESC, term LIMIT 10)""".stripMargin

  private val tokCte =
    """tok AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE term <> '')""".stripMargin

  // Language-ID stopword table: tiny per-language marker sets (public
  // high-frequency function words). The heuristic scores each language
  // by marker-token count; argmax with a fixed precedence order.
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "fr" -> Seq("le", "les", "de", "et", "est"),
    "zh" -> Seq("de5", "le5", "shi4", "he2", "zai4"))

  // ---------------------------------------------------------------- //
  // Public library API — each declared query below delegates here.    //
  // ---------------------------------------------------------------- //

  /** Per-document token statistics: counts, type-token ratio, mean
    * token length (all integer sums → exact doubles by division).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    TfIdf.tokens(docs)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("term")).as("n_types"),
        (countDistinct(col("term")).cast("double") / count(lit(1))).as("ttr"),
        (sum(length(col("term"))).cast("double") / count(lit(1))).as("avg_token_len"))

  /** Quality score per document: length saturation, lexical diversity,
    * inverse stopword density, fixed weights. Stopwords are the top-k
    * global terms (data-derived, hash-stable across scale factors).
    *
    * `carry`: extra per-document columns (functionally dependent on
    * doc_id — e.g. `source`) threaded through the token aggregate via
    * `first()`, so a caller that needs (quality, source) pays ONE
    * corpus scan instead of scanning documents again just to join the
    * column back (the r6 q_source_cap nit — at 100 TB that second
    * read is a full corpus pass for one projection). Each token
    * shuffle row grows by the carried bytes, which is noise next to a
    * saved scan. The stopword top-k inside remains its own scan — it
    * is a global aggregate no per-doc pass can absorb, and it is
    * shared by every qualityScores caller.
    */
  def qualityScores(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val toks =
      if (carry.isEmpty) TfIdf.tokens(docs)
      else docs
        .select(col("doc_id") +: carry.map(col) :+
          explode(split(col("text"), " ")).as("term"): _*)
        .filter(col("term") =!= "")
    val aggs = Seq(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("term")).as("n_types"),
      sum(when(col("stop_term").isNotNull, 1L).otherwise(0L)).as("n_stop")) ++
      carry.map(c => first(col(c)).as(c))
    val stats = toks
      .join(broadcast(topTerms(docs)), col("term") === col("stop_term"), "left")
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
    stats.select(
      col("doc_id") +: carry.map(col) :+
        col("n_tokens") :+
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio") :+
        (least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.3)
          + (col("n_types").cast("double") / col("n_tokens")) * lit(0.3)
          + (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * lit(0.4))
          .as("quality"): _*)
  }

  /** Per-document language prediction by marker-stopword voting with
    * deterministic precedence (score desc, then alphabetical language).
    */
  def langPredictions(docs: DataFrame): DataFrame = {
    val markerScores: Seq[Column] = langMarkers.map { case (lang, ws) =>
      sum(when(col("term").isInCollection(ws), 1L).otherwise(0L)).as(s"s_$lang")
    }
    val scored = TfIdf.tokens(docs)
      .groupBy("doc_id")
      .agg(markerScores.head, markerScores.tail: _*)
    val best = langMarkers.map(_._1).foldLeft(lit("und")) { (acc, lang) =>
      // precedence: a language wins iff score > 0, strictly beats all
      // alphabetically-earlier languages, and >= all later ones
      when(col(s"s_$lang") > lit(0) &&
        langMarkers.map(_._1).filter(_ < lang).map(l => col(s"s_$lang") > col(s"s_$l"))
          .foldLeft(langMarkers.map(_._1).filter(_ > lang).map(l => col(s"s_$lang") >= col(s"s_$l"))
            .foldLeft(lit(true))(_ && _))(_ && _), lit(lang)).otherwise(acc)
    }
    scored.select(col("doc_id"), best.as("pred_lang"))
  }

  /** Test-set n-gram novelty — the generalization-gap proxy of an
    * eval split: for each source, the fraction of held-out-doc bigram
    * OCCURRENCES whose bigram type never appears in the training
    * half. A near-zero novelty rate says the eval set is effectively
    * memorized vocabulary (leakage-shaped, even after doc-level
    * dedup); a high rate says the split actually tests composition.
    * Split membership is the engine-wide hash split
    * ([[Classify.isTrain]]), so this composes with the classifier
    * evals it audits.
    *
    * Scale shape: one adjacency pass builds the bigram stream — the
    * per-document [[graft.functions.TokenPairs]] kernel, zero
    * exchanges and no positional self-join. The train TYPE set is a
    * distinct aggregate; the membership probe is one bigram-keyed
    * left join (co-partitioned; a bloom filter replaces it when the
    * type set outgrows comfortable shuffles).
    */
  /** The adjacent-bigram stream (doc_id, [carry…,] w1, w2): each pair
    * of ADJACENT NON-EMPTY tokens, so consecutive spaces never break a
    * bigram — the oracles pair the filtered tokens with
    * lag(term) over (partition by doc_id order by pos), the same rule.
    * Built per document by the native [[graft.functions.TokenPairs]]
    * kernel (r17): the lag/lead window it replaces shuffled and sorted
    * the whole token stream once per consumer (guide §2.4), and the
    * r16 HOF rewrite (indexed transform + get) removed the exchange but
    * ran through the lambda interpreter per element (q_bigram_nll
    * 0.92×). The kernel keeps zero exchanges AND enters whole-stage
    * codegen; spreadSmall parallelizes it when the corpus scans as one
    * task, production scans pass through. PlanSpec pins the no-join,
    * no-window shape.
    */
  private[graft] def bigramStream(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    graft.core.Tables.spreadSmall(docs, "doc_id")
      .select(col("doc_id") +: carry.map(col) :+
        inline(Kernels.tokenPairs(col("text"))): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("prev").as("w1") :+ col("term").as("w2"): _*)

  def ngramNovelty(docs: DataFrame): DataFrame = {
    val big = bigramStream(docs, carry = Seq("source"))
      .localCheckpoint(true)
    val trainTypes = big.filter(Classify.isTrain(col("doc_id")))
      .select("w1", "w2").distinct()
      .withColumn("seen", lit(1))
    big.filter(Classify.isTest(col("doc_id")))
      .join(trainTypes, Seq("w1", "w2"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_test_bigrams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_test_bigrams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_test_bigrams").cast("double"))
          .as("novelty_rate"))
  }

  /** Positional phrase search — the retrieval op an inverted index
    * alone cannot answer: find documents containing an exact
    * multi-token PHRASE by joining the positional token index on
    * adjacent positions (b.pos = a.pos + 1), the classic positional-
    * postings intersection. The phrase is data-derived (the corpus's
    * most frequent bigram, ties lexicographic) so the query is
    * hash-stable at every SF; output is the top-k documents by
    * occurrence count.
    *
    * Scale shape: the adjacency join is (doc, pos)-keyed — one
    * co-partitioned self-join of the token stream; the phrase filter
    * broadcasts one row; top-k is orderBy+limit. A serving deployment
    * materializes the positional index once and probes it per query.
    */
  def phraseSearch(docs: DataFrame, k: Int = 20): DataFrame =
    phraseSearchK(docs, 2, k)

  /** k-token positional phrase search — [[phraseSearch]] generalized
    * past bigrams by ITERATED POSITIONAL INTERSECTION, the way a real
    * positional index answers an n-token phrase: anchor on the
    * phrase's RAREST word (min posting-list length) and intersect the
    * positional postings of every other word at its relative offset
    * from the anchor. The phrase stays data-derived (the corpus's
    * most frequent n-gram under the same adjacency rule, ties
    * lexicographic) so the query is hash-stable at every SF.
    *
    * Why the rarest word (r9 verdict #2): the declared phrase is the
    * corpus's most frequent n-gram, so its FIRST word is near-
    * guaranteed a stop-word-class term — anchoring there makes the
    * anchor set one of the largest posting lists in the corpus and
    * every probe step a join of that whole set against the token
    * stream. The classic positional-index plan anchors on the min-df
    * word instead: same output by construction (a phrase occurrence
    * contains every word at its offset, whichever one you start
    * from), anchor set smaller by the df ratio — orders of magnitude
    * on natural text. The posting lengths come from the phrase-word
    * df lookup (n tiny rows collected, the pricing-table convention),
    * and when the anchor posting list is small enough the probe
    * chain broadcasts IT, so each step is a broadcast hash join of
    * the shrinking candidate set against the big token stream — never
    * a shuffle of the stream itself.
    *
    * Scale shape, two halves: (1) the argmax n-gram comes from a lead
    * WINDOW over the positioned token stream — one exchange on
    * doc_id, not a positional self-join — with lead(pos, i) = pos + i
    * guards so an n-gram never spans a position gap (raw split
    * positions skip filtered empty tokens, and the postings-
    * intersection probe would never match across such a gap);
    * (2) the probe anchors on the rarest word and runs n−1 joins of
    * the candidate set against the token stream keyed (doc_id, pos),
    * broadcast when the anchor df stays under `broadcastMaxDf`. A
    * serving deployment materializes the positional index once and
    * reuses it across queries.
    */
  def phraseSearchK(docs: DataFrame, n: Int = 3, k: Int = 20,
      broadcastMaxDf: Long = 2000000L,
      anchorIdxOverride: Option[Int] = None): DataFrame = {
    require(n >= 2, s"phrase length must be >= 2, got $n")
    anchorIdxOverride.foreach(i => require(i >= 0 && i < n,
      s"anchorIdxOverride must be in [0, $n), got $i"))
    import org.apache.spark.sql.expressions.Window
    val tok = Shingles.tokensWithPos(docs).localCheckpoint(true)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val wordCols = (0 until n).map(i => s"w$i")
    val spans = tok.select(
      col("doc_id") +: col("pos") +: col("term").as("w0") +:
        (1 until n).flatMap(i => Seq(
          lead(col("term"), i).over(w).as(s"w$i"),
          lead(col("pos"), i).over(w).as(s"p$i"))): _*)
      .filter((1 until n).map(i => col(s"p$i") === col("pos") + i)
        .reduce(_ && _))
    val top = spans.groupBy(wordCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc +: wordCols.map(col): _*)
      .limit(1)
      .select(wordCols.map(col): _*)
      .collect() // ONE row — the phrase itself (a driver-side scalar)
    if (top.isEmpty)
      // empty corpus: stable schema, zero rows
      return tok.filter(lit(false))
        .select(col("doc_id"), lit("").as("phrase"),
          lit(0L).as("n_occurrences"))
    val words = wordCols.map(c => top.head.getAs[String](c))
    // posting lengths of the phrase's words — the n-row pricing table
    // that picks the anchor (min count, ties to the earliest offset)
    val dfByTerm = tok.filter(col("term").isin(words.distinct: _*))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // anchorIdxOverride is the probe-only contrast knob (ScaleProbe
    // measures min-df vs forced-first-word on the same corpus); output
    // is anchor-invariant, only the join sizes change
    val aIdx = anchorIdxOverride.getOrElse(
      words.indices.minBy(i => (dfByTerm(words(i)), i)))
    val anchorBroadcasts = dfByTerm(words(aIdx)) <= broadcastMaxDf
    val anchors = tok.filter(col("term") === lit(words(aIdx)))
      .select(col("doc_id"), col("pos"))
    // probe every non-anchor word at its offset relative to the anchor
    def probeStep(acc: DataFrame, i: Int): DataFrame = {
      val lhs = if (anchorBroadcasts) broadcast(acc) else acc
      lhs.join(
        tok.select(col("doc_id").as("pd"), col("pos").as("pp"),
          col("term").as("pt")),
        col("pd") === col("doc_id") &&
          col("pp") === col("pos") + (i - aIdx) &&
          col("pt") === lit(words(i)))
        .drop("pd", "pp", "pt")
    }
    val matched = words.indices.filter(_ != aIdx).foldLeft(anchors)(probeStep)
    matched
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        lit(words.mkString(" ")).as("phrase"),
        col("n_occurrences"))
  }

  /** Corpus-metric stability under deterministic half-sampling — the
    * error bar every datasheet number should carry: `b` replicates,
    * each keeping the docs whose salted hash is even (an independent
    * deterministic half-sample per replicate), recompute the metric
    * (mean doc token length) on each, and report the replicate spread
    * (subsample-stability bootstrap). A metric whose half-sample
    * means scatter widely is dominated by a few documents and should
    * not gate a release decision by itself.
    *
    * Exactness: per-replicate means are IEEE divides of exact sums;
    * the cross-replicate mean/sd computes from floor-quantized micro
    * longs, so the whole table sits behind the hash gate. Scale: ONE
    * doc-length pass fanned out ×b by a broadcast replicate table —
    * cost is b× a count aggregate, never b corpus scans.
    */
  def metricStability(docs: DataFrame, b: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = Shingles.tokensWithPos(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("v"))
      .localCheckpoint(true)
    val reps = (0 until b).toDF("rep")
    val perRep = lens.crossJoin(broadcast(reps))
      .filter(Shingles.hash32(concat(lit("boot:"), col("rep").cast("string"),
        lit(":"), col("doc_id").cast("string"))) % 2 === 0)
      .groupBy("rep")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("v")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_len"))
    val summary = perRep
      .select(floor(col("mean_len") * lit(1e6) + lit(0.5)).cast("long").as("m"))
      .agg(count(lit(1)).as("nb"), sum(col("m")).as("sm"),
        sum(col("m") * col("m")).as("sm2"))
      .select(
        ((col("sm").cast("double") / lit(1e6)) / col("nb").cast("double"))
          .as("boot_mean"),
        // variance clamped at 0: near-identical replicate means can
        // quantize a few ulps negative, and sqrt(-ε) is NaN in Spark
        // but engine-defined in the oracle — clamp on BOTH sides
        sqrt(greatest(lit(0.0),
          (col("sm2").cast("double") / lit(1e12)) / col("nb").cast("double") -
            ((col("sm").cast("double") / lit(1e6)) / col("nb").cast("double")) *
              ((col("sm").cast("double") / lit(1e6)) / col("nb").cast("double"))))
          .as("boot_sd"))
    perRep.crossJoin(broadcast(summary))
      .select(col("rep"), col("n_docs"), col("mean_len"),
        col("boot_mean"), col("boot_sd"))
      .orderBy("rep")
  }

  /** Per-source character-level Shannon entropy — the encoding-health
    * row of the datasheet: natural language sits in a narrow
    * bits-per-character band (≈4 for English-like text), while
    * mojibake, base64 blobs, or binary-in-text sources drift high and
    * template spam drifts low — a one-aggregate detector for whole
    * classes of ingest corruption that token-level stats can't see.
    * Spark enumerates characters with one split(text, '') per doc;
    * the DuckDB oracle keeps its generate_series+substr enumeration
    * (string_split on '' differs there) — same char multiset,
    * hash-gate-pinned;
    * each −p·log2(p) term quantizes to DECIMAL(28,6) BEFORE the sum
    * (the q_dataset_card lang-entropy pattern), so the hash gate
    * covers the arithmetic.
    *
    * Scale shape (r16): characters come from ONE split(text, "") per
    * document — a single O(len) pass — replacing the earlier chunked
    * per-char substr enumeration (O(len·chunk) byte scans plus a
    * second generator level; the chunking itself existed only to bound
    * substr's O(i) scans). Empty docs and split's trailing "" are
    * dropped by the same <> '' filter; the char multiset is identical
    * and the oracle (which enumerates via generate_series + substr,
    * engine-side) pins it at every SF.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    // r16: one explode of split(text, "") — one O(len) pass per doc —
    // instead of the chunk explode + per-char substr enumeration. The
    // substr form paid an O(chunk) byte scan PER CHARACTER (bounded by
    // the 1 KB chunking, but still ~chunkLen× the work of a single
    // split) plus a second generator level. split on the empty pattern
    // yields exactly the text's characters (a trailing "" under
    // limit=-1 is dropped by the <> "" filter that empty-doc handling
    // needs anyway); the char multiset — and therefore every count —
    // is identical, which the unchanged oracle pins at all SFs. The
    // old form's empty-doc sequence(1,0) guard is moot here: split of
    // "" gives [""], filtered.
    val chars = docs
      .select(col("source"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= " " && col("ch") =!= "")
    val freq = chars.groupBy("source", "ch").agg(count(lit(1)).as("cnt"))
    val tot = freq.groupBy("source").agg(sum(col("cnt")).as("n_chars"),
      count(lit(1)).as("n_distinct_chars"))
    freq.join(tot, "source")
      .select(col("source"), col("n_chars"), col("n_distinct_chars"),
        (-(col("cnt").cast("double") / col("n_chars").cast("double")) *
          log2(col("cnt").cast("double") / col("n_chars").cast("double")))
          .cast(DecimalType(28, 6)).as("term"))
      .groupBy("source", "n_chars", "n_distinct_chars")
      .agg(sum(col("term")).cast("double").as("entropy_bits"))
  }

  /** Language ID with a CONFIDENCE MARGIN — the router's form of
    * [[langPredictions]]: besides the argmax language, the top and
    * runner-up marker scores and their margin, plus a `confident`
    * flag (top > 0 and margin ≥ 2). A production pipeline routes
    * low-margin documents to a heavier classifier or human review
    * instead of trusting a coin-flip argmax — the margin column is
    * what makes that routing a filter, not a model change.
    */
  def langConfidence(docs: DataFrame): DataFrame = {
    val markerScores: Seq[Column] = langMarkers.map { case (lang, ws) =>
      sum(when(col("term").isInCollection(ws), 1L).otherwise(0L)).as(s"s_$lang")
    }
    val scored = TfIdf.tokens(docs)
      .groupBy("doc_id")
      .agg(markerScores.head, markerScores.tail: _*)
    val best = langMarkers.map(_._1).foldLeft(lit("und")) { (acc, lang) =>
      when(col(s"s_$lang") > lit(0) &&
        langMarkers.map(_._1).filter(_ < lang).map(l => col(s"s_$lang") > col(s"s_$l"))
          .foldLeft(langMarkers.map(_._1).filter(_ > lang).map(l => col(s"s_$lang") >= col(s"s_$l"))
            .foldLeft(lit(true))(_ && _))(_ && _), lit(lang)).otherwise(acc)
    }
    val sortedScores = sort_array(
      array(langMarkers.map(m => col(s"s_${m._1}")): _*), asc = false)
    scored.select(col("doc_id"), best.as("pred_lang"),
      element_at(sortedScores, 1).as("top_score"),
      element_at(sortedScores, 2).as("second_score"),
      (element_at(sortedScores, 1) - element_at(sortedScores, 2)).as("margin"),
      (element_at(sortedScores, 1) > 0 &&
        element_at(sortedScores, 1) - element_at(sortedScores, 2) >= 2)
        .cast("int").as("confident"))
  }

  /** Content fingerprints: order-insensitive bag-of-words md5 + minimum
    * shingle hash (1-permutation minhash / winnowing seed).
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val bow = TfIdf.tokens(docs)
      .groupBy("doc_id")
      .agg(md5(concat_ws(" ", array_sort(collect_set(col("term"))))).as("bow_md5"))
    val minShingle = Shingles.shingles(docs, 3)
      .groupBy("doc_id")
      .agg(min(Shingles.hash32(col("shingle"))).as("min_shingle_hash"))
    bow.join(minShingle, Seq("doc_id"), "left")
  }

  /** Deterministic content-hash bucket in [0, 100): stable across runs,
    * engines, and cluster sizes — the right way to sample or split
    * training data (seeded RNG sampling is engine-specific and breaks
    * reproducibility between Spark and any other system).
    */
  def hashBucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** SQL mirror of [[hashBucket]] (DuckDB; no conv there). */
  def hashBucketSql(expr: String): String = {
    val m = s"md5(CAST($expr AS VARCHAR))"
    val nibble = (i: Int) =>
      s"CAST(CASE WHEN ascii(substr($m,$i,1)) >= 97 THEN ascii(substr($m,$i,1)) - 87" +
        s" ELSE ascii(substr($m,$i,1)) - 48 END AS BIGINT)"
    s"((${nibble(1)} * 4096 + ${nibble(2)} * 256 + ${nibble(3)} * 16 + ${nibble(4)}) % 100)"
  }

  /** BM25 document ranking for a query term set (k1 = 1.2, b = 0.75):
    * the classic retrieval scorer, here over the engine's tf table.
    * Pure count arithmetic + one ln per (term, doc) — deterministic
    * across engines with the decimal-sum trick for the per-doc total.
    * One shuffle for tf, one for doc lengths, one tiny broadcast of the
    * query terms; scales like the tf-idf pipeline it shares stages with.
    */
  def bm25(docs: DataFrame, queryTerms: DataFrame, k: Int = 50): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val tok = TfIdf.tokens(docs)
    val n = docs.count().toDouble
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val avgdl = dl.agg(sum(col("dl"))).head.getLong(0).toDouble / n
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf
      .join(broadcast(queryTerms), "term")
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .withColumn("idf", log((lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("s",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
    // quantize each term's contribution at 1e-6 BEFORE the exact sum:
    // ln()/division differ across engines in the last ulp, and a
    // 1e-16 discrepancy sits safely inside a 1e-6 grid cell (it flipped
    // a digit at 1e-10 — observed at sf0.001)
    perTerm.groupBy("doc_id")
      .agg(sum(col("s").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
        .cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Benchmark decontamination: flag corpus documents sharing n-gram
    * shingles with a probe set (the shingles of held-out eval
    * documents). The probe side is tiny and broadcast; the corpus side
    * is the same shingle stream every dedup sketch uses — one scan, one
    * aggregate, no full-corpus pairwise anything. At 100 TB the probe
    * set (all public benchmarks ≈ millions of n-grams) still fits in a
    * broadcast; this is the standard eval-contamination filter of a
    * training-data pipeline.
    */
  def contamination(docs: DataFrame, probeDocs: DataFrame, n: Int = 3): DataFrame =
    contaminationFromShingles(Shingles.shingles(docs, n), probeDocs, n)

  /** [[contamination]] against a PRECOMPUTED corpus (doc_id, shingle)
    * stream — the pipeline-reuse entry point: a curation run that
    * already materialized the shingle pass for its dedup sketches feeds
    * it here too, so decontamination costs one broadcast join instead
    * of a second full-corpus tokenize+window pass (at 100 TB that pass
    * IS the dominant cost; see [[graft.ops.Curation]]).
    */
  def contaminationFromShingles(corpusShingles: DataFrame, probeDocs: DataFrame,
      n: Int = 3): DataFrame = {
    val probe = Shingles.shingles(probeDocs, n)
      .select(col("shingle")).distinct()
    corpusShingles
      .join(broadcast(probe), "shingle")
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_hits"))
  }

  /** Unigram language-model score per document — the CCNet-style
    * perplexity-proxy quality filter (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets"): average token
    * negative log-likelihood under the corpus's own unigram
    * distribution. Documents made of rare tokens (noise, gibberish,
    * wrong-language fragments) score high; common fluent text scores
    * low — the standard cheap first-pass signal when a real LM is too
    * expensive. Scale: the unigram table is one aggregate (vocab-sized,
    * broadcast even at 100 TB); scoring rides the token scan. Each
    * token's −ln p is quantized at 1e-6 BEFORE the exact decimal sum
    * (the BM25 cross-engine trick: ln differs in the last ulp across
    * engines); the final mean is one double division, identical on
    * both.
    */
  /** Sliding-window context chunking with overlap — the long-document
    * splitter of RAG indexing and max-context pretraining prep: chunk
    * i covers token positions [i·stride+1, i·stride+size] (stride =
    * size − overlap), so consecutive chunks share `overlap` tokens and
    * no boundary sentence is ever seen without context. Contrast with
    * [[packSequences]] (concatenate-and-chunk ACROSS docs, zero
    * overlap) and Dedup.cdcChunkStats (content-defined boundaries):
    * this is the fixed-geometry, overlap-preserving cut. Emits one row
    * per (doc, chunk) with the chunk's position span and an
    * order-pinned fingerprint, so the oracle checks the actual token
    * assignment, not just counts.
    *
    * Scale shape: each token computes its own chunk-membership range
    * arithmetically and explodes into ≤ ⌈size/stride⌉ = 2 rows (no
    * range join, no per-doc loop); one (doc, chunk) aggregate builds
    * the outputs. The per-doc token count window and that aggregate
    * both ride one exchange of the raw doc rows (`Tables.byDoc`), so
    * the token stream is never shuffled.
    */
  def chunkWithOverlap(docs: DataFrame, size: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < size, s"overlap $overlap must be < size $size")
    import org.apache.spark.sql.expressions.Window
    val t = size - overlap
    val n = count(lit(1)).over(Window.partitionBy("doc_id"))
    // floor(a/b) on small longs is IEEE-exact and matches DuckDB's //
    // (the one negative-operand case is clamped to 0 on both engines)
    val nChunks =
      when(col("n") <= size, lit(1L))
        .otherwise(floor((col("n") - size + t - 1) / lit(t.toDouble)) + 1)
    val ciLo = greatest(lit(0L), floor((col("pos") - size + t - 1) / lit(t.toDouble)))
    val ciHi = least(floor((col("pos") - 1) / lit(t.toDouble)), col("n_chunks") - 1)
    Shingles.tokensWithPos(Tables.byDoc(docs))
      .withColumn("n", n)
      .withColumn("n_chunks", nChunks)
      .select(col("doc_id"), col("pos"), col("term"),
        explode(sequence(ciLo, ciHi)).as("chunk_idx"))
      .groupBy("doc_id", "chunk_idx")
      .agg(
        count(lit(1)).as("n_chunk_tokens"),
        min(col("pos")).cast("long").as("first_pos"),
        max(col("pos")).cast("long").as("last_pos"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("term")))),
            p => p.getField("term")))).as("chunk_md5"))
  }

  /** Bigram-LM perplexity proxy — the CCNet direction one order up
    * from [[unigramNll]]: per-doc mean −ln p(term | prev) under the
    * corpus's add-one-smoothed bigram model (p = (c₂+1)/(c₁+V), V =
    * corpus type count). Context-aware NLL separates locally-fluent
    * text from bag-of-frequent-words spam that the unigram score
    * cannot tell apart (same tokens, scrambled order — spec-pinned).
    * Per-token −ln p quantizes to DECIMAL(28,6) before the exact
    * per-doc sum, the shared cross-engine determinism pattern.
    *
    * Scale shape: the bigram stream builds per-row from the split
    * array (zero exchanges — [[bigramStream]]); the model tables
    * derive from the SAME stream (two grouped
    * aggregates) and join back on their own keys — token-stream-sized
    * equi-joins on (w1, w2) / (w1), the shape AQE re-plans
    * freely; only the one-row V total touches the driver. At 100 TB
    * the bigram key would be hash32'd before the shuffles.
    */
  def bigramNll(docs: DataFrame): DataFrame = {
    val big = bigramStream(docs)
    val v = TfIdf.tokens(docs).select("term").distinct().count().toDouble
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    big
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"),
        (-log((col("c2").cast("double") + lit(1.0)) /
          (col("c1").cast("double") + lit(v))))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("nll"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("nll")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram NLL — the real LM smoothing one
    * rung above [[bigramNll]]'s add-one (Kneser & Ney 1995; Chen &
    * Goodman 1998 eq. 4.25). Per bigram:
    * p(w|v) = max(c(v,w)−D, 0)/c(v) + D·N₁₊(v,·)/c(v) · p_cont(w),
    * p_cont(w) = N₁₊(·,w)/N₁₊(··), D = 0.75. The continuation
    * distribution is what add-one cannot express: a word seen after
    * MANY distinct contexts ("the", function words) gets more of the
    * discounted mass than a same-frequency word welded to one context
    * ("Francisco") — the distinction that makes KN the standard n-gram
    * smoother for quality filtering.
    *
    * Scale shape: identical to [[bigramNll]] — the bigram stream
    * builds per-row with zero exchanges, and EVERY count table (c2, then
    * c1/N₁₊fwd/N₁₊bwd derived from c2, types-total scalar) comes from
    * grouped aggregates of that one stream; scoring is three
    * bigram-type-keyed equi-joins back onto it. Only the one-row types
    * total touches the driver. Per-token −ln p quantizes to
    * DECIMAL(28,6) before the exact per-doc sum (the cross-engine
    * determinism pattern).
    */
  def knBigramNll(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val big = bigramStream(docs)
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // c1 and the left-diversity N₁₊(v,·) fall out of ONE aggregate of
    // c2 (vocab²-bounded, tiny next to the token stream); same for the
    // continuation counts N₁₊(·,w).
    val c1 = c2.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p_fwd"))
    val cont = c2.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    val t = c2.count().toDouble // total distinct bigram types (scalar)
    val d = lit(discount)
    val out = big
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(cont, Seq("w2"))
      .select(col("doc_id"),
        (-log(
          greatest(col("c2").cast("double") - d, lit(0.0)) / col("c1").cast("double")
            + d * col("n1p_fwd").cast("double") / col("c1").cast("double")
              * (col("n1p_bwd").cast("double") / lit(t))))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("nll"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("nll")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_nll"))
    val ck = out.localCheckpoint(true)
    c2.unpersist(false)
    ck
  }

  def unigramNll(docs: DataFrame): DataFrame = {
    val tok = TfIdf.tokens(docs)
    val total = tok.count().toDouble
    val uni = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    tok.join(broadcast(uni), "term")
      .select(col("doc_id"),
        (-log(col("cnt").cast("double") / lit(total)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("nll"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("nll")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_nll"))
  }

  /** Exact distributed order statistics — the scale-correct EXACT
    * counterpart of the GK sketch (q_approx_quantile): the value at
    * rank ⌈q·n⌉ of the per-doc token-length distribution, computed by
    * the banded two-phase rank (the q_sorted_neighborhood /
    * q_shuffle_rank machinery pointed at VALUE order): lengths band by
    * value range (band = v / 16), per-band counts prefix-sum on a
    * frame with one row per band (bounded at any corpus size — the
    * value range divides into fixed-width cells), and each length
    * ranks WITHIN its band in parallel, offset by the band prefix. No
    * global sort, no single-partition data window — yet the answer is
    * the exact order statistic, which a 100 TB length-cutoff decision
    * (truncation budgets, outlier fences) actually needs where the
    * sketch's ε-bound is not contractual.
    */
  def lengthQuantiles(docs: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = Shingles.tokensWithPos(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("v"))
      .localCheckpoint(true) // feeds the bands, the rank pass, and n
    val banded = lens.withColumn("band", (col("v") / 16).cast("long"))
    val wBand = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the only unpartitioned window runs over ONE ROW PER BAND — the
    // pack_sequences bucket-frame rule, not a data-sized sort
    val offsets = banded.groupBy("band").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wBand), lit(0L)))
      .select("band", "off")
    val wIn = Window.partitionBy("band").orderBy(col("v"), col("doc_id"))
    val ranked = banded.join(broadcast(offsets), "band")
      .withColumn("r", row_number().over(wIn) + col("off"))
    val targets = qs.toDF("q")
      .crossJoin(broadcast(lens.agg(count(lit(1)).as("n"))))
      .select(col("q"), ceil(col("q") * col("n")).cast("long").as("r"), col("n"))
    ranked.join(broadcast(targets), "r")
      .select(col("q"), col("n"), col("r").as("rank"),
        col("v").as("value"), col("doc_id"))
      .orderBy("q")
  }

  /** Folded bin packing — the padding-waste reducer one rung above
    * [[packSequences]]' concatenate-and-chunk: pair the i-th SHORTEST
    * document with the i-th LONGEST (rank r pairs with n+1−r; bin id
    * = min(r, n+1−r)), so short and long docs share context windows
    * instead of each padding one out — the classic folded
    * approximation of best-fit-decreasing that needs only a rank, not
    * a sequential packer (deterministic, distributed, resumable —
    * what a greedy first-fit loop can never be on 1000 executors).
    * Lengths cap at the window budget (an over-long doc truncates at
    * ingest and fills a bin alone). Per bin: member count, total
    * tokens, fits flag, slack (negative = overflow the trainer
    * splits).
    *
    * Ranks come from the same banded two-phase machinery as
    * [[lengthQuantiles]]; with capped lengths the band table is at
    * most budget/16 rows.
    */
  def packBins(docs: DataFrame, budget: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = Shingles.tokensWithPos(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("v0"))
      .select(col("doc_id"), least(col("v0"), lit(budget.toLong)).as("len"))
      .localCheckpoint(true)
    val banded = lens.withColumn("band", (col("len") / 16).cast("long"))
    val wBand = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy("band").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wBand), lit(0L)))
      .select("band", "off")
    val wIn = Window.partitionBy("band").orderBy(col("len"), col("doc_id"))
    val ranked = banded.join(broadcast(offsets), "band")
      .withColumn("r", row_number().over(wIn) + col("off"))
    ranked
      .crossJoin(broadcast(lens.agg(count(lit(1)).as("n"))))
      .withColumn("bin", least(col("r"), col("n") + 1 - col("r")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"))
      .select(col("bin"), col("n_docs"), col("total_tokens"),
        (col("total_tokens") <= budget).cast("int").as("fits"),
        (lit(budget.toLong) - col("total_tokens")).as("slack"))
      .orderBy("bin")
  }

  /** Per-source exact quantiles — [[lengthQuantiles]] stratified by
    * source (the datasheet row a mixture designer reads: every
    * domain's p50/p90/p99 document length, exactly): the banded
    * two-phase rank runs per (source, band) — in-stratum ranks stay
    * parallel across bands, the prefix frame holds one row per
    * (source, band) (bounded: sources × value-range cells), and each
    * stratum answers its own rank targets. Exactness and no-global-
    * sort both carry over from the unstratified form.
    */
  def sourceLengthQuantiles(docs: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = Shingles.tokensWithPos(docs, carry = Seq("source"))
      .groupBy("doc_id", "source").agg(count(lit(1)).as("v"))
      .localCheckpoint(true)
    val banded = lens.withColumn("band", (col("v") / 16).cast("long"))
    val wBand = Window.partitionBy("source").orderBy("band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy("source", "band").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wBand), lit(0L)))
      .select("source", "band", "off")
    val wIn = Window.partitionBy("source", "band").orderBy(col("v"), col("doc_id"))
    val ranked = banded.join(broadcast(offsets), Seq("source", "band"))
      .withColumn("r", row_number().over(wIn) + col("off"))
    val totals = lens.groupBy("source").agg(count(lit(1)).as("n"))
    val targets = qs.toDF("q")
      .crossJoin(broadcast(totals))
      .select(col("source"), col("q"),
        ceil(col("q") * col("n")).cast("long").as("r"), col("n"))
    ranked.join(broadcast(targets), Seq("source", "r"))
      .select(col("source"), col("q"), col("n"), col("r").as("rank"),
        col("v").as("value"), col("doc_id"))
      .orderBy("source", "q")
  }

  /** Curriculum ordering — the easy-first training schedule
    * (Bengio et al. 2009) as a deterministic, scale-correct artifact:
    * difficulty is the per-doc unigram NLL per token ([[unigramNll]]
    * — rare-word-heavy docs read as hard), docs band into ABSOLUTE
    * integer difficulty buckets (floor(avg_nll) — never global
    * quantiles, which would need a corpus-wide sort or an approximate
    * sketch the oracle can't pin), and each bucket is internally
    * shuffled by the salted doc hash (the q_shuffle_rank recipe).
    * Training reads (bucket asc, rank_in_bucket) — easy bands first,
    * order within a band decorrelated from ingest order.
    *
    * Scale shape: the only window runs WITHIN a bucket (parallel
    * across bands); difficulty is one token pass + one broadcast
    * model join — no global sort anywhere.
    */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bucket").orderBy(col("shuffle_key"), col("doc_id"))
    unigramNll(docs)
      .withColumn("bucket", floor(col("avg_nll")).cast("int"))
      .withColumn("shuffle_key",
        Shingles.hash32(concat(lit("cur:"), col("doc_id").cast("string"))))
      .withColumn("rank_in_bucket", row_number().over(w))
      .select("doc_id", "n_tokens", "avg_nll", "bucket", "rank_in_bucket")
  }

  /** Token-stream sequence packing: concatenate documents in doc_id
    * order into one global token stream and cut it into fixed
    * `chunkTokens`-token training windows — the standard "concatenate
    * and chunk" batching of LLM pretraining. Per document: its start
    * offset in the stream, the first/last chunk it lands in, and how
    * many chunk boundaries it spans.
    *
    * The global cumulative offset is a distributed two-phase prefix
    * sum, NOT a single global window (Window.orderBy with no partition
    * moves the whole corpus to one partition — the naive formulation
    * that dies at scale): per-doc counts cumsum WITHIN an id-range
    * bucket (parallel across buckets), per-bucket subtotals prefix-sum
    * on a frame with one row per bucket (tiny at any corpus size —
    * 100 TB / bucketWidth docs ≈ thousands of rows), and the bucket
    * offsets broadcast back. Integer arithmetic end to end, so the
    * result equals the oracle's global-window cumsum exactly.
    */
  def packSequences(docs: DataFrame, chunkTokens: Int = 256,
      bucketWidth: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = TfIdf.tokens(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketWidth"))
    val wIntra = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = counts.withColumn("cum_end", sum(col("n_tokens")).over(wIntra))
    // one row per bucket: the only unpartitioned window in the engine
    // runs over this bounded frame, never over the corpus
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.groupBy("bucket").agg(sum(col("n_tokens")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(wBucket), lit(0L)))
      .select("bucket", "boff")
    intra.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("n_tokens"),
        (col("boff") + col("cum_end") - col("n_tokens")).as("start_off"))
      .withColumn("first_chunk", expr(s"start_off DIV $chunkTokens"))
      .withColumn("last_chunk", expr(s"(start_off + n_tokens - 1) DIV $chunkTokens"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + lit(1L))
  }

  /** Intra-document repetition statistics over token n-grams — the
    * Gopher-style repetition quality rules (Rae et al., "Scaling
    * Language Models", §A1.1: duplicate/top n-gram fractions flag
    * boilerplate and degenerate text). Per document: total and distinct
    * n-gram counts, the fraction of duplicate n-gram occurrences, and
    * the fraction claimed by the single most-repeated n-gram. One
    * shingle pass + two aggregates keyed by doc_id — embarrassingly
    * parallel, no cross-document state at any corpus size. Fractions
    * are single integer→double divisions, so both engines agree
    * bit-for-bit.
    */
  def repetitionStats(docs: DataFrame, n: Int = 3): DataFrame =
    Shingles.shingles(docs, n)
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        ((sum(col("c")) - count(lit(1))).cast("double") / sum(col("c")).cast("double"))
          .as("dup_frac"),
        (max(col("c")).cast("double") / sum(col("c")).cast("double")).as("top_frac"))

  /** Deterministic weighted (probability-proportional-to-size) sample:
    * each document races with priority hash(text)/weight — a uniform
    * race with speed `weight`, so P(i beats j) = wᵢ/(wᵢ+wⱼ) — and the
    * k smallest priorities win. Priority sampling with a content-hash
    * uniform instead of seeded RNG: reproducible across engines,
    * re-runs, and cluster sizes, and the priority is one integer→double
    * division (no transcendentals), so the selected set is
    * oracle-exact. Scale: priority rides the scan; the top-k is
    * TakeOrderedAndProject — no shuffle, k rows to the driver.
    */
  def weightedSample(docs: DataFrame, weight: Column, k: Int = 50): DataFrame =
    docs.select(
        col("doc_id"), col("source"), col("lang"), col("n_chars"),
        (Shingles.hash32(col("text")).cast("double") / weight.cast("double"))
          .as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)

  /** Token-budget mixture sampling: per source, admit documents in a
    * deterministic shuffled order until the source's TOKEN budget is
    * exhausted — how a pretraining mix is actually drawn (mixture
    * weights are token budgets, not document counts, because document
    * length varies wildly across sources). A document is admitted iff
    * the token mass before it in its source's shuffled order is under
    * budget, so the boundary document may overflow — the standard
    * greedy cut. The shuffle key is the content-hash of a prefixed
    * doc_id (reproducible across engines/cluster sizes, independent of
    * the train/valid/test hash and the shuffle-rank key).
    *
    * Scale: one token-count aggregate + one window PER SOURCE (each
    * source's cumsum runs partition-parallel across sources; within a
    * source this is the same bounded-frame running sum every SCD2/
    * sessionize op pays). Output is one row per source.
    */
  def tokenBudgetSample(docs: DataFrame, budget: Long = 800): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TfIdf.tokens(docs)
      .groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
    val w = Window.partitionBy("source").orderBy("skey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"))
      .join(toks, Seq("doc_id"), "left")
      .withColumn("n_toks", coalesce(col("n_toks"), lit(0L)))
      .withColumn("skey",
        Shingles.hash32(concat(lit("budget:"), col("doc_id").cast("string"))))
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_toks")).as("kept_tokens"))
  }

  /** Cumulative data-curation filter funnel: per-stage survivor counts
    * for the standard cleaning chain (length band → minimum token
    * count → stopword-density cap → exact-dup removal). One tokenize
    * pass + one window over the content hash — no per-stage rescans, so
    * the funnel costs the same as a single quality pass at any scale.
    * Each stage is cumulative (ANDs all earlier predicates), which is
    * what an ablation report of a training-data pipeline shows.
    */
  def qualityFunnel(docs: DataFrame): DataFrame = {
    val stats = TfIdf.tokens(docs)
      .join(broadcast(topTerms(docs)), col("term") === col("stop_term"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("stop_term").isNotNull, 1L).otherwise(0L)).as("n_stop"))
    val wDup = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val flags = docs.join(stats, Seq("doc_id"), "left")
      .withColumn("keep_doc", min(col("doc_id")).over(wDup))
      .select(
        col("n_chars").between(100, 500).as("f_len"),
        (coalesce(col("n_tokens"), lit(0L)) >= 40).as("f_tok"),
        (coalesce(col("n_stop"), lit(0L)).cast("double")
          / coalesce(col("n_tokens"), lit(1L)) <= 0.6).as("f_stop"),
        (col("doc_id") === col("keep_doc")).as("f_uniq"))
    flags.agg(
        count(lit(1)).as("s0"),
        sum(when(col("f_len"), 1L).otherwise(0L)).as("s1"),
        sum(when(col("f_len") && col("f_tok"), 1L).otherwise(0L)).as("s2"),
        sum(when(col("f_len") && col("f_tok") && col("f_stop"), 1L).otherwise(0L)).as("s3"),
        sum(when(col("f_len") && col("f_tok") && col("f_stop") && col("f_uniq"), 1L)
          .otherwise(0L)).as("s4"))
      .select(expr(
        """stack(5,
          |  '0_all',        s0,
          |  '1_length',     s1,
          |  '2_min_tokens', s2,
          |  '3_stopwords',  s3,
          |  '4_exact_dedup',s4)""".stripMargin).as(Seq("stage", "n_docs")))
      .orderBy("stage")
  }

  /** Per-source rebalancing to the smallest source's size: compute each
    * source's integer keep-rate toward the global minimum count, then
    * apply it with the deterministic content-hash bucket. The rate
    * derivation is a global window over the (tiny) per-source count
    * frame — no driver round-trip — and the selection is one codegen'd
    * scan pass, so the whole rebalance is one aggregate + one scan at
    * any corpus size.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    val rates = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("rate",
        expr("100 * min(n_docs) OVER () DIV n_docs"))
    docs.join(broadcast(rates), "source")
      .groupBy("source")
      .agg(
        max(col("n_docs")).as("n_docs"),
        max(col("rate")).as("rate"),
        sum(when(hashBucket(col("doc_id")) < col("rate"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Temperature-scaled source mixing (the multilingual-corpus
    * rebalancing rule, cf. the α-sampling of XLM-R / mT5): sampling
    * weight w_s ∝ n_s^α with α = 1/2, which flattens the source
    * distribution — head sources are down-weighted, tail sources
    * up-weighted — without the min-source cliff of [[sourceMix]].
    * Emits per source the weight and the effective document count
    * w_s · N a weighted sampler would draw.
    *
    * Exactness across engines: √n is IEEE-correctly-rounded in both
    * engines, each √n is quantized to DECIMAL(28,6), and the
    * normalizer is the EXACT decimal sum — order-independent, so the
    * Spark partial/final aggregate and DuckDB's sequential sum agree
    * bit-for-bit (the pagerank precedent). The per-source frame is one
    * row per source, so the normalizer is a one-row broadcast scalar —
    * no single-partition window over data rows at any corpus size.
    */
  def sourceMixTemperature(docs: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", sqrt(col("n_docs").cast("double")).cast(dec))
    val tot = counts.agg(
      sum(col("w_raw")).as("w_tot"), sum(col("n_docs")).as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_docs"),
        (col("w_raw").cast("double") / col("w_tot").cast("double")).as("weight"),
        (col("w_raw").cast("double") / col("w_tot").cast("double")
          * col("n_total").cast("double")).as("eff_docs"))
      .orderBy("source")
  }

  /** Deterministic global corpus shuffle: assign every document a
    * stable pseudo-random position — the reproducible
    * shuffle-before-training step (epoch order must be identical on
    * re-run and resumable mid-epoch, so `orderBy(rand())` is exactly
    * what a training pipeline cannot use). The position is the global
    * rank under a salted md5 key.
    *
    * The global rank is NOT a single-partition window: keys bucket by
    * their high byte (order-preserving), rank within each bucket in
    * parallel, and add a broadcast prefix offset from the
    * one-row-per-bucket count frame — the same two-phase distributed
    * prefix pattern as sequence packing / sorted-neighborhood, so the
    * shuffle scales out; the only single-partition step is a window
    * over ≤ 256 bucket-count rows.
    */
  def shuffleRank(docs: DataFrame): DataFrame = {
    val (lazyOut, keyed) = shuffleRankLazy(docs)
    // eager: the ranked output is the stage result; the keyed working
    // table must not leak cache to the caller
    val out = lazyOut.localCheckpoint(true)
    keyed.unpersist(false)
    out
  }

  /** The shuffle pipeline, lazily: (result, persisted keyed table).
    * The public wrapper materializes and unpersists; PlanSpec asserts
    * the two-phase rank's plan shape on the lazy form.
    */
  private[graft] def shuffleRankLazy(docs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the keyed frame feeds the bucket counts and the rank
    val keyed = docs.select(
        col("doc_id"),
        Shingles.hash32(concat(lit("shuffle:"), col("doc_id").cast("string"))).as("shuffle_key"))
      .withColumn("bkt", shiftright(col("shuffle_key"), 24))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offsets = keyed.groupBy("bkt").agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(
        sum(col("n")).over(Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("bkt", "off")
    val out = keyed
      .withColumn("rin",
        row_number().over(Window.partitionBy("bkt").orderBy("shuffle_key", "doc_id")))
      .join(broadcast(offsets), "bkt")
      .select(col("doc_id"), col("shuffle_key"), (col("off") + col("rin")).as("shuffle_pos"))
    (out, keyed)
  }

  /** Per-language sampling rates (percent) for corpus rebalancing:
    * downsample the over-represented language, keep the rest. A single
    * source of truth drives both the Column tree and the oracle CASE.
    */
  private val strataRates: Seq[(String, Int)] =
    Seq("de" -> 80, "en" -> 25, "es" -> 80, "fr" -> 80, "zh" -> 50)

  /** Out-of-vocabulary rate per document against a data-derived
    * tokenizer vocabulary (the `vocabSize` globally most frequent terms,
    * ties lexicographic). The coverage signal a tokenizer-training
    * pipeline watches: a rising OOV rate means the vocab no longer fits
    * the corpus mix. The vocab is tiny by construction, so the membership
    * probe is a broadcast left join against the token stream — one
    * shuffle (per-doc aggregate), vocab derivation is its own
    * top-k aggregate that never grows past the vocabulary.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 20): DataFrame = {
    val toks = TfIdf.tokens(docs)
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
  }

  /** Vocabulary-id encoding — the actual tokenize-for-training step
    * that [[oovRate]] measures and `packSequences` consumes: terms map
    * to ids by frequency rank (1-based, ties lexicographic; 0 = unk),
    * and each document becomes its id sequence in token order. The
    * declared query emits the sequence as a fingerprint
    * (md5 of the comma-joined ids) plus token/OOV counts, keeping the
    * output row narrow while pinning every id and its position.
    *
    * Scale: the vocab is `vocabSize` rows (the only single-partition
    * window), broadcast into the token stream; the per-doc reassembly
    * is one hash aggregate collecting (pos, id) pairs — the same
    * collect/sort/transform shape as the kmeans centroid rebuild, with
    * per-group state bounded by document length.
    */
  def encodeTokens(docs: DataFrame, vocabSize: Int = 20): DataFrame =
    encodeTokensFromTokens(Shingles.tokensWithPos(docs), vocabSize)

  /** [[encodeTokens]] over a (doc_id, pos, term) token stream —
    * the pipeline-reuse entry point
    * ([[graft.text.Shingles.tokensWithPos]] output): a curation run
    * that already MATERIALIZED its tokenization for other stages
    * encodes from that pass instead of paying its own (at 100 TB the
    * corpus text scan is the cost that matters; vocab and encoding
    * both reading one persisted stream saves a full pass). Caller owns
    * the frame's persistence — handed a lazy frame, the vocab and
    * encode consumers each compute the token subtree against whatever
    * caching the input carries, which for the plain [[encodeTokens]]
    * over a cached corpus costs the same as the historical
    * two-projection shape (an r15 A/B found an internal
    * persist+checkpoint of the token stream SLOWER than recomputing
    * it when the docs frame is already cached — PERF.md r15).
    */
  def encodeTokensFromTokens(tok: DataFrame, vocabSize: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(vocabSize)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select("term", "token_id")
    tok
      .join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("token_id"), lit(0)).as("id"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            p => p.getField("id")))).as("ids_md5"))
  }

  /** Zipf-law fit — the corpus-health regression every large-corpus
    * datasheet carries (Zipf 1949; Piantadosi 2014 review): natural
    * text's rank-frequency curve is near log-log linear with slope
    * ≈ −1, and a corpus that departs hard from that (slope ≫ −1:
    * boilerplate-flooded; ≪ −1: template-dominated head) was mangled
    * somewhere in the pipeline. Fits ordinary least squares on
    * (log10 rank, log10 count) over the top `topN` terms and reports
    * slope, intercept, and R².
    *
    * Exactness: each per-term monomial (x, y, x², xy, y²) is
    * floor-quantized onto the 1e6 integer grid BEFORE the sums, so the
    * five sums are exact longs in any partition order and the closed-
    * form OLS arithmetic runs on identical doubles in both engines.
    *
    * Scale shape: one term-count aggregate (partial+final) → global
    * top-N via orderBy+limit (TakeOrderedAndProject — no global sort);
    * the regression itself is one aggregate over N ≤ 1000 rows. The
    * only window runs over the N-row top table, never the vocabulary.
    */
  def zipfFit(docs: DataFrame, topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def micro(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val top = TfIdf.tokens(docs)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("term"))))
    val lx = log10(col("rank").cast("double"))
    val ly = log10(col("n").cast("double"))
    val m = top.agg(
      count(lit(1)).as("cnt"),
      min(when(col("rank") === 1, col("term"))).as("top_term"),
      max(col("n")).as("top_count"),
      sum(micro(lx)).as("sx"),
      sum(micro(ly)).as("sy"),
      sum(micro(lx * lx)).as("sxx"),
      sum(micro(lx * ly)).as("sxy"),
      sum(micro(ly * ly)).as("syy"))
    def d(name: String): Column = col(name).cast("double") / lit(1e6)
    val cntD = col("cnt").cast("double")
    val varX = cntD * d("sxx") - d("sx") * d("sx")
    val varY = cntD * d("syy") - d("sy") * d("sy")
    val cov = cntD * d("sxy") - d("sx") * d("sy")
    m.select(
      col("cnt").as("n_terms"),
      col("top_term"),
      col("top_count"),
      (cov / varX).as("slope"),
      ((d("sy") - (cov / varX) * d("sx")) / cntD).as("intercept"),
      (cov * cov / (varX * varY)).as("r2"))
  }

  /** Deterministic output sharding: every document lands in one of
    * `nShards` shards by content-independent key hash — the write-path
    * partitioner of a training-data pipeline (shard files must be
    * reproducible across runs and engines, so no round-robin or RNG).
    * The declared query reports the per-shard balance sheet; the skew
    * of n_docs across shards is the thing to watch (md5 on the id keys
    * it within sampling noise of uniform at any corpus size).
    */
  def shardAssign(docs: DataFrame, nShards: Int = 16): DataFrame =
    docs
      .withColumn("shard",
        Shingles.hash32(concat(lit("shard:"), col("doc_id").cast("string"))) % nShards)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenizer-vocabulary coverage: per-doc OOV fraction against the
    // top-20-term vocab (data-derived, tie-broken lexicographically).
    "q_oov_rate" -> { (spark, dir) =>
      oovRate(Tables.documents(spark, dir), 20).orderBy("doc_id")
    },

    // Vocab-id encoding: per-doc id-sequence fingerprint + OOV counts
    // against the top-20 frequency-ranked vocabulary.
    "q_encode_tokens" -> { (spark, dir) =>
      encodeTokens(Tables.documents(spark, dir), 20).orderBy("doc_id")
    },

    // Deterministic 16-way output sharding balance sheet.
    "q_shard_assign" -> { (spark, dir) =>
      shardAssign(Tables.documents(spark, dir), 16).orderBy("shard")
    },

    // Zipf rank-frequency OLS fit over the top-1000 terms: the
    // corpus-health slope/intercept/R² line of the datasheet.
    "q_zipf_fit" -> { (spark, dir) =>
      zipfFit(Tables.documents(spark, dir), 1000)
    },

    // Deterministic ~10% sample by content hash of the key — consistent
    // across engines and re-runs, unlike seeded RNG sampling.
    "q_hash_sample" -> { (spark, dir) =>
      Tables.lineitem(spark, dir)
        .filter(hashBucket(col("l_orderkey")) < 10)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("l_returnflag")
    },

    // Train/validation/test split (80/10/10) by doc_id hash: every
    // engine that can compute md5 assigns each doc to the same split.
    "q_train_split" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .withColumn("split",
          when(hashBucket(col("doc_id")) < 80, "train")
            .when(hashBucket(col("doc_id")) < 90, "valid")
            .otherwise("test"))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("split")
    },

    // Decontamination sweep: docs sharing >=3 distinct trigrams with
    // the probe docs (doc_id < 3 stand in for held-out eval sets).
    "q_contamination" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      contamination(docs.filter(col("doc_id") >= 3), docs.filter(col("doc_id") < 3), 3)
        .filter(col("n_hits") >= 3)
        .orderBy("doc_id")
    },

    // BM25 top-50 docs for the data-derived 3-term query (most frequent
    // terms, ties lexicographic — hash-stable at every scale factor).
    "q_bm25" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      bm25(docs, topTerms(docs, 3).select(col("stop_term").as("term")), 50)
    },

    // Stratified sampling for corpus rebalancing: per-language rates
    // applied via the deterministic hash bucket, so the selected set is
    // identical on every engine and cluster size. One pass, no shuffle
    // beyond the final tiny aggregate.
    "q_stratified_sample" -> { (spark, dir) =>
      val rate = strataRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
      Tables.documents(spark, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(hashBucket(col("doc_id")) < rate, 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("lang")
    },

    // Gopher-style repetition stats: duplicate/top trigram fractions
    // per document (the boilerplate/degenerate-text quality signals).
    "q_repetition" -> { (spark, dir) =>
      repetitionStats(Tables.documents(spark, dir), 3).orderBy("doc_id")
    },

    // CCNet-style perplexity proxy: per-doc mean token NLL under the
    // corpus unigram distribution.
    "q_unigram_nll" -> { (spark, dir) =>
      unigramNll(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Curriculum schedule: absolute NLL difficulty bands, hash-shuffled
    // within each band — training reads (bucket, rank_in_bucket).
    "q_curriculum" -> { (spark, dir) =>
      curriculumOrder(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Exact p50/p90/p99 doc token length via the banded two-phase rank
    // — exact order statistics without a global sort.
    "q_length_quantiles" -> { (spark, dir) =>
      lengthQuantiles(Tables.documents(spark, dir))
    },

    // The same, stratified per source — every domain's exact length
    // percentiles for the mixture datasheet.
    "q_source_quantiles" -> { (spark, dir) =>
      sourceLengthQuantiles(Tables.documents(spark, dir))
    },

    // Folded bin packing: rank r pairs with n+1-r into 256-token
    // windows — short docs absorb long docs' padding.
    "q_pack_bins" -> { (spark, dir) =>
      packBins(Tables.documents(spark, dir), 256)
    },

    // Language ID with the routing margin: argmax language plus
    // top/runner-up scores and the confident flag.
    "q_lang_confidence" -> { (spark, dir) =>
      langConfidence(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Per-source character entropy: the encoding-health detector
    // (mojibake/binary drifts high, template spam drifts low).
    "q_char_entropy" -> { (spark, dir) =>
      charEntropy(Tables.documents(spark, dir)).orderBy("source")
    },

    // Metric stability: 16 deterministic half-samples of mean doc
    // length + the replicate spread — the datasheet error bar.
    "q_metric_stability" -> { (spark, dir) =>
      metricStability(Tables.documents(spark, dir), 16)
    },

    // Positional phrase search: top-20 docs for the corpus's most
    // frequent bigram via adjacent-position postings intersection.
    "q_phrase_search" -> { (spark, dir) =>
      phraseSearch(Tables.documents(spark, dir), 20)
    },

    // The k-token generalization: top-20 docs for the corpus's most
    // frequent TRIGRAM via iterated positional-postings intersection
    // (anchor on word 0, intersect word i at pos + i).
    "q_phrase_search3" -> { (spark, dir) =>
      phraseSearchK(Tables.documents(spark, dir), 3, 20)
    },

    // Per-source test-bigram novelty vs the train half — the
    // generalization-gap / leakage-shape audit of the split.
    "q_ngram_novelty" -> { (spark, dir) =>
      ngramNovelty(Tables.documents(spark, dir)).orderBy("source")
    },

    // The context-aware step up: per-doc mean bigram NLL under the
    // corpus add-one bigram LM — order-sensitive where unigram is not.
    "q_bigram_nll" -> { (spark, dir) =>
      bigramNll(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Interpolated Kneser–Ney (D=0.75): the production n-gram smoother
    // whose continuation distribution add-one cannot express.
    "q_kn_bigram_nll" -> { (spark, dir) =>
      knBigramNll(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Sliding-window chunking, 64-token windows with 16-token overlap:
    // one row per (doc, chunk) with the span and token fingerprint.
    "q_chunk_overlap" -> { (spark, dir) =>
      chunkWithOverlap(Tables.documents(spark, dir), 64, 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // Concatenate-and-chunk sequence packing into 256-token training
    // windows, via the distributed two-phase prefix sum.
    "q_pack_sequences" -> { (spark, dir) =>
      packSequences(Tables.documents(spark, dir), 256).orderBy("doc_id")
    },

    // Weighted (PPS) sampling: top-50 by deterministic priority
    // hash(text)/n_chars — longer documents proportionally favored,
    // selection identical on every engine and cluster size.
    "q_weighted_sample" -> { (spark, dir) =>
      weightedSample(Tables.documents(spark, dir), col("n_chars"), 50)
    },

    // Token-budget mixture draw: 800 tokens per source, greedy cut in
    // deterministic shuffled order — budgets in tokens, not documents.
    "q_token_budget_sample" -> { (spark, dir) =>
      tokenBudgetSample(Tables.documents(spark, dir), 800).orderBy("source")
    },

    // Inverted index: per-term document frequency plus the head of the
    // sorted posting list. Postings are capped for the declared output;
    // the full-list variant is the same aggregate without the slice. At
    // 100 TB posting lists for stop-word-df terms are the skew risk —
    // cap or drop terms above a df ceiling before materializing.
    "q_inverted_index" -> { (spark, dir) =>
      TfIdf.tokens(Tables.documents(spark, dir))
        .groupBy("term")
        .agg(
          countDistinct(col("doc_id")).as("df"),
          // stringified: the harness compare cannot hash array cells
          concat_ws(",", slice(array_sort(collect_set(col("doc_id"))), 1, 5)).as("postings_head"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("term")
    },

    "q_token_stats" -> { (spark, dir) =>
      tokenStats(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Curation-funnel ablation: survivors after each cumulative filter.
    "q_quality_funnel" -> { (spark, dir) =>
      qualityFunnel(Tables.documents(spark, dir))
    },

    // Domain-mix rebalancing toward the smallest source.
    "q_source_mix" -> { (spark, dir) =>
      sourceMix(Tables.documents(spark, dir))
    },

    // Temperature-scaled (α = 1/2) source mixing weights.
    "q_mix_temperature" -> { (spark, dir) =>
      sourceMixTemperature(Tables.documents(spark, dir))
    },

    // Per-source quality quota: keep at most 15 best-quality docs per
    // source — the curation cap that stops one crawler/domain from
    // drowning the mix. rank-≤-k under a per-group window plans as
    // WindowGroupLimit (top-k per group pushed below the full sort),
    // so at scale each source pays a bounded heap, not a group sort.
    // `source` rides the quality aggregate (carry), not a second
    // corpus scan + join-back.
    "q_source_cap" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(spark, dir)
      val w = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id"))
      qualityScores(docs, Seq("source"))
        .select("doc_id", "source", "quality")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 15)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_kept"),
          min(col("quality")).as("kept_quality_floor"),
          max(col("quality")).as("kept_quality_ceil"))
        .orderBy("source")
    },

    // Reproducible pre-training shuffle: stable pseudo-random global
    // position per document via the two-phase distributed rank.
    "q_shuffle_rank" -> { (spark, dir) =>
      shuffleRank(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Tokenizer comparison: whitespace count, BPE-ish regex token count
    // (runs of letters / digits / single other symbols), and the
    // chars/4 LLM heuristic.
    "q_token_count" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          size(filter(split(col("text"), " "), t => t =!= "")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"),
          ceil(col("n_chars").cast("double") / lit(4.0)).cast("long").as("est_bpe_tokens"))
        .orderBy("doc_id")
    },

    "q_quality_score" -> { (spark, dir) =>
      qualityScores(Tables.documents(spark, dir)).orderBy("doc_id")
    },

    // Language-ID confusion matrix against the labeled `lang` column.
    "q_lang_id" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      langPredictions(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },

    // Array-function coverage over the token array: size, distinct,
    // slice, membership, ordered-min via sort.
    "q_array_fns" -> { (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .select(
          col("doc_id"),
          size(col("arr")).as("n_tokens_raw"),
          size(array_distinct(col("arr"))).as("n_distinct"),
          concat_ws(" ", slice(col("arr"), 1, 3)).as("first3"),
          array_contains(col("arr"), "spark").as("has_spark"),
          element_at(array_sort(col("arr")), 1).as("min_term"))
        .orderBy("doc_id")
    },

    "q_doc_fingerprint" -> { (spark, dir) =>
      fingerprints(Tables.documents(spark, dir)).orderBy("doc_id")
    },
  )

  def oracleSql: Map[String, String] = {
    val langScoreExprs = langMarkers.map { case (lang, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"sum(CASE WHEN term IN ($inList) THEN 1 ELSE 0 END) AS s_$lang"
    }.mkString(",\n    ")
    // same precedence semantics as the Column fold: a language wins if
    // score > 0, strictly beats all earlier languages, and >= all later.
    val langs = langMarkers.map(_._1)
    val bestExpr = langs.reverse.foldLeft("'und'") { (acc, lang) =>
      val earlier = langs.filter(_ < lang).map(l => s"s_$lang > s_$l")
      val later   = langs.filter(_ > lang).map(l => s"s_$lang >= s_$l")
      val conds = (Seq(s"s_$lang > 0") ++ earlier ++ later).mkString(" AND ")
      s"CASE WHEN $conds THEN '$lang' ELSE $acc END"
    }
    Map(
      "q_oov_rate" ->
        s"""WITH $tokCte,
           |vocab AS (
           |  SELECT term FROM (
           |    SELECT term, count(*) AS n FROM tok GROUP BY term
           |    ORDER BY n DESC, term LIMIT 20)),
           |flagged AS (
           |  SELECT t.doc_id,
           |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM tok t LEFT JOIN vocab v ON t.term = v.term)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(oov) AS BIGINT) AS oov_tokens,
           |  CAST(CAST(sum(oov) AS BIGINT) AS DOUBLE) / count(*) AS oov_rate
           |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q_shard_assign" ->
        s"""SELECT ${Shingles.hash32Sql("'shard:' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
           |  count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |  min(doc_id) AS min_doc_id,
           |  max(doc_id) AS max_doc_id
           |FROM documents
           |GROUP BY shard ORDER BY shard""".stripMargin,
      // per-term monomials floor-quantized to the 1e6 grid before the
      // sums (exact longs), OLS closed form on identical doubles
      "q_zipf_fit" ->
        s"""WITH $tokCte,
           |freq AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
           |top AS (SELECT term, n FROM freq ORDER BY n DESC, term LIMIT 1000),
           |rankd AS (
           |  SELECT term, n,
           |    row_number() OVER (ORDER BY n DESC, term) AS rank FROM top),
           |m AS (
           |  SELECT count(*) AS cnt,
           |    min(CASE WHEN rank = 1 THEN term END) AS top_term,
           |    max(n) AS top_count,
           |    sum(CAST(floor(log10(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sx,
           |    sum(CAST(floor(log10(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sy,
           |    sum(CAST(floor(log10(CAST(rank AS DOUBLE)) * log10(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sxx,
           |    sum(CAST(floor(log10(CAST(rank AS DOUBLE)) * log10(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS sxy,
           |    sum(CAST(floor(log10(CAST(n AS DOUBLE)) * log10(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS syy
           |  FROM rankd)
           |SELECT CAST(cnt AS BIGINT) AS n_terms, top_term,
           |  CAST(top_count AS BIGINT) AS top_count,
           |  (CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |  / (CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)) AS slope,
           |  ((CAST(sy AS DOUBLE) / 1e6)
           |    - ((CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |        - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |      / (CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |        - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)))
           |      * (CAST(sx AS DOUBLE) / 1e6)) / CAST(cnt AS DOUBLE) AS intercept,
           |  ((CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
           |   * (CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e6)
           |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6)))
           |  / ((CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e6)
           |    - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
           |   * (CAST(cnt AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e6)
           |    - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))) AS r2
           |FROM m""".stripMargin,
      "q_hash_sample" ->
        s"""SELECT l_returnflag, count(*) AS n_sampled
           |FROM lineitem WHERE ${hashBucketSql("l_orderkey")} < 10
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q_train_split" ->
        s"""SELECT CASE WHEN ${hashBucketSql("doc_id")} < 80 THEN 'train'
           |            WHEN ${hashBucketSql("doc_id")} < 90 THEN 'valid'
           |            ELSE 'test' END AS split,
           |  count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents GROUP BY split ORDER BY split""".stripMargin,
      "q_contamination" ->
        s"""WITH sh AS (${Shingles.shinglesSql(3)}),
           |probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 3),
           |hits AS (
           |  SELECT s.doc_id, count(DISTINCT s.shingle) AS n_hits
           |  FROM sh s JOIN probe p ON s.shingle = p.shingle
           |  WHERE s.doc_id >= 3
           |  GROUP BY s.doc_id)
           |SELECT doc_id, n_hits FROM hits WHERE n_hits >= 3
           |ORDER BY doc_id""".stripMargin,
      "q_unigram_nll" ->
        s"""WITH $tokCte,
           |uni AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
           |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
           |per AS (
           |  SELECT doc_id,
           |    CAST(-ln(CAST(cnt AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(28,6)) AS nll
           |  FROM tok JOIN uni USING (term))
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(CAST(sum(nll) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_nll
           |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // global length rank, folded pairing min(r, n+1-r), per-bin sums
      "q_pack_bins" ->
        s"""WITH $tokCte,
           |lens AS (
           |  SELECT doc_id, least(count(*), 256) AS len FROM tok GROUP BY doc_id),
           |ranked AS (
           |  SELECT doc_id, len,
           |    row_number() OVER (ORDER BY len, doc_id) AS r FROM lens),
           |tot AS (SELECT count(*) AS n FROM lens),
           |binned AS (
           |  SELECT doc_id, len, r,
           |    least(r, (SELECT n FROM tot) + 1 - r) AS bin FROM ranked)
           |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(len) AS BIGINT) AS total_tokens,
           |  CAST(CASE WHEN sum(len) <= 256 THEN 1 ELSE 0 END AS INT) AS fits,
           |  CAST(256 - sum(len) AS BIGINT) AS slack
           |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
      // stratified rank per source; the engine's per-(source, band)
      // two-phase rank must land on identical rows
      "q_source_quantiles" ->
        s"""WITH toks AS (
           |  SELECT doc_id, source, term FROM (
           |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
           |    FROM documents) z
           |  WHERE term <> ''),
           |lens AS (
           |  SELECT doc_id, source, count(*) AS v FROM toks GROUP BY doc_id, source),
           |ranked AS (
           |  SELECT doc_id, source, v,
           |    row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r
           |  FROM lens),
           |tot AS (SELECT source, count(*) AS n FROM lens GROUP BY source),
           |targets AS (
           |  SELECT t.source, q.q, CAST(ceil(q.q * t.n) AS BIGINT) AS r, t.n
           |  FROM tot t CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q) q)
           |SELECT g.source, g.q, CAST(g.n AS BIGINT) AS n, g.r AS rank,
           |  CAST(k.v AS BIGINT) AS value, k.doc_id
           |FROM targets g JOIN ranked k ON g.source = k.source AND g.r = k.r
           |ORDER BY g.source, g.q""".stripMargin,
      // the oracle ranks globally (fine at oracle scale); the engine's
      // banded two-phase rank must land on identical (rank, value) rows
      "q_length_quantiles" ->
        s"""WITH $tokCte,
           |lens AS (SELECT doc_id, count(*) AS v FROM tok GROUP BY doc_id),
           |ranked AS (
           |  SELECT doc_id, v,
           |    row_number() OVER (ORDER BY v, doc_id) AS r FROM lens),
           |tot AS (SELECT count(*) AS n FROM lens),
           |targets AS (
           |  SELECT q, CAST(ceil(q * (SELECT n FROM tot)) AS BIGINT) AS r
           |  FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q))
           |SELECT t.q, CAST((SELECT n FROM tot) AS BIGINT) AS n, t.r AS rank,
           |  CAST(k.v AS BIGINT) AS value, k.doc_id
           |FROM targets t JOIN ranked k ON t.r = k.r
           |ORDER BY t.q""".stripMargin,
      // difficulty chain identical to q_unigram_nll; bucket = absolute
      // floor band; in-band rank over the salted hash (never global)
      "q_curriculum" ->
        s"""WITH $tokCte,
           |uni AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
           |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
           |per AS (
           |  SELECT doc_id,
           |    CAST(-ln(CAST(cnt AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(28,6)) AS nll
           |  FROM tok JOIN uni USING (term)),
           |nlld AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |    CAST(CAST(sum(nll) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_nll
           |  FROM per GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, n_tokens, avg_nll,
           |    CAST(floor(avg_nll) AS INT) AS bucket,
           |    ${Shingles.hash32Sql("'cur:' || CAST(doc_id AS VARCHAR)")} AS sk
           |  FROM nlld)
           |SELECT doc_id, n_tokens, avg_nll, bucket,
           |  CAST(row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id) AS INT)
           |    AS rank_in_bucket
           |FROM banded ORDER BY doc_id""".stripMargin,
      "q_chunk_overlap" -> {
        val (s, t) = (64, 48)
        s"""WITH tokp AS (
           |  SELECT doc_id, pos, term FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z
           |  WHERE term <> ''),
           |counted AS (
           |  SELECT doc_id, pos, term,
           |    count(*) OVER (PARTITION BY doc_id) AS n
           |  FROM tokp),
           |ranged AS (
           |  SELECT doc_id, pos, term,
           |    CASE WHEN n <= $s THEN 1 ELSE (n - $s + $t - 1) // $t + 1 END AS n_chunks,
           |    greatest(0, (pos - $s + $t - 1) // $t) AS ci_lo,
           |    least((pos - 1) // $t,
           |      (CASE WHEN n <= $s THEN 1 ELSE (n - $s + $t - 1) // $t + 1 END) - 1)
           |      AS ci_hi
           |  FROM counted),
           |member AS (
           |  SELECT doc_id, pos, term,
           |    unnest(generate_series(ci_lo, ci_hi)) AS chunk_idx
           |  FROM ranged)
           |SELECT doc_id, chunk_idx,
           |  CAST(count(*) AS BIGINT) AS n_chunk_tokens,
           |  min(pos) AS first_pos, max(pos) AS last_pos,
           |  md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_md5
           |FROM member GROUP BY doc_id, chunk_idx
           |ORDER BY doc_id, chunk_idx""".stripMargin
      },
      "q_bigram_nll" ->
        s"""WITH tokp AS (
           |  SELECT doc_id, pos, term FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z
           |  WHERE term <> ''),
           |big AS (
           |  SELECT doc_id, prev, term FROM (
           |    SELECT doc_id, term,
           |      lag(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           |    FROM tokp) b WHERE prev IS NOT NULL),
           |c2 AS (SELECT prev, term, count(*) AS c2 FROM big GROUP BY prev, term),
           |c1 AS (SELECT prev, count(*) AS c1 FROM big GROUP BY prev),
           |v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tokp),
           |per AS (
           |  SELECT b.doc_id,
           |    CAST(-ln((CAST(c2.c2 AS DOUBLE) + 1.0) /
           |             (CAST(c1.c1 AS DOUBLE) + (SELECT v FROM v)))
           |      AS DECIMAL(28,6)) AS nll
           |  FROM big b
           |  JOIN c2 ON b.prev = c2.prev AND b.term = c2.term
           |  JOIN c1 ON b.prev = c1.prev)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(CAST(sum(nll) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_nll
           |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q_kn_bigram_nll" ->
        s"""WITH tokp AS (
           |  SELECT doc_id, pos, term FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z
           |  WHERE term <> ''),
           |big AS (
           |  SELECT doc_id, prev, term FROM (
           |    SELECT doc_id, term,
           |      lag(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           |    FROM tokp) b WHERE prev IS NOT NULL),
           |c2 AS (SELECT prev, term, count(*) AS c2 FROM big GROUP BY prev, term),
           |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1,
           |              count(*) AS n1p_fwd FROM c2 GROUP BY prev),
           |cont AS (SELECT term, count(*) AS n1p_bwd FROM c2 GROUP BY term),
           |t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM c2),
           |per AS (
           |  SELECT b.doc_id,
           |    CAST(-ln(
           |      greatest(CAST(c2.c2 AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
           |      + 0.75 * CAST(c1.n1p_fwd AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
           |        * (CAST(cont.n1p_bwd AS DOUBLE) / (SELECT t FROM t)))
           |      AS DECIMAL(28,6)) AS nll
           |  FROM big b
           |  JOIN c2 ON b.prev = c2.prev AND b.term = c2.term
           |  JOIN c1 ON b.prev = c1.prev
           |  JOIN cont ON b.term = cont.term)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(CAST(sum(nll) AS VARCHAR) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_nll
           |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // oracle states the SPEC (one global-window cumsum); the engine's
      // bucketed two-phase prefix sum must equal it exactly
      "q_pack_sequences" ->
        s"""WITH $tokCte,
           |counts AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
           |c AS (
           |  SELECT doc_id, n_tokens,
           |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
           |      AS start_off
           |  FROM counts)
           |SELECT doc_id, n_tokens, start_off,
           |  start_off // 256 AS first_chunk,
           |  (start_off + n_tokens - 1) // 256 AS last_chunk,
           |  ((start_off + n_tokens - 1) // 256) - (start_off // 256) + 1 AS n_chunks
           |FROM c ORDER BY doc_id""".stripMargin,
      "q_bm25" ->
        s"""WITH $tokCte,
           |q AS (
           |  SELECT term FROM (
           |    SELECT term, count(*) AS n FROM tok GROUP BY term
           |    ORDER BY n DESC, term LIMIT 3)),
           |n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
           |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
           |avgdl AS (
           |  SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n_docs) AS avgdl FROM dl),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |per_term AS (
           |  SELECT tf.doc_id,
           |    ln(((SELECT n FROM n_docs) - df.df + 0.5) / (df.df + 0.5) + 1.0)
           |      * (tf.tf * 2.2)
           |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM avgdl))) AS s
           |  FROM tf
           |  JOIN q ON tf.term = q.term
           |  JOIN df ON tf.term = df.term
           |  JOIN dl ON tf.doc_id = dl.doc_id)
           |SELECT doc_id,
           |  CAST(CAST(sum(CAST(s AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS bm25
           |FROM per_term GROUP BY doc_id
           |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,
      "q_stratified_sample" -> {
        val rateCase = strataRates
          .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
          .mkString("CASE ", " ", " ELSE 0 END")
        s"""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN ${hashBucketSql("doc_id")} < $rateCase
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
      },
      "q_repetition" ->
        s"""WITH sh AS (${Shingles.shinglesSql(3)}),
           |per AS (SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY doc_id, shingle)
           |SELECT doc_id,
           |  CAST(sum(c) AS BIGINT) AS n_ngrams,
           |  count(*) AS n_distinct,
           |  CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_frac,
           |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
           |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q_weighted_sample" ->
        s"""SELECT doc_id, source, lang, n_chars,
           |  CAST(${Shingles.hash32Sql("text")} AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
           |FROM documents ORDER BY priority, doc_id LIMIT 50""".stripMargin,
      "q_token_budget_sample" ->
        s"""WITH $tokCte,
           |tpd AS (SELECT doc_id, count(*) AS n_toks FROM tok GROUP BY doc_id),
           |keyed AS (
           |  SELECT d.doc_id, d.source, coalesce(t.n_toks, 0) AS n_toks,
           |    ${Shingles.hash32Sql("concat('budget:', CAST(d.doc_id AS VARCHAR))")} AS skey
           |  FROM documents d LEFT JOIN tpd t ON d.doc_id = t.doc_id),
           |cum AS (
           |  SELECT source, n_toks,
           |    coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY skey, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           |  FROM keyed)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(sum(n_toks) AS BIGINT) AS kept_tokens
           |FROM cum WHERE cum_before < 800
           |GROUP BY source ORDER BY source""".stripMargin,
      "q_inverted_index" ->
        s"""WITH $tokCte,
           |dt AS (SELECT DISTINCT doc_id, term FROM tok)
           |SELECT term, count(*) AS df,
           |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',') AS postings_head,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM dt GROUP BY term ORDER BY term""".stripMargin,
      "q_token_stats" ->
        s"""WITH $tokCte
           |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_types,
           |  CAST(count(DISTINCT term) AS DOUBLE) / count(*) AS ttr,
           |  CAST(sum(length(term)) AS DOUBLE) / count(*) AS avg_token_len
           |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q_quality_funnel" ->
        s"""WITH $tokCte,
           |stop AS ($topTermsSql),
           |stats AS (
           |  SELECT t.doc_id, count(*) AS n_tokens,
           |    sum(CASE WHEN s.stop_term IS NOT NULL THEN 1 ELSE 0 END) AS n_stop
           |  FROM tok t LEFT JOIN stop s ON t.term = s.stop_term
           |  GROUP BY t.doc_id),
           |flags AS (
           |  SELECT
           |    d.n_chars BETWEEN 100 AND 500 AS f_len,
           |    coalesce(st.n_tokens, 0) >= 40 AS f_tok,
           |    CAST(coalesce(st.n_stop, 0) AS DOUBLE)
           |      / coalesce(st.n_tokens, 1) <= 0.6 AS f_stop,
           |    d.doc_id = min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS f_uniq
           |  FROM documents d LEFT JOIN stats st ON d.doc_id = st.doc_id),
           |agg AS (
           |  SELECT count(*) AS s0,
           |    CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           |    CAST(sum(CASE WHEN f_len AND f_tok THEN 1 ELSE 0 END) AS BIGINT) AS s2,
           |    CAST(sum(CASE WHEN f_len AND f_tok AND f_stop THEN 1 ELSE 0 END) AS BIGINT) AS s3,
           |    CAST(sum(CASE WHEN f_len AND f_tok AND f_stop AND f_uniq THEN 1 ELSE 0 END) AS BIGINT) AS s4
           |  FROM flags)
           |SELECT '0_all' AS stage, s0 AS n_docs FROM agg
           |UNION ALL SELECT '1_length', s1 FROM agg
           |UNION ALL SELECT '2_min_tokens', s2 FROM agg
           |UNION ALL SELECT '3_stopwords', s3 FROM agg
           |UNION ALL SELECT '4_exact_dedup', s4 FROM agg
           |ORDER BY stage""".stripMargin,
      "q_source_cap" ->
        s"""WITH $tokCte,
           |stop AS ($topTermsSql),
           |stats AS (
           |  SELECT t.doc_id, count(*) AS n_tokens, count(DISTINCT t.term) AS n_types,
           |    sum(CASE WHEN s.stop_term IS NOT NULL THEN 1 ELSE 0 END) AS n_stop
           |  FROM tok t LEFT JOIN stop s ON t.term = s.stop_term
           |  GROUP BY t.doc_id),
           |qual AS (
           |  SELECT doc_id,
           |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
           |      + (CAST(n_types AS DOUBLE) / n_tokens) * 0.3
           |      + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.4 AS quality
           |  FROM stats),
           |ranked AS (
           |  SELECT d.source, q.quality,
           |    row_number() OVER (PARTITION BY d.source
           |                       ORDER BY q.quality DESC, d.doc_id) AS rn
           |  FROM documents d JOIN qual q ON d.doc_id = q.doc_id)
           |SELECT source, count(*) AS n_kept,
           |  min(quality) AS kept_quality_floor,
           |  max(quality) AS kept_quality_ceil
           |FROM ranked WHERE rn <= 15
           |GROUP BY source ORDER BY source""".stripMargin,
      "q_source_mix" ->
        s"""WITH rates AS (
           |  SELECT source, count(*) AS n_docs,
           |    100 * min(count(*)) OVER () // count(*) AS rate
           |  FROM documents GROUP BY source)
           |SELECT d.source, max(r.n_docs) AS n_docs, max(r.rate) AS rate,
           |  CAST(sum(CASE WHEN ${hashBucketSql("d.doc_id")} < r.rate
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM documents d JOIN rates r ON d.source = r.source
           |GROUP BY d.source ORDER BY d.source""".stripMargin,
      // vocab ids by (count desc, term) rank; the sequence fingerprint
      // is md5 over ids joined in token order — string_agg ORDER BY pos
      // mirrors the Column tree's array_sort(collect_list(struct))
      "q_encode_tokens" ->
        s"""WITH tok AS (
           |  SELECT doc_id, pos, term FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z WHERE term <> ''),
           |vocab AS (
           |  SELECT term, CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS token_id
           |  FROM (SELECT term, count(*) AS n FROM tok GROUP BY term
           |        ORDER BY n DESC, term LIMIT 20)),
           |enc AS (
           |  SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS id
           |  FROM tok t LEFT JOIN vocab v ON t.term = v.term)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
           |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // the oracle's single global window IS the semantics the
      // two-phase bucketed rank must reproduce exactly
      "q_shuffle_rank" -> {
        val h = Shingles.hash32Sql("concat('shuffle:', CAST(doc_id AS VARCHAR))")
        s"""SELECT doc_id, $h AS shuffle_key,
           |  row_number() OVER (ORDER BY $h, doc_id) AS shuffle_pos
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      // √n quantized to DECIMAL(28,6), EXACT decimal normalizer sum;
      // the VARCHAR-mediated decimal→double cast is the correctly-
      // rounded one in DuckDB (pagerank precedent)
      "q_mix_temperature" ->
        """WITH counts AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,6)) AS w_raw
          |  FROM documents GROUP BY source),
          |tot AS (
          |  SELECT sum(w_raw) AS w_tot, sum(n_docs) AS n_total FROM counts)
          |SELECT c.source, c.n_docs,
          |  CAST(CAST(c.w_raw AS VARCHAR) AS DOUBLE)
          |    / CAST(CAST(t.w_tot AS VARCHAR) AS DOUBLE) AS weight,
          |  CAST(CAST(c.w_raw AS VARCHAR) AS DOUBLE)
          |    / CAST(CAST(t.w_tot AS VARCHAR) AS DOUBLE)
          |    * CAST(t.n_total AS DOUBLE) AS eff_docs
          |FROM counts c CROSS JOIN tot t ORDER BY c.source""".stripMargin,
      "q_token_count" ->
        """SELECT doc_id,
          |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
          |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_quality_score" ->
        s"""WITH $tokCte,
           |stop AS ($topTermsSql),
           |stats AS (
           |  SELECT t.doc_id, count(*) AS n_tokens, count(DISTINCT t.term) AS n_types,
           |    sum(CASE WHEN s.stop_term IS NOT NULL THEN 1 ELSE 0 END) AS n_stop
           |  FROM tok t LEFT JOIN stop s ON t.term = s.stop_term
           |  GROUP BY t.doc_id)
           |SELECT doc_id, n_tokens,
           |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
           |    + (CAST(n_types AS DOUBLE) / n_tokens) * 0.3
           |    + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.4 AS quality
           |FROM stats ORDER BY doc_id""".stripMargin,
      // adjacent non-empty tokens (lag over the filtered stream, as in
      // q_bigram_nll) + the engine-wide md5 split; novelty = test
      // occurrences whose type the train half never produced
      "q_ngram_novelty" ->
        s"""WITH tokp AS (
           |  SELECT doc_id, source, pos, term FROM (
           |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z
           |  WHERE term <> ''),
           |big AS MATERIALIZED (
           |  SELECT doc_id, source, w1, w2 FROM (
           |    SELECT doc_id, source, term AS w2,
           |      lag(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
           |    FROM tokp) b WHERE w1 IS NOT NULL),
           |train_types AS (
           |  SELECT DISTINCT w1, w2 FROM big
           |  WHERE ${hashBucketSql("doc_id")} < 50),
           |test AS (
           |  SELECT * FROM big WHERE ${hashBucketSql("doc_id")} >= 50)
           |SELECT t.source,
           |  CAST(count(*) AS BIGINT) AS n_test_bigrams,
           |  CAST(sum(CASE WHEN tt.w1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_novel,
           |  CAST(sum(CASE WHEN tt.w1 IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS novelty_rate
           |FROM test t LEFT JOIN train_types tt ON t.w1 = tt.w1 AND t.w2 = tt.w2
           |GROUP BY t.source ORDER BY t.source""".stripMargin,
      // k-token phrase via iterated positional intersection: the top
      // trigram from an adjacency-guarded lead window, then word i
      // probed at anchor pos + i — the same intersection the Spark
      // side runs as n−1 broadcast joins
      "q_phrase_search3" ->
        s"""WITH tokp AS (
           |  SELECT doc_id, pos, term FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z
           |  WHERE term <> ''),
           |sp AS (
           |  SELECT doc_id, pos, term AS w0,
           |    lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
           |    lead(pos, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS p1,
           |    lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
           |    lead(pos, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS p2
           |  FROM tokp),
           |top AS (
           |  SELECT w0, w1, w2 FROM (
           |    SELECT w0, w1, w2, count(*) AS n FROM sp
           |    WHERE p1 = pos + 1 AND p2 = pos + 2
           |    GROUP BY w0, w1, w2 ORDER BY n DESC, w0, w1, w2 LIMIT 1)),
           |hits AS (
           |  SELECT a.doc_id, t.w0, t.w1, t.w2, count(*) AS n_occurrences
           |  FROM tokp a
           |  JOIN top t ON a.term = t.w0
           |  JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
           |    AND b.term = t.w1
           |  JOIN tokp c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
           |    AND c.term = t.w2
           |  GROUP BY a.doc_id, t.w0, t.w1, t.w2)
           |SELECT doc_id, w0 || ' ' || w1 || ' ' || w2 AS phrase,
           |  CAST(n_occurrences AS BIGINT) AS n_occurrences
           |FROM hits ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin,
      // positional postings with raw 1-based split positions (the
      // tokensWithPos convention — adjacency is pos+1 in both engines)
      "q_phrase_search" ->
        s"""WITH tokp AS (
           |  SELECT doc_id, pos, term FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           |           generate_subscripts(string_split(text, ' '), 1) AS pos
           |    FROM documents) z
           |  WHERE term <> ''),
           |pairs AS MATERIALIZED (
           |  SELECT a.doc_id, a.term AS w1, b.term AS w2
           |  FROM tokp a JOIN tokp b
           |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
           |top AS (
           |  SELECT w1, w2 FROM (
           |    SELECT w1, w2, count(*) AS n FROM pairs GROUP BY w1, w2
           |    ORDER BY n DESC, w1, w2 LIMIT 1)),
           |hits AS (
           |  SELECT p.doc_id, p.w1, p.w2, count(*) AS n_occurrences
           |  FROM pairs p JOIN top t ON p.w1 = t.w1 AND p.w2 = t.w2
           |  GROUP BY p.doc_id, p.w1, p.w2)
           |SELECT doc_id, w1 || ' ' || w2 AS phrase,
           |  CAST(n_occurrences AS BIGINT) AS n_occurrences
           |FROM hits ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin,
      // one doc-length pass fanned ×16 by the replicate table; means
      // quantized to micro longs before the cross-replicate stats
      "q_metric_stability" ->
        s"""WITH $tokCte,
           |lens AS (SELECT doc_id, count(*) AS v FROM tok GROUP BY doc_id),
           |reps AS (SELECT unnest(generate_series(0, 15)) AS rep),
           |kept AS (
           |  SELECT r.rep, l.doc_id, l.v FROM lens l CROSS JOIN reps r
           |  WHERE (${Shingles.hash32Sql(
                "'boot:' || CAST(r.rep AS VARCHAR) || ':' || CAST(l.doc_id AS VARCHAR)")}) % 2 = 0),
           |per AS (
           |  SELECT rep, count(*) AS n_docs,
           |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_len
           |  FROM kept GROUP BY rep),
           |m AS (SELECT CAST(floor(mean_len * 1e6 + 0.5) AS BIGINT) AS m FROM per),
           |s AS (SELECT count(*) AS nb, sum(m) AS sm, sum(m * m) AS sm2 FROM m)
           |SELECT CAST(p.rep AS INT) AS rep, CAST(p.n_docs AS BIGINT) AS n_docs,
           |  p.mean_len,
           |  ((CAST(s.sm AS DOUBLE) / 1e6) / CAST(s.nb AS DOUBLE)) AS boot_mean,
           |  sqrt(greatest(0.0, (CAST(s.sm2 AS DOUBLE) / 1e12) / CAST(s.nb AS DOUBLE)
           |    - ((CAST(s.sm AS DOUBLE) / 1e6) / CAST(s.nb AS DOUBLE))
           |      * ((CAST(s.sm AS DOUBLE) / 1e6) / CAST(s.nb AS DOUBLE)))) AS boot_sd
           |FROM per p CROSS JOIN s ORDER BY p.rep""".stripMargin,
      // engine-identical char stream (explode position + substr — NOT
      // split-on-empty, which the two engines disagree on); decimal-
      // quantized entropy terms; VARCHAR-mediated decimal→double
      "q_char_entropy" ->
        """WITH chars AS (
          |  SELECT source, substr(text, CAST(i AS INT), 1) AS ch
          |  FROM (
          |    SELECT source, text,
          |      unnest(generate_series(1, length(text))) AS i
          |    FROM documents) z
          |  WHERE substr(text, CAST(i AS INT), 1) <> ' '),
          |freq AS (
          |  SELECT source, ch, count(*) AS cnt FROM chars GROUP BY source, ch),
          |tot AS (
          |  SELECT source, sum(cnt) AS n_chars, count(*) AS n_distinct_chars
          |  FROM freq GROUP BY source),
          |terms AS (
          |  SELECT f.source, t.n_chars, t.n_distinct_chars,
          |    CAST(-(CAST(f.cnt AS DOUBLE) / CAST(t.n_chars AS DOUBLE))
          |      * log2(CAST(f.cnt AS DOUBLE) / CAST(t.n_chars AS DOUBLE))
          |      AS DECIMAL(28,6)) AS term
          |  FROM freq f JOIN tot t ON f.source = t.source)
          |SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
          |  CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
          |  CAST(CAST(sum(term) AS VARCHAR) AS DOUBLE) AS entropy_bits
          |FROM terms GROUP BY source, n_chars, n_distinct_chars
          |ORDER BY source""".stripMargin,
      "q_lang_confidence" -> {
        val scoreList = langMarkers.map(m => s"s_${m._1}").mkString(", ")
        s"""WITH $tokCte,
           |scored AS (
           |  SELECT doc_id,
           |    $langScoreExprs
           |  FROM tok GROUP BY doc_id),
           |s2 AS (
           |  SELECT doc_id, $bestExpr AS pred_lang,
           |    list_reverse_sort([$scoreList]) AS l
           |  FROM scored)
           |SELECT doc_id, pred_lang,
           |  CAST(l[1] AS BIGINT) AS top_score,
           |  CAST(l[2] AS BIGINT) AS second_score,
           |  CAST(l[1] - l[2] AS BIGINT) AS margin,
           |  CAST(CASE WHEN l[1] > 0 AND l[1] - l[2] >= 2 THEN 1 ELSE 0 END AS INT)
           |    AS confident
           |FROM s2 ORDER BY doc_id""".stripMargin
      },
      "q_lang_id" ->
        s"""WITH $tokCte,
           |scored AS (
           |  SELECT doc_id,
           |    $langScoreExprs
           |  FROM tok GROUP BY doc_id),
           |pred AS (SELECT doc_id, $bestExpr AS pred_lang FROM scored)
           |SELECT d.lang, p.pred_lang, count(*) AS n
           |FROM pred p JOIN documents d ON p.doc_id = d.doc_id
           |GROUP BY d.lang, p.pred_lang ORDER BY d.lang, p.pred_lang""".stripMargin,
      "q_array_fns" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_raw,
          |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
          |  array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS first3,
          |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
          |  list_sort(string_split(text, ' '))[1] AS min_term
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_doc_fingerprint" ->
        s"""WITH $tokCte,
           |bow AS (
           |  SELECT doc_id, md5(string_agg(term, ' ' ORDER BY term)) AS bow_md5
           |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY doc_id),
           |sh AS (${Shingles.shinglesSql(3)}),
           |ms AS (
           |  SELECT doc_id, min(${Shingles.hash32Sql("shingle")}) AS min_shingle_hash
           |  FROM sh GROUP BY doc_id)
           |SELECT b.doc_id, b.bow_md5, ms.min_shingle_hash
           |FROM bow b LEFT JOIN ms ON b.doc_id = ms.doc_id ORDER BY b.doc_id""".stripMargin,
    )
  }
}
