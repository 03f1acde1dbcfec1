package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.tfidf.TfIdf

/** Term-term semantic similarity: cosine between document-space TF-IDF
  * vectors (reference: /root/reference/app.py:66-111,145-179).
  *
  * The reference collects the query vector to a driver dict and ships it
  * in every task closure (app.py:153-162); here it is a broadcast hash
  * join (the vector has at most one row per document containing the
  * query). For a pathological stop-word query at extreme scale the
  * broadcast could exceed limits, so the join strategy is a parameter —
  * `broadcastQuery = false` falls back to a shuffled left join.
  *
  * A query reads the TF-IDF table twice: once to build the query vector
  * (which carries ‖q‖ as a window over its own rows, so the norm costs
  * no pass and no driver round-trip of its own) and once for the
  * candidate aggregation — two Spark jobs and no shuffle. Deriving the
  * query term when auto adds one more read, so [[relatedTerms]]
  * persists the table once instead of recomputing the
  * tokenize→count→window chain per read — the 100 TB analogue is
  * checkpointing the tf-idf table, which a multi-query service would
  * share across requests anyway.
  */
object Semantic {

  /** Deterministic data-derived query term: highest document frequency,
    * ties broken by lexicographically smallest term. Keeps declared
    * queries hash-stable across scale factors (SURVEY.md §7.4.6) —
    * the DuckDB oracle derives the same term with the same rule.
    */
  def queryTermFrom(tf: DataFrame): String =
    tf.select(col("term"), col("df")).distinct()
      .orderBy(col("df").desc, col("term"))
      .limit(1)
      .collect()
      .headOption.map(_.getString(0))
      .getOrElse("")

  /** Top-k terms most similar to `query`, computing and caching the
    * TF-IDF table internally. The top-k result (k rows) is eagerly
    * materialized so the TF-IDF working cache can be dropped before
    * returning — repeated library calls must not accumulate
    * MEMORY_AND_DISK state. Multi-query serving should build the tf
    * table once and use [[relatedTermsFrom]], which leaves caching to
    * the caller. See [[relatedTermsFrom]].
    */
  def relatedTerms(
      docs: DataFrame,
      query: String,
      k: Int = 5,
      termPred: Option[Column] = None,
      broadcastQuery: Boolean = true,
      roundDigits: Int = 9): DataFrame = {
    val tf = TfIdf.tfidf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val out = relatedTermsFrom(tf, query, k, termPred, broadcastQuery, roundDigits)
      .localCheckpoint(true)
    tf.unpersist(false)
    out
  }

  /** Top-k terms most similar to `query` over a prebuilt (ideally
    * persisted) TF-IDF table.
    *
    * Output: (term string, sim double), sim rounded to `roundDigits`
    * (Spark-vs-oracle summation-order noise), descending, ties broken by
    * term, query itself excluded, sim==0 dropped (app.py:158,172,175).
    *
    * Ranking note: the reference ranks BEFORE dividing by the query norm
    * (app.py:175 vs :178) — order-equivalent since the norm is a positive
    * constant; we normalize first and report honest cosine values
    * (SURVEY.md §7.4.3).
    */
  def relatedTermsFrom(
      tf: DataFrame,
      query: String,
      k: Int = 5,
      termPred: Option[Column] = None,
      broadcastQuery: Boolean = true,
      roundDigits: Int = 9): DataFrame = {
    // ‖query‖₂ rides the query vector: every row has the same term, so
    // the window covers the whole vector, and the table is already
    // hash(term)-partitioned, so it adds no exchange. An absent term (no
    // rows) or one with idf 0 (‖q‖ = 0, every v1 = 0) leaves num = 0 on
    // every candidate, and the nonzero filter below empties the result.
    val qvec = tf.filter(col("term") === lit(query))
      .select(col("doc_id"), col("tfidf").as("v1"),
        sqrt(sum(col("tfidf") * col("tfidf")).over(Window.partitionBy("term"))).as("den1"))

    val candidates0 = tf.filter(col("term") =!= lit(query))
    val candidates = termPred.fold(candidates0)(candidates0.filter)
    val q = if (broadcastQuery) broadcast(qvec) else qvec

    candidates
      .join(q, Seq("doc_id"), "left")
      .select(col("term"), coalesce(col("v1"), lit(0.0)).as("v1"), col("tfidf"), col("den1"))
      .groupBy("term")
      .agg(
        sum(col("v1") * col("tfidf")).as("num"),
        sum(col("tfidf") * col("tfidf")).as("den2"),
        // non-null on exactly the groups that matched a query doc, a
        // superset of the num ≠ 0 groups that survive the filter
        max(col("den1")).as("den1"))
      .filter(col("num") =!= 0.0)
      .select(
        col("term"), {
          // roundDigits < 0 → raw doubles (reference-exact CLI output);
          // declared queries round for Spark-vs-oracle sum-order noise.
          // Two-step division mirrors the reference's arithmetic order
          // (app.py:110 then :178) bit-for-bit.
          val s = (col("num") / sqrt(col("den2"))) / col("den1")
          (if (roundDigits >= 0) round(s, roundDigits) else s).as("sim")
        })
      .orderBy(col("sim").desc, col("term"))
      .limit(k)
  }

  /** Reference-parity predicate: terms shaped `gene_*_gene` (app.py:145). */
  val geneTermPredicate: Column =
    col("term").startsWith("gene_") && col("term").endsWith("_gene")
}
