package graft.tfidf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** TF-IDF over a corpus DataFrame, Spark-native.
  *
  * Reference semantics (sw385/Project-2-Semantic-Similarity,
  * /root/reference/app.py):
  *   - tf(d,t)  = count(t in d) / total_tokens(d)   (app.py:58; the doc
  *     total counts ALL tokens, including ones later filtered out)
  *   - idf(t)   = log10(m / df(t))                  (app.py:2,58 — log base 10)
  *   - m        = number of corpus ROWS, not distinct doc ids (app.py:125)
  *   - df(t)    = number of documents containing t  (app.py:51-56)
  *
  * The reference computes the two "fan-back" steps (per-doc totals,
  * document frequency) by collecting to the driver and looping
  * (app.py:29-40, 47-57). Here both are window aggregates, so nothing
  * ever materializes on the driver and the pipeline is two shuffles
  * total at any scale: the raw doc rows by doc_id (the (doc, term)
  * counts and the per-doc window both ride it), then the counts by
  * term. The doc exchange has an explicit width (`Tables.byDoc`) so AQE
  * cannot coalesce it into one task on a small corpus.
  *
  * Deliberate divergence (FIXTURES.md A.3): empty/blank documents are
  * dropped from the token stream instead of crashing; they still count
  * toward m, exactly like the reference's line count.
  */
object TfIdf {

  /** One row per token occurrence: (doc_id, term).
    * `documents.text` is space-separated; split on single spaces so the
    * DuckDB oracle (string_split(text, ' ')) tokenizes identically.
    */
  def tokens(docs: DataFrame, docId: String = "doc_id", text: String = "text"): DataFrame =
    docs
      .select(col(docId).as("doc_id"), explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "")

  /** (doc_id, term, cnt) — occurrences of term in doc. Hash aggregate
    * with map-side partial aggregation (vs the reference's groupByKey of
    * one record per occurrence, app.py:18-21).
    */
  def termCounts(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("doc_id", "term").count().withColumnRenamed("count", "cnt")

  /** Full tf-idf table: (doc_id, term, cnt, doc_total, df, tfidf).
    *
    * Window-by-term runs last so the output is hash(term)-partitioned:
    * the downstream cosine aggregation (groupBy term) reuses that
    * partitioning with no extra exchange. Its rows are sorted by
    * (term, doc_id), so every per-term sum downstream adds in the same
    * order at any partition count.
    *
    * @param m corpus row count (reference semantics app.py:125); pass it
    *          in so callers can reuse a cached count.
    */
  def tfidf(docs: DataFrame, m: Long): DataFrame = {
    val byDoc  = Window.partitionBy("doc_id")
    val byTerm = Window.partitionBy("term").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    termCounts(Tables.byDoc(docs))
      .withColumn("doc_total", sum("cnt").over(byDoc))
      .withColumn("df", count(lit(1)).over(byTerm))
      .withColumn(
        "tfidf",
        (col("cnt").cast("double") / col("doc_total").cast("double")) *
          log10(lit(m.toDouble) / col("df").cast("double")))
  }

  def tfidf(docs: DataFrame): DataFrame = tfidf(docs, docs.count())
}
