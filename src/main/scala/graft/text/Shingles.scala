package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels

/** Tokenization with positions, n-gram shingles, and a cross-engine
  * 32-bit string hash.
  *
  * The hash is the first 8 hex digits of md5 interpreted as an integer,
  * built arithmetically (ascii per hex char) so the exact same formula
  * runs as a Spark Column tree and as DuckDB SQL — both engines agree
  * bit-for-bit, which makes minhash/simhash oracle-checkable. The SQL
  * generators live next to the Column builders so there is a single
  * source of truth for the constants.
  */
object Shingles {

  /** (doc_id, [carry…,] pos, term) — one row per token occurrence,
    * position 1-based to match DuckDB's generate_subscripts. `carry`
    * columns ride along unchanged (e.g. `source` for the classifiers),
    * so EVERY consumer — corpus stats, shingles, BPE, DSIR/NB — shares
    * this one tokenization rule and can never silently diverge from the
    * corpus it curates.
    */
  def tokensWithPos(docs: DataFrame, docId: String = "doc_id", text: String = "text",
      carry: Seq[String] = Nil): DataFrame =
    // No spreadSmall here (r17, guide §2.4): most consumers of this
    // stream do CHEAP per-row work (per-doc counts, groupBy term) and
    // hit their own exchange immediately, so the r16 blanket spread
    // added a pure-overhead exchange per consumer — the bench's own
    // regression check flagged the BPE family (−25%) and
    // q_source_quantiles (−60%). Consumers with heavy pre-exchange
    // per-row kernels (the classifiers' per-token md5 bucketing)
    // spread the DOC rows at their own call site instead.
    docs
      .select(col(docId).as("doc_id") +: carry.map(col) :+
        posexplode(split(col(text), " ")).as(Seq("pos0", "term")): _*)
      .filter(col("term") =!= "")
      .select(col("doc_id") +: carry.map(col) :+
        (col("pos0") + 1).as("pos") :+ col("term"): _*)

  /** (doc_id, pos, span) — positioned token n-grams: the n-token span
    * starting at token position pos. Positions are the raw 1-based
    * split positions ([[tokensWithPos]]); with no empty tokens in the
    * text they are dense token indexes.
    *
    * Built by the native [[graft.functions.TokenSpans]] kernel — one
    * tight JVM loop per document — instead of explode → doc-partitioned
    * lead() window: the window form shuffled AND sorted the entire
    * corpus token stream once per call (the single biggest shared
    * exchange in the dedup/text family; optimization guide §2.4), and
    * the higher-order-function rewrite that first removed it ran
    * interpreted per element and measured 38% slower than the window
    * on the r16 10-query A/B. The kernel removes the exchange AND the
    * interpreter: a same-JVM, rotated-order A/B measured it at 0.11 s
    * vs the window's 0.60 s on the 8-token span stream
    * (OPTIMIZATION_r16.md §1), and the (pos, span) multiset is
    * bit-identical to both prior forms (205/205 oracle green).
    */
  def spansWithPos(docs: DataFrame, n: Int): DataFrame = {
    // spreadSmall: a bench-sized corpus scans as ONE task (row-group
    // granularity), so without the window's accidental exchange every
    // span/md5 would run single-threaded — spread the doc rows (cheap,
    // pre-explode) when and only when the scan is too small to
    // parallelize itself; production-sized scans pass through unchanged
    graft.core.Tables.spreadSmall(docs, "doc_id")
      .select(col("doc_id"),
        inline(Kernels.tokenSpans(col("text"), n)))
  }

  /** [[spansWithPos]] over an already-materialized (doc_id, pos, term)
    * frame — lets a caller that needs BOTH the token stream and its
    * spans pay for one corpus tokenization instead of two.
    */
  def spansFromTokens(tok: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val parts: Seq[Column] = (0 until n).flatMap { i =>
      val t = if (i == 0) col("term") else lead(col("term"), i).over(w)
      if (i == 0) Seq(t) else Seq(lit(" "), t)
    }
    tok
      .withColumn("span", concat(parts: _*))
      .filter(col("span").isNotNull)
      .select("doc_id", "pos", "span")
  }

  /** (doc_id, shingle) — token n-grams ([[spansWithPos]] without the
    * position; same native kernel, zero exchanges).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    spansWithPos(docs, n).select(col("doc_id"), col("span").as("shingle"))

  /** SQL mirror of [[spansWithPos]] as a DuckDB CTE body over
    * `documents`: produces (doc_id, pos, span).
    */
  def spansWithPosSql(n: Int): String = {
    val concat = (0 until n).map { i =>
      if (i == 0) "term" else s"lead(term, $i) OVER (PARTITION BY doc_id ORDER BY pos)"
    }.mkString(" || ' ' || ")
    s"""SELECT doc_id, pos, span FROM (
       |  SELECT doc_id, pos, $concat AS span FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
       |           generate_subscripts(string_split(text, ' '), 1) AS pos
       |    FROM documents) z WHERE term <> '') s
       |WHERE span IS NOT NULL""".stripMargin
  }

  /** SQL mirror of [[shingles]] as a DuckDB CTE body over `documents`:
    * produces (doc_id, shingle).
    */
  def shinglesSql(n: Int = 3): String =
    s"SELECT doc_id, span AS shingle FROM (${spansWithPosSql(n)})"

  /** 32-bit hash of a string: first 8 hex chars of md5 as an integer —
    * the native [[graft.functions.Hash32]] kernel (r17, guide §4: the
    * old `conv(substring(md5(c),1,8),16,10)` chain allocated a 32-char
    * hex string and re-parsed 8 digits per call; the kernel reads the
    * digest's first 4 bytes directly, bit-identical value). The DuckDB
    * mirror (no conv function there) assembles the same value
    * nibble-by-nibble. Input is cast to string, as md5 did implicitly;
    * on string input the optimizer drops the cast.
    */
  def hash32(c: Column): Column = Kernels.hash32(c.cast("string"))

  /** SQL mirror of [[hash32]] (DuckDB). ascii() is INT32 there, so each
    * nibble is cast to BIGINT before the power-of-16 multiply.
    */
  def hash32Sql(expr: String): String =
    (0 until 8).map { i =>
      s"CAST(CASE WHEN ascii(substr(md5($expr),${i + 1},1)) >= 97" +
        s" THEN ascii(substr(md5($expr),${i + 1},1)) - 87" +
        s" ELSE ascii(substr(md5($expr),${i + 1},1)) - 48 END AS BIGINT)" +
        s" * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")
}
