package graft.sim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A tf-idf table held on the driver: for each term, its rows' doc
  * indexes and tf-idf weights in the table's own row order, and its
  * Σ tfidf² summed in that order. [[related]] answers a query with the
  * distributed plan's arithmetic, operation for operation, so both
  * paths return `==` rows (the rules are in [[Semantic]]).
  *
  * Built by [[TermIndex.build]] from the `(term, doc_id, tfidf)` rows
  * of a table grouped by term and sorted by (term, doc_id) inside each
  * group; immutable afterwards, so queries need no lock.
  */
private[graft] final class TermIndex private (
    terms: Array[String],
    ids: java.util.HashMap[String, Integer],
    offsets: Array[Int], // term i's rows are offsets(i) until offsets(i + 1)
    docs: Array[Int],    // per row; -1 for a null doc_id, which joins nothing
    weights: Array[Double],
    sumSq: Array[Double],
    nDocs: Int,
    /** The index's own bytes as [[TermIndex.build]] counted them. */
    val bytes: Long) {

  /** Top-`k` (term, sim) for `query`, or None when a candidate would
    * divide by zero (the distributed plan then decides: null or an
    * ANSI error).
    */
  def related(query: String, k: Int, roundDigits: Int): Option[Seq[(String, Double)]] = {
    val qi: Int = Option(ids.get(query)).map(_.intValue).getOrElse(-1)
    if (qi < 0) return Some(Nil)
    val v1 = new Array[Double](nDocs)
    var r = offsets(qi)
    while (r < offsets(qi + 1)) {
      if (docs(r) >= 0) v1(docs(r)) = weights(r)
      r += 1
    }
    val den1 = math.sqrt(sumSq(qi))
    val sims = new Array[Double](terms.length)
    // worst kept candidate at the head
    val top = new java.util.PriorityQueue[Integer](
      (a: Integer, b: Integer) => TermIndex.rank(terms(b), sims(b), terms(a), sims(a)))
    var t = 0
    while (t < terms.length) {
      if (t != qi) {
        // a row whose doc the query lacks adds 0.0, which leaves every
        // sum here (never -0.0) unchanged, so only shared docs are added
        var num = 0.0
        r = offsets(t)
        while (r < offsets(t + 1)) {
          val d = docs(r)
          if (d >= 0) num += v1(d) * weights(r)
          r += 1
        }
        if (num != 0.0) {
          val norm = math.sqrt(sumSq(t))
          if (norm == 0.0 || den1 == 0.0) return None
          val s = (num / norm) / den1
          sims(t) = if (roundDigits >= 0) TermIndex.round(s, roundDigits) else s
          top.add(t)
          if (top.size > k) top.poll()
        }
      }
      t += 1
    }
    val out = new Array[(String, Double)](top.size)
    var i = out.length - 1
    while (i >= 0) {
      val w: Int = top.poll()
      out(i) = (terms(w), sims(w))
      i -= 1
    }
    Some(out.toSeq)
  }
}

private[graft] object TermIndex {

  /** Bytes a row costs: an `int` doc index and a `double` weight. */
  val RowBytes = 12L

  /** Bytes a term costs beyond its characters: its `HashMap` node, the
    * table slot, the boxed id, the `String` and its array header, and
    * one element each of the offset, Σ tfidf² and term arrays.
    * `ScaleProbe 1 termindex` measured 129.3 B of retained heap per
    * term (200,000 one-row 8-character terms, JDK 17, 4 GiB heap),
    * rounded up here.
    */
  val TermBytes = 136L

  /** Order of the result: `sim` descending as Spark compares doubles,
    * then the term ascending in UTF-8 byte order (Spark's string
    * order, which differs from `String.compareTo` past U+FFFF).
    */
  def rank(ta: String, sa: Double, tb: String, sb: Double): Int = {
    val bySim = SQLOrderingUtil.compareDoubles(sb, sa)
    if (bySim != 0) bySim
    else UTF8String.fromString(ta).binaryCompare(UTF8String.fromString(tb))
  }

  /** Spark's `round(x, digits)` on a double: HALF_UP in decimal. */
  def round(x: Double, digits: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(digits, java.math.RoundingMode.HALF_UP)
      .doubleValue

  /** Doc-id types whose equality on the driver is Spark's join-key
    * equality. */
  def supports(docId: DataType): Boolean = docId match {
    case StringType | LongType | IntegerType => true
    case _ => false
  }

  /** The index of `rows` — `(term string, doc_id, tfidf double)` — or
    * None as soon as its counted bytes pass `budget`, or when the rows
    * break the table's shape: a null term or weight, a non-finite
    * weight, a term whose rows are not contiguous, or one doc twice in
    * a term.
    */
  def build(rows: Array[InternalRow], docId: DataType, budget: Long): Option[TermIndex] = {
    var bytes = rows.length * RowBytes
    if (bytes > budget) return None
    val docIds = new java.util.HashMap[AnyRef, Integer]()
    val ids = new java.util.HashMap[String, Integer]()
    val terms = Array.newBuilder[String]
    val offsets = Array.newBuilder[Int]
    val sumSq = Array.newBuilder[Double]
    val docs = new Array[Int](rows.length)
    val weights = new Array[Double](rows.length)
    var term: UTF8String = null
    var start = 0 // first row of `term`
    var acc = 0.0
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      if (row.isNullAt(0) || row.isNullAt(2)) return None
      val w = row.getDouble(2)
      if (w.isNaN || w.isInfinite) return None
      val t = row.getUTF8String(0)
      if (term == null || t != term) {
        if (term != null) sumSq += acc
        val s = t.toString
        if (ids.put(s, Integer.valueOf(ids.size)) != null) return None
        bytes += TermBytes + (if (s.forall(_ < 256)) s.length else 2L * s.length)
        if (bytes > budget) return None
        terms += s
        offsets += i
        term = t
        start = i
        acc = 0.0
      }
      val d =
        if (row.isNullAt(1)) -1
        else docIds.computeIfAbsent(row.get(1, docId), _ => Integer.valueOf(docIds.size)).intValue
      if (d >= 0 && i > start && docs(i - 1) == d) return None
      docs(i) = d
      weights(i) = w
      acc += w * w
      i += 1
    }
    if (term != null) sumSq += acc
    offsets += rows.length
    Some(new TermIndex(terms.result(), ids, offsets.result(), docs, weights,
      sumSq.result(), docIds.size, bytes))
  }
}
