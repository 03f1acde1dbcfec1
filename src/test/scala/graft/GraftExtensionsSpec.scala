package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions install path: a session built with the
  * extension gets every graft native kernel by SQL name, with no
  * registration call.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val s = SparkTestSession.withGraftExtensions

  private val lshInput = (1 to 64).map(i => i - 32.5)
  private val lshSql = lshInput.map(d => s"${d}D").mkString("array(", ", ", ")")

  /** One SQL predicate per kernel name, true iff the kernel computed
    * the hand-checked (or independently derived) value.
    */
  private val checks: Map[String, String] = Map(
    "hash32" ->
      "hash32('abc') = CAST(conv(substring(md5('abc'), 1, 8), 16, 10) AS BIGINT)",
    "array_cosine" ->
      "abs(array_cosine(array(3.0D, 4.0D), array(3.0D, 4.0D)) - 1.0D) < 1e-12D",
    "array_dot_long" ->
      "array_dot_long(array(1L, -2L, 3L), array(4L, 5L, -6L)) = -24L",
    // m = 2 subspaces, ksub = 2: lut[0·2 + 1] + lut[1·2 + 0]
    "adc_score_long" ->
      "adc_score_long(array(1, 0), array(10L, 20L, 30L, 40L)) = 50L",
    // C = 2: bucket 0 → slots (0, 1), bucket 1 → slots (2, 3)
    "nb_class_sums" ->
      "nb_class_sums(array(0L, 1L), array(1L, 2L, 3L, 4L), 2) = array(4L, 6L)",
    "hash32_buckets" ->
      ("hash32_buckets(array('a', 'b'), 7L) = array(" +
        "CAST(conv(substring(md5('a'), 1, 8), 16, 10) AS BIGINT) % 7, " +
        "CAST(conv(substring(md5('b'), 1, 8), 16, 10) AS BIGINT) % 7)"),
    "token_spans" ->
      ("token_spans('a b c', 2) = array(named_struct('pos', 1, 'span', 'a b'), " +
        "named_struct('pos', 2, 'span', 'b c'))"),
    "token_pairs" ->
      ("token_pairs('a  b c') = array(named_struct('prev', 'a', 'term', 'b'), " +
        "named_struct('prev', 'b', 'term', 'c'))"),
    "bpe_merge_fold_all" ->
      ("bpe_merge_fold_all(array('a', 'b', 'c'), " +
        "array(named_struct('lft', 'a', 'rgt', 'b'))) = array('ab', 'c')"),
    "bpe_encode_word" ->
      ("bpe_encode_word('abc', " +
        "array(named_struct('lft', 'a', 'rgt', 'b'))) = array('ab', 'c')"),
    "array_adj_pairs" ->
      ("array_adj_pairs(array('a', 'b', 'c')) = array(" +
        "named_struct('lft', 'a', 'rgt', 'b'), named_struct('lft', 'b', 'rgt', 'c'))"),
    "lsh_sign_word" ->
      (s"lsh_sign_word($lshSql, 8, 64, 0) = " +
        graft.functions.LshSignWord.compute(
          ArrayData.toArrayData(lshInput.toArray), 8, 64, 0) + "L"))

  test("builder.withExtensions(new GraftExtensions) installs array_cosine") {
    val r = s.sql(
      "SELECT array_cosine(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val ortho = s.sql(
      "SELECT array_cosine(array(1.0D, 0.0D), array(0.0D, 2.0D)) AS c")
      .head.getDouble(0)
    assert(ortho == 0.0)
  }

  test("the extension installs every kernel, each callable from SQL") {
    assert(checks.keySet === Kernels.sqlFunctions.map(_._1).toSet)
    for ((name, pred) <- checks)
      assert(s.sql(s"SELECT $pred").head.getBoolean(0), s"$name: $pred")
  }

  test("lsh_sign_word rejects a non-literal plane count") {
    val e = intercept[Exception] {
      s.sql(s"SELECT lsh_sign_word(v, n, 64, 0) FROM VALUES ($lshSql, 8) AS t(v, n)")
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null && m.contains("expects integer literals")), msgs)
  }
}
