package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}

import _root_.graft.functions._

/** The one way graft's native Catalyst kernels enter a plan: a typed
  * Column builder per kernel for library code, and [[sqlFunctions]],
  * the same kernels by SQL name, which `graft.GraftExtensions` injects
  * into a session.
  *
  * The file lives in package `org.apache.spark.sql` so that it can call
  * the `private[sql]` classic `ExpressionUtils` converters directly: if
  * Spark moves them, this file stops compiling instead of every caller
  * failing at runtime. The builders need no SparkSession and no
  * registration; each one constructs exactly the expression the SQL
  * name resolves to, so plans and results do not depend on which path
  * built them.
  */
object Kernels {

  def hash32(c: Column): Column = column(Hash32(expression(c)))

  def arrayCosine(a: Column, b: Column): Column =
    column(ArrayCosine(expression(a), expression(b)))

  def arrayDotLong(a: Column, b: Column): Column =
    column(ArrayDotLong(expression(a), expression(b)))

  def adcScoreLong(codes: Column, lut: Column): Column =
    column(AdcScoreLong(expression(codes), expression(lut)))

  def nbClassSums(buckets: Column, lam: Column, nClasses: Column): Column =
    column(NbClassSums(expression(buckets), expression(lam), expression(nClasses)))

  def hash32Buckets(toks: Column, nBuckets: Long): Column =
    column(Hash32Buckets(expression(toks), Literal(nBuckets)))

  def tokenSpans(text: Column, n: Int): Column =
    column(TokenSpans(expression(text), Literal(n)))

  def tokenPairs(text: Column): Column = column(TokenPairs(expression(text)))

  def bpeMergeFoldAll(syms: Column, merges: Column): Column =
    column(BpeMergeFoldAll(expression(syms), expression(merges)))

  def bpeEncodeWord(word: Column, merges: Column): Column =
    column(BpeEncodeWord(expression(word), expression(merges)))

  def arrayAdjPairs(syms: Column): Column = column(ArrayAdjPairs(expression(syms)))

  def lshSignWord(v: Column, nPlanes: Int, dims: Int, planeOffset: Int): Column =
    column(LshSignWord(expression(v), nPlanes, dims, planeOffset))

  /** Every kernel by SQL name, with the builder the analyzer calls. */
  val sqlFunctions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
      (name, new ExpressionInfo(cls.getName, name), build)
    def intLit(e: Expression): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"lsh_sign_word expects integer literals for (nPlanes, dims, planeOffset), got $other")
    }
    Seq(
      fn("hash32", classOf[Hash32])(e => Hash32(e(0))),
      fn("array_cosine", classOf[ArrayCosine])(e => ArrayCosine(e(0), e(1))),
      fn("array_dot_long", classOf[ArrayDotLong])(e => ArrayDotLong(e(0), e(1))),
      fn("adc_score_long", classOf[AdcScoreLong])(e => AdcScoreLong(e(0), e(1))),
      fn("nb_class_sums", classOf[NbClassSums])(e => NbClassSums(e(0), e(1), e(2))),
      fn("hash32_buckets", classOf[Hash32Buckets])(e => Hash32Buckets(e(0), e(1))),
      fn("token_spans", classOf[TokenSpans])(e => TokenSpans(e(0), e(1))),
      fn("token_pairs", classOf[TokenPairs])(e => TokenPairs(e(0))),
      fn("bpe_merge_fold_all", classOf[BpeMergeFoldAll])(e => BpeMergeFoldAll(e(0), e(1))),
      fn("bpe_encode_word", classOf[BpeEncodeWord])(e => BpeEncodeWord(e(0), e(1))),
      fn("array_adj_pairs", classOf[ArrayAdjPairs])(e => ArrayAdjPairs(e(0))),
      fn("lsh_sign_word", classOf[LshSignWord])(e =>
        LshSignWord(e(0), intLit(e(1)), intLit(e(2)), intLit(e(3)))))
  }
}
