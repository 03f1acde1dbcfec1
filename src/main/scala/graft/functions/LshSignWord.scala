package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Fused sign-LSH bucket word: for planes [planeOffset, planeOffset +
  * nPlanes), bit p of the result is 1 iff the left-folded ascending
  * dot product of the vector with plane (planeOffset + p)'s splitmix64
  * pseudo-weights is > 0 — exactly the decision the compositional
  * column tree it replaced made, in the same IEEE accumulation
  * order (ascending index, single accumulator; a null element nulls
  * that plane's dot, which contributes 0 to the word, and an index
  * past the array end raises, like ANSI element_at).
  *
  * Why native: the column form is nPlanes × dims element_at/multiply
  * nodes — 2048 expression nodes per call at the occupancy pre-flight's
  * 32-plane word, repeated across every band branch of a union — and
  * Catalyst re-optimizes that whole tree on EVERY execution: the r16
  * job census measured q_lsh_occupancy at 0.9 s of task time inside a
  * multi-second wall, the difference being driver-side
  * planning/codegen of trees this size (the same class of cost as the
  * IVF codebook literal budget). One expression node makes the plan
  * constant-sized; the per-row loop and the plane-weight table
  * ([[LshSignWord.planeWeight]], cached per (offset, planes, dims))
  * are shared by interpreted eval and codegen.
  */
case class LshSignWord(child: Expression, nPlanes: Int, dims: Int,
    planeOffset: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"lsh_sign_word requires array<double>, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sign_word"

  override def nullSafeEval(v: Any): Any =
    LshSignWord.compute(v.asInstanceOf[ArrayData], nPlanes, dims, planeOffset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LshSignWord.compute($v, $nPlanes, $dims, $planeOffset);")

  override protected def withNewChildInternal(newChild: Expression): LshSignWord =
    copy(child = newChild)
}

object LshSignWord {
  /** splitmix64-derived pseudo-random plane weight in [-1, 1) — THE
    * single source of the constant grid every sign-LSH op and every
    * SQL oracle literal is built from (VectorOps.lshPlaneWeight
    * delegates here).
    */
  def planeWeight(plane: Int, dim: Int): Double = {
    var z = (plane.toLong << 32 | dim.toLong) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  private def weights(off: Int, nPlanes: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((off, nPlanes, dims),
      _ => Array.tabulate(nPlanes, dims)((p, i) => planeWeight(off + p, i)))

  def compute(v: ArrayData, nPlanes: Int, dims: Int, off: Int): Long = {
    if (v.numElements() < dims)
      throw new ArrayIndexOutOfBoundsException(
        s"lsh_sign_word: vector has ${v.numElements()} elements, needs $dims")
    val w = weights(off, nPlanes, dims)
    var word = 0L
    var p = 0
    while (p < nPlanes) {
      val row = w(p)
      var dot = 0.0
      var anyNull = false
      var i = 0
      while (i < dims && !anyNull) {
        if (v.isNullAt(i)) anyNull = true
        else dot += v.getDouble(i) * row(i)
        i += 1
      }
      if (!anyNull && dot > 0) word |= 1L << p
      p += 1
    }
    word
  }
}
