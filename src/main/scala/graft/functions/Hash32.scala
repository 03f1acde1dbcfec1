package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine-wide 32-bit string hash ([[graft.text.Shingles.hash32]])
  * as ONE native expression: the first 4 bytes of the MD5 digest as an
  * unsigned 32-bit value in a long — numerically identical to the
  * `conv(substring(md5(c), 1, 8), 16, 10) CAST AS long` chain it
  * replaces (the first 8 hex chars of a digest ARE its first 4 bytes),
  * with the same null-in → null-out behavior.
  *
  * Why native (r17, guide §4): the chain materializes a 32-char hex
  * string per call (md5), slices it (substring) and re-parses 8 digits
  * (conv) — pure allocation + parsing overhead on top of the digest
  * itself, paid once per shingle/token/doc-key in every sketch,
  * fingerprint, bucket and split path in the engine. The kernel runs
  * digest → 4 shifts with a thread-local MessageDigest (the
  * [[Hash32Buckets]] core, scalar form). The DuckDB oracle recomputes
  * the same value arithmetically (`Shingles.hash32Sql`), so the 205
  * query hashes pin the equality at every SF.
  */
case class Hash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"hash32 requires (string), got ($t)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hash32"

  override def nullSafeEval(s: Any): Any =
    Hash32.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Hash32.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Hash32 =
    copy(child = newChild)
}

object Hash32 {
  private val digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}
