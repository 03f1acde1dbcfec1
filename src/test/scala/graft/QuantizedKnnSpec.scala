package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VectorOps

/** Int8 quantization + integer-dot top-k: code range, reconstruction
  * error bound, kernel correctness, and ranking fidelity vs exact kNN.
  */
class QuantizedKnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"
  private def emb = graft.core.Tables.embeddings(spark, dir)

  test("array_dot_long computes the exact integer dot product") {
    import spark.implicits._
    val got = Seq((Array(1L, -2L, 3L), Array(4L, 5L, -6L)))
      .toDF("a", "b")
      .select(Kernels.arrayDotLong(col("a"), col("b")))
      .head.getLong(0)
    assert(got === (4L - 10L - 18L))
  }

  test("codes lie in [-127, 127] and reconstruction error is within scale/2") {
    val q = VectorOps.quantizeInt8(emb).collect()
    val orig = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(q.nonEmpty)
    q.foreach { r =>
      val id = r.getLong(0); val s = r.getDouble(1); val qv = r.getSeq[Long](2)
      assert(qv.forall(c => c >= -127 && c <= 127), s"vec $id code range")
      qv.zip(orig(id)).foreach { case (c, x) =>
        assert(math.abs(c * s - x) <= s / 2 + 1e-12, s"vec $id reconstruction")
      }
    }
  }

  test("quantized top-10 closely tracks exact float dot-product top-10") {
    // apples-to-apples: the quantized score approximates the INNER
    // PRODUCT (MIPS contract), so the fidelity baseline is exact double
    // dot ranking — not the norm-divided cosine of q_knn_bruteforce
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val exact = vecs.keys.filter(_ < 5).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (v, x) => (v, vecs(q).zip(x).map(p => p._1 * p._2).sum) }
        .sortBy { case (v, d) => (-d, v) }.take(10)
        .map { case (v, _) => (q, v) }
    }.toSet
    val quant = VectorOps.quantizedKnn(emb, col("vec_id") < 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (exact intersect quant).size.toDouble / exact.size
    // int8 on 64-d vectors preserves dot ordering almost perfectly;
    // anything below 0.8 overlap means the kernel or scales are wrong
    assert(overlap >= 0.8, s"overlap $overlap")
  }
}
