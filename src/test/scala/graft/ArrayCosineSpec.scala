package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels
import org.scalatest.funsuite.AnyFunSuite

class ArrayCosineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  // the SQL-string checks run where the SQL name is installed
  lazy val sqlSession = SparkTestSession.withGraftExtensions

  test("array_cosine equals the compositional aggregate/zip_with form on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") + 1 === col("b.vec_id") && col("a.vec_id") < 50)
    val composed = aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) /
      (sqrt(aggregate(transform(col("a.v"), x => x * x), lit(0.0), (acc, x) => acc + x)) *
       sqrt(aggregate(transform(col("b.v"), x => x * x), lit(0.0), (acc, x) => acc + x)))
    val diff = pairs.select(
        Kernels.arrayCosine(col("a.v"), col("b.v")).as("fused"),
        composed.as("composed"))
      .select(max(abs(col("fused") - col("composed")))).collect().head.getDouble(0)
    assert(diff == 0.0, s"fused and composed cosine must be bit-identical, max diff $diff")
  }

  test("array_cosine known values and SQL registration") {
    val r = sqlSession.sql(
      "SELECT array_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS one, " +
      "array_cosine(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS zero").collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1)) < 1e-15)
  }

  test("array_cosine null propagation") {
    val r = sqlSession.sql("SELECT array_cosine(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))").collect().head
    assert(r.isNullAt(0))
  }

  test("array_cosine treats null ELEMENTS as zero (no NPE, consistent paths)") {
    val r = sqlSession.sql(
      "SELECT array_cosine(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 5.0d)) AS c").collect().head
    // [1, 0]·[1, 5] / (1 * sqrt(26))
    assert(math.abs(r.getDouble(0) - 1.0 / math.sqrt(26.0)) < 1e-12)
  }
}
