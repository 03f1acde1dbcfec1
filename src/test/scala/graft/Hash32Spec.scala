package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Hash32Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("native hash32 equals the md5/substring/conv chain on corpus text") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("s"))
      .filter(col("s") =!= "")
      .union(Seq("", "a", "é漢字", "x" * 5000, "shuffle:42", "cdc:tok")
        .toDF("s"))
    val chain = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
    val bad = docs
      .select(graft.text.Shingles.hash32(col("s")).as("k"), chain.as("c"))
      .filter(col("k") =!= col("c") || col("k").isNull)
    assert(bad.isEmpty, bad.take(5).mkString(","))
  }

  test("native hash32 null-in null-out, value range is unsigned 32-bit") {
    import spark.implicits._
    val r = Seq[Option[String]](None, Some("q")).toDF("s")
      .select(graft.text.Shingles.hash32(col("s")).as("k")).collect()
    assert(r.exists(_.isNullAt(0)))
    val v = r.filter(!_.isNullAt(0)).map(_.getLong(0))
    assert(v.forall(x => x >= 0L && x <= 0xffffffffL))
  }

  test("hash32 casts non-string input to string, as the md5 chain did; " +
      "on string input the cast is optimized away") {
    val ids = spark.range(0, 2000).select(col("id"), col("id").cast("string").as("s"))
    val bad = ids.filter(graft.text.Shingles.hash32(col("id"))
      =!= graft.text.Shingles.hash32(col("s")))
    assert(bad.isEmpty, bad.take(5).mkString(","))
    val onString = ids.select("s").localCheckpoint()
      .select(graft.text.Shingles.hash32(col("s")))
      .queryExecution.optimizedPlan
    val casts = onString.expressions.flatMap(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => c })
    assert(casts.isEmpty, onString)
  }
}
