package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Typed

class TypedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("typed documents Dataset maps the parquet schema") {
    val docs = Typed.documents(spark, dir)
    assert(docs.head().text.nonEmpty)
    assert(docs.count() == 500)
  }

  test("typed relatedTerms returns TermScore rows matching the untyped query") {
    val docs = Typed.documents(spark, dir)
    val q = graft.sim.Semantic.queryTermFrom(graft.tfidf.TfIdf.tfidf(docs.toDF()))
    val typed = Typed.relatedTerms(docs, q, k = 5).collect()
    assert(typed.length == 5)
    assert(typed.forall(t => t.sim > 0 && t.sim <= 1.0 + 1e-9))
  }

  test("MomentsAgg matches the exact-decimal stats on lineitem quantity") {
    import spark.implicits._
    val qty = graft.core.Tables.lineitem(spark, dir)
      .select($"l_quantity").as[Double]
    val m = qty.select(new Typed.MomentsAgg().toColumn).head()
    val exact = graft.ops.Relational.queries("q_stats_agg")(spark, dir)
      .selectExpr("sum(n)", "avg(mean_qty)").head()
    assert(m.n == exact.getLong(0))
    // per-group means averaged ≠ global mean, so just sanity bounds here
    assert(m.mean > 0 && m.variance > 0)
  }
}
