package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.Graph

/** Property test: distributed min-label components agree with a
  * driver-side union-find on random graphs (including multi-edges,
  * self-loops, and long chains that need several propagation rounds).
  */
object GraphProps extends Properties("Graph") {
  private lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private val genEdges: Gen[List[(Long, Long)]] = for {
    nNodes <- Gen.chooseNum(2, 24)
    nEdges <- Gen.chooseNum(1, 30)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.chooseNum(0L, nNodes.toLong - 1)
      b <- Gen.chooseNum(0L, nNodes.toLong - 1)
    } yield (a, b))
  } yield edges

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min node in the component
    val roots = parent.keys.map(n => n -> find(n)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (n, r) => n -> minOf(r) }
  }

  property("components match driver union-find") = forAll(genEdges) { edges =>
    import spark.implicits._
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got == unionFind(edges)
  }

  private def starComponents(edges: List[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponentsStar(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // default settings: these small graphs are solved on the driver
  property("large-star/small-star matches driver union-find") =
    forAll(genEdges) { edges => starComponents(edges) == unionFind(edges) }

  property("large-star/small-star, distributed, matches driver union-find") =
    forAll(genEdges) { edges =>
      // a threshold ≤ 0 disables broadcasts and forces the contraction rounds
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try starComponents(edges) == unionFind(edges)
      finally spark.conf.set(key, prev)
    }
}
