package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** Unit tests for min-label connected components. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain needs diameter rounds and still converges to the min id") {
    // 5-1-4-2-8: min label 1 must travel 3 hops to reach 8
    val got = components(Seq((5L, 1L), (1L, 4L), (4L, 2L), (2L, 8L)))
    assert(got === Map(5L -> 1L, 1L -> 1L, 4L -> 1L, 2L -> 1L, 8L -> 1L))
  }

  test("disjoint components keep distinct labels") {
    val got = components(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("edge direction does not matter") {
    assert(components(Seq((7L, 3L))) === components(Seq((3L, 7L))))
  }

  test("an empty edge list yields an empty labeling (dup-free corpus)") {
    // q_dedup_clusters feeds LSH candidate pairs here; zero candidates
    // must produce the empty frame the oracle produces, not crash
    assert(components(Seq.empty) === Map.empty)
  }

  test("a cycle converges") {
    val got = components(Seq((2L, 3L), (3L, 4L), (4L, 2L)))
    assert(got === Map(2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  /** Runs `body` once on the driver path and once, with broadcasts
    * disabled, on the distributed contraction path. */
  private def bothStarPaths(body: String => Unit): Unit = {
    body("driver")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body("distributed") finally spark.conf.set(key, prev)
  }

  private def starComponents(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponentsStar(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction agrees with min-label propagation on a long chain") {
    // a 12-hop path: worst case for propagation (O(d) rounds), the
    // shape star contraction collapses in O(log d)
    val chain = (0L until 12L).map(i => (i, i + 1))
    bothStarPaths(path => assert(starComponents(chain) === components(chain), path))
  }

  test("star contraction: empty edges, disjoint components, self-loops") {
    bothStarPaths { path =>
      assert(starComponents(Seq.empty) === Map.empty, path)
      assert(starComponents(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
        === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), path)
      assert(starComponents(Seq((7L, 7L))) === Map(7L -> 7L), path)
    }
  }

  test("star contraction: both paths return one fixed schema and the same rows") {
    // nullable `node` and `label` whatever the input: non-null and
    // nullable columns, and edge lists on which the contraction runs
    // no round (empty, self-loop only)
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val fixed = StructType(Seq(StructField("node", LongType, nullable = true),
      StructField("label", LongType, nullable = true)))
    val inputs = Seq(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq((7L, 7L)).toDF("src", "dst"),
      Seq((Option(1L), Option(2L)), (Some(4L), None)).toDF("src", "dst"))
    inputs.foreach { edges =>
      val rows = scala.collection.mutable.Map[String, Set[String]]()
      bothStarPaths { path =>
        val out = Graph.connectedComponentsStar(edges)
        assert(out.schema === fixed, path)
        rows(path) = out.collect().map(_.toString).toSet
      }
      assert(rows("driver") === rows("distributed"))
    }
  }

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Double] =
    Graph.pagerank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pagerank matches a driver-side reference within float tolerance") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (2L, 3L), (4L, 5L))
    val sym = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2) }
    val n = sym.size
    var r = sym.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until 3) {
      val contrib = sym.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> r(u) / vs.size)
      }.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      r = r.keys.map(u => u -> (0.15 / n + 0.85 * contrib(u))).toMap
    }
    val got = ranks(edges)
    assert(got.keySet === r.keySet)
    // tolerance covers the deterministic 1e-6 contribution quantization
    // (≤ deg·5e-7 per node per round before the /n normalization)
    got.foreach { case (node, rank) =>
      assert(math.abs(rank - r(node)) < 1e-5, s"node $node: $rank vs ${r(node)}")
    }
  }

  test("pagerank conserves total mass and ranks the hub highest") {
    // star: 0 is the hub — on a symmetrized dangling-free graph the
    // total rank stays 1 every iteration (up to contribution quantization)
    val got = ranks(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(math.abs(got.values.sum - 1.0) < 1e-5)
    assert(got(0L) === got.values.max)
  }
}
