package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation.
  *
  * Each node starts labeled with itself; every round each node takes the
  * min label over itself and its neighbors. At fixpoint the label is the
  * minimum node id reachable in the component — a deterministic cluster
  * id, which is what makes the result oracle-checkable (the DuckDB twin
  * is a recursive CTE computing min reachable label).
  *
  * Scale design: one shuffle (join + groupBy on node) per round; rounds
  * = graph diameter. Lineage is truncated every round with an eager
  * localCheckpoint — without it the iterated join plan grows without
  * bound and the optimizer re-analyzes the whole history each round.
  * Near-dup graphs are near-diagonal (tiny clusters), so the diameter is
  * small; for general graphs at 100 TB you would switch to the
  * large-star/small-star contraction (Kiveris et al., "Connected
  * Components in MapReduce and Beyond"), which converges in O(log d)
  * rounds with the same per-round shape.
  */
object Graph {

  /** Per-node component labels for the undirected graph given as an edge
    * list. Nodes appear in the output iff they occur in an edge;
    * isolated nodes are their own singleton components by definition and
    * can be unioned in by the caller if wanted.
    *
    * @param edges DataFrame with two long columns `src`, `dst`
    * @return (node, label) — label = min node id in the component
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init at min(self, neighbors): one aggregation that is exactly the
    // first propagation round, so near-diagonal dup graphs (pairs,
    // triangles) start converged and pay a single verification round.
    // Checkpoints are LAZY (r17, job-count sweep): the convergence
    // aggregate right after is a full scan, so its job materializes the
    // checkpoint — one job per round instead of two.
    var labels = sym.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("node"), col("label"))
      .localCheckpoint(false)
    // labels only ever decrease, so Σ label is a strictly decreasing
    // convergence metric — one cheap agg per round, no self-join diff.
    // sum() over zero rows is null — an empty edge list must converge
    // immediately (empty result), not NPE in compareTo
    def sumLabels(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prev = sumLabels(labels)
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val prop = sym.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      val next = labels.union(prop)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false)
      val cur = sumLabels(next)
      done = cur.compareTo(prev) == 0
      prev = cur
      labels = next
      it += 1
    }
    sym.unpersist()
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the 100 TB path for general graphs: converges in
    * O(log d) rounds instead of the min-label propagation's O(d), with
    * the same per-round shape (one groupBy + one join-free emit over
    * the edge list). Output contract identical to
    * [[connectedComponents]]: (node, label = min node id reachable),
    * nodes appearing in at least one edge.
    *
    *  - large-star(u): attach every neighbor v > u to
    *    m = min(N(u) ∪ {u}) — long tails fold onto small ids fast;
    *  - small-star(u): attach every neighbor v ≤ u, and u itself, to
    *    the minimum of that set — stars flatten onto their centers.
    *
    * Both steps preserve connectivity and only ever decrease the id a
    * node hangs from; the fixpoint is a forest of depth-1 stars rooted
    * at component minima. Convergence is detected with an
    * order-insensitive edge-set checksum (exact set compare would cost
    * two anti-joins per round; a 64-bit-sum collision across rounds of
    * the same shrinking computation is not a practical concern).
    *
    * Size-adaptive: the first step collects at most `budget + 1` edges,
    * `budget` = [[driverEdgeBudget]] of
    * `spark.sql.autoBroadcastJoinThreshold` (10,240 edges at the
    * default 10 MiB). An edge list that fits is solved on the driver by
    * a union-find that always keeps the smaller root, and returned as a
    * local frame with the distributed path's exact rows — the jobs of
    * that one collect (one per scale-up round of its limit scan: 1 for
    * a one-partition frame, 3 for eight) instead of several per
    * contraction round. The gate reads the broadcast threshold because
    * it is the driver heap the deployment already grants a small
    * frame, and the budget keeps the driver path's measured peak heap
    * within it; a threshold ≤ 0 disables broadcasts and so forces the
    * distributed path. Measured by `ScaleProbe ccgate` (4 cores): the
    * driver path is 7–17× faster at 10,000 edges and about even with
    * the contraction at 655,360 (disjoint pairs; 3.4× faster on 16-node
    * paths), so the heap, not the time, sets the budget. A larger edge
    * list pays for the discarded collect (about 0.1 s just over the
    * default budget) before its contraction runs.
    * `maxIter` binds only the distributed path: the driver path always
    * runs to the fixpoint. Both paths return `node` and `label` as
    * nullable longs.
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import org.apache.spark.sql.expressions.Window

    // fixpoint: depth-1 stars (child, center); centers label themselves.
    // Union the original node set so nodes whose only edges were
    // self-loops (dropped before iterating) keep the same
    // node-appears-iff-in-an-edge contract as connectedComponents.
    // `node` is declared nullable whatever the input (`label`, a min,
    // always is): a round's window min would make it so, and one fixed
    // schema serves edge lists on which no round runs, and the driver
    // path, alike.
    def assemble(stars: DataFrame): DataFrame = {
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
      stars.select(col("src").as("node"), col("dst").as("label"))
        .union(stars.select(col("dst").as("node"), col("dst").as("label")))
        .union(nodes.select(col("node"), col("node").as("label")))
        .groupBy("node").agg(min("label").as("label"))
        .select(when(col("node").isNotNull, col("node")).as("node"), col("label"))
    }

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val w = Window.partitionBy("src")
      sym
        .withColumn("m", least(col("src"), min(col("dst")).over(w)))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge small←large, group on the large end
      val oriented = e.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val w = Window.partitionBy("u")
      val withM = oriented.withColumn("m", min(col("v")).over(w))
      withM
        .select(col("v").as("src"), col("m").as("dst"))
        .union(withM.select(col("u").as("src"), col("m").as("dst")).distinct())
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // None ⇔ zero edge rows (sum over an empty frame is null; xxhash64
    // of non-null longs is never null) — doubles as the emptiness test,
    // so no separate isEmpty job
    def checksum(e: DataFrame): Option[java.math.BigDecimal] =
      Option(e.agg(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")))
        .head.getDecimal(0))

    val pairs = edges.select(col("src"), col("dst"))
    val loopFree = pairs.filter(col("src") =!= col("dst"))
    val budget = driverEdgeBudget(graft.core.Gate.broadcastThreshold(spark))
    if (budget > 0) {
      val solved = driverComponents(pairs, budget)
      if (solved.isDefined)
        return spark.createDataFrame(solved.get, assemble(loopFree).schema)
    }

    // checkpoints are LAZY (r17, job-count sweep): the checksum
    // aggregate is a full scan, so its job materializes the checkpoint
    // — one job per round instead of two
    var cur = loopFree.localCheckpoint(false)
    var prevOpt = checksum(cur)
    var it = 0
    var done = prevOpt.isEmpty
    var prev = prevOpt.getOrElse(java.math.BigDecimal.ZERO)
    while (!done && it < maxIter) {
      cur = smallStar(largeStar(cur)).localCheckpoint(false)
      val c = checksum(cur).getOrElse(java.math.BigDecimal.ZERO)
      done = c.compareTo(prev) == 0
      prev = c
      it += 1
    }
    assemble(cur)
  }

  /** Driver heap one edge of [[connectedComponentsStar]]'s driver path
    * costs at its peak, rounded up. The peak holds the collected rows,
    * the union-find's arrays and the local result frame; a graph of
    * disjoint pairs (two output rows per edge) is the costliest shape.
    * Measured on it by `ScaleProbe ccgate` (JDK 17, G1 with a 64 MiB
    * young generation; most heap in use right after a collection, above
    * the heap live before the call): 320 bytes per edge at 100,000
    * edges, 790 at 655,360. The result frame alone holds about 140.
    */
  private val DriverBytesPerEdge = 1024L

  /** Edges [[connectedComponentsStar]] solves on the driver for a
    * broadcast threshold of `threshold` bytes: as many as keep the
    * driver path's peak heap within the threshold (10,240 at the
    * default 10 MiB); ≤ 0 when broadcasts are off.
    */
  def driverEdgeBudget(threshold: Long): Int =
    math.min(threshold / DriverBytesPerEdge, Int.MaxValue - 1L).toInt

  /** (node, label) rows of [[connectedComponentsStar]] for the edge
    * list `pairs`, solved on the driver — or None when it has more than
    * `budget` edges. At most `budget + 1` rows are collected, and their
    * endpoints are copied at once into primitive arrays; the union-find
    * runs over indexes into the sorted distinct node ids. Linking
    * always under the smaller index keeps every root its component's
    * minimum id, so the root IS the label. A null endpoint joins
    * nothing — the distributed path drops its edge and groups it as one
    * (null, null) row.
    */
  private def driverComponents(pairs: DataFrame, budget: Int)
      : Option[java.util.List[Row]] = {
    // ids(0 until k): every non-null endpoint; (src(i), dst(i)), i < m:
    // every edge without a null end
    val (ids, k, src, dst, m, sawNull) = {
      val rows = pairs.limit(budget + 1).collect()
      if (rows.length > budget) return None
      val ids = new Array[Long](2 * rows.length)
      val src = new Array[Long](rows.length)
      val dst = new Array[Long](rows.length)
      var k, m = 0
      var sawNull = false
      rows.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) sawNull = true
        else { src(m) = r.getLong(0); dst(m) = r.getLong(1); m += 1 }
        if (!r.isNullAt(0)) { ids(k) = r.getLong(0); k += 1 }
        if (!r.isNullAt(1)) { ids(k) = r.getLong(1); k += 1 }
      }
      (ids, k, src, dst, m, sawNull)
    }
    java.util.Arrays.sort(ids, 0, k)
    var n = 0
    for (i <- 0 until k) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    for (i <- 0 until m) {
      val (a, b) = (find(index(src(i))), find(index(dst(i))))
      if (a < b) parent(b) = a else parent(a) = b
    }
    val out = new java.util.ArrayList[Row](n + 1)
    for (i <- 0 until n) out.add(Row(ids(i), ids(find(i))))
    if (sawNull) out.add(Row(null, null))
    Some(out)
  }

  /** Fixed-iteration PageRank over the undirected graph given as an
    * edge list (each edge contributes both directions): rank ←
    * (1−d)/n + d · Σ_{v∈in(u)} rank(v)/deg(v), uniform init 1/n — the
    * graph-analytics centrality of a duplicate/link graph (which
    * cluster member is the "hub" copy; which page the link graph
    * endorses). Fixed iteration count instead of convergence detection
    * keeps the result a pure function of the input, which is what makes
    * it oracle-checkable (the DuckDB twin unrolls the same iterations).
    *
    * Scale: each iteration is one join (ranks × symmetrized edges) and
    * one aggregate keyed by the destination node — the same one-shuffle
    * round shape as [[connectedComponents]]; lineage is truncated per
    * round. Determinism: ranks iterate NORMALIZED to mean 1 (sum = n,
    * init 1.0) so their magnitude is independent of graph size, and
    * each contribution rank/deg — one IEEE division — is quantized to
    * DECIMAL(28,6) before an exact sum (partial-agg combine order can't
    * move the result). The coarse 1e-6 grid is the same cross-engine
    * guard as the BM25 scorer: Spark's double→decimal cast rounds the
    * shortest decimal representation where other engines round the
    * exact binary value — a ~1e-16-relative discrepancy that can flip a
    * fine-grained grid cell (observed at DECIMAL(28,12) on the sf0.1
    * graph) but in practice never crosses a 1e-6 boundary of an O(1)
    * value. The mean-1 normalization is what keeps the grid O(1)
    * relative: raw sum-1 ranks shrink as 1/n and a fixed absolute grid
    * would erase them at 10⁹ nodes. The conventional sum-1 rank is the
    * scaled rank divided by n (one exact-same-everywhere division,
    * applied in the output projection).
    */
  def pagerank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // sym + deg feed every iteration — persist once, drop at the end
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(lvl)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg")).persist(lvl)
    val n = deg.count()
    val base = 1.0 - damping
    var ranks = deg.select(col("src").as("node"), lit(1.0).as("rank"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      ranks = sym.join(deg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst"),
          (col("rank") / col("deg").cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (lit(base) + lit(damping) * col("s").cast("double")).as("rank"))
        .localCheckpoint(true)
    }
    sym.unpersist(false)
    deg.unpersist(false)
    ranks.select(col("node"), (col("rank") / lit(n.toDouble)).as("rank"))
  }

  /** Triangle count + global clustering coefficient over an
    * undirected edge list — the dup-graph cohesion metric (a high CC
    * says near-dup neighborhoods are dense cliques a keep-one policy
    * collapses safely; a low CC says they're chains that stitching
    * may over-merge). Edges normalize to a < b, so each triangle
    * {a<b<c} is counted exactly once by the (a,b)⋈(b,c)⋈(a,c)
    * two-join plan — the standard distributed formulation whose cost
    * is Σ_v deg(v)² wedge rows (at 100 TB you orient edges
    * low-degree→high first, cutting the hub vertex's wedge quadratic;
    * on LSH candidate graphs df-capping has already bounded degrees).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      count(lit(1)).as("n_vertices"),
      (sum(col("d") * (col("d") - 1)) / lit(2)).cast("long").as("n_wedges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges).crossJoin(tri)
      .select(col("n_edges"), col("n_vertices"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          col("n_triangles").cast("double") * lit(3.0) /
            col("n_wedges").cast("double")).otherwise(lit(0.0)).as("global_cc"))
  }
}
