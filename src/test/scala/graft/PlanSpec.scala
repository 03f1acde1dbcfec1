package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike, ShuffleOrigin}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the PERF.md plan audit as assertions,
  * so a future change can't silently lose pushdown, broadcast choice,
  * or top-k planning.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def jobsIn[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  /** Shuffle exchanges in an executed plan, root first, stopping at
    * cached-table scans (the cached table's own build plan is not this
    * query's). */
  private def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => e +: e.children.flatMap(exchanges)
    case other => other.children.flatMap(exchanges)
  }

  private def shuffles(p: SparkPlan): Int = exchanges(p).length

  /** (origin, hash keys, partition count) of a hash-partitioned exchange. */
  private def hashShape(e: ShuffleExchangeLike): (ShuffleOrigin, Seq[String], Int) =
    e.outputPartitioning match {
      case h: HashPartitioning =>
        (e.shuffleOrigin, h.expressions.map { case a: Attribute => a.name; case x => x.sql },
          h.numPartitions)
      case other => fail(s"not a hash exchange: $other")
    }

  /** Jobs run under `group`. The status tracker is fed by the listener
    * bus, in event order: once a marker job submitted afterwards shows
    * up, every earlier job has too. */
  private def jobCount(group: String): Int = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    jobsIn(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 10_000_000_000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, s"marker job of $group never surfaced")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Operator names of the anti joins in an executed plan, AQE stages
    * and write commands included. */
  private def antiJoins(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => antiJoins(a.executedPlan)
    case s: QueryStageExec => antiJoins(s.plan)
    case j: BaseJoinExec if j.joinType == LeftAnti => j.nodeName +: j.children.flatMap(antiJoins)
    case other => other.children.flatMap(antiJoins)
  }

  /** [[antiJoins]] of the one query `body` runs that has any (a write's
    * plan too, which no frame returns). Listener events arrive
    * asynchronously, so wait for it. */
  private def antiJoinsRun(body: => Unit): Seq[String] = {
    val found = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val js = antiJoins(qe.executedPlan)
        if (js.nonEmpty) found.add(js)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 10_000_000_000L
      while (found.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(found.size === 1, s"queries with anti joins: $found")
      found.peek()
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_top_orders plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q_top_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_weighted_sample plans as TakeOrderedAndProject riding the scan (no shuffle)") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("q_repetition is two hash aggregates on doc_id — no join, no cartesian") {
    val p = plan("q_repetition")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_pricing_summary pushes the shipdate filter into the parquet scan") {
    val p = plan("q_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q_pricing_summary prunes columns: unused lineitem fields never reach the scan") {
    val p = plan("q_pricing_summary")
    assert(!p.contains("l_partkey"), p)
    assert(!p.contains("l_suppkey"), p)
    assert(!p.contains("l_tax"), p)
  }

  test("q_region_revenue broadcasts all three dimension tables") {
    val p = plan("q_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_related_terms uses a broadcast join for the query vector, not a closure") {
    val docs = graft.core.Tables.documents(spark, dir)
    val tf = graft.tfidf.TfIdf.tfidf(docs)
    val df = graft.sim.Semantic.relatedTermsFrom(tf, graft.sim.Semantic.queryTermFrom(tf), 5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`. */
  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** A persisted tf-idf table of the sf0.001 corpus, its cache loaded. */
  private def loadedTf() = {
    val tf = graft.tfidf.TfIdf.tfidf(graft.core.Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count()
    tf
  }

  test("relatedTermsFrom on a persisted tf: building the frame runs no job, " +
      "collecting it runs two (query-vector broadcast, aggregate + top-k), no shuffle") {
    // the distributed path: broadcasts off, so no driver index
    val tf = loadedTf()
    try withThreshold(-1) {
      val q = graft.sim.Semantic.queryTermFrom(tf)
      val df = jobsIn("plan-related-build") {
        graft.sim.Semantic.relatedTermsFrom(tf, q, 5)
      }
      assert(jobCount("plan-related-build") === 0)
      val rows = jobsIn("plan-related-collect")(df.collect())
      assert(rows.nonEmpty)
      assert(jobCount("plan-related-collect") === 2)
      val p = df.queryExecution.executedPlan
      assert(shuffles(p) === 0, p)
      assert(p.toString.contains("BroadcastExchange"), p)
    } finally tf.unpersist(false)
  }

  test("relatedTermsFrom under the gate: the first call runs only the index collect, " +
      "a later call runs no job and its plan is a LocalTableScan") {
    import graft.sim.Semantic
    val tf = loadedTf()
    try {
      val q = Semantic.queryTermFrom(tf)
      val first = jobsIn("plan-related-index")(Semantic.relatedTermsFrom(tf, q, 5).collect())
      assert(jobCount("plan-related-index") === 1)
      val df = jobsIn("plan-related-driver")(Semantic.relatedTermsFrom(tf, q, 5))
      val rows = jobsIn("plan-related-driver")(df.collect())
      assert(jobCount("plan-related-driver") === 0)
      assert(rows.nonEmpty && rows.toSeq === first.toSeq)
      assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        df.queryExecution.executedPlan)
      val distributed = withThreshold(-1)(Semantic.relatedTermsFrom(tf, q, 5))
      assert(df.schema === distributed.schema)
      assert(rows.toSeq === distributed.collect().toSeq)
    } finally tf.unpersist(false)
  }

  test("relatedTermsFrom over the gate: one byte below the index's counted size, the " +
      "first call collects once and goes distributed, later calls run two jobs each") {
    import graft.sim.Semantic
    val tf = loadedTf()
    try {
      val q = Semantic.queryTermFrom(tf)
      val expected = Semantic.relatedTermsFrom(tf, q, 5).collect().toSeq
      val bytes = Semantic.heldIndex.map(_._2).getOrElse(fail("no index held"))
      // persisted again: a new cache, decided afresh
      tf.unpersist(true)
      tf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      withThreshold(bytes - 1) {
        val counts = for (call <- 1 to 3) yield {
          val group = s"plan-related-over-$call"
          val rows = jobsIn(group)(Semantic.relatedTermsFrom(tf, q, 5).collect())
          assert(rows.toSeq === expected, s"call $call")
          assert(Semantic.heldIndex.isEmpty, s"call $call")
          jobCount(group)
        }
        assert(counts === Seq(3, 2, 2))
      }
    } finally tf.unpersist(false)
  }

  test("relatedTermsFrom after unpersist: the next call is distributed and the held " +
      "index is released") {
    import graft.sim.Semantic
    val tf = loadedTf()
    val q = Semantic.queryTermFrom(tf)
    val expected = Semantic.relatedTermsFrom(tf, q, 5).collect().toSeq
    val index = new java.lang.ref.WeakReference(
      Semantic.heldIndex.map(_._1).getOrElse(fail("no index held")))
    tf.unpersist(true)
    val df = Semantic.relatedTermsFrom(tf, q, 5)
    assert(df.collect().toSeq === expected)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(Semantic.heldIndex.isEmpty)
    assert((1 to 50).exists { _ => System.gc(); Thread.sleep(20); index.get == null },
      "the released index is still reachable")
  }

  test("relatedTerms: one collect of the k result rows and no checkpoint: " +
      "8 jobs, one fewer than checkpointing them") {
    val docs = graft.core.Tables.documents(spark, dir)
    val q = graft.sim.Semantic.queryTermFrom(graft.tfidf.TfIdf.tfidf(docs))
    val rows = jobsIn("plan-related-terms")(
      graft.sim.Semantic.relatedTerms(docs, q, 5).collect())
    assert(rows.nonEmpty)
    assert(jobCount("plan-related-terms") === 8)
  }

  test("connectedComponentsStar on a small edge list runs only its edge collect: " +
      "one job per scale-up round of the limit scan") {
    // the collect scans 1 partition, then 4× as many per round
    // (spark.sql.limit.scaleUpFactor) until it has budget + 1 edges or
    // none are left: 1 job for 1 partition, 3 for 8 (1, 4, then 3).
    // Checkpointed, like the dedup callers' edge frames: over a bare
    // range the optimizer knows there are 3 rows and drops the limit.
    for ((parts, jobs) <- Seq(1 -> 1, 8 -> 3)) {
      val group = s"plan-cc-small-$parts"
      val edges = spark.range(0, 3, 1, parts).selectExpr("id AS src", "id + 1 AS dst")
        .localCheckpoint(true)
      val out = jobsIn(group)(graft.ops.Graph.connectedComponentsStar(edges))
      assert(jobCount(group) === jobs, s"$parts partitions")
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        (0L to 3L).map(_ -> 0L).toMap)
    }
  }

  test("tf-idf build: two exchanges — the doc rows by doc_id at the full shuffle width, " +
      "then the counts by term; never the token stream by (doc_id, term)") {
    val docs = graft.core.Tables.documents(spark, dir)
    // the plan callers persist, run to its final adaptive form
    val tf = graft.tfidf.TfIdf.tfidf(docs)
    tf.collect()
    val built = tf.queryExecution.executedPlan
    val shapes = exchanges(built).map(hashShape)
    assert(shapes.map(_._2) === Seq(Seq("term"), Seq("doc_id")), built)
    assert(shapes.last ===
      ((REPARTITION_BY_NUM, Seq("doc_id"), spark.sessionState.conf.numShufflePartitions)), built)
  }

  test("chunkWithOverlap: the doc window and the (doc_id, chunk_idx) aggregate " +
      "ride one exchange of the doc rows") {
    val out = graft.ops.TextOps.chunkWithOverlap(graft.core.Tables.documents(spark, dir), 64, 16)
    out.collect()
    val p = out.queryExecution.executedPlan
    assert(exchanges(p).map(hashShape) ===
      Seq((REPARTITION_BY_NUM, Seq("doc_id"), spark.sessionState.conf.numShufflePartitions)), p)
  }

  test("q_window_topn gets the WindowGroupLimit pushdown for rn <= 3") {
    val p = plan("q_window_topn")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_source_cap gets the WindowGroupLimit pushdown for its per-source quota") {
    // the claim in the query doc: rank <= 15 under a per-source window
    // plans as a bounded per-group heap, not a full group sort
    val p = plan("q_source_cap")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_soft_dedup gets the WindowGroupLimit pushdown for its 64-row literal cap") {
    // the variable per-cluster quota can't push down, so the operator
    // stacks it above a LITERAL rank <= 64 filter that can — a one-
    // giant-cluster corpus costs a 64-row heap, not a cluster-size sort
    val p = plan("q_soft_dedup")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_interval_join broadcasts the tiny tier table (nested-loop, stream side unshuffled)") {
    val p = plan("q_interval_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_sessionize_salted: the event-sized phase-1 window is keyed " +
      "(user_id, bkt) — the user-alone merge window only ever sees " +
      "session rows (r14 verdict #1)") {
    val p = plan("q_sessionize_salted")
    // the bucketed exchange + window specs exist
    assert("hashpartitioning\\(user_id#\\d+L?, bkt#".r.findAllIn(p).nonEmpty, p)
    val bucketed = "windowspecdefinition\\(user_id#\\d+L?, bkt#".r
      .findAllIn(p).matchData.map(_.start).toSeq
    assert(bucketed.nonEmpty, p)
    // every user-alone window spec sits ABOVE (earlier in the top-down
    // plan string than) every bucketed one: phase 2's merge runs over
    // phase 1's aggregated session rows, never over raw events
    val userAlone = "windowspecdefinition\\(user_id#\\d+L?, _w".r
      .findAllIn(p).matchData.map(_.start).toSeq ++
      "windowspecdefinition\\(user_id#\\d+L?, s_start".r
        .findAllIn(p).matchData.map(_.start).toSeq
    assert(userAlone.nonEmpty, p)
    assert(userAlone.max < bucketed.min,
      s"a user-alone window appears below the bucketed phase:\n$p")
  }

  test("q_exact_rep_map scans the documents parquet ONCE (r15 stretch #7): " +
      "both subtrees read the persisted hash projection") {
    val docs = graft.core.Tables.documents(spark, dir)
    val (lazyOut, hashed) = graft.ops.Dedup.exactDupMappingLazy(
      docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")).as("_h")))
    try {
      val p = lazyOut.queryExecution.executedPlan.toString
      // both consumers (probe side + clique aggregate) read the CACHED
      // hash projection; every parquet-scan print sits inside an
      // InMemoryRelation subtree (the cache's stored child plan, shown
      // once per consumer), so the file is physically read once
      assert("InMemoryTableScan".r.findAllIn(p).length === 2, p)
      assert("FileScan parquet".r.findAllIn(p).length
        === "InMemoryRelation".r.findAllIn(p).length,
        s"a parquet scan escaped the cache:\n$p")
    } finally hashed.unpersist(false)
  }

  test("q_salted_agg joins on (key, salt): no plain-key join survives in the plan") {
    val p = plan("q_salted_agg")
    assert(p.contains("__salt"), p)
  }

  test("q_ann_ivf broadcasts the probe's query side (cell key would park on nCentroids partitions)") {
    // assert on the lazy pipeline: the public wrapper localCheckpoints
    // (to drop its persisted working table), which truncates the
    // visible plan to an ExistingRDD scan
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, dir)
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"),
        col("embedding").cast("array<double>").as("cid_v"))
    val (result, scored) = graft.ops.VectorOps.ivfSearchLazy(
      emb, col("vid") >= 490, cent, 5, 1)
    val p = result.queryExecution.executedPlan.toString
    scored.unpersist(false)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_lateral_topn decorrelates to a ranked join (no per-row re-execution shapes)") {
    val p = plan("q_lateral_topn")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_cheapest_supplier computes the argmin as an aggregate, not a window") {
    val p = plan("q_cheapest_supplier")
    assert(!p.contains("Window"), p)
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
  }

  test("q_date_spine gap-fills via broadcast of the bounded daily aggregate") {
    val p = plan("q_date_spine")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_attribution joins on the user-id equi key (time band as filter, no BNLJ)") {
    val p = plan("q_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_frame_sample fans out via Generate on the executors (no extra exchange)") {
    val p = plan("q_frame_sample")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_datetime_fns computes entirely on the scan: no shuffle except the output sort") {
    val p = plan("q_datetime_fns")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_bm25 broadcasts the query-term and df sides") {
    val p = plan("q_bm25")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("q_moving_revenue evaluates the RANGE frame on a single per-key exchange") {
    val p = plan("q_moving_revenue")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q_contamination broadcasts the probe shingle set") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_pack_sequences: the only single-partition window is the per-bucket frame") {
    val p = plan("q_pack_sequences")
    // the corpus-sized cumsum is partitioned by bucket; only the
    // one-row-per-bucket subtotal frame may collapse to one partition
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
    assert(p.contains("hashpartitioning(bucket"), p)
    // bucket offsets re-join the corpus via broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_quantized_knn broadcasts the tiny query side and never sort-merges") {
    val p = plan("q_quantized_knn")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_scd2: both windows ride ONE exchange on the entity key") {
    val p = plan("q_scd2")
    // version + valid_to share the (user_id, ts, event_id) window spec,
    // so the dimension build pays exactly one hash exchange; the
    // remaining exchange is the declared output sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("shuffleRank: the only single-partition window is the bucket-count frame") {
    val (out, keyed) = graft.ops.TextOps.shuffleRankLazy(
      graft.core.Tables.documents(spark, dir))
    val p = out.queryExecution.executedPlan.toString
    // the corpus-sized rank is partitioned by bkt; only the ≤256-row
    // bucket subtotal frame may collapse to one partition, and the
    // offsets re-join the corpus via broadcast, not a shuffle
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
    assert(p.contains("hashpartitioning(bkt"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    keyed.unpersist(false)
  }

  test("q_bpe_encode broadcasts the vocab symbol table into the token stream") {
    val p = plan("q_bpe_encode")
    // the corpus side never shuffles for the join — only the per-doc
    // fingerprint aggregate may exchange on doc_id
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dsir weights broadcast the O(B) model table into the doc-bucket stream") {
    // the token pass reduces to (doc, bucket) counts BEFORE any join;
    // the lambda table (<= 256 rows) must ride a broadcast, never a
    // shuffled join against the corpus. Asserted on the lazy pipeline —
    // the declared query localCheckpoints, truncating its shown plan
    // to an ExistingRDD scan (the ivfSearchLazy convention)
    val docs = graft.core.Tables.documents(spark, dir)
    val (_, wLazy, tok) = graft.ops.Classify.dsirWsumLazy(docs)
    val p = wLazy.queryExecution.executedPlan.toString
    tok.unpersist(false)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_nb_classify broadcasts the bucket-class grid and priors; argmax is a hash aggregate") {
    val p = plan("q_nb_classify")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the per-doc argmax is min(struct(...)) — partial+final aggregate,
    // not a per-doc window sort
    assert(!p.contains("WindowGroupLimit"), p)
  }

  test("q_pq_ann: ADC scoring never shuffles — LUT rides a broadcast, top-k is WindowGroupLimit") {
    val p = plan("q_pq_ann")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_ivfpq: cell-restricted ADC joins broadcast, top-k is WindowGroupLimit") {
    val (lazyPlan, assigned) = graft.ops.VectorOps.ivfPqSearchLazy(
      graft.core.Tables.embeddings(spark, dir),
      org.apache.spark.sql.functions.col("vid") < 5, 8, 8, 16, 10, 64)
    val p = lazyPlan.queryExecution.executedPlan.toString
    assigned.unpersist(false)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_pq_rerank: shortlist and queries ride broadcasts back onto the corpus scan") {
    val p = plan("q_pq_rerank")
    // candidate fetch + query fetch are both broadcast equi-joins; the
    // exact pass must never sort-merge the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_dsir_resample selects via TakeOrderedAndProject — no global sort or window") {
    val p = plan("q_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_bigram_nll and q_intradoc_dedup never go cartesian") {
    for (q <- Seq("q_bigram_nll", "q_intradoc_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("fuzzy decontamination: the probe side rides broadcasts, never a corpus self-join") {
    val docs = graft.core.Tables.documents(spark, dir)
    val (lazyOut, sigs) = graft.ops.Dedup.fuzzyDecontaminationLazy(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 50),
      graft.ops.Dedup.minhashSignatures(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 50))
        .localCheckpoint(true), 4)
    val p = lazyOut.queryExecution.executedPlan.toString
    sigs.unpersist(false)
    // ONE fused broadcast band join carries both candidates and the
    // agreement scoring (r15: the probe's band AND signature columns
    // ride the same broadcast; the old corpus-sized scoring join and
    // the second probe broadcast are gone)
    assert("BroadcastHashJoin".r.findAllIn(p).length === 1, p)
    // the corpus side never shuffles for a join: every exchange left
    // in the plan is the final aggregation's, not a join input's
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("phash pairs: banded candidates join on byte buckets — never cartesian") {
    val media = graft.multimodal.Multimodal.mediaTable(spark, dir)
    val (lazyOut, h) = graft.multimodal.Multimodal.phashPairsLazy(media, 7)
    val p = lazyOut.queryExecution.executedPlan.toString
    h.unpersist(false)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_cluster_purity: centroids broadcast onto the corpus scan, never sort-merged") {
    val p = plan("q_cluster_purity")
    // the corpus×C assignment is a broadcast nested-loop BY DESIGN
    // (C rows against the scan); nothing may sort-merge
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_knn_label_vote: neighbor lists ride broadcasts, the label table never does") {
    val p = plan("q_knn_label_vote")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_hard_negatives: anchors broadcast; top-k is WindowGroupLimit") {
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // non-equi label filter
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_retrieval_eval: neighbor lists and label counts ride broadcasts") {
    val p = plan("q_retrieval_eval")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_zipf_fit: top-1000 terms via TakeOrderedAndProject, not a global sort") {
    val p = plan("q_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q_linear_quality scoring: weight table broadcast, no sort-merge join") {
    val p = plan("q_linear_quality")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_triplets: one scored scan, WindowGroupLimit per (anchor, side)") {
    val p = plan("q_triplets")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_gate_report: weight table broadcast, no sort-merge join") {
    val p = plan("q_gate_report")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_length_quantiles: the data-sized rank window is band-partitioned") {
    val p = plan("q_length_quantiles")
    // two bounded single-partition collapses are allowed: the
    // one-row-per-band offset frame and the one-row global count;
    // the corpus-sized row_number window must partition by band
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 2, p)
    assert(p.contains("hashpartitioning(band"), p)
    assert("windowspecdefinition\\(band".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_phrase_search: phrase probe broadcasts, top-k is TakeOrderedAndProject") {
    val p = plan("q_phrase_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_skew_report: top-k via TakeOrderedAndProject, totals broadcast back") {
    val p = plan("q_skew_report")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("diagnostics/layout queries never go cartesian or sort-merge") {
    for (q <- Seq("q_selfjoin_cost", "q_zorder_zonemap", "q_char_entropy",
        "q_lang_confidence", "q_pack_bins", "q_hll_merge")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("SortMergeJoin"), s"$q: $p")
    }
  }

  test("q_source_quantiles: every data window partitions by (source[, band])") {
    val p = plan("q_source_quantiles")
    // the per-source prefix frame partitions by source — nothing
    // corpus-sized may collapse to one partition (the one-row global
    // count of the unstratified form doesn't exist here)
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("q_curriculum: the rank window is band-partitioned — no single-partition exchange") {
    val p = plan("q_curriculum")
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("BroadcastHashJoin"), p) // the unigram model join
  }

  test("q_label_prop: the final stitch is a plain equi-join, never cartesian") {
    val p = plan("q_label_prop")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_token_budget_sample and q_corpus_diff never go cartesian") {
    for (q <- Seq("q_token_budget_sample", "q_corpus_diff")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("q_dataset_card: stream-keyed equi-joins only, no cartesian") {
    // (q_kn_bigram_nll checkpoints eagerly — its joins are the same
    // (prev,term)-keyed shapes as q_bigram_nll, pinned above)
    val p = plan("q_dataset_card")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bigram stream: native token_pairs kernel, no join, no window (r8 #4 → r17)") {
    // the novelty/phrase bigram source: positional self-join (r8) →
    // lead window (one corpus-wide exchange+sort) → per-doc kernel
    val docs = graft.core.Tables.documents(spark, dir)
    val p = graft.ops.TextOps.bigramStream(docs, Seq("source"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("token_pairs"), p)
    // at most the scale-adaptive small-scan spread; never the window's
    // mandatory corpus-wide exchange+sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1, p)
  }

  test("q_lsh_occupancy prices every setting with zero joins past the sign-word pass") {
    val p = plan("q_lsh_occupancy")
    assert(!p.contains("Join"), p)
    // the sign-word pass is checkpointed; the settings fan out as
    // shift-and-mask projections of it, never re-scanning the vectors
    assert(!p.contains("FileScan parquet"), p)
  }

  test("q_gate_sweep re-thresholds ONE checkpointed scored pass (broadcast 4-row join)") {
    val p = plan("q_gate_sweep")
    // no parquet rescan: training + scoring happened before the
    // checkpoint; the sweep is the broadcast threshold fanout only
    assert(!p.contains("FileScan parquet"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("broadcastQuery=false fallback: equal output via a shuffled join, never a broadcast (r9 #9)") {
    // the documented stop-word escape hatch (Semantic.scala): a query
    // term whose doc vector outgrows the broadcast budget joins
    // shuffled instead. Pin (a) output equality to the broadcast path
    // and (b) the plan actually shuffles — with auto-broadcast
    // disabled so tiny-testdata size estimates can't silently promote
    // the hint-less join back to a broadcast.
    val docs = graft.core.Tables.documents(spark, dir)
    val tf = graft.tfidf.TfIdf.tfidf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = graft.sim.Semantic.queryTermFrom(tf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bcast = graft.sim.Semantic
        .relatedTermsFrom(tf, q, 5, None, broadcastQuery = true)
      val shuffled = graft.sim.Semantic
        .relatedTermsFrom(tf, q, 5, None, broadcastQuery = false)
      assert(shuffled.collect().map(_.toString).toSeq
        === bcast.collect().map(_.toString).toSeq,
        "shuffled fallback must return the broadcast path's answer")
      val p = shuffled.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
      val pb = bcast.queryExecution.executedPlan.toString
      assert(pb.contains("BroadcastHashJoin"), pb) // the hint still wins
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      tf.unpersist(false)
    }
  }

  test("q_phrase_search3 probe: anchor + positional intersections all broadcast, no cartesian") {
    val p = plan("q_phrase_search3")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("deleted-doc suppression rides a BROADCAST anti-join: the takedown " +
      "set must never force a corpus-sized shuffle of the signature store") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files
      .createTempDirectory("plan-dedup-del").toString
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    graft.ops.Dedup.deleteFromDedupState(spark, state,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    val p = graft.ops.Dedup.readSignatureStoreState(spark, state)
      .queryExecution.executedPlan.toString
    // anti-join present, broadcast-shaped, no shuffle of the store side
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedupedCorpus drop-set emission: broadcast anti-join by default, " +
      "forced shuffled (merge) under broadcastDrop=false — same rows either way") {
    val docs = graft.core.Tables.documents(spark, dir)
    val clusters = graft.ops.Dedup.dupClusters(docs, 0.5)
      .localCheckpoint(true)
    val bc = graft.ops.Dedup.dedupedCorpus(docs, clusters, broadcastDrop = true)
    val sh = graft.ops.Dedup.dedupedCorpus(docs, clusters, broadcastDrop = false)
    val pBc = bc.queryExecution.executedPlan.toString
    val pSh = sh.queryExecution.executedPlan.toString
    // default: the drop set rides a broadcast; the corpus never shuffles
    assert(pBc.contains("BroadcastHashJoin") && pBc.contains("LeftAnti"), pBc)
    assert(!pBc.contains("SortMergeJoin"), pBc)
    // crawl-dup-rate shape: the SAME anti-join, shuffled — no broadcast
    // of a potentially corpus-order drop set anywhere in the plan
    assert(pSh.contains("SortMergeJoin") && pSh.contains("LeftAnti"), pSh)
    assert(!pSh.contains("BroadcastHashJoin"), pSh)
    // output identity: strategy is invisible in the rows
    val a = bc.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = sh.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("keepBestCorpus / softDedupCorpus honor the same broadcastDrop dial") {
    val docs = graft.core.Tables.documents(spark, dir)
    val clusters = graft.ops.Dedup.dupClusters(docs, 0.5)
      .localCheckpoint(true)
    val q = graft.ops.TextOps.qualityScores(docs).localCheckpoint(true)
    val kbSh = graft.ops.Dedup
      .keepBestCorpus(docs, clusters, q, broadcastDrop = false)
    val sdSh = graft.ops.Dedup
      .softDedupCorpus(docs, clusters, q, 64, broadcastDrop = false)
    for (df <- Seq(kbSh, sdSh)) {
      val p = df.queryExecution.executedPlan.toString
      // the final drop-set anti-join is shuffled; smaller interior
      // joins (keep table, quota window input) may still broadcast
      assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"), p)
    }
    // identity vs the broadcast default
    val kbBc = graft.ops.Dedup.keepBestCorpus(docs, clusters, q)
    assert(kbSh.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      kbBc.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("deletion-path gate: a one-long-column build side of n rows broadcasts at " +
      "autoBroadcastJoinThreshold = 16·n and joins shuffled at 16·n − 1 and at −1") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, VectorOps}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // Dedup: the pending tombstones, anti-joined out of every store read
    val docs = graft.core.Tables.documents(spark, dir)
    val state = tmp("plan-gate-dedup")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    val del = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") < 400).select("doc_id")
    Dedup.deleteFromDedupState(spark, state, del)
    // VectorOps: a compaction moves the tombstoned vids into the
    // deletion log, which every append anti-joins (dropLogged)
    val emb = graft.core.Tables.embeddings(spark, dir)
    val ixDir = tmp("plan-gate-ix") + "/ix"
    VectorOps.writeIvfPqIndex(emb.filter(col("vec_id") < 400), ixDir, 8, 8, 16, 64)
    val gone = emb.filter(col("vec_id") % 7 === 3 && col("vec_id") < 400)
    VectorOps.deleteFromIvfPqIndex(spark, ixDir, gone.select(col("vec_id").as("vid")))
    VectorOps.compactIvfPqIndex(spark, ixDir)
    for ((frame, n, run) <- Seq[(String, Long, () => Unit)](
        ("tombstones", del.count(),
          () => Dedup.readSignatureStoreState(spark, state).collect()),
        ("deletion log", gone.count(),
          () => VectorOps.appendToIvfPqIndex(VectorOps.readIvfPqIndex(spark, ixDir), gone, ixDir)))) {
      assert(n > 0, frame)
      try for ((threshold, strategy) <- Seq(
          16 * n -> "BroadcastHashJoin", 16 * n - 1 -> "SortMergeJoin", -1L -> "SortMergeJoin")) {
        spark.conf.set(key, threshold.toString)
        assert(antiJoinsRun(run()) === Seq(strategy), s"$frame, threshold $threshold")
      } finally spark.conf.set(key, prev)
    }
  }

  test("the deletion path counts each frame once: with tombstones pending, a " +
      "micro-batch ingest runs 39 jobs and a compaction 17") {
    // a count is two jobs under AQE (the partial-aggregate stage, then
    // the result): the deleted-doc filter and the compaction's
    // tombstones are each counted once, not twice
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("plan-del-jobs").toString
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.deleteFromDedupState(spark, state,
      docs.filter(col("doc_id") % 7 === 3 && col("doc_id") < 400).select("doc_id"))
    jobsIn("plan-del-ingest")(Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 450), 1, state))
    jobsIn("plan-del-compact")(Dedup.compactSignatureStore(spark, state))
    assert((jobCount("plan-del-ingest"), jobCount("plan-del-compact")) === (39, 17))
  }

  test("maintainDedupState reads and counts the pending tombstones once for its " +
      "report, heal and compaction: 42 jobs, 8 fewer than reading them three times") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("plan-maintain-jobs").toString
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.deleteFromDedupState(spark, state,
      docs.filter(col("doc_id") % 7 === 3 && col("doc_id") < 400).select("doc_id"))
    val report = jobsIn("plan-maintain")(Dedup.maintainDedupState(spark, state)).collect().head
    assert(report.getAs[Long]("n_tombstoned_docs") > 0)
    assert(jobCount("plan-maintain") === 42)
  }
}
