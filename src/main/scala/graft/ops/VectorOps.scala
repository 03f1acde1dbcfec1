package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels

import graft.core.{Gate, Tables}

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  *  - q_knn_bruteforce: exact cosine top-k — the correctness baseline.
  *    O(queries × corpus); at 100 TB this is the thing you only run to
  *    evaluate recall of the ANN path.
  *  - q_ann_ivf: inverted-file search — assign every vector to its
  *    nearest coarse centroid, then search only the query's cell. The
  *    scale path: the assignment is one broadcast-join pass over the
  *    corpus, and each probe touches 1/C of the data.
  *
  * All dot products run on array<double> (cast from float) with a
  * sequential left-fold, matching the oracle's list-comprehension sum
  * element order; ranking keys round to 6 digits so a last-ulp
  * difference cannot reorder results.
  */
object VectorOps extends graft.QueryModule {

  private def castVec(df: DataFrame, name: String): DataFrame =
    // spreadSmall (r16, guide §2.2/§6): the embeddings parquet at
    // bench SFs is one sub-split file = ONE scan task, so every
    // per-row vector kernel downstream (projections, PQ encode, ADC)
    // would run single-threaded until the first exchange
    graft.core.Tables.spreadSmall(df, "vec_id")
      .select(col("vec_id").as(name), col("embedding").cast("array<double>").as(s"${name}_v"))

  /** Cosine via the native fused expression [[graft.functions.ArrayCosine]]
    * (single codegen'd loop — no intermediate zipped/squared arrays, same
    * accumulation order as the compositional aggregate/zip_with form used
    * in Dedup.q_embedding_neardup, so results are bit-identical).
    */
  private def cosRounded(a: String, b: String): Column =
    round(Kernels.arrayCosine(col(s"${a}_v"), col(s"${b}_v")), 6)

  /** DuckDB cosine between list columns `a` and `b` (1-based lists). */
  private[ops] def cosSql(a: String, b: String): String =
    s"""round(list_sum([$a[i]*$b[i] FOR i IN range(1, len($a)+1)]) /
       |  (sqrt(list_sum([$a[i]*$a[i] FOR i IN range(1, len($a)+1)])) *
       |   sqrt(list_sum([$b[i]*$b[i] FOR i IN range(1, len($b)+1)]))), 6)""".stripMargin

  // ---------------------------------------------------------------- //
  // Public library API — the declared queries below delegate here.    //
  // ---------------------------------------------------------------- //

  /** Exact cosine top-k neighbors for every vector matching queryPred.
    * O(queries × corpus) — the recall baseline for the ANN path.
    */
  def knn(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = {
    val q = castVec(embeddings.filter(queryPred), "qid")
    val c = castVec(embeddings, "vid")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    broadcast(q).join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), cosRounded("qid", "vid").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** Deterministic ±1 sign for the JL projection matrix: parity of the
    * md5-derived 32-bit hash of "rp:j:k" (the [[graft.text.Shingles.hash32]]
    * recipe) — Achlioptas 2003's database-friendly random projections,
    * reproducible in any engine. Generated DRIVER-side (the matrix is
    * dims×d ≤ a few KB) and inlined as literals into both the Column
    * tree and the SQL oracle, so neither engine hashes per row.
    */
  private def rpSign(j: Int, k: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp:$j:$k".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1 else -1
  }

  /** Johnson–Lindenstrauss random projection of the embedding column to
    * `dims` dimensions: r_k = Σ_j v_j · s(j,k), s = [[rpSign]]. The
    * data-OBLIVIOUS dimension-reduction rung of the ANN ladder — no
    * training pass at all (vs PCA's power iteration and PQ's k-means),
    * which is what makes it the right first cut on a corpus too large
    * or too fresh to train on. Each output coordinate is one in-row
    * left-to-right fold in fixed j order (never a groupBy over exploded
    * elements, whose accumulation order would be nondeterministic), so
    * the doubles are bit-identical across engines.
    */
  def randomProjection(embeddings: DataFrame, dims: Int = 16, d: Int = 64): DataFrame =
    embeddings
      // cast ONCE per row — 1024 per-term casts of the whole array
      // would each pay the O(d) array conversion
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        array((0 until dims).map { k =>
          (0 until d).map { j =>
            element_at(col("v"), j + 1) * lit(rpSign(j, k).toDouble)
          }.reduce(_ + _)
        }: _*).as("rp_v"))

  /** Exact cosine top-k in the `dims`-dimensional projected space —
    * [[knn]] after [[randomProjection]]: the same O(queries × corpus)
    * scan shape but each dot product pays dims (16) multiplies instead
    * of d (64), the classic JL trade of a little recall for a 4× scan.
    * EvalProbe reports recall@10 vs the exact ladder baseline.
    */
  def rpKnn(embeddings: DataFrame, queryPred: Column,
      dims: Int = 16, k: Int = 10): DataFrame = {
    val p = randomProjection(embeddings, dims)
    val q = p.filter(queryPred)
      .select(col("vec_id").as("qid"), col("rp_v").as("qid_v"))
    val c = p.select(col("vec_id").as("vid"), col("rp_v").as("vid_v"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    broadcast(q).join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), cosRounded("qid", "vid").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** Clustering-quality report: assign every vector to its trained
    * coarse centroid (the same integer-grid k-means index
    * q_ann_ivf_trained searches) and score each cluster against the
    * embedding labels — size, distinct labels, dominant label, purity.
    * The standard external-validation table for an embedding-space
    * clustering (topic discovery, semantic-dedup cell audit), and the
    * first consumer of the embeddings table's `label` column.
    *
    * Scale shape: the centroid table broadcasts (C rows), assignment
    * rides the corpus scan, and everything after is aggregates over
    * the C×L cluster-label table — free at any corpus size.
    */
  def clusterPurity(embeddings: DataFrame, nCentroids: Int = 8): DataFrame = {
    val cent = pqTrain(embeddings, 1, nCentroids, 2, 64)
      .select(col("cid"), col("cw").as("cid_v"))
    val e = castVec(embeddings, "vid")
    val w = Window.partitionBy("vid").orderBy(col("ccos").desc, col("cid"))
    val assigned = e.join(broadcast(cent), lit(true))
      .select(col("vid"), col("cid"), cosRounded("vid", "cid").as("ccos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vid", "cid")
    val cl = assigned
      .join(embeddings.select(col("vec_id").as("vid"), col("label")), Seq("vid"))
      .groupBy("cid", "label").agg(count(lit(1)).as("nl"))
    cl.groupBy("cid")
      .agg(
        sum(col("nl")).as("n_members"),
        count(lit(1)).as("n_labels"),
        // dominant label: max count, ties -> smallest label
        min(struct((-col("nl")).as("neg"), col("label").as("lab"))).as("top"))
      .select(col("cid"), col("n_members"), col("n_labels"),
        col("top.lab").as("top_label"),
        ((-col("top.neg")).cast("double") / col("n_members").cast("double"))
          .as("purity"))
  }

  /** kNN label vote — the classic embedding-quality eval: predict each
    * query vector's label by majority vote over its k exact nearest
    * neighbors (ties → smallest label) and report predicted vs actual.
    * On embeddings whose geometry encodes the labels this reads high;
    * on isotropic synthetic data it honestly reads at chance — either
    * way it is the measurement, not an assertion.
    */
  def knnLabelVote(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = {
    val lab = embeddings.select(col("vec_id"), col("label"))
    // the neighbor list (queries × k rows) is the tiny side — IT rides
    // the broadcasts; the corpus label table never does
    val nn = knn(embeddings, queryPred, k).select("qid", "vid")
    val votes = lab.select(col("vec_id").as("vid"), col("label"))
      .join(broadcast(nn), Seq("vid"))
      .groupBy("qid", "label").agg(count(lit(1)).as("nv"))
    val pred = votes.groupBy("qid")
      .agg(min(struct((-col("nv")).as("neg"), col("label").as("lab"))).as("top"))
    lab.select(col("vec_id").as("qid"), col("label").as("actual"))
      .join(broadcast(pred), Seq("qid"))
      .select(col("qid"), col("top.lab").as("predicted"), col("actual"),
        (col("top.lab") === col("actual")).as("correct"))
  }

  /** Hard-negative mining — the contrastive-training data miner
    * (ANCE/DPR-style): for each anchor vector, the k most-similar
    * corpus vectors whose label DIFFERS from the anchor's. These
    * maximally-confusable negatives are what embedding-model training
    * pairs with in-batch positives; mining them is an exact-cosine
    * scan with a label-mismatch predicate pushed into the join, so
    * the ranking never wastes top-k slots on same-label rows.
    *
    * Scale shape: identical to [[knn]] — the anchor side broadcasts,
    * the corpus side scans once; at 100 TB the anchor set is a batch
    * of training queries and the scan is the ANN index instead of the
    * raw corpus (any ladder rung slots in: the miner only needs a
    * (qid, vid, cos) candidate stream).
    */
  def hardNegatives(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = {
    val q = embeddings.filter(queryPred)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qid_v"),
        col("label").as("anchor_label"))
    val c = embeddings
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("vid_v"),
        col("label").as("neg_label"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    broadcast(q)
      .join(c, col("qid") =!= col("vid") &&
        col("anchor_label") =!= col("neg_label"))
      .select(col("qid"), col("anchor_label"), col("vid"), col("neg_label"),
        cosRounded("qid", "vid").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "anchor_label", "rank", "vid", "neg_label", "cos")
  }

  /** Retrieval-quality eval — the standard IR metric table with the
    * label column as graded relevance: for each query, rank the corpus
    * by exact cosine, mark same-label rows relevant, and report
    * hits@k, precision@k, recall@k (hits / corpus relevant count), the
    * first relevant rank, and the truncated reciprocal rank (0 when no
    * relevant row lands in the top k — MRR@k semantics). This is the
    * table a retrieval deployment watches when swapping ANN rungs: run
    * it over [[knn]] for the ceiling, then over any approximate tier
    * to price its recall honestly.
    *
    * The per-label corpus counts come from ONE aggregate over the
    * label table (never a self-join); the ranked neighbor list
    * (queries × k rows) is the tiny side and rides the broadcasts.
    */
  def retrievalEval(embeddings: DataFrame, queryPred: Column, k: Int = 10): DataFrame = {
    val lab = embeddings.select(col("vec_id"), col("label"))
    val labCnt = lab.groupBy("label").agg(count(lit(1)).as("n_label"))
    val nn = knn(embeddings, queryPred, k).select("qid", "rank", "vid")
    val hits = lab.select(col("vec_id").as("vid"), col("label").as("n_lab"))
      .join(broadcast(nn), Seq("vid"))
      .join(broadcast(lab.select(col("vec_id").as("qid"), col("label"))), Seq("qid"))
      .groupBy("qid", "label")
      .agg(
        sum(when(col("n_lab") === col("label"), 1L).otherwise(0L)).as("hits"),
        min(when(col("n_lab") === col("label"), col("rank"))).as("first_rank"))
    hits
      .join(broadcast(labCnt), Seq("label"))
      .select(col("qid"), col("label"),
        // the query itself is never a candidate (qid <> vid), so its
        // own row doesn't count as retrievable
        (col("n_label") - 1L).as("n_relevant"),
        col("hits").as(s"hits_at_$k"),
        coalesce(col("first_rank"), lit(0)).cast("int").as("first_rank"),
        when(col("first_rank").isNotNull,
          lit(1.0) / col("first_rank").cast("double")).otherwise(lit(0.0)).as("rr"),
        (col("hits").cast("double") / lit(k.toDouble)).as(s"precision_at_$k"),
        when(col("n_label") > 1,
          col("hits").cast("double") / (col("n_label") - 1L).cast("double"))
          .otherwise(lit(0.0)).as(s"recall_at_$k"))
  }

  /** Contrastive-training triplet export — the (anchor, positive,
    * negative) rows an embedding trainer consumes: per anchor, the
    * most-similar SAME-label vector and the most-similar
    * DIFFERENT-label vector ([[hardNegatives]]' top row), plus the
    * margin between them (the quantity a triplet loss pushes apart).
    * Anchors whose label has no second member are dropped — a triplet
    * needs both sides.
    *
    * One scored scan serves both sides: candidates rank inside
    * (anchor, same-label?) windows, so the positive and the hard
    * negative come from the same broadcast-join pass, never two.
    */
  def contrastiveTriplets(embeddings: DataFrame, queryPred: Column): DataFrame = {
    val q = embeddings.filter(queryPred)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qid_v"),
        col("label").as("q_label"))
    val c = embeddings
      .select(col("vec_id").as("vid"),
        col("embedding").cast("array<double>").as("vid_v"),
        col("label").as("c_label"))
    val w = Window.partitionBy("qid", "same").orderBy(col("cos").desc, col("vid"))
    val top = broadcast(q).join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("q_label"), col("vid"),
        (col("c_label") === col("q_label")).as("same"),
        cosRounded("qid", "vid").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    top.groupBy("qid", "q_label")
      .agg(
        min(when(col("same"), struct(col("vid"), col("cos")))).as("pos"),
        min(when(!col("same"), struct(col("vid"), col("cos")))).as("neg"))
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("qid"), col("q_label").as("label"),
        col("pos.vid").as("pos_vid"), col("pos.cos").as("pos_cos"),
        col("neg.vid").as("neg_vid"), col("neg.cos").as("neg_cos"),
        (col("pos.cos") - col("neg.cos")).as("margin"))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002, the
    * clamped synchronous variant) over the sign-LSH candidate graph:
    * seed nodes (vec_id % seedMod == 0) keep their true label; each
    * round, every non-seed node takes the majority label among its
    * neighbors' current labels (ties → smallest label). The
    * scale-a-few-labels-to-the-corpus operator: when only a sampled
    * slice of a 100 TB corpus is human- or LLM-labeled, propagation
    * over the near-duplicate/near-neighbor graph extends those labels
    * to everything geometrically adjacent.
    *
    * Scale shape: edges come from the banded sign-LSH bucket join
    * (never an all-pairs pass — the same candidate generation as
    * q_embedding_neardup_lsh); each round is ONE edge⋈labels equi-join
    * + one (node,label)-keyed aggregate + an argmin argmax, with
    * lineage truncated per round (the kmeans/pagerank rule). Label
    * state is one row per labeled node, never densified. A fixed
    * iteration count keeps the result a pure function of the input —
    * the oracle unrolls all rounds in SQL.
    *
    * Isolated nodes (no labeled neighbor after `iters` rounds) report
    * propagated = −1: coverage is a measured output, not an
    * assumption.
    */
  def labelPropagation(embeddings: DataFrame, planesPerBand: Int = 4,
      nBands: Int = 4, dims: Int = 64, iters: Int = 3,
      seedMod: Int = 5): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE generate instead of an nBands-way union (r17, §2.4 — the
    // Dedup.bandProjection shape): the union branches each re-scanned
    // the persisted vector cache (racing its materialization); pos IS
    // the band index. The round-4 JIT concern that kept the branches
    // separate predates the native lsh_sign_word kernel.
    val bands = e.select(col("vec_id"),
      posexplode(array((0 until nBands).map(b =>
        Kernels.lshSignWord(col("v"), planesPerBand, dims, b * planesPerBand)): _*))
        .as(Seq("band", "bkt")))
    // Edge generation in ONE pass and ONE exchange (r16, guide §2.4):
    // both edge directions explode inline off the banded join output
    // (the old cand.union(cand.swap) referenced the join subplan
    // twice), the single exchange hash-partitions by dst — the key
    // every voting round joins on — and the pair-dedup aggregate runs
    // ON that partitioning (dst ⊆ (src, dst), so no second exchange).
    // A localCheckpoint preserves its child's output partitioning, so
    // the edge table (the big side: 2 rows per candidate pair)
    // shuffles ONCE here instead of once per round, and each round's
    // join exchanges only the node-sized label table.
    val edges = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(explode(array(
        struct(col("x.vec_id").as("src"), col("y.vec_id").as("dst")),
        struct(col("y.vec_id").as("src"), col("x.vec_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(true)
    e.unpersist(false)
    // seeds checkpointed ONCE (node-sized; referenced twice per round),
    // and — r16 — NO per-round label checkpoint: each round's label
    // frame feeds exactly one consumer (the next round; the final join
    // reads only the last), so the rounds compose into ONE linear plan
    // evaluated once — the per-round eager materializations were pure
    // job overhead at a fixed small `iters` (the r16 job census billed
    // this query 46 jobs for 65 tasks). Lineage is still truncated
    // every 4th round so a high-iters caller keeps a bounded plan.
    val seeds = embeddings.filter(col("vec_id") % seedMod === 0)
      .select(col("vec_id"), col("label").as("plab"))
      .localCheckpoint(true)
    var labels = seeds
    for (r <- 1 to iters) {
      val votes = edges
        .join(labels.withColumnRenamed("vec_id", "dst"), Seq("dst"))
        .groupBy(col("src"), col("plab"))
        .agg(count(lit(1)).as("nv"))
      val inferred = votes.groupBy("src")
        .agg(min(struct((-col("nv")).as("neg"), col("plab").as("lab"))).as("top"))
        .select(col("src").as("vec_id"), col("top.lab").as("plab"))
        .join(seeds.select("vec_id"), Seq("vec_id"), "left_anti")
      labels = seeds.union(inferred)
      if (r % 4 == 0 && r < iters) labels = labels.localCheckpoint(true)
    }
    embeddings.select(col("vec_id"), col("label"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        (col("vec_id") % seedMod === 0).cast("int").as("is_seed"),
        coalesce(col("plab"), lit(-1)).as("propagated"),
        (coalesce(col("plab"), lit(-1)) === col("label")).cast("int").as("correct"))
  }

  /** One weighted propagation round: votes sum quantized edge weights
    * per (node, label) instead of counting neighbors, argmax with the
    * (wsum desc, label asc) tie-break, seeds immutable. Zero-weight
    * vote totals are dropped — a label must carry actual similarity
    * mass to propagate. Factored out so the spec can feed a PLANTED
    * edge table (wq = 1 on every edge reproduces the unweighted count
    * vote exactly — the contrast the planted-bucket test pins).
    */
  private[graft] def propagateWeightedRound(edges: DataFrame,
      labels: DataFrame, seeds: DataFrame): DataFrame = {
    val votes = edges
      .join(labels.withColumnRenamed("vec_id", "dst"), Seq("dst"))
      .groupBy(col("src"), col("plab"))
      .agg(sum(col("wq")).as("wsum"))
      .filter(col("wsum") > 0)
    val inferred = votes.groupBy("src")
      .agg(min(struct((-col("wsum")).as("neg"), col("plab").as("lab"))).as("top"))
      .select(col("src").as("vec_id"), col("top.lab").as("plab"))
      .join(seeds.select("vec_id"), Seq("vec_id"), "left_anti")
    seeds.union(inferred)
  }

  /** Similarity-WEIGHTED label propagation (r8 verdict stretch #8):
    * [[labelPropagation]] with each candidate edge carrying the
    * quantized cosine of its endpoints (the q_semantic_dedup scoring
    * pass over the same banded-LSH candidate set), so five barely-
    * similar wrong-label neighbors no longer outvote two highly-
    * similar right-label ones — the failure mode a hot low-entropy
    * bucket plants in the unweighted form. Negative cosines clamp to
    * zero (an anti-correlated neighbor is no evidence, not negative
    * evidence), and weights quantize to micro-longs so every vote sum
    * is exact integer arithmetic behind the hash gate.
    *
    * Convergence is an OUTPUT: `last_changed_round` reports the last
    * round each node's label moved (0 = never after seeding) — the
    * per-node form of per-round label churn, so an operator reads
    * `max(last_changed_round) < iters` as "converged with room to
    * spare" straight off the result table.
    *
    * Scale shape: identical to the unweighted op (the weight join
    * rides the candidate-scoring pass q_semantic_dedup already pays;
    * per round one equi-join + one keyed agg, lineage truncated).
    */
  def labelPropagationWeighted(embeddings: DataFrame, planesPerBand: Int = 4,
      nBands: Int = 4, dims: Int = 64, iters: Int = 3,
      seedMod: Int = 5): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // FUSED scoring (r16, the Dedup.bandProjectionWide trick — r15's
    // verdict item #2): carry the vector through the band projection so
    // the banded self-join emits the quantized cosine DIRECTLY, deleting
    // the two corpus-sized scoring joins (cand ⋈ e ⋈ e) the old plan
    // paid. wq is a pure function of (v1, v2), so distinct over
    // (v1, v2, wq) is exactly the old pair-distinct. The band exchange
    // widens by the 64-double vector against removing two full
    // exchanges of the vector table plus their join barriers.
    // ONE generate instead of an nBands-way union (r17, §2.4), vector
    // carried through for the fused scoring — see [[labelPropagation]]
    val bands = e.select(col("vec_id"),
      posexplode(array((0 until nBands).map(b =>
        Kernels.lshSignWord(col("v"), planesPerBand, dims, b * planesPerBand)): _*))
        .as(Seq("band", "bkt")),
      col("v"))
    // one banded-join pass, both edge directions exploded inline, ONE
    // dst-keyed exchange with the pair-dedup riding it (see
    // [[labelPropagation]] — wq is a pure function of the pair, so
    // dedup on (src, dst) keeps exactly the old (v1, v2, wq) distinct)
    val edges = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        floor(greatest(
            round(Kernels.arrayCosine(col("x.v"), col("y.v")), 6),
            lit(0.0)) * lit(1e6) + lit(0.5)).cast("long").as("wq"))
      .select(explode(array(
        struct(col("v1").as("src"), col("v2").as("dst"), col("wq")),
        struct(col("v2").as("src"), col("v1").as("dst"), col("wq")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.wq").as("wq"))
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(true)
    e.unpersist(false)
    val seeds = embeddings.filter(col("vec_id") % seedMod === 0)
      .select(col("vec_id"), col("label").as("plab"))
      .localCheckpoint(true)
    var rounds = Vector(seeds) // index r = labels after round r (0 = seeds)
    for (_ <- 1 to iters)
      rounds = rounds :+
        propagateWeightedRound(edges, rounds.last, seeds).localCheckpoint(true)
    // last_changed_round via ONE union + per-node map aggregate instead
    // of iters+1 shuffled left joins (r16, guide §2.4): every round's
    // node-sized label frame unions with its round index, one keyed
    // aggregate folds them into a round→label map per node, and the
    // change detection reads the map with try_element_at (absent round
    // ≡ the old null join miss). One exchange replaces iters+1.
    val hist = rounds.zipWithIndex.map { case (l, r) =>
      l.select(col("vec_id"), lit(r).as("r"), col("plab"))
    }.reduce(_ unionByName _)
    val agg = hist.groupBy("vec_id")
      .agg(map_from_entries(collect_list(struct(col("r"), col("plab")))).as("m"))
    def plabAt(r: Int): Column =
      coalesce(try_element_at(col("m"), lit(r)), lit(-999))
    val lastChanged = (1 to iters).foldLeft(lit(0)) { (acc, r) =>
      when(plabAt(r) =!= plabAt(r - 1), lit(r)).otherwise(acc)
    }
    embeddings.select(col("vec_id"), col("label"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        (col("vec_id") % seedMod === 0).cast("int").as("is_seed"),
        coalesce(try_element_at(col("m"), lit(iters)), lit(-1)).as("propagated"),
        (coalesce(try_element_at(col("m"), lit(iters)), lit(-1)) === col("label"))
          .cast("int").as("correct"),
        lastChanged.as("last_changed_round"))
  }

  /** LSH bucket-occupancy pre-flight — the q_selfjoin_cost convention
    * for the EMBEDDING side (r8 verdict #2): price the banded bucket
    * self-join BEFORE running it, for every candidate planesPerBand
    * setting at once. The bucket join's cost is Σ occ·(occ−1)/2 over
    * buckets — quadratic in per-bucket occupancy — so a corpus with
    * mass concentrated in one bucket (near-identical vectors, or just
    * isotropic data at scale) recreates the all-pairs blowup inside a
    * cell; this table is what tells the operator to raise the dial
    * first.
    *
    * One corpus pass: because band b at setting p uses planes
    * [b·p, (b+1)·p) (the op's plane-assignment convention), EVERY
    * (setting, band) bucket is a contiguous bit-range of a single
    * nBands·maxP-plane sign word — compute the word once, then each
    * setting's buckets are shift-and-mask over a narrow
    * (vec_id, word) frame, never another pass over the vectors. At
    * 100 TB the pass runs on a hash sample (`samplePct`, the pqTrain
    * convention) — occupancy RATIOS, not absolute counts, drive the
    * decision.
    *
    * Output, one row per setting: occupied bucket count, max
    * occupancy, and `candidate_pairs` = Σ occ·(occ−1)/2 over (band,
    * bucket) — the PRE-distinct pair-generation count. A pair colliding
    * in k bands is counted k times here while the banded join's
    * distinct() keeps it once, so the figure is an upper bound on
    * distinct candidates — deliberately so: the generation count is
    * what the join's shuffle actually pays, and budgeting against it
    * ([[autoPlanesPerBand]]) errs conservative (picks at-least-as-many
    * planes as the distinct count would).
    */
  def lshOccupancy(embeddings: DataFrame, settings: Seq[Int] = Seq(2, 4, 6, 8),
      nBands: Int = 4, dims: Int = 64, samplePct: Int = 100): DataFrame = {
    require(settings.nonEmpty && settings.forall(p => p >= 1 && p <= 16))
    val pMax = settings.max
    val e0 = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val e = if (samplePct >= 100) e0
      else e0.filter(
        graft.text.Shingles.hash32(concat(lit("occ:"), col("vec_id").cast("string")))
          % 100 < samplePct)
    val words = e.select(col("vec_id"),
      Kernels.lshSignWord(col("v"), nBands * pMax, dims, 0).as("w"))
      .localCheckpoint(true) // the ONE corpus-width pass
    // ONE two-level aggregate over the union of every (setting, band)
    // branch (r16): the per-setting map used to build |settings|
    // separate aggregation pipelines over `words` — same rows, 2
    // exchanges instead of 2·|settings| and one aggregation barrier
    // instead of four (guide §2.4).
    settings.map { p =>
      val mask = (1L << p) - 1
      (0 until nBands).map { b =>
        words.select(lit(p).as("planes_per_band"), lit(b).as("band"),
          shiftright(col("w"), b * p).bitwiseAND(lit(mask)).as("bkt"))
      }.reduce(_ union _)
    }.reduce(_ union _)
      .groupBy("planes_per_band", "band", "bkt")
      .agg(count(lit(1)).as("occ"))
      .groupBy("planes_per_band")
      .agg(count(lit(1)).as("n_buckets"),
        max(col("occ")).as("max_occupancy"),
        floor(sum(col("occ") * (col("occ") - 1)) / lit(2.0)).cast("long")
          .as("candidate_pairs"))
      .orderBy("planes_per_band")
  }

  /** Occupancy-driven band sizing: the smallest planesPerBand whose
    * priced candidate-pair total stays within `pairsPerVector` × n —
    * the automatic form of the dial the r8 verdict flagged as manual.
    * Driver-side state is the ≤|settings|-row pricing table (the
    * kmeans convention); the chosen setting is a pure function of the
    * input, so callers that pin hashes pass an explicit setting
    * instead.
    */
  def autoPlanesPerBand(embeddings: DataFrame,
      settings: Seq[Int] = Seq(2, 4, 6, 8), nBands: Int = 4, dims: Int = 64,
      pairsPerVector: Double = 32.0, samplePct: Int = 100): Int = {
    val n = math.max(1L,
      if (samplePct >= 100) embeddings.count()
      else embeddings.filter(
        graft.text.Shingles.hash32(concat(lit("occ:"), col("vec_id").cast("string")))
          % 100 < samplePct).count())
    val priced = lshOccupancy(embeddings, settings, nBands, dims, samplePct)
      .select("planes_per_band", "candidate_pairs").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // sampled pair counts scale ~rate² (both endpoints must survive
    // the sample) while the sampled n scales ~rate, so the budget must
    // shrink by the rate too — comparing raw sampled pairs against
    // pairsPerVector·n_sample would understate pairs-per-vector by
    // 1/rate and pick a too-small setting on exactly the corpora the
    // sample mode exists for
    val rate = math.min(samplePct, 100) / 100.0
    priced.find(_._2 <= pairsPerVector * n * rate).map(_._1)
      .getOrElse(settings.max)
  }

  /** [[labelPropagation]] with the band dial chosen by the occupancy
    * pre-flight instead of by hand — the 100 TB entry point (probes
    * measure it; declared queries pin an explicit setting for hash
    * stability).
    */
  def labelPropagationAuto(embeddings: DataFrame, nBands: Int = 4,
      dims: Int = 64, iters: Int = 3, seedMod: Int = 5,
      pairsPerVector: Double = 32.0, samplePct: Int = 100): (Int, DataFrame) = {
    val p = autoPlanesPerBand(embeddings, Seq(2, 4, 6, 8), nBands, dims,
      pairsPerVector, samplePct)
    (p, labelPropagation(embeddings, p, nBands, dims, iters, seedMod))
  }

  /** JL shortlist → exact re-rank: the deployment shape of the
    * projection rung (identical tail to [[ivfPqRerank]]): the cheap
    * 16-dim scan nominates `shortlist` candidates, the exact 64-dim
    * cosine pass re-ranks them — recovering the recall the projected
    * ranking loses on isotropic data (EvalProbe measures both).
    */
  def rpRerank(embeddings: DataFrame, queryPred: Column, dims: Int = 16,
      shortlist: Int = 100, k: Int = 10): DataFrame = {
    // materialize the shortlist BEFORE it rides a broadcast — planning
    // the projection pipeline inside the broadcast thread stalls
    // (PERF.md finding on q_pq_rerank)
    val cand = rpKnn(embeddings, queryPred, dims, shortlist)
      .select("qid", "vid").localCheckpoint(true)
    rerankExact(embeddings, cand, k)
  }

  /** IVF search: assign every vector to its nearest of nCentroids
    * coarse centroids (one broadcast join over the corpus), then answer
    * each query from its own cell only — each probe touches ~1/C of the
    * data. Centroids are the lowest vec_ids (deterministic stand-ins
    * for trained k-means centers, reproducible by the SQL oracle).
    */
  def ivfSearch(embeddings: DataFrame, queryPred: Column,
      nCentroids: Int = 8, k: Int = 5): DataFrame = {
    val cent = castVec(embeddings.filter(col("vec_id") < nCentroids), "cid")
      .select(col("cid").cast("int").as("cid"), col("cid_v"))
    ivfSearchCentroids(embeddings, queryPred, cent, k, nprobe = 1)
  }

  /** IVF search against an explicit centroid table (e.g. from
    * [[kmeans]]), with multi-probe: each query searches its `nprobe`
    * closest cells, trading a linear factor of scanned cells for
    * recall. The corpus side is still assigned to exactly one cell, so
    * index size stays O(n); only the probe fan-out grows.
    */
  def ivfSearchCentroids(embeddings: DataFrame, queryPred: Column,
      centroids: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val (result, scored) = ivfSearchLazy(embeddings, queryPred, centroids, k, nprobe)
    // eagerly materialize the top-k (tiny: nqueries × k rows) so the
    // persisted corpus×centroid table can be dropped before returning
    // — callers in a loop (EvalProbe's nprobe ladder, library users)
    // must not accumulate MEMORY_AND_DISK cache per call
    val out = result.localCheckpoint(true)
    scored.unpersist(false)
    out
  }

  /** The probe pipeline, lazily: (result, persisted scored table). The
    * public wrapper materializes and unpersists; PlanSpec asserts the
    * broadcast shape here, before localCheckpoint truncates the plan to
    * an ExistingRDD scan.
    */
  private[graft] def ivfSearchLazy(embeddings: DataFrame, queryPred: Column,
      centroids: DataFrame, k: Int, nprobe: Int): (DataFrame, DataFrame) = {
    val cent = centroids.select(col("cid"), col("cid_v"))
    val all  = castVec(embeddings, "vid")
    val wAssign = Window.partitionBy("vid").orderBy(col("ccos").desc, col("cid"))
    // persisted: the centroid-scoring pass feeds both the query side and
    // the search side of the probe join — without caching the
    // corpus×centroid pipeline runs twice (measured 2× on the bench)
    val scored = all.join(broadcast(cent), lit(true))
      .select(col("vid"), col("vid_v"), col("cid"), cosRounded("vid", "cid").as("ccos"))
      .withColumn("rn", row_number().over(wAssign))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every corpus vector lives in exactly one cell (rn = 1) …
    val assign = scored.filter(col("rn") === 1)
      .select(col("vid"), col("vid_v"), col("cid").as("cell"))
    // … while a query probes its nprobe closest cells
    val queries = scored.filter(queryPred && col("rn") <= nprobe)
      .select(col("vid").as("qid"), col("vid_v").as("qid_v"), col("cid").as("cell"))
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    // broadcast the query side: `cell` has only nCentroids distinct
    // values, so a shuffled join would use at most nCentroids of the
    // shuffle partitions — broadcast keeps the probe scan fully parallel
    val result = broadcast(queries).join(assign, Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("cell"), col("vid"), cosRounded("qid", "vid").as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("qid", "cell", "rank", "vid", "cos")
    (result, scored)
  }

  /** Sign-random-projection LSH for cosine ANN — the bucketing
    * alternative to IVF: project every vector onto `nPlanes` fixed
    * hyperplanes, bucket by the sign-bit word, and answer each query
    * from its own bucket. No training pass (unlike IVF's centroids);
    * recall comes from bucket collision probability 1−θ/π per plane.
    *
    * The hyperplane weights are deterministic pseudo-random constants
    * (splitmix64 of (plane, dim), driver-side, engine-independent), so
    * the index is reproducible across runs and clusters. The per-vector
    * signature is a flat ±w·x sum chain — whole-stage codegen, no
    * interpreted higher-order functions — and the bucket equi-join
    * shuffles O(n) rows once, which is the entire index cost at 100 TB.
    */
  /** Hyperplane weight (plane, dim) ↦ uniform [-1, 1): splitmix64 of the
    * packed indices — pure integer mixing, no RNG state, so the LSH
    * index is reproducible across engines; the DuckDB oracle embeds
    * these same constants as literals (Double.toString round-trips
    * exactly, and strtod parses correctly rounded, so both engines see
    * bit-identical weights).
    */
  private[ops] def lshPlaneWeight(plane: Int, dim: Int): Double =
    graft.functions.LshSignWord.planeWeight(plane, dim)

  def lshSearch(embeddings: DataFrame, queryPred: Column,
      nPlanes: Int = 8, dims: Int = 64, k: Int = 5): DataFrame = {
    val all = castVec(embeddings, "vid")
    val signed = all.withColumn("bucket", Kernels.lshSignWord(col("vid_v"), nPlanes, dims, 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = signed.filter(queryPred)
      .select(col("vid").as("qid"), col("vid_v").as("qid_v"), col("bucket"))
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    val result = broadcast(queries).join(signed, Seq("bucket"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("bucket"), col("vid"), cosRounded("qid", "vid").as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("qid", "bucket", "rank", "vid", "cos")
      .localCheckpoint(true)
    signed.unpersist(false)
    result
  }

  /** Multi-probe sign-LSH: each query probes its own bucket PLUS the
    * nPlanes buckets at Hamming distance 1 (one sign bit flipped) —
    * the standard recall repair for bucketed LSH (Lv et al., VLDB'07:
    * near neighbors that miss the query's bucket land overwhelmingly
    * in adjacent-sign buckets). Candidates grow ≤ (nPlanes+1)× while
    * recall multiplies (EvalProbe: 0.022 → measured multiprobe row at
    * p8), which is the cheap end of the recall/compute dial — the
    * expensive end is lowering nPlanes, which grows EVERY bucket 2×
    * per plane removed, corpus-wide; multi-probe pays only on the
    * query side. Probe fan-out rides the broadcast query table
    * (explode before the join), so the corpus side still sees one
    * equi-join on bucket; duplicate candidates from overlapping
    * probes collapse via max-cos before ranking (a candidate's cosine
    * is probe-independent, so distinct-by-pair is exact).
    */
  def lshMultiProbe(embeddings: DataFrame, queryPred: Column,
      nPlanes: Int = 8, dims: Int = 64, k: Int = 5): DataFrame = {
    val all = castVec(embeddings, "vid")
    val signed = all.withColumn("bucket", Kernels.lshSignWord(col("vid_v"), nPlanes, dims, 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = signed.filter(queryPred)
      .select(col("vid").as("qid"), col("vid_v").as("qid_v"),
        explode(array(col("bucket") +:
          (0 until nPlanes).map(p =>
            col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
    val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    val result = broadcast(probes).join(signed, Seq("bucket"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), cosRounded("qid", "vid").as("cos"))
      .distinct() // overlapping probes may nominate a pair twice
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
      .localCheckpoint(true)
    signed.unpersist(false)
    result
  }

  /** Per-vector symmetric int8 quantization: scale = max|xᵢ|/127, each
    * component qᵢ = floor(xᵢ/max|x|·127 + 0.5) ∈ [−127, 127] — the
    * standard 4× index-compression step of a large-scale vector store
    * (a 64-d float32 vector becomes 64 bytes + one scale). Every step
    * is plain IEEE double arithmetic in a fixed operation order
    * (divide, multiply, add, floor), so the quantized codes — and
    * everything computed from them — are bit-identical across engines;
    * a zero vector quantizes to all zeros rather than dividing by zero.
    */
  def quantizeInt8(embeddings: DataFrame, dims: Int = 64): DataFrame = {
    val e = castVec(embeddings, "vid")
    val m = greatest((0 until dims).map(i => abs(element_at(col("vid_v"), i + 1))): _*)
    e.withColumn("m", m)
      .select(
        col("vid"),
        (col("m") / lit(127.0)).as("scale"),
        array((0 until dims).map(i =>
          when(col("m") === lit(0.0), lit(0L)).otherwise(
            floor(element_at(col("vid_v"), i + 1) / col("m") * lit(127.0) + lit(0.5)))): _*)
          .as("qv"))
  }

  /** Top-k similarity search over int8-quantized vectors: the integer
    * dot product ranks candidates (exact — no floating-point
    * accumulation at all, via the codegen'd
    * [[graft.functions.ArrayDotLong]] kernel), rescaled by the two
    * per-vector scales into a cosine-comparable score. At 100 TB this
    * is the memory-bound regime's answer: the scan reads ¼ the bytes of
    * the float index, and the hot loop is integer multiply-adds. The
    * quantization is a projection that rides the scan (no shuffle);
    * queries broadcast exactly like [[knn]].
    */
  def quantizedKnn(embeddings: DataFrame, queryPred: Column, k: Int = 10,
      dims: Int = 64): DataFrame = {
    val q = quantizeInt8(embeddings.filter(queryPred), dims)
      .select(col("vid").as("qid"), col("scale").as("qs"), col("qv").as("q_qv"))
    val c = quantizeInt8(embeddings, dims)
      .select(col("vid"), col("scale").as("cs"), col("qv").as("c_qv"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    broadcast(q).join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), col("qs"), col("cs"),
        Kernels.arrayDotLong(col("q_qv"), col("c_qv")).as("qdot"))
      .select(col("qid"), col("vid"), col("qdot"),
        (col("qdot").cast("double") * col("qs") * col("cs")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "qdot", "score")
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", IEEE TPAMI 2011): split the d-dim space
    * into `m` orthogonal subspaces, quantize each subvector to its
    * nearest of `ksub` codewords, and answer queries by Asymmetric
    * Distance Computation — per query, an m×ksub lookup table of
    * query-to-codeword dot products; a candidate's score is the sum of
    * m table entries selected by its code, never a touch of the
    * original floats. Codewords are the `ksub` lowest-id vectors'
    * subvectors (deterministic stand-ins for per-subspace k-means
    * centers, the same convention as [[ivfSearch]]; [[kmeans]] run per
    * subspace is the trainer a deployment would use).
    *
    * Why this is a 100 TB shape: the stored index is m small codes per
    * vector (m=8, ksub=16 → 8 nibbles = 4 bytes vs 256 float bytes, a
    * 64× scan reduction), the per-query LUT (m·ksub entries) rides a
    * broadcast, and scoring is one zero-join, zero-shuffle fold per
    * (candidate, query) row followed by a rank<=k filter that Spark 4
    * plans as WindowGroupLimit — a bounded per-query heap below the
    * sort. The codebook is MODEL-SIZED by contract (m·ksub rows), so
    * it is collected once and inlined as literal codewords: encode and
    * LUT are pure narrow projections — zero joins, zero aggregations,
    * zero shuffles anywhere in the plan (r13 verdict #3: the previous
    * broadcast-join + two-aggregation encode made a timed serve six
    * load-sensitive stages; this shape is two). A real ingest fuses
    * the encode projection into the write path and stores packed codes.
    *
    * Exactness: every per-element product/square is quantized onto the
    * shared 1e12 integer grid before its sum (the [[qsum]] pattern),
    * so encode argmins, LUT entries, and ADC scores are bit-identical
    * across engines and partition orders — an "approximate" index with
    * exactly reproducible answers.
    */
  def pqSearch(embeddings: DataFrame, queryPred: Column, m: Int = 8,
      ksub: Int = 16, k: Int = 10, dims: Int = 64,
      codebook: Option[DataFrame] = None): DataFrame = {
    val sub = dims / m
    require(sub * m == dims, s"dims $dims not divisible into $m subspaces")
    // Literal-inlining budget (r14 ADVICE): the encode projection holds
    // m·ksub codeword arrays of `sub` literals and the LUT m·ksub
    // gridFolds over the same — fine at the default (8·16·8 = 1024
    // literal doubles), but a production codebook (ksub=256) would put
    // tens of thousands of literals in ONE expression tree: Janino's
    // 64KB method limit degrades codegen to interpreted fallbacks and
    // the analyzer pays a plan-size blowup. Refuse loudly above the
    // budget — a codebook that size belongs on the broadcast-join ADC
    // path ([[writeIvfPqIndex]]/[[ivfPqSearchServed]], whose
    // pqEncodeAssigned joins the codebook as DATA, never literals).
    require(m * ksub * sub <= PqInlineLiteralBudget,
      s"pqSearch: inlining this codebook would place ${m * ksub * sub} " +
        s"literal doubles in one expression (budget $PqInlineLiteralBudget) " +
        "— codegen fallback + analyzer blowup territory; use the IVFADC " +
        "broadcast-join path (writeIvfPqIndex / ivfPqSearchServed) for " +
        "production-size codebooks")
    val e = castVec(embeddings, "vid")
    // codebook: (j, cid, cw) with cid DENSE 0..ksub-1 — the flattened
    // LUT layout (entry j·ksub+code) requires exactly that id space, so
    // both paths derive cid by rank, never from raw vec_ids (which a
    // testdata regeneration could shift to 1-based). Trained path: a
    // [[pqTrain]] codebook; default: the ksub lowest-id vectors'
    // subvectors (the no-training stand-in whose oracle is mechanical).
    // Model-sized by contract: collected ONCE (m·ksub rows — the
    // centroid-table pattern) and inlined as literal codewords, so the
    // encode and the LUT below are single narrow projections instead
    // of a broadcast join + two keyed aggregations each (r13 verdict
    // #3: q_pq_rerank's chronic dispersion tracked its stage count —
    // every extra barrier was another chance for a host load window
    // to stall one pass).
    val cw: Map[(Int, Int), Seq[Double]] =
      codebook.getOrElse(standInCodebook(e, m, ksub, sub)).collect()
        .map(r => (r.getAs[Int]("j"), r.getAs[Int]("cid")) ->
          r.getAs[scala.collection.Seq[Double]]("cw").toSeq).toMap
    require(cw.size == m * ksub,
      s"pqSearch: codebook must hold ${m * ksub} dense (j, cid) codewords, " +
        s"got ${cw.size}")
    def gridFold(terms: Column): Column =
      aggregate(terms, lit(0L), (acc, t) => acc + floor(t * lit(GRID) + lit(0.5)))
    def codeword(j: Int, cid: Int): Column = array(cw((j, cid)).map(lit): _*)
    // encode: nearest codeword per (vector, subspace), ties to the
    // lowest cid — the exact grid argmin as one expression per
    // subspace (array_min over struct(d2, cid) ≡ min(struct(d2, cid)))
    def codeJ(v: Column, j: Int): Column =
      array_min(array((0 until ksub).map { cid =>
        struct(
          gridFold(zip_with(slice(v, j * sub + 1, sub), codeword(j, cid),
            (x, c) => (x - c) * (x - c))).as("d"),
          lit(cid).as("c"))
      }: _*)).getField("c")
    val codes = e.select(col("vid"),
      array((0 until m).map(j => codeJ(col("vid_v"), j)): _*).as("codes"))
    // per-query LUT, one array in (j, cid) order so the ADC fold reads
    // entry j*ksub+code with one element_at; |queries| rows, eagerly
    // materialized so the broadcast-exchange thread ships rows instead
    // of running the query scan (the ivfSearchCentroids convention)
    val lut = castVec(embeddings.filter(queryPred), "qid")
      .select(col("qid"),
        array((for (j <- 0 until m; cid <- 0 until ksub) yield
          gridFold(zip_with(slice(col("qid_v"), j * sub + 1, sub),
            codeword(j, cid), (x, c) => x * c)).cast("long")): _*).as("lut"))
      .localCheckpoint(true)
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    // per-candidate score via the codegen'd ADC kernel — the scan's
    // entire per-row work is this one fused m-lookup loop
    codes
      .join(broadcast(lut), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (Kernels.adcScoreLong(col("codes"), col("lut"))
          .cast("double") / lit(GRID)).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "score")
  }

  /** The no-training PQ codebook: the ksub lowest-id vectors'
    * subvectors, cid = dense 0-based rank (TakeOrdered over the corpus,
    * then a window over only those ksub rows — never a global window).
    */
  private def standInCodebook(e: DataFrame, m: Int, ksub: Int, sub: Int): DataFrame =
    e.orderBy("vid").limit(ksub)
      .withColumn("cid", row_number().over(Window.orderBy("vid")).cast("int") - 1)
      .select(col("cid"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("vid_v"))
      .select(col("j"), col("cid"),
        slice(col("vid_v"), col("j") * lit(sub) + lit(1), lit(sub)).as("cw"))

  /** The PQ training grid: codebook coordinates live on a 1e6 integer
    * grid during training so every assignment distance is an EXACT
    * integer sum (order-free) and every centroid-mean update is one
    * IEEE-identical double divide + floor — the iterate, and hence the
    * trained codebook, is bit-stable across partitionings AND across
    * engines (the oracle unrolls the same iterations in SQL). 1e6 is
    * deliberately coarser than [[GRID]]: squared grid distances must
    * fit a long (diff² ≈ (2·|x|·1e6)² ≈ 1e13 per dim at unit-scale
    * coordinates; 1e12 would overflow at ~1e24).
    */
  private val PQGRID = 1e6

  /** Per-subspace Lloyd's k-means — the REAL PQ codebook trainer
    * (Jégou et al. 2011 §II-C train their subquantizers exactly so;
    * the declared q_pq_ann/q_pq_rerank run on this, not on stand-in
    * codewords). Returns (j, cid, cw: array<double>) with cid dense
    * 0..ksub-1, directly pluggable into [[pqSearch]].
    *
    * All m subspaces train SIMULTANEOUSLY in one keyed pipeline — the
    * subspace id j is just another grouping key — so an iteration is
    * ONE distributed job: a broadcast join (codebook ≪ corpus: m·ksub
    * rows riding a LocalTableScan) + a fused argmin/mean aggregate over
    * the (corpus × ksub) assignment fanout, not m separate k-means
    * jobs. The codebook itself is driver-side MODEL state between
    * iterations (m·ksub·sub grid longs — the BPE-merge-table/PCA
    * pattern), so nothing corpus-sized is ever checkpointed. At 100 TB
    * you train on a deterministic hash-sample and encode the full
    * corpus once with the final codebook — encoding, not training, is
    * the corpus-sized pass.
    *
    * Determinism: init = the ksub lowest-vec_id vectors' subvectors
    * (dense-ranked, regeneration-proof); assignment argmin ties break
    * by cid; a cluster that loses all members keeps its previous
    * centroid, so exactly m·ksub codewords always come out.
    */
  def pqTrain(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, dims: Int = 64, samplePct: Int = 100): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sub = dims / m
    require(sub * m == dims, s"dims $dims not divisible into $m subspaces")
    // samplePct < 100: train on a DETERMINISTIC vec_id hash-sample (the
    // engine's shared sampling rule) — the 100 TB mode the scaladoc
    // names: codebook quality needs statistics, not the whole corpus,
    // and the corpus-sized pass is encoding, which always runs in full.
    // Seeds still come from the FULL corpus's lowest ids so the trained
    // codebook is comparable (and ksub never outruns a small sample).
    val trainSet =
      if (samplePct >= 100) embeddings
      else embeddings.filter(
        TextOps.hashBucket(col("vec_id")) < samplePct || col("vec_id") < ksub)
    val e = castVec(trainSet, "vid")
    def gridSub(v: Column): Column =
      transform(slice(v, col("j") * lit(sub) + lit(1), lit(sub)),
        x => floor(x * lit(PQGRID) + lit(0.5)).cast("long"))
    // per-(vector, subspace) grid subvector — the training working set,
    // persisted once and scanned by every iteration
    val xg = e
      .select(col("vid"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("vid_v"))
      .select(col("vid"), col("j"), gridSub(col("vid_v")).as("xs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the codebook is MODEL state — m·ksub·sub grid longs — so like the
    // BPE merge table and the PCA iterate it lives on the DRIVER between
    // iterations: each iteration is ONE distributed job (assignment +
    // per-dimension mean, collected k·m rows), the broadcast side is a
    // LocalTableScan, and nothing vocab-sized is ever checkpointed
    var cbLocal: Seq[(Int, Int, Seq[Long])] = e.orderBy("vid").limit(ksub)
      .withColumn("cid", row_number().over(Window.orderBy("vid")).cast("int") - 1)
      .select(col("cid"), explode(sequence(lit(0), lit(m - 1))).as("j"), col("vid_v"))
      .select(col("j"), col("cid"), gridSub(col("vid_v")).as("cg"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSeq
    for (_ <- 0 until iters) {
      val cb = cbLocal.toDF("j", "cid", "cg")
      // one fused job: exact integer L2 argmin (ties to the lowest
      // cid), then the per-dimension grid mean — exact long sum, ONE
      // IEEE double divide + floor(+0.5) back onto the grid
      val means = xg.join(broadcast(cb), Seq("j"))
        .select(col("vid"), col("j"), col("xs"), col("cid"),
          aggregate(zip_with(col("xs"), col("cg"), (x, c) => (x - c) * (x - c)),
            lit(0L), (a, t) => a + t).as("d2"))
        .groupBy("vid", "j")
        .agg(min(struct(col("d2"), col("cid"))).as("b"), first(col("xs")).as("xs"))
        .select(col("j"), col("b.cid").as("cid"), posexplode(col("xs")).as(Seq("d", "x")))
        .groupBy("j", "cid", "d")
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("cgd"))
        .groupBy("j", "cid")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("cgd")))),
          s => s.getField("cgd")).as("cg"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSeq
      // emptied clusters keep their previous codeword
      val got = means.map(t => (t._1, t._2)).toSet
      cbLocal = (means ++ cbLocal.filter(t => !got((t._1, t._2)))).sortBy(t => (t._1, t._2))
    }
    xg.unpersist(false)
    cbLocal.toDF("j", "cid", "cg")
      .select(col("j"), col("cid"),
        transform(col("cg"), c => c.cast("double") / lit(PQGRID)).as("cw"))
  }

  /** The deployment-shaped two-stage ANN: PQ ADC shortlist (top
    * `shortlist` per query, 4-byte codes, zero-shuffle scoring) →
    * exact float cosine re-rank of the shortlist → top `k`. This is
    * how PQ is actually served (Jégou et al. 2011 §V "IVFADC with
    * re-ranking"): the compressed scan does the corpus-sized work and
    * the exact pass touches only shortlist·|queries| vectors — so the
    * recall story no longer ends at raw ADC fidelity.
    *
    * Scale shape: the shortlist (queries × shortlist ids, KBs) rides a
    * broadcast back onto the corpus scan, so candidate-vector fetch is
    * one broadcast-pruned pass — no shuffle anywhere after the code
    * index is built.
    */
  def pqSearchRerank(embeddings: DataFrame, queryPred: Column, m: Int = 8,
      ksub: Int = 16, shortlist: Int = 100, k: Int = 10, dims: Int = 64,
      codebook: Option[DataFrame] = None): DataFrame = {
    // materialize the shortlist (queries × shortlist rows, KBs) BEFORE
    // broadcasting: computing the whole ADC pipeline inside the
    // broadcast-exchange thread measured erratic multi-second stalls
    // (the ivfSearchCentroids convention — eager localCheckpoint, swept
    // by the callers' storage cleanup)
    val cand = pqSearch(embeddings, queryPred, m, ksub, shortlist, dims, codebook)
      .select("qid", "vid")
      .localCheckpoint(true)
    rerankExact(embeddings, cand, k)
  }

  /** The shared exact-cosine re-rank tail: fetch the shortlist's float
    * vectors (broadcast-pruned corpus scan), score true cosine, top-k.
    * The query set is derived from the shortlist itself (its distinct
    * qids ride a broadcast semi-join), so any shortlist builder plugs
    * in regardless of how it names its predicate column. Self-pairs
    * are already excluded upstream (every builder joins on qid <>
    * vid), so all joins are plain equi-joins.
    */
  private def rerankExact(embeddings: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val e = castVec(embeddings, "vid")
    // |queries| rows — materialize BEFORE the broadcast: computing the
    // scan + semi-join inside the broadcast-exchange thread is the
    // same erratic-stall shape the shortlist checkpoint already fixed
    // (PERF.md q_pq_rerank finding; r13 verdict #3)
    val q = castVec(embeddings, "qid")
      .join(broadcast(cand.select("qid").distinct()), Seq("qid"), "left_semi")
      .localCheckpoint(true)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    e.join(broadcast(cand), Seq("vid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vid"), cosRounded("qid", "vid").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** IVFADC shortlist → exact re-rank — the full billion-scale serving
    * stack: coarse cells (× nprobe) prune, residual ADC compresses,
    * and the exact pass recovers the recall the quantized score loses
    * (EvalProbe measures the recovery; the ADC-only plateau is
    * documented in PERF.md). Same two-broadcast tail as
    * [[pqSearchRerank]].
    */
  def ivfPqRerank(embeddings: DataFrame, queryPred: Column, nCentroids: Int = 8,
      m: Int = 8, ksub: Int = 16, shortlist: Int = 100, k: Int = 10,
      dims: Int = 64, nprobe: Int = 1): DataFrame = {
    val cand = ivfPqSearch(embeddings, queryPred, nCentroids, m, ksub,
      shortlist, dims, nprobe).select("qid", "vid")
    rerankExact(embeddings, cand, k)
  }

  /** IVFADC (Jégou et al. 2011 §IV — the FAISS IVF+PQ default): coarse
    * IVF assignment, then product quantization of the RESIDUAL v − c,
    * scored by ADC within the query's cell only. The composition is
    * what actually runs at billion scale: the coarse index prunes the
    * scan to 1/C of the corpus, the 4-byte residual codes shrink what
    * remains 64×, and the residual distribution (centered, small) is
    * exactly what a 16-codeword-per-subspace book quantizes well.
    *
    * score(q, v) = q·c + ADC(q, codes(v − c)) ≈ q·v, exact in grid
    * arithmetic: q·c is a 1e12-grid long, the LUT entries are the same
    * grid, and their sum ranks identically across engines. Within one
    * cell q·c is constant, so the ranking equals the ADC ranking — the
    * term is kept so the reported score approximates the true dot.
    *
    * Scale shape: one broadcast coarse-assignment pass (C centroids),
    * residual PQ training on the driver-side-model path ([[pqTrain]]),
    * then a zero-shuffle ADC scan of the query's cell. Deterministic
    * stand-in coarse centroids (dense-ranked lowest ids, the
    * [[ivfSearch]] convention) keep the oracle mechanical; the
    * codebook itself is genuinely TRAINED on the residuals.
    */
  def ivfPqSearch(embeddings: DataFrame, queryPred: Column, nCentroids: Int = 8,
      m: Int = 8, ksub: Int = 16, k: Int = 10, dims: Int = 64,
      nprobe: Int = 1): DataFrame = {
    val (result, assigned) =
      ivfPqSearchLazy(embeddings, queryPred, nCentroids, m, ksub, k, dims, nprobe)
    // materialize the (tiny) top-k so the persisted assignment can be
    // dropped before returning (the ivfSearchCentroids convention)
    val out = result.localCheckpoint(true)
    assigned.unpersist(false)
    out
  }

  /** A persisted IVFADC index — the train-once/serve-many artifact a
    * production ANN deployment actually runs (r9 verdict #1): coarse
    * centroids, the trained residual PQ codebook, and the per-vector
    * residual codes + cell assignment, each a parquet table. The
    * corpus-sized member is `codes` (one short array row per vector,
    * ~m bytes of payload — the 64× compression is the point); the
    * model halves (centroids C·dims doubles, codebook m·ksub·sub
    * doubles) broadcast at any corpus size.
    */
  final case class IvfPqIndex(centroids: DataFrame, codebook: DataFrame,
      codes: DataFrame, nCentroids: Int, m: Int, ksub: Int, dims: Int)

  /** Train an IVFADC index and persist it under `dir`
    * (centroids/codebook/codes/meta parquet tables). Runs the EXACT
    * trainer the in-query path runs ([[ivfPqBuildLazy]]), so a query
    * served from the saved artifact is bit-identical to one that
    * retrained in-query (IndexServeSpec pins it). At 100 TB this is
    * the pass you pay ONCE: encoding is the only corpus-sized write,
    * and every subsequent query batch reads the codes table instead
    * of re-scoring/retraining — the ~seconds-per-query trainer cost
    * the bench pays under the self-contained-oracle convention is
    * exactly what this removes in deployment.
    *
    * The artifact is FOUR tables, and overwriting them in place over
    * a live index would not be crash-atomic across the four writes —
    * a crash between `centroids` and `codes` would leave new
    * centroids beside old codes, which [[readIvfPqIndex]] would serve
    * as silent garbage. So each call writes a fresh `v=<n>/` version
    * dir instead, with `meta` written LAST: a version is complete iff
    * its `meta/_SUCCESS` exists, readers resolve the highest complete
    * version, and a crash at ANY point leaves an incomplete version
    * that readers never see and the previous version still serving.
    * Old versions are kept (a reader may be mid-stream over one) —
    * prune deliberately with [[pruneIvfPqVersions]].
    */
  def writeIvfPqIndex(embeddings: DataFrame, dir: String, nCentroids: Int = 8,
      m: Int = 8, ksub: Int = 16, dims: Int = 64): Unit = {
    // deleted vectors must not influence the retrained quantizer model
    // either — not just the served codes (r12 ADVICE; scaladoc on
    // scrubDeletedTraining)
    val train = scrubDeletedTraining(embeddings.sparkSession, dir, embeddings)
    val (scoredCells, cent, cb, codes) =
      ivfPqBuildLazy(train, nCentroids, m, ksub, dims)
    writeIndexVersion(embeddings.sparkSession, dir, cent, cb, codes,
      nCentroids, m, ksub, dims)
    scoredCells.unpersist(false)
  }

  /** Land one model-halves + codes set as a fresh sealed `v=<n+1>` —
    * THE version-write block, shared by [[writeIvfPqIndex]] (retrain)
    * and [[rebalanceIvfPqIndex]] (balanced-centroid retrain) so the
    * crash-atomicity and marker-carry contracts live in one place.
    */
  private def writeIndexVersion(spark: SparkSession, dir: String,
      cent: DataFrame, cb: DataFrame, codes: DataFrame,
      nCentroids: Int, m: Int, ksub: Int, dims: Int): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val vdir = s"$dir/v=${(0L +: indexVersions(fs, dir)).max + 1}"
    val priorOpt = indexVersions(fs, dir).filter(isCompleteVersion(fs, dir, _))
      .sorted.lastOption.map(v => s"$dir/v=$v")
    // heal a crashed allowReingest before touching the prior version's
    // deletion log (the compactIvfPqIndex rationale)
    priorOpt.foreach(p => graft.core.Artifacts.healRewrites(fs, p))
    cent.write.mode("overwrite").parquet(s"$vdir/centroids")
    cb.write.mode("overwrite").parquet(s"$vdir/codebook")
    // codes live in SEALED append dirs (append=0 is the training
    // write): readers take only dirs whose _SUCCESS committed, so a
    // crashed later append is invisible instead of a partial,
    // committer-dependent row subset — see appendToIvfPqIndex.
    // MATERIALIZED deletions stay deleted across the retrain: the
    // prior version's deletion log anti-joins the fresh codes (the
    // retrain corpus may legitimately still contain the rows — r11
    // ADVICE: durability must not depend on the operator purging them)
    priorOpt.map(p => dropLogged(spark, p, codes)).getOrElse(codes)
      .write.mode("overwrite").parquet(s"$vdir/codes/append=0")
    // a RETRAIN carries the prior version's replay-dedup evidence
    // forward exactly like a compaction does: without it, a replayed
    // pre-retrain stream batch is only skippable while the OLD
    // version's live markers survive, making prune timing a silent
    // correctness dependency (r10 ADVICE #2 — the scaladoc's manual
    // "prune only after the stream catches up" rule, now mechanical)
    priorOpt
      .foreach { prior =>
        carryReplayMarkers(fs, prior, vdir)
        // PENDING deletion tombstones carry too: a retrain whose input
        // corpus still contains deleted rows must not resurrect them —
        // the tombstones keep suppressing until a compaction
        // materializes the deletion (see deleteFromIvfPqIndex); the
        // deletion LOG carries the already-materialized ones
        (sealedTombstoneDirs(fs, prior) ++
            Some(s"$prior/$DeletionLogDir").filter(d => fs.exists(
              new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))))
          .foreach { t =>
            val name = new org.apache.hadoop.fs.Path(t).getName
            val dst = if (name == DeletionLogDir) s"$vdir/$DeletionLogDir"
              else s"$vdir/tombstones/$name"
            org.apache.hadoop.fs.FileUtil.copy(fs,
              new org.apache.hadoop.fs.Path(t), fs,
              new org.apache.hadoop.fs.Path(dst),
              false, spark.sessionState.newHadoopConf())
          }
      }
    Seq((nCentroids, m, ksub, dims))
      .toDF("n_centroids", "m", "ksub", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$vdir/meta")
  }

  /** Version dirs (`v=<n>`) under an index root, complete or not —
    * the shared core ([[graft.core.Artifacts.versionDirs]]); this
    * index's versions seal on `meta/_SUCCESS` (meta written last).
    */
  private def indexVersions(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[Long] =
    graft.core.Artifacts.versionDirs(fs, dir)

  private def isCompleteVersion(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, v: Long): Boolean =
    graft.core.Artifacts.isCompleteVersion(fs, dir, v, "meta/_SUCCESS")

  /** Resolve the highest COMPLETE version dir (meta/_SUCCESS present —
    * meta is written last, so its job-commit marker seals the whole
    * version), falling back to the pre-versioning flat layout so
    * artifacts written by older builds stay readable. A dir with
    * neither is a loud error, never an empty index.
    */
  private def latestIndexDir(spark: SparkSession, dir: String): String = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val complete = indexVersions(fs, dir).filter(isCompleteVersion(fs, dir, _))
    if (complete.nonEmpty) s"$dir/v=${complete.max}"
    // legacy flat layout gates on the same job-commit marker as the
    // versioned path — a torn legacy meta must hit the loud error
    // below, not an obscure schema-inference failure
    else if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS"))) dir
    else throw new IllegalArgumentException(
      s"readIvfPqIndex: no complete index version under $dir " +
        "(a crashed write leaves only incomplete v=* dirs; retrain, or " +
        "point at an artifact written by writeIvfPqIndex)")
  }

  /** THE one listing of a codes table's `append=<n>` dirs — (id,
    * sealed?) pairs, id-sorted — shared by the reader
    * ([[sealedCodesDirs]]), the pruner ([[pruneIvfPqVersions]]), and
    * both append writers, so the dir-naming and sealing convention
    * lives in exactly one place. Sealed = the dir's own `_SUCCESS`
    * job-commit marker exists.
    */
  private def codesAppendDirs(fs: org.apache.hadoop.fs.FileSystem,
      codesDir: String): Seq[(Long, Boolean)] =
    sealedFamilyDirs(fs, codesDir, "append")

  /** One listing of a `<prefix>=<n>` sealed-dir family — (id, sealed?)
    * pairs, id-sorted; sealed = the dir's own `_SUCCESS` job-commit
    * marker. The codes table's `append=` dirs and the deletion
    * tombstones' `del=` dirs share this convention (and therefore the
    * same torn-write invisibility).
    */
  private def sealedFamilyDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: String, prefix: String): Seq[(Long, Boolean)] =
    graft.core.Artifacts.sealedFamilyDirs(fs, root, prefix)

  /** The version's SEALED deletion-tombstone dirs (`tombstones/del=<n>`,
    * each a one-column `vid` parquet) — empty when no deletes pend.
    */
  private def sealedTombstoneDirs(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: String): Seq[String] =
    sealedFamilyDirs(fs, s"$versionDir/tombstones", "del")
      .collect { case (a, true) => s"$versionDir/tombstones/del=$a" }

  private val DeletionLogDir = "deletion_log"

  /** Output-file count for a deletion-log write: one file per ~4M vids
    * (tens of MB of int64) — takedown-sized logs stay single-file,
    * while a mass compliance purge no longer funnels through one
    * coalesce(1) task (the Dedup versioned-log rationale applied to
    * this per-version log, whose write is already one-shot per
    * compaction/re-admission).
    */
  private def logFiles(rows: Long): Int =
    math.max(1L, rows / 4000000L).toInt

  /** The version's durable DELETION LOG (r11 ADVICE): a one-column
    * `vid` parquet dir recording every deletion a compaction has
    * MATERIALIZED. Tombstones alone made deletion durable only while
    * pending — once a compaction cleared them, a retrain or append fed
    * an unpurged corpus would silently resurrect the rows. The log is
    * carried across versions like the replay markers, every writer
    * (retrain, rebalance, one-shot and streamed appends) anti-joins
    * its input against it, and a vid leaves it only through the
    * explicit [[allowReingest]] — deletion is durable BY DEFAULT,
    * re-admission is a deliberate operator event. Takedown-sized, so
    * the anti-joins broadcast. None = empty log (incl. an unsealed
    * dir: only a crashed [[allowReingest]] REWRITE could leave one,
    * and that protocol parks the original rather than damaging it —
    * the park refusal below keeps that window loud).
    */
  private def deletionLog(spark: SparkSession,
      versionDir: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(versionDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val parks = graft.core.Artifacts.rewriteParks(fs, versionDir)
    require(parks.isEmpty,
      s"deletionLog: $versionDir holds parked dir(s) ${parks.mkString(",")} " +
        "from a crashed allowReingest rewrite — run allowReingest (it heals " +
        "on entry) or compactIvfPqIndex before writing to this index")
    if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$versionDir/$DeletionLogDir/_SUCCESS")))
      Some(spark.read.parquet(s"$versionDir/$DeletionLogDir").select("vid"))
    else None
  }

  /** Anti-join a codes-shaped frame (`vid` column) against the
    * version's deletion log — the single suppression point every
    * writer shares. Size-gated like every deletion-path join
    * ([[graft.core.Gate]]): takedown-sized logs broadcast, a mass
    * compliance purge joins shuffled.
    */
  private def dropLogged(spark: SparkSession, versionDir: String,
      codes: DataFrame): DataFrame =
    deletionLog(spark, versionDir).fold(codes)(l =>
      Gate.join(codes, Gate.measure(l), "vid", "left_anti"))

  /** Scrub a retrain's TRAINING corpus (`vec_id` keyed) against the
    * latest complete version's deleted set — deletion log ∪ sealed
    * pending tombstones (r12 ADVICE): [[writeIndexVersion]] already
    * anti-joins the fresh CODES against the log, which keeps deleted
    * vids out of serving, but without this the centroids/codebook
    * would still be FIT on their embeddings — logged-deleted vectors
    * influencing the quantizer model after every retrain, a gap in
    * the takedown-durability claim that nothing depends on the
    * operator purging the corpus. Size-gated anti-join
    * ([[graft.core.Gate]]); no prior version → input unchanged.
    */
  private def scrubDeletedTraining(spark: SparkSession, dir: String,
      embeddings: DataFrame): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    indexVersions(fs, dir).filter(isCompleteVersion(fs, dir, _))
      .sorted.lastOption.map(v => s"$dir/v=$v").fold(embeddings) { prior =>
        // heal a crashed allowReingest park before reading the log
        // (the writeIndexVersion convention — this runs on the same
        // maintenance entry paths)
        graft.core.Artifacts.healRewrites(fs, prior)
        val tombDirs = sealedTombstoneDirs(fs, prior)
        val tombDf =
          if (tombDirs.isEmpty) None
          else Some(spark.read.parquet(tombDirs: _*).select("vid"))
        val deleted = (tombDf, deletionLog(spark, prior)) match {
          case (Some(t), Some(l)) => Some(t.unionByName(l).distinct())
          case (t, l) => t.orElse(l)
        }
        deleted.fold(embeddings)(d => Gate.join(embeddings,
          Gate.measure(d.select(col("vid").as("vec_id"))), "vec_id", "left_anti"))
      }
  }

  /** Re-admit vids to the index (the deliberate inverse of
    * [[deleteFromIvfPqIndex]] + compaction): remove them from the
    * serving version's deletion log so future appends/retrains accept
    * them again. Crash-safe via the in-place rewrite protocol (a
    * parked log refuses loudly everywhere and this op heals on
    * entry). Serial-writer contract like every maintenance event.
    */
  def allowReingest(spark: SparkSession, dir: String, vids: DataFrame): Unit = {
    require(vids.columns.contains("vid"),
      s"allowReingest: vids must carry a `vid` column, got " +
        vids.columns.mkString(","))
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.core.Artifacts.healRewrites(fs, base)
    // refuse while any requested vid's deletion is still PENDING (an
    // uncompacted tombstone): a log-only edit would silently no-op and
    // the next compaction would move the vid INTO the log — suppressed
    // forever with no error anywhere
    val tombs = sealedTombstoneDirs(fs, base)
    if (tombs.nonEmpty) {
      val stillPending = spark.read.parquet(tombs: _*).select("vid")
        .join(vids.select("vid").distinct(), Seq("vid"), "semi")
      require(stillPending.head(1).isEmpty,
        "allowReingest: some requested vids have PENDING (uncompacted) " +
          "deletion tombstones — run compactIvfPqIndex / maintainIndex to " +
          "materialize them first, then re-admit")
    }
    deletionLog(spark, base).foreach { l =>
      val remaining = l.join(vids.select("vid").distinct(), Seq("vid"),
        "left_anti").localCheckpoint(true)
      if (remaining.head(1).isEmpty) {
        // drop-all: unseal FIRST (recursive-delete ordering is
        // unspecified — _SUCCESS surviving a partial delete would gate
        // a truncated log as present), then the unsealed dir reads as
        // absent whether or not the recursive delete completes
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$base/$DeletionLogDir/_SUCCESS"), false)
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/$DeletionLogDir"), true)
      } else
        graft.core.Artifacts.rewriteDirInPlace(fs, base, DeletionLogDir) {
          tmp => remaining.coalesce(logFiles(remaining.count()))
            .write.parquet(tmp)
        }
    }
  }

  /** The codes table's SEALED append dirs: every `append=<n>` whose
    * `_SUCCESS` job-commit marker exists. An unsealed dir is a
    * crashed append — invisible garbage, never a partial row subset.
    * A codes dir with no append subdirs at all is the pre-versioning
    * flat table, read whole.
    */
  private def sealedCodesDirs(fs: org.apache.hadoop.fs.FileSystem,
      codesDir: String): Seq[String] = {
    val appends = codesAppendDirs(fs, codesDir)
    if (appends.isEmpty) Seq(codesDir)
    else appends.collect { case (a, true) => s"$codesDir/append=$a" }
  }

  def readIvfPqIndex(spark: SparkSession, dir: String): IvfPqIndex = {
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val meta = spark.read.parquet(s"$base/meta").collect().head
    val codes0 = spark.read.parquet(sealedCodesDirs(fs, s"$base/codes"): _*)
    // deletion tombstones suppress their vids from every consumer in
    // ONE place — an anti-join (scales with both sides; never a
    // driver-side NOT IN list). No tombstones → the plan is untouched.
    val tombs = sealedTombstoneDirs(fs, base)
    val codes =
      if (tombs.isEmpty) codes0
      else codes0.join(spark.read.parquet(tombs: _*).select("vid"),
        Seq("vid"), "left_anti")
    IvfPqIndex(
      spark.read.parquet(s"$base/centroids"),
      spark.read.parquet(s"$base/codebook"),
      codes,
      meta.getAs[Int]("n_centroids"), meta.getAs[Int]("m"),
      meta.getAs[Int]("ksub"), meta.getAs[Int]("dims"))
  }

  /** DELETE vectors from a persisted index (the data-deletion /
    * right-to-be-forgotten op a production index needs): `vids` (one
    * `vid` column) lands as a fresh SEALED `tombstones/del=<n>` dir in
    * the serving version, and [[readIvfPqIndex]] anti-joins sealed
    * tombstones out of the codes table — so every consumer (search,
    * rerank, recall monitors) stops returning the vectors immediately,
    * with the corpus-sized codes table never rewritten on the delete
    * path. Three-stage hardness, each crash-safe:
    *
    *   1. tombstoned (this call): suppressed from serving; bytes
    *      remain. A crashed write is an unsealed dir readers skip —
    *      re-run the delete.
    *   2. compacted ([[compactIvfPqIndex]] — pending tombstones force
    *      the fold even below the fragmentation threshold): the new
    *      version's codes physically EXCLUDE tombstoned vids, the
    *      tombstone dirs drop, and the vids move into the version's
    *      durable DELETION LOG.
    *   3. pruned ([[pruneIvfPqVersions]]): prior versions' dirs — the
    *      last bytes — are reclaimed.
    *
    * A retrain ([[writeIvfPqIndex]]/[[rebalanceIvfPqIndex]]) CARRIES
    * pending tombstones into its new version, and every writer
    * (retrain, rebalance, both append paths) anti-joins its input
    * against the deletion log — so deletion survives model refreshes,
    * compactions, AND later writes fed a corpus that still contains
    * the deleted rows (r11 ADVICE: durability must not depend on the
    * operator purging the embeddings frame). Re-ingesting a vid on
    * purpose is the explicit [[allowReingest]] event. Same
    * serial-writer contract as every other maintenance event.
    */
  def deleteFromIvfPqIndex(spark: SparkSession, dir: String,
      vids: DataFrame): Unit = {
    require(vids.columns.contains("vid"),
      s"deleteFromIvfPqIndex: vids must carry a `vid` column, got " +
        vids.columns.mkString(","))
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val existing = sealedFamilyDirs(fs, s"$base/tombstones", "del").map(_._1)
    val next = if (existing.isEmpty) 1L else existing.max + 1
    vids.select("vid").distinct()
      .write.mode("overwrite").parquet(s"$base/tombstones/del=$next")
  }

  /** Deliberate version cleanup: keep the newest `keep` COMPLETE
    * versions, delete older complete ones and any incomplete version
    * BELOW the newest complete (a crashed write a later retrain has
    * superseded). An incomplete version ABOVE the newest complete is
    * never touched — it may be a retrain in flight right now. Inside
    * each KEPT version the same rule sweeps the codes table's torn
    * append dirs: an unsealed `append=<n>` BELOW the newest sealed
    * append is a crashed append a later retry superseded (retries
    * allocate a fresh higher n) — readers already skip it
    * ([[sealedCodesDirs]]), prune reclaims it; an unsealed append
    * ABOVE the newest sealed one may be in flight and survives.
    */
  def pruneIvfPqVersions(spark: SparkSession, dir: String,
      keep: Int = 1): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // version-level rule = the shared core (Artifacts.pruneVersionDirs,
    // meta/_SUCCESS seal); the index adds a per-KEPT-version sweep of
    // its codes table's torn append dirs below
    val keepSet =
      graft.core.Artifacts.pruneVersionDirs(fs, dir, keep, "meta/_SUCCESS")
    keepSet.foreach { v =>
      sweepTornFamily(fs, s"$dir/v=$v/codes", "append")
      sweepTornFamily(fs, s"$dir/v=$v/tombstones", "del")
    }
  }

  /** The prune rule applied INSIDE a kept version to one sealed-dir
    * family: an unsealed `<prefix>=<n>` BELOW the newest sealed one is
    * a crashed write a later retry superseded (retries allocate a
    * fresh higher n; readers already skip unsealed dirs) — reclaim it;
    * an unsealed one ABOVE may be in flight and survives. Applied to
    * the codes appends and the deletion tombstones alike.
    */
  private def sweepTornFamily(fs: org.apache.hadoop.fs.FileSystem,
      root: String, prefix: String): Unit = {
    val entries = sealedFamilyDirs(fs, root, prefix)
    val committed = entries.collect { case (a, true) => a }
    if (committed.nonEmpty)
      entries.collect { case (a, false) if a < committed.max => a }
        .foreach { a =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$root/$prefix=$a"), true)
        }
  }

  /** Fold a long-ingest index's sealed codes appends into ONE sized
    * append dir — the storage-maintenance half of the streaming serve
    * lifecycle. Months of [[graft.streaming.EmbStream.indexOnIngest]]
    * leave one small `append=<n>` dir per micro-batch: at 100 TB
    * that is thousands of sub-rowgroup files every served query must
    * open (the small-file creep [[graft.ops.Dedup.compactSignatureStore]]
    * and `compactZordered` close for their tables). Compaction reuses
    * the VERSION machinery instead of touching the live layout: the
    * folded codes (coalesced to ~maxPartitionBytes files — the fold
    * is shuffle-free, read dirs -> narrow coalesce -> write), the
    * model halves, and `meta` (sealed LAST) land in a fresh `v=<n+1>`
    * dir, so readers switch atomically, a crash at any point leaves
    * the old version serving, and the old version is reclaimed later
    * by [[pruneIvfPqVersions]] — never deleted under a live reader.
    * Served answers are bit-identical by construction (same rows,
    * different file layout); IndexServeSpec pins it.
    *
    * Stream replay stays safe ACROSS the fold and the prune: every
    * absorbed stream-written append's `(id -> writerId)` ownership
    * marker is carried into the new version's `absorbed_appends/`
    * (transitively, including markers a previous compaction carried),
    * and [[appendBatchToIvfPqIndex]] skips a replayed batch on the
    * absorbed marker exactly as on a live one. Run it only while the
    * index has no active writer (the serial-writer contract every
    * maintenance event here carries): an append in flight during the
    * fold could commit into the OLD version and be absent from the
    * new one.
    */
  def compactIvfPqIndex(spark: SparkSession, dir: String): Unit = {
    val base = latestIndexDir(spark, dir)
    require(base != dir,
      s"compactIvfPqIndex: $dir is a pre-versioning flat layout — its " +
        "codes are a single table already; rewrite with writeIvfPqIndex " +
        "to get the versioned layout")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // heal a crashed allowReingest's parked deletion_log BEFORE the
    // corpus-sized codes rewrite below — deletionLog() refuses on a
    // park, and hitting that refusal after the fold would waste the
    // whole rewrite and strand an incomplete version dir (review
    // finding, r12)
    graft.core.Artifacts.healRewrites(fs, base)
    val codesDir = s"$base/codes"
    val sealedIds = codesAppendDirs(fs, codesDir).collect { case (a, true) => a }
    val tombs = sealedTombstoneDirs(fs, base)
    // already compact AND no pending deletions — keep the version;
    // pending tombstones force the fold regardless of append count
    // (the fold is what materializes a deletion physically)
    if (sealedIds.size <= 1 && tombs.isEmpty) return
    val srcDirs = sealedIds.map(a => s"$codesDir/append=$a")
    // size the output like compactSignatureStore: input bytes over
    // maxPartitionBytes, erring toward more files, never fewer than 1
    val bytes = srcDirs.map { d =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength
    }.sum
    val targetBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val vnew = s"$dir/v=${indexVersions(fs, dir).max + 1}"
    spark.read.parquet(s"$base/centroids").write.parquet(s"$vnew/centroids")
    spark.read.parquet(s"$base/codebook").write.parquet(s"$vnew/codebook")
    // tombstoned vids are EXCLUDED from the folded codes and the
    // tombstone dirs are NOT carried — the fold is the hard-delete
    // step (bytes in prior versions go when those versions prune).
    // The materialized vids move into the new version's DELETION LOG
    // (union with the carried prior log), so durability does not end
    // here: writers keep refusing the vids until allowReingest
    val folded0 = spark.read.parquet(srcDirs: _*)
    val folded =
      if (tombs.isEmpty) folded0
      else folded0.join(spark.read.parquet(tombs: _*).select("vid"),
        Seq("vid"), "left_anti")
    folded.coalesce(nOut).write.parquet(s"$vnew/codes/append=0")
    carryReplayMarkers(fs, base, vnew)
    val priorLog = deletionLog(spark, base)
    val newLog = (priorLog, if (tombs.isEmpty) None
        else Some(spark.read.parquet(tombs: _*).select("vid"))) match {
      case (Some(l), Some(t)) => Some(l.unionByName(t).distinct())
      case (l, t) => l.orElse(t.map(_.distinct()))
    }
    newLog.map(_.localCheckpoint(true)).foreach(l =>
      l.coalesce(logFiles(l.count())).write.parquet(s"$vnew/$DeletionLogDir"))
    spark.read.parquet(s"$base/meta").write.parquet(s"$vnew/meta")
  }

  /** Carry a version's replay-dedup evidence into a successor version's
    * `absorbed_appends/`: BOTH the live per-append stream markers and
    * the previously absorbed ones, unioned per id — an id that
    * collected several owners across fold/retrain cycles keeps every
    * stream's evidence (a single-writer overwrite would silently drop
    * one). Shared by [[compactIvfPqIndex]] (fold) and
    * [[writeIvfPqIndex]] (retrain), so [[appendBatchToIvfPqIndex]]'s
    * replay skip works no matter which maintenance event — or how many
    * of them — separated the original commit from the replay, and
    * [[pruneIvfPqVersions]] timing is irrelevant to replay safety.
    */
  private def carryReplayMarkers(fs: org.apache.hadoop.fs.FileSystem,
      fromBase: String, toVdir: String): Unit = {
    val codesDir = s"$fromBase/codes"
    val sealedIds = codesAppendDirs(fs, codesDir).collect { case (a, true) => a }
    val carried = (sealedIds.flatMap(a =>
        readStreamMarker(fs, s"$codesDir/append=$a").map(w => a -> Set(w))) ++
        absorbedMarkers(fs, fromBase))
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    carried.foreach { case (a, ws) =>
      writeSmallFile(fs, s"$toVdir/absorbed_appends/append=$a",
        ws.toSeq.sorted.mkString("\n"))
    }
  }

  /** The served index's FRAGMENTATION table: one row per sealed codes
    * append — (append_id, n_rows, n_files) — the "when to compact"
    * input, the [[ivfCellShares]] convention applied to physical
    * layout instead of cell population. n_rows is parquet-footer
    * metadata (a count() over one append touches no data pages);
    * n_files is what every served query pays to open. A healthy
    * streamed index trends toward many one-small-file appends — the
    * report's row count IS the fragment count
    * [[compactIvfPqIndexIfFragmented]] dials on.
    */
  def ivfFragmentation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val codesDir = s"$base/codes"
    val appends = codesAppendDirs(fs, codesDir)
    if (appends.isEmpty) { // pre-versioning flat table: one "append"
      val df = spark.read.parquet(codesDir)
      Seq((0L, df.count(), df.inputFiles.length.toLong))
        .toDF("append_id", "n_rows", "n_files")
    } else {
      // ONE job over the sealed dirs (basePath surfaces `append` as a
      // partition column) — a per-append read loop would submit one
      // listing + one job per append, serially on the driver, in
      // exactly the thousands-of-appends regime this report monitors
      val sealedIds = appends.collect { case (a, true) => a }
      val byApp = spark.read.option("basePath", codesDir)
        .parquet(sealedIds.map(a => s"$codesDir/append=$a"): _*)
        .select(col("append").cast("long").as("append_id"),
          input_file_name().as("f")) // projected: not legal inside agg
        .groupBy("append_id")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("f")).as("n_files"))
      // left join from the id list so a sealed-but-empty append (zero
      // data rows) still reports, instead of vanishing from the group
      sealedIds.toDF("append_id").join(byApp, Seq("append_id"), "left")
        .select(col("append_id"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("n_files"), lit(0L)).as("n_files"))
        .orderBy("append_id")
    }
  }

  /** Compact only when fragmented: folds the codes appends iff the
    * sealed-append count exceeds `maxAppends` (the
    * [[autoPlanesPerBand]] convention — measure, then act). Returns
    * whether a fold ran. Below the threshold the artifact is untouched
    * — not even a version bump — so a maintenance cron can call this
    * unconditionally after each ingest window.
    */
  def compactIvfPqIndexIfFragmented(spark: SparkSession, dir: String,
      maxAppends: Int = 16): Boolean = {
    require(maxAppends >= 1, s"maxAppends must be >= 1, got $maxAppends")
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sealedIds =
      codesAppendDirs(fs, s"$base/codes").collect { case (a, true) => a }
    // pending deletion tombstones also force the fold: compaction is
    // what turns a suppressed-from-serving delete into a physical one
    // (the data-deletion SLA must not wait for fragmentation)
    if (base == dir || (sealedIds.size <= maxAppends &&
        sealedTombstoneDirs(fs, base).isEmpty)) false
    else { compactIvfPqIndex(spark, dir); true }
  }

  /** Cell-balance REPAIR for a persisted index: when the fattest
    * cell's share (read from the index's own codes table — cell
    * populations are already materialized there, NO corpus pass)
    * exceeds `maxShare`, settle balanced centroids with
    * [[ivfBalanceCells]] seeded from the saved ones, then land a full
    * retrain against them as a fresh version (shared
    * [[writeIndexVersion]]: crash-atomic seal, replay markers
    * carried). Re-encoding everything is unavoidable — split
    * centroids move cell boundaries AND residuals, so patching codes
    * in place would serve mixed-model garbage — which is why the
    * check is threshold-gated: below `maxShare` the artifact is
    * untouched, not even a version bump. Returns whether a rebalance
    * ran. Same serial-writer contract as retrain/compact.
    */
  def rebalanceIvfPqIndex(spark: SparkSession, dir: String,
      embeddings: DataFrame, maxShare: Double = 0.5,
      maxSplits: Int = 2): Boolean = {
    val ix = readIvfPqIndex(spark, dir)
    fattestShareOf(ix.codes) > maxShare &&
      rebalanceNow(spark, dir, ix, embeddings, maxShare, maxSplits)
  }

  /** Fattest-cell population share of a codes table (0.0 when empty)
    * — one column-pruned scan, computed ONCE per maintenance run and
    * reused by the decision and the report.
    */
  private def fattestShareOf(codes: DataFrame): Double = {
    val cells = codes.groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    if (cells.isEmpty || cells.sum == 0L) 0.0
    else cells.max.toDouble / cells.sum
  }

  /** The rebalance-retrain body, after the threshold already tripped.
    * GUARDS the everything-ingested retrain contract mechanically: a
    * vector in the index but absent from `embeddings` would be
    * silently DROPPED by the retrain — and because the retrain
    * carries the replay markers forward, a replay of its batch would
    * skip instead of re-adding it: permanent, unrecoverable loss. So
    * the anti-join check refuses loudly first (one vid-keyed join,
    * paid only when a rebalance actually runs — a full retrain dwarfs
    * it).
    */
  private def rebalanceNow(spark: SparkSession, dir: String, ix: IvfPqIndex,
      embeddings0: DataFrame, maxShare: Double, maxSplits: Int): Boolean = {
    // same takedown-durability scrub as writeIvfPqIndex: the rebalance
    // REFITS centroids, and deleted vectors must not shape them. The
    // missing-check below still holds — ix.codes already excludes
    // tombstoned vids (read filter) and logged vids (physical rewrite)
    val embeddings = scrubDeletedTraining(spark, dir, embeddings0)
    val missing = ix.codes.select(col("vid"))
      .join(embeddings.select(col("vec_id").as("vid")), Seq("vid"), "left_anti")
      .count()
    require(missing == 0L,
      s"rebalanceIvfPqIndex: $missing indexed vectors are absent from the " +
        "supplied embeddings frame — the rebalance RETRAINS from that frame, " +
        "so they would be silently dropped while their carried replay " +
        "markers keep skipping re-ingest. Pass everything ingested (the " +
        "retrain contract: base corpus plus every appended/streamed batch)")
    val cent2 = ivfBalanceCells(embeddings,
        ix.centroids.select(col("ccid").as("cid"), col("c_v").as("cid_v")),
        maxShare, maxSplits)
      .select(col("cid").cast("int").as("ccid"), col("cid_v").as("c_v"))
      .localCheckpoint(true)
    val n2 = cent2.count().toInt
    val (scoredCells, cent, cb, codes) =
      ivfPqBuildFrom(embeddings, cent2, ix.m, ix.ksub, ix.dims)
    writeIndexVersion(spark, dir, cent, cb, codes, n2, ix.m, ix.ksub, ix.dims)
    scoredCells.unpersist(false)
    true
  }

  /** ONE schedulable maintenance entry point (r10 verdict #4) — the op
    * a deployment cron-runs after each ingest window instead of
    * sequencing four hand-ordered calls:
    *
    *   1. [[rebalanceIvfPqIndex]]'s body — split fat cells and retrain
    *      when the fattest share exceeds `maxShare` (checked FIRST,
    *      from the codes table's cell counts — no corpus pass; and
    *      guarded: `embeddings` must hold EVERYTHING ingested, base
    *      corpus plus every appended/streamed batch, or the retrain
    *      refuses — see [[rebalanceNow]]'s loss rationale);
    *   2. [[compactIvfPqIndexIfFragmented]] — fold small-file codes
    *      appends when the sealed-append count exceeds `maxAppends`
    *      OR pending deletion tombstones must materialize
    *      ([[deleteFromIvfPqIndex]]); after a retrain the fresh
    *      single-append codes table is compact by construction, so
    *      the same window never pays two corpus-sized rewrites for
    *      fragmentation alone;
    *   3. [[pruneIvfPqVersions]] — reclaim superseded versions. Replay
    *      safety needs NO catch-up check here: every fold and retrain
    *      carries the absorbed-append ownership markers forward
    *      ([[carryReplayMarkers]]), so a replayed pre-maintenance
    *      stream batch skips on the carried marker no matter when
    *      prune ran. `keepVersions` >= 2 by default purely for
    *      readers that may be mid-scan over the previous version;
    *   4. a SAMPLED recall probe ([[annRecall]] on `queryPred`'s
    *      panel — pass a hash-sampled predicate at scale, the
    *      q_ann_recall_sampled protocol): the serving-quality number
    *      that tells the operator whether the dials above are enough.
    *
    * Runs under the index's serial-writer contract (stop streams /
    * appends for the maintenance window — each chained op documents
    * the same). Returns a ONE-ROW report: what ran, the post-state
    * (sealed appends, fattest share, version count), and mean sampled
    * recall@`recallK`.
    */
  def maintainIndex(spark: SparkSession, dir: String, embeddings: DataFrame,
      queryPred: Column => Column, maxAppends: Int = 16, maxShare: Double = 0.5,
      maxSplits: Int = 2, keepVersions: Int = 2, recallK: Int = 10,
      nprobe: Int = 1, targetRecall: Option[Double] = None): DataFrame = {
    import spark.implicits._
    // the serial-writer contract, mechanical (r12 verdict #3): a second
    // overlapping cron refuses at entry instead of racing the retrain /
    // compaction / prune writes below. Refreshable (r13 stretch #8):
    // the lease re-stamps at each phase boundary so a slow
    // rebalance-retrain at scale is never swept mid-write while making
    // progress; a frozen holder stops refreshing and heals by TTL.
    graft.core.Artifacts.withMaintenanceLeaseRefresh(
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      dir, "maintainIndex") { leaseRefresh =>
    // balance decision FIRST (it reads only cell counts): when the
    // rebalance-retrain runs, its fresh codes/append=0 is compact by
    // construction, so running compaction before it would pay a
    // corpus-sized codes rewrite only for the retrain to discard it
    val ix0 = readIvfPqIndex(spark, dir)
    val fat0 = fattestShareOf(ix0.codes)
    val rebalanced = fat0 > maxShare &&
      rebalanceNow(spark, dir, ix0, embeddings, maxShare, maxSplits)
    leaseRefresh() // retrain decision done — heartbeat before compaction
    // after a rebalance the fresh codes table is one compact append,
    // so the dial below folds only when pending deletion tombstones
    // (carried through the retrain) must materialize — the fragmented
    // case never pays a second corpus-sized rewrite in one window
    val compacted = compactIvfPqIndexIfFragmented(spark, dir, maxAppends)
    leaseRefresh() // compaction done — heartbeat before prune + probe
    pruneIvfPqVersions(spark, dir, keepVersions)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val base = latestIndexDir(spark, dir)
    // compaction/prune never move vectors between cells, so the
    // pre-computed share stands unless the retrain replaced the model
    val ix =
      if (rebalanced || compacted) readIvfPqIndex(spark, dir) else ix0
    val nAppends =
      codesAppendDirs(fs, s"$base/codes").count(_._2)
    val nTombstones = sealedTombstoneDirs(fs, base).size
    val fattest = if (rebalanced) fattestShareOf(ix.codes) else fat0
    // queryPred maps the vector-id column to the probe-panel filter
    // (hash-sample it at scale — the q_ann_recall_sampled protocol);
    // applied to `vec_id` on the exact side and `vid` on the served
    // side, which name the same ids in their respective frames
    val recall = annRecall(
        knn(embeddings, queryPred(col("vec_id")), recallK),
        ivfPqSearchServed(ix, embeddings, queryPred(col("vid")), recallK, nprobe),
        recallK)
      .agg(avg(col("recall")).as("r"), count(lit(1)).as("nq"))
      .collect().headOption
    val meanRecall = recall.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    // close the recall→dial loop (r11 verdict #4): when the sampled
    // recall misses the operator's target, run the autoNprobe sweep on
    // the SAME probe panel and REPORT the dial it picks — report-only,
    // so the op stays side-effect-bounded (the operator applies the
    // dial to the serving config; nothing here silently changes plans)
    val auto = targetRecall
      .filter(t => meanRecall.exists(_ < t))
      .map { t =>
        val (np, priced) = autoNprobe(ix, embeddings, queryPred, t, recallK)
        val achieved = priced.filter(col("nprobe") === np)
          .collect().headOption.map(_.getAs[Double]("mean_recall"))
        (np, achieved)
      }
    val nLogged = deletionLog(spark, base).map(_.count()).getOrElse(0L)
    Seq((compacted, rebalanced, nAppends.toLong, nTombstones.toLong, nLogged,
        fattest,
        indexVersions(fs, dir).count(isCompleteVersion(fs, dir, _)).toLong,
        meanRecall,
        recall.map(_.getLong(1)).getOrElse(0L),
        targetRecall, auto.map(_._1), auto.flatMap(_._2)))
      .toDF("compacted", "rebalanced", "n_sealed_appends",
        "n_pending_tombstones", "n_logged_deletions", "fattest_share",
        "n_complete_versions", "mean_recall", "n_probe_queries",
        "target_recall", "recommended_nprobe", "recommended_recall")
    } // lease released
  }

  /** Serve ANN queries from a PERSISTED index: score only the query
    * rows against the broadcast centroids (the corpus is never
    * touched — its cells and codes are already in the index), then
    * run the shared [[ivfPqProbe]] tail. Output is bit-identical to
    * [[ivfPqSearch]] with the same parameters — the deployment shape
    * where training cost is amortized to zero per query batch.
    */
  def ivfPqSearchServed(index: IvfPqIndex, queries: DataFrame,
      queryPred: Column, k: Int = 10, nprobe: Int = 1): DataFrame = {
    // the SHARED coarse-scoring block, not an inline copy: the
    // served-vs-trained bit-identity contract (IndexServeSpec) rests
    // on coarse assignment being expression-identical everywhere
    val scoredQ = coarseScored(castVec(queries, "vid").filter(queryPred),
      index.centroids)
    ivfPqProbe(scoredQ, index.codebook, index.codes,
      index.m, k, index.dims, nprobe)
  }

  /** [[ivfPqRerank]] served from a persisted index: ADC shortlist from
    * the saved codes, exact re-rank against the float vectors. Same
    * two-broadcast tail; bit-identical to the in-query-trained result.
    */
  def ivfPqRerankServed(index: IvfPqIndex, embeddings: DataFrame,
      queryPred: Column, shortlist: Int = 100, k: Int = 10,
      nprobe: Int = 1): DataFrame = {
    val cand = ivfPqSearchServed(index, embeddings, queryPred, shortlist, nprobe)
      .select("qid", "vid").localCheckpoint(true)
    rerankExact(embeddings, cand, k)
  }

  /** Recall@k of an APPROXIMATE ANN result against the exact top-k —
    * the serving-quality number every deployed index is monitored on,
    * and the ground truth behind the dials this module exposes
    * (nprobe via q_ann_ivf_probe2, band sizing via autoPlanesPerBand,
    * cell skew via ivfBalanceCells). Both inputs carry (qid, vid)
    * rows; per query, recall = |approx ∩ exact| / k. The join is
    * tiny-on-tiny (2·|queries|·k rows), so cost is entirely in
    * producing the inputs — at 100 TB the exact side is the only
    * brute-force piece, which is why the monitor runs on a SAMPLE of
    * queries (the standard recall-probe protocol: score sample ×
    * corpus once, amortized over the serving period) while the
    * approx side is the served index's own answer. Both sides are
    * deduplicated on (qid, vid) first: raw candidate-stage input
    * (multi-probe/LSH output before ranking) carries the same pair
    * from several probes or bands, and without the dedup each copy
    * would join and count again — hits > k, recall > 1.0, a broken
    * monitor exactly when the index is at its worst.
    */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    exact.select("qid", "vid").dropDuplicates("qid", "vid")
      .join(approx.select(col("qid"), col("vid"), lit(1).as("hit"))
          .dropDuplicates("qid", "vid"),
        Seq("qid", "vid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Close the recall→nprobe loop (r10 verdict #6 — the
    * [[autoPlanesPerBand]] convention pointed at the serving dial):
    * the smallest nprobe among `candidates` whose MEAN sampled
    * recall@k against the exact top-k meets `targetRecall`, measured
    * on `queryPred`'s panel (hash-sample it at 100 TB — the
    * q_ann_recall_sampled protocol). The brute-force exact side is
    * priced ONCE and reused across candidates, so the sweep costs one
    * exact pass plus one served scan per candidate tried; candidates
    * are tried ascending and the sweep STOPS at the first that meets
    * the target (larger nprobes are never priced — they only cost
    * more). Falls back to `candidates.max` when none reaches the
    * target: a bigger probe count only ever widens the candidate
    * pool, so the max is the best this index offers without a
    * rebalance/retrain (residual-quantization error, not probe count,
    * binds recall past that point — the measured q_ivfpq plateau).
    * Returns (chosen nprobe, pricing rows (nprobe, mean_recall,
    * n_queries) for the candidates actually tried) — the table an
    * operator logs beside the dial. The chosen value is a pure
    * function of the input (deterministic arithmetic end to end), but
    * hash-pinning callers pass an explicit nprobe, the
    * autoPlanesPerBand convention.
    */
  def autoNprobe(index: IvfPqIndex, embeddings: DataFrame,
      queryPred: Column => Column, targetRecall: Double, k: Int = 10,
      candidates: Seq[Int] = Seq(1, 2, 4, 8)): (Int, DataFrame) = {
    require(candidates.nonEmpty, "autoNprobe: candidates must be non-empty")
    require(targetRecall >= 0.0 && targetRecall <= 1.0,
      s"autoNprobe: targetRecall must be in [0, 1], got $targetRecall")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val exact = knn(embeddings, queryPred(col("vec_id")), k).localCheckpoint(true)
    val sorted = candidates.distinct.sorted
    val priced = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    var chosen: Option[Int] = None
    val it = sorted.iterator
    while (chosen.isEmpty && it.hasNext) {
      val np = it.next()
      val row = annRecall(exact,
          ivfPqSearchServed(index, embeddings, queryPred(col("vid")), k, np), k)
        .agg(avg(col("recall")).as("r"), count(lit(1)).as("nq"))
        .collect().head
      val mean = Option(row.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      priced += ((np, mean, row.getLong(1)))
      if (mean >= targetRecall) chosen = Some(np)
    }
    exact.unpersist(false)
    (chosen.getOrElse(sorted.max),
      priced.toSeq.toDF("nprobe", "mean_recall", "n_queries"))
  }

  /** Encode a batch of vectors against a persisted index's SAVED model
    * halves: coarse-assign with the saved centroids (cosine, ties to
    * the lowest cell), residual-encode with the saved codebook — the
    * exact arithmetic the builder ran, so a vector encodes identically
    * whether it was present at training time or arrives later.
    * Returns (vid, codes, cell) rows, the codes-table shape.
    */
  /** Coarse scoring against a centroid table (cosine, ties to the
    * lowest cell id, rn = closeness rank for nprobe) — shared by the
    * in-query trainer and the frozen-model encode path so coarse
    * assignment is expression-identical on both.
    */
  private def coarseScored(e: DataFrame, cent: DataFrame): DataFrame = {
    val wA = Window.partitionBy("vid").orderBy(col("ccos").desc, col("ccid"))
    e.join(broadcast(cent), lit(true))
      .select(col("vid"), col("vid_v"), col("ccid"), col("c_v"),
        round(Kernels.arrayCosine(col("vid_v"), col("c_v")), 6).as("ccos"))
      .withColumn("rn", row_number().over(wA))
  }

  /** Residual-PQ encode of coarse-assigned vectors — THE shared
    * encode block, used by both the in-query trainer
    * ([[ivfPqBuildLazy]]) and the frozen-model append path
    * ([[encodeWithIndex]]): the bit-identity contract ("a vector
    * encodes the same whether present at training time or arriving
    * later", IndexServeSpec) rests on this being ONE block, not two
    * hand-synced copies.
    */
  private def pqEncodeAssigned(assigned: DataFrame, cb: DataFrame,
      m: Int, dims: Int): DataFrame = {
    val sub = dims / m
    val resid = assigned.select(col("vid").as("vec_id"),
      zip_with(col("vid_v"), col("c_v"), (a, b) => a - b).as("embedding"))
    def gridFold(terms: Column): Column =
      aggregate(terms, lit(0L), (acc, t) => acc + floor(t * lit(GRID) + lit(0.5)))
    val rv = castVec(resid, "vid")
    rv.join(broadcast(cb), lit(true))
      .select(col("vid"), col("j"), col("cid"),
        gridFold(zip_with(
          slice(col("vid_v"), col("j") * lit(sub) + lit(1), lit(sub)), col("cw"),
          (x, c) => (x - c) * (x - c))).as("d2q"))
      .groupBy("vid", "j")
      .agg(min(struct(col("d2q"), col("cid"))).as("best"))
      .select(col("vid"), col("j"), col("best.cid").as("code"))
      .groupBy("vid")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("code")))),
        s => s.getField("code")).as("codes"))
      .join(assigned.select(col("vid"), col("cell")), Seq("vid"))
  }

  def encodeWithIndex(index: IvfPqIndex, batch: DataFrame): DataFrame = {
    val assigned = coarseScored(castVec(batch, "vid"), index.centroids)
      .filter(col("rn") === 1)
      .select(col("vid"), col("vid_v"), col("ccid").as("cell"), col("c_v"))
    pqEncodeAssigned(assigned, index.codebook, index.m, index.dims)
  }

  /** Append a NEW batch to a persisted index — the daily-ingest half
    * of the serve lifecycle: the batch coarse-assigns and encodes
    * against the SAVED model halves ([[encodeWithIndex]]) and its
    * codes rows append to the codes table; the historical codes are
    * never re-read or re-written, so cost scales with the batch, not
    * the corpus. The model halves stay frozen (the standard IVF
    * ingest contract — retraining is a deliberate, separate event:
    * codebook drift is what [[ivfCellShares]] / q_ivf_cell_balance
    * monitor between retrains).
    */
  def appendToIvfPqIndex(index: IvfPqIndex, batch: DataFrame,
      dir: String): Unit = {
    // appends land in the latest COMPLETE version's codes table — the
    // one readIvfPqIndex resolves — as a fresh SEALED append dir: the
    // write commits its own _SUCCESS, and readers skip unsealed dirs,
    // so a crashed append is invisible (re-run it; the torn dir is
    // garbage swept with the version) rather than a partial row
    // subset that would silently drop neighbors, or a retried
    // duplicate that would occupy two top-k ranks per vector. Run
    // appends and retrains serially (the same contract the
    // pre-versioned layout had): an append racing a retrain could
    // land in the version the retrain is about to supersede.
    val spark = batch.sparkSession
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val codesDir = s"$base/codes"
    val existing = codesAppendDirs(fs, codesDir).map(_._1)
    // logged (materialized) deletions stay deleted: an append fed an
    // unpurged corpus must not resurrect them (allowReingest re-admits)
    graft.core.Artifacts.healRewrites(fs, base)
    val encoded = dropLogged(spark, base, encodeWithIndex(index, batch))
    if (existing.isEmpty)
      // pre-versioning flat codes table: keep the in-place append
      // (its crash caveat is the legacy layout's own), since mixing
      // root files with append= subdirs would break the read
      encoded.write.mode("append").parquet(codesDir)
    else {
      // allocate above absorbed ids too: a compaction collapses the
      // DIRS to append=0, but streams may still map checkpointed
      // batches onto the absorbed id range — re-entering it would
      // manufacture the ownership collisions the markers guard against
      val used = existing ++ absorbedMarkers(fs, base).map(_._1)
      encoded.write.mode("overwrite")
        .parquet(s"$codesDir/append=${used.max + 1}")
    }
  }

  /** The next free append id for a persisted index: one above every
    * existing append dir AND every id a compaction absorbed, across
    * all complete versions — after a fold the dirs collapse to
    * `append=0` but the absorbed id range stays consumed (a stream
    * may still map checkpointed batches onto it). This is the value
    * a fresh-checkpoint [[graft.streaming.EmbStream.indexOnIngest]]
    * should pass as `baseAppendId`.
    */
  def nextAppendId(spark: SparkSession, dir: String): Long = {
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val vds =
      if (base == dir) Seq(dir)
      else indexVersions(fs, dir).filter(isCompleteVersion(fs, dir, _))
        .map(v => s"$dir/v=$v")
    val used = vds.flatMap { vd =>
      codesAppendDirs(fs, s"$vd/codes").map(_._1) ++
        absorbedMarkers(fs, vd).map(_._1)
    }
    if (used.isEmpty) 1L else used.max + 1
  }

  /** Name of the per-append ownership marker the streaming path
    * writes AFTER the parquet job commits: its content is the
    * writer's id, so a redelivered micro-batch can tell "my own
    * already-committed write" (skip — idempotent) from "someone
    * else's sealed data under the id I was about to use" (loud
    * error, never a silent overwrite).
    */
  private val StreamMarker = "_STREAM_COMMIT"

  // marker-file primitives live in ONE place (Artifacts — shared with
  // the folded count stores' absorbed markers); all marker writes here
  // go through the ATOMIC variant: a crash mid-write must leave the
  // marker absent (the already-handled sealed-unmarked state, whose
  // error message says how to clear it), never present-but-truncated
  // (a garbled owner id reads as "someone else's sealed data" — a
  // permanent loud error needing manual forensics)
  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      path: String, content: String): Unit =
    graft.core.Artifacts.writeSmallFileAtomic(fs, path, content)

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] =
    graft.core.Artifacts.readSmallFile(fs, path)

  private def writeStreamMarker(fs: org.apache.hadoop.fs.FileSystem,
      appendDir: String, writerId: String): Unit =
    writeSmallFile(fs, s"$appendDir/$StreamMarker", writerId)

  private def readStreamMarker(fs: org.apache.hadoop.fs.FileSystem,
      appendDir: String): Option[String] =
    readSmallFile(fs, s"$appendDir/$StreamMarker")

  /** Replay-dedup markers a COMPACTION carried forward: when
    * [[compactIvfPqIndex]] folds stream-written append dirs into one,
    * their `(appendId -> writerIds)` ownership facts move to
    * `absorbed_appends/append=<id>` files in the new version — the
    * evidence [[appendBatchToIvfPqIndex]] needs to keep skipping a
    * replay of those batches after the pre-compaction version (and
    * its live markers) is pruned. Each file holds ONE WRITER PER
    * LINE: an id can legitimately accumulate several owners across
    * fold cycles (a fresh-checkpoint stream may land on an id an
    * earlier stream's absorbed append once used — the dir is gone,
    * the id is free), and a single-writer file would silently drop
    * one stream's evidence on the next fold.
    */
  private def absorbedMarkers(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: String): Seq[(Long, Set[String])] = {
    val root = new org.apache.hadoop.fs.Path(s"$versionDir/absorbed_appends")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case s if s.matches("append=\\d+") =>
        s.stripPrefix("append=").toLong }
      .flatMap(a => readSmallFile(fs, s"$versionDir/absorbed_appends/append=$a")
        .map(c => a -> c.linesIterator.filter(_.nonEmpty).toSet))
  }

  private def absorbedContains(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: String, appendId: Long, writerId: String): Boolean =
    readSmallFile(fs, s"$versionDir/absorbed_appends/append=$appendId")
      .exists(_.linesIterator.contains(writerId))

  /** The REPLAY-SAFE append the streaming twin
    * ([[graft.streaming.EmbStream.indexOnIngest]]) uses: the batch
    * encodes against the frozen model ([[encodeWithIndex]]) and lands
    * in the append dir named by its caller-supplied id, with a
    * two-step commit — the parquet job's `_SUCCESS` seals the data,
    * then a [[StreamMarker]] file records `writerId` as the dir's
    * owner. A redelivered micro-batch (the only replay foreachBatch
    * can issue) finds its own sealed-and-marked dir and SKIPS — it
    * never deletes or rewrites sealed data, so a reader lazily
    * mid-scan over the dir is undisturbed and a crash mid-replay
    * can't regress a committed batch out of serving. A sealed dir
    * under the target id that is NOT ours — written by
    * [[appendToIvfPqIndex]]'s allocate-next-n, the training write,
    * or another stream incarnation — is a LOUD error, never a silent
    * overwrite: restart the stream on a fresh checkpoint with
    * `baseAppendId` above every existing append, and allocate
    * one-shot appends outside a live stream's id range. The narrow
    * crash window between `_SUCCESS` and the marker also errors on
    * replay (sealed, unmarked); the message says how to clear it.
    *
    * Replay across a RETRAIN: if this (writerId, appendId) is already
    * sealed in an OLDER complete version, the batch was ingested
    * before the retrain — and a retrain's contract is to train over
    * everything ingested ([[graft.streaming.EmbStream.indexOnIngest]])
    * — so its vectors are in the new version's training write and the
    * replay SKIPS instead of appending them a second time (duplicate
    * codes rows would occupy two top-k ranks per vector). The retrain
    * carries the old version's markers into its own `absorbed_appends/`
    * ([[carryReplayMarkers]], same as a compaction), so the skip works
    * even after [[pruneIvfPqVersions]] reclaims the old version —
    * prune timing is NOT a replay-safety dependency.
    *
    * `appendId` must be >= 1 (0 is the training write) and the stream
    * must be the index's only writer while running — the same
    * serial-writer contract appends and retrains already carry.
    * Refuses a pre-versioning flat codes table: per-id dirs require
    * the sealed-append layout (rewrite with [[writeIvfPqIndex]]).
    */
  def appendBatchToIvfPqIndex(index: IvfPqIndex, batch: DataFrame,
      dir: String, appendId: Long, writerId: String): Unit = {
    require(appendId >= 1,
      s"appendId must be >= 1 (append=0 is the training write), got $appendId")
    require(writerId.nonEmpty, "writerId must be non-empty — it is the " +
      "ownership identity replay safety rests on (streams pass their " +
      "checkpoint dir)")
    val spark = batch.sparkSession
    val base = latestIndexDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val codesDir = s"$base/codes"
    require(codesAppendDirs(fs, codesDir).nonEmpty,
      s"appendBatchToIvfPqIndex: $codesDir is a pre-versioning flat codes " +
        "table; per-batch append dirs would shadow its root files — " +
        "rewrite the artifact with writeIvfPqIndex first")
    val target = s"$codesDir/append=$appendId"
    // FIRST: replay across a retrain or compaction — this (writerId,
    // appendId) already committed into an older version's live append,
    // or was absorbed into any version by a compaction that carried
    // the marker forward. Checked BEFORE the target-ownership
    // branches: after a fold frees the id, another writer may
    // legitimately occupy the dir, and a replay of OUR committed batch
    // must still be a silent no-op, not a crash-looping ownership
    // error — the data is safely in the index either way.
    val committedBefore = indexVersions(fs, dir)
      .filter(isCompleteVersion(fs, dir, _))
      .exists { v =>
        val vd = s"$dir/v=$v"
        val old = s"$vd/codes/append=$appendId"
        (vd != base &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$old/_SUCCESS")) &&
          readStreamMarker(fs, old).contains(writerId)) ||
        absorbedContains(fs, vd, appendId, writerId)
      }
    if (committedBefore) return
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$target/_SUCCESS"))) {
      readStreamMarker(fs, target) match {
        case Some(w) if w == writerId => return // replay of our committed batch
        case Some(w) => throw new IllegalStateException(
          s"appendBatchToIvfPqIndex: $target is sealed and owned by " +
            s"writer '$w', not '$writerId' — two stream incarnations are " +
            "mapping different batches onto the same append id; restart on " +
            "a fresh checkpoint with baseAppendId above every existing " +
            "and absorbed append (nextAppendId gives it)")
        case None => throw new IllegalStateException(
          s"appendBatchToIvfPqIndex: $target is sealed but carries no " +
            s"$StreamMarker — it was written by a one-shot append or " +
            "training write whose id collides with this stream's range " +
            "(overwriting would silently destroy its vectors). Restart on a " +
            "fresh checkpoint with baseAppendId above every existing and " +
            "absorbed append (nextAppendId gives it), and run one-shot " +
            "appends only while the stream is stopped AND its checkpoint " +
            "is drained. If this dir is THIS stream's own crash between " +
            "_SUCCESS and the marker, verify its content matches the " +
            "batch, delete the dir, and restart")
      }
    }
    // target is absent or an unsealed torn write of our own earlier
    // attempt (readers never resolve unsealed dirs) — safe to rewrite.
    // Logged (materialized) deletions anti-join out: a stream replay —
    // or a source that keeps emitting a taken-down vector — must not
    // resurrect it (allowReingest is the deliberate re-admission)
    graft.core.Artifacts.healRewrites(fs, base)
    dropLogged(spark, base, encodeWithIndex(index, batch))
      .write.mode("overwrite").parquet(target)
    writeStreamMarker(fs, target, writerId)
  }

  /** The IVFADC pipeline, lazily: (result, persisted assignment) —
    * PlanSpec asserts the broadcast/WindowGroupLimit shape here, before
    * localCheckpoint truncates the plan (the ivfSearchLazy convention).
    * `nprobe` > 1 is the recall dial: a query probes its nprobe closest
    * cells, each contributing its own q·c offset; the corpus side still
    * lives in exactly one cell so index size is unchanged.
    */
  private[graft] def ivfPqSearchLazy(embeddings: DataFrame, queryPred: Column,
      nCentroids: Int, m: Int, ksub: Int, k: Int, dims: Int,
      nprobe: Int = 1): (DataFrame, DataFrame) = {
    val (scoredCells, _, cb, codes) =
      ivfPqBuildLazy(embeddings, nCentroids, m, ksub, dims)
    // query side reads the SAME scored-cells pass the trainer built —
    // zero extra corpus scans for in-query (train+serve) execution
    val queries = scoredCells.filter(queryPred)
    val out = ivfPqProbe(queries, cb, codes, m, k, dims, nprobe)
    (out, scoredCells)
  }

  /** The IVFADC index BUILD — coarse assignment, residual codebook
    * training, residual encoding — factored out so the in-query path
    * ([[ivfPqSearchLazy]]) and the persisted-index path
    * ([[writeIvfPqIndex]]) train the EXACT same artifact. Returns
    * (scored-cells pass [persisted], centroids, codebook, codes);
    * the caller owns unpersisting the scored pass.
    */
  private[graft] def ivfPqBuildLazy(embeddings: DataFrame, nCentroids: Int,
      m: Int, ksub: Int, dims: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cent = castVec(embeddings, "vid").orderBy("vid").limit(nCentroids)
      .withColumn("ccid", row_number().over(Window.orderBy("vid")).cast("int") - 1)
      .select(col("ccid"), col("vid_v").as("c_v"))
    ivfPqBuildFrom(embeddings, cent, m, ksub, dims)
  }

  /** [[ivfPqBuildLazy]] with CALLER-SUPPLIED coarse centroids
    * (`(ccid, c_v)` rows) — the rebalance-retrain path
    * ([[rebalanceIvfPqIndex]]) injects [[ivfBalanceCells]]' settled
    * centroids here; everything downstream (assignment, residual
    * codebook training, encoding) is the shared blocks.
    */
  private def ivfPqBuildFrom(embeddings: DataFrame, cent: DataFrame,
      m: Int, ksub: Int, dims: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sub = dims / m
    require(sub * m == dims, s"dims $dims not divisible into $m subspaces")
    val e = castVec(embeddings, "vid")
    // coarse assignment ([[coarseScored]], shared with
    // encodeWithIndex) — one broadcast pass; persisted because
    // residual training, encoding, the query side and the q·c term
    // all read it. rn kept so the query side can probe its nprobe
    // closest cells.
    val scoredCells = coarseScored(e, cent)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every corpus vector lives in exactly ONE cell
    val assigned = scoredCells.filter(col("rn") === 1)
      .select(col("vid"), col("vid_v"), col("ccid").as("cell"), col("c_v"))
    val resid = assigned.select(col("vid").as("vec_id"),
      zip_with(col("vid_v"), col("c_v"), (a, b) => a - b).as("embedding"))
    val cb = pqTrain(resid, m, ksub, 2, dims)
    // residual codes via the SHARED encode block (pqEncodeAssigned) —
    // exactly the pqSearch encode shape, and expression-identical to
    // what a later appendToIvfPqIndex batch computes
    val codes = pqEncodeAssigned(assigned, cb, m, dims)
    (scoredCells, cent, cb, codes)
  }

  /** The IVFADC QUERY half, shared verbatim by the in-query path and
    * the persisted-index serving path: `queries` is a scored-cells
    * frame (vid, vid_v, ccid, c_v, ccos, rn) restricted to the query
    * vectors — from the trainer's own corpus pass in-query, or from a
    * fresh broadcast-centroids scoring of just the query rows when
    * serving. Because every downstream expression is deterministic
    * grid arithmetic over those columns, the two paths return
    * BIT-IDENTICAL results (IndexServeSpec pins it).
    */
  private def ivfPqProbe(queries: DataFrame, cb: DataFrame, codes: DataFrame,
      m: Int, k: Int, dims: Int, nprobe: Int): DataFrame = {
    val sub = dims / m
    def gridFold(terms: Column): Column =
      aggregate(terms, lit(0L), (acc, t) => acc + floor(t * lit(GRID) + lit(0.5)))
    // query side: one probe row per (query, probed cell) with that
    // cell's q·c offset; the LUT itself is cell-independent (the
    // residual codewords are global) so it is built once per query
    val probes = queries.filter(col("rn") <= nprobe)
      .select(col("vid").as("qid"), col("vid_v").as("qid_v"),
        col("ccid").as("cell"), col("c_v"))
    val lut = queries.filter(col("rn") === 1)
      .select(col("vid").as("qid"), col("vid_v").as("qid_v"))
      .join(broadcast(cb), lit(true))
      .select(col("qid"), col("j"), col("cid"),
        gridFold(zip_with(
          slice(col("qid_v"), col("j") * lit(sub) + lit(1), lit(sub)), col("cw"),
          (x, c) => x * c)).cast("long").as("lamq"))
      .groupBy("qid")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cid"), col("lamq")))),
        s => s.getField("lamq")).as("lut"))
      .join(probes.select(col("qid"), col("cell"),
        gridFold(zip_with(col("qid_v"), col("c_v"), (a, b) => a * b)).as("qcq")),
        Seq("qid"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    codes
      .join(broadcast(lut),
        col("qid") =!= col("vid") && codes("cell") === lut("cell"))
      .select(col("qid"), codes("cell").as("cell"), col("vid"),
        ((Kernels.adcScoreLong(col("codes"), col("lut")) + col("qcq"))
          .cast("double") / lit(GRID)).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cell", "rank", "vid", "score")
  }

  /** Spherical Lloyd's k-means over the embedding column — the trainer
    * for real IVF coarse centroids (the declared q_ann_ivf keeps
    * deterministic lowest-id stand-ins so its oracle stays
    * cross-engine-exact; this is the library path a deployment would
    * use). Assignment is by cosine and centroid updates renormalize to
    * the unit sphere, so the objective is the spherical k-means one;
    * emptied clusters retain their previous centroid (always exactly k
    * centroids out).
    *
    * Deterministic: init = the k lowest vec_ids, assignment ties break
    * by centroid id, updates average in vec_id order. Each iteration is
    * one broadcast join (centroids ≪ corpus) + one groupBy(cluster) —
    * no driver materialization except the k centroid vectors
    * themselves, which is what makes this run at corpus scale; at
    * 100 TB you train on a hash-sample (`TextOps.hashBucket`-style)
    * and assign the full corpus once with the final centroids.
    */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 5): DataFrame = {
    val e = castVec(embeddings, "vid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cent = e.filter(col("vid") < k)
      .select(col("vid").cast("int").as("cid"), col("vid_v").as("cid_v"))
    for (_ <- 0 until iters)
      cent = lloydRound(e, cent).localCheckpoint(true)
    e.unpersist()
    cent
  }

  /** One spherical Lloyd iteration over a prepared (vid, vid_v) frame:
    * cosine argmin assignment (ties to the lowest cid), decimal
    * per-dimension means (order-insensitive accumulator — double avg()
    * depends on partial-agg combine order), unit-sphere renorm (the
    * update under which the cosine objective is monotone), emptied
    * clusters keep their previous centroid so exactly |cent| centroids
    * always come out. Shared by [[kmeans]] and the cell-balance split
    * refinement ([[ivfBalanceCells]]).
    */
  private def lloydRound(e: DataFrame, cent: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vid").orderBy(col("ccos").desc, col("cid"))
    val assigned = e.join(broadcast(cent), lit(true))
      .select(col("vid"), col("vid_v"), col("cid"),
        Kernels.arrayCosine(col("vid_v"), col("cid_v")).as("ccos"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
    // per-dimension mean: explode to (cluster, dim, value), aggregate,
    // reassemble in dimension order — stays distributed end to end
    val means = assigned
      .select(col("cid"), posexplode(col("vid_v")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        / count(lit(1))).cast("double").as("m"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("cid"), expr("transform(pairs, p -> p.m)").as("cid_v"))
    // the per-centroid transform is interpreted HOF but runs over only
    // |cent| rows
    val spherical = means
      .withColumn("_n", expr(
        "sqrt(aggregate(cid_v, CAST(0 AS DOUBLE), (a, x) -> a + x * x))"))
      .select(col("cid"), expr(
        "CASE WHEN _n = 0 THEN cid_v ELSE transform(cid_v, x -> x / _n) END"
      ).as("cid_v"))
    spherical
      .union(cent.join(spherical.select("cid"), Seq("cid"), "left_anti"))
  }

  /** Per-cell population shares of an IVF index — the
    * q_ivf_cell_balance body as a library entry: (cell, n_vectors,
    * n_cells, n_total, share, skew_factor), one broadcast assignment
    * pass + a cell-keyed aggregate.
    */
  def ivfCellShares(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val all = castVec(embeddings, "vid")
    val wAssign = Window.partitionBy("vid")
      .orderBy(col("ccos").desc, col("cid"))
    val assign = all.join(broadcast(centroids.select(col("cid"), col("cid_v"))), lit(true))
      .select(col("vid"), col("cid"), cosRounded("vid", "cid").as("ccos"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
    val cells = assign.groupBy(col("cid").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    cells
      .crossJoin(broadcast(cells.agg(
        count(lit(1)).as("n_cells"), sum(col("n_vectors")).as("n_total"))))
      .select(col("cell"), col("n_vectors"), col("n_cells"), col("n_total"),
        (col("n_vectors").cast("double") / col("n_total").cast("double"))
          .as("share"),
        (col("n_vectors").cast("double") * col("n_cells").cast("double") /
          col("n_total").cast("double")).as("skew_factor"))
      .orderBy("cell")
  }

  /** Cell-balance AUTO-DIAL (r9 verdict #6, the `autoPlanesPerBand`
    * convention pointed at the coarse index): while the fattest cell
    * holds more than `maxShare` of the corpus — the regime where
    * nprobe=1 silently degrades to a near-full scan for queries
    * landing in it — SPLIT that cell: seed centroid k+1 with the fat
    * cell's member FARTHEST from its centroid (deterministic, ties to
    * the lowest vid), then one spherical Lloyd refinement round so the
    * split settles. Up to `maxSplits` rounds; a balanced index
    * (fattest share ≤ maxShare) returns the input centroids UNCHANGED
    * (IndexServeSpec pins it), so the dial is safe to leave on.
    *
    * Driver-side state per round is the ≤|cent|-row share table and
    * the 1-row seed (the kmeans model convention); each round costs
    * one broadcast assignment pass + one Lloyd round — both
    * corpus-linear, no new shuffle class. At 100 TB the dial runs on
    * the same hash-sample the trainer used; the full-corpus encode
    * happens once, after the centroids settle.
    */
  def ivfBalanceCells(embeddings: DataFrame, cent0: DataFrame,
      maxShare: Double = 0.5, maxSplits: Int = 2): DataFrame = {
    val e = castVec(embeddings, "vid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cent = cent0.select(col("cid"), col("cid_v")).localCheckpoint(true)
    var splits = 0
    var balanced = false
    while (!balanced && splits < maxSplits) {
      val wAssign = Window.partitionBy("vid").orderBy(col("ccos").desc, col("cid"))
      val assign = e.join(broadcast(cent), lit(true))
        .select(col("vid"), col("vid_v"), col("cid"),
          cosRounded("vid", "cid").as("ccos"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .localCheckpoint(true) // feeds the share table AND the seed pick
      val shares = assign.groupBy("cid").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      // empty corpus: nothing to balance — the dial's no-op contract,
      // not an empty.minBy crash (exit the loop, not the function, so
      // the persisted frames still release below)
      if (shares.isEmpty) balanced = true
      else {
      val total = math.max(1L, shares.map(_._2).sum).toDouble
      val (fatCid, fatN) = shares.minBy { case (c, n) => (-n, c) }
      if (fatN / total <= maxShare) balanced = true
      else {
        val nextCid = cent.agg(max(col("cid"))).head.getInt(0) + 1
        val seed = assign.filter(col("cid") === fatCid)
          .orderBy(col("ccos").asc, col("vid"))
          .limit(1)
          .select(lit(nextCid).as("cid"), col("vid_v").as("cid_v"))
        val prevCent = cent
        cent = lloydRound(e, cent.unionByName(seed)).localCheckpoint(true)
        prevCent.unpersist(false)
        splits += 1
      }
      }
      // the assign checkpoint is corpus-sized (vid_v vectors); drop it
      // every round — the next iteration rebuilds from `e`, and the
      // returned value is only `cent`
      assign.unpersist(false)
    }
    e.unpersist(false)
    cent
  }

  /** Top principal direction of the embedding cloud: mean-center, then
    * power iteration v ← normalize(Σᵢ yᵢ (yᵢ·v)) — the common-direction
    * estimate that embedding post-processing removes (Mu & Viswanath
    * 2018, "All-but-the-Top": subtracting μ and the top principal
    * component(s) measurably improves similarity tasks), and the first
    * step of a PCA-whitening pipeline. Returns one row per dimension:
    * (dim, mu, pc1).
    *
    * Scale shape: vectors stay as array rows; each iteration is ONE
    * codegen'd pass over the centered corpus — a per-row quantized-fold
    * dot product s_i = y_i·v, then a d-column partial+final aggregate
    * u = Σᵢ yᵢ·s_i whose shuffle is just the d-value partial states —
    * so cost is O(iters · n · d) compute with NO exploded rows, NO
    * joins, and no data shuffle at any corpus size. Only the d-vector
    * iterate (the model, like kmeans centroids) ever reaches the
    * driver. Exactness across engines: every cross-row sum quantizes
    * its terms onto a fixed 1e-12 grid via `floor(x·1e12 + 0.5)` — all
    * IEEE double ops, identical in both engines — and accumulates
    * EXACT LONG sums (order-independent, like the q_quantized_knn
    * integer kernel but for iterative float math; pure codegen, no
    * per-term decimal conversions). The dot products are scaled by 1/n
    * (the direction iterate is normalization-invariant), which keeps
    * every quantized term O(1) at any corpus size — the long
    * accumulators hold n·~1e13, headroom to corpora of ~10⁵ rows per
    * unit magnitude × 1e12 grid; for extreme row counts the grid
    * constant is the knob to coarsen. The driver-side norm walks the
    * same grid, so the iterate — and hence the oracle hash — is
    * bit-stable under any partitioning.
    */
  /** The quantization grid: [[principalDirection]] sums
    * floor(term·GRID + 0.5) longs exactly; 1e12 ≈ 12 decimal digits.
    */
  private val GRID = 1e12

  /** Max literal doubles [[pqSearch]] may inline from a codebook into
    * one expression tree (r14 ADVICE): 8× the default configuration,
    * well under Janino's 64KB generated-method limit.
    */
  private[graft] val PqInlineLiteralBudget: Int = 8192

  def principalDirection(embeddings: DataFrame, dims: Int = 64, iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    principalDirectionArrays(embeddings, dims, iters) match {
      case None => Seq.empty[(Int, Double, Double)].toDF("dim", "mu", "pc1")
      case Some((mu, v)) =>
        (0 until dims).map(d => (d, mu(d), v(d))).toDF("dim", "mu", "pc1")
    }
  }

  /** floor(x·1e12 + 0.5): pure IEEE double ops + exact long sums —
    * identical on executors, in DuckDB, and on the driver.
    */
  private def qLong(x: Double): Long = math.floor(x * GRID + 0.5).toLong
  private def qsum(c: Column) = sum(floor(c * lit(GRID) + lit(0.5))).cast("double") / lit(GRID)

  /** [[principalDirection]]'s fit, as driver-side model arrays (mu, pc1)
    * — None on an empty corpus. Shared with [[abttResiduals]].
    */
  private[graft] def principalDirectionArrays(embeddings: DataFrame, dims: Int,
      iters: Int): Option[(Array[Double], Array[Double])] = {
    val e = castVec(embeddings, "vid")
    // per-dimension mean, one 64-wide partial+final aggregate riding
    // the scan (count shares the row — no separate count() job)
    val muAggs = (0 until dims).map(d =>
      qsum(element_at(col("vid_v"), d + 1)).as(s"sx$d")) :+ count(lit(1)).as("n")
    val muRow = e.agg(muAggs.head, muAggs.tail: _*).head()
    val n = muRow.getLong(dims)
    if (n == 0L) return None
    val mu = (0 until dims).map(d => muRow.getDouble(d) / n.toDouble).toArray
    // centered row vectors, kept as arrays: every iteration is one
    // codegen'd pass — per-row quantized-fold dot product, then a
    // 64-column map-side-combined aggregate. No exploded rows, no
    // joins, no shuffle beyond the 64-value partial states.
    val muLit = array(mu.map(lit(_)): _*)
    val y = e.select(col("vid"),
        zip_with(col("vid_v"), muLit, (a, b) => a - b).as("yv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var v: Array[Double] = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 0 until iters) {
      // s_i = (Σ_d quantized y_id·v_d) / n — the 1/n scaling keeps u
      // O(1) at any corpus size (direction is normalization-invariant)
      val vLit = array(v.map(lit(_)): _*)
      val sCol = (aggregate(
        zip_with(col("yv"), vLit, (a, b) => a * b),
        lit(0L),
        (acc, p) => acc + floor(p * lit(GRID) + lit(0.5)))
        .cast("double") / lit(GRID) / lit(n.toDouble)).as("s")
      val uAggs = (0 until dims).map(d =>
        qsum(element_at(col("yv"), d + 1) * col("s")).as(s"u$d"))
      val uRow = y.select(col("yv"), sCol).agg(uAggs.head, uAggs.tail: _*).head()
      val u = (0 until dims).map(uRow.getDouble).toArray
      // norm on the driver walks the same integer grid as the engines
      val nrm = math.sqrt(u.map(x => qLong(x * x)).sum.toDouble / GRID)
      v = u.map(_ / nrm)
    }
    y.unpersist(false)
    Some((mu, v))
  }

  /** All-but-the-top scoring: per vector, the loading on the top
    * principal direction c_i = y_i·pc1 and the squared norm of the
    * residual after removing it — ABTT's actual post-processing step
    * (the [[principalDirection]] fit, applied). Emits the top-k most
    * common-direction-loaded vectors (|c| desc): at curation time these
    * are the "generic" embeddings — boilerplate-like content whose
    * similarity scores the common direction inflates. One codegen'd
    * pass over the corpus (quantized-fold dot + residual fold per row,
    * both against broadcast literal model arrays), then a k-row
    * TakeOrderedAndProject — no shuffle, no join, any corpus size.
    */
  def abttResiduals(embeddings: DataFrame, dims: Int = 64, iters: Int = 2,
      k: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    principalDirectionArrays(embeddings, dims, iters) match {
      case None => Seq.empty[(Long, Double, Double)].toDF("vec_id", "loading", "resid_sq")
      case Some((mu, v)) =>
        val muLit = array(mu.map(lit(_)): _*)
        val vLit = array(v.map(lit(_)): _*)
        def qfold(arr: Column) = aggregate(arr, lit(0L),
          (acc, p) => acc + floor(p * lit(GRID) + lit(0.5))).cast("double") / lit(GRID)
        val e = castVec(embeddings, "vid")
        e.select(col("vid"),
            zip_with(col("vid_v"), muLit, (a, b) => a - b).as("yv"))
          .withColumn("loading", qfold(zip_with(col("yv"), vLit, (a, b) => a * b)))
          .withColumn("resid_sq", qfold(
            zip_with(col("yv"), vLit, (a, b) => (a - col("loading") * b) * (a - col("loading") * b))))
          .select(col("vid").as("vec_id"), col("loading"), col("resid_sq"))
          .orderBy(abs(col("loading")).desc, col("vec_id"))
          .limit(k)
    }
  }

  /** Mean cosine of every vector to its nearest centroid — the
    * clustering quality metric (higher is tighter).
    */
  def assignmentQuality(embeddings: DataFrame, centroids: DataFrame): Double = {
    val e = castVec(embeddings, "vid")
    e.join(broadcast(centroids), lit(true))
      .select(col("vid"),
        Kernels.arrayCosine(col("vid_v"), col("cid_v")).as("ccos"))
      .groupBy("vid").agg(max(col("ccos")).as("best"))
      .agg(avg(col("best"))).head.getDouble(0)
  }

  // ---------------------------------------------------------------- //
  // Shared trained fixtures for the declared lifecycle queries (r10
  // verdict #2): six queries used to re-train the same IVFADC index
  // per sweep (~19 s, ~14% of the r10 bench). Training is
  // deterministic, so serving every one of them from ONE cached build
  // is invisible to the oracle hash (IndexServeSpec pins trained ==
  // served bit-identity; the hash gate re-proves it per query at 3
  // SFs). The FIRST query to touch a fixture still pays — and thereby
  // prices — the full train+write lifecycle.
  // ---------------------------------------------------------------- //

  /** The m=1 coarse-centroid table (pqTrain(1, 8, 2, 64)) shared by
    * q_ann_ivf_trained / q_ann_ivf_probe2 / q_ivf_cell_balance.
    */
  private def trainedCoarseCentroids(spark: SparkSession, dir: String): DataFrame =
    graft.core.Fixtures.modelFrame(spark, dir, "ivf-cent-1-8-2-64") {
      pqTrain(Tables.embeddings(spark, dir), 1, 8, 2, 64)
        .select(col("cid"), col("cw").as("cid_v"))
    }

  /** The trained PQ codebook (pqTrain(8, 16, 2, 64)) shared by
    * q_pq_ann / q_pq_rerank.
    */
  private def trainedCodebook(spark: SparkSession, dir: String): DataFrame =
    graft.core.Fixtures.modelFrame(spark, dir, "pq-cb-8-16-2-64") {
      pqTrain(Tables.embeddings(spark, dir), 8, 16, 2, 64)
    }

  /** The full-corpus IVFADC artifact (writeIvfPqIndex(8, 8, 16, 64))
    * shared by q_ivfpq / q_ivfpq_served / q_ivfpq_rerank /
    * q_ann_recall / q_ann_recall_sampled.
    */
  private def ivfPqFixture(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.artifactDir(dir, "ivfpq-full-8-8-16-64") { d =>
      writeIvfPqIndex(Tables.embeddings(spark, dir), d, 8, 8, 16, 64)
    }

  /** The maintenance-lifecycle artifact — train on the vec_id < 400
    * prefix, append the tail in three one-shot batches against the
    * frozen model — shared by q_ivf_fragmentation (reads it) and
    * q_ivfpq_compacted (copies it, then compacts the copy: the shared
    * fixture is never mutated).
    */
  private def ivfPqPrefixFixture(spark: SparkSession, dir: String): String =
    graft.core.Fixtures.artifactDir(dir, "ivfpq-prefix400") { d =>
      val emb = Tables.embeddings(spark, dir)
      writeIvfPqIndex(emb.filter(col("vec_id") < 400), d, 8, 8, 16, 64)
      val ix = readIvfPqIndex(spark, d)
      val tail = emb.filter(col("vec_id") >= 400)
      appendToIvfPqIndex(ix, tail.filter(col("vec_id") % 3 === 0), d)
      appendToIvfPqIndex(ix, tail.filter(col("vec_id") % 3 === 1), d)
      appendToIvfPqIndex(ix, tail.filter(col("vec_id") % 3 === 2), d)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_knn_bruteforce" -> { (spark, dir) =>
      knn(Tables.embeddings(spark, dir), col("vec_id") < 5, 10).orderBy("qid", "rank")
    },

    // JL random projection 64 -> 16 dims, then exact top-10 in the
    // projected space: the training-free dimension-reduction ANN rung.
    "q_rp_knn" -> { (spark, dir) =>
      rpKnn(Tables.embeddings(spark, dir), col("vec_id") < 5, 16, 10)
        .orderBy("qid", "rank")
    },

    // The rung's deployment shape: JL top-100 shortlist -> exact
    // cosine re-rank -> top-10 (the pq_rerank two-stage pattern).
    "q_rp_rerank" -> { (spark, dir) =>
      rpRerank(Tables.embeddings(spark, dir), col("vec_id") < 5, 16, 100, 10)
        .orderBy("qid", "rank")
    },

    // Clustering-quality report over the trained coarse index: per
    // cluster size, distinct labels, dominant label, purity.
    "q_cluster_purity" -> { (spark, dir) =>
      clusterPurity(Tables.embeddings(spark, dir), 8).orderBy("cid")
    },

    // kNN label vote: majority label of the 10 exact neighbors vs the
    // query's own label — the embedding-quality eval.
    "q_knn_label_vote" -> { (spark, dir) =>
      knnLabelVote(Tables.embeddings(spark, dir), col("vec_id") < 20, 10)
        .orderBy("qid")
    },

    // Contrastive hard-negative mining: per anchor, the 10 most-similar
    // DIFFERENT-label vectors (the rows an embedding trainer pairs
    // against its positives).
    "q_hard_negatives" -> { (spark, dir) =>
      hardNegatives(Tables.embeddings(spark, dir), col("vec_id") < 5, 10)
        .orderBy("qid", "rank")
    },

    // Retrieval metrics with label relevance: hits/precision/recall@10,
    // first relevant rank, truncated reciprocal rank per query.
    "q_retrieval_eval" -> { (spark, dir) =>
      retrievalEval(Tables.embeddings(spark, dir), col("vec_id") < 20, 10)
        .orderBy("qid")
    },

    // Clamped label propagation over the banded-LSH neighbor graph: 3
    // synchronous rounds from the vec_id%5 seed set.
    "q_label_prop" -> { (spark, dir) =>
      labelPropagation(Tables.embeddings(spark, dir), 4, 4, 64, 3, 5)
        .orderBy("vec_id")
    },

    // The LSH bucket-join pre-flight: candidate-pair cost per
    // planesPerBand setting from ONE sign-word pass — the decision
    // table that makes the band dial occupancy-driven.
    "q_lsh_occupancy" -> { (spark, dir) =>
      lshOccupancy(Tables.embeddings(spark, dir), Seq(2, 4, 6, 8), 4, 64)
    },

    // The 100 TB mode of the same pre-flight: priced on a 25%
    // deterministic hash-sample — the sampling path itself behind the
    // hash gate (the decision rescales by the rate driver-side).
    "q_lsh_occupancy_sampled" -> { (spark, dir) =>
      lshOccupancy(Tables.embeddings(spark, dir), Seq(2, 4, 6, 8), 4, 64,
        samplePct = 25)
    },

    // Similarity-weighted propagation: votes carry quantized cosine
    // mass, and last_changed_round reports per-node convergence.
    "q_label_prop_weighted" -> { (spark, dir) =>
      labelPropagationWeighted(Tables.embeddings(spark, dir), 4, 4, 64, 3, 5)
        .orderBy("vec_id")
    },

    // Contrastive triplet export: per anchor, nearest same-label
    // (positive), nearest different-label (hard negative), margin.
    "q_triplets" -> { (spark, dir) =>
      contrastiveTriplets(Tables.embeddings(spark, dir), col("vec_id") < 20)
        .orderBy("qid")
    },

    "q_ann_ivf" -> { (spark, dir) =>
      ivfSearch(Tables.embeddings(spark, dir), col("vid") >= 490, 8, 5).orderBy("qid", "rank")
    },

    // IVF with TRAINED coarse centroids — pqTrain at m=1 is full-vector
    // integer-grid k-means, and its SQL training chain makes the
    // trained index oracle-checkable (q_ann_ivf keeps the stand-in
    // centroids as the no-training baseline; EvalProbe measures the
    // recall gap between the two).
    "q_ann_ivf_trained" -> { (spark, dir) =>
      ivfSearchCentroids(Tables.embeddings(spark, dir), col("vid") >= 490,
        trainedCoarseCentroids(spark, dir), 5, 1).orderBy("qid", "rank")
    },

    // The trained index's own skew table: per-cell population, share,
    // and skew factor. A lopsided assignment silently turns nprobe=1
    // into a near-full scan for queries landing in the fat cell and
    // starves recall everywhere else — this is the q_skew_report
    // convention pointed at the index, priced BEFORE serving traffic.
    "q_ivf_cell_balance" -> { (spark, dir) =>
      ivfCellShares(Tables.embeddings(spark, dir),
        trainedCoarseCentroids(spark, dir))
    },

    // The nprobe SERVING DIAL as a declared query: same trained index,
    // each query scans its 2 closest cells (recall 0.288→0.470
    // measured) — the probe count is the knob an operator actually
    // turns, so it sits behind the hash gate too.
    "q_ann_ivf_probe2" -> { (spark, dir) =>
      ivfSearchCentroids(Tables.embeddings(spark, dir), col("vid") >= 490,
        trainedCoarseCentroids(spark, dir), 5, 2).orderBy("qid", "rank")
    },

    // Sign-projection LSH ANN — the no-training bucketed path; fully
    // deterministic planes make even this sketch oracle-checkable.
    "q_lsh_search" -> { (spark, dir) =>
      lshSearch(Tables.embeddings(spark, dir), col("vid") >= 490, 8, 64, 5)
        .orderBy("qid", "rank")
    },

    // Multi-probe LSH: own bucket + all Hamming-1 sign flips — the
    // query-side recall repair (candidates ×≤9, corpus side untouched).
    "q_lsh_multiprobe" -> { (spark, dir) =>
      lshMultiProbe(Tables.embeddings(spark, dir), col("vid") >= 490, 8, 64, 5)
        .orderBy("qid", "rank")
    },

    // Int8-quantized top-k: the 4×-compressed index scan with an exact
    // integer dot-product kernel (no float accumulation → oracle-exact
    // even though it's an "approximate" representation).
    "q_quantized_knn" -> { (spark, dir) =>
      quantizedKnn(Tables.embeddings(spark, dir), col("vec_id") < 5, 10, 64)
        .orderBy("qid", "rank")
    },

    // Product-quantization ADC search: 4-byte codes + a broadcast
    // per-query LUT — the 64× scan-compression tier of the ANN ladder
    // (float knn → int8 → PQ), exactly reproducible via the integer
    // grid. Codewords are TRAINED (per-subspace k-means, 2 Lloyd
    // iterations on the integer grid) — the oracle re-derives the
    // training loop itself, so the hash gate covers trainer + encoder
    // + ADC end-to-end.
    "q_pq_ann" -> { (spark, dir) =>
      pqSearch(Tables.embeddings(spark, dir), col("vec_id") < 5, 8, 16, 10, 64,
        Some(trainedCodebook(spark, dir)))
        .orderBy("qid", "rank")
    },

    // PQ with exact re-rank — the deployment-shaped two-stage plan:
    // trained-codebook ADC shortlist (top-100) → exact float cosine
    // re-rank → top-10. The compressed scan pays the corpus-sized
    // cost; the exact pass touches only |queries|×100 vectors.
    "q_pq_rerank" -> { (spark, dir) =>
      pqSearchRerank(Tables.embeddings(spark, dir), col("vec_id") < 5,
        8, 16, 100, 10, 64, Some(trainedCodebook(spark, dir)))
        .orderBy("qid", "rank")
    },

    // IVFADC — the billion-scale composition (FAISS IVF+PQ): coarse
    // cells prune the scan to 1/C, trained residual codes shrink the
    // rest 64×, ADC scores within the query's cell only.
    "q_ivfpq" -> { (spark, dir) =>
      ivfPqSearch(Tables.embeddings(spark, dir), col("vid") < 5, 8, 8, 16, 10, 64)
        .orderBy("qid", "rank")
    },

    // The persisted-index LIFECYCLE under the full hash gate: train →
    // write parquet artifact → read back → serve. The oracle is
    // q_ivfpq's own SQL — served-from-artifact must equal trained-in-
    // query bit-for-bit (IndexServeSpec pins the same equality; this
    // query makes the round-trip itself a declared, hash-checked op).
    "q_ivfpq_served" -> { (spark, dir) =>
      ivfPqSearchServed(readIvfPqIndex(spark, ivfPqFixture(spark, dir)),
        Tables.embeddings(spark, dir), col("vid") < 5, 10, 1)
        .orderBy("qid", "rank")
    },

    // The storage-MAINTENANCE lifecycle under the full hash gate:
    // train on the corpus prefix (vec_id < 400 — a prefix keeps the
    // first-8/first-16 seed rows identical to the full-corpus
    // trainer's), append the tail in three one-shot batches against
    // the frozen model, COMPACT the appends into one sized dir (a
    // version bump — readers switch atomically), serve from the
    // compacted artifact. The oracle trains on the same prefix
    // (trainWhere) and encodes everything: append dirs, the fold, and
    // the version bump must all be invisible to the hash.
    "q_ivfpq_compacted" -> { (spark, dir) =>
      // copy the shared trained+appended fixture, compact the COPY
      // (the fixture is read by q_ivf_fragmentation and must keep its
      // fragmented layout), serve from the compacted copy
      val ixDir = graft.core.Fixtures.copyInto(
        ivfPqPrefixFixture(spark, dir), "ivfpq-compact")
      compactIvfPqIndex(spark, ixDir)
      ivfPqSearchServed(readIvfPqIndex(spark, ixDir),
        Tables.embeddings(spark, dir), col("vid") < 5, 10, 1)
        .orderBy("qid", "rank")
    },

    // DELETION under the full hash gate: tombstone the vec_id % 7 = 3
    // vectors of the trained+appended artifact, then serve — the
    // tombstone write and the reader's anti-join must be invisible to
    // the hash EXCEPT for the deleted vids, which the oracle filters
    // out of the candidate set arithmetically.
    "q_ivfpq_deleted" -> { (spark, dir) =>
      val ixDir = graft.core.Fixtures.copyInto(
        ivfPqPrefixFixture(spark, dir), "ivfpq-delete")
      val emb = Tables.embeddings(spark, dir)
      deleteFromIvfPqIndex(spark, ixDir,
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("vid")))
      ivfPqSearchServed(readIvfPqIndex(spark, ixDir), emb, col("vid") < 5, 10, 1)
        .orderBy("qid", "rank")
    },

    // …and its served form: IVFADC top-100 shortlist → exact cosine
    // re-rank → top-10 (measured 0.22 → 0.66 recall recovery) — the
    // whole serving stack, coarse index to exact pass, under ONE hash.
    // Served from the shared trained fixture (bit-identical to the
    // in-query-trained rerank — IndexServeSpec pins it; the oracle
    // still re-derives the training chain in SQL, so the hash gate
    // covers trainer + encoder + ADC + exact re-rank end-to-end while
    // the sweep pays the trainer once).
    "q_ivfpq_rerank" -> { (spark, dir) =>
      ivfPqRerankServed(readIvfPqIndex(spark, ivfPqFixture(spark, dir)),
        Tables.embeddings(spark, dir), col("vid") < 5, 100, 10, 1)
        .orderBy("qid", "rank")
    },

    // The serving-quality monitor: per-query recall@10 of the IVFADC
    // rung against the exact top-10 — the ground-truth number the
    // nprobe / band-size / cell-balance dials are tuned against,
    // computed on the query sample (the exact side is the only
    // brute-force piece; the approx side is the index's own answer).
    "q_ann_recall" -> { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      annRecall(
        knn(emb, col("vec_id") < 5, 10),
        // the index's own SERVED answer (the monitor's deployment
        // shape) from the shared trained fixture — bit-identical to
        // the in-query-trained result (IndexServeSpec)
        ivfPqSearchServed(readIvfPqIndex(spark, ivfPqFixture(spark, dir)),
          emb, col("vid") < 5, 10, 1),
        10).orderBy("qid")
    },

    // The recall monitor's 100 TB protocol itself declared: the exact
    // side is the only brute-force piece, so the probe runs on a
    // deterministic HASH SAMPLE of a wider query panel (vid < 50,
    // hashBucket < 40 — the pqTrain/lsh_occupancy sampling
    // convention) instead of every query; the approx side is the
    // index's own answer for the same sampled queries.
    "q_ann_recall_sampled" -> { (spark, dir) =>
      import graft.ops.TextOps.hashBucket
      val emb = Tables.embeddings(spark, dir)
      annRecall(
        knn(emb, col("vec_id") < 50 && hashBucket(col("vec_id")) < 40, 10),
        ivfPqSearchServed(readIvfPqIndex(spark, ivfPqFixture(spark, dir)),
          emb, col("vid") < 50 && hashBucket(col("vid")) < 40, 10, 1),
        10).orderBy("qid")
    },

    // The "when to compact" input: per-append row counts of the codes
    // table after a train + three ingest appends — the report's row
    // count is the fragment count compactIvfPqIndexIfFragmented dials
    // on (n_files stays in the library report; file counts are
    // partitioning-dependent and so not oracle-comparable).
    "q_ivf_fragmentation" -> { (spark, dir) =>
      ivfFragmentation(spark, ivfPqPrefixFixture(spark, dir))
        .select("append_id", "n_rows").orderBy("append_id")
    },

    // Embedding post-processing statistics: the mean vector and the
    // top principal direction (2 power-iteration rounds), per ABTT.
    "q_pca_power" -> { (spark, dir) =>
      principalDirection(Tables.embeddings(spark, dir), 64, 2).orderBy("dim")
    },

    // The fit applied: top-10 most common-direction-loaded vectors
    // with their post-removal residual norms (ABTT step 2).
    "q_abtt_residual" -> { (spark, dir) =>
      abttResiduals(Tables.embeddings(spark, dir), 64, 2, 10)
    },
  )

  /** q_lsh_occupancy's oracle at a given sample rate — the Spark
    * side's one-sign-word/shift-and-mask structure mirrored, with the
    * same `occ:`-salted hash-sample filter when samplePct < 100.
    */
  private def lshOccupancySql(samplePct: Int): String = {
    val w32 = lshBucketSql("v", 32, 64, 0)
    val sample =
      if (samplePct >= 100) ""
      else s"""WHERE (${graft.text.Shingles.hash32Sql(
        "'occ:' || CAST(vec_id AS VARCHAR)")}) % 100 < $samplePct"""
    val settingSelects = Seq(2, 4, 6, 8).map { p =>
      val mask = (1L << p) - 1
      s"""SELECT $p AS planes_per_band, bd.b AS band,
         |    (w.w >> (bd.b * $p)) & $mask AS bkt
         |  FROM w CROSS JOIN (VALUES (0),(1),(2),(3)) bd(b)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  $sample),
       |w AS MATERIALIZED (SELECT vec_id, ($w32) AS w FROM e),
       |b AS (
       |  $settingSelects),
       |occ AS (
       |  SELECT planes_per_band, band, bkt, count(*) AS occ
       |  FROM b GROUP BY planes_per_band, band, bkt)
       |SELECT planes_per_band,
       |  count(*) AS n_buckets,
       |  max(occ) AS max_occupancy,
       |  CAST(floor(sum(occ * (occ - 1)) / 2.0) AS BIGINT) AS candidate_pairs
       |FROM occ GROUP BY planes_per_band ORDER BY planes_per_band""".stripMargin
  }

  /** The oracle's bucket expression for vector column `v` (1-based
    * DuckDB list): per plane, a left-folded dot-product chain in the
    * exact element order Spark's `reduce(_ + _)` emits, so the sign
    * decision is bit-identical across engines.
    */
  private[ops] def lshBucketSql(v: String, nPlanes: Int = 8, dims: Int = 64,
      planeOffset: Int = 0): String =
    (0 until nPlanes).map { p =>
      val dot = (0 until dims)
        .map(i => s"$v[${i + 1}]*${lshPlaneWeight(planeOffset + p, i)}")
        .mkString(" + ")
      s"CAST(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END AS BIGINT)"
    }.mkString(" + ")

  /** SQL mirror of [[qsum]]: grid-quantized terms, exact BIGINT sum. */
  private def qsumSql(term: String) =
    s"CAST(sum(CAST(floor(($term) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12"

  /** WITH-clause body that re-derives the WHOLE trained-PQ ADC chain in
    * DuckDB — [[pqTrain]]'s per-subspace grid k-means unrolled
    * iteration by iteration (the pcaCtes/BPE-oracle pattern: the model
    * fit itself sits behind the hash gate), then encode, per-query LUT
    * and the grouped ADC sum. Ends at `sc(qid, vid, sq)`; `e` stays in
    * scope for re-rank stages. Every arithmetic step mirrors the
    * Column tree exactly: grid quantization floor(x·1e6+0.5), exact
    * BIGINT L2 argmin with (d2, cid) tie-break, mean = floor(BIGINT
    * sum → double ÷ count + 0.5), codeword = grid/1e6 double, and the
    * 1e12-grid product sums of the scoring pass.
    */
  /** WITH-clause body ending at `cbf(j, cid, cw)` — the unrolled
    * integer-grid k-means trainer alone ([[pqTrain]]'s SQL twin).
    * Shared by the ADC oracles (via [[pqAdcCtes]]) and by
    * q_ann_ivf_trained, whose coarse centroids are the m=1 "subspace"
    * codebook (sub = dims: one subspace IS full-vector k-means).
    */
  private def pqTrainCtes(m: Int, ksub: Int, sub: Int, iters: Int,
      preCtes: String = "", vecSrc: String = "e",
      trainWhere: String = ""): String = {
    val d2 = s"list_sum([(x.xs[i] - c.cg[i]) * (x.xs[i] - c.cg[i]) FOR i IN range(1, ${sub + 1})])"
    val iterCtes = (1 to iters).map { it =>
      s"""asg$it AS (
         |  SELECT vid, j, cid FROM (
         |    SELECT x.vid, x.j, c.cid,
         |      row_number() OVER (PARTITION BY x.vid, x.j ORDER BY $d2, c.cid) AS rn
         |    FROM xg x JOIN cb${it - 1} c ON x.j = c.j) z WHERE rn = 1),
         |mn$it AS (
         |  SELECT b.j, b.cid, dd.d,
         |    CAST(floor(CAST(sum(x.xs[dd.d]) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cgd
         |  FROM asg$it b JOIN xg x ON b.vid = x.vid AND b.j = x.j
         |  CROSS JOIN (SELECT unnest(range(1, ${sub + 1})) AS d) dd
         |  GROUP BY b.j, b.cid, dd.d),
         |nc$it AS (SELECT j, cid, list(cgd ORDER BY d) AS cg FROM mn$it GROUP BY j, cid),
         |cb$it AS (
         |  SELECT * FROM nc$it
         |  UNION ALL
         |  SELECT p.* FROM cb${it - 1} p WHERE NOT EXISTS (
         |    SELECT 1 FROM nc$it n WHERE n.j = p.j AND n.cid = p.cid))""".stripMargin
    }
    val pre = if (preCtes.isEmpty) "" else preCtes + ",\n"
    // trainWhere (alias `s`) restricts the TRAINER's input — seeds and
    // Lloyd means — while enc/lut still read the full vecSrc: the
    // train-on-base/encode-everything shape q_ivfpq_compacted needs
    val xgWhere = if (trainWhere.isEmpty) "" else s"\n  WHERE $trainWhere"
    val seedsFrom =
      if (trainWhere.isEmpty) s"FROM $vecSrc"
      else s"FROM $vecSrc s WHERE $trainWhere"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |js AS (SELECT unnest(range(0, $m)) AS j),
       |${pre}xg AS (
       |  SELECT s.vec_id AS vid, js.j,
       |    [CAST(floor(s.v[js.j*$sub + i] * 1e6 + 0.5) AS BIGINT) FOR i IN range(1, ${sub + 1})] AS xs
       |  FROM $vecSrc s, js$xgWhere),
       |seeds AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  $seedsFrom ORDER BY vec_id LIMIT $ksub),
       |cb0 AS (SELECT x.j, CAST(s.cid AS INT) AS cid, x.xs AS cg
       |        FROM xg x JOIN seeds s ON x.vid = s.vec_id),
       |${iterCtes.mkString(",\n")},
       |cbf AS (
       |  SELECT j, cid,
       |    [CAST(cg[i] AS DOUBLE) / 1e6 FOR i IN range(1, ${sub + 1})] AS cw
       |  FROM cb$iters)""".stripMargin
  }

  /** The IVFADC WITH-body through `sc` and `qc`: coarse assignment
    * (cc/asgc), residual CTE (rv), the trained-ADC chain over rv with
    * the cell-restricted score join, and the per-query q·c offsets.
    * Shared by the q_ivfpq and q_ivfpq_rerank oracles.
    */
  private def ivfPqCtes(cn: Int, m: Int, ksub: Int, sub: Int, iters: Int,
      trainWhere: String = "",
      queryWhere: String => String = id => s"$id < 5"): String = {
    val ccFrom =
      if (trainWhere.isEmpty) "FROM e" else s"FROM e s WHERE $trainWhere"
    val pre =
      s"""cc AS (
         |  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS ccid
         |  $ccFrom ORDER BY vec_id LIMIT $cn),
         |asgc AS (
         |  SELECT vid, cell, c_v FROM (
         |    SELECT a.vec_id AS vid, c.ccid AS cell, c.v AS c_v,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY ${cosSql("a.v", "c.v")} DESC, c.ccid) AS rn
         |    FROM e a CROSS JOIN cc c) z WHERE rn = 1),
         |rv AS (
         |  SELECT g.vid AS vec_id,
         |    [a.v[i] - g.c_v[i] FOR i IN range(1, ${m * sub + 1})] AS v
         |  FROM asgc g JOIN e a ON a.vec_id = g.vid)""".stripMargin
    val cellJoin =
      """JOIN asgc kv ON kv.vid = kd.vid
        |  JOIN asgc kq ON kq.vid = l.qid AND kq.cell = kv.cell""".stripMargin
    s"""${pqAdcCtes(m, ksub, sub, iters, pre, "rv", cellJoin, trainWhere,
         queryWhere)},
       |qc AS (
       |  SELECT g.vid AS qid, g.cell,
       |    CAST(list_sum([CAST(floor(a.v[i] * g.c_v[i] * 1e12 + 0.5) AS BIGINT)
       |      FOR i IN range(1, ${m * sub + 1})]) AS BIGINT) AS qcq
       |  FROM asgc g JOIN e a ON a.vec_id = g.vid WHERE ${queryWhere("g.vid")})""".stripMargin
  }

  private def pqAdcCtes(m: Int, ksub: Int, sub: Int, iters: Int,
      preCtes: String = "", vecSrc: String = "e", scCellJoin: String = "",
      trainWhere: String = "",
      queryWhere: String => String = id => s"$id < 5"): String = {
    def gsum(term: String) =
      s"list_sum([CAST(floor(($term) * 1e12 + 0.5) AS BIGINT) FOR i IN range(1, ${sub + 1})])"
    s"""${pqTrainCtes(m, ksub, sub, iters, preCtes, vecSrc, trainWhere)},
       |enc AS (
       |  SELECT a.vec_id AS vid, c.j, c.cid,
       |    ${gsum("(a.v[c.j*" + sub + "+i] - c.cw[i]) * (a.v[c.j*" + sub + "+i] - c.cw[i])")} AS d2q
       |  FROM $vecSrc a, cbf c),
       |codes AS (
       |  SELECT vid, j, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid, j ORDER BY d2q, cid) AS rn
       |    FROM enc) t WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS qid, c.j, c.cid,
       |    ${gsum("q.v[c.j*" + sub + "+i] * c.cw[i]")} AS lamq
       |  FROM e q, cbf c WHERE ${queryWhere("q.vec_id")}),
       |sc AS (
       |  SELECT l.qid, kd.vid, sum(l.lamq) AS sq
       |  FROM codes kd JOIN lut l ON kd.j = l.j AND kd.code = l.cid
       |  $scCellJoin
       |  WHERE l.qid <> kd.vid GROUP BY l.qid, kd.vid)""".stripMargin
  }

  /** The shared CTE chain of the q_pca_power fit (through iterate v2). */
  private def pcaCtes: String = {
    def iter(prev: String, k: Int): String =
      s"""s$k AS (
         |  SELECT y.vec_id,
         |    ${qsumSql("y.y * v.vd")} / (SELECT CAST(count(*) AS DOUBLE) FROM e) AS s
         |  FROM y JOIN $prev v ON y.dim = v.dim GROUP BY y.vec_id),
         |u$k AS (
         |  SELECT y.dim, ${qsumSql("y.y * s.s")} AS u
         |  FROM y JOIN s$k s ON y.vec_id = s.vec_id GROUP BY y.dim),
         |v$k AS (
         |  SELECT dim, u / (SELECT sqrt(${qsumSql("u * u")}) FROM u$k) AS vd
         |  FROM u$k)""".stripMargin
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x AS (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x
       |  FROM e CROSS JOIN unnest(generate_series(1, 64)) AS t(i)),
       |mu AS (
       |  SELECT dim, ${qsumSql("x")} / (SELECT CAST(count(*) AS DOUBLE) FROM e) AS mu
       |  FROM x GROUP BY dim),
       |y AS (
       |  SELECT x.vec_id, x.dim, x.x - mu.mu AS y
       |  FROM x JOIN mu ON x.dim = mu.dim),
       |v0 AS (SELECT dim, 1.0 / sqrt(64.0) AS vd FROM mu),
       |${iter("v0", 1)},
       |${iter("v1", 2)}""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_knn_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |    ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // the JL sign matrix is inlined as literals (generated from the
    // same driver-side rpSign), so the projection arithmetic — a fixed
    // left-to-right fold per output coordinate — is engine-identical
    "q_rp_knn" -> {
      val projCols = (0 until 16).map { k =>
        (0 until 64).map { j =>
          val s = if (rpSign(j, k) == 1) "" else "-"
          s"${s}CAST(embedding[${j + 1}] AS DOUBLE)"
        }.mkString(" + ").replace("+ -", "- ")
      }.map(e => s"($e)").mkString(",\n    ")
      s"""WITH proj AS (
         |  SELECT vec_id, [
         |    $projCols] AS rp FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |    ${cosSql("q.rp", "c.rp")} AS cos
         |  FROM proj q JOIN proj c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },
    // same projection chain, shortlist <= 100 in projected space, then
    // the exact-cosine re-rank over the shortlist only
    "q_rp_rerank" -> {
      val projCols = (0 until 16).map { k =>
        (0 until 64).map { j =>
          val s = if (rpSign(j, k) == 1) "" else "-"
          s"${s}CAST(embedding[${j + 1}] AS DOUBLE)"
        }.mkString(" + ").replace("+ -", "- ")
      }.map(e => s"($e)").mkString(",\n    ")
      s"""WITH proj AS (
         |  SELECT vec_id, [
         |    $projCols] AS rp FROM embeddings),
         |pscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |    ${cosSql("q.rp", "c.rp")} AS pcos
         |  FROM proj q JOIN proj c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         |short AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid,
         |      row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, vid) AS rn
         |    FROM pscored) z WHERE rn <= 100),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |rescored AS (
         |  SELECT s.qid, s.vid, ${cosSql("q.v", "c.v")} AS cos
         |  FROM short s
         |  JOIN e q ON s.qid = q.vec_id
         |  JOIN e c ON s.vid = c.vec_id),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM rescored)
         |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },
    // assignment = the q_ann_ivf_trained chain; the report is two
    // aggregates over the C×L cluster-label table with a two-level
    // argmax (max count, ties to smallest label)
    "q_cluster_purity" ->
      s"""WITH ${pqTrainCtes(1, 8, 64, 2)},
         |cent AS (SELECT cid, cw AS cv FROM cbf),
         |assign0 AS (
         |  SELECT a.vec_id AS vid, c.cid,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosSql("a.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM e a CROSS JOIN cent c),
         |assign AS (SELECT vid, cid FROM assign0 WHERE rn = 1),
         |cl AS (
         |  SELECT s.cid, em.label, count(*) AS nl
         |  FROM assign s JOIN embeddings em ON s.vid = em.vec_id
         |  GROUP BY s.cid, em.label),
         |agg AS (
         |  SELECT cid, CAST(sum(nl) AS BIGINT) AS n_members,
         |    CAST(count(*) AS BIGINT) AS n_labels, max(nl) AS mx
         |  FROM cl GROUP BY cid)
         |SELECT a.cid, a.n_members, a.n_labels,
         |  min(c.label) AS top_label,
         |  CAST(a.mx AS DOUBLE) / CAST(a.n_members AS DOUBLE) AS purity
         |FROM agg a JOIN cl c ON a.cid = c.cid AND c.nl = a.mx
         |GROUP BY a.cid, a.n_members, a.n_labels, a.mx
         |ORDER BY a.cid""".stripMargin,
    // knn chain (identical to q_knn_bruteforce) + per-query majority
    // vote with the same two-level argmax
    "q_knn_label_vote" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |    ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored),
         |nn AS (SELECT qid, vid FROM ranked WHERE rank <= 10),
         |votes AS (
         |  SELECT nn.qid, em.label, count(*) AS nv
         |  FROM nn JOIN embeddings em ON nn.vid = em.vec_id
         |  GROUP BY nn.qid, em.label),
         |vmax AS (SELECT qid, max(nv) AS mx FROM votes GROUP BY qid),
         |pred AS (
         |  SELECT v.qid, min(v.label) AS predicted
         |  FROM votes v JOIN vmax m ON v.qid = m.qid AND v.nv = m.mx
         |  GROUP BY v.qid)
         |SELECT p.qid, p.predicted, em.label AS actual,
         |  p.predicted = em.label AS correct
         |FROM pred p JOIN embeddings em ON p.qid = em.vec_id
         |ORDER BY p.qid""".stripMargin,
    // knn chain with the label-mismatch predicate inside the join, so
    // ranks are assigned over different-label candidates only
    "q_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS anchor_label,
         |    c.vec_id AS vid, c.label AS neg_label,
         |    ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c
         |    ON q.vec_id < 5 AND q.vec_id <> c.vec_id AND q.label <> c.label),
         |ranked AS (
         |  SELECT qid, anchor_label, vid, neg_label, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, anchor_label, rank, vid, neg_label, cos
         |FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    // knn chain (identical to q_knn_bruteforce at vec_id < 20) + label
    // join; per-label corpus counts from one aggregate, never a
    // self-join; rr truncated at k (0 when no relevant in top 10)
    "q_retrieval_eval" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |lab_cnt AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY label),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |    ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored),
         |nn AS (SELECT qid, rank, vid FROM ranked WHERE rank <= 10),
         |hits AS (
         |  SELECT nn.qid, ql.label,
         |    sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END) AS hits,
         |    min(CASE WHEN cl.label = ql.label THEN nn.rank END) AS first_rank
         |  FROM nn
         |  JOIN embeddings cl ON nn.vid = cl.vec_id
         |  JOIN embeddings ql ON nn.qid = ql.vec_id
         |  GROUP BY nn.qid, ql.label)
         |SELECT h.qid, h.label,
         |  CAST(lc.n_label - 1 AS BIGINT) AS n_relevant,
         |  CAST(h.hits AS BIGINT) AS hits_at_10,
         |  CAST(coalesce(h.first_rank, 0) AS INT) AS first_rank,
         |  CASE WHEN h.first_rank IS NOT NULL
         |    THEN 1.0 / CAST(h.first_rank AS DOUBLE) ELSE 0.0 END AS rr,
         |  CAST(h.hits AS DOUBLE) / 10.0 AS precision_at_10,
         |  CASE WHEN lc.n_label > 1
         |    THEN CAST(h.hits AS DOUBLE) / CAST(lc.n_label - 1 AS DOUBLE)
         |    ELSE 0.0 END AS recall_at_10
         |FROM hits h JOIN lab_cnt lc ON h.label = lc.label
         |ORDER BY h.qid""".stripMargin,
    // one scored scan, ranked inside (anchor, same-label?) windows;
    // the positive/negative stitch is an inner join, so anchors
    // missing either side drop exactly like the Spark filter
    "q_triplets" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS q_label, c.vec_id AS vid,
         |    (c.label = q.label) AS same,
         |    ${cosSql("q.v", "c.v")} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, q_label, vid, same, cos,
         |    row_number() OVER (PARTITION BY qid, same ORDER BY cos DESC, vid) AS rn
         |  FROM scored),
         |top AS (SELECT * FROM ranked WHERE rn = 1),
         |pos AS (
         |  SELECT qid, q_label, vid AS pos_vid, cos AS pos_cos FROM top WHERE same),
         |neg AS (
         |  SELECT qid, vid AS neg_vid, cos AS neg_cos FROM top WHERE NOT same)
         |SELECT p.qid, p.q_label AS label, p.pos_vid, p.pos_cos,
         |  n.neg_vid, n.neg_cos, p.pos_cos - n.neg_cos AS margin
         |FROM pos p JOIN neg n ON p.qid = n.qid
         |ORDER BY p.qid""".stripMargin,
    // the occupancy pre-flight: ONE 32-plane sign word, each
    // (setting, band) bucket a shift-and-mask bit-range of it —
    // pricing Σ occ·(occ−1)/2 for every planesPerBand at once
    "q_lsh_occupancy" -> lshOccupancySql(100),
    // the sampled mode: the same pricing on the 25% hash-sample
    "q_lsh_occupancy_sampled" -> lshOccupancySql(25),
    // weighted propagation: the same candidate graph scored by
    // clamped micro-quantized cosine; per-round argmax orders by
    // (wsum desc, label); l0..l3 all join the final select so
    // last_changed_round is the unrolled per-node churn
    "q_label_prop_weighted" -> {
      val T = 3
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, $b AS band, ${lshBucketSql("v", 4, 64, b * 4)} AS bkt FROM e"
      }.mkString("\n  UNION ALL ")
      val rounds = (1 to T).map { i =>
        s"""v$i AS (
           |  SELECT g.src, l.plab, sum(g.wq) AS wsum
           |  FROM edges g JOIN l${i - 1} l ON g.dst = l.vec_id
           |  GROUP BY g.src, l.plab HAVING sum(g.wq) > 0),
           |inf$i AS (
           |  SELECT src AS vec_id, plab FROM (
           |    SELECT src, plab,
           |      row_number() OVER (PARTITION BY src ORDER BY wsum DESC, plab) AS rn
           |    FROM v$i) z
           |  WHERE rn = 1 AND src NOT IN (SELECT vec_id FROM seeds)),
           |l$i AS MATERIALIZED (
           |  SELECT * FROM seeds UNION ALL SELECT * FROM inf$i)""".stripMargin
      }.mkString(",\n")
      val lastChanged = (T to 1 by -1).map { r =>
        s"WHEN coalesce(j$r.plab, -999) <> coalesce(j${r - 1}.plab, -999) THEN $r"
      }.mkString("CASE\n    ", "\n    ", "\n    ELSE 0 END")
      val roundJoins = (0 to T).map { r =>
        s"LEFT JOIN l$r j$r ON em.vec_id = j$r.vec_id"
      }.mkString("\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
         |sc AS MATERIALIZED (
         |  SELECT c.v1, c.v2,
         |    CAST(floor(greatest(${cosSql("e1.v", "e2.v")}, 0.0) * 1e6 + 0.5)
         |      AS BIGINT) AS wq
         |  FROM cand c JOIN e e1 ON c.v1 = e1.vec_id
         |               JOIN e e2 ON c.v2 = e2.vec_id),
         |edges AS MATERIALIZED (
         |  SELECT v1 AS src, v2 AS dst, wq FROM sc
         |  UNION ALL SELECT v2 AS src, v1 AS dst, wq FROM sc),
         |seeds AS MATERIALIZED (
         |  SELECT vec_id, label AS plab FROM embeddings WHERE vec_id % 5 = 0),
         |l0 AS (SELECT * FROM seeds),
         |$rounds
         |SELECT em.vec_id, em.label,
         |  CAST(CASE WHEN em.vec_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS is_seed,
         |  coalesce(j$T.plab, -1) AS propagated,
         |  CAST(CASE WHEN coalesce(j$T.plab, -1) = em.label THEN 1 ELSE 0 END AS INT)
         |    AS correct,
         |  CAST($lastChanged AS INT) AS last_changed_round
         |FROM embeddings em
         |$roundJoins
         |ORDER BY em.vec_id""".stripMargin
    },
    // the banded-LSH candidate graph (same bucket expressions as
    // q_embedding_neardup_lsh) + the 3 propagation rounds unrolled;
    // per-round argmax mirrors the min(struct) tie-break (nv desc,
    // label asc)
    "q_label_prop" -> {
      val T = 3
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, $b AS band, ${lshBucketSql("v", 4, 64, b * 4)} AS bkt FROM e"
      }.mkString("\n  UNION ALL ")
      val rounds = (1 to T).map { i =>
        s"""v$i AS (
           |  SELECT g.src, l.plab, count(*) AS nv
           |  FROM edges g JOIN l${i - 1} l ON g.dst = l.vec_id
           |  GROUP BY g.src, l.plab),
           |inf$i AS (
           |  SELECT src AS vec_id, plab FROM (
           |    SELECT src, plab,
           |      row_number() OVER (PARTITION BY src ORDER BY nv DESC, plab) AS rn
           |    FROM v$i) z
           |  WHERE rn = 1 AND src NOT IN (SELECT vec_id FROM seeds)),
           |l$i AS MATERIALIZED (
           |  SELECT * FROM seeds UNION ALL SELECT * FROM inf$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
         |edges AS MATERIALIZED (
         |  SELECT v1 AS src, v2 AS dst FROM cand
         |  UNION ALL SELECT v2 AS src, v1 AS dst FROM cand),
         |seeds AS MATERIALIZED (
         |  SELECT vec_id, label AS plab FROM embeddings WHERE vec_id % 5 = 0),
         |l0 AS (SELECT * FROM seeds),
         |$rounds
         |SELECT em.vec_id, em.label,
         |  CAST(CASE WHEN em.vec_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS is_seed,
         |  coalesce(l.plab, -1) AS propagated,
         |  CAST(CASE WHEN coalesce(l.plab, -1) = em.label THEN 1 ELSE 0 END AS INT)
         |    AS correct
         |FROM embeddings em LEFT JOIN l$T l ON em.vec_id = l.vec_id
         |ORDER BY em.vec_id""".stripMargin
    },
    // the trained index's skew table: same trainer + assignment CTEs,
    // then one cell-keyed aggregate + the share/skew projection
    "q_ivf_cell_balance" ->
      s"""WITH ${pqTrainCtes(1, 8, 64, 2)},
         |cent AS (SELECT cid, cw AS cv FROM cbf),
         |assign0 AS (
         |  SELECT a.vec_id AS vid, c.cid,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosSql("a.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM e a CROSS JOIN cent c),
         |cells AS (
         |  SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM assign0 WHERE rn = 1 GROUP BY cid),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(n_vectors) AS BIGINT) AS n_total
         |  FROM cells)
         |SELECT c.cell, c.n_vectors, t.n_cells, t.n_total,
         |  CAST(c.n_vectors AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share,
         |  CAST(c.n_vectors AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
         |    / CAST(t.n_total AS DOUBLE) AS skew_factor
         |FROM cells c CROSS JOIN tot t
         |ORDER BY c.cell""".stripMargin,
    // the nprobe=2 serving dial: q comes from assign0 rn <= 2 (each
    // query's two closest cells); the corpus side stays rn = 1
    "q_ann_ivf_probe2" ->
      s"""WITH ${pqTrainCtes(1, 8, 64, 2)},
         |cent AS (SELECT cid, cw AS cv FROM cbf),
         |assign0 AS (
         |  SELECT a.vec_id AS vid, a.v, c.cid,
         |    ${cosSql("a.v", "c.cv")} AS ccos,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosSql("a.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM e a CROSS JOIN cent c),
         |assign AS (SELECT vid, v, cid AS cell FROM assign0 WHERE rn = 1),
         |q AS (
         |  SELECT vid AS qid, v AS qv, cid AS cell FROM assign0
         |  WHERE rn <= 2 AND vid >= 490),
         |scored AS (
         |  SELECT q.qid, q.cell, a.vid,
         |    ${cosSql("q.qv", "a.v")} AS cos
         |  FROM q JOIN assign a ON q.cell = a.cell AND q.qid <> a.vid),
         |ranked AS (
         |  SELECT qid, cell, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, cell, rank, vid, cos FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    // trained coarse centroids: the m=1 full-vector grid-k-means chain
    // (pqTrainCtes) supplies cbf; the search mirrors q_ann_ivf
    "q_ann_ivf_trained" ->
      s"""WITH ${pqTrainCtes(1, 8, 64, 2)},
         |cent AS (SELECT cid, cw AS cv FROM cbf),
         |assign0 AS (
         |  SELECT a.vec_id AS vid, a.v, c.cid,
         |    ${cosSql("a.v", "c.cv")} AS ccos,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosSql("a.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM e a CROSS JOIN cent c),
         |assign AS (SELECT vid, v, cid AS cell FROM assign0 WHERE rn = 1),
         |q AS (SELECT vid AS qid, v AS qv, cell FROM assign WHERE vid >= 490),
         |scored AS (
         |  SELECT q.qid, q.cell, a.vid,
         |    ${cosSql("q.qv", "a.v")} AS cos
         |  FROM q JOIN assign a ON q.cell = a.cell AND q.qid <> a.vid),
         |ranked AS (
         |  SELECT qid, cell, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, cell, rank, vid, cos FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |assign0 AS (
         |  SELECT a.vec_id AS vid, a.v, c.cid,
         |    ${cosSql("a.v", "c.cv")} AS ccos,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosSql("a.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM e a CROSS JOIN cent c),
         |assign AS (SELECT vid, v, cid AS cell FROM assign0 WHERE rn = 1),
         |q AS (SELECT vid AS qid, v AS qv, cell FROM assign WHERE vid >= 490),
         |scored AS (
         |  SELECT q.qid, q.cell, a.vid,
         |    ${cosSql("q.qv", "a.v")} AS cos
         |  FROM q JOIN assign a ON q.cell = a.cell AND q.qid <> a.vid),
         |ranked AS (
         |  SELECT qid, cell, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, cell, rank, vid, cos FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_pq_ann" ->
      s"""WITH ${pqAdcCtes(8, 16, 8, 2)}
         |SELECT qid, rank, vid, score FROM (
         |  SELECT qid, vid, CAST(sq AS DOUBLE) / 1e12 AS score,
         |    row_number() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS rank
         |  FROM sc) z WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // IVFADC: coarse-assign (cosine, dense cell ids), PQ-train on the
    // residuals (the same unrolled iteration chain, reading the rv
    // CTE), ADC within the query's cell, score = q·c + ADC
    "q_ivfpq" ->
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2)}
         |SELECT qid, cell, rank, vid, score FROM (
         |  SELECT s.qid, qc.cell, s.vid,
         |    CAST(s.sq + qc.qcq AS DOUBLE) / 1e12 AS score,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY s.sq + qc.qcq DESC, s.vid) AS rank
         |  FROM sc s JOIN qc ON qc.qid = s.qid) z
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // served-from-parquet ≡ trained-in-query, so the oracle is
    // deliberately q_ivfpq's own SQL — the parquet round-trip must be
    // invisible to the hash
    "q_ivfpq_served" ->
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2)}
         |SELECT qid, cell, rank, vid, score FROM (
         |  SELECT s.qid, qc.cell, s.vid,
         |    CAST(s.sq + qc.qcq AS DOUBLE) / 1e12 AS score,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY s.sq + qc.qcq DESC, s.vid) AS rank
         |  FROM sc s JOIN qc ON qc.qid = s.qid) z
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // compacted-artifact serving ≡ base-trained + appended-tail
    // serving: the trainer CTEs restrict to the prefix the Spark side
    // trained on (trainWhere), encode/search still cover everything —
    // the fold and version bump must be invisible to the hash
    "q_ivfpq_compacted" ->
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2, trainWhere = "s.vec_id < 400")}
         |SELECT qid, cell, rank, vid, score FROM (
         |  SELECT s.qid, qc.cell, s.vid,
         |    CAST(s.sq + qc.qcq AS DOUBLE) / 1e12 AS score,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY s.sq + qc.qcq DESC, s.vid) AS rank
         |  FROM sc s JOIN qc ON qc.qid = s.qid) z
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // deleted-artifact serving ≡ the compacted lifecycle's trainer
    // chain (same prefix) with the tombstoned vids filtered out of the
    // candidate set BEFORE ranking — everything else identical, so the
    // tombstone mechanism itself sits behind the hash
    "q_ivfpq_deleted" ->
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2, trainWhere = "s.vec_id < 400")}
         |SELECT qid, cell, rank, vid, score FROM (
         |  SELECT s.qid, qc.cell, s.vid,
         |    CAST(s.sq + qc.qcq AS DOUBLE) / 1e12 AS score,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY s.sq + qc.qcq DESC, s.vid) AS rank
         |  FROM sc s JOIN qc ON qc.qid = s.qid
         |  WHERE s.vid % 7 <> 3) z
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // the served stack under one hash: IVFADC shortlist (top-100 by
    // q·c + ADC) → exact cosine re-rank → top-10
    "q_ivfpq_rerank" ->
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2)},
         |short AS (
         |  SELECT qid, vid FROM (
         |    SELECT s.qid, s.vid,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY s.sq + qc.qcq DESC, s.vid) AS rn
         |    FROM sc s JOIN qc ON qc.qid = s.qid) z WHERE rn <= 100),
         |rr AS (
         |  SELECT s.qid, s.vid, ${cosSql("q.v", "c.v")} AS cos
         |  FROM short s
         |  JOIN e q ON q.vec_id = s.qid
         |  JOIN e c ON c.vec_id = s.vid)
         |SELECT qid, rank, vid, cos FROM (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM rr) z WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // recall@10 of the IVFADC rung vs exact: the approx side is
    // q_ivfpq's own CTE chain, the exact side q_knn_bruteforce's —
    // per query, count how many exact top-10 ids the index returned
    "q_ann_recall" ->
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2)},
         |approx AS (
         |  SELECT qid, vid FROM (
         |    SELECT s.qid, s.vid,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY s.sq + qc.qcq DESC, s.vid) AS rank
         |    FROM sc s JOIN qc ON qc.qid = s.qid) z WHERE rank <= 10),
         |exact AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id) AS rank
         |    FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id) z
         |  WHERE rank <= 10)
         |SELECT ex.qid, CAST(count(ap.vid) AS BIGINT) AS hits,
         |  CAST(count(ap.vid) AS DOUBLE) / 10.0 AS recall
         |FROM exact ex LEFT JOIN approx ap
         |  ON ap.qid = ex.qid AND ap.vid = ex.vid
         |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin,
    // the sampled recall probe: both sides restrict to the same
    // deterministic hash sample of the vid < 50 query panel (the
    // hashBucketSql mirror of the Spark-side hashBucket)
    "q_ann_recall_sampled" -> {
      val sampled = (id: String) =>
        s"$id < 50 AND ${graft.ops.TextOps.hashBucketSql(id)} < 40"
      s"""WITH ${ivfPqCtes(8, 8, 16, 8, 2, queryWhere = sampled)},
         |approx AS (
         |  SELECT qid, vid FROM (
         |    SELECT s.qid, s.vid,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY s.sq + qc.qcq DESC, s.vid) AS rank
         |    FROM sc s JOIN qc ON qc.qid = s.qid) z WHERE rank <= 10),
         |exact AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id) AS rank
         |    FROM e q JOIN e c ON ${sampled("q.vec_id")}
         |      AND q.vec_id <> c.vec_id) z
         |  WHERE rank <= 10)
         |SELECT ex.qid, CAST(count(ap.vid) AS BIGINT) AS hits,
         |  CAST(count(ap.vid) AS DOUBLE) / 10.0 AS recall
         |FROM exact ex LEFT JOIN approx ap
         |  ON ap.qid = ex.qid AND ap.vid = ex.vid
         |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin
    },
    // per-append row counts mirror the exact train/append predicates
    // the Spark side used to build the artifact
    "q_ivf_fragmentation" ->
      s"""SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS append_id, count(*) AS n_rows
         |    FROM embeddings WHERE vec_id < 400
         |  UNION ALL SELECT CAST(1 AS BIGINT), count(*)
         |    FROM embeddings WHERE vec_id >= 400 AND vec_id % 3 = 0
         |  UNION ALL SELECT CAST(2 AS BIGINT), count(*)
         |    FROM embeddings WHERE vec_id >= 400 AND vec_id % 3 = 1
         |  UNION ALL SELECT CAST(3 AS BIGINT), count(*)
         |    FROM embeddings WHERE vec_id >= 400 AND vec_id % 3 = 2
         |) ORDER BY append_id""".stripMargin,
    // shortlist → exact re-rank: the same trained-ADC chain, top-100
    // shortlist per query, then true cosine over only those candidates
    "q_pq_rerank" ->
      s"""WITH ${pqAdcCtes(8, 16, 8, 2)},
         |short AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS rn
         |    FROM sc) z WHERE rn <= 100),
         |rr AS (
         |  SELECT s.qid, s.vid, ${cosSql("q.v", "c.v")} AS cos
         |  FROM short s
         |  JOIN e q ON q.vec_id = s.qid
         |  JOIN e c ON c.vec_id = s.vid)
         |SELECT qid, rank, vid, cos FROM (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM rr) z WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "q_quantized_knn" -> {
      val dims = 64
      val maxabs = (1 to dims).map(i => s"abs(v[$i])").mkString("greatest(", ", ", ")")
      // same fixed operation order as the Column tree: divide, multiply,
      // add 0.5, floor — bit-identical codes on both engines
      val qvList = (1 to dims)
        .map(i => s"CASE WHEN m = 0 THEN 0 ELSE CAST(floor(v[$i]/m*127.0 + 0.5) AS BIGINT) END")
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |withm AS (SELECT vec_id, v, $maxabs AS m FROM e),
         |q8 AS (SELECT vec_id, m/127.0 AS scale, $qvList AS qv FROM withm),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |    CAST(list_sum([q.qv[i]*c.qv[i] FOR i IN range(1, $dims + 1)]) AS BIGINT) AS qdot,
         |    q.scale AS qs, c.scale AS cs
         |  FROM q8 q JOIN q8 c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, vid, qdot, CAST(qdot AS DOUBLE) * qs * cs AS score,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY CAST(qdot AS DOUBLE) * qs * cs DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, rank, vid, qdot, score FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },
    // unrolled power iteration; every cross-row sum quantizes its
    // terms onto the 1e-12 grid — floor(term*1e12 + 0.5), all IEEE
    // double ops identical in both engines — and accumulates EXACT
    // BIGINT sums (order-independent), mirroring the Column tree's
    // long-sum aggregates; dot products scale by 1/n to keep every
    // term O(1) (see principalDirection)
    "q_pca_power" ->
      s"""WITH $pcaCtes
         |SELECT m.dim, m.mu, v2.vd AS pc1
         |FROM mu m JOIN v2 ON m.dim = v2.dim ORDER BY m.dim""".stripMargin,
    // same fit (shared CTE chain), applied: per-vector loading on the
    // direction and the residual after removing it, top-10 by |loading|
    "q_abtt_residual" ->
      s"""WITH $pcaCtes,
         |c AS (
         |  SELECT y.vec_id, ${qsumSql("y.y * v.vd")} AS loading
         |  FROM y JOIN v2 v ON y.dim = v.dim GROUP BY y.vec_id),
         |r AS (
         |  SELECT y.vec_id,
         |    ${qsumSql("(y.y - c.loading * v.vd) * (y.y - c.loading * v.vd)")} AS resid_sq
         |  FROM y JOIN v2 v ON y.dim = v.dim JOIN c ON y.vec_id = c.vec_id
         |  GROUP BY y.vec_id)
         |SELECT c.vec_id, c.loading, r.resid_sq
         |FROM c JOIN r ON c.vec_id = r.vec_id
         |ORDER BY abs(c.loading) DESC, c.vec_id LIMIT 10""".stripMargin,
    // multi-probe: the probe table fans each query to its bucket and
    // the nPlanes single-bit flips; DISTINCT collapses pairs nominated
    // by overlapping probes (cos is probe-independent, so exact)
    "q_lsh_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |signed AS (
         |  SELECT vec_id AS vid, v, ${lshBucketSql("v")} AS bucket FROM e),
         |q0 AS (SELECT vid AS qid, v AS qv, bucket FROM signed WHERE vid >= 490),
         |flips AS (SELECT unnest([-1, 0, 1, 2, 3, 4, 5, 6, 7]) AS p),
         |probes AS (
         |  SELECT q0.qid, q0.qv,
         |    xor(q0.bucket,
         |      CASE WHEN f.p = -1 THEN 0 ELSE (CAST(1 AS BIGINT) << f.p) END)
         |      AS bucket
         |  FROM q0 CROSS JOIN flips f),
         |scored AS (
         |  SELECT DISTINCT p.qid, s.vid,
         |    ${cosSql("p.qv", "s.v")} AS cos
         |  FROM probes p JOIN signed s ON p.bucket = s.bucket AND p.qid <> s.vid),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_lsh_search" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |signed AS (
         |  SELECT vec_id AS vid, v, ${lshBucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vid AS qid, v AS qv, bucket FROM signed WHERE vid >= 490),
         |scored AS (
         |  SELECT q.qid, q.bucket, s.vid,
         |    ${cosSql("q.qv", "s.v")} AS cos
         |  FROM q JOIN signed s ON q.bucket = s.bucket AND q.qid <> s.vid),
         |ranked AS (
         |  SELECT qid, bucket, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, bucket, rank, vid, cos FROM ranked WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
  )
}
