package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels

/** Dev utility: quality metrics for the approximate operators — the
  * companion to Bench's speed numbers. Measures IVF recall against the
  * brute-force baseline and MinHash-LSH candidate recall against exact
  * shingle-Jaccard truth.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.EvalProbe
  */
object EvalProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // instant-preserving TIMESTAMP_NTZ normalization (Tables.normalizeTs)
      // requires a UTC session zone — pin it in EVERY entry point, not
      // just Verify, so a non-UTC host cannot shift event instants
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = graft.core.Tables.documents(spark, dir)
    val emb = graft.core.Tables.embeddings(spark, dir)

    // IVF recall@5: fraction of brute-force top-5 neighbors the
    // cell-restricted search also returns, per query, averaged.
    val queryPredBrute = col("vec_id") >= 490
    val truth = graft.ops.VectorOps.knn(emb, queryPredBrute, 5)
      .select(col("qid"), col("vid"))
    val got = graft.ops.VectorOps.ivfSearch(emb, col("vid") >= 490, 8, 5)
      .select(col("qid"), col("vid"))
    val nTruth = truth.count()
    val hit = truth.join(got, Seq("qid", "vid"), "left_semi").count()
    println(f"[eval] ivf_recall@5           ${hit.toDouble / nTruth}%.3f  ($hit/$nTruth)")

    // trained centroids + multi-probe: the two recall levers
    val trained = graft.ops.VectorOps.kmeans(emb, k = 8, iters = 5)
    for (nprobe <- Seq(1, 2, 4)) {
      val g = graft.ops.VectorOps
        .ivfSearchCentroids(emb, col("vid") >= 490, trained, 5, nprobe)
        .select(col("qid"), col("vid"))
      val h = truth.join(g, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] ivf_kmeans_p$nprobe%d_recall@5 ${h.toDouble / nTruth}%.3f  ($h/$nTruth)")
    }

    // the DECLARED trained-IVF query's trainer (integer-grid L2
    // k-means via pqTrain at m=1) — beside the spherical-kmeans rows
    // above so the two trainers' recall is directly comparable
    val gridCent = graft.ops.VectorOps.pqTrain(emb, 1, 8, 2, 64)
      .select(col("cid"), col("cw").as("cid_v"))
    for (nprobe <- Seq(1, 2)) {
      val g = graft.ops.VectorOps
        .ivfSearchCentroids(emb, col("vid") >= 490, gridCent, 5, nprobe)
        .select(col("qid"), col("vid"))
      val h = truth.join(g, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] ivf_grid_p$nprobe%d_recall@5   ${h.toDouble / nTruth}%.3f  ($h/$nTruth)")
    }

    // sign-projection LSH ANN: the no-training bucketing alternative —
    // fewer planes = bigger buckets = more recall for more scan
    for (planes <- Seq(4, 6, 8)) {
      val g = graft.ops.VectorOps
        .lshSearch(emb, col("vid") >= 490, planes, 64, 5)
        .select(col("qid"), col("vid"))
      val h = truth.join(g, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] lsh_p${planes}%d_recall@5       ${h.toDouble / nTruth}%.3f  ($h/$nTruth)")
    }

    // multi-probe at the TIGHT bucketing (p8): query-side Hamming-1
    // fanout buys recall without touching corpus-side bucket sizes —
    // compare directly against the lsh_p8 row above
    for (planes <- Seq(6, 8)) {
      val g = graft.ops.VectorOps
        .lshMultiProbe(emb, col("vid") >= 490, planes, 64, 5)
        .select(col("qid"), col("vid"))
      val h = truth.join(g, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] lsh_mp${planes}%d_recall@5      ${h.toDouble / nTruth}%.3f  ($h/$nTruth)")
    }

    // LSH candidate recall: fraction of true near-dup pairs (trigram
    // jaccard >= 0.6) surfaced as MinHash band candidates; plus the
    // candidate precision at est_jaccard >= 0.5.
    val trueDups = graft.ops.Dedup.jaccardPairs(docs, 3, 0.6).select("d1", "d2")
    val cand = graft.ops.Dedup.minhashCandidates(docs, 0.0).select("d1", "d2")
    val scored = graft.ops.Dedup.minhashCandidates(docs, 0.5).select("d1", "d2")
    val nTrue = trueDups.count()
    val candHit = trueDups.join(cand, Seq("d1", "d2"), "left_semi").count()
    val scoredN = scored.count()
    val scoredTrue = scored.join(trueDups, Seq("d1", "d2"), "left_semi").count()
    println(f"[eval] lsh_candidate_recall ${candHit.toDouble / nTrue}%.3f  ($candHit/$nTrue)")
    println(f"[eval] lsh_est0.5_precision ${scoredTrue.toDouble / scoredN}%.3f  ($scoredTrue/$scoredN)")

    // banded sign-LSH embedding near-dup vs the exact all-pairs top-20:
    // top-k overlap (worst case on this isotropic data — see PERF.md)
    // and the candidate fraction (compute reduction vs n²/2).
    val exactTop = graft.ops.Dedup.embeddingNearDupExact(emb, 20).select("v1", "v2")
    val bandedTop = graft.ops.Dedup.embeddingNearDupLsh(emb, 4, 4, 64, 20).select("v1", "v2")
    val overlap = exactTop.join(bandedTop, Seq("v1", "v2"), "left_semi").count()
    println(f"[eval] banded_top20_overlap ${overlap / 20.0}%.3f  ($overlap/20)")
    val n = emb.count()
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bands = (0 until 4).map { b =>
      e.select(col("vec_id"), lit(b).as("band"),
        Kernels.lshSignWord(col("v"), 4, 64, b * 4).as("bkt"))
    }.reduce(_ union _)
    val nCand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
    val nPairs = n * (n - 1) / 2
    println(f"[eval] banded_cand_fraction ${nCand.toDouble / nPairs}%.3f  ($nCand/$nPairs)")

    // int8 quantization fidelity: top-10 overlap of the quantized MIPS
    // ranking vs the exact double dot-product ranking (same queries)
    val exactDot = {
      val q = e.select(col("vec_id").as("qid"), col("v").as("qv")).filter(col("qid") >= 490)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dot").desc, col("vid"))
      broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("vid"),
          expr("aggregate(zip_with(qv, v, (a, b) -> a * b), CAST(0 AS DOUBLE), (s, x) -> s + x)").as("dot"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("qid", "vid")
    }
    val quantTop = graft.ops.VectorOps.quantizedKnn(emb, col("vec_id") >= 490, 10)
      .select("qid", "vid")
    val nDot = exactDot.count()
    val qHit = exactDot.join(quantTop, Seq("qid", "vid"), "left_semi").count()
    println(f"[eval] int8_top10_overlap   ${qHit.toDouble / nDot}%.3f  ($qHit/$nDot)")

    // JL random-projection fidelity: top-10 COSINE overlap vs exact
    // cosine, as the projected dimension shrinks — the data-oblivious
    // dial (no training pass; contrast pq_m*/ivf_* above)
    val rpTruth = graft.ops.VectorOps.knn(emb, col("vec_id") >= 490, 10)
      .select("qid", "vid")
    val nRpT = rpTruth.count()
    for (dims <- Seq(32, 16, 8)) {
      val g = graft.ops.VectorOps.rpKnn(emb, col("vec_id") >= 490, dims, 10)
        .select("qid", "vid")
      val h = rpTruth.join(g, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] rp_d$dims%-2d_top10_overlap ${h.toDouble / nRpT}%.3f  ($h/$nRpT)")
    }
    // shortlist -> exact re-rank: the recall the deployment shape recovers
    val rpR = graft.ops.VectorOps.rpRerank(emb, col("vec_id") >= 490, 16, 100, 10)
      .select("qid", "vid")
    val hRp = rpTruth.join(rpR, Seq("qid", "vid"), "left_semi").count()
    println(f"[eval] rp_d16_rerank_top10  ${hRp.toDouble / nRpT}%.3f  ($hRp/$nRpT)")

    // PQ ADC fidelity ladder: top-10 overlap vs the exact dot ranking
    // as the subspace count grows — the compression/recall dial (m
    // subspaces × 16 codewords = m/2 bytes of codes per vector; more,
    // shorter subspaces quantize finer). Same worst-case isotropic
    // caveat as the LSH numbers above.
    val pqTruth = {
      val q = e.select(col("vec_id").as("qid"), col("v").as("qv")).filter(col("qid") < 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("dot").desc, col("vid"))
      broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("vid"),
          expr("aggregate(zip_with(qv, v, (a, b) -> a * b), CAST(0 AS DOUBLE), (s, x) -> s + x)").as("dot"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("qid", "vid")
    }
    val nPqTruth = pqTruth.count()
    for (m <- Seq(4, 8, 16)) {
      val g = graft.ops.VectorOps.pqSearch(emb, col("vec_id") < 5, m, 16, 10, 64)
        .select("qid", "vid")
      val h = pqTruth.join(g, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] pq_m$m%-2d_top10_overlap ${h.toDouble / nPqTruth}%.3f  ($h/$nPqTruth)")
    }

    // trained codebook (per-subspace k-means) and the deployment-shaped
    // shortlist→exact-re-rank: the two rungs that turn raw ADC fidelity
    // into a recall story (re-rank truth is exact COSINE, its ranking
    // metric)
    val trainedCb = graft.ops.VectorOps.pqTrain(emb, 8, 16, 2, 64)
    val pqT = graft.ops.VectorOps
      .pqSearch(emb, col("vec_id") < 5, 8, 16, 10, 64, Some(trainedCb))
      .select("qid", "vid")
    val hT = pqTruth.join(pqT, Seq("qid", "vid"), "left_semi").count()
    println(f"[eval] pq_trained_top10     ${hT.toDouble / nPqTruth}%.3f  ($hT/$nPqTruth)")
    val cosTruth = graft.ops.VectorOps.knn(emb, col("vec_id") < 5, 10).select("qid", "vid")
    val nCos = cosTruth.count()
    val rr = graft.ops.VectorOps
      .pqSearchRerank(emb, col("vec_id") < 5, 8, 16, 100, 10, 64, Some(trainedCb))
      .select("qid", "vid")
    val hR = cosTruth.join(rr, Seq("qid", "vid"), "left_semi").count()
    println(f"[eval] pq_rerank_top10      ${hR.toDouble / nCos}%.3f  ($hR/$nCos)")
    // IVFADC: recall is bounded by the coarse cell hit (the ivf rows
    // above) times residual-ADC fidelity. nprobe measurably grows the
    // CANDIDATE pool (298→628→1227 rows at p1/2/4, sf0.01) but on this
    // isotropic data the top-10 plateaus: score = q·c + ADC decomposes
    // the true dot exactly, so secondary-cell candidates rank below the
    // primary cell's honestly — residual quantization error, not probe
    // count, is the binding constraint (flat trained PQ's 0.34 is the
    // ADC ceiling; the answer is the q_pq_rerank-style exact re-rank)
    for (nprobe <- Seq(1, 2, 4)) {
      val ivfpq = graft.ops.VectorOps
        .ivfPqSearch(emb, col("vid") < 5, 8, 8, 16, 10, 64, nprobe)
        .select("qid", "vid")
      val hI = pqTruth.join(ivfpq, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] ivfpq_p$nprobe%d_top10       ${hI.toDouble / nPqTruth}%.3f  ($hI/$nPqTruth)")
    }
    // …and the recovery: IVFADC shortlist (wider with nprobe) → exact
    // cosine re-rank, vs the exact cosine truth
    for (nprobe <- Seq(1, 4)) {
      val rrI = graft.ops.VectorOps
        .ivfPqRerank(emb, col("vid") < 5, 8, 8, 16, 100, 10, 64, nprobe)
        .select("qid", "vid")
      val hRI = cosTruth.join(rrI, Seq("qid", "vid"), "left_semi").count()
      println(f"[eval] ivfpq_p$nprobe%d_rerank      ${hRI.toDouble / nCos}%.3f  ($hRI/$nCos)")
    }

    // BPE compression ladder: corpus chars per subword as the merge
    // count grows — the quality curve a tokenizer budget is chosen
    // from (k=0 is the character baseline, ratio 1.0 by construction)
    val totalChars = docs
      .agg(sum(length(regexp_replace(col("text"), " ", "")))).head().getLong(0)
    for (k <- Seq(4, 8, 16, 32)) {
      val nSub = graft.ops.Bpe.bpeEncode(docs, k)
        .agg(sum(col("n_subwords"))).head().getLong(0)
      println(f"[eval] bpe_k$k%-3d chars/subword ${totalChars.toDouble / nSub}%.3f  ($nSub subwords)")
    }

    // label-quality evals: how much label signal the embedding space
    // actually carries (honest chance-level numbers expected on the
    // isotropic synthetic vectors — these rows exist so a REAL
    // embedding table reads meaningfully)
    val vote = graft.ops.VectorOps.knnLabelVote(emb, col("vec_id") < 100, 10)
    val nV = vote.count()
    val okV = vote.filter(col("correct")).count()
    println(f"[eval] knn_vote_accuracy    ${okV.toDouble / nV}%.3f  ($okV/$nV)")
    val ret = graft.ops.VectorOps.retrievalEval(emb, col("vec_id") < 100, 10)
      .agg(avg("precision_at_10").as("p"), avg("rr").as("rr")).head()
    println(f"[eval] retrieval_meanP@10   ${ret.getDouble(0)}%.3f")
    println(f"[eval] retrieval_meanRR@10  ${ret.getDouble(1)}%.3f")
    val lp = graft.ops.VectorOps.labelPropagation(emb, 4, 4, 64, 3, 5)
    val nonSeed = lp.filter(col("is_seed") === 0)
    val reached = nonSeed.filter(col("propagated") =!= -1)
    val nReach = reached.count()
    val okLp = reached.filter(col("correct") === 1).count()
    println(f"[eval] labelprop_coverage   ${nReach.toDouble / nonSeed.count()}%.3f")
    println(f"[eval] labelprop_accuracy   ${okLp.toDouble / nReach}%.3f  ($okLp/$nReach)")
    // similarity-weighted variant: same graph, votes carry cosine
    // mass — on isotropic synthetic vectors expect parity (weights
    // are near-uniform); on a real table the gap is the payoff. The
    // convergence readout is the weighted op's extra column.
    val lpw = graft.ops.VectorOps.labelPropagationWeighted(emb, 4, 4, 64, 3, 5)
      .localCheckpoint(true)
    val nonSeedW = lpw.filter(col("is_seed") === 0)
    val reachedW = nonSeedW.filter(col("propagated") =!= -1)
    val nReachW = reachedW.count()
    val okLpW = reachedW.filter(col("correct") === 1).count()
    val lastRound = lpw.agg(org.apache.spark.sql.functions.max(
      col("last_changed_round"))).head.getInt(0)
    println(f"[eval] labelprop_w_coverage ${nReachW.toDouble / nonSeedW.count()}%.3f")
    println(f"[eval] labelprop_w_accuracy ${okLpW.toDouble / nReachW}%.3f  ($okLpW/$nReachW)")
    println(s"[eval] labelprop_w_lastchanged_round $lastRound (of 3)")

    // trained linear probe: held-out accuracy vs the majority-class
    // floor (the number a quality gate must beat to be load-bearing)
    val q = graft.ops.Classify.linearQuality(docs, 3)
      .select(col("is_target"), col("predicted"), col("p_pos"))
      .localCheckpoint(true) // one training run feeds both readouts
    val nQ = q.count()
    val okQ = q.filter(col("is_target") === col("predicted")).count()
    val majority = math.max(q.filter(col("is_target") === 1).count(),
      q.filter(col("is_target") === 0).count())
    println(f"[eval] probe_heldout_acc    ${okQ.toDouble / nQ}%.3f  ($okQ/$nQ)")
    println(f"[eval] probe_majority_floor ${majority.toDouble / nQ}%.3f")
    // separation beats thresholded accuracy as the signal readout on a
    // weak-signal corpus: mean positive-probability by true class
    val sep = q
      .groupBy("is_target").agg(avg("p_pos").as("p")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    println(f"[eval] probe_meanP_target   ${sep.getOrElse(1, Double.NaN)}%.6f")
    println(f"[eval] probe_meanP_rest     ${sep.getOrElse(0, Double.NaN)}%.6f")
    spark.stop()
  }
}
