package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: scale-up experiment. Replicates lineitem/documents N×
  * (with shifted keys so cardinalities scale too) and times the
  * operator families that dominate the suite, to verify near-linear
  * scaling of the chosen plans before they ever see a cluster.
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ScaleProbe [factor] [sections]
  * `sections` = comma-separated subset of
  * relational,dedup,emb,cdc,quota,prefix,pipeline,bpe,classify,pq,
  * audit,trained,layout,maintain,longdoc — default = all EXCEPT
  * `longdoc`: the emb
  * section's exact all-pairs baseline is minutes at 8× (so targeted
  * probes shouldn't have to pay for it), and `longdoc` deliberately
  * runs charEntropy's retired O(len²) baseline for contrast, which
  * alone costs ~10 min at 128× doc length — opt in with
  * `ScaleProbe <factor> longdoc`. `ccgate` (also opt-in) times the
  * driver and distributed paths of `Graph.connectedComponentsStar` on
  * planted graphs around its driver edge budget. `termindex` (opt-in)
  * measures the retained heap of the related-terms driver index
  * against the bytes its build counts.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val sections: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet
      else Set("relational", "dedup", "emb", "cdc", "quota", "prefix",
        "pipeline", "bpe", "classify", "pq", "audit", "trained", "layout",
        "maintain", "emission", "occupancy", "hotuser", "collapse")
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
    // corpus fingerprint first: the driver regenerates testdata between
    // rounds, and scale numbers are only comparable at equal fingerprints
    println(s"[scale] data_fp=${Bench.dataFingerprint(dir)} dir=$dir factor=$factor")

    def replicate(df: DataFrame, keyCols: Seq[String], shift: Long): DataFrame =
      (0 until factor).map { i =>
        keyCols.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * shift)))
      }.reduce(_ unionByName _)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
    }

    if (sections("relational")) {
    val li = replicate(
      spark.read.parquet(s"$dir/lineitem.parquet"),
      Seq("l_orderkey", "l_suppkey"), 10000000L)
    val ord = replicate(
      spark.read.parquet(s"$dir/orders.parquet"),
      Seq("o_orderkey", "o_custkey"), 10000000L)
    li.persist(); ord.persist()
    println(s"[scale] lineitem ${li.count()} rows, orders ${ord.count()} rows (${factor}x)")

    // scan-heavy aggregate (q_pricing_summary shape)
    time("agg_pricing") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")), sum(col("l_extendedprice")), count(lit(1)))
        .count()
    }
    // fact-fact shuffled join + aggregate (q_cust_order_join shape)
    time("join_fact_fact") {
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1))).count()
    }
    // window rank (q_window_topn shape)
    time("window_topn") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
    }
    // global top-k (q_top_orders shape)
    time("topk") {
      ord.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(50).count()
    }
    }

    // dedup/sketch family over a replicated corpus. Each replica gets a
    // Caesar-translated text (all shingles distinct across replicas) so
    // the near-dup graph stays realistic — identical replicas would put
    // every copy of a doc in one LSH bucket and the candidate join
    // would grow quadratically, which no real corpus does.
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // 26 distinct rotations exist; past that, replicas would repeat a
    // translation and collide as exact dups, inflating the pair join
    val dFactor = math.min(factor, 26)
    // lazy: shared by the dedup and cdc sections; built only if needed
    lazy val docs = {
    val d = (0 until dFactor).map { i =>
      val to = alpha.drop(i % 26) + alpha.take(i % 26)
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(col("text"), alpha, to))
    }.reduce(_ unionByName _)
    d.persist()
    println(s"[scale] documents ${d.count()} rows (${dFactor}x)")
    d
    }
    lazy val cand = {
    val c = graft.ops.Dedup.minhashCandidates(docs, 0.5)
      .select(col("d1").as("src"), col("d2").as("dst"))
      .persist()
    println(s"[scale] candidate edges ${c.count()} rows")
    c
    }

    // connectedComponentsStar's driver/distributed gate: each graph is
    // timed (median of three) on the driver path (threshold raised to
    // fit it) and on the distributed contraction (threshold -1); `gate`
    // times the default setting, so at budget + 1 edges it shows what
    // an over-budget graph pays for the discarded collect. `held` =
    // driver heap still held by the driver path's result frame (after a
    // full GC); `peak` = the most heap in use right after any collection
    // that ran during that call (run with a small young generation,
    // e.g. -Xmn64m, so collections are frequent), both above the heap
    // live before it. Shapes: disjoint pairs (most nodes per edge, the
    // near-dup shape) and 16-node paths (more contraction rounds); then
    // the LSH candidate graph of the dedup section.
    if (sections("ccgate")) {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val default = spark.conf.get(key)
      val budget = graft.ops.Graph.driverEdgeBudget(
        graft.core.Gate.broadcastThreshold(spark))
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val rt = Runtime.getRuntime
      def usedAfterGc(): Long = { System.gc(); System.gc(); rt.totalMemory - rt.freeMemory }
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
        .collect { case p: java.lang.management.MemoryPoolMXBean
          if p.getType == java.lang.management.MemoryType.HEAP => p.getName }.toSet
      // (start ms of JVM uptime, heap used after) of every collection;
      // notifications arrive asynchronously, so filter by start time
      val gcs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
        case gc: javax.management.NotificationEmitter =>
          gc.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
            var used = 0L
            info.getMemoryUsageAfterGc.forEach((pool, u) =>
              if (heapPools(pool)) used += u.getUsed)
            gcs.add((info.getStartTime, used))
          }, null, null)
        case _ =>
      }
      // median of three runs
      def timed(setting: String, edges: DataFrame): Double = {
        spark.conf.set(key, setting)
        try Seq.fill(3) {
          val t0 = System.nanoTime()
          graft.ops.Graph.connectedComponentsStar(edges).count()
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1) finally spark.conf.set(key, default)
      }
      // a threshold whose budget fits any graph
      val fit = (1L << 50).toString
      def probe(name: String, edges: DataFrame, n: Long): Unit = {
        // warm both paths
        Seq(fit, "-1").foreach { t =>
          spark.conf.set(key, t)
          try graft.ops.Graph.connectedComponentsStar(edges).count()
          finally spark.conf.set(key, default)
        }
        // let the context cleaner drop the warm-up's checkpoint blocks
        usedAfterGc(); Thread.sleep(1000)
        val base = usedAfterGc()
        val from = uptime.getUptime
        spark.conf.set(key, fit)
        val result = try graft.ops.Graph.connectedComponentsStar(edges)
          finally spark.conf.set(key, default)
        val until = uptime.getUptime
        val held = usedAfterGc() - base
        Thread.sleep(500)
        val during = gcs.toArray(Array.empty[(Long, Long)])
          .collect { case (t, used) if t >= from && t <= until => used - base }
        val peak = (held +: during).max
        result.count()
        println(f"[scale] ccgate $name%-8s edges=$n%8d driver=${timed(fit, edges)}%6.2fs " +
          f"distributed=${timed("-1", edges)}%6.2fs gate=${timed(default, edges)}%6.2fs " +
          f"held=${held / 1048576.0}%6.1fMB peak=${peak / 1048576.0}%6.1fMB")
      }
      println(s"[scale] ccgate budget=$budget edges, $parts partitions")
      for (n <- (Seq(1000L, 10000L, 100000L, 655360L) ++
          Seq(budget.toLong, budget + 1L).filter(_ > 0)).distinct.sorted) {
        probe("pairs", spark.range(0, n, 1, parts)
          .select((col("id") * 2).as("src"), (col("id") * 2 + 1).as("dst"))
          .localCheckpoint(true), n)
        probe("paths16", spark.range(0, n, 1, parts)
          .selectExpr("id + id DIV 15 AS src", "id + id DIV 15 + 1 AS dst")
          .localCheckpoint(true), n)
      }
      probe("lsh_cand", cand, cand.count())
    }

    if (sections("termindex")) {
      // heap probe of the related-terms driver index: retained heap of
      // the held index (after GC, against the heap before the first
      // call), next to the bytes its build counted. On one-row terms
      // the rows cost 12 B each, so the rest is the per-term cost.
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val default = spark.conf.get(key)
      val rt = Runtime.getRuntime
      def usedAfterGc(): Long = { System.gc(); System.gc(); rt.totalMemory - rt.freeMemory }
      def probe(name: String, corpus: DataFrame): Unit = {
        val tf = graft.tfidf.TfIdf.tfidf(corpus).persist()
        val rows = tf.count()
        val (terms, chars) = {
          val r = tf.select(countDistinct("term"), sum(length(col("term")))).head
          (r.getLong(0), r.getLong(1))
        }
        val q = graft.sim.Semantic.queryTermFrom(tf)
        Thread.sleep(500)
        val base = usedAfterGc()
        spark.conf.set(key, (1L << 40).toString)
        try graft.sim.Semantic.relatedTermsFrom(tf, q, 5).collect()
        finally spark.conf.set(key, default)
        val held = usedAfterGc() - base
        val counted = graft.sim.Semantic.heldIndex.map(_._2).getOrElse(-1L)
        // per-term heap beyond the rows' 12 B and the term's characters
        val perTerm = (held - rows * graft.sim.TermIndex.RowBytes - chars) / terms.toDouble
        println(f"[scale] termindex $name%-8s rows=$rows%8d terms=$terms%8d " +
          f"held=${held / 1048576.0}%6.2fMB counted=${counted / 1048576.0}%6.2fMB " +
          f"per_term=$perTerm%6.1fB")
        tf.unpersist(true)
        graft.sim.Semantic.relatedTermsFrom(tf, q, 5) // releases the held index
      }
      // one row per term: 8-character terms, one document each (the
      // per-term figure behind TermIndex.TermBytes)
      probe("oneRow", spark.range(0, 200000L * factor, 1, 4)
        .select(col("id").as("doc_id"), format_string("t%07d", col("id")).as("text")))
    }

    if (sections("emission")) {
      // planted crawl-dup-rate corpus (r12 verdict #1's hostile shape):
      // half the docs collapse onto 64 boilerplate templates, so the
      // drop set is CORPUS-ORDER (~50% of rows) — exactly where the
      // broadcast default must be abandoned. Clusters are the decision
      // table built once outside the timers; the timed contrast is the
      // emission anti-join alone, both strategies, identical output.
      val planted = docs.withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(lit("shared boilerplate template nr "),
            (col("doc_id") % 64).cast("string"),
            lit(" repeated navigation footer body text")))
          .otherwise(col("text")))
        .persist()
      val clusters = graft.ops.Dedup.dupClusters(planted, 0.5)
        .localCheckpoint(true)
      val dropRows = clusters
        .filter(col("doc_id") =!= col("cluster_id")).count()
      println(s"[scale] emission corpus=${planted.count()} drop_set=$dropRows")
      time("emit_drop_broadcast") {
        graft.ops.Dedup.dedupedCorpus(planted, clusters,
          broadcastDrop = true).count()
      }
      time("emit_drop_shuffled") {
        graft.ops.Dedup.dedupedCorpus(planted, clusters,
          broadcastDrop = false).count()
      }
      planted.unpersist()
    }

    if (sections("hotuser")) {
      // planted hot-window skew (r13 verdict #5): one bot user emits
      // 1M events at 1 s spacing — under the plain per-user window
      // that is ONE WindowExec partition (a single task sorts 1M rows
      // however many cores exist); the salted two-phase twin splits it
      // over ~12 day-buckets and merges ~12 session rows back. Both
      // must return the identical session set (SessionWindowSpec pins
      // the full-column equality; the count cross-check here keeps the
      // probe honest).
      val botN = 1000000L * math.min(factor, 4)
      val bot = spark.range(botN).select(
        lit(424242L).as("user_id"), col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
        lit(0.5).as("value"))
      // through Tables.events, never a raw parquet read: the driver's
      // events file has carried two physical ts encodings (NANOS is
      // unreadable without the normalization)
      val hot = graft.core.Tables.events(spark, dir)
        .select("user_id", "event_id", "ts", "value")
        .unionByName(bot).persist()
      println(s"[scale] hot-user corpus ${hot.count()} events " +
        s"(bot=$botN in one user)")
      var plain = 0L; var salted = 0L
      time("sessionize_plain_hot") {
        plain = graft.ops.EventOps.sessionizeNative(hot).count(); plain
      }
      time("sessionize_salted_hot") {
        salted = graft.ops.EventOps.sessionizeSalted(hot).count(); salted
      }
      println(s"[scale] sessions plain=$plain salted=$salted " +
        s"identical=${plain == salted}")
      hot.unpersist()
    }

    if (sections("occupancy")) {
      // planted LSH bucket blowup (r13 verdict #1): 1/8 of the BASE
      // corpus collapses onto 64 templates — identical text means
      // identical signature, so each template is ONE bucket in EVERY
      // band, and the uncapped banded join pays Σ occ·(occ−1)/2 pairs
      // for them (quadratic in template popularity — the shape one
      // boilerplate shingle set at crawl scale produces) while the
      // capped join drops exactly those buckets. Base corpus, not the
      // replicated one: the blowup under measurement is quadratic by
      // construction, so the probe pins the CONTRAST, not a factor.
      val base = spark.read.parquet(s"$dir/documents.parquet")
      val planted = base.withColumn("text",
        when(col("doc_id") % 8 === 0,
          concat(lit("shared boilerplate template nr "),
            ((col("doc_id") / 8).cast("long") % 4).cast("string"),
            lit(" repeated navigation footer body text")))
          .otherwise(col("text")))
        .persist()
      println(s"[scale] occupancy corpus ${planted.count()} rows " +
        "(1/8 collapsed onto 4 templates)")
      val rep = graft.ops.Dedup.minhashCapReport(planted, 8)
        .collect()
      rep.foreach(r => println(s"[scale] cap_report band=${r.getInt(0)} " +
        s"buckets_over=${r.getLong(1)} docs_in_over=${r.getLong(2)} " +
        s"pairs_dropped=${r.getLong(3)}"))
      time("lsh_uncapped_boiler") {
        graft.ops.Dedup.minhashCandidates(planted, 0.5).count()
      }
      time("lsh_capped_boiler") {
        graft.ops.Dedup.minhashCandidates(planted, 0.5,
          maxOccupancy = 8).count()
      }
      // organic recall is untouched: the capped run on the UNPLANTED
      // corpus (no bucket near the cap) must equal the uncapped one
      val clean = spark.read.parquet(s"$dir/documents.parquet")
      val a = graft.ops.Dedup.minhashCandidates(clean, 0.5).count()
      val b = graft.ops.Dedup.minhashCandidates(clean, 0.5,
        maxOccupancy = 8).count()
      println(s"[scale] clean-corpus pairs uncapped=$a capped=$b " +
        s"identical=${a == b}")
      planted.unpersist()
    }

    if (sections("collapse")) {
      // the upstream exact-collapse recipe priced (q_dedup_collapsed's
      // scale claim): on the SAME planted boilerplate corpus the
      // occupancy probe uses, contrast clustering the full corpus
      // (pays the cliques' occ² candidate pairs) against collapse →
      // cluster reps only → expand (the cliques cost one O(n) window
      // + two hash joins). Unlike the cap, the recipe is LOSSLESS —
      // the expanded output is asserted bit-equal to the direct one.
      val base = spark.read.parquet(s"$dir/documents.parquet")
      val planted = base.withColumn("text",
        when(col("doc_id") % 8 === 0,
          concat(lit("shared boilerplate template nr "),
            ((col("doc_id") / 8).cast("long") % 4).cast("string"),
            lit(" repeated navigation footer body text")))
          .otherwise(col("text")))
        .persist()
      println(s"[scale] collapse corpus ${planted.count()} rows " +
        "(1/8 collapsed onto 4 templates)")
      var direct: DataFrame = null
      time("cluster_direct_boiler") {
        direct = graft.ops.Dedup.dupClusters(planted, 0.5)
          .localCheckpoint(true)
        direct.count()
      }
      var expanded: DataFrame = null
      time("cluster_collapsed_boiler") {
        val mapping = graft.ops.Dedup.exactDupMapping(planted)
          .localCheckpoint(true)
        val reps = planted.join(
          mapping.filter(col("doc_id") === col("rep_id")).select("doc_id"),
          Seq("doc_id"))
        expanded = graft.ops.Dedup.expandCollapsedAssignment(mapping,
          graft.ops.Dedup.dupClusters(reps, 0.5)).localCheckpoint(true)
        expanded.count()
      }
      val diff = direct.unionByName(expanded)
        .groupBy("doc_id", "cluster_id", "cluster_size")
        .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).count()
      println(s"[scale] collapse lossless=${diff == 0} (mismatched rows=$diff)")
      planted.unpersist()
    }

    if (sections("dedup")) {
    time("dedup_minhash_lsh") {
      graft.ops.Dedup.minhashCandidates(docs, 0.5).count()
    }
    time("dedup_simhash_fp") {
      graft.ops.Dedup.simhashFingerprints(docs).count()
    }
    time("text_quality") {
      graft.ops.TextOps.qualityScores(docs).count()
    }
    // the full cluster path (LSH candidates → star contraction) and
    // both CC algorithms head-to-head on the same candidate edges
    time("cc_star") {
      graft.ops.Graph.connectedComponentsStar(cand).count()
    }
    // incremental cluster maintenance vs from-scratch: history = all
    // but the last replica, batch = the last replica. The history
    // assignment + signature store are yesterday's artifacts (built
    // OUTSIDE the timer — that's the lifecycle's whole point); the
    // timed incremental path sees only the batch text
    locally {
      val histCut = lit((dFactor - 1) * 10000000L)
      val hist = docs.filter(col("doc_id") < histCut)
      val batch = docs.filter(col("doc_id") >= histCut)
      val sigs = graft.ops.Dedup.minhashSignatures(hist).localCheckpoint(true)
      val oldAssign = graft.ops.Dedup.clustersFromCandidates(
        graft.ops.Dedup.candidatesFromSignatures(sigs, 0.5)).localCheckpoint(true)
      time("clusters_full_rebuild") {
        graft.ops.Dedup.dupClusters(docs, 0.5).count()
      }
      time("clusters_incremental") {
        graft.ops.Dedup.incrementalClusters(oldAssign, sigs, batch, 0.5).count()
      }
    }
    time("cc_propagation") {
      graft.ops.Graph.connectedComponents(cand).count()
    }
    time("repetition_stats") {
      graft.ops.TextOps.repetitionStats(docs, 3).count()
    }
    // graph analytics over the candidate edges (3 PageRank rounds)
    time("pagerank_3it") {
      graft.ops.Graph.pagerank(cand, 3).count()
    }
    // sequence packing: the two-phase prefix sum over the corpus
    time("pack_sequences") {
      graft.ops.TextOps.packSequences(docs, 256).count()
    }
    // content-defined chunk dedup: prefix-sum window + chunk aggregate,
    // same linear family as the aligned chunk pass
    time("cdc_chunks") {
      graft.ops.Dedup.cdcChunkStats(docs, 16).count()
    }
    // int8-quantized MIPS scan (5 queries against the whole corpus)
    time("quantized_knn") {
      graft.ops.VectorOps.quantizedKnn(docs.sparkSession
        .read.parquet(s"$dir/embeddings.parquet"), col("vec_id") < 5, 10).count()
    }
    }

    // round-10: storage-layout stats pass + retrieval-anchor contrast
    if (sections("layout")) {
    // many-file footer-stats pass: listing via the Hadoop FS API,
    // footer reads distributed as a Spark job (r9 verdict #4). File
    // count scales with the factor, so a serial walk would show up as
    // a linear-in-files driver stall; the distributed pass tracks
    // files/parallelism.
    val nFiles = 64 * factor
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-stats-many").toString + "/t"
    graft.ops.EventOps.zKeyed(graft.core.Tables.events(spark, dir))
      .select("x", "y", "z")
      .repartition(nFiles)
      .write.mode("overwrite").parquet(tmp)
    time(s"footer_stats_${nFiles}f") {
      graft.sources.Formats.parquetLongStats(spark, tmp, Seq("x", "y"))
        .size.toLong
    }
    // stop-word-leading phrase: min-df anchor vs the retired
    // first-word anchor on the same corpus — the r9 verdict #2
    // contrast, same output by construction
    time("phrase3_mindf") {
      graft.ops.TextOps.phraseSearchK(docs, 3, 20).count()
    }
    time("phrase3_firstword") {
      graft.ops.TextOps.phraseSearchK(docs, 3, 20,
        anchorIdxOverride = Some(0)).count()
    }
    }

    // round-8 curation-audit family, separately probe-able
    if (sections("audit")) {
    // fuzzy decontamination: the corpus side grows, the probe set does
    // not — cost must scale with the corpus signature pass alone
    time("decontam_fuzzy") {
      val probes = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 50)
      graft.ops.Dedup.fuzzyDecontamination(docs, probes, 4).count()
    }
    // the band-occupancy pre-flight: one signature pass + two keyed
    // aggregates — must track the sketch pass, never the pair count
    time("minhash_occupancy") {
      graft.ops.Dedup.minhashOccupancy(docs).count()
    }
    // perceptual-hash image dedup: constant 16-byte state per image,
    // 8-band bucket join. Replicas get a NON-monotonic alphabet
    // permutation: the shared Caesar-rotated corpus preserves byte
    // ORDER, and dHash is order-based, so rotated replicas collide as
    // near-identical hashes — an artifact no real image corpus has.
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val scrambled = (0 until dFactor).map { i =>
      val to =
        if (i == 0) alpha
        else alpha.zipWithIndex
          .sortBy { case (c, j) => ((j * 7 + i * 11) % 26, c) }
          .map(_._1).mkString
      base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(col("text"), alpha, to))
    }.reduce(_ unionByName _)
    val media = scrambled.select(col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload")).persist()
    media.count()
    // unbounded (lossless) vs df-capped candidates: this corpus's tiny
    // word vocabulary gives the hashes LOW entropy, so heavy byte
    // buckets dominate the unbounded join — exactly the regime the
    // ceiling knob exists for (uniform backgrounds at 100 TB)
    time("phash_pairs") {
      graft.multimodal.Multimodal.phashPairs(media, 7).count()
    }
    time("phash_capped_128") {
      graft.multimodal.Multimodal.phashPairs(media, 7, 128).count()
    }
    media.unpersist(false)
    // Kneser-Ney scoring: token-stream aggregates + type-keyed joins
    time("kn_bigram_nll") {
      graft.ops.TextOps.knBigramNll(docs).count()
    }
    // the per-source dataset card (release report)
    time("dataset_card") {
      graft.ops.Curation.datasetCard(docs).count()
    }
    // char-level entropy: the one O(corpus chars) pass — must stay
    // linear (explode + two aggregates, no joins wider than a source)
    time("char_entropy") {
      graft.ops.TextOps.charEntropy(docs).count()
    }
    // triangle join over the LSH candidate graph: cost is wedge rows
    // Σ deg², bounded by the banding exactly like the pair join
    time("triangles") {
      graft.ops.Graph.triangleStats(
        graft.ops.Dedup.minhashCandidates(docs, 0.5)
          .select(col("d1").as("src"), col("d2").as("dst"))).count()
    }
    }

    if (sections("emb")) {
    // embedding near-dup: exact all-pairs vs banded sign-LSH as the
    // corpus grows. Replicas get a per-replica circular shift of the
    // vector (norm-preserving, angle-scrambling) so copies don't
    // collide as artificial exact duplicates in every LSH bucket.
    val eFactor = math.min(factor, 8)
    val emb = (0 until eFactor).map { i =>
      val k = i % 64
      val rot = if (k == 0) col("embedding")
        else concat(
          slice(col("embedding"), k + 1, 64 - k), slice(col("embedding"), 1, k))
      spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        .withColumn("embedding", rot)
    }.reduce(_ unionByName _)
    emb.persist()
    println(s"[scale] embeddings ${emb.count()} rows (${eFactor}x)")
    time("emb_exact_allpairs") {
      graft.ops.Dedup.embeddingNearDupExact(emb, 20).count()
    }
    time("emb_banded_lsh") {
      graft.ops.Dedup.embeddingNearDupLsh(emb, 4, 4, 64, 20).count()
    }
    // power-iteration principal direction: per-row folds + d-column
    // aggregate — should scale linearly with rows, no shuffle growth
    time("pca_power_2it") {
      graft.ops.VectorOps.principalDirection(emb, 64, 2).count()
    }
    }

    if (sections("trained")) {
    // clipped-LMS probe: 3 training rounds, each ONE broadcast-join
    // pass over the reduced (doc,bucket) frame + a doc-keyed residual
    // join + a 256-key gradient aggregate — the claim is per-round
    // cost linear in corpus tokens with no new shuffle class as docs
    // grow (same family as dsir_weights above)
    time("linear_probe_train3") {
      val (_, w, _) = graft.ops.Classify.linearProbeWeights(docs, 3)
      w.count(_ != 0L).toLong
    }
    // label propagation: edges from the banded-LSH bucket join (the
    // emb_banded_lsh shape), then 3 rounds of edge⋈labels + keyed
    // aggregate — growth should track the candidate-edge count, never
    // corpus², and round cost is independent of round number
    val eFactor = math.min(factor, 8)
    val emb = (0 until eFactor).map { i =>
      val k = i % 64
      val rot = if (k == 0) col("embedding")
        else concat(
          slice(col("embedding"), k + 1, 64 - k), slice(col("embedding"), 1, k))
      spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        .withColumn("embedding", rot)
    }.reduce(_ unionByName _).persist()
    println(s"[scale] embeddings ${emb.count()} rows (${eFactor}x, for label prop)")
    time("label_prop_3r") {
      graft.ops.VectorOps.labelPropagation(emb, 4, 4, 64, 3, 5)
        .filter(col("propagated") =!= -1).count()
    }
    // occupancy-driven dial (r8 verdict #2): the pre-flight prices the
    // bucket join per setting from one sign-word pass, auto-sizing
    // raises planesPerBand until pairs/vector fits budget — rows=
    // reached nodes, directly comparable to the fixed-dial row above
    var pAuto = 0
    time("lsh_preflight") {
      pAuto = graft.ops.VectorOps.autoPlanesPerBand(emb)
      pAuto.toLong
    }
    println(s"[scale] auto planes_per_band=$pAuto (fixed row uses 4)")
    time("label_prop_auto") {
      graft.ops.VectorOps.labelPropagation(emb, pAuto, 4, 64, 3, 5)
        .filter(col("propagated") =!= -1).count()
    }
    // persisted-index lifecycle (r9 verdict #1): pay the trainer ONCE
    // into a parquet artifact, then serving must cost only the probe
    // tail — contrast the serve row against the train+serve row, which
    // retrains per query batch (the self-contained-oracle convention's
    // price that deployment removes)
    val ixDir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-ix").toString + "/ix"
    time("ivfpq_write_index") {
      graft.ops.VectorOps.writeIvfPqIndex(emb, ixDir, 8, 8, 16, 64)
      // versioned artifact: resolve through the reader, not a raw path
      graft.ops.VectorOps.readIvfPqIndex(spark, ixDir).codes.count()
    }
    val ix = graft.ops.VectorOps.readIvfPqIndex(spark, ixDir)
    time("ivfpq_serve_rerank") {
      graft.ops.VectorOps.ivfPqRerankServed(ix, emb, col("vid") < 5, 100, 10, 1)
        .count()
    }
    time("ivfpq_train_rerank") {
      graft.ops.VectorOps.ivfPqRerank(emb, col("vid") < 5, 8, 8, 16, 100, 10, 64, 1)
        .count()
    }
    // index maintenance: a FIXED-size batch encodes against the frozen
    // saved model and appends as its own dir — cost must track the
    // batch, never the corpus or index (across factor runs this row
    // stays flat while ivfpq_write_index grows with eFactor; the
    // history codes are never re-read)
    val appendBatch = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + lit(990000000L))
    time("ivfpq_append_batch") {
      graft.ops.VectorOps.appendBatchToIvfPqIndex(ix, appendBatch, ixDir, 99,
        writerId = "probe")
      spark.read.parquet(s"$ixDir/v=1/codes/append=99").count()
    }
    // storage maintenance: months of streaming leave one tiny append
    // dir per micro-batch; serve over the fragmented codes table, fold
    // with compactIvfPqIndex (version bump, markers carried), serve
    // again — the file-count and serve-latency contrast is compaction's
    // motivating number at 100 TB
    val nFrag = 32
    (100L until (100L + nFrag)).foreach { i =>
      graft.ops.VectorOps.appendBatchToIvfPqIndex(ix,
        appendBatch.filter(col("vec_id") % nFrag === (i - 100))
          .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)),
        ixDir, i, writerId = "probe")
    }
    def codesFiles(): Long = {
      val ixNow = graft.ops.VectorOps.readIvfPqIndex(spark, ixDir)
      ixNow.codes.inputFiles.length.toLong
    }
    println(s"[scale] codes files before compaction: ${codesFiles()}")
    time("ivfpq_serve_fragmented") {
      graft.ops.VectorOps.ivfPqSearchServed(
        graft.ops.VectorOps.readIvfPqIndex(spark, ixDir),
        emb, col("vid") < 5, 10, 1).count()
    }
    // compactIvfPqIndex is eager (its writes are actions) — don't fold
    // an index re-open + file enumeration into the timed cost
    time("ivfpq_compact") {
      graft.ops.VectorOps.compactIvfPqIndex(spark, ixDir)
      1L
    }
    println(s"[scale] codes files after compaction: ${codesFiles()}")
    time("ivfpq_serve_compacted") {
      graft.ops.VectorOps.ivfPqSearchServed(
        graft.ops.VectorOps.readIvfPqIndex(spark, ixDir),
        emb, col("vid") < 5, 10, 1).count()
    }
    // ONE schedulable maintenance op (r10 verdict #4): re-fragment the
    // index with a few more stream batches, then run the whole chained
    // lifecycle — compact-if-fragmented → balance check (threshold off,
    // its retrain cost is the ivfpq_write_index row) → prune → sampled
    // recall probe — exactly as a deployment cron would. The row's
    // cost = one codes rewrite + one sample×corpus recall probe.
    (200L until 208L).foreach { i =>
      graft.ops.VectorOps.appendBatchToIvfPqIndex(
        graft.ops.VectorOps.readIvfPqIndex(spark, ixDir),
        appendBatch.filter(col("vec_id") % 8 === (i - 200))
          .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)),
        ixDir, i, writerId = "probe")
    }
    time("ivfpq_maintain_op") {
      val rep = graft.ops.VectorOps.maintainIndex(spark, ixDir, emb,
        id => id < 5, maxAppends = 4, maxShare = 1.0,
        keepVersions = 1).collect().head
      println(s"[scale] maintain report: compacted=${rep.getAs[Boolean]("compacted")} " +
        s"appends=${rep.getAs[Long]("n_sealed_appends")} " +
        f"recall=${rep.getAs[Double]("mean_recall")}%.3f")
      1L
    }

    // cell-balance auto-dial (r9 verdict #6) on a DELIBERATELY skewed
    // corpus: 10 spread vectors + a near-parallel mass — one cell
    // swallows ~99%, so nprobe=1 queries landing there scan almost the
    // whole corpus; the dial splits the fat cell and the serve row
    // contrasts before/after on the same fat-cell queries
    val nSkew = 2000 * eFactor
    val skew = spark.range(nSkew).selectExpr("id AS vec_id",
      """transform(sequence(0, 63), d -> CASE
        |  WHEN id < 10 THEN CAST(sin(id * 13 + d) AS DOUBLE)
        |  ELSE CAST(1.0 + (id % 1000) * 1e-3 *
        |    (CASE WHEN d = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |END)""".stripMargin + " AS embedding").persist()
    skew.count()
    val centS = graft.ops.VectorOps.pqTrain(skew, 1, 8, 2, 64)
      .select(col("cid"), col("cw").as("cid_v")).localCheckpoint(true)
    def fattest(c: org.apache.spark.sql.DataFrame): Double =
      graft.ops.VectorOps.ivfCellShares(skew, c).collect()
        .map(_.getAs[Double]("share")).max
    println(f"[scale] skew fattest share before = ${fattest(centS)}%.3f")
    val fatQ = col("vid") >= 10 && col("vid") < 15 // queries in the fat cell
    time("ivf_serve_fat_cell") {
      graft.ops.VectorOps.ivfSearchCentroids(skew, fatQ, centS, 10, 1).count()
    }
    var bal: org.apache.spark.sql.DataFrame = centS
    time("ivf_balance_dial") {
      bal = graft.ops.VectorOps.ivfBalanceCells(skew, centS, 0.5, 4)
      bal.count()
    }
    println(f"[scale] skew fattest share after  = ${fattest(bal)}%.3f (${bal.count()} cells)")
    time("ivf_serve_balanced") {
      graft.ops.VectorOps.ivfSearchCentroids(skew, fatQ, bal, 10, 1).count()
    }
    skew.unpersist(false)
    emb.unpersist(false)
    }

    // reproducible global shuffle: two-phase distributed rank
    if (sections("dedup")) {
    time("shuffle_rank") {
      graft.ops.TextOps.shuffleRank(docs).count()
    }
    }

    if (sections("cdc")) {
    // CDC family over a replicated event stream: shifted user_ids scale
    // the ENTITY count (the partitioning key), so these measure the
    // claimed "one entity-key exchange" shape, not one giant entity
    val ev = replicate(
      graft.core.Tables.events(spark, dir),
      Seq("user_id", "event_id"), 10000000L)
    ev.persist()
    println(s"[scale] events ${ev.count()} rows (${factor}x)")
    // SCD2: both windows ride one user_id exchange
    time("scd2") {
      graft.ops.EventOps.scd2(ev, "purchase").count()
    }
    // MERGE upsert: min(struct) argmax both sides + co-partitioned
    // full-outer join on the merge key
    time("merge_upsert") {
      graft.ops.EventOps.mergeUpsert(ev, "2024-01-21", "purchase").count()
    }
    // quality-canonical selection off the already-built candidate
    // clusters: one (cluster_id, 2 doubles) shuffle after the left join
    time("keep_best") {
      graft.ops.Dedup.keepBestPerCluster(
        graft.ops.Dedup.clustersFromCandidates(
          cand.select(col("src").as("d1"), col("dst").as("d2"))),
        graft.ops.TextOps.qualityScores(docs)).count()
    }
    // containment: same inverted-index Σdf² bound as Jaccard
    time("containment") {
      graft.ops.Dedup.containmentPairs(docs, 3, 0.8).count()
    }
    }

    if (sections("prefix")) {
    import org.apache.spark.sql.expressions.Window
    // --- q_jaccard_prefix's cost claim: the inverted-index join pays
    // Σ df² over its POSTINGS, so the measurable is (a) how many
    // postings each variant indexes and (b) how the join time moves.
    // Prefix filtering posts |d|−⌈τ|d|⌉+1 rarest shingles per doc —
    // a fixed fraction, so both variants must grow linearly in docs,
    // with the prefix join cheaper by roughly the postings ratio and
    // LOSSLESS (equality is spec- and oracle-pinned, not re-checked
    // here).
    val shAll = graft.text.Shingles.shingles(docs, 3).distinct().persist()
    val fullPostings = shAll.count()
    // how many postings each τ actually indexes (the Σdf² driver):
    // prefix posts |d|−⌈τ|d|⌉+1 per doc ≈ a (1−τ) fraction
    for (t <- Seq(0.5, 0.8)) {
      val wDocP = Window.partitionBy("doc_id")
      val p = shAll
        .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
        .withColumn("nsh", count(lit(1)).over(wDocP))
        .withColumn("rank", row_number().over(wDocP.orderBy(col("df"), col("shingle"))))
        .filter(col("rank") <= col("nsh") - ceil(lit(t) * col("nsh") - lit(1e-9)) + 1)
        .count()
      println(s"[scale] prefix postings t=$t: $p of $fullPostings (${p * 100 / fullPostings}%)")
    }
    time("jaccard_full_t05") {
      graft.ops.Dedup.jaccardPairs(docs, 3, 0.5).count()
    }
    time("jaccard_prefix_t05") {
      graft.ops.Dedup.jaccardPrefixFilter(docs, 3, 0.5).count()
    }
    time("jaccard_full_t08") {
      graft.ops.Dedup.jaccardPairs(docs, 3, 0.8).count()
    }
    time("jaccard_prefix_t08") {
      graft.ops.Dedup.jaccardPrefixFilter(docs, 3, 0.8).count()
    }
    shAll.unpersist()
    // the case prefix filtering exists for: shared BOILERPLATE. Give
    // every doc the same tail (license footer / ToS stop-phrases) and
    // the full join pays df² ≈ |docs|² rows for EACH boilerplate
    // shingle, while the prefix index never posts them (they are the
    // commonest shingles, so they never make a doc's rare prefix).
    // This is the Σdf² blowup the lossy dfCeiling knob also guards —
    // prefix filtering gets the same protection losslessly.
    val boiler = docs.withColumn("text",
      concat(col("text"), lit(" all rights reserved terms of service apply")))
      .persist()
    println(s"[scale] boilerplate corpus ${boiler.count()} rows")
    time("jaccard_full_boiler") {
      graft.ops.Dedup.jaccardPairs(boiler, 3, 0.8).count()
    }
    time("jaccard_prefix_boiler") {
      graft.ops.Dedup.jaccardPrefixFilter(boiler, 3, 0.8).count()
    }
    boiler.unpersist()
    }

    if (sections("pipeline")) {
    // --- the q_pipeline_e2e integration query: gate → decontaminate →
    // sketch-once → cluster → keep-best → shuffle → encode → split.
    // Every stage is individually probed above; this measures the
    // CHAIN — stage composition adds only broadcast id-set joins, so
    // the chain must track corpus size like its slowest stage does,
    // not multiply.
    time("pipeline_e2e") {
      graft.ops.Curation.curatedTrainingSet(docs).count()
    }
    }

    if (sections("quota")) {
    import org.apache.spark.sql.expressions.Window
    // --- q_source_cap's WindowGroupLimit bounded-heap claim. rank<=k
    // under a per-group window plans as WindowGroupLimit: each group
    // pays a k-row heap below the sort instead of a full group sort.
    // If that holds, time must track ROW COUNT alone — growing rows
    // per source N× and growing the source COUNT N× (same total rows)
    // should cost the same. A full per-group sort would make the
    // few-huge-sources shape blow up instead (n log n per group).
    // Synthetic frame: the probe isolates the window shape; quality is
    // a hash so no corpus pass rides the measurement.
    def quotaFrame(nSources: Int, perSource: Long): DataFrame =
      spark.range(nSources * perSource)
        .select(col("id").as("doc_id"),
          (col("id") % nSources).cast("string").as("source"),
          (pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1e6).as("quality"))
    def capCount(d: DataFrame): Long = {
      val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 15)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min(col("quality")), max(col("quality")))
        .count()
    }
    val baseRows = 1000000L
    time("srccap_base") { capCount(quotaFrame(1000, baseRows / 1000)) }
    time("srccap_deep") { // per-source cardinality × factor, sources fixed
      capCount(quotaFrame(1000, baseRows * factor / 1000))
    }
    time("srccap_wide") { // source count × factor, same total rows as deep
      capCount(quotaFrame(1000 * factor, baseRows / 1000))
    }

    // --- q_approx_quantile's GK-sketch claim: percentile_approx holds
    // O(accuracy) state per group where exact percentile buffers the
    // whole group — so as group size grows N×, the sketch pass should
    // stay scan-bound (≈linear) while the exact pass pays the buffer.
    val liq = replicate(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
      Seq("l_orderkey"), 10000000L)
    liq.persist()
    println(s"[scale] lineitem(q) ${liq.count()} rows in 3 groups (${factor}x)")
    time("gk_approx_median") {
      liq.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))).count()
    }
    time("exact_median") {
      liq.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)")).count()
    }
    // the mergeable grid sketch (q_quantile_sketch_merge): per-shard
    // histograms + bucket-keyed merge — a few keyed aggregates, no
    // per-group value buffering, so growth should track the scan
    val liSketch = replicate(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice")),
      Seq("l_orderkey"), 10000000L).persist()
    liSketch.count()
    time("quantile_sketch_merge") {
      graft.ops.Relational.quantileSketchMerge(liSketch).count()
    }
    liSketch.unpersist()
    liq.unpersist()
    }

    if (sections("classify")) {
    // learned selection: one token pass reduced to (doc, bucket)
    // counts + a broadcast O(B)/(B·C) model join — the claim is the
    // same linear-in-corpus family as quality scoring, with no new
    // shuffle class as docs (and with them, classes' token mass) grow
    time("dsir_weights") {
      graft.ops.Classify.dsirWeights(docs).count()
    }
    time("nb_confusion") {
      graft.ops.Classify.nbConfusion(docs).count()
    }
    // the two r7-late text passes: doc-keyed lag window + model joins
    // (bigram) and span-keyed argmin + doc-keyed anti join (intradoc)
    time("bigram_nll") {
      graft.ops.TextOps.bigramNll(docs).count()
    }
    time("intradoc_dedup") {
      graft.ops.Dedup.intraDocDedup(docs, 3).count()
    }
    time("chunk_overlap") {
      graft.ops.TextOps.chunkWithOverlap(docs, 64, 16).count()
    }
    }

    if (sections("pq")) {
    // PQ: the two one-time code-build aggregates + the zero-shuffle
    // ADC scan. Rotated replicas (norm-preserving) grow the corpus
    // without colliding codes; the scan should scale linearly and the
    // LUT build not at all (it reads only the ksub codewords).
    val eFactor = math.min(factor, 8)
    val emb = (0 until eFactor).map { i =>
      val k = i % 64
      val rot = if (k == 0) col("embedding")
        else concat(
          slice(col("embedding"), k + 1, 64 - k), slice(col("embedding"), 1, k))
      spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        .withColumn("embedding", rot)
    }.reduce(_ unionByName _).persist()
    println(s"[scale] embeddings ${emb.count()} rows (${eFactor}x, for pq)")
    time("pq_adc_search") {
      graft.ops.VectorOps.pqSearch(emb, col("vec_id") < 5, 8, 16, 10, 64).count()
    }
    // the r8 trained tier: k-means codebook training (corpus×ksub
    // assignment fanout per iteration — the term that grows) and the
    // full two-stage rerank query on the grown corpus
    time("pq_train") {
      graft.ops.VectorOps.pqTrain(emb, 8, 16, 2, 64).count()
    }
    // training on a 25% deterministic hash-sample — the 100 TB mode:
    // assignment fanout shrinks 4×, the full corpus is still encoded
    time("pq_train_sample25") {
      graft.ops.VectorOps.pqTrain(emb, 8, 16, 2, 64, samplePct = 25).count()
    }
    time("pq_rerank") {
      graft.ops.VectorOps.pqSearchRerank(emb, col("vec_id") < 5, 8, 16, 100, 10, 64,
        Some(graft.ops.VectorOps.pqTrain(emb, 8, 16, 2, 64))).count()
    }
    emb.unpersist()
    }

    if (sections("bpe")) {
    // --- q_bpe_merges' cost claim: training is VOCAB-bound, not
    // corpus-bound — after the one corpus scan that builds word
    // frequencies, all k merge rounds run over the distinct-word
    // table. Same-vocab replication (corpus ×N, vocabulary unchanged)
    // must therefore cost ~the scan growth and nothing more; the
    // rotated-alphabet corpus (vocab ×N too) is the worst case and
    // bounds growth by vocabulary size, never corpus size.
    val base = spark.read.parquet(s"$dir/documents.parquet")
    // untimed warmup: the fold/argmax codegen classes compile once here
    // so the 1× reading isn't JVM warmup wearing a bpe costume
    graft.ops.Bpe.bpeMerges(base, 2).count()
    time("bpe_train_1x") { graft.ops.Bpe.bpeMerges(base, 8).count() }
    val sameVocab = (0 until factor).map(i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _).persist()
    println(s"[scale] documents ${sameVocab.count()} rows (${factor}x, same vocab)")
    time("bpe_train_samevocab") { graft.ops.Bpe.bpeMerges(sameVocab, 8).count() }
    time("bpe_train_growvocab") { graft.ops.Bpe.bpeMerges(docs, 8).count() }
    time("bpe_encode_samevocab") { graft.ops.Bpe.bpeEncode(sameVocab, 8).count() }
    // full recount vs incremental delta maintenance at a deeper merge
    // budget — the shuffled bytes per round are the difference (the
    // per-round vocab scan is shared); the gap widens with k
    time("bpe_full_k32") { graft.ops.Bpe.train(base, 32)._1.size.toLong }
    time("bpe_incr_k32") { graft.ops.Bpe.trainIncremental(base, 32).size.toLong }
    // the incremental trainer's win regime: a LEXICON-scale vocabulary
    // (1M distinct 8-char words), where the full recount explodes ~7M
    // adjacency rows into the shuffle every round while the delta
    // touches only words containing the merged pair
    val bigVocab = spark.range(200000).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 5).map(j =>
          substring(md5(concat(col("id"), lit(j))), 1, 8)): _*).as("text"))
      .persist()
    println(s"[scale] big-vocab corpus ${bigVocab.count()} docs (1M distinct words)")
    time("bpe_full_bigvocab_k8") { graft.ops.Bpe.train(bigVocab, 8)._1.size.toLong }
    time("bpe_incr_bigvocab_k8") { graft.ops.Bpe.trainIncremental(bigVocab, 8).size.toLong }
    // the postings rung: per-round FOLD work is bound by postings of
    // the merged pair, not the vocab. On the pure hex lexicon every
    // digram's postings list is a sizable fraction of the vocab
    // (16-char alphabet), so the three trainers converge — the honest
    // null case
    time("bpe_post_bigvocab_k8") { graft.ops.Bpe.trainPostings(bigVocab, 8).size.toLong }
    // …the win regime is a hot pair CONCENTRATED in few distinct words
    // (what merges look like at production k, where the argmax pair is
    // long and rare): 1M-word lexicon + one dominant word whose pairs
    // win the first rounds. The postings lookup folds ~1 word per such
    // round; the incremental trainer still folds all 1M.
    val hot = spark.range(40000).select(
      (col("id") + 2000000L).as("doc_id"), lit("qzqzqzqzqzqzqzqz").as("text"))
    val hotCorpus = bigVocab.unionByName(hot).persist()
    println(s"[scale] hot-pair corpus ${hotCorpus.count()} docs")
    time("bpe_incr_hotpair_k4") { graft.ops.Bpe.trainIncremental(hotCorpus, 4).size.toLong }
    time("bpe_post_hotpair_k4") { graft.ops.Bpe.trainPostings(hotCorpus, 4).size.toLong }
    hotCorpus.unpersist()
    bigVocab.unpersist()
    sameVocab.unpersist()
    }

    if (sections("longdoc")) {
    // --- charEntropy's linearization evidence (r8 verdict #1): the
    // old form enumerated characters by substr(i, 1) over the WHOLE
    // text — UTF8String substr is an O(i) byte scan, so per-doc cost
    // is O(len²), invisible on ~300-char synthetic docs and ruinous
    // on real web documents. The shipped form slices into 1 KB chunks
    // first (O(len·chunk)). Same corpus, text repeated r× per doc:
    // doubling r should ~double the chunked time and ~quadruple the
    // quadratic baseline's.
    def quadraticCharEntropy(d: DataFrame): DataFrame = {
      import org.apache.spark.sql.types.DecimalType
      val chars = d.select(col("source"),
          explode(sequence(lit(1), length(col("text")))).as("i"), col("text"))
        .select(col("source"), col("text").substr(col("i"), lit(1)).as("ch"))
        .filter(col("ch") =!= " ")
      val freq = chars.groupBy("source", "ch").agg(count(lit(1)).as("cnt"))
      val tot = freq.groupBy("source").agg(sum(col("cnt")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"))
      freq.join(tot, "source")
        .select(col("source"), col("n_chars"), col("n_distinct_chars"),
          (-(col("cnt").cast("double") / col("n_chars").cast("double")) *
            log2(col("cnt").cast("double") / col("n_chars").cast("double")))
            .cast(DecimalType(28, 6)).as("term"))
        .groupBy("source", "n_chars", "n_distinct_chars")
        .agg(sum(col("term")).cast("double").as("entropy_bits"))
    }
    // limit() collapses to one partition — repartition so the probe
    // measures the operator's parallel shape, not a single task
    def longDocs(r: Int): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet")
        .limit(1000).repartition(32)
        .select(col("doc_id"), col("source"),
          repeat(concat(col("text"), lit(" ")), r).as("text"))
    // untimed warmup compiles both plans once
    graft.ops.TextOps.charEntropy(longDocs(1)).count()
    quadraticCharEntropy(longDocs(1)).count()
    for (r <- Seq(32, 64, 128)) {
      val d = longDocs(r).persist()
      d.count()
      time(f"char_entropy_chunk_${r}%dx") {
        graft.ops.TextOps.charEntropy(d).count()
      }
      time(f"char_entropy_quad_${r}%dx") {
        quadraticCharEntropy(d).count()
      }
      d.unpersist()
    }
    }

    if (sections("maintain")) {
      // streaming cluster maintenance: the small-file-creep cost of a
      // long-running ingest, and what compactSignatureStore buys back.
      // One signature partition (up to one file per shuffle partition)
      // lands per micro-batch; every later fold re-reads the WHOLE
      // store, so the band join pays the file count, not just the row
      // count. Probe: ingest B small batches, then time the SAME
      // next-batch fold over the uncompacted store vs the compacted
      // {base, previous, current} layout. A throwaway fold on a third
      // state copy runs first so JIT/codegen warmness doesn't
      // masquerade as the compaction win (residual run-order warming
      // still mildly favors the later, compacted measurement — noted
      // when reading the contrast); the assignment-equality line is
      // the correctness evidence.
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).persist()
      val nb = math.max(12, factor * 2)
      val root = java.nio.file.Files.createTempDirectory("maintain-probe").toString
      val stateA = s"$root/a"; val stateW = s"$root/w"; val stateB = s"$root/b"
      val probe = docs.filter(col("doc_id") % (nb + 1) === nb).persist()
      println(s"[scale] maintain: ${docs.count()} docs, $nb ingest batches, " +
        s"probe batch ${probe.count()} docs")
      for (b <- 0 until nb)
        graft.ops.Dedup.clustersIngestBatch(
          docs.filter(col("doc_id") % (nb + 1) === b), b, stateA)
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      def copyState(dst: String): Unit =
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(stateA), fs,
          new org.apache.hadoop.fs.Path(dst), false, conf)
      def sigFiles(state: String): Long = {
        val it = fs.listFiles(
          new org.apache.hadoop.fs.Path(s"$state/sigs"), true)
        var n = 0L
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
      copyState(stateW); copyState(stateB)
      graft.ops.Dedup.clustersIngestBatch(probe, nb, stateW) // warm-up
      time(s"fold_${nb}_partitions") {
        graft.ops.Dedup.clustersIngestBatch(probe, nb, stateA)
        spark.read.parquet(s"$stateA/assign/ingest_batch=$nb").count()
      }
      val filesBefore = sigFiles(stateB)
      time("compact_store") {
        graft.ops.Dedup.compactSignatureStore(spark, stateB)
        sigFiles(stateB)
      }
      println(s"[scale] maintain: sig files $filesBefore -> ${sigFiles(stateB)} " +
        s"(partitions $nb -> 3)")
      time("fold_compacted") {
        graft.ops.Dedup.clustersIngestBatch(probe, nb, stateB)
        spark.read.parquet(s"$stateB/assign/ingest_batch=$nb").count()
      }
      val aOut = spark.read.parquet(s"$stateA/assign/ingest_batch=$nb")
      val bOut = spark.read.parquet(s"$stateB/assign/ingest_batch=$nb")
      val diff = aOut.exceptAll(bOut).count() + bOut.exceptAll(aOut).count()
      println(s"[scale] maintain: compacted fold assignment identical: " +
        s"${diff == 0} (diff=$diff)")
      // ONE schedulable dedup maintenance op (r11 verdict #6 — the
      // ivfpq_maintain_op twin): a pending delete lands on the creeped
      // stateA copy, then maintainDedupState chains heal → compact
      // (materializing the tombstones) → sampled dup-recall probe.
      // Row cost = heal (O(touched clusters)) + the store rewrite +
      // one panel×store candidate pass.
      graft.ops.Dedup.deleteFromDedupState(spark, stateA,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      time("dedup_maintain_op") {
        val rep = graft.ops.Dedup.maintainDedupState(spark, stateA)
          .collect().head
        println(s"[scale] dedup maintain report: " +
          s"parts=${rep.getAs[Long]("n_sig_partitions_before")}->" +
          s"${rep.getAs[Long]("n_sig_partitions_after")} " +
          s"tombstoned=${rep.getAs[Long]("n_tombstoned_docs")} " +
          f"dup_recall=${rep.getAs[Double]("dup_recall")}%.3f")
        1L
      }
      // count-store fold is O(batch), not O(history) (r11 verdict
      // stretch #8, measured): the store holds COUNT-LEVEL sufficient
      // statistics (O(B·C) rows regardless of corpus), so folding the
      // SAME probe batch into a store seeded over 1× vs 8× the corpus
      // should cost the same — the whole point of maintaining counts
      // instead of re-reading history. Seeding is untimed (it is the
      // one-time backfill); only the per-batch folds are contrasted.
      val docsFull = spark.read.parquet(s"$dir/documents.parquet")
      val nbProbe = docsFull.filter(col("doc_id") % 17 === 0).persist()
      println(s"[scale] count-fold probe batch: ${nbProbe.count()} docs")
      val nb1 = s"$root/nb1"; val nb8 = s"$root/nb8"
      graft.ops.Classify.writeNbCounts(docsFull, nb1)
      graft.ops.Classify.writeNbCounts(
        (0 until 8).map(i => docsFull.withColumn("doc_id",
          col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _), nb8)
      graft.ops.Classify.updateNbCountsBatch(spark, nb1, nbProbe, 0L, "warm")
      time("nb_fold_hist1x") {
        graft.ops.Classify.updateNbCountsBatch(spark, nb1, nbProbe, 1L, "probe")
        1L
      }
      time("nb_fold_hist8x") {
        graft.ops.Classify.updateNbCountsBatch(spark, nb8, nbProbe, 1L, "probe")
        1L
      }
      nbProbe.unpersist()
      // deletion heal is O(touched clusters), not O(corpus): the SAME
      // delete set against a 1x and a 4x state should cost ~the same —
      // only one broadcast-semi assignment scan grows with the corpus,
      // the sub-clustering term is bounded by the touched clusters.
      // Replicas salt EVERY token with the replica id, so shingle
      // vocabularies are replica-disjoint and the dup-cluster structure
      // (and therefore the touched set, drawn from replica 0's ids) is
      // IDENTICAL across multiplicities — replication grows the
      // corpus, never the clusters.
      def saltedCorpus(mult: Int) = (0 until mult).map { i =>
        docsFull.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_$i"))), " ").as("text"))
      }.reduce(_ unionByName _)
      val healDel = docsFull.filter(col("doc_id") % 23 === 3)
        .select("doc_id").persist()
      println(s"[scale] heal probe delete set: ${healDel.count()} docs")
      Seq(1, 4).foreach { mult =>
        val st = s"$root/heal$mult"
        val corpus = saltedCorpus(mult).persist()
        val half = corpus.count() / 2
        graft.ops.Dedup.clustersIngestBatch(
          corpus.filter(col("doc_id") % 2 === 0), 0, st)
        graft.ops.Dedup.clustersIngestBatch(
          corpus.filter(col("doc_id") % 2 === 1), 1, st)
        time(f"dedup_delete_heal_${mult}%dx") {
          graft.ops.Dedup.deleteFromDedupState(spark, st, healDel)
          half // the timed op is the delete+heal; half only types the row
        }
        corpus.unpersist()
      }
      // the same 4x heal THROUGH the mega-cluster fallback (r12 verdict
      // #2): broadcasts off (autoBroadcastJoinThreshold -1) force every
      // gated join onto the shuffled path — the hostile-shape guard must
      // keep the heal O(touched), not O(corpus), costing at most the
      // extra shuffles (the heal's components run distributed too)
      locally {
        val st = s"$root/healsh"
        val corpus = saltedCorpus(4).persist()
        corpus.count()
        graft.ops.Dedup.clustersIngestBatch(
          corpus.filter(col("doc_id") % 2 === 0), 0, st)
        graft.ops.Dedup.clustersIngestBatch(
          corpus.filter(col("doc_id") % 2 === 1), 1, st)
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try time("dedup_delete_heal_4x_shuf") {
          graft.ops.Dedup.deleteFromDedupState(spark, st, healDel)
          1L
        } finally spark.conf.set(key, prev)
        corpus.unpersist()
      }
      healDel.unpersist()
      docs.unpersist(); probe.unpersist()
    }
    spark.stop()
  }
}
