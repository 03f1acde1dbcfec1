package graft

import org.apache.spark.sql.graft.Kernels
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocStream

/** The streaming curation pass must emit exactly what the same
  * transform produces in batch, and the foreachBatch sink must land a
  * readable partitioned table.
  */
class DocStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def batchCurated =
    DocStream.curate(graft.core.Tables.documents(spark, dir))

  test("streaming curate == batch curate (same transform, both engines)") {
    val q = DocStream.curate(DocStream.readDocs(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("curated")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("curated").collect().map(_.toString).sorted
    val batch = batchCurated.collect().map(_.toString).sorted
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("curateWithMetrics reports in/out counts from the data's own job") {
    val (curated, obsIn, obsOut) =
      DocStream.curateWithMetrics(graft.core.Tables.documents(spark, dir))
    val n = curated.count()
    assert(obsIn.get("n_in") == 500L)
    assert(obsOut.get("n_kept") == n)
    assert(obsOut.get("kept_tokens").asInstanceOf[Long] > 0L)
  }

  test("sink is idempotent under batch replay (overwrite-by-batch-dir)") {
    val out = java.nio.file.Files.createTempDirectory("curated-replay").toString
    val b = batchCurated
    // simulate foreachBatch re-executing the same micro-batch id twice
    b.write.mode("overwrite").partitionBy("split").parquet(s"$out/ingest_batch=0")
    b.write.mode("overwrite").partitionBy("split").parquet(s"$out/ingest_batch=0")
    assert(spark.read.parquet(out).count() == b.count())
  }

  test("streaming DSIR scoring == batch scoring == the declared q_dsir_weights") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    // a real deployment reads the fitted model from a table; pin it so
    // the stream doesn't re-fit per micro-batch
    val model = graft.ops.Classify.dsirModel(docs).localCheckpoint(true)
    val q = DocStream.scoreOnIngest(DocStream.readDocs(spark, dir), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_scored")
      .start()
    try q.processAllAvailable() finally q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    val streamed = canon(spark.table("dsir_scored").collect())
    val batchScored = canon(DocStream.scoreOnIngest(docs, model).collect())
    val declared = canon(graft.ops.Classify.dsirWeights(docs)
      .select("doc_id", "source", "n_tokens", "is_target", "weight", "weight_per_token")
      .collect())
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batchScored), "stream != batch for the same transform")
    assert(streamed.sameElements(declared),
      "per-row fold scoring != the declared join-aggregate weights")
  }

  test("streaming quality gate serves the declared q_linear_quality rows") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val model = graft.ops.Classify.linearModel(docs, 3).localCheckpoint(true)
    val q = DocStream.qualityOnIngest(
        DocStream.readDocs(spark, dir).filter(graft.ops.Classify.isTest(col("doc_id"))), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_scored")
      .start()
    try q.processAllAvailable() finally q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getInt(6))).sortBy(_._1)
    // tokenless docs emit null-score rows on the stream but are absent
    // from the batch query (its token stream never sees them)
    val streamed = canon(spark.table("quality_scored")
      .filter(col("n_tokens") > 0).collect())
    val declared = canon(graft.ops.Classify.linearQuality(docs, 3).collect())
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(declared),
      "per-row fold serving != the declared held-out probe rows")
  }

  test("streaming NB classification aggregates to the declared confusion matrix") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val model = graft.ops.Classify.nbModel(docs).localCheckpoint(true)
    val q = DocStream.classifyOnIngest(
        DocStream.readDocs(spark, dir).filter(graft.ops.Classify.isTest(col("doc_id"))), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("nb_scored")
      .start()
    try q.processAllAvailable() finally q.stop()
    def conf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val streamed = conf(spark.table("nb_scored")
      .groupBy("source", "predicted")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs")))
    val declared = conf(graft.ops.Classify.nbConfusion(docs))
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(declared),
      "per-row argmax serving != the declared batch confusion")
  }

  test("streaming tokenization serves the batch-trained merge table bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val merges = graft.ops.Bpe.bpeMerges(docs, 8).collect().map(r =>
      graft.ops.Bpe.Merge(r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val model = graft.ops.Bpe.bpeModel(merges).localCheckpoint(true)
    val q = DocStream.tokenizeOnIngest(DocStream.readDocs(spark, dir), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("bpe_served")
      .start()
    try q.processAllAvailable() finally q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    val streamed = canon(spark.table("bpe_served")
      .select("doc_id", "n_tokens", "n_subwords", "subwords_md5").collect())
    val batch = canon(graft.ops.Bpe.bpeEncodeWith(docs, merges)
      .select("doc_id", "n_tokens", "n_subwords", "subwords_md5").collect())
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch),
      "per-row serving fold != the batch vocab-join encode")
  }

  test("streaming dedup-on-ingest == batch incremental dedup against the same index") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val histSigs = graft.ops.Dedup.minhashSignatures(docs.filter(col("doc_id") < 400))
      .localCheckpoint(true) // a real deployment reads a materialized index
    val out = java.nio.file.Files.createTempDirectory("dedup-ingest-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup-ingest-ckpt").toString
    val q = DocStream.dedupOnIngest(
      DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400),
      histSigs, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Dedup.incrementalCandidates(
        docs.filter(col("doc_id") >= 400), histSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming cluster maintenance: seeded history + streamed batch == from-scratch clustering") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("clusters-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("clusters-ckpt").toString
    // seed: the history corpus IS batch 0
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    val q = DocStream.clustersOnIngest(
      DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400), state, ckpt)
    try q.processAllAvailable() finally q.stop()
    // the stream landed at least one batch above the seed; the LATEST
    // assignment must equal clustering everything from scratch
    val assignAll = spark.read.parquet(s"$state/assign")
      .withColumn("ingest_batch", col("ingest_batch").cast("long"))
    val maxId = assignAll
      .agg(org.apache.spark.sql.functions.max(col("ingest_batch"))).head.getLong(0)
    assert(maxId >= 1L, "the stream landed no batch above the seed")
    val latest = assignAll.filter(col("ingest_batch") === maxId)
      .drop("ingest_batch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.ops.Dedup.dupClusters(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(latest === full && latest.nonEmpty)
  }

  test("cluster maintenance state is replay-idempotent and multi-batch order-correct") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("clusters-replay").toString
    def assignAt(id: Long) =
      spark.read.parquet(s"$state/assign/ingest_batch=$id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // three ingest batches cover the corpus
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 300), 0, state)
    graft.ops.Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 450), 1, state)
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 450), 2, state)
    val full = graft.ops.Dedup.dupClusters(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(assignAt(2) === full && full.nonEmpty)
    // replay the LATEST batch (the only replay foreachBatch can issue):
    // identical state rebuilt from the < 2 partitions
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 450), 2, state)
    assert(assignAt(2) === full)
    // an out-of-order id (stream colliding with seeded state) must fail
    // LOUD instead of silently truncating the assignment
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.clustersIngestBatch(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 450), 1, state)
    }
    // snapshot pruning: only the current and previous assignment
    // versions survive; the signature INDEX keeps every partition
    val assignIds = new java.io.File(s"$state/assign").listFiles()
      .map(_.getName).filter(_.matches("ingest_batch=\\d+")).sorted
    assert(assignIds === Array("ingest_batch=1", "ingest_batch=2"), assignIds.mkString(","))
    val sigIds = new java.io.File(s"$state/sigs").listFiles()
      .map(_.getName).filter(_.matches("ingest_batch=\\d+")).sorted
    assert(sigIds === Array("ingest_batch=0", "ingest_batch=1", "ingest_batch=2"))
  }

  test("streaming deletion interplay (r12 verdict #7): a between-batches delete " +
      "holds through later micro-batches; a crashed (unhealed) delete stops the " +
      "NEXT batch loudly; heal + restart converges to the scrubbed clustering") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, dir).select("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("clusters-del-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("clusters-del-ckpt").toString
    def chunk(lo: Long, hi: Long): Seq[(Long, String)] =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .as[(Long, String)].collect().toSeq
    def served: Set[(Long, Long, Long)] =
      graft.ops.Dedup.readClusterAssignment(spark, state)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def fromScratch(pred: org.apache.spark.sql.Column): Set[(Long, Long, Long)] =
      graft.ops.Dedup.dupClusters(docs.filter(pred), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 300), 0, state)
    val del1 = col("doc_id") % 9 === 2
    locally {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = DocStream.clustersOnIngest(
        mem.toDF().toDF("doc_id", "text"), state, ckpt)
      try {
        mem.addData(chunk(300, 400): _*)
        q.processAllAvailable()
        // takedown BETWEEN micro-batches, stream live: delete + heal
        // run synchronously, later batches filter the deleted docs
        graft.ops.Dedup.deleteFromDedupState(spark, state,
          docs.filter(del1).select("doc_id"))
        mem.addData(chunk(400, 450): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(served === fromScratch(col("doc_id") < 450 && !del1),
      "between-batches delete did not hold through later micro-batches")

    // CRASHED delete (tombstones landed, heal never ran — the window
    // the gate mechanizes): the next micro-batch must stop the stream
    // loudly instead of folding from the stale base
    val del2 = col("doc_id") % 9 === 3
    docs.filter(del2).select("doc_id").distinct()
      .write.parquet(s"$state/tombstones/del=99")
    locally {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val ckpt2 = java.nio.file.Files
        .createTempDirectory("clusters-del-ckpt2").toString
      val q = DocStream.clustersOnIngest(
        mem.toDF().toDF("doc_id", "text"), state, ckpt2, baseBatchId = 10L)
      try {
        mem.addData(chunk(450, 500): _*)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(e.getMessage.contains("healAssignments"), e.getMessage)
      } finally q.stop()
    }
    // heal, restart (failed batch never committed → fresh checkpoint,
    // same base id), converge: scrubbed from-scratch clustering of
    // everything ingested under BOTH takedowns
    graft.ops.Dedup.healAssignments(spark, state)
    locally {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val ckpt3 = java.nio.file.Files
        .createTempDirectory("clusters-del-ckpt3").toString
      val q = DocStream.clustersOnIngest(
        mem.toDF().toDF("doc_id", "text"), state, ckpt3, baseBatchId = 10L)
      try {
        mem.addData(chunk(450, 500): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(served === fromScratch(!del1 && !del2),
      "post-heal restart did not converge to the scrubbed clustering")
  }

  test("cluster maintenance refuses torn prior state: unsealed sigs/assign " +
      "partitions error loudly for a fresh checkpoint, replay of the torn id heals") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("clusters-torn").toString
    val b0 = docs.filter(col("doc_id") < 300)
    val b1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
    val b2 = docs.filter(col("doc_id") >= 450)
    graft.ops.Dedup.clustersIngestBatch(b0, 0, state)
    graft.ops.Dedup.clustersIngestBatch(b1, 1, state)
    def unseal(sub: String, id: Long): Unit =
      assert(new java.io.File(s"$state/$sub/ingest_batch=$id/_SUCCESS").delete())
    // torn sigs write of batch 1 (crash mid-write, marker never
    // committed): a fresh-checkpoint batch 2 must refuse — silently
    // reading the partial partition would shrink the signature index
    unseal("sigs", 1)
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.clustersIngestBatch(b2, 2, state)
    }
    assert(e1.getMessage.contains("unsealed"), e1.getMessage)
    // the SAME-checkpoint replay of the torn id is the healing path:
    // id == max re-reads only < 1 state and rewrites its own dirs
    graft.ops.Dedup.clustersIngestBatch(b1, 1, state)
    // a torn assignment snapshot (crashed replay overwrite of an
    // already-sealed batch) must refuse too
    unseal("assign", 1)
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.clustersIngestBatch(b2, 2, state)
    }
    assert(e2.getMessage.contains("unsealed"), e2.getMessage)
    graft.ops.Dedup.clustersIngestBatch(b1, 1, state)
    // healed state: batch 2 proceeds and matches the from-scratch run
    graft.ops.Dedup.clustersIngestBatch(b2, 2, state)
    val full = graft.ops.Dedup.dupClusters(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = spark.read.parquet(s"$state/assign/ingest_batch=2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === full && full.nonEmpty)
  }

  test("nb_class_sums kernel: per-class sums match the interpreted fold, with " +
      "null/out-of-range slots contributing zero") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // C=3, B=4: lam slot (bucket*3 + class) = 10*(bucket+1) + class
    val lam = (0 until 12).map(s => 10L * (s / 3 + 1) + (s % 3))
    val df = Seq(
      (1L, Seq(0L, 2L, 2L, 3L)),  // repeated + max bucket
      (2L, Seq.empty[Long]),      // tokenless: all-zero sums
      (3L, Seq(7L))               // out-of-range bucket: contributes 0
    ).toDF("id", "bks")
      .withColumn("sums", Kernels.nbClassSums(
        col("bks"), typedLit(lam), lit(3)))
    val got = df.select("id", "sums").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def slot(bk: Long, c: Int) = 10L * (bk + 1) + c
    assert(got(1L) === (0 until 3).map(c =>
      slot(0, c) + 2 * slot(2, c) + slot(3, c)))
    assert(got(2L) === Seq(0L, 0L, 0L))
    assert(got(3L) === Seq(0L, 0L, 0L))
    // interpreted path (the pre-codegen fold) agrees exactly on
    // in-range buckets — the only kind a nbModel serving fold ever
    // sees (ANSI element_at THROWS on the out-of-range row, which is
    // exactly why the kernel's own guard contributes 0 instead)
    val interp = df.filter(col("id") < 3).withColumn("isums",
      transform(sequence(lit(0), lit(2)), i =>
        aggregate(col("bks"), lit(0L), (acc, bk) =>
          acc + coalesce(element_at(typedLit(lam),
            (bk * 3 + i + 1).cast("int")), lit(0L)))))
    assert(interp.filter(expr("sums <> isums")).count() === 0)
  }

  test("NB count-store maintenance is replay-safe: folds equal from-scratch, " +
      "a replayed batch never double-counts, a torn marker heals by re-fold") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Classify
    val docs = graft.core.Tables.documents(spark, dir)
    val cDir = java.nio.file.Files.createTempDirectory("nb-fold").toString + "/c"
    def stored = spark.read.parquet(
      new java.io.File(cDir).listFiles().map(_.getName)
        .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
        .sorted.reverse.map(v => s"$cDir/v=$v").head)
      .collect().map(_.toString).sorted.toSeq
    Classify.writeNbCounts(docs.filter(col("doc_id") < 300), cDir)
    assert(Classify.updateNbCountsBatch(spark, cDir,
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), 0, "ckptN"))
    assert(Classify.updateNbCountsBatch(spark, cDir,
      docs.filter(col("doc_id") >= 400), 1, "ckptN"))
    val full = Classify.nbCounts(docs).collect().map(_.toString).sorted.toSeq
    assert(Classify.readNbCounts(spark, cDir)
      .collect().map(_.toString).sorted.toSeq === full)
    // foreachBatch redelivery: the SAME (writer, batch) pair skips —
    // a silent re-fold would double batch 1's counts
    assert(!Classify.updateNbCountsBatch(spark, cDir,
      docs.filter(col("doc_id") >= 400), 1, "ckptN"))
    assert(Classify.readNbCounts(spark, cDir)
      .collect().map(_.toString).sorted.toSeq === full)
    // a fresh incarnation's safe base id is one above every watermark
    assert(graft.core.Artifacts.nextBatchId(spark, cDir) === 2L)
    // crash between the parquet commit and the marker write: the torn
    // version's DATA still serves (it validly includes batch 1)…
    val vmax = new java.io.File(cDir).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).max
    assert(new java.io.File(s"$cDir/v=$vmax/_ABSORBED").delete())
    assert(Classify.readNbCounts(spark, cDir)
      .collect().map(_.toString).sorted.toSeq === full)
    // …the folded-store prune (completeness = the marker) must NOT
    // reclaim the marked base in the torn version's favor…
    graft.core.Artifacts.pruneFoldedStore(spark, cDir, keep = 1)
    assert(new java.io.File(s"$cDir/v=${vmax - 1}/_ABSORBED").isFile,
      "prune deleted the only legal fold base")
    // …and the replay RE-FOLDS from the newest marked base, landing a
    // marker-sealed version with identical content (fold determinism)
    assert(Classify.updateNbCountsBatch(spark, cDir,
      docs.filter(col("doc_id") >= 400), 1, "ckptN"))
    assert(Classify.readNbCounts(spark, cDir)
      .collect().map(_.toString).sorted.toSeq === full)
    assert(stored === full)
    // one-shot backfill after batch folds: composes through the same
    // marked base, watermarks carried (batch 1 still skips after it)
    Classify.updateNbCounts(spark, cDir,
      docs.filter(col("doc_id") < 0)) // empty delta: content unchanged
    assert(!Classify.updateNbCountsBatch(spark, cDir,
      docs.filter(col("doc_id") >= 400), 1, "ckptN"))
    assert(Classify.readNbCounts(spark, cDir)
      .collect().map(_.toString).sorted.toSeq === full)
    // an unseeded (marker-less) store refuses the batch API loudly
    val bare = java.nio.file.Files.createTempDirectory("nb-bare").toString + "/c"
    graft.core.Artifacts.writeVersioned(
      Classify.nbCounts(docs.filter(col("doc_id") < 100)), bare)
    intercept[IllegalArgumentException] {
      Classify.updateNbCountsBatch(spark, bare,
        docs.filter(col("doc_id") >= 100), 0, "ckptN")
    }
    // a ONE-SHOT fold refuses a torn fold version above the marked
    // base: no checkpoint exists to redeliver its batch, so silently
    // superseding it would discard that batch's counts forever
    val t2 = java.nio.file.Files.createTempDirectory("nb-torn2").toString + "/c"
    Classify.writeNbCounts(docs.filter(col("doc_id") < 300), t2)
    assert(Classify.updateNbCountsBatch(spark, t2,
      docs.filter(col("doc_id") >= 300), 0, "ckptT"))
    val t2max = new java.io.File(t2).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).max
    assert(new java.io.File(s"$t2/v=$t2max/_ABSORBED").delete())
    val eTorn = intercept[IllegalArgumentException] {
      Classify.updateNbCounts(spark, t2, docs.filter(col("doc_id") < 0))
    }
    assert(eTorn.getMessage.contains("torn"), eTorn.getMessage)
    // …while the STREAM path heals the same state by re-fold
    assert(Classify.updateNbCountsBatch(spark, t2,
      docs.filter(col("doc_id") >= 300), 0, "ckptT"))
    // a corrupt (truncated pre-atomic) marker line refuses loudly
    // instead of silently understating a watermark
    val t3max = new java.io.File(t2).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).max
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t2/v=$t3max/_ABSORBED"), "ckptT|")
    // drop the Hadoop checksum sidecar so the corrupted CONTENT (not a
    // checksum mismatch) is what the reader sees
    new java.io.File(s"$t2/v=$t3max/._ABSORBED.crc").delete()
    val eCorrupt = intercept[IllegalArgumentException] {
      graft.core.Artifacts.nextBatchId(spark, t2)
    }
    assert(eCorrupt.getMessage.contains("corrupt"), eCorrupt.getMessage)
  }

  test("streaming NB count maintenance equals the batch fold end-to-end") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Classify
    val docs = graft.core.Tables.documents(spark, dir)
    val cDir = java.nio.file.Files.createTempDirectory("nb-stream").toString + "/c"
    val ckpt = java.nio.file.Files.createTempDirectory("nb-stream-ckpt").toString
    Classify.writeNbCounts(docs.filter(col("doc_id") < 400), cDir)
    val q = DocStream.nbCountsOnIngest(
      DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400), cDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // maintained counts == one from-scratch pass over everything, and
    // the packed model classifies identically to in-query training
    assert(Classify.readNbCounts(spark, cDir)
        .collect().map(_.toString).sorted.toSeq
      === Classify.nbCounts(docs).collect().map(_.toString).sorted.toSeq)
    val servedM = Classify.nbModelFromCounts(Classify.readNbCounts(spark, cDir))
    assert(DocStream.classifyOnIngest(docs, servedM)
        .collect().map(_.toString).sorted.toSeq
      === DocStream.classifyOnIngest(docs, Classify.nbModel(docs))
        .collect().map(_.toString).sorted.toSeq)
    // a RECREATED checkpoint at the same path must refuse to start
    // with the default base: its fresh ids would be skipped as replays
    def deleteRec(p: java.nio.file.Path): Unit = {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
    deleteRec(java.nio.file.Paths.get(ckpt))
    val eFresh = intercept[IllegalArgumentException] {
      DocStream.nbCountsOnIngest(
        DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400), cDir, ckpt)
    }
    assert(eFresh.getMessage.contains("watermark"), eFresh.getMessage)
    // a PRE-CREATED EMPTY checkpoint dir (mkdir -p before start — a
    // common ops pattern) is still a fresh incarnation and must hit
    // the same guard: the check keys on checkpoint CONTENT (offsets/),
    // not bare directory existence (r11 ADVICE). The dir is already
    // gone (the guard above fired before start() recreated anything).
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt))
    val ePre = intercept[IllegalArgumentException] {
      DocStream.nbCountsOnIngest(
        DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400), cDir, ckpt)
    }
    assert(ePre.getMessage.contains("watermark"), ePre.getMessage)
    // a writerId-invalid checkpoint path fails AT start(), not minutes
    // later inside the first micro-batch
    val eBad = intercept[IllegalArgumentException] {
      DocStream.nbCountsOnIngest(
        DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400), cDir,
        s"$ckpt/bad|pipe")
    }
    assert(eBad.getMessage.contains("writerId"), eBad.getMessage)
    // …and the documented restart recipe starts cleanly
    val q2 = DocStream.nbCountsOnIngest(
      DocStream.readDocs(spark, dir).filter(col("doc_id") >= 400), cDir, ckpt,
      baseBatchId = graft.core.Artifacts.nextBatchId(spark, cDir))
    try q2.processAllAvailable() finally q2.stop()
  }

  test("hash32_buckets kernel is bit-identical to the hash32 transform chain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val B = graft.ops.Classify.B.toLong
    val toks = graft.core.Tables.documents(spark, dir)
      .withColumn("toks", filter(split(col("text"), " "), t => t =!= ""))
    val diff = toks
      .withColumn("a", Kernels.hash32Buckets(col("toks"), B))
      .withColumn("b", transform(col("toks"), t =>
        graft.text.Shingles.hash32(t) % lit(B)))
      .filter(expr("a <> b")).count()
    assert(diff === 0L, "kernel diverged from the md5 transform chain")
    // null tokens map to null buckets, exactly like md5(null)
    val withNull = Seq(Seq[String]("x", null, "y")).toDF("toks")
      .select(Kernels.hash32Buckets(col("toks"), B).as("a"))
      .collect().head.getSeq[Any](0)
    assert(withNull(1) == null && withNull(0) != null && withNull(2) != null)
  }

  test("signature-store compaction folds the tail, preserves the index set, and " +
      "keeps the next batch's clustering identical") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val state = java.nio.file.Files.createTempDirectory("clusters-compact").toString
    // four small ingest batches, then compact, then one more batch
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 150), 0, state)
    graft.ops.Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), 1, state)
    graft.ops.Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), 2, state)
    graft.ops.Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 450), 3, state)
    val sigsBefore = spark.read.parquet(s"$state/sigs").drop("ingest_batch")
      .collect().map(_.toSeq).toSet
    graft.ops.Dedup.compactSignatureStore(spark, state)
    val dirs = new java.io.File(s"$state/sigs").listFiles()
      .map(_.getName).filter(_.matches("ingest_batch=\\d+")).sorted
    assert(dirs === Array("ingest_batch=0", "ingest_batch=2", "ingest_batch=3"),
      dirs.mkString(","))
    val sigsAfter = spark.read.parquet(s"$state/sigs").drop("ingest_batch")
      .collect().map(_.toSeq).toSet
    assert(sigsAfter === sigsBefore)
    // simulate a compaction that crashed between append and delete:
    // re-append one partition's rows into base, leaving exact
    // duplicates in the "< id" read set — the documented worst case
    val prevSigs = spark.read.parquet(s"$state/sigs/ingest_batch=2")
    prevSigs.write.mode("append").parquet(s"$state/sigs/ingest_batch=0")
    // the stream continues over compacted (and duplicate-bearing)
    // state and still converges to the from-scratch clustering
    graft.ops.Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 450), 4, state)
    val latest = spark.read.parquet(s"$state/assign/ingest_batch=4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.ops.Dedup.dupClusters(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(latest === full && latest.nonEmpty)
  }

  test("streaming decontam-on-ingest == the declared batch sweep against the same probes") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val probeSigs = graft.ops.Dedup.minhashSignatures(docs.filter(col("doc_id") < 50))
      .localCheckpoint(true) // the benchmark set, sketched once
    val out = java.nio.file.Files.createTempDirectory("decontam-ingest-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("decontam-ingest-ckpt").toString
    val q = DocStream.decontamOnIngest(
      DocStream.readDocs(spark, dir).filter(col("doc_id") >= 50),
      probeSigs, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = canon(spark.read.parquet(out).collect())
    val batch = canon(graft.ops.Dedup.fuzzyDecontaminationAgainst(
      docs.filter(col("doc_id") >= 50), probeSigs).collect())
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("foreachBatch sink lands a split-partitioned parquet table") {
    val out = java.nio.file.Files.createTempDirectory("curated-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("curated-ckpt").toString
    val q = DocStream.writeCurated(
      DocStream.curate(DocStream.readDocs(spark, dir)), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == batchCurated.count())
    // partition pruning works on the landed layout
    val trainOnly = back.filter(org.apache.spark.sql.functions.col("split") === "train")
    val batchTrain = batchCurated
      .filter(org.apache.spark.sql.functions.col("split") === "train").count()
    assert(trainOnly.count() == batchTrain)
    val prunedPlan = trainOnly.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [isnotnull(split"), prunedPlan)
  }
}
