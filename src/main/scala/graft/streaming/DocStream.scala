package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernels
import org.apache.spark.sql.types._

import graft.ops.TextOps

/** Streaming curation-on-ingest: the training-data cleaning pass
  * applied while documents arrive, instead of as a post-hoc batch.
  *
  * [[curate]] is a plain DataFrame → DataFrame transform, so the SAME
  * code runs in batch and under Structured Streaming (asserted equal in
  * DocStreamSpec) — the Spark-idiomatic way to keep an ingest filter
  * and a backfill job from drifting apart.
  *
  * Everything here is stateless (per-row projections + filters), so the
  * stream needs no watermark and scales with partition count alone.
  * Cross-document steps — near-dup removal, stopword-aware quality —
  * stay in the batch layer ([[graft.ops.Dedup]], [[graft.ops.TextOps]]),
  * or for exact dup-on-ingest use
  * `withWatermark(ingest_ts).dropDuplicatesWithinWatermark("content_md5")`
  * on streams that carry an ingest timestamp (see
  * [[EventStream.dedupEvents]] for the eviction-safe pattern).
  */
object DocStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocs(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      // glob: FileStreamSource wants the basePath to be a directory
      .parquet(s"$sfDir/documents.*")

  /** THE whitespace tokenization rule every per-row serving fold
    * shares (split on single space, drop empties) — one definition so
    * the scorers, the curation features, and any caller filtering on
    * token presence (q_nb_served's population) can never silently
    * diverge from each other.
    */
  private[graft] def tokensCol: org.apache.spark.sql.Column =
    filter(split(col("text"), " "), t => t =!= "")

  /** Ingest-time curation: token/length features, content fingerprint,
    * deterministic train/valid/test assignment, and the stateless
    * quality filters (length band + minimum token count). Identical
    * semantics in batch and streaming.
    */
  def curate(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(tokensCol))
      .withColumn("content_md5", md5(col("text")))
      .withColumn("split",
        when(TextOps.hashBucket(col("doc_id")) < 80, "train")
          .when(TextOps.hashBucket(col("doc_id")) < 90, "valid")
          .otherwise("test"))
      .filter(col("n_chars").between(100, 500) && col("n_tokens") >= 20)

  /** [[curate]] with single-pass pipeline metrics: Observation rows
    * ride the same job as the data (collected by the driver when the
    * action finishes), so a 100 TB curation run reports its input
    * size, survivor count, and kept-token volume without a second scan.
    * Returns (curated frame, input observation, output observation) —
    * read `obs.get` after the first action on the frame.
    */
  def curateWithMetrics(docs: DataFrame)
      : (DataFrame, org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val obsIn = org.apache.spark.sql.Observation("curation_in")
    val obsOut = org.apache.spark.sql.Observation("curation_out")
    val out = curate(docs.observe(obsIn, count(lit(1)).as("n_in")))
      .observe(obsOut,
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("kept_tokens"))
    (out, obsIn, obsOut)
  }

  /** Run the curated stream into a parquet table via foreachBatch — the
    * sink shape that lets a streaming job reuse any batch writer.
    *
    * Exactly-once at the batch level: foreachBatch can RE-EXECUTE a
    * micro-batch after a failure, so a plain append would duplicate it.
    * Each batch overwrites its own `ingest_batch=<id>` directory — a
    * replay lands byte-identical files in the same place instead of
    * appending a second copy. `split` stays a partition level beneath
    * it, so training readers still prune.
    */
  def writeCurated(curated: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    curated.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").partitionBy("split")
          .parquet(s"$outDir/ingest_batch=$id")
      }
      .start()

  /** Model scoring on ingest: apply a batch-fitted DSIR model
    * ([[graft.ops.Classify.dsirModel]] — one row: target label +
    * bucket→micro-lambda map) to arriving documents. The model row
    * rides a broadcast stream-static cross join and each document is
    * scored by a per-row fold over its own tokens against the map —
    * stateless, zero shuffles, so the stream scales with partition
    * count alone and the SAME transform serves batch backfill
    * (DocStreamSpec asserts stream == batch == the declared
    * q_dsir_weights, exactly: micro-lambda longs sum to the identical
    * decimal total the batch join-aggregate produces).
    *
    * Serving-time divergence, by design: a token bucket the model
    * never saw (possible on live data, impossible in the batch query
    * that trains and scores on the same corpus) contributes a neutral
    * 0 instead of failing the lookup.
    */
  def scoreOnIngest(docs: DataFrame, model: DataFrame): DataFrame = {
    val toks = tokensCol
    docs.crossJoin(broadcast(model))
      .withColumn("toks", toks)
      // bucket hashing runs in the native kernel (one tight loop per
      // doc) — the HOF fold below only does the map lookups, which a
      // ≤B-entry model map serves fine (one lookup per element)
      .withColumn("w_micro", aggregate(
        Kernels.hash32Buckets(col("toks"), graft.ops.Classify.B.toLong),
        lit(0L),
        (acc, bk) => acc + coalesce(
          element_at(col("lam_micro"), bk), lit(0L))))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        (col("source") === col("target_source")).cast("int").as("is_target"),
        (col("w_micro").cast("double") / lit(1e6)).as("weight"),
        // a tokenless live doc scores null, not 0/0 = NaN (the batch
        // query never sees one — its token stream drops empty docs)
        when(size(col("toks")) > 0,
          col("w_micro").cast("double") / lit(1e6) /
            size(col("toks")).cast("double")).as("weight_per_token"))
  }

  /** NB domain classification on ingest — [[scoreOnIngest]]'s argmax
    * sibling: the batch-fitted [[graft.ops.Classify.nbModel]] row
    * (classes, priors, dense (bucket·C+idx)-slotted likelihood array)
    * rides one broadcast, and each arriving document is classified by
    * a per-row fold per class + array_min argmax — stateless,
    * zero-shuffle, exactly the plumbing of the DSIR scorer.
    * DocStreamSpec pins that the streamed predictions aggregate to the
    * declared q_nb_classify confusion matrix bit-for-bit (micro-longs
    * and 6dp decimals order identically). One serving-time divergence:
    * a tokenless document still classifies (by priors alone) instead
    * of being absent like in the batch query, whose token stream never
    * sees it.
    */
  def classifyOnIngest(docs: DataFrame, model: DataFrame): DataFrame = {
    val toks = tokensCol
    docs.crossJoin(broadcast(model))
      .withColumn("toks", toks)
      // hash every token ONCE, in the native kernel: the md5 bucket
      // chain is class-independent AND the dominant per-row cost, and
      // as a transform() lambda it ran through the expression
      // interpreter (HOFs never codegen) — hash32_buckets does the
      // whole array in one tight loop
      .withColumn("bks", Kernels.hash32Buckets(col("toks"), graft.ops.Classify.B.toLong))
      // the model's lam is a DENSE array (slot = bucket·C + classIdx,
      // unseen slots pre-filled with the smoothing default), and the
      // whole n_tokens × C accumulation runs in ONE codegen'd pass
      // (graft.functions.NbClassSums) — the interpreted HOF chain this
      // replaces re-walked the token array once per class through the
      // expression interpreter (r10's measured 2-3× residual vs the
      // batch twin), and a keyed map before that cost a linear scan
      // per lookup (r10's measured 13×). Only the C-element argmax
      // stays interpreted — struct ordering pins the tie-break.
      .withColumn("sums",
        Kernels.nbClassSums(col("bks"), col("lam"), col("n_classes")))
      .withColumn("best",
        array_min(transform(sequence(lit(0), col("n_classes") - 1), i =>
          struct(
            (element_at(col("priors"), i + 1) * lit(-1) -
              element_at(col("sums"), i + 1)).as("neg"),
            element_at(col("classes"), i + 1).as("cls")))))
      .select(col("doc_id"), col("source"), col("best.cls").as("predicted"))
  }

  /** Quality gating on ingest — the serving half of the trained
    * linear probe ([[graft.ops.Classify.linearModel]]: one row with
    * target label, micro bias, bucket→micro-weight map): each
    * arriving document is scored by one fold over its hashed token
    * buckets plus the hard-sigmoid activation — stateless, zero
    * shuffles, the scoreOnIngest plumbing exactly. DocStreamSpec pins
    * stream == the declared q_linear_quality rows on the held-out
    * half.
    *
    * Serving-time divergences, by design: an unseen bucket (possible
    * live, impossible in the self-trained batch query) contributes 0,
    * and a tokenless document emits a row with null score/p_pos
    * (never 0/0 = NaN) instead of being absent.
    */
  def qualityOnIngest(docs: DataFrame, model: DataFrame): DataFrame = {
    val toks = tokensCol
    docs.crossJoin(broadcast(model))
      .withColumn("toks", toks)
      .withColumn("zw", aggregate(
        Kernels.hash32Buckets(col("toks"), graft.ops.Classify.B.toLong),
        lit(0L), (acc, bk) => acc +
          coalesce(element_at(col("w_micro"), bk), lit(0L))))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("z_num", col("zw") + col("bias_micro") * col("n_tokens"))
      .select(col("doc_id"), col("source"),
        (col("source") === col("target_source")).cast("int").as("is_target"),
        col("n_tokens"),
        when(col("n_tokens") > 0,
          col("z_num").cast("double") / lit(1e6) /
            col("n_tokens").cast("double")).as("score"),
        when(col("n_tokens") > 0,
          graft.ops.Classify.pMicroCol(col("z_num"), col("n_tokens"))
            .cast("double") / lit(1e6)).as("p_pos"),
        when(col("n_tokens") > 0,
          (graft.ops.Classify.pMicroCol(col("z_num"), col("n_tokens")) >
            lit(500000L)).cast("int")).as("predicted"))
  }

  /** Subword tokenization on ingest — the serving half of the BPE
    * tier: a batch-trained merge table ([[graft.ops.Bpe.bpeModel]],
    * one row, step-ordered rules) rides a broadcast, and each arriving
    * document is encoded by a per-row double fold — per token, fold
    * the rule array over its character symbols (each rule application
    * is the same greedy left-to-right pass as training's
    * [[graft.ops.Bpe.mergeFold]]) — stateless, zero shuffles, the
    * scoreOnIngest/classifyOnIngest plumbing exactly. DocStreamSpec
    * pins stream == [[graft.ops.Bpe.bpeEncodeWith]] on the same
    * corpus, fingerprints included.
    *
    * Serving-time divergence, by design: a tokenless document still
    * emits a row (n_tokens 0) instead of being absent like in the
    * batch query, whose vocab join never sees it.
    */
  def tokenizeOnIngest(docs: DataFrame, model: DataFrame): DataFrame = {
    val toks = tokensCol
    docs.crossJoin(broadcast(model))
      .withColumn("toks", toks)
      // per token, ONE native kernel call (r17,
      // [[graft.functions.BpeEncodeWord]]): char split + the whole
      // broadcast rule array folded in step order inside a single JVM
      // loop — replaces the aggregate-of-aggregate HOF chain that ran
      // the lambda interpreter per rule per symbol per token
      .withColumn("subs", transform(col("toks"), t =>
        Kernels.bpeEncodeWord(t, col("merges"))))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("subs"), lit(0L), (a, s) => a + size(s).cast("long"))
          .as("n_subwords"),
        md5(concat_ws(" ", flatten(col("subs")))).as("subwords_md5"))
  }

  /** Streaming near-dup detection on ingest: every micro-batch of new
    * documents is deduped against the STATIC historical signature index
    * via [[graft.ops.Dedup.incrementalCandidates]] — the streaming face
    * of the daily-ingest shape. Per-batch cost scales with the batch
    * (the history never pairs with itself), and a deployment appends
    * each batch's own signatures to the index table between batches to
    * keep it current.
    *
    * foreachBatch is the right bridge here: candidate generation is a
    * multi-join batch pipeline (band buckets, signature scoring), not a
    * stateless streaming operator, and replays are idempotent because
    * each batch overwrites its own `ingest_batch=<id>` directory with a
    * deterministic result — the same contract as [[writeCurated]].
    */
  def dedupOnIngest(newDocs: DataFrame, historySigs: DataFrame,
      outDir: String, checkpointDir: String,
      minEstJaccard: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Dedup.incrementalCandidates(batch, historySigs, minEstJaccard)
          .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$id")
      }
      .start()

  /** Fuzzy benchmark decontamination on ingest — [[dedupOnIngest]]'s
    * eval-overlap sibling: every micro-batch of arriving documents is
    * sketched and joined against the STATIC probe (benchmark)
    * signature index via
    * [[graft.ops.Dedup.fuzzyDecontaminationAgainst]], so contaminated
    * documents are flagged before they ever land in the training
    * corpus rather than in a post-hoc sweep. The probe set is sketched
    * once (all public benchmarks stay broadcast-sized); per-batch cost
    * scales with the batch. Same idempotent-replay contract as
    * [[writeCurated]]: each batch overwrites its own directory with a
    * deterministic result.
    */
  def decontamOnIngest(newDocs: DataFrame, probeSigs: DataFrame,
      outDir: String, checkpointDir: String,
      minAgree: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Dedup.fuzzyDecontaminationAgainst(batch, probeSigs, minAgree)
          .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$id")
      }
      .start()

  /** STREAMING cluster maintenance: each arriving micro-batch folds
    * its near-dup edges into the persisted cluster assignment via
    * [[graft.ops.Dedup.clustersIngestBatch]] — signature store and
    * full assignment land under `stateDir` per batch, replay-safe
    * (each batch overwrites only its own state version). Seed a
    * deployment by running the historical corpus through
    * `clustersIngestBatch(hist, 0, stateDir)` first; `baseBatchId`
    * offsets the stream's micro-batch ids above the seeded ones
    * (streaming ids start at 0 on a fresh checkpoint). DocStreamSpec
    * pins the maintained assignment equal to the from-scratch batch
    * clustering of everything ingested.
    *
    * Deletion interplay: [[graft.ops.Dedup.deleteFromDedupState]] and
    * [[graft.ops.Dedup.maintainDedupState]] run BETWEEN batches (the
    * serial-writer contract); each micro-batch then filters deleted
    * docs out of its own sketch and its history read, so a replay
    * redelivering a taken-down doc cannot resurrect it (the
    * deletion-log durability analyzed in clustersIngestBatch) — and
    * [[graft.ops.Dedup.clustersIngestBatch]] itself refuses at batch
    * entry while tombstones pend unhealed, so a delete that crashed
    * before its heal stops the stream loudly instead of folding from
    * a stale base.
    */
  def clustersOnIngest(newDocs: DataFrame, stateDir: String,
      checkpointDir: String, minEstJaccard: Double = 0.5,
      baseBatchId: Long = 1L): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Dedup.clustersIngestBatch(batch, id + baseBatchId,
          stateDir, minEstJaccard)
      }
      .start()

  /** STREAMING classifier-model maintenance: each arriving micro-batch
    * folds its count-level NB statistics into the persisted store via
    * the replay-safe [[graft.ops.Classify.updateNbCountsBatch]] (a
    * redelivered batch skips on its `(writer|batch)` absorbed marker —
    * a count fold is not idempotent, and a silent replay would DOUBLE
    * the batch's counts). Seed a deployment with
    * `Classify.writeNbCounts(history, countsDir)` first; pack a fresh
    * serving model any time with `Classify.nbModelFromCounts
    * (Classify.readNbCounts(...))` — history is never re-read by
    * either step. The checkpoint dir doubles as the writer identity,
    * the [[graft.streaming.EmbStream]] convention.
    *
    * RESTART CONTRACT: a stream resumed on its ORIGINAL checkpoint
    * needs nothing — redelivered ids skip on the watermark. But a
    * RECREATED checkpoint at the same path restarts foreachBatch ids
    * at 0, and the store cannot tell those fresh batches from replays
    * of the old incarnation's (identity, not content, is the
    * evidence — the same limitation the IVFADC stream markers have):
    * they would be SILENTLY SKIPPED. Fresh incarnations MUST pass
    * `baseBatchId = Artifacts.nextBatchId(spark, countsDir)` (one
    * above every absorbed watermark).
    */
  def nbCountsOnIngest(newDocs: DataFrame, countsDir: String,
      checkpointDir: String,
      baseBatchId: Long = 0L): org.apache.spark.sql.streaming.StreamingQuery = {
    // MECHANICAL guard for the restart contract above — a docstring
    // alone left the dangerous case (fresh checkpoint, default base)
    // failing SILENTLY: a fresh checkpoint restarts ids at 0, and if
    // the store already holds a watermark for this writer at or above
    // baseBatchId, every new batch would be skipped as a replay.
    // Detected before start(). "Fresh" keys on checkpoint CONTENT (the
    // offsets/ subdir Structured Streaming writes on its first commit),
    // not bare directory existence: pre-creating the empty directory
    // (mkdir -p before start, a common ops pattern) must not skip the
    // guard — an empty dir IS a fresh incarnation (r11 ADVICE).
    val spark = newDocs.sparkSession
    // writerId = the checkpoint dir; the store's marker format forbids
    // '|'/newlines in it — validate HERE so a bad path fails at
    // start(), not minutes later inside the first micro-batch
    require(checkpointDir.nonEmpty && !checkpointDir.contains("|") &&
        !checkpointDir.contains("\n"),
      s"nbCountsOnIngest: checkpointDir doubles as the store's writerId " +
        s"and must be non-empty without '|'/newlines, got '$checkpointDir'")
    val ckptHasState = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .exists(new org.apache.hadoop.fs.Path(s"$checkpointDir/offsets"))
    if (!ckptHasState)
      graft.core.Artifacts.writerWatermark(spark, countsDir, checkpointDir)
        .foreach(wm => require(baseBatchId > wm,
          s"nbCountsOnIngest: fresh checkpoint $checkpointDir but the store " +
            s"already holds watermark $wm for this writer — the new " +
            "incarnation's batches (ids from " + baseBatchId + ") would be " +
            "silently skipped as replays. Pass baseBatchId = " +
            "Artifacts.nextBatchId(spark, countsDir)"))
    newDocs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Classify.updateNbCountsBatch(batch.sparkSession,
          countsDir, batch, id + baseBatchId, checkpointDir)
        ()
      }
      .start()
  }
}
