package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Bpe, Classify, VectorOps}

/** The train-once/serve-many lifecycle (r9 verdict #1): every trained
  * artifact — IVFADC index, BPE merge table, linear quality gate —
  * persists to parquet and serves from the saved artifact
  * BIT-IDENTICALLY to the in-query-trained path. Equality is exact
  * (collected rows as strings), not approximate: the artifacts are
  * integer-grid / exact-long model state, so a round-trip may not
  * perturb anything.
  */
class IndexServeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private def emb = graft.core.Tables.embeddings(spark, dir)
  private def docs = graft.core.Tables.documents(spark, dir)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("IVFADC: served-from-parquet search and rerank are bit-identical to in-query training") {
    val ixDir = Files.createTempDirectory("graft-ivfpq-ix").toString + "/ix"
    VectorOps.writeIvfPqIndex(emb, ixDir, 8, 8, 16, 64)
    val ix = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(ix.nCentroids == 8 && ix.m == 8 && ix.ksub == 16 && ix.dims == 64)
    // index shape sanity: one codes row per vector, m*ksub codewords
    assert(ix.codes.count() == emb.count())
    assert(ix.codebook.count() == 8 * 16)
    assert(ix.centroids.count() == 8)

    val trained = VectorOps.ivfPqSearch(emb, col("vid") < 5, 8, 8, 16, 10, 64, 1)
    val served = VectorOps.ivfPqSearchServed(ix, emb, col("vid") < 5, 10, 1)
    assert(rows(served) === rows(trained), "served ADC search diverged from in-query training")

    val trainedR = VectorOps.ivfPqRerank(emb, col("vid") < 5, 8, 8, 16, 100, 10, 64, 1)
    val servedR = VectorOps.ivfPqRerankServed(ix, emb, col("vid") < 5, 100, 10, 1)
    assert(rows(servedR) === rows(trainedR), "served rerank diverged from in-query training")

    // nprobe dial works identically from the saved index
    val trained2 = VectorOps.ivfPqSearch(emb, col("vid") < 5, 8, 8, 16, 10, 64, 2)
    val served2 = VectorOps.ivfPqSearchServed(ix, emb, col("vid") < 5, 10, 2)
    assert(rows(served2) === rows(trained2))
  }

  test("ivfBalanceCells: balanced index returns UNCHANGED; skewed fat cell is split and share drops") {
    // balanced half: the sf0.001 trained 8-cell index under a
    // threshold above its fattest share — the dial must be a no-op,
    // and serving with its output identical (r9 verdict #6 done bar)
    val cent = VectorOps.pqTrain(emb, 1, 8, 2, 64)
      .select(col("cid"), col("cw").as("cid_v"))
    val max0 = VectorOps.ivfCellShares(emb, cent).collect()
      .map(_.getAs[Double]("share")).max
    val thr = math.max(0.5, max0 + 0.01)
    val out = VectorOps.ivfBalanceCells(emb, cent, thr, 2)
    assert(rows(out) === rows(cent), "balanced index must come back unchanged")
    // empty corpus: the dial is a no-op, not an empty.minBy crash
    assert(rows(VectorOps.ivfBalanceCells(emb.filter(col("vec_id") < 0),
      cent, thr, 2)) === rows(cent))
    assert(rows(VectorOps.ivfSearchCentroids(emb, col("vid") >= 490, out, 5, 1))
      === rows(VectorOps.ivfSearchCentroids(emb, col("vid") >= 490, cent, 5, 1)))

    // skewed half: 10 spread vectors + 490 near-parallel ones — one
    // cell swallows ~98% of the corpus; the dial must split it and
    // strictly reduce the fattest share
    val skew = spark.range(500).selectExpr("id AS vec_id",
      """transform(sequence(0, 63), d -> CASE
        |  WHEN id < 10 THEN CAST(sin(id * 13 + d) AS DOUBLE)
        |  ELSE CAST(1.0 + id * 1e-3 * (CASE WHEN d = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |END)""".stripMargin + " AS embedding")
    val centS = VectorOps.pqTrain(skew, 1, 8, 2, 64)
      .select(col("cid"), col("cw").as("cid_v"))
    val sharesBefore = VectorOps.ivfCellShares(skew, centS).collect()
      .map(_.getAs[Double]("share"))
    assert(sharesBefore.max > 0.5, s"skew corpus not skewed: ${sharesBefore.toSeq}")
    val balanced = VectorOps.ivfBalanceCells(skew, centS, 0.5, 4)
    assert(balanced.count() > centS.count(), "fat cell must trigger a split")
    val sharesAfter = VectorOps.ivfCellShares(skew, balanced).collect()
      .map(_.getAs[Double]("share"))
    assert(sharesAfter.max < sharesBefore.max,
      s"fattest share must drop: ${sharesBefore.max} -> ${sharesAfter.max}")
  }

  test("IVFADC append: a new batch encodes against the SAVED model; history and model stay frozen") {
    val ixDir = Files.createTempDirectory("graft-ivfpq-append").toString + "/ix"
    val history = emb.filter(col("vec_id") < 450)
    val batch = emb.filter(col("vec_id") >= 450)
    VectorOps.writeIvfPqIndex(history, ixDir, 8, 8, 16, 64)
    val ix = VectorOps.readIvfPqIndex(spark, ixDir)
    val historyCodes = rows(ix.codes)
    VectorOps.appendToIvfPqIndex(ix, batch, ixDir)
    val ix2 = VectorOps.readIvfPqIndex(spark, ixDir)
    // every vector has exactly one codes row; history rows unchanged
    assert(ix2.codes.count() === emb.count())
    assert(rows(ix2.codes.filter(col("vid") < 450)) === historyCodes)
    // appended rows are exactly what the saved model encodes
    assert(rows(ix2.codes.filter(col("vid") >= 450))
      === rows(VectorOps.encodeWithIndex(ix, batch)))
    // model halves frozen by construction
    assert(rows(ix2.centroids) === rows(ix.centroids))
    assert(rows(ix2.codebook) === rows(ix.codebook))
    // the appended index serves: batch vectors answer as queries too
    assert(VectorOps.ivfPqSearchServed(ix2, emb, col("vid") >= 495, 10, 1)
      .count() > 0)
    // a crashed append (dir written, no _SUCCESS job-commit marker)
    // must be INVISIBLE to readers — neither a partial row subset nor
    // retried duplicates ever reach the served top-k
    val codesDir = s"$ixDir/v=1/codes"
    VectorOps.encodeWithIndex(ix, batch.limit(3))
      .write.parquet(s"$codesDir/append=9")
    assert(new java.io.File(s"$codesDir/append=9/_SUCCESS").delete())
    val ix3 = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(rows(ix3.codes) === rows(ix2.codes),
      "unsealed append dir must stay invisible to readers")
    // once a LATER sealed append supersedes it (retries allocate a
    // fresh higher n), the torn dir is reclaimable garbage: prune
    // sweeps it but never touches the highest-or-above unsealed
    // append (possibly in flight)
    val batch2 = emb.filter(col("vec_id") >= 450)
      .selectExpr("vec_id + 1000 AS vec_id", "embedding")
    VectorOps.appendToIvfPqIndex(ix3, batch2, ixDir)
    VectorOps.pruneIvfPqVersions(spark, ixDir, keep = 1)
    val appendDirs = new java.io.File(codesDir).listFiles()
      .map(_.getName).filter(_.startsWith("append=")).sorted
    assert(appendDirs === Array("append=0", "append=1", "append=10"),
      appendDirs.mkString(","))
    val ix4 = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(ix4.codes.count() === emb.count() + batch2.count())
    assert(rows(ix4.codes.filter(col("vid") < 1000)) === rows(ix2.codes))
  }

  test("IVFADC streaming maintenance: stream equals batch, replays never duplicate, guards hold") {
    import graft.streaming.EmbStream
    val ixDir = Files.createTempDirectory("graft-ivfpq-stream").toString + "/ix"
    val history = emb.filter(col("vec_id") < 450)
    val b1 = emb.filter(col("vec_id") >= 450 && col("vec_id") < 475)
    val b2 = emb.filter(col("vec_id") >= 475)
    VectorOps.writeIvfPqIndex(history, ixDir, 8, 8, 16, 64)
    val ix = VectorOps.readIvfPqIndex(spark, ixDir)
    // the replay-safe append lands each micro-batch in its own dir,
    // encoding against the frozen model — two batches equal the
    // one-shot encode of their union
    VectorOps.appendBatchToIvfPqIndex(ix, b1, ixDir, 1, "ckptA")
    VectorOps.appendBatchToIvfPqIndex(ix, b2, ixDir, 2, "ckptA")
    val ix2 = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(ix2.codes.count() === emb.count())
    val codesAll = rows(ix2.codes)
    val codesAppended = rows(ix2.codes.filter(col("vid") >= 450))
    val servedBatch =
      rows(VectorOps.ivfPqSearchServed(ix2, emb, col("vid") >= 495, 10, 1))
    assert(codesAppended === rows(VectorOps.encodeWithIndex(ix, b1.union(b2))))
    // a REPLAYED batch (the only replay foreachBatch can issue) finds
    // its own sealed-and-marked dir and SKIPS — sealed data is never
    // deleted or rewritten, so it can't duplicate OR regress
    VectorOps.appendBatchToIvfPqIndex(ix, b2, ixDir, 2, "ckptA")
    val ix3 = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(rows(ix3.codes) === codesAll,
      "replayed batch duplicated codes rows")
    // a DIFFERENT stream incarnation mapping another batch onto the
    // same id must fail loud, not silently destroy ckptA's vectors
    val eDiff = intercept[IllegalStateException] {
      VectorOps.appendBatchToIvfPqIndex(ix, b1, ixDir, 2, "ckptB")
    }
    assert(eDiff.getMessage.contains("owned by writer 'ckptA'"))
    // a sealed dir written by the one-shot batch path (no ownership
    // marker) under a stream's target id: loud error, never overwrite
    val batchX = emb.filter(col("vec_id") >= 495)
      .selectExpr("vec_id + 5000 AS vec_id", "embedding")
    VectorOps.appendToIvfPqIndex(ix, batchX, ixDir) // allocates append=3
    intercept[IllegalStateException] {
      VectorOps.appendBatchToIvfPqIndex(ix, b1, ixDir, 3, "ckptA")
    }
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes
        .filter(col("vid") >= 5000))
      === rows(VectorOps.encodeWithIndex(ix, batchX)),
      "one-shot append's vectors must survive the refused stream write")
    // id 0 would overwrite the training write — loud refusal
    intercept[IllegalArgumentException] {
      VectorOps.appendBatchToIvfPqIndex(ix, b1, ixDir, 0, "ckptA")
    }
    // a pre-versioning flat codes table is refused: per-id dirs would
    // shadow its root files
    val legacyDir = Files.createTempDirectory("graft-ivfpq-flatleg").toString + "/ix"
    ix.centroids.write.parquet(s"$legacyDir/centroids")
    ix.codebook.write.parquet(s"$legacyDir/codebook")
    ix.codes.write.parquet(s"$legacyDir/codes")
    spark.read.parquet(s"$ixDir/v=1/meta").write.parquet(s"$legacyDir/meta")
    intercept[IllegalArgumentException] {
      VectorOps.appendBatchToIvfPqIndex(ix, b1, legacyDir, 1, "ckptA")
    }
    // replay ACROSS A RETRAIN: batch 2 committed into v=1, the retrain
    // (over everything ingested, per the contract) writes v=2, the
    // restarted stream replays batch 2 — it must SKIP on v=1's marker,
    // not append those vectors a second time into v=2
    VectorOps.writeIvfPqIndex(
      emb.unionByName(batchX.withColumn("label", lit(0))), ixDir, 8, 8, 16, 64)
    val ixR = VectorOps.readIvfPqIndex(spark, ixDir)
    val beforeReplay = rows(ixR.codes)
    VectorOps.appendBatchToIvfPqIndex(ixR, b2, ixDir, 2, "ckptA")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === beforeReplay,
      "pre-retrain batch replayed into the new version duplicated codes rows")
    // the stream twin drives the same path end-to-end: a fresh index
    // maintained by indexOnIngest carries the same appended codes and
    // serves the same answers as the batch-maintained one
    val ixDirS = Files.createTempDirectory("graft-ivfpq-stream2").toString + "/ix"
    VectorOps.writeIvfPqIndex(history, ixDirS, 8, 8, 16, 64)
    val ckpt = Files.createTempDirectory("graft-emb-ckpt").toString
    val q = EmbStream.indexOnIngest(
      EmbStream.readEmbeddings(spark, dir).filter(col("vec_id") >= 450),
      ixDirS, ckpt)
    try q.processAllAvailable() finally q.stop()
    val ixS = VectorOps.readIvfPqIndex(spark, ixDirS)
    assert(ixS.codes.count() === emb.count())
    assert(rows(ixS.codes.filter(col("vid") >= 450)) === codesAppended,
      "stream-maintained codes diverged from the batch-maintained ones")
    assert(rows(VectorOps.ivfPqSearchServed(ixS, emb, col("vid") >= 495, 10, 1))
      === servedBatch)
  }

  test("IVFADC versions: retrain supersedes atomically, torn writes invisible, prune keeps serving") {
    val ixDir = Files.createTempDirectory("graft-ivfpq-ver").toString + "/ix"
    VectorOps.writeIvfPqIndex(emb.filter(col("vec_id") < 300), ixDir, 8, 8, 16, 64)
    // a retrain over the live artifact lands as a NEW version; the
    // reader resolves it and serves exactly what a fresh-dir train of
    // the same corpus serves (in-place overwrite of the four tables
    // would not be crash-atomic — versioning is what makes retrain
    // safe over a live index)
    VectorOps.writeIvfPqIndex(emb, ixDir, 8, 8, 16, 64)
    val freshDir = Files.createTempDirectory("graft-ivfpq-fresh").toString + "/ix"
    VectorOps.writeIvfPqIndex(emb, freshDir, 8, 8, 16, 64)
    val fresh = VectorOps.readIvfPqIndex(spark, freshDir)
    val ix = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(rows(ix.codes) === rows(fresh.codes))
    assert(rows(ix.centroids) === rows(fresh.centroids))
    // simulate a retrain that crashed mid-write: a higher version with
    // a part written but NO meta/_SUCCESS — readers must not see it
    ix.centroids.limit(1).write.parquet(s"$ixDir/v=9/centroids")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === rows(fresh.codes),
      "a torn higher version must stay invisible to readers")
    // a torn write BELOW the newest complete version — a failed
    // retrain a later one superseded — is sweepable garbage
    ix.centroids.limit(1).write.parquet(s"$ixDir/v=0/centroids")
    // prune: drops the stale complete v=1 and the superseded torn v=0;
    // the torn v=9 sits ABOVE the newest complete version (possibly a
    // retrain in flight right now) and must survive
    VectorOps.pruneIvfPqVersions(spark, ixDir, keep = 1)
    val dirs = new java.io.File(ixDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).sorted
    assert(dirs === Array("v=2", "v=9"), dirs.mkString(","))
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === rows(fresh.codes))
    // the pre-versioning flat layout stays readable (legacy artifacts)
    val legacyDir = Files.createTempDirectory("graft-ivfpq-legacy").toString + "/ix"
    fresh.centroids.write.parquet(s"$legacyDir/centroids")
    fresh.codebook.write.parquet(s"$legacyDir/codebook")
    fresh.codes.write.parquet(s"$legacyDir/codes")
    spark.read.parquet(s"$freshDir/v=1/meta").write.parquet(s"$legacyDir/meta")
    assert(rows(VectorOps.readIvfPqIndex(spark, legacyDir).codes) === rows(fresh.codes))
    // no complete version and no legacy layout = loud error, never an
    // empty index
    intercept[IllegalArgumentException] {
      VectorOps.readIvfPqIndex(spark,
        Files.createTempDirectory("graft-ivfpq-none").toString)
    }
  }

  test("IVFADC compaction: one sized append, serving bit-identical, replay-safe across fold and prune") {
    val ixDir = Files.createTempDirectory("graft-ivfpq-compact").toString + "/ix"
    val history = emb.filter(col("vec_id") < 400)
    val b1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    val b2 = emb.filter(col("vec_id") >= 450 && col("vec_id") < 475)
    val b3 = emb.filter(col("vec_id") >= 475)
    VectorOps.writeIvfPqIndex(history, ixDir, 8, 8, 16, 64)
    val ix = VectorOps.readIvfPqIndex(spark, ixDir)
    // two stream-written appends (ownership-marked) + one one-shot
    VectorOps.appendBatchToIvfPqIndex(ix, b1, ixDir, 1, "ckptC")
    VectorOps.appendBatchToIvfPqIndex(ix, b2, ixDir, 2, "ckptC")
    VectorOps.appendToIvfPqIndex(ix, b3, ixDir)
    val before = VectorOps.readIvfPqIndex(spark, ixDir)
    val codesAll = rows(before.codes)
    val servedBefore =
      rows(VectorOps.ivfPqSearchServed(before, emb, col("vid") >= 495, 10, 1))
    VectorOps.compactIvfPqIndex(spark, ixDir)
    // the fold is a version bump: v=2 holds ONE sealed append dir with
    // ONE sized part file (the three appends each wrote several)
    val appendDirs = new java.io.File(s"$ixDir/v=2/codes").listFiles()
      .map(_.getName).filter(_.startsWith("append=")).toSeq
    assert(appendDirs === Seq("append=0"), appendDirs.mkString(","))
    val parts = new java.io.File(s"$ixDir/v=2/codes/append=0").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts === 1, s"expected 1 coalesced part file, got $parts")
    val after = VectorOps.readIvfPqIndex(spark, ixDir)
    assert(rows(after.codes) === codesAll, "compaction changed the codes rows")
    assert(rows(VectorOps.ivfPqSearchServed(after, emb, col("vid") >= 495, 10, 1))
      === servedBefore, "compaction changed served answers")
    // replay of an absorbed stream batch skips on the carried marker...
    VectorOps.appendBatchToIvfPqIndex(after, b2, ixDir, 2, "ckptC")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === codesAll,
      "replay after compaction duplicated codes rows")
    // ...and still skips once the pre-compaction version (and its live
    // markers) is pruned — the carried absorbed marker is the evidence
    VectorOps.pruneIvfPqVersions(spark, ixDir, keep = 1)
    assert(new java.io.File(ixDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSeq === Seq("v=2"))
    VectorOps.appendBatchToIvfPqIndex(after, b2, ixDir, 2, "ckptC")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === codesAll,
      "replay after prune duplicated codes rows")
    // an already-compact index is a no-op — no version bump
    VectorOps.compactIvfPqIndex(spark, ixDir)
    assert(new java.io.File(ixDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSeq === Seq("v=2"))
    // second round: a post-compaction stream batch, then another fold —
    // the carry is TRANSITIVE, so batch 1's marker survives two folds
    val b4 = emb.filter(col("vec_id") >= 475)
      .selectExpr("vec_id + 7000 AS vec_id", "embedding")
    VectorOps.appendBatchToIvfPqIndex(after, b4, ixDir, 3, "ckptC")
    val codesAll2 = rows(VectorOps.readIvfPqIndex(spark, ixDir).codes)
    VectorOps.compactIvfPqIndex(spark, ixDir)
    VectorOps.pruneIvfPqVersions(spark, ixDir, keep = 1)
    // prune deleted v=2, so the stale `after` handle's lazy file
    // listing is gone — re-read, exactly what a restarted stream does
    // (the model halves are identical in every version)
    val after2 = VectorOps.readIvfPqIndex(spark, ixDir)
    VectorOps.appendBatchToIvfPqIndex(after2, b1, ixDir, 1, "ckptC")
    VectorOps.appendBatchToIvfPqIndex(after2, b4, ixDir, 3, "ckptC")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === codesAll2,
      "transitively carried markers failed to dedup a replay after two folds")
    // a foreign writer's batch id colliding with an ABSORBED id is NOT
    // skipped and NOT an error: the absorbed dir is gone, the id is
    // free, the write lands fresh (ids only collide as dirs)
    val b5 = emb.filter(col("vec_id") >= 495)
      .selectExpr("vec_id + 8000 AS vec_id", "embedding")
    VectorOps.appendBatchToIvfPqIndex(after2, b5, ixDir, 1, "ckptD")
    val withB5 = rows(VectorOps.readIvfPqIndex(spark, ixDir).codes)
    assert(VectorOps.readIvfPqIndex(spark, ixDir).codes
      .filter(col("vid") >= 8000).count() === b5.count(),
      "foreign writer's fresh batch was wrongly skipped on an absorbed id")
    // ...and a replay of the ORIGINAL writer's batch on that id must
    // still skip on the absorbed marker — not crash on the new
    // occupant's ownership (the absorbed check runs first)
    VectorOps.appendBatchToIvfPqIndex(after2, b1, ixDir, 1, "ckptC")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === withB5,
      "absorbed-id replay crashed or duplicated against the new occupant")
    // fragmentation report: one row per sealed append (the fold + b5's
    // fresh write), row counts summing to the codes table
    val frag = VectorOps.ivfFragmentation(spark, ixDir).collect()
    assert(frag.map(_.getAs[Long]("append_id")).toSeq === Seq(0L, 1L))
    assert(frag.map(_.getAs[Long]("n_rows")).sum
      === VectorOps.readIvfPqIndex(spark, ixDir).codes.count())
    // the threshold dial: at/below maxAppends the artifact is untouched
    // (not even a version bump); above it the fold runs
    assert(!VectorOps.compactIvfPqIndexIfFragmented(spark, ixDir, maxAppends = 2))
    assert(new java.io.File(ixDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSeq === Seq("v=3"))
    assert(VectorOps.compactIvfPqIndexIfFragmented(spark, ixDir, maxAppends = 1))
    assert(new java.io.File(s"$ixDir/v=4/codes").listFiles()
      .map(_.getName).filter(_.startsWith("append=")).toSeq === Seq("append=0"))
    // the fold absorbed an id BOTH writers used — the marker file keeps
    // every writer's evidence (one per line), so both streams' replays
    // of id 1 keep skipping after the fold
    val folded = rows(VectorOps.readIvfPqIndex(spark, ixDir).codes)
    VectorOps.appendBatchToIvfPqIndex(after2, b1, ixDir, 1, "ckptC")
    VectorOps.appendBatchToIvfPqIndex(after2, b5, ixDir, 1, "ckptD")
    assert(rows(VectorOps.readIvfPqIndex(spark, ixDir).codes) === folded,
      "a multi-writer absorbed id lost one writer's replay-dedup evidence")
    // allocation stays above the absorbed id range: dirs collapsed to
    // append=0 but ids 1..3 are consumed — nextAppendId and the
    // one-shot allocator must both clear them
    assert(VectorOps.nextAppendId(spark, ixDir) === 4L)
    val b6 = emb.filter(col("vec_id") >= 495)
      .selectExpr("vec_id + 9000 AS vec_id", "embedding")
    VectorOps.appendToIvfPqIndex(VectorOps.readIvfPqIndex(spark, ixDir), b6, ixDir)
    assert(new java.io.File(s"$ixDir/v=4/codes").listFiles()
      .map(_.getName).filter(_.startsWith("append=")).sorted.toSeq
      === Seq("append=0", "append=4"),
      "one-shot allocation re-entered the absorbed id range")
    // a pre-versioning flat layout is refused loudly: its codes are a
    // single table already and there is no version to bump
    val flatDir = Files.createTempDirectory("graft-ivfpq-flatcmp").toString + "/ix"
    val ixFlatSrc = VectorOps.readIvfPqIndex(spark, ixDir)
    ixFlatSrc.centroids.write.parquet(s"$flatDir/centroids")
    ixFlatSrc.codebook.write.parquet(s"$flatDir/codebook")
    ixFlatSrc.codes.write.parquet(s"$flatDir/codes")
    spark.read.parquet(s"$ixDir/v=3/meta").write.parquet(s"$flatDir/meta")
    intercept[IllegalArgumentException] {
      VectorOps.compactIvfPqIndex(spark, flatDir)
    }
  }

  test("DSIR + NB models: saved artifact serves identically; crashed writes refused") {
    import graft.streaming.DocStream
    val dDir = Files.createTempDirectory("graft-dsir-m").toString + "/m"
    Classify.writeDsirModel(docs, dDir)
    assert(rows(DocStream.scoreOnIngest(docs, Classify.readDsirModel(spark, dDir)))
      === rows(DocStream.scoreOnIngest(docs, Classify.dsirModel(docs))),
      "served DSIR scores diverged from the in-query model")
    val nDir = Files.createTempDirectory("graft-nb-m").toString + "/m"
    Classify.writeNbModel(docs, nDir)
    assert(rows(DocStream.classifyOnIngest(docs, Classify.readNbModel(spark, nDir)))
      === rows(DocStream.classifyOnIngest(docs, Classify.nbModel(docs))),
      "served NB predictions diverged from the in-query model")
    // a crashed write (no _SUCCESS job-commit marker) must refuse
    // loudly: these models feed a broadcast cross join, where an empty
    // read would make every scored batch SILENTLY empty
    val torn = Files.createTempDirectory("graft-torn-m").toString + "/m"
    new java.io.File(torn).mkdirs()
    intercept[IllegalArgumentException] { Classify.readDsirModel(spark, torn) }
    intercept[IllegalArgumentException] { Classify.readNbModel(spark, torn) }
    // a pre-dense-array NB artifact (lam as a keyed MAP) must refuse
    // loudly: the array scorer would read class i+1's likelihood for
    // class i — silently-garbage predictions otherwise
    val oldDir = Files.createTempDirectory("graft-nb-old").toString + "/m"
    Classify.nbModel(docs).withColumn("lam", map(lit(0L), lit(0L)))
      .coalesce(1).write.parquet(oldDir)
    intercept[IllegalArgumentException] { Classify.readNbModel(spark, oldDir) }

    // VERSIONED refresh (r10 stretch #9): a crashed model refresh over
    // an existing artifact leaves the previous version SERVING — not
    // the flat scheme's loud refusal until retrain
    val served = rows(Classify.readDsirModel(spark, dDir))
    new java.io.File(s"$dDir/v=2/part-torn.parquet").getParentFile.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dDir/v=2/part-torn.parquet"), "torn")
    assert(rows(Classify.readDsirModel(spark, dDir)) === served,
      "a torn v=2 refresh must stay invisible; v=1 keeps serving")
    // a completed second refresh supersedes; prune reclaims v=1 and
    // the superseded torn write, keeps the newest
    Classify.writeDsirModel(docs, dDir)
    graft.core.Artifacts.pruneModelVersions(spark, dDir, keep = 1)
    val vs = new java.io.File(dDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).sorted
    assert(vs === Array("v=3"), vs.mkString(","))
    assert(rows(Classify.readDsirModel(spark, dDir)) === served)
    // legacy flat artifacts stay readable through the same gate
    val flat = Files.createTempDirectory("graft-dsir-flat").toString + "/m"
    Classify.dsirModel(docs).coalesce(1).write.parquet(flat)
    assert(rows(Classify.readDsirModel(spark, flat)) === served)
  }

  test("NB count store: incremental folds equal from-scratch counts bit-for-bit; " +
      "a crashed update keeps the previous counts serving") {
    import graft.ops.Classify
    val cDir = Files.createTempDirectory("graft-nb-counts").toString + "/c"
    Classify.writeNbCounts(docs.filter(col("doc_id") < 300), cDir)
    Classify.updateNbCounts(spark, cDir,
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400))
    Classify.updateNbCounts(spark, cDir, docs.filter(col("doc_id") >= 400))
    // counts: maintained == from-scratch (integer sums, associative)
    assert(rows(Classify.readNbCounts(spark, cDir))
      === rows(Classify.nbCounts(docs)),
      "incremental counts diverged from a from-scratch pass")
    // and the packed model is the in-query nbModel exactly
    assert(rows(Classify.nbModelFromCounts(Classify.readNbCounts(spark, cDir)))
      === rows(Classify.nbModel(docs)),
      "model packed from maintained counts diverged from nbModel")
    // a crashed (torn, unsealed) update version stays invisible
    val served = rows(Classify.readNbCounts(spark, cDir))
    new java.io.File(s"$cDir/v=9").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$cDir/v=9/part-torn.parquet"), "torn")
    assert(rows(Classify.readNbCounts(spark, cDir)) === served)

    // DSIR sibling: maintained counts == from-scratch, and the packed
    // model SERVES identically (map entry order is collection-order
    // nondeterministic, so equality is pinned on the scored output)
    val dDir = Files.createTempDirectory("graft-dsir-counts").toString + "/c"
    Classify.writeDsirCounts(docs.filter(col("doc_id") < 300), dDir)
    Classify.updateDsirCounts(spark, dDir,
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400))
    Classify.updateDsirCounts(spark, dDir, docs.filter(col("doc_id") >= 400))
    assert(rows(Classify.readDsirCounts(spark, dDir))
      === rows(Classify.dsirCounts(docs)),
      "incremental DSIR counts diverged from a from-scratch pass")
    assert(rows(graft.streaming.DocStream.scoreOnIngest(docs,
        Classify.dsirModelFromCounts(Classify.readDsirCounts(spark, dDir))))
      === rows(graft.streaming.DocStream.scoreOnIngest(docs,
        Classify.dsirModel(docs))),
      "model packed from maintained DSIR counts serves differently")
  }

  test("minhash signature store: lossless round-trip; store-fed incremental dedup equals fresh") {
    import graft.ops.Dedup
    val sDir = Files.createTempDirectory("graft-sig-store").toString + "/s"
    val history = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    Dedup.writeMinhashSignatures(history, sDir)
    val loaded = Dedup.readMinhashSignatures(spark, sDir)
    assert(rows(loaded) === rows(Dedup.minhashSignatures(history)),
      "signature round-trip drift")
    assert(rows(Dedup.incrementalCandidates(batch, loaded, 0.5))
      === rows(Dedup.incrementalCandidates(batch,
        Dedup.minhashSignatures(history), 0.5)),
      "store-fed incremental candidates diverged from fresh signatures")
    // a store whose overwrite crashed (no _SUCCESS job-commit marker)
    // must refuse to load — a silently-shrunken history would miss
    // duplicates downstream
    assert(new java.io.File(s"$sDir/_SUCCESS").delete())
    intercept[IllegalArgumentException] {
      Dedup.readMinhashSignatures(spark, sDir)
    }
  }

  test("flat signature store takedown (r13 verdict #4): suppression is a " +
      "reader gate — no caller-side anti-join — appends compose, an " +
      "unsealed tombstone dir is invisible, budget-0 serves identically") {
    import graft.ops.Dedup
    val sDir = Files.createTempDirectory("graft-sig-del").toString + "/s"
    val history = docs.filter(col("doc_id") < 400)
    Dedup.writeMinhashSignatures(history, sDir)
    val del1 = col("doc_id") % 7 === 3
    Dedup.deleteFromMinhashSignatures(spark, sDir,
      docs.filter(del1).select("doc_id"))
    // the reader itself suppresses: equals the scrubbed fresh sketch
    assert(rows(Dedup.readMinhashSignatures(spark, sDir))
      === rows(Dedup.minhashSignatures(history.filter(!del1))),
      "flat-store reader did not suppress the takedown")
    // ...and store-fed incremental dedup never pairs against them
    val batch = docs.filter(col("doc_id") >= 400)
    val cand = Dedup.incrementalCandidates(batch,
      Dedup.readMinhashSignatures(spark, sDir), 0.5)
    assert(cand.filter(col("d1") % 7 === 3 && col("d1") < 400).count() === 0)
    // a second takedown APPENDS (the sealed-family shape): both hold
    val del2 = col("doc_id") % 11 === 2
    Dedup.deleteFromMinhashSignatures(spark, sDir,
      docs.filter(del2).select("doc_id"))
    assert(rows(Dedup.readMinhashSignatures(spark, sDir))
      === rows(Dedup.minhashSignatures(history.filter(!del1 && !del2))),
      "appended takedowns did not compose")
    // an UNSEALED tombstone dir is a crashed delete — invisible
    val fs = new org.apache.hadoop.fs.Path(sDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    docs.filter(col("doc_id") % 13 === 1).select("doc_id")
      .write.parquet(s"$sDir/_tombstones/del=9")
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$sDir/_tombstones/del=9/_SUCCESS"), false)
    assert(rows(Dedup.readMinhashSignatures(spark, sDir))
      === rows(Dedup.minhashSignatures(history.filter(!del1 && !del2))),
      "a torn tombstone dir changed the served store")
    // mass-purge shape: broadcasts off force the shuffled anti-join,
    // same rows
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val shuffled = try rows(Dedup.readMinhashSignatures(spark, sDir))
      finally spark.conf.set(key, prev)
    assert(shuffled === rows(Dedup.minhashSignatures(history.filter(!del1 && !del2))),
      "shuffled-fallback read diverged")
  }

  test("flat-store OVERWRITE carries tombstones (r14 review): a rebuild " +
      "from an unscrubbed corpus cannot resurrect a takedown, the rewrite " +
      "materializes the deletion physically, and later appends stay gated") {
    import graft.ops.Dedup
    val sDir = Files.createTempDirectory("graft-sig-ow").toString + "/s"
    val history = docs.filter(col("doc_id") < 400)
    Dedup.writeMinhashSignatures(history, sDir)
    val del = col("doc_id") % 7 === 3
    Dedup.deleteFromMinhashSignatures(spark, sDir,
      docs.filter(del).select("doc_id"))
    // rebuild from the UNSCRUBBED corpus — previously Spark's overwrite
    // cleared _tombstones with the data and every takedown resurrected
    Dedup.writeMinhashSignatures(history, sDir)
    assert(rows(Dedup.readMinhashSignatures(spark, sDir))
      === rows(Dedup.minhashSignatures(history.filter(!del))),
      "overwrite resurrected a takedown")
    // the rewrite materialized the deletion: raw data scan is scrubbed
    assert(spark.read.parquet(sDir).filter(del).count() === 0,
      "overwrite did not physically scrub the deleted rows")
    // a LATER append redelivering a deleted doc stays reader-gated by
    // the carried family
    Dedup.writeMinhashSignatures(
      docs.filter(del && col("doc_id") < 400), sDir, append = true)
    assert(rows(Dedup.readMinhashSignatures(spark, sDir))
      === rows(Dedup.minhashSignatures(history.filter(!del))),
      "append after overwrite served a taken-down doc")
  }

  test("flat-store overwrite crash windows (r15 verdict #4): the takedown " +
      "set survives a crash at EVERY protocol boundary — park written, " +
      "data overwritten pre-swap — and the next overwrite heals the park") {
    import graft.ops.Dedup
    val fsp = (d: String) => new org.apache.hadoop.fs.Path(d)
    val fs = fsp("/tmp").getFileSystem(spark.sessionState.newHadoopConf())
    val history = docs.filter(col("doc_id") < 400)
    val del = col("doc_id") % 7 === 3
    val scrubbedRows = rows(Dedup.minhashSignatures(history.filter(!del)))

    // --- boundary 1: crash AFTER the park write, BEFORE the data
    // overwrite (live family still serving; park = stale snapshot)
    val d1 = Files.createTempDirectory("graft-sig-cw1").toString + "/s"
    Dedup.writeMinhashSignatures(history, d1)
    Dedup.deleteFromMinhashSignatures(spark, d1,
      docs.filter(del).select("doc_id"))
    docs.filter(del).select("doc_id").distinct()
      .write.parquet(s"$d1._tombstones_park/del=1") // the park write, then "crash"
    assert(rows(Dedup.readMinhashSignatures(spark, d1)) === scrubbedRows,
      "boundary 1: reader lost the takedown")
    Dedup.writeMinhashSignatures(
      docs.filter(del && col("doc_id") < 400), d1, append = true)
    assert(rows(Dedup.readMinhashSignatures(spark, d1)) === scrubbedRows,
      "boundary 1: append gate lost")
    Dedup.writeMinhashSignatures(history, d1) // re-run heals: park folds + renames
    assert(!fs.exists(fsp(s"$d1._tombstones_park")),
      "boundary 1: re-run left the park behind")
    assert(rows(Dedup.readMinhashSignatures(spark, d1)) === scrubbedRows,
      "boundary 1: healed store serves wrong rows")

    // --- boundary 2: crash AFTER the data overwrite, BEFORE the
    // park->family rename (park is the SOLE copy of the takedown set —
    // the exact window the old shape lost takedowns in)
    val d2 = Files.createTempDirectory("graft-sig-cw2").toString + "/s"
    Dedup.writeMinhashSignatures(history, d2)
    Dedup.deleteFromMinhashSignatures(spark, d2,
      docs.filter(del).select("doc_id"))
    Dedup.writeMinhashSignatures(history, d2) // completed overwrite...
    // ...then reconstitute the pre-rename state: family back out to the park
    assert(fs.rename(fsp(s"$d2/_tombstones"), fsp(s"$d2._tombstones_park")))
    assert(rows(Dedup.readMinhashSignatures(spark, d2)) === scrubbedRows,
      "boundary 2: reader lost the takedown while parked")
    // the property the old shape broke: a FUTURE append of a deleted doc
    // must stay suppressed even though $dir/_tombstones is gone
    Dedup.writeMinhashSignatures(
      docs.filter(del && col("doc_id") < 400), d2, append = true)
    assert(rows(Dedup.readMinhashSignatures(spark, d2)) === scrubbedRows,
      "boundary 2: append gate lost in the pre-rename window")
    Dedup.writeMinhashSignatures(history, d2) // next overwrite completes the swap
    assert(!fs.exists(fsp(s"$d2._tombstones_park")),
      "boundary 2: heal left the park behind")
    assert(fs.exists(fsp(s"$d2/_tombstones")),
      "boundary 2: heal did not land the family in the store")
    assert(rows(Dedup.readMinhashSignatures(spark, d2)) === scrubbedRows,
      "boundary 2: healed store serves wrong rows")
    assert(spark.read.parquet(d2).filter(del).count() === 0,
      "boundary 2: healed store not physically scrubbed")
  }

  test("flat-store delete collision guard (r14 ADVICE, medium): a same-n " +
      "tombstone write fails LOUDLY instead of clobbering, and the filer " +
      "skips crashed dirs when picking n") {
    import graft.ops.Dedup
    val sDir = Files.createTempDirectory("graft-sig-cg").toString + "/s"
    val history = docs.filter(col("doc_id") < 400)
    Dedup.writeMinhashSignatures(history, sDir)
    Dedup.deleteFromMinhashSignatures(spark, sDir,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    // the clobber is structurally impossible now: a second write aimed at
    // an existing del dir errors instead of silently replacing it
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.filter(col("doc_id") % 11 === 2).select("doc_id").distinct()
        .write.mode("errorifexists").parquet(s"$sDir/_tombstones/del=1")
    }
    // a crashed (unsealed) del dir occupies its id: the next filer lists
    // past it instead of colliding
    val fs = new org.apache.hadoop.fs.Path(sDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$sDir/_tombstones/del=2"))
    Dedup.deleteFromMinhashSignatures(spark, sDir,
      docs.filter(col("doc_id") % 11 === 2).select("doc_id"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$sDir/_tombstones/del=3")),
      "filer did not skip the occupied id")
    val del = col("doc_id") % 7 === 3 || col("doc_id") % 11 === 2
    assert(rows(Dedup.readMinhashSignatures(spark, sDir))
      === rows(Dedup.minhashSignatures(history.filter(!del))),
      "both takedowns should serve suppressed")
  }

  test("BPE: merge table round-trips exactly; encoding with the loaded model equals in-query training") {
    val mDir = Files.createTempDirectory("graft-bpe-model").toString + "/m"
    val trained = Bpe.bpeTrainModel(docs, 8)
    Bpe.writeBpeModel(spark, trained, mDir)
    val loaded = Bpe.readBpeModel(spark, mDir)
    assert(loaded === trained, "merge table round-trip drift")
    assert(rows(Bpe.bpeEncodeWith(docs, loaded))
      === rows(Bpe.bpeEncode(docs, 8)),
      "encoding from the loaded model diverged from in-query training")
  }

  test("linear gate: weights round-trip exactly; serving the loaded gate equals in-query training") {
    val gDir = Files.createTempDirectory("graft-gate").toString + "/g"
    val (target, w, bias) = Classify.linearProbeWeights(docs, 3)
    Classify.writeLinearGate(docs, gDir, 3)
    val (t2, w2, b2) = Classify.readLinearGate(spark, gDir)
    assert(t2 === target && b2 === bias && w2.toSeq === w.toSeq,
      "gate weights round-trip drift")
    assert(rows(Classify.linearQualityWith(docs, t2, w2, b2))
      === rows(Classify.linearQuality(docs, 3)),
      "serving the loaded gate diverged from in-query training")
  }
}
