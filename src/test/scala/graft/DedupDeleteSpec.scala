package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Deletion lifecycle for the dedup state (r11 verdict #1): the IVFADC
  * tombstone design mirrored onto the signature store + cluster
  * assignment. Contract under test, end to end:
  *
  *   delete -> tombstones land sealed; every retained assignment
  *   snapshot HEALS to exactly the from-scratch clustering of the
  *   scrubbed corpus; incremental candidates stop pairing against the
  *   deleted docs immediately; compaction MATERIALIZES the deletion
  *   (signatures physically gone, tombstones cleared), freeing the ids
  *   for deliberate re-ingest; replay of the latest batch cannot
  *   resurrect anything.
  */
class DedupDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private def docs = graft.core.Tables.documents(spark, dir)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def assignSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_id", "cluster_id", "cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Deleted ids: every doc in some near-dup cluster's MIDDLE plus the
    * MIN-id (label) of at least one cluster — doc_id % 7 == 3 hits both
    * at sf0.001 (asserted below so the fixture can't silently weaken).
    */
  private val delPred = col("doc_id") % 7 === 3

  /** Run `body` with Spark's broadcast threshold at -1: every gated
    * deletion-path join runs shuffled (and every components solve
    * distributed) — the mass-purge shape without a corpus-order
    * fixture. */
  private def broadcastsOff[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("delete heals every retained assignment snapshot to the scrubbed-corpus " +
      "from-scratch clustering; candidates exclude deleted docs immediately") {
    val state = tmp("dedup-del-state")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    // the fixture must actually exercise the heal: at least one deleted
    // doc is a cluster member, and at least one is a cluster LABEL
    val before = spark.read.parquet(s"$state/assign/ingest_batch=1")
    val deletedMembers = before.filter(delPred)
    assert(deletedMembers.count() > 0, "delete set hits no cluster member")
    assert(deletedMembers.filter(col("doc_id") === col("cluster_id")).count() > 0,
      "delete set hits no cluster label (relabeling untested)")

    Dedup.deleteFromDedupState(spark, state, docs.filter(delPred).select("doc_id"))

    val scrubbed = docs.filter(!delPred)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "healed latest assignment != from-scratch clustering of the scrubbed corpus")
    // BOTH retained snapshots healed (snapshot 0 serves replay of batch 1)
    assert(assignSet(spark.read.parquet(s"$state/assign/ingest_batch=0"))
      === assignSet(Dedup.dupClusters(scrubbed.filter(col("doc_id") < 400), 0.5)),
      "healed prior snapshot != scrubbed clustering of its own batch prefix")

    // candidates against the store stop pairing with deleted docs NOW
    // (tombstones pending, nothing materialized yet)
    val sigs = Dedup.readSignatureStoreState(spark, state)
    assert(sigs.filter(delPred).count() === 0,
      "state reader still serves deleted signatures")
    val cand = Dedup.incrementalCandidatesFromSigs(
      Dedup.minhashSignatures(docs.filter(col("doc_id") >= 400)), sigs)
    assert(cand.filter(col("d1") % 7 === 3 || col("d2") % 7 === 3).count() === 0)

    // replay of the latest batch cannot resurrect: the batch itself
    // contains deleted docs, but its re-run reads tombstone-filtered
    // state and re-heals nothing because the written sigs are filtered
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "replay of the latest batch resurrected deleted state")

    // compaction MATERIALIZES: signatures physically scrubbed from
    // every partition, tombstones cleared
    Dedup.compactSignatureStore(spark, state)
    assert(spark.read.parquet(s"$state/sigs").filter(delPred).count() === 0,
      "compaction left deleted signatures on disk")
    assert(graft.core.Artifacts.sealedFamilyDirs(
        new org.apache.hadoop.fs.Path(state)
          .getFileSystem(spark.sessionState.newHadoopConf()),
        s"$state/tombstones", "del").isEmpty,
      "compaction did not clear materialized tombstones")

    // deletion is DURABLE past the compaction (the deletion log — the
    // ANN deletion_log mirrored): re-presenting the deleted docs
    // without allowReingestDocs must NOT resurrect them
    Dedup.clustersIngestBatch(docs.filter(delPred), 2, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "re-presented docs resurrected past the deletion log")
    // deliberate re-admission: allowReingestDocs clears the log, then
    // the same batch restores full-corpus clustering
    Dedup.allowReingestDocs(spark, state, docs.filter(delPred).select("doc_id"))
    Dedup.clustersIngestBatch(docs.filter(delPred), 3, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs, 0.5)),
      "re-ingest after allowReingestDocs did not restore full-corpus clustering")
  }

  test("batch ingest refuses while assignments are unhealed (tombstones pend " +
      "but a crashed delete never ran the heal)") {
    val state = tmp("dedup-del-unhealed")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    // simulate the crash window: tombstone landed, heal never ran —
    // land the tombstone dir directly instead of via deleteFromDedupState
    docs.filter(delPred).select("doc_id").distinct()
      .write.parquet(s"$state/tombstones/del=1")
    val e = intercept[IllegalArgumentException] {
      Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    }
    assert(e.getMessage.contains("healAssignments"), e.getMessage)
    // compaction refuses to materialize-and-clear for the same reason
    // (clearing would discard the only evidence the heal needs)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.compactSignatureStore(spark, state)
    }
    assert(e2.getMessage.contains("healAssignments"), e2.getMessage)
    // healing unblocks both
    Dedup.healAssignments(spark, state)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!delPred), 0.5)))
  }

  test("crashed in-place rewrite: readers refuse on the parked original; " +
      "healRewrites rolls the sealed swap forward") {
    val state = tmp("dedup-del-crash")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.deleteFromDedupState(spark, state, docs.filter(delPred).select("doc_id"))
    val scrubbedAssign = assignSet(Dedup.readClusterAssignment(spark, state))
    // simulate a crash between park and swap-in on a sigs partition:
    // copy the partition to a sealed tmp, then park the original
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sigsRoot = s"$state/sigs"
    val part = "ingest_batch=0"
    spark.read.parquet(s"$sigsRoot/$part").write.parquet(s"$sigsRoot/_rw_tmp_$part")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$sigsRoot/$part"),
      new org.apache.hadoop.fs.Path(s"$sigsRoot/_rw_old_$part")))
    // reader refuses LOUDLY (a plain read would silently see an empty store)
    val e = intercept[IllegalArgumentException] {
      Dedup.readSignatureStoreState(spark, state)
    }
    assert(e.getMessage.contains("crashed"), e.getMessage)
    // compaction heals on entry: swap rolled forward, reads serve again
    Dedup.compactSignatureStore(spark, state)
    assert(Dedup.readSignatureStoreState(spark, state).count() > 0)
    assert(assignSet(Dedup.readClusterAssignment(spark, state)) === scrubbedAssign)
  }

  test("maintainDedupState: one op heals a crashed delete, compacts small-file " +
      "creep, materializes tombstones, and reports dup_recall 1.0; replay-safe") {
    val state = tmp("dedup-maintain")
    // two fold cycles' worth of small batches -> small-file creep
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 200), 0, state)
    Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 400), 1, state)
    Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 600), 2, state)
    Dedup.clustersIngestBatch(
      docs.filter(col("doc_id") >= 600 && col("doc_id") < 800), 3, state)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 800), 4, state)
    // crashed delete: tombstone landed, heal never ran
    docs.filter(delPred).select("doc_id").distinct()
      .write.parquet(s"$state/tombstones/del=1")

    val rep = Dedup.maintainDedupState(spark, state).collect().head
    assert(rep.getAs[Boolean]("healed_delete"))
    assert(rep.getAs[Long]("n_tombstoned_docs") > 0)
    assert(rep.getAs[Long]("n_sig_partitions_before") === 5L)
    assert(rep.getAs[Long]("n_sig_partitions_after") === 3L,
      "compaction did not settle the store at {base, previous, current}")
    assert(rep.getAs[Double]("dup_recall") === 1.0,
      s"self-recall probe missed stored twins: ${rep}")
    assert(rep.getAs[Long]("panel_n") > 0)

    val scrubbed = docs.filter(!delPred)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "maintain's heal diverged from the scrubbed-corpus recompute")
    assert(spark.read.parquet(s"$state/sigs").filter(delPred).count() === 0,
      "maintain did not materialize the deletion")

    // replay of the latest batch after maintenance: the checkpointed
    // source redelivers the ORIGINAL content, deleted docs included —
    // the deletion log must keep suppressing them (the resurrection
    // window tombstone-clearing alone left open)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 800), 4, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "replay after maintenance resurrected deleted docs past the log")

    // a second maintain run on settled state is a stable no-op
    val rep2 = Dedup.maintainDedupState(spark, state).collect().head
    assert(!rep2.getAs[Boolean]("healed_delete"))
    assert(rep2.getAs[Long]("n_tombstoned_docs") === 0L)
    assert(rep2.getAs[Double]("dup_recall") === 1.0)
  }

  test("allowReingestDocs refuses while a deletion is still pending (a log-only " +
      "edit would silently no-op and the next compaction would suppress forever)") {
    val state = tmp("dedup-reingest-pending")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.deleteFromDedupState(spark, state, docs.filter(delPred).select("doc_id"))
    val e = intercept[IllegalArgumentException] {
      Dedup.allowReingestDocs(spark, state, docs.filter(delPred).select("doc_id"))
    }
    assert(e.getMessage.contains("PENDING"), e.getMessage)
    // after materialization the same call succeeds and re-opens ingest
    Dedup.compactSignatureStore(spark, state)
    Dedup.allowReingestDocs(spark, state, docs.filter(delPred).select("doc_id"))
    Dedup.clustersIngestBatch(docs.filter(delPred && col("doc_id") < 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(col("doc_id") < 400), 0.5)))
  }

  test("compaction tolerates a torn NEWEST partition in the append path (the " +
      "crashed-stream state replay heals) but refuses to materialize over it") {
    val state = tmp("dedup-torn-newest")
    (0 until 5).foreach { b =>
      Dedup.clustersIngestBatch(
        docs.filter(col("doc_id") % 5 === b), b, state)
    }
    // crash the newest sigs write (the state clustersIngestBatch's own
    // torn gate tolerates pending replay of id == max)
    assert(new java.io.File(s"$state/sigs/ingest_batch=4/_SUCCESS").delete())
    // append-path compaction (no tombstones) succeeds: it never touches
    // the top two partitions
    Dedup.compactSignatureStore(spark, state)
    val parts = new java.io.File(s"$state/sigs").listFiles()
      .map(_.getName).filter(_.matches("ingest_batch=\\d+")).sorted
    assert(parts === Array("ingest_batch=0", "ingest_batch=3", "ingest_batch=4"),
      parts.mkString(","))
    // but a MATERIALIZING compaction may rewrite any partition, and a
    // torn one cannot certify its tombstoned rows — refuse loudly
    // (heal the torn batch first, then delete materializes)
    spark.createDataFrame(Seq(Tuple1(0L))).toDF("doc_id")
      .write.parquet(s"$state/tombstones/del=1")
    // the heal itself refuses over the torn prefix (r12 ADVICE): the
    // newest snapshot's re-derive would read the partial partition —
    // but every CLEAN-prefix snapshot heals before the refusal, so the
    // prior snapshot is already scrubbed
    val eh = intercept[IllegalArgumentException] {
      Dedup.healAssignments(spark, state)
    }
    assert(eh.getMessage.contains("unsealed"), eh.getMessage)
    assert(spark.read.parquet(s"$state/assign/ingest_batch=3")
      .filter(col("doc_id") === 0).count() === 0,
      "clean-prefix snapshot did not heal before the torn refusal")
    // compaction refuses too: the newest snapshot is still unhealed
    val e = intercept[IllegalArgumentException] {
      Dedup.compactSignatureStore(spark, state)
    }
    assert(e.getMessage.contains("healAssignments"), e.getMessage)
    // replay of the torn id is NOT deadlocked by the unhealed gate
    // (its own snapshot is exempt — it rebuilds from the healed prior
    // base with deleted-filtered reads); the tear re-seals, the
    // remaining heal is a no-op, materialization proceeds
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") % 5 === 4), 4, state)
    Dedup.healAssignments(spark, state)
    Dedup.compactSignatureStore(spark, state)
    assert(spark.read.parquet(s"$state/sigs")
      .filter(col("doc_id") === 0).count() === 0)
    assert(spark.read.parquet(s"$state/assign/ingest_batch=4")
      .filter(col("doc_id") === 0).count() === 0,
      "replayed snapshot resurrected the deleted doc")
  }

  test("deleting docs that never clustered (or repeating a delete) is a no-op " +
      "for the assignment and still filters their signatures") {
    val state = tmp("dedup-del-noop")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    val before = assignSet(Dedup.readClusterAssignment(spark, state))
    // pick docs with no assignment row (singletons)
    val singletons = docs.filter(col("doc_id") < 400)
      .join(spark.read.parquet(s"$state/assign/ingest_batch=0")
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id").limit(3).localCheckpoint(true)
    assert(singletons.count() > 0)
    Dedup.deleteFromDedupState(spark, state, singletons)
    assert(assignSet(Dedup.readClusterAssignment(spark, state)) === before)
    assert(Dedup.readSignatureStoreState(spark, state)
      .join(singletons, Seq("doc_id"), "semi").count() === 0)
    // idempotent second delete of the same ids
    Dedup.deleteFromDedupState(spark, state, singletons)
    assert(assignSet(Dedup.readClusterAssignment(spark, state)) === before)
  }

  test("mega-cluster heal: a degenerate cluster over the broadcast row budget " +
      "falls back to shuffled joins and still heals to the scrubbed clustering " +
      "(r12 verdict #2)") {
    import spark.implicits._
    // planted hostile shape: one boilerplate text glues 300 docs into a
    // single cluster whose survivors exceed any sane broadcast budget
    val giant = (0L until 300L)
      .map(i => (i, "the same boilerplate navigation footer text on every page"))
    val uniq = (1000L until 1010L)
      .map(i => (i, s"unique document $i carrying tokens w${i * 17} w${i * 31} w${i * 53}"))
    val corpus = (giant ++ uniq).toDF("doc_id", "text").localCheckpoint(true)
    val state = tmp("dedup-mega")
    Dedup.clustersIngestBatch(corpus, 0, state)
    assert(Dedup.readClusterAssignment(spark, state)
      .filter(col("cluster_size") >= 300).count() >= 300,
      "fixture did not plant a giant cluster")
    // broadcasts off force EVERY gated join (tombs semi, touched
    // semi/anti, survivors semi) onto the shuffled path; deleting doc 0
    // — the giant cluster's min-id LABEL — also forces a full relabel
    broadcastsOff(Dedup.deleteFromDedupState(spark, state, Seq(0L).toDF("doc_id")))
    val scrubbed = corpus.filter(col("doc_id") =!= 0L)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "shuffled-path heal != from-scratch clustering of the scrubbed corpus")
  }

  test("healAssignments refuses while a torn sigs partition sits under a " +
      "retained snapshot's read prefix (r12 ADVICE)") {
    val state = tmp("dedup-torn-heal")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    // tear batch 0's sigs (crash mid-ingest-write shape): its rows are
    // a committer-dependent partial subset a heal must never re-derive
    // clusters from
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$state/sigs/ingest_batch=0/_SUCCESS"), false)
    val e = intercept[IllegalArgumentException] {
      Dedup.deleteFromDedupState(spark, state,
        docs.filter(delPred).select("doc_id"))
    }
    assert(e.getMessage.contains("unsealed"), e.getMessage)
    // re-sealing (the replay's effect on the torn partition) unblocks;
    // tombstones from the refused delete are still pending, so the
    // heal completes on retry
    fs.create(new org.apache.hadoop.fs.Path(
      s"$state/sigs/ingest_batch=0/_SUCCESS"), true).close()
    Dedup.healAssignments(spark, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!delPred), 0.5)))
  }

  test("a failed snapshot heal rethrows only after its sibling heals finish: " +
      "no rewrite is still in flight when the error surfaces") {
    val state = tmp("dedup-heal-drain")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    // a crashed delete: the tombstones landed, the heal never ran
    docs.filter(delPred).select("doc_id").distinct()
      .write.parquet(s"$state/tombstones/del=1")
    // snapshot 0's heal fails at its first read (corrupt part files),
    // long before snapshot 1's ladder of heal jobs can finish
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/assign/ingest_batch=0"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).foreach { p =>
        val out = fs.create(p, true)
        try out.write("not parquet".getBytes("UTF-8")) finally out.close()
      }
    intercept[Exception](Dedup.healAssignments(spark, state))
    // checked the moment the error surfaces: no rewrite tmp or park
    // left under assign, and snapshot 1 already healed
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/assign"))
      .map(_.getPath.getName)
    assert(!names.exists(_.startsWith("_rw_")), names.mkString(","))
    val unhealed = spark.read.parquet(s"$state/assign/ingest_batch=1").filter(delPred)
    assert(unhealed.isEmpty, "snapshot 1 still holds tombstoned docs: its heal was still running")
  }

  test("versioned deletion log (r12 verdict #5): compactions APPEND sealed " +
      "log dirs, suppression spans all of them, the family folds past the " +
      "threshold, and re-admission removes exactly the requested ids") {
    import spark.implicits._
    val state = tmp("dedup-log-family")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def sealedLogs = graft.core.Artifacts
      .sealedFamilyDirs(fs, s"$state/deletion_log", "log").count(_._2)
    // two takedown events, two compactions → two sealed log dirs, no
    // rewrite of the first event's log on the second compaction
    val del1 = col("doc_id") % 11 === 1
    val del2 = col("doc_id") % 11 === 2
    Dedup.deleteFromDedupState(spark, state, docs.filter(del1).select("doc_id"))
    Dedup.compactSignatureStore(spark, state)
    assert(sealedLogs === 1)
    Dedup.deleteFromDedupState(spark, state, docs.filter(del2).select("doc_id"))
    Dedup.compactSignatureStore(spark, state)
    assert(sealedLogs === 2, "second compaction did not append its own log dir")
    // suppression spans BOTH events: re-presenting either set cannot
    // resurrect past the (multi-dir) log
    Dedup.clustersIngestBatch(docs.filter(del1 || del2), 2, state)
    val scrubbed = docs.filter(!del1 && !del2)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(scrubbed, 0.5)),
      "re-presented docs resurrected past the versioned deletion log")
    // re-admit ONLY the first event's ids: the family rewrites to one
    // dir holding exactly the second set, which stays suppressed
    Dedup.allowReingestDocs(spark, state, docs.filter(del1).select("doc_id"))
    assert(sealedLogs === 1, "re-admission did not rewrite the family")
    Dedup.clustersIngestBatch(docs.filter(del1 || del2), 3, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!del2), 0.5)),
      "partial re-admission suppressed the wrong ids")

    // FOLD: plant a long takedown history (ids outside the corpus —
    // suppressing absent docs is inert), then one more delete+compact
    // folds the family to a single dir without losing any suppression
    (1 to 8).foreach { i =>
      Seq(1000000L + i).toDF("doc_id")
        .write.parquet(s"$state/deletion_log/log=${100 + i}")
    }
    val del3 = col("doc_id") % 11 === 3
    Dedup.deleteFromDedupState(spark, state, docs.filter(del3).select("doc_id"))
    Dedup.compactSignatureStore(spark, state)
    assert(sealedLogs === 1,
      s"family did not fold past the threshold (got $sealedLogs dirs)")
    // folded log still carries every id: planted + both live sets
    Dedup.clustersIngestBatch(docs.filter(del2 || del3), 4, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!del2 && !del3), 0.5)),
      "fold lost suppression for a pre-fold takedown")
  }

  test("maintenance lease (r12 verdict #3): a live concurrent holder refuses; " +
      "a crashed holder heals by TTL or explicit break; the op releases on exit") {
    val state = tmp("dedup-lease")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 200), 0, state)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(s"$state/_MAINT_LEASE")
    def plantLease(holder: String, expiresAt: Long): Unit = {
      val out = fs.create(p, true)
      try out.write(s"$holder|$expiresAt".getBytes("UTF-8")) finally out.close()
    }
    // a LIVE holder (overlapping cron): both maintenance entry points refuse
    plantLease("other-cron", System.currentTimeMillis() + 3600000L)
    val e = intercept[IllegalArgumentException] {
      Dedup.maintainDedupState(spark, state)
    }
    assert(e.getMessage.contains("under maintenance"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.compactSignatureStore(spark, state)
    }
    assert(e2.getMessage.contains("under maintenance"), e2.getMessage)
    // explicit break (holder known dead before its TTL) unblocks
    graft.core.Artifacts.breakMaintenanceLease(spark, state)
    Dedup.maintainDedupState(spark, state)
    assert(!fs.exists(p), "maintenance did not release its lease on exit")
    // a crashed holder whose TTL lapsed heals by timeout
    plantLease("dead-cron", System.currentTimeMillis() - 1000L)
    Dedup.maintainDedupState(spark, state)
    assert(!fs.exists(p))
    // a YOUNG torn lease (crashed — or still IN-FLIGHT — claim write)
    // reads as LIVE for the grace period: the create-then-write window
    // must never be swept by a concurrent reader
    val out = fs.create(p, true); out.close()
    val eTorn = intercept[IllegalArgumentException] {
      Dedup.maintainDedupState(spark, state)
    }
    assert(eTorn.getMessage.contains("torn lease"), eTorn.getMessage)
    // ...while an OLD torn lease (a crashed claim, hours dead) heals
    // as an expired holder
    assert(new java.io.File(s"$state/_MAINT_LEASE")
      .setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    Dedup.maintainDedupState(spark, state)
    assert(!fs.exists(p))
  }

  test("lease heartbeat (r13 stretch #8): a slow holder that refreshes at " +
      "phase boundaries outlives its TTL unswept; a frozen one still heals " +
      "by TTL; a holder that LOST its lease refuses at the next boundary") {
    val state = tmp("dedup-lease-heartbeat")
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(s"$state/_MAINT_LEASE")
    // a slow-but-alive holder: tiny TTL, refresh mid-body, then sleep
    // past the ORIGINAL expiry — a contender must still refuse
    graft.core.Artifacts.withMaintenanceLeaseRefresh(fs, state,
        "slow-op", ttlMs = 500L) { refresh =>
      // refresh well before (expiry − ttl/4 margin): a heartbeat at the
      // boundary itself now REFUSES (the r14 lapsed-re-stamp fix)
      Thread.sleep(200L); refresh(); Thread.sleep(350L)
      // 550 ms elapsed > original 500 ms TTL; the refreshed lease is live
      val e = intercept[IllegalArgumentException] {
        graft.core.Artifacts.withMaintenanceLease(fs, state, "contender") {}
      }
      assert(e.getMessage.contains("under maintenance"), e.getMessage)
    }
    assert(!fs.exists(p), "refreshing holder did not release on exit")
    // a FROZEN holder (never refreshes) heals by TTL as before
    graft.core.Artifacts.withMaintenanceLeaseRefresh(fs, state,
        "frozen-op", ttlMs = 100L) { _ =>
      Thread.sleep(250L)
      graft.core.Artifacts.withMaintenanceLease(fs, state, "healer") {}
    }
    // a holder whose lease was swept and re-claimed mid-run must refuse
    // at its next refresh instead of interleaving with the successor
    val eLost = intercept[IllegalArgumentException] {
      graft.core.Artifacts.withMaintenanceLeaseRefresh(fs, state,
          "laggard", ttlMs = 100L) { refresh =>
        Thread.sleep(250L)
        // successor legitimately claims the expired lease...
        graft.core.Artifacts.withMaintenanceLease(fs, state, "successor",
          ttlMs = 3600000L) {
          refresh() // ...so the laggard's heartbeat must abort loudly
        }
      }
    }
    assert(eLost.getMessage.contains("lost mid-run"), eLost.getMessage)
    // a heartbeat arriving at/past its own expiry refuses to re-stamp
    // even when nobody has claimed yet (r14 review: a contender could
    // be sweeping BETWEEN the token check and the overwrite — past the
    // TTL the re-stamp is a silent clobber, not a heartbeat)
    val eLate = intercept[IllegalArgumentException] {
      graft.core.Artifacts.withMaintenanceLeaseRefresh(fs, state,
          "late-op", ttlMs = 200L) { refresh =>
        Thread.sleep(250L)
        refresh()
      }
    }
    assert(eLate.getMessage.contains("lapsed"), eLate.getMessage)
  }

  test("legacy FLAT deletion_log stays readable and migrates into the family " +
      "on the next compaction — no takedown resurfaces (r13 review)") {
    val state = tmp("dedup-flat-log")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    // plant the OLD layout: root-level parquet sealed by the root
    // _SUCCESS (exactly what a parquet write produces), holding ids
    // the state has NOT ingested yet — the pre-family suppression set
    val legacyDel = col("doc_id") >= 400 && col("doc_id") % 3 === 0
    docs.filter(legacyDel).select("doc_id").distinct()
      .coalesce(1).write.parquet(s"$state/deletion_log")
    // the flat log suppresses immediately: a batch presenting those
    // docs must not ingest them
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!legacyDel), 0.5)),
      "legacy flat deletion_log was not honored")
    // a fresh takedown + compaction MIGRATES: family-only layout, flat
    // files retired, BOTH suppression sets intact
    val newDel = col("doc_id") < 400 && col("doc_id") % 19 === 5
    Dedup.deleteFromDedupState(spark, state, docs.filter(newDel).select("doc_id"))
    Dedup.compactSignatureStore(spark, state)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.core.Artifacts.sealedFamilyDirs(fs,
      s"$state/deletion_log", "log").count(_._2) === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$state/deletion_log/_SUCCESS")), "flat root seal not retired")
    Dedup.clustersIngestBatch(docs.filter(legacyDel || newDel), 2, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!legacyDel && !newDel), 0.5)),
      "a takedown resurfaced across the flat-to-family migration")
  }

  test("a TORN first migrating compaction append cannot strand the legacy flat " +
      "log: the re-run still folds its ids into the family (r13 ADVICE, high)") {
    val state = tmp("dedup-torn-migration")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    // the OLD layout: root-level parquet sealed by root _SUCCESS,
    // holding not-yet-ingested ids (the pre-family suppression set)
    val legacyDel = col("doc_id") >= 400 && col("doc_id") % 3 === 0
    docs.filter(legacyDel).select("doc_id").distinct()
      .coalesce(1).write.parquet(s"$state/deletion_log")
    // the crash artifact: the FIRST migrating append died after its
    // data files but before its seal — an unsealed log=1 holding only
    // that run's tombstones, root _SUCCESS still present, tombstones
    // never cleared (the clear runs after the log write)
    val crashDel = col("doc_id") < 400 && col("doc_id") % 19 === 5
    docs.filter(crashDel).select("doc_id").distinct()
      .write.parquet(s"$state/deletion_log/log=1")
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$state/deletion_log/log=1/_SUCCESS"), false)
    // readers between the crash and the re-run must not trip partition
    // discovery over the flat+unsealed coexistence
    assert(Dedup.readSignatureStoreState(spark, state).count() > 0)
    // the re-run: re-issue the delete (its tombstones never cleared in
    // the real crash; idempotent here) and compact again
    Dedup.deleteFromDedupState(spark, state, docs.filter(crashDel).select("doc_id"))
    Dedup.compactSignatureStore(spark, state)
    // family-only layout: flat retired, torn dir swept, and the sealed
    // family carries BOTH the legacy ids and the crashed run's
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$state/deletion_log/_SUCCESS")), "flat root seal not retired")
    val sealedDirs = graft.core.Artifacts.sealedFamilyDirs(fs,
      s"$state/deletion_log", "log")
    assert(sealedDirs.nonEmpty && sealedDirs.forall(_._2),
      s"torn log dir survived the re-run: $sealedDirs")
    val logged = spark.read.parquet(sealedDirs.map { case (a, _) =>
        s"$state/deletion_log/log=$a" }: _*)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val legacyIds = docs.filter(legacyDel).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(legacyIds.subsetOf(logged),
      "legacy flat ids lost across the torn migration re-run")
    // and suppression holds end-to-end: a batch presenting the legacy
    // ids must not ingest them
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!legacyDel && !crashDel), 0.5)),
      "a takedown resurfaced across the torn migration re-run")
  }

  test("a migration crashed AFTER its sealed log write but BEFORE flat " +
      "retirement still retires the flat remnants on the NEXT compaction " +
      "(r14 ADVICE): the family becomes the only layout, nothing strands") {
    val state = tmp("dedup-postseal-migration")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    val legacyDel = col("doc_id") >= 400 && col("doc_id") % 3 === 0
    docs.filter(legacyDel).select("doc_id").distinct()
      .coalesce(1).write.parquet(s"$state/deletion_log")
    // the crash artifact this fix targets: the first migrating
    // compaction COMPLETED its sealed log=1 write (flat ids folded in)
    // but died before retiring the flat layout — root _SUCCESS and the
    // flat parquet files coexist with a SEALED family dir. Pre-fix,
    // every later run computed flatSealed=false (a sealed dir exists)
    // and the remnants survived forever.
    docs.filter(legacyDel).select("doc_id").distinct()
      .write.parquet(s"$state/deletion_log/log=1")
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val flatFilesBefore = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$state/deletion_log"))
      .count(_.isFile)
    assert(flatFilesBefore > 0, "fixture lost its flat files")
    // the NEXT ordinary takedown + compaction retires the remnants
    val newDel = col("doc_id") < 400 && col("doc_id") % 19 === 5
    Dedup.deleteFromDedupState(spark, state, docs.filter(newDel).select("doc_id"))
    Dedup.compactSignatureStore(spark, state)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$state/deletion_log/_SUCCESS")),
      "stale flat root marker survived the post-seal migration crash")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/deletion_log"))
      .count(_.isFile) === 0,
      "flat parquet files survived — the family never became the only layout")
    // and no takedown resurfaces: the sealed family carries BOTH sets
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!legacyDel && !newDel), 0.5)),
      "a takedown resurfaced after the flat retirement")
  }

  test("a crashed drop-all re-admission (root _SUCCESS over an empty family) " +
      "reads as NO log — readers serve, ingest re-admits (r13 ADVICE, medium)") {
    val state = tmp("dedup-dropall-crash")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
    val del = col("doc_id") < 400 && col("doc_id") % 19 === 5
    Dedup.deleteFromDedupState(spark, state, docs.filter(del).select("doc_id"))
    Dedup.compactSignatureStore(spark, state) // materialize into the log
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the pre-fix crash artifact: the recursive family delete
    // removed every log= dir but a root _SUCCESS survived (delete
    // ordering is unspecified; the partial-rewrite branch writes one)
    graft.core.Artifacts.sealedFamilyDirs(fs, s"$state/deletion_log", "log")
      .foreach { case (a, _) => fs.delete(new org.apache.hadoop.fs.Path(
        s"$state/deletion_log/log=$a"), true) }
    fs.create(new org.apache.hadoop.fs.Path(
      s"$state/deletion_log/_SUCCESS"), true).close()
    // every reader must treat this as "no deletion log" — not a
    // schema-inference crash on an empty flat read
    assert(Dedup.readSignatureStoreState(spark, state).count() > 0)
    // the documented recovery — re-running the re-admission — works
    Dedup.allowReingestDocs(spark, state, docs.filter(del).select("doc_id"))
    // and the drop-all's intent holds: the ids re-ingest freely
    Dedup.clustersIngestBatch(docs.filter(del || col("doc_id") >= 400), 1, state)
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs, 0.5)),
      "re-admitted docs stayed suppressed after the crashed drop-all")
  }

  test("a lease that VANISHES mid-read reads as no lease, not a young torn " +
      "one — a released lease racing the read must not refuse (r13 ADVICE)") {
    val state = tmp("dedup-lease-vanish")
    val raw = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val leaseP = new org.apache.hadoop.fs.Path(s"$state/_MAINT_LEASE")
    // a filesystem where the lease exists at the first check but has
    // vanished by the read — the release-vs-read race, made mechanical
    var calls = 0
    val fs = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def exists(p: org.apache.hadoop.fs.Path): Boolean =
        if (p == leaseP) { calls += 1; calls == 1 } else super.exists(p)
      override def getFileStatus(p: org.apache.hadoop.fs.Path)
          : org.apache.hadoop.fs.FileStatus =
        if (p == leaseP) throw new java.io.FileNotFoundException(p.toString)
        else super.getFileStatus(p)
    }
    // must neither refuse ("under maintenance by '<torn lease>'") nor
    // leak the FileNotFoundException
    graft.core.Artifacts.requireNoLiveMaintenanceLease(fs, state, "test")
    assert(calls >= 1)
  }

  test("mass-purge shape: with the deletion-path broadcast budget forced to 0, " +
      "ingest filtering, the healed-gate, store reads, and compaction all run " +
      "their shuffled fallbacks and the lifecycle output is identical") {
    val state = tmp("dedup-mass-purge")
    broadcastsOff {
      Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 400), 0, state)
      Dedup.deleteFromDedupState(spark, state,
        docs.filter(delPred).select("doc_id"))
      // store read (anti-join shuffled) serves the scrubbed signatures
      assert(Dedup.readSignatureStoreState(spark, state)
        .filter(delPred).count() === 0)
      // ingest through the gated filter + healed-gate (both shuffled)
      Dedup.clustersIngestBatch(docs.filter(col("doc_id") >= 400), 1, state)
      // compaction's materialize probes/rewrites run shuffled too
      Dedup.compactSignatureStore(spark, state)
      assert(spark.read.parquet(s"$state/sigs").filter(delPred).count() === 0)
    }
    assert(assignSet(Dedup.readClusterAssignment(spark, state))
      === assignSet(Dedup.dupClusters(docs.filter(!delPred), 0.5)),
      "shuffled-fallback lifecycle != broadcast lifecycle output")
  }

  test("compaction with pending tombstones but an empty signature store " +
      "refuses with the re-ingest recipe, not a bare head crash (r12 ADVICE)") {
    val state = tmp("dedup-empty-compact")
    Dedup.clustersIngestBatch(docs.filter(col("doc_id") < 200), 0, state)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the documented torn-heal recipe on a single-partition store:
    // delete the torn partition (here: the only one) — then a pending
    // tombstone must not crash compaction with NoSuchElementException
    Dedup.deleteFromDedupState(spark, state,
      docs.filter(col("doc_id") === 5).select("doc_id"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/sigs/ingest_batch=0"), true)
    // the assignment still holds rows for other docs; clear it the way
    // the recipe's re-ingest would not have yet — the guard must fire
    // BEFORE any heal/assignment logic touches ids.head
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/assign"), true)
    val e = intercept[IllegalArgumentException] {
      Dedup.compactSignatureStore(spark, state)
    }
    assert(e.getMessage.contains("no signature partitions"), e.getMessage)
  }
}
