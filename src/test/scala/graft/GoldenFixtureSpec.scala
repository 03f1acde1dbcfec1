package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Semantic
import graft.tfidf.TfIdf

/** Reference-parity golden fixtures (FIXTURES.md §A): observed outputs
  * of the reference program on the 5-document corpus, hand-verified
  * against the formulas in SURVEY.md §2.3.
  */
class GoldenFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def corpus(lines: (String, String)*) = {
    import spark.implicits._
    lines.toDF("doc_id", "text")
  }

  private val golden = corpus(
    "d1" -> "gene_egfr_gene gene_kras_gene apple",
    "d2" -> "gene_egfr_gene gene_egfr_gene gene_tp53_gene banana",
    "d3" -> "gene_kras_gene apple banana",
    "d4" -> "gene_egfr_gene gene_tp53_gene gene_tp53_gene",
    "d5" -> "apple banana cherry")

  /** Unrounded (`roundDigits = -1`), so the reference's printed doubles
    * can be compared exactly. */
  private def related(query: String): Seq[(String, Double)] =
    Semantic.relatedTerms(golden, query, k = 5, termPred = Some(Semantic.geneTermPredicate),
      roundDigits = -1)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  test("golden: query gene_egfr_gene → tp53 then kras (FIXTURES A.2)") {
    assert(related("gene_egfr_gene") ==
      Seq("gene_tp53_gene" -> 0.7096661947545744, "gene_kras_gene" -> 0.34299717028501764))
  }

  test("golden: query gene_tp53_gene → egfr only (kras sim 0 filtered)") {
    assert(related("gene_tp53_gene") == Seq("gene_egfr_gene" -> 0.7096661947545744))
  }

  test("golden: symmetry sim(kras→egfr) == sim(egfr→kras)") {
    assert(related("gene_kras_gene") == Seq("gene_egfr_gene" -> 0.34299717028501764))
  }

  test("golden: the driver index of a persisted, loaded tf gives the same rows") {
    // no termPred on the driver path: rank every term, keep the gene ones.
    // The expected rows first: relatedTerms caches the same plan and
    // drops that cache when done.
    val expected = Seq("gene_egfr_gene", "gene_tp53_gene", "gene_kras_gene").map(q => q -> related(q))
    val tf = TfIdf.tfidf(golden).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tf.count()
      for ((q, rows) <- expected) {
        val out = Semantic.relatedTermsFrom(tf, q, k = 100, roundDigits = -1)
        assert(out.queryExecution.executedPlan.nodeName == "LocalTableScan", q)
        val gene = out.collect().map(r => (r.getString(0), r.getDouble(1)))
          .filter { case (t, _) => t.startsWith("gene_") && t.endsWith("_gene") }.take(5).toSeq
        assert(gene == rows, q)
      }
    } finally tf.unpersist(false)
  }

  test("edge: a loaded tf with no rows (blank documents only) is served from the driver") {
    // adaptive execution plans the empty table as an empty relation,
    // which has no hash(term) layout to check
    val tf = TfIdf.tfidf(corpus("d1" -> "", "d2" -> "   "))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(tf.count() == 0)
      val out = Semantic.relatedTermsFrom(tf, "apple", k = 5)
      assert(out.queryExecution.executedPlan.nodeName == "LocalTableScan")
      assert(out.collect().isEmpty)
    } finally tf.unpersist(false)
  }

  test("edge: a query term in every document (idf 0, so ‖q‖ = 0) → empty result") {
    val c = corpus("d1" -> "the apple", "d2" -> "the banana apple", "d3" -> "the cherry")
    assert(Semantic.relatedTerms(c, "the", k = 5).collect().isEmpty)
  }

  test("edge: a termPred that excludes the query term still scores the terms it keeps") {
    // the query's own vector is read from the unfiltered table; tp53
    // never shares a document with apple, so it scores 0 and drops
    val got = related("apple")
    assert(got.map(_._1) == Seq("gene_kras_gene", "gene_egfr_gene"))
    assert(math.abs(got(0)._2 - 0.816496580927726) < 1e-12)
    assert(math.abs(got(1)._2 - 0.28005601680560194) < 1e-12)
  }

  test("golden: nonexistent query term → empty result, no error") {
    assert(related("gene_nonexistent_gene").isEmpty)
  }

  test("edge: duplicate doc id pools counts but m stays the line count (FIXTURES A.3)") {
    val c = corpus(
      "d1" -> "gene_egfr_gene apple",
      "d1" -> "gene_egfr_gene banana",
      "d2" -> "gene_kras_gene gene_egfr_gene")
    val got = Semantic.relatedTerms(c, "gene_egfr_gene", k = 5,
        termPred = Some(Semantic.geneTermPredicate))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == Seq("gene_kras_gene"))
    assert(math.abs(got(0)._2 - 0.7071067811865476) < 1e-8)
  }

  test("edge: blank documents are dropped from tokens but count toward m") {
    val c = corpus("d1" -> "a b", "d2" -> "", "d3" -> "a c")
    assert(TfIdf.tokens(c).count() == 4)
    // m = 3 (row count): idf(a) = log10(3/2) ≠ 0, so 'a' survives.
    val tf = TfIdf.tfidf(c)
    val idfA = tf.filter(org.apache.spark.sql.functions.col("term") === "a")
      .select("tfidf").collect().map(_.getDouble(0))
    assert(idfA.forall(v => math.abs(v - 0.5 * math.log10(1.5)) < 1e-12))
  }

  test("shuffled-join fallback (broadcastQuery=false) gives identical results") {
    // the stop-word escape hatch for queries whose vector would exceed
    // broadcast limits at extreme scale — must be result-identical
    val a = Semantic.relatedTerms(golden, "gene_egfr_gene", k = 5,
      termPred = Some(Semantic.geneTermPredicate), broadcastQuery = true)
      .collect().map(_.toString).toSeq
    val b = Semantic.relatedTerms(golden, "gene_egfr_gene", k = 5,
      termPred = Some(Semantic.geneTermPredicate), broadcastQuery = false)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("determinism: the tf table and raw similarities are identical at 1, 3 and 4 " +
      "shuffle partitions (seeded corpus with duplicate doc ids)") {
    val rnd = new scala.util.Random(20261018L)
    val vocab = (0 until 40).map(i => s"t$i")
    // 300 lines over 240 ids; a squared uniform skews terms toward t0
    val lines = (0 until 300).map { i =>
      s"d${i % 240}" -> Seq.fill(3 + rnd.nextInt(28))(
        vocab((math.pow(rnd.nextDouble(), 2) * vocab.size).toInt)).mkString(" ")
    }
    val docs = corpus(lines: _*)
    val queries = Seq("t0", "t3", "t17")
    def run(): (Seq[String], Seq[Seq[(String, Double)]]) = {
      val tf = TfIdf.tfidf(docs).collect().map(_.toString).sorted.toSeq
      val sims = queries.map(q => Semantic.relatedTerms(docs, q, k = 10, roundDigits = -1)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
      (tf, sims)
    }
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val outs = Seq(1, 3, 4).map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        run()
      }
      assert(outs.head._1.length > 1000 && outs.head._2.forall(_.length == 10))
      outs.tail.foreach(o => assert(o == outs.head))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("tfidf table shape: one row per (doc, term), df and totals correct") {
    val tf = TfIdf.tfidf(golden).collect()
    assert(tf.length == 14)
    val egfrD2 = tf.find(r => r.getString(0) == "d2" && r.getString(1) == "gene_egfr_gene").get
    assert(egfrD2.getLong(2) == 2L)       // cnt
    assert(egfrD2.getLong(3) == 4L)       // doc_total (ALL tokens incl banana)
    assert(egfrD2.getLong(4) == 3L)       // df: d1 d2 d4
    assert(math.abs(egfrD2.getDouble(5) - 0.5 * math.log10(5.0 / 3.0)) < 1e-12)
  }
}
