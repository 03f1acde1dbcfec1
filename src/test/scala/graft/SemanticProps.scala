package graft

import org.apache.spark.storage.StorageLevel
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.sim.Semantic
import graft.tfidf.TfIdf

/** ScalaCheck property tests for the similarity engine (SURVEY.md §5.3,
  * FIXTURES.md A.4). Corpora are kept tiny — each check runs real Spark
  * jobs — and the test count low but > 1 per property.
  */
object SemanticProps extends Properties("Semantic") {
  private lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsil")

  private val genCorpus: Gen[List[(String, String)]] = for {
    n <- Gen.chooseNum(2, 6)
    docs <- Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
  } yield docs.zipWithIndex.map { case (t, i) => (s"d$i", t) }

  private def df(corpus: Seq[(String, String)]) = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  private def simMap(corpus: Seq[(String, String)], q: String): Map[String, Double] =
    Semantic.relatedTerms(df(corpus), q, k = 100, roundDigits = 12)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  property("symmetry: sim(a→b) == sim(b→a)") =
    forAll(genCorpus, Gen.oneOf(vocab), Gen.oneOf(vocab)) { (c, a, b) =>
      a == b || {
        val ab = simMap(c, a).getOrElse(b, 0.0)
        val ba = simMap(c, b).getOrElse(a, 0.0)
        math.abs(ab - ba) < 1e-9
      }
    }

  property("range: 0 < sim <= 1+eps and never NaN") =
    forAll(genCorpus, Gen.oneOf(vocab)) { (c, q) =>
      simMap(c, q).values.forall(s => s > 0.0 && s <= 1.0 + 1e-9 && !s.isNaN)
    }

  property("idf: log10(m/df), strictly anti-monotone in df") =
    forAll(genCorpus) { c =>
      val m = c.size.toDouble
      val rows = TfIdf.tfidf(df(c))
        .select("term", "df").distinct().collect()
        .map(r => (r.getLong(1), math.log10(m / r.getLong(1))))
      rows.forall { case (d, idf) => math.abs(idf - math.log10(m / d)) < 1e-12 } &&
        rows.sortBy(_._1).sliding(2).forall {
          case Array((d1, i1), (d2, i2)) => d1 == d2 || (d1 < d2) == (i1 > i2)
          case _ => true
        }
    }

  property("document-order invariance") =
    forAll(genCorpus, Gen.oneOf(vocab)) { (c, q) =>
      simMap(c, q) == simMap(c.reverse, q)
    }

  property("perfectly co-occurring terms have sim 1") =
    forAll(Gen.chooseNum(1, 4)) { n =>
      // n docs of "x y" pairs (+1 doc without them so idf(x) > 0)
      val corpus = (0 until n).map(i => (s"d$i", Seq.fill(i + 1)("x y").mkString(" "))) :+
        (s"d$n", "filler words only")
      val s = simMap(corpus, "x")
      Prop(math.abs(s.getOrElse("y", 0.0) - 1.0) < 1e-9) :| s"sims=$s"
    }

  // U+FF21 sorts after U+1F600 in UTF-16 and before it in UTF-8 (Spark's
  // order); the two always occur together, so their sims tie
  private val tied = "\uFF21 \uD83D\uDE00"

  /** Corpora with repeated doc ids, empty and blank docs, double
    * spaces, the tied unicode pair, and optionally a term in every doc
    * (idf 0 when the ids are distinct). */
  private val genEdgeCorpus: Gen[List[(String, String)]] = for {
    n <- Gen.chooseNum(1, 7)
    dupIds <- Gen.oneOf(false, true)
    every <- Gen.oneOf(false, true)
    docs <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(""), 1 -> Gen.const("   "),
      8 -> (for {
        len <- Gen.chooseNum(1, 6)
        toks <- Gen.listOfN(len, Gen.oneOf(vocab :+ tied))
        sep <- Gen.oneOf(" ", "  ")
      } yield toks.mkString(sep))))
  } yield docs.zipWithIndex.map { case (t, i) =>
    (if (dupIds) s"d${i / 2}" else s"d$i", if (every) s"$t every" else t)
  }

  property("driver index == distributed plan, raw and at 9 digits") =
    forAll(genEdgeCorpus, Gen.oneOf(1, 3, 100)) { (c, k) =>
      val tf = graft.tfidf.TfIdf.tfidf(df(c)).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        tf.count()
        val queries = Seq("every", "absent", "\uFF21", "\uD83D\uDE00") ++ vocab
        def run(q: String, digits: Int) = {
          val out = Semantic.relatedTermsFrom(tf, q, k, roundDigits = digits)
          (out.queryExecution.executedPlan.nodeName, out.schema, out.collect().toSeq)
        }
        val cases = for (q <- queries; d <- Seq(-1, 9)) yield (q, d)
        val driver = cases.map { case (q, d) => run(q, d) }
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        val distributed = try cases.map { case (q, d) => run(q, d) }
          finally spark.conf.set(key, prev)
        Prop.all(cases.indices.map { i =>
          val ((q, d), (node, schema, rows)) = (cases(i), driver(i))
          val (_, dSchema, dRows) = distributed(i)
          (node == "LocalTableScan" && schema == dSchema && rows == dRows) :|
            s"q=$q digits=$d k=$k: $node $rows vs $dRows"
        }: _*)
      } finally tf.unpersist(false)
    }
}
