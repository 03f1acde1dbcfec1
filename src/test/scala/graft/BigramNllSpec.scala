package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** The reason bigram NLL exists next to unigram NLL: it is
  * order-sensitive where the unigram score is a pure bag-of-words.
  */
class BigramNllSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("scrambled word order moves bigram NLL but not unigram NLL") {
    import spark.implicits._
    // docs 1-3 establish the corpus's dominant bigrams; doc 4 is
    // fluent under them, doc 5 is the SAME token multiset as doc 4
    // with the order scrambled to break every dominant bigram
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the box"),
      (4L, "the cat sat on the mat"),
      (5L, "mat the on sat cat the")
    ).toDF("doc_id", "text")

    val uni = TextOps.unigramNll(docs)
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(uni(4L) === uni(5L),
      "unigram NLL must be order-blind: same multiset, same score")

    val big = TextOps.bigramNll(docs)
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(big(4L) < big(5L),
      s"fluent doc must score below its scrambled twin: ${big(4L)} vs ${big(5L)}")
  }

  test("chunkWithOverlap: exact geometry on a hand-checked doc") {
    import spark.implicits._
    // 10 tokens, size 4, overlap 2 (stride 2): chunks cover positions
    // [1-4], [3-6], [5-8], [7-10] — 4 chunks, adjacent ones sharing 2
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.chunkWithOverlap(d, 4, 2)
      .orderBy("chunk_idx")
      .select("chunk_idx", "first_pos", "last_pos", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((0L, 1L, 4L, 4L), (1L, 3L, 6L, 4L),
      (2L, 5L, 8L, 4L), (3L, 7L, 10L, 4L)))
    // a doc shorter than one window is exactly one whole chunk
    val short = TextOps.chunkWithOverlap(
      Seq((2L, "a b c")).toDF("doc_id", "text"), 4, 2).collect()
    assert(short.length === 1 && short(0).getLong(2) === 3L && short(0).getLong(4) === 3L)
  }

  test("chunkWithOverlap: every token of every corpus doc lands in >= 1 chunk") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val chunks = TextOps.chunkWithOverlap(docs, 64, 16)
    val tokTotal = TextOps.tokenStats(docs)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head.getLong(0)
    // Σ chunk tokens ≥ corpus tokens (overlap double-counts), and the
    // per-doc max last_pos equals the doc's token count (full coverage)
    val chunkTotal = chunks.agg(
      org.apache.spark.sql.functions.sum("n_chunk_tokens")).head.getLong(0)
    assert(chunkTotal >= tokTotal)
    val bad = chunks.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.max("last_pos").as("mx"))
      .join(TextOps.tokenStats(docs).select("doc_id", "n_tokens"), "doc_id")
      .filter(col("mx") =!= col("n_tokens"))
    assert(bad.count() === 0L, "some doc's tail tokens fell outside every chunk")
  }

  test("Kneser-Ney: hand-computed probabilities on a 5-doc corpus") {
    import spark.implicits._
    // bigram types: (a,b) c2=2, (a,c) 1, (b,a) 1, (c,a) 1 → T=4,
    // c1(a)=3, N1+fwd(a)=2, N1+bwd(b)=1.
    // p(b|a) = (2−.75)/3 + .75·2/3·(1/4) = 0.5416667
    // p(c|a) = (1−.75)/3 + .75·2/3·(1/4) = 0.2083333
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "b a"), (5L, "c a"))
      .toDF("doc_id", "text")
    val nll = TextOps.knBigramNll(docs)
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(math.exp(-nll(1L)) - 0.5416667) < 1e-5)
    assert(math.abs(math.exp(-nll(3L)) - 0.2083333) < 1e-5)
    // discounting leaves probability mass for unseen continuations:
    // observed mass after "a" sums strictly below 1
    assert(math.exp(-nll(1L)) + math.exp(-nll(3L)) < 1.0)
  }

  test("Kneser-Ney separates context diversity where add-one cannot") {
    import spark.implicits._
    // docs 1/2 score the SAME count shape — c2(q,·)=1, same prev q —
    // so add-one gives them identical NLL; KN sees that alpha follows
    // 4 distinct contexts while beta follows 2, and scores doc 1 as
    // the more plausible continuation.
    val docs = Seq(
      (1L, "q alpha"),
      (2L, "q beta"),
      (3L, "x alpha y alpha z alpha"),
      (4L, "w beta w beta w beta")
    ).toDF("doc_id", "text")
    val addOne = TextOps.bigramNll(docs)
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(addOne(1L) === addOne(2L),
      "add-one is blind to continuation diversity: same counts, same score")
    val kn = TextOps.knBigramNll(docs)
      .select("doc_id", "avg_nll").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kn(1L) < kn(2L),
      s"KN must favor the diverse continuation: ${kn(1L)} vs ${kn(2L)}")
  }

  test("consecutive spaces: bigrams pair adjacent non-empty tokens") {
    import spark.implicits._
    // the oracles pair the filtered tokens with lag(term) over pos, so
    // the empty token between the two spaces must not break (a, b)
    val docs = Seq((1L, "web", "a  b c")).toDF("doc_id", "source", "text")
    for (carry <- Seq(Nil, Seq("source"))) {
      val pairs = TextOps.bigramStream(docs, carry)
        .select("w1", "w2").collect().map(r => (r.getString(0), r.getString(1)))
      assert(pairs.toSeq === Seq(("a", "b"), ("b", "c")), s"carry $carry")
    }
    assert(TextOps.bigramNll(docs).select("n_bigrams").head.getLong(0) === 2L)
  }

  test("every multi-token document gets a row; bigram count = tokens - 1") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.bigramNll(docs)
    assert(out.count() === docs.count())
    val bad = out
      .join(TextOps.tokenStats(docs).select("doc_id", "n_tokens"), "doc_id")
      .filter(col("n_bigrams") =!= col("n_tokens") - 1)
    assert(bad.count() === 0L)
  }
}
