package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sim.Semantic
import graft.tfidf.TfIdf

/** Reference-parity core queries (SURVEY.md §2) + their DuckDB oracles.
  *
  * Every query is deterministic and hash-stable: total ordering on key
  * columns, floating-point outputs rounded to 9 digits, log base 10 on
  * both sides (SURVEY.md §5.4). The flagship's query term is derived
  * from the data with the same rule on both sides (max df, lexicographic
  * tie-break) so it exists at every scale factor.
  */
object CoreQueries extends graft.QueryModule {

  /** Shared CTE prefix of every oracle: tokenize → counts → totals → df
    * → tfidf, mirroring TfIdf.tfidf exactly (same tokenizer: split on
    * single space, drop empty tokens; m = row count of documents).
    */
  private val tfidfCte: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |cnt AS (SELECT doc_id, term, count(*) AS cnt FROM tok WHERE term <> '' GROUP BY doc_id, term),
      |tot AS (SELECT doc_id, sum(cnt) AS doc_total FROM cnt GROUP BY doc_id),
      |dfreq AS (SELECT term, count(*) AS df FROM cnt GROUP BY term),
      |m AS (SELECT count(*) AS m FROM documents),
      |tfidf AS (
      |  SELECT c.doc_id, c.term,
      |         (CAST(c.cnt AS DOUBLE)/CAST(t.doc_total AS DOUBLE)) * log10(CAST(m.m AS DOUBLE)/CAST(d.df AS DOUBLE)) AS tfidf
      |  FROM cnt c JOIN tot t ON c.doc_id=t.doc_id JOIN dfreq d ON c.term=d.term CROSS JOIN m
      |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_related_terms" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      // tf persisted for its reads: the query-term derivation loads
      // the cache, so the query runs on the driver index of it (or
      // distributed over the gate); dropped once the k rows are local
      val tf = TfIdf.tfidf(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = Semantic.collectLocal(
        Semantic.relatedTermsFrom(tf, Semantic.queryTermFrom(tf), k = 20))
      tf.unpersist(false)
      out
    },
    "q_tfidf_topk" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      TfIdf.tfidf(docs)
        .select(col("doc_id"), col("term"), round(col("tfidf"), 9).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(100)
    },
    "q_term_counts" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      TfIdf.termCounts(docs).orderBy(col("doc_id"), col("term"))
    },
    "q_doc_stats" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      TfIdf.tokens(docs)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("term")).as("n_terms"))
        .orderBy(col("doc_id"))
    },

    // Feature-hashed document similarity search: each doc's tf-idf
    // vector hashed into 64 buckets (the hashing trick — fixed-width
    // vectors with no vocabulary table), probes scored against the
    // corpus by SPARSE dot product via an equi-join on the bucket
    // (posting lists, never a dense all-pairs pass). Semantic search
    // without an embedding model.
    "q_hashed_knn" -> { (spark, dir) =>
      hashedDocKnn(Tables.documents(spark, dir), col("doc_id") < 3, 64, 10)
        .orderBy("qid", "rank")
    },
  )

  /** (doc_id, bucket, wi): tf-idf feature-hashed into `b` buckets on
    * the 1e6 integer grid — each term's tf-idf quantizes to a LONG
    * BEFORE any sum, so every aggregate downstream is exact integer
    * arithmetic, order-independent and engine-identical (the
    * quantized-kNN kernel idea; PERF.md cross-engine lesson #2).
    */
  def hashedDocVectors(docs: DataFrame, b: Int = 64): DataFrame =
    TfIdf.tfidf(docs)
      .select(col("doc_id"),
        (graft.text.Shingles.hash32(col("term")) % lit(b.toLong)).as("bucket"),
        floor(col("tfidf") * lit(1e6) + lit(0.5)).cast("long").as("ti"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("ti")).as("wi"))

  /** Top-k corpus documents per probe by cosine over the hashed
    * vectors. The grid scale cancels in the cosine, so the score is
    * the true cosine of the quantized vectors. Scale shape: the probe
    * features broadcast; the dot product is one bucket-keyed equi-join
    * + exact long aggregate (cost = Σ over buckets of probe-df ×
    * corpus-df, bounded by b); norms are one per-doc aggregate; top-k
    * plans as WindowGroupLimit.
    */
  def hashedDocKnn(docs: DataFrame, probePred: Column, b: Int = 64,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val feats = hashedDocVectors(docs, b).persist(lvl)
    val norms = feats
      .groupBy("doc_id").agg(sum(col("wi") * col("wi")).as("n2"))
    val q = feats.filter(probePred)
      .select(col("doc_id").as("qid"), col("bucket"), col("wi").as("qw"))
    val dots = feats.join(broadcast(q), Seq("bucket"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id").as("vid"))
      .agg(sum(col("wi") * col("qw")).as("dot"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    val out = dots
      .join(norms.select(col("doc_id").as("vid"), col("n2").as("vn2")), Seq("vid"))
      .join(broadcast(norms.filter(probePred)
        .select(col("doc_id").as("qid"), col("n2").as("qn2"))), Seq("qid"))
      .select(col("qid"), col("vid"),
        round(col("dot").cast("double") /
          (sqrt(col("vn2").cast("double")) * sqrt(col("qn2").cast("double"))), 6)
          .as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
      .localCheckpoint(true)
    feats.unpersist(false)
    out
  }

  def oracleSql: Map[String, String] = Map(
    "q_related_terms" ->
      s"""$tfidfCte,
         |qterm AS (SELECT term FROM dfreq ORDER BY df DESC, term LIMIT 1),
         |qvec AS (SELECT doc_id, tfidf AS v1 FROM tfidf WHERE term = (SELECT term FROM qterm)),
         |den1 AS (SELECT sqrt(sum(v1*v1)) AS d1 FROM qvec),
         |sims AS (
         |  SELECT f.term, sum(coalesce(q.v1, 0.0) * f.tfidf) AS num, sum(f.tfidf*f.tfidf) AS den2
         |  FROM tfidf f LEFT JOIN qvec q ON f.doc_id = q.doc_id
         |  WHERE f.term <> (SELECT term FROM qterm)
         |  GROUP BY f.term
         |)
         |SELECT term, round((num/sqrt(den2)) / (SELECT d1 FROM den1), 9) AS sim
         |FROM sims WHERE num <> 0 ORDER BY sim DESC, term LIMIT 20""".stripMargin,
    "q_tfidf_topk" ->
      s"""$tfidfCte
         |SELECT doc_id, term, round(tfidf, 9) AS tfidf FROM tfidf
         |ORDER BY round(tfidf, 9) DESC, doc_id, term LIMIT 100""".stripMargin,
    // the 1e6 integer grid makes every sum exact and order-free; the
    // grid scale cancels in the cosine
    "q_hashed_knn" ->
      s"""$tfidfCte,
         |feat0 AS (
         |  SELECT doc_id, ${graft.text.Shingles.hash32Sql("term")} % 64 AS bucket,
         |    CAST(floor(tfidf * 1e6 + 0.5) AS BIGINT) AS ti
         |  FROM tfidf),
         |feats AS (
         |  SELECT doc_id, bucket, CAST(sum(ti) AS BIGINT) AS wi
         |  FROM feat0 GROUP BY doc_id, bucket),
         |norms AS (
         |  SELECT doc_id, CAST(sum(wi * wi) AS BIGINT) AS n2
         |  FROM feats GROUP BY doc_id),
         |dots AS (
         |  SELECT q.doc_id AS qid, f.doc_id AS vid,
         |    CAST(sum(f.wi * q.wi) AS BIGINT) AS dot
         |  FROM feats f JOIN feats q
         |    ON f.bucket = q.bucket AND q.doc_id < 3 AND f.doc_id <> q.doc_id
         |  GROUP BY q.doc_id, f.doc_id),
         |scored AS (
         |  SELECT d.qid, d.vid,
         |    round(CAST(d.dot AS DOUBLE) /
         |      (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))), 6) AS cos
         |  FROM dots d
         |  JOIN norms nv ON d.vid = nv.doc_id
         |  JOIN norms nq ON d.qid = nq.doc_id),
         |ranked AS (
         |  SELECT qid, vid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
         |  FROM scored)
         |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "q_term_counts" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT doc_id, term, count(*) AS cnt FROM tok WHERE term <> ''
        |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    "q_doc_stats" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_terms
        |FROM tok WHERE term <> '' GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
