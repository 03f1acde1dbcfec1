package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry is assembled from per-module maps (one module per
  * SURVEY.md §7.1 build step); each declared query has a DuckDB oracle
  * in `oracleSql` unless its semantics are not SQL-expressible, in which
  * case the driver records a weaker rows-only check.
  */
object SparkEntry {

  /** Flagship query; driver smoke-checks rows>0. Defaults to the
    * driver's contract dir (/root/testdata/sf0.001) but honors
    * SPARK_GRAFT_SF_DIR so other harnesses can point it elsewhere.
    * Top-20 terms most semantically similar to the corpus's highest-df
    * term — the reference's one query (app.py:145-179), Spark-native.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    ops.CoreQueries.queries("q_related_terms")(spark, sfDir)
  }

  private def modules: Seq[QueryModule] = Seq(
    ops.CoreQueries,
    ops.Relational,
    ops.TextOps,
    ops.Dedup,
    ops.Sketches,
    ops.VectorOps,
    ops.EventOps,
    ops.Curation,
    ops.Bpe,
    ops.Classify,
    multimodal.MultimodalQueries,
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_.queries)
    val dups = all.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"query name declared by multiple modules: $dups")
    all.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracleSql).toMap
}

/** A build-plan module contributing declared queries + oracles. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
