package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Every declared query reads through here so the scan layer is uniform:
  * parquet, columnar, filter/column pushdown handled by Catalyst.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
  /** events.parquet has carried two physical `ts` encodings across
    * driver data generations: TIMESTAMP(NANOS) — which Spark's parquet
    * reader rejects outright, readable only as a nanos-since-epoch
    * long under the legacy conf — and plain TIMESTAMP(MICROS), which
    * surfaces as TIMESTAMP_NTZ. Map either to a session-zone (UTC)
    * TimestampType with identical instants: the nanos data has no
    * sub-microsecond components (verified at every SF) so the integer
    * division is lossless, and the NTZ cast under a UTC session is the
    * identity on the instant. Every consumer reads through here, so
    * the rest of the engine sees exactly one schema.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, sfDir, "events"))
  }
  /** Register every testdata table as a temp view so the whole engine
    * surface is reachable from plain `spark.sql(...)` — the SQL layer
    * the reference never had. Views are metadata-only; scans, pushdown
    * and pruning behave exactly as via the DataFrame loaders.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
    events(spark, sfDir).createOrReplaceTempView("events")
  }

  /** Spread a SMALL input across the session's cores before heavy
    * per-row work (guide §2.2/§6): parquet scans parallelize at
    * row-group granularity, so a sub-split-sized file — the whole
    * documents table at bench SFs is one ~600 KB file — arrives as ONE
    * task, and every downstream per-row kernel (shingle md5, vector
    * dots, image decode) runs single-threaded until the first
    * exchange. The pre-r16 explode→window shingle pass was fast
    * locally for exactly this accidental reason: its window exchange
    * re-spread the rows. This helper makes that spread deliberate and
    * SCALE-ADAPTIVE: only a frame whose optimizer-estimated bytes are
    * under parallelism × 4 MB (the per-core open-cost floor — i.e. a
    * scan that cannot reach core-count parallelism on its own) is
    * hash-repartitioned by `key`, so the added exchange is bounded by
    * the threshold (~128 MB at 32 cores) and a production-sized scan
    * passes through untouched with zero plan change.
    */
  def spreadSmall(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(p.toLong) * 4L * 1024 * 1024)
      df.repartition(p, col(key))
    else df
  }

  /** Hash-partition the DOC rows by `doc_id` at the session's shuffle
    * width, so every per-document pass downstream (a doc window, a
    * (doc_id, …) aggregate) rides this one exchange of the raw rows
    * instead of re-shuffling the token stream. The count is explicit
    * (`spark.sql.shuffle.partitions`, the width every other exchange
    * starts from): that makes the exchange REPARTITION_BY_NUM, which
    * AQE never coalesces — a coalesced doc exchange on a small corpus
    * runs every per-doc pass in one task.
    */
  def byDoc(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))

  /** Coalesce a SMALL frame to one output partition before a write
    * (guide §6: aim for 128 MB – 1 GB output files, never one
    * near-empty file per shuffle partition): when the optimizer's
    * size estimate fits inside one target output file
    * (`spark.sql.files.maxPartitionBytes`), narrow to a single
    * partition — one write task, one file, and every later read of
    * the directory lists ONE file instead of `shuffle.partitions`
    * stubs. Production-sized frames pass through unchanged, as does a
    * frame with unknown stats (the Long.Max default estimate never
    * shrinks). The write-side mirror of [[spreadSmall]].
    */
  def shrinkSmall(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= BigInt(target)) df.coalesce(1) else df
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
}
