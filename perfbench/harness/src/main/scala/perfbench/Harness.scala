package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

import graft.ops.Dedup
import graft.sim.Semantic
import graft.sources.CorpusReader
import graft.tfidf.TfIdf

/** Closed-loop benchmark client: one thread calls each layer's public
  * functions in sequence on pre-generated inputs and times every call.
  *
  *   perfbench.Harness --workload related_terms|dedup_lifecycle
  *     --inputs DIR --work DIR --out FILE --seconds N --trace 0|1
  *     --cores N --setups N
  *
  * Set-up (session build + one warm-up call of every call type on a
  * small slice) runs `--setups` times in fresh sessions. Then whole
  * rounds of the workload run until `--seconds` would be exceeded (at
  * least one). With `--trace 1` exactly three rounds run: untraced,
  * traced, untraced, so the tracing overhead can be read against the
  * mean of the rounds on either side; the traced round's per-span
  * Spark counters are reported. Every set-up, round and call records
  * its [[Cost]] (wall seconds, the share of busy CPU time the
  * hypervisor stole meanwhile, JVM CPU/JIT/GC seconds). Outputs are
  * written raw to `--out` (JSON); checking them against independent
  * oracles happens outside this process.
  */
object Harness {

  final case class Call(span: String, label: String, cost: Cost, error: Option[String],
      out: Any)

  final case class Round(traced: Boolean, cost: Cost, calls: Seq[Call], extra: Map[String, Any])

  def sessionConf(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // keep every file the run writes inside the work dir
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val conf = sessionConf(cores, work)
    val wl: Workload = workload match {
      case "related_terms" => new RelatedTerms(inputs)
      case "dedup_lifecycle" => new DedupLifecycle(inputs, s"$work/state")
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    var spark: SparkSession = null
    var tracer: Tracer = null
    val setupCosts = mutable.ArrayBuffer.empty[Cost]
    var setupCounters = Map.empty[String, Map[String, Long]]
    var setupSpans = Seq.empty[Any]
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val last = i == setups - 1
      val spans = new Spans(t0)
      val (_, cost) = Meter.call(spans, "setup.session") {
        val b = SparkSession.builder()
        conf.foreach { case (k, v) => b.config(k, v) }
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        if (trace && last) {
          tracer = new Tracer
          spark.sparkContext.addSparkListener(tracer)
          spans.sc = Some(spark.sparkContext)
          spark.sparkContext.setJobGroup("setup.session", "setup.session")
        }
        wl.warmUp(spark)
      }
      setupCosts += cost
      if (trace && last) {
        spark.sparkContext.clearJobGroup()
        setupCounters = tracer.snapshot(spark.sparkContext)
        setupSpans = spans.done.toSeq.map(spanJson)
        tracer.reset()
        spark.sparkContext.removeSparkListener(tracer)
      }
    }

    val rounds = mutable.ArrayBuffer.empty[Round]
    var roundCounters = Map.empty[String, Map[String, Long]]
    var tracedSpans = Seq.empty[Any]
    val tRun = System.nanoTime()
    def elapsed = (System.nanoTime() - tRun) / 1e9
    var more = true
    while (more) {
      val traced = trace && rounds.size == 1
      val spans = new Spans(t0)
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spans.sc = Some(spark.sparkContext)
      }
      val ((calls, extra), cost) =
        Meter.call(spans, s"round.$workload")(wl.round(spark, spans))
      if (traced) {
        roundCounters = tracer.snapshot(spark.sparkContext)
        tracedSpans = spans.done.toSeq.map(spanJson)
        spark.sparkContext.removeSparkListener(tracer)
      }
      rounds += Round(traced, cost, calls, extra)
      more = if (trace) rounds.size < 3 else elapsed + cost.seconds <= seconds
    }

    val golden = wl.afterRounds(spark)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "spark_version" -> spark.version,
      "cores" -> cores,
      "session_conf" -> conf.toMap,
      "setups" -> setupCosts.toSeq.map(_.json),
      "timed_s" -> elapsed,
      "rounds" -> rounds.toSeq.map { r =>
        r.cost.json ++ Map("traced" -> r.traced, "extra" -> r.extra,
          "calls" -> r.calls.map(c => c.cost.json ++ Map("span" -> c.span, "label" -> c.label,
            "error" -> c.error, "out" -> c.out)))
      },
      "golden" -> golden,
      "setup_counters" -> setupCounters,
      "setup_spans" -> setupSpans,
      "counters" -> roundCounters,
      "spans" -> tracedSpans)
    spark.stop()
    Files.write(Paths.get(a("out")), Json(out).getBytes("UTF-8"))
  }

  private def spanJson(s: Spans.Span): Any =
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end)

  /** Time one layer call as span `<span>:<label>`; a failure is
    * recorded, never timed as a success. */
  def timed(spans: Spans, span: String, label: String)(f: => Any): Call = {
    var err: Option[String] = None
    val (out, cost) = Meter.call(spans, s"$span:$label") {
      try f catch {
        case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          null
      }
    }
    Call(span, label, cost, err, out)
  }

  def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).toSeq

  def dirStats(root: File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else if (root.isFile) (root.length(), 1L)
    else root.listFiles().map(dirStats).foldLeft((0L, 0L)) {
      case ((b, n), (b2, n2)) => (b + b2, n + n2)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}

trait Workload {
  /** The warm-up part of one set-up: a call of each call type on a small slice. */
  def warmUp(spark: SparkSession): Unit
  /** One full round: (calls, round-level facts). */
  def round(spark: SparkSession, spans: Spans): (Seq[Harness.Call], Map[String, Any])
  def afterRounds(spark: SparkSession): Any = null
}

/** The paper's query: build the TF-IDF index from a one-doc-per-line
  * corpus, then answer every query term in sequence with
  * `Semantic.relatedTermsFrom(k = 5)`. */
final class RelatedTerms(inputs: String) extends Workload {
  import Harness._

  private val IndexBuilds = 3

  private val queries = lines(s"$inputs/queries.tsv").map(_.split("\t")).map(p => (p(0), p(1)))

  private def buildIndex(spark: SparkSession, path: String): (DataFrame, Long) = {
    val tf = TfIdf.tfidf(CorpusReader.readCorpus(spark, path))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (tf, tf.count())
  }

  def warmUp(spark: SparkSession): Unit = {
    val (tf, _) = buildIndex(spark, s"$inputs/warm.txt")
    lines(s"$inputs/warm_queries.txt").foreach(q => Semantic.relatedTermsFrom(tf, q, 5).collect())
    tf.unpersist(true)
  }

  /** Rows the scans of an executed query read from the cached table. */
  private def cachedRowsRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => cachedRowsRead(a.executedPlan)
    case s: QueryStageExec => cachedRowsRead(s.plan)
    case m: InMemoryTableScanExec => m.metrics("numOutputRows").value
    case other => other.children.map(cachedRowsRead).sum
  }

  def round(spark: SparkSession, spans: Spans): (Seq[Call], Map[String, Any]) = {
    // one build is a single short sample, so the index is built
    // IndexBuilds times (the median is reported) and the last build
    // serves the queries
    var tfOpt: Option[DataFrame] = None
    val builds = (1 to IndexBuilds).map { _ =>
      tfOpt.foreach(_.unpersist(true))
      tfOpt = None
      timed(spans, "tfidf.TfIdf.tfidf", "index") {
        val (tf, rows) = buildIndex(spark, s"$inputs/corpus.txt")
        tfOpt = Some(tf)
        rows
      }
    }
    val indexBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val calls = tfOpt.toSeq.flatMap { tf =>
      queries.map { case (q, kind) =>
        timed(spans, "sim.Semantic.relatedTermsFrom", kind) {
          val df = Semantic.relatedTermsFrom(tf, q, 5)
          val rows = df.collect().map(r => Seq(r.getString(0), r.getDouble(1))).toSeq
          Map("query" -> q, "top" -> rows,
            "rows_read" -> cachedRowsRead(df.queryExecution.executedPlan))
        }
      }
    }
    tfOpt.foreach(_.unpersist(true))
    (builds ++ calls, Map("index_bytes" -> indexBytes, "tfidf_rows" -> builds.last.out))
  }

  /** The reference's 5-doc golden fixture, through the same entry. */
  override def afterRounds(spark: SparkSession): Any = {
    import spark.implicits._
    val golden = Seq(
      "d1" -> "gene_egfr_gene gene_kras_gene apple",
      "d2" -> "gene_egfr_gene gene_egfr_gene gene_tp53_gene banana",
      "d3" -> "gene_kras_gene apple banana",
      "d4" -> "gene_egfr_gene gene_tp53_gene gene_tp53_gene",
      "d5" -> "apple banana cherry").toDF("doc_id", "text")
    Semantic.relatedTerms(golden, "gene_egfr_gene", k = 5,
        termPred = Some(Semantic.geneTermPredicate))
      .collect().map(r => Seq(r.getString(0), r.getDouble(1))).toSeq
  }
}

/** The dedup write path: ingest batches into a fresh state dir,
  * interleave takedowns, maintain, then serve the assignment. The
  * step list comes from the generated `plan.txt`. */
final class DedupLifecycle(inputs: String, stateRoot: String) extends Workload {
  import Harness._

  private def run(spark: SparkSession, spans: Spans, dir: String, plan: Seq[String],
      stateDir: String): Seq[Call] = {
    deleteTree(new File(stateDir))
    plan.map(_.split(" ").toSeq).map {
      case Seq("ingest", kind, id, file) =>
        timed(spans, "ops.Dedup.clustersIngestBatch", kind) {
          Dedup.clustersIngestBatch(spark.read.parquet(s"$dir/$file"), id.toLong, stateDir, 0.5)
        }
      case Seq("delete", file) =>
        timed(spans, "ops.Dedup.deleteFromDedupState", "delete") {
          Dedup.deleteFromDedupState(spark, stateDir, spark.read.parquet(s"$dir/$file"), 0.5)
        }
      case Seq("maintain") =>
        timed(spans, "ops.Dedup.maintainDedupState", "maintain") {
          val r = Dedup.maintainDedupState(spark, stateDir, 0.5).collect().head
          r.schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap
        }
      case Seq("serve") =>
        timed(spans, "ops.Dedup.readClusterAssignment", "serve") {
          Dedup.readClusterAssignment(spark, stateDir)
            .select("doc_id", "cluster_id", "cluster_size").collect()
            .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        }
      case other => sys.error(s"bad plan step: ${other.mkString(" ")}")
    }
  }

  def warmUp(spark: SparkSession): Unit =
    run(spark, new Spans(System.nanoTime()), s"$inputs/warm", lines(s"$inputs/warm/plan.txt"),
      s"$stateRoot/warm").foreach(c => c.error.foreach(e => sys.error(s"warm-up ${c.span}: $e")))

  def round(spark: SparkSession, spans: Spans): (Seq[Call], Map[String, Any]) = {
    val stateDir = s"$stateRoot/round"
    val calls = run(spark, spans, inputs, lines(s"$inputs/plan.txt"), stateDir)
    val (bytes, files) = dirStats(new File(stateDir))
    (calls, Map("state_bytes" -> bytes, "state_files" -> files,
      "oracle_sql" -> graft.SparkEntry.oracleSql("q_dedup_clusters")))
  }
}

/** Minimal JSON writer for the harness's own result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case u: Unit => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
