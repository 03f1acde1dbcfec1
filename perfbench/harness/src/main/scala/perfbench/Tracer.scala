package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark counters for the traced run.
  *
  * Every layer call the harness makes runs under a Spark job group
  * named after its span ([[Spans.call]]); threads the call creates
  * inherit the group, so pooled work is attributed too. This listener
  * folds jobs, stages, tasks, task time, shuffle, spill and I/O into
  * the group they ran under. Jobs with no group are kept under
  * [[Tracer.Untagged]] so their share can be reported.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    var inputRows = 0L; var outputBytes = 0L
  }

  private val stageGroup = mutable.Map.empty[Int, String]
  private val accs = mutable.LinkedHashMap.empty[String, Acc]

  private def acc(group: String): Acc = accs.getOrElseUpdate(group, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Untagged)
    val a = acc(group)
    a.jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageInfo.stageId, Untagged))
    a.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, Untagged))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputRows += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters per group, after every queued event has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Map[String, Long]] = {
    org.apache.spark.BusDrain.drain(sc)
    synchronized {
      accs.map { case (g, a) =>
        g -> Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "task_ms" -> a.taskMs, "shuffle_write_bytes" -> a.shuffleWriteBytes,
          "spill_bytes" -> a.spillBytes, "input_rows" -> a.inputRows,
          "output_bytes" -> a.outputBytes)
      }.toMap
    }
  }

  def reset(): Unit = synchronized { accs.clear(); stageGroup.clear() }
}

object Tracer {
  val Untagged = "(untagged)"
}

/** Spans kept in memory and written out when the run ends. When
  * `tracer` is set, each call also runs under a job group of its
  * span's name; untraced runs time the same calls without groups.
  */
final class Spans(t0: Long) {
  import Spans.Span

  val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  private var open = List.empty[(Int, String)]
  var sc: Option[SparkContext] = None

  private def now(): Double = (System.nanoTime() - t0) / 1e9

  /** Time `f` as span `name`; returns (result, seconds). */
  def call[T](name: String)(f: => T): (T, Double) = {
    val id = next; next += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.foreach(_.setJobGroup(name, name))
    val start = now()
    try {
      val out = f
      (out, now() - start)
    } finally {
      done += Span(id, name, parent, start, now())
      open = open.tail
      sc.foreach { c =>
        open.headOption match {
          case Some((_, outer)) => c.setJobGroup(outer, outer)
          case None => c.clearJobGroup()
        }
      }
    }
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)
}
