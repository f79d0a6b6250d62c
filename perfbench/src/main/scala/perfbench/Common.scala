package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it,
    * as (value, percentile, samples). With fewer than 20 samples no such
    * percentile beyond the median exists, and the median is returned.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 20) (median(xs), 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Collects the metrics of one run and renders the result line. */
final class Report {
  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  private val notes = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def put(name: String, value: Long, unit: String): Unit = put(name, value.toDouble, unit)
  def note(line: String): Unit = notes += line
  def unit(name: String): String = values(name)._2
  def has(name: String): Boolean = values.contains(name)

  def printHuman(): Unit = {
    values.foreach { case (k, (v, u)) => println(f"  $k%-34s ${fmt(v)}%16s $u") }
    notes.foreach(n => println(s"  $n"))
  }

  def json(correct: Boolean, attempted: Long, failed: Long, names: Seq[String]): String = {
    val ms = names.map { n =>
      val (v, u) = values.getOrElse(n, throw new IllegalStateException(s"metric $n was not measured"))
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Spans recorded around calls into the engine's layers: name, group (the
  * batch or query they belong to), parent, start and end. Kept in memory
  * and written once when the run ends.
  */
final class Tracer {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer[Span]()
  private val origin = System.nanoTime()

  def span[T](name: String, group: String, parent: Int = -1)(body: Int => T): T = {
    val id = spans.length
    spans += Span(id, parent, name, group, 0L, 0L)
    val t0 = System.nanoTime()
    try body(id)
    finally spans(id) = Span(id, parent, name, group, t0 - origin, System.nanoTime() - origin)
  }

  /** Durations in ms of every span with this name, in recording order. */
  def ms(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  def byGroup(group: String): Seq[Span] = spans.filter(_.group == group).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "group": "${s.group}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
      sb ++= (if (i + 1 < spans.length) ",\n" else "\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, group: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Task, stage and job totals from the scheduler's listener events. */
final class TaskStats extends SparkListener {
  private val c = Array.fill(11)(new AtomicLong)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(0).incrementAndGet()
    if (e.reason != org.apache.spark.Success) c(7).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(1).addAndGet(m.executorRunTime)
      c(2).addAndGet(m.jvmGCTime)
      c(3).addAndGet(m.executorDeserializeTime)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(5).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(8).addAndGet(m.inputMetrics.recordsRead)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = { c(9).incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { c(10).incrementAndGet(); () }

  /** Totals after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): TaskStats.Snap = {
    ListenerDrain(sc)
    TaskStats.Snap(c.map(_.get).toIndexedSeq)
  }
}

object TaskStats {
  final case class Snap(v: IndexedSeq[Long]) {
    def -(o: Snap): Snap = Snap(v.indices.map(i => v(i) - o.v(i)))
    def +(o: Snap): Snap = Snap(v.indices.map(i => v(i) + o.v(i)))
    def tasks: Long = v(0); def taskMs: Long = v(1); def gcMs: Long = v(2)
    def deserializeMs: Long = v(3); def shuffleWrite: Long = v(4); def shuffleRead: Long = v(5)
    def spill: Long = v(6); def failedTasks: Long = v(7); def recordsRead: Long = v(8)
    def jobs: Long = v(9); def stages: Long = v(10)
  }

  def report(r: Report, s: Snap): Unit = {
    r.put("tasks.task_count", s.tasks, "count")
    r.put("tasks.task_ms", s.taskMs, "ms")
    r.put("tasks.gc_ms", s.gcMs, "ms")
    r.put("tasks.deserialize_ms", s.deserializeMs, "ms")
    r.put("tasks.shuffle_write_bytes", s.shuffleWrite, "bytes")
    r.put("tasks.shuffle_read_bytes", s.shuffleRead, "bytes")
    r.put("tasks.spill_bytes", s.spill, "bytes")
    r.put("tasks.failed_tasks", s.failedTasks, "count")
  }
}
