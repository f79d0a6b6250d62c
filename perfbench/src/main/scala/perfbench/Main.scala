package perfbench

import graft.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.nio.file.{Path, Paths}
import scala.collection.mutable

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    work: Path,
    traceFile: Path,
    startedEpochS: Double,
    tables: String)

/** Set-up time: from the launcher's start (before the JVM, and before the
  * catalog tables are generated) to the first measured operation.
  */
final class Setup(startedEpochS: Double) {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val ns0 = System.nanoTime()
  private val parts = mutable.LinkedHashMap("launch" -> (epoch0 - startedEpochS))
  private var warmupStartNs = 0L
  private var endEpoch = Double.NaN

  private def epochOf(ns: Long): Double = epoch0 + (ns - ns0) / 1e9

  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally parts(name) = (System.nanoTime() - t0) / 1e9
  }
  def markWarmupStart(): Unit = warmupStartNs = System.nanoTime()
  def end(ns: Long): Unit = {
    if (warmupStartNs > 0) parts("warmup") = (ns - warmupStartNs) / 1e9
    endEpoch = epochOf(ns)
  }
  def endNow(): Unit = end(System.nanoTime())
  def seconds: Double = endEpoch - startedEpochS
  def describe: String = parts.map { case (k, v) => f"$k $v%.2f s" }.mkString(", ")
}

/** A workload's correctness result: operations attempted, operations that
  * failed or came out wrong, and why.
  */
final case class Outcome(problems: Seq[String], attempted: Long, failed: Long)

object Outcome {
  /** The traced pipeline's cut self times must sum to the full-chain span
    * within this share of it. */
  val CutTolerance = 0.25
  /** A catalog query's construct + phases + execution spans must cover its
    * wall within this share of it (or 5 ms). */
  val CatalogTolerance = 0.02

  def latency(r: Report, prefix: String, ms: Seq[Double]): Unit = {
    val (tail, pct, n) = Stats.tail(ms)
    r.put(s"${prefix}_p50", Stats.median(ms), "ms")
    r.put(s"${prefix}_tail", tail, "ms")
    r.note(f"${prefix}_tail is p$pct%.1f of $n samples")
  }

  /** Micro-batch durations and state-store figures from query progress. */
  def microbatch(r: Report, progress: Seq[StreamingQueryProgress]): Unit = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    def sum(k: String): Double = progress.map(d(_, k)).sum
    r.put("microbatch.batches", progress.length, "count")
    r.put("microbatch.trigger_ms", sum("triggerExecution"), "ms")
    r.put("microbatch.add_batch_ms", sum("addBatch"), "ms")
    r.put("microbatch.query_planning_ms", sum("queryPlanning"), "ms")
    r.put("microbatch.wal_commit_ms", sum("walCommit"), "ms")
    r.put("microbatch.commit_offsets_ms", sum("commitOffsets"), "ms")
    r.put("microbatch.latest_offset_ms", sum("latestOffset"), "ms")
    r.put("microbatch.get_batch_ms", sum("getBatch"), "ms")
    r.put("microbatch.floor_ms", sum("triggerExecution") - sum("addBatch"), "ms")
    val ops = progress.flatMap(_.stateOperators.toSeq)
    if (ops.nonEmpty) {
      r.put("stream_ops.state_rows_total", progress.last.stateOperators.map(_.numRowsTotal).sum, "count")
      r.put("stream_ops.state_rows_updated", ops.map(_.numRowsUpdated).sum, "count")
      r.put("stream_ops.state_memory_bytes", progress.last.stateOperators.map(_.memoryUsedBytes).sum, "bytes")
      r.put("stream_ops.state_commit_ms", ops.map(_.commitTimeMs).sum, "ms")
      r.put("stream_ops.state_update_ms", ops.map(_.allUpdatesTimeMs).sum, "ms")
      r.put("stream_ops.rows_dropped_late", ops.map(_.numRowsDroppedByWatermark).sum, "count")
    }
  }
}

object Main {
  val EndToEnd: Seq[String] = Seq(
    "setup_s", "events_per_s", "alerts_per_s", "batch_ms_p50", "batch_ms_tail",
    "result_latency_ms_p50", "result_latency_ms_tail", "catalog_total_s", "live_heap_mb")

  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer the workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = {
    def ms(names: String*) = names.map(_ -> "ms")
    def count(names: String*) = names.map(_ -> "count")
    def bytes(names: String*) = names.map(_ -> "bytes")
    ms("protobuf_wire.self_ms") ++
      count("protobuf_wire.events_in", "protobuf_wire.events_out", "protobuf_wire.malformed",
        "protobuf_wire.malformed_acc_excess") ++
      bytes("protobuf_wire.bytes_in") ++ Seq("protobuf_wire.ns_per_byte" -> "ns") ++
      ms("snort_pipeline.alerts.self_ms") ++ count("snort_pipeline.alerts.rows_out") ++
      ms("snort_pipeline.envelope.self_ms") ++ Seq("snort_pipeline.fanout" -> "ratio") ++
      ms("kafka_sink.prepare.self_ms") ++ bytes("kafka_sink.prepare.bytes_out") ++
      Seq("kafka_sink.prepare.ns_per_record" -> "ns") ++ ms("kafka_sink.emit.self_ms") ++
      count("kafka_sink.emit.records") ++ ms("kafka_sink.writer.send_ms") ++
      count("microbatch.batches") ++
      ms("microbatch.trigger_ms", "microbatch.add_batch_ms", "microbatch.query_planning_ms",
        "microbatch.wal_commit_ms", "microbatch.commit_offsets_ms", "microbatch.latest_offset_ms",
        "microbatch.get_batch_ms", "microbatch.floor_ms") ++
      count("stream_ops.state_rows_total", "stream_ops.state_rows_updated") ++
      bytes("stream_ops.state_memory_bytes") ++
      ms("stream_ops.state_commit_ms", "stream_ops.state_update_ms") ++
      count("stream_ops.rows_dropped_late") ++
      count("tasks.task_count") ++ ms("tasks.task_ms", "tasks.gc_ms", "tasks.deserialize_ms") ++
      bytes("tasks.shuffle_write_bytes", "tasks.shuffle_read_bytes", "tasks.spill_bytes") ++
      count("tasks.failed_tasks") ++ Seq("tasks.parallel_efficiency" -> "ratio") ++
      ms("queries.construct_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "exec.wall_ms") ++
      count("exec.jobs", "exec.stages") ++ ms("exec.floor_ms") ++
      CatalogHeadline.Queries.flatMap(q => Seq(s"catalog.$q.wall_s" -> "s", s"catalog.$q.task_ms" -> "ms")) ++
      Seq("trace.overhead_ratio" -> "ratio", "trace.cut_sum_ratio" -> "ratio",
        "trace.catalog_reconcile_err" -> "ratio")
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cpus = need("cpus").toInt,
      work = Paths.get(need("work")),
      traceFile = Paths.get(need("trace-file")),
      startedEpochS = need("started").toDouble,
      tables = m.getOrElse("tables", ""))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv)
    val setup = new Setup(args.startedEpochS)
    val spark = setup.time("session")(Graft.session("perfbench", s"local[${args.cpus}]"))
    val report = new Report
    println(s"workload ${args.workload}, seed ${args.seed}, ${args.seconds} s, local[${args.cpus}], " +
      s"trace ${if (args.trace) 1 else 0}")
    val outcome = args.workload match {
      case "alerts_etl" => AlertsEtl.run(spark, args, report, setup)
      case "alert_windows" => AlertWindows.run(spark, args, report, setup)
      case "catalog_headline" => CatalogHeadline.run(spark, args, report, setup)
      case "self_test" => SelfTest.run(spark, args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (args.workload == "self_test") {
      SparkSession.getActiveSession.foreach(_.stop())
      sys.exit(if (outcome.failed == 0) 0 else 1)
    }
    // the least heap in use over three forced full collections
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    report.put("live_heap_mb", heap / 1048576.0, "MB")
    report.put("setup_s", setup.seconds, "s")
    SparkSession.getActiveSession.foreach(_.stop())
    val correct = outcome.problems.isEmpty && outcome.failed == 0
    println(s"set-up: ${setup.describe}")
    println(f"failed_ratio ${outcome.failed.toDouble / outcome.attempted}%.6f ratio " +
      s"(${outcome.failed} of ${outcome.attempted} operations)")
    outcome.problems.take(20).foreach(p => println(s"CHECK FAILED: $p"))
    report.printHuman()
    if (args.trace) PerLayer.foreach { case (n, u) =>
      if (!report.has(n)) report.put(n, 0.0, u)
      else require(report.unit(n) == u, s"$n is reported in ${report.unit(n)}, declared in $u")
    }
    val names = if (args.trace) PerLayer.map(_._1) else EndToEnd
    println(report.json(correct, outcome.attempted, outcome.failed, names))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
