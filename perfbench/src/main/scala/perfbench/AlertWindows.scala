package perfbench

import graft.streaming.{ProtobufWire, StreamOps}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** `alert_windows`: open loop at a fixed rate. Small pre-encoded chunks are
  * appended on a schedule that does not slow when the system does; the chain
  * decodes, explodes and envelopes them and keeps update-mode tumbling
  * counts per (window, sensor_id, priority_str) in the state store.
  */
object AlertWindows {
  /** Offered load: about a quarter of what the chain drains. On the commit
    * that defined this benchmark (4-core 2.1 GHz Xeon host, local[3])
    * offering 12k and 18k events/s drained 10.0k and 10.7k events/s with a
    * growing backlog, so the chain saturates near 10.5k events/s. At half
    * that rate a batch takes floor / (1 - utilisation), twice the floor, and
    * a host that loses a third of its CPU to neighbours doubled it again
    * (batch p50 0.57 s in quiet runs, 1.66 s in a busy one); at a quarter
    * the same stall costs far less, and latency stays floor and state store. */
  val EventsPerSecond = 2500
  val ChunkMillis = 100
  val WarmupSeconds = 2
  val TopUpChunks = 2
  val WindowMicros: Long = 2L * 1000 * 1000
  val Watermark = "2 seconds"
  /** On-time events arrive up to this much behind the newest, within the watermark. */
  val JitterMicros: Long = 500L * 1000

  implicit val frameEncoder: Encoder[Frame] = Encoders.product[Frame]

  def chain(frames: DataFrame, malformed: Option[org.apache.spark.util.LongAccumulator]): DataFrame =
    StreamOps.tumblingCounts(
      Chain.envelope(frames, malformed)
        .select(col("event_time"), col("metadata.sensor_id").as("sensor_id"), col("priority_str")),
      "event_time", s"${WindowMicros / 1000000} seconds", Watermark, "sensor_id", "priority_str")

  def run(spark: SparkSession, args: Args, report: Report, setup: Setup): Outcome = {
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val perChunk = EventsPerSecond * ChunkMillis / 1000
    val warmChunks = WarmupSeconds * 1000 / ChunkMillis
    val nChunks = warmChunks + (args.seconds * 1000 / ChunkMillis).toInt
    val stepMicros = ChunkMillis * 1000L
    val gen = new SensorGen(args.seed, Shape.windows(WindowMicros, JitterMicros))
    val chunks = setup.time("generate") {
      Array.tabulate(nChunks)(i => gen.chunk(i, perChunk, SensorGen.BaseMicros + i * stepMicros, stepMicros,
        lateAllowed = i >= warmChunks))
    }
    println(s"input: ${chunks.map(_.frames.length).sum} frames in $nChunks chunks of ${ChunkMillis} ms, " +
      s"sha256 ${gen.inputDigest}")
    println(s"  valid events ${gen.validEvents}, on-time alerts ${gen.alerts}, late events ${gen.lateEvents}, " +
      s"tombstones ${gen.tombstones}, malformed ${gen.malformed.mkString(" ")}, window keys ${gen.keyCount}")

    val tasks = new TaskStats
    sc.addSparkListener(tasks)
    val malformed = ProtobufWire.malformedCounter(spark)
    val input = MemoryStream[Frame](spark, sc.defaultParallelism)
    val counts = mutable.HashMap[(Long, String, String), Long]()
    val tracer = new Tracer
    val traceFrom = warmChunks + (nChunks - warmChunks) / 2
    @volatile var tracing = false
    val query = chain(input.toDF(), Some(malformed)).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", args.work.resolve("ckpt-windows").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        def sink(): Unit = batch.collect().foreach { r =>
          counts((r.getTimestamp(0).getTime * 1000, r.getString(2), r.getString(3))) = r.getLong(4)
        }
        if (tracing) { tracer.span("sink", s"batch-$id")(_ => sink()); tasks.snapshot(sc); () }
        else sink()
      }
      .start()

    // The generator thread only appends: every chunk is encoded already.
    val appendedNs = new Array[Long](nChunks)
    val dueNs = new Array[Long](nChunks)
    def schedule(from: Int, until: Int): Unit = {
      val origin = System.nanoTime() + 100L * 1000 * 1000
      (from until until).foreach(i => dueNs(i) = origin + (i - from) * stepMicros * 1000)
      val generator = new Thread(() => {
        var i = from
        while (i < until) {
          var now = System.nanoTime()
          while (now < dueNs(i)) { LockSupport.parkNanos(dueNs(i) - now); now = System.nanoTime() }
          if (args.trace && i == traceFrom) tracing = true
          input.addData(scala.collection.immutable.ArraySeq.unsafeWrapArray(chunks(i).frames))
          appendedNs(i) = System.nanoTime()
          i += 1
        }
      }, "perfbench-generator")
      generator.start()
      generator.join()
    }
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    setup.markWarmupStart()
    try {
      schedule(0, warmChunks - TopUpChunks)
      // Late events are dropped against the watermark of the batch before;
      // these closed-loop batches make sure one exists before they come.
      (warmChunks - TopUpChunks until warmChunks).foreach { i =>
        input.addData(scala.collection.immutable.ArraySeq.unsafeWrapArray(chunks(i).frames))
        query.processAllAvailable()
      }
      schedule(warmChunks, nChunks)
      query.processAllAvailable()
    } finally query.stop()
    query.exception.foreach(e => throw e)
    setup.end(dueNs(warmChunks))

    val progress = query.recentProgress.toSeq
    // Chunk i is MemoryStream offset i; a batch covers (startOffset, endOffset].
    val doneEpochMs = new Array[Double](nChunks)
    val batchOf = new Array[Int](nChunks)
    progress.zipWithIndex.filter(_._1.numInputRows > 0).foreach { case (p, k) =>
      val end = p.sources.head.endOffset.toLong
      val start = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L)
      val doneMs = java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue()
      ((start + 1) to end).foreach { i => doneEpochMs(i.toInt) = doneMs; batchOf(i.toInt) = k }
    }
    val measured = warmChunks until nChunks
    val latency = measured.map(i => doneEpochMs(i) - (epochOffsetMs + dueNs(i) / 1e6))
    val lateness = measured.map(i => (appendedNs(i) - dueNs(i)) / 1e6)
    val measuredBatches = measured.map(batchOf).distinct.map(progress)
    val untracedBatches = measuredBatches.filter(p => p.batchId < progress(batchOf(traceFrom)).batchId)
    // consumption rate: input of every measured batch after the first, over
    // the time from the first one's end to the last one's
    val batchEnds = measuredBatches.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").doubleValue())
    val elapsedS = (batchEnds.last - batchEnds.head) / 1e3
    val consumed = measuredBatches.tail.map(_.numInputRows).sum
    val consumedAlerts = measured.filter(i => batchOf(i) != batchOf(warmChunks)).map(chunks(_).alerts.toLong).sum
    val trig = (if (args.trace) untracedBatches else measuredBatches).map(_.durationMs.get("triggerExecution").doubleValue())
    report.put("events_per_s", consumed / elapsedS, "1/s")
    report.put("alerts_per_s", consumedAlerts / elapsedS, "1/s")
    Outcome.latency(report, "batch_ms", trig)
    Outcome.latency(report, "result_latency_ms", latency)
    report.put("catalog_total_s", measuredBatches.map(_.durationMs.get("triggerExecution").doubleValue()).sum / 1e3, "s")
    println(f"  ${measuredBatches.length} measured micro-batches; generator lateness p50 " +
      f"${Stats.median(lateness)}%.2f ms, max ${lateness.max}%.2f ms")

    // Correctness: final counts per (window, key) equal the generator's
    // tally, and exactly the clearly-late alerts were dropped.
    val problems = mutable.ArrayBuffer[String]()
    val badKeys = mutable.HashSet[Int]()
    gen.windowCounts.foreach { case (id, want) =>
      if (counts.getOrElse(gen.keyOf(id), 0L) != want) badKeys += id
    }
    val extra = counts.keys.filter(k => gen.keyId(k).isEmpty)
    if (badKeys.nonEmpty) problems += s"${badKeys.size} window keys have wrong final counts, e.g. " +
      s"${gen.keyOf(badKeys.head)}: ${counts.get(gen.keyOf(badKeys.head))}, want ${gen.windowCounts(badKeys.head)}"
    if (extra.nonEmpty) problems += s"${extra.size} window keys were never generated on time, e.g. ${extra.head}"
    val dropped = progress.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
    val late = chunks.map(_.late.toLong).sum
    if (dropped != late) problems += s"$dropped rows dropped by the watermark, want $late late alerts"
    if (malformed.sum != chunks.map(_.dropped.toLong).sum)
      problems += s"${malformed.sum} frames counted malformed, want ${chunks.map(_.dropped.toLong).sum}"
    val failedChunks = chunks.count { c =>
      c.keys.exists(badKeys) || ((extra.nonEmpty || dropped != late) && c.late > 0)
    }
    // Open-loop validity: the backlog must not grow over the run. A host
    // that stalls for a few seconds slows batches without a lasting backlog,
    // so the limits leave room for that: consumption under 80% of the offered
    // rate, or result latency rising by more than 2 s along the run (least
    // squares over the measured chunks).
    val meanI = (latency.length - 1) / 2.0
    val meanL = latency.sum / latency.length
    val slope = latency.indices.map(i => (i - meanI) * (latency(i) - meanL)).sum /
      latency.indices.map(i => (i - meanI) * (i - meanI)).sum
    val growthMs = slope * (latency.length - 1)
    if (consumed / elapsedS < 0.8 * EventsPerSecond || growthMs > 2000)
      problems += f"backlog grows: the chain consumed ${consumed / elapsedS}%.0f of $EventsPerSecond events/s " +
        f"and result latency rose by $growthMs%.0f ms along the run"
    println(f"  result latency trend along the run: $growthMs%+.0f ms")

    if (args.trace) {
      val traced = measuredBatches.filterNot(untracedBatches.contains)
      traceReport(report, progress.filter(_.batchId >= measuredBatches.head.batchId), tracer, traced, trig,
        chunks, measured, malformed.sum, spark)
      TaskStats.report(report, tasks.snapshot(sc))
      tracer.write(args.traceFile)
    }
    Outcome(problems.toSeq, nChunks, failedChunks)
  }

  /** Per-layer figures: micro-batch and state store from progress, and the
    * decode and alert layers from prefix cuts over the measured chunks, run
    * into the noop sink after the stream stopped. */
  private def traceReport(report: Report, progress: Seq[StreamingQueryProgress], t: Tracer,
      traced: Seq[StreamingQueryProgress], untracedTrig: Seq[Double], chunks: Array[Chunk],
      measured: Range, malformedCounted: Long, spark: SparkSession): Unit = {
    Outcome.microbatch(report, progress)
    report.put("trace.overhead_ratio",
      Stats.median(traced.map(_.durationMs.get("triggerExecution").doubleValue())) / Stats.median(untracedTrig), "ratio")
    val frames = spark.createDataset(measured.flatMap(i => chunks(i).frames.toSeq)).toDF().cache()
    frames.count()
    def timed(name: String)(body: => Unit): Double = {
      t.span(name, "cuts")(_ => body); t.ms(name).last
    }
    val d = timed("cut.decode")(Chain.noop(Chain.decoded(frames, None)))
    val a = timed("cut.alerts")(Chain.noop(Chain.alerts(frames)))
    val e = timed("cut.envelope")(Chain.noop(Chain.envelope(frames, None)))
    val eventsOut = Chain.decoded(frames, None).count()
    val rowsOut = Chain.alerts(frames).count()
    frames.unpersist()
    val in = measured.map(chunks(_).frames.length.toLong).sum
    val bytes = measured.map(chunks(_).bytes).sum
    report.put("protobuf_wire.self_ms", d, "ms")
    report.put("protobuf_wire.events_in", in, "count")
    report.put("protobuf_wire.events_out", eventsOut, "count")
    report.put("protobuf_wire.malformed", in - eventsOut, "count")
    report.put("protobuf_wire.malformed_acc_excess", malformedCounted - chunks.map(_.dropped.toLong).sum, "count")
    report.put("protobuf_wire.bytes_in", bytes, "bytes")
    report.put("protobuf_wire.ns_per_byte", d * 1e6 / bytes, "ns")
    report.put("snort_pipeline.alerts.self_ms", a - d, "ms")
    report.put("snort_pipeline.alerts.rows_out", rowsOut, "count")
    report.put("snort_pipeline.envelope.self_ms", e - a, "ms")
    report.put("snort_pipeline.fanout", rowsOut.toDouble / eventsOut, "ratio")
  }
}
