package perfbench

import graft.Graft
import graft.streaming.{KafkaSink, ProtobufWire}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** `alerts_etl`: the reference's live path, closed loop with one client (the
  * stream's own trigger loop). A chunk goes into the MemoryStream only after
  * the previous micro-batch completed, as a consumer behaves under a Kafka
  * backlog; the chunks are pre-encoded during set-up and cycled.
  */
object AlertsEtl {
  /** Events per chunk: batches of ~11k alerts, large enough that per-alert
    * work dominates the micro-batch floor, small enough for a tail percentile
    * with ten samples beyond it in one run. */
  val ChunkEvents = 1500
  val Chunks = 8
  /** Warm-up: the JIT keeps speeding the chain up for ~30 chunk-sized
    * batches, so it first takes all chunks at once, a few times. */
  val WarmupWholeSet = 4
  val WarmupBatches = 3

  implicit val frameEncoder: Encoder[Frame] = Encoders.product[Frame]

  /** The chunks, plus one more that holds all of their frames. */
  def generate(seed: Long): (SensorGen, Array[Chunk]) = {
    val gen = new SensorGen(seed, Shape.etl)
    val span = 60L * 1000 * 1000
    val chunks = Array.tabulate(Chunks)(i => gen.chunk(i, ChunkEvents, SensorGen.BaseMicros + i * span, span, lateAllowed = false))
    val whole = new Chunk(Chunks, chunks.flatMap(_.frames), chunks.map(_.alerts).sum, chunks.map(_.dropped).sum, 0, Array.empty)
    (gen, chunks :+ whole)
  }

  /** One micro-batch as the loop saw it. */
  final case class Batch(chunk: Int, addNs: Long, doneNs: Long, sink: SinkCounters.Snap, malformed: Long,
      eventsOut: Long)

  final case class Loop(batches: Seq[Batch], triggerMs: Seq[Double], progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], samples: Seq[Sample])

  /** Feeds the `warmup` chunks, then cycles through the first [[Chunks]]
    * until `seconds` have passed and at least `minBatches` were measured
    * (`tracer`: every batch also runs the prefix cuts). Batches of the
    * warm-up are returned too, first.
    */
  def loop(spark: SparkSession, chunks: Array[Chunk], warmup: Seq[Int], seconds: Double, ckpt: String,
      tracer: Option[Tracer], cutSink: SinkCounters, minBatches: Int = 1): Loop = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sink = new SinkCounters(spark.sparkContext)
    val malformed = ProtobufWire.malformedCounter(spark)
    // one input partition per core, as a topic with that many partitions
    val input = MemoryStream[Frame](spark, spark.sparkContext.defaultParallelism)
    val done = mutable.ArrayBuffer[(SinkCounters.Snap, Long, Long)]()
    val samples = mutable.ArrayBuffer[Sample]()
    val query = input.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s0 = sink.snap
        val m0 = malformed.sum
        def full(): Unit = KafkaSink.emit(Chain.prepared(batch, Some(malformed)), () => new CountingWriter(sink, Fault.NoFault))
        val eventsOut = tracer match {
          case None => full(); -1L
          case Some(t) => tracedBatch(t, s"batch-$id", batch, () => full(), cutSink)
        }
        done += ((sink.snap - s0, malformed.sum - m0, eventsOut))
        if (samples.length < 4000) samples ++= sink.drainSamples() else sink.drainSamples()
        ()
      }
      .start()
    val batches = mutable.ArrayBuffer[Batch]()
    try {
      var i = 0
      var measureStart = 0L
      while (i < warmup.length + minBatches || System.nanoTime() - measureStart < seconds * 1e9) {
        if (i == warmup.length) measureStart = System.nanoTime()
        val c = chunks(if (i < warmup.length) warmup(i) else (i - warmup.length) % Chunks)
        val t0 = System.nanoTime()
        input.addData(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.frames))
        query.processAllAvailable()
        val t1 = System.nanoTime()
        require(done.length == i + 1, s"expected one micro-batch per chunk, saw ${done.length} after ${i + 1} chunks")
        batches += Batch(c.index, t0, t1, done(i)._1, done(i)._2, done(i)._3)
        i += 1
      }
    } finally query.stop()
    query.exception.foreach(e => throw e)
    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    Loop(batches.toSeq, progress.map(_.durationMs.get("triggerExecution").doubleValue()), progress, samples.toSeq)
  }

  /** The full chain first, inside its own span; then the prefix cuts
    * outside it (decode, alerts and envelope into the noop sink, prepared
    * records drained as `emit` reads them); then `emit` alone over the
    * prepared records materialized beforehand, less a drain of them.
    * Consecutive cuts differ by one layer. Returns the number of decoded
    * events, counted outside every span.
    */
  private def tracedBatch(t: Tracer, g: String, batch: DataFrame, full: () => Unit, cutSink: SinkCounters): Long =
    t.span("batch", g) { root =>
      t.span("full_chain", g, root)(_ => full())
      t.span("cut.decode", g, root)(_ => Chain.noop(Chain.decoded(batch, None)))
      t.span("cut.alerts", g, root)(_ => Chain.noop(Chain.alerts(batch)))
      t.span("cut.envelope", g, root)(_ => Chain.noop(Chain.envelope(batch, None)))
      t.span("cut.prepare", g, root)(_ => Chain.drain(Chain.prepared(batch, None)))
      val mat = Chain.prepared(batch, None).persist(StorageLevel.MEMORY_ONLY)
      try {
        mat.count()
        t.span("cut.cached", g, root)(_ => Chain.drain(mat))
        t.span("cut.emit", g, root)(_ => KafkaSink.emit(mat, () => new CountingWriter(cutSink, Fault.NoFault)))
      } finally { mat.unpersist(blocking = true); () }
      Chain.decoded(batch, None).count()
    }

  /** Per-chunk checks: the alert count equals the sum of metrics over the
    * chunk's valid events, the drop count equals the injected count, and
    * every pass over a chunk gives the same record digest (also across
    * runs at other parallelism, via `reference`). Returns the wrong batches.
    */
  def wrongBatches(batches: Seq[Batch], chunks: Array[Chunk],
      reference: mutable.Map[Int, (Long, Long, Long)]): Seq[(Batch, String)] =
    batches.flatMap { b =>
      val c = chunks(b.chunk)
      val d = b.sink.digest
      val ref = reference.getOrElseUpdate(b.chunk, d)
      if (b.sink.records != c.alerts) Some(b -> s"chunk ${b.chunk}: ${b.sink.records} records, want ${c.alerts}")
      else if (b.malformed != c.dropped) Some(b -> s"chunk ${b.chunk}: ${b.malformed} dropped, want ${c.dropped}")
      else if (d != ref) Some(b -> s"chunk ${b.chunk}: record digest $d differs from $ref")
      else None
    }

  def run(spark: SparkSession, args: Args, report: Report, setup: Setup): Outcome = {
    val (gen, chunks) = setup.time("generate")(generate(args.seed))
    println(s"input: ${Chunks * ChunkEvents} frames in $Chunks chunks, sha256 ${gen.inputDigest}")
    println(s"  valid events ${gen.validEvents}, alerts ${gen.alerts}, tombstones ${gen.tombstones}, " +
      s"multi-index headers ${gen.multiIndex}, malformed ${gen.malformed.mkString(" ")}")
    println(s"  metrics per event: ${gen.metricsHistogram.map { case (k, v) => s"$k:$v" }.mkString(" ")}")
    val avroSchema = AvroCheck.schema(spark)
    val reference = mutable.Map[Int, (Long, Long, Long)]()
    val tasks = new TaskStats
    spark.sparkContext.addSparkListener(tasks)

    val cutSink = new SinkCounters(spark.sparkContext)
    // a traced run: untraced for half the time, traced over every chunk
    // once, then local[1] for half the time
    val phaseSeconds = if (args.trace) args.seconds / 2.0 else args.seconds
    // Warm-up batches run inside the loop, before its clock starts; set-up
    // ends when the first measured chunk is added.
    setup.markWarmupStart()
    val warmup = Seq.fill(WarmupWholeSet)(Chunks) ++ (0 until WarmupBatches)
    val l = loop(spark, chunks, warmup, phaseSeconds, args.work.resolve("ckpt-n").toString, None, cutSink)
    val measured = l.batches.drop(warmup.length)
    setup.end(measured.head.addNs)
    val elapsedS = (measured.last.doneNs - measured.head.addNs) / 1e9
    val frames = measured.map(b => chunks(b.chunk).frames.length.toLong).sum
    val records = measured.map(_.sink.records).sum
    val trig = l.triggerMs.drop(warmup.length)
    val lat = measured.map(b => (b.doneNs - b.addNs) / 1e6)
    val wrong = wrongBatches(l.batches, chunks, reference)
    val sampleProblems = AvroCheck.check(avroSchema, l.samples, gen.sampled.get)
    report.put("events_per_s", frames / elapsedS, "1/s")
    report.put("alerts_per_s", records / elapsedS, "1/s")
    Outcome.latency(report, "batch_ms", trig)
    Outcome.latency(report, "result_latency_ms", lat)
    report.put("catalog_total_s", lat.sum / 1e3 * Chunks / lat.length, "s")
    println(f"  ${measured.length} measured batches of ${ChunkEvents} frames over $elapsedS%.2f s; " +
      s"${l.samples.length} records decoded back with Avro")

    var failedAlerts = wrong.map(_._1.sink.records).sum + sampleProblems.length
    var attempted = l.batches.map(b => chunks(b.chunk).alerts.toLong).sum
    val problems = mutable.ArrayBuffer[String]() ++ wrong.map(_._2) ++ sampleProblems

    if (args.trace) {
      val tracer = new Tracer
      val s0 = tasks.snapshot(spark.sparkContext)
      // every chunk once, after one traced warm-up batch: enough batches
      // that the cut sum is steady, in a bounded time
      val tl = loop(spark, chunks, Seq(0), 0, args.work.resolve("ckpt-traced").toString, Some(tracer), cutSink,
        minBatches = Chunks)
      val tw = wrongBatches(tl.batches, chunks, reference)
      problems ++= tw.map(_._2)
      failedAlerts += tw.map(_._1.sink.records).sum
      attempted += tl.batches.map(b => chunks(b.chunk).alerts.toLong).sum
      val tb = tl.batches.drop(1)
      problems ++= traceReport(report, tracer, tb, chunks, Stats.median(trig))
      TaskStats.report(report, tasks.snapshot(spark.sparkContext) - s0)
      Outcome.microbatch(report, tl.progress.drop(1))
      tracer.write(args.traceFile)

      // Single-thread baseline: the same chunks at local[1], untraced.
      val nThroughput = frames / elapsedS
      spark.stop()
      val one = Graft.session("perfbench-local1", "local[1]")
      val ol = loop(one, chunks, Seq(Chunks), phaseSeconds, args.work.resolve("ckpt-1").toString, None,
        new SinkCounters(one.sparkContext))
      val om = ol.batches.drop(1)
      val oneThroughput = om.map(b => chunks(b.chunk).frames.length.toLong).sum /
        ((om.last.doneNs - om.head.addNs) / 1e9)
      val ow = wrongBatches(ol.batches, chunks, reference)
      problems ++= ow.map(b => s"local[1]: ${b._2}")
      failedAlerts += ow.map(_._1.sink.records).sum
      attempted += ol.batches.map(b => chunks(b.chunk).alerts.toLong).sum
      report.put("tasks.parallel_efficiency", nThroughput / (args.cpus * oneThroughput), "ratio")
      println(f"  local[${args.cpus}] $nThroughput%.0f events/s, local[1] $oneThroughput%.0f events/s; " +
        s"record digests per chunk agree across both: ${ow.isEmpty}")
      one.stop()
    }
    Outcome(problems.toSeq, attempted, failedAlerts)
  }

  /** Reports the per-layer figures; returns a problem when the cut self
    * times do not add up to the full chain within [[Outcome.CutTolerance]]. */
  private def traceReport(r: Report, t: Tracer, batches: Seq[Batch], chunks: Array[Chunk],
      untracedP50: Double): Option[String] = {
    def sum(name: String): Double = t.ms(name).drop(1).sum
    val full = sum("full_chain")
    val decode = sum("cut.decode")
    val alerts = sum("cut.alerts")
    val envelope = sum("cut.envelope")
    val prepare = sum("cut.prepare")
    val emit = sum("cut.emit") - sum("cut.cached")
    val framesIn = batches.map(b => chunks(b.chunk).frames.length.toLong).sum
    val bytesIn = batches.map(b => chunks(b.chunk).bytes).sum
    val injected = batches.map(b => chunks(b.chunk).dropped.toLong).sum
    val counted = batches.map(_.malformed).sum
    val eventsOut = batches.map(_.eventsOut).sum
    val records = batches.map(_.sink.records).sum
    val bytesOut = batches.map(_.sink.valueBytes).sum
    r.put("protobuf_wire.self_ms", decode, "ms")
    r.put("protobuf_wire.events_in", framesIn, "count")
    r.put("protobuf_wire.events_out", eventsOut, "count")
    r.put("protobuf_wire.malformed", framesIn - eventsOut, "count")
    r.put("protobuf_wire.malformed_acc_excess", counted - injected, "count")
    r.put("protobuf_wire.bytes_in", bytesIn, "bytes")
    r.put("protobuf_wire.ns_per_byte", decode * 1e6 / bytesIn, "ns")
    r.put("snort_pipeline.alerts.self_ms", alerts - decode, "ms")
    r.put("snort_pipeline.alerts.rows_out", records, "count")
    r.put("snort_pipeline.envelope.self_ms", envelope - alerts, "ms")
    r.put("snort_pipeline.fanout", records.toDouble / eventsOut, "ratio")
    r.put("kafka_sink.prepare.self_ms", prepare - envelope, "ms")
    r.put("kafka_sink.prepare.bytes_out", bytesOut, "bytes")
    r.put("kafka_sink.prepare.ns_per_record", (prepare - envelope) * 1e6 / records, "ns")
    r.put("kafka_sink.emit.self_ms", emit, "ms")
    r.put("kafka_sink.emit.records", records, "count")
    r.put("kafka_sink.writer.send_ms", batches.map(_.sink.sendNs).sum / 1e6, "ms")
    val cutSum = (prepare + emit) / full
    r.put("trace.cut_sum_ratio", cutSum, "ratio")
    r.put("trace.overhead_ratio", Stats.median(t.ms("full_chain").drop(1)) / untracedP50, "ratio")
    val within = math.abs(cutSum - 1) <= Outcome.CutTolerance
    println(f"  cut self times sum to ${cutSum * 100}%.1f%% of the full-chain span " +
      f"(tolerance ±${Outcome.CutTolerance * 100}%.0f%%) over ${batches.length} traced batches")
    if (within) None
    else Some(f"cut self times sum to ${cutSum * 100}%.1f%% of the full chain, outside 1 ± ${Outcome.CutTolerance}")
  }
}
