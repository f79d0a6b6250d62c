package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Shows that the `alerts_etl` checks catch a sink that loses one record or
  * flips one byte of one value: the clean chain passes them, both faulty
  * sinks fail them.
  */
object SelfTest {
  def run(spark: SparkSession, args: Args): Outcome = {
    import spark.implicits._
    val gen = new SensorGen(args.seed, Shape.etl)
    val chunks = Array(gen.chunk(0, 2000, SensorGen.BaseMicros, 60L * 1000 * 1000, lateAllowed = false))
    val frames = spark.createDataset(chunks(0).frames.toSeq).toDF()
    val reference = mutable.Map[Int, (Long, Long, Long)]()
    val schema = AvroCheck.schema(spark)
    def once(fault: Fault): Seq[String] = {
      val sink = new SinkCounters(spark.sparkContext)
      val malformed = graft.streaming.ProtobufWire.malformedCounter(spark)
      graft.streaming.KafkaSink.emit(Chain.prepared(frames, Some(malformed)), () => new CountingWriter(sink, fault))
      val batch = AlertsEtl.Batch(0, 0L, 0L, sink.snap, malformed.sum, -1L)
      AlertsEtl.wrongBatches(Seq(batch), chunks, reference).map(_._2) ++
        AvroCheck.check(schema, sink.drainSamples(), gen.sampled.get)
    }
    val results = Seq(Fault.NoFault, Fault.DropRecord, Fault.FlipByte).map(f => f -> once(f))
    val ok = results.forall { case (f, problems) => (f == Fault.NoFault) == problems.isEmpty }
    results.foreach { case (f, problems) =>
      println(s"self-test $f: ${if (problems.isEmpty) "checks pass" else s"checks fail: ${problems.head}"}")
    }
    println(s"self-test ${if (ok) "passed" else "FAILED"}: the checks ${if (ok) "catch" else "miss"} the injected faults")
    Outcome(Nil, results.length, if (ok) 0 else 1)
  }
}
