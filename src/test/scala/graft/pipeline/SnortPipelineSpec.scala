package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pipeline e2e on synthetic SensorEvent fixtures (FIXTURES.md §1/§3):
  * explode cardinality, projection mapping, golden metadata timestamps,
  * null-safe envelope where the reference panics.
  */
class SnortPipelineSpec extends SparkSpec {

  private def metric(ts: String, srcAddr: String = null, dstPort: java.lang.Long = null): Row = {
    val base: Array[Any] = Array.fill(38)(null)
    base(0) = ts        // snort_timestamp
    base(26) = srcAddr  // snort_src_address
    base(5) = dstPort   // snort_dst_port
    Row.fromSeq(base.toIndexedSeq)
  }

  private def event(
      hash: String,
      metrics: Seq[Row],
      priority: Long = 1L,
      classification: String = "attempted-recon"): Row =
    Row(
      metrics,                  // metrics
      hash,                     // event_hash_sha256
      metrics.size.toLong,      // event_metrics_count
      1738296906L,              // event_seconds
      "sensor-1",               // sensor_id
      "3.1.0",                  // sensor_version
      1738296906927463L,        // event_read_at  (golden vector input)
      1738296906900000L,        // event_sent_at
      1738296906000000L,        // event_received_at
      "allow",                  // snort_action
      classification,           // snort_classification
      "C2S",                    // snort_direction
      "eth0",                   // snort_interface
      "test alert",             // snort_message
      priority,                 // snort_priority
      "TCP",                    // snort_protocol
      1L, 2L, 3L,               // gid, rev, sid
      "1:1000001",              // snort_rule
      1738296906L,              // snort_seconds
      "http",                   // snort_service
      null)                     // snort_type_of_service

  private def eventsDf(rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, SensorSchemas.sensorEventSchema)

  test("explode: 3 metrics → 3 rows, 0 metrics → 0 rows, count preserved") {
    val df = eventsDf(
      event("h1", Seq(
        metric("25/01/31-04:15:06.927463", srcAddr = "10.0.0.1", dstPort = 443L),
        metric("25/01/31-04:15:07.000001"),
        metric("25/01/31-04:15:08.100000"))),
      event("h2", Seq.empty))
    val alerts = SnortPipeline.alerts(df)
    assert(alerts.count() == 3)
    val expected = df.agg(sum("event_metrics_count")).head().getLong(0)
    assert(alerts.count() == expected)
  }

  test("projection: field mapping and golden metadata timestamps") {
    val df = eventsDf(event("h1", Seq(
      metric("25/01/31-04:15:06.927463", srcAddr = "10.0.0.1", dstPort = 443L))))
    val row = SnortPipeline.alerts(df).head()
    val md = row.getStruct(row.fieldIndex("metadata"))
    assert(md.getAs[String]("hash_sha256") == "h1")
    assert(md.getAs[String]("read_at") == "2025-01-31T04:15:06.927Z")     // trunc µs→ms
    assert(md.getAs[String]("sent_at") == "2025-01-31T04:15:06.9Z")      // trim zeros
    assert(md.getAs[String]("received_at") == "2025-01-31T04:15:06Z")    // whole second
    assert(row.getAs[String]("src_addr") == "10.0.0.1")
    assert(row.getAs[Long]("dst_port") == 443L)
    assert(row.getAs[String]("priority_str") == "High")
    assert(row.getAs[String]("timestamp") == "25/01/31-04:15:06.927463")
    assert(row.getAs[String]("class") == "attempted-recon")
    assert(row.getAs[String]("rule") == "1:1000001")
    assert(row.isNullAt(row.fieldIndex("vlan")))
  }

  test("envelope: key, headers, event-time parse + fallback; null-safe class") {
    val df = eventsDf(
      event("h1", Seq(metric("25/01/31-04:15:06.927463"))),
      event("h2", Seq(metric("garbage")), classification = null))
    val out = SnortPipeline.withEnvelope(SnortPipeline.alerts(df))
      .select(col("kafka_key"), unix_micros(col("event_time")).as("et"), col("headers"))
      .orderBy("kafka_key")
      .collect()
    assert(out(0).getAs[String]("kafka_key") == "h1")
    assert(out(0).getAs[Long]("et") == 1738296906927463L)          // parsed
    assert(out(1).getAs[Long]("et") == 1738296906000000L)          // fallback
    val h2headers = out(1).getAs[Map[String, String]]("headers")
    assert(h2headers("classification") == "")                      // ref panics here
    assert(h2headers("priorityStr") == "High")
    assert(h2headers("sensor_id") == "sensor-1")
  }

  test("metadata timestamps and the priority label are computed per event, below the explode") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, DateFormatClass, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    // an RDD source: over a local relation the optimizer would evaluate the
    // per-event projection on the driver
    val events = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(event("h1", Seq(metric("t"))))), SensorSchemas.sensorEventSchema)
    val plan = SnortPipeline.alerts(events).queryExecution.optimizedPlan
    val explode = plan.collectFirst { case g: Generate => g }.get
    def count(p: LogicalPlan, f: Expression => Boolean): Int =
      p.collect { case n => n.expressions.map(_.collect { case e if f(e) => e }.size).sum }.sum
    val formats: Expression => Boolean = _.isInstanceOf[DateFormatClass]
    val labels: Expression => Boolean = _.isInstanceOf[CaseWhen]
    assert(count(plan, formats) == 3 && count(explode.child, formats) == 3)
    assert(count(plan, labels) == 1 && count(explode.child, labels) == 1)
  }
}
