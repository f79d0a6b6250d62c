package perfbench

import graft.Tables
import graft.queries.AllQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** `catalog_headline`: the 30 headline catalog queries, sequential and
  * closed loop, each timed from plan construction through a noop write over
  * generated sf 0.02 tables. The warm-up pass runs every query over the
  * same tables and checks each result's digest; the timed passes then run
  * the queries in an order drawn from the seed.
  */
object CatalogHeadline {
  /** The headline list as the engine's bench defined it when this benchmark
    * was written. Frozen here so that later edits to the engine's bench do
    * not change what this workload measures. */
  val Queries: Seq[String] = Seq(
    "q_scan_project", "q_agg_pricing_summary", "q_join_inner", "q_join_asof",
    "q_win_topk_per_group", "q_win_running_frames", "q_set_union_distinct", "q_dedup_lsh_pairs",
    "q_sim_bruteforce_topk", "q_pipe_iso_trim", "q_dedup_cc", "q_join_range_bucketed",
    "q_sim_kmeans", "q_join_star", "q_join_waiting_suppliers", "q_graph_pagerank_1step",
    "q_dedup_simhash_bands", "q_join_min_cost_supplier", "q_layout_zorder", "q_join_product_profit",
    "q_events_attribution", "q_join_spatial_grid", "q_events_wau", "q_sim_covariance",
    "q_layout_hilbert_native", "q_win_running_distinct", "q_ts_rolling_median",
    "q_events_pattern_match", "q_join_asof_native", "q_join_bloom_prefilter")

  /** Expected (rows, digest) of each query over the timed tables. These
    * results were checked against the DuckDB oracle SQL of every query. */
  lazy val Expected: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromResource("catalog_digests.tsv")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, digest) = l.split("\t")
      name -> (rows.toLong, digest)
    }.toMap
    finally src.close()
  }

  /** Order-independent digest of a result: row count and the exact sum of
    * a 64-bit hash of each row's JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val row = df.select(xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Write-side Catalyst phases of the noop write, from the planning tracker. */
  private final class PhaseListener extends QueryExecutionListener {
    val phases: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  final case class Timed(query: String, wallMs: Double, task: TaskStats.Snap)

  def run(spark: SparkSession, args: Args, report: Report, setup: Setup): Outcome = {
    val tasks = new TaskStats
    spark.sparkContext.addSparkListener(tasks)
    val sc = spark.sparkContext
    val problems = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L

    // Warm-up and check pass over the timed tables, n queries at a time:
    // its cost is mostly first-use code generation and JIT compilation.
    setup.markWarmupStart()
    val big = Tables(spark, args.tables)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(args.cpus)
    val digests = try Queries.map { q =>
      q -> pool.submit(() => try Right(digest(AllQueries.all(q).run(big))) catch { case e: Exception => Left(e.toString) })
    }.map { case (q, f) => q -> f.get() } finally pool.shutdown()
    digests.foreach { case (q, got) =>
      attempted += 1
      Expected.get(q) match {
        case None => failed += 1; problems += s"$q: no expected digest"
        case Some(want) if got != Right(want) => failed += 1; problems += s"$q: digest $got, want $want"
        case _ =>
      }
    }
    val order = new scala.util.Random(args.seed).shuffle(Queries)
    def timedPass(): Seq[Timed] = order.map { q =>
      attempted += 1
      val before = tasks.snapshot(sc)
      val t0 = System.nanoTime()
      try noop(AllQueries.all(q).run(big))
      catch { case e: Exception => failed += 1; problems += s"$q: $e" }
      val wall = (System.nanoTime() - t0) / 1e6
      Timed(q, wall, tasks.snapshot(sc) - before)
    }
    setup.endNow()

    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer(timedPass())
    while (!args.trace && System.nanoTime() - start < args.seconds * 1e9) passes += timedPass()
    val elapsedS = (System.nanoTime() - start) / 1e9
    val all = passes.flatten.toSeq
    val perQuery = all.groupBy(_.query).map { case (q, ts) => q -> Stats.median(ts.map(_.wallMs)) }
    val walls = all.map(_.wallMs)
    report.put("events_per_s", all.map(_.task.recordsRead).sum / elapsedS, "1/s")
    report.put("alerts_per_s", all.length / elapsedS, "1/s")
    Outcome.latency(report, "batch_ms", walls)
    Outcome.latency(report, "result_latency_ms", walls)
    report.put("catalog_total_s", perQuery.values.sum / 1e3, "s")
    println(f"  ${passes.length} timed pass(es) of ${Queries.length} queries in $elapsedS%.1f s; " +
      s"warm-up pass checked ${Queries.length} result digests")

    if (args.trace) {
      val untraced = passes.head
      TaskStats.report(report, untraced.map(_.task).reduce(_ + _))
      untraced.foreach { t =>
        report.put(s"catalog.${t.query}.wall_s", t.wallMs / 1e3, "s")
        report.put(s"catalog.${t.query}.task_ms", t.task.taskMs, "ms")
      }
      problems ++= tracedPass(spark, big, order, tasks, args, report, untraced.map(_.wallMs).sum)
    }
    Outcome(problems.toSeq, attempted, failed)
  }

  /** Per query: construct, forced analyzed / optimizedPlan / executedPlan,
    * then the noop write, each in its own span under one query span.
    * Returns a problem for each query whose spans do not cover its wall
    * within [[Outcome.CatalogTolerance]] or 5 ms. */
  private def tracedPass(spark: SparkSession, big: Tables, order: Seq[String], tasks: TaskStats,
      args: Args, r: Report, untracedTotalMs: Double): Seq[String] = {
    val sc = spark.sparkContext
    val t = new Tracer
    val listener = new PhaseListener
    spark.listenerManager.register(listener)
    var writePhases = Map.empty[String, Double]
    var floor = 0.0
    var jobs = 0L
    var stages = 0L
    var worstErr = 0.0
    val problems = mutable.ArrayBuffer[String]()
    order.foreach { q =>
      val before = tasks.snapshot(sc)
      t.span("query", q) { root =>
        val df = t.span("construct", q, root)(_ => AllQueries.all(q).run(big))
        t.span("analysis", q, root)(_ => df.queryExecution.analyzed)
        t.span("optimization", q, root)(_ => df.queryExecution.optimizedPlan)
        t.span("planning", q, root)(_ => df.queryExecution.executedPlan)
        t.span("exec", q, root)(_ => noop(df))
      }
      val task = tasks.snapshot(sc) - before
      val spans = t.byGroup(q)
      def ms(name: String) = spans.filter(_.name == name).map(_.ms).sum
      val wall = ms("query")
      val parts = Seq("construct", "analysis", "optimization", "planning", "exec").map(ms).sum
      worstErr = math.max(worstErr, math.abs(wall - parts) / wall)
      if (math.abs(wall - parts) > math.max(Outcome.CatalogTolerance * wall, 5.0))
        problems += f"$q: construct + phases + exec spans cover $parts%.1f of its $wall%.1f ms wall"
      val write = listener.phases.toMap
      val writeThis = write.map { case (k, v) => k -> (v - writePhases.getOrElse(k, 0.0)) }
      writePhases = write
      floor += ms("exec") - writeThis.values.sum - task.taskMs.toDouble / args.cpus
      jobs += task.jobs
      stages += task.stages
    }
    val wp = listener.phases
    def total(name: String) = t.ms(name).sum
    r.put("queries.construct_ms", total("construct"), "ms")
    r.put("catalyst.analysis_ms", total("analysis") + wp("analysis"), "ms")
    r.put("catalyst.optimization_ms", total("optimization") + wp("optimization"), "ms")
    r.put("catalyst.planning_ms", total("planning") + wp("planning"), "ms")
    r.put("exec.wall_ms", total("exec"), "ms")
    r.put("exec.jobs", jobs, "count")
    r.put("exec.stages", stages, "count")
    r.put("exec.floor_ms", floor, "ms")
    r.put("trace.catalog_reconcile_err", worstErr, "ratio")
    r.put("trace.overhead_ratio", total("query") / untracedTotalMs, "ratio")
    println(f"  construct + phases + exec cover each query's wall within ${worstErr * 100}%.2f%% " +
      f"(tolerance ${Outcome.CatalogTolerance * 100}%.0f%% or 5 ms); the noop writes' own phases: " +
      wp.toSeq.sorted.map { case (k, v) => f"$k $v%.0f ms" }.mkString(", "))
    spark.listenerManager.unregister(listener)
    t.write(args.traceFile)
    problems.toSeq
  }
}
