package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkAccess

/** The traced run: the per-layer metrics, each named after the engine
  * layer the benchmark calls into.
  *
  * Span layers (mean self time per call, ms): `tables.register`,
  * `engine.parse`, `tql.parse`, `tql.compile`, `catalyst.analyze`,
  * `catalyst.optimize`, `catalyst.plan`, `exec.collect`, `catalog.read`,
  * `catalog.put`, `ddl.insert`, `index.append`, `index.compact`,
  * `index.serve_build`. A layer with no call in the workload reports 0.
  *
  * `exec.<kind>.*` (kind = read or write) come from [[ExecListener]], per
  * op of that kind unless noted. */
object Layers {

  val SpanLayers = Seq("tables.register", "engine.parse", "tql.parse", "tql.compile",
    "catalyst.analyze", "catalyst.optimize", "catalyst.plan", "exec.collect",
    "catalog.read", "catalog.put", "ddl.insert", "index.append", "index.compact",
    "index.serve_build")

  val ExecMetrics: Seq[(String, String)] = Seq(
    "sql_executions" -> "count", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "sched_delay_ms" -> "ms", "run_ms" -> "ms", "cpu_ms" -> "ms", "core_util" -> "ratio",
    "input_bytes" -> "B", "rows_in_per_row_out" -> "ratio", "shuffle_write_bytes" -> "B",
    "shuffle_read_bytes" -> "B", "spill_bytes" -> "B", "task_skew" -> "ratio")

  /** Untraced-window figures reported with the layers. */
  val Untraced = Seq("read_p50_s", "read_p90_s", "read_samples", "write_p50_s", "write_p90_s",
    "write_samples", "ingest_rows_s", "error_rate", "index_bytes_per_row")

  def traced(ctx: Ctx, inst: Instance, streams: Seq[OpStream],
             seconds: Int, tracer: Tracer,
             untraced: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val sc = ctx.spark.sparkContext
    val listener = new ExecListener
    sc.addSparkListener(listener)
    val gc0 = Main.gcMs()
    tracer.on = true
    val (recs, throughput) = Main.window(ctx, inst, streams, seconds)
    tracer.on = false
    val gc = Main.gcMs() - gc0
    SparkAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    val cores = sc.defaultParallelism
    val figures = Main.windowFigures(recs, throughput, inst.indexFootprint())
    val tags = recs.map(_.op.tag).toSet

    // span self times: set-up spans for registration, window ops otherwise
    val self = tracer.selfTimes(s => tags(s.op) || s.layer == "tables.register")
    val spanMetrics = SpanLayers.map { l =>
      val (n, ns) = self.getOrElse(l, (0, 0L))
      (s"${l}_ms", if (n == 0) 0.0 else ns / 1e6 / n, "ms")
    }

    val execMetrics = Seq("read" -> false, "write" -> true).flatMap { case (kind, write) =>
      val rs = recs.filter(_.op.write == write)
      val accs = rs.flatMap(r => listener.byOp.get(r.op.tag))
      val n = math.max(rs.size, 1).toDouble
      def sum(f: listener.Acc => Long): Double = accs.map(f).sum.toDouble
      val wallMs = rs.map(_.secs * 1000).sum
      val skews = accs.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
        val med = Main.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }
      val values = Map(
        "sql_executions" -> sum(_.sqlExecutions) / n, "jobs" -> sum(_.jobs) / n,
        "stages" -> sum(_.stages) / n, "tasks" -> sum(_.tasks) / n,
        "sched_delay_ms" -> sum(_.schedDelayMs) / n, "run_ms" -> sum(_.runMs) / n,
        "cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
        "core_util" -> (if (wallMs > 0) sum(_.runMs) / (wallMs * cores) else 0.0),
        "input_bytes" -> sum(_.inputBytes) / n,
        "rows_in_per_row_out" -> sum(_.inputRecords) / math.max(rs.map(_.rows).sum, 1),
        "shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
        "shuffle_read_bytes" -> sum(_.shuffleRead) / n,
        "spill_bytes" -> sum(_.spill) / n,
        "task_skew" -> Main.median(skews.toSeq))
      ExecMetrics.map { case (m, unit) => (s"exec.$kind.$m", values(m), unit) }
    }

    val indexWrites = recs.filter(_.op.template.indexWrite)
    val other = Seq(
      ("client.cpu_ms", if (recs.isEmpty) 0.0 else recs.map(_.cpuNs).sum / 1e6 / recs.size, "ms"),
      ("driver.gc_ms", gc.toDouble / math.max(recs.size, 1), "ms"),
      ("index.bytes_written", if (indexWrites.isEmpty) 0.0 else indexWrites
        .flatMap(r => listener.byOp.get(r.op.tag)).map(_.outputBytes).sum.toDouble /
        indexWrites.size, "B"),
      ("index.versions", inst.indexFootprint().map(_._3.toDouble).getOrElse(0.0), "count"))
    val tracedThroughput = figures.find(_._1 == "throughput_ops_s").get._2
    spanMetrics ++ other ++ execMetrics ++ untraced.filter(m => Untraced.contains(m._1)) :+
      (("trace.overhead_ops_s",
        untraced.find(_._1 == "throughput_ops_s").get._2 - tracedThroughput, "ops/s"))
  }

  /** graft.Bench's data-free calibration job (sum of id % 1000007 over
    * 200M longs), once warm: host speed context, not a metric. */
  def calibration(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id % 1000007)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }
}
