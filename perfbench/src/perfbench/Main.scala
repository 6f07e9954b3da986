package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.engine.GraftSession

/** Benchmark harness. Modes:
  * {{{
  * corpus <checkout>                        -- generate the corpus if missing
  * run <workload> <seed> <seconds> <trace 0|1> <checkout>
  * expect <workload> <checkout> <out.tsv>   -- pin expected results
  * selftest <checkout>
  * }}}
  * `run` prints one line per metric and, last, the result JSON object. */
object Main {

  val Workloads: Seq[Workload] = Seq(TqlIot, IngestServe)
  /** Set-up passes per run; setup_s is their median. */
  val SetupPasses = 3

  final case class Rec(op: Op, startNs: Long, endNs: Long, ok: Boolean, rows: Int,
                       written: Long, cpuNs: Long) {
    def secs: Double = (endNs - startNs) / 1e9
  }

  def workload(name: String): Workload = Workloads.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (${Workloads.map(_.name).mkString(", ")})"))

  def main(args: Array[String]): Unit = {
    val code = try {
      args.toSeq match {
        case Seq("corpus", root) =>
          val spark = session(root)
          Corpus.ensure(spark, dataRoot(root))
          spark.stop(); 0
        case Seq("run", w, seed, secs, trace, root) =>
          run(workload(w), seed.toLong, secs.toInt, trace == "1", root); 0
        case Seq("expect", w, root, out) => expect(workload(w), root, out); 0
        case Seq("selftest", root) => if (SelfTest.run(root)) 0 else 1
        case _ =>
          Console.err.println("usage: corpus <checkout> | " +
            "run <workload> <seed> <seconds> <0|1> <checkout> | " +
            "expect <workload> <checkout> <out.tsv> | selftest <checkout>")
          2
      }
    } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  // ---- session, corpus, expected results ---------------------------------

  def session(root: String): SparkSession = {
    // everything Spark writes stays inside the checkout
    System.setProperty("spark.sql.warehouse.dir", s"$root/.bench_work/warehouse")
    System.setProperty("spark.local.dir", s"$root/.bench_work/spark-local")
    GraftSession.local(Runtime.getRuntime.availableProcessors())
  }

  def dataRoot(root: String): String = s"$root/.bench_data"

  def loadGolden(root: String, w: Workload): Map[String, Digest.Result] = {
    val f = new java.io.File(s"$root/perfbench/expected/${w.name}.tsv")
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(k, n, d) = l.split("\t")
        k -> Digest.Result(n.toLong, d)
      }.toMap finally src.close()
    }
  }

  def newCtx(spark: SparkSession, tracer: Tracer, seed: Long, root: String,
             golden: Map[String, Digest.Result]): Ctx = {
    val s = GraftSession.prepare(spark.newSession())
    SparkSession.setActiveSession(s)
    new Ctx(s, tracer, seed, Corpus.dir(dataRoot(root)), s"$root/.bench_work/run", golden)
  }

  /** Run one op, timed, then check its output (untimed). */
  def runOp(ctx: Ctx, inst: Instance, op: Op): Rec = {
    val mx = ManagementFactory.getThreadMXBean
    val traced = ctx.tracer.on
    if (traced) ctx.spark.sparkContext.setJobGroup(op.tag, op.key, interruptOnCancel = false)
    val c0 = mx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val out = try Right(ctx.tracer.withOp(op.tag)(ctx.tracer.span("op")(inst.exec(op))))
    catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val c1 = mx.getCurrentThreadCpuTime
    if (traced) ctx.spark.sparkContext.clearJobGroup()
    val ok = out match {
      case Right(o) => try inst.check(op, o) catch { case NonFatal(_) => false }
      case Left(_) => false
    }
    if (!ok) Console.err.println(s"[perfbench] FAILED ${op.tag} ${op.key}: " +
      out.fold(e => e.toString.take(300), o => s"unexpected output (${o.rows.size} rows)"))
    Rec(op, t0, t1, ok, out.map(_.rows.size).getOrElse(0), out.map(_.written).getOrElse(0L),
      c1 - c0)
  }

  /** Closed loop: each client issues its next op when the previous one
    * returns, until `seconds` have passed and its current round is done.
    * Returns the ops and the throughput: the sum of the clients' own
    * rates, each over the time from the start to its last op's end. */
  def window(ctx: Ctx, inst: Instance, streams: Seq[OpStream],
             seconds: Int): (Seq[Rec], Double) = {
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    val perClient = streams.map(_ => new java.util.concurrent.ConcurrentLinkedQueue[Rec]())
    val threads = streams.zip(perClient).map { case (it, recs) =>
      new Thread(() => {
        SparkSession.setActiveSession(ctx.spark)
        while (System.nanoTime() < deadline || !it.roundDone)
          recs.add(runOp(ctx, inst, it.next()))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val rate = perClient.map { q =>
      val rs = q.asScala.toSeq
      if (rs.isEmpty) 0.0 else rs.size / ((rs.map(_.endNs).max - start) / 1e9)
    }.sum
    (perClient.flatMap(_.asScala).sortBy(_.startNs), rate)
  }

  // ---- statistics ---------------------------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Latency and volume figures of one window. */
  def windowFigures(recs: Seq[Rec], throughput: Double,
                    footprint: Option[(Long, Long, Long)]): Seq[(String, Double, String)] = {
    val reads = recs.filterNot(_.op.write).map(_.secs)
    val writes = recs.filter(_.op.write).map(_.secs)
    // every read template weighs the same, however often it runs and
    // however far its latency sits from the others'
    val templateMedians = recs.filterNot(_.op.write).groupBy(_.op.template.name).values
      .map(rs => median(rs.map(_.secs)))
    Seq(
      ("throughput_ops_s", throughput, "ops/s"),
      ("read_p50_gmean_s", if (templateMedians.isEmpty) 0.0
        else math.exp(templateMedians.map(math.log).sum / templateMedians.size), "s"),
      ("read_p50_s", median(reads), "s"),
      ("read_p90_s", quantile(reads, 0.9), "s"),
      ("read_samples", reads.size.toDouble, "count"),
      ("write_p50_s", median(writes), "s"),
      ("write_p90_s", quantile(writes, 0.9), "s"),
      ("write_samples", writes.size.toDouble, "count"),
      ("ingest_rows_s", recs.map(_.written).sum * throughput / math.max(recs.size, 1),
        "rows/s"),
      ("error_rate", recs.count(!_.ok).toDouble / math.max(recs.size, 1), "ratio"),
      ("index_bytes_per_row", footprint.map { case (b, r, _) => b.toDouble / math.max(r, 1L) }
        .getOrElse(0.0), "B/row"))
  }

  /** Driver heap after a full GC: the least of five readings 200 ms
    * apart, since Spark's ContextCleaner drops broadcast and checkpoint
    * blocks only after a collection has queued their references. */
  def heapLiveMb(): Double = (1 to 5).map { i =>
    if (i > 1) Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  // ---- run ----------------------------------------------------------------

  def run(w: Workload, seed: Long, seconds: Int, trace: Boolean, root: String): Unit = {
    val tracer = new Tracer
    val spark = session(root)
    Corpus.ensure(spark, dataRoot(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/.bench_work/run"))
    val golden = loadGolden(root, w)
    val checked = mutable.ArrayBuffer[Boolean]()

    w.prepare(newCtx(spark, tracer, seed, root, golden))
    // set-up passes: fresh session, registration, index builds; the last
    // pass's instance serves the warm-up and the timed window
    tracer.on = trace
    val passSecs = mutable.ArrayBuffer[Double]()
    var ctx: Ctx = null
    var inst: Instance = null
    for (pass <- 1 to SetupPasses) {
      val t0 = System.nanoTime()
      ctx = newCtx(spark, tracer, seed, root, golden)
      inst = w.open(ctx, pass)
      passSecs += (System.nanoTime() - t0) / 1e9
    }
    // warm-up: whole rounds; the first holds every template's first
    // execution in this JVM
    val warm = Ops.warm(w, seed)
    val cold = warm.nextRound().map(runOp(ctx, inst, _))
    val coldTotal = cold.map(_.secs).sum
    checked ++= (cold ++ (2 to w.warmRounds).flatMap(_ =>
      warm.nextRound().map(runOp(ctx, inst, _)))).map(_.ok)
    val streams = (0 until w.clients).map(c => Ops.stream(w, seed, c))

    val metrics = mutable.ArrayBuffer[(String, Double, String)]()
    val info = mutable.ArrayBuffer[(String, Double, String)]()
    tracer.on = false
    val (recs, throughput) = window(ctx, inst, streams, seconds)
    checked ++= recs.map(_.ok)
    val untraced = windowFigures(recs, throughput, inst.indexFootprint())
    if (!trace) {
      metrics += (("setup_s", median(passSecs.toSeq), "s"))
      metrics += (("cold_total_s", coldTotal, "s"))
      val endToEnd = Set("throughput_ops_s", "read_p50_gmean_s")
      metrics ++= untraced.filter(m => endToEnd(m._1))
      metrics += (("heap_live_mb", heapLiveMb(), "MB"))
      info ++= untraced.filterNot(m => endToEnd(m._1))
      info ++= passSecs.zipWithIndex.map { case (s, i) => (s"setup_pass${i + 1}_s", s, "s") }
    } else {
      metrics ++= Layers.traced(ctx, inst, streams, seconds, tracer, untraced)
      info += (("bench_calibration_s", Layers.calibration(spark), "s"))
      tracer.write(s"$root/.bench_out/spans-${w.name}-seed$seed.tsv")
    }
    val finals = inst.finish()
    finals.foreach { case (n, ok) =>
      if (!ok) Console.err.println(s"[perfbench] FAILED end-of-run check $n") }
    checked ++= finals.map(_._2)

    val env = Env.fields(spark, w, seed, seconds, trace, root)
    (metrics ++ info).foreach { case (n, v, u) => println(f"[perfbench] ${w.name} $n%-32s $v%.6f $u") }
    val failed = checked.count(!_)
    val result = Json.obj(Seq(
      "correct" -> Json.raw((failed == 0).toString),
      "attempted" -> Json.raw(checked.size.toString),
      "failed" -> Json.raw(failed.toString),
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    val perTemplate = recs.groupBy(_.op.template.name).toSeq.sortBy(_._1).map { case (t, rs) =>
      t -> Json.obj(Seq("n" -> Json.raw(rs.size.toString),
        "p50_s" -> Json.num(median(rs.map(_.secs))))) }
    Env.record(root, w, seed, trace, env :+ ("window_templates" -> Json.obj(perTemplate)),
      metrics.toSeq ++ info.toSeq, result)
    Env.recordOps(root, w, seed, trace, recs)
    spark.stop()
    println(result)
  }

  // ---- expected results ---------------------------------------------------

  /** Run every template at every parameter once, outside any timed run,
    * and write its row count and digest. */
  def expect(w: Workload, root: String, out: String): Unit = {
    val spark = session(root)
    Corpus.ensure(spark, dataRoot(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/.bench_work/run"))
    val ctx = newCtx(spark, new Tracer, 0L, root, Map.empty)
    val inst = w.open(ctx, 1)
    val lines = for (t <- w.templates; p <- 0 until w.params) yield {
      val o = inst.exec(Op(0, 0, t, p, 0L))
      s"${t.name}#$p\t${Digest.of(o.rows).rows}\t${Digest.of(o.rows).digest}"
    }
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try lines.foreach(pw.println) finally pw.close()
    spark.stop()
  }
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  final case class V(text: String) { override def toString: String = text }
  def raw(s: String): V = V(s)
  def num(d: Double): V = V(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def str(s: String): V = V("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def obj(kv: Seq[(String, V)]): V =
    V(kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}"))
}
