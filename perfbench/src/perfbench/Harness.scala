package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.perfbench.SparkAccess

/** One statement template of a workload. `indexWrite` marks writes that
  * maintain an index tree (their bytes written are reported). */
final case class Template(name: String, write: Boolean, weight: Int = 1,
                          indexWrite: Boolean = false)

/** One generated op: the template, the template parameter drawn from the
  * workload's finite parameter domain, and a per-op seed for the data a
  * write carries or a probe batch holds. */
final case class Op(client: Int, seq: Int, template: Template, param: Int,
                    opSeed: Long) {
  def key: String = s"${template.name}#$param"
  def tag: String = s"c$client-$seq"
  def write: Boolean = template.write
}

/** Rows the client received, and rows a write op got accepted. */
final case class Outcome(rows: Seq[Row], written: Long = 0L)

/** A workload: its clients, its templates and how an instance is set up. */
trait Workload {
  def name: String
  def clients: Int
  /** Whole rounds run before the timed window (the first is the cold one). */
  def warmRounds: Int
  /** Size of every template's parameter domain. */
  def params: Int
  def templates: Seq[Template]
  /** The templates of one round of the op stream, before shuffling. */
  def round: Seq[Template] = templates.flatMap(t => Seq.fill(t.weight)(t))
  /** Untimed work before the set-up passes, such as reading the corpus
    * rows a workload's model of the expected state starts from. */
  def prepare(ctx: Ctx): Unit = ()
  /** Set up a fresh instance on `ctx.spark` (timed as part of setup_s). */
  def open(ctx: Ctx, pass: Int): Instance
}

trait Instance {
  def exec(op: Op): Outcome
  /** True when the op's output is the expected one. */
  def check(op: Op, out: Outcome): Boolean
  /** End-of-run checks: (name, passed). */
  def finish(): Seq[(String, Boolean)] = Nil
  /** (index bytes on disk, rows indexed, committed versions), if the
    * workload holds index trees. */
  def indexFootprint(): Option[(Long, Long, Long)] = None
}

/** Seeded op streams. The same seed yields the same ops; each client has
  * its own stream. A stream is a sequence of rounds, each a seeded shuffle
  * of every template (by weight); a timed window runs whole rounds, so
  * every run sees the same template mix whatever the seed. */
object Ops {
  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def stream(w: Workload, seed: Long, client: Int): OpStream =
    new OpStream(w, mix(seed, client.toLong), client)

  /** The warm-up stream: rounds that the timed window never draws. */
  def warm(w: Workload, seed: Long): OpStream = stream(w, mix(seed, 0x5EED), 99)
}

final class OpStream(w: Workload, seed: Long, client: Int) extends Iterator[Op] {
  private val rng = new java.util.Random(seed)
  private var n = 0
  private var buf: Iterator[Template] = Iterator.empty
  def hasNext: Boolean = true
  /** True between rounds: every op of the last round has been drawn. */
  def roundDone: Boolean = !buf.hasNext
  def next(): Op = {
    if (!buf.hasNext) {
      val ts = new java.util.ArrayList[Template](w.round.asJava)
      java.util.Collections.shuffle(ts, rng)
      buf = ts.asScala.iterator
    }
    val t = buf.next()
    n += 1
    Op(client, n, t, rng.nextInt(w.params), rng.nextLong())
  }
  /** The ops of the next whole round. */
  def nextRound(): Seq[Op] = {
    val first = next()
    first +: Iterator.continually(this).takeWhile(!_.roundDone).map(_.next()).toSeq
  }
}

/** Everything an instance needs: the session of this set-up pass, the
  * workload seed, the corpus directory, the run's scratch directory,
  * the expected results and the tracer. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dataDir: String, val workDir: String,
                val golden: Map[String, Digest.Result]) {

  private val msAnchor = System.currentTimeMillis()
  private val nsAnchor = System.nanoTime()

  /** Record a QueryPlanningTracker phase of `df` as a span. */
  def recordPhase(df: DataFrame, phase: String, layer: String): Unit =
    if (tracer.on) df.queryExecution.tracker.phases.get(phase).foreach { p =>
      def ns(ms: Long) = nsAnchor + (ms - msAnchor) * 1000000L
      tracer.record(layer, ns(p.startTimeMs), ns(p.endTimeMs))
    }

  /** Collect a DataFrame's rows. Traced: optimization, physical planning
    * and execution each get their own span. */
  def collect(df: DataFrame): Seq[Row] =
    if (!tracer.on) df.collect().toSeq
    else {
      val qe = df.queryExecution
      tracer.span("catalyst.optimize")(qe.optimizedPlan)
      tracer.span("catalyst.plan")(qe.executedPlan)
      tracer.span("exec.collect")(df.collect().toSeq)
    }

  /** A SQL statement through the session's parser (GraftExtensions and
    * the GraftAuth gate), collected. Traced: the parser call is timed on
    * its own under `parseLayer` (statements whose effect runs inside the
    * parser, GridDB DML and index DDL, name their own layer), then the
    * DataFrame is built from the parsed plan under `analyzeLayer`. */
  def sql(text: String, parseLayer: String = "engine.parse",
          analyzeLayer: String = "catalyst.analyze"): Seq[Row] =
    if (!tracer.on) spark.sql(text).collect().toSeq
    else {
      val plan = tracer.span(parseLayer)(spark.sessionState.sqlParser.parsePlan(text))
      val df = tracer.span(analyzeLayer)(SparkAccess.ofRows(spark, plan))
      collect(df)
    }

  /** A DataFrame built by an engine API call, collected. The call is timed
    * under `layer`; the final plan's analysis is recorded inside it. */
  def api(layer: String)(build: => DataFrame): Seq[Row] = {
    val df = tracer.span(layer) {
      val d = build
      recordPhase(d, "analysis", "catalyst.analyze")
      d
    }
    collect(df)
  }

  /** Golden check: the op's row count and digest equal the expected ones
    * pinned for its template and parameter. */
  def goldenCheck(op: Op, out: Outcome): Boolean =
    golden.get(op.key).contains(Digest.of(out.rows))
}
