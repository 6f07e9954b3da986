package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory spans recorded around the benchmark's calls into each engine
  * layer. A span has an id, the op it belongs to, its layer, start and end
  * (ns) and the span that caused it. Nothing is recorded inside the engine;
  * spans are written out when the run ends. When `on` is false a span is
  * just its body. */
final class Tracer {
  import Tracer.Span

  @volatile var on: Boolean = false

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "setup")

  def withOp[T](op: String)(body: => T): T = {
    val prev = currentOp.get
    currentOp.set(op)
    try body finally currentOp.set(prev)
  }

  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, currentOp.get, layer, t0, System.nanoTime(), parent))
        stack.set(stack.get.tail)
      }
    }

  /** A span measured by someone else (a QueryPlanningTracker phase) that
    * ran inside the current span. */
  def record(layer: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), currentOp.get, layer, start,
      end, stack.get.headOption.getOrElse(0)))

  /** Per layer, over the spans `keep` selects: (spans, summed self ns). A
    * span's self time is its duration minus the union of its children's
    * intervals within it. */
  def selfTimes(keep: Span => Boolean): Map[String, (Int, Long)] = {
    val all = spans.asScala.toSeq.filter(keep)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = s.start
        cs.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        (s.end - s.start) - covered
      }.sum
      layer -> (ss.size, self)
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("id\top\tlayer\tstart_ns\tend_ns\tparent")
      spans.asScala.toSeq.sortBy(_.id).foreach(s =>
        w.println(s"${s.id}\t${s.op}\t${s.layer}\t${s.start}\t${s.end}\t${s.parent}"))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, op: String, layer: String, start: Long,
                        end: Long, parent: Int)
}

/** Spark work grouped by op: every op of a traced run runs under its own
  * job group, which Spark copies onto its SQL executions, jobs, stages and
  * tasks. Drained through the listener bus before it is read. */
final class ExecListener extends SparkListener {

  final class Acc {
    var sqlExecutions, jobs, stages, tasks = 0L
    var runMs, cpuNs, schedDelayMs, inputBytes, inputRecords = 0L
    var shuffleWrite, shuffleRead, spill, outputBytes = 0L
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  val byOp = mutable.Map[String, Acc]()
  private val stageOp = mutable.Map[Int, String]()

  private def acc(op: String): Acc = byOp.getOrElseUpdate(op, new Acc)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => synchronized { acc(g).sqlExecutions += 1 })
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g => synchronized {
        acc(g).jobs += 1
        e.stageIds.foreach(s => stageOp(s) = g)
      } }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    }
  }
}
