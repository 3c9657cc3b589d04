package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{LeafExecNode, LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into the program. `trace` is the pass
  * the span belongs to; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      start: Long, gcStartMs: Long, var end: Long = 0L,
                      var gcEndMs: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
  /** JVM-wide garbage-collection time while the span was open. */
  def gcSeconds: Double = (gcEndMs - gcStartMs) / 1e3
}

/** Spans kept in memory; written out when the run ends. With `enabled`
  * false, `span` only runs its body, so untraced passes do the same calls
  * with nothing recorded. The innermost open span id travels to Spark jobs
  * as a local property, which the listener reads back. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var trace = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), trace, name,
        System.nanoTime(), Tracer.gcMs())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Tracer.Property, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        s.gcEndMs = Tracer.gcMs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Property, stack.headOption.map(_.toString).orNull)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  /** Innermost span open at nanos `t`. */
  def innermostAt(t: Long): Int =
    spans.filter(s => s.start <= t && (s.end == 0L || t <= s.end))
      .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
}

object Tracer {
  val Property = "perfbench.span"
  private val collectors = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  def gcMs(): Long = { var t = 0L; collectors.forEach(c => t += math.max(0L, c.getCollectionTime)); t }
}

/** Task-level totals of the jobs attributed to one span. */
final class ExecTotals {
  var jobs = 0; var stages = 0; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: ExecTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** Largest max/median task time over stages with at least 2 tasks. */
  def stageSkewMax: Double = {
    val r = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (r.isEmpty) 1.0 else r.max
  }
}

/** Listener registered by the benchmark: attributes every job to the span
  * that submitted it (local property, else the innermost span open at
  * submission, resolved on the main thread when totals are read), and
  * stages and tasks to their job's span. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val stageKey = mutable.Map.empty[Int, Int]
  private val byKey = mutable.Map.empty[Int, ExecTotals]
  // jobs without the property: key -(jobId + 2) -> submission nanos
  private val pending = mutable.Map.empty[Int, Long]

  private def totals(key: Int) = byKey.getOrElseUpdate(key, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
    val key = prop.map(_.toInt).getOrElse {
      pending(-(e.jobId + 2)) = e.time * 1000000L + nanoOffset
      -(e.jobId + 2)
    }
    totals(key).jobs += 1
    e.stageIds.foreach(stageKey(_) = key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(totals(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageKey.getOrElse(e.stageId, -1))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
    }
    t.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  /** Totals over the jobs attributed to `spans`. Call on the thread that
    * records spans, after the listener bus has drained. */
  def sum(spans: Set[Int]): ExecTotals = synchronized {
    pending.foreach { case (key, t) =>
      val span = tracer.innermostAt(t)
      byKey.remove(key).foreach(totals(span).add)
      stageKey.mapValuesInPlace((_, k) => if (k == key) span else k)
    }
    pending.clear()
    val r = new ExecTotals
    spans.foreach(s => byKey.get(s).foreach(r.add))
    r
  }
}

/** Query executions the program's sink calls ran, as Spark reports them
  * to a QueryExecutionListener: the write commands and the queries they
  * plan and run inside. Reports arrive on the listener bus, so `take`
  * drains it first. */
final class SinkPlans extends QueryExecutionListener {
  private val got = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = got.add(qe)
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The executions reported since the last call. */
  def take(sc: SparkContext): Seq[QueryExecution] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Iterator.continually(got.poll()).takeWhile(_ != null).toSeq
  }
}

/** Plan-shape counts of one physical plan. */
final case class PlanShape(nodes: Int = 0, exchanges: Int = 0, scans: Int = 0,
                           hofSites: Int = 0, codegenFallback: Int = 0,
                           unpartitionedWindows: Int = 0) {
  def +(o: PlanShape): PlanShape = PlanShape(nodes + o.nodes,
    exchanges + o.exchanges, scans + o.scans, hofSites + o.hofSites,
    codegenFallback + o.codegenFallback,
    unpartitionedWindows + o.unpartitionedWindows)
}

/** Walks the initial physical plan (the adaptive plan before any stage
  * runs, so the shape does not depend on runtime statistics), subqueries
  * included. */
object PlanWalker {
  def apply(qe: QueryExecution): PlanShape = walk(qe.executedPlan)

  private def walk(p: SparkPlan): PlanShape = p match {
    case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => PlanShape(nodes = 1, exchanges = 1)
    case _ =>
      var hof = 0; var fallback = 0
      p.expressions.foreach(_.foreach {
        case _: HigherOrderFunction => hof += 1
        case _: CodegenFallback => fallback += 1
        case _ =>
      })
      val here = PlanShape(
        nodes = 1,
        exchanges = p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
          case _ => 0
        },
        scans = p match {
          case _: LocalTableScanExec => 0
          case l: LeafExecNode if l.nodeName.contains("Scan") => 1
          case _ => 0
        },
        hofSites = hof, codegenFallback = fallback,
        unpartitionedWindows = p match {
          case w: WindowExec if w.partitionSpec.isEmpty => 1
          case _ => 0
        })
      (p.children ++ p.subqueries).map(walk).foldLeft(here)(_ + _)
  }

  /** analysis / optimization / planning milliseconds from the query's own
    * planning tracker. */
  def phasesMs(qe: QueryExecution): Map[String, Long] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
}
