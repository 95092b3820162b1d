package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters at one instant (task metrics summed over
  * every task that ended so far). */
final case class Counts(jobs: Long, tasks: Long, taskMs: Long, cpuNs: Long, gcMs: Long,
    shuffleBytes: Long, fetchWaitMs: Long, spillBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes,
    fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes,
    fetchWaitMs + o.fetchWaitMs, spillBytes + o.spillBytes)
}
object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0) }

/** Benchmark-side listener: folds job and task events into [[Counts]]. */
final class CountingListener extends SparkListener {
  private val jobs, tasks, taskMs, cpuNs, gcMs, shuffle, fetchMs, spill = new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffle.add(m.shuffleWriteMetrics.bytesWritten)
      fetchMs.add(m.shuffleReadMetrics.fetchWaitTime)
      spill.add(m.diskBytesSpilled)
    }
  }
  def now: Counts = Counts(jobs.sum, tasks.sum, taskMs.sum, cpuNs.sum, gcMs.sum,
    shuffle.sum, fetchMs.sum, spill.sum)
}

/** One recorded span: wall interval, parent, counter delta, and the
  * executed plans of the SQL actions that ran inside it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    counts: Counts, plans: Seq[SparkPlan]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest through a
  * stack on the (single) driver thread; counters come from a
  * [[CountingListener]] and plans from a QueryExecutionListener, both
  * drained at every span boundary so each event lands in its span. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val listener = new CountingListener
  private val captured = ArrayBuffer.empty[SparkPlan]
  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      captured.synchronized { captured += qe.executedPlan }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0
  val t0: Long = System.nanoTime()

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  private def drain(): Unit = org.apache.spark.graftmetrics.drainListenerBus(spark.sparkContext)

  def span[T](name: String)(body: => T): T = {
    drain()
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = listener.now
    val planMark = captured.synchronized(captured.size)
    stack = id :: stack
    val s = System.nanoTime()
    try body
    finally {
      drain()
      val e = System.nanoTime()
      stack = stack.tail
      val plans = captured.synchronized(captured.drop(planMark).toVector)
      spans += Span(id, name, parent, s, e, listener.now - before, plans)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Self time of a span: its wall minus the part its children cover. */
  def selfS(sp: Span): Double =
    sp.wallS - spans.filter(_.parent == sp.id).map(_.wallS).sum
}

object Plans {
  /** Every physical node of a finished plan, through AQE stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def keyNames(p: SparkPlan): Set[String] = p match {
    case j: HashJoin => (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet
    case j: SortMergeJoinExec => (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet
    case _ => Set.empty
  }

  /** Output rows of the equi-joins keyed on all of `keys`. */
  def joinRows(plans: Seq[SparkPlan], keys: Set[String]): Long =
    plans.flatMap(nodes).filter(n => keys.subsetOf(keyNames(n))).map(rows).sum

  /** Output rows of the generators (explodes) that emit column `name`. */
  def generateRows(plans: Seq[SparkPlan], name: String): Long =
    plans.flatMap(nodes).collect { case g: GenerateExec if g.generatorOutput.exists(_.name == name) => g }
      .map(rows).sum

  /** Output rows of filters whose condition mentions `text`. */
  def filterRows(plans: Seq[SparkPlan], text: String): Long =
    plans.flatMap(nodes).collect { case f: FilterExec if f.condition.sql.contains(text) => f }
      .map(rows).sum
}
