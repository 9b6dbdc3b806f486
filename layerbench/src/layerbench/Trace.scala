package layerbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark-runtime counters; a layer's share is the difference
  * of two snapshots taken around its calls. */
final case class SparkCounters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, shuffleRecords: Long = 0,
    spill: Long = 0, gcNs: Long = 0, cpuNs: Long = 0) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, shuffleRecords - o.shuffleRecords,
    spill - o.spill, gcNs - o.gcNs, cpuNs - o.cpuNs)
  def +(o: SparkCounters): SparkCounters = SparkCounters(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, shuffleRecords + o.shuffleRecords,
    spill + o.spill, gcNs + o.gcNs, cpuNs + o.cpuNs)
}

/** Attached only during traced iterations, so untraced iterations pay
  * nothing for it. */
final class CounterListener extends SparkListener {
  private val c = Array.fill(9)(new AtomicLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(4).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(5).addAndGet(m.shuffleWriteMetrics.recordsWritten)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(7).addAndGet(m.jvmGCTime * 1000000L)
      c(8).addAndGet(m.executorCpuTime)
    }
  }

  def snapshot(): SparkCounters = SparkCounters(c(0).get, c(1).get, c(2).get,
    c(3).get, c(4).get, c(5).get, c(6).get, c(7).get, c(8).get)
}

/** Structural counts of one physical plan. Counted on the plan of a
  * DataFrame a public call returned, before AQE re-optimises it, so the
  * counts are exact and repeat run to run. Work the operator already
  * materialised (checkpoints) sits below a scan of its blocks and is not
  * counted here; its cost shows in the operator's jobs and seconds. */
final case class PlanShape(exchanges: Long, bnlj: Long, interpreted: Long,
                           graftFunctions: Set[String])

object PlanShape {
  def of(df: DataFrame): PlanShape = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): PlanShape = {
    var exchanges, bnlj, interpreted = 0L
    val fns = mutable.Set.empty[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ =>
        p match {
          case _: Exchange => exchanges += 1
          case _: BroadcastNestedLoopJoinExec => bnlj += 1
          case _ =>
        }
        p.expressions.foreach(_.foreach { e =>
          if (e.isInstanceOf[CodegenFallback]) interpreted += 1
          if (e.getClass.getName.startsWith("graft.functions.catalyst.")) fns += e.prettyName
        })
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanShape(exchanges, bnlj, interpreted, fns.toSet)
  }
}

/** Collects the graft expressions of every query a traced iteration
  * executes, including the operators' own internal actions. */
final class PlanListener extends QueryExecutionListener {
  val graftFunctions: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanShape.of(qe.executedPlan).graftFunctions.foreach(graftFunctions.add)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One public call (or one iteration). Spans of one iteration share
  * `iter`; a call's parent is its iteration span. Times are
  * nanoseconds since the run started. */
final case class Span(id: String, parent: String, iter: Int, name: String,
                      startNs: Long, endNs: Long)
