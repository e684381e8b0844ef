package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Work counters of one op, filled by [[Trace]] while the op runs. */
final class OpWork {
  var tasks = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  /** stage id -> task run times (ms), for the skew ratio */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var batches = 0L
  var inputRows = 0L
  /** micro-batch durationMs parts, summed over the op's batches */
  val durMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** one micro-batch's triggerExecution total per batch */
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var stateRows = 0L
  var stateBytes = 0L

  /** max over stages of (slowest task / median task); 1.0 when no stage ran */
  def skew: Double = stageTasks.values.filter(_.nonEmpty).map { ts =>
    val s = ts.sorted
    val med = s(s.size / 2)
    if (med <= 0) 1.0 else s.last.toDouble / med
  }.foldLeft(1.0)(math.max)
}

/** The benchmark's own SparkContext listener. Task metrics come from
  * `onTaskEnd`; streaming progress comes through `onOtherEvent`, which
  * sees the progress of every session's queries, including the cloned
  * sessions the streaming drives run on. Attached only in traced passes.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  @volatile private var cur: OpWork = new OpWork

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  /** Start counting for a new op; `end` returns its counters. */
  def begin(): Unit = { drain(); cur = new OpWork }
  def end(): OpWork = { drain(); cur }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = cur
    w.synchronized {
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskBusyMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputB += m.inputMetrics.bytesRead
        w.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val w = cur
      val pr = p.progress
      w.synchronized {
        w.batches += 1
        w.inputRows += math.max(pr.numInputRows, 0L)
        pr.durationMs.forEach((k, v) => w.durMs(k) += v.longValue)
        w.batchMs += pr.durationMs.getOrDefault("triggerExecution", 0L).longValue
        pr.stateOperators.foreach { s =>
          w.stateRows = math.max(w.stateRows, s.numRowsTotal)
          w.stateBytes = math.max(w.stateBytes, s.memoryUsedBytes)
        }
      }
    case _ => ()
  }
}

object Trace {
  /** Exchanges and CodegenFallback expressions in a physical plan,
    * subqueries included. */
  def planCounts(plan: SparkPlan): (Int, Int) = {
    val nodes = plan.collectWithSubqueries { case p => p }
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val fallback = nodes.map(_.expressions.map(_.collect {
      case f: CodegenFallback => f
    }.size).sum).sum
    (exchanges, fallback)
  }
}
