package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/**
 * Traced runs only: a Spark listener and a query-execution listener that
 * attribute every job, stage, task and planned query to the operation that
 * caused it. Jobs carry the operation id as a local property; a query is
 * attributed to the operation whose timed window is open when its
 * completion is delivered, and each window closes only after the listener
 * bus has drained.
 */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Recorder._

  private val jobOp = mutable.Map.empty[Int, (Int, Double)]
  private val stageOp = mutable.Map.empty[Int, (Int, Int)]
  private val stageSubmit = mutable.Map.empty[Int, Double]
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  // (op, job id, start, end) and (op, job id, stage id, start, end)
  private val jobs = mutable.ArrayBuffer.empty[(Int, Int, Double, Double)]
  private val stages = mutable.ArrayBuffer.empty[(Int, Int, Int, Double, Double)]
  // (op, phase, start, end)
  private val phases = mutable.ArrayBuffer.empty[(Int, String, Double, Double)]
  // the operation whose timed window is open; queries are attributed to it
  @volatile private var current = -1

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def add(op: Int, key: String, v: Double): Unit =
    if (op >= 0) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobOp(e.jobId) = (op, e.time.toDouble)
    e.stageIds.foreach(s => stageOp(s) = (op, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      if (op >= 0) {
        jobs += ((op, e.jobId, start, e.time.toDouble))
        add(op, "exec.jobs", 1)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { case (op, job) =>
      if (op >= 0) {
        add(op, "exec.stages", 1)
        stages += ((op, job, info.stageId,
          info.submissionTime.getOrElse(0L).toDouble,
          info.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.get(e.stageId).map(_._1).getOrElse(-1)
    val m = e.taskMetrics
    if (op >= 0 && m != null) {
      add(op, "exec.tasks", 1)
      add(op, "exec.task_run_ms", m.executorRunTime.toDouble)
      add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
      stageSubmit.get(e.stageId).foreach(s =>
        add(op, "exec.sched_wait_ms", math.max(0.0, e.taskInfo.launchTime - s)))
      add(op, "exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(op, "exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(op, "scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "scan.input_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Open an operation's timed window. */
  def enter(op: Int): Unit = current = op

  /** Close it once every event it posted has been delivered. */
  def leave(): Unit = {
    org.apache.spark.BenchShim.drain(spark.sparkContext)
    current = -1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val op = current
      if (op >= 0) {
        qe.tracker.phases.foreach { case (name, p) =>
          phases += ((op, name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          add(op, s"session.${name}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
        }
        // exchanges of the final adaptive plan, subqueries included
        val plan = qe.executedPlan
        add(op, "exchange.count",
          collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size)
        add(op, "exchange.broadcasts",
          collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters and spans for the finished operations, as JSON fields. */
  def finish(calls: Seq[(Int, Int, String, Double, Double)]): List[JField] = {
    org.apache.spark.BenchShim.drain(spark.sparkContext)
    synchronized {
      def arr(xs: Iterable[Seq[JValue]]): JArray = JArray(xs.map(x => JArray(x.toList)).toList)
      List(
        "op_counters" -> JObject(counters.toList.sortBy(_._1).map { case (op, m) =>
          op.toString -> JObject(m.toList.sorted.map { case (k, v) => k -> JDouble(v) })
        }),
        "calls" -> arr(calls.map { case (op, parent, name, s, e) =>
          Seq(JInt(op), JInt(parent), JString(name), JDouble(s), JDouble(e)) }),
        "jobs" -> arr(jobs.map { case (op, id, s, e) =>
          Seq(JInt(op), JInt(id), JDouble(s), JDouble(e)) }),
        "stages" -> arr(stages.map { case (op, job, id, s, e) =>
          Seq(JInt(op), JInt(job), JInt(id), JDouble(s), JDouble(e)) }),
        "phases" -> arr(phases.map { case (op, name, s, e) =>
          Seq(JInt(op), JString(name), JDouble(s), JDouble(e)) }))
    }
  }
}

object Recorder {
  /** Local property carrying the id of the operation a job belongs to. */
  val OpKey = "perfbench.op"
}
