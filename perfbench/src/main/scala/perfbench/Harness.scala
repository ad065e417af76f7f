package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.model._
import graft.pipeline.{ErrorPolicy, PipelineExecutor}
import graft.planner.TransformResponse
import graft.plans.{Checkpoints, IterationAudit}
import graft.sources.{Ingest, Writer}
import graft.viz.ChartConfig
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Runs one workload's generated inputs against the program and writes raw
 * timings (and, when tracing, spans and counters) as JSON.
 *
 * Usage: Harness <plan.json> <out.json>
 *
 * Every layer is measured from outside, by timing calls into its public
 * functions. Each operation runs once; the timed window of a gate excludes
 * the write of its result for the output check.
 */
object Harness {

  final case class Op(kind: String, name: String, dur: Double, ok: Boolean,
                      error: String, windows: Seq[(Double, Double)],
                      extra: Map[String, Double])

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    val workload = (plan \ "workload").extract[String]
    val trace = (plan \ "trace").extract[Boolean]
    val cpus = (plan \ "cpus").extract[Int]
    val dataDir = (plan \ "data_dir").extract[String]
    val checkDir = (plan \ "check_dir").extract[String]

    def session(): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus,
        appName = s"perfbench-$workload")
    }
    val runner: SparkSession => Runner = workload match {
      case "interactive" =>
        val sessions = (plan \ "sessions").extract[List[JValue]]
        val warm = plan \ "warmup"
        s => new Interactive(s, sessions, warm)
      case _ =>
        val gates = (plan \ "gates").extract[List[String]]
        s => new Gates(s, gates, dataDir, checkDir)
    }

    // set-up: session start, registration and warm-up, repeated so the
    // median is not one sample; the last session runs the workload
    val setups = (plan \ "setups").extract[Int]
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var run: Runner = null
    (1 to setups).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      run = runner(spark)
      run.warmUp()
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    val recorder = if (trace) Some(new Recorder(spark)) else None
    if (trace) IterationAudit.enable()
    System.gc()
    val heap = new HeapPeak
    run.deadlineMs = nowMs + (plan \ "deadline_s").extract[Double] * 1e3
    val ops = run.run(recorder)
    val heapPeakMb = heap.stop() / 1048576.0

    val base = List[JField](
      "setup_s" -> JArray(setupTimes.map(JDouble(_)).toList),
      "heap_peak_mb" -> JDouble(heapPeakMb),
      "ops" -> JArray(ops.map { o =>
        JObject(
          "kind" -> JString(o.kind), "name" -> JString(o.name),
          "dur_s" -> JDouble(o.dur), "ok" -> JBool(o.ok),
          "error" -> JString(o.error),
          "windows" -> JArray(o.windows.map { case (a, b) =>
            JArray(List(JDouble(a), JDouble(b))) }.toList),
          "counters" -> JObject(o.extra.toList.sorted.map { case (k, v) =>
            k -> JDouble(v) }))
      }.toList))
    val traced = recorder.map(_.finish(run.callSpans)).getOrElse(Nil)
    val oracle = if (workload == "interactive") Nil else List[JField](
      "oracle_sql" -> JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) }),
      "twins" -> JObject(SparkEntry.twins.toList.map { case (k, v) => k -> JString(v) }))
    Files.write(Paths.get(args(1)),
      JsonMethods.compact(JsonMethods.render(JObject(base ++ traced ++ oracle)))
        .getBytes("UTF-8"))
    spark.stop()
  }

  // ------------------------------------------------------------ timing

  /** Peak heap in use after a collection while the workload runs: the
    * memory its work holds on to. The peak before collection follows the
    * collector's young-generation sizing rather than the work. */
  final class HeapPeak {
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    @volatile private var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

    def stop(): Long = {
      System.gc() // the heap still held at the end counts too
      Thread.sleep(100) // notifications are delivered on another thread
      beans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
      synchronized(peak)
    }
  }

  /** Epoch milliseconds on the monotonic clock, comparable with the
    * wall-clock times Spark stamps on its events. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Spans of bench-side calls, recorded only while tracing. */
  final class Calls(enabled: Boolean) {
    val spans = mutable.ArrayBuffer.empty[(Int, Int, String, Double, Double)]
    private val stack = mutable.Stack.empty[Int]
    var op: Int = -1

    def apply[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = spans.size
        val parent = stack.headOption.getOrElse(-1)
        spans += ((op, parent, name, nowMs, Double.NaN))
        stack.push(id)
        try body
        finally {
          stack.pop()
          val (o, p, n, s, _) = spans(id)
          spans(id) = (o, p, n, s, nowMs)
        }
      }
  }

  /** One workload's operations over one session. */
  abstract class Runner(val spark: SparkSession) {
    def warmUp(): Unit
    protected def body(): Unit

    protected var recorder: Option[Recorder] = None
    protected def tracing: Boolean = recorder.isDefined

    def run(rec: Option[Recorder]): Seq[Op] = {
      recorder = rec
      calls = new Calls(tracing)
      ops.clear()
      body()
      ops.toSeq
    }

    /** Operations not started by this time fail, so a run ends in time. */
    var deadlineMs = Double.PositiveInfinity
    protected def late: Boolean = nowMs > deadlineMs

    protected var calls = new Calls(false)
    def callSpans: Seq[(Int, Int, String, Double, Double)] = calls.spans.toSeq
    protected val ops = mutable.ArrayBuffer.empty[Op]
    private var windows = mutable.ArrayBuffer.empty[(Double, Double)]
    private var opStart = Double.NaN // NaN while no window is open
    // codegen counters are read around each timed window
    private var compiles, compileNs = 0L

    private def open(): Unit = {
      recorder.foreach(_.enter(ops.size))
      spark.sparkContext.setLocalProperty(Recorder.OpKey, ops.size.toString)
      opStart = nowMs
      compiles -= CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      compileNs -= CodeGenerator.compileTime
    }

    // iterative rounds recorded up to the first pause (a gate's build)
    private var audit = Map.empty[String, Double]

    /** Close the timed window, if open: work after this (a gate's check, a
      * traced run's counters) is not timed. */
    protected def pause(): Unit = if (!opStart.isNaN) {
      if (windows.isEmpty) {
        val rounds = IterationAudit.recordedOps.toSeq.map(IterationAudit.sizesOf)
        audit = if (rounds.isEmpty) Map.empty else Map(
          "plans.rounds" -> rounds.map(_.size).sum.toDouble,
          "plans.state_nodes_max" -> rounds.flatten.max.toDouble)
      }
      windows += ((opStart, nowMs))
      opStart = Double.NaN
      compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      compileNs += CodeGenerator.compileTime
      spark.sparkContext.setLocalProperty(Recorder.OpKey, "-1")
      recorder.foreach(_.leave())
    }

    protected def resume(): Unit = open()

    protected def begin(): Unit = {
      calls.op = ops.size
      windows = mutable.ArrayBuffer.empty
      compiles = 0L
      compileNs = 0L
      if (tracing) IterationAudit.reset()
      open()
    }

    protected def end(kind: String, name: String, error: Option[Throwable],
                      extra: Map[String, Double] = Map.empty): Unit = {
      pause()
      val codegen = Map(
        "codegen.compiles" -> compiles.toDouble,
        "codegen.compile_ms" -> compileNs / 1e6)
      val dur = windows.map { case (a, b) => b - a }.sum / 1e3
      error.foreach(e => System.err.println(s"[perfbench] $kind $name FAILED: $e"))
      ops += Op(kind, name, dur, error.isEmpty,
        error.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse(""),
        windows.toSeq, codegen ++ audit ++ extra)
    }

    protected def skip(kind: String, name: String): Unit =
      ops += Op(kind, name, 0.0, ok = false, "not started: run deadline", Nil, Map.empty)

    protected def attempt(body: => Unit): Option[Throwable] =
      try { body; None } catch { case e: Exception => Some(e) }

    /** Optimizer size estimate of a result, in bits: grows past 63 when
      * estimates compound through repeated joins. */
    protected def estimateBits(df: DataFrame): Double =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength.toDouble
  }

  // ------------------------------------------------------------- gates

  /** `iterative`: each gate is built, written to the noop sink and its
    * checkpoints released, as the program's own board does. */
  final class Gates(spark: SparkSession, gates: Seq[String], dataDir: String,
                    checkDir: String) extends Runner(spark) {

    def warmUp(): Unit = {
      val df = SparkEntry.queries("q_pipeline")(spark, dataDir)
      df.write.format("noop").mode("overwrite").save()
      Checkpoints.release(df)
    }

    protected def body(): Unit =
      gates.foreach { name =>
        if (late) skip("gate", name)
        else gate(name)
      }

    private def gate(name: String): Unit = {
      System.gc()
      begin()
      var df: DataFrame = null
      var extra = Map.empty[String, Double]
      val err = attempt {
        calls("op.gate") {
          df = calls("gate.build") { SparkEntry.queries(name)(spark, dataDir) }
          calls("gate.write") { df.write.format("noop").mode("overwrite").save() }
        }
      }
      pause()
      // outside the timed window: the result for the output check, and
      // the twin a gate without an oracle is checked by
      val checkErr = if (err.isDefined) err else attempt {
        writeResult(df, name)
        if (tracing) extra += "plans.estimate_bits_max" -> estimateBits(df)
        SparkEntry.twins.get(name).foreach { twin =>
          val t = SparkEntry.queries(twin)(spark, dataDir)
          writeResult(t, twin)
          Checkpoints.release(t)
        }
      }
      resume()
      val released = attempt {
        if (df != null) calls("plans.release") {
          extra += "plans.checkpoints_released" -> Checkpoints.release(df).toDouble
        }
      }
      end("gate", name, err.orElse(checkErr).orElse(released), extra)
    }

    private def writeResult(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(new File(checkDir, name).getPath)
  }

  // ------------------------------------------------------- interactive

  /** `interactive`: per session, upload two CSVs, turn the planner
    * response into stages, click through every stage (preview, describe,
    * chart suggestion) and export the final table. */
  final class Interactive(spark: SparkSession, sessions: Seq[JValue], warm: JValue)
      extends Runner(spark) {

    /** Warm-up: the first upload of a session outside the workload. */
    def warmUp(): Unit = {
      val path = (warm \ "uploads").extract[List[String]].head
      val (name, df) = Ingest.loadCsvTable(spark, path)
      val ex = new PipelineExecutor(spark).register(name, df)
      ex.preview(name, 1000)
      ex.describe(name)
    }

    protected def body(): Unit =
      sessions.foreach { s =>
        if (late) (s \ "results").extract[List[String]].foreach(t => skip("click", t))
        else session(s)
      }

    private def session(s: JValue): Unit = {
      val ex = new PipelineExecutor(spark)
      (s \ "uploads").extract[List[String]].foreach { path =>
        begin()
        val err = attempt {
          calls("op.upload") {
            val (name, df) = calls("sources.ingest") { Ingest.loadCsvTable(spark, path) }
            ex.register(name, df)
            calls("pipeline.preview") { ex.preview(name, 1000) }
            calls("pipeline.describe") { ex.describe(name) }
          }
        }
        end("upload", new File(path).getName, err)
      }

      begin()
      var stages = Seq.empty[Stage]
      var raw = 0
      var results = Seq.empty[graft.pipeline.StageResult]
      val planErr = attempt {
        calls("op.plan") {
          val parsed = calls("planner.parse") {
            TransformResponse.parse((s \ "response").extract[String])
          }
          raw = parsed.rawStages.size
          stages = calls("planner.repair") {
            val schemaOf = (t: String) =>
              scala.util.Try(ex.table(ex.resolveTableName(t)).columns.toSeq).toOption
            TransformResponse.toPlan(parsed, schemaOf).stages.map(resolveNames(ex, _))
          }
          results = calls("pipeline.execute") { ex.execute(stages, ErrorPolicy.Abort) }
          results.flatMap(_.error).headOption.foreach(e => throw e)
        }
      }
      end("plan", s"${raw} stages", planErr,
        if (tracing) Map("planner.raw_stages" -> raw.toDouble,
          "planner.kept_stages" -> stages.size.toDouble) else Map.empty)

      val expected = (s \ "results").extract[List[String]]
      expected.zipWithIndex.foreach { case (table, i) =>
        begin()
        var extra = Map.empty[String, Double]
        val err = attempt {
          val r = results.lift(i).getOrElse(
            throw new IllegalStateException(s"stage ${i + 1} was not planned"))
          r.error.foreach(e => throw e)
          require(r.tableName == table, s"stage ${i + 1} wrote ${r.tableName}, expected $table")
          calls("op.click") {
            calls("pipeline.preview") { ex.preview(table, 1000) }
            calls("pipeline.describe") { ex.describe(table) }
            calls("viz.suggest") { ChartConfig.suggest(ex.table(table)) }
          }
          pause()
          if (tracing) extra += "plans.estimate_bits_max" -> estimateBits(ex.table(table))
        }
        end("click", s"stage_${i + 1}:$table", err, extra)
      }

      begin()
      val out = (s \ "export").extract[String]
      val exportErr = attempt {
        val last = ex.table(expected.last)
        calls("op.export") { calls("sources.export") { Writer.writePartitioned(last, out, Nil) } }
      }
      pause()
      end("export", new File(out).getName, exportErr,
        if (tracing && exportErr.isEmpty) Map("sources.export_bytes" -> dirBytes(new File(out)))
        else Map.empty)
    }

    private def dirBytes(f: File): Double =
      if (f.isDirectory) f.listFiles().map(dirBytes).sum else f.length().toDouble
  }

  /** Table names as the user session resolves them: `_csv`-suffixed and
    * alias names map to registered tables. */
  def resolveNames(ex: PipelineExecutor, stage: Stage): Stage = {
    def r(t: String) = ex.resolveTableName(t)
    stage match {
      case s: LoadStage  => s.copy(tableName = r(s.tableName))
      case s: JoinStage  => s.copy(leftTable = r(s.leftTable), rightTable = r(s.rightTable))
      case s: UnionStage => s.copy(tables = s.tables.map(r))
      case s: FilterStage => s.copy(table = s.table.map(r))
      case s: GroupStage => s.copy(table = s.table.map(r))
      case s: SelectStage => s.copy(table = s.table.map(r))
      case s: SortStage  => s.copy(table = s.table.map(r))
      case s: AggregateStage => s.copy(table = s.table.map(r))
      case s => s
    }
  }
}
