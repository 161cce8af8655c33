package perfbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.Origin
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's trace: spans and counters kept in memory for the
  * life of one JVM and written once, as JSON, when the run ends.
  *
  * Three listeners feed it from outside the program. They are
  * registered through system properties that SparkConf reads, so an
  * unchanged `graft.Cli` process is traced the same way as the
  * benchmark's own mains:
  * {{{
  * -Dspark.extraListeners=perfbench.ExecListener
  * -Dspark.sql.queryExecutionListeners=perfbench.QeListener
  * -Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamListener
  * -Dperfbench.trace=<out.json> -Dperfbench.run_id=<id> -Dperfbench.launch_ms=<epoch ms>
  * }}}
  */
object Trace {
  final case class Span(name: String, startMs: Double, endMs: Double, parent: String)

  val runId: String = sys.props.getOrElse("perfbench.run_id", "run")
  val enabled: Boolean = sys.props.contains("perfbench.trace")
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val epochAtNano = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = epochAtNano + System.nanoTime() / 1e6

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def max(name: String, v: Double): Unit = synchronized {
    counters(name) = math.max(counters.getOrElse(name, 0.0), v)
  }
  def snapshot(): Map[String, Double] = synchronized {
    val (classes, ms) = codegen()
    counters.toMap ++ Map("codegen.classes" -> classes.toDouble, "codegen.compile_ms" -> ms)
  }
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (if (k == "exec.peak_exec_mem_bytes") v else v - a.getOrElse(k, 0.0)) }

  def record(name: String, startMs: Double, endMs: Double, parent: String = ""): Unit =
    synchronized { spans += Span(name, startMs, endMs, parent) }

  /** Run `body` as the span `name`; its elapsed ms is also added to
    * the counter `name` when `counter` is set. */
  def span[T](name: String, parent: String = "", counter: Boolean = false)(body: => T): T = {
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      record(name, t0, t1, parent)
      if (counter) add(name, t1 - t0)
    }
  }

  /** Jobs and compile time of Janino codegen so far in this JVM. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  def dump(): Unit = synchronized {
    sys.props.get("perfbench.trace").foreach { path =>
      val (classes, ms) = codegen()
      counters("codegen.jvm_classes") = classes.toDouble
      counters("codegen.jvm_compile_ms") = ms
      val sb = new StringBuilder
      sb.append("{\"run_id\":").append(Json.str(runId)).append(",\"counters\":{")
      sb.append(counters.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(","))
      sb.append("},\"spans\":[")
      sb.append(spans.map { s =>
        s"""{"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
          s""""end_ms":${Json.num(s.endMs)},"parent":${Json.str(s.parent)},"run_id":${Json.str(runId)}}"""
      }.mkString(","))
      sb.append("]}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** The package of a class name. */
  private def packageOf(cls: String): String = cls.split('.').dropRight(1).mkString(".")

  /** The module a Spark call site belongs to: the package of the
    * innermost `graft.` frame, `harness` for the benchmark's own
    * frames, `spark` when no user frame is on the stack. */
  def moduleOf(callSite: String): String = {
    val frames = callSite.split('\n').map(_.trim)
    frames.find(_.startsWith("graft.")) match {
      case Some(f) => packageOf(f.takeWhile(_ != '(').split('.').dropRight(1).mkString("."))
      case None =>
        if (frames.exists(_.startsWith("perfbench."))) "harness" else "spark"
    }
  }

  /** The module whose code built most of a plan. The DataFrame API
    * records the frames that created each expression as its origin;
    * they are counted by `graft.` package. A sub-package wins over
    * the registry itself (`graft.SparkEntry`, `graft.StoreProbes`)
    * and over `graft.model`'s table readers. */
  def planModule(plan: LogicalPlan): Option[String] = {
    val counts = mutable.Map.empty[String, Int]
    def note(o: Origin): Unit = o.stackTrace.foreach(_.foreach { f =>
      if (f.getClassName.startsWith("graft.")) {
        val m = packageOf(f.getClassName)
        counts(m) = counts.getOrElse(m, 0) + 1
      }
    })
    plan.foreach { node => note(node.origin); node.expressions.foreach(_.foreach(e => note(e.origin))) }
    val specific = counts.filter { case (m, _) => m != "graft" && m != "graft.model" }
    val pick = if (specific.nonEmpty) specific else counts
    if (pick.isEmpty) None else Some(pick.maxBy { case (m, n) => (n, m) }._1)
  }
}

/** Scheduler-level counters, job spans and the session-start span. */
class ExecListener(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))

  private val launchMs = sys.props.get("perfbench.launch_ms").map(_.toDouble)
  private val execModule = mutable.Map.empty[Long, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    launchMs.foreach { l =>
      Trace.add("session.launch_to_context_ms", e.time - l)
      Trace.record("session", l, e.time.toDouble, "process")
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execModule(s.executionId) = Trace.moduleOf(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong)).getOrElse(
      e.stageInfos.lastOption.map(s => Trace.moduleOf(s.details)).getOrElse("spark"))
    // A plan built earlier runs from the benchmark's action: no program
    // frame is on its call site, so the module that built the plan
    // (Harness.attribute) stands in.
    val module = if (site == "harness" || site == "spark") prop("perfbench.module").getOrElse(site) else site
    jobStart(e.jobId) = (e.time, module, prop("perfbench.op").getOrElse("process"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, module, parent) =>
      Trace.add("exec.jobs", 1)
      Trace.add(s"module.$module.job_ms", (e.time - t0).toDouble)
      Trace.record(s"job:$module", t0.toDouble, e.time.toDouble, parent)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Trace.add("exec.stages", 1)
    if (s.numTasks == 1)
      for (a <- s.submissionTime; b <- s.completionTime)
        Trace.add("exec.single_task_stage_ms", (b - a).toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("exec.task_run_ms", m.executorRunTime.toDouble)
      Trace.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      Trace.add("exec.gc_ms", m.jvmGCTime.toDouble)
      Trace.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      Trace.add("exec.input_records", m.inputMetrics.recordsRead.toDouble)
      Trace.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Trace.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Trace.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Trace.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      Trace.max("exec.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    Trace.record("context", e.time.toDouble, e.time.toDouble, "process")
    Trace.dump()
  }
}

/** Catalyst phase times of every executed query. */
class QeListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) => Trace.add(s"catalyst.${phase}_ms", s.durationMs.toDouble) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Micro-batch progress of the monitor streams. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      Trace.add("stream.batches", 1)
      Trace.add("stream.rows_in", p.numInputRows.toDouble)
      Option(p.durationMs.get("addBatch")).foreach(v => Trace.add("stream.add_batch_ms", v.toDouble))
      Option(p.durationMs.get("triggerExecution")).foreach(v => Trace.add("stream.trigger_ms", v.toDouble))
    }
  }
}

/** Minimal JSON rendering for the harness outputs. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
