package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the public calls the benchmark makes: name, start,
  * end, parent span and run id, held in memory and written with the
  * result. Recording is off unless the run is traced; [[Trace.span]]
  * then costs one flag test. All spans open and close on the driver
  * thread that runs the workload. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the durations of its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def maxDepth: Int = {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0) 1 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
    if (spans.isEmpty) 0 else spans.iterator.map(depth).max
  }
}

/** The graft layer a Spark job belongs to, read from the innermost
  * `graft.` frame of the call site that started it (the benchmark's
  * own frames are skipped). */
object Layer {
  /** (class prefix, layer); the first matching rule wins. */
  private val rules: Seq[(String, String)] = Seq(
    "graft.ops.TreeWalk" -> "walk",
    "graft.DumpTarget" -> "dump",
    "graft.ops.DumpStore" -> "dump",
    "graft.ops.Jdbc" -> "jdbc",
    "graft.JdbcTarget" -> "jdbc",
    "graft.ops.Writers" -> "writers",
    "graft.catalog." -> "catalog",
    "graft.ext.Similarity" -> "ext.Similarity",
    "graft.ext.Dedup" -> "ext.Dedup",
    "graft.ext.Corpus" -> "ext.Corpus",
    "graft.ext.TextAnalysis" -> "ext.TextAnalysis",
    "graft.ext." -> "ext.other",
    "graft.SparkEntry" -> "entry",
    "graft." -> "graft.other")

  /** One frame, `pkg.Class$.method$lambda(File.scala:12)` → layer. The
    * cardinality counts in `Graft.copyTree` materialize the walk's key
    * levels, so they count as walk work; staging payloads of a live
    * target count as dump work. */
  private def ofFrame(frame: String): String = {
    val f = frame.takeWhile(_ != '(').replace("$", "")
    if (f.startsWith("graft.Graft.")) { if (f.contains("copyTree")) "walk" else "dump" }
    else if (f.startsWith("graft.JdbcTarget.writePayload")) "dump"
    else rules.collectFirst { case (p, l) if f.startsWith(p) => l }.getOrElse("graft.other")
  }

  def of(callSite: String): String =
    Option(callSite).getOrElse("").linesIterator
      .map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft."))
      .map(ofFrame)
      .getOrElse("other")
}

/** Running totals of Spark work; one snapshot is taken per pass so each
  * metric has per-pass samples. */
final class Counters {
  val values = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = values.merge(k, v, (a, b) => a + b)
  def max(k: String, v: Double): Unit = values.merge(k, v, (a, b) => math.max(a, b))
  def snapshot(): Map[String, Double] = values.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}

/** SparkListener + QueryExecutionListener that attribute jobs, stages,
  * tasks and planning time. Job → layer comes from the SQL execution's
  * call site when the job belongs to one (broadcast and AQE stage jobs
  * run on other threads and carry no user frames of their own), else
  * from the result stage's call site. Job → query comes from the job
  * group the suites set around each query. */
final class Probe(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  val c = new Counters
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execLayer.put(e.executionId, Layer.of(e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val layer = exec.flatMap(id => Option(execLayer.get(id)))
      .filterNot(_ == "other")
      .getOrElse(Layer.of(result.map(_.details).getOrElse("")))
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach { s => stageLayer.put(s, layer); stageGroup.put(s, group) }
    c.add("spark.jobs", 1)
    c.add(s"layer.$layer.jobs", 1)
    if (group.nonEmpty) c.add(s"group.$group.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    c.add("spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    c.add("spark.tasks", 1)
    if (e.reason != Success) c.add("spark.tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      val taskS = m.executorRunTime / 1e3
      c.add("spark.task_s", taskS)
      c.add("spark.gc_s", m.jvmGCTime / 1e3)
      c.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      c.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      c.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      c.max("spark.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
      val layer = Option(stageLayer.get(e.stageId)).getOrElse("other")
      c.add(s"layer.$layer.task_s", taskS)
      val group = Option(stageGroup.get(e.stageId)).getOrElse("")
      if (group.nonEmpty) c.add(s"group.$group.task_s", taskS)
    }
  }

  private def phases(qe: QueryExecution): Unit = if (enabled) {
    val p = qe.tracker.phases
    def ms(k: String): Double = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    c.add("plan.analysis_s", ms("analysis"))
    c.add("plan.optimize_s", ms("optimization"))
    c.add("plan.physical_s", ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Totals so far, after every queued listener event is delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    c.snapshot()
  }
}
