package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval with a kind, a parent and flat attributes.
  * Times are epoch milliseconds of the JVM's wall clock, which Spark also
  * stamps its listener events with.
  */
final case class Span(
    id: String,
    var parent: String,
    kind: String,
    name: String,
    startMs: Long,
    var endMs: Long,
    attrs: Map[String, Any]
)

/** The traced run's collector. It registers a `SparkListener` (jobs and
  * stages, with each stage's aggregated task metrics), a
  * `QueryExecutionListener` (the planning tracker's phase times and a write
  * command's file count) and, on the same bus, the SQL-execution events.
  * Everything stays in memory until [[write]].
  *
  * The benchmark's op spans are the parents: ops run one at a time on one
  * client thread, so every listener span is linked to the op whose
  * interval contains its start (jobs, SQL executions, plans) and every
  * stage to its job.
  *
  * `assetRoot` is the pipeline's output directory: each SQL execution
  * records which asset directories under it its plan writes (the staged
  * `._tmp` path) and reads, for the per-asset attribution.
  */
final class Trace(spark: SparkSession, assetRoot: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  @volatile private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobStart.put(e.jobId, (e.time, e.stageIds, sql.getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, stages, sql) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, Nil, ""))
      spans.add(Span(s"job:${e.jobId}", "", "job", s"job ${e.jobId}", start, e.time,
        Map("stages" -> stages.size, "sql" -> sql,
          "ok" -> (e.jobResult == JobSucceeded))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val attrs: Map[String, Any] =
        if (m == null) Map("tasks" -> i.numTasks)
        else Map(
          "tasks" -> i.numTasks,
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_rows" -> m.inputMetrics.recordsRead,
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten)
      val job = Option(stageJob.get(i.stageId)).map(j => s"job:$j").getOrElse("")
      spans.add(Span(s"stage:${i.stageId}.${i.attemptNumber()}", job, "stage", i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), attrs))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val plan = s.physicalPlanDescription
        val (writes, reads) = assetPaths(plan, assetRoot)
        sqlStart.put(s.executionId, Span(s"sql:${s.executionId}", "", "sql",
          s.description.take(80), s.time, s.time,
          Map("root" -> s.rootExecutionId.getOrElse(s.executionId).toString,
            "writes" -> writes.mkString(","), "reads" -> reads.mkString(","))))
      case end: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(end.executionId)).foreach { sp =>
          sp.endMs = end.time
          spans.add(sp)
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min
        val end   = phases.values.map(_.endTimeMs).max
        // a write command's plan carries its file count
        var files = 0L
        PlanWalk.foreach(qe.executedPlan) {
          case w: DataWritingCommandExec => w.metrics.get("numFiles").foreach(m => files += m.value)
          case _ =>
        }
        spans.add(Span(s"plan:${qe.id}", "", "plan", funcName, start, end,
          phases.map { case (k, p) => s"${k}_ms" -> (p.endTimeMs - p.startTimeMs) } +
            ("files" -> files)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    attached = false
  }

  /** Waits (at most 10 s) until every started job and SQL execution has
    * delivered its end event: the listener bus is asynchronous.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var quiet    = 0
    var last     = -1
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = spans.size
      if (n == last && jobStart.isEmpty && sqlStart.isEmpty) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Links every listener span to its parent and writes all spans, one JSON
    * object per line.
    */
  def write(path: java.nio.file.Path, ops: Seq[Span]): Unit = {
    val latestFirst = ops.filter(_.kind == "op").sortBy(-_.startMs)
    def opAt(t: Long): String =
      latestFirst.find(_.startMs <= t).filter(t <= _.endMs).fold("")(_.id)
    val all = spans.asScala.toSeq
    all.foreach(s => if (s.kind != "stage" && s.parent.isEmpty) s.parent = opAt(s.startMs))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try (ops ++ all).foreach { s => w.write(Json.span(s)); w.newLine() }
    finally w.close()
  }

  /** The directories under `root` a plan writes (their staged `._tmp`
    * siblings) and reads.
    */
  private def assetPaths(plan: String, root: String): (Seq[String], Seq[String]) = {
    val found = (java.util.regex.Pattern.quote(root) + "/(\\w+)(\\._tmp)?").r
      .findAllMatchIn(plan).map(m => (m.group(1), m.group(2) != null)).toSeq
    val writes = found.collect { case (n, true) => n }.distinct
    val reads  = found.collect { case (n, false) if !writes.contains(n) => n }.distinct
    (writes, reads)
  }
}

/** Walks a physical plan including the stages inside adaptive plans. */
object PlanWalk extends AdaptiveSparkPlanHelper

/** JSON rendering for the harness's records. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)

  def span(s: Span): String = value(Map(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
}
