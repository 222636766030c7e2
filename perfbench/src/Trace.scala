package perfbench

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One SQL execution (statement) seen by the listeners. */
final case class Exec(id: Long, run: Int, root: Boolean, start: Long, var end: Long = -1L)
/** Catalyst phase durations and `graft.plans` node count of one executed
  * QueryExecution; `start` = its first phase's wall-clock start. */
final case class Planned(start: Long, phases: Map[String, Long], graftNodes: Long)
final case class Job(id: Int, run: Int, exec: Long, start: Long, var end: Long = -1L)
final case class Batch(query: UUID, run: Int, start: Long, durations: Map[String, Long],
    stateCommitMs: Long, inputRows: Long)
/** Task-level totals of one key run. */
final class TaskAgg {
  var stages, tasks, failed = 0L
  var sumMs, maxMs, waitMs, shuffleWriteB, spillB, recordsRead = 0L
}

/** Listener-side tracing. Every traced key run carries the job tag
  * `Trace.tag(run)`; jobs, stages, SQL executions and streaming queries
  * are attributed to key runs by that tag (streaming progress by the
  * query id the tagged query-start event names). QueryExecutionListener
  * callbacks carry no tag and no execution id, so [[Planned]] records are
  * attributed by their phase timestamps, which lie inside the sequential
  * key run that planned them. All callbacks run on Spark's listener-bus
  * threads, so state is guarded by `this`. Only Spark's public listener
  * APIs are used. */
final class Trace(spark: SparkSession) {
  import Trace._
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = mutable.HashMap.empty[Int, TaskAgg]
  val batches = mutable.ArrayBuffer.empty[Batch]
  val queryStarts = mutable.HashMap.empty[Int, Int] // run -> started queries
  val planned = mutable.ArrayBuffer.empty[Planned]
  private val stageRun = mutable.HashMap.empty[Int, (Int, Long)]
  private val queryRun = mutable.HashMap.empty[UUID, Int]
  private val terminated = mutable.HashSet.empty[UUID]
  @volatile private var markerSeen = false
  @volatile private var markerExecSeen = false

  private def runOf(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(Prefix) => t.stripPrefix(Prefix).toInt }
      .getOrElse(-1)
  private def runOfProps(p: java.util.Properties): Int =
    if (p == null) -1
    else runOf(Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(",")))

  private val spark0 = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val run = runOfProps(e.properties)
      if (Option(e.properties).exists(p => Option(p.getProperty("spark.job.tags")).exists(_.contains(Marker))))
        markerSeen = true
      if (run >= 0) {
        val ex = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
        jobs(e.jobId) = Job(e.jobId, run, ex, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val run = runOfProps(e.properties)
      if (run >= 0) {
        stageRun(e.stageInfo.stageId) = (run, e.stageInfo.submissionTime.getOrElse(0L))
        tasks.getOrElseUpdate(run, new TaskAgg).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageRun.get(e.stageId).foreach { case (run, submitted) =>
        val a = tasks.getOrElseUpdate(run, new TaskAgg)
        a.tasks += 1
        if (e.reason != org.apache.spark.Success &&
            !e.reason.isInstanceOf[org.apache.spark.TaskKilled]) a.failed += 1
        if (submitted > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
        val m = e.taskMetrics
        if (m != null) {
          a.sumMs += m.executorRunTime
          a.maxMs = math.max(a.maxMs, m.executorRunTime)
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        val run = runOf(s.jobTags)
        if (run >= 0) {
          execs(s.executionId) =
            Exec(s.executionId, run, s.rootExecutionId.forall(_ == s.executionId), s.time)
        }
      }
      case s: SparkListenerSQLExecutionEnd => Trace.this.synchronized {
        execs.get(s.executionId).foreach(_.end = s.time)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val p = Planned(ph.values.map(_.startTimeMs).min, ph.map { case (k, v) => k -> v.durationMs },
          graftNodes(qe.executedPlan))
        Trace.this.synchronized { planned += p }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      record(qe)
      if (funcName == "count" && qe.analyzed.toString.contains(Marker)) markerExecSeen = true
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        val run = runOf(e.jobTags)
        if (run >= 0) {
          queryRun(e.id) = run
          queryStarts(run) = queryStarts.getOrElse(run, 0) + 1
        }
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        queryRun.get(p.id).foreach { run =>
          batches += Batch(p.id, run, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.stateOperators.map(_.commitTimeMs).sum, p.numInputRows)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized { terminated += e.id }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(spark0)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(spark0)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the asynchronous listener buses have delivered every
    * event posted before this call: a tagged marker query's job and
    * execution events arrive behind all earlier events of their queues,
    * and a streaming query's terminated event behind all its progress
    * events. Query starts reach the listener synchronously, so every
    * tagged query is known here. Returns false on a timeout. */
  def drain(timeoutMs: Long = 20000L): Boolean = {
    markerSeen = false; markerExecSeen = false
    spark.sparkContext.addJobTag(Marker)
    try spark.range(1).toDF(Marker).count() finally spark.sparkContext.removeJobTag(Marker)
    def streamsDone: Boolean = synchronized(queryRun.keySet.subsetOf(terminated))
    val deadline = System.currentTimeMillis + timeoutMs
    while ((!markerSeen || !markerExecSeen || !streamsDone) && System.currentTimeMillis < deadline)
      Thread.sleep(20)
    markerSeen && markerExecSeen && streamsDone
  }
}

object Trace {
  val Prefix = "perfbench-run-"
  val Marker = "perfbench_marker"
  def tag(run: Int): String = Prefix + run

  /** Number of plan nodes and expressions from the engine's own
    * `graft.plans` package in an executed plan, adaptive stages and
    * subqueries included. */
  def graftNodes(plan: SparkPlan): Long = {
    def own(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.plans.")
    def walk(p: SparkPlan): Long = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => 0L
      }
      val here = (if (own(p)) 1L else 0L) +
        p.expressions.map(_.collect { case e if own(e) => 1L }.sum).sum
      inner + here + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    try walk(plan) catch { case _: Exception => 0L }
  }
}
