package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners the traced run installs on its session. They keep raw events in
  * memory, stamped with the wall-clock times Spark itself records, and
  * `summarize` attributes them to an operation by time: operations run one
  * at a time, so an event inside an operation's interval is that
  * operation's. Streaming micro-batches run under their own job group (the
  * query's run id), which is why attribution goes by time, not by group. */
final class Tracer {
  case class Job(id: Int, group: String, startMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long)
  case class Task(launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                  shufW: Long, shufR: Long, spill: Long, in: Long, out: Long,
                  failed: Boolean)
  case class Plan(endMs: Long, planMs: Long, joinRows: Long)
  case class Batch(runId: String, batchId: Long, startMs: Long,
                   phases: Map[String, Long], inputRows: Long,
                   stateRows: Long, stateBytes: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[Plan]
  private val batches = ArrayBuffer.empty[Batch]

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += Job(e.jobId, g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += Stage(i.stageId, i.attemptNumber(), s, c)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val failed = e.reason != Success
      if (m == null)
        tasks += Task(e.taskInfo.launchTime, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else
        tasks += Task(e.taskInfo.launchTime, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, failed)
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val end = ph.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      val p = Plan(end, ph.values.map(_.durationMs).sum,
        joinRows(qe.executedPlan))
      Tracer.this.synchronized { plans += p }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val b = Batch(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      Tracer.this.synchronized { batches += b }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Output rows of every join in the executed (AQE-final) plan. */
  private def joinRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => joinRows(a.executedPlan)
    case s: QueryStageExec => joinRows(s.plan)
    case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) +
        j.children.map(joinRows).sum
    case p => p.children.map(joinRows).sum
  }

  /** Per-operation totals for the interval [startMs, endMs], plus the spans
    * (job, stage, micro-batch) that fall inside it, parented to `opId`. */
  def summarize(opId: String, startMs: Long, endMs: Long)
      : (Map[String, Double], Seq[Double], Seq[String]) = synchronized {
    def in(t: Long) = t >= startMs && t <= endMs
    val js = jobs.filter(j => in(j.startMs)).toSeq
    val ts = tasks.filter(t => in(t.launchMs))
    val ps = plans.filter(p => in(p.endMs))
    val bs = batches.filter(b => in(b.startMs))
    val stageIds = js.flatMap(_.stages).toSet
    val ss = stages.filter(s => stageIds(s.id))
    // union of job intervals, clipped to the operation
    val ivs = js.map(j => (math.max(j.startMs, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs, endMs))).sortBy(_._1)
    var active = 0L
    var cur = (-1L, -1L)
    for ((a, b) <- ivs) {
      if (a > cur._2) { active += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    active += cur._2 - cur._1
    def phase(k: String) = bs.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    val m = Map[String, Double](
      "jobs" -> js.size, "stages" -> ss.size, "tasks" -> ts.size,
      "failed_tasks" -> ts.count(_.failed),
      "job_active_ms" -> active,
      "plan_ms" -> ps.map(_.planMs).sum,
      "join_rows" -> ps.map(_.joinRows).sum,
      "run_ms" -> ts.map(_.runMs).sum, "cpu_ns" -> ts.map(_.cpuNs).sum,
      "gc_ms" -> ts.map(_.gcMs).sum,
      "shuffle_write_b" -> ts.map(_.shufW).sum,
      "shuffle_read_b" -> ts.map(_.shufR).sum,
      "spill_b" -> ts.map(_.spill).sum, "input_b" -> ts.map(_.in).sum,
      "output_b" -> ts.map(_.out).sum,
      "drains" -> bs.map(_.runId).distinct.size, "batches" -> bs.size,
      "input_rows" -> bs.map(_.inputRows).sum,
      "trigger_ms" -> phase("triggerExecution"),
      "add_batch_ms" -> phase("addBatch"),
      "query_planning_ms" -> phase("queryPlanning"),
      "wal_commit_ms" -> phase("walCommit"),
      "latest_offset_ms" -> phase("latestOffset"),
      "commit_offsets_ms" -> phase("commitOffsets"),
      "state_rows_peak" -> (0L +: bs.map(_.stateRows)).max,
      "state_bytes_peak" -> (0L +: bs.map(_.stateBytes)).max)
    val spans =
      js.map(j => Json.obj("kind" -> "job", "id" -> s"job:${j.id}",
        "parent" -> opId, "group" -> j.group, "start" -> j.startMs,
        "end" -> j.endMs)) ++
      ss.map { s =>
        val parent = js.find(_.stages.contains(s.id)).map(_.id).getOrElse(-1)
        Json.obj("kind" -> "stage", "id" -> s"stage:${s.id}.${s.attempt}",
          "parent" -> s"job:$parent", "start" -> s.startMs, "end" -> s.endMs)
      } ++
      bs.map(b => Json.obj("kind" -> "batch",
        "id" -> s"batch:${b.runId}:${b.batchId}", "parent" -> opId,
        "start" -> b.startMs,
        "end" -> (b.startMs + b.phases.getOrElse("triggerExecution", 0L))))
    (m, bs.map(_.phases.getOrElse("triggerExecution", 0L).toDouble).toSeq,
      spans)
  }
}
