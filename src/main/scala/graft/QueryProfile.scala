package graft

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The engine's one measurement instrument: what Spark did while a block
  * of driver code ran, read from the scheduler's job, stage and task
  * events and the streaming engine's micro-batch progress.
  * [[QueryProfile.of]] installs one per session, idempotently; [[measure]]
  * runs a body in a window that opens and closes on an idle context
  * (listener bus drained, no job running) and returns its
  * [[QueryProfile.Profile]]. Events outside a window are ignored, and
  * windows do not nest. Counts (jobs, stages, tasks, bytes) repeat run to
  * run, up to the odd job adaptive execution adds when concurrent stages
  * finish in another order; walls compare only against same-box runs.
  * The window's Janino compiles come from Spark's JVM-wide codegen
  * counter, so they are exact only while no other session of the JVM
  * runs. */
final class QueryProfile private (sc: SparkContext)
    extends StreamingQueryListener {
  import QueryProfile._

  // the open window's totals (None between windows); every running job
  // so far (its end not yet known) and whether it started inside the
  // window; each listed stage's owner, the first running job that
  // listed it (later jobs skip it); the window's SQL executions'
  // descriptions by execution id
  private var acc: Option[Profile] = None
  private val running = mutable.HashMap.empty[Int, (Job, Boolean)]
  private val owner = mutable.HashMap.empty[Int, Int]
  private val executions = mutable.HashMap.empty[Long, String]

  private def update(f: Profile => Profile): Unit = synchronized { acc = acc.map(f) }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      QueryProfile.this.synchronized {
        val props = Option(e.properties)
        def prop(key: String) = props.flatMap(p => Option(p.getProperty(key)))
        val exec = prop("spark.sql.execution.id").map(_.toLong)
        running(e.jobId) = (Job(e.jobId, e.time, e.time,
          prop("spark.job.description")
            .orElse(e.stageInfos.headOption.map(_.name)).getOrElse(""),
          0, prop("spark.job.tags").exists(_.contains(BroadcastTag)),
          exec, exec.flatMap(executions.get).getOrElse("")),
          acc.nonEmpty)
        e.stageIds.foreach(owner.getOrElseUpdate(_, e.jobId))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      QueryProfile.this.synchronized {
        owner.filterInPlace((_, j) => j != e.jobId)
        running.remove(e.jobId).foreach { case (j, inWindow) =>
          if (inWindow)
            update(p => p.copy(jobs = p.jobs :+ j.copy(endMs = e.time)))
        }
        QueryProfile.this.notifyAll()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      QueryProfile.this.synchronized {
        owner.get(e.stageInfo.stageId).flatMap(running.get).foreach {
          case (j, w) => running(j.id) = (j.copy(stages = j.stages + 1), w)
        }
        update(p => p.copy(stages = p.stages + 1))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => QueryProfile.this.synchronized {
        if (acc.nonEmpty) executions(x.executionId) = x.description
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      // metrics are null for failed or ignored tasks — skip, never throw:
      // an exception on the listener bus detaches the listener
      if (m != null && i != null) update(p => p.copy(
        tasks = p.tasks + 1,
        taskMs = p.taskMs + m.executorRunTime,
        cpuNs = p.cpuNs + m.executorCpuTime,
        gcMs = p.gcMs + m.jvmGCTime,
        schedMs = p.schedMs + math.max(i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime, 0L),
        inputBytes = p.inputBytes + m.inputMetrics.bytesRead,
        shuffleBytes = p.shuffleBytes + m.shuffleWriteMetrics.bytesWritten))
    }
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    update(p => p.copy(streams = p.streams + (e.runId -> StreamRun(0, 0, 0, 0))))

  override def onQueryProgress(e: QueryProgressEvent): Unit = update { p =>
    val b = e.progress
    def dur(key: String): Long =
      Option(b.durationMs.get(key)).map(_.longValue).getOrElse(0L)
    val r = p.streams.getOrElse(b.runId, StreamRun(0, 0, 0, 0))
    val trigger = dur("triggerExecution")
    p.copy(streams = p.streams + (b.runId -> StreamRun(
      // only batches that moved rows count; AvailableNow may end with a
      // no-data progress entry
      r.batches + (if (b.numInputRows > 0) 1 else 0),
      r.addBatchMs + dur("addBatch"),
      r.triggerMs + trigger,
      math.max(r.maxTriggerMs, trigger))))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Deliver every posted event, then wait until no job runs: an action
    * can return while jobs it started still run (adaptive execution's
    * leftover broadcast stages), and their work is its window's. The
    * scheduler's own view ends the wait if the bus dropped a job end. */
  private def quiesce(): Unit = {
    GraftListenerBus.drain(sc)
    synchronized {
      while (running.nonEmpty && sc.statusTracker.getActiveJobIds().nonEmpty)
        wait(1000)
    }
    GraftListenerBus.drain(sc)
  }

  /** Run `body` and profile what Spark did while it ran. A body that
    * throws closes the window and rethrows. */
  def measure[T](body: => T): (T, Profile) = {
    quiesce()
    synchronized {
      require(acc.isEmpty, "QueryProfile windows do not nest")
      acc = Some(Profile(0, Vector.empty, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        Map.empty))
    }
    try {
      val c0 = compileCount()
      val n0 = System.nanoTime()
      val r = body
      val wallMs = math.round((System.nanoTime() - n0) / 1e6)
      val t1 = System.currentTimeMillis()
      quiesce()
      val compiles = compileCount() - c0
      val p = synchronized(acc.get)
      // union of job intervals to the body's end (Par.par2 jobs overlap)
      val jobs = p.jobs.sortBy(_.startMs)
      var covered = 0L
      var end = Long.MinValue
      jobs.foreach { j =>
        val s = math.max(j.startMs, end)
        val e = math.min(j.endMs, t1)
        if (e > s) { covered += e - s; end = e }
      }
      (r, p.copy(wallMs = wallMs, jobs = jobs, jobMs = covered,
        compiles = compiles))
    } finally synchronized { acc = None; executions.clear() }
  }
}

object QueryProfile {

  /** One finished job: id, driver-clock start and end (epoch ms), its
    * description (the first stage's call site when none is set), the
    * stages it completed (stages it skipped are another job's), whether
    * it is a broadcast exchange's build job, and the SQL execution that
    * ran it with that execution's description — the action's call site,
    * which adaptive shuffle-stage and broadcast jobs otherwise lack
    * (their own description is a thread-pool frame). */
  final case class Job(id: Int, startMs: Long, endMs: Long, desc: String,
      stages: Int, broadcast: Boolean, execution: Option[Long],
      executionDesc: String)

  /** Janino compiles so far in this JVM: Spark times each one into this
    * histogram, so its count is the number of compiles. */
  private def compileCount(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The job tag Spark's broadcast exchanges put on their build jobs. */
  private val BroadcastTag = "broadcast exchange"

  /** One stream's micro-batches: batches that moved rows, and summed and
    * max engine durations. Wall minus triggerMs is time spent outside
    * micro-batches: query start and stop, scheduling, drain wait. */
  final case class StreamRun(batches: Int, addBatchMs: Long,
      triggerMs: Long, maxTriggerMs: Long)

  /** What one window did.
    * @param jobMs   wall covered by at least one running job
    * @param taskMs  summed executor run time
    * @param schedMs summed task time outside run, deserialize and result
    *                serialization — scheduler delay and fetch wait
    * @param compiles generated classes Janino compiled in this JVM (the
    *                driver's, and a local master's executors'): each is
    *                a miss of Spark's codegen cache, so 0 means every
    *                plan's classes were cached
    * @param streams the window's streams by run id */
  final case class Profile(wallMs: Long, jobs: Seq[Job], jobMs: Long,
      stages: Int, tasks: Long, taskMs: Long, cpuNs: Long, gcMs: Long,
      schedMs: Long, inputBytes: Long, shuffleBytes: Long, compiles: Long,
      streams: Map[UUID, StreamRun]) {
    def cpuMs: Long = cpuNs / 1000000L
    /** Driver time outside every job: planning, eager driver work,
      * job launch gaps. */
    def outsideMs: Long = math.max(wallMs - jobMs, 0L)
  }

  /** The session's profile, installed on first use: a scheduler listener
    * on the context and a streaming listener on the session. */
  def of(spark: SparkSession): QueryProfile = synchronized {
    spark.streams.listListeners().collectFirst { case p: QueryProfile => p }
      .getOrElse {
        val p = new QueryProfile(spark.sparkContext)
        spark.sparkContext.addSparkListener(p.scheduler)
        spark.streams.addListener(p)
        p
      }
  }

  /** Every node of a physical plan, through the adaptive wrappers:
    * `AdaptiveSparkPlanExec` exposes its current plan, and a
    * `QueryStageExec` is a LEAF to TreeNode.collect (its sub-plan hangs
    * off `.plan`), so a plain collect misses every completed stage. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    root.collect { case n => n }.flatMap {
      case q: QueryStageExec => q +: planNodes(q.plan)
      case other => Seq(other)
    }
  }

  /** Max of SQL metric `key` over every node matching `pred` in an
    * EXECUTED plan — for quantities one node dominates (a join's
    * numOutputRows, a scan's numFiles). */
  def metricMaxWhere(plan: SparkPlan, key: String)(
      pred: SparkPlan => Boolean): Long =
    planNodes(plan).filter(pred).flatMap(_.metrics.get(key).map(_.value))
      .maxOption.getOrElse(0L)
}
