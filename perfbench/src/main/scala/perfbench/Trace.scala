package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `layer` is the name up to the first dot. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, run: String) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out at exit. Disabled, `apply` only
  * runs the body. The parent of a span is the innermost open span of the
  * same thread, so micro-batch spans opened on a stream thread nest under
  * nothing. */
final class Tracer(val enabled: Boolean, run: String) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, stack.headOption.getOrElse(0), name, t0,
          System.nanoTime(), run))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toVector.sortBy(_.id)

  /** Total wall of the spans named `name` that started at or after
    * `fromNs`, in ms. */
  def ms(name: String, fromNs: Long = Long.MinValue): Double =
    spans.filter(s => s.name == name && s.startNs >= fromNs).map(_.ms).sum

  /** Span minus the time its direct children cover (children never overlap
    * their parent's other children on one thread). */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)
    }.toMap
  }

  def write(path: java.io.File): Unit = if (enabled) {
    val self = selfMs
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "ms" -> s.ms, "self_ms" -> self(s.id), "run" -> s.run)
    }
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) =>
      Json.obj("layer_self_ms" -> l, "ms" -> ss.map(s => self(s.id)).sum)
    }
    path.getParentFile.mkdirs()
    java.nio.file.Files.writeString(path.toPath,
      (lines ++ byLayer).mkString("", "\n", "\n"))
  }
}

/** Job, stage and task totals from Spark's public scheduler listener. */
final case class Totals(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long, inBytes: Long,
    shufWrite: Long, spill: Long) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    schedMs - o.schedMs, inBytes - o.inBytes, shufWrite - o.shufWrite,
    spill - o.spill)
}

final class EngineListener extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, schedMs, inBytes,
    shufWrite, spill = new AtomicLong(0)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) wall-clock millis of every finished job. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => jobSpans.add((t, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val i = e.taskInfo
      schedMs.addAndGet(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime))
    }
  }
  def totals: Totals = Totals(jobs.get, stages.get, tasks.get, runMs.get,
    cpuNs.get, gcMs.get, schedMs.get, inBytes.get, shufWrite.get, spill.get)

  /** Wall ms inside [t0, t1] (epoch millis) covered by at least one job. */
  def inJobsMs(t0: Long, t1: Long): Long = {
    val iv = jobSpans.asScala.toVector
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

/** Micro-batch progress from Spark's public streaming listener. */
final class StreamListener extends StreamingQueryListener {
  private val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
  val queries = new AtomicLong(0)
  val lifetimesMs = new ConcurrentLinkedQueue[Long]()
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  /** Called with each progress event (the announce generator's backlog). */
  @volatile var onProgress: org.apache.spark.sql.streaming.StreamingQueryProgress => Unit = _ => ()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    queries.incrementAndGet(); started.put(e.id, System.currentTimeMillis())
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); onProgress(e.progress)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Option(started.remove(e.id)).foreach(t =>
      lifetimesMs.add(System.currentTimeMillis() - t))

  /** Start the timed part: forget the progress so far and count the
    * running queries' lifetimes from now. */
  def reset(): Unit = {
    progress.clear()
    val now = System.currentTimeMillis()
    started.replaceAll((_, _) => now)
  }

  def durations(key: String): Seq[Long] =
    progress.asScala.toVector.flatMap(p => Option(p.durationMs.get(key)).map(_.longValue))
}

/** Everything the traced run reads, installed only when tracing. While
  * paused the listeners are off, so an untraced stretch of a traced run
  * costs what it costs in an untraced run. */
final class Probes(spark: SparkSession, val tracer: Tracer) {
  val engine = new EngineListener
  val streams = new StreamListener
  @volatile var pausedMs = 0L
  private var pausedAt = 0L
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streams)
  }
  def drain(): Unit =
    if (tracer.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  def pause(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(streams)
    pausedAt = System.currentTimeMillis()
  }
  def resume(): Unit = {
    pausedMs += System.currentTimeMillis() - pausedAt
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streams)
  }
}

/** JVM-wide readings: GC time, old-gen occupancy after GC, Hadoop
  * FileSystem byte counts. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toVector
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private val oldGen = pools.map(_.getName).toSet
  @volatile private var watching = false
  private val peak = new AtomicLong(0)
  private lazy val listening: Unit = gcBeans.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if oldGen(pool) => u.getUsed }.sum
          if (watching) peak.accumulateAndGet(used, math.max)
        }, null, null)
    case _ => ()
  }

  /** Run a timed body while recording the old generation's occupancy
    * after every GC (young, mixed or full) the body's allocations cause.
    * One full GC before the body starts the window at the live set, so
    * the reading does not depend on how much garbage earlier phases left
    * in the old generation; nothing is released or collected while the
    * body runs. */
  def watchHeap[T](body: => T): T = {
    listening
    System.gc()
    peak.accumulateAndGet(pools.map(_.getCollectionUsage.getUsed).sum, math.max)
    watching = true
    try body finally watching = false
  }
  /** The peak over every watched body so far. */
  def heapPeakMb: Double = peak.get / 1048576.0

  /** (bytes read, bytes written) summed over every Hadoop FileSystem
    * scheme. The local filesystem counts bytes but not operations. */
  def fsBytes: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala.toVector
    def sum(k: String) = st.flatMap(s => Option(s.getLong(k)).map(_.longValue)).sum
    (sum("bytesRead"), sum("bytesWritten"))
  }
}

/** Small order statistics used for every reported median. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer: numbers, strings, booleans, nested maps/seqs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(collection.immutable.ListMap(kv: _*))
}

/** Mutable bag of a run's measured values. */
final class Metrics {
  private val vals = collection.mutable.LinkedHashMap[String, (Double, String)]()
  def apply(name: String, unit: String, v: Double): Unit = vals(name) = (v, unit)
  def asMap: collection.Map[String, collection.Map[String, Any]] =
    vals.map { case (k, (v, u)) => k -> collection.immutable.ListMap("value" -> v, "unit" -> u) }
}
