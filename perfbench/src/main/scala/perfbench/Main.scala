package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run, as launched by run.py:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR
  *
  * `data` holds the seeded inputs gen.py wrote; `work` is scratch space
  * inside the checkout. Writes DIR/result.json: attempted and failed
  * operation counts, the measured metrics (end-to-end ones untraced,
  * per-layer ones traced) and, traced, the spans next to it. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val env = Env(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", new File(o("work")), new File(o("data")), o,
      sys.env.get("PERFBENCH_FAULT").filter(_.nonEmpty))
    Log("start")
    val out = env.workload match {
      case "announce_stream" => Announce.run(env)
      case "crawl_cycle" => Crawl.run(env)
      case w => sys.error(s"unknown workload $w")
    }
    Log("done")
    env.tracer.write(new File(env.work, "spans.jsonl"))
    java.nio.file.Files.writeString(new File(env.work, "result.json").toPath,
      Json.obj("attempted" -> out.attempted, "failed" -> out.failed,
        "notes" -> out.notes, "metrics" -> out.metrics.asMap) + "\n")
    Session.stop()
    // stream, Derby and pool threads must not keep the JVM alive
    System.exit(0)
  }
}

final case class Env(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: File, data: File, params: Map[String, String],
    fault: Option[String]) {
  val tracer = new Tracer(trace, s"$workload-$seed")
  /** A workload parameter from spec.json, passed on the command line. */
  def param(name: String): String =
    params.getOrElse(name, sys.error(s"missing parameter --$name"))
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
}

/** What a workload hands back to Main. */
final case class Outcome(attempted: Long, failed: Long, metrics: Metrics,
    notes: Seq[String])

/** The engine's own session recipe, pointed at the run's work dir. */
object Session {
  @volatile private var cur: Option[SparkSession] = None

  def start(env: Env, cores: Int): SparkSession = {
    stop()
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", env.dir("spark-local").getPath)
      .config("spark.sql.warehouse.dir", env.dir("warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", env.dir("hadoop-tmp").getPath)
      .config("spark.driver.host", "localhost")
      // Spark's status store keeps a plan graph per SQL execution (one per
      // micro-batch); bounded, the heap reading does not depend on how
      // many triggers a run happened to fire
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    cur = Some(s)
    s
  }

  def stop(): Unit = {
    cur.foreach(_.stop())
    cur = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Set-up, timed as a whole and repeated: the median of `reps` set-ups
  * is `setup_s`. Each repetition starts a fresh session. */
object Setup {
  def timed(env: Env, reps: Int)(once: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val walls = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      spark = Session.start(env, env.cores)
      graft.sources.Tables.clearCaches()
      once(spark)
      (System.nanoTime() - t0) / 1e9
    }
    Log(f"set-up x$reps: ${walls.map(w => f"$w%.2f").mkString(" ")} s")
    (spark, Stats.median(walls))
  }

  /** Read every parquet footer under `dir` (the fixture probe). */
  def probeFooters(spark: SparkSession, dir: File): Unit =
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).schema)
}

/** The engine-layer counters every traced workload reports. */
object EngineLayer {
  final case class Mark(totals: Totals, gcMs: Long,
      wallMs: Long, fs: (Long, Long))

  def mark(p: Probes): Mark = {
    p.drain()
    Mark(p.engine.totals, Jvm.gcMs, System.currentTimeMillis(), Jvm.fsBytes)
  }

  /** Counters between two marks, plus the streaming listener's view. */
  def report(m: Metrics, p: Probes, a: Mark, b: Mark, blkPeakBytes: Long): Unit = {
    val d = b.totals - a.totals
    val wall = b.wallMs - a.wallMs - p.pausedMs
    val inJobs = p.engine.inJobsMs(a.wallMs, b.wallMs)
    m("engine.jobs", "count", d.jobs.toDouble)
    m("engine.stages", "count", d.stages.toDouble)
    m("engine.tasks", "count", d.tasks.toDouble)
    m("engine.exec_ms", "ms", inJobs.toDouble)
    m("engine.outside_jobs_ms", "ms", (wall - inJobs).toDouble)
    m("engine.task_run_ms", "ms", d.runMs.toDouble)
    m("engine.task_cpu_ms", "ms", d.cpuNs / 1e6)
    m("engine.task_gc_ms", "ms", d.gcMs.toDouble)
    m("engine.sched_delay_ms", "ms", d.schedMs.toDouble)
    m("engine.input_mb", "MB", d.inBytes / 1048576.0)
    m("engine.shuffle_write_mb", "MB", d.shufWrite / 1048576.0)
    m("engine.spill_mb", "MB", d.spill / 1048576.0)
    m("engine.blk_peak_mb", "MB", blkPeakBytes / 1048576.0)
    m("jvm.gc_ms", "ms", (b.gcMs - a.gcMs).toDouble)
    m("fs.read_mb", "MB", (b.fs._1 - a.fs._1) / 1048576.0)
    m("fs.write_mb", "MB", (b.fs._2 - a.fs._2) / 1048576.0)
    val s = p.streams
    def p50(k: String) = { val xs = s.durations(k); if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.toDouble)) }
    def sum(k: String) = s.durations(k).sum.toDouble
    m("streaming.queries", "count", s.queries.get.toDouble)
    m("streaming.batches", "count", s.progress.size.toDouble)
    m("streaming.trigger_ms", "ms", p50("triggerExecution"))
    m("streaming.add_batch_ms", "ms", sum("addBatch"))
    m("streaming.wal_commit_ms", "ms", sum("walCommit"))
    m("streaming.commit_offsets_ms", "ms", sum("commitOffsets"))
    m("streaming.query_planning_ms", "ms", sum("queryPlanning"))
    m("streaming.latest_offset_ms", "ms", sum("latestOffset"))
    m("streaming.get_batch_ms", "ms", sum("getBatch"))
    import scala.jdk.CollectionConverters._
    m("streaming.lifecycle_ms", "ms", math.max(0.0,
      s.lifetimesMs.asScala.map(_.toDouble).sum - sum("triggerExecution")))
  }

  def blockBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
}

/** Progress lines in the run's jvm.log, stamped with seconds since start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2f s] $msg")
}

object Files {
  def bytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty[File]).map(bytes).sum
  def count(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles).getOrElse(Array.empty[File]).map(count).sum
}
