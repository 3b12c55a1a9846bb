package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Curation, SnapshotStore}
import graft.streaming.StreamQueries

/** crawl_cycle: the SnapshotStore lifecycle over generated documents.
  *
  * A seed crawl (Curation.cycleAppend), then keyed streaming increments
  * (StreamQueries.streamCrawlIncrement); after the seed crawl and after
  * each increment, serveDelta and serveNearDup probe held-out documents;
  * then compact, gcOrphans, a keyed replay that must not commit, and the
  * final probes, which must answer as they did before compaction. One
  * lifecycle is timed per run. */
object Crawl {

  /** The declared crawl query the warm-up runs: two keyed appends,
    * compaction, GC, a keyed replay and a near-dup probe. */
  val WarmQueries = Seq("n95_compacted_replay_serve")

  final case class Corpus(root: File, increments: Int) {
    def seed: String = new File(root, "seed").getPath
    def inc(i: Int): String = new File(root, s"inc$i").getPath
    def probe: String = new File(root, "probe").getPath
  }

  final class State(val env: Env, val spark: SparkSession, val probes: Probes) {
    /** Wall of every timed store call, ms. */
    val lat = collection.mutable.ArrayBuffer[Double]()
    var attempted, failed = 0L
    val notes = Seq.newBuilder[String]
    /** Timed store call: one latency sample and, traced, one span. */
    def op[T](span: String)(body: => T): (T, Double) = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = probes.tracer(span)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      lat += ms
      (r, ms)
    }
    def fail(msg: String): Unit = { failed += 1; notes += msg.take(300) }
  }

  def run(env: Env): Outcome = {
    val m = new Metrics
    val (spark, setupS) = Setup.timed(env, 3) { s =>
      Setup.probeFooters(s, new File(env.data, "crawl/seed"))
      Setup.probeFooters(s, new File(env.data, "crawl/probe"))
      s.range(1000).selectExpr("sum(id)").collect()
    }
    m("setup_s", "s", setupS)
    val incs = Option(new File(env.data, "crawl").listFiles).getOrElse(Array.empty[File])
      .count(_.getName.startsWith("inc"))
    val main = Corpus(new File(env.data, "crawl"), incs)
    def plain() = new State(env, spark, new Probes(spark, new Tracer(false, "")))

    val warmSt = if (env.trace) new State(env, spark, new Probes(spark, env.tracer)) else plain()
    warmUp(warmSt, new File(env.data, "crawl_warm"), m)
    if (env.trace) warmSt.probes.pause()
    Log("warm-up done")

    val st = if (!env.trace) {
      val st = plain()
      m("wall_s", "s", Jvm.watchHeap(lifecycle(st, main, env.dir("store0"), m, report = true)))
      // the lifecycle's 13 store calls: the median one and the slowest one
      m("lat_p50_ms", "ms", Stats.median(st.lat.toSeq))
      m("lat_p99_ms", "ms", st.lat.max)
      m("heap_peak_mb", "MB", Jvm.heapPeakMb)
      st
    } else {
      val base = plain()
      val untraced = lifecycle(base, main, env.dir("store_untraced"), new Metrics, report = false)
      val probes = new Probes(spark, env.tracer)
      val st = new State(env, spark, probes)
      val a = EngineLayer.mark(probes)
      val traced = lifecycle(st, main, env.dir("store0"), m, report = true)
      val b = EngineLayer.mark(probes)
      EngineLayer.report(m, probes, a, b, EngineLayer.blockBytes(spark))
      m("trace.overhead_pct", "%", 100.0 * (traced - untraced) / untraced)
      st.attempted += base.attempted; st.failed += base.failed
      st.notes ++= base.notes.result()
      st
    }
    st.attempted += warmSt.attempted; st.failed += warmSt.failed
    st.notes ++= warmSt.notes.result()
    Outcome(st.attempted, st.failed, m, st.notes.result())
  }

  /** Untimed: the declared crawl query over a small separate corpus, so
    * the timed lifecycle does not pay first-time code generation. Traced,
    * its eager DataFrame construction is the SparkEntry layer. */
  def warmUp(st: State, fixtures: File, m: Metrics): Unit = {
    val tr = st.probes.tracer
    var constructMs = 0.0
    var constructJobs = 0L
    WarmQueries.foreach { name =>
      st.attempted += 1
      try {
        st.probes.drain(); val j0 = st.probes.engine.totals.jobs
        val t0 = System.nanoTime()
        val df = tr(s"SparkEntry.$name")(graft.SparkEntry.queries(name)(st.spark, fixtures.getPath))
        constructMs += (System.nanoTime() - t0) / 1e6
        st.probes.drain(); constructJobs += st.probes.engine.totals.jobs - j0
        df.write.mode("overwrite").format("noop").save()
      } catch { case e: Throwable => st.fail(s"$name failed: ${e.getMessage}") }
    }
    graft.TempDirs.purge()
    if (tr.enabled) {
      m("SparkEntry.construct_ms", "ms", constructMs)
      m("SparkEntry.construct_jobs", "count", constructJobs.toDouble)
    }
  }

  /** One full lifecycle into a fresh store; returns its wall in seconds. */
  def lifecycle(st: State, c: Corpus, storeDir: File, m: Metrics, report: Boolean): Double = {
    val spark = st.spark
    val dir = storeDir.getPath
    val probe = spark.read.parquet(c.probe)
    // token budgets of the mixture gate scale with the documents offered
    def budgets(n: Long) = (st.env.param("budget_en_per_doc").toLong * n,
      st.env.param("budget_other_per_doc").toLong * n)
    val tr = st.probes.tracer
    /** Plan (a span of its own when traced), then collect sorted. */
    def answer(df: DataFrame): Seq[Row] = {
      if (tr.enabled) tr("catalyst.plan")(df.queryExecution.executedPlan)
      sorted(df)
    }
    def probeBoth(tag: String): (Seq[Row], Seq[Row], Double, Double, Long) = {
      val in0 = st.probes.engine.totals.inBytes
      val (delta, dMs) = st.op(s"store.serve_delta$tag")(answer(
        SnapshotStore.serveDelta(spark, dir, probe, col("text"), col("source"))))
      val (near, nMs) = st.op(s"store.serve_neardup$tag")(answer(
        SnapshotStore.serveNearDup(spark, dir, probe)))
      st.probes.drain()
      // test hook: a serve answer with one wrong row must be counted
      val d = if (st.env.fault.contains("wrong_query_row") && tag.nonEmpty && delta.nonEmpty)
        Row.fromSeq(delta.head.toSeq.updated(1, -1L)) +: delta.tail else delta
      (d, near, dMs, nMs, st.probes.engine.totals.inBytes - in0)
    }

    val t0 = System.nanoTime()
    val seedDocs = spark.read.parquet(c.seed)
    val seedN = seedDocs.count()
    val (be, bo) = budgets(seedN)
    st.op("store.seed_append")(Curation.cycleAppend(spark, dir, seedDocs, be, bo))
    // serve input bytes after the seed crawl and after each increment
    val serveIn = collection.mutable.ArrayBuffer[Double](probeBoth("")._5.toDouble)
    var offered = seedN
    val incMs = collection.mutable.ArrayBuffer[Double]()
    var incJobs = 0L
    var pre: (Seq[Row], Seq[Row]) = (Nil, Nil)
    (1 to c.increments).foreach { i =>
      val batch = spark.read.parquet(c.inc(i))
      val n = batch.count()
      offered += n
      val (ibe, ibo) = budgets(n)
      st.probes.drain(); val j0 = st.probes.engine.totals.jobs
      val (_, ms) = st.op("store.increment")(StreamQueries.streamCrawlIncrement(
        spark, dir, s"dump-$i",
        spark.readStream.schema(batch.schema).parquet(c.inc(i)), batch, ibe, ibo))
      st.probes.drain(); incJobs += st.probes.engine.totals.jobs - j0
      incMs += ms
      val (d, nd, _, _, in) = probeBoth("")
      serveIn += in.toDouble
      pre = (d, nd)
    }
    val committedBefore = SnapshotStore.committedIds(spark, dir)
    st.op("store.compact")(SnapshotStore.compact(spark, dir))
    st.op("store.gc")(SnapshotStore.gcOrphans(spark, dir))

    // keyed replay of the first increment's first micro-batch append
    val replayId = committedBefore.find(_.startsWith("append-dump-1-b"))
      .getOrElse("append-dump-1-b0")
    // test hook: a fresh id with documents the store lacks, so it commits
    val (aid, replayDocs) =
      if (st.env.fault.contains("replay_not_noop")) (replayId + "-again", c.probe)
      else (replayId, c.inc(1))
    val v0 = manifestVersion(storeDir)
    st.probes.drain(); val rj0 = st.probes.engine.totals.jobs
    val committed =
      try st.op("store.replay")(SnapshotStore.appendAs(spark, dir, aid,
        spark.read.parquet(replayDocs), persistDocs = true))._1
      catch { case e: Exception => st.fail(s"replay of $aid failed: ${e.getMessage}"); false }
    st.probes.drain(); val replayJobs = st.probes.engine.totals.jobs - rj0
    if (committed || manifestVersion(storeDir) != v0)
      st.fail(s"replay of $aid changed the committed version")

    // final probes on the compacted store: median of two rounds
    val finals = (1 to 2).map(_ => probeBoth(".final"))
    finals.foreach { case (d, nd, _, _, _) =>
      if (d != pre._1) st.fail("serveDelta answered differently after compaction")
      if (nd != pre._2) st.fail("serveNearDup answered differently after compaction")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Log(f"lifecycle $wall%.2f s; store calls: " + st.lat.map(x => f"$x%.0f").mkString(" ") + " ms")
    if (report) {
      val serveS = Stats.median(finals.map(f => (f._3 + f._4) / 1e3))
      val committedDocs = SnapshotStore.docs(spark, dir).count()
      m("serve_s", "s", serveS)
      m("store_disk_mb", "MB", Files.bytes(storeDir) / 1048576.0)
      m("throughput_eps", "1/s", (offered - seedN) / (incMs.sum / 1e3))
      if (tr.enabled) {
        m("store.seed_append_ms", "ms", tr.ms("store.seed_append"))
        m("store.increment_ms", "ms", tr.ms("store.increment"))
        m("store.increment_jobs", "count", incJobs.toDouble)
        m("store.compact_ms", "ms", tr.ms("store.compact"))
        m("store.gc_ms", "ms", tr.ms("store.gc"))
        m("store.replay_ms", "ms", tr.ms("store.replay"))
        m("store.replay_jobs", "count", replayJobs.toDouble)
        m("store.serve_delta_ms", "ms", Stats.median(finals.map(_._3)))
        m("store.serve_neardup_ms", "ms", Stats.median(finals.map(_._4)))
        m("store.serve_input_mb", "MB", Stats.median(finals.map(_._5.toDouble)) / 1048576.0)
        m("store.serve_growth", "ratio", serveIn.last / math.max(1.0, serveIn.head))
        m("store.files", "count", Files.count(storeDir).toDouble)
        m("store.curation_keep_ratio", "ratio", committedDocs.toDouble / offered)
        m("catalyst.plan_ms", "ms", tr.ms("catalyst.plan"))
      }
    }
    wall
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Highest MANIFEST.v{N} in the store directory. */
  def manifestVersion(store: File): Long =
    Option(store.listFiles).getOrElse(Array.empty[File]).map(_.getName)
      .collect { case n if n.startsWith("MANIFEST.v") => n.stripPrefix("MANIFEST.v").toLong }
      .maxOption.getOrElse(-1L)
}
