package perfbench

import java.io.File
import java.nio.file.{StandardCopyOption, Files => JFiles}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.operators.{Pipeline, RuleClassifier}
import graft.sinks.JdbcSink
import graft.sources.Kafka

/** announce_stream: the reference pipeline as a continuous stream.
  *
  * NEEQ oplog envelopes (JSON lines, written by gen.py) arrive in a
  * file-stream directory that stands in for the topic. The query is
  * Kafka.normalize(Neeq) then Pipeline.enrich against generatedRules,
  * and a foreachBatch fans every micro-batch out to two keyed JDBC
  * tables (embedded Derby) and one key-deduped parquet document store.
  *
  * Phase A: one generator thread appends envelopes on an open-loop
  * schedule (event i is due at t0 + i/rate, whatever the sink does);
  * latency runs from an event's due time to the commit of the
  * micro-batch that holds it (the batch is read back from the query's
  * file-source log, so the sink runs no extra job). Phase B: a fixed
  * backlog is drained and timed. Every sink is then checked against
  * Pipeline.enrich run as a batch over the same envelopes. */
object Announce {
  /** Phase B backlog lands as this many files, drained two per trigger. */
  val BacklogFiles = 4
  /** Phase B drains per run; `wall_s` is their median. */
  val Drains = 3
  /** The generator batches what is due every this many ms, like a
    * producer's linger. Long enough that a micro-batch reads at most 32
    * files: above that Spark lists a batch's files with a job of its own,
    * a cost of the file-directory stand-in that a topic would not have. */
  val LingerMs = 250L
  /** A generator tick landing later than this after its scheduled time
    * means the load generator itself fell behind: the run is void. */
  val MaxLateMs = 100.0
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  val SentimentCols = Seq("emoScore", "emoLabel", "impScore", "impLabel")

  /** One drain or stream phase. Phases of one `group` share the sink
    * tables and the document store (their envelope urls differ), so one
    * check covers them all. */
  final class Phase(val name: String, val input: File, val group: String, root: File) {
    val doc: String = new File(root, s"doc_$group").getPath
    val ckpt: String = new File(root, s"ckpt_$name").getPath
    def table(t: String): String = s"${t}_$group"
    val commitNs = new ConcurrentHashMap[java.lang.Long, java.lang.Long]() // batch id -> commit
    val batches = new AtomicLong(0)
  }

  def run(env: Env): Outcome = {
    System.setProperty("derby.system.home", env.dir("derby").getPath)
    System.setProperty("derby.stream.error.file", new File(env.work, "derby.log").getPath)
    // no fsync per commit: the stand-in database should not time the disk
    System.setProperty("derby.system.durability", "test")
    val m = new Metrics
    val rate = env.param("rate").toDouble
    // longer than a warm micro-batch at this rate, so batches start on a
    // fixed cadence instead of each one's size depending on the last one's
    val triggerMs = env.param("phase_a_trigger_ms").toLong
    val ruleCount = env.param("rules").toInt
    val dbUrl = s"jdbc:derby:${new File(env.work, "derby/db").getPath}"
    def lines(ph: String) = readLines(new File(env.data, s"announce/phase_$ph.jsonl"))
    val (linesA, linesB) = (lines("a"), lines("b"))
    var rules: DataFrame = null
    val (spark0, setupS) = Setup.timed(env, 3) { s =>
      rules = RuleClassifier.rulesDim(s, RuleClassifier.generatedRules(ruleCount)).cache()
      rules.count()
      Setup.probeFooters(s, new File(env.data, "announce"))
      derby(s"$dbUrl;create=true")(_ => ())
    }
    m("setup_s", "s", setupS)
    var spark = spark0
    val schema = enrich(spark, spark.emptyDataFrame.selectExpr("CAST(NULL AS STRING) AS value")
      .limit(0), rules).schema
    var attempted, failed = 0L
    val notes = Seq.newBuilder[String]
    val groups = collection.mutable.LinkedHashMap[String, Seq[(Phase, Int)]]()
    def phase(name: String, group: String, lines: Seq[String]): Phase = {
      val p = new Phase(name, env.dir(s"in_$name"), group, env.dir("sinks"))
      if (!groups.contains(group))
        Seq("gao", "yuqing").foreach(t => createTable(dbUrl, p.table(t), schema, t == "gao"))
      groups(group) = groups.getOrElse(group, Nil) :+ (p -> lines.size)
      p
    }
    def check(group: String): Unit = {
      val ps = groups(group)
      attempted += ps.map(_._2).sum
      val (bad, msg) = verify(spark, ps.map(_._1), rules, dbUrl)
      failed += bad
      if (bad > 0) notes += s"sinks $group: $msg"
    }
    val tr = env.tracer
    val off = new Probes(spark, new Tracer(false, ""))

    val probes = new Probes(spark, tr)

    // phase A: open loop. Untimed warm-up first: the backlog's envelopes
    // (under other urls) go through the phase A query as one micro-batch
    // before the generator starts, so a new query's one-time costs and
    // those of its first large batch set no latency sample.
    val leadIn = linesB.map(_.replace("/b/", "/l/"))
    val pa = phase("a", "main", linesA ++ leadIn)
    JFiles.writeString(new File(pa.input, "lead-in.json").toPath, leadIn.mkString("", "\n", "\n"))
    val gen = new Generator(pa.input, linesA, rate, LingerMs)
    val backlog = new AtomicLong(0)
    val inputRows = new AtomicLong(0)
    probes.streams.onProgress = pr => {
      inputRows.addAndGet(pr.numInputRows)
      backlog.accumulateAndGet(gen.written.get + leadIn.size - inputRows.get, math.max)
    }
    val q = query(spark, pa, rules, dbUrl, env, probes, Trigger.ProcessingTime(triggerMs), None)
    q.processAllAvailable()
    // traced counters cover phase A from here and phase B, not the lead-in
    probes.streams.reset()
    sinkRows.set(0); dedupDropped.set(0)
    val timedFrom = System.nanoTime()
    val aMark = if (env.trace) Some(EngineLayer.mark(probes)) else None
    Jvm.watchHeap {
      gen.start()
      gen.join()
      q.processAllAvailable()
      q.stop()
    }
    Log("phase A done")
    val busy = q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(1)
      .map(_.durationMs.get("triggerExecution").toDouble / triggerMs)
    notes += f"phase A: ${busy.size} micro-batches at $rate%.0f envelopes/s, each busy " +
      f"${100 * Stats.median(busy)}%.0f %% (median) to ${100 * busy.max}%.0f %% (max) of the $triggerMs ms trigger"
    val lateMs = gen.maxLateMs
    if (lateMs > MaxLateMs) {
      val late = gen.lateTicks(MaxLateMs)
      failed += late
      notes += f"generator fell behind: $late ticks landed up to $lateMs%.0f ms late; run void"
    }
    // every phase A insert in the document store, timed from its due time
    // to the commit of the micro-batch that read its file
    val batchOf = sourceLog(new File(pa.ckpt))
    val lats = spark.read.parquet(pa.doc).select("srcUrl").distinct().collect().toSeq
      .map(_.getString(0)).filter(_.contains("/a/")).flatMap { url =>
        val i = url.substring(url.lastIndexOf('/') + 1).toInt
        batchOf.get(gen.fileOf(i)).map(b => (pa.commitNs.get(b) - gen.dueNs(i)) / 1e6)
      }
    notes += s"${lats.size} latency samples"

    // traced runs also drain the backlog untraced: the overhead baseline
    val untracedB = if (env.trace) {
      probes.pause()
      val p = phase("u", "untraced", linesB)
      writeBacklog(p, linesB)
      val w = drain(spark, p, rules, dbUrl, env, off)
      probes.resume()
      Some(w)
    } else None

    // phase B: the backlog, drained and timed three times (fresh query and
    // input each time); the median drain is reported
    val walls = (1 to Drains).map { k =>
      val pb = phase(s"b$k", "main", linesB.map(_.replace("/b/", s"/b$k/")))
      writeBacklog(pb, linesB.map(_.replace("/b/", s"/b$k/")))
      Jvm.watchHeap(tr("announce.drain")(drain(spark, pb, rules, dbUrl, env, probes)))
    }
    val wallB = Stats.median(walls)
    Log("phase B done")
    val bMark = if (env.trace) Some(EngineLayer.mark(probes)) else None

    // serve: keyed lookups of committed events in the document store
    val ids = spark.read.parquet(pa.doc).select("onlyId").collect().map(_.getString(0)).sorted
    val rnd = new scala.util.Random(env.seed)
    val serve = (1 to 9).map { _ =>
      val want = Seq.fill(50)(ids(rnd.nextInt(ids.length))).distinct
      val t0 = System.nanoTime()
      val got = spark.read.parquet(pa.doc).where(col("onlyId").isin(want: _*)).collect()
      attempted += 1
      if (got.length != want.size) { failed += 1; notes += "doc store lookup missed keys" }
      (System.nanoTime() - t0) / 1e9
    }
    groups.keys.toSeq.foreach(check)
    Log("sinks checked")

    if (!env.trace) {
      m("wall_s", "s", wallB)
      m("lat_p50_ms", "ms", Stats.quantile(lats, 0.5))
      m("lat_p99_ms", "ms", Stats.quantile(lats, 0.99))
      m("throughput_eps", "1/s", linesB.size / wallB)
      m("serve_s", "s", Stats.median(serve))
      m("store_disk_mb", "MB", (Files.bytes(new File(env.work, "derby")) +
        Files.bytes(new File(env.work, "sinks"))) / 1048576.0)
      m("heap_peak_mb", "MB", Jvm.heapPeakMb)
      notes += f"generator max lateness $lateMs%.1f ms"
    } else {
      EngineLayer.report(m, probes, aMark.get, bMark.get, EngineLayer.blockBytes(spark))
      m("trace.overhead_pct", "%", 100.0 * (wallB - untracedB.get) / untracedB.get)
      val inputB = new File(env.work, "in_b1").getPath
      val inserts = spark.read.text(inputB).transform(Kafka.normalize(Kafka.Neeq)).count()
      val outRows = enrich(spark, spark.read.text(inputB), rules).count()
      m("sources.backlog_events", "count", backlog.get.toDouble)
      m("sources.gen_late_ms", "ms", lateMs)
      m("sources.cdc_keep_ratio", "ratio", inserts.toDouble / linesB.size)
      m("operators.classify_ms", "ms", tr.ms("operators.classify", timedFrom))
      m("operators.rule_match_ratio", "ratio", outRows.toDouble / inserts)
      m("sinks.jdbc_ms", "ms", tr.ms("sinks.jdbc", timedFrom))
      m("sinks.doc_ms", "ms", tr.ms("sinks.doc", timedFrom))
      m("sinks.rows", "count", sinkRows.get.toDouble)
      m("sinks.dedup_dropped", "count", dedupDropped.get.toDouble)
      // single-core baseline: the same backlog drained at local[1]
      spark = Session.start(env, 1)
      rules = RuleClassifier.rulesDim(spark, RuleClassifier.generatedRules(ruleCount)).cache()
      val p1 = phase("c", "one_core", linesB)
      writeBacklog(p1, linesB)
      val w1 = drain(spark, p1, rules, dbUrl, env, new Probes(spark, new Tracer(false, "")))
      check("one_core")
      m("engine.eps_1core", "1/s", linesB.size / w1)
    }
    derby("jdbc:derby:;shutdown=true")(_ => ())
    Outcome(attempted, failed, m, notes.result())
  }

  private val sinkRows, dedupDropped = new AtomicLong(0)

  def enrich(spark: SparkSession, raw: DataFrame, rules: DataFrame): DataFrame =
    Pipeline.enrich(spark, Kafka.normalize(Kafka.Neeq)(raw), rules)

  /** The three-way sink of one micro-batch. */
  def fanout(p: Phase, dbUrl: String, env: Env, tr: Tracer)(batch: DataFrame, id: Long): Unit = {
    batch.persist()
    if (tr.enabled) {
      val n = tr("operators.classify")(batch.count())
      sinkRows.addAndGet(3 * n)
      dedupDropped.addAndGet(n - batch.dropDuplicates("onlyId").count())
    }
    tr("sinks.jdbc") {
      JdbcSink.keyedAppendWriter(cfg(dbUrl, p.table("gao")), "onlyId")(
        batch.drop(SentimentCols: _*), id)
      JdbcSink.keyedAppendWriter(cfg(dbUrl, p.table("yuqing")), "onlyId")(batch, id)
    }
    tr("sinks.doc") {
      val docs = batch.dropDuplicates("onlyId")
      val kept = if (env.fault.contains("drop_sink_row") && p.batches.get == 0 && !docs.isEmpty)
        docs.where(col("onlyId") =!= docs.select("onlyId").head().getString(0)) else docs
      kept.write.mode("append").parquet(p.doc)
    }
    p.commitNs.put(id, System.nanoTime())
    p.batches.incrementAndGet()
    batch.unpersist()
  }

  def query(spark: SparkSession, p: Phase, rules: DataFrame, dbUrl: String, env: Env,
      probes: Probes, trigger: Trigger, maxFiles: Option[Int]) = {
    val reader = spark.readStream.format("text")
    val raw = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load(p.input.getPath)
    val tr = probes.tracer
    enrich(spark, raw, rules).writeStream
      .option("checkpointLocation", p.ckpt)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => tr("streaming.batch")(fanout(p, dbUrl, env, tr)(b, id)))
      .start()
  }

  /** Drain a phase's backlog from start to termination; seconds. */
  def drain(spark: SparkSession, p: Phase, rules: DataFrame, dbUrl: String, env: Env,
      probes: Probes): Double = {
    val t0 = System.nanoTime()
    val q = query(spark, p, rules, dbUrl, env, probes, Trigger.AvailableNow(), Some(2))
    q.awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  def writeBacklog(p: Phase, lines: Seq[String]): Unit = {
    val per = (lines.size + BacklogFiles - 1) / BacklogFiles
    lines.grouped(per).zipWithIndex.foreach { case (g, i) =>
      JFiles.writeString(new File(p.input, f"backlog-$i%03d.json").toPath, g.mkString("", "\n", "\n"))
    }
  }

  /** Events whose rows are missing or wrong in any of the three sinks,
    * against Pipeline.enrich run as a batch over the phases' envelopes:
    * (count, description). Outputs are small, so both sides are compared
    * as row multisets on the driver. */
  def verify(spark: SparkSession, ps: Seq[Phase], rules: DataFrame, dbUrl: String): (Long, String) = {
    val p = ps.head
    val expected = enrich(spark, spark.read.text(ps.map(_.input.getPath): _*), rules)
    val exp = expected.collect().toSeq
    val sinks = Seq(
      jdbcTable(spark, dbUrl, p.table("gao")),
      jdbcTable(spark, dbUrl, p.table("yuqing")),
      spark.read.schema(expected.schema).parquet(p.doc))
    val bad = sinks.flatMap { got =>
      val idx = got.columns.toSeq.map(expected.schema.fieldIndex)
      val url = got.columns.indexOf("srcUrl")
      def counts(rows: Seq[Seq[Any]]) = rows.groupBy(identity).view.mapValues(_.size).toMap
      val e = counts(exp.map(r => idx.map(r.get)))
      val g = counts(got.collect().toSeq.map(_.toSeq))
      (e.keySet ++ g.keySet).filter(k => e.get(k) != g.get(k)).map(_(url).toString)
    }.distinct
    (bad.size.toLong, s"${bad.size} events missing or wrong in a sink, e.g. ${bad.take(3).mkString(",")}")
  }

  def jdbcTable(spark: SparkSession, dbUrl: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", dbUrl).option("dbtable", table)
      .option("driver", DerbyDriver).load()

  def cfg(dbUrl: String, table: String): JdbcSink.Config =
    JdbcSink.Config(dbUrl, table, "", "", driver = DerbyDriver)

  def derby[T](url: String)(f: java.sql.Connection => T): Unit = {
    Class.forName(DerbyDriver)
    try { val c = java.sql.DriverManager.getConnection(url); try f(c) finally c.close() }
    catch { case e: java.sql.SQLException if url.contains("shutdown") => () }
  }

  /** The sink tables, keyed on onlyId like the reference's unique key. */
  def createTable(dbUrl: String, table: String, schema: StructType, dropSentiment: Boolean): Unit =
    derby(dbUrl) { c =>
      val cols = schema.fields.filterNot(f => dropSentiment && SentimentCols.contains(f.name))
        .map(f => "\"" + f.name + "\" " + (if (f.dataType == IntegerType) "INTEGER" else "VARCHAR(2000)"))
      val st = c.createStatement()
      st.execute(s"CREATE TABLE $table (${cols.mkString(", ")}, PRIMARY KEY (\"onlyId\"))")
      st.close()
    }

  /** Input file name -> id of the micro-batch that read it, from the file
    * source's log in the checkpoint (JSON lines, compacted ones included). */
  def sourceLog(ckpt: File): Map[String, Long] = {
    val path = "\"path\":\"([^\"]+)\"".r.unanchored
    val batch = "\"batchId\":(\\d+)".r.unanchored
    Option(new File(ckpt, "sources/0").listFiles).getOrElse(Array.empty[File])
      .filterNot(_.getName.startsWith(".")).toSeq
      .flatMap(f => JFiles.readAllLines(f.toPath).asScala)
      .flatMap(l => (path.findFirstMatchIn(l), batch.findFirstMatchIn(l)) match {
        case (Some(p), Some(b)) =>
          Some(p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> b.group(1).toLong)
        case _ => None
      }).toMap
  }

  def readLines(f: File): Vector[String] =
    JFiles.readAllLines(f.toPath).asScala.toVector.filter(_.nonEmpty)
}

/** The open-loop load generator: one thread, waking every `lingerMs`
  * on a fixed schedule (tick k at t0 + k * linger), writes every envelope
  * due by then (envelope i is due at t0 + i/rate) as one file moved
  * atomically into the topic directory. The schedule never looks at the
  * sink. `late` is how long after its scheduled time each tick's file
  * landed. Each envelope's url ends in its index; `fileOf` names the file
  * that carried it. */
final class Generator(dir: File, lines: Seq[String], rate: Double, lingerMs: Long)
    extends Thread("perfbench-gen") {
  setDaemon(true)
  @volatile private var t0 = 0L
  val written = new AtomicLong(0)
  val fileOf = new Array[String](lines.size)
  private val late = collection.mutable.ArrayBuffer[Double]()
  private val stage = { val d = new File(dir.getParentFile, dir.getName + "_stage"); d.mkdirs(); d }

  def dueNs(i: Int): Long = t0 + (i * 1e9 / rate).toLong
  def maxLateMs: Double = if (late.isEmpty) 0.0 else late.max
  def lateTicks(ms: Double): Long = late.count(_ > ms).toLong

  override def start(): Unit = { t0 = System.nanoTime() + 200000000L; super.start() }

  override def run(): Unit = {
    var i = 0; var tick = 1
    while (i < lines.size) {
      val at = t0 + tick * lingerMs * 1000000L
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      var j = i
      while (j < lines.size && dueNs(j) <= at) j += 1
      if (j > i) {
        val f = new File(stage, f"part-$tick%06d.json")
        (i until j).foreach(fileOf(_) = f.getName)
        JFiles.writeString(f.toPath, lines.slice(i, j).mkString("", "\n", "\n"))
        JFiles.move(f.toPath, new File(dir, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        written.addAndGet(j - i)
      }
      late += (System.nanoTime() - at) / 1e6
      i = j; tick += 1
    }
  }
}
