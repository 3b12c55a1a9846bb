package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming queries over the fixture tables (SURVEY §2 O1-O3,
  * O25, O27; streaming shell of the reference's Kafka consumer loop).
  *
  * The batch/stream duality is deliberate: every transform is a plain
  * `DataFrame => DataFrame`, so the identical plan runs under
  * `spark.read` (Verify oracle) and `spark.readStream` (here). For the
  * driver's oracle gate these run the REAL streaming engine — file
  * source → micro-batches → memory sink — with `Trigger.AvailableNow`
  * so the query drains and terminates deterministically.
  *
  * In production the source is Kafka (`format("kafka")`, earliest
  * offsets — kafka_s.py:68) with `foreachBatch` JDBC/Mongo sinks; file
  * source stands in because the harness has no broker. Checkpointing
  * replaces the reference's hand-rolled log-file watermark
  * (kafka_s.py:198-219).
  */
object StreamQueries {

  private val nameCounter = new AtomicInteger(0)

  /** Streaming events source (file-based stand-in for the Kafka topic).
    * Batch/stream parity by construction: the schema, the ts
    * normalization and the canonical value casts are the batch
    * reader's own read plan (`Tables.eventsRead`) — never a hand-declared
    * stream schema, which bypasses parquet's logical-type check (the r9
    * mode: a static LongType over TIMESTAMP(micros) collapsed every
    * event into January 1970). The file stream source requires a
    * directory (or glob) path; `[e]` makes the single-file path a glob
    * whose base is the sf directory. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.eventsRead(spark, dir)(schema =>
      spark.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet"))

  /** The one stream lifecycle every bounded query here runs: start
    * `df` in output `mode` under `sink`'s writer settings with
    * `Trigger.AvailableNow` (process all available input, then stop)
    * and block until it terminates.
    *
    * Shuffle partitions are 4 while it drains: stateful operators
    * allocate one state-store instance per shuffle partition PER
    * MICRO-BATCH (provider init, delta file, snapshot bookkeeping) — at
    * harness scale that fixed cost dominates, so bounded drains run
    * with fewer partitions (8→4 in r8: measured s07 1.69→1.52 s, s11
    * 2.64→2.29 s, s09/s10 flat — data parallelism is irrelevant at
    * bounded-drain batch sizes); a real deployment sizes this to keep
    * per-partition state in executor memory instead.
    *
    * `checkpoint`: a STABLE path makes the query resumable across
    * sessions; None = a temp checkpoint deleted after the query
    * terminates — one that outlives its query is pure disk leak (a
    * bench round starts dozens of queries), and deletion is only
    * correct because AvailableNow drains to completion. */
  private[graft] def drain(df: DataFrame, mode: String = "append",
      checkpoint: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    def run(ckpt: String): Unit =
      sink(df.writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()))
        .start().awaitTermination()
    graft.GraftSession.withConf(df.sparkSession,
        "spark.sql.shuffle.partitions", "4") {
      checkpoint match {
        case Some(ckpt) => run(ckpt)
        case None =>
          val tmp = Files.createTempDirectory("graft-ckpt")
          // a cleanup IOException (e.g. a state-store thread still
          // holding a file) must not mask the query's own failure
          try run(tmp.toString)
          finally graft.TempDirs.deleteRecursively(tmp)
      }
    }
  }

  /** Run a streaming frame to completion into a memory sink, return the
    * result table. */
  def runToTable(spark: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    drain(df, mode)(_.format("memory").queryName(name))
    spark.table(name)
  }

  /** O27 as a streaming aggregation: running per-type counts. */
  def eventCounts(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      eventsStream(spark, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      "complete")

  /** Event-time tumbling window aggregation (the windowing surface the
    * reference lacks — SURVEY §2 coverage note). */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      eventsStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(28,6)")).as("sum_value")),
      "complete")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"),
        // exact decimal sum rendered as string — reader-independent
        // canonical form for the oracle compare (see SparkEntry header)
        col("sum_value").cast("string").as("sum_value"))

  /** O25 as streaming dedup: first occurrence per key, keyed columns only
    * so the result is order-insensitive. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      eventsStream(spark, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      "append")

  /** Running per-user state carried by flatMapGroupsWithState. */
  final case class UserState(n: Long, minUs: Long, maxUs: Long)

  /** Arbitrary stateful processing (`flatMapGroupsWithState`) — the
    * custom-state surface the reference's hand-rolled counters (O27) and
    * cache-invalidation state (O10) map onto in Spark. Each micro-batch
    * folds its rows into per-user running state and emits the CUMULATIVE
    * stats; a batch-side max/min then reduces multi-batch emissions to
    * the final value, so the result is deterministic under ANY
    * micro-batching (AvailableNow may split files arbitrarily). */
  def statefulUserStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
    val emitted = ev.groupByKey(_._1)
      .flatMapGroupsWithState[UserState, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          var st = state.getOption.getOrElse(UserState(0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, us) =>
            st = UserState(st.n + 1, math.min(st.minUs, us), math.max(st.maxUs, us))
          }
          state.update(st)
          Iterator((uid, st.n, st.minUs, st.maxUs))
      }
      .toDF("user_id", "n_events", "min_us", "max_us")
    runToTable(spark, emitted, "append")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), // cumulative => max = final
        min(col("min_us")).as("min_us"), max(col("max_us")).as("max_us"))
      .select(col("user_id"), col("n_events"),
        date_format(timestamp_micros(col("min_us")), "yyyy-MM-dd HH:mm:ss").as("first_s"),
        date_format(timestamp_micros(col("max_us")), "yyyy-MM-dd HH:mm:ss").as("last_s"))
  }

  /** Streaming documents source (file stand-in for the announcements
    * topic; same glob trick as eventsStream). Stream schema is the
    * path's one footer schema (`Tables.schemaOf`) — a static user
    * schema over parquet bypasses logical-type checks and is one fixture
    * regeneration away from silent misreads (the r9 events lesson);
    * the explicit casts then pin the canonical downstream types, so
    * an int32/int64 width drift in the fixture cannot change oracle
    * aggregate types. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.sources.Tables.schemaOf(spark, s"$dir/documents.parquet"))
      .parquet(s"$dir/[d]ocuments.parquet")
      .select(col("doc_id").cast("long"), col("text").cast("string"),
        col("lang").cast("string"), col("source").cast("string"),
        col("n_chars").cast("long"))

  /** Streaming embeddings source (file stand-in, like the others;
    * footer schema per documentsStream). */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.sources.Tables.schemaOf(spark, s"$dir/embeddings.parquet"))
      .parquet(s"$dir/[e]mbeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))

  /** ANN threshold filter as a STREAM (n05's streaming twin): each
    * arriving vector is scored against the probe with the native dot
    * kernel and passed through when above threshold — stateless
    * map+filter, so the micro-batch plan is byte-identical to the batch
    * plan and there is no state store at all: the shape of continuous
    * embedding-ingest filtering at scale. */
  def streamAnnThreshold(spark: SparkSession, dir: String, t: Double): DataFrame = {
    import graft.operators.Similarity
    val emb = embeddingsStream(spark, dir)
    val v = col("embedding").cast("array<double>")
    val scored = emb.select(col("vec_id"),
      Similarity.cosine(v, Similarity.queryVecLit).as("cos"))
      .where(col("cos") > t)
    runToTable(spark, scored, "append")
  }

  /** K-means assignment as a STREAM (n34's streaming twin — the
    * model-serving shape): arriving vectors are classified against a
    * FIXED centroid table built once from the static side (the first k
    * vectors, n34's deterministic init). The centroids ride in on a
    * 1-row broadcast, so the per-batch plan is the same zero-shuffle
    * codegen'd scan as the batch assignment; only the per-cluster
    * running count keeps state. */
  def streamKmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Clustering
    val init = Clustering.initCentroids(
      Clustering.prepare(graft.sources.Tables.embeddings(spark, dir)), 4)
    val assigned = Clustering.assign(
      Clustering.prepare(embeddingsStream(spark, dir)), init, k = 4)
    runToTable(spark,
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs")),
      "complete")
  }

  /** KMV distinct sketch maintenance as a STREAM (n40's streaming
    * twin): per-lang sketch state merged across micro-batches by
    * KmvAgg's sorted-merge — the continuous-ingest form of cardinality
    * tracking, where the state store holds one ≤K-long sketch per
    * group (bounded state by construction, no watermark needed) and
    * each micro-batch folds its rows' partial sketches in. Because merge
    * is associative+commutative and every global bottom-K hash is in
    * its row's bottom-K, ANY micro-batching yields the same final
    * sketch as the batch aggregate (KmvSpec proves a forced 3-batch
    * split; the oracle pins the single-drain result). */
  def streamKmvSketch(spark: SparkSession, dir: String): DataFrame =
    kmvFinish(runToTable(spark, kmvAggPlan(documentsStream(spark, dir)), "complete"))

  /** HLL register maintenance as a STREAM (n77's streaming twin — the
    * s15 KMV idiom with registers instead of bottom-K hashes): the
    * streaming state IS the per-(lang, bucket) register table —
    * `groupBy(lang, b).max(r)`, at most groups·64 tiny rows, bounded by
    * construction with no watermark. max is monotone, associative and
    * commutative, so ANY micro-batching drains to the identical
    * register table as the batch build (HllSpec proves the pointwise-
    * max merge property on the driver twin), and the post-drain
    * [[graft.functions.Hll.assemble]] — per-lang rows plus the merged
    * ALL row with exact integer witnesses — reuses n77's oracle
    * verbatim. */
  def streamHllSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hll
    Hll.assemble(
      runToTable(spark, Hll.registersPlan(documentsStream(spark, dir)), "complete"))
  }

  /** a29's streaming twin (s23): the per-(lang, value) COUNT HISTOGRAM
    * is the streaming state — counts merge across micro-batches by
    * plain addition, so the drained histogram equals the batch one and
    * the post-drain cumulative pick computes the exact quantiles. The
    * state is bounded by distinct (lang, token-count) pairs (~10³ at
    * any corpus size) — the same reason a29's shuffle is bounded makes
    * the streaming state bounded; no watermark needed. */
  def streamQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val hist = runToTable(spark,
      documentsStream(spark, dir)
        .select(col("lang"), Text.tokenCountWs(col("text")).cast("long").as("v"))
        .groupBy(col("lang"), col("v")).agg(count(lit(1)).as("c")),
      "complete")
    val cum = hist
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    cum.groupBy(col("lang")).agg(
      min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
      min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("v"))).as("p90"),
      min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("v"))).as("p99"),
      max(col("n")).as("n_rows"))
  }

  /** n53's streaming twin (s22): the per-lang bottom-K priority sample
    * maintained as STREAMING STATE. Each micro-batch folds its rows'
    * singleton sketches into the group's ≤K-entry state via
    * PriorityAgg's merge — bounded state by construction (K entries per
    * lang, no watermark needed), and because every global bottom-K
    * priority is in its batch's bottom-K, ANY micro-batching drains to
    * the identical sample as the one-shot batch aggregate — the oracle
    * is n53's SQL verbatim. The post-drain explode ranks the ≤K
    * entries per group. */
  def streamPrioritySample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{PriorityAgg, Text}
    val partial = documentsStream(spark, dir)
      .select(col("lang"), col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("w"))
      .where(col("w") > 0)
      .select(col("lang"),
        PriorityAgg.partial(col("doc_id"), col("w")).as("pe"))
    val sk = runToTable(spark,
      partial.groupBy(col("lang")).agg(PriorityAgg.union(col("pe")).as("sk")),
      "complete")
    sk.select(col("lang"), posexplode(col("sk")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.id").as("doc_id"), col("e.w").as("w"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** Per-lang KMV aggregation over any documents frame — batch or
    * stream, the identical plan (shared by s15 and KmvSpec's forced
    * 3-micro-batch drain). */
  private[graft] def kmvAggPlan(docs: DataFrame): DataFrame = {
    import graft.functions.KmvAgg
    docs.select(col("lang"), KmvAgg.partialSketch(col("text")).as("psk"))
      .groupBy(col("lang"))
      .agg(KmvAgg.union(col("psk")).as("sk"))
  }

  /** Pairwise resemblance of finished sketches (n42's core, shared
    * with KmvSpec's small-union exactness test): for each unordered
    * group pair, J ≈ |bottomK(skA ∪ skB) ∩ skA ∩ skB| / |bottomK(...)|.
    * The divisor is the MERGED sketch's size, not the fixed K: when the
    * union holds fewer than K distinct hashes the sketches are complete
    * and the estimate equals the exact Jaccard. */
  private[graft] def kmvResemblance(sk: DataFrame): DataFrame = {
    val K = graft.functions.KmvAgg.K
    val a = sk.select(col("lang").as("lang_a"), col("sk").as("ska"))
    val b = sk.select(col("lang").as("lang_b"), col("sk").as("skb"))
    a.join(b, col("lang_a") < col("lang_b"))
      .select(col("lang_a"), col("lang_b"),
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, K).as("mk"),
        col("ska"), col("skb"))
      .select(col("lang_a"), col("lang_b"),
        size(filter(col("mk"), x =>
          array_contains(col("ska"), x) && array_contains(col("skb"), x)))
          .cast("long").as("n_shared"),
        (size(filter(col("mk"), x =>
          array_contains(col("ska"), x) && array_contains(col("skb"), x)))
          .cast("double") / size(col("mk")).cast("double")).as("est_jaccard"))
  }

  /** Finishing projection: sketch → (size, kth smallest, estimate).
    * Drops empty-sketch groups (all-short-doc langs) — the SQL twin's
    * `unnest` never produces them, and kthMin on [] would throw. */
  private[graft] def kmvFinish(sk: DataFrame): DataFrame = {
    import graft.functions.KmvAgg
    sk.where(size(col("sk")) > 0)
      .select(
        col("lang"),
        KmvAgg.sketchSize(col("sk")).as("sketch_size"),
        KmvAgg.kthMin(col("sk")).as("kth_min"),
        KmvAgg.estDistinct(col("sk")).as("est_distinct"))
  }

  /** Exact content dedup as a STREAM (n01's streaming twin): state
    * keyed on (lang, digest) drops re-arrivals across micro-batches —
    * the continuous-ingest form of corpus dedup, where the state store
    * IS the seen-set and scales by key partitioning. The dedup key is
    * scoped per language deliberately: a GLOBAL digest key would make
    * the surviving row's lang depend on arrival order (the sf0.1
    * fixture has cross-language duplicate texts), i.e. a
    * nondeterministic result no oracle could pin. Bounded drain ==
    * batch distinct (checked by the oracle). */
  def streamDocDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = documentsStream(spark, dir)
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("lang", "content_hash")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique"))
    runToTable(spark, deduped, "complete")
  }

  /** THE reference pipeline (E1) as a true stream: the same
    * `Pipeline.announcements` plan — normalize → name/industry map
    * lookups (literals in the plan) → broadcast rule cross-join +
    * predicate → labels/uuids → 34-col record — fed by `readStream`
    * instead of `read`, drained micro-batch by micro-batch into the
    * sink. Batch/stream duality is the whole design (SURVEY §7.1): the
    * oracle for this query is literally p09's SQL. No aggregation, so
    * append mode with no watermark; the rules are re-broadcast per batch
    * (the reference's poll-refresh, O10), the dims cost a batch no job. */
  def streamPipeline(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      graft.operators.Pipeline.announcements(spark,
        documentsStream(spark, dir),
        graft.operators.RuleClassifier.rulesDim(spark)),
      "append")

  /** Session-window aggregation: per-user sessions closed by a 1-hour
    * inactivity gap (merging session state — the hardest windowing mode;
    * complete output so AvailableNow batching can't truncate emissions).
    * Session semantics: an event extends the session iff its time is
    * strictly inside [start, last+gap); a gap ≥ 1h starts a new session
    * — the oracle replays exactly this split over µs-floored times. */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      eventsStream(spark, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events")),
      "complete")
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))

  /** The production sink shape (O23–O25): streaming dedup feeding
    * `foreachBatch`, which writes each micro-batch to a parquet
    * directory — in production this closure is `batch.write.jdbc(...)`
    * / Mongo upsert; exactly-once comes from checkpointed batch ids +
    * an idempotent write keyed on the dedup key (the reference gets
    * at-least-once + a unique-key insert swallow, kafka_s.py:614-630 —
    * strictly weaker). The query result is the sink directory read
    * back, so the oracle verifies what was actually WRITTEN. Cross-
    * batch dedup is the streaming state's job, so content is
    * deterministic under any micro-batching. */
  def sinkDedupToDir(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TempDirs.create("graft-sink")
    drain(eventsStream(spark, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")) {
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/data")
      }
    }
    spark.read.parquet(s"$out/data")
  }

  /** The reference's sink FAN-OUT (O23+O24+O25: every matched row goes
    * to two MySQL tables and one Mongo collection — kafka_s.py:510,554,
    * 627): one streaming pipeline, one foreachBatch, THREE writes per
    * micro-batch — batch.persist() so the fan-out scans the batch once,
    * not three times. The query result reads the sinks back and
    * reports per-sink row counts, so the oracle verifies every sink
    * received every row. */
  def streamFanout(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TempDirs.create("graft-fanout")
    val announcements = graft.operators.Pipeline.announcements(spark,
      documentsStream(spark, dir),
      graft.operators.RuleClassifier.rulesDim(spark))
    drain(announcements) {
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        // sink 1: announcement table (33-col analog, kafka_s.py:477-509)
        batch.drop("onlyId").write.mode("append").parquet(s"$out/gao")
        // sink 2: sentiment table (34-col analog, kafka_s.py:520-553)
        batch.write.mode("append").parquet(s"$out/yuqing")
        // sink 3: doc store with key dedup (kafka_s.py:614-630)
        batch.dropDuplicates("onlyId").write.mode("append").parquet(s"$out/mongo")
        batch.unpersist()
        ()
      }
    }
    def sinkCount(name: String): DataFrame =
      spark.read.parquet(s"$out/$name")
        .agg(count(lit(1)).as("n_rows")).withColumn("sink", lit(name))
        .select(col("sink"), col("n_rows"))
    sinkCount("gao").unionAll(sinkCount("yuqing")).unionAll(sinkCount("mongo"))
  }

  /** Idempotent keyed-UPSERT sink — the true semantics of the
    * reference's key-deduped doc store (unique-key insert with the
    * duplicate swallowed): each micro-batch MERGEs into the sink on the
    * dedup key — existing keys keep the min event_id ("first write
    * wins"), new keys insert. The demo then runs the SAME stream a
    * second time with a fresh checkpoint — a forced full replay, the
    * at-least-once worst case — and because min-merge is idempotent the
    * replay is a no-op: the sink still holds exactly one row per key,
    * which the oracle verifies by hash.
    *
    * Durability: the sink is an [[graft.sinks.AtomicBucketStore]] —
    * each micro-batch writes its merged buckets to a FRESH generation
    * and commits by claiming the next manifest version
    * ([[graft.ManifestLog.claim]]), so a crash at ANY point leaves the
    * previous fully-consistent bucket set visible; replaced buckets are
    * deleted one commit later. It is the minimal file-layout
    * transactional core of what Delta/Iceberg or the DB's own MERGE
    * would provide in production.
    *
    * Scale contract: the sink is hash-partitioned into `UpsertBuckets`
    * key-hash buckets and each micro-batch rewrites ONLY the buckets
    * its keys touch (manifest-pruned reads + per-generation writes) —
    * per-batch cost is O(touched buckets), not O(sink). A naive
    * whole-sink read-union-overwrite is O(sink) per batch, which on a
    * long-running stream is quadratic total work. The touched-bucket id
    * list is the only thing collected to the driver — at most
    * `UpsertBuckets` longs, a bounded constant, exactly the
    * partition-pruning literal a DB MERGE would get from its index. */
  val UpsertBuckets = 16
  def upsertReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.AtomicBucketStore
    val out = graft.TempDirs.create("graft-upsert")
    val cur = s"$out/current"
    val bucketOf = pmod(xxhash64(col("user_id"), col("event_type")), lit(UpsertBuckets))
    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      val s = batch.sparkSession
      val batchAgg = batch.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event_id"))
        .withColumn("bucket", bucketOf)
        .localCheckpoint(true) // computed once: bucket probe + merge input
      val touched = batchAgg.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).toSeq // bounded: <= UpsertBuckets ids
      // manifest-pruned read: only the touched buckets' current gen dirs,
      // resolved by the store at the version this write commits over.
      // The partition column is not recoverable from a bucket=K read
      // root, so it is recomputed from the keys — exact, pure hash. The
      // generation write never touches the directories it reads from
      // (GC trails the commit), so no pre-write materialization.
      AtomicBucketStore.writeGeneration(s, cur, touched) {
        case Seq() => batchAgg
        case paths => s.read.parquet(paths: _*).withColumn("bucket", bucketOf)
          .unionByName(batchAgg)
          .groupBy(col("user_id"), col("event_type"), col("bucket"))
          .agg(min(col("first_event_id")).as("first_event_id"))
      }
      ()
    }
    def runOnce(): Unit = drain(eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type")))(
      _.foreachBatch(mergeBatch _))
    runOnce()
    runOnce() // forced replay: a fresh checkpoint reprocesses ALL input
    graft.sinks.AtomicBucketStore.readAll(spark, cur)
      .getOrElse(sys.error(s"upsert sink never committed: $cur"))
      .select(col("user_id"), col("event_type"), col("first_event_id"))
  }

  /** Stream-STREAM inner join with event-time range condition and
    * watermarks on both sides: each click joined to the same user's
    * purchases within the following hour. The interval bound plus the
    * two watermarks is what lets the engine EXPIRE join state — without
    * them a stream-stream join buffers both sides forever, the
    * difference between a pipeline that runs for a year and one that
    * OOMs in an afternoon. Bounded drain (AvailableNow) makes the
    * result equal the batch join, which is exactly what the oracle
    * checks (stream/batch duality, the s08 argument applied to the
    * two-stream case).
    *
    * State bound (what the watermarks buy): a click can still match
    * future buys until the buy-side watermark passes click_ts + 1h, so
    * click state spans (join interval 1h + watermark delay 1h) = 2h of
    * event time; a buy can match clicks no older than buy_ts, so buy
    * state spans its 1h watermark delay. At R events/hour/side and
    * ~100 B/row in the state store, steady-state size ≈ R·2h + R·1h ≈
    * 300 MB per million events/hour — hash-partitioned on user_id
    * across executors, so per-executor state shrinks linearly with the
    * cluster. The 1h delay is the allowed lateness, a data-quality
    * knob independent of the interval: tightening it shrinks state
    * proportionally but drops later events on BOTH sides. Fixed
    * micro-batch overhead dominates the ~3 s bench figure at sf0.1;
    * it amortizes away on a long-running cluster job. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(spark, dir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val buys = eventsStream(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "1 hour")
    val joined = clicks.join(buys,
      col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("interval 1 hour"))
      .select(col("c_user").as("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_at"),
        date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("buy_at"))
    runToTable(spark, joined, "append")
  }

  /** Stream-static broadcast enrichment join (O6's shape under
    * Structured Streaming): the static dim is re-read per micro-batch
    * (which is how Spark subsumes the reference's poll-based dim
    * refresh, O10) and broadcast — no stream-side shuffle. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val customers = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(spark, dir)
      .join(broadcast(customers), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, joined, "complete")
  }

  /** TRUE mid-stream dim refresh (O10, the reference's poll-based rules
    * reload — kafka_s.py:232-238): the dim is re-RESOLVED from its path
    * inside `foreachBatch`, one fresh `spark.read` per micro-batch.
    *
    * The distinction from [[streamEnrich]] matters: an in-plan
    * stream-static join re-reads file CONTENTS each micro-batch but
    * keeps the file LISTING captured when the plan was built, so a dim
    * whose refresh lands in new files (every Spark overwrite: part
    * files are uuid-named) silently serves stale rows forever. Building
    * the read inside the batch closure re-lists the path, so both
    * rewritten and newly-added dim files are picked up at the next
    * micro-batch boundary — exactly the reference's semantics, where
    * every poll re-queries the rules table. The fresh dim is broadcast;
    * the stream side never shuffles. DimRefreshSpec proves the
    * between-batch swap end-to-end.
    *
    * @param afterBatch test/ops hook invoked after each batch commits —
    *        the spec uses it to rewrite the dim between micro-batches;
    *        production uses include metrics or manual watermarking.
    * @return every enriched row, tagged with the micro-batch id that
    *         processed it (reading back the sink directory, so the
    *         result is what was actually WRITTEN). */
  def streamEnrichRefresh(
      spark: SparkSession,
      streamDir: String,
      streamSchema: StructType,
      dimPath: String,
      joinKey: String,
      afterBatch: Long => Unit = _ => ()): DataFrame = {
    val out = graft.TempDirs.create("graft-dim-refresh")
    drain(spark.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(streamDir)) {
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val dim = s.read.parquet(dimPath) // fresh listing AND content
        batch.join(broadcast(dim), Seq(joinKey), "left")
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$out/data")
        afterBatch(batchId)
      }
    }
    spark.read.parquet(s"$out/data")
  }

  /** Watermark-bounded streaming dedup (s16):
    * `dropDuplicatesWithinWatermark` evicts a key's dedup state once
    * the watermark passes its event time + delay — the bounded-state
    * form of [[streamDedup]] (s03), whose state otherwise grows with
    * every key ever seen. At 100 TB the delay is sized to the real
    * out-of-orderness (state = keys within the horizon, not all
    * history); here the delay covers the fixture's whole event-time
    * span, so every duplicate lands inside the window and the result
    * is EXACTLY first-per-key dedup — which is what the SQL oracle
    * checks. Emitted columns are the keys only, so the result is
    * insensitive to which physical duplicate arrived first. */
  def streamDedupWithinWatermark(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      eventsStream(spark, dir)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      "append")

  /** s17 emission: cumulative per-user census after each micro-batch. */
  final case class TypeCensus(user_id: Long, n_types: Long, n_events: Long)

  /** Per-user event-type census on the transformWithState API (s17) —
    * Spark 4's arbitrary-state successor to flatMapGroupsWithState
    * (s04), with typed composite state primitives instead of one opaque
    * case-class blob. State here is a MapState[type → count]: per-key
    * it is bounded by the event-type cardinality (5 in the fixture),
    * and the runtime persists EACH map entry as its own state-store row
    * — an update touches one entry, not a reserialized whole map, which
    * is the point at 100 TB where per-user maps can be wide. Requires
    * the RocksDB state-store provider (scoped override below; the
    * HDFS-backed default does not implement the TWS column families).
    *
    * Emissions are cumulative (count and distinct-size are monotone),
    * so a batch-side max reduces any micro-batching to the final
    * census — deterministic under arbitrary file splits, like s04. */
  def streamTypeCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val emitted = graft.GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val ev = eventsStream(spark, dir)
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
      runToTable(spark,
        ev.groupByKey(_._1)
          .transformWithState(new TypeCensusProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Append())
          .toDF(),
        "append")
    }
    emitted.groupBy(col("user_id"))
      .agg(max(col("n_types")).as("n_types"),
        max(col("n_events")).as("n_events"))
  }

  /** Streaming MinHash-LSH near-dup detection (s19) — n03's streaming
    * twin: as documents arrive, each is banded (MinHashLsh.banded, the
    * SAME kernel as the batch path) and folded into per-bucket state
    * keyed by (band, key); a new arrival emits a candidate pair with
    * every doc already in its bucket. The candidate SET is independent
    * of micro-batching (a pair appears when its later member arrives,
    * whatever batch that is), and per-bucket state is the bucket's doc
    * ids only — the same memory the batch join materializes per band
    * key, but incremental: the stream never rescans the corpus when a
    * new document arrives, which is the point at 100 TB (batch LSH is
    * O(corpus) per refresh; this is O(new docs) with state = the
    * banding index). Candidates are verified batch-side with exact
    * Jaccard (precision 1.0), so the drained result EQUALS the batch
    * n03 answer and shares its oracle. */
  def streamLshPairs(spark: SparkSession, docsStream: DataFrame,
      docsBatch: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.MinHashLsh
    val keyed = MinHashLsh.banded(MinHashLsh.setsOf(docsStream))
      .select(concat_ws("#", col("band"), col("key")).as("bucket"), col("did"))
      .as[(String, Long)]
    val cand = keyed.groupByKey(_._1)
      .flatMapGroupsWithState[BucketSeen, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long)], state: GroupState[BucketSeen]) =>
          val (seen, out) = foldBucket(
            state.getOption.getOrElse(BucketSeen(Nil)).dids,
            rows.map(_._2))
          state.update(BucketSeen(seen))
          out.iterator
      }.toDF("a_id", "b_id")
    val candTable = runToTable(spark, cand, "append")
      .dropDuplicates("a_id", "b_id") // a pair may collide in >1 band
    MinHashLsh.verify(candTable, MinHashLsh.setsOf(docsBatch))
  }

  /** s19 per-bucket state: doc ids already seen in this (band, key). */
  final case class BucketSeen(dids: Seq[Long])

  /** s19's per-bucket fold (unit-tested in SegmentDedupSpec style by
    * LshStateSpec): each genuinely-new arrival pairs with every doc
    * already in the bucket; re-deliveries are dropped. Membership runs
    * through a transient HashSet so a pathological hot bucket stays
    * O(1) per guard check — a Seq `contains` was quadratic within the
    * bucket (r12 verdict nit) — while the STATE stays a Seq for
    * encoder simplicity. Pair emission itself is O(|bucket|) per new
    * doc, which is the candidate set's actual size, not overhead. */
  private[graft] def foldBucket(prior: Seq[Long],
      arrivals: Iterator[Long]): (Seq[Long], Seq[(Long, Long)]) = {
    var seen = prior
    val member = scala.collection.mutable.HashSet.empty[Long]
    member ++= prior
    val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
    arrivals.foreach { did =>
      if (member.add(did)) { // O(1) re-delivery guard
        seen.foreach(o => out += ((math.min(o, did), math.max(o, did))))
        seen = did +: seen
      }
    }
    (seen, out.toSeq)
  }

  /** Streaming segment-dedup index build (s29) — n73's streaming twin:
    * as documents arrive, their disjoint K-token segments fold into a
    * complete-mode `min(struct(doc_id, seg_idx))` aggregation keyed by
    * the exact segment text. Min is monotone and order-independent, so
    * the drained index equals the batch [[graft.operators.Dedup.firstOccurrences]]
    * under ANY micro-batch arrival order — no reliance on file listing
    * order, unlike a streaming `dropDuplicates` whose survivor is
    * whichever row a partition happened to deliver first. The keep-first
    * APPLY pass then runs batch-side against the drained index (the
    * s19 index-build/verify split): at 100 TB the stream maintains the
    * segment index incrementally — O(new docs) per batch with state =
    * one row per distinct segment, the same memory exact segment dedup
    * needs in any engine — instead of rescanning the corpus per
    * refresh. Output and oracle are identical to n73. */
  def streamSegmentDedup(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import graft.operators.Dedup
    val firsts = runToTable(spark,
      Dedup.firstOccurrences(Dedup.segmentsOf(documentsStream(spark, dir), k)),
      "complete")
    Dedup.applySegmentDedup(
      Dedup.segmentsOf(graft.sources.Tables.documents(spark, dir), k), firsts)
  }

  /** Streaming boilerplate-index build (s35) — n82's streaming twin:
    * the per-segment document frequency is ONE complete-mode count
    * over per-doc-distinct segments (each arriving doc contributes
    * each of its segments exactly once — the distinctness is computed
    * per-row BEFORE the aggregate, so no streaming dropDuplicates
    * state is needed and the count is an exact distinct-doc df).
    * count is monotone under any micro-batch arrival order, so the
    * drained index equals the batch index and the applied table equals
    * n82 row for row (same oracle). This is the ingest shape: the df
    * index accretes as pages arrive; the strip itself is retroactive
    * by nature (a segment crossing the threshold on doc N removes its
    * copies from docs 1..N−1), hence apply runs batch-side against the
    * drained index — the s19/s29 index-build/apply split. */
  def streamBoilerplateStrip(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    import graft.operators.Dedup
    val dfIdx = runToTable(spark,
      Dedup.segmentDocFreq(
        Dedup.distinctSegmentsOf(documentsStream(spark, dir), k)),
      "complete")
    Dedup.applyBoilerplateStrip(
      Dedup.segmentsOf(graft.sources.Tables.documents(spark, dir), k), dfIdx)
  }

  /** Streaming cross-snapshot NEAR-dup delta (s37, and s41 under its
    * own name) — n85's streaming twin and the production ingest shape
    * n85's scaladoc names: the OLD snapshot's banding index and
    * shingle sets build ONCE batch-side (lineage-severed — the
    * precomputed artifact; exactly the bucket table s19 maintains as
    * state), and every ARRIVING doc bands per-row with the SAME shared
    * kernel (MinHashLsh.bandKeysFromSig — batch and stream cannot
    * drift), probes the index by a stateless stream-static equi-join
    * on (band, key), and exact-verifies candidates against the old
    * sets by a second stream-static join + the shared jaccard formula.
    * A pair is emitted only at the lowest band its two docs collide
    * in ([[graft.operators.MinHashLsh.probeIndex]]), so the probe keeps
    * NO state: it drains in append mode, each micro-batch writing
    * exactly its own confirmed pairs once. Drained pairs equal batch
    * n85 row for row: the bands are identical, so the candidate set is
    * identical, and verification is exact (same oracle). */
  def streamSnapshotNearDup(spark: SparkSession, oldDocs: DataFrame,
      arrivingDocs: DataFrame): DataFrame = {
    import graft.operators.MinHashLsh
    val setsA = MinHashLsh.setsOf(oldDocs)
      .localCheckpoint() // sever the fixture scan from every micro-batch
    val bandsA = MinHashLsh.banded(setsA).localCheckpoint()
    runToTable(spark, MinHashLsh.probeIndex(bandsA, setsA, arrivingDocs),
      "append")
  }

  /** Streaming near-dup delta served from the MATERIALIZED
    * [[graft.operators.SnapshotStore]] (s38) — s37 with the inline
    * localCheckpoint index replaced by the parquet store a production
    * pipeline writes once per snapshot: arriving docs probe the
    * store's bands/sets file scans via the SAME stateless
    * [[graft.operators.MinHashLsh.probeIndex]] append probe, so the
    * drained pair table equals s37's and batch n85's row for row (same
    * oracle). */
  def streamSnapshotNearDupFromStore(spark: SparkSession, storeDir: String,
      arrivingDocs: DataFrame): DataFrame =
    runToTable(spark,
      graft.operators.SnapshotStore.serveNearDup(spark, storeDir, arrivingDocs),
      "append")

  /** Streaming snapshot-delta classification served from the
    * MATERIALIZED [[graft.operators.SnapshotStore]] digest components
    * (s39) — s36 with the inline localCheckpoint indexes replaced by
    * the store's file scans; classification stays two stateless
    * stream-static LEFT equi-joins, only the per-source sum rollup is
    * stateful, so the drained table equals batch n84 row for row
    * (same oracle). */
  def streamSnapshotDeltaFromStore(spark: SparkSession, storeDir: String,
      arrivingDocs: DataFrame): DataFrame =
    runToTable(spark,
      graft.operators.SnapshotStore.serveDelta(spark, storeDir,
        arrivingDocs, col("text"), col("source")),
      "complete")

  /** Streaming snapshot-delta classification (s36) — n84's streaming
    * twin and the ingest-time "is this page new vs the last crawl?"
    * shape: the previous snapshot's distinct-digest indexes build ONCE
    * batch-side (lineage-severed — the pretrained artifact, the
    * s14/s27/s30 idiom) and every arriving doc classifies by two
    * stateless stream-static LEFT equi-joins; the only state is the
    * per-source complete-mode counter rollup, order-independent by
    * sum monotonicity, so the drained table equals batch n84 row for
    * row (same oracle). */
  def streamSnapshotDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val (aMd5, aFp) = Dedup.snapshotIndexes(
      graft.sources.Tables.documents(spark, dir)
        .where(col("doc_id") % 2 === 0), col("text"))
    runToTable(spark,
      Dedup.applySnapshotDelta(
        documentsStream(spark, dir).where(col("doc_id") % 2 === 1),
        aMd5.localCheckpoint(), aFp.localCheckpoint(),
        col("text"), col("source")),
      "complete")
  }

  /** Streaming BPE encode (s30) — n58's model-serving twin and the
    * tokenize-at-ingest shape: the merge table is trained ONCE
    * batch-side (graft.operators.Bpe.encodedVocab — deterministic, the
    * n57-learned merges), collapses to a vocabulary-sized (word,
    * n_sym) model, and every arriving document is encoded by one
    * broadcast equi-join against it per micro-batch — the same
    * broadcast-model idiom as s14's centroids and s27's DSIR buckets.
    * Per-doc aggregation state is one row per doc in the drained
    * window; the model itself carries no state and re-broadcasts per
    * batch (a production run would pin it). Drained result equals the
    * batch n58 table row for row (same oracle). */
  def streamBpeEncode(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import graft.operators.Bpe
    val model = Bpe.encodedVocab(
      graft.sources.Tables.documents(spark, dir), iters)
      .localCheckpoint() // sever the training lineage from every batch
    runToTable(spark,
      Bpe.encodeAgainst(
        documentsStream(spark, dir)
          .select(col("doc_id"),
            explode(graft.functions.Text.tokens(col("text"))).as("word")),
        broadcast(model)),
      "complete")
  }

  /** Streaming PQ encode (s31) — n75's model-serving twin and the
    * compress-at-ingest shape of a continuously-built ANN index: the
    * per-subspace codebooks train ONCE batch-side (graft.operators.Pq
    * .train — deterministic, the n75-refined centroids, ≤ M·K rows
    * total), and every arriving vector is compressed to its M codes by
    * the same zero-shuffle broadcast-codebook scan the batch encode
    * runs — the broadcast-model idiom of s14/s27/s30. Pure per-row
    * map: append mode, zero state store. Drained codes equal the batch
    * encode row for row (oracle = the n75 codes CTE chain). */
  def streamPqEncode(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    // training lineage is already severed: Pq.recomputeAll
    // localCheckpoints the combined ≤ M·K-row model once, so each
    // per-subspace frame is a trivial filter over the materialized
    // model and every micro-batch plan starts from it
    val (model, _) = Pq.train(graft.sources.Tables.embeddings(spark, dir))
    val enc = Pq.assignAll(Pq.prepare(embeddingsStream(spark, dir)), model)
      .select(col("vec_id"), col("code0"), col("code1"),
        col("code2"), col("code3"))
    runToTable(spark, enc, "append")
  }

  /** Streaming ANN index maintenance (s33) — the append path of n79's
    * materialized IVFADC index: a deployment builds the
    * cell-partitioned store once and then APPENDS arriving vectors to
    * it. Codebooks train ONCE batch-side (the s31 broadcast-model
    * idiom); every arriving vector compresses to (cell, codes) with
    * the SAME per-row [[graft.operators.IvfPq.encodeAgainst]]
    * expression as the batch build and lands in its cell's directory
    * via the file sink's `partitionBy("cell")` — each micro-batch is a
    * pure append of new files into the partition layout, no state
    * store, no rewrite of existing index files (exactly-once by the
    * sink's own commit log). After the drain the store is SERVED
    * exactly like n79's (literal probed-cell IN = partition pruning,
    * broadcast LUT equi-join on cell) — and since every vector encodes
    * identically whichever path wrote it and serving reads only the
    * store, serve-after-append equals a from-scratch batch rebuild
    * row for row: s33 shares n78/n79's oracle VERBATIM (four plans,
    * one answer). At scale the append amortizes index maintenance to
    * one micro-batch write per arrival window; compaction of
    * small-file cells is p26's Compaction operator, unchanged. */
  def streamIvfIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IvfPq, Pq}
    val (codebooks, _) = Pq.train(graft.sources.Tables.embeddings(spark, dir))
    val enc = IvfPq.encodeAgainst(embeddingsStream(spark, dir), codebooks)
    val idxDir = graft.TempDirs.create("graft-ivf-sindex")
    drain(enc)(_.format("parquet").partitionBy("cell").option("path", idxDir))
    IvfPq.serveFromStore(spark, idxDir, codebooks, k = 10)
  }

  /** Streaming curation serving (s34) — n80's train/serve split and
    * the ingest-time shape of a production corpus build: the four
    * corpus-derived gate tables (fingerprint firsts, LSH loser set,
    * segment retention, language rates) train ONCE batch-side
    * (`Curation.trainGates` writes them as parquet — the pretrained
    * curation model a deployment ships; micro-batch plans join cheap
    * file scans instead of re-deriving the LSH/segment lineage per
    * trigger). Every arriving document is then flag-assigned by the
    * SAME per-row expressions + four stream-static equi-joins as the
    * batch pipeline (`Curation.flags`) — append mode, no state store —
    * and the drained flag table aggregates to the identical 6-row
    * report: s34 shares n80's oracle VERBATIM. `docsStream` must
    * replay the same corpus `docsBatch` trained on for the equality to
    * be the batch-rebuild statement (the s19/s29 index/verify split —
    * the caller applies any input sampling to BOTH frames, like s19). */
  def streamCurationServe(spark: SparkSession, docsStream: DataFrame,
      docsBatch: DataFrame, budgetEn: Long, budgetOther: Long): DataFrame = {
    import graft.operators.Curation
    val gates = Curation.trainGates(docsBatch, budgetEn, budgetOther)
    val flagged = Curation.reportInput(Curation.flags(docsStream, gates),
      Curation.Stages)
    Curation.report(runToTable(spark, flagged, "append"))
  }

  /** Streaming SNAPSHOT-GATED curation serving (s40) — n87's
    * train/serve split, the s34 idiom extended by the cross-snapshot
    * gate: the previous snapshot's digest indexes and the gate tables
    * (trained on the snapshot-KEPT corpus) build ONCE batch-side; every
    * arriving doc gets `passS` from two stateless stream-static LEFT
    * joins against the digest indexes (membership-equivalent to the
    * batch anti-joins) conjoined into the same flag cascade — append
    * mode, no state store — and the drained flag table aggregates to
    * the identical 7-row report: s40 shares n87's oracle VERBATIM.
    * `docsStream` must replay `newDocsBatch` (the caller applies any
    * input sampling to both frames, like s34). */
  def streamSnapshotCurationServe(spark: SparkSession,
      docsStream: DataFrame, oldDocs: DataFrame, newDocsBatch: DataFrame,
      budgetEn: Long, budgetOther: Long): DataFrame = {
    import graft.operators.{Curation, Dedup, Par}
    val (aMd5, aFp) = Dedup.snapshotIndexes(oldDocs, col("text"))
    // sever from every micro-batch; the two checkpoints are independent
    // jobs — overlap them (guide §2.6) instead of paying two serial
    // job-launch + checkpoint floors
    val seen = Some(Par.par2(aMd5.localCheckpoint(), aFp.localCheckpoint()))
    val gates = Curation.trainGates(newDocsBatch, budgetEn, budgetOther, seen)
    val flagged = Curation.reportInput(Curation.flags(docsStream, gates, seen),
      Curation.SnapshotStages)
    Curation.reportStages(runToTable(spark, flagged, "append"),
      Curation.SnapshotStages)
  }

  /** STREAMING CRAWL INCREMENT (s42) — n91's closed cycle as the
    * serving path, the r17 top composition ask: ONE production
    * increment ARRIVES as a stream against a non-empty accumulated
    * store (the first crawl is n91's batch cycle 1 — it has no serving
    * question), and every micro-batch both CLASSIFIES and COMMITS:
    *
    *   batch-side, once per increment (the s40 train/serve split):
    *   the store's digest components load as the cross-snapshot gate
    *   (file scans of the pinned pre-increment snapshot), and the
    *   increment's KEPT survivors train the five curation gates
    *   ([[graft.operators.Curation.trainGates]] with the store as
    *   `seen` — per-increment training, the FineWeb policy pinned on
    *   [[graft.operators.Curation.cycleAppend]]), written as parquet
    *   (the pretrained model);
    *
    *   per micro-batch: arriving docs flag through the stateless
    *   snapshot-gated cascade
    *   ([[graft.operators.Curation.survivors]] — stream-static
    *   equi-joins, no state store), and `foreachBatch` APPENDS the
    *   batch's pass5 survivors back into the store — index rows AND
    *   the curated docs themselves (persistDocs, matching the batch
    *   twin's store) — through the crash-atomic versioned-manifest
    *   commit
    *   ([[graft.operators.SnapshotStore.appendAs]]) — so a crash mid-
    *   stream leaves the store readable at its last committed version
    *   and the restarted query re-flags only unprocessed files.
    *
    * Drained store == the batch [[graft.operators.Curation.cycleAppend]]
    * store, every component row for row, at ANY micro-batching
    * (StreamCrawlIncrementSpec forces maxFilesPerTrigger=1): the gates
    * are per-increment constants, each flag is a pure per-row
    * expression over them, sets/bands rows are per-doc, and the digest
    * deltas stay disjoint across batch appends because pass2 keeps one
    * doc per fingerprint (⇒ distinct text ⇒ distinct md5) and passS
    * excluded everything already stored. `incrementStream` must replay
    * `incrementBatch` (the caller applies any input sampling to both,
    * like s40).
    *
    * EXACTLY-ONCE under replay: each batch's append id is the
    * DETERMINISTIC (incrementId, micro-batch id) key, committed via
    * [[graft.operators.SnapshotStore.appendAs]] — a batch replayed
    * after a crash between its store commit and the checkpoint commit
    * finds its id already in the manifest (or tombstoned by a later
    * compaction) and no-ops, and a crash between stage and commit is
    * recovered by the keyed re-stage. The caller's `incrementId` must
    * be unique per increment and STABLE across restarts (a crawl-dump
    * label — the FineWeb dump id — not a random token; a re-minted id
    * would double-append sets/bands on replay).
    *
    * RESTART DETERMINISM (ADVICE r18): on a restart — or a second
    * session draining late-arriving files of the same increment — the
    * CURRENT manifest already lists this increment's own earlier
    * micro-batch appends. Gate state built from it would differ from
    * the first session's: `kept` would drop the already-committed
    * survivors against their own digests, inflating the mixture rates
    * (smaller actual → larger rate_ppm) and shrinking the LSH loser
    * set (pairs whose winner is already committed vanish), so replayed
    * and late batches would commit DIFFERENT survivors than the batch
    * twin. The pre-increment store is the deterministic training
    * state: the pinned snapshot EXCLUDES this increment's own keyed
    * appends (exact `append-$incrementId-b<N>` ids — never a prefix
    * test, which would also swallow an increment whose id extends this
    * one's) before building the digest gate and the kept frame, so
    * every session of the increment trains identical gates. (A
    * compaction folding the increment's own appends into a
    * `compact-*` id would defeat the exact keyed-id filter — one more
    * reason the no-compaction-while-live rule stands for gate state,
    * even though the tombstone protocol already makes replays
    * append-safe.)
    *
    * `checkpoint`: a STABLE path makes the increment resumable across
    * sessions (restart semantics above — StreamCrawlIncrementSpec
    * drives a two-session drain through it); None = a bounded one-shot
    * drain on a temp checkpoint. */
  def streamCrawlIncrement(spark: SparkSession, storeDir: String,
      incrementId: String, incrementStream: DataFrame,
      incrementBatch: DataFrame,
      budgetEn: Long, budgetOther: Long,
      checkpoint: Option[String] = None): Unit = {
    import graft.operators.{Curation, SnapshotStore}
    // the PRE-increment gate state: the policy (and n91's batch twin)
    // classifies against the store as of increment START. Isolation
    // comes from the pinned Snapshot: its id list is fixed here, so
    // earlier micro-batches' own appends never gate later ones, and
    // the increment's own keyed ids (already listed on a restart) are
    // filtered out; both components resolve from that ONE version
    val store0 = SnapshotStore.snapshot(spark, storeDir)
    // EXACT-id match, not a prefix test: increment ids are free text,
    // and "append-2024-" is a prefix of increment 2024-01's keyed ids —
    // a prefix filter would silently exclude ANOTHER increment's
    // committed appends from the gate state
    val ownId =
      raw"append-${java.util.regex.Pattern.quote(incrementId)}-b\d+".r
    val store = store0.copy(ids =
      store0.ids.filterNot(id => ownId.pattern.matcher(id).matches()))
    require(store.ids.nonEmpty,
      s"streamCrawlIncrement needs a non-empty pre-increment store at " +
        s"$storeDir (the first crawl is Curation.cycleAppend, batch)")
    // plain file scans of the pinned appends' immutable dirs, read with
    // their static schemas (no inference job), re-read by each
    // micro-batch's join; the no-compaction-while-live rule above is
    // what keeps gcOrphans from reclaiming those dirs mid-increment
    val seen = Some((store.digests(spark), store.fps(spark)))
    val gates = Curation.trainGates(incrementBatch, budgetEn, budgetOther, seen)
    val survivors = Curation.survivors(incrementStream, gates, seen)
    def appendBatch(batch: DataFrame, batchId: Long): Unit = {
      val aid = s"append-$incrementId-b$batchId"
      // computed once: the append stages the component writes plus the
      // audit over this frame; appendAs itself is the replay guard
      // (committed OR tombstoned id ⇒ no-op — one manifest read, not a
      // second per-batch fast-path read on top, the r18 micro note).
      // The emptiness probe is a row count observed on the checkpoint's
      // own job, not a job of its own
      val rows = new Observation()
      val b = batch.observe(rows, count(lit(1)).as("rows")).localCheckpoint()
      if (rows.get("rows").asInstanceOf[Long] > 0)
        SnapshotStore.appendAs(batch.sparkSession, storeDir, aid, b,
          persistDocs = true)
      ()
    }
    drain(survivors, checkpoint = checkpoint)(_.foreachBatch(appendBatch _))
  }

  /** Streaming Bloom decontamination (s26) — n44's streaming twin and
    * the ingest-time contamination gate: the benchmark's packed-bitset
    * Bloom filter (built ONCE from the static eval set, a ≤m-position
    * design constant — the broadcast-model idiom, like s14's
    * centroids) is probed per document with the membership predicate
    * INSIDE a `filter` HOF over the doc's shingle set, so the per-doc
    * hit count is a pure per-row expression: NO explode row inflation,
    * NO per-doc aggregation state — append mode, zero state store.
    * Any doc with ≥1 filter hit drains with its exact hit count,
    * which equals the batch n44 groupBy row for row (same oracle). */
  def streamBloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{Bloom, Text}
    val bench = graft.sources.Tables.documents(spark, dir)
      .where(col("doc_id") <= 20)
      .select(explode(Text.shingleSet(col("text"))).as("item"))
      .distinct()
    val pos = Bloom.build(bench, k = 3, m = 1024)
    // native one-pass hit counter (Bloom.hitCountExpr) — the HOF form
    // size(filter(sset, mayContainExpr)) is value-identical (BloomSpec)
    // but interprets the k-hash lambda per element; measured 2.64 s →
    // see the round-9 bench note
    val hits = documentsStream(spark, dir)
      .where(col("doc_id") > 20)
      .select(col("doc_id"),
        Bloom.hitCountExpr(pos, k = 3, m = 1024,
          Text.shingleSet(col("text"))).as("n_hits"))
      .where(col("n_hits") > 0)
    runToTable(spark, hits, "append")
  }

  /** Streaming DSIR scoring (s27) — n60's model-serving twin: the
    * 64-bucket importance-ratio model trains ONCE on the static corpus
    * (`Dsir.ratioModel`, the corpus-sized work), then ships to the
    * stream as a LITERAL map (`Dsir.ratioMapLiteral` — the same
    * broadcast-model idiom as s14's centroids and s26's bitset). Each
    * arriving document scores with a pure per-row HOF chain
    * (transform → lookup → filter → aggregate): no join, no explode,
    * no state store — append mode. Drained rows equal batch n60's
    * bucket-join scoring row for row (same oracle): tokens whose
    * bucket is absent from the model drop from BOTH the count and the
    * sum, exactly like the batch inner join. */
  def streamDsirScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dsir
    val m = Dsir.ratioMapLiteral(
      Dsir.ratioModel(graft.sources.Tables.documents(spark, dir)))
    val scored = documentsStream(spark, dir)
      .select(col("doc_id"),
        filter(
          transform(graft.functions.Text.tokens(col("text")),
            t => element_at(m, Dsir.bucket(t))),
          r => r.isNotNull).as("rs"))
      .select(col("doc_id"),
        size(col("rs")).cast("long").as("n_toks"),
        aggregate(col("rs"), lit(0L), (acc, x) => acc + x).as("sum_ppm"))
      .where(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"),
        expr("sum_ppm div n_toks").as("mean_ratio_ppm"))
    runToTable(spark, scored, "append")
  }

  /** Streaming length-bucket accounting (s25) — n68's streaming twin:
    * per-bucket padding-waste totals as a complete-mode aggregation
    * whose state is bounded by the BUCKET COUNT (≤ max doc length / 32
    * groups at any stream length — the same bounded-state argument as
    * s21's counter table). Sums and counts merge by addition, so any
    * micro-batching drains to exactly the batch answer. */
  def streamLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val binned = documentsStream(spark, dir)
      .select(graft.functions.Text.tokenCountWs(col("text")).cast("long")
        .as("n_toks"))
      .where(col("n_toks") > 0)
      .withColumn("bucket", expr("((n_toks + 31) div 32) * 32"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(col("bucket") - col("n_toks")).as("padding_tokens"))
    runToTable(spark, binned, "complete")
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("padding_tokens"),
        expr("padding_tokens * 1000000 div (n_docs * bucket)")
          .as("waste_ppm"))
  }

  /** Streaming quality gate (s24) — n66's streaming twin: the Gopher
    * composite rule list as a pure STATELESS per-row map + filter. The
    * batch form aggregates an explode; here the same integer stats
    * come from codegen'd array HOFs (aggregate/transform/filter) so
    * the streaming plan carries NO state store at all — the shape an
    * ingest-time quality gate wants at 100 TB: each micro-batch is
    * embarrassingly parallel, append mode, nothing to checkpoint but
    * source offsets. Shares n66's oracle: HOF stats ≡ explode+agg
    * stats row for row. */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val gated = documentsStream(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextStats.textStats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        col("st.len_sum").as("len_sum"), col("st.max_len").as("max_len"),
        col("st.stop_hits").as("stop_hits"))
      .where(col("n_tokens").between(20, 1000) &&
        col("len_sum") >= col("n_tokens") * 3 &&
        col("len_sum") <= col("n_tokens") * 10 &&
        col("max_len") <= 20 && col("stop_hits") >= 2)
      .select(col("doc_id"), col("n_tokens"), col("len_sum"), col("stop_hits"))
    runToTable(spark, gated, "append")
  }

  /** Streaming count-min maintenance (s21) — the CMS twin of s15's KMV
    * sketch: the d×w counter table IS the streaming aggregation state
    * (complete mode over ≤ depth·width groups), updated per micro-
    * batch; count's merge associativity makes any batching equal the
    * batch sketch, so the drained table matches n43's oracle-rebuilt
    * sketch row for row. State is bounded by the sketch dimensions at
    * ANY stream length — the whole point of sketching a stream. */
  def streamCmsSketch(spark: SparkSession, dir: String,
      depth: Int = 3, width: Int = 32): DataFrame = {
    import graft.functions.CountMin
    val occ = documentsStream(spark, dir)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
    runToTable(spark, CountMin.sketch(occ, depth, width), "complete")
  }

  /** Streaming multimodal decode (s20): the real GIF container kernels
    * (Multimodal.gifMedia → frameSampleGif) running inside micro-
    * batches — mapPartitions media kernels are stateless, so the
    * streaming plan is the batch plan verbatim; only the final
    * per-frame-index census is stateful (complete mode, ≤5 groups).
    * The point at scale: media decode needs no special streaming path
    * — the same executor-side batch kernels serve both engines. */
  def streamGifFrameCensus(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val frames = Multimodal.frameSampleGif(
      Multimodal.gifMedia(documentsStream(spark, dir))).toDF()
    runToTable(spark,
      frames.groupBy(col("frame_idx"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc")),
      "complete")
  }

  /** Streaming audio decode at ingest (s28) — the audio member of the
    * media-under-streaming family: the real WAV kernels
    * (Multimodal.wavMedia → audioStats) are stateless mapPartitions
    * maps, so unlike s20's census this runs APPEND mode with ZERO
    * state store — the ingest-time shape (decode-and-annotate media as
    * it arrives, the s24/s26/s27 pattern for audio). The streaming
    * plan is the batch plan verbatim, so the drained table shares
    * n71's closed-form oracle unchanged. */
  def streamAudioStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    runToTable(spark,
      Multimodal.audioStats(
        Multimodal.wavMedia(documentsStream(spark, dir))).toDF(),
      "append")
  }

  /** Streaming global top-k (s18): running top-5 users by event count.
    * Complete-mode aggregation + sort + limit — the one output shape
    * where Structured Streaming allows a global sort, because the
    * complete result is re-emitted per micro-batch and the sort runs
    * over the AGGREGATED state (≤ distinct keys, a TakeOrdered over
    * k rows at the driver — never over the raw stream). Ties broken by
    * user_id so the k-boundary is deterministic. */
  def streamTopUsers(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    runToTable(spark,
      eventsStream(spark, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id").asc)
        .limit(k),
      "complete")
}

/** s17's stateful processor: MapState[event_type → running count];
  * emits the key's cumulative census once per micro-batch it appears
  * in. Top-level class — the driver serializes the processor instance
  * into the streaming plan. */
final class TypeCensusProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), StreamQueries.TypeCensus] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long](
      "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[StreamQueries.TypeCensus] = {
    rows.foreach { case (_, t) =>
      val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
      counts.updateValue(t, cur + 1L)
    }
    var nTypes = 0L
    var nEvents = 0L
    counts.iterator().foreach { case (_, c) => nTypes += 1; nEvents += c }
    Iterator.single(StreamQueries.TypeCensus(key, nTypes, nEvents))
  }
}
