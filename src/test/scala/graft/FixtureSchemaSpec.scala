package graft

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.StreamQueries

/** Fixture-drift resilience (r9 regression pin).
  *
  * The driver regenerates `/root/testdata` between rounds, and round 9's
  * regeneration changed events.ts from parquet TIMESTAMP(NANOS) to
  * TIMESTAMP(micros, NTZ): the then-hardwired batch reader threw
  * DATATYPE_MISMATCH on 16 queries, and the streaming reader's static
  * LongType schema silently read micros as nanos, collapsing every event
  * into January 1970 (s02/s07/s11 returned wrong rows, not errors).
  *
  * This spec pins the schema-adaptive contract that replaced it:
  *   1. `Tables.events` yields IDENTICAL instants for the same logical
  *      data under every supported encoding — nanos-as-long (the
  *      documented-previous fixture encoding), TIMESTAMP_NTZ micros (the
  *      current one), and instant-typed TIMESTAMP micros;
  *   2. the streaming reader derives its schema from the same footer
  *      probe, so batch/stream parity holds under every encoding — the
  *      silent-corruption guard;
  *   3. an encoding neither reader understands fails LOUDLY at plan
  *      time, never the silent wrong-answer mode;
  *   4. a path is one producer generation: files that disagree on
  *      schema, ts encoding or epoch unit fail at plan time naming the
  *      files, batch and stream.
  */
class FixtureSchemaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** (event_id, micros-since-epoch, user_id, event_type, value, props) */
  private val logical = Seq(
    (1L, 0L, 1L, "view", 1.5, "{}"),
    (2L, 1700000000000000L, 1L, "click", 2.5, "{}"),
    (3L, 1700000123456789L, 2L, "purchase", 3.5, "{}"),
    (4L, 1700086400000000L, 2L, "view", 4.5, "{}"))

  private def writeNanosLong(dir: String): Unit =
    logical.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeMicrosLong(dir: String): Unit =
    logical.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeMillisLong(dir: String): Unit =
    logical.map { case (id, us, u, t, v, p) => (id, us / 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeNtzMicros(dir: String): Unit =
    logical.map { case (id, us, u, t, v, p) =>
      (id, microsToNtz(us), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeInstantMicros(dir: String): Unit =
    logical.map { case (id, us, u, t, v, p) =>
      (id, java.time.Instant.EPOCH.plusNanos(us * 1000L), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def microsToNtz(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  /** Canonical view of a batch read: id + formatted UTC instant. */
  private def batchRows(dir: String): Set[(Long, String)] =
    Tables.events(spark, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s"))
      .as[(Long, String)].collect().toSet

  /** Same view through the REAL streaming engine (file source → memory
    * sink) — exercises the user-supplied stream schema end to end. */
  private def streamRows(dir: String): Set[(Long, String)] =
    StreamQueries.runToTable(spark,
      StreamQueries.eventsStream(spark, dir)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s")),
      "append").as[(Long, String)].collect().toSet

  private val expected: Set[(Long, String)] = Set(
    (1L, "1970-01-01 00:00:00.000000"),
    (2L, "2023-11-14 22:13:20.000000"),
    (3L, "2023-11-14 22:15:23.456789"),
    (4L, "2023-11-15 22:13:20.000000"))

  test("batch reader normalizes every supported ts encoding to the same instants") {
    val encodings = Seq[(String, String => Unit)](
      ("nanos-long", writeNanosLong),
      ("micros-long", writeMicrosLong), // raw INT64 micros — unit sniffed
      ("ntz-micros", writeNtzMicros),
      ("instant-micros", writeInstantMicros))
    for ((name, write) <- encodings) {
      val dir = TempDirs.create(s"fixture-enc-$name")
      write(dir)
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType,
        s"$name must normalize to TimestampType")
      assert(batchRows(dir) === expected, s"encoding $name")
    }
  }

  test("stream reader derives its schema from the footer probe — parity under every fixture encoding") {
    for ((name, write) <- Seq[(String, String => Unit)](
        ("nanos-long", writeNanosLong), ("micros-long", writeMicrosLong),
        ("ntz-micros", writeNtzMicros))) {
      val dir = TempDirs.create(s"fixture-stream-$name")
      write(dir)
      assert(streamRows(dir) === expected, s"encoding $name")
      assert(streamRows(dir) === batchRows(dir), s"batch/stream parity, $name")
    }
  }

  test("millis-as-long is sniffed and scaled up (sub-milli precision honestly absent)") {
    val dir = TempDirs.create("fixture-enc-millis")
    writeMillisLong(dir)
    val expectMs = Set( // event 3's .456789 truncates to .456000 at source
      (1L, "1970-01-01 00:00:00.000000"),
      (2L, "2023-11-14 22:13:20.000000"),
      (3L, "2023-11-14 22:15:23.456000"),
      (4L, "2023-11-15 22:13:20.000000"))
    assert(batchRows(dir) === expectMs)
  }

  test("an all-zero raw INT64 ts refuses to guess a unit — loud, never a silent divisor") {
    val dir = TempDirs.create("fixture-enc-zero")
    logical.map { case (id, _, u, t, v, p) => (id, 0L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](
      Tables.events(spark, dir).collect())
    assert(e.getMessage.contains("cannot infer epoch unit"))
  }

  test("an unsupported ts encoding fails loudly at plan time, batch and stream") {
    val dir = TempDirs.create("fixture-enc-bad")
    logical.map { case (id, us, u, t, v, p) => (id, us.toString, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val eBatch = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(eBatch.getMessage.contains("unsupported parquet encoding"))
    val eStream =
      intercept[IllegalStateException](StreamQueries.eventsStream(spark, dir))
    assert(eStream.getMessage.contains("unsupported parquet encoding"))
  }

  test("TPC-H value columns canonicalize under width drift (decimal measures, int32 keys)") {
    // a drifted generation: int32 keys, DECIMAL(12,2) measures — the
    // canonical casts must restore long/double so aggregates render
    // identically to the current-generation fixtures
    val dir = TempDirs.create("fixture-lineitem-drift")
    Seq((1, BigDecimal("1.50"), "A"), (2, BigDecimal("2.25"), "A"))
      .toDF("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val li = Tables.lineitem(spark, dir)
    assert(li.schema("l_orderkey").dataType === LongType)
    assert(li.schema("l_quantity").dataType === DoubleType)
    val s = li.agg(sum(col("l_quantity")).as("q")).as[Double].collect()(0)
    assert(s === 3.75)
  }

  private def fmtMicros(us: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** Copy the part files of a spark-written parquet dir into `target`
    * under generation-stamped names — builds one directory whose files
    * span producer generations, the multi-writer accumulation shape a
    * 100 TB table actually has. */
  private def copyParts(srcDir: String, target: java.nio.file.Path,
      prefix: String): Unit = {
    java.nio.file.Files.createDirectories(target)
    new java.io.File(srcDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath, target.resolve(s"$prefix-$i.parquet"))
      }
  }

  /** events 1-2 written by `writeOld` into one generation of files,
    * events 3-4 by `writeNew` into another, both merged into a single
    * `$dir/events.parquet` directory. */
  private def writeTwoGenerations(dir: String,
      writeOld: (String, Seq[(Long, Long, Long, String, Double, String)]) => Unit,
      writeNew: (String, Seq[(Long, Long, Long, String, Double, String)]) => Unit): Unit = {
    val (oldRows, newRows) = logical.partition(_._1 <= 2)
    val (genA, genB) = (TempDirs.create("gen-a"), TempDirs.create("gen-b"))
    writeOld(genA, oldRows)
    writeNew(genB, newRows)
    val target = java.nio.file.Paths.get(dir, "events.parquet")
    copyParts(s"$genA/events.parquet", target, "gen-a")
    copyParts(s"$genB/events.parquet", target, "gen-b")
  }

  private def genNanos(d: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
    rows.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
  private def genMillis(d: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
    rows.map { case (id, us, u, t, v, p) => (id, us / 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
  private def genNtz(d: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
    rows.map { case (id, us, u, t, v, p) => (id, microsToNtz(us), u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
  /** Instant-typed micros written as parquet INT64 (TIMESTAMP_MICROS) —
    * the modern writer setting; Spark's default still writes legacy
    * INT96, covered separately below. */
  private def genInstant(d: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try genInstant96(d, rows) finally spark.conf.set(key, prev)
  }
  private def genInstant96(d: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
    rows.map { case (id, us, u, t, v, p) =>
      (id, java.time.Instant.EPOCH.plusNanos(us * 1000L), u, t, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
  private def genStringTs(d: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
    rows.map { case (id, us, u, t, v, p) => (id, us.toString, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")

  /** The failure message of `f`, which must throw at plan time. */
  private def planFailure(f: => Any): String =
    intercept[IllegalStateException](f).getMessage

  test("a directory mixing ts generations fails loudly at plan time naming the files, batch and stream") {
    // the r9 pair (raw INT64 nanos beside annotated NTZ micros), raw
    // millis beside instant micros, a legacy INT96 generation and an
    // unsupported string-ts generation: one path must carry one ts
    // encoding, whatever the second one is
    val combos = Seq(
      ("nanos+ntz", genNanos _, genNtz _),
      ("millis+instant", genMillis _, genInstant _),
      ("nanos+int96", genNanos _, genInstant96 _),
      ("nanos+string", genNanos _, genStringTs _))
    for ((name, old, neu) <- combos) {
      val dir = TempDirs.create(s"fixture-mixed-$name")
      writeTwoGenerations(dir, old, neu)
      for (msg <- Seq(planFailure(Tables.events(spark, dir)),
          planFailure(StreamQueries.eventsStream(spark, dir)))) {
        assert(msg.contains("mixes ts encodings"), s"$name: $msg")
        assert(msg.contains("gen-a-0.parquet") && msg.contains("gen-b-0.parquet"),
          s"$name must name both files: $msg")
      }
    }
  }

  test("probe caches invalidate when a fixture path is regenerated in place (warm-JVM safety)") {
    // the ADVICE r10 scenario: a long-lived JVM (warm sbt daemon) spans
    // a driver fixture regeneration that flips the ts encoding. A
    // path-keyed cache would reuse the nanos unit and floor the new
    // micros by 1000 on the stream path — the silent r9 collapse.
    val dir = TempDirs.create("fixture-regen")
    writeNanosLong(dir)
    assert(batchRows(dir) === expected)
    assert(streamRows(dir) === expected) // populates footer+unit caches
    writeNtzMicros(dir)                  // regeneration flips the encoding
    assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType)
    assert(batchRows(dir) === expected, "stale footer cache after regen")
    assert(streamRows(dir) === expected, "stale stream schema after regen")
  }

  test("raw-INT64 files of different units fail loudly naming both files") {
    // both files' footers say plain INT64; only magnitude tells nanos
    // from micros. The nanos file carries >4096 non-zero rows, so a
    // whole-path sample could exhaust its limit inside it, infer "ns",
    // and silently divide the micros file's instants by 1000 — the r9
    // collapse hiding inside ONE logical type. Per-file unit probes
    // see it and refuse, batch and stream.
    val base = 1700000000000000L // 2023-11-14T22:13:20 in micros
    val nanosRows = (0 until 5000).map(i =>
      (1000L + i, (base + i) * 1000L, 1L, "view", 1.0, "{}"))
    val a = TempDirs.create("fixture-unit-gen-a")
    val b = TempDirs.create("fixture-unit-gen-b")
    nanosRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$a/events.parquet")
    logical.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$b/events.parquet")
    val dir = TempDirs.create("fixture-unit-mixed")
    val tgt = java.nio.file.Paths.get(dir, "events.parquet")
    copyParts(s"$a/events.parquet", tgt, "gen-a")
    copyParts(s"$b/events.parquet", tgt, "gen-b")
    for (msg <- Seq(planFailure(Tables.events(spark, dir)),
        planFailure(StreamQueries.eventsStream(spark, dir)))) {
      assert(msg.contains("disagree on epoch unit"), msg)
      assert(msg.contains("gen-a-0.parquet=ns") && msg.contains("gen-b-0.parquet=us"), msg)
    }
  }

  /** Two single-file generations of `table` merged into one
    * `$dir/$table.parquet` directory as gen-a-0 / gen-b-0. */
  private def twoGenerationTable(table: String, genA: DataFrame,
      genB: DataFrame): String = {
    val dir = TempDirs.create(s"fixture-$table-mixed")
    val tgt = java.nio.file.Paths.get(dir, s"$table.parquet")
    for ((gen, df) <- Seq("gen-a" -> genA, "gen-b" -> genB)) {
      val src = TempDirs.create(s"fixture-$table-$gen")
      df.coalesce(1).write.mode("overwrite").parquet(s"$src/$table.parquet")
      copyParts(s"$src/$table.parquet", tgt, gen)
    }
    dir
  }

  test("data files that disagree on schema fail loudly naming the files") {
    // BINARY vs UTF8 text, float vs double embeddings, string vs LONG
    // text (cross-family), and a generation that ADDS a column: no-merge
    // inference would sample one footer (listing-order luck), so each
    // must be refused at plan time by name, batch and stream
    val docs = Seq[(String, DataFrame, DataFrame)](
      ("binary+utf8",
        Seq((1L, "hello".getBytes("UTF-8"), "en", "web", 5L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        Seq((2L, "bonjour", "fr", "web", 7L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")),
      ("cross-family",
        Seq((1L, "hello", "en", "web", 5L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        Seq((2L, 42L, "fr", "web", 7L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")))
    val embs = Seq[(String, DataFrame, DataFrame)](
      ("double+float",
        Seq((1L, Seq(1.5, 2.5))).toDF("vec_id", "embedding"),
        Seq((2L, Seq(3.5f, 4.5f))).toDF("vec_id", "embedding")),
      ("added-column",
        Seq((1L, Seq(1.5f, 2.5f))).toDF("vec_id", "embedding"),
        Seq((2L, Seq(3.5f, 4.5f), "web")).toDF("vec_id", "embedding", "origin")))
    val reads =
      docs.map { case (n, a, b) => (n, twoGenerationTable("documents", a, b)) }
        .flatMap { case (n, d) => Seq(
          n -> (() => Tables.documents(spark, d)),
          n -> (() => StreamQueries.documentsStream(spark, d))) } ++
      embs.map { case (n, a, b) => (n, twoGenerationTable("embeddings", a, b)) }
        .flatMap { case (n, d) => Seq(
          n -> (() => Tables.embeddings(spark, d)),
          n -> (() => StreamQueries.embeddingsStream(spark, d))) }
    for ((name, read) <- reads) {
      val msg = planFailure(read())
      assert(msg.contains("disagree on schema"), s"$name: $msg")
      assert(msg.contains("gen-a-0.parquet") && msg.contains("gen-b-0.parquet"),
        s"$name must name both files: $msg")
    }
  }

  test("a path with no parquet data files fails naming the path") {
    val dir = TempDirs.create("fixture-empty")
    for (t <- Seq("documents", "embeddings", "events")) {
      val p = java.nio.file.Paths.get(dir, s"$t.parquet")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.createFile(p.resolve("_SUCCESS"))
    }
    for (read <- Seq[() => DataFrame](
        () => Tables.documents(spark, dir),
        () => StreamQueries.documentsStream(spark, dir),
        () => Tables.embeddings(spark, dir),
        () => Tables.events(spark, dir),
        () => StreamQueries.eventsStream(spark, dir))) {
      val msg = planFailure(read())
      assert(msg.contains("no parquet data files") && msg.contains(dir), msg)
    }
  }

  test("raw INT64 whose sampled extremes imply different units fails loudly (mixed-unit/near-epoch)") {
    val dir = TempDirs.create("fixture-enc-straddle")
    // 5 (near-epoch, no band) alongside 2023-era micros: any silent
    // choice rescales one of them — must refuse instead
    Seq((1L, 5L, 1L, "view", 1.0, "{}"),
        (2L, 1700000000000000L, 1L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir).collect())
    assert(e.getMessage.contains("different units"))
  }

  test("pre-1970 nanos floor to the earlier micro, matching a micros-native read of the same instant") {
    val dir = TempDirs.create("fixture-enc-negns")
    // -59_999_999_999_999_999 ns (1968 era, inside the ns band, NOT
    // divisible by 1000): truncation toward zero would yield
    // -59_999_999_999_999 µs, one µs LATE vs the true instant
    val negNs = -59999999999999999L
    Seq((1L, negNs, 1L, "view", 1.0, "{}"),
        (2L, 1700000000000000000L, 1L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val want = Set(
      (1L, fmtMicros(Math.floorDiv(negNs, 1000L))),
      (2L, fmtMicros(1700000000000000L)))
    assert(batchRows(dir) === want)
    assert(streamRows(dir) === want)
  }

  /** Start a CONTINUOUS events stream on `dir`, drain the initial 4
    * events, then let `addLate` drop a late-arriving file in and return
    * the failure the next drain dies with. A stream outlives its
    * encoding probe, so late files are where silent misreads would
    * hide — the contract is a loud, named failure. */
  private def midStreamDrift(dir: String)(addLate: => Unit): String = {
    val df = StreamQueries.eventsStream(spark, dir)
      .select(col("event_id"), col("ts"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-mid")
    val name = s"graft_mid_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() === 4)
      addLate
      val e = intercept[Throwable](q.processAllAvailable())
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    } finally {
      if (q.isActive) q.stop()
      TempDirs.deleteRecursively(ckpt)
    }
  }

  test("an NTZ file arriving mid-stream over a raw-nanos table fails loudly — the r9 silent mode, closed mid-stream") {
    // the frozen-global-divisor failure shape: a pure INT64-nanos table
    // streams with unit ns; an annotated-micros file arrives later. A
    // global divisor would silently floor its micros by 1000 (January
    // 1970 again); the per-file unit map raises on the unprobed name.
    val dir = TempDirs.create("fixture-midstream-ns")
    genNanos(dir, logical)
    val msg = midStreamDrift(dir) {
      val genB = TempDirs.create("late-ntz")
      genNtz(genB, logical.map { case (id, us, u, t, v, p) =>
        (id + 10, us, u, t, v, p) })
      copyParts(s"$genB/events.parquet",
        java.nio.file.Paths.get(dir, "events.parquet"), "late-ntz")
    }
    assert(msg.contains("not covered by the ts probe"), msg)
    assert(msg.contains("late-ntz-0.parquet"), msg)
  }

  test("documents text shipped as un-annotated BINARY normalizes to string — batch and stream") {
    val dir = TempDirs.create("fixture-docs-binary")
    Seq((1L, "hello world".getBytes("UTF-8"), "en", "web", 11L),
        (2L, "bonjour".getBytes("UTF-8"), "fr", "web", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = Tables.documents(spark, dir)
    assert(batch.schema("text").dataType === StringType)
    assert(batch.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSet === Set((1L, "hello world"), (2L, "bonjour")))
    val stream = StreamQueries.runToTable(spark,
      StreamQueries.documentsStream(spark, dir), "append")
    assert(stream.schema("text").dataType === StringType)
    assert(stream.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSet === Set((1L, "hello world"), (2L, "bonjour")))
  }

  test("embeddings shipped as array<double> normalize to array<float> in the batch reader") {
    val dir = TempDirs.create("fixture-emb-double")
    Seq((1L, Seq(1.5, 2.5)), (2L, Seq(3.5, 4.5)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    assert(emb.schema("embedding").dataType.asInstanceOf[ArrayType]
      .elementType === FloatType)
    assert(emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSet ===
      Set((1L, Seq(1.5, 2.5)), (2L, Seq(3.5, 4.5))))
  }

  test("an un-castable embedding encoding fails loudly at plan time, never a silent misread") {
    val dir = TempDirs.create("fixture-emb-bad")
    Seq((1L, "not a vector"), (2L, "also not"))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    intercept[org.apache.spark.sql.AnalysisException](
      Tables.embeddings(spark, dir))
  }

  test("documents/embeddings stream schemas are footer-derived and width-drift tolerant") {
    // write a documents fixture with DRIFTED physical widths (int32
    // doc_id/n_chars) — the footer-derived stream schema must read it
    // and the canonical casts must still surface long columns
    val dir = TempDirs.create("fixture-docs-drift")
    Seq((1, "hello world", "en", "web", 11), (2, "bonjour", "fr", "web", 7))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = StreamQueries.runToTable(spark,
      StreamQueries.documentsStream(spark, dir), "append")
    assert(docs.schema("doc_id").dataType === LongType)
    assert(docs.schema("n_chars").dataType === LongType)
    assert(docs.as[(Long, String, String, String, Long)].collect().toSet ===
      Set((1L, "hello world", "en", "web", 11L), (2L, "bonjour", "fr", "web", 7L)))

    val edir = TempDirs.create("fixture-emb-drift")
    // drifted: double elements + extra column ordering
    Seq((1L, Seq(1.0, 2.0), 7), (2L, Seq(3.0, 4.0), 8))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$edir/embeddings.parquet")
    val emb = StreamQueries.runToTable(spark,
      StreamQueries.embeddingsStream(spark, edir), "append")
    assert(emb.schema("embedding").dataType === ArrayType(FloatType, true) ||
      emb.schema("embedding").dataType === ArrayType(FloatType, false))
    assert(emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSet ===
      Set((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))))
  }
}
