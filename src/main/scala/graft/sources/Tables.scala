package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet fixture loaders (see /root/repo/TESTDATA.md).
  *
  * All queries take the scale-factor directory as a runtime parameter so the
  * same plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench).
  * Reads go through `spark.read.parquet` so Catalyst gets vectorized scans,
  * predicate pushdown and column pruning for free.
  *
  * SESSION REQUIREMENT: oracle parity of every `date_format`-bearing query
  * assumes `spark.sql.session.timeZone=UTC` (the DuckDB oracle is TZ-naive).
  * GraftSession pins it; a caller-owned session in another zone would render
  * shifted wall-clock strings. It cannot be defensively forced here — the
  * conf always reports a value (the JVM default), so "explicitly set by the
  * user" is indistinguishable from "unset".
  */
object Tables {
  /** Every fixture table reads under the ONE footer schema all of its
    * data files share ([[schemaOf]]), forced instead of re-inferred. A
    * path is one producer generation: drift between fixture drops is
    * whole-path, and is absorbed by the `canonical` casts below (value
    * widths) and the events ts probe (encoding). A path whose files
    * disagree — a directory accumulated across producer generations —
    * fails at plan time naming the files, never an order-dependent
    * mid-scan failure or a silent narrow. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Pin the named columns to their canonical engine types regardless of
    * the fixture's physical widths (fixture-drift hardening, the r9
    * events lesson applied to the value columns: a double→decimal drift
    * in a measure column would silently change every rendered aggregate;
    * an int-width drift would change join/output schemas). When the
    * fixture already matches — the normal case — every cast is
    * `cast(x AS x.dataType)`, which `SimplifyCasts` removes before the
    * pushdown rules run, so scans keep their PushedFilters/pruning
    * (PlanSpec pins a01's pushed l_shipdate filter through this path).
    * Canonicalizing to double also matches how the DuckDB oracle's
    * pandas bridge surfaces drifted decimals (DECIMAL → float64), so
    * engine and oracle stay in lockstep under drift. */
  private def canonical(df: DataFrame, types: (String, String)*): DataFrame = {
    val want = types.toMap
    df.select(df.columns.map(c =>
      want.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)
  }

  def lineitem(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "lineitem"),
      "l_orderkey" -> "long", "l_partkey" -> "long", "l_suppkey" -> "long",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      // timestamp→timestamp is a removed no-op today; a generation that
      // flips these to DATE keeps today's midnight-UTC semantics (and
      // DuckDB's DATE→TIMESTAMP coercion matches)
      "l_shipdate" -> "timestamp")
  def orders(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "orders"),
      "o_orderkey" -> "long", "o_custkey" -> "long", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp")
  def customer(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "customer"),
      "c_custkey" -> "long", "c_acctbal" -> "double")
  def supplier(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "supplier"),
      "s_suppkey" -> "long", "s_acctbal" -> "double")
  def part(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "part"),
      "p_partkey" -> "long", "p_retailprice" -> "double")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.ts has shipped under more than one parquet encoding across
    * fixture generations — TIMESTAMP(NANOS) in earlier drops (read as a
    * raw long via the legacy conf, floored to micros), TIMESTAMP(micros,
    * isAdjustedToUTC=false) in the current ones (surfacing as
    * TimestampNTZType). At 100 TB you never control every producer's
    * parquet writer, so the reader PROBES the footer once per path and
    * adapts instead of hardwiring one physical type (the r9 regression:
    * a hardwired `ts div 1000` threw DATATYPE_MISMATCH on 16 batch
    * queries and silently shrank streaming timestamps 1000×).
    *
    * `nanosAsLong` is pinned at session construction by every entry
    * point this library owns (Verify / Bench / SparkTestSession), so a
    * table load never mutates shared session state mid-run (ADVICE
    * r01). The defensive set below remains ONLY for caller-owned
    * sessions that run `SparkEntry.queries` directly without our
    * builders; it is a no-op under our own sessions. Probe the
    * EFFECTIVE value, not presence: `getOption` on a registered conf
    * returns its default ("false") even when unset, so an
    * `isEmpty` guard would never fire (ADVICE r02). */
  private def ensureNanosAsLong(s: SparkSession): Unit =
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Data files of a fixture path: the path itself when it is a bare
    * parquet file, else the non-hidden files inside it (part files as
    * Spark and other producers write them; `_SUCCESS`/`.crc` skipped).
    * A driver-side metadata listing, no job. */
  private def dataFiles(
      s: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
    val st = fs.getFileStatus(hp)
    if (st.isFile) Seq(st)
    else fs.listStatus(hp).toSeq.filter(f => f.isFile && {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    // name-sorted: listStatus order is filesystem-dependent, and the
    // probes that fold over files (schema agreement, unit votes) and
    // the messages naming them must not change when a different
    // filesystem enumerates the same directory differently
    }).sortBy(_.getPath.getName)
  }

  /** Content signature of a fixture path: every data file's
    * (name, length, mtime). Probe caches are keyed by `path#signature`
    * instead of path alone so a long-lived JVM (warm `sbt -client`
    * daemon, notebook session) that spans a fixture REGENERATION
    * re-probes instead of reusing a stale encoding — a stale ts-unit
    * cache entry is exactly the silent-1000×-collapse mode the probe
    * layer exists to prevent (ADVICE r10). The listing is a driver
    * metadata op per reader call; a production deployment over an
    * object store would pin immutable input paths instead and make the
    * signature a constant. */
  private def signature(
      files: Seq[org.apache.hadoop.fs.FileStatus]): String =
    files.map(f => s"${f.getPath.getName}=${f.getLen}@${f.getModificationTime}")
      .sorted.mkString("|")

  private def cacheKey(s: SparkSession, path: String): String =
    path + "#" + signature(dataFiles(s, path))

  /** Per-FILE footer schemas of a parquet path: (file name, schema)
    * for every data file, not one sampled footer — a single-footer
    * probe would describe whichever file the listing returned first
    * and could not see that another file disagrees with it.
    * Cached by content signature; cost is one driver-side footer read
    * per file, paid once per distinct fixture state. Footer opens are
    * independent driver-side IO, probed on a bounded pool — a 100 TB
    * table's directory holds thousands of files, and serializing
    * ~30 ms opens would turn a one-time probe into minutes of driver
    * latency (schema inference is thread-safe; concurrent reads are a
    * supported Spark pattern). */
  private val fileSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, StructType)]]()

  /** Run `f` over `items` on a bounded pool (≤16 driver threads). */
  private def probePar[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(items.map(i => Future(f(i)))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  def fileSchemas(s: SparkSession, path: String): Seq[(String, StructType)] = {
    val files = dataFiles(s, path)
    fileSchemaCache.computeIfAbsent(path + "#" + signature(files),
      _ => probePar(files)(f => f.getPath.getName ->
        s.read.parquet(f.getPath.toString).schema))
  }

  /** Drop every probe cache. Bench/Verify call this at run start as a
    * belt-and-braces second line behind the signature keys: a fresh run
    * always re-probes even if a filesystem reports coarse mtimes. */
  def clearCaches(): Unit = {
    epochUnitCache.clear()
    fileSchemaCache.clear()
  }

  /** The footer schema every data file of `path` shares. Throws at plan
    * time when the path has no data files, or when its files disagree
    * (naming each distinct schema with its files): rewrite the path as
    * one generation or split it. */
  def schemaOf(s: SparkSession, path: String): StructType =
    fileSchemas(s, path).groupBy(_._2).toSeq match {
      case Seq((schema, _)) => schema
      case Seq() => throw new IllegalStateException(
        s"$path holds no parquet data files")
      case groups => throw new IllegalStateException(
        s"data files of $path disagree on schema: " +
          groups.map { case (sch, fs) =>
            s"${sch.simpleString}=[${fs.map(_._1).sorted.mkString(",")}]" }
            .sorted.mkString("; ") +
          " — one path is one producer generation; rewrite or split it")
    }

  /** Epoch unit of a RAW int64 ts column, inferred by magnitude: a bare
    * INT64 carries no unit annotation, and assuming one is the r9
    * silent-corruption mode waiting to recur (micros interpreted as
    * nanos → every event lands in January 1970). Epoch magnitudes are
    * separated by ~10³ per unit, so for any era in 1973–2200 the unit
    * is unambiguous from a single non-zero value:
    *   seconds ~1e9 · millis ~1e12 · micros ~1e15 · nanos ~1e18.
    * Probes ≤4096 non-zero rows ONCE per file (first row group even of
    * a large file; cached like the footer probe). */
  private val epochUnitCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Magnitude band → unit, or None outside every band. */
  private def unitOf(v: Long): Option[String] =
    if (v >= 5e16.toLong) Some("ns")
    else if (v >= 5e13.toLong) Some("us")
    else if (v >= 5e10.toLong) Some("ms")
    else if (v >= 1e8.toLong) Some("s")
    else None

  /** None = the file holds NO non-zero ts at all (the where-then-limit
    * sample exhausts the data before limiting, so an empty sample is
    * proof, not sampling luck). Such data is unit-INDEPENDENT — every
    * divisor maps 0→0 and null→null — so the file abstains from the
    * path's unit vote ([[epochUnit]]). */
  private def epochUnitOpt(s: SparkSession, path: String): Option[String] = {
    // "none" sentinel rather than null: CHM.computeIfAbsent records no
    // entry for null, which would re-run the probe job on every call
    val u = epochUnitCache.computeIfAbsent(cacheKey(s, path), { _ =>
      val row = s.read.parquet(path)
        .where(col("ts").isNotNull && col("ts") =!= 0L)
        .select(col("ts")).limit(4096)
        .agg(max(abs(col("ts"))), min(abs(col("ts")))).collect()(0)
      if (row.isNullAt(0)) "none"
      else {
        val (maxV, minV) = (row.getLong(0), row.getLong(1))
        // min AND max must land in the same band: the bands are ~10³
        // wide (any era 1973–3553 stays inside one), so a sample whose
        // extremes straddle bands means mixed units or near-epoch data
        // — a silent rescale either way; fail loudly instead (ADVICE r10)
        (unitOf(maxV), unitOf(minV)) match {
          case (Some(u1), Some(u2)) if u1 == u2 => u1
          case (u1, u2) => throw new IllegalStateException(
            s"cannot infer epoch unit of raw INT64 events.ts at $path: " +
              s"sampled |ts| extremes $minV ($u2) and $maxV ($u1) imply " +
              "different units — mixed-unit or near-epoch data; refusing " +
              "to rescale silently")
        }
      }
    })
    if (u == "none") None else Some(u)
  }

  /** The ONE epoch unit of a raw-INT64 events path. Every file is
    * probed on its own: two raw-INT64 generations of different units
    * (a nanos file beside a micros file) are footer-indistinguishable,
    * and a whole-path sample can exhaust its limit inside the first
    * file and silently rescale the second (the r9 collapse hiding
    * inside one logical type). Files with no non-zero ts abstain; a
    * disagreement, or no file to infer from, fails loudly. */
  private def epochUnit(s: SparkSession, path: String): String = {
    val votes = dataFiles(s, path).flatMap(f =>
      epochUnitOpt(s, f.getPath.toString).map(f.getPath.getName -> _))
    votes.map(_._2).distinct match {
      case Seq(u) => u
      case Seq() => throw new IllegalStateException(
        s"cannot infer epoch unit of raw INT64 events.ts at $path " +
          "(no non-zero sampled value): refusing to guess a divisor " +
          "(the silent-1970-collapse mode)")
      case _ => throw new IllegalStateException(
        s"raw INT64 events.ts files at $path disagree on epoch unit: " +
          votes.map { case (f, u) => s"$f=$u" }.mkString(", ") +
          " — one path is one producer generation; rewrite or split it")
    }
  }

  /** The post-scan ts column of a raw-INT64 events path: a session-TZ
    * TimestampType (µs) from the path's inferred [[epochUnit]],
    * converted with integer ops only (`div`/`*`, never `/`:
    * ns-since-epoch exceeds double's 2^53 mantissa). Raw INT64 is
    * TIMESTAMP(NANOS) under the legacy conf or an unannotated INT64
    * column; the micros encodings never come here (see [[eventsRead]]).
    * Anything else fails LOUDLY at plan time: an unknown encoding must
    * never reach the silent-wrong-answer mode r9 hit on the stream path. */
  def normalizedTs(s: SparkSession, path: String, dt: DataType): Column = dt match {
    case LongType => epochUnit(s, path) match {
      // FLOOR division, not `div` (which truncates toward zero): a
      // pre-1970 nanos instant must round down to the earlier micro,
      // matching Math.floorDiv and how a micros-native file renders the
      // same instant (ADVICE r10). pmod's result is always in [0,1000),
      // so ts - pmod(ts,1000) is the floor multiple for either sign,
      // and the integer `div` after it is exact (ns magnitudes exceed
      // double's 2^53 mantissa — never use `/` here).
      case "ns" => timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L"))
      case "us" => timestamp_micros(col("ts"))
      case "ms" => timestamp_micros(col("ts") * 1000L)
      case _    => timestamp_micros(col("ts") * 1000000L)
    }
    case other => throw new IllegalStateException(
      s"events.ts has unsupported parquet encoding $other; expected INT64 " +
        "epoch, TIMESTAMP_NTZ(micros) or TIMESTAMP(micros) — " +
        "extend Tables.eventsRead for the new fixture encoding")
  }

  /** Canonical value-column types of the events table — applied by
    * [[eventsRead]] for batch and stream alike, so a width/decimal drift
    * in a non-ts column can never diverge batch from stream. */
  private def canonicalEvents(df: DataFrame): DataFrame =
    canonical(df,
      "event_id" -> "long", "user_id" -> "long", "value" -> "double",
      "event_type" -> "string", "props" -> "string")

  /** The one events read plan, shared by [[events]] (batch) and
    * `StreamQueries.eventsStream` so both normalize identically. `load`
    * opens the path under the schema given. The path has ONE ts
    * encoding (a path mixing them fails naming the files per encoding)
    * and one [[schemaOf]]; its ts becomes a session-TZ TimestampType:
    *  - TIMESTAMP(micros), NTZ or instant: read under a forced schema
    *    declaring ts TimestampType instead of casting after the scan.
    *    The parquet reader fills LTZ vectors from the same int64 micros
    *    either way, but a post-scan cast would make ts a derived column
    *    and block predicate pushdown and row-group pruning on it — the
    *    change-detection probe (p10, `PushedFilters:
    *    [GreaterThanOrEqual(ts,...)]` pinned in PlanSpec) must prune.
    *    Naive micros read as instant micros equal `cast(ntz AS
    *    timestamp)` ONLY under the UTC session this library pins (see
    *    the SESSION REQUIREMENT note above);
    *  - raw INT64: normalized after the scan by [[normalizedTs]]. A
    *    stream outlives its probe, so a file that appears at scan time
    *    but was never probed raises by name instead of being read
    *    under the frozen unit (the r9 collapse arriving mid-stream);
    *    restart the query to re-probe and admit it. */
  private[graft] def eventsRead(s: SparkSession, d: String)(
      load: StructType => DataFrame): DataFrame = {
    val path = s"$d/events.parquet"
    ensureNanosAsLong(s) // must precede the probes: NANOS footers throw without it
    val encs = fileSchemas(s, path).map { case (f, sch) => f -> sch("ts").dataType }
    if (encs.map(_._2).distinct.size > 1) throw new IllegalStateException(
      s"events at $path mixes ts encodings across files: " +
        encs.groupBy(_._2).map { case (t, fs) =>
          s"$t=[${fs.map(_._1).sorted.mkString(",")}]" }.toSeq.sorted.mkString("; ") +
        " — one path is one producer generation; rewrite or split it")
    val schema = schemaOf(s, path)
    val read = schema("ts").dataType match {
      case TimestampNTZType | TimestampType =>
        load(StructType(schema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
      case dt =>
        val ts = normalizedTs(s, path, dt)
        val file = col("_metadata.file_name")
        load(schema).withColumn("ts", when(file.isin(encs.map(_._1): _*), ts)
          .otherwise(raise_error(
            concat(lit("events file not covered by the ts probe: "), file))))
    }
    canonicalEvents(read)
  }

  def events(s: SparkSession, d: String): DataFrame =
    eventsRead(s, d)(schema => s.read.schema(schema).parquet(s"$d/events.parquet"))

  def documents(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "documents"),
      "doc_id" -> "long", "n_chars" -> "long",
      "text" -> "string", "lang" -> "string", "source" -> "string")
  def embeddings(s: SparkSession, d: String): DataFrame =
    canonical(table(s, d, "embeddings"),
      "vec_id" -> "long", "embedding" -> "array<float>")
}
