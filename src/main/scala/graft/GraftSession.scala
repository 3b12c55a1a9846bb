package graft

import org.apache.spark.sql.SparkSession

/** The library's SparkSession recipe — one place for every setting the
  * engine depends on, used by Verify/Bench/Profile and recommended for
  * production callers (who would swap `local[n]` for their cluster
  * master and scale `shufflePartitions` to ~2-3× total executor cores).
  */
object GraftSession {

  /** Size of Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * a static conf, default 100): how many Janino-compiled generated
    * classes a JVM keeps. A class that falls out compiles again the next
    * time a plan needs it, and a micro-batch or a store call reruns the
    * same plans, so a cache smaller than the plan working set makes every
    * call pay its compiles again. The working set depends on the plans,
    * not on data size or core count. Each JVM, driver or executor, keeps
    * its own cache; a local master's driver and executor share one JVM
    * but key their entries by different class loaders, so each class
    * counts twice there.
    *
    * Measured with `graft.Profile`, an unbounded cache, local[4] at
    * sf0.001 (4-core box): all 204 declared queries compile 2,316 classes
    * in one JVM. `s42_stream_crawl_increment` alone compiles 200–220; at
    * 100 entries it recompiles 282–289 on every warm run. 4,096 entries
    * hold the whole declared surface with headroom. Generated source
    * averages 7.4 KB (s42's compiles), so a full cache keeps about 30 MB
    * of source text on the heap, plus the loaded classes in metaspace. */
  val CodegenCacheEntries = 4096

  /** @param shufflePartitions partitions for every wide exchange AND
    *        streaming state-store instances. Locally = core count; on a
    *        1000-executor cluster this is the knob that sizes shuffle
    *        blocks to fit executor memory (AQE coalesces small
    *        post-shuffle partitions back down, so err high). */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // custom expressions as SQL functions (graft_uuid3, graft_dot, …)
      .withExtensions(new GraftExtensions)
      // one partition per core locally; AQE re-coalesces at runtime
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // oracle compare and date_format are timezone-sensitive
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet fixtures have shipped as TIMESTAMP(NANOS) in
      // some generations: under this conf they surface as raw longs,
      // which Tables.events' footer probe detects and floors to micros
      // (current TIMESTAMP(micros) fixtures are unaffected by the
      // conf). Pinned here so no query ever mutates session state
      // mid-run.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // every generated class compiles once per JVM (CodegenCacheEntries)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the codegen cache keys a class by the compiling thread's class
      // loader. With per-session artifact isolation (on by default) an
      // executor runs each session's tasks under a loader of that
      // session's own, and every streaming query runs in a fresh clone of
      // its session, so each stream start recompiled its executor-side
      // classes (25 per warm s42 run). The engine adds no session
      // artifacts, so one shared loader loses nothing
      .config("spark.sql.artifact.isolation.enabled", "false")

  /** Scoped session-conf override: `key` is `value` while `body` runs,
    * then its prior value is restored, or the key unset, even on
    * failure. */
  private[graft] def withConf[T](spark: SparkSession, key: String,
      value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Standard local session (Verify/Bench/Profile mains). */
  def local(cpus: String): SparkSession = {
    val s = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
