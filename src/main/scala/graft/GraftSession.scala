package graft

import org.apache.spark.sql.SparkSession

/** The library's SparkSession recipe — one place for every setting the
  * engine depends on, used by Verify/Bench/Profile and recommended for
  * production callers (who would swap `local[n]` for their cluster
  * master and scale `shufflePartitions` to ~2-3× total executor cores).
  */
object GraftSession {

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
