package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor for COMPUTE-heavy per-row kernels
  * (shingling, minhash signatures, fingerprinting).
  *
  * Spark sizes scan splits by BYTES (`maxPartitionBytes`,
  * `openCostInBytes`), which undercounts sources whose per-row compute
  * dwarfs their I/O: a sub-split-sized parquet table (one file, one
  * row group) yields ONE scan task, so every narrow transformation
  * chained onto it runs single-threaded however many cores the cluster
  * has — measured at fixture scale as 3–4 s single-task stages in the
  * containment/LSH family while 31 cores idle (guide §2.5's input-skew
  * case in its degenerate small-input form).
  *
  * [[spread]] inserts a round-robin repartition to the default
  * parallelism ONLY when the frame's planned partition count is below
  * half the core count — at production scale a corpus scan has
  * thousands of splits, the predicate is false, and the plan is
  * UNCHANGED (no exchange, pushdown intact). When it does fire, the
  * exchanged bytes are bounded by the small input that triggered it
  * (sub-split-scale, never corpus-scale). Round-robin repartition is
  * retry-deterministic (`sortBeforeRepartition`, SPARK-23207), and
  * every caller feeds order-independent aggregates/joins, so results
  * are unchanged — the driver's oracle gate re-proves that per query. */
private[graft] object Par {
  def spread(df: DataFrame): DataFrame =
    if (df.isStreaming) df // micro-batch planning owns stream parallelism
    else {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      // ONLY scan-rooted (exchange-free) plans are inspected: under AQE
      // `toRdd` on a plan WITH exchanges materializes its query stages —
      // real shuffle jobs at inspection time, potentially re-executed by
      // the repartition below (ADVICE r21). An exchange-bearing frame
      // already has a shuffle sizing its downstream parallelism, so the
      // floor is moot there anyway — return it unchanged. `executedPlan`
      // plans without executing and, unlike `sparkPlan`, holds the
      // exchanges that joins and aggregates add (ADVICE r22).
      val hasExchange = graft.QueryProfile.planNodes(
          df.queryExecution.executedPlan).exists {
        case _: org.apache.spark.sql.execution.exchange.Exchange => true
        case _ => false
      }
      if (hasExchange) df
      else {
        // planned scan partition count — exchange-free, so physical
        // planning only, no job (keep spread OUT of per-batch loops:
        // planning per call is driver work)
        val parts = df.queryExecution.toRdd.getNumPartitions
        if (parts * 2 < cores) df.repartition(cores) else df
      }
    }

  /** Run INDEPENDENT driver-side tasks concurrently — guide §2.6
    * (Spark schedules concurrent jobs FIFO and back-fills one job's
    * task tail with the next's): a store stage's component writes, a
    * compaction's rewrites. The first task runs on the caller, every
    * other on its own daemon thread. All are joined before anything is
    * thrown, so no helper outlives the call; then the first failure in
    * task order propagates with the later ones attached as suppressed. */
  def all(tasks: Seq[() => Unit]): Unit = {
    val errs = new Array[Throwable](tasks.size)
    def run(i: Int): Unit =
      try tasks(i)() catch { case e: Throwable => errs(i) = e }
    val helpers = tasks.indices.drop(1).map { i =>
      val t = new Thread(() => run(i), "graft-par")
      t.setDaemon(true)
      t.start()
      t
    }
    if (tasks.nonEmpty) run(0)
    helpers.foreach(_.join())
    errs.find(_ != null).foreach { first =>
      errs.foreach(e => if (e != null && (e ne first)) first.addSuppressed(e))
      throw first
    }
  }

  /** [[all]] over two thunks that return values: the s40 setup pays
    * two eager localCheckpoints of the store's digest indexes, each a
    * small job plus scheduling floor; overlapping them halves that
    * serial floor and at corpus scale overlaps two store scans. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    var ra: Option[A] = None
    var rb: Option[B] = None
    all(Seq(() => ra = Some(a), () => rb = Some(b)))
    (ra.get, rb.get)
  }
}
