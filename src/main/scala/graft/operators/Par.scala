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

  /** Run two INDEPENDENT driver-side actions concurrently — guide §2.6
    * (Spark schedules concurrent jobs FIFO and back-fills the first
    * job's task tail with the second's): the s40/s42 setup pays two
    * eager localCheckpoints of the store's digest indexes back to back,
    * each a small job plus scheduling floor; overlapping them halves
    * that serial floor and at corpus scale overlaps two store scans. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    @volatile var bRes: Either[Throwable, B] = null
    val t = new Thread(() => {
      bRes = try Right(b) catch { case e: Throwable => Left(e) }
    }, "graft-par2")
    t.setDaemon(true)
    t.start()
    // the helper never outlives the call, whichever thunk fails
    val aRes = try Right(a) catch { case e: Throwable => Left(e) }
      finally t.join()
    (aRes, bRes) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(ea), Left(eb)) =>
        if (eb ne ea) ea.addSuppressed(eb)
        throw ea
      case (Left(e), _) => throw e
      case (_, Left(e)) => throw e
    }
  }
}
