package graft.operators

import org.apache.spark.sql.DataFrame

/** Iteration-safe lineage cut for fixpoint loops (BPE training,
  * connected components).
  *
  * `localCheckpoint(eager = true)` truncates the EXECUTION lineage but
  * Spark's checkpoint also stashes the source plan's estimated
  * `Statistics` on the resulting `LogicalRDD` (originStats). In an
  * iterative algorithm those carried estimates COMPOUND: every round's
  * self-join multiplies sizeInBytes estimates, the next round
  * checkpoints that product as its leaf statistic, and the estimate
  * grows as a power tower. MEASURED (BPE.md, round 9): BPE training
  * ran 0.6 s/iteration flat for 18 rounds, then per-iteration wall
  * grew 2.5–4× per round — a thread dump showed the driver 100% CPU in
  * `SizeInBytesOnlyStatsPlanVisitor` multiplying BigIntegers with tens
  * of thousands of digits (Toom-Cook-3 frames), while every executor
  * sat idle. Rebasing the checkpointed frame on its raw RDD drops the
  * carried statistics (the fresh `LogicalRDD` falls back to default
  * leaf stats) and the loop stays flat: same blocks, same rows, same
  * plan — only the compounding estimate is severed.
  */
object Iterate {

  /** Materialize `df` once (eager local checkpoint) and return a frame
    * backed by the materialized blocks that carries NO origin
    * statistics. `coalesceTo = Some(1)` (default) suits
    * vocabulary-/label-sized iteration state; pass `None` to keep the
    * input partitioning when the state is larger (e.g. the paired
    * vertex set in connected components). */
  def cut(df: DataFrame, coalesceTo: Option[Int] = Some(1)): DataFrame = {
    val cp = coalesceTo.fold(df)(df.coalesce).localCheckpoint()
    df.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** [[cut]] fused with a convergence probe: materialize a
    * `(key, value, prevValue)` frame ONCE, dropping `prevValue`, and
    * count the rows where value ≠ prevValue IN THE SAME JOB via an
    * accumulator. The separate probe action this replaces was cheap
    * per round (a scan of in-memory blocks) but not free — one extra
    * job's task launch + driver round per iteration, and a fixpoint
    * runs many small rounds, so driver rounds are exactly what its
    * wall is made of. Accumulator semantics are safe here because the
    * count is only compared with ZERO: task retries can inflate a
    * positive count, never manufacture one from a truly converged
    * round (a retried task re-runs the same rows; equal rows add
    * nothing). Statistics are severed exactly as in [[cut]] — the
    * returned frame is rebased on the materialized row RDD, so no
    * origin estimate compounds through the loop. */
  def cutChanged(df: DataFrame,
      coalesceTo: Option[Int] = None): (DataFrame, Long) = {
    require(df.schema.size == 3,
      s"cutChanged expects (key, value, prevValue), got ${df.schema}")
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft.iterate.changed")
    val rows = coalesceTo.fold(df)(df.coalesce).rdd.map { r =>
      if (r.get(1) != r.get(2)) acc.add(1)
      org.apache.spark.sql.Row(r.get(0), r.get(1))
    }
    rows.localCheckpoint()
    rows.count() // materializes the checkpoint AND populates the probe
    val schema = org.apache.spark.sql.types.StructType(df.schema.take(2))
    (spark.createDataFrame(rows, schema), acc.value)
  }
}
