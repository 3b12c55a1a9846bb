package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ManifestLog

/** Write-audit-publish (WAP) — the deployment pattern for datasets
  * that downstream jobs consume: new data is STAGED to a fresh
  * directory, AUDITED as it exists on disk (re-read — the audit sees
  * exactly the bytes a consumer would, not the producing plan), and
  * only then PUBLISHED by claiming the next version of a one-line
  * manifest naming it — [[graft.ManifestLog]], the commit primitive
  * [[SnapshotStore]] and [[graft.sinks.AtomicBucketStore]] share. A
  * failed audit deletes the stage; a crash before the claim leaves the
  * old snapshot visible. Readers resolve through the latest version
  * only. Racing publishers each claim their own version (a whole-
  * snapshot replace needs no rebase); the highest wins.
  *
  * GC trails by one publish: two versions are kept, so the replaced
  * snapshot outlives its commit for a reader still scanning it (ADVICE
  * r8). A `snap-*` no retained version names — a crashed or
  * still-auditing writer's stage — goes only past
  * [[graft.ManifestLog.GraceMs]]. This is the lakehouse formats' WAP /
  * branch-and-commit in its minimal file-layout form. */
object Publish {

  /** The live snapshot (None before the first successful publish). */
  def readCurrent(spark: SparkSession, root: String): Option[DataFrame] =
    ManifestLog.latest(spark, root)._2.headOption
      .map(snap => spark.read.parquet(s"$root/$snap"))

  /** Stage `df`, audit the STAGED data, publish on a clean audit.
    * `audit` returns None to accept or Some(reason) to reject.
    * Returns Right(snapshot dir) on publish, Left(reason) on a
    * rejected audit (stage deleted, nothing claimed). */
  def writeAuditPublish(spark: SparkSession, df: DataFrame, root: String,
      audit: DataFrame => Option[String]): Either[String, String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = s"snap-${java.util.UUID.randomUUID()}"
    df.write.mode("error").parquet(s"$root/$snap")
    audit(spark.read.parquet(s"$root/$snap")) match {
      case Some(reason) =>
        fs.delete(new Path(root, snap), true)
        Left(reason)
      case None =>
        @annotation.tailrec def publish(): Seq[String] = {
          val (v, prev) = ManifestLog.latest(spark, root)
          if (ManifestLog.claim(spark, root, v + 1, Seq(snap))) prev else publish()
        }
        val prev = publish()
        // best-effort GC; a crash here leaves an orphan, never corruption
        ManifestLog.trim(spark, root, 2, ManifestLog.GraceMs)
          .foreach(s => fs.delete(new Path(root, s), true))
        // the two kept versions may name snapshots older than the grace
        // age; a stage no version names yet may be a racer's in audit
        val live = Set(snap) ++ prev ++ ManifestLog.latest(spark, root)._2
        val now = System.currentTimeMillis()
        fs.listStatus(new Path(root))
          .filter(st => st.getPath.getName.startsWith("snap-") &&
            !live(st.getPath.getName) &&
            now - st.getModificationTime >= ManifestLog.GraceMs)
          .foreach(st => fs.delete(st.getPath, true))
        Right(snap)
    }
  }
}
