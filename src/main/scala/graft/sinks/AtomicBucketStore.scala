package graft.sinks

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ManifestLog

/** Atomically-committed hash-bucketed parquet store — the durable
  * backing of the s10 upsert sink ([[graft.streaming.StreamQueries
  * .upsertReplay]]): a crash mid-write never exposes a half-written
  * bucket (AtomicBucketStoreSpec's crash-simulation tests).
  *
  * Layout:
  * {{{
  *   root/MANIFEST.v<N>        bucket<TAB>relative-dir, one line per bucket
  *   root/gen-<uuid>/bucket=K/part-*.parquet   immutable generation data
  * }}}
  *
  * [[writeGeneration]] commits optimistically through
  * [[graft.ManifestLog]]: resolve the touched buckets at version v, write
  * the caller's merge to a FRESH `gen-<uuid>` no reader references, then
  * claim v+1. The claim IS the commit — a process crash before it leaves
  * version v visible and the gen an orphan — and a lost claim reruns the
  * merge from the new latest version, so racing writers lose no update.
  * (Surviving power loss would also need an fsync of the data files
  * before the claim, which a table format or object store provides.) GC
  * trails by one commit: two versions are kept and only bucket dirs
  * neither references are deleted, so a reader that resolved the store
  * just before a commit keeps its files until the next one. Readers
  * resolve buckets through the manifest only; a batch costs O(touched
  * buckets), untouched buckets keep their entry.
  */
object AtomicBucketStore {

  /** bucket → relative generation dir currently holding it (empty map
    * if the store has never committed). */
  def readManifest(spark: SparkSession, root: String): Map[Long, String] =
    parse(ManifestLog.latest(spark, root)._2)

  private def parse(lines: Seq[String]): Map[Long, String] =
    lines.map { line =>
      val Array(b, dir) = line.split("\t", 2)
      b.toLong -> dir
    }.toMap

  /** Read every committed bucket (None when the store is empty). The
    * `bucket` partition column is NOT recovered from the path — callers
    * that need it recompute it from the key columns, which is exact
    * because the bucket id is a pure hash of those columns. */
  def readAll(spark: SparkSession, root: String): Option[DataFrame] = {
    val dirs = readManifest(spark, root).values.toSeq.sorted.map(d => s"$root/$d")
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Rewrite the `buckets` the caller touches: `merge` receives the
    * absolute paths of those buckets' current directories (buckets
    * never yet written are skipped) and returns their new contents,
    * which must carry a `bucket` column. The result is written as a
    * fresh generation and committed; on a lost claim the merge reruns
    * against the new latest version. Manifest entries are derived from
    * the bucket directories the write ACTUALLY produced, so a
    * touched-but-now-empty bucket is dropped from the manifest rather
    * than pointed at a directory that does not exist; untouched buckets
    * keep their entry. Returns the committed gen dir. */
  @annotation.tailrec
  def writeGeneration(spark: SparkSession, root: String, buckets: Seq[Long])(
      merge: Seq[String] => DataFrame): String = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, lines) = ManifestLog.latest(spark, root)
    val before = parse(lines)
    val gen = s"gen-${java.util.UUID.randomUUID()}"
    val genDir = new Path(root, gen)
    merge(buckets.flatMap(before.get).map(d => s"$root/$d"))
      .write.mode("error").partitionBy("bucket").parquet(genDir.toString)
    val present = fs.listStatus(genDir).toSeq.map(_.getPath.getName)
      .collect { case d if d.startsWith("bucket=") => d.stripPrefix("bucket=").toLong }
    // an empty frame's gen dir holds only _SUCCESS and no manifest entry
    // will ever reference it — a stream of empty batches would otherwise
    // leak one dir each
    if (present.isEmpty) fs.delete(genDir, true)
    val updated = before -- buckets ++ present.map(b => b -> s"$gen/bucket=$b")
    if (updated == before) gen
    else if (ManifestLog.claim(spark, root, v + 1, updated.toSeq.sortBy(_._1)
        .map { case (b, dir) => s"$b\t$dir" })) {
      // best-effort GC: a failure leaves orphans, not corruption
      ManifestLog.trim(spark, root, 2, ManifestLog.GraceMs).foreach { line =>
        val old = new Path(root, line.split("\t", 2)(1))
        try {
          fs.delete(old, true)
          // drop the generation shell once its last bucket is gone
          if (!fs.listStatus(old.getParent).exists(_.getPath.getName.startsWith("bucket=")))
            fs.delete(old.getParent, true)
        } catch { case _: java.io.IOException => () }
      }
      gen
    } else {
      fs.delete(genDir, true)
      writeGeneration(spark, root, buckets)(merge)
    }
  }
}
