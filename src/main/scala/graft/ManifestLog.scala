package graft

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}

import org.apache.spark.sql.SparkSession

/** The one commit primitive of the three durable writers
  * ([[graft.operators.SnapshotStore]], [[graft.sinks.AtomicBucketStore]],
  * [[graft.operators.Publish]]): a chain of line files `dir/MANIFEST.v<N>`
  * whose highest N is the current state. A writer derives its lines from
  * version v and [[claim]]s v+1 create-if-absent; a loser re-reads and
  * retries, so no update is lost and nothing is renamed over a live file.
  * [[trim]] keeps the newest versions and hands back what only the
  * deleted ones referenced: keeping two, GC trails by one commit, so a
  * reader must finish within one more commit. */
object ManifestLog {

  private[graft] val VersionName = """MANIFEST\.v(\d+)""".r
  private val TmpPrefix = ".MANIFEST.tmp-"

  /** Grace age of what a live writer may still own (a claim temporary,
    * a staged append or snapshot): sweeps leave a younger one alone. */
  val GraceMs: Long = 15L * 60 * 1000

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one line-file format: UTF-8, one entry per line, blank lines
    * ignored. */
  private[graft] def readLines(spark: SparkSession, p: Path): Vector[String] = {
    val in = fs(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toVector
    finally in.close()
  }

  private[graft] def writeLines(spark: SparkSession, p: Path,
      lines: Seq[String]): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
  }

  private def versions(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val d = new Path(dir)
    val f = fs(spark, d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath).flatMap(p => p.getName match {
      case VersionName(n) => Some(n.toLong -> p); case _ => None
    })
  }

  /** The highest version and its lines; (0, empty) before the first
    * claim. A version trimmed between the listing and the read is
    * superseded, so the read re-lists. */
  def latest(spark: SparkSession, dir: String): (Long, Vector[String]) =
    versions(spark, dir).maxByOption(_._1) match {
      case None => (0L, Vector.empty)
      case Some((v, p)) =>
        try (v, readLines(spark, p))
        catch { case _: java.io.FileNotFoundException => latest(spark, dir) }
    }

  /** Claim `version` with `lines`: write a uuid'd dot-temp, then link or
    * rename it WITHOUT overwrite, so exactly one writer claims a version.
    * False when a racer already claimed it. */
  def claim(spark: SparkSession, dir: String, version: Long,
      lines: Seq[String]): Boolean = {
    val mf = new Path(s"$dir/MANIFEST.v$version")
    val f = fs(spark, mf)
    val tmp = new Path(s"$dir/$TmpPrefix${java.util.UUID.randomUUID()}")
    writeLines(spark, tmp, lines)
    try {
      f match {
        // the local filesystem's no-overwrite rename is check-then-
        // rename (two racers can both "win", losing an update) and its
        // checksum layer renames the .crc separately (a reader can see
        // one writer's bytes under another's checksum); link(2) creates
        // the name atomically or fails, and the link carries no .crc
        case local: LocalFileSystem =>
          java.nio.file.Files.createLink(local.pathToFile(mf).toPath,
            local.pathToFile(tmp).toPath)
          f.delete(tmp, false)
        case _ =>
          FileContext.getFileContext(f.getUri,
              spark.sparkContext.hadoopConfiguration)
            .rename(tmp, mf) // no Rename.OVERWRITE: fails if the version exists
      }
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false); false
      case _: java.io.IOException if f.exists(mf) =>
        // some FileContext implementations surface the existing
        // destination as a plain IOException — same lost race
        f.delete(tmp, false); false
    }
  }

  /** Keep the newest `keep` (at least 1) versions, delete the rest and
    * sweep claim temporaries older than `graceMs`. Returns the lines only
    * the deleted versions held (a dropped line never returns: each
    * version derives from its predecessor). A kept version a concurrent
    * trim removed means the chain moved on, so the trim re-lists. */
  def trim(spark: SparkSession, dir: String, keep: Int,
      graceMs: Long): Seq[String] = {
    val d = new Path(dir)
    val f = fs(spark, d)
    if (!f.exists(d)) return Seq.empty
    val now = System.currentTimeMillis()
    f.listStatus(d).toSeq
      .filter(st => st.getPath.getName.startsWith(TmpPrefix) &&
        now - st.getModificationTime >= graceMs)
      .foreach(st => f.delete(st.getPath, false))
    val (kept, dropped) = versions(spark, dir).sortBy(-_._1)
      .splitAt(math.max(1, keep))
    if (dropped.isEmpty) Seq.empty
    else {
      val live = try kept.flatMap(v => readLines(spark, v._2)).toSet
        catch { case _: java.io.FileNotFoundException =>
          return trim(spark, dir, keep, graceMs) }
      val gone = dropped.flatMap { case (_, p) =>
        try readLines(spark, p)
        catch { case _: java.io.FileNotFoundException => Vector.empty }
      }.toSet -- live
      dropped.foreach { case (_, p) => f.delete(p, false) }
      gone.toSeq.sorted
    }
  }
}
