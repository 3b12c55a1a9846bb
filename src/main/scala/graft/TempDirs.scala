package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp directories whose contents must outlive the creating call (a
  * returned DataFrame lazily reads them back), deleted at JVM exit via
  * one shared shutdown hook — without this, every sink/roundtrip query
  * leaks a copy of its output per invocation (ADVICE r02; a bench round
  * at iters=2 ran each such query twice). */
object TempDirs {
  private val registered = new ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => purge()))

  /** Create a temp dir cleaned up at JVM exit; returns its path. */
  def create(prefix: String): String = {
    hookInstalled
    val d = Files.createTempDirectory(prefix)
    registered.add(d)
    d.toString
  }

  /** Drain and delete NOW instead of waiting for the shutdown hook —
    * the bench calls this between queries so a 98-query × 2-iteration
    * run doesn't accumulate ~200 sink-output copies under /tmp (disk
    * pressure plus page-cache churn that showed up as multi-second
    * phantom regressions in full-run benches). Only safe once the
    * DataFrames that lazily read these dirs have been materialized,
    * which is true between bench queries. */
  def purge(): Unit = {
    var p = registered.poll()
    while (p != null) { deleteRecursively(p); p = registered.poll() }
  }

  /** Best-effort recursive delete (shared with StreamQueries.drain — a
    * cleanup IOException must never mask the result being returned). */
  private[graft] def deleteRecursively(dir: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val stream = Files.walk(dir)
      val paths = try stream.iterator().asScala.toVector finally stream.close()
      paths.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
    } catch { case _: java.io.IOException => () }
}
