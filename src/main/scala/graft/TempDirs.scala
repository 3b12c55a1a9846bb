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
  private val persistent = new ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = registered.poll()
      while (p != null) { deleteRecursively(p); p = registered.poll() }
      var q = persistent.poll()
      while (q != null) { deleteRecursively(q); q = persistent.poll() }
    }))

  /** Create a temp dir cleaned up at JVM exit; returns its path. */
  def create(prefix: String): String = {
    hookInstalled
    val d = Files.createTempDirectory(prefix)
    registered.add(d)
    d.toString
  }

  /** Like [[create]], but EXEMPT from [[purge]]: for JVM-lifetime
    * memoized fixtures (SparkEntry's shared two-cycle store) that the
    * bench's between-query purge must not delete while a cache still
    * points at them. Still reclaimed by the exit hook. */
  def createPersistent(prefix: String): String = {
    hookInstalled
    val d = Files.createTempDirectory(prefix)
    persistent.add(d)
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

  /** Delete one persistent dir NOW and drop it from the exit-hook queue
    * — for a memoizing cache replacing a superseded entry (ADVICE r20:
    * the replaced dir used to linger until JVM exit). */
  def deleteNow(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    persistent.remove(p)
    registered.remove(p)
    deleteRecursively(p)
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
