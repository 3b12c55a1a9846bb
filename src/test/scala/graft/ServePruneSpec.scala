package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SnapshotStore, StoreSketch}

/** Serve-probe sketch pruning (r22, guide §3.2 — VERDICT r21's top
  * ask): above the byte gate, `serveDelta`/`serveNearDup` sketch-test
  * the ARRIVING batch's join keys against every committed append's
  * sidecar and scan only hit appends. These specs force the gate with
  * `graft.store.servePruneMinBytes=0` and prove (a) the pruned serve is
  * row-identical to the unpruned one, including the zero-hit and
  * legacy-append (sketch-less) cases, (b) serve bytes stay FLAT as
  * non-matching appends accumulate (the serve twin of the r20/r21
  * commit/stage bytes-flat specs), and (c) the sidecar surface degrades
  * conservatively: an unreadable sketch file means "scan this append",
  * never a crash (ADVICE r21), and the sketch width envelope is
  * enforced at the conf boundary (VERDICT r21 #2). */
class ServePruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs() = spark.read.parquet(s"$sf/documents.parquet")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `body` with the serve-prune gate set to `v` ("0" forces
    * pruning on, "-1" disables), restoring the default after. */
  private def withGate[A](v: String)(body: => A): A = {
    spark.conf.set(SnapshotStore.ServePruneConfKey, v)
    try body finally spark.conf.unset(SnapshotStore.ServePruneConfKey)
  }

  /** Input bytes every task read while `body` ran. */
  private def bytesRead(body: => Unit): Long =
    QueryProfile.of(spark).measure(body)._2.inputBytes

  test("pruned serveNearDup == unpruned (hits, misses, multi-append)") {
    val d = docs()
    val dir = TempDirs.create("serveprune-neardup")
    // three appends so pruning has real append granularity to skip
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 6 === 0))
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 6 === 2))
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 6 === 4))
    val arriving = d.where(col("doc_id") % 2 === 1)
    val pruned = withGate("0")(
      rows(SnapshotStore.serveNearDup(spark, dir, arriving)))
    val full = withGate("-1")(
      rows(SnapshotStore.serveNearDup(spark, dir, arriving)))
    assert(pruned == full)
    // the fixtures DO contain cross-parity near-dups — assert the
    // equality is not vacuous
    assert(full.nonEmpty)
  }

  test("pruned serveDelta == unpruned, and zero-hit probes classify all-new") {
    import spark.implicits._
    val d = docs()
    val dir = TempDirs.create("serveprune-delta")
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 4 === 0))
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 4 === 2))
    // arriving mixes exact dups (re-sent even docs) and novel odd docs
    val arriving = d.where(col("doc_id") % 4 === 0)
      .unionByName(d.where(col("doc_id") % 2 === 1))
    val pruned = withGate("0")(rows(SnapshotStore.serveDelta(
      spark, dir, arriving, col("text"), lit("s"))))
    val full = withGate("-1")(rows(SnapshotStore.serveDelta(
      spark, dir, arriving, col("text"), lit("s"))))
    assert(pruned == full && pruned.nonEmpty)
    // zero-hit: an all-novel probe must classify everything new and
    // read NO store component (hit set empty -> empty-frame scan)
    val novel = Seq((900001L, "x", "zz yy xx ww vv uu novel"),
      (900002L, "x", "qq rr ss tt different entirely"))
      .toDF("doc_id", "source", "text")
    val prunedNovel = withGate("0")(SnapshotStore.serveDelta(
      spark, dir, novel, col("text"), col("source")).collect())
    assert(prunedNovel.length == 1)
    val r = prunedNovel.head
    assert(r.getAs[Long]("n_docs") == 2 && r.getAs[Long]("n_new") == 2)
    // and a zero-hit near-dup probe returns the empty pair table
    val prunedNd = withGate("0")(
      SnapshotStore.serveNearDup(spark, dir, novel).collect())
    assert(prunedNd.isEmpty)
  }

  test("serve bytes flat in committed store size (disjoint probe)") {
    import spark.implicits._
    // the 100 TB property at task-metrics level: probing a store of 8
    // novel-content appends must read the same bytes as a store of 2 —
    // the probe pass reads only the ARRIVING side; zero sketch hits
    // mean zero store component bytes. Before r22 both serves unioned
    // EVERY committed component per probe.
    def freshDoc(i: Long) =
      Seq((i, "x", s"novel $i alpha ${i * 31} beta ${i * 17} gamma"))
        .toDF("doc_id", "source", "text")
    def build(n: Int): String = {
      val dir = TempDirs.create(s"serveprune-flat-$n")
      (0 until n).foreach(i =>
        SnapshotStore.append(spark, dir, freshDoc(i.toLong)))
      dir
    }
    val small = build(2)
    val large = build(8)
    val probe = freshDoc(5000L)
    withGate("0") {
      val bSmall = bytesRead(SnapshotStore.serveDelta(
        spark, small, probe, col("text"), col("source")).collect())
      val bLarge = bytesRead(SnapshotStore.serveDelta(
        spark, large, probe, col("text"), col("source")).collect())
      assert(bLarge <= bSmall + 2048,
        s"pruned serveDelta bytes grew with the store: $bSmall -> $bLarge")
      val nSmall = bytesRead(
        SnapshotStore.serveNearDup(spark, small, probe).collect())
      val nLarge = bytesRead(
        SnapshotStore.serveNearDup(spark, large, probe).collect())
      assert(nLarge <= nSmall + 2048,
        s"pruned serveNearDup bytes grew with the store: $nSmall -> $nLarge")
    }
  }

  test("legacy appends without sidecars fall back to must-scan (equal results)") {
    val d = docs()
    val dir = TempDirs.create("serveprune-legacy")
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 4 === 0))
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 4 === 2))
    // strip ONE append's entire sidecar — a pre-sketch-era append; it
    // must be unconditionally scanned, so matches inside it survive
    val aid = SnapshotStore.committedIds(spark, dir).head
    val summary = new java.io.File(s"$dir/appends/$aid/.summary")
    summary.listFiles().foreach(_.delete()); summary.delete()
    val arriving = d.where(col("doc_id") % 2 === 1)
    val pruned = withGate("0")(
      rows(SnapshotStore.serveNearDup(spark, dir, arriving)))
    val full = withGate("-1")(
      rows(SnapshotStore.serveNearDup(spark, dir, arriving)))
    assert(pruned == full && full.nonEmpty)
    val prunedD = withGate("0")(rows(SnapshotStore.serveDelta(
      spark, dir, arriving, col("text"), lit("s"))))
    val fullD = withGate("-1")(rows(SnapshotStore.serveDelta(
      spark, dir, arriving, col("text"), lit("s"))))
    assert(prunedD == fullD)
  }

  test("an unreadable sketch sidecar degrades to scan, never a crash (ADVICE r21)") {
    import spark.implicits._
    val dir = TempDirs.create("serveprune-garbage")
    val a = Seq((0L, "x", "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "source", "text")
    SnapshotStore.append(spark, dir, a)
    val aid = SnapshotStore.committedIds(spark, dir).head
    // overwrite every sidecar sketch with bytes no parser accepts (an
    // r20-era Spark BloomFilter file is one such foreign format)
    val sumDir = new java.io.File(s"$dir/appends/$aid/.summary")
    sumDir.listFiles().filter(_.getName.endsWith(".bloom")).foreach { f =>
      val w = new java.io.FileOutputStream(f)
      try w.write("not a sketch".getBytes("UTF-8")) finally w.close()
    }
    // a LATER stage/commit against this store must fall back to the
    // unpruned scan (r21 threw from StoreSketch.read's require) ...
    val b = Seq((1L, "x", "ii jj kk ll mm nn oo pp"))
      .toDF("doc_id", "source", "text")
    SnapshotStore.append(spark, dir, b)
    assert(SnapshotStore.committedIds(spark, dir).size == 2)
    // ... and a duplicate still gets REJECTED through the fallback scan
    val dup = Seq((0L, "x", "qq rr ss tt uu vv ww xx"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalStateException] {
      SnapshotStore.append(spark, dir, dup)
    }
    assert(e.getMessage.contains("rejected"))
    // ... and a forced-prune serve scans the garbage-sidecar append
    val served = withGate("0")(
      rows(SnapshotStore.serveDelta(spark, dir, a, col("text"), lit("s"))))
    val full = withGate("-1")(
      rows(SnapshotStore.serveDelta(spark, dir, a, col("text"), lit("s"))))
    assert(served == full)
  }

  test("sketch width envelope: conf past 2^31 rejected; 2^31 math is Int-safe") {
    import spark.implicits._
    // VERDICT r21 #2: the conf used to admit widths whose Int position
    // math breaks (AIOOBE inside tasks); now it fails fast
    val d = Seq((50L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    spark.conf.set(StoreSketch.CapConfKey, "32")
    try {
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.append(spark, TempDirs.create("serveprune-cap"), d)
      }
      assert(e.getMessage.contains(StoreSketch.CapConfKey))
    } finally spark.conf.unset(StoreSketch.CapConfKey)
    // the widest supported table: positions stay non-negative Ints end
    // to end (a 2^31-bit words array, added and probed without AIOOBE)
    val words = new Array[Long](1 << (31 - 6))
    val keys = (0 until 1000).map(i => s"boundary-key-$i")
    keys.foreach { k =>
      val (h1, h2) = StoreSketch.hash2(k)
      StoreSketch.addHashed(words, 31, h1, h2)
    }
    val sk = new StoreSketch(31, words)
    assert(keys.forall(sk.mightContain)) // no false negatives
    // and it folds to a small sidecar bit-identically to a small build
    val folded = sk.fold(12)
    assert(keys.forall(folded.mightContain))
    assert(intercept[IllegalArgumentException] {
      new StoreSketch(32, new Array[Long](1))
    }.getMessage.contains("out of range"))
  }

  test("gcOrphans invalidates the dir's cached component schemas (ADVICE r21)") {
    import spark.implicits._
    val dir = TempDirs.create("serveprune-schema")
    val a = Seq((0L, "en", "aa bb cc dd ee", 7))
      .toDF("doc_id", "lang", "text", "extra")
    SnapshotStore.append(spark, dir, a, persistDocs = true)
    assert(SnapshotStore.docs(spark, dir).columns.contains("extra"))
    // destroy the store and recreate one at the SAME path with a
    // DIFFERENT docs schema; the gc between them must drop the cached
    // StructType so the new store is re-inferred, not served stale
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    SnapshotStore.gcOrphans(spark, dir)
    val b = Seq((1L, "en", "ff gg hh ii jj"))
      .toDF("doc_id", "lang", "text")
    SnapshotStore.append(spark, dir, b, persistDocs = true)
    val cols = SnapshotStore.docs(spark, dir).columns.toSeq
    assert(!cols.contains("extra") && cols.contains("text"))
  }
}
