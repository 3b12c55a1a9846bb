package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, MinHashLsh, SnapshotStore}

/** SnapshotStore contracts: appending a corpus in chunks yields the
  * SAME store as a from-scratch rebuild (every component, row for
  * row), and serving from the store equals the inline operators. */
class SnapshotStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docs(dir: String) =
    spark.read.parquet(s"$dir/documents.parquet")
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("append across 3 snapshot chunks == from-scratch rebuild") {
    val d = docs(sf).where(col("doc_id") % 2 === 0)
    val chunks = Seq(
      d.where(col("doc_id") % 6 === 0),
      d.where(col("doc_id") % 6 === 2),
      d.where(col("doc_id") % 6 === 4))
    val incDir = TempDirs.create("snapstore-inc")
    chunks.foreach(c => SnapshotStore.append(spark, incDir, c))
    val allDir = TempDirs.create("snapstore-all")
    SnapshotStore.append(spark, allDir, d)
    // per-doc components: identical row multisets
    assert(rows(SnapshotStore.sets(spark, incDir)) ==
      rows(SnapshotStore.sets(spark, allDir)))
    assert(rows(SnapshotStore.bands(spark, incDir)) ==
      rows(SnapshotStore.bands(spark, allDir)))
    // distinct-digest components: the anti-join keeps the one-row-
    // per-distinct-value invariant across appends (the fixtures DO
    // contain cross-chunk duplicate content — assert the test bites)
    val digInc = SnapshotStore.digests(spark, incDir)
    assert(digInc.count() == digInc.distinct().count())
    assert(rows(digInc) == rows(SnapshotStore.digests(spark, allDir)))
    val fpInc = SnapshotStore.fps(spark, incDir)
    assert(fpInc.count() == fpInc.distinct().count())
    assert(rows(fpInc) == rows(SnapshotStore.fps(spark, allDir)))
  }

  test("cross-chunk duplicate content never duplicates a digest row") {
    import spark.implicits._
    // the same text arrives in all 3 appends — the anti-join must keep
    // exactly one digest/fp row (a duplicated index row would fan out
    // every later probe join)
    val chunks = Seq(
      Seq((0L, "x", "aa bb cc"), (2L, "x", "dd ee xx")),
      Seq((4L, "x", "aa bb cc"), (6L, "x", "ff gg yy")),
      Seq((8L, "x", "aa bb cc"), (10L, "x", "cc bb aa"))) // + fp-only dup
      .map(_.toDF("doc_id", "source", "text"))
    val dir = TempDirs.create("snapstore-dupdig")
    chunks.foreach(c => SnapshotStore.append(spark, dir, c))
    val dig = SnapshotStore.digests(spark, dir)
    assert(dig.count() == 4) // aa-bb-cc, dd-ee, ff-gg, cc-bb-aa
    assert(dig.count() == dig.distinct().count())
    val fp = SnapshotStore.fps(spark, dir)
    assert(fp.count() == 3) // cc-bb-aa fingerprints equal to aa bb cc
    assert(fp.count() == fp.distinct().count())
    // sets/bands stay per-doc: 6 docs, 6 set rows
    assert(SnapshotStore.sets(spark, dir).count() == 6)
  }

  test("a crash between staging and commit leaves the previous manifest") {
    import spark.implicits._
    val a = Seq((0L, "x", "aa bb cc dd ee"), (2L, "x", "ff gg hh ii jj"))
      .toDF("doc_id", "source", "text")
    val b = Seq((1L, "x", "kk ll mm nn oo")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-crash")
    SnapshotStore.append(spark, dir, a)
    val before = (rows(SnapshotStore.sets(spark, dir)),
      rows(SnapshotStore.digests(spark, dir)))
    // simulated crash: the append staged every component but died
    // before the manifest rename — readers must see the old store
    val orphan = SnapshotStore.stage(spark, dir, b)
    assert((rows(SnapshotStore.sets(spark, dir)),
      rows(SnapshotStore.digests(spark, dir))) == before)
    assert(SnapshotStore.committedIds(spark, dir).size == 1)
    // recovery = retry the commit of the staged id (or re-append and
    // GC the orphan); after it the new rows are visible
    SnapshotStore.commit(spark, dir, orphan)
    assert(SnapshotStore.committedIds(spark, dir).size == 2)
    assert(SnapshotStore.sets(spark, dir).count() == 3)
  }

  test("gcOrphans: the grace rule protects an in-flight stage; aged orphans sweep") {
    import spark.implicits._
    val a = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val b = Seq((1L, "x", "kk ll mm nn oo")).toDF("doc_id", "source", "text")
    val c = Seq((2L, "x", "pp qq rr ss tt")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-gc")
    SnapshotStore.append(spark, dir, a)
    // an IN-FLIGHT stage (fresh .INFLIGHT marker) survives a racing
    // sweep at the default grace — the r18 contract, now enforced —
    // and its commit still lands afterwards
    val inflight = SnapshotStore.stage(spark, dir, b)
    assert(SnapshotStore.gcOrphans(spark, dir).isEmpty)
    SnapshotStore.commit(spark, dir, inflight)
    assert(SnapshotStore.sets(spark, dir).count() == 2)
    // a CRASHED stage (marker aged past grace — grace 0 here) is
    // reclaimed, and only it
    val orphan = SnapshotStore.stage(spark, dir, c)
    assert(SnapshotStore.gcOrphans(spark, dir, graceMs = 0) == Seq(orphan))
    assert(SnapshotStore.gcOrphans(spark, dir, graceMs = 0).isEmpty) // idempotent
    // the committed appends are untouched and still serve
    assert(SnapshotStore.sets(spark, dir).count() == 2)
  }

  test("commit audit rejects a stale-staged overlapping append") {
    import spark.implicits._
    val x = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val y = Seq((1L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-reject")
    // stage y against the EMPTY store (its digest delta is the full
    // set), then let a racing append commit the same content first:
    // y's staged delta now overlaps the committed digests and the
    // audit must reject it instead of duplicating an index row
    val stale = SnapshotStore.stage(spark, dir, y)
    SnapshotStore.append(spark, dir, x)
    val e = intercept[IllegalStateException] {
      SnapshotStore.commit(spark, dir, stale)
    }
    assert(e.getMessage.contains("rejected"))
    // manifest untouched by the rejected commit; invariant holds
    assert(SnapshotStore.committedIds(spark, dir).size == 1)
    val dig = SnapshotStore.digests(spark, dir)
    assert(dig.count() == 1 && dig.count() == dig.distinct().count())
  }

  test("racing non-overlapping commits both land (versioned-manifest retry)") {
    import spark.implicits._
    // the r17 lost-append race, interleaved deterministically: A and B
    // both stage against the EMPTY store (each reads version 0), B's
    // commit wins MANIFEST.v1; A's in-flight publish with its STALE
    // read must FAIL (create-if-absent), and A's commit retry must
    // re-read, re-audit against B's rows and land in v2 — under the
    // overwrite-rename protocol A's manifest would have dropped B's id
    val a = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val b = Seq((1L, "x", "kk ll mm nn oo")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-race")
    val aidA = SnapshotStore.stage(spark, dir, a)
    val aidB = SnapshotStore.stage(spark, dir, b)
    SnapshotStore.commit(spark, dir, aidB) // B wins v1
    // A's stale publish attempt (derived from version 0) loses cleanly
    assert(!SnapshotStore.publishOnce(spark, dir, Seq(aidA), Map.empty, 1L))
    SnapshotStore.commit(spark, dir, aidA) // the retry path: v2 = B, A
    assert(SnapshotStore.committedIds(spark, dir).toSet == Set(aidA, aidB))
    assert(SnapshotStore.sets(spark, dir).count() == 2)
    val dig = SnapshotStore.digests(spark, dir)
    assert(dig.count() == 2 && dig.count() == dig.distinct().count())
  }

  test("threaded concurrent commits: every disjoint append lands exactly once") {
    import spark.implicits._
    val dir = TempDirs.create("snapstore-threads")
    val aids = (0 until 3).map { i =>
      SnapshotStore.stage(spark, dir,
        Seq((i.toLong, "x", s"t$i u$i v$i w$i z$i"))
          .toDF("doc_id", "source", "text"))
    }
    val threads = aids.map { aid =>
      new Thread(() => SnapshotStore.commit(spark, dir, aid))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(SnapshotStore.committedIds(spark, dir).sorted == aids.sorted)
    val dig = SnapshotStore.digests(spark, dir)
    assert(dig.count() == 3 && dig.count() == dig.distinct().count())
  }

  test("publishOnce: exactly one of many racing writers claims a version") {
    // create-if-absent is the whole optimistic-concurrency protocol: a
    // second "winner" would overwrite the first's manifest and lose its
    // append, and a torn publish would leave a manifest no reader parses
    val dir = TempDirs.create("snapstore-publish-race")
    (1 to 300).foreach { v =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val won = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 8).map { w =>
        new Thread(() => {
          start.await()
          if (SnapshotStore.publishOnce(spark, dir, Seq(s"v$v-w$w"),
              Map.empty, v.toLong)) won.add(s"v$v-w$w")
          ()
        })
      }
      threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
      assert(won.size == 1, s"version $v claimed by $won")
      assert(SnapshotStore.currentManifest(spark, dir).ids == Seq(won.peek))
    }
  }

  test("re-committing an already-committed id is a no-op, never destructive") {
    import spark.implicits._
    // ADVICE r17: a crash-after-publish retry used to re-audit, see the
    // id's own committed digests as self-overlap, and DELETE the
    // published append directory while the manifest still listed it —
    // silently losing the rows. Idempotent commit must leave the store
    // byte-identical and serving.
    val a = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-idem")
    val aid = SnapshotStore.append(spark, dir, a)
    val before = (SnapshotStore.committedIds(spark, dir),
      rows(SnapshotStore.digests(spark, dir)),
      rows(SnapshotStore.sets(spark, dir)))
    SnapshotStore.commit(spark, dir, aid) // recovery retry — no-op
    assert((SnapshotStore.committedIds(spark, dir),
      rows(SnapshotStore.digests(spark, dir)),
      rows(SnapshotStore.sets(spark, dir))) == before)
  }

  test("committing a never-staged id refuses instead of publishing a dangling id") {
    import spark.implicits._
    val a = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-dangling")
    SnapshotStore.append(spark, dir, a)
    intercept[IllegalArgumentException] {
      SnapshotStore.commit(spark, dir, "append-no-such-id")
    }
    assert(SnapshotStore.committedIds(spark, dir).size == 1)
  }

  test("compact rewrites the store into one append, row-identical, old dirs GC'd") {
    val d = docs(sf).where(col("doc_id") % 2 === 0)
    val dir = TempDirs.create("snapstore-compact")
    val aids = Seq(
      d.where(col("doc_id") % 6 === 0),
      d.where(col("doc_id") % 6 === 2),
      d.where(col("doc_id") % 6 === 4))
      .map(c => SnapshotStore.append(spark, dir, c))
    val before = Seq(SnapshotStore.sets(spark, dir),
      SnapshotStore.bands(spark, dir), SnapshotStore.digests(spark, dir),
      SnapshotStore.fps(spark, dir)).map(rows)
    val b = docs(sf).where(col("doc_id") % 2 === 1)
    val servedBefore = rows(SnapshotStore.serveNearDup(spark, dir, b))
    val cid = SnapshotStore.compact(spark, dir)
    assert(SnapshotStore.committedIds(spark, dir) == Seq(cid))
    val after = Seq(SnapshotStore.sets(spark, dir),
      SnapshotStore.bands(spark, dir), SnapshotStore.digests(spark, dir),
      SnapshotStore.fps(spark, dir)).map(rows)
    assert(after == before)
    assert(rows(SnapshotStore.serveNearDup(spark, dir, b)) == servedBefore)
    // superseded append dirs are unlisted now — gcOrphans reclaims them
    assert(SnapshotStore.gcOrphans(spark, dir).toSet == aids.toSet)
    assert(Seq(SnapshotStore.sets(spark, dir),
      SnapshotStore.bands(spark, dir), SnapshotStore.digests(spark, dir),
      SnapshotStore.fps(spark, dir)).map(rows) == before)
  }

  test("subset compact preserves appends outside its sources (racer-append shape)") {
    import spark.implicits._
    // compacting ids captured BEFORE a racing append must keep the
    // racer's id in the published manifest — the same arithmetic the
    // publish loop applies when an append lands mid-compaction
    val chunks = Seq(
      Seq((0L, "x", "aa bb cc dd ee")), Seq((1L, "x", "ff gg hh ii jj")),
      Seq((2L, "x", "kk ll mm nn oo")))
      .map(_.toDF("doc_id", "source", "text"))
    val dir = TempDirs.create("snapstore-subset")
    val aids = chunks.map(c => SnapshotStore.append(spark, dir, c))
    val before = rows(SnapshotStore.digests(spark, dir))
    val cid = SnapshotStore.compact(spark, dir, Some(aids.take(2)))
    assert(SnapshotStore.committedIds(spark, dir) == Seq(cid, aids(2)))
    assert(rows(SnapshotStore.digests(spark, dir)) == before)
    assert(SnapshotStore.sets(spark, dir).count() == 3)
    // appends keep working against the compacted store
    SnapshotStore.append(spark, dir,
      Seq((3L, "x", "pp qq rr ss tt")).toDF("doc_id", "source", "text"))
    assert(SnapshotStore.sets(spark, dir).count() == 4)
  }

  test("a pinned snapshot is immune to later commits (reader isolation)") {
    val d = docs(sf).where(col("doc_id") % 2 === 0)
    val dir = TempDirs.create("snapstore-isolation")
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 6 === 0))
    val pinned = SnapshotStore.snapshot(spark, dir)
    val digestsAtPin = rows(pinned.digests(spark))
    val setsAtPin = rows(pinned.sets(spark))
    // a later append AND a compaction land...
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 6 === 2))
    SnapshotStore.compact(spark, dir)
    // ...the CURRENT view moved (version and content)...
    val current = SnapshotStore.snapshot(spark, dir)
    assert(current.version > pinned.version)
    assert(rows(current.digests(spark)) != digestsAtPin)
    // ...but the pinned snapshot still reads exactly its own version:
    // committed append dirs are immutable and publishing never deletes
    // them (only gcOrphans does — the documented grace-period rule)
    assert(rows(pinned.digests(spark)) == digestsAtPin)
    assert(rows(pinned.sets(spark)) == setsAtPin)
  }

  test("store-served near-dup delta == inline snapshotNearDupPairs") {
    val a = docs(sf).where(col("doc_id") % 2 === 0)
    val b = docs(sf).where(col("doc_id") % 2 === 1)
    val dir = TempDirs.create("snapstore-serve")
    SnapshotStore.append(spark, dir, a)
    val served = SnapshotStore.serveNearDup(spark, dir, b)
    val inline = MinHashLsh.snapshotNearDupPairs(a, b)
    assert(rows(served) == rows(inline))
    assert(served.count() > 0, "no cross-snapshot near-dups in fixture — equality vacuous")
  }

  test("store-served delta classification == inline snapshotDelta") {
    val a = docs(sf).where(col("doc_id") % 2 === 0)
    val b = docs(sf).where(col("doc_id") % 2 === 1)
    val dir = TempDirs.create("snapstore-delta")
    SnapshotStore.append(spark, dir, a)
    val served = SnapshotStore.serveDelta(spark, dir, b,
      col("text"), col("source"))
    val inline = Dedup.snapshotDelta(a, b, col("text"), col("source"))
    assert(rows(served) == rows(inline))
  }

  test("zero-hit serve probes classify all-new and return no near-dup pairs") {
    import spark.implicits._
    val d = docs(sf)
    val dir = TempDirs.create("snapstore-zero-hit")
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 4 === 0))
    SnapshotStore.append(spark, dir, d.where(col("doc_id") % 4 === 2))
    val novel = Seq((900001L, "x", "zz yy xx ww vv uu novel"),
      (900002L, "x", "qq rr ss tt different entirely"))
      .toDF("doc_id", "source", "text")
    val delta = SnapshotStore.serveDelta(
      spark, dir, novel, col("text"), col("source")).collect()
    assert(delta.length == 1)
    val r = delta.head
    assert(r.getAs[Long]("n_docs") == 2 && r.getAs[Long]("n_new") == 2)
    assert(SnapshotStore.serveNearDup(spark, dir, novel).collect().isEmpty)
  }

  test("an unreadable sketch sidecar degrades to scan, never a crash (ADVICE r21)") {
    import spark.implicits._
    val dir = TempDirs.create("snapstore-garbage-sidecar")
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
  }

  test("a store recreated at one path reads its own docs schema (ADVICE r21)") {
    import spark.implicits._
    val dir = TempDirs.create("serveprune-schema")
    val a = Seq((0L, "en", "aa bb cc dd ee", 7))
      .toDF("doc_id", "lang", "text", "extra")
    SnapshotStore.append(spark, dir, a, persistDocs = true)
    assert(SnapshotStore.docs(spark, dir).columns.contains("extra"))
    // destroy the store and recreate one at the SAME path with a
    // DIFFERENT docs schema: each read takes its schema from the
    // component's own footer, so the new store is never served the old
    // store's StructType
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

  test("no store read, compact or audited commit runs a schema-inference job") {
    import spark.implicits._
    // a schema-inference job is the footer-read RDD job `spark.read
    // .parquet` launches without a schema: call site "parquet at ...",
    // outside any SQL execution
    def inferenceJobs(body: => Unit): Seq[QueryProfile.Job] =
      QueryProfile.of(spark).measure(body)._2.jobs
        .filter(j => j.desc.startsWith("parquet at") && j.execution.isEmpty)
    val dir = TempDirs.create("snapstore-no-inference")
    val a = Seq((0L, "en", "aa bb cc dd ee ff"), (1L, "de", "gg hh ii jj kk"))
      .toDF("doc_id", "lang", "text")
    val b = Seq((2L, "en", "ll mm nn oo pp qq")).toDF("doc_id", "lang", "text")
    SnapshotStore.append(spark, dir, a, persistDocs = true)
    SnapshotStore.append(spark, dir, b, persistDocs = true)
    // the detector bites: an unschema'd read of a store component infers
    val aid = SnapshotStore.committedIds(spark, dir).head
    assert(inferenceJobs(
      spark.read.parquet(s"$dir/appends/$aid/sets").collect()).nonEmpty)
    val reads = inferenceJobs {
      SnapshotStore.gcOrphans(spark, dir)
      Seq(SnapshotStore.sets(spark, dir), SnapshotStore.bands(spark, dir),
        SnapshotStore.docs(spark, dir)).foreach(_.collect())
      SnapshotStore.compact(spark, dir)
      SnapshotStore.gcOrphans(spark, dir)
      Seq(SnapshotStore.sets(spark, dir), SnapshotStore.bands(spark, dir),
        SnapshotStore.docs(spark, dir)).foreach(_.collect())
      // a committed did hits the staged one: the commit scan-confirms it
      // against the compacted sets and docs, and rejects
      val dup = Seq((2L, "en", "rr ss tt uu vv ww")).toDF("doc_id", "lang", "text")
      val e = intercept[IllegalStateException] {
        SnapshotStore.append(spark, dir, dup, persistDocs = true)
      }
      assert(e.getMessage.contains("rejected"))
    }
    assert(reads.isEmpty, reads.map(_.desc).mkString("\n"))
  }

  private def allComponents(dir: String): Seq[Seq[String]] =
    Seq(SnapshotStore.sets(spark, dir), SnapshotStore.bands(spark, dir),
      SnapshotStore.digests(spark, dir), SnapshotStore.fps(spark, dir))
      .map(rows)

  test("a replayed keyed append that was compacted away no-ops (tombstone)") {
    import spark.implicits._
    // the r18 data-corruption hazard: keyed append → compact → gc →
    // replay. Without the tombstone the replayed id looks uncommitted
    // and appendAs would double-append its sets/bands rows.
    val b0 = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val b1 = Seq((1L, "x", "ff gg hh ii jj")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-tombstone")
    assert(SnapshotStore.appendAs(spark, dir, "append-d1-b0", b0))
    assert(SnapshotStore.appendAs(spark, dir, "append-d1-b1", b1))
    val cid = SnapshotStore.compact(spark, dir)
    assert(SnapshotStore.gcOrphans(spark, dir).toSet ==
      Set("append-d1-b0", "append-d1-b1"))
    val before = allComponents(dir)
    // the replay (crash between store commit and checkpoint commit,
    // then a compaction before the restart) must change NOTHING
    assert(!SnapshotStore.appendAs(spark, dir, "append-d1-b1", b1))
    assert(SnapshotStore.committedIds(spark, dir) == Seq(cid))
    assert(allComponents(dir) == before)
    // ...and a replayed COMMIT of the tombstoned id is a no-op too
    SnapshotStore.commit(spark, dir, "append-d1-b1")
    assert(allComponents(dir) == before)
  }

  test("commit audit rejects an overlapping doc id (distinct-dids contract enforced)") {
    import spark.implicits._
    // same doc id, DIFFERENT text: the digest/fp audits are blind to
    // it, but two sets/bands rows for one did would fan out every
    // probe join — r18 demanded the left-semi on did; here it bites
    val x = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val y = Seq((0L, "x", "ff gg hh ii jj")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-didclash")
    val stale = SnapshotStore.stage(spark, dir, y)
    SnapshotStore.append(spark, dir, x)
    val e = intercept[IllegalStateException] {
      SnapshotStore.commit(spark, dir, stale)
    }
    assert(e.getMessage.contains("rejected") && e.getMessage.contains("sets"))
    assert(SnapshotStore.committedIds(spark, dir).size == 1)
    assert(SnapshotStore.sets(spark, dir).count() == 1)
  }

  test("short-doc did duplicates are rejected through the docs component audit") {
    import spark.implicits._
    // a doc below the 3-token shingle width never reaches sets, so the
    // sets-only did audit would let two appends land rows for one did
    // in the docs component (r19 review finding) — the shared did
    // namespace over sets AND docs catches it
    val x = Seq((0L, "en", "aa bb")).toDF("doc_id", "lang", "text")
    val y = Seq((0L, "en", "cc dd")).toDF("doc_id", "lang", "text")
    val dir = TempDirs.create("snapstore-shortdoc")
    SnapshotStore.append(spark, dir, x, persistDocs = true)
    val stale = SnapshotStore.stage(spark, dir, y, persistDocs = true)
    val e = intercept[IllegalStateException] {
      SnapshotStore.commit(spark, dir, stale)
    }
    assert(e.getMessage.contains("rejected") && e.getMessage.contains("docs"))
    assert(SnapshotStore.docs(spark, dir).count() == 1)
  }

  test("a pinned snapshot over reclaimed dirs fails LOUDLY, never partially") {
    import spark.implicits._
    // ADVICE r18: GC racing a pinned reader used to silently drop the
    // reclaimed dirs from the scan (partial rows). Now: dir absent ⇒
    // stale-snapshot error; dir present but empty stays a legal delta.
    val a = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val b = Seq((1L, "x", "ff gg hh ii jj")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-stale")
    SnapshotStore.append(spark, dir, a)
    SnapshotStore.append(spark, dir, b)
    val pinned = SnapshotStore.snapshot(spark, dir)
    SnapshotStore.compact(spark, dir)
    SnapshotStore.gcOrphans(spark, dir) // reclaims the dirs pinned references
    val e = intercept[IllegalStateException] { pinned.digests(spark) }
    assert(e.getMessage.contains("STALE"))
    // the CURRENT snapshot still serves everything
    assert(SnapshotStore.digests(spark, dir).count() == 2)
  }

  test("gcOrphans trims manifest history; tombstones survive the trim") {
    import spark.implicits._
    val dir = TempDirs.create("snapstore-manifests")
    (0 until 5).foreach { i =>
      SnapshotStore.appendAs(spark, dir, s"append-d1-b$i",
        Seq((i.toLong, "x", s"t$i u$i v$i w$i z$i"))
          .toDF("doc_id", "source", "text"))
    }
    def manifestFiles(): Int = {
      val d = new java.io.File(dir)
      d.listFiles().count(_.getName.matches("""MANIFEST\.v\d+"""))
    }
    assert(manifestFiles() == 5) // one per commit, unbounded before gc
    SnapshotStore.compact(spark, dir)
    SnapshotStore.gcOrphans(spark, dir, keepManifests = 2)
    assert(manifestFiles() == 2)
    // the surviving current manifest still carries ids AND tombstones:
    // the store serves, and a replayed keyed id still no-ops
    assert(SnapshotStore.sets(spark, dir).count() == 5)
    assert(!SnapshotStore.appendAs(spark, dir, "append-d1-b3",
      Seq((3L, "x", "t3 u3 v3 w3 z3")).toDF("doc_id", "source", "text")))
    assert(SnapshotStore.sets(spark, dir).count() == 5)
  }

  test("invalid append ids refuse at staging time (manifest-format safety)") {
    import spark.implicits._
    // ADVICE r19: a '#'-leading id would commit, then silently vanish
    // from Manifest.ids on the next read (parsed as a tombstone or
    // comment line), orphaning its committed rows; newlines corrupt
    // the manifest; path separators nest the dir outside gc's listing
    val d = Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text")
    val dir = TempDirs.create("snapstore-badid")
    Seq("#tombstone x", "a\nb", "a\rb", ".hidden", "a/b", "a\\b", "",
      " padded", "MANIFEST.v3").foreach { bad =>
      intercept[IllegalArgumentException] {
        SnapshotStore.appendAs(spark, dir, bad, d)
      }
    }
    assert(SnapshotStore.committedIds(spark, dir).isEmpty)
    // a plain free-text id (spaces inside are fine) still works
    assert(SnapshotStore.appendAs(spark, dir, "dump 2024 01", d))
    assert(SnapshotStore.committedIds(spark, dir) == Seq("dump 2024 01"))
  }

  test("tombstone retention drops aged tombstones; in-horizon replays still no-op") {
    import spark.implicits._
    val dir = TempDirs.create("snapstore-tsretention")
    (0 until 3).foreach { i =>
      SnapshotStore.appendAs(spark, dir, s"append-d1-b$i",
        Seq((i.toLong, "x", s"t$i u$i v$i w$i z$i"))
          .toDF("doc_id", "source", "text"))
    }
    SnapshotStore.compact(spark, dir) // v4: tombstones @4 for b0..b2
    val before = allComponents(dir)
    // retention window still covers the tombstones' creation version:
    // nothing is dropped, and a replayed keyed append still no-ops
    SnapshotStore.gcOrphans(spark, dir, tombstoneRetention = Some(100L))
    assert(!SnapshotStore.appendAs(spark, dir, "append-d1-b1",
      Seq((1L, "x", "t1 u1 v1 w1 z1")).toDF("doc_id", "source", "text")))
    assert(allComponents(dir) == before)
    // age the chain past the horizon with fresh commits, then trim:
    // the tombstone lines leave the manifest (bounded manifest growth)
    (3 until 6).foreach { i =>
      SnapshotStore.appendAs(spark, dir, s"append-d2-b$i",
        Seq((i.toLong, "x", s"t$i u$i v$i w$i z$i"))
          .toDF("doc_id", "source", "text"))
    }
    SnapshotStore.gcOrphans(spark, dir, tombstoneRetention = Some(3L))
    val m = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("""MANIFEST\.v\d+"""))
      .maxBy(_.getName.drop(10).toLong)
    val lines = scala.io.Source.fromFile(m, "UTF-8").getLines().toVector
    assert(!lines.exists(_.startsWith("#tombstone")),
      s"aged tombstones should be trimmed, manifest still has: $lines")
    // the store still serves every committed row
    assert(SnapshotStore.sets(spark, dir).count() == 6)
  }

  test("audit pruning: duplicate did vs an OLD append is still rejected (bloom path)") {
    import spark.implicits._
    // the r20 pruned audit must keep FULL detection power against
    // appends far older than the staging baseline: the did contract
    // has no staging anti-join, so it audits against every committed
    // append through its did bloom — a duplicate did three appends
    // back must still scan-confirm and reject
    val dir = TempDirs.create("snapstore-prune-did")
    (0 until 3).foreach { i =>
      SnapshotStore.append(spark, dir,
        Seq((i.toLong, "x", s"t$i u$i v$i w$i z$i"))
          .toDF("doc_id", "source", "text"))
    }
    val dup = Seq((0L, "x", "qq rr ss tt uu")) // did 0 = oldest append's
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalStateException] {
      SnapshotStore.append(spark, dir, dup)
    }
    assert(e.getMessage.contains("rejected") && e.getMessage.contains("sets"))
    assert(SnapshotStore.sets(spark, dir).count() == 3)
  }

  test("audit pruning: a sketch-less committed append falls back to a full did scan") {
    import spark.implicits._
    // appends committed before the .summary sidecar existed have no
    // did bloom — the audit must scan them unconditionally rather
    // than assume no conflict
    val dir = TempDirs.create("snapstore-prune-legacy")
    SnapshotStore.append(spark, dir,
      Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text"))
    val aid = SnapshotStore.committedIds(spark, dir).head
    // simulate a pre-summary append: delete its sidecar
    val summary = new java.io.File(s"$dir/appends/$aid/.summary")
    summary.listFiles().foreach(_.delete()); summary.delete()
    val dup = Seq((0L, "x", "ff gg hh ii jj"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalStateException] {
      SnapshotStore.append(spark, dir, dup)
    }
    assert(e.getMessage.contains("rejected"))
    assert(SnapshotStore.sets(spark, dir).count() == 1)
  }

  test("pruned audit: no-race commit reads O(delta) bytes, flat in committed appends") {
    import spark.implicits._
    // the r20 scale property itself, observed at the task-metrics
    // level: a no-race COMMIT against a store of N committed appends
    // must read the same bytes as against a store of 2 — the digest/fp
    // audit scans racers (none: the baseline covers every committed
    // id) and the did audit scans bloom-hit appends (none for novel
    // dids), so the only read is the staged delta the sketch-test job
    // consumes. Before r20 the audit's build side unioned EVERY
    // committed component, so commit bytes grew with the store.
    // (The STAGE anti-join still reads the committed digest/fp
    // components by design — stage is measured out of scope here.)
    def bytesRead(body: => Unit): Long =
      QueryProfile.of(spark).measure(body)._2.inputBytes
    def freshDoc(i: Long) =
      Seq((i, "x", s"novel $i alpha ${i * 31} beta ${i * 17} gamma"))
        .toDF("doc_id", "source", "text")
    def build(nAppends: Int): String = {
      val dir = TempDirs.create(s"snapstore-flatbytes-$nAppends")
      (0 until nAppends).foreach(i =>
        SnapshotStore.append(spark, dir, freshDoc(i.toLong)))
      dir
    }
    val small = build(2)
    val large = build(8)
    val aidS = SnapshotStore.stageAs(spark, small, "probe-append",
      freshDoc(1000L))
    val aidL = SnapshotStore.stageAs(spark, large, "probe-append",
      freshDoc(1000L))
    val bytesSmall = bytesRead(SnapshotStore.commit(spark, small, aidS))
    val bytesLarge = bytesRead(SnapshotStore.commit(spark, large, aidL))
    // identical staged payloads ⇒ identical delta-sized reads; allow
    // slack for footer/metadata jitter, never for a per-append scan
    // (each committed one-row append adds multiple KB of components)
    assert(bytesLarge <= bytesSmall + 2048,
      s"no-race commit bytes grew with committed appends: " +
        s"$bytesSmall -> $bytesLarge")
  }

  test("pruned staging: no-race stage bytes flat in committed appends (r21)") {
    import spark.implicits._
    // the r21 scale property, the stage-side twin of the commit one
    // below: STAGING a disjoint novel delta into a store of N committed
    // appends must read the same bytes as into a store of 2 — the
    // digest/fp anti-join runs only against sketch-hit appends (none
    // for novel content), so the only reads are the staged delta's own
    // bytes (sketch pass + candidate writes). Before r21 the staging
    // anti-join's build side unioned EVERY committed digest/fp
    // component, so stage bytes grew with the store.
    def bytesRead(body: => Unit): Long =
      QueryProfile.of(spark).measure(body)._2.inputBytes
    def freshDoc(i: Long) =
      Seq((i, "x", s"novel $i alpha ${i * 31} beta ${i * 17} gamma"))
        .toDF("doc_id", "source", "text")
    def build(nAppends: Int): String = {
      val dir = TempDirs.create(s"snapstore-stageflat-$nAppends")
      (0 until nAppends).foreach(i =>
        SnapshotStore.append(spark, dir, freshDoc(i.toLong)))
      dir
    }
    val small = build(2)
    val large = build(8)
    val bytesSmall = bytesRead(
      SnapshotStore.stageAs(spark, small, "probe-append", freshDoc(2000L)))
    val bytesLarge = bytesRead(
      SnapshotStore.stageAs(spark, large, "probe-append", freshDoc(2000L)))
    assert(bytesLarge <= bytesSmall + 2048,
      s"no-hit stage bytes grew with committed appends: " +
        s"$bytesSmall -> $bytesLarge")
  }

  test("sidecar sketches cover every on-disk staged key (sidecar == disk)") {
    import spark.implicits._
    val d = Seq((0L, "en", "aa bb cc dd ee ff gg"),
      (1L, "en", "hh ii jj kk ll mm nn"))
      .toDF("doc_id", "lang", "text")
    val dir = TempDirs.create("snapstore-sidecar-disk")
    val aid = SnapshotStore.append(spark, dir, d, persistDocs = true)
    val base = s"$dir/appends/$aid"
    def sketch(name: String) = {
      val in = new java.io.FileInputStream(s"$base/.summary/$name")
      try graft.operators.StoreSketch.read(in) finally in.close()
    }
    val did = sketch("did.bloom")
    val dig = sketch("digest.bloom")
    val fp = sketch("fp.bloom")
    // every key on disk must hit its family sketch (no false negatives
    // = the covering property pruning soundness rests on); the digest
    // sketch may additionally cover pre-anti-join candidates
    val dids = spark.read.parquet(s"$base/sets").select("did").collect()
      .map(_.get(0).toString) ++
      spark.read.parquet(s"$base/docs").select("did").collect()
        .map(_.get(0).toString)
    assert(dids.nonEmpty && dids.forall(did.mightContain))
    val hs = spark.read.parquet(s"$base/digests").collect().map(_.getString(0))
    assert(hs.nonEmpty && hs.forall(dig.mightContain))
    val fpsK = spark.read.parquet(s"$base/fps").collect().map(_.getString(0))
    assert(fpsK.nonEmpty && fpsK.forall(fp.mightContain))
    // the sidecar set is a format: a new file here is a deliberate
    // on-disk change (dot-files are the local filesystem's checksums)
    assert(new java.io.File(s"$base/.summary").list()
      .filterNot(_.startsWith(".")).toSet ==
      Set("baseline", "did.hits", "did.bloom", "digest.bloom", "fp.bloom"))
  }

  test("compact equality audit detects a corrupted rewrite (r21 one-job form)") {
    import spark.implicits._
    // the r21 audit replaces per-component count+EXCEPT ALL with one
    // grouped-count compare — prove it still BITES: equal multisets
    // pass, a dropped row, a duplicated row and a mutated row each fail
    val dir = TempDirs.create("snapstore-audit-bite")
    val src = s"$dir/src"
    Seq((1L, "a"), (2L, "b"), (2L, "b"), (3L, "c")).toDF("did", "v")
      .write.parquet(src)
    def stage(rows: Seq[(Long, String)], name: String): String = {
      val base = s"$dir/$name"
      rows.toDF("did", "v").write.parquet(s"$base/sets")
      base
    }
    val ok = stage(Seq((2L, "b"), (1L, "a"), (3L, "c"), (2L, "b")), "ok")
    val dropped = stage(Seq((1L, "a"), (2L, "b"), (3L, "c")), "dropped")
    val duped = stage(Seq((1L, "a"), (2L, "b"), (2L, "b"), (2L, "b"),
      (3L, "c")), "duped")
    val mutated = stage(Seq((1L, "a"), (2L, "b"), (2L, "X"), (3L, "c")),
      "mutated")
    val srcPaths = Map("sets" -> Seq(src))
    assert(SnapshotStore.auditCompactEquality(spark, ok, srcPaths).isEmpty)
    Seq(dropped, duped, mutated).foreach { base =>
      assert(SnapshotStore.auditCompactEquality(spark, base, srcPaths)
        .contains("sets"), s"audit failed to bite on $base")
    }
  }

  test("manifest publish -> parse roundtrips ids and versioned tombstones exactly") {
    // the manifest IS the store's commit log: any id or tombstone that
    // fails to roundtrip through publishOnce -> currentManifest either
    // orphans committed rows (id lost) or re-appends on replay
    // (tombstone lost). Exercise the valid-id space the r20 validation
    // admits — free text incl. interior spaces, '@', unicode — and
    // refuse any `#` line that is not a versioned tombstone.
    val ids = Seq("append-d1-b0", "dump 2024 01", "a@b@7", "Ünïcodé-ид",
      "x" * 64, "trailing-at @5") // '@5' inside an ID line is literal
    val tombs = Map("compacted-old" -> 3L, "w eird @t" -> 12L)
    val dir = TempDirs.create("snapstore-roundtrip")
    assert(SnapshotStore.publishOnce(spark, dir, ids, tombs, 1L))
    val m1 = SnapshotStore.currentManifest(spark, dir)
    assert(m1.version == 1L && m1.ids == ids && m1.tombstones == tombs)
    // a later publish carries everything forward verbatim
    assert(SnapshotStore.publishOnce(spark, dir, m1.ids :+ "next",
      m1.tombstones + ("late" -> 2L), 2L))
    val m2 = SnapshotStore.currentManifest(spark, dir)
    assert(m2.ids == ids :+ "next" &&
      m2.tombstones == tombs + ("late" -> 2L))
    // an unversioned tombstone line is not a format this store writes:
    // the read throws, naming the file and the line
    val legacy = new java.io.FileWriter(s"$dir/MANIFEST.v3")
    legacy.write("id-a\n#tombstone legacy-id\n")
    legacy.close()
    val e = intercept[IllegalStateException] {
      SnapshotStore.currentManifest(spark, dir)
    }
    assert(e.getMessage.contains("MANIFEST.v3") &&
      e.getMessage.contains("#tombstone legacy-id"))
  }

  test("commit refuses a staging without its baseline or did.hits summary") {
    import spark.implicits._
    val dir = TempDirs.create("snapstore-no-summary")
    SnapshotStore.append(spark, dir,
      Seq((0L, "x", "aa bb cc dd ee")).toDF("doc_id", "source", "text"))
    val before = SnapshotStore.committedIds(spark, dir)
    Seq("baseline", "did.hits").zipWithIndex.foreach { case (f, i) =>
      val aid = SnapshotStore.stageAs(spark, dir, s"staged-$i",
        Seq((i + 1L, "x", s"ff gg hh ii $i")).toDF("doc_id", "source", "text"))
      assert(new java.io.File(s"$dir/appends/$aid/.summary/$f").delete())
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.commit(spark, dir, aid)
      }
      assert(e.getMessage.contains(s".summary/$f"), e.getMessage)
      assert(SnapshotStore.committedIds(spark, dir) == before)
    }
  }

  test("persistDocs stores the corpus increment; append==rebuild; compact keeps it") {
    val d = docs(sf).where(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val chunks = Seq(d.where(col("doc_id") % 8 === 0),
      d.where(col("doc_id") % 8 === 4))
    val incDir = TempDirs.create("snapstore-docs-inc")
    chunks.foreach(c =>
      SnapshotStore.append(spark, incDir, c, persistDocs = true))
    val allDir = TempDirs.create("snapstore-docs-all")
    SnapshotStore.append(spark, allDir, d, persistDocs = true)
    // the docs component IS the input corpus (id renamed did), and
    // appending chunks equals the one-shot rebuild
    assert(rows(SnapshotStore.docs(spark, incDir)) ==
      rows(d.withColumnRenamed("doc_id", "did")))
    assert(rows(SnapshotStore.docs(spark, incDir)) ==
      rows(SnapshotStore.docs(spark, allDir)))
    // compaction rewrites docs with the other components, row-equal
    val before = rows(SnapshotStore.docs(spark, incDir))
    SnapshotStore.compact(spark, incDir)
    SnapshotStore.gcOrphans(spark, incDir)
    assert(rows(SnapshotStore.docs(spark, incDir)) == before)
    // appends WITHOUT persistDocs stay legal alongside (absent docs
    // component dirs are skipped, not stale)
    SnapshotStore.append(spark, incDir,
      docs(sf).where(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("lang"), col("text")))
    assert(rows(SnapshotStore.docs(spark, incDir)) == before)
  }
}
