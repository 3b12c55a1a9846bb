package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.AtomicBucketStore

/** Proves the atomic-commit contract of the s10 upsert sink's store
  * (VERDICT r5–r7 carry-over: the former dynamic-partition overwrite
  * deleted live bucket files before the replacements were durable, so a
  * crash mid-overwrite exposed a half-written bucket to readers).
  *
  * The store's whole safety argument is ONE fact: claiming the next
  * manifest version is the commit, and until it happens nothing a writer
  * does is visible. The crash-simulation tests construct exactly the
  * on-disk states a crash can leave — generation fully written but no
  * version claimed; manifest temporary half-written — and assert a
  * reader sees the old, fully-consistent bucket set in each. The racing
  * test lines writers up on one version and requires every update to
  * land; the GC tests pin that replaced buckets outlive one more commit.
  */
class AtomicBucketStoreSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark

  private def kv(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v").withColumn("bucket", pmod(col("k"), lit(4)))
  }

  private def readSorted(root: String): Seq[(Long, String)] =
    AtomicBucketStore.readAll(spark, root).toSeq
      .flatMap(_.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))))
      .sorted

  private def write(root: String, buckets: Seq[Long], df: => DataFrame): String =
    AtomicBucketStore.writeGeneration(spark, root, buckets)(_ => df)

  test("empty store: no manifest, no paths, no frame") {
    val root = TempDirs.create("abs-empty")
    assert(AtomicBucketStore.readManifest(spark, root).isEmpty)
    AtomicBucketStore.writeGeneration(spark, root, Seq(0L, 1L)) { paths =>
      assert(paths.isEmpty)
      kv(Seq.empty)
    }
    assert(AtomicBucketStore.readManifest(spark, root).isEmpty)
    assert(AtomicBucketStore.readAll(spark, root).isEmpty)
  }

  test("write → commit → read roundtrip; untouched buckets survive a second generation") {
    val root = TempDirs.create("abs-rt")
    // gen 1: buckets 0 (k=0,4) and 1 (k=1)
    write(root, Seq(0L, 1L), kv(Seq(0L -> "a", 4L -> "b", 1L -> "c")))
    assert(readSorted(root) == Seq((0L, "a"), (1L, "c"), (4L, "b")))
    // gen 2 touches ONLY bucket 0; bucket 1 must keep its gen-1 entry
    write(root, Seq(0L), kv(Seq(0L -> "A", 4L -> "B")))
    assert(readSorted(root) == Seq((0L, "A"), (1L, "c"), (4L, "B")))
    val mf = AtomicBucketStore.readManifest(spark, root)
    assert(mf.keySet == Set(0L, 1L))
    assert(mf(0L) != mf(1L).split("/")(0) + "/bucket=0") // moved generation
  }

  test("CRASH before manifest rename: fully-written orphan generation is invisible") {
    val root = TempDirs.create("abs-crash1")
    write(root, Seq(0L, 1L), kv(Seq(0L -> "old", 1L -> "old1")))
    val before = readSorted(root)
    val mfBefore = AtomicBucketStore.readManifest(spark, root)
    // simulate: a writer completed the generation write and died before
    // claiming the next manifest version
    kv(Seq(0L -> "NEW")).write.mode("error")
      .partitionBy("bucket").parquet(s"$root/gen-crashed-before-commit")
    assert(AtomicBucketStore.readManifest(spark, root) == mfBefore,
      "manifest changed without a commit")
    assert(readSorted(root) == before, "reader saw uncommitted generation data")
    assert(AtomicBucketStore.readManifest(spark, root).values
      .forall(!_.contains("gen-crashed-before-commit")))
  }

  test("CRASH mid-manifest-write: a half-written MANIFEST.tmp is invisible") {
    val root = TempDirs.create("abs-crash2")
    write(root, Seq(2L, 3L), kv(Seq(2L -> "x", 3L -> "y")))
    val before = readSorted(root)
    // simulate: writer died while streaming its claim's temporary
    Files.writeString(Paths.get(root, s".MANIFEST.tmp-${java.util.UUID.randomUUID()}"),
      "2\tgen-torn/buck")
    assert(readSorted(root) == before, "reader resolved through a tmp manifest")
    // and a subsequent healthy commit claims the next version past it
    write(root, Seq(2L), kv(Seq(2L -> "x2")))
    assert(readSorted(root) == Seq((2L, "x2"), (3L, "y")))
  }

  test("GC trails by one commit") {
    // a replaced generation survives the next commit and is gone after
    // the one after; a drained generation shell goes with its last bucket
    val root = TempDirs.create("abs-gc")
    val gen1 = write(root, Seq(0L), kv(Seq(0L -> "a")))
    val gen2 = write(root, Seq(0L), kv(Seq(0L -> "b")))
    assert(Files.exists(Paths.get(root, gen1, "bucket=0")),
      "the replaced bucket dir must outlive the commit that replaced it")
    val gen3 = write(root, Seq(0L), kv(Seq(0L -> "c")))
    assert(!Files.exists(Paths.get(root, gen1, "bucket=0")), "replaced bucket dir not GC'd")
    assert(!Files.exists(Paths.get(root, gen1)), "drained generation shell not GC'd")
    assert(Files.exists(Paths.get(root, gen2, "bucket=0")))
    assert(Files.exists(Paths.get(root, gen3, "bucket=0")))
    assert(readSorted(root) == Seq((0L, "c")))
  }

  test("a reader that resolved the store before one more commit still reads") {
    val root = TempDirs.create("abs-reader")
    write(root, Seq(0L, 1L), kv(Seq(0L -> "a", 1L -> "b")))
    val reader = AtomicBucketStore.readAll(spark, root).get
    write(root, Seq(0L), kv(Seq(0L -> "A")))
    assert(reader.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((0L, "a"), (1L, "b")))
    assert(readSorted(root) == Seq((0L, "A"), (1L, "b")))
  }

  test("touched-but-empty bucket is dropped from the manifest, not pointed at a missing dir") {
    val root = TempDirs.create("abs-empty-bucket")
    write(root, Seq(0L, 1L), kv(Seq(0L -> "a", 1L -> "b")))
    // bucket 1 declared touched but df has no rows for it → the merge
    // decided bucket 1 is now empty; its entry must disappear
    write(root, Seq(0L, 1L), kv(Seq(0L -> "a2")))
    assert(AtomicBucketStore.readManifest(spark, root).keySet == Set(0L))
    // the regression this pins: readAll must not throw on a manifest
    // entry whose directory was never created (ADVICE r7 #3)
    assert(readSorted(root) == Seq((0L, "a2")))
  }

  test("manifest round-trips through commit byte-exactly") {
    val root = TempDirs.create("abs-mf")
    val s = spark
    import s.implicits._
    val gen = write(root, Seq(0L, 7L, 15L),
      Seq((0L, "a", 0L), (7L, "b", 7L), (15L, "c", 15L)).toDF("k", "v", "bucket"))
    val m = Map(0L -> s"$gen/bucket=0", 7L -> s"$gen/bucket=7", 15L -> s"$gen/bucket=15")
    assert(AtomicBucketStore.readManifest(spark, root) == m)
    val lines = Files.readAllLines(Paths.get(root, "MANIFEST.v1")).asScala
    assert(lines == Seq(s"0\t$gen/bucket=0", s"7\t$gen/bucket=7", s"15\t$gen/bucket=15"))
  }

  test("racing writers on one version commit disjoint buckets without a lost update") {
    val root = TempDirs.create("abs-race")
    write(root, Seq(3L), kv(Seq(3L -> "base")))
    val writers = Seq(0L, 1L, 2L)
    // every writer's first merge waits until all have resolved version 1
    val lined = new java.util.concurrent.CountDownLatch(writers.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers.size)
    try {
      val runs = writers.map { b =>
        pool.submit(() => AtomicBucketStore.writeGeneration(spark, root, Seq(b)) { paths =>
          lined.countDown()
          assert(lined.await(60, java.util.concurrent.TimeUnit.SECONDS))
          kv(Seq(b -> s"w$b"))
        })
      }
      runs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(readSorted(root) == Seq((0L, "w0"), (1L, "w1"), (2L, "w2"), (3L, "base")))
    // one claimed version per commit: none shared, none skipped
    assert(ManifestLog.latest(spark, root)._1 == 1 + writers.size)
  }
}
