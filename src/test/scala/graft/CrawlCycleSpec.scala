package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, md5}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{Curation, Dedup, SnapshotStore}

/** The closed crawl cycle (n91): applying [[Curation.cycleAppend]]
  * twice leaves the SAME store as a from-scratch rebuild from the
  * curated union — every component, row for row — and the next probe
  * sees exactly what the cycles committed. */
class CrawlCycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def snap(i: Int) = docs.where(col("doc_id") % 3 === i)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // the store's own component registry — every component, including
  // the persisted curated corpus (docs); a component added to the
  // store is automatically covered by these comparisons
  private val components = SnapshotStore.Components
  private def readComp(d: String, comp: String): org.apache.spark.sql.DataFrame =
    SnapshotStore.componentByName(spark, d, comp)

  // budgets above the chunk token volume: stage 5 keeps every stage-4
  // survivor, maximizing cross-cycle duplicate coverage (the declared
  // n91 query exercises LIVE budgets; this spec proves composition)
  private val bEn = 1000000L
  private val bOther = 1000000L

  test("cycle applied twice == rebuild from the curated union") {
    val dir = TempDirs.create("crawl-cycle-inc")
    val c1 = Curation.cycleAppend(spark, dir, snap(0), bEn, bOther)
    val c2 = Curation.cycleAppend(spark, dir, snap(1), bEn, bOther)
    assert(c1.count() > 0 && c2.count() > 0)

    // the parts composed BY HAND: curate snapshot 0 standalone, apply
    // the policy to snapshot 1 against cycle 1's curated digests,
    // curate the survivors, rebuild a store from the curated union.
    // Curating = gates trained on the kept frame, that frame flagged
    // against them, stage-5 survivors — no snapshot gate in the cascade
    def curated(kept: DataFrame): DataFrame =
      Curation.flags(kept, Curation.trainGates(kept, bEn, bOther))
        .where(col("pass5"))
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint()
    val cur1 = curated(snap(0))
    val kept2 = Dedup.applySnapshotPolicy(snap(1),
      cur1.select(md5(col("text")).as("h")).distinct(),
      cur1.select(Text.fingerprint(col("text")).as("fp")).distinct(),
      col("text"))
    // the policy must BITE for the equality to be non-vacuous: some
    // snapshot-1 doc duplicates a curated snapshot-0 survivor
    assert(kept2.count() < snap(1).count(),
      "policy dropped nothing — cross-chunk dup coverage is vacuous")
    val cur2 = curated(kept2.localCheckpoint())
    assert(rows(c1) == rows(cur1) && rows(c2) == rows(cur2))

    val dir2 = TempDirs.create("crawl-cycle-rebuild")
    SnapshotStore.append(spark, dir2, cur1.unionByName(cur2),
      persistDocs = true)
    for (comp <- components)
      assert(rows(readComp(dir, comp)) == rows(readComp(dir2, comp)),
        s"component $comp differs")

    // ...and the NEXT probe sees the accumulated curated corpus: the
    // store-served classification of snapshot 2 equals the inline
    // classification against the curated union
    assert(rows(SnapshotStore.serveDelta(spark, dir, snap(2),
        col("text"), col("source"))) ==
      rows(Dedup.snapshotDelta(cur1.unionByName(cur2), snap(2),
        col("text"), col("source"))))
  }

  test("a mid-cycle compaction is invisible to the cycle") {
    // compaction between increments must not change what the next
    // cycle's policy drops, what its gates train on, or what the
    // final probe answers — cycle 2 consumes the compacted store's
    // digests for BOTH its policy gate and its append anti-joins
    val dirA = TempDirs.create("crawl-cycle-compacted")
    val dirB = TempDirs.create("crawl-cycle-uncompacted")
    for (d <- Seq(dirA, dirB))
      Curation.cycleAppend(spark, d, snap(0), bEn, bOther)
    SnapshotStore.compact(spark, dirA)
    assert(SnapshotStore.gcOrphans(spark, dirA).nonEmpty)
    for (d <- Seq(dirA, dirB))
      Curation.cycleAppend(spark, d, snap(1), bEn, bOther)
    for (comp <- components)
      assert(rows(readComp(dirA, comp)) == rows(readComp(dirB, comp)),
        s"component $comp differs after a mid-cycle compaction")
    assert(rows(SnapshotStore.serveDelta(spark, dirA, snap(2),
        col("text"), col("source"))) ==
      rows(SnapshotStore.serveDelta(spark, dirB, snap(2),
        col("text"), col("source"))))
  }

  test("a LIVE cycleAppend racing a compaction: both land, probe equals serial") {
    // the r18 ask beyond SnapshotStoreSpec's subset-compact arithmetic:
    // an actual cycleAppend commits WHILE compact runs against the
    // pre-race ids — the compactor's publish loop must preserve the
    // racer's append, the racer's commit must retry past the
    // compactor's version claim, and the next probe must equal a
    // store built serially with no compaction at all
    val dir = TempDirs.create("crawl-race")
    Curation.cycleAppend(spark, dir, snap(0), bEn, bOther)
    val ids0 = SnapshotStore.committedIds(spark, dir)
    @volatile var err: Throwable = null
    def guarded(body: => Unit): Thread =
      new Thread(() => try body catch { case t: Throwable => err = t })
    val tAppend = guarded(
      Curation.cycleAppend(spark, dir, snap(1), bEn, bOther))
    val tCompact = guarded(SnapshotStore.compact(spark, dir, Some(ids0)))
    tAppend.start(); tCompact.start()
    tAppend.join(); tCompact.join()
    assert(err == null, s"racer failed: $err")
    // both landed: one compacted id + the cycle's append id
    val ids = SnapshotStore.committedIds(spark, dir)
    assert(ids.size == 2 && ids.exists(_.startsWith("compact-")), ids)
    assert(ids0.forall(id => !ids.contains(id)))
    val ref = TempDirs.create("crawl-race-ref")
    Curation.cycleAppend(spark, ref, snap(0), bEn, bOther)
    Curation.cycleAppend(spark, ref, snap(1), bEn, bOther)
    for (comp <- components)
      assert(rows(readComp(dir, comp)) == rows(readComp(ref, comp)),
        s"component $comp differs from the serial build after the race")
    assert(rows(SnapshotStore.serveDelta(spark, dir, snap(2),
        col("text"), col("source"))) ==
      rows(SnapshotStore.serveDelta(spark, ref, snap(2),
        col("text"), col("source"))))
  }
}
