package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural budgets of the costliest query shapes, counted with
  * [[QueryProfile]] over one cold-cache run (construction plus a noop
  * write of the full output — the unit `graft.Bench` times) at sf0.001.
  *
  * Job and stage counts hold still where walls swing, so these bounds
  * are the regression gate for the fixed per-query floor: a change that
  * adds a job to one of these shapes fails here. The bounds are the
  * counts measured when the spec was written; work that cuts the floor
  * lowers them. */
class ProfileBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** query -> (max jobs, max completed stages). s42 measures 105/106 on
    * most runs and 107/108 on some: adaptive execution re-plans while
    * concurrent stages finish, and the order they finish in decides
    * whether two extra broadcast jobs run. Its bound is the higher
    * count. */
  private val budgets = Seq(
    "s42_stream_crawl_increment" -> (107, 108),
    "n95_compacted_replay_serve" -> (34, 34),
    "n93_compacted_store_serve" -> (34, 34),
    "s38_store_snapshot_neardup" -> (14, 15),
    "s39_store_snapshot_delta" -> (12, 13),
    "n76_ivfpq_ann" -> (55, 55),
    "n90_snapshot_chain_delta" -> (21, 21),
    "s40_stream_snapshot_curation" -> (46, 46),
    "s09_stream_fanout" -> (16, 16),
    "s10_stream_upsert" -> (15, 15),
    // the events reader (batch with ts pushdown, and stream) and the two
    // shingle-join shapes: maxima over three cold runs
    "p10_refresh_probe" -> (3, 3),
    "s02_stream_window" -> (3, 4),
    "n02_dedup_jaccard" -> (5, 5),
    "n63_containment_prefix" -> (9, 9),
    // write-audit-publish over the versioned manifest: the maximum over
    // three cold runs
    "p29_write_audit_publish" -> (12, 12))

  budgets.foreach { case (q, (maxJobs, maxStages)) =>
    test(s"$q stays within its job and stage budget") {
      graft.sources.Tables.clearCaches()
      val (_, p) = QueryProfile.of(spark).measure(
        SparkEntry.queries(q)(spark, sf)
          .write.mode("overwrite").format("noop").save())
      assert(p.jobs.size <= maxJobs, s"$q ran ${p.jobs.size} jobs:\n" +
        p.jobs.map(_.desc).mkString("\n"))
      assert(p.stages <= maxStages, s"$q completed ${p.stages} stages")
    }
  }
}
