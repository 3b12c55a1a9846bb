package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** Curation.pipeline semantics on a hand-computable corpus: one doc per
  * stage policy, so each stage drops EXACTLY its own victim and the
  * per-stage (n_docs, n_tokens, corpus_xor) rows are derivable by hand
  * — including the stage-isolation property that a doc dropped at
  * stage k does not participate in stage k+1's index build. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Driver-side twin of the pipeline's 60-bit md5-prefix doc hash. */
  private def h60(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
  private def xorOf(ids: Seq[Long]): Long = ids.map(h60).fold(0L)(_ ^ _)

  // 24 quality-passing tokens: 21 unique 4-char tokens per prefix char
  // (so docs never collide) plus THREE trailing stopwords — the third
  // lets the near-dup victim replace the last token and still clear
  // the ≥2-stopword rule (n=24 in [20,1000]; len_sum=93 in [72,240];
  // max_len=4 ≤ 20; stop_hits=3)
  private def uniqToks(c: Char): Seq[String] =
    (0 until 21).map(i => f"$c${i}%02da") ++ Seq("the", "the", "the")

  private def docsOf(rows: (Long, String, Seq[String])*) = {
    import spark.implicits._
    rows.map { case (id, lang, ts) => (id, lang, ts.mkString(" ")) }
      .toDF("doc_id", "lang", "text")
  }

  /** (stage → (n_docs, n_tokens, corpus_xor)) */
  private def run(docs: org.apache.spark.sql.DataFrame,
                  bEn: Long = 1000000L, bOther: Long = 1000000L) = {
    import spark.implicits._
    Curation.pipeline(docs, bEn, bOther)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("each stage drops exactly its policy's victim; dropped docs don't index") {
    val a = uniqToks('a')
    val c = uniqToks('c')
    // shares c's first 8-token segment exactly, then all-new content
    val e = c.take(8) ++ (0 until 14).map(i => f"e${i}%02da") ++ Seq("the", "the")
    val corpus = docsOf(
      (0L, "en", a),                      // survives everything
      (1L, "en", a.reverse),              // fingerprint dup of 0 → stage 2
      (2L, "en", c),                      // survives everything
      (3L, "en", c.init :+ "zzzz"),       // 21/23 shingle-Jaccard with 2 → stage 3
      (4L, "en", e),                      // shares seg0 with 2: 2/3 < 90% → stage 4
      (5L, "en", Seq("too", "short")))    // fails the quality gate → stage 1
    val got = run(corpus)
    assert(got.size == 6)
    assert(got("0_input") == ((6L, 24L * 5 + 2, xorOf(Seq(0L, 1L, 2L, 3L, 4L, 5L)))))
    assert(got("1_quality") == ((5L, 120L, xorOf(Seq(0L, 1L, 2L, 3L, 4L)))))
    assert(got("2_exact_dedup") == ((4L, 96L, xorOf(Seq(0L, 2L, 3L, 4L)))))
    assert(got("3_near_dedup") == ((3L, 72L, xorOf(Seq(0L, 2L, 4L)))))
    // doc 3 (dropped at stage 3) shares c's segments but must NOT
    // participate in the stage-4 index: only doc 4's seg0 collides
    assert(got("4_segment_gate") == ((2L, 48L, xorOf(Seq(0L, 2L)))))
    // budgets >= actual → rate 1e6, bucket < 1e6 always: stage 5 no-op
    assert(got("5_mixture") == got("4_segment_gate"))
  }

  test("zero budget empties the mixture stage only (coalesced empty aggregates)") {
    val corpus = docsOf((0L, "en", uniqToks('a')), (1L, "fr", uniqToks('c')))
    val got = run(corpus, bEn = 0L, bOther = 0L)
    assert(got("4_segment_gate") == ((2L, 48L, xorOf(Seq(0L, 1L)))))
    assert(got("5_mixture") == ((0L, 0L, 0L)))
  }

  test("reordered duplicate keeps the minimum doc id") {
    val a = uniqToks('a')
    // reorder arrives FIRST by id: keep 0, drop 1 regardless of order
    val corpus = docsOf((0L, "en", a.reverse), (1L, "en", a))
    val got = run(corpus)
    assert(got("2_exact_dedup") == ((1L, 24L, xorOf(Seq(0L)))))
  }

  test("packPipeline chops the stage-5 survivors at their curated offsets (n81)") {
    import spark.implicits._
    val a = uniqToks('a')
    val c = uniqToks('c')
    // all three docs survive every gate (unique content, quality-passing,
    // budgets >= actual); survivors concat per lang in doc_id order
    val corpus = docsOf((0L, "en", a), (2L, "en", c), (1L, "fr", uniqToks('d')))
    def packs(budget: Int) =
      Curation.packPipeline(corpus, 1000000L, 1000000L, packTokens = budget)
        .as[(String, Long, Long, Long)].collect().toSet
    // budget 20 < doc size 24: en doc 0 starts at offset 0 -> pack 0,
    // en doc 2 starts at offset 24 -> pack 1; fr restarts at 0
    assert(packs(20) == Set(("en", 0L, 1L, 24L), ("en", 1L, 1L, 24L),
      ("fr", 0L, 1L, 24L)))
    // budget 512: one pack per lang; totals must equal the report's
    // stage-5 row (the packer consumes exactly the curated corpus)
    assert(packs(512) == Set(("en", 0L, 2L, 48L), ("fr", 0L, 1L, 24L)))
    val stage5 = run(corpus)("5_mixture")
    assert(packs(512).toSeq.map(_._4).sum == stage5._2)
    assert(packs(512).toSeq.map(_._3).sum == stage5._1)
  }

  test("pack manifest is arrival-order independent (repartition invariance)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Curation.packPipeline(df, 5000L, 2500L)
        .as[(String, Long, Long, Long)].collect().toSet
    val base = manifest(docs)
    assert(base.nonEmpty)
    // the per-lang orderBy(doc_id) window must yield the same chop no
    // matter how the input was partitioned or ordered on arrival
    assert(manifest(docs.repartition(7)) == base)
    assert(manifest(docs.orderBy(org.apache.spark.sql.functions.col("text"))) == base)
  }

  test("every trained gate is one parquet scan: the lineage is cut") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.execution.exchange.Exchange
    val a = uniqToks('a')
    val g = Curation.trainGates(docsOf((0L, "en", a), (1L, "en", a.reverse),
      (2L, "fr", uniqToks('c'))), 1000000L, 1000000L)
    // a gate left lazy would embed its derivation (and every earlier
    // gate's) in each consumer's plan and re-run the LSH pass per job
    for ((nm, df) <- Seq("firsts" -> g.firsts, "losers" -> g.losers,
        "retention" -> g.retention, "rates" -> g.rates)) {
      val plan = df.queryExecution.executedPlan
      val leaves = plan.collectLeaves()
      assert(leaves.size == 1, s"$nm: $plan")
      assert(leaves.head.collectFirst { case s: FileSourceScanExec =>
        s.relation.fileFormat.isInstanceOf[ParquetFileFormat] }.contains(true),
        s"$nm: $plan")
      assert(plan.collect { case e: Exchange => e }.isEmpty, s"$nm: $plan")
    }
  }

  test("streamed serving from materialized gates == the batch pipeline (s34)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Long)].collect().toSet
    // gates train batch-side, are written as parquet, and flag the
    // SAME corpus arriving as a stream — the drained report must equal
    // the one-query batch pipeline row for row
    val streamed = rows(graft.streaming.StreamQueries.streamCurationServe(
      spark, graft.streaming.StreamQueries.documentsStream(spark, sf),
      docs, 5000L, 2500L))
    val batch = rows(Curation.pipeline(docs, 5000L, 2500L))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("snapshot gate drops cross-snapshot exact+fp dups, then curation (n87)") {
    import spark.implicits._
    val a = uniqToks('a')
    val c = uniqToks('c')
    val oldSnap = docsOf((100L, "en", a))
    val corpus = docsOf(
      (1L, "en", a),            // exact dup of old 100 → snapshot gate
      (3L, "en", a.reverse),    // fp dup of old 100 → snapshot gate
      (5L, "en", c),            // survives everything
      (7L, "en", c.reverse),    // fp dup of 5 WITHIN the new snapshot:
                                //   survives the CROSS-snapshot gate,
                                //   dropped by curation stage 3 (labels
                                //   shifted: exact dedup = 3_exact_dedup)
      (9L, "en", Seq("too", "short"))) // quality gate (2_quality)
    val got = Curation.snapshotPipeline(oldSnap, corpus, 1000000L, 1000000L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 7)
    assert(got("0_input") == ((5L, 24L * 4 + 2, xorOf(Seq(1L, 3L, 5L, 7L, 9L)))))
    // cross-snapshot gate: 1 (exact) and 3 (fingerprint) drop;
    // 7 (fp dup of a NEW doc, not an old one) survives
    assert(got("1_snapshot") == ((3L, 50L, xorOf(Seq(5L, 7L, 9L)))))
    assert(got("2_quality") == ((2L, 48L, xorOf(Seq(5L, 7L)))))
    assert(got("3_exact_dedup") == ((1L, 24L, xorOf(Seq(5L)))))
    assert(got("4_near_dedup") == got("3_exact_dedup"))
    assert(got("5_segment_gate") == got("3_exact_dedup"))
    assert(got("6_mixture") == got("3_exact_dedup")) // budget ≥ actual
  }

  test("streamed snapshot-gated serving == the batch snapshotPipeline (s40)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Long)].collect().toSet
    val streamed = rows(
      graft.streaming.StreamQueries.streamSnapshotCurationServe(spark,
        graft.streaming.StreamQueries.documentsStream(spark, sf)
          .where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), 2500L, 1250L))
    val batch = rows(Curation.snapshotPipeline(
      docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1), 2500L, 1250L))
    assert(streamed.size == 7)
    assert(streamed == batch)
  }
}
