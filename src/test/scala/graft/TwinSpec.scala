package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bloom, CountMin, Hll, KmvAgg, Text}
import graft.operators._
import graft.sources.Tables
import graft.streaming.StreamQueries

/** Batch/stream duality, checked: every s-query either drains one
  * operator its batch twin shares (`shared` below) or sits in the
  * `StreamQueries` header's table with its reason. For each shared one:
  *  - the operator's analyzed plan over the batch reader equals its
  *    plan over the stream reader once the leaf relations are masked;
  *  - running the s-query drains a plan that contains it, so a stream
  *    body that stops calling the operator fails here;
  *  - the batch twin, where one runs it over the same input, contains
  *    it too. A twin named `None` shares the operator with no batch
  *    query over the same input (a model or store the stream side
  *    checkpoints, or a batch build that writes before it serves). */
class TwinSpec extends AnyFunSuite {
  import TwinSpec._

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val events = Reader(Tables.events, StreamQueries.eventsStream)
  private val docs = Reader(Tables.documents, StreamQueries.documentsStream)
  private val emb = Reader(Tables.embeddings, StreamQueries.embeddingsStream)

  private def pairSample(d: DataFrame) = SparkEntry.sampled(d, "doc_id")
  private def odd(d: DataFrame) = d.where(col("doc_id") % 2 === 1)
  private def even(d: DataFrame) = d.where(col("doc_id") % 2 === 0)
  private def store(s: SparkSession, old: DataFrame): String = {
    val dir = TempDirs.create("twin-store")
    SnapshotStore.append(s, dir, old)
    dir
  }

  private val shared: Map[String, Twin] = Map(
    "s01_stream_counts" -> Twin(Some("p12_event_counts"), events,
      (_, _) => StreamQueries.typeCounts),
    "s08_stream_pipeline" -> Twin(Some("p09_pipeline_e2e"), docs,
      (s, _) => Pipeline.announcements(s, _, RuleClassifier.rulesDim(s))),
    "s09_stream_fanout" -> Twin(Some("p09_pipeline_e2e"), docs,
      (s, _) => Pipeline.announcements(s, _, RuleClassifier.rulesDim(s))),
    "s13_stream_ann" -> Twin(Some("n05_ann_threshold"), emb,
      (_, _) => Similarity.aboveThreshold(_, 0.2)),
    "s15_stream_kmv" -> Twin(Some("n40_kmv_distinct"), docs,
      (_, _) => KmvAgg.rollupPlan),
    "s20_stream_frames" -> Twin(Some("n50_gif_frames"), docs,
      (_, _) => Multimodal.gifFrames),
    "s21_stream_cms" -> Twin(Some("n43_cms_heavy_hitters"), docs,
      (_, _) => d => CountMin.sketch(
        d.select(explode(Text.tokens(col("text"))).as("tok")), 3, 32)),
    "s23_stream_quantiles" -> Twin(Some("a29_exact_quantiles"), docs,
      (_, _) => DocStats.tokenHistogram),
    "s24_stream_quality_gate" -> Twin(Some("n66_gopher_quality"), docs,
      (_, _) => DocStats.gopherGate),
    "s25_stream_length_buckets" -> Twin(Some("n68_length_buckets"), docs,
      (_, _) => DocStats.lengthBuckets),
    "s26_stream_bloom_decontam" -> Twin(Some("n44_bloom_decontaminate"), docs,
      (s, d) => Bloom.decontaminate(Tables.documents(s, d), _)),
    "s27_stream_dsir_score" -> Twin(Some("n60_dsir_weight"), docs,
      (s, d) => Dsir.score(_, Dsir.ratioModel(Tables.documents(s, d)))),
    "s28_stream_audio_stats" -> Twin(Some("n71_audio_pcm_stats"), docs,
      (_, _) => Multimodal.audioPcmStats),
    "s29_stream_segment_dedup" -> Twin(Some("n73_segment_dedup"), docs,
      (_, _) => d => Dedup.firstOccurrences(Dedup.segmentsOf(d, 8))),
    "s30_stream_bpe_encode" -> Twin(Some("n58_bpe_encode"), docs,
      (s, d) => Bpe.encode(_, Bpe.encodedVocab(Tables.documents(s, d), 3))),
    "s31_stream_pq_encode" -> Twin(None, emb, (s, d) => {
      val (model, _) = Pq.train(Tables.embeddings(s, d))
      e => Pq.assignAll(Pq.prepare(e), model)
    }),
    "s32_stream_hll" -> Twin(Some("n77_hll_distinct"), docs,
      (_, _) => Hll.registersPlan),
    "s33_stream_ivf_index" -> Twin(None, emb, (s, d) => {
      val (codebooks, _) = Pq.train(Tables.embeddings(s, d))
      IvfPq.encodeAgainst(_, codebooks)
    }),
    "s34_stream_curation" -> Twin(Some("n80_curation_pipeline"), docs, (s, d) => {
      val gates = Curation.trainGates(SparkEntry.pairDocs(s, d),
        SparkEntry.CurBudgetEn, SparkEntry.CurBudgetOther)
      r => Curation.flags(pairSample(r), gates)
    }),
    "s35_stream_boilerplate" -> Twin(Some("n82_boilerplate_strip"), docs,
      (_, _) => d => Dedup.segmentDocFreq(Dedup.distinctSegmentsOf(d, 8))),
    "s36_stream_snapshot_delta" -> Twin(None, docs, (s, d) => {
      val (aMd5, aFp) = Dedup.snapshotIndexes(even(Tables.documents(s, d)), col("text"))
      val (md5Idx, fpIdx) = (aMd5.localCheckpoint(), aFp.localCheckpoint())
      r => Dedup.applySnapshotDelta(odd(r), md5Idx, fpIdx, col("text"), col("source"))
    }),
    "s37_stream_snapshot_neardup" -> Twin(None, docs, (s, d) => {
      val setsA = MinHashLsh.setsOf(even(SparkEntry.pairDocs(s, d))).localCheckpoint()
      val bandsA = MinHashLsh.banded(setsA).localCheckpoint()
      r => MinHashLsh.probeIndex(bandsA, setsA, odd(pairSample(r)))
    }),
    "s38_store_snapshot_neardup" -> Twin(None, docs, (s, d) => {
      val dir = store(s, even(SparkEntry.pairDocs(s, d)))
      r => SnapshotStore.serveNearDup(s, dir, odd(pairSample(r)))
    }),
    "s39_store_snapshot_delta" -> Twin(None, docs, (s, d) => {
      val dir = store(s, even(Tables.documents(s, d)))
      r => SnapshotStore.serveDelta(s, dir, odd(r), col("text"), col("source"))
    }),
    "s40_stream_snapshot_curation" -> Twin(None, docs, (s, d) => {
      val pd = SparkEntry.pairDocs(s, d)
      val (aMd5, aFp) = Dedup.snapshotIndexes(even(pd), col("text"))
      val seen = Some((aMd5.localCheckpoint(), aFp.localCheckpoint()))
      val gates = Curation.trainGates(odd(pd),
        SparkEntry.CurBudgetEn / 2, SparkEntry.CurBudgetOther / 2, seen)
      r => Curation.flags(odd(pairSample(r)), gates, seen)
    }),
    "s41_stream_snapshot_neardup_update" -> Twin(None, docs, (s, d) => {
      val setsA = MinHashLsh.setsOf(even(SparkEntry.pairDocs(s, d))).localCheckpoint()
      val bandsA = MinHashLsh.banded(setsA).localCheckpoint()
      r => MinHashLsh.probeIndex(bandsA, setsA, odd(pairSample(r)))
    }),
    "s42_stream_crawl_increment" -> Twin(None, docs, (s, d) => {
      val pd = SparkEntry.pairDocs(s, d)
      val dir = TempDirs.create("twin-crawl")
      Curation.cycleAppend(s, dir, pd.where(col("doc_id") % 3 === 0),
        SparkEntry.CurBudgetEn / 3, SparkEntry.CurBudgetOther / 3)
      val st = SnapshotStore.snapshot(s, dir)
      val seen = Some((st.digests(s), st.fps(s)))
      val gates = Curation.trainGates(pd.where(col("doc_id") % 3 === 1),
        SparkEntry.CurBudgetEn / 3, SparkEntry.CurBudgetOther / 3, seen)
      r => Curation.survivors(pairSample(r).where(col("doc_id") % 3 === 1), gates, seen)
    }))

  /** The `StreamQueries` header table: s-query name -> reason. */
  private lazy val notShared: Map[String, String] = {
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/streaming/StreamQueries.scala", "UTF-8")
    val Row = """\s*\*\s+(s\d\d_\w+)\s+\|\s*(.*)""".r
    try src.getLines().takeWhile(!_.startsWith("object StreamQueries"))
      .collect { case Row(q, why) => q -> why.trim }.toMap
    finally src.close()
  }

  /** An analyzed plan with every leaf relation replaced by a bare
    * relation over its output and expression ids dropped: the operator
    * tree, whichever reader, checkpoint or store file fed it. */
  private def masked(p: LogicalPlan): String =
    p.transformUp { case l: LeafNode => LocalRelation(l.output) }
      .treeString.replaceAll("#\\d+", "#").replaceAll("(lambda \\w+?)_\\d+#", "$1_#")

  private def contains(p: LogicalPlan, op: String): Boolean =
    p.find(n => masked(n) == op).isDefined

  /** The analyzed plans of the streaming queries started while `body`
    * runs. A local listener hears the start synchronously, while the
    * query is still listed as active. */
  private def drained(body: => Unit): Seq[LogicalPlan] = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        plans.add(spark.streams.get(e.id).asInstanceOf[StreamingQueryWrapper]
          .streamingQuery.analyzedPlan)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try body finally spark.streams.removeListener(l)
    plans.asScala.toSeq
  }

  test("every s-query is shared or in the StreamQueries header table, never both") {
    val sQueries = SparkEntry.queries.keySet.filter(_.startsWith("s"))
    val unclassified = sQueries.filterNot(q => shared.contains(q) || notShared.contains(q))
    assert(unclassified.isEmpty,
      s"s-queries neither shared nor in the StreamQueries header table: ${unclassified.toSeq.sorted}")
    val both = shared.keySet.intersect(notShared.keySet)
    assert(both.isEmpty, s"listed as shared AND in the header table: ${both.toSeq.sorted}")
    val stale = (shared.keySet ++ notShared.keySet) -- sQueries
    assert(stale.isEmpty, s"not declared s-queries: ${stale.toSeq.sorted}")
    val unexplained = notShared.filter(_._2.isEmpty).keys
    assert(unexplained.isEmpty, s"header table rows with no reason: ${unexplained.toSeq.sorted}")
    assert(sQueries.size == 42)
  }

  shared.toSeq.sortBy(_._1).foreach { case (q, t) =>
    test(s"$q drains the operator ${t.batch.getOrElse("the batch reader")} runs") {
      val op = t.op(spark, sf)
      val batchPlan = masked(op(t.read.batch(spark, sf)).queryExecution.analyzed)
      val streamPlan = masked(op(t.read.stream(spark, sf)).queryExecution.analyzed)
      assert(batchPlan == streamPlan,
        s"$q: the operator analyzes differently over the two readers\n" +
          s"batch:\n$batchPlan\nstream:\n$streamPlan")
      val plans = drained(SparkEntry.queries(q)(spark, sf))
      assert(plans.exists(contains(_, streamPlan)),
        s"$q drains no plan containing its operator\noperator:\n$streamPlan\n" +
          s"drained:\n${plans.map(masked).mkString("\n")}")
      t.batch.foreach { b =>
        val p = SparkEntry.queries(b)(spark, sf).queryExecution.analyzed
        assert(contains(p, batchPlan),
          s"$b does not run $q's operator\noperator:\n$batchPlan\n$b:\n${masked(p)}")
      }
    }
  }
}

object TwinSpec {
  private type Read = (SparkSession, String) => DataFrame
  /** A fixture table's batch and stream readers. */
  private final case class Reader(batch: Read, stream: Read)

  /** `op(spark, dir)` builds any model or store once; the function it
    * returns is the operator applied to a reader's frame. */
  private final case class Twin(batch: Option[String], read: Reader,
      op: (SparkSession, String) => DataFrame => DataFrame)
}
