package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfPq, Pq, Similarity}
import graft.sources.Tables

/** IVFADC composition invariants independent of the DuckDB oracle.
  * The primitives are pinned elsewhere (PqSpec: codes = per-subspace
  * argmax, LUT re-derivation; SimilaritySpec: IVF cells, exact-path
  * recall) — what this spec re-derives in plain Scala is the
  * COMPOSITION: candidate pruning by probe cell, the dual (exact-cos
  * vs ADC) rankings over the same candidate set, and all four match
  * counts; plus the information-theoretic ceiling n_ivfadc <= n_ivf
  * (the exact-cos ranking of a candidate set recovers every ground-
  * truth member the set contains, so no other ranking can match
  * more). */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val k = 10

  private def fold(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  test("ivfPqRecall == plain-Scala composition over collected codes/LUT/cells, " +
      "ADC never beats exact ranking at equal budget, nprobe=2 is a superset") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val got = IvfPq.ivfPqRecall(emb, k)
      .select(col("probe_id"), col("cell"), col("n_ivf"), col("n_ivfadc"),
        col("n_ivf_mp2"), col("n_ivfadc_mp2"), col("recall_ivf_ppm"),
        col("recall_ivfadc_ppm"), col("recall_ivf_mp2_ppm"),
        col("recall_ivfadc_mp2_ppm"))
      .as[(Int, Int, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap

    // ingredients: codes from the pinned trainer, LUT from the pinned
    // probe path, vectors + cells re-derived in plain Scala
    val prepared = Pq.prepare(emb)
    val (cb, codesDf) = Pq.trainPrepared(prepared)
    val codes = codesDf.as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    val probes = (0 until Similarity.Probes)
      .map(p => (p.toLong, Similarity.probeVec(p)))
      .toDF("vec_id", "embedding")
    val lut = Pq.probeLut(
      Pq.prepareKeeping(probes).withColumnRenamed("vec_id", "probe_id"), cb)
      .collect().map { r =>
        r.getLong(0).toInt -> (for (m <- 0 until Pq.M; j <- 0 until Pq.K)
          yield (m, j) -> r.getDouble(1 + m * Pq.K + j)).toMap
      }.toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
      .map { case (id, e) => id -> e.toArray }
    def cellOf(v: Array[Double]): Int = {
      val scores = (0 until Similarity.Cells).map { m =>
        Similarity.centroidNorm2(m) - 2.0 * fold(v, Similarity.centroid(m).toArray)
      }
      (0 until Similarity.Cells).minBy(m => (scores(m), m))
    }
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }

    var adcLosesSomewhere = false
    (0 until Similarity.Probes).foreach { p =>
      val pv = Similarity.probeVec(p).toArray
      val pn = math.sqrt(fold(pv, pv))
      def cos(id: Long): Double = {
        val v = vecs(id)
        fold(v, pv) / (math.sqrt(fold(v, v)) * pn)
      }
      def adc(id: Long): Double = {
        var acc = 0.0
        (0 until Pq.M).foreach(m => acc += lut(p)((m, codes(id)(m))))
        acc
      }
      val pcs = Similarity.probeCells(p)
      val byCos = vecs.keys.toSeq.sortBy(id => (-cos(id), id))
      val exact = byCos.take(k).toSet
      def counts(nprobe: Int): (Long, Long) = {
        val cand = vecs.keys.toSeq.filter(id => pcs.take(nprobe).contains(cells(id)))
        val iv = cand.sortBy(id => (-cos(id), id)).take(k).toSet
        val ia = cand.sortBy(id => (-adc(id), id)).take(k).toSet
        ((exact & iv).size.toLong, (exact & ia).size.toLong)
      }
      val (iv1, ia1) = counts(1)
      val (iv2, ia2) = counts(2)
      assert(got(p) == ((p, pcs(0), iv1, ia1, iv2, ia2,
        iv1 * 1000000L / k, ia1 * 1000000L / k,
        iv2 * 1000000L / k, ia2 * 1000000L / k)), s"probe $p")
      // exact ranking of a candidate set is the ceiling: it recovers
      // every ground-truth member the set contains
      assert(ia1 <= iv1 && ia2 <= iv2, s"probe $p ADC ceiling")
      // superset candidates can only keep or gain under exact ranking
      assert(iv2 >= iv1, s"probe $p nprobe monotonicity (exact)")
      if (ia1 < iv1 || ia2 < iv2) adcLosesSomewhere = true
    }
    // non-degenerate measurement: the 2-bit fixture codebook must
    // actually COST recall somewhere, or the harness measures nothing
    assert(adcLosesSomewhere, "ADC should lose recall on the 2-bit fixture codebook")
    assert(got.values.exists(_._3 > 0L), "plain IVF should match something")
  }

  test("ivfPqServe == the harness-shaped nprobe=2 ADC ranking, row for row") {
    // plan-changes-answer-doesn't: the serving plan (literal cell
    // filter first, equi-join on cell) must emit exactly the rows the
    // n76-shaped fan-out (cross-join then cell filter) ranks — same
    // model, same candidates, same (adc DESC, vec_id) tiebreak
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf)
    val serve = IvfPq.ivfPqServe(emb, k)
      .select(col("probe_id"), col("rk"), col("vec_id"), col("cell"),
        col("adc_ppm"))
      .as[(Int, Int, Long, Int, Long)].collect().toSet

    // reference: the harness fan-out shape, built from the same pinned
    // primitives (cross-join LUT, then filter to the probe's 2 cells)
    val prepared = Pq.prepareKeeping(emb,
      col("embedding").cast("array<double>").as("v"))
    val (cb, _) = Pq.trainPrepared(prepared)
    val encoded = Pq.assignAll(prepared, cb)
      .withColumn("cell", Similarity.ivfCell(col("v")))
    val pPrepared = Pq.prepareKeeping(IvfPq.probeFrame(spark),
      col("pcell"), col("pcell2"))
      .withColumnRenamed("vec_id", "probe_id")
    val lut = Pq.probeLut(pPrepared, cb)
    val fanout = encoded.crossJoin(broadcast(lut))
      .where(col("cell") === col("pcell") || col("cell") === col("pcell2"))
      .select(col("probe_id"), col("vec_id"), col("cell"),
        Pq.adcScore.as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc").desc, col("vec_id"))))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("vec_id"), col("cell"),
        floor(col("adc") * lit(1000000.0)).cast("long").as("adc_ppm"))
      .as[(Int, Int, Long, Int, Long)].collect().toSet
    assert(serve.nonEmpty)
    assert(serve == fanout)
  }

  test("serving plan scores only the cell-matched fan-out, not probes x N") {
    // the equi-join's output row count is the candidate set size
    // Σ_p |{v : cell(v) ∈ cells_p}| — strictly under Probes·N, the
    // harness fan-out's row count before filtering
    val emb = Tables.embeddings(spark, sf)
    val df = IvfPq.ivfPqServe(emb, k)
    // collect(), not a sink write: a write builds its OWN
    // QueryExecution, leaving df.queryExecution's metrics untouched
    // — the inspected plan must be the executed one
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    val n = emb.count()
    val joinRows = QueryProfile.metricMaxWhere(plan, "numOutputRows")(p =>
      p.nodeName.contains("BroadcastHashJoin"))
    assert(joinRows > 0, "cell equi-join not found in the executed plan")
    assert(joinRows < Similarity.Probes * n,
      s"join emitted $joinRows rows, not under ${Similarity.Probes} x $n")
    // and the probe-candidate join really is the equi-join shape on
    // cell (the remaining BroadcastNestedLoopJoins are the 1-row
    // model-broadcast idioms PlanSpec already contracts, never the
    // probe fan-out)
    assert(plan.toString.contains("BroadcastHashJoin [cell"), plan.toString)
  }

  test("indexed serving (n79) == in-query serving (n78), row for row") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long, Int, Long)].collect().toSet
    val direct = rows(IvfPq.ivfPqServe(emb, k))
    val indexed = rows(IvfPq.ivfPqServeIndexed(emb, k))
    assert(indexed.nonEmpty)
    assert(indexed == direct)
  }

  test("stream-appended store (s33) == batch rebuild serving, and the " +
      "appended store is cell-partitioned") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long, Int, Long)].collect().toSet
    // the streaming append path: encode per micro-batch against the
    // batch-trained codebooks, file-sink partitionBy(cell), then serve
    // from the drained store — must equal the batch-built serve row
    // for row (vectors encode identically whichever path wrote them)
    val servedDf = graft.streaming.StreamQueries.streamIvfIndexAppend(spark, sf)
    val streamed = rows(servedDf)
    val batch = rows(IvfPq.ivfPqServe(emb, k))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // layout proof: the drained store's serve reads cell back as a
    // PARTITION column — the probed-cell IN is a PartitionFilter
    // (directory pruning), not a post-scan row filter
    val p = servedDf.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cell"), p)
  }

  test("cell-partitioned index: the literal IN is partition pruning proper") {
    val emb = Tables.embeddings(spark, sf)
    val (_, encoded) = IvfPq.buildIndex(emb)
    val dir = TempDirs.create("ivfidx-spec")
    encoded.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val index = spark.read.parquet(dir)
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      assert(df.collect() != null)
      QueryProfile.metricMaxWhere(df.queryExecution.executedPlan, "numFiles")(
        _.nodeName.contains("Scan"))
    }
    val allFiles = scanFiles(index)
    val oneCell = Similarity.probeCells(0).head
    val pruned = index.where(col("cell") === oneCell)
    val prunedFiles = scanFiles(pruned)
    // a single-cell (nprobe=1-shaped) predicate must drop the other
    // cells' directories from the scan entirely — fewer FILES read,
    // not just fewer rows kept (the fixture's nprobe=2 union happens
    // to touch all 4 cells, so the file-level proof uses one cell)
    assert(allFiles > prunedFiles && prunedFiles > 0,
      s"files: all=$allFiles pruned=$prunedFiles")
    // and the predicate lands in PartitionFilters, not PushedFilters —
    // cell is a partition column in this layout
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.replaceAll("(?s)PushedFilters.*", "")
        .contains(s"cell"), planStr)
  }
}
