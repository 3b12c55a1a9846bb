package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KmvAgg
import graft.streaming.StreamQueries

/** KMV sketch contract (n40/s15): the aggregate equals the K smallest
  * distinct hashes of the group's union — under any grouping of the
  * inputs — and the estimator follows the exact two-branch formula.
  */
class KmvSpec extends AnyFunSuite {

  private val K = KmvAgg.K

  /** Reference answer: K smallest distinct values of the union. */
  private def brute(rows: Seq[Seq[Long]]): Seq[Long] =
    rows.flatten.distinct.sorted.take(K)

  /** Fold rows through the aggregator along a random merge tree:
    * partials are reduced in shuffled chunks, then the chunk buffers
    * merged in shuffled order — the shape Spark's partial aggregation
    * actually produces under arbitrary partitioning. */
  private def aggVia(rows: Seq[Seq[Long]], rng: Random): Seq[Long] = {
    val chunks = rng.shuffle(rows).grouped(1 + rng.nextInt(4)).toSeq
    val buffers = chunks.map(_.foldLeft(KmvAgg.zero) { (acc, r) =>
      KmvAgg.reduce(acc, r.distinct.sorted.take(K))
    })
    KmvAgg.finish(rng.shuffle(buffers).foldLeft(KmvAgg.zero)(KmvAgg.merge))
  }

  test("merge tree == brute-force bottom-K, any grouping/order (property)") {
    val rng = new Random(42)
    for (trial <- 0 until 50) {
      // value range 2K keeps duplicate hashes common; row count spans
      // the <K (exact) and >K (estimator) regimes
      val rows = Seq.fill(1 + rng.nextInt(30))(
        Seq.fill(rng.nextInt(20))(rng.nextInt(2 * K).toLong.abs))
      val want = brute(rows)
      val got = aggVia(rows, rng)
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("estimator: exact below K, (K-1)/U(K) at K") {
    assert(KmvAgg.estimate(Seq(3L, 7L, 9L)) == 3.0)
    val full = (1L to K.toLong).map(_ * 1000000L)
    val kth = full.last
    assert(KmvAgg.estimate(full) ==
      (K - 1).toDouble * KmvAgg.HashSpace / kth.toDouble)
  }

  test("forced 3-micro-batch stream == single batch aggregate") {
    val spark = SparkTestSession.spark
    import spark.implicits._

    val dir = TempDirs.create("kmv-stream")
    // three stream files with overlapping shingle sets across batches
    // (cross-batch duplicate hashes are what the state merge must drop)
    def writeFile(name: String, docs: Seq[(String, String)], order: Int): Unit = {
      val tmp = TempDirs.create("kmv-tmp")
      docs.toDF("lang", "text").coalesce(1).write.parquet(s"$tmp/d")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "d"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val target = java.nio.file.Files.copy(part, java.nio.file.Paths.get(dir, name))
      // distinct mtimes pin the file -> micro-batch order (the source
      // takes files oldest first)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + order * 1000L))
    }
    val rng = new Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    def doc(): String = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val batches = Seq.tabulate(3)(i =>
      Seq.tabulate(6)(j => (if (j % 2 == 0) "en" else "de", doc())))
    batches.zipWithIndex.foreach { case (b, i) =>
      writeFile(s"f$i.parquet", b, i)
    }

    val streamed = StreamQueries.kmvFinish(StreamQueries.runToTable(spark,
      StreamQueries.kmvAggPlan(
        spark.readStream.schema("lang STRING, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(dir)),
      "complete"))
    val batch = StreamQueries.kmvFinish(
      StreamQueries.kmvAggPlan(spark.read.parquet(dir)))

    val s = streamed.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    val b = batch.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(s.nonEmpty, "stream produced no rows")
    assert(s == b, s"stream $s != batch $b")
  }

  test("n42 sketch resemblance tracks the true Jaccard of the shingle sets") {
    // cross-engine exactness is the oracle's job; this pins the
    // STATISTICS: the K=64 estimator must land within sampling error
    // of the true Jaccard (stderr = sqrt(J(1-J)/K) <= 0.063, bound
    // used: 4 sigma) — a wrong merge/intersection would blow this.
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("n42_kmv_resemblance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val truth = {
      import graft.functions.Shingles
      val sets = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("lang"), explode(Shingles.shingleSet(col("text"), 3)).as("s"))
        .distinct().collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
      for { a <- sets.keys; b <- sets.keys if a < b } yield {
        val j = (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
        (a, b) -> j
      }
    }.toMap
    assert(est.keySet == truth.keySet, s"pair sets differ: ${est.keySet} vs ${truth.keySet}")
    truth.foreach { case (pair, j) =>
      val e = est(pair)
      val tol = 4.0 * math.sqrt(j * (1 - j) / K) + 1.0 / K
      assert(math.abs(e - j) <= tol,
        s"$pair: estimate $e vs true $j (tol $tol)")
    }
  }

  test("resemblance on sub-K unions is the EXACT Jaccard (divisor = |mk|, not K)") {
    // when the union has fewer than K distinct hashes the sketches are
    // complete: dividing by the fixed K would bias low exactly when
    // full information is present (review r8 finding)
    val spark = SparkTestSession.spark
    import spark.implicits._
    val sk = Seq(
      ("a", Seq(1L, 2L, 3L, 4L, 5L)),
      ("b", Seq(3L, 4L, 5L, 6L)),
      ("c", Seq(10L, 11L))).toDF("lang", "sk")
    val got = StreamQueries.kmvResemblance(sk).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("a", "b")) == ((3L, 3.0 / 6.0)))  // {3,4,5} / {1..6}
    assert(got(("a", "c")) == ((0L, 0.0)))
    assert(got(("b", "c")) == ((0L, 0.0)))
  }

  test("empty-sketch groups are dropped, not crashed on (kthMin of [])") {
    // a lang whose docs all have < 3 tokens yields an empty shingle set
    // per row and an empty group sketch; the finish must drop the group
    // (the SQL twin's unnest never emits it), not evaluate
    // element_at(sk, 0)
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      ("short", "one two"),            // < w tokens -> empty sketch
      ("short", "a b"),
      ("full", "alpha beta gamma delta eps")).toDF("lang", "text")
    val out = StreamQueries.kmvFinish(StreamQueries.kmvAggPlan(docs))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("full"), s"expected only 'full', got $out")
    assert(out("full") == 3L) // 5 tokens -> 3 distinct shingles
  }

  test("batch plan keeps partial aggregation: one shuffle, sketch-width exchange") {
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.001"
    val p = SparkEntry.queries("n40_kmv_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    // rollup = one Expand feeding ONE hash exchange; partial
    // ObjectHashAggregate runs map-side, so the exchange carries one
    // ≤K-long buffer per (group × partition), not per-row shingles
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.toLowerCase.contains("partial"), p)
  }
}
