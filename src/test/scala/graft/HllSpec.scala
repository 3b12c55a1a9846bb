package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Hll
import graft.streaming.StreamQueries

/** HLL register-sketch contract (n77/s32): the Spark register build
  * equals a plain-Scala re-derivation from the same md5-prefix hash,
  * registers merge by pointwise max (the property that makes the ALL
  * rollup and the streaming state arrival-order independent), and the
  * assembled witnesses/estimate match the driver twin exactly. */
class HllSpec extends AnyFunSuite {

  /** Driver twin of Hll.hash60: first 60 bits (15 hex chars) of the
    * md5 of the UTF-8 bytes. */
  private def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Driver twin of ShingleSet.kernel(_, 3): single-space tokens,
    * empties dropped, <3 tokens → empty, distinct 3-windows. */
  private def shingles3(text: String): Set[String] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  private def fixtureDocs(spark: org.apache.spark.sql.SparkSession) =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("lang"), col("text"))

  /** Driver-twin registers per lang of a (lang, text) row set. */
  private def twinRegisters(
      rows: Seq[(Option[String], String)]): Map[Option[String], Map[Int, Int]] =
    rows.groupBy(_._1).map { case (lang, rs) =>
      lang -> Hll.registersOf(
        rs.flatMap(r => shingles3(r._2)).map(md5Hash60))
    }

  test("registersPlan == driver register twin on the fixture corpus") {
    val spark = SparkTestSession.spark
    val docs = fixtureDocs(spark)
    val got = Hll.registersPlan(docs).collect()
      .map(r => (Option(r.getString(0)), r.getInt(1)) -> r.getInt(2)).toMap
    val rows = docs.collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)).getOrElse("")))
      .toSeq
    val want = twinRegisters(rows).flatMap { case (lang, regs) =>
      regs.map { case (b, rho) => (lang, b) -> rho }
    }
    assert(got.nonEmpty, "fixture produced no registers")
    assert(got == want)
  }

  test("registers merge by pointwise max == registers of the union (property)") {
    val rng = new Random(42)
    for (trial <- 0 until 50) {
      // 60-bit hashes with a skewed low range so bucket collisions and
      // high-ρ (small-suffix) values both occur
      def hashes(): Seq[Long] = Seq.fill(rng.nextInt(200))(
        if (rng.nextBoolean()) rng.nextLong() & ((1L << 60) - 1)
        else rng.nextLong() & ((1L << (4 + rng.nextInt(56))) - 1))
      val (a, b) = (hashes(), hashes())
      val merged = {
        val (ra, rb) = (Hll.registersOf(a), Hll.registersOf(b))
        (ra.keySet ++ rb.keySet).map(k =>
          k -> math.max(ra.getOrElse(k, 0), rb.getOrElse(k, 0))).toMap
      }
      assert(merged == Hll.registersOf(a ++ b), s"trial $trial")
    }
  }

  test("assemble witnesses + estimate == driver twin (incl. the merged ALL row)") {
    val spark = SparkTestSession.spark
    val docs = fixtureDocs(spark)
    val got = Hll.assemble(Hll.registersPlan(docs)).collect().map { r =>
      Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    }.toMap
    val rows = docs.collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)).getOrElse("")))
      .toSeq
    val perLang = twinRegisters(rows)
    val all = perLang.values.foldLeft(Map.empty[Int, Int]) { (m, r) =>
      (m.keySet ++ r.keySet).map(k =>
        k -> math.max(m.getOrElse(k, 0), r.getOrElse(k, 0))).toMap
    }
    def finish(regs: Map[Int, Int]): (Long, Long, Long, Double) = {
      val hs = regs.values.map(r => 1L << (Hll.MaxRho - r)).sum +
        (Hll.M - regs.size).toLong * Hll.HarmonicScale
      (regs.size.toLong, regs.values.map(_.toLong).sum, hs, Hll.estimate(hs))
    }
    val want = perLang.map { case (lang, r) => lang -> finish(r) } +
      (Option("ALL") -> finish(all))
    assert(got == want)
    // the raw estimate should also be in the right ballpark of the true
    // distinct-shingle count (stderr ≈ 1.04/√64 ≈ 13 %; allow 4σ)
    val truth = rows.flatMap(r => shingles3(r._2)).distinct.size
    val est = got(Option("ALL"))._4
    assert(math.abs(est - truth) <= 4 * 1.04 / math.sqrt(Hll.M) * truth + 8,
      s"ALL estimate $est vs true $truth")
  }

  test("real lang named 'ALL' max-merges into the rollup, never double-counts") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      ("en", "alpha beta gamma delta eps"),
      ("en", "beta gamma delta zeta eta"),
      ("ALL", "one two three four five")).toDF("lang", "text")
    val out = Hll.assemble(Hll.registersPlan(docs)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set("en", "ALL"))
    // no bucket can be counted twice: the union's registers, not a
    // concatenation of rollup + real-'ALL' rows
    val union = twinRegisters(Seq(
      (Option("en"), "alpha beta gamma delta eps"),
      (Option("en"), "beta gamma delta zeta eta"),
      (Option("ALL"), "one two three four five"))).values
      .foldLeft(Map.empty[Int, Int]) { (m, r) =>
        (m.keySet ++ r.keySet).map(k =>
          k -> math.max(m.getOrElse(k, 0), r.getOrElse(k, 0))).toMap
      }
    val hs = union.values.map(r => 1L << (Hll.MaxRho - r)).sum +
      (Hll.M - union.size).toLong * Hll.HarmonicScale
    assert(out("ALL") == ((union.size.toLong,
      union.values.map(_.toLong).sum, hs)))
  }

  test("forced 3-micro-batch stream == single batch assemble") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = TempDirs.create("hll-stream")
    def writeFile(name: String, docs: Seq[(String, String)], order: Int): Unit = {
      val tmp = TempDirs.create("hll-tmp")
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
    // overlapping shingle space across batches: the cross-batch max
    // merge must be idempotent on repeats, not additive
    Seq.tabulate(3)(i =>
      Seq.tabulate(6)(j => (if (j % 2 == 0) "en" else "de", doc())))
      .zipWithIndex.foreach { case (b, i) =>
        writeFile(s"f$i.parquet", b, i)
      }
    val streamed = Hll.assemble(StreamQueries.runToTable(spark,
      Hll.registersPlan(
        spark.readStream.schema("lang STRING, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(dir)),
      "complete"))
    val batch = Hll.assemble(Hll.registersPlan(spark.read.parquet(dir)))
    val s = streamed.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    val b = batch.collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(s.nonEmpty, "stream produced no rows")
    assert(s == b, s"stream $s != batch $b")
  }

  test("register build keeps partial aggregation: one register-width exchange") {
    val spark = SparkTestSession.spark
    val p = Hll.registersPlan(fixtureDocs(spark))
      .queryExecution.executedPlan.toString
    // one hash exchange fed by a map-side partial max: the exchange
    // carries ≤ groups·M tiny (lang, b, ρ) rows per input partition,
    // never the exploded shingle stream
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.toLowerCase.contains("partial"), p)
  }
}
