package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.sources.Tables

/** n53 priority sampling and a29 histogram quantiles against
  * independent in-test references (sorted-order brute force), on real
  * fixture data — the determinism these queries sell is that a plain
  * re-derivation in ANY engine lands on the identical rows. */
class SampleQuantileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def tokCount(text: String): Long =
    text.split(" ").count(_.nonEmpty).toLong

  test("n53: bottom-5 priorities per lang match a plain-Scala re-derivation") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("text"))
      .as[(String, Long, String)].collect()

    val md = java.security.MessageDigest.getInstance("MD5")
    def pri(docId: Long, w: Long): Double = {
      md.reset()
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16).toDouble / w.toDouble
    }
    val want = docs
      .map { case (lang, id, text) => (lang, id, tokCount(text)) }
      .filter(_._3 > 0)
      .groupBy(_._1)
      .toSeq
      .flatMap { case (lang, rows) =>
        rows.sortBy { case (_, id, w) => (pri(id, w), id) }
          .take(5).zipWithIndex
          .map { case ((_, id, w), i) => (lang, id, w, (i + 1).toLong) }
      }.toSet

    val got = SparkEntry.queries("n53_priority_sample")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("s22: forced 3-micro-batch priority sample == one-shot bottom-K " +
      "(mergeable-sketch property)") {
    import spark.implicits._
    import graft.functions.PriorityAgg
    val dir = TempDirs.create("pri-stream")
    def writeFile(name: String, docs: Seq[(Long, String, String)], order: Int): Unit = {
      val tmp = TempDirs.create("pri-tmp")
      docs.toDF("doc_id", "lang", "text").coalesce(1).write.parquet(s"$tmp/d")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "d"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val target = java.nio.file.Files.copy(part, java.nio.file.Paths.get(dir, name))
      // distinct mtimes pin the file -> micro-batch order (the source
      // takes files oldest first)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + order * 1000L))
    }
    // 3 files × 8 docs, ids interleaved so the global bottom-K of each
    // lang straddles batches (the merge has to actually do work)
    (0 until 3).foreach { i =>
      writeFile(s"f$i.parquet", Seq.tabulate(8) { j =>
        val id = (j * 3 + i).toLong
        (id, if (j % 2 == 0) "en" else "de", Seq.fill(1 + (id % 7).toInt)("w").mkString(" "))
      }, i)
    }

    def plan(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("lang"),
        PriorityAgg.partial(col("doc_id"), length(col("text")).cast("long").as("w"))
          .as("pe"))
      .groupBy(col("lang")).agg(PriorityAgg.union(col("pe")).as("sk"))

    val streamed = graft.streaming.StreamQueries.runToTable(spark,
      plan(spark.readStream.schema("doc_id LONG, lang STRING, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir)), "complete")
      .as[(String, Seq[graft.functions.PriEntry])].collect().toMap
    val batch = plan(spark.read.parquet(dir))
      .as[(String, Seq[graft.functions.PriEntry])].collect().toMap
    assert(streamed == batch)
    assert(batch.values.forall(_.size == PriorityAgg.K))
  }

  test("a29: histogram quantiles equal sorted-order quantile_disc") {
    import spark.implicits._
    val byLang = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).as[(String, String)].collect()
      .map { case (lang, text) => lang -> tokCount(text) }
      .groupBy(_._1).map { case (lang, vs) => lang -> vs.map(_._2).sorted }

    // quantile_disc: smallest value whose cumulative count reaches
    // ceil(q*n), thresholds as exact integer ceiling divisions
    def disc(sorted: Seq[Long], num: Long, den: Long): Long =
      sorted(((sorted.length * num + den - 1) / den - 1).toInt)

    val want = byLang.map { case (lang, vs) =>
      (lang, disc(vs, 1, 2), disc(vs, 9, 10), disc(vs, 99, 100), vs.length.toLong)
    }.toSet
    val got = SparkEntry.queries("a29_exact_quantiles")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
