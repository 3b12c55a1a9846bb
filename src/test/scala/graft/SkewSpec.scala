package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Skew contract for the n-gram containment join (VERDICT r7 #3). The
  * fixture is the pathological corpus shape: a boilerplate passage
  * shared by EVERY document, whose shingles each contribute O(n²) rows
  * to the inverted-index equi-join.
  *
  * What is pinned: the prefix-filtered containment variant (the
  * skew-proof candidate generator n63 runs) stays EXACT on the skewed
  * corpus, at a low threshold and at the n46 default operating point.
  */
class SkewSpec extends AnyFunSuite {

  // 30 filler docs with disjoint content + two engineered pairs, all
  // carrying the same 12-token boilerplate suffix (df = n_docs on every
  // boilerplate shingle)
  private lazy val skewDocs: DataFrame = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val boiler = (0 until 12).map(i => s"boiler$i").mkString(" ")
    val filler = (0 until 30).map { i =>
      (i.toLong, (0 until 20).map(t => s"u${i}w$t").mkString(" "))
    }
    // true near-dup: 60 tokens, last two differ → high content overlap
    val near = Seq(
      (100L, ((0 until 58).map(t => s"n$t") ++ Seq("xx", "xy")).mkString(" ")),
      (101L, ((0 until 58).map(t => s"n$t") ++ Seq("zz", "zy")).mkString(" ")))
    // near-threshold pair: overlap is MOSTLY boilerplate — 8 shared
    // content tokens then divergent tails
    val boilerish = Seq(
      (200L, ((0 until 8).map(t => s"s$t") ++ Seq("p1", "p2")).mkString(" ")),
      (201L, ((0 until 8).map(t => s"s$t") ++ Seq("q1", "q2")).mkString(" ")))
    (filler ++ near ++ boilerish).toDF("doc_id", "text")
      .select($"doc_id", concat_ws(" ", $"text", lit(boiler)).as("text"))
  }

  private def contOf(df: DataFrame): Map[(Long, Long), (Long, Int)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3))).toMap

  // containment threshold low enough that cross-doc overlap exists on
  // this fixture (every doc shares the 10 boilerplate shingles)
  private val CN = 1
  private val CD = 4

  test("containment prefix variant stays exact on the skewed corpus") {
    val exact = contOf(Dedup.containmentPairs(skewDocs, "doc_id", "text",
      num = CN, den = CD))
    val prefix = contOf(Dedup.containmentPairsPrefix(skewDocs, "doc_id", "text",
      num = CN, den = CD))
    assert(prefix == exact, s"prefix drifted from exact:\n$prefix\nvs\n$exact")
    // and at the n46 default operating point (0.9) too
    val exact9 = contOf(Dedup.containmentPairs(skewDocs, "doc_id", "text"))
    val prefix9 = contOf(Dedup.containmentPairsPrefix(skewDocs, "doc_id", "text"))
    assert(prefix9 == exact9, s"prefix drifted at t=0.9:\n$prefix9\nvs\n$exact9")
  }
}
