package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Text, TextStats}

/** TextStats kernel contract: the single-pass native expression equals
  * the HOF composition it replaced — in n70 and in the one
  * `DocStats.gopherGate` plan n66 and s24 run — on arbitrary inputs:
  * multi-space runs, leading/trailing spaces, empty strings, multibyte
  * and astral unicode, nulls. It stays inside whole-stage codegen. */
class TextStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def hofStats = {
    val stopList = Text.Stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    struct(
      size(Text.tokens($"text")).cast("long").as("n_tokens"),
      expr("aggregate(array_remove(split(text, ' '), ''), 0L," +
        " (acc, t) -> acc + length(t))").as("len_sum"),
      coalesce(expr(
        "array_max(transform(array_remove(split(text, ' '), '')," +
          " t -> length(t)))"), lit(0)).as("max_len"),
      expr(s"size(filter(array_remove(split(text, ' '), '')," +
        s" t -> t IN $stopList))").cast("long").as("stop_hits"))
  }

  test("kernel equals the HOF composition (property, incl. unicode and " +
      "multi-space runs)") {
    val rng = new Random(11)
    val vocab = Seq("the", "a", "of", "and", "to", "zebra", "é",
      "日本語", "x", "longerword", "😀ok", "aa")
    val rows = Seq.fill(300) {
      Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.length)))
        .mkString(" " * (1 + rng.nextInt(3)))
    } ++ Seq("", " ", "   ", "the", " the  a ", "é é é")
    val df = rows.toDF("text")
    val got = df.select(TextStats.textStats($"text").as("st"), hofStats.as("ex"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getStruct(0) == r.getStruct(1),
        s"row $i '${rows(i)}': ${r.getStruct(0)} vs ${r.getStruct(1)}")
    }
  }

  test("null text yields null struct; token lengths count code points") {
    val df = Seq(Option.empty[String], Some("😀 ab")).toDF("text")
    val out = df.select(TextStats.textStats($"text").as("st")).collect()
    assert(out(0).isNullAt(0))
    val st = out(1).getStruct(0)
    // astral emoji = ONE code point (like Spark length()), "ab" = two
    assert(st.getLong(0) == 2L && st.getLong(1) == 3L && st.getInt(2) == 2)
  }

  test("kernel stays inside whole-stage codegen (no silent fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Seq("the quick brown", "a b")
        .toDF("text")
        .select(TextStats.textStats($"text").as("st"))
        .collect()
      assert(out.length == 2 && out(0).getStruct(0).getLong(0) == 3L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
