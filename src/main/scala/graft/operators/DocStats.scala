package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Text, TextStats}

/** Per-document statistics operators, each one plan over a documents
  * frame that the batch query runs over `Tables.documents` and its
  * streaming twin drains over `StreamQueries.documentsStream`: a29/s23
  * (the histogram; the pick runs after the drain), n66/s24 and n68/s25. */
object DocStats {

  /** The per-(lang, token count) COUNT HISTOGRAM — a29's shuffle and
    * s23's complete-mode state. Bounded by distinct (lang, value)
    * pairs (~10³ at any corpus size), and counts merge by addition, so
    * any micro-batching drains to the batch histogram. */
  def tokenHistogram(docs: DataFrame): DataFrame =
    docs.select(col("lang"), Text.tokenCountWs(col("text")).cast("long").as("v"))
      .groupBy(col("lang"), col("v")).agg(count(lit(1)).as("c"))

  /** Exact p50/p90/p99 per lang from a [[tokenHistogram]]: the
    * smallest value whose cumulative count reaches the integer rank
    * ceiling ((n·9+9) div 10, never a float q·n). The windows run over
    * the histogram, never the rows. */
  def quantiles(hist: DataFrame): DataFrame = {
    val cum = hist
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    cum.groupBy(col("lang")).agg(
      min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
      min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("v"))).as("p90"),
      min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("v"))).as("p99"),
      max(col("n")).as("n_rows"))
  }

  /** The Gopher composite rule list as a STATELESS per-row map +
    * filter over the one-pass native [[TextStats]] kernel: token count
    * bounds, mean word length 3..10 by cross-multiplication, a
    * max-token-length cap and ≥2 stopword hits. No state store, so a
    * stream drains it in append mode. */
  def gopherGate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextStats.textStats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
        col("st.len_sum").as("len_sum"), col("st.max_len").as("max_len"),
        col("st.stop_hits").as("stop_hits"))
      .where(col("n_tokens").between(20, 1000) &&
        col("len_sum") >= col("n_tokens") * 3 &&
        col("len_sum") <= col("n_tokens") * 10 &&
        col("max_len") <= 20 && col("stop_hits") >= 2)
      .select(col("doc_id"), col("n_tokens"), col("len_sum"), col("stop_hits"))

  /** Per-32-token-bucket padding waste: one explode-free per-row map,
    * one |buckets|-group aggregate (state bounded by the bucket count
    * in a stream), and a stateless closing projection, which complete
    * mode re-applies to the whole result each trigger. */
  def lengthBuckets(docs: DataFrame): DataFrame =
    docs.select(Text.tokenCountWs(col("text")).cast("long").as("n_toks"))
      .where(col("n_toks") > 0)
      .withColumn("bucket", expr("((n_toks + 31) div 32) * 32"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(col("bucket") - col("n_toks")).as("padding_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("padding_tokens"),
        expr("padding_tokens * 1000000 div (n_docs * bucket)").as("waste_ppm"))
}
