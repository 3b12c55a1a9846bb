package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** DSIR importance weighting (Xie et al. '23, "Data Selection for
  * Language Models via Importance Resampling") in integer-exact form:
  * hashed 64-bucket token features, Laplace-smoothed target (the
  * English slice) vs raw-corpus distributions, probabilities quantized
  * to integer ppb BEFORE scoring so no float log/div crosses an engine
  * boundary. n60 and s27 run the one [[Dsir.score]] plan over the
  * batch and the stream reader. */
object Dsir {

  val Buckets = 64

  /** Hashed feature bucket of a token column/lambda variable. */
  def bucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("int") % Buckets

  /** Train the 64-row bucket→ratio_ppm model from a documents frame —
    * the corpus-sized work (one explode + three bucket aggregates);
    * the result is model-sized and broadcasts/collects freely. */
  def ratioModel(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("b", bucket(col("tok")))
    val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = tok.where(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val tot = tok.agg(count(lit(1)).as("crt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ctt"))
    raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"(ct + 1) * 1000000000 div (ctt + $Buckets)").as("pt_ppb"),
        expr(s"(cr + 1) * 1000000000 div (crt + $Buckets)").as("pr_ppb"))
      .select(col("b"),
        expr("pt_ppb * 1000000 div greatest(pr_ppb, 1)").as("ratio_ppm"))
  }

  /** Per-doc score of `docs` against a [[ratioModel]] (n60 over the
    * batch reader, s27 over the stream): the ≤64-row model ships as a
    * LITERAL map (the broadcast-model idiom of s14's centroids and
    * n44's bitset) and each doc scores with a pure per-row HOF chain
    * (transform → lookup → filter → aggregate) — no join, no explode,
    * no shuffle, no state store. Tokens whose bucket is absent from the
    * model drop from both the count and the sum; docs with no scored
    * token drop. mean_ratio_ppm is the integer mean of the ratios. */
  def score(docs: DataFrame, model: DataFrame): DataFrame = {
    val m = map(model.collect().toSeq.flatMap(r =>
      Seq(lit(r.getInt(0)), lit(r.getLong(1)))): _*)
    docs.select(col("doc_id"),
        filter(transform(Text.tokens(col("text")), t => element_at(m, bucket(t))),
          r => r.isNotNull).as("rs"))
      .select(col("doc_id"), size(col("rs")).cast("long").as("n_toks"),
        aggregate(col("rs"), lit(0L), (acc, x) => acc + x).as("sum_ppm"))
      .where(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"),
        expr("sum_ppm div n_toks").as("mean_ratio_ppm"))
  }
}
