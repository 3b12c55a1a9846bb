package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ids, Rules}
import graft.sources.Kafka

/** The full reference pipeline as one declarative plan (SURVEY §3):
  *
  *   source → cdc filter → normalize → join(broadcast nameDim)
  *     → join(broadcast industryPivot) → crossJoin(broadcast rules)
  *     → ruleMatch → labels/ids/constants → wide output row
  *
  * Mirrors kafka_s.py end-to-end (E1/E3) but columnar and shuffle-free:
  * every dimension is broadcast, so at 100 TB the fact side streams
  * through one whole-stage-codegen pipeline with zero exchanges before
  * the sink. Left joins yield null on miss (NOT the reference's
  * stale-state quirk Q1).
  *
  * The `documents` fixture plays the announcement stream: `text` = title,
  * `source` = company short name (SURVEY/FIXTURES §B mapping).
  */
object Pipeline {

  // ---- fixture dimensions (shared shape between Spark and oracle SQL) ----

  /** short name -> full company name; covers src0..src14 so src15..19 miss
    * (exercises null-on-miss). Mirrors A_stock_code_name_fyi (kafka_s.py:132-135). */
  val nameDimRows: Seq[(String, String)] =
    (0 until 15).map(i => (s"src$i", s"Company $i Ltd"))

  /** (compName, categoryCode, constCode, constValueDesc); companies 0-4 have
    * industry levels 3/4/5, companies 5-9 only level 3 (pivot defaults).
    * Mirrors sy_cd_ms_ind_comp_gm ⋈ sy_cd_mt_sys_const (kafka_s.py:113). */
  val industryDimRows: Seq[(String, String, Int, String)] =
    (0 until 10).flatMap { i =>
      val ccs = if (i < 5) Seq(3, 4, 5) else Seq(3)
      ccs.map(cc => (s"Company $i Ltd", s"IC$cc$i", cc, s"Industry L$cc-$i"))
    }

  def nameDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    nameDimRows.toDF("short_name", "all_name")
  }

  def industryDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    industryDimRows.toDF("compName", "categoryCode", "constCode", "constValueDesc")
  }

  /** SQL VALUES literal twins for the DuckDB oracle. */
  def nameDimSql: String =
    nameDimRows.map { case (s, a) => s"('$s','$a')" }
      .mkString("(VALUES ", ",", ") AS name_dim(short_name, all_name)")

  def industryDimSql: String =
    industryDimRows.map { case (c, cat, cc, d) => s"('$c','$cat',$cc,'$d')" }
      .mkString("(VALUES ", ",", ") AS ind(compName, categoryCode, constCode, constValueDesc)")

  // ---- operators ----

  /** O8: industry rows → columns keyed by constCode 3/4/5; code value is
    * `concat(categoryCode, '##', constCode)` (kafka_s.py:298-310).
    * max(when) instead of pivot(): one aggregate pass, no pivot re-shuffle. */
  def industryPivot(ind: DataFrame): DataFrame = {
    def cc(n: Int) = when(col("constCode") === n,
      concat(col("categoryCode"), lit("##"), col("constCode").cast("string")))
    def cd(n: Int) = when(col("constCode") === n, col("constValueDesc"))
    ind.groupBy(col("compName")).agg(
      max(cd(3)).as("firstIndustry"), max(cc(3)).as("firstIndustryCode"),
      max(cd(4)).as("secondIndustry"), max(cc(4)).as("secondIndustryCode"),
      max(cd(5)).as("threeIndustry"), max(cc(5)).as("threeIndustryCode"))
  }

  /** documents → canonical announcement-event schema (O4 normalize;
    * FIXTURES §A1), as `topic`'s events (quirk Q7: one pipeline, one
    * [[Kafka.TopicConfig]] per topic — its `srcType` labels the rows).
    * pubTime is synthesized deterministically from doc_id. */
  def normalize(docs: DataFrame, topic: Kafka.TopicConfig): DataFrame =
    docs.select(
      col("doc_id"),
      col("source").as("cmpShortName"),
      col("doc_id").cast("string").as("cmpCode"),
      col("text").as("title"),
      date_format(timestamp_seconds(lit(1704067200L) + col("doc_id")),
        "yyyy-MM-dd HH:mm:ss").as("pubTime"),
      concat(lit("http://doc/"), col("doc_id").cast("string")).as("srcUrl"),
      lit(topic.srcType).as("srcType"))

  /** Full chain: normalize → enrich (name + industry dims) → classify →
    * assemble the wide announcement record (O19-O22 subset). */
  def announcements(spark: SparkSession, docs: DataFrame,
      rules: DataFrame, topic: Kafka.TopicConfig = Kafka.Neeq): DataFrame =
    enrich(spark, normalize(docs, topic), rules)

  /** The chain from CANONICAL events onward — the entry point for a real
    * Kafka topic, whose [[graft.sources.Kafka.normalize]] already emits
    * this schema (cmpShortName, cmpCode, title, pubTime, srcUrl,
    * srcType); `srcType` passes through, so each row keeps its topic's
    * label.
    * [[announcements]] is normalize∘enrich over the documents fixture;
    * IntegrationSmoke is Kafka.source∘enrich over a live topic — same
    * plan either way. */
  def enrich(spark: SparkSession, events: DataFrame,
      rules: DataFrame): DataFrame = {
    val names = nameDim(spark)
    val indPivot = industryPivot(industryDim(spark))

    val enriched = events
      .join(broadcast(names), events("cmpShortName") === names("short_name"), "left")
      .withColumn("companyName", col("all_name"))
      .drop("short_name", "all_name")
      .join(broadcast(indPivot), col("companyName") === indPivot("compName"), "left")
      .drop("compName")

    val classified = RuleClassifier.classify(enriched, rules, col("title"))

    // industry columns default to '' on miss (.get(k, '') kafka_s.py:362-367)
    def blank(c: String) = coalesce(col(c), lit("")).as(c)

    classified
      .withColumn("yqid", Ids.deterministicId(
        concat(col("title"), col("srcUrl"), col("pubTime"))))
      .withColumn("onlyId", Ids.deterministicId(
        concat(col("yqid"), coalesce(col("companyName"), lit("")), col("eventCode"))))
      .select(
        col("yqid"), col("onlyId"),
        col("cmpShortName"), coalesce(col("companyName"), lit("")).as("companyName"),
        col("cmpCode"),
        lit("").as("bondShortName"), lit("").as("bondCode"), lit("").as("bondFullName"),
        blank("firstIndustry"), blank("firstIndustryCode"),
        blank("secondIndustry"), blank("secondIndustryCode"),
        blank("threeIndustry"), blank("threeIndustryCode"),
        col("firstLevelCode"), col("firstLevelName"),
        col("secondLevelCode"), col("secondLevelName"),
        col("threeLevelCode"), col("threeLevelName"),
        col("fourLevelCode"),
        coalesce(col("fourLevelName"), lit("")).as("fourLevelName"),
        col("eventCode"), col("eventName"),
        col("emoScore"), Rules.emoLabel(col("emoScore")).as("emoLabel"),
        col("impScore"), Rules.impLabel(col("impScore")).as("impLabel"),
        lit("巨潮资讯网").as("webname"), col("srcType"),
        col("srcUrl"), col("pubTime"), col("title"))
  }
}
