package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ids, Rules}
import graft.sources.Kafka

/** The full reference pipeline as one declarative plan (SURVEY §3):
  *
  *   source → cdc filter → normalize → lookup(nameMap) → lookup(industryMap)
  *     → crossJoin(broadcast rules) → ruleMatch → labels/ids/constants
  *     → wide output row
  *
  * Mirrors kafka_s.py end-to-end (E1/E3) but columnar and shuffle-free.
  * The two dimensions are what the reference holds them as, in-memory
  * maps (kafka_s.py:120-148): `element_at` over a literal map in the
  * plan, so a micro-batch runs no job to build or broadcast them. The
  * rules are the one broadcast, so at 100 TB the fact side streams
  * through one whole-stage-codegen pipeline with zero exchanges before
  * the sink. A lookup miss yields null (NOT the reference's stale-state
  * quirk Q1).
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

  /** SQL VALUES literal twins for the DuckDB oracle. */
  def nameDimSql: String =
    nameDimRows.map { case (s, a) => s"('$s','$a')" }
      .mkString("(VALUES ", ",", ") AS name_dim(short_name, all_name)")

  def industryDimSql: String =
    industryDimRows.map { case (c, cat, cc, d) => s"('$c','$cat',$cc,'$d')" }
      .mkString("(VALUES ", ",", ") AS ind(compName, categoryCode, constCode, constValueDesc)")

  // ---- operators ----

  /** One company's industry levels: the O8 pivot's output row. */
  private final case class Industry(
      firstIndustry: String, firstIndustryCode: String,
      secondIndustry: String, secondIndustryCode: String,
      threeIndustry: String, threeIndustryCode: String)

  /** O8 on the driver: industry rows → one [[Industry]] per company,
    * levels keyed by constCode 3/4/5, the code being
    * `categoryCode##constCode` (kafka_s.py:298-310). Each field is the
    * max over the company's rows of that constCode, null if it has none. */
  private def industryLevels: Map[String, Industry] =
    industryDimRows.groupBy(_._1).map { case (comp, rows) =>
      def at(cc: Int) = rows.filter(_._3 == cc)
      def desc(cc: Int) = at(cc).map(_._4).maxOption.orNull
      def code(cc: Int) = at(cc).map(r => s"${r._2}##$cc").maxOption.orNull
      comp -> Industry(desc(3), code(3), desc(4), code(4), desc(5), code(5))
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
    * plan either way. The name and industry maps are built here, once
    * per call, and ride in the plan as literals; the rules are its one
    * broadcast. */
  def enrich(spark: SparkSession, events: DataFrame,
      rules: DataFrame): DataFrame = {
    val names = typedLit(nameDimRows.toMap)
    val industry = typedLit(industryLevels)

    val enriched = events
      .withColumn("companyName", element_at(names, col("cmpShortName")))
      .withColumn("industry", element_at(industry, col("companyName")))

    val classified = RuleClassifier.classify(enriched, rules, col("title"))

    // industry columns default to '' on miss (.get(k, '') kafka_s.py:362-367)
    def blank(c: String) = coalesce(col(s"industry.$c"), lit("")).as(c)

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
