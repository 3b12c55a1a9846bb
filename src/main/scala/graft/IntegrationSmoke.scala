package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Pipeline, RuleClassifier}
import graft.sinks.{JdbcSink, MongoSink}
import graft.sources.Kafka

/** Opt-in smoke run against REAL endpoints — the integration path the
  * sandbox harness cannot exercise (no broker/DB here; the oracle-gated
  * queries drive the same plans through file sources and parquet sinks).
  *
  * Enable each leg with an env var; absent vars skip cleanly, so this
  * main is safe to run anywhere and exits 0 in-sandbox:
  *
  *   SPARK_GRAFT_KAFKA=host:9092        consume the NEEQ topic via
  *     Kafka.source (earliest offsets, AvailableNow drain) through the
  *     full enrichment pipeline — the live form of s08.
  *   SPARK_GRAFT_JDBC_URL=jdbc:mysql://...  write the pipeline output
  *     via JdbcSink.keyedAppendWriter (with SPARK_GRAFT_JDBC_TABLE /
  *     _USER / _PASSWORD; requires the JDBC driver jar on the
  *     classpath).
  *   SPARK_GRAFT_MONGO_URI=mongodb://...    write via
  *     MongoSink.upsertWriter (with SPARK_GRAFT_MONGO_DB /
  *     _COLLECTION; requires the spark-mongodb connector jar).
  *
  * Without Kafka, the DB legs run the BATCH pipeline (p09's plan) over
  * `SPARK_GRAFT_SF_DIR` (default sf0.001) so a JDBC/Mongo endpoint can
  * be smoked without a broker. Connector jars are resolved at runtime
  * by format name, so this compiles with no extra dependencies.
  */
object IntegrationSmoke {

  private def env(k: String): Option[String] =
    sys.env.get(k).map(_.trim).filter(_.nonEmpty)

  def main(args: Array[String]): Unit = {
    val kafka = env("SPARK_GRAFT_KAFKA")
    val jdbc = env("SPARK_GRAFT_JDBC_URL")
    val mongo = env("SPARK_GRAFT_MONGO_URI")
    if (kafka.isEmpty && jdbc.isEmpty && mongo.isEmpty) {
      println("INTEGRATION_SMOKE skip: none of SPARK_GRAFT_KAFKA / " +
        "SPARK_GRAFT_JDBC_URL / SPARK_GRAFT_MONGO_URI set")
      return
    }
    val spark = GraftSession.local("8")
    try run(spark, kafka, jdbc, mongo)
    finally spark.stop()
  }

  private def run(spark: SparkSession, kafka: Option[String],
      jdbc: Option[String], mongo: Option[String]): Unit = {
    val writers = sinkWriters(jdbc, mongo)

    kafka match {
      case Some(servers) =>
        // live form of s08: real topic -> normalize -> enrich -> sinks
        val enriched = Pipeline.enrich(spark,
          Kafka.source(spark, servers, Kafka.Neeq),
          RuleClassifier.rulesDim(spark))
        val ckpt = TempDirs.create("graft-smoke-ckpt")
        val q = enriched.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()) // drain what's on the topic, stop
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.persist()
            val n = batch.count()
            writers.foreach { case (name, w) => w(batch, id) }
            println(s"INTEGRATION_SMOKE kafka batch=$id rows=$n " +
              s"sinks=${writers.map(_._1).mkString(",")}")
            batch.unpersist(); ()
          }
          .start()
        q.awaitTermination()
        println("INTEGRATION_SMOKE kafka: drained topic " +
          s"${Kafka.Neeq.topic} from $servers")
      case None =>
        // no broker: smoke the DB writers with the batch pipeline (p09)
        if (writers.nonEmpty) {
          val sf = env("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.001")
          val out = Pipeline.announcements(spark,
            graft.sources.Tables.documents(spark, sf),
            RuleClassifier.rulesDim(spark))
          writers.foreach { case (name, w) =>
            w(out, 0L)
            println(s"INTEGRATION_SMOKE $name: wrote batch pipeline output")
          }
        }
    }
  }

  /** The real production writers, one per configured endpoint. */
  private def sinkWriters(jdbc: Option[String], mongo: Option[String])
      : Seq[(String, (DataFrame, Long) => Unit)] = {
    val j = jdbc.map { url =>
      val cfg = JdbcSink.Config(url,
        table = env("SPARK_GRAFT_JDBC_TABLE").getOrElse("graft_smoke"),
        user = env("SPARK_GRAFT_JDBC_USER").getOrElse("root"),
        password = env("SPARK_GRAFT_JDBC_PASSWORD").getOrElse(""))
      "jdbc" -> JdbcSink.keyedAppendWriter(cfg, "onlyId")
    }
    val m = mongo.map { uri =>
      val cfg = MongoSink.Config(uri,
        database = env("SPARK_GRAFT_MONGO_DB").getOrElse("graft"),
        collection = env("SPARK_GRAFT_MONGO_COLLECTION").getOrElse("smoke"))
      "mongo" -> MongoSink.upsertWriter(cfg)
    }
    j.toSeq ++ m.toSeq
  }
}
