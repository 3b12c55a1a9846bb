package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built from the
  * engine's own session recipe. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
