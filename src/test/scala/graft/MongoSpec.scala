package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.MongoSink

/** No Mongo connector in the sandbox — assert the writer reaches
  * Spark's data-source resolution (fails looking for "mongodb"), a
  * live-path proof rather than a stub that would no-op. */
class MongoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("upsertWriter reaches data-source resolution (fails finding mongodb, not before)") {
    val cfg = MongoSink.Config("mongodb://localhost:27017", "graft", "announcements")
    val batch = Seq((1L, "a"), (1L, "dup"), (2L, "b")).toDF("onlyId", "title")
    val e = intercept[Throwable] { MongoSink.upsertWriter(cfg)(batch, 0L) }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.toLowerCase.contains("mongodb"), msgs)
  }
}
