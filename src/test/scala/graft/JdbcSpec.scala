package graft

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.JdbcSink

/** Round trips of [[JdbcSink.keyedAppendWriter]] through embedded Derby
  * (an in-memory database, one table per test), read back over plain
  * JDBC. Each table is keyed on `onlyId` like the reference's sink
  * tables. */
class JdbcSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val url = "jdbc:derby:memory:graft_jdbc_spec;create=true"

  private def derby[T](f: Connection => T): T = {
    if (System.getProperty("derby.stream.error.file") == null) {
      val log = java.nio.file.Files.createTempFile("graft-derby", ".log").toFile
      log.deleteOnExit()
      System.setProperty("derby.stream.error.file", log.getPath)
    }
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def table(name: String): JdbcSink.Config = {
    derby(_.createStatement().execute(s"""CREATE TABLE $name ("onlyId" VARCHAR(64),
      "title" VARCHAR(100), "n" INTEGER, PRIMARY KEY ("onlyId"))"""))
    JdbcSink.Config(url, name, "", "", driver = "org.apache.derby.jdbc.EmbeddedDriver",
      batchSize = 2)
  }

  /** The table's rows, ordered by key. */
  private def rows(name: String): Seq[(String, String, Option[Int])] = derby { c =>
    val rs = c.createStatement().executeQuery(
      s"""SELECT "onlyId", "title", "n" FROM $name ORDER BY "onlyId"""")
    Iterator.continually(rs).takeWhile(_.next()).map { r =>
      val n = Some(r.getInt(3)).filterNot(_ => r.wasNull())
      (r.getString(1), r.getString(2), n)
    }.toList
  }

  test("a replayed batch inserts nothing twice and does not fail") {
    val cfg = table("replay")
    val batch = (1 to 5).map(i => (s"k$i", s"t$i", i)).toDF("onlyId", "title", "n")
    val write = JdbcSink.keyedAppendWriter(cfg, "onlyId")
    // a batch that failed after committing its first chunk, then the
    // replay of the whole batch under the same id: the committed rows
    // hit the key, the rest land
    write(batch.where(col("n") <= 2), 7L)
    write(batch, 7L)
    write(batch, 7L)
    assert(rows("replay") == (1 to 5).map(i => (s"k$i", s"t$i", Some(i))))
  }

  test("a batch that fails for another reason leaves the table as it was") {
    val cfg = table("aborted")
    // the fifth row is too long for its column: the third chunk fails
    // with a data exception, not a refused key, after two went in
    val batch = (1 to 6).map(i => (s"k$i", if (i == 5) "x" * 200 else s"t$i", i))
      .toDF("onlyId", "title", "n")
    intercept[Exception] { JdbcSink.keyedAppendWriter(cfg, "onlyId")(batch, 0L) }
    assert(rows("aborted").isEmpty)
  }

  test("duplicate keys spread over several input partitions land once") {
    val cfg = table("spread")
    val batch = spark.range(0, 40, 1, 4)
      .select(concat(lit("k"), (col("id") % 10).cast("string")).as("onlyId"),
        lit("t").as("title"), (col("id") % 10).cast("int").as("n"))
    assert(batch.rdd.getNumPartitions >= 2)
    JdbcSink.keyedAppendWriter(cfg, "onlyId")(batch, 0L)
    assert(rows("spread") == (0 until 10).map(i => (s"k$i", "t", Some(i))))
  }

  test("null INTEGER and VARCHAR columns round-trip") {
    val cfg = table("nulls")
    val batch = Seq[(String, String, Option[Int])](
      ("a", null, Some(1)), ("b", "x", None), ("c", null, None)).toDF("onlyId", "title", "n")
    JdbcSink.keyedAppendWriter(cfg, "onlyId")(batch, 0L)
    assert(rows("nulls") == Seq(("a", null, Some(1)), ("b", "x", None), ("c", null, None)))
  }
}
