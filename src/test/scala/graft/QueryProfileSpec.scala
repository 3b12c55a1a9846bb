package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[QueryProfile]]: one instance per session, and a window reports the
  * jobs, tasks and micro-batches that ran inside it — complete without
  * sleeping, because the window drains the listener bus. */
class QueryProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("installs once per session") {
    val p = QueryProfile.of(spark)
    assert(QueryProfile.of(spark) eq p)
    assert(spark.streams.listListeners().count(_.isInstanceOf[QueryProfile]) == 1)
  }

  test("a batch action's jobs and tasks land inside its window") {
    val (n, p) = QueryProfile.of(spark).measure(
      spark.range(0, 1000, 1, 3).selectExpr("id % 7 AS k").distinct().count())
    assert(n == 7)
    assert(p.jobs.nonEmpty && p.stages >= p.jobs.size)
    // three range partitions map-side, at least one reduce task
    assert(p.tasks >= 4)
    assert(p.shuffleBytes > 0)
    assert(p.jobMs <= p.wallMs && p.outsideMs == p.wallMs - p.jobMs)
    // nothing ran outside the window, so nothing is counted there
    val (_, idle) = QueryProfile.of(spark).measure(())
    assert(idle.jobs.isEmpty && idle.tasks == 0)
  }

  test("a join's shuffle-stage and broadcast jobs carry their action's description") {
    import org.apache.spark.sql.functions.broadcast
    // an aggregate (one adaptive shuffle-stage job) joined to a
    // broadcast dimension (one broadcast build job), then the result job
    val counts = spark.range(0, 10000, 1, 4).selectExpr("id % 100 AS k")
      .groupBy("k").count()
    val dim = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
    val (rows, p) = QueryProfile.of(spark).measure(
      counts.join(broadcast(dim), "k").collect())
    assert(rows.length == 100)
    val shown = p.jobs.map(j => s"${j.execution} ${j.executionDesc} | ${j.desc}")
      .mkString("\n")
    assert(p.jobs.exists(_.broadcast) && p.jobs.size >= 3, shown)
    // every job, whatever thread submitted it, names the one collect
    assert(p.jobs.map(_.execution).distinct.size == 1 &&
      p.jobs.head.execution.nonEmpty, shown)
    assert(p.jobs.forall(_.executionDesc.startsWith("collect at QueryProfileSpec.scala")),
      shown)
  }

  test("a drained stream reports its micro-batches") {
    val (_, p) = QueryProfile.of(spark).measure(
      graft.streaming.StreamQueries.eventCounts(spark, sf).collect())
    assert(p.streams.size == 1)
    val s = p.streams.values.head
    assert(s.batches >= 1 && s.triggerMs >= s.addBatchMs)
    assert(s.maxTriggerMs <= s.triggerMs)
  }

  test("a window counts the generated classes compiled inside it") {
    // Spark inlines a long literal into the generated source, so no
    // earlier plan of this JVM generated this one
    val k = System.nanoTime()
    def run() = QueryProfile.of(spark).measure(
      spark.range(0, 100, 1, 2).selectExpr(s"id * ${k}L AS v").collect())._2
    assert(run().compiles >= 1)
    // the same plan again: every class is in Spark's codegen cache
    assert(run().compiles == 0)
  }

  test("a stream drained again compiles nothing: its executor classes are cached") {
    // each drain runs in a fresh clone of the session; the clone's tasks
    // must share the executor's class loader, or every class they
    // compiled is missed under a new cache key
    def drain() = QueryProfile.of(spark).measure(
      graft.streaming.StreamQueries.eventCounts(spark, sf).collect())._2
    drain()
    assert(drain().compiles == 0)
  }

  test("windows do not nest") {
    val prof = QueryProfile.of(spark)
    intercept[IllegalArgumentException](prof.measure(prof.measure(())))
    // the failed inner call left the outer window closed
    assert(prof.measure(1)._1 == 1)
  }
}
