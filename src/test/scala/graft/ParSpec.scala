package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[Par]]'s driver-side helpers: `spread` inspects a frame without
  * executing it, and `all`/`par2` never leave a helper thread behind. */
class ParSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("spread on a join-rooted frame launches no job and adds no exchange") {
    val a = spark.range(0, 1000).toDF("k")
    val b = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    val joined = a.join(b, "k")
    // the join's exchanges exist only after EnsureRequirements; a check
    // on the pre-preparation plan misses them and `toRdd` then runs the
    // adaptive plan's broadcast/shuffle stages
    val (out, p) = QueryProfile.of(spark).measure(Par.spread(joined))
    assert(p.jobs.isEmpty, s"spread ran ${p.jobs.size} job(s): ${p.jobs}")
    assert(out eq joined)
  }

  test("spread still floors a single-partition scan") {
    val one = spark.range(0, 100, 1, 1).toDF("k")
    val cores = spark.sparkContext.defaultParallelism
    assert(Par.spread(one).rdd.getNumPartitions == cores)
  }

  test("par2: both failures surface and the helper thread is joined") {
    @volatile var helper: Thread = null
    val e = intercept[IllegalStateException] {
      Par.par2(throw new IllegalStateException("a failed"), {
        helper = Thread.currentThread()
        // fail AFTER `a` has already thrown on the caller's thread
        Thread.sleep(300)
        throw new IllegalArgumentException("b failed")
      })
    }
    assert(e.getMessage == "a failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
    assert(helper != null && !helper.isAlive)
  }

  test("all: a failure surfaces only after every sibling task has finished") {
    @volatile var slowDone = false
    val e = intercept[IllegalStateException] {
      Par.all(Seq(
        () => throw new IllegalStateException("first failed"),
        () => { Thread.sleep(300); slowDone = true },
        () => throw new IllegalArgumentException("third failed")))
    }
    assert(slowDone, "all threw before its slower sibling finished")
    assert(e.getMessage == "first failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third failed"))
  }

  test("par2 returns both results") {
    assert(Par.par2(1 + 1, "b") == ((2, "b")))
  }
}
