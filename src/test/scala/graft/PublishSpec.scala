package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Publish

/** WAP contract (p29): a rejected audit or a crash before the manifest
  * claim never changes what readers see; a successful publish swaps
  * the whole snapshot atomically; racing publishers each claim their
  * own version; GC never removes a young stage no version references.
  */
class PublishSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def noAudit = (_: org.apache.spark.sql.DataFrame) => Option.empty[String]

  test("rejected audit: stage deleted, readers keep the old snapshot") {
    val root = TempDirs.create("graft-wap-reject")
    assert(Publish.writeAuditPublish(spark, Seq(1, 2, 3).toDF("v"), root, noAudit).isRight)
    val res = Publish.writeAuditPublish(spark, Seq(9).toDF("v"), root,
      _ => Some("rejected"))
    assert(res == Left("rejected"))
    assert(Publish.readCurrent(spark, root).get.as[Int].collect().sorted
      .sameElements(Array(1, 2, 3)))
    // the rejected stage directory is gone
    val s = Files.list(Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      assert(s.iterator().asScala.count(_.getFileName.toString.startsWith("snap-")) == 1)
    } finally s.close()
  }

  test("crash before the pointer rename: old snapshot stays visible") {
    val root = TempDirs.create("graft-wap-crash")
    assert(Publish.writeAuditPublish(spark, Seq(1).toDF("v"), root, noAudit).isRight)
    // simulate the crash: a fully-written stage that never commits
    Seq(99).toDF("v").write.parquet(s"$root/snap-orphan-from-crash")
    assert(Publish.readCurrent(spark, root).get.as[Int].collect()
      .sameElements(Array(1)))
  }

  test("publish swaps atomically and audits the DISK bytes, not the plan") {
    val root = TempDirs.create("graft-wap-swap")
    assert(Publish.writeAuditPublish(spark, Seq(1).toDF("v"), root, noAudit).isRight)
    var auditedRows = -1L
    val audit = (df: org.apache.spark.sql.DataFrame) => {
      auditedRows = df.count() // reading the staged files back
      None
    }
    assert(Publish.writeAuditPublish(spark, Seq(5, 6).toDF("v"), root, audit).isRight)
    assert(auditedRows == 2)
    assert(Publish.readCurrent(spark, root).get.as[Int].collect().sorted
      .sameElements(Array(5, 6)))
  }

  test("before any publish, readers see nothing (no partial state)") {
    val root = TempDirs.create("graft-wap-empty")
    assert(Publish.readCurrent(spark, root).isEmpty)
  }

  test("GC trails by one generation: the replaced snapshot survives its " +
      "commit, the grandparent does not (ADVICE r8)") {
    val root = TempDirs.create("graft-wap-gc")
    import scala.jdk.CollectionConverters._
    def snaps(): Set[String] = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("snap-")).toSet
      finally s.close()
    }
    val Right(s1) = Publish.writeAuditPublish(spark, Seq(1).toDF("v"), root, noAudit)
    // a reader resolves CURRENT → s1, then a concurrent publish lands:
    val reader = Publish.readCurrent(spark, root).get
    val Right(s2) = Publish.writeAuditPublish(spark, Seq(2).toDF("v"), root, noAudit)
    // the replaced snapshot's files are still on disk — the in-flight
    // reader can finish its scan
    assert(snaps() == Set(s1, s2), snaps().toString)
    assert(reader.as[Int].collect().sameElements(Array(1)))
    // one more publish: s1 is now two generations stale and is GC'd
    val Right(s3) = Publish.writeAuditPublish(spark, Seq(3).toDF("v"), root, noAudit)
    assert(snaps() == Set(s2, s3), snaps().toString)
  }

  test("a young staged snapshot no version references survives two publishes") {
    val root = TempDirs.create("graft-wap-inflight")
    // another writer's stage, written and still being audited
    Seq(7).toDF("v").write.parquet(s"$root/snap-inflight")
    assert(Publish.writeAuditPublish(spark, Seq(1).toDF("v"), root, noAudit).isRight)
    assert(Publish.writeAuditPublish(spark, Seq(2).toDF("v"), root, noAudit).isRight)
    assert(Files.exists(Paths.get(root, "snap-inflight")),
      "GC removed a young stage that may still be auditing")
    assert(Publish.readCurrent(spark, root).get.as[Int].collect()
      .sameElements(Array(2)))
  }

  test("racing publishers: every publish lands on its own version") {
    val root = TempDirs.create("graft-wap-race")
    val writers = 4
    val rounds = 10
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val results = try {
      (0 until writers).map { w =>
        pool.submit(() => (0 until rounds).map { r =>
          Publish.writeAuditPublish(spark, Seq(w * 100 + r).toDF("v"), root, noAudit)
        })
      }.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(results.forall(_.isRight), results.filter(_.isLeft).toString)
    assert(results.distinct.size == writers * rounds)
    // one claimed version per publish: none shared, none skipped
    assert(ManifestLog.latest(spark, root)._1 == writers * rounds)
    val published = (for (w <- 0 until writers; r <- 0 until rounds)
      yield w * 100 + r).toSet
    val current = Publish.readCurrent(spark, root).get.as[Int].collect()
    assert(current.length == 1 && published(current.head), current.toSeq.toString)
  }
}
