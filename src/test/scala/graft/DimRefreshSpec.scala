package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamQueries

/** O10 mid-stream dim refresh, end-to-end (VERDICT r7 next-round #2):
  * rewrite the dim parquet BETWEEN two micro-batches and prove the
  * second batch joins against the new rows — the Spark twin of the
  * reference's per-poll rules reload (kafka_s.py:232-238), where a rule
  * edited while the consumer runs affects the very next poll's events.
  *
  * The fixture makes batch order deterministic: two stream files with
  * distinct modification times (the file source processes oldest-first
  * under maxFilesPerTrigger=1), distinguishable by their event ids.
  * The dim swap happens in the afterBatch hook of batch 0 — after
  * batch 0 committed, before batch 1 is planned — so each batch's rows
  * must carry exactly one dim version.
  */
class DimRefreshSpec extends AnyFunSuite {

  private val streamSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType)))

  test("second micro-batch joins the rewritten dim; first keeps the old one") {
    val spark = SparkTestSession.spark
    import spark.implicits._

    val streamDir = TempDirs.create("dimref-stream")
    val dimPath = TempDirs.create("dimref-dim") + "/dim"

    // stream file 1 (batch 0): events 10,20; file 2 (batch 1): 11,21 —
    // flattened to single parquet files in the source dir; distinct
    // mtimes pin the file→batch order (source sorts oldest-first)
    def writeStreamFile(name: String, rows: Seq[(Long, Long)], order: Int): Unit = {
      val tmp = TempDirs.create("dimref-tmp")
      rows.toDF("event_id", "user_id").coalesce(1).write.parquet(s"$tmp/d")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "d"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val target = java.nio.file.Files.copy(part, java.nio.file.Paths.get(streamDir, name))
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + order * 1000L))
    }
    writeStreamFile("f1.parquet", Seq((10L, 1L), (20L, 2L)), 0)
    writeStreamFile("f2.parquet", Seq((11L, 1L), (21L, 2L)), 1)

    def writeDim(version: String): Unit =
      Seq((1L, s"$version-a"), (2L, s"$version-b")).toDF("user_id", "segment")
        .coalesce(1).write.mode("overwrite").parquet(dimPath)

    writeDim("v1")
    val result = StreamQueries.streamEnrichRefresh(
      spark, streamDir, streamSchema, dimPath, "user_id",
      afterBatch = { batchId =>
        // the reload the reference does on every poll: dim rewritten
        // after the first micro-batch commits. Spark's overwrite puts
        // the new content in NEW uuid-named part files — exactly the
        // case an in-plan static join's frozen file listing would miss.
        if (batchId == 0L) writeDim("v2")
      })
      .select("event_id", "segment", "batch_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

    assert(result == Seq(
      (10L, "v1-a", 0L), (11L, "v2-a", 1L),
      (20L, "v1-b", 0L), (21L, "v2-b", 1L)),
      s"per-batch dim versions wrong: $result")
  }
}
