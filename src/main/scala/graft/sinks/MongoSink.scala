package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The reference's Mongo doc-store sink (kafka_s.py:614-630: insert
  * keyed on onlyId, duplicate-key error swallowed → effective upsert)
  * as real Spark-Mongo connector wiring.
  *
  * No Mongo connector jar or server here, so the oracle-verified
  * harness queries exercise the identical foreachBatch shape against
  * parquet (s09's third sink, s10's replay-idempotent upsert);
  * `MongoSpec` proves this code path reaches Spark's data-source
  * resolution rather than silently no-opping. With `idFieldList =
  * onlyId` the connector performs a replace-on-_id write, making batch
  * replays idempotent — the exactly-once argument of
  * JdbcSink.keyedAppendWriter (which skips the rows the table's key
  * refuses), delegated to the store's native upsert. */
object MongoSink {

  final case class Config(
      uri: String,
      database: String,
      collection: String,
      idField: String = "onlyId")

  /** foreachBatch writer: keyed replace-upsert of the micro-batch. */
  def upsertWriter(cfg: Config): (DataFrame, Long) => Unit = (batch, _) =>
    batch.dropDuplicates(cfg.idField)
      .write.mode(SaveMode.Append).format("mongodb")
      .option("connection.uri", cfg.uri)
      .option("database", cfg.database)
      .option("collection", cfg.collection)
      .option("idFieldList", cfg.idField)
      .option("operationType", "replace")
      .save()
}
