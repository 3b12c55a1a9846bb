package graft.sinks

import java.sql.{Connection, DriverManager, SQLException, Savepoint}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructField

/** The reference's MySQL sink path (O23/O24: `mysql_yi/mysql_pool.py:
  * 114-156` pooled inserts; O25: unique-key duplicate swallow,
  * kafka_s.py:614-630) as a foreachBatch writer over plain JDBC.
  *
  * The harness queries exercise the same foreachBatch shape against
  * parquet (`StreamQueries.sinkDedupToDir` / `upsertReplay`, both
  * oracle-verified, including idempotency under forced replay).
  * `JdbcSpec` runs this writer against embedded Derby: a replayed
  * batch, a failed one, duplicate keys across partitions, null columns.
  *
  * Exactly-once: Structured Streaming checkpoints batch ids, so a
  * failed batch is REPLAYED — the writer must be idempotent. With a
  * PRIMARY/UNIQUE KEY on the sink table, [[keyedAppendWriter]] drops
  * in-batch duplicates itself and skips the rows the key constraint
  * refuses (what the reference does with its try/except insert), so a
  * replay inserts nothing twice: effective exactly-once.
  */
object JdbcSink {

  /** Connection + batching options (per-topic table config is data,
    * like `Kafka.TopicConfig`). */
  final case class Config(
      url: String,
      table: String,
      user: String,
      password: String,
      driver: String = "com.mysql.cj.jdbc.Driver",
      batchSize: Int = 500,
      isolationLevel: String = "READ_COMMITTED")

  /** O25 as a foreachBatch writer: append the micro-batch to the table,
    * each `key` once. The batch goes out through one JDBC connection in
    * `batchSize`-row prepared-statement batches (the vectorized
    * equivalent of the reference's row-at-a-time pooled inserts) over a
    * single partition, so a seen-key set drops in-batch duplicates with
    * no exchange: one job and one transaction per call. That one task
    * would also compute an unpersisted batch, so the fan-outs persist
    * theirs first. A chunk the table refuses with an integrity violation
    * (SQLState class 23, a duplicate key) is rolled back and re-inserted
    * row by row, skipping the refused rows. */
  def keyedAppendWriter(cfg: Config, key: String): (DataFrame, Long) => Unit = (batch, _) => {
    val fields = batch.schema.fields
    val k = batch.schema.fieldIndex(key)
    batch.coalesce(1).foreachPartition { (rows: Iterator[Row]) =>
      val seen = mutable.HashSet.empty[Any]
      insertAll(cfg, fields, rows.filter(r => seen.add(r.get(k))))
    }
  }

  /** One transaction per call (where the database has them): a chunk
    * the table refuses is rolled back to the savepoint taken before it,
    * each re-inserted row gets a savepoint of its own, and anything else
    * rolls the whole batch back for the replay. */
  private def insertAll(cfg: Config, fields: Array[StructField], rows: Iterator[Row]): Unit = {
    Class.forName(cfg.driver)
    val props = new Properties()
    props.put("user", cfg.user)
    props.put("password", cfg.password)
    val conn = DriverManager.getConnection(cfg.url, props)
    try {
      val tx = beginTransaction(conn, cfg.isolationLevel)
      def savepoint() = if (tx) Some(conn.setSavepoint()) else None
      def rollback(to: Option[Savepoint]): Unit = to.foreach(conn.rollback)
      try {
        val dialect = JdbcDialects.get(cfg.url)
        val st = conn.prepareStatement(dialect.insertIntoTable(cfg.table, fields))
        // the columns' own types where the driver describes them: Derby's
        // dialect maps strings to CLOB, a null its VARCHAR columns refuse
        val nullTypes = try {
          val md = st.getParameterMetaData
          fields.indices.map(i => md.getParameterType(i + 1))
        } catch {
          case _: SQLException =>
            fields.toSeq.map(f => JdbcUtils.getJdbcType(f.dataType, dialect).jdbcNullType)
        }
        def bind(r: Row): Unit = fields.indices.foreach { i =>
          if (r.isNullAt(i)) st.setNull(i + 1, nullTypes(i)) else st.setObject(i + 1, r.get(i))
        }
        rows.grouped(cfg.batchSize).foreach { chunk =>
          val chunkStart = savepoint()
          try { chunk.foreach { r => bind(r); st.addBatch() }; st.executeBatch() }
          catch {
            case e: SQLException if refused(e) =>
              rollback(chunkStart)
              st.clearBatch()
              chunk.foreach { r =>
                val rowStart = savepoint()
                try { bind(r); st.executeUpdate() }
                catch { case e: SQLException if refused(e) => rollback(rowStart) }
              }
          }
        }
        st.close()
        if (tx) conn.commit()
      } catch { case e: Throwable => if (tx) conn.rollback(); throw e }
    } finally conn.close()
  }

  /** Start a transaction at the configured isolation level (the
    * database's default where it lacks that level); false, leaving
    * auto-commit on, for "NONE" or a database without transactions. */
  private def beginTransaction(conn: Connection, isolationLevel: String): Boolean = {
    val level = isolationLevel match {
      case "NONE" => Connection.TRANSACTION_NONE
      case "READ_UNCOMMITTED" => Connection.TRANSACTION_READ_UNCOMMITTED
      case "READ_COMMITTED" => Connection.TRANSACTION_READ_COMMITTED
      case "REPEATABLE_READ" => Connection.TRANSACTION_REPEATABLE_READ
      case "SERIALIZABLE" => Connection.TRANSACTION_SERIALIZABLE
    }
    val md = conn.getMetaData
    val tx = level != Connection.TRANSACTION_NONE && md.supportsTransactions
    if (tx) {
      conn.setAutoCommit(false)
      conn.setTransactionIsolation(
        if (md.supportsTransactionIsolationLevel(level)) level
        else md.getDefaultTransactionIsolation)
    }
    tx
  }

  /** An integrity-constraint violation (SQLState class 23) anywhere in
    * the exception's chain: a batch update reports the failing
    * statement's state on its next exception or its cause. */
  private def refused(t: Throwable): Boolean = t match {
    case null => false
    case s: SQLException =>
      Option(s.getSQLState).exists(_.startsWith("23")) ||
        refused(s.getNextException) || refused(s.getCause)
    case _ => refused(t.getCause)
  }
}
