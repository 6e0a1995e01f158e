package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** SURVEY.md §2.A cap_sink_jdbc — the reference's core act, re-expressed:
  * batch append via the built-in JDBC writer, plus the one genuinely custom
  * sink Spark lacks: an idempotent keyed upsert, executed per partition so
  * every executor writes its own slice in parallel (no driver funnel).
  *
  * Dialect split: MySQL would use a single batched
  * `INSERT ... ON DUPLICATE KEY UPDATE`; Derby (the only driver in this
  * zero-egress image) has no such statement usable with batched parameters,
  * so the portable UPDATE-then-INSERT protocol is used. Both hide behind
  * `UpsertDialect`.
  */
object JdbcSink {
  /** Plain batch append through Spark's JDBC writer (predicate-free path). */
  def writeAppend(df: DataFrame, url: String, table: String, props: Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  sealed trait UpsertDialect extends Serializable
  /** UPDATE-then-INSERT, portable; used for Derby. */
  case object UpdateInsertDialect extends UpsertDialect
  /** Single-statement upsert for engines that support it (MySQL). Falls back
    * to UPDATE-then-INSERT here because no such engine ships in this image;
    * the statement it would execute is `onDuplicateKeySql` (string-tested). */
  case object OnDuplicateKeyDialect extends UpsertDialect

  /** The single batched statement OnDuplicateKeyDialect executes on engines
    * that support it — emitted for inspection and testing. */
  def onDuplicateKeySql(table: String, allCols: Seq[String], keyCols: Seq[String]): String = {
    val valCols = allCols.filterNot(keyCols.contains)
    s"INSERT INTO $table (${allCols.mkString(", ")}) " +
      s"VALUES (${allCols.map(_ => "?").mkString(", ")}) " +
      s"ON DUPLICATE KEY UPDATE ${valCols.map(c => s"$c = VALUES($c)").mkString(", ")}"
  }

  /** The portable two-wave statements [[UpdateInsertDialect]] executes —
    * pure text, golden-tested (no MySQL server ships in this zero-egress
    * image, so the dialect contract is pinned at the string level). */
  private[graft] def updateSql(table: String, keyCols: Seq[String], valCols: Seq[String]): String =
    s"UPDATE $table SET ${valCols.map(c => s"$c = ?").mkString(", ")} " +
      s"WHERE ${keyCols.map(c => s"$c = ?").mkString(" AND ")}"

  private[graft] def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** MySQL `CREATE TABLE` DDL for a Spark schema — the text a provisioning
    * step would run before [[upsert]] with [[OnDuplicateKeyDialect]].
    * Type mapping notes: DATETIME(6), not TIMESTAMP — MySQL TIMESTAMP
    * stops at 2038 and is session-timezone-shifted, both wrong for a data
    * sink; string keys get a bounded VARCHAR (InnoDB needs a bounded key
    * prefix), non-key strings get TEXT. */
  def mysqlCreateTableDdl(table: String, schema: StructType, keyCols: Seq[String]): String = {
    import org.apache.spark.sql.types._
    def sqlType(f: StructField): String = f.dataType match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case BooleanType => "BOOLEAN"
      case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
      case StringType => if (keyCols.contains(f.name)) "VARCHAR(255)" else "TEXT"
      case BinaryType => if (keyCols.contains(f.name)) "VARBINARY(255)" else "BLOB"
      case DateType => "DATE"
      case TimestampType | TimestampNTZType => "DATETIME(6)"
      case other => sys.error(s"no MySQL mapping for column ${f.name}: ${other.sql}")
    }
    val colDefs = schema.fields.map { f =>
      val nullability = if (keyCols.contains(f.name) || !f.nullable) " NOT NULL" else ""
      s"${f.name} ${sqlType(f)}$nullability"
    }
    val pk = if (keyCols.isEmpty) Nil else Seq(s"PRIMARY KEY (${keyCols.mkString(", ")})")
    (colDefs ++ pk).mkString(s"CREATE TABLE $table (", ", ", ")")
  }

  /** Idempotent upsert: rows whose key tuple exists are updated, others
    * inserted. Runs on the executors via foreachPartition; batches commit
    * every `batchSize` rows. Returns the number of rows consumed, counted
    * by the write itself (an accumulator only merges successful tasks), so
    * callers need no second action over `df` to learn it. */
  def upsert(
      df: DataFrame,
      url: String,
      table: String,
      keyCols: Seq[String],
      dialect: UpsertDialect = UpdateInsertDialect,
      batchSize: Int = 500): Long = {
    val schema = df.schema
    val valCols = schema.fieldNames.filterNot(keyCols.contains).toSeq
    val consumed = df.sparkSession.sparkContext.longAccumulator
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(url)
        try consumed.add(writePartition(conn, rows, schema, table, keyCols, valCols, batchSize))
        finally conn.close()
      }
    }
    consumed.value
  }

  /** Streaming incremental load — the reference's batch ETL modernized:
    * each micro-batch runs the idempotent keyed upsert, so at-least-once
    * delivery (micro-batch replay after failure) converges to the same
    * table state instead of duplicating rows. Checkpointed offsets make
    * restarts resume where the last commit left off. */
  def streamUpsert(
      stream: DataFrame,
      url: String,
      table: String,
      keyCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsert(batch.toDF(), url, table, keyCols)
        ()
      }
      .start()

  /** EXACTLY-ONCE streaming append — the stage-then-publish foreachBatch
    * recipe for sinks whose rows have NO natural key (where the idempotent
    * upsert can't dedup a replayed micro-batch):
    *
    *   1. if `epochTable` already records (table, batchId) → the epoch
    *      committed before a restart; skip entirely.
    *   2. clear any staging rows for this batchId (a previous foreachBatch
    *      attempt may have crashed mid-stage, possibly with a DIFFERENT
    *      partitioning), then stage the batch — per-partition parallel
    *      writes, no driver funnel, no cross-connection transaction needed
    *      because staging is invisible to readers. Each partition's write
    *      is ATTEMPT-ATOMIC and keyed by (graft_batch_id, graft_part_id):
    *      one transaction that first deletes its own (batchId, partitionId)
    *      slice, then inserts its rows, then commits. A task RETRY or
    *      SPECULATIVE duplicate attempt therefore wipes whatever a previous
    *      attempt of the same partition committed before re-inserting — the
    *      per-partition-commit hazard of Spark's stock JDBC append (retry
    *      after a committed partition ⇒ doubled rows) cannot occur.
    *   3. ONE driver-side transaction publishes: INSERT INTO target
    *      SELECT … FROM staging WHERE graft_batch_id = ?, record the epoch in
    *      `epochTable`, delete the staged rows, commit.
    *
    * Every crash window replays safely: before the publish transaction the
    * epoch is unrecorded so the retry re-stages from scratch (step 2 wipes
    * partial stages); after it, step 1 skips. The publish INSERT-SELECT
    * runs inside the database, so the target never sees a partial batch.
    * At scale the executor-parallel staging carries the data volume; the
    * publish transaction moves rows engine-side (no second network hop).
    *
    * Expected DDL: `stagingTable` = target columns + `graft_batch_id BIGINT`
    * + `graft_part_id BIGINT`;
    * `epochTable(sink_table VARCHAR(128), batch_id BIGINT, PRIMARY
    * KEY (sink_table, batch_id))`. */
  def appendEpochExactlyOnce(
      batch: DataFrame,
      batchId: Long,
      url: String,
      table: String,
      stagingTable: String,
      epochTable: String): Unit = {
    val cols = batch.schema.fieldNames.toSeq
    val conn0 = DriverManager.getConnection(url)
    val committed =
      try {
        val st = conn0.prepareStatement(
          s"SELECT 1 FROM $epochTable WHERE sink_table = ? AND batch_id = ?")
        try {
          st.setString(1, table); st.setLong(2, batchId)
          val rs = st.executeQuery()
          try rs.next()
          finally rs.close()
        } finally st.close()
      } finally conn0.close()
    if (committed) return

    locally { // step 2a: wipe a possible partial stage from a crashed attempt
      val conn = DriverManager.getConnection(url)
      try {
        val del = conn.prepareStatement(s"DELETE FROM $stagingTable WHERE graft_batch_id = ?")
        try { del.setLong(1, batchId); del.executeUpdate() }
        finally del.close()
      } finally conn.close()
    }
    // step 2b: parallel executor staging, attempt-atomic per partition
    stageBatchIdempotent(batch, batchId, url, stagingTable)
    // step 3: atomic publish
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val pub = conn.prepareStatement(
        s"INSERT INTO $table (${cols.mkString(", ")}) " +
          s"SELECT ${cols.mkString(", ")} FROM $stagingTable WHERE graft_batch_id = ?")
      val rec = conn.prepareStatement(
        s"INSERT INTO $epochTable (sink_table, batch_id) VALUES (?, ?)")
      val del = conn.prepareStatement(s"DELETE FROM $stagingTable WHERE graft_batch_id = ?")
      try {
        pub.setLong(1, batchId); pub.executeUpdate()
        rec.setString(1, table); rec.setLong(2, batchId); rec.executeUpdate()
        del.setLong(1, batchId); del.executeUpdate()
        conn.commit()
      } catch {
        case t: Throwable => conn.rollback(); throw t
      } finally { pub.close(); rec.close(); del.close() }
    } finally conn.close()
  }

  /** Stage `batch` into `stagingTable` tagged (graft_batch_id,
    * graft_part_id), each partition via [[stagePartition]] — retry- and
    * speculation-idempotent (see [[appendEpochExactlyOnce]] step 2). */
  private[graft] def stageBatchIdempotent(
      batch: DataFrame,
      batchId: Long,
      url: String,
      stagingTable: String,
      batchSize: Int = 500): Unit = {
    val cols = batch.schema.fieldNames.toSeq
    batch.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      stagePartition(
        url,
        rows,
        cols,
        stagingTable,
        batchId,
        org.apache.spark.TaskContext.getPartitionId().toLong,
        batchSize)
    }
  }

  /** One partition's staging write as a single DELETE-own-slice + INSERT-all
    * transaction. The single commit at the end is the idempotence unit: an
    * attempt that dies mid-insert rolls back (nothing visible); an attempt
    * that died AFTER commit but before task-success ack is wiped by the
    * retry's leading DELETE. Exposed package-private so the spec can drive
    * the crash-mid-insert and retry-after-commit windows directly (local
    * mode never retries tasks — spark.task.maxFailures=1). */
  private[graft] def stagePartition(
      url: String,
      rows: Iterator[org.apache.spark.sql.Row],
      cols: Seq[String],
      stagingTable: String,
      batchId: Long,
      partId: Long,
      batchSize: Int): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      try {
        val del = conn.prepareStatement(
          s"DELETE FROM $stagingTable WHERE graft_batch_id = ? AND graft_part_id = ?")
        try { del.setLong(1, batchId); del.setLong(2, partId); del.executeUpdate() }
        finally del.close()
        val ins = conn.prepareStatement(
          s"INSERT INTO $stagingTable (${cols.mkString(", ")}, graft_batch_id, graft_part_id) " +
            s"VALUES (${cols.map(_ => "?").mkString(", ")}, ?, ?)")
        try {
          var n = 0
          rows.foreach { row =>
            // positional: `cols` IS the row's field order (schema.fieldNames)
            cols.indices.foreach(i => ins.setObject(i + 1, row.get(i).asInstanceOf[AnyRef]))
            ins.setLong(cols.length + 1, batchId)
            ins.setLong(cols.length + 2, partId)
            ins.addBatch()
            n += 1
            if (n % batchSize == 0) ins.executeBatch()
          }
          if (n % batchSize != 0) ins.executeBatch()
        } finally ins.close()
        conn.commit()
      } catch {
        case t: Throwable =>
          try conn.rollback()
          catch { case _: java.sql.SQLException => () }
          throw t
      }
    } finally conn.close()
  }

  /** Streaming form of [[appendEpochExactlyOnce]]: at-least-once micro-batch
    * replay + epoch-transactional publish = exactly-once appends. */
  def streamAppendExactlyOnce(
      stream: DataFrame,
      url: String,
      table: String,
      stagingTable: String,
      epochTable: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendEpochExactlyOnce(batch.toDF(), id, url, table, stagingTable, epochTable)
      }
      .start()

  private def writePartition(
      conn: Connection,
      rows: Iterator[org.apache.spark.sql.Row],
      schema: StructType,
      table: String,
      keyCols: Seq[String],
      valCols: Seq[String],
      batchSize: Int): Long = {
    conn.setAutoCommit(false)
    val upd = conn.prepareStatement(updateSql(table, keyCols, valCols))
    val ins = conn.prepareStatement(insertSql(table, schema.fieldNames.toSeq))
    // Batched two-wave protocol: one executeBatch() of UPDATEs per chunk,
    // then one executeBatch() of INSERTs for the keys the update wave
    // missed (update count 0). Statement round-trips per partition are
    // O(rows/batchSize), not O(rows) — the difference between embedded
    // Derby (where per-row was tolerable) and a networked RDBMS.
    //
    // Two hazards the naive two-wave misses:
    //  - Repeated keys WITHIN a chunk (normal in streamUpsert micro-batches):
    //    all UPDATEs run before any INSERT, so two new rows with one key both
    //    see count 0 and both INSERT → PK violation. Dedupe the chunk by key,
    //    last occurrence wins — same final state the per-row interleave gave.
    //  - Drivers may return Statement.SUCCESS_NO_INFO (-2) from executeBatch
    //    (MySQL with rewriteBatchedStatements): the count is unknown, so fall
    //    back to a per-row executeUpdate for that row to learn it.
    var consumed = 0L
    try {
      rows.grouped(batchSize).foreach { rawChunk =>
        consumed += rawChunk.size
        val lastByKey = scala.collection.mutable.LinkedHashMap
          .empty[Seq[Any], org.apache.spark.sql.Row]
        // Normalize Array[Byte] key values (BINARY columns) to ArraySeq so
        // the Seq[Any] dedup key compares by content, not array reference —
        // otherwise duplicate binary keys slip past dedup and double-INSERT.
        def keyOf(r: org.apache.spark.sql.Row): Seq[Any] = keyCols.map { c =>
          r.getAs[Any](c) match {
            case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
            case other          => other
          }
        }
        rawChunk.foreach(r => lastByKey(keyOf(r)) = r)
        val chunk = lastByKey.values.toSeq
        chunk.foreach { row =>
          valCols.zipWithIndex.foreach { case (c, i) =>
            upd.setObject(i + 1, row.getAs[AnyRef](c))
          }
          keyCols.zipWithIndex.foreach { case (c, i) =>
            upd.setObject(valCols.length + i + 1, row.getAs[AnyRef](c))
          }
          upd.addBatch()
        }
        val updated = upd.executeBatch()
        var nIns = 0
        chunk.iterator.zip(updated.iterator).foreach { case (row, batchCount) =>
          val n =
            if (batchCount != java.sql.Statement.SUCCESS_NO_INFO) batchCount
            else { // unknown count: re-run this one row alone for a real count
              valCols.zipWithIndex.foreach { case (c, i) =>
                upd.setObject(i + 1, row.getAs[AnyRef](c))
              }
              keyCols.zipWithIndex.foreach { case (c, i) =>
                upd.setObject(valCols.length + i + 1, row.getAs[AnyRef](c))
              }
              upd.executeUpdate()
            }
          if (n == 0) {
            schema.fieldNames.zipWithIndex.foreach { case (c, i) =>
              ins.setObject(i + 1, row.getAs[AnyRef](c))
            }
            ins.addBatch()
            nIns += 1
          }
        }
        if (nIns > 0) ins.executeBatch()
        conn.commit()
      }
      consumed
    } finally {
      upd.close()
      ins.close()
    }
  }
}
