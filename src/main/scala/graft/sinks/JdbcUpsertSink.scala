package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.sources.JdbcSource
import graft.sources.JdbcSource.Catalog
import graft.sync.LastWriterWins

/** JDBC upsert ("MERGE") sink (SURVEY §2.1 S4/S5, reference
  * session.py:135-151): PostgreSQL gets the native batched
  * `INSERT ... ON CONFLICT (pk) DO UPDATE` (with the ordering guard —
  * stale-batch replays are no-ops), any other JDBC database the
  * two-statement guarded-update / insert-miss protocol ([[SqlDialect]]).
  * Both run per partition with `addBatch`/`executeBatch` — the JDBC twin
  * of psycopg2's `use_batch_mode` (session.py:83-86).
  *
  * Scale contract:
  *   - rows are first repartitioned on the key and reduced per key by
  *     [[graft.sync.LastWriterWins]], so each key is written by exactly
  *     one task and apply order stops mattering — the order-independent
  *     replacement for the reference's apply-in-ascending-`updated` rule
  *     (session.py:126-133);
  *   - one write loop for every write: one connection + one transaction
  *     per partition, upserts and CDC deletes alike, in chunks of
  *     [[MaxBatchSize]] rows (the reference's chunksize default, within
  *     its intended ≤10000 bound, SURVEY §0.2);
  *   - retries are safe across batches: the ordering guard means an older
  *     row never overwrites a newer one.
  *
  * Crash note: a task's upserts and deletes commit in its one
  * transaction, but tasks commit independently, so a mid-run crash leaves
  * a partial apply: some tasks' keys applied, none of another's.
  * SyncPipeline brackets JDBC-dest runs with a restart marker in the
  * destination's state record (sync.DestState, a `graft_sync_dest` row)
  * so recovery re-extracts the whole interrupted batch — the
  * parallel-safe replacement for the reference's sequential ascending
  * apply.
  */
object JdbcUpsertSink {

  /** Rows per `executeBatch` round trip: the reference's chunksize. */
  val MaxBatchSize = 10000

  /** Per-key last-writer-wins dedup + co-location shuffle — the pre-write
    * normalization (SURVEY §2.1 S4 Spark mapping): the key repartition,
    * then [[graft.sync.LastWriterWins.reduce]] inside its stage. The
    * partition count is fixed: AQE would coalesce a small batch's key
    * shuffle to one write task, and each partition is one connection. */
  def normalize(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val writers = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    LastWriterWins.reduce(df.repartition(writers, keyCols.map(col): _*),
      keyCols, orderCol)
  }

  /** S3 — create `table` from `schema` when absent (reference
    * session.py:194-197 create-dest-from-source-schema), on `conn`, a
    * connection to `url`. When the table EXISTS, its column set (of the
    * table the one catalog lookup, `graft.sources.JdbcSource.Catalog`,
    * resolves: a same-named twin in another schema is never read) is
    * checked against the source schema: drift fails as the typed
    * [[graft.core.GraftError.SchemaDrift]] up front — without this, a
    * column the source gained dies mid-batch as a raw per-partition
    * SQLException (or worse for a lost column: the prepared INSERT binds
    * by position and could write columns askew on a lax dialect). Same
    * contract as the parquet merge sink: stop and tell the operator. Name
    * comparison is case-folded (the case-insensitive catalogs — Derby,
    * default PG — fold identifiers). */
  private[graft] def ensureTable(conn: Connection, url: String, table: String,
                                 schema: StructType, keyCols: Seq[String]): Unit =
    Catalog.resolve(conn, table) match {
      case None =>
        val stmt = conn.createStatement()
        try stmt.executeUpdate(SqlDialect.forUrl(url)
          .createTableSql(table, schema, keyCols))
        finally stmt.close()
      case Some(t) => Catalog.columns(conn, t) match {
        case Nil =>
          // no column metadata: the drift guard cannot run, and
          // proceeding would re-expose the positional-INSERT-askew hazard
          // this check exists to prevent
          System.err.println(s"[graft] WARN: JDBC driver returned no column " +
            s"metadata for existing table '$table'; schema-drift check skipped")
        case destCols => graft.core.GraftError.SchemaDrift.between(
          schema.fieldNames.toSeq, destCols.sorted).foreach(throw _)
      }
    }

  /** [[ensureTable]] on a connection of its own. */
  def ensureTable(url: String, props: Properties, table: String,
                  schema: StructType, keyCols: Seq[String]): Unit =
    JdbcSource.withConnection(url, props)(ensureTable(_, url, table, schema, keyCols))

  /** Write `df` into `table` with upsert semantics; returns the number of
    * rows applied (post-dedup, deletes included). Dialect chosen from the
    * URL. A tombstone-blind write is two Spark jobs, the key shuffle and
    * the write, whose tasks count the rows they apply.
    *
    * `tombstoneCol` (CDC deletes — the ParquetMergeSink.merge contract on
    * the JDBC front): one admission aggregate over every batch row first
    * refuses malformed markers ([[graft.sync.LastWriterWins.requireWellFormed]]),
    * as the parquet merge's admission pass does. The column is then
    * replaced by its normalized flag ([[graft.sync.LastWriterWins.flag]])
    * before `normalize`, so the winner of a same-watermark delete/upsert
    * pair is the one the parquet merge crowns, and the write's tasks send
    * each winner whose flag reads true to a batched `DELETE WHERE pk = ?`
    * in the same transaction as their upserts. The batch is persisted
    * for the two passes unless the caller has persisted it. Payload-free
    * (NULL non-key) delete rows are accepted; deleting an absent key is a
    * no-op; the column itself never reaches the destination table (it is
    * transport metadata — callers create/drift-check the dest WITHOUT
    * it). SyncPipeline freezes the setting in the destination's state
    * record so tombstone-blind re-runs refuse (see `sync.DestState.freeze`). */
  def write(df: DataFrame, url: String, props: Properties, table: String,
            keyCols: Seq[String], orderCol: String,
            tombstoneCol: Option[String] = None): Long = tombstoneCol match {
    case None => upsert(normalize(df, keyCols, orderCol), url, props, table,
      keyCols, orderCol)
    case Some(t) =>
      LastWriterWins.requireTombstone(df, t, keyCols :+ orderCol)
      val mustPersist = df.storageLevel == StorageLevel.NONE
      if (mustPersist) df.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        LastWriterWins.requireWellFormed("batch", t, df.agg(count(when(
          LastWriterWins.malformed(LastWriterWins.flag(t)), lit(1))))
          .first().getLong(0))
        upsert(normalize(df.withColumn(LastWriterWins.Tomb,
          LastWriterWins.flag(t)).drop(t), keyCols, orderCol), url, props,
          table, keyCols, orderCol)
      } finally if (mustPersist) df.unpersist()
  }

  /** Apply the normalized (deduped, key-partitioned) rows by the URL's
    * dialect: a row whose [[graft.sync.LastWriterWins.Tomb]] flag is set
    * deletes its key, every other row is upserted. Returns the rows the
    * write tasks applied. */
  private def upsert(normalized: DataFrame, url: String, props: Properties,
                     table: String, keyCols: Seq[String],
                     orderCol: String): Long = {
    val names = normalized.columns.toSeq
    val tomb = names.indexOf(LastWriterWins.Tomb)
    val columns = names.filterNot(_ == LastWriterWins.Tomb)
    val colIdx = names.zipWithIndex.toMap
    val keyIdx = keyCols.map(colIdx)
    val upsertChunk: Connection => Seq[Row] => Unit = SqlDialect.forUrl(url)
      .upsertSql(table, columns, keyCols, Some(orderCol)) match {
        case Some(sql) =>
          val idx = columns.map(colIdx)
          conn => rows => { executeBatch(conn, sql, rows, idx); () }
        case None => writeGeneric(table, columns, colIdx, keyCols, orderCol)
      }
    runPerPartition(normalized, url, props) { conn =>
      val upserts = upsertChunk(conn)
      chunk => {
        val (deletes, rows) =
          if (tomb < 0) (Nil, chunk) else chunk.partition(_.get(tomb) == true)
        if (rows.nonEmpty) upserts(rows)
        if (deletes.nonEmpty) deleteKeys(conn, table, keyCols, deletes, keyIdx)
        chunk.size.toLong
      }
    }
  }

  /** Dialect-generic upsert of one task's chunks: batched guarded UPDATE
    * (`... AND orderCol <= new`), then batched INSERT of the update-miss
    * rows. A miss whose INSERT hits a duplicate key means the guard
    * (correctly) blocked a stale replay — retried per-row and skipped.
    * A chunk is at most two executeBatch round trips: the UPDATE, then
    * the INSERT of its misses (every row, on a cold start). */
  private def writeGeneric(table: String, columns: Seq[String],
                           colIdx: Map[String, Int], keyCols: Seq[String],
                           orderCol: String): Connection => Seq[Row] => Unit = {
    val nonKey = columns.filterNot(keyCols.contains)
    val insertSql = s"INSERT INTO $table (${columns.mkString(", ")}) VALUES " +
      s"(${columns.map(_ => "?").mkString(", ")})"
    val updateSql =
      if (nonKey.isEmpty) null
      else s"UPDATE $table SET ${nonKey.map(c => s"$c = ?").mkString(", ")} " +
        s"WHERE ${keyMatch(keyCols)} AND $orderCol <= ?"
    // bind orders; hoisted — these sit on the per-row hot loop
    val updIdx = (nonKey ++ keyCols :+ orderCol).map(colIdx)
    val idx = columns.map(colIdx)
    val keyIdx = keyCols.map(colIdx)
    conn => {
      // Some drivers report batched updates as SUCCESS_NO_INFO (-2 — Oracle
      // always; MySQL with rewriteBatchedStatements): treating those as
      // "updated" would silently never INSERT genuinely-new rows. The first
      // chunk discovers this once per task; later chunks then go straight
      // to per-row updates instead of paying a doomed batched pass PLUS
      // the per-row rerun on every chunk.
      var batchCountsReliable = true
      def perRowMisses(chunk: Seq[Row]): Seq[Row] = {
        val upd = conn.prepareStatement(updateSql)
        try chunk.filter { row =>
          bindRow(upd, row, updIdx)
          upd.executeUpdate() == 0
        } finally upd.close()
      }
      chunk => {
        val misses =
          if (updateSql == null) chunk
          else if (!batchCountsReliable) perRowMisses(chunk)
          else {
            val counts = executeBatch(conn, updateSql, chunk, updIdx)
            if (counts.contains(java.sql.Statement.SUCCESS_NO_INFO)) {
              batchCountsReliable = false
              // guarded UPDATE is idempotent — the re-apply is safe
              perRowMisses(chunk)
            } else chunk.iterator.zip(counts.iterator)
              .collect { case (r, 0) => r }.toSeq
          }
        if (misses.nonEmpty)
          insertMisses(conn, insertSql, misses, idx, table, keyCols, keyIdx)
      }
    }
  }

  /** Batch-insert the update misses; on failure retry row-by-row, skipping
    * ONLY genuine duplicate-key collisions (the one failure the ordering
    * guard legitimately produces, from a guard-blocked stale replay).
    *
    * Dup-key detection is by FACT, not by code: SQLState for a unique-key
    * violation differs per engine (PG/Derby 23505, MySQL 23000, some
    * drivers null), and matching the broad 23-class would swallow real
    * data errors (NOT NULL 23502, FK 23503). So on an integrity-class (or
    * unclassifiable) failure the sink probes whether the row's KEY now
    * exists in the table: exists → duplicate, skip; absent → a real error,
    * rethrow. Anything else (connection loss, syntax) rethrows after one
    * harmless probe. */
  private def insertMisses(conn: Connection, insertSql: String,
                           misses: Seq[Row], idx: Seq[Int], table: String,
                           keyCols: Seq[String], keyIdx: Seq[Int]): Unit =
    try { executeBatch(conn, insertSql, misses, idx); () }
    catch {
      case _: java.sql.BatchUpdateException =>
        val ins = conn.prepareStatement(insertSql)
        val exq = conn.prepareStatement(
          s"SELECT 1 FROM $table WHERE ${keyMatch(keyCols)}")
        try misses.foreach { row =>
          try { bindRow(ins, row, idx); ins.executeUpdate() }
          catch {
            case e: java.sql.SQLException =>
              // if the probe itself fails (engine aborted the transaction
              // on statement error, connection loss), surface the ORIGINAL
              // insert failure — not the probe's — with the probe error
              // attached; such engines need a native-upsert dialect
              val dup =
                try {
                  bindRow(exq, row, keyIdx)
                  val rs = exq.executeQuery()
                  try rs.next() finally rs.close()
                } catch {
                  case probe: java.sql.SQLException =>
                    e.addSuppressed(probe); throw e
                }
              if (!dup) throw e
          }
        } finally { exq.close(); ins.close() }
    }

  private def bindRow(stmt: PreparedStatement, row: Row, srcIdx: Seq[Int]): Unit = {
    var i = 0
    while (i < srcIdx.length) {
      stmt.setObject(i + 1, row.get(srcIdx(i)))
      i += 1
    }
  }

  /** `sql` bound once per row of `rows` (the row's columns at `idx`) and
    * sent in one `executeBatch` round trip on `conn`; the update counts. */
  private def executeBatch(conn: Connection, sql: String, rows: Seq[Row],
                           idx: Seq[Int]): Array[Int] = {
    val stmt = conn.prepareStatement(sql)
    try {
      rows.foreach { row => bindRow(stmt, row, idx); stmt.addBatch() }
      stmt.executeBatch()
    } finally stmt.close()
  }

  /** The one batched `DELETE WHERE pk = ?` of the keys of `rows` (at
    * `keyIdx`): per-row update counts, 0 for a key already gone. */
  private def deleteKeys(conn: Connection, table: String, keyCols: Seq[String],
                         rows: Seq[Row], keyIdx: Seq[Int]): Array[Int] =
    executeBatch(conn, s"DELETE FROM $table WHERE ${keyMatch(keyCols)}",
      rows, keyIdx)

  private def keyMatch(keyCols: Seq[String]): String =
    keyCols.map(k => s"$k = ?").mkString(" AND ")

  /** The JDBC front's one write loop: one connection + one transaction
    * per partition; rollback on failure; connections actually closed
    * (unlike reference session.py:109). An empty partition opens no
    * connection. `open` is called once per task with its connection and
    * returns the chunk applier, which gets the task's rows in chunks of
    * [[MaxBatchSize]] (the `executeBatch` round trip) and returns what
    * each chunk counts. Returns the sum of the tasks' own results: Spark
    * keeps one successful attempt's result per partition, so the sum stays
    * exact under task retry and speculation (an accumulator would count a
    * retried task twice). */
  private def runPerPartition(df: DataFrame, url: String, props: Properties)
                             (open: Connection => Seq[Row] => Long): Long = {
    val task: Iterator[Row] => Iterator[Long] = { rows =>
      var n = 0L
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val apply = open(conn)
          rows.grouped(MaxBatchSize).foreach(chunk => n += apply(chunk))
          conn.commit()
        } catch {
          case t: Throwable => conn.rollback(); throw t
        } finally conn.close()
      }
      Iterator.single(n)
    }
    df.mapPartitions(task)(Encoders.scalaLong).collect().sum
  }

  /** Batched DELETE of the given key rows — the JDBC apply side of
    * [[graft.sync.Reconcile]] (orphaned-key removal). Keys are deduped
    * and key-repartitioned first, so each key is deleted by exactly one
    * task and batches can be retried safely (a second DELETE of the same
    * key is a no-op); the write loop and DELETE batch of [[write]] — the
    * S5 discipline.
    * Returns rows the database ACTUALLY deleted (summed `executeBatch`
    * update counts), so already-deleted keys report 0, not the submitted
    * count. A task never under-counts: a chunk whose driver answers
    * `SUCCESS_NO_INFO` gives no per-row truth, and a retried attempt or a
    * speculative duplicate may be the one that matched zero rows another
    * attempt had already deleted, so those report the keys they
    * submitted. */
  def deleteByKeys(orphans: DataFrame, url: String, props: Properties,
                   table: String, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    val speculative = orphans.sparkSession.sparkContext.getConf
      .getBoolean("spark.speculation", defaultValue = false)
    runPerPartition(orphans.select(keyCols.map(col): _*).distinct()
        .repartition(keyCols.map(col): _*), url, props) { conn =>
      val submitted = speculative ||
        Option(TaskContext.get()).exists(_.attemptNumber() > 0)
      chunk => {
        val counts = deleteKeys(conn, table, keyCols, chunk, keyCols.indices)
        if (submitted || counts.contains(java.sql.Statement.SUCCESS_NO_INFO))
          chunk.size.toLong
        else counts.map(_.max(0).toLong).sum
      }
    }
  }
}
