package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.DbConfig

/** JDBC upsert ("MERGE") sink (SURVEY §2.1 S4/S5, reference
  * session.py:135-151): PostgreSQL gets the native batched
  * `INSERT ... ON CONFLICT (pk) DO UPDATE` (with the ordering guard —
  * stale-batch replays are no-ops), any other JDBC database the
  * two-statement guarded-update / insert-miss protocol ([[SqlDialect]]).
  * Both run per partition with `addBatch`/`executeBatch` — the JDBC twin
  * of psycopg2's `use_batch_mode` (session.py:83-86).
  *
  * Scale contract:
  *   - rows are first deduped per key (last-writer-wins by the watermark
  *     column) and repartitioned on the key, so each key is written by
  *     exactly one task and apply order stops mattering — the
  *     order-independent replacement for the reference's apply-in-
  *     ascending-`updated` rule (session.py:126-133);
  *   - one connection + one transaction per partition; batches of
  *     `batchSize` rows (reference chunksize, default 10000 with the
  *     *intended* ≤10000 validation the reference mis-implemented,
  *     SURVEY §0.2);
  *   - retries are safe across batches: the ordering guard means an older
  *     row never overwrites a newer one.
  *
  * Crash note: per-partition transactions commit independently, so a
  * mid-run crash leaves a partial apply. SyncPipeline brackets JDBC-dest
  * runs with a restart marker in the destination's state record
  * (sync.DestState, a `graft_sync_dest` row) so recovery re-extracts the
  * whole interrupted batch — the parallel-safe
  * replacement for the reference's sequential ascending apply.
  */
object JdbcUpsertSink {

  val MaxBatchSize = 10000

  /** The reference's intended chunk validation (cli.py:17-24, fixed). */
  def validateBatchSize(n: Int): Int = {
    require(n > 0 && n <= MaxBatchSize,
      s"batch size must be in [1, $MaxBatchSize], got $n")
    n
  }

  /** PostgreSQL upsert statement — pure, unit-testable (delegates to
    * [[SqlDialect.Postgres]]). With `orderCol` the DO UPDATE carries the
    * ordering guard (`WHERE table.orderCol <= EXCLUDED.orderCol`, tie in
    * the update's favour), mirroring ParquetMergeSink's (orderCol, __src)
    * last-writer-wins rule. */
  def upsertSql(table: String, columns: Seq[String], keyCols: Seq[String],
                orderCol: Option[String] = None): String =
    SqlDialect.Postgres.upsertSql(table, columns, keyCols, orderCol).get

  /** S3 — create the destination table preserving the primary key (Spark's
    * JDBC auto-create drops PKs, SURVEY §7.3). Pure DDL builder (PG). */
  def createTableSql(table: String, schema: org.apache.spark.sql.types.StructType,
                     keyCols: Seq[String]): String =
    SqlDialect.Postgres.createTableSql(table, schema, keyCols)

  /** Per-key last-writer-wins dedup + co-location shuffle — the pre-write
    * normalization (SURVEY §2.1 S4 Spark mapping). */
  def normalize(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    // deterministic tie-break on equal watermarks: orderCol alone would
    // let row_number pick by shuffle arrival order, so a retry/re-run
    // could crown a different winner and the destination's final value
    // would depend on scheduling (the ParquetMergeSink (orderCol, __src)
    // discipline). Break ties on xxhash64 of the payload, not the payload
    // struct itself: a struct of ALL non-key columns puts entire wide text
    // payloads into the sort key of every dedup shuffle, and fails at
    // analysis for unorderable payload types (MapType). Hash collisions
    // are fine — equal-hash rows are near-certainly identical payloads,
    // and exact ties are interchangeable. Map-bearing columns are excluded
    // from the hash (xxhash64 rejects MapType at analysis, same as the
    // ordering did); ties then break on the remaining columns — rows equal
    // on orderCol AND every non-map column are treated as interchangeable.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val hashCols = df.schema.fields.toIndexedSeq
      .filterNot(f => keyCols.contains(f.name))
      .filter(f => hashable(f.dataType)).map(f => col(f.name))
    val payloadHash = if (hashCols.isEmpty) lit(0L) else xxhash64(hashCols: _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, payloadHash.desc)
    // a fixed partition count: AQE would coalesce a small batch's key
    // shuffle to one write task, and each partition is one connection
    val writers = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(writers, keyCols.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Case-folding table existence check: catalogs fold unquoted identifiers
    * differently (Derby upper, PG lower), so an exact-case-only getTables
    * probe reads a live table as absent — and a dialect without CREATE
    * TABLE IF NOT EXISTS then fails the second run with already-exists. */
  private[graft] def tableExists(conn: Connection, name: String): Boolean = {
    // both type labels: Derby/PG report "TABLE", information_schema-style
    // drivers (DuckDB) report "BASE TABLE" — one-label filters miss live
    // tables there and the create below would fail with already-exists.
    // Matched rows are re-checked for EXACT (case-insensitive) name
    // equality: the name argument is a JDBC metadata PATTERN where '_'
    // matches any character, so 'sync_dest' would otherwise read a lone
    // 'syncXdest' as existence and skip the CREATE it must run.
    def check(n: String): Boolean = {
      val rs = conn.getMetaData.getTables(null, null, n,
        Array("TABLE", "BASE TABLE"))
      try {
        while (rs.next())
          if (rs.getString("TABLE_NAME").equalsIgnoreCase(name)) return true
        false
      } finally rs.close()
    }
    check(name) || check(name.toUpperCase) || check(name.toLowerCase)
  }

  /** S3 — create `table` from `schema` when absent (reference
    * session.py:194-197 create-dest-from-source-schema). When the table
    * EXISTS, its column set is checked against the source schema: drift
    * fails as the typed [[graft.core.GraftError.SchemaDrift]] up front —
    * without this, a column the source gained dies mid-batch as a raw
    * per-partition SQLException (or worse for a lost column: the prepared
    * INSERT binds by position and could write columns askew on a lax
    * dialect). Same contract as the parquet merge sink: stop and tell the
    * operator. Name comparison is case-folded (the case-insensitive
    * catalogs — Derby, default PG — fold identifiers). */
  def ensureTable(url: String, props: Properties, table: String,
                  schema: org.apache.spark.sql.types.StructType,
                  keyCols: Seq[String]): Unit = {
    val dialect = SqlDialect.forUrl(url)
    val conn = DriverManager.getConnection(url, props)
    try {
      if (!tableExists(conn, table)) {
        val stmt = conn.createStatement()
        try { stmt.executeUpdate(dialect.createTableSql(table, schema, keyCols)); () }
        finally stmt.close()
      } else {
        // Scope getColumns to the resolved table (same three case folds as
        // tableExists) — an unscoped (null,null,null,null) scan unions
        // columns from every same-named table in every schema/catalog
        // (e.g. a backup schema), which can raise phantom drift or mask a
        // real added column, and reads the whole catalog's metadata.
        // Two filters close the remaining holes: rows are re-checked for
        // EXACT (case-insensitive) TABLE_NAME equality, because the name
        // argument is a JDBC metadata PATTERN where '_' is a single-char
        // wildcard ('sync_dest' also matches 'syncXdest'); and when the
        // driver reports a current schema, rows from other schemas are
        // excluded (the backup-schema twin the unscoped scan unioned in).
        val currentSchema =
          try Option(conn.getSchema) catch { case _: Throwable => None }
        def columnsOf(n: String, schemaScoped: Boolean): Set[String] = {
          val rs = conn.getMetaData.getColumns(null, null, n, null)
          val cols = scala.collection.mutable.Set.empty[String]
          try {
            while (rs.next()) {
              val sameTable = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
              val sameSchema = !schemaScoped || currentSchema.forall { s =>
                val ts = rs.getString("TABLE_SCHEM")
                ts == null || ts.equalsIgnoreCase(s)
              }
              if (sameTable && sameSchema)
                cols += rs.getString("COLUMN_NAME").toLowerCase
            }
          } finally rs.close()
          cols.toSet
        }
        val folds = Seq(table, table.toUpperCase, table.toLowerCase).distinct
        // schema-scoped first; if that yields nothing, fall back to the
        // name-only match — the table can legitimately live in a
        // search_path schema other than current_schema (PG "$user",public
        // with the dest in public), and an empty scoped result would
        // otherwise silently skip the drift guard entirely
        val destCols =
          folds.iterator.map(columnsOf(_, schemaScoped = true))
            .find(_.nonEmpty)
            .orElse(folds.iterator.map(columnsOf(_, schemaScoped = false))
              .find(_.nonEmpty))
            .getOrElse(Set.empty)
        if (destCols.isEmpty)
          // Existing table but no column metadata under any case fold:
          // the drift guard cannot run, and proceeding would re-expose the
          // positional-INSERT-askew hazard this check exists to prevent.
          System.err.println(s"[graft] WARN: JDBC driver returned no column " +
            s"metadata for existing table '$table'; schema-drift check skipped")
        else {
          val srcCols = schema.fieldNames.map(_.toLowerCase)
          val added = srcCols.filterNot(destCols).toSeq.sorted
          val removed = (destCols -- srcCols).toSeq.sorted
          if (added.nonEmpty || removed.nonEmpty)
            throw graft.core.GraftError.SchemaDrift(added, removed)
        }
      }
    } finally conn.close()
  }

  /** Write `df` into `table` with upsert semantics; returns the number of
    * rows applied (post-dedup, deletes included). Dialect chosen from the
    * URL. A tombstone-blind write is two Spark jobs, the key shuffle and
    * the write, whose tasks count the rows they apply.
    *
    * `tombstoneCol` (CDC deletes — the ParquetMergeSink.merge contract on
    * the JDBC front): after the per-key last-writer-wins dedup, a winner
    * whose flag reads true issues a batched `DELETE WHERE pk = ?` beside
    * the upsert batch instead of an upsert. Payload-free (NULL non-key)
    * delete rows are accepted; deleting an absent key is a no-op; the
    * column itself never reaches the destination table (it is transport
    * metadata — callers create/drift-check the dest WITHOUT it). Winner
    * resolution is shared with the upsert path: `normalize`'s payload-hash
    * tie-break already covers a same-watermark delete/upsert pair, because
    * the flag column participates in the hash. SyncPipeline freezes the
    * setting in the destination's state record so tombstone-blind re-runs
    * refuse (see `sync.DestState.freeze`). */
  def write(df: DataFrame, url: String, props: Properties, table: String,
            keyCols: Seq[String], orderCol: String,
            batchSize: Int = MaxBatchSize,
            tombstoneCol: Option[String] = None): Long = {
    validateBatchSize(batchSize)
    tombstoneCol.foreach { t =>
      require(df.columns.contains(t),
        s"tombstone column '$t' is not in the update batch")
      require(!keyCols.contains(t) && t != orderCol,
        s"tombstone column '$t' cannot also be a key/order column")
      graft.sync.AggMaintenance.requireTombstoneType(df, t)
    }
    val normalized = normalize(df, keyCols, orderCol)
    tombstoneCol match {
      // tombstone-blind: the write's own tasks count what they apply
      case None =>
        upsert(normalized, url, props, table, keyCols, orderCol, batchSize)
      case Some(t) =>
        // the flag gate, the count, the upserts and the delete pass all
        // read one snapshot of the batch
        val batch = normalized.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val tombFlag = coalesce(col(t).try_cast("boolean"), lit(false))
          // ONE pass answers rows, malformed flags and delete winners (the
          // keyed IVM lanes' admission pattern). Malformed: a non-NULL flag
          // whose boolean cast is NULL must refuse typed, never silently
          // apply a delete marker as an upsert
          val tally = batch.agg(count(lit(1)),
            count(when(col(t).isNotNull && col(t).try_cast("boolean").isNull,
              lit(1))),
            count(when(tombFlag, lit(1)))).first()
          if (tally.getLong(1) > 0L)
            throw graft.core.GraftError.InvalidConfig(
              s"batch carries row(s) whose tombstone '$t' does not cast to " +
                "boolean — treating malformed delete markers as upserts " +
                "would silently mix tombstoned and tombstone-blind " +
                "semantics; repair the source")
          upsert(batch.filter(!tombFlag).drop(t), url, props, table, keyCols,
            orderCol, batchSize)
          // delete winners AFTER the upserts: the sets are key-disjoint
          // (normalize keeps one winner per key), so ordering is semantics-
          // free — but deleting last means a crash between the two phases
          // leaves the stale row VISIBLE rather than resurrected-then-lost,
          // and the restart-marker replay converges either way
          if (tally.getLong(2) > 0L)
            deleteKeys(batch.filter(tombFlag).select(keyCols.map(col): _*),
              url, props, table, keyCols, batchSize)
          tally.getLong(0)
        } finally { batch.unpersist(); () }
    }
  }

  /** Upsert the normalized (deduped, key-partitioned) rows by the URL's
    * dialect; returns the rows the write tasks applied. */
  private def upsert(normalized: DataFrame, url: String, props: Properties,
                     table: String, keyCols: Seq[String], orderCol: String,
                     batchSize: Int): Long = {
    val columns = normalized.columns.toSeq
    SqlDialect.forUrl(url).upsertSql(table, columns, keyCols, Some(orderCol)) match {
      case Some(sql) =>
        runPerPartition(normalized, url, props) { (conn, rows) =>
          val stmt = conn.prepareStatement(sql)
          try {
            var pending = 0
            rows.foreach { row =>
              bindRow(stmt, row, columns.indices)
              stmt.addBatch()
              pending += 1
              if (pending >= batchSize) { stmt.executeBatch(); pending = 0 }
            }
            if (pending > 0) stmt.executeBatch()
          } finally stmt.close()
        }
      case None =>
        writeGeneric(normalized, url, props, table, columns, keyCols,
          orderCol, batchSize)
    }
  }

  /** Backwards-compatible PG entry point. */
  def write(df: DataFrame, cfg: DbConfig, table: String, keyCols: Seq[String],
            orderCol: String): Unit = {
    write(df, cfg.jdbcUrl, cfg.properties, table, keyCols, orderCol)
    ()
  }

  /** Dialect-generic upsert: batched guarded UPDATE (`... AND orderCol <=
    * new`), then batched INSERT of the update-miss rows. A miss whose
    * INSERT hits a duplicate key means the guard (correctly) blocked a
    * stale replay — retried per-row and skipped. Cold starts take the
    * all-insert fast path; steady-state incremental batches are two
    * executeBatch round-trips per chunk. */
  private def writeGeneric(normalized: DataFrame, url: String, props: Properties,
                           table: String, columns: Seq[String],
                           keyCols: Seq[String], orderCol: String,
                           batchSize: Int): Long = {
    val nonKey = columns.filterNot(keyCols.contains)
    val insertSql = s"INSERT INTO $table (${columns.mkString(", ")}) VALUES " +
      s"(${columns.map(_ => "?").mkString(", ")})"
    val updateSql =
      if (nonKey.isEmpty) null
      else s"UPDATE $table SET ${nonKey.map(c => s"$c = ?").mkString(", ")} " +
        s"WHERE ${keyCols.map(c => s"$c = ?").mkString(" AND ")} " +
        s"AND $orderCol <= ?"
    val colIdx = columns.zipWithIndex.toMap
    // bind order for updateSql; hoisted — these sit on the per-row hot loop
    val updIdx = (nonKey ++ keyCols :+ orderCol).map(colIdx)

    runPerPartition(normalized, url, props) { (conn, rows) =>
      // Some drivers report batched updates as SUCCESS_NO_INFO (-2 — Oracle
      // always; MySQL with rewriteBatchedStatements): treating those as
      // "updated" would silently never INSERT genuinely-new rows. The first
      // chunk discovers this once per partition; subsequent chunks then go
      // straight to per-row updates instead of paying a doomed batched pass
      // PLUS the per-row rerun on every chunk.
      var batchCountsReliable = true
      def perRowMisses(upd: PreparedStatement, chunk: Seq[Row]): Seq[Row] =
        chunk.filter { row =>
          bindRow(upd, row, updIdx)
          upd.executeUpdate() == 0
        }
      rows.grouped(batchSize).foreach { chunk =>
        val misses =
          if (updateSql == null) chunk
          else {
            val upd = conn.prepareStatement(updateSql)
            try {
              if (!batchCountsReliable) perRowMisses(upd, chunk)
              else {
                chunk.foreach { row =>
                  bindRow(upd, row, updIdx)
                  upd.addBatch()
                }
                val counts = upd.executeBatch()
                if (counts.contains(java.sql.Statement.SUCCESS_NO_INFO)) {
                  batchCountsReliable = false
                  // guarded UPDATE is idempotent — the re-apply is safe
                  perRowMisses(upd, chunk)
                } else chunk.iterator.zip(counts.iterator)
                  .collect { case (r, 0) => r }.toSeq
              }
            } finally upd.close()
          }
        if (misses.nonEmpty)
          insertMisses(conn, insertSql, misses, columns, colIdx, table, keyCols)
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
                           misses: Seq[Row], columns: Seq[String],
                           colIdx: Map[String, Int], table: String,
                           keyCols: Seq[String]): Unit = {
    val idx = columns.indices
    val keyIdx = keyCols.map(colIdx)
    val ins = conn.prepareStatement(insertSql)
    val existsSql = s"SELECT 1 FROM $table WHERE " +
      keyCols.map(c => s"$c = ?").mkString(" AND ")
    try {
      try {
        misses.foreach { row => bindRow(ins, row, idx); ins.addBatch() }
        ins.executeBatch()
        ()
      } catch {
        case _: java.sql.BatchUpdateException =>
          ins.clearBatch()
          val exq = conn.prepareStatement(existsSql)
          try misses.foreach { row =>
            try {
              bindRow(ins, row, idx)
              ins.executeUpdate()
              ()
            } catch {
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
          } finally exq.close()
      }
    } finally ins.close()
  }

  private def bindRow(stmt: PreparedStatement, row: Row, srcIdx: Seq[Int]): Unit = {
    var i = 0
    while (i < srcIdx.length) {
      stmt.setObject(i + 1, row.get(srcIdx(i)))
      i += 1
    }
  }

  /** One connection + one transaction per partition; rollback on failure;
    * connections actually closed (unlike reference session.py:109). An
    * empty partition opens no connection. Returns the rows `body`
    * consumed, summed from each task's own result: Spark keeps one
    * successful attempt's result per partition, so the sum stays exact
    * under task retry and speculation (an accumulator would count a
    * retried task twice). */
  private def runPerPartition(df: DataFrame, url: String, props: Properties)
                             (body: (Connection, Iterator[Row]) => Unit): Long = {
    val task: Iterator[Row] => Iterator[Long] = { rows =>
      var n = 0L
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          body(conn, rows.map { r => n += 1; r })
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
    * key is a no-op); one connection + one transaction per partition,
    * `addBatch`/`executeBatch` in `batchSize` chunks — the S5 discipline.
    * Returns rows the database ACTUALLY deleted (summed `executeBatch`
    * update counts), so already-deleted keys report 0, not the submitted
    * count. Drivers that answer `SUCCESS_NO_INFO` for any batch element
    * give no per-row truth, so the submitted distinct-key count is the
    * fallback for that case — and likewise when any task attempt was a
    * retry or speculation is enabled (the credited attempt may be the
    * duplicate that matched zero already-deleted rows — a silent
    * undercount otherwise). */
  def deleteByKeys(orphans: DataFrame, url: String, props: Properties,
                   table: String, keyCols: Seq[String],
                   batchSize: Int = MaxBatchSize): Long = {
    validateBatchSize(batchSize)
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    deleteKeys(orphans.select(keyCols.map(col): _*).distinct()
      .repartition(keyCols.map(col): _*), url, props, table, keyCols,
      batchSize)
  }

  /** [[deleteByKeys]] over `keyed`: key columns only, each key in one
    * row of one partition already (a [[normalize]]d batch is), so one
    * job deletes them and its tasks return the submitted count. */
  private def deleteKeys(keyed: DataFrame, url: String, props: Properties,
                         table: String, keyCols: Seq[String],
                         batchSize: Int): Long = {
    val sc = keyed.sparkSession.sparkContext
    val applied = sc.longAccumulator("reconcile.deleted")
    val noInfo = sc.longAccumulator("reconcile.deleteNoInfo")
    // Accumulator-based row attribution is only trustworthy when every
    // partition ran EXACTLY once: after a task retry (first attempt
    // committed its DELETEs, then died before crediting) or under
    // speculative duplicates, the credited attempt may be the one that
    // matched zero already-deleted rows — an undercount. Detect both and
    // fall back to the submitted distinct-key count (the conservative
    // pre-attribution semantics) rather than report a silent floor.
    val retried = sc.longAccumulator("reconcile.deleteRetriedTasks")
    val speculative = sc.getConf.getBoolean("spark.speculation",
      defaultValue = false)
    val where = keyCols.map(k => s"$k = ?").mkString(" AND ")
    val sql = s"DELETE FROM $table WHERE $where"
    val submitted = runPerPartition(keyed, url, props) { (conn, rows) =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() > 0) retried.add(1L)
      val stmt = conn.prepareStatement(sql)
      def flush(): Unit = stmt.executeBatch().foreach {
        case java.sql.Statement.SUCCESS_NO_INFO => noInfo.add(1L)
        case c if c > 0                         => applied.add(c.toLong)
        case _                                  => () // 0 = key already gone
      }
      try {
        var pending = 0
        rows.foreach { row =>
          bindRow(stmt, row, keyCols.indices)
          stmt.addBatch()
          pending += 1
          if (pending >= batchSize) { flush(); pending = 0 }
        }
        if (pending > 0) flush()
      } finally stmt.close()
    }
    if (noInfo.value > 0L || retried.value > 0L || speculative) submitted
    else applied.value
  }
}
