package graft.sync

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.JdbcUpsertSink
import graft.sources.JdbcSource

/** A sync side: a parquet directory or a JDBC table. */
sealed trait SyncEndpoint
object SyncEndpoint {
  final case class ParquetDir(dir: String) extends SyncEndpoint
  final case class JdbcTable(url: String, table: String,
                             props: Properties) extends SyncEndpoint

  /** `jdbc:<subprotocol>:...#<table>` → [[JdbcTable]]; anything else is a
    * parquet directory. Credentials never ride in the URL (X6, reference
    * utils.py:5-13): they arrive separately and travel in Properties. */
  def parse(s: String, user: Option[String] = None,
            password: Option[String] = None): SyncEndpoint =
    if (s.startsWith("jdbc:")) {
      val i = s.lastIndexOf('#')
      require(i > 0 && i < s.length - 1,
        s"jdbc endpoint needs a '#table' suffix: $s")
      val props = new Properties()
      user.foreach(props.setProperty("user", _))
      password.foreach(props.setProperty("password", _))
      JdbcTable(s.substring(0, i), s.substring(i + 1), props)
    } else ParquetDir(s)
}

/** The full sync lifecycle over any (source, dest) endpoint combination —
  * the engine's answer to the reference's headline `pypgsync single`
  * entry point (cli.py:42-61 → session.py:24-48, SURVEY §3.1), which the
  * DataFrame-level [[SyncJob]] alone could not express for JDBC ends.
  *
  * Every arm follows the same shape: T1 watermark recovery from the
  * destination (with crash-marker healing), T2 snapshot cut, S1
  * range-partitioned extract, S4 idempotent keyed merge/upsert.
  *
  * Crash consistency for JDBC destinations: per-partition upsert
  * transactions commit independently (the parallel replacement for the
  * reference's sequential ascending apply), so a mid-run crash can advance
  * MAX(watermark) past unapplied rows. Before writing, the run records its
  * starting watermark in a `graft_sync_state` row in the destination
  * database and clears it on success; recovery starts from
  * `min(dest MAX, marker)` and the idempotent upsert absorbs the replay —
  * the JDBC twin of ParquetMergeSink's pending-merge marker.
  */
object SyncPipeline {
  import SyncEndpoint._

  val StateTable = "graft_sync_state"
  val ParamsTable = "graft_sync_params"
  val AppliedTable = "graft_sync_applied"

  def run(spark: SparkSession, cfg: SyncConfig, source: SyncEndpoint,
          dest: SyncEndpoint, cut: Option[Long] = None,
          onProgress: Progress => Unit = _ => ()): SyncReport = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1000000

    // --- source bounds (A1/A2 scalars — the only driver-side values),
    // canonical epoch-µs + the column kind (numeric epoch vs SQL timestamp)
    val srcBounds: Option[JdbcSource.WatermarkBounds] = source match {
      case ParquetDir(dir) =>
        val df = spark.read.parquet(dir)
        val row = df.agg(min(col(cfg.watermarkCol)), max(col(cfg.watermarkCol))).first()
        if (row.isNullAt(0)) None
        else Some(JdbcSource.WatermarkBounds(
          graft.core.Watermark.toMicros(row.get(0)).get,
          graft.core.Watermark.toMicros(row.get(1)).get,
          timestampTyped = !row.get(0).isInstanceOf[java.lang.Number]))
      case JdbcTable(url, table, props) =>
        val src = new JdbcSource(url, props)
        src.preflight(table)
        src.watermarkBounds(spark, table, cfg.watermarkCol)
    }

    srcBounds match {
      case None =>
        SyncReport(None, cut.getOrElse(0L), 0L, 0L, elapsed)
      case Some(b) =>
        val cutV = cut.getOrElse(b.hiUs) // T2: frozen at run start
        dest match {
          case ParquetDir(destDir) =>
            runIntoParquet(spark, cfg, source, destDir, b.loUs, cutV,
              b.timestampTyped, onProgress, elapsed _)
          case JdbcTable(url, table, props) =>
            runIntoJdbc(spark, cfg, source, url, table, props, b.loUs, cutV,
              b.timestampTyped, onProgress, elapsed _)
        }
    }
  }

  /** T5 continuous mode over endpoints (reference cli.py:80-97): state
    * between polls lives entirely in the destination. */
  def continuous(spark: SparkSession, cfg: SyncConfig, source: SyncEndpoint,
                 dest: SyncEndpoint, delayMs: Long = 5000L,
                 maxIterations: Int = Int.MaxValue,
                 shouldStop: SyncReport => Boolean = _ => false,
                 sleep: Long => Unit = Thread.sleep,
                 onProgress: Progress => Unit = _ => ()): Vector[SyncReport] =
    ContinuousSync.loop(delayMs, maxIterations, shouldStop, sleep)(
      () => run(spark, cfg, source, dest, cut = None, onProgress))

  // ------------------------------------------------------------- parquet dest

  private def runIntoParquet(spark: SparkSession, cfg: SyncConfig,
                             source: SyncEndpoint, destDir: String,
                             srcMin: Long, cutV: Long, wmTsTyped: Boolean,
                             onProgress: Progress => Unit,
                             elapsed: () => Long): SyncReport = {
    source match {
      case ParquetDir(srcDir) =>
        // DataFrame-source lifecycle already lives in SyncJob (marker-aware
        // T1 included) — delegate.
        new SyncJob(spark, cfg).run(spark.read.parquet(srcDir), destDir, cutV,
          onProgress)
      case JdbcTable(url, table, props) =>
        val src = new JdbcSource(url, props)
        val (destStart, dest) =
          SyncJob.parquetRestart(spark, destDir, cfg.watermarkCol)
        val start = destStart.getOrElse(srcMin)
        if (start > cutV)
          return SyncReport(Some(start), cutV, 0L, 0L, elapsed())
        val est = src.countRange(spark, table, cfg.watermarkCol, start, cutV,
          wmTsTyped)
        val extracted = src.rangeRead(spark, table, cfg.watermarkCol,
          start, cutV, est, cfg.targetRowsPerSlice, timestampTyped = wmTsTyped)
        val result = ParquetMergeSink.merge(spark, destDir, extracted,
          cfg.keyCols, cfg.watermarkCol, cfg.partitionByCol,
          knownUpdateRows = Some(est), tombstoneCol = cfg.tombstoneCol,
          destination = dest, orderFloor = Some(start),
          onProgress = Some(onProgress))
        SyncReport(Some(start), cutV, result.updateRows, result.rowsWritten,
          elapsed())
    }
  }

  // ---------------------------------------------------------------- jdbc dest

  private def runIntoJdbc(spark: SparkSession, cfg: SyncConfig,
                          source: SyncEndpoint, url: String, table: String,
                          props: Properties, srcMin: Long, cutV: Long,
                          wmTsTyped: Boolean,
                          onProgress: Progress => Unit,
                          elapsed: () => Long): SyncReport = {
    // Build the extraction lazily from the resolved start watermark.
    def extract(start: Long): (DataFrame, Long) = source match {
      case ParquetDir(srcDir) =>
        val wm = col(cfg.watermarkCol)
        val df0 = spark.read.parquet(srcDir)
        val dt = df0.schema(cfg.watermarkCol).dataType
        val df = df0
          .filter(wm >= graft.core.Watermark.litFor(dt, start) &&
                  wm <= graft.core.Watermark.litFor(dt, cutV))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (df, df.count())
      case JdbcTable(srcUrl, srcTable, srcProps) =>
        val src = new JdbcSource(srcUrl, srcProps)
        val est = src.countRange(spark, srcTable, cfg.watermarkCol, start, cutV,
          wmTsTyped)
        (src.rangeRead(spark, srcTable, cfg.watermarkCol, start, cutV, est,
          cfg.targetRowsPerSlice, timestampTyped = wmTsTyped), est)
    }

    // S3 — create destination table from the source schema when missing.
    // The tombstone column is transport metadata, never destination
    // schema: the dest is created (and drift-checked) without it.
    val sourceSchema0 = source match {
      case ParquetDir(srcDir) => spark.read.parquet(srcDir).schema
      case JdbcTable(srcUrl, srcTable, srcProps) =>
        new JdbcSource(srcUrl, srcProps)
          .rangeRead(spark, srcTable, cfg.watermarkCol, 0L, 0L, 0L,
            timestampTyped = wmTsTyped).schema
    }
    val sourceSchema = cfg.tombstoneCol match {
      case Some(t) =>
        org.apache.spark.sql.types.StructType(
          sourceSchema0.fields.filterNot(_.name.equalsIgnoreCase(t)))
      case None => sourceSchema0
    }
    // freeze the tombstone setting in the destination database (the
    // parquet dest's .__merge_params rule on the JDBC front): mixing
    // tombstoned and tombstone-blind runs refuses typed. BEFORE
    // ensureTable — its drift check would otherwise mask the targeted
    // refusal (a blind run's source still carries the marker column,
    // which reads as spurious drift against a tombstoned dest).
    withConnection(url, props) { conn =>
      validateTombstoneParams(conn, table, cfg.tombstoneCol)
      // a cold start owns the dest's whole state family: an
      // applied-watermark row surviving from a dropped-and-recreated
      // table would silently skip the new incarnation's extraction
      // (the parquet front's cold sidecar-delete rule)
      if (cfg.tombstoneCol.isDefined && !tableExists(conn, table))
        clearAppliedRow(conn, table)
    }
    JdbcUpsertSink.ensureTable(url, props, table, sourceSchema, cfg.keyCols)

    withConnection(url, props) { conn =>
      ensureStateTable(conn)
      // T1 — dest MAX(wm), healed by a surviving restart marker. Applied
      // tombstones leave no destination ROW, so for tombstoned dests the
      // applied-watermark row (written only after a fully-committed
      // batch) lifts the base past fully-applied delete feeds — the
      // parquet front's `.__merge_applied_wm` rule on the JDBC front;
      // the restart marker still wins the min below.
      val appliedWm =
        if (cfg.tombstoneCol.isDefined) readApplied(conn, table) else None
      val destMax: Option[Long] =
        (scalarLong(conn,
          s"SELECT MAX(${cfg.watermarkCol}) FROM $table").toSeq ++
          appliedWm.toSeq).maxOption
      val marker = readMarker(conn, table)
      val start = (destMax, marker) match {
        case (Some(m), Some(p)) => math.min(m, p)
        case (m, p)             => m.orElse(p).getOrElse(srcMin)
      }
      if (start > cutV) {
        clearMarker(conn, table)
        return SyncReport(Some(start), cutV, 0L, 0L, elapsed())
      }
      // record the restart point BEFORE any partition can commit
      writeMarker(conn, table, start)

      val (extracted, candidateRows) = extract(start)
      try {
        val applied = JdbcUpsertSink.write(extracted, url, props, table,
          cfg.keyCols, cfg.watermarkCol,
          tombstoneCol = cfg.tombstoneCol)
        clearMarker(conn, table)
        // only after the marker clears (a surviving marker must keep
        // winning the min): the batch covered everything ≤ the frozen
        // cut inclusively, so the cut is the applied bound — including
        // the deletes that left no row behind
        if (cfg.tombstoneCol.isDefined) writeApplied(conn, table, cutV)
        // JDBC writes emit no Spark output metrics — report completion once
        onProgress(Progress(applied, applied))
        SyncReport(Some(start), cutV, candidateRows, applied, elapsed())
      } finally {
        extracted.unpersist()
        ()
      }
    }
  }

  // ------------------------------------------------------- state-table plumbing

  private def withConnection[A](url: String, props: Properties)
                               (f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  // catalogs fold unquoted identifiers differently (Derby upper, PG lower);
  // the case-folding probe is shared with the sink's ensureTable
  private def tableExists(conn: Connection, name: String): Boolean =
    graft.sinks.JdbcUpsertSink.tableExists(conn, name)

  private def ensureStateTable(conn: Connection): Unit =
    if (!tableExists(conn, StateTable)) {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $StateTable (" +
        "table_name VARCHAR(128) NOT NULL PRIMARY KEY, restart_wm BIGINT)")
      finally st.close()
      ()
    }

  /** Applied high-watermark for tombstoned JDBC destinations (the
    * parquet front's `.__merge_applied_wm` sidecar as a state row):
    * monotone, written only after a fully-committed batch, consulted as
    * max(dest MAX, this). Blind destinations never get a row. */
  private def ensureAppliedTable(conn: Connection): Unit =
    if (!tableExists(conn, AppliedTable)) {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $AppliedTable (" +
        "table_name VARCHAR(128) NOT NULL PRIMARY KEY, applied_wm BIGINT)")
      finally st.close()
      ()
    }

  private def readApplied(conn: Connection, table: String): Option[Long] = {
    if (!tableExists(conn, AppliedTable)) return None
    val ps = conn.prepareStatement(
      s"SELECT applied_wm FROM $AppliedTable WHERE table_name = ?")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      try { if (!rs.next()) None else graft.core.Watermark.toMicros(rs.getObject(1)) }
      finally rs.close()
    } finally ps.close()
  }

  private def writeApplied(conn: Connection, table: String, wm: Long): Unit = {
    ensureAppliedTable(conn)
    // monotone UPDATE-else-INSERT (never regress the bound; never
    // DELETE+INSERT — a crash between would erase the restart base)
    // (a NULL bound reads as absent, so it must take the UPDATE too: an
    // INSERT beside it would die as a raw PK violation)
    val up = conn.prepareStatement(s"UPDATE $AppliedTable SET applied_wm = ? " +
      "WHERE table_name = ? AND (applied_wm IS NULL OR applied_wm < ?)")
    val updated =
      try { up.setLong(1, wm); up.setString(2, table); up.setLong(3, wm)
            up.executeUpdate() }
      finally up.close()
    if (updated == 0 && readApplied(conn, table).isEmpty) {
      val ps = conn.prepareStatement(
        s"INSERT INTO $AppliedTable (table_name, applied_wm) VALUES (?, ?)")
      try { ps.setString(1, table); ps.setLong(2, wm); ps.executeUpdate(); () }
      finally ps.close()
    }
  }

  private def clearAppliedRow(conn: Connection, table: String): Unit =
    if (tableExists(conn, AppliedTable)) {
      val ps = conn.prepareStatement(
        s"DELETE FROM $AppliedTable WHERE table_name = ?")
      try { ps.setString(1, table); ps.executeUpdate(); () }
      finally ps.close()
    }

  private def ensureParamsTable(conn: Connection): Unit =
    if (!tableExists(conn, ParamsTable)) {
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE TABLE $ParamsTable (" +
        "table_name VARCHAR(128) NOT NULL PRIMARY KEY, params VARCHAR(256))")
      finally st.close()
      ()
    }

  private def readParamsRow(conn: Connection, table: String): Option[String] = {
    val ps = conn.prepareStatement(
      s"SELECT params FROM $ParamsTable WHERE table_name = ?")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      try { if (!rs.next()) None else Option(rs.getString(1)) }
      finally rs.close()
    } finally ps.close()
  }

  private def writeParamsRow(conn: Connection, table: String,
                             params: String): Unit = {
    // UPDATE-else-INSERT, same atomicity argument as writeMarker
    val up = conn.prepareStatement(
      s"UPDATE $ParamsTable SET params = ? WHERE table_name = ?")
    val updated =
      try { up.setString(1, params); up.setString(2, table); up.executeUpdate() }
      finally up.close()
    if (updated == 0) {
      val ps = conn.prepareStatement(
        s"INSERT INTO $ParamsTable (table_name, params) VALUES (?, ?)")
      try { ps.setString(1, table); ps.setString(2, params); ps.executeUpdate(); () }
      finally ps.close()
    }
  }

  private def clearParamsRow(conn: Connection, table: String): Unit = {
    val ps = conn.prepareStatement(
      s"DELETE FROM $ParamsTable WHERE table_name = ?")
    try { ps.setString(1, table); ps.executeUpdate(); () }
    finally ps.close()
  }

  private def destHasRows(conn: Connection, table: String): Boolean =
    tableExists(conn, table) && {
      val st = conn.createStatement()
      try {
        // one row is the question; without a cap PostgreSQL's driver in
        // autocommit mode (fetchSize 0) materializes the ENTIRE result
        // set client-side before rs.next() — O(table) memory against a
        // large populated dest (r16 advice). setMaxRows is portable
        // across dialects where a LIMIT/FETCH FIRST clause is not.
        st.setMaxRows(1)
        val rs = st.executeQuery(s"SELECT 1 FROM $table")
        try rs.next() finally rs.close()
      } finally st.close()
    }

  /** ParquetMergeSink's `.__merge_params` freeze, on the JDBC front: one
    * destination, one tombstone setting. Runs BEFORE ensureTable (the dest
    * may not exist yet — a missing or empty dest adopts whatever the
    * current run says). A populated dest with no frozen row is a
    * blind-history dest — refusing a tombstoned run against it matches
    * the parquet rule (its earlier delete markers, if any, were applied
    * as upserts). */
  private def validateTombstoneParams(conn: Connection, table: String,
                                      tomb: Option[String]): Unit =
    tomb match {
      case Some(t) =>
        ensureParamsTable(conn)
        readParamsRow(conn, table) match {
          case Some(s) if s == s"tomb=$t" => ()
          case Some(s) =>
            throw graft.core.GraftError.InvalidConfig(
              s"destination table $table is frozen as '$s' but this sync " +
                s"says tomb=$t — one destination, one tombstone column; " +
                "rebuild the destination to change it")
          case None =>
            if (destHasRows(conn, table))
              throw graft.core.GraftError.InvalidConfig(
                s"destination table $table was populated tombstone-blind " +
                  "— earlier batches' delete markers (if any) were " +
                  "applied as upserts; rebuild the destination with the " +
                  "tombstone column frozen from the start")
            writeParamsRow(conn, table, s"tomb=$t")
        }
      case None =>
        if (tableExists(conn, ParamsTable))
          readParamsRow(conn, table) match {
            case Some(s) if s.startsWith("tomb=") =>
              if (destHasRows(conn, table))
                throw graft.core.GraftError.InvalidConfig(
                  s"destination table $table was maintained WITH " +
                    s"tombstones ('$s') — a tombstone-blind sync would " +
                    "apply delete markers as upserts; pass the tombstone " +
                    "column or rebuild the destination")
              else clearParamsRow(conn, table) // empty dest: blind run owns it
            case _ => ()
          }
    }

  private def scalarLong(conn: Connection, sql: String): Option[Long] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try {
        if (!rs.next()) None
        else graft.core.Watermark.toMicros(rs.getObject(1))
      } finally rs.close()
    } finally st.close()
  }

  private def readMarker(conn: Connection, table: String): Option[Long] = {
    val ps = conn.prepareStatement(
      s"SELECT restart_wm FROM $StateTable WHERE table_name = ?")
    try {
      ps.setString(1, table)
      val rs = ps.executeQuery()
      try {
        if (!rs.next()) None
        else graft.core.Watermark.toMicros(rs.getObject(1))
      } finally rs.close()
    } finally ps.close()
  }

  private def writeMarker(conn: Connection, table: String, wm: Long): Unit = {
    // UPDATE-else-INSERT, never DELETE+INSERT: in autocommit a crash
    // between a delete and its re-insert would erase the restart marker
    // and permanently lose the interrupted batch it protects (the next
    // run trusts dest MAX(wm) alone), and wrapping the pair in a
    // transaction trips DuckDB's documented ART-index limitation
    // (delete + re-insert of the same key in one transaction reads as a
    // duplicate-PK violation). Each statement here is atomic on its own:
    // an existing marker is one UPDATE; a missing one is one INSERT, and
    // a crash before it leaves the same no-marker state the call began
    // with — the protected merge has not started yet.
    val up = conn.prepareStatement(
      s"UPDATE $StateTable SET restart_wm = ? WHERE table_name = ?")
    val updated =
      try { up.setLong(1, wm); up.setString(2, table); up.executeUpdate() }
      finally up.close()
    if (updated == 0) {
      val ps = conn.prepareStatement(
        s"INSERT INTO $StateTable (table_name, restart_wm) VALUES (?, ?)")
      try { ps.setString(1, table); ps.setLong(2, wm); ps.executeUpdate(); () }
      finally ps.close()
    }
  }

  private def clearMarker(conn: Connection, table: String): Unit = {
    val ps = conn.prepareStatement(
      s"DELETE FROM $StateTable WHERE table_name = ?")
    try { ps.setString(1, table); ps.executeUpdate(); () }
    finally ps.close()
  }
}
