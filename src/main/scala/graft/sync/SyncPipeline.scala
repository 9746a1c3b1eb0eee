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
  * starting watermark as the restart marker of the destination's state
  * record ([[DestState]], a `graft_sync_dest` row in the destination
  * database) and clears it on success; recovery starts from
  * `min(dest MAX, marker)` and the idempotent upsert absorbs the replay —
  * the same record and rule as a partitioned parquet merge.
  */
object SyncPipeline {
  import SyncEndpoint._

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
            runIntoParquet(spark, cfg, source, destDir, b, cutV, onProgress,
              () => elapsed)
          case JdbcTable(url, table, props) =>
            runIntoJdbc(spark, cfg, source, url, table, props, b, cutV,
              onProgress, () => elapsed)
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
                             b: JdbcSource.WatermarkBounds, cutV: Long,
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
        val (destStart, dest, state) =
          SyncJob.parquetRestart(spark, destDir, cfg.watermarkCol)
        val start = destStart.getOrElse(b.loUs)
        if (start > cutV)
          return SyncReport(Some(start), cutV, 0L, 0L, elapsed())
        val est = src.countRange(spark, table, cfg.watermarkCol, start, cutV,
          b.timestampTyped)
        val extracted = src.rangeRead(spark, table, cfg.watermarkCol,
          start, cutV, est, cfg.targetRowsPerSlice,
          timestampTyped = b.timestampTyped)
        val result = ParquetMergeSink.merge(spark, destDir, extracted,
          cfg.keyCols, cfg.watermarkCol, cfg.partitionByCol,
          knownUpdateRows = Some(est), tombstoneCol = cfg.tombstoneCol,
          destination = dest, orderFloor = Some(start),
          onProgress = Some(onProgress), state = Some(state))
        SyncReport(Some(start), cutV, result.updateRows, result.rowsWritten,
          elapsed())
    }
  }

  // ---------------------------------------------------------------- jdbc dest

  private def runIntoJdbc(spark: SparkSession, cfg: SyncConfig,
                          source: SyncEndpoint, url: String, table: String,
                          props: Properties, b: JdbcSource.WatermarkBounds,
                          cutV: Long, onProgress: Progress => Unit,
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
          b.timestampTyped)
        (src.rangeRead(spark, srcTable, cfg.watermarkCol, start, cutV, est,
          cfg.targetRowsPerSlice, timestampTyped = b.timestampTyped), est)
    }

    // S3 — create destination table from the source schema when missing.
    // The tombstone column is transport metadata, never destination
    // schema: the dest is created (and drift-checked) without it.
    val sourceSchema0 = source match {
      case ParquetDir(srcDir) => spark.read.parquet(srcDir).schema
      case JdbcTable(srcUrl, srcTable, srcProps) =>
        new JdbcSource(srcUrl, srcProps)
          .rangeRead(spark, srcTable, cfg.watermarkCol, 0L, 0L, 0L,
            timestampTyped = b.timestampTyped).schema
    }
    val sourceSchema = cfg.tombstoneCol match {
      case Some(t) =>
        org.apache.spark.sql.types.StructType(
          sourceSchema0.fields.filterNot(_.name.equalsIgnoreCase(t)))
      case None => sourceSchema0
    }
    withConnection(url, props) { conn =>
      // freeze the tombstone setting (and reset a cold start's record)
      // BEFORE ensureTable — its drift check would otherwise mask the
      // targeted refusal (a blind run's source still carries the marker
      // column, which reads as spurious drift against a tombstoned dest)
      val state = DestState.jdbc(conn, table)
      lazy val populated = destHasRows(conn, table)
      val opened = state.open(cfg.tombstoneCol, populated)
      JdbcUpsertSink.ensureTable(url, props, table, sourceSchema, cfg.keyCols)

      // T1 — dest MAX(wm) through the shared restart rule
      val start = opened.restart(scalarLong(conn,
        s"SELECT MAX(${cfg.watermarkCol}) FROM $table")).getOrElse(b.loUs)
      if (start > cutV) {
        state.commit(None)
        return SyncReport(Some(start), cutV, 0L, 0L, elapsed())
      }
      // record the restart point BEFORE any partition can commit
      state.markRestart(start)

      val (extracted, candidateRows) = extract(start)
      try {
        val applied = JdbcUpsertSink.write(extracted, url, props, table,
          cfg.keyCols, cfg.watermarkCol,
          tombstoneCol = cfg.tombstoneCol)
        // the batch covered every source row up to the cut that existed at
        // run start — so the applied bound is the source MAX read then,
        // capped by the cut, never the cut itself: a row arriving later
        // below a far cut must still be extracted by the next run
        state.commit(cfg.tombstoneCol.map(_ => math.min(cutV, b.hiUs)))
        // JDBC writes emit no Spark output metrics — report completion once
        onProgress(Progress(applied, applied))
        SyncReport(Some(start), cutV, candidateRows, applied, elapsed())
      } finally {
        extracted.unpersist()
        ()
      }
    }
  }

  // ------------------------------------------------------------ jdbc plumbing

  private def withConnection[A](url: String, props: Properties)
                               (f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def destHasRows(conn: Connection, table: String): Boolean =
    JdbcUpsertSink.tableExists(conn, table) && {
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
}
