package graft.sync

import java.sql.Connection
import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.core.Watermark
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

/** What a sync run extracts from: a DataFrame (a parquet source is read
  * into one, once) or a JDBC table. What it writes to is a
  * [[SyncEndpoint]]. */
private[sync] sealed trait Extract
private[sync] object Extract {
  final case class Frame(df: DataFrame) extends Extract
  final case class Jdbc(table: SyncEndpoint.JdbcTable) extends Extract
}

/** The reference's headline `pypgsync single` (cli.py:42-61 →
  * session.py:24-48, SURVEY §3.1) over any (source, destination) endpoint
  * pair. Every pair, and [[SyncJob]], runs one lifecycle, documented on
  * `run(spark, cfg, extract, sink, cut, onProgress)` below. */
object SyncPipeline {
  import SyncEndpoint._

  def run(spark: SparkSession, cfg: SyncConfig, source: SyncEndpoint,
          dest: SyncEndpoint, cut: Option[Long] = None,
          onProgress: Progress => Unit = _ => ()): SyncReport =
    run(spark, cfg, source match {
      case ParquetDir(dir) => Extract.Frame(spark.read.parquet(dir))
      case t: JdbcTable => Extract.Jdbc(t)
    }, dest, cut, onProgress)

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

  /** The sync lifecycle, written once for every extract and sink (the
    * reference's `single`, session.py:24-48 and 200-240):
    *
    *   1. T1  the sink's restart point: dest MAX(watermark) through
    *          [[DestState.restart]] — a surviving restart marker lowers
    *          it, a tombstoned destination's applied bound raises it. No
    *          checkpoint: the state lives in the destination (README.md:90).
    *          A parquet destination heals an interrupted swap first and is
    *          read once, with the schema its record holds; its MAX is the
    *          record's too, so an idle poll scans nothing. A record
    *          without either field (an older record, or one a
    *          MAX-lowering write cleared) falls back to inference and a
    *          MAX scan, and records what they found. The merge reuses
    *          that frame and its record. A JDBC destination's record is
    *          opened first — the tombstone freeze, whose targeted
    *          refusals must precede the drift check — and its MAX is a
    *          `SELECT MAX`.
    *   2.     start = the restart point, else the source MIN
    *          (session.py:50-65). T2: the cut is frozen at run start — the
    *          source MAX unless given (pypgsync.py:13).
    *   3.     skip when start > cut or dest MAX > cut (session.py:216-218):
    *          nothing is extracted, written or committed, so a lower cut
    *          never clears a surviving marker whose batch it would replay
    *          only in part.
    *   4. S1  extract [start, cut], inclusive at both ends (T3: the lower
    *          bound re-reads watermark ties, session.py:130). A frame is a
    *          pushed-down range filter, persisted so every later pass reads
    *          one snapshot; a JDBC table is an exact count of the range,
    *          then a range-partitioned read (the reference's slices, SURVEY
    *          §4.1).
    *   5. S4  write and commit, each sink by its own protocol. Parquet:
    *          the keyed merge ([[ParquetMergeSink.merge]]), which owns the
    *          record's open, marker and commit. JDBC: create the table from
    *          the batch schema or check it for drift (S3), record the
    *          restart marker, upsert — per-partition transactions commit
    *          independently, so a crash can advance dest MAX past
    *          unapplied rows and the next run replays from the marker —
    *          then clear the marker and advance a tombstoned
    *          destination's applied bound to min(cut, source MAX).
    *   6.     report.
    *
    * The source bounds are read at most once, and only when something
    * needs them: no cut was given, the destination has no restart point,
    * the source is JDBC (its preflight, S6, and the column kind its SQL
    * literals need), or a tombstoned JDBC destination needs the source
    * MAX for its applied bound. */
  private[sync] def run(spark: SparkSession, cfg: SyncConfig, extract: Extract,
                        sink: SyncEndpoint, cut: Option[Long],
                        onProgress: Progress => Unit): SyncReport = {
    val t0 = System.nanoTime()
    def report(start: Option[Long], cutV: Long, rows: Long, written: Long) =
      SyncReport(start, cutV, rows, written, (System.nanoTime() - t0) / 1000000)
    val wm = col(cfg.watermarkCol)
    // One driver-side unit (core.Watermark): canonical epoch-micros for a
    // time-typed column, the raw long for a numeric one. A frame's filter
    // re-materializes bounds as literals of the column's own type, so it
    // stays a pushed-down plain comparison.
    extract match {
      case Extract.Frame(df) =>
        val dt = df.schema(cfg.watermarkCol).dataType
        require(Watermark.supported(dt), s"watermark column " +
          s"'${cfg.watermarkCol}' must be numeric or timestamp-typed; got " +
          dt.simpleString)
      case _: Extract.Jdbc => ()
    }

    lazy val bounds: Option[JdbcSource.WatermarkBounds] = extract match {
      case Extract.Frame(df) =>
        JdbcSource.WatermarkBounds.of(df.agg(min(wm), max(wm)).first())
      case Extract.Jdbc(JdbcTable(url, table, props)) =>
        new JdbcSource(url, props).checkedBounds(table, cfg.watermarkCol)
    }

    def extractRange(start: Long, c: Long): (DataFrame, Option[Long]) =
      extract match {
        case Extract.Frame(df) =>
          val dt = df.schema(cfg.watermarkCol).dataType
          (df.filter(wm >= Watermark.litFor(dt, start) &&
              wm <= Watermark.litFor(dt, c))
            .persist(StorageLevel.MEMORY_AND_DISK), None)
        case Extract.Jdbc(JdbcTable(url, table, props)) =>
          val src = new JdbcSource(url, props)
          val tsTyped = bounds.get.timestampTyped
          val n = src.countRange(spark, table, cfg.watermarkCol, start, c,
            tsTyped)
          (src.rangeRead(spark, table, cfg.watermarkCol, start, c, n,
            cfg.targetRowsPerSlice, timestampTyped = tsTyped), Some(n))
      }

    // steps 2-6, given the sink's T1 and its write of an extracted batch
    // (the batch, its known row count, the start) → (rows extracted,
    // rows written)
    def sequence(c: Long, destMax: Option[Long], restart: Option[Long])
                (write: (DataFrame, Option[Long], Long) => (Long, Long))
        : SyncReport =
      restart.orElse(bounds.map(_.loUs)) match {
        case None => report(None, c, 0L, 0L) // empty source
        case Some(start) if start > c || destMax.exists(_ > c) =>
          report(Some(start), c, 0L, 0L)
        case Some(start) =>
          val (batch, known) = extractRange(start, c)
          try {
            val (rows, written) = write(batch, known, start)
            report(Some(start), c, rows, written)
          } finally { batch.unpersist(); () }
      }

    // a JDBC source always reads its bounds; no bounds = an empty source
    val cutV = extract match {
      case _: Extract.Jdbc => bounds.map(b => cut.getOrElse(b.hiUs))
      case _: Extract.Frame => cut.orElse(bounds.map(_.hiUs))
    }
    (cutV, sink) match {
      case (None, _) => report(None, cut.getOrElse(0L), 0L, 0L)

      case (Some(c), ParquetDir(dir)) =>
        // metadata-only leftovers (a crashed first write) read as no
        // destination
        val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val state = DestState.parquet(fs, dir)
        ParquetMergeSink.recoverInterruptedSwap(fs, dir)
        val dest = Option.when(ParquetMergeSink.hasData(fs, new Path(dir)))(
          ParquetMergeSink.readDestination(spark, dir, state.stored))
        // the record's MAX, else a scan of the watermark column; what the
        // read learned fills the record's missing fields
        val destMax = dest.flatMap { d =>
          val m = state.stored.flatMap(_.destMax)
            .orElse(Watermark.toMicros(d.agg(max(wm)).first().get(0)))
          state.describe(s => s.copy(destMax = m,
            schema = s.schema.orElse(Some(d.schema))))
          m
        }
        sequence(c, destMax,
          dest.flatMap(_ => state.current(populated = true).restart(destMax))) {
          (batch, known, start) =>
            val r = ParquetMergeSink.merge(spark, dir, batch, cfg.keyCols,
              cfg.watermarkCol, cfg.partitionByCol, knownUpdateRows = known,
              tombstoneCol = cfg.tombstoneCol, destination = dest,
              orderFloor = Some(start), onProgress = Some(onProgress),
              state = Some(state))
            (r.updateRows, r.rowsWritten)
        }

      case (Some(c), JdbcTable(url, table, props)) =>
        JdbcSource.withConnection(url, props) { conn =>
          val state = DestState.jdbc(conn, table)
          val exists = JdbcUpsertSink.tableExists(conn, table)
          val opened = state.open(cfg.tombstoneCol, exists && hasRow(conn, table))
          val destMax = if (!exists) None else JdbcSource.firstRow(conn,
            s"SELECT MAX(${cfg.watermarkCol}) FROM $table")(rs =>
            Watermark.toMicros(rs.getObject(1)))
          // the batch covers every source row up to the cut that existed
          // at run start — so the applied bound is the source MAX read
          // before the extract, capped by the cut, never the cut itself:
          // a row arriving later below a far cut must still be extracted
          // by the next run
          val appliedHi = cfg.tombstoneCol.flatMap(_ => bounds)
            .map(b => math.min(c, b.hiUs))
          sequence(c, destMax, opened.restart(destMax)) { (batch, known, start) =>
            // the tombstone column is transport metadata, never
            // destination schema: the table is created (and drift-checked)
            // without it
            JdbcUpsertSink.ensureTable(url, props, table, StructType(
              batch.schema.filterNot(f =>
                cfg.tombstoneCol.exists(f.name.equalsIgnoreCase))),
              cfg.keyCols)
            // the restart point is recorded BEFORE any partition can commit
            state.markRestart(start)
            val applied = JdbcUpsertSink.write(batch, url, props, table,
              cfg.keyCols, cfg.watermarkCol, tombstoneCol = cfg.tombstoneCol)
            state.commit(appliedHi)
            // JDBC writes emit no Spark output metrics — report completion once
            onProgress(Progress(applied, applied))
            (known.getOrElse(batch.count()), applied)
          }
        }
    }
  }

  // ------------------------------------------------------------ jdbc plumbing

  private def hasRow(conn: Connection, table: String): Boolean = {
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
}
