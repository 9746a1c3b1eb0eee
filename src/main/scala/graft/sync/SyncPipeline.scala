package graft.sync

import java.sql.Connection
import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.core.{GraftError, Watermark}
import graft.sinks.JdbcUpsertSink
import graft.sources.JdbcSource

/** A sync side: a parquet directory or a JDBC table. */
sealed trait SyncEndpoint
object SyncEndpoint {
  final case class ParquetDir(dir: String) extends SyncEndpoint
  final case class JdbcTable(url: String, table: String,
                             props: Properties) extends SyncEndpoint

  /** `jdbc:<subprotocol>:...#<table>` → [[JdbcTable]] (a `jdbc:` endpoint
    * without its table is `GraftError.InvalidConfig`); anything else is a
    * parquet directory. Credentials never ride in the URL (X6, reference
    * utils.py:5-13): they arrive separately and travel in Properties. */
  def parse(s: String, user: Option[String] = None,
            password: Option[String] = None): SyncEndpoint =
    if (s.startsWith("jdbc:")) {
      val i = s.lastIndexOf('#')
      if (i <= 0 || i == s.length - 1) throw GraftError.InvalidConfig(
        s"jdbc endpoint needs a '#table' suffix: $s")
      val props = new Properties()
      user.foreach(props.setProperty("user", _))
      password.foreach(props.setProperty("password", _))
      JdbcTable(s.substring(0, i), s.substring(i + 1), props)
    } else ParquetDir(s)
}

/** The one source reader of a sync run, an `agg` tick and a `reconcile`
  * pass: the only place that chooses how an endpoint is read. It is built
  * once per run from a [[SyncEndpoint]] or a DataFrame (a parquet source
  * is read into one, once). [[table]] is the whole source;
  * [[watermarked]] adds the reference's slice read over one watermark
  * column (session.py:127-133 and 170-240, SURVEY §4.1). */
private[graft] sealed trait Extract {

  /** The whole source as one lazy frame: a JDBC table is preflighted (S6:
    * a missing one is `GraftError.MissingTable`), and a projection or
    * filter on it pushes down to the server. */
  def table: DataFrame

  /** The reader's rules over watermark column `wm`, see
    * [[Extract.Watermarked]]. A frame's column must be numeric or
    * timestamp-typed; a JDBC table runs its preflight and bounds statement
    * here, always, on one connection. */
  def watermarked(wm: String): Extract.Watermarked
}

private[graft] object Extract {

  def apply(spark: SparkSession, source: SyncEndpoint): Extract =
    source match {
      case SyncEndpoint.ParquetDir(dir) => Frame(spark.read.parquet(dir))
      case t: SyncEndpoint.JdbcTable => Jdbc(spark, t)
    }

  /** One watermark column's bounds, cut and range read. Watermarks are
    * one driver-side unit (core.Watermark): canonical epoch-micros for a
    * time-typed column, the raw long for a numeric one. */
  sealed trait Watermarked {

    /** The source's MIN and MAX watermark; None for an empty source. A
      * frame's are read lazily, by one Spark job, only when asked for. */
    def bounds: Option[JdbcSource.WatermarkBounds]

    /** T2: the cut frozen at run start, `given` or else the source MAX
      * (pypgsync.py:13); None when there is nothing to read. A JDBC
      * source always has its bounds, and no bounds means an empty source;
      * a frame with a given cut never reads its bounds for it. */
    def cut(given: Option[Long]): Option[Long]

    /** S1: the rows with lo <= watermark <= hi, and their count when it is
      * known without a pass over them. A frame is a pushed-down range
      * filter on literals of the column's own type; a JDBC table is an
      * exact count of the range, then a range-partitioned read sized by
      * SlicePlanner, with the column kind its bounds found. */
    def range(lo: Long, hi: Long, targetRowsPerSlice: Long =
      SlicePlanner.TargetRows): (DataFrame, Option[Long])
  }

  final case class Frame(table: DataFrame) extends Extract {
    def watermarked(wm: String): Watermarked = {
      val dt = table.schema(wm).dataType
      require(Watermark.supported(dt), s"watermark column '$wm' must be " +
        s"numeric or timestamp-typed; got ${dt.simpleString}")
      new Watermarked {
        lazy val bounds = JdbcSource.WatermarkBounds.of(
          table.agg(min(col(wm)), max(col(wm))).first())
        def cut(given: Option[Long]) = given.orElse(bounds.map(_.hiUs))
        def range(lo: Long, hi: Long, targetRowsPerSlice: Long) =
          (Watermark.between(table, wm, lo, hi), None)
      }
    }
  }

  final case class Jdbc(spark: SparkSession, t: SyncEndpoint.JdbcTable)
      extends Extract {
    private val src = new JdbcSource(t.url, t.props)
    lazy val table = { src.preflight(t.table); src.read(spark, t.table) }

    def watermarked(wm: String): Watermarked = new Watermarked {
      val bounds = src.checkedBounds(t.table, wm)
      def cut(given: Option[Long]) = bounds.map(b => given.getOrElse(b.hiUs))
      def range(lo: Long, hi: Long, targetRowsPerSlice: Long) = bounds match {
        case Some(b) =>
          val n = src.countRange(spark, t.table, wm, lo, hi, b.timestampTyped)
          (src.rangeRead(spark, t.table, wm, lo, hi, n, targetRowsPerSlice,
            timestampTyped = b.timestampTyped), Some(n))
        // empty at run start, so the column's kind is unknown: the range
        // filters the table read on the type the read loads (the bounds
        // statement has preflighted the table)
        case None =>
          (Watermark.between(src.read(spark, t.table), wm, lo, hi), None)
      }
    }
  }
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
    run(spark, cfg, Extract(spark, source), dest, cut, onProgress)

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
    *          bound re-reads watermark ties, session.py:130), by the
    *          source reader's range read ([[Extract.Watermarked]]). A batch
    *          whose size that read does not know (a frame's) is persisted,
    *          so every later pass reads one snapshot.
    *   5. S4  write and commit, each sink by its own protocol. Parquet:
    *          the keyed merge ([[ParquetMergeSink.merge]]), which owns the
    *          record's open, marker and commit. JDBC, on the destination's
    *          one connection: create the table from the batch schema or
    *          check it for drift (S3), record the
    *          restart marker, upsert — per-partition transactions commit
    *          independently, so a crash can advance dest MAX past
    *          unapplied rows and the next run replays from the marker —
    *          then clear the marker and advance a tombstoned
    *          destination's applied bound to min(cut, source MAX).
    *   6.     report.
    *
    * The source bounds are read at most once, by the reader: a JDBC
    * source's always (its preflight, S6, and the column kind its SQL
    * literals need), a frame's only when something needs them — no cut
    * was given, the destination has no restart point, or a tombstoned
    * JDBC destination needs the source MAX for its applied bound. */
  private[sync] def run(spark: SparkSession, cfg: SyncConfig, extract: Extract,
                        sink: SyncEndpoint, cut: Option[Long],
                        onProgress: Progress => Unit): SyncReport = {
    val t0 = System.nanoTime()
    def report(start: Option[Long], cutV: Long, rows: Long, written: Long) =
      SyncReport(start, cutV, rows, written, (System.nanoTime() - t0) / 1000000)
    val source = extract.watermarked(cfg.watermarkCol)

    // steps 2-6, given the sink's T1 and its write of an extracted batch
    // (the batch, its known row count, the start) → (rows extracted,
    // rows written)
    def sequence(c: Long, destMax: Option[Long], restart: Option[Long])
                (write: (DataFrame, Option[Long], Long) => (Long, Long))
        : SyncReport =
      restart.orElse(source.bounds.map(_.loUs)) match {
        case None => report(None, c, 0L, 0L) // empty source
        case Some(start) if start > c || destMax.exists(_ > c) =>
          report(Some(start), c, 0L, 0L)
        case Some(start) =>
          val (range, known) = source.range(start, c, cfg.targetRowsPerSlice)
          // a batch of unknown size is read twice, by its count and by its
          // write: persisted, both read one snapshot
          val batch =
            if (known.isEmpty) range.persist(StorageLevel.MEMORY_AND_DISK)
            else range
          try {
            val (rows, written) = write(batch, known, start)
            report(Some(start), c, rows, written)
          } finally { batch.unpersist(); () }
      }

    (source.cut(cut), sink) match {
      case (None, _) => report(None, cut.getOrElse(0L), 0L, 0L)

      case (Some(c), ParquetDir(dir)) =>
        // metadata-only leftovers (a crashed first write) read as no
        // destination
        val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val state = DestState.parquet(fs, dir)
        ParquetMergeSink.healDestination(fs, dir)
        val dest = Option.when(ParquetMergeSink.hasData(fs, new Path(dir)))(
          ParquetMergeSink.readDestination(spark, dir, state.stored))
        // the record's MAX, else a scan of the watermark column; what the
        // read learned fills the record's missing fields
        val destMax = dest.flatMap { d =>
          val m = state.stored.flatMap(_.destMax)
            .orElse(Watermark.toMicros(
              d.agg(max(col(cfg.watermarkCol))).first().get(0)))
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
          val exists = JdbcSource.Catalog.resolve(conn, table).isDefined
          val opened = state.open(cfg.tombstoneCol, exists && hasRow(conn, table))
          val destMax = if (!exists) None else JdbcSource.firstRow(conn,
            s"SELECT MAX(${cfg.watermarkCol}) FROM $table")(rs =>
            Watermark.toMicros(rs.getObject(1)))
          // the batch covers every source row up to the cut that existed
          // at run start — so the applied bound is the source MAX read
          // before the extract, capped by the cut, never the cut itself:
          // a row arriving later below a far cut must still be extracted
          // by the next run
          val appliedHi = cfg.tombstoneCol.flatMap(_ => source.bounds)
            .map(b => math.min(c, b.hiUs))
          sequence(c, destMax, opened.restart(destMax)) { (batch, known, start) =>
            // the tombstone column is transport metadata, never
            // destination schema: the table is created (and drift-checked)
            // without it
            JdbcUpsertSink.ensureTable(conn, url, table, StructType(
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
