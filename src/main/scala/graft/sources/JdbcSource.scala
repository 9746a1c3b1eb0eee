package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, SQLException}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{DbConfig, GraftError}
import graft.sync.SlicePlanner

/** Partitioned JDBC table source (SURVEY §2.1 S1/S2/S6).
  *
  * Responsibilities transposed from the reference:
  *   - preflight connectivity + existence checks with typed errors
  *     (session.py:170-192 → [[preflight]]);
  *   - the watermark bounds and the range count as plain JDBC statements
  *     on the driver — no Spark job, no schema round-trip
  *     ([[watermarkBounds]], [[countRange]]);
  *   - primary-key discovery via `DatabaseMetaData.getPrimaryKeys` — Spark's
  *     JDBC schema inference does not surface PKs (session.py:40-43
  *     reflection → [[primaryKey]]);
  *   - the range-partitioned extraction read: Spark's
  *     partitionColumn/lowerBound/upperBound/numPartitions emits exactly the
  *     reference's per-slice `BETWEEN` predicates (session.py:127-133), with
  *     SlicePlanner sizing numPartitions like calculate_optimal_slices
  *     (session.py:201-240). `fetchsize` streams rows off each cursor — the
  *     psycopg2 chunk analog (session.py:67-81).
  *
  * Dialect-agnostic: works against any JDBC URL (PostgreSQL in production,
  * embedded Derby in the in-process e2e tests). Note Derby folds unquoted
  * identifiers to upper case — pass table names as the catalog stores them.
  */
final class JdbcSource(url: String, props: Properties) {

  def this(cfg: DbConfig) = this(cfg.jdbcUrl, cfg.properties)

  private def withConnection[A](f: Connection => A): A =
    JdbcSource.withConnection(url, props)(f)

  /** S6 — verify connectivity and that `table` exists. Drivers disagree
    * on the plain-table type label — Derby/PG say "TABLE", engines that
    * mirror information_schema (DuckDB) say "BASE TABLE" — so the probe
    * accepts both; a single-label filter reads a live table as absent.
    * Matched rows are re-checked for exact (case-insensitive) name
    * equality: the name argument is a JDBC metadata PATTERN where '_'
    * matches any character, so preflight("sync_dest") would otherwise
    * accept a lone "syncXdest" and the real miss would surface later as
    * a raw SQLException instead of GraftError.MissingTable. Probed under
    * all three case folds (as-given / upper / lower) because catalogs
    * fold unquoted identifiers differently AND some drivers (DuckDB)
    * match the pattern case-sensitively — the JdbcUpsertSink.tableExists
    * protocol. */
  def preflight(table: String): Unit = withConnection(preflight(_, table))

  private def preflight(conn: Connection, table: String): Unit =
    // ONE definition of the case-fold/type-label probe (the sink's
    // tableExists) — a copy here would silently miss any future driver
    // quirk fix applied to the other
    if (!graft.sinks.JdbcUpsertSink.tableExists(conn, table))
      throw GraftError.MissingTable(table)

  /** S2 — reflected primary-key columns in key-sequence order. */
  def primaryKey(table: String): Seq[String] = withConnection { conn =>
    val rs = conn.getMetaData.getPrimaryKeys(null, null, table)
    val cols = Vector.newBuilder[(Short, String)]
    try {
      while (rs.next())
        cols += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
    } finally rs.close()
    val pk = cols.result().sortBy(_._1).map(_._2)
    if (pk.isEmpty) throw GraftError.MissingPrimaryKey(table)
    pk
  }

  /** A1/A2-style scalar bounds for the watermark column: one plain
    * `MIN`/`MAX` statement, aggregated by the server. Bounds come back as
    * canonical epoch-micros (core.Watermark) plus the column KIND, so the
    * extraction SQL can re-materialize them as literals of the column's
    * own type (numeric epoch — the reference's data model, session.py:58 —
    * or SQL TIMESTAMP via the JDBC `{ts ...}` escape every tested driver
    * translates). TIMESTAMP-without-zone values are read as UTC
    * wall-clock, matching the engine's UTC sessions.
    * `spark` is unused: the statement runs on the driver. */
  def watermarkBounds(spark: SparkSession, table: String,
      watermarkCol: String): Option[JdbcSource.WatermarkBounds] =
    withConnection(bounds(_, table, watermarkCol))

  /** [[preflight]], then [[watermarkBounds]], on one connection. */
  private[graft] def checkedBounds(table: String, watermarkCol: String)
      : Option[JdbcSource.WatermarkBounds] = withConnection { conn =>
    preflight(conn, table)
    bounds(conn, table, watermarkCol)
  }

  private def bounds(conn: Connection, table: String,
      watermarkCol: String): Option[JdbcSource.WatermarkBounds] =
    JdbcSource.firstRow(conn, s"SELECT MIN($watermarkCol) AS lo, " +
        s"MAX($watermarkCol) AS hi FROM $table") { rs =>
      JdbcSource.WatermarkBounds.of(Row(rs.getObject(1), rs.getObject(2)))
    }

  /** Exact server-side rowcount of a watermark range — the engine's
    * replacement for the reference's EXPLAIN estimate (A6): affordable,
    * and sizes the partitioned read precisely. One plain `COUNT(*)`
    * statement; `spark` is unused. */
  def countRange(spark: SparkSession, table: String, watermarkCol: String,
                 lo: Long, hi: Long, timestampTyped: Boolean = false): Long =
    withConnection { conn =>
      JdbcSource.firstRow(conn, s"SELECT COUNT(*) AS c FROM $table " +
          s"WHERE $watermarkCol >= ${JdbcSource.wmSqlLiteral(lo, timestampTyped, url)} " +
          s"AND $watermarkCol <= ${JdbcSource.wmSqlLiteral(hi, timestampTyped, url)}") {
        _.getObject(1).asInstanceOf[Number].longValue()
      }
    }

  /** S1 — the range-partitioned extraction read over [lo, hi] of the
    * watermark column. One Spark task per slice replaces the reference's
    * sequential slice loop. */
  def rangeRead(spark: SparkSession, table: String, watermarkCol: String,
                lo: Long, hi: Long, estimatedRows: Long,
                targetRowsPerSlice: Long = 10000000L,
                fetchSize: Int = 10000,
                timestampTyped: Boolean = false): DataFrame = {
    val reader = spark.read.format("jdbc").option("url", url)
    props.stringPropertyNames().forEach { k =>
      reader.option(k, props.getProperty(k)); ()
    }
    JdbcSource.rangeReadOptions(table, watermarkCol, lo, hi, estimatedRows,
        targetRowsPerSlice, fetchSize, timestampTyped)
      .foreach { case (k, v) => reader.option(k, v); () }
    val df = reader.load()
    // Residual exact bound on the loaded column's OWN type (the partition
    // options only shard the range; first/last slices are half-open on the
    // far side). litFor keeps this a plain pushdown-able comparison for
    // numeric AND timestamp watermarks alike.
    val dt = df.schema(watermarkCol).dataType
    df.filter(org.apache.spark.sql.functions.col(watermarkCol)
        >= graft.core.Watermark.litFor(dt, lo) &&
      org.apache.spark.sql.functions.col(watermarkCol)
        <= graft.core.Watermark.litFor(dt, hi))
  }
}

object JdbcSource {

  /** Runs `f` on a connection to `url`, with the connection's failures
    * typed (S6, reference session.py:170-192): rejected credentials, an
    * absent database, anything else as unreachable. Shared by the source
    * and the sync's JDBC destination. */
  private[graft] def withConnection[A](url: String, props: Properties)
                                     (f: Connection => A): A = {
    val conn =
      try DriverManager.getConnection(url, props)
      catch {
        case e: SQLException if e.getSQLState != null &&
            e.getSQLState.startsWith("28") => // invalid authorization
          throw GraftError.AuthenticationFailed(url, e)
        case e: SQLException if e.getSQLState == "3D000" || // PG: no database
            e.getSQLState == "XJ004" => // Derby: database not found
          throw GraftError.MissingDatabase(url)
        case e: SQLException =>
          throw GraftError.Unreachable(url, e)
      }
    try f(conn) finally conn.close()
  }

  /** `read` over the one row of an aggregate statement `sql` on `conn`. */
  private[graft] def firstRow[A](conn: Connection, sql: String)
                                (read: ResultSet => A): A = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try {
        if (!rs.next()) throw new SQLException(s"no row from: $sql")
        read(rs)
      } finally rs.close()
    } finally st.close()
  }

  /** Watermark bounds in canonical epoch-micros plus the column KIND —
    * `timestampTyped` drives how range literals render into server SQL. */
  final case class WatermarkBounds(loUs: Long, hiUs: Long,
                                   timestampTyped: Boolean)

  object WatermarkBounds {
    /** The bounds in a one-row `(MIN, MAX)` aggregate of the watermark
      * column, from any source; None when it holds no non-NULL value. */
    private[graft] def of(row: Row): Option[WatermarkBounds] =
      if (row.isNullAt(0)) None
      else Some(WatermarkBounds(
        graft.core.Watermark.toMicros(row.get(0)).get,
        graft.core.Watermark.toMicros(row.get(1)).get,
        timestampTyped = !row.get(0).isInstanceOf[java.lang.Number]))
  }

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def usToLdt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L),
      java.time.ZoneOffset.UTC)

  /** Canonical-µs watermark as a server-side SQL literal of the column's
    * kind: a bare numeric, or a dialect-rendered TIMESTAMP literal (ANSI
    * for PostgreSQL/DuckDB; the JDBC `{ts ...}` escape for Derby, which
    * rejects the ANSI form). UTC wall-clock. */
  private[sources] def wmSqlLiteral(us: Long, timestampTyped: Boolean,
                                    url: String): String =
    if (!timestampTyped) us.toString
    else graft.sinks.SqlDialect.forUrl(url)
      .timestampLiteral(TsFmt.format(usToLdt(us)))

  /** The partitioned-read option set — pure, plan-testable without a live
    * server: Spark turns these into per-slice range predicates, the exact
    * analog of the reference's windowed extraction (session.py:242-308).
    * For timestamp watermarks the bounds render in the
    * `java.sql.Timestamp.valueOf` format Spark's JDBC partitioner parses. */
  def rangeReadOptions(table: String, watermarkCol: String, lo: Long, hi: Long,
                       estimatedRows: Long,
                       targetRowsPerSlice: Long = 10000000L,
                       fetchSize: Int = 10000,
                       timestampTyped: Boolean = false): Map[String, String] = {
    val parts = SlicePlanner.numSlices(estimatedRows, targetRowsPerSlice)
    def bound(us: Long): String =
      if (timestampTyped) TsFmt.format(usToLdt(us)) else us.toString
    Map(
      "dbtable" -> table,
      "partitionColumn" -> watermarkCol,
      "lowerBound" -> bound(lo),
      "upperBound" -> bound(hi),
      "numPartitions" -> parts.toString,
      "fetchsize" -> fetchSize.toString)
  }
}
