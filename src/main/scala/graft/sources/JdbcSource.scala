package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, SQLException}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.{DbConfig, GraftError}
import graft.sync.SlicePlanner

/** Partitioned JDBC table source (SURVEY §2.1 S1/S2/S6).
  *
  * Responsibilities transposed from the reference:
  *   - preflight connectivity + existence checks with typed errors
  *     (session.py:170-192 → [[preflight]]), through the front's one
  *     catalog lookup ([[JdbcSource.Catalog]]);
  *   - the watermark bounds and the range count as plain JDBC statements
  *     on the driver — no Spark job, no schema round-trip
  *     ([[watermarkBounds]], [[countRange]]);
  *   - primary-key discovery via `DatabaseMetaData.getPrimaryKeys` of the
  *     resolved table — Spark's JDBC schema inference does not surface PKs
  *     (session.py:40-43 reflection → [[primaryKey]]);
  *   - the range-partitioned extraction read: Spark's
  *     partitionColumn/lowerBound/upperBound/numPartitions emits exactly the
  *     reference's per-slice `BETWEEN` predicates (session.py:127-133), with
  *     SlicePlanner sizing numPartitions like calculate_optimal_slices
  *     (session.py:201-240). `fetchsize` streams rows off each cursor — the
  *     psycopg2 chunk analog (session.py:67-81);
  *   - the whole-table read ([[read]]), whose projection pushes down.
  *
  * Every Spark JDBC read of the engine is made here; `graft.sync.Extract`,
  * the one source reader, chooses between them.
  *
  * Dialect-agnostic: works against any JDBC URL (PostgreSQL in production,
  * embedded Derby in the in-process e2e tests). Catalog lookups fold the
  * table name's case; the SQL statements use the name as given.
  */
final class JdbcSource(url: String, props: Properties) {

  def this(cfg: DbConfig) = this(cfg.jdbcUrl, cfg.properties)

  private def withConnection[A](f: Connection => A): A =
    JdbcSource.withConnection(url, props)(f)

  /** S6 — verify connectivity and that `table` exists, by the one
    * catalog lookup ([[JdbcSource.Catalog.resolve]]). */
  def preflight(table: String): Unit = withConnection(preflight(_, table))

  private def preflight(conn: Connection, table: String): Unit =
    if (JdbcSource.Catalog.resolve(conn, table).isEmpty)
      throw GraftError.MissingTable(table)

  /** S2 — reflected primary-key columns, in key-sequence order, of the
    * table the catalog lookup resolves `table` to. */
  def primaryKey(table: String): Seq[String] = withConnection { conn =>
    val pk = JdbcSource.Catalog.resolve(conn, table)
      .map(JdbcSource.Catalog.primaryKey(conn, _)).getOrElse(Nil)
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
                targetRowsPerSlice: Long = SlicePlanner.TargetRows,
                fetchSize: Int = 10000,
                timestampTyped: Boolean = false): DataFrame =
    // the residual exact bound: the partition options only shard the
    // range, and the first and last slices are open on their far side
    graft.core.Watermark.between(load(spark, JdbcSource.rangeReadOptions(
      table, watermarkCol, lo, hi, estimatedRows, targetRowsPerSlice,
      fetchSize, timestampTyped)), watermarkCol, lo, hi)

  /** The whole of `table` as a lazy frame, not preflighted ([[preflight]]
    * and [[checkedBounds]] do that): Spark's JDBC reader pushes a
    * projection and filters on it down to the server. */
  def read(spark: SparkSession, table: String): DataFrame =
    load(spark, Map("dbtable" -> table))

  /** The one Spark JDBC read of the front: the connection properties,
    * then `options`. */
  private def load(spark: SparkSession, options: Map[String, String])
      : DataFrame = spark.read.format("jdbc").option("url", url)
    .options(props.stringPropertyNames().asScala
      .map(k => k -> props.getProperty(k)).toMap ++ options).load()
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

  /** The one catalog lookup of the JDBC front: the source's preflight and
    * primary key, the sink's create-or-drift check and the destination's
    * state record all find their table here. */
  private[graft] object Catalog {

    /** A table as the catalog stores it; `schema` is null in a catalog
      * without schemas. */
    final case class Table(schema: String, name: String)

    /** The table `name` names, as the catalog stores it. Catalogs fold
      * unquoted identifiers differently (Derby upper, PG lower) and some
      * drivers (DuckDB) match the pattern case-sensitively, so the name is
      * probed as given, upper- and lower-cased. Both plain-table labels
      * count: Derby/PG say "TABLE", information_schema-style drivers
      * (DuckDB) "BASE TABLE". The name argument is a metadata PATTERN in
      * which '_' matches any character, so a hit must equal `name`
      * case-insensitively ('sync_dest' never resolves to 'syncXdest').
      * A same-named table in another schema (a backup twin) loses to the
      * one in the connection's current schema; when no hit sits there (PG
      * search_path: "$user",public with the table in public), the first
      * name-only hit wins. Folds are probed lazily: the common case is one
      * metadata call. */
    def resolve(conn: Connection, name: String): Option[Table] = {
      lazy val current = try Option(conn.getSchema) catch { case _: Throwable => None }
      val hits = LazyList(name, name.toUpperCase, name.toLowerCase).distinct
        .flatMap(n => rows(conn.getMetaData.getTables(null, null, n,
          Array("TABLE", "BASE TABLE")))(rs =>
          Table(rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME"))))
        .filter(_.name.equalsIgnoreCase(name))
      hits.find(t => t.schema == null ||
          current.forall(t.schema.equalsIgnoreCase))
        .orElse(hits.headOption)
    }

    /** `t`'s column names, lower-cased. Schema and name are patterns
      * here too, so only `t`'s own rows count. */
    def columns(conn: Connection, t: Table): Seq[String] =
      rows(conn.getMetaData.getColumns(null, t.schema, t.name, null))(rs =>
        (Table(rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME")),
          rs.getString("COLUMN_NAME").toLowerCase))
        .collect { case (`t`, c) => c }

    /** `t`'s primary-key columns in key-sequence order. */
    def primaryKey(conn: Connection, t: Table): Seq[String] =
      rows(conn.getMetaData.getPrimaryKeys(null, t.schema, t.name))(rs =>
        (rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
        .sortBy(_._1).map(_._2)

    private def rows[A](rs: ResultSet)(f: ResultSet => A): Vector[A] =
      try Iterator.continually(rs).takeWhile(_.next()).map(f).toVector
      finally rs.close()
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
                       targetRowsPerSlice: Long = SlicePlanner.TargetRows,
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
