package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Fixture-table loaders (SURVEY §5.3 / FIXTURES.md).
  *
  * Every loader takes the scale-factor directory so the same query code runs
  * on sf0.001 (smoke), sf0.01 (t2 oracle) and sf0.1 (bench).
  *
  * `events.ts` is a SQL timestamp whose LOADED type depends on how the
  * fixture generation wrote it — the driver has shipped both parquet
  * TIMESTAMP(NANOS) (loads as LongType epoch-nanos under
  * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (loads as TIMESTAMP_NTZ). Query code therefore
  * NEVER assumes the physical type: predicates use [[tsLit]] (a literal of
  * the column's own type, so parquet row-group pruning and pushdown keep
  * seeing a plain comparison on the stored column) and projections use
  * [[tsUs]] (epoch-micros at the output edge). Cross-engine convention
  * (DuckDB truncates ns→µs on read): any ts value that leaves a query does
  * so as epoch-micros or epoch-millis — integer arithmetic, never double
  * (epoch-nanos exceeds 2^53 and is not representable in a double).
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Defensive: the driver may hand us a session built without the one
    // conf an older fixture generation REQUIRED (parquet TIMESTAMP(NANOS)
    // is unreadable without it; a no-op for µs fixtures). Only that conf
    // is touched — the session's timezone etc. belong to the session owner
    // (GraftSession sets UTC for sessions we create).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Best-effort recursive delete of a LOCAL staging path (harness temp
    * artifacts only — never a data destination; those go through the
    * sinks' staged-swap protocols). No-op on a missing path. */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** A fresh local temp dir that one JVM-exit hook deletes: for harness
    * state no later JVM reads (the replay twins' rollups and checkpoints,
    * e2s/e2v's appended indexes), which a long-lived JVM running the gate
    * repeatedly would otherwise pile up under the temp dir. Failures are
    * swallowed: cleanup must never mask the run's own exit status. */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    scratchDirs.add(d)
    d.toString
  }
  private lazy val scratchDirs = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      q.forEach { f =>
        try deleteRecursively(f)
        catch { case _: Exception => () }
      }))
    q
  }

  /** Cheap content stamp for one fixture table under `sfDir` — the max
    * lastModified + total byte size + file count of `name.parquet`
    * (file or directory). Process-lifetime caches keyed by fixture dir
    * alone (the replay twins' collected feed, e2s's appended index) would
    * silently serve stale rows if the fixture under that dir were
    * regenerated within the same JVM; folding this stamp into the key
    * makes a regenerated fixture a cache miss instead. Local-fs only —
    * exactly what the gate/bench harness reads. */
  def fixtureStamp(sfDir: String, name: String): String = {
    val root = java.nio.file.Paths.get(s"$sfDir/$name.parquet")
    if (!java.nio.file.Files.exists(root)) return "absent"
    var (maxM, bytes, n) = (0L, 0L, 0L)
    val it = java.nio.file.Files.walk(root)
    try it.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        maxM = math.max(maxM, java.nio.file.Files.getLastModifiedTime(p).toMillis)
        bytes += java.nio.file.Files.size(p); n += 1
      }
    } finally it.close()
    s"$maxM-$bytes-$n"
  }

  /** Epoch-nanos for a UTC date string — literal helper for ts predicates.
    * Predicates stay on the raw ns column (parquet row-group min/max pruning
    * + pushdown keep working); whole-second boundaries make the ns-vs-µs
    * truncation question moot. */
  def utcNanos(date: String): Long = {
    java.time.LocalDateTime.parse(normDate(date))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
  }

  /** Epoch-micros for a UTC date string — the canonical driver-side unit
    * (core.Watermark); used wherever a query compares in µs space. */
  def utcMicros(date: String): Long = utcNanos(date) / 1000L

  private def normDate(date: String): String =
    if (date.contains(" ") || date.contains("T")) date.replace(' ', 'T')
    else date + "T00:00:00"

  /** Epoch-micros projection of a time column, whatever its loaded type —
    * the ONE place the fixture's physical ts representation is interpreted.
    *
    *  - `LongType`: legacy nanos-Long loading (parquet TIMESTAMP(NANOS)
    *    under `nanosAsLong`) — integer `div 1000`.
    *  - `TimestampType`: an absolute instant — `unix_micros` directly
    *    (timezone-independent by definition).
    *  - `TimestampNTZType` (parquet TIMESTAMP(isAdjustedToUTC=false), the
    *    current fixture generation): wall-clock µs since the NTZ epoch via
    *    `timestampdiff` — NTZ-to-NTZ arithmetic, so the result does not
    *    depend on the session timezone (a cast to TIMESTAMP would).
    *
    * Use at the PROJECTION edge only; predicates belong on the native
    * column via [[tsLit]] so parquet pushdown/row-group pruning survive. */
  def tsUs(df: DataFrame, c: String = "ts"): Column = df.schema(c).dataType match {
    case LongType          => expr(s"`$c` div 1000")
    case TimestampType     => unix_micros(col(c))
    case TimestampNTZType  =>
      expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', `$c`)")
    case other => throw new IllegalArgumentException(
      s"column '$c' is ${other.simpleString}; expected a time column " +
        "(LongType epoch-nanos, TIMESTAMP or TIMESTAMP_NTZ)")
  }

  /** The time column as TIMESTAMP_NTZ (UTC wall-clock), whatever its loaded
    * type — for queries whose OUTPUT is a genuine SQL timestamp (oracle
    * compares timestamps directly, gating the physical-type seam itself).
    * The Long branch is NTZ-to-NTZ arithmetic (timezone-independent); the
    * TimestampType branch is a cast, correct under the engine's UTC
    * sessions (GraftSession/Verify/Bench all pin UTC). */
  def tsNtz(df: DataFrame, c: String = "ts"): Column = df.schema(c).dataType match {
    case TimestampNTZType => col(c)
    case TimestampType    => col(c).cast(TimestampNTZType)
    case LongType         =>
      expr(s"timestampadd(MICROSECOND, `$c` div 1000, TIMESTAMP_NTZ'1970-01-01 00:00:00')")
    case other => throw new IllegalArgumentException(
      s"column '$c' is ${other.simpleString}; expected a time column")
  }

  /** A literal of the time COLUMN's own loaded type for a UTC datetime
    * string ("2024-01-10" or "2024-01-10 12:00:00"), so `col >= tsLit(...)`
    * stays a pushdown-able plain comparison on the stored column. */
  def tsLit(df: DataFrame, date: String, c: String = "ts"): Column =
    tsLitFor(df.schema(c).dataType, date, c)

  private[graft] def tsLitFor(dt: DataType, date: String, c: String): Column = {
    val ldt = java.time.LocalDateTime.parse(normDate(date))
    dt match {
      case LongType         => lit(utcNanos(date))
      case TimestampType    => lit(ldt.toInstant(java.time.ZoneOffset.UTC))
      case TimestampNTZType => lit(ldt) // NTZ literal: wall-clock comparison
      case other => throw new IllegalArgumentException(
        s"column '$c' is ${other.simpleString}; expected a time column")
    }
  }
}
