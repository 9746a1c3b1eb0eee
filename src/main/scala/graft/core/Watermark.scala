package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Canonical driver-side watermark representation (SURVEY §3.1 T1/T2).
  *
  * The sync lifecycle carries exactly two driver-side scalars — the T1
  * starting point and the T2 snapshot cut — across restarts, crash markers
  * and reports. Columns may be numeric epochs (the reference's data model,
  * session.py:58) or genuine SQL timestamps (the fixture's `events.ts`,
  * parquet TIMESTAMP(MICROS)); the driver-side canonical form is ONE type:
  * epoch-micros Long for time-typed columns, the raw long for numeric ones.
  * Everything that persists a watermark (SyncReport, the restart and
  * applied bounds of sync.DestState) stores that Long; predicates against
  * the column re-materialize it as a literal of the column's own type so
  * parquet row-group pruning and filter pushdown keep seeing a plain
  * comparison on the stored column.
  */
object Watermark {

  /** Collapse a driver-side watermark scalar (from `first().get(0)` or a
    * JDBC `getObject`) to canonical epoch-micros / raw long. Fractional
    * numerics are rejected (matching [[supported]]): `Number.longValue()`
    * would truncate sub-integer precision silently, and the T1 re-read
    * contract is only provably loss-safe when the canonical form is exact. */
  def toMicros(v: Any): Option[Long] = v match {
    case null                   => None
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
              _: java.lang.Byte) => Some(n.asInstanceOf[java.lang.Number].longValue())
    case d: java.math.BigDecimal if d.stripTrailingZeros.scale <= 0 =>
      Some(d.longValueExact())
    case b: java.math.BigInteger => Some(b.longValueExact())
    case d: scala.math.BigDecimal if d.isValidLong => Some(d.longValue)
    case t: java.sql.Timestamp  => Some(instantMicros(t.toInstant))
    case i: java.time.Instant   => Some(instantMicros(i))
    case l: java.time.LocalDateTime =>
      // TIMESTAMP_NTZ external type; the engine runs UTC sessions (GraftSession)
      Some(instantMicros(l.toInstant(java.time.ZoneOffset.UTC)))
    case other => throw new IllegalArgumentException(
      s"unsupported watermark scalar type: ${other.getClass.getName}")
  }

  private def instantMicros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** A literal of the watermark COLUMN's type from the canonical long, so
    * `col >= litFor(dt, wm)` stays a pushdown-able plain comparison. */
  def litFor(dt: DataType, us: Long): Column = dt match {
    case TimestampType =>
      lit(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    case TimestampNTZType =>
      lit(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L),
        java.time.ZoneOffset.UTC))
    case ByteType | ShortType | IntegerType | LongType => lit(us)
    case d: DecimalType if d.scale == 0 => lit(us).cast(d) // integral decimal
                                   // (e.g. a JDBC driver reporting BIGINT
                                   // as DECIMAL(20,0)) — constant-folded,
                                   // stays a plain pushdown-able compare
    case other => throw new IllegalArgumentException(
      s"watermark column must be integral-numeric or timestamp-typed; got ${other.simpleString}")
  }

  /** `df`'s rows with lo <= `column` <= hi, both canonical: a plain
    * comparison on literals of the column's own type ([[litFor]]), so it
    * pushes down to parquet row groups and JDBC servers alike. */
  def between(df: DataFrame, column: String, lo: Long, hi: Long): DataFrame = {
    val dt = df.schema(column).dataType
    df.filter(col(column) >= litFor(dt, lo) && col(column) <= litFor(dt, hi))
  }

  /** True when the type participates in the watermark protocol at all.
    * Integral numerics and SQL timestamps only: a fractional epoch column
    * has no exact canonical-long form (truncation would silently lose
    * sub-integer precision), so it is rejected up front rather than
    * rounded behind the caller's back. */
  def supported(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType => true
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType if d.scale == 0   => true
    case _                                => false
  }
}
