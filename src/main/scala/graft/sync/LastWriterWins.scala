package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType,
  NumericType, StringType, StructType}

import graft.core.GraftError.InvalidConfig

/** The keyed-writer contract every graft writer keeps (SURVEY §2.1 S4,
  * S13): one winner per key by last-writer-wins with a deterministic
  * tie-break, and CDC delete markers read by one flag with one gate and
  * one refusal. This replaces the reference's apply-in-ascending-`updated`
  * rule (session.py:126-133) with an order-independent keyed reduction.
  * [[ParquetMergeSink.merge]] and `graft.sinks.JdbcUpsertSink.write`
  * reduce with [[reduce]]; the keyed rollup lanes of [[AggMaintenance]]
  * rank their own slice but read tombstones through [[flag]],
  * [[requireTombstone]] and [[requireWellFormed]]. */
object LastWriterWins {

  /** The internal normalized-flag column a tombstoned writer carries. */
  val Tomb = "__tomb"

  /** The merge's internal precedence column (1 for an update, 0 for the
    * row already in the destination). */
  val Src = "__src"

  /** Last-writer-wins per key: one row per `keyCols` value, the greatest
    * by (`orderCol`, `precedence`, xxhash64 of the hashable non-key
    * columns), keys first in the result, `precedence` dropped. The hash
    * breaks EXACT (`orderCol`, precedence) ties deterministically: a
    * same-watermark delete/upsert pair, or two differing same-watermark
    * updates, must crown the same winner on every retry, where `max_by`
    * alone would pick by shuffle arrival order. The hash, not the
    * payload, keeps wide text out of the ordering; map-typed columns are
    * left out of it (xxhash64 rejects MapType at analysis), and rows
    * equal on everything else are interchangeable. Spark plans the
    * `max_by` over struct buffers as a SortAggregate: one shuffle on the
    * key (none when `df` is already partitioned on it), a sort within
    * each partition, never a global sort. */
  def reduce(df: DataFrame, keyCols: Seq[String], orderCol: String,
             precedence: Option[String] = None): DataFrame = {
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case a: ArrayType => hashable(a.elementType)
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val payload = df.schema.fields.toIndexedSeq.filterNot(f =>
      keyCols.exists(_.equalsIgnoreCase(f.name)) || precedence.contains(f.name))
    val hashCols = payload.filter(f => hashable(f.dataType)).map(f => col(f.name))
    val tie = if (hashCols.isEmpty) lit(0L) else xxhash64(hashCols: _*)
    val ord = struct(col(orderCol) +: precedence.map(col).toSeq :+ tie: _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(f => col(f.name)): _*), ord).as("__payload"))
      .select(keyCols.map(col) ++
        payload.map(f => col(s"__payload.${f.name}").as(f.name)): _*)
  }

  /** The normalized delete flag of tombstone column `t`: true deletes, a
    * NULL flag reads false (the common CDC shape), and a malformed value,
    * non-NULL with no boolean cast, reads NULL ([[malformed]]). try_cast,
    * never a raw ANSI cast error mid-shuffle. */
  def flag(t: String): Column =
    coalesce(col(t).try_cast("boolean"), when(col(t).isNull, lit(false)))

  /** True where a [[flag]] column reads a malformed marker. */
  def malformed(flag: Column): Column = flag.isNull

  /** The tombstone column gate, before any job runs: `t` is in `batch`,
    * is none of the `addressing` columns (key, order, partition or group:
    * a delete marker that addresses its own row is unresolvable), leaves
    * the internal [[Tomb]]/[[Src]] names free (withColumn would replace a
    * same-named batch column and drop would remove both), and has a type
    * whose boolean cast is total or checkable per row. */
  def requireTombstone(batch: DataFrame, t: String,
                       addressing: Seq[String]): Unit = {
    require(batch.columns.contains(t),
      s"tombstone column '$t' is not in the update batch")
    require(!addressing.contains(t),
      s"tombstone column '$t' cannot also be an addressing column " +
        s"(${addressing.mkString(", ")}): a delete marker that addresses " +
        "its own row is unresolvable")
    require(t != Tomb && t != Src && !batch.columns.contains(Tomb),
      s"a tombstoned writer reserves the internal column names '$Tomb'/" +
        s"'$Src'; rename the colliding batch column")
    batch.schema(t).dataType match {
      case BooleanType | _: NumericType | StringType => ()
      case other => throw InvalidConfig(
        s"tombstone column '$t' is ${other.simpleString} — only boolean, " +
          "numeric, or string columns can mark CDC deletes (the flag is " +
          "read via a boolean cast, which this type does not support " +
          "losslessly); cast the column explicitly in the source")
    }
  }

  /** Refuse `bad` malformed markers of tombstone `t` found in `where` (a
    * "batch" or a "slice [lo, hi)"): read as upserts, they would silently
    * mix tombstoned and tombstone-blind semantics. */
  def requireWellFormed(where: String, t: String, bad: Long): Unit =
    if (bad > 0L) throw InvalidConfig(
      s"$where carries $bad row(s) whose tombstone '$t' does not cast to " +
        "boolean — treating malformed delete markers as upserts would " +
        "silently mix tombstoned and tombstone-blind semantics; repair " +
        "the source or cast the column explicitly")
}
