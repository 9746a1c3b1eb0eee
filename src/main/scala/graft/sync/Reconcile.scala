package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** DELETE reconciliation for the watermark sync family: a watermark scan
  * (S1/T1) structurally cannot see upstream deletes — a deleted row
  * touches no `updated` value, so the incremental slice never mentions it
  * and the destination keeps it forever (the reference has the same
  * blind spot: `session.py` syncs inserts/updates only). Reconciliation
  * is the periodic repair pass: project BOTH tables down to their key
  * columns, anti-join dest-minus-source, and (optionally) drop the
  * orphans from the destination.
  *
  * Scale shape: the pass inherently reads both key sets — there is no
  * watermark shortcut for deletions without upstream CDC — but ONLY the
  * key columns travel (parquet column pruning serves a key-only
  * projection from footers; a JDBC source pushes `SELECT k FROM t`), and
  * the anti-join is one key-partitioned shuffle with no wide rows.
  * Run it at repair cadence (daily), not per sync tick.
  *
  * The source MUST be a SNAPSHOT of live rows (a table the upstream
  * deletes from), never a retained CDC/changelog feed: a log keeps every
  * historical key — including tombstoned ones — so against a log the
  * anti-join sees no orphans and the pass silently stops repairing
  * anything (it can never resurrect a deleted key — left_anti only
  * deletes — but it no longer deletes either). Destinations fed by a
  * tombstoned sync ([[ParquetMergeSink.merge]]'s `tombstoneCol`) don't
  * need this pass at all: their deletes arrive in-band.
  */
object Reconcile {

  /** Keys present in `dest` but absent from `source` — the rows an
    * insert/update-only sync has orphaned. Key-only projection on both
    * sides; distinct BEFORE the join so replayed/duplicated key rows
    * cannot inflate the orphan set.
    *
    * NULL-keyed dest rows are EXCLUDED from the orphan set: equality
    * anti-join would report them (NULL matches nothing on the source
    * side), but neither apply path can act on them — [[applyDeletes]]'
    * left_anti keeps them and the JDBC `k = ?` DELETE never matches NULL
    * — so reporting them would promise a deletion the apply pass cannot
    * perform. A sync key is a PK in every supported dialect (NOT NULL by
    * definition), so NULL keys only arise on corrupt/foreign dest data;
    * they are left in place rather than misreported. */
  def deletedKeys(source: DataFrame, dest: DataFrame,
                  keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "reconcile needs at least one key column")
    val nonNull = keys.map(k => col(k).isNotNull).reduce(_ && _)
    dest.select(keys.map(col): _*).filter(nonNull).distinct()
      .join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
  }

  /** Rewrite the parquet destination without the orphaned keys. Staged
    * write + [[ParquetMergeSink.atomicSwap]]: the cleaned rows land in
    * `<dest>.reconcile.tmp` first and swap in via the backup-rename
    * protocol, so a crash at ANY point leaves either the original or the
    * cleaned table recoverable (an interrupted swap is healed by
    * [[ParquetMergeSink.recoverInterruptedSwap]], which this and every
    * merge entry point run first).
    * @return (rows kept, rows dropped): the kept rows are counted by the
    *         write job that stages them */
  def applyDeletes(spark: SparkSession, destPath: String,
                   orphans: DataFrame, keys: Seq[String]): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParquetMergeSink.recoverInterruptedSwap(fs, destPath)
    val dest = spark.read.parquet(destPath)
    val total = dest.count()
    val kept = dest.join(orphans.select(keys.map(col): _*), keys, "left_anti")
    val tmp = destPath.stripSuffix("/") + ".reconcile.tmp"
    // PRESERVE a hive-partitioned layout: a flat rewrite of a partitioned
    // merge destination would land everything in root-level files, and
    // the next partitioned merge's dynamic overwrite never touches those
    // — mixed layout, broken partition discovery. Single-level layouts
    // are the merge sink's own shape; anything deeper is foreign and
    // refuses rather than guessing.
    val keptRows = ParquetMergeSink.partitionColsOf(fs, destPath) match {
      case Seq() =>
        ParquetMergeSink.countedWrite(kept)(
          _.write.mode(SaveMode.Overwrite).parquet(tmp))
      case Seq(p) =>
        ParquetMergeSink.countedWrite(kept.repartition(col(p)))(
          _.write.mode(SaveMode.Overwrite).partitionBy(p).parquet(tmp))
      case many =>
        throw graft.core.GraftError.InvalidConfig(
          s"$destPath carries multiple partition column layouts " +
            s"(${many.mkString(", ")}) — not a merge-sink table; refusing " +
            "to rewrite it")
    }
    // dropping rows may lower the destination's MAX, and the anti-join
    // leads with the key columns: its record forgets both before the swap
    DestState.parquet(fs, destPath)
      .describe(_.copy(destMax = None, schema = None))
    ParquetMergeSink.atomicSwap(fs, destPath, tmp)
    (keptRows, total - keptRows)
  }
}
