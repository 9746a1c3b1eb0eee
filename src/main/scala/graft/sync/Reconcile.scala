package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Rewrite the parquet destination without the orphaned keys, through
    * the merge sink's layout-preserving staged rewrite
    * ([[ParquetMergeSink.rewrite]]): the cleaned rows land in
    * `<dest>.reconcile.tmp` first and swap in by its one swap, so a crash
    * at ANY point leaves either the original or the cleaned table
    * recoverable (the swap's heal runs first here and in every merge).
    * The destination is read with the schema its state record holds,
    * inferred only without one.
    * @return (rows kept, rows dropped): the kept rows are counted by the
    *         write job that stages them */
  def applyDeletes(spark: SparkSession, destPath: String,
                   orphans: DataFrame, keys: Seq[String]): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParquetMergeSink.healDestination(fs, destPath)
    val state = DestState.parquet(fs, destPath)
    val dest = ParquetMergeSink.readDestination(spark, destPath, state.stored)
    val total = dest.count()
    val kept = dest.join(orphans.select(keys.map(col): _*), keys, "left_anti")
    // dropping rows may lower the destination's MAX, and the anti-join
    // leads with the key columns: its record forgets both before the
    // rewrite starts
    state.describe(_.copy(destMax = None, schema = None))
    val keptRows = ParquetMergeSink.rewrite(fs, destPath,
        destPath.stripSuffix("/") + ".reconcile.tmp", None) {
      case Some(p) => kept.repartition(col(p))
      case None    => kept
    }
    (keptRows, total - keptRows)
  }
}
