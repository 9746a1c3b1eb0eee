package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Configuration for one table sync (reference cli.py options + reflected
  * metadata, SURVEY §3.1). `watermarkCol` must be numeric-epoch or otherwise
  * totally ordered and monotone with modification time (reference
  * session.py:203-206 — the documented T4 contract). */
final case class SyncConfig(
    keyCols: Seq[String],
    watermarkCol: String,
    targetRowsPerSlice: Long = SlicePlanner.TargetRows,
    partitionByCol: Option[String] = None,
    tombstoneCol: Option[String] = None) {
  require(keyCols.nonEmpty, "sync requires a merge key (reference: reflected primary key)")
}

/** Per-run outcome (M1/M2 progress surface, reference session.py:118-160 +
  * cli.py:124-133 — exact counts, not the reference's windows*windowsize
  * overestimate, SURVEY §0.2). */
final case class SyncReport(
    startingPoint: Option[Long],  // T1 watermark the run began from
    snapshotCut: Long,            // T2 frozen upper bound
    candidateRows: Long,          // rows extracted (wm <= w <= cut)
    rowsWritten: Long,            // rows materialized by the merge (0 = no-op)
    elapsedMs: Long) {
  def rowsPerSec: Double =
    if (elapsedMs == 0) 0.0 else candidateRows * 1000.0 / elapsedMs
}

/** One watermark-driven incremental batch sync of a DataFrame into a
  * parquet destination: the Spark re-expression of the reference's
  * `pypgsync single` (SURVEY §3.1), through the one lifecycle of
  * [[SyncPipeline]]. The reference's sequential slice loop becomes Spark
  * task parallelism: the extract is already range-partitioned by the
  * source layout. */
final class SyncJob(spark: SparkSession, cfg: SyncConfig) {

  /** @param source    full source table (lazy scan — only the wm range is read)
    * @param destDir   parquet destination directory (created if absent, S3)
    * @param nowWatermark run-start snapshot bound in watermark units (T2);
    *                  injectable for deterministic tests (SURVEY §7.3)
    * @param onProgress M1 per-task progress callback (rows written so far
    *                  vs. extracted total); no-op by default. */
  def run(source: DataFrame, destDir: String, nowWatermark: Long,
          onProgress: Progress => Unit = _ => ()): SyncReport =
    SyncPipeline.run(spark, cfg, Extract.Frame(source),
      SyncEndpoint.ParquetDir(destDir), Some(nowWatermark), onProgress)
}

/** Continuous mode (T5, reference cli.py:80-97): repeat the single-run
  * pipeline every `delayMs` until `shouldStop`. State between micro-batches
  * lives entirely in the destination (same contract as the reference —
  * each iteration re-derives T1 from dest). */
final class ContinuousSync(spark: SparkSession, cfg: SyncConfig) {

  def run(source: () => DataFrame, destDir: String,
          nowWatermark: () => Long, delayMs: Long = 5000L,
          maxIterations: Int = Int.MaxValue,
          shouldStop: SyncReport => Boolean = _ => false,
          sleep: Long => Unit = Thread.sleep): Vector[SyncReport] = {
    val job = new SyncJob(spark, cfg)
    ContinuousSync.loop(delayMs, maxIterations, shouldStop, sleep)(
      () => job.run(source(), destDir, nowWatermark()))
  }
}

object ContinuousSync {
  /** THE polling loop — one definition shared by [[ContinuousSync.run]]
    * and [[SyncPipeline.continuous]], so stop/sleep ordering and report
    * accumulation can never drift between the file and endpoint fronts:
    * run, record, test stop, sleep only if another iteration follows. */
  private[sync] def loop(delayMs: Long, maxIterations: Int,
                         shouldStop: SyncReport => Boolean,
                         sleep: Long => Unit)
                        (runOnce: () => SyncReport): Vector[SyncReport] = {
    val reports = Vector.newBuilder[SyncReport]
    var i = 0
    var stop = false
    while (i < maxIterations && !stop) {
      val r = runOnce()
      reports += r
      stop = shouldStop(r)
      i += 1
      if (i < maxIterations && !stop) sleep(delayMs)
    }
    reports.result()
  }
}
