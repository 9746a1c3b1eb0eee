package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Configuration for one table sync (reference cli.py options + reflected
  * metadata, SURVEY §3.1). `watermarkCol` must be numeric-epoch or otherwise
  * totally ordered and monotone with modification time (reference
  * session.py:203-206 — the documented T4 contract). */
final case class SyncConfig(
    keyCols: Seq[String],
    watermarkCol: String,
    targetRowsPerSlice: Long = 10000000L,
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

/** One watermark-driven incremental batch sync: the Spark re-expression of
  * the reference's `pypgsync single` lifecycle (SURVEY §3.1).
  *
  *   1. T1  starting point = MAX(watermark) in dest, else MIN in source
  *          (session.py:50-65). The destination is read once here and
  *          the same frame goes on to the merge.
  *   2. T2  snapshot cut frozen at run start (pypgsync.py:13).
  *   3. S1  extract source rows with wm in [start, cut] — inclusive lower
  *          bound re-reads watermark ties (T3, session.py:130); the filter
  *          is a parquet-pushed range predicate, replacing the reference's
  *          ROW_NUMBER keyset pagination (SURVEY §4.1).
  *   4. One probe pass over the persisted extract (inside the merge): the
  *          batch row count, its watermark bounds and whether any row
  *          differs from its destination twin, in one query whose
  *          destination side is bounded by the T1 start. A cold start
  *          counts the extract instead.
  *   5. S4  keyed last-writer-wins merge (ParquetMergeSink) — idempotent,
  *          so the re-read converges ("effectively-once"); skipped when
  *          the probe finds nothing new.
  *
  * The reference's sequential slice loop becomes Spark task parallelism:
  * the extract DataFrame is already range-partitioned by the source layout;
  * SlicePlanner sizes partition counts when an explicit repartition or a
  * JDBC partitioned read needs one.
  */
final class SyncJob(spark: SparkSession, cfg: SyncConfig) {

  /** @param source    full source table (lazy scan — only the wm range is read)
    * @param destDir   parquet destination directory (created if absent, S3)
    * @param nowWatermark run-start snapshot bound in watermark units (T2);
    *                  injectable for deterministic tests (SURVEY §7.3)
    * @param onProgress M1 per-task progress callback (rows written so far
    *                  vs. extracted total); no-op by default. */
  def run(source: DataFrame, destDir: String, nowWatermark: Long,
          onProgress: Progress => Unit = _ => ()): SyncReport = {
    val t0 = System.nanoTime()
    val wm = col(cfg.watermarkCol)
    // The watermark protocol speaks ONE driver-side unit — canonical
    // epoch-micros for time-typed columns, the raw long for numeric ones
    // (core.Watermark). The column itself may be numeric-epoch (the
    // reference's data model, session.py:58) or a SQL timestamp (the
    // driver fixture's events.ts): scalars are collapsed via
    // Watermark.toMicros and predicates re-materialized as literals of the
    // column's own type (Watermark.litFor) so the extract filter stays a
    // pushdown-able plain comparison on the stored column.
    val wmType = source.schema(cfg.watermarkCol).dataType
    require(graft.core.Watermark.supported(wmType),
      s"watermark column '${cfg.watermarkCol}' must be numeric or " +
        s"timestamp-typed; got ${wmType.simpleString}")

    // A destination with no usable watermark (none yet, or every row's
    // watermark NULL — a foreign writer, or a merge of all-null-wm rows)
    // is a cold start from the source MIN: reporting "empty source" there
    // would wedge the sync forever while the source has rows.
    val (destStart, dest, state) =
      SyncJob.parquetRestart(spark, destDir, cfg.watermarkCol)
    val startingPoint = destStart.orElse(
      graft.core.Watermark.toMicros(source.agg(min(wm)).first().get(0)))

    startingPoint match {
      case None =>
        // empty source, nothing to do
        SyncReport(None, nowWatermark, 0L, 0L, (System.nanoTime() - t0) / 1000000)
      case Some(start) =>
        // S1 extract: inclusive both ends (T3 lower, T2 upper). Persisted
        // once here so the probe and every pass inside merge read the same
        // snapshot of a possibly-live source.
        val extracted = source.filter(
            wm >= graft.core.Watermark.litFor(wmType, start) &&
            wm <= graft.core.Watermark.litFor(wmType, nowWatermark))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // M1 table_total is the merge's own batch count (the reference
          // paid an EXPLAIN estimate here, A6). Note: a full rewrite also
          // re-writes carried-over target rows, so percent can saturate
          // before the job ends — monotone either way.
          val result = ParquetMergeSink.merge(
            spark, destDir, extracted, cfg.keyCols, cfg.watermarkCol,
            cfg.partitionByCol, tombstoneCol = cfg.tombstoneCol,
            destination = dest, orderFloor = Some(start),
            onProgress = Some(onProgress), state = Some(state))
          SyncReport(Some(start), nowWatermark, result.updateRows,
            result.rowsWritten, (System.nanoTime() - t0) / 1000000)
        } finally { extracted.unpersist(); () }
    }
  }
}

object SyncJob {
  /** T1 for a parquet destination — watermark recovery from destination
    * state (self-describing resumability: survives restarts with no
    * checkpoint, README.md:90). Returns the restart point the destination
    * dictates — None when it has none, and the caller starts from the
    * source MIN — the destination frame the MAX was read from (None when
    * there is no destination yet) and the destination's state record,
    * both for the merge to reuse.
    *
    * An interrupted merge swap is healed first, and metadata-only
    * leftovers (a crashed first write) read as "no destination". The
    * restart point itself is [[DestState.restart]] over dest MAX: a
    * surviving restart marker (an interrupted partitioned merge) lowers
    * it, the applied bound of a tombstoned destination raises it. */
  private[sync] def parquetRestart(spark: SparkSession, destDir: String,
                                   watermarkCol: String)
      : (Option[Long], Option[DataFrame], DestState.Store) = {
    val fs = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = DestState.parquet(fs, destDir)
    ParquetMergeSink.recoverInterruptedSwap(fs, destDir)
    if (!ParquetMergeSink.hasData(fs, new Path(destDir))) (None, None, state)
    else {
      val dest = spark.read.parquet(destDir)
      val destMax = graft.core.Watermark.toMicros(
        dest.agg(max(col(watermarkCol))).first().get(0))
      (state.current(populated = true).restart(destMax), Some(dest), state)
    }
  }
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
