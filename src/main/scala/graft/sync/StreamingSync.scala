package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming-backed continuous sync (SURVEY §2.8 T5, §3.2):
  * for sources Spark can stream natively (file directories, Kafka-style),
  * each micro-batch merges idempotently into the parquet destination via
  * `foreachBatch` + [[ParquetMergeSink]] — the streaming twin of the
  * polling [[ContinuousSync]] loop, with checkpointed offsets instead of
  * re-derived watermarks.
  *
  * The destination stays self-describing: if the checkpoint is lost, a
  * batch `SyncJob` run recovers from `MAX(watermark)` in the destination
  * (T1) and the idempotent merge absorbs any overlap — the two modes
  * compose safely against the same destination. Why a micro-batch runs
  * the merge without the sync lifecycle's T1 is stated once, on
  * [[ParquetMergeSink.merge]].
  */
object StreamingSync {

  /** Start the streaming merge. `trigger` defaults to AvailableNow (drain
    * what exists, then stop — the batch-equivalent run); pass
    * `Trigger.ProcessingTime(..)` for a resident poller (reference
    * continuous mode, cli.py:90-94). */
  def run(source: DataFrame, destDir: String, cfg: SyncConfig,
          checkpointDir: Option[String] = None,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val writer = source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ParquetMergeSink.merge(batch.sparkSession, destDir, batch,
          cfg.keyCols, cfg.watermarkCol, cfg.partitionByCol)
        ()
      }
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }
}
