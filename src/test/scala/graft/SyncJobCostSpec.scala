package graft

import graft.sync.{SyncConfig, SyncEndpoint, SyncJob, SyncPipeline,
  SyncReport}

/** Spark-job budget of one parquet→parquet sync, through SyncJob and
  * through the CLI's `SyncPipeline.run`. An incremental poll into an
  * existing parquet destination reads the destination once (T1), then
  * runs one probe query over the extract: batch count, watermark bounds
  * and the identical-twin check together. A scalar pass added back
  * beside that probe, or a second read of the source, shows up here as
  * extra jobs. Every write counts its own rows, so reading a staged
  * directory back to count it shows up here too. */
class SyncJobCostSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, i.toLong, i * 0.5, s"s${i % 7}"))

  test("an idle poll into a blind unpartitioned destination runs at most 7 Spark jobs; a cold run at most 10") {
    val work = tmpDir("sync-cost")
    val srcDir = work + "/src"
    val dest = work + "/dest"
    rows(1 to 2000).toDF("id", "updated", "amount", "status")
      .repartition(3).write.parquet(srcDir)
    val job = new SyncJob(spark, cfg)
    // the source read (its schema inference) stays outside the counts
    val source = spark.read.parquet(srcDir)
    val (cold, coldJobs) = jobsIn(job.run(source, dest, 5000L))
    assert(cold.rowsWritten == 2000L)
    val (idle, idleJobs): (SyncReport, Int) = jobsIn(job.run(source, dest, 5000L))
    info(s"cold run: $coldJobs jobs; idle poll: $idleJobs jobs")
    // the idle poll re-extracts the watermark tie and proves it applied
    assert(idle.candidateRows == 1L && idle.rowsWritten == 0L, s"$idle")
    assert(idleJobs <= 7, s"idle poll ran $idleJobs Spark jobs")
    // the cold path keeps its plan: a count of the extract and the
    // deduped write, which counts what it stages
    assert(coldJobs <= 7, s"cold run ran $coldJobs Spark jobs")
  }

  test("the CLI's parquet→parquet path: a cold run at most 11 Spark jobs; an idle poll at most 10") {
    val work = tmpDir("sync-cost-cli")
    val src = SyncEndpoint.ParquetDir(work + "/src")
    val dest = SyncEndpoint.ParquetDir(work + "/dest")
    rows(1 to 2000).toDF("id", "updated", "amount", "status")
      .repartition(3).write.parquet(src.dir)
    // no cut: the source is read once, and one min/max pass over it gives
    // both the cut and the cold start
    val (cold, coldJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dest))
    assert(cold.rowsWritten == 2000L)
    val (idle, idleJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dest))
    info(s"cold run: $coldJobs jobs; idle poll: $idleJobs jobs")
    assert(idle.candidateRows == 1L && idle.rowsWritten == 0L, s"$idle")
    assert(idleJobs <= 10, s"idle poll ran $idleJobs Spark jobs")
    assert(coldJobs <= 8, s"cold run ran $coldJobs Spark jobs")
  }

  test("a delta poll with new rows and a tied-watermark payload change runs at most 9 Spark jobs") {
    val work = tmpDir("sync-cost-delta")
    val dest = work + "/dest"
    val job = new SyncJob(spark, cfg)
    rows(1 to 2000).toDF("id", "updated", "amount", "status")
      .repartition(3).write.parquet(work + "/src1")
    job.run(spark.read.parquet(work + "/src1"), dest, 5000L)
    // 100 new keys, and the row at the destination MAX keeps its
    // watermark but changes payload
    val next = rows(1 to 2100).map {
      case (2000L, u, _, _) => (2000L, u, -1.0, "changed")
      case r => r
    }.toDF("id", "updated", "amount", "status")
    next.repartition(3).write.parquet(work + "/src2")
    val source = spark.read.parquet(work + "/src2")
    val (delta, deltaJobs) = jobsIn(job.run(source, dest, 5000L))
    info(s"delta poll: $deltaJobs jobs")
    assert(delta.startingPoint.contains(2000L), s"$delta")
    assert(delta.candidateRows == 101L && delta.rowsWritten == 2100L,
      s"$delta")
    val merged = spark.read.parquet(dest)
    assert(merged.count() == 2100L)
    assert(merged.filter($"id" === 2000L).select("amount", "status")
      .as[(Double, String)].collect().toSeq == Seq((-1.0, "changed")))
    assert(deltaJobs <= 9, s"delta poll ran $deltaJobs Spark jobs")
  }
}
