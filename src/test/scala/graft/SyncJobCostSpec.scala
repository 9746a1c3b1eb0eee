package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sync.{SyncConfig, SyncEndpoint, SyncJob, SyncPipeline,
  SyncReport}

/** Spark-job budget of one parquet→parquet sync, through SyncJob and
  * through the CLI's `SyncPipeline.run`. An incremental poll into an
  * existing parquet destination reads the destination once (T1), then
  * runs one probe query over the extract: batch count, watermark bounds
  * and the identical-twin check together. A scalar pass added back
  * beside that probe, or a second read of the source, shows up here as
  * extra jobs. */
class SyncJobCostSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")

  /** Spark jobs started by `body` on this thread, counted through a job
    * group: AQE submits stages from other threads, but they inherit the
    * group, and jobs of anything else running in the session do not. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val group = s"sync-job-cost-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val a = body
      org.apache.spark.graftshim.ListenerBusAccess.drain(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("an idle poll into a blind unpartitioned destination runs at most 7 Spark jobs; a cold run at most 10") {
    val work = tmpDir("sync-cost")
    val srcDir = work + "/src"
    val dest = work + "/dest"
    (1 to 2000).map(i => (i.toLong, i.toLong, i * 0.5, s"s${i % 7}"))
      .toDF("id", "updated", "amount", "status")
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
    // the cold path keeps its plan: a count of the extract, the deduped
    // write and the count of what it staged
    assert(coldJobs <= 10, s"cold run ran $coldJobs Spark jobs")
  }

  test("the CLI's parquet→parquet path: a cold run at most 11 Spark jobs; an idle poll at most 10") {
    val work = tmpDir("sync-cost-cli")
    val src = SyncEndpoint.ParquetDir(work + "/src")
    val dest = SyncEndpoint.ParquetDir(work + "/dest")
    (1 to 2000).map(i => (i.toLong, i.toLong, i * 0.5, s"s${i % 7}"))
      .toDF("id", "updated", "amount", "status")
      .repartition(3).write.parquet(src.dir)
    // no cut: the source is read once, and one min/max pass over it gives
    // both the cut and the cold start
    val (cold, coldJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dest))
    assert(cold.rowsWritten == 2000L)
    val (idle, idleJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dest))
    info(s"cold run: $coldJobs jobs; idle poll: $idleJobs jobs")
    assert(idle.candidateRows == 1L && idle.rowsWritten == 0L, s"$idle")
    assert(idleJobs <= 10, s"idle poll ran $idleJobs Spark jobs")
    assert(coldJobs <= 11, s"cold run ran $coldJobs Spark jobs")
  }
}
