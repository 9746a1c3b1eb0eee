package graft

import java.io.File

import org.apache.spark.sql.functions.{lit, pmod}

import graft.sync.{DestState, SyncConfig, SyncEndpoint, SyncJob, SyncPipeline,
  SyncReport}

/** Spark-job budget of one parquet→parquet sync, through SyncJob and
  * through the CLI's `SyncPipeline.run`. An incremental poll into an
  * existing parquet destination reads the destination once (T1), with the
  * schema and MAX its state record holds, so T1 itself runs no job; then
  * it runs one probe query over the extract: batch count, watermark
  * bounds and the identical-twin check together. A schema inference or
  * a MAX scan back in T1, a scalar pass added back beside that probe, or
  * a second read of the source, shows up here as extra jobs. Every write counts its own rows, so reading a staged
  * directory back to count it shows up here too, as does a partitioned
  * merge that runs its overwrite over a stage of zero rows. */
class SyncJobCostSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, i.toLong, i * 0.5, s"s${i % 7}"))

  test("an idle poll into a blind unpartitioned destination runs at most 4 Spark jobs; a cold run at most 7") {
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
    assert(idleJobs <= 4, s"idle poll ran $idleJobs Spark jobs")
    // the cold path keeps its plan: a count of the extract and the
    // deduped write, which counts what it stages
    assert(coldJobs <= 7, s"cold run ran $coldJobs Spark jobs")
  }

  test("the CLI's parquet→parquet path: a cold run at most 8 Spark jobs; an idle poll at most 7") {
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
    assert(idleJobs <= 7, s"idle poll ran $idleJobs Spark jobs")
    assert(coldJobs <= 8, s"cold run ran $coldJobs Spark jobs")
  }

  test("a delta poll with new rows and a tied-watermark payload change runs at most 6 Spark jobs") {
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
    assert(deltaJobs <= 6, s"delta poll ran $deltaJobs Spark jobs")
  }

  test("a partitioned tombstoned poll that deletes every key of its partitions runs at most 16 Spark jobs") {
    val work = tmpDir("sync-cost-vacate")
    val dest = work + "/dest"
    val job = new SyncJob(spark, cfg.copy(partitionByCol = Some("bucket"),
      tombstoneCol = Some("del")))
    def write(rs: Seq[(Long, Long, java.lang.Double, String, Boolean)],
              dir: String): Unit =
      rs.toDF("id", "updated", "amount", "status", "del")
        .withColumn("bucket", pmod($"id", lit(4)))
        .repartition(3).write.parquet(dir)
    val live = rows(1 to 2000).map { case (id, u, amt, st) =>
      (id, u, java.lang.Double.valueOf(amt), st, false) }
    write(live, work + "/src1")
    job.run(spark.read.parquet(work + "/src1"), dest, 5000L)
    def files(b: Int): Set[(String, Long)] =
      new File(dest, s"bucket=$b").listFiles().map(f =>
        f.getName -> f.lastModified).toSet
    val kept = (1 to 3).map(files)
    // every key of bucket 0 is deleted, the one at the destination MAX
    // (2000) included, so no live row of the batch survives its dedup and
    // the staging write holds zero rows
    val deletes = (4 to 2000 by 4).map(i => (i.toLong, 3000L + i,
      null.asInstanceOf[java.lang.Double], null.asInstanceOf[String], true))
    write(live ++ deletes, work + "/src2")
    val source = spark.read.parquet(work + "/src2")
    val (r, jobs) = jobsIn(job.run(source, dest, 5000L))
    info(s"vacating poll: $jobs jobs")
    assert(r.candidateRows == 501L && r.rowsWritten == 0L, s"$r")
    assert(!new File(dest, "bucket=0").exists(), "vacated partition survived")
    assert((1 to 3).map(files) == kept, "an untouched partition was rewritten")
    assert(spark.read.parquet(dest).count() == 1500L)
    val state = DestState.parquet(new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dest)
    assert(state.stored.exists(_.restartWm.isEmpty), "restart marker left")
    assert(jobs <= 16, s"vacating poll ran $jobs Spark jobs")
  }
}
