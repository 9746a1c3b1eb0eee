package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sync.{ContinuousSync, DestState, ParquetMergeSink, SyncConfig,
  SyncJob}

/** Sync-pipeline e2e (SURVEY §5.2 layer 3): twin-table fixture with the
  * reference's scenario matrix — cold start (T1 MIN fallback), warm
  * incremental (T1 MAX), restart idempotence (T3), frozen snapshot cut
  * (T2), backdated-update documented-miss (T4), continuous catch-up (T5).
  *
  * Fixture mirrors `transactions`: key=id, watermark=updated (epoch-ms
  * long), payload=amount/status.
  */
class SyncJobSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")

  private def src(rows: (Long, Long, Double, String)*): DataFrame =
    rows.toSeq.toDF("id", "updated", "amount", "status")

  /** The state record store of the parquet destination at `dest`. */
  private def stateOf(dest: String): DestState.Store =
    DestState.parquet(new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), dest)

  private def readDest(dir: String): Map[Long, (Long, Double, String)] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("updated"), r.getAs[Double]("amount"), r.getAs[String]("status"))))
      .toMap

  test("cold start: T1 falls back to MIN(source), full table syncs") {
    val dest = tmpDir("sync-cold") + "/dest"
    val s = src((1L, 100L, 10.0, "A"), (2L, 200L, 20.0, "B"), (3L, 300L, 30.0, "A"))
    val report = new SyncJob(spark, cfg).run(s, dest, nowWatermark = 1000L)
    assert(report.startingPoint.contains(100L))
    assert(report.candidateRows == 3)
    assert(readDest(dest) == Map(
      1L -> ((100L, 10.0, "A")), 2L -> ((200L, 20.0, "B")), 3L -> ((300L, 30.0, "A"))))
  }

  test("all-NULL-watermark destination falls back to the source MIN, never wedges") {
    // a foreign writer (or a merge of null-wm rows) can leave a dest whose
    // MAX(updated) is NULL: reporting "empty source" there would stall the
    // sync forever while the source has rows — the run must treat it as a
    // cold start instead
    val dest = tmpDir("sync-nullwm") + "/dest"
    Seq((99L, Option.empty[Long], 0.0, "X"))
      .toDF("id", "updated", "amount", "status").write.parquet(dest)
    val s = src((1L, 100L, 10.0, "A"), (2L, 200L, 20.0, "B"))
    val report = new SyncJob(spark, cfg).run(s, dest, nowWatermark = 1000L)
    assert(report.startingPoint.contains(100L),
      s"expected cold-start fallback, got $report")
    val after = readDest(dest)
    assert(after.contains(1L) && after.contains(2L))
  }

  test("a stale swap backup beside a healthy destination is dropped on the next run") {
    // crash after the forward rename leaves <dest>.__merge_old holding a
    // full table copy; an idle table would otherwise carry it forever
    val work = tmpDir("sync-stalebak")
    val dest = work + "/dest"
    val s = src((1L, 100L, 10.0, "A"))
    new SyncJob(spark, cfg).run(s, dest, nowWatermark = 1000L)
    // simulate the crash window: a leftover backup with data
    s.write.parquet(dest + ".__merge_old")
    new SyncJob(spark, cfg).run(s, dest, nowWatermark = 1000L)
    assert(!new java.io.File(dest + ".__merge_old").exists(),
      "stale backup survived a subsequent run")
    assert(readDest(dest) == Map(1L -> ((100L, 10.0, "A"))))
  }

  test("warm incremental: T1 = MAX(dest); updates overwrite, inserts append") {
    val dest = tmpDir("sync-warm") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 10.0, "A"), (2L, 200L, 20.0, "B")), dest, 500L)
    // row 1 modified (updated bumped), row 4 new, row 2 untouched
    val s2 = src((1L, 600L, 11.0, "A2"), (2L, 200L, 20.0, "B"), (4L, 700L, 40.0, "C"))
    val r2 = job.run(s2, dest, 1000L)
    assert(r2.startingPoint.contains(200L)) // MAX(dest.updated)
    assert(readDest(dest) == Map(
      1L -> ((600L, 11.0, "A2")), 2L -> ((200L, 20.0, "B")),
      4L -> ((700L, 40.0, "C"))))
  }

  test("T2 snapshot cut: rows after the frozen bound wait for the next run") {
    val dest = tmpDir("sync-cut") + "/dest"
    val s = src((1L, 100L, 1.0, "A"), (2L, 900L, 2.0, "B"))
    val job = new SyncJob(spark, cfg)
    val r = job.run(s, dest, nowWatermark = 500L) // cut before row 2
    assert(r.candidateRows == 1)
    assert(readDest(dest).keySet == Set(1L))
    val r2 = job.run(s, dest, nowWatermark = 1000L) // next run picks it up
    assert(readDest(dest).keySet == Set(1L, 2L))
  }

  test("T3 restart idempotence: re-running the same cut changes nothing") {
    val dest = tmpDir("sync-idem") + "/dest"
    val s = src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"))
    val job = new SyncJob(spark, cfg)
    job.run(s, dest, 500L)
    val before = readDest(dest)
    val r2 = job.run(s, dest, 500L) // watermark ties re-extract (inclusive >=)
    assert(r2.candidateRows >= 1)   // at-least-once extract...
    assert(readDest(dest) == before) // ...idempotent apply
  }

  test("T4 documented miss: backdating `updated` below the watermark skips the row") {
    val dest = tmpDir("sync-t4") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 500L, 2.0, "B")), dest, 600L)
    // row 1 edited but its updated moved BACKWARDS (violates monotone contract)
    val mutated = src((1L, 50L, 99.0, "HACKED"), (2L, 500L, 2.0, "B"))
    job.run(mutated, dest, 1000L)
    // contract says the edit is never synced (reference session.py:203-206)
    assert(readDest(dest)(1L) == ((100L, 1.0, "A")))
  }

  test("T5 continuous: polling loop converges on a growing source") {
    val dest = tmpDir("sync-cont") + "/dest"
    val batches = Iterator(
      src((1L, 100L, 1.0, "A")),
      src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")),
      src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"), (3L, 300L, 3.0, "C")))
    var current: DataFrame = null
    val reports = new ContinuousSync(spark, cfg).run(
      source = () => { if (batches.hasNext) current = batches.next(); current },
      destDir = dest,
      nowWatermark = () => 10000L,
      maxIterations = 3,
      sleep = _ => ()) // injected no-op clock
    assert(reports.size == 3)
    assert(readDest(dest).keySet == Set(1L, 2L, 3L))
  }

  test("no-novelty re-run reports rowsWritten == 0 (destination untouched)") {
    val dest = tmpDir("sync-noop") + "/dest"
    val s = src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"))
    val job = new SyncJob(spark, cfg)
    val r1 = job.run(s, dest, 500L)
    assert(r1.rowsWritten == 2L)
    val r2 = job.run(s, dest, 500L) // ties re-extracted, nothing novel
    assert(r2.rowsWritten == 0L)
  }

  test("pending-merge marker forces re-extraction from the pre-merge watermark") {
    val dest = tmpDir("sync-marker") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 500L, 2.0, "B")), dest, 600L)
    // Simulate a partitioned merge that crashed mid-commit after starting
    // from watermark 100: the marker survives in the state record; row 1's
    // update (wm 150, below dest MAX 500) would otherwise be skipped forever.
    val planted = stateOf(dest)
    planted.open(None, populated = true)
    planted.markRestart(100L)
    assert(stateOf(dest).stored.flatMap(_.restartWm).contains(100L))
    val mutated = src((1L, 150L, 9.0, "recovered"), (2L, 500L, 2.0, "B"))
    val r = job.run(mutated, dest, 1000L)
    assert(r.startingPoint.contains(100L)) // min(dest MAX, marker)
    assert(readDest(dest)(1L) == ((150L, 9.0, "recovered")))
    // a fully-committed merge clears the marker
    assert(stateOf(dest).stored.exists(_.restartWm.isEmpty))
  }

  test("a cut below the destination MAX skips the run and keeps a surviving restart marker") {
    val dest = tmpDir("sync-lowcut") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 500L, 2.0, "B")), dest, 600L)
    val planted = stateOf(dest)
    planted.open(None, populated = true)
    planted.markRestart(100L)
    // row 1 changed with wm 150 < dest MAX 500 — lost if the marker goes
    val mutated = src((1L, 150L, 9.0, "recovered"), (2L, 500L, 2.0, "B"))
    // below the marker (start > cut), then between marker and dest MAX:
    // either run would replay the interrupted batch at most in part
    Seq(50L, 120L).foreach { cut =>
      val r = job.run(mutated, dest, cut)
      assert(r.startingPoint.contains(100L) && r.snapshotCut == cut &&
        r.candidateRows == 0L && r.rowsWritten == 0L, s"cut $cut: $r")
      assert(stateOf(dest).stored.flatMap(_.restartWm).contains(100L),
        s"cut $cut cleared the restart marker")
    }
    val r = job.run(mutated, dest, 1000L)
    assert(r.startingPoint.contains(100L), s"$r")
    assert(readDest(dest)(1L) == ((150L, 9.0, "recovered")))
    assert(stateOf(dest).stored.exists(_.restartWm.isEmpty))
  }

  test("a destination with only the pre-record sidecars: restart honoured, record written, sidecars gone") {
    val dest = tmpDir("sync-legacy") + "/dest"
    new SyncJob(spark, cfgT).run(srcT(
      (1L, 100L, 1.0, "A", false), (2L, 500L, 2.0, "B", false)), dest, 600L)
    // the layout an earlier version left: no record, three unframed
    // sidecars — a crashed merge's marker at 100, an applied bound, the
    // tombstone stamp
    assert(new java.io.File(dest + ".__merge_state").delete())
    val legacy = Seq(".__merge_pending" -> "100",
      ".__merge_applied_wm" -> "300", ".__merge_params" -> "tomb=del")
    legacy.foreach { case (suffix, v) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dest + suffix), v)
    }
    val r = new SyncJob(spark, cfgT).run(srcT(
      (1L, 150L, 9.0, "recovered", false), (2L, 500L, 2.0, "B", false)),
      dest, 1000L)
    // min(max(dest MAX 500, applied 300), marker 100)
    assert(r.startingPoint.contains(100L), s"$r")
    assert(readDest(dest)(1L) == ((150L, 9.0, "recovered")))
    // the folded record, after the batch through 500 landed; the rewrite
    // also records the destination's MAX and schema
    assert(stateOf(dest).stored.contains(
      DestState(None, Some(500L), Some("tomb=del"), Some(500L),
        Some(spark.read.parquet(dest).schema))))
    legacy.foreach { case (suffix, _) =>
      assert(!new java.io.File(dest + suffix).exists(), s"$suffix survived")
    }
    // the stamp still binds: a blind run refuses
    val e = intercept[graft.core.GraftError.InvalidConfig](
      new SyncJob(spark, cfg).run(src((3L, 700L, 3.0, "C")), dest, 1000L))
    assert(e.getMessage.contains("WITH tombstones"))
  }

  test("schema drift fails TYPED: an added source column is never silently dropped") {
    val dest = tmpDir("sync-drift") + "/dest"
    new SyncJob(spark, cfg).run(src((1L, 100L, 10.0, "A")), dest, 1000L)
    // source gained a column → must stop loudly, not project it away
    val widened = Seq((2L, 200L, 20.0, "B", "eu-west"))
      .toDF("id", "updated", "amount", "status", "region")
    val eAdd = intercept[graft.core.GraftError.SchemaDrift] {
      ParquetMergeSink.merge(spark, dest, widened, Seq("id"), "updated")
    }
    assert(eAdd.getMessage.contains("region"))
    // source lost a column → same typed error, not a raw AnalysisException
    val narrowed = Seq((2L, 200L, 20.0)).toDF("id", "updated", "amount")
    val eDrop = intercept[graft.core.GraftError.SchemaDrift] {
      ParquetMergeSink.merge(spark, dest, narrowed, Seq("id"), "updated")
    }
    assert(eDrop.getMessage.contains("status"))
    // the destination is untouched by both refusals
    assert(readDest(dest) == Map(1L -> ((100L, 10.0, "A"))))
  }

  test("SyncJob.run: a re-extracted row that keeps its watermark but changes payload is merged") {
    // the tie row travels again on every poll; the probe must see its new
    // payload as novel, not as the identical twin it was last time
    val dest = tmpDir("sync-tie-run") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")), dest, 500L)
    val r = job.run(src((1L, 100L, 1.0, "A"), (2L, 200L, 7.0, "B2")), dest, 500L)
    assert(r.startingPoint.contains(200L))
    assert(r.rowsWritten > 0L, s"tied payload change was skipped: $r")
    assert(readDest(dest) == Map(
      1L -> ((100L, 1.0, "A")), 2L -> ((200L, 7.0, "B2"))))
  }

  test("SyncJob.run: a tied row with a NULL payload field still converges") {
    // NULL != NULL in the twin test: the tie reads as novel and the poll
    // may rewrite, but the destination never drifts from the source
    val dest = tmpDir("sync-tie-null") + "/dest"
    val job = new SyncJob(spark, cfg)
    val s = src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, null))
    job.run(s, dest, 500L)
    job.run(s, dest, 500L)
    assert(readDest(dest) == Map(
      1L -> ((100L, 1.0, "A")), 2L -> ((200L, 2.0, null))))
    // and a later change next to the NULL-bearing tie still lands
    job.run(src((1L, 300L, 3.0, "A3"), (2L, 200L, 2.0, null)), dest, 500L)
    assert(readDest(dest) == Map(
      1L -> ((300L, 3.0, "A3")), 2L -> ((200L, 2.0, null))))
  }

  test("SyncJob.run: an added or a removed source column refuses with the typed SchemaDrift") {
    val dest = tmpDir("sync-drift-run") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 10.0, "A")), dest, 1000L)
    val widened = Seq((1L, 100L, 10.0, "A", "eu-west"), (2L, 200L, 20.0, "B", "eu"))
      .toDF("id", "updated", "amount", "status", "region")
    val eAdd = intercept[graft.core.GraftError.SchemaDrift](
      job.run(widened, dest, 1000L))
    assert(eAdd.getMessage.contains("region"))
    val narrowed = Seq((1L, 100L, 10.0), (2L, 200L, 20.0))
      .toDF("id", "updated", "amount")
    val eDrop = intercept[graft.core.GraftError.SchemaDrift](
      job.run(narrowed, dest, 1000L))
    assert(eDrop.getMessage.contains("status"))
    assert(readDest(dest) == Map(1L -> ((100L, 10.0, "A"))))
  }

  test("merge dedups duplicate keys within one batch (last writer by watermark wins)") {
    val dest = tmpDir("sync-dupe") + "/dest"
    val dupes = src((1L, 100L, 1.0, "old"), (1L, 300L, 3.0, "new"), (1L, 200L, 2.0, "mid"))
    ParquetMergeSink.merge(spark, dest, dupes, Seq("id"), "updated")
    assert(readDest(dest) == Map(1L -> ((300L, 3.0, "new"))))
  }

  test("M1 progress callbacks: monotone, clamped, final == extracted total") {
    val dest = tmpDir("sync-progress") + "/dest"
    val s = src((1 to 500).map(i => (i.toLong, i.toLong, i * 1.0, "A")): _*)
    val events = scala.collection.mutable.ArrayBuffer.empty[graft.sync.Progress]
    new SyncJob(spark, cfg).run(s, dest, nowWatermark = 1000L,
      onProgress = p => events.synchronized { events += p; () })
    assert(events.nonEmpty, "no progress events delivered")
    val counts = events.map(_.rowsProcessed)
    assert(counts == counts.sorted, s"non-monotone progress: $counts")
    assert(counts.last == 500L)
    assert(events.forall(_.totalRows == 500L))
    assert(events.last.percent == 100.0)
  }

  test("partitioned merge rewrites only partitions containing updated keys") {
    val dest = tmpDir("sync-part") + "/dest"
    // bucket = stable function of the key (the documented constraint)
    def bucketed(rows: (Long, Long, Double, String)*) =
      src(rows: _*).withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.lit(2)))
    ParquetMergeSink.merge(spark, dest,
      bucketed((1L, 100L, 1.0, "A"), (2L, 100L, 2.0, "B"), (3L, 100L, 3.0, "C")),
      Seq("id"), "updated", partitionByCol = Some("bucket"))
    val untouchedFiles = new java.io.File(dest, "bucket=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    // update touches only bucket=1 (ids 1 and 3)
    ParquetMergeSink.merge(spark, dest,
      bucketed((1L, 200L, 9.0, "A2")),
      Seq("id"), "updated", partitionByCol = Some("bucket"))
    val after = new java.io.File(dest, "bucket=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == untouchedFiles, "bucket=0 partition files were rewritten")
    // successful partitioned merges leave no restart marker behind
    assert(stateOf(dest).stored.exists(_.restartWm.isEmpty))
    val rows = spark.read.parquet(dest).collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("updated"), r.getAs[Double]("amount"))))
      .toMap
    assert(rows == Map(1L -> ((200L, 9.0)), 2L -> ((100L, 2.0)), 3L -> ((100L, 3.0))))
  }

  test("partitioned merge rejects a non-numeric order column (crash marker needs one)") {
    val dest = tmpDir("sync-nonnum") + "/dest"
    // a string watermark cannot be recorded in the restart marker, so
    // the partitioned path (non-atomic across partitions) must refuse it
    // up front rather than silently run without crash protection
    val rows = src((1L, 100L, 1.0, "A"))
      .withColumn("wm", org.apache.spark.sql.functions.lit("2024-01-01"))
      .withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.lit(2)))
    assertThrows[IllegalArgumentException](
      ParquetMergeSink.merge(spark, dest, rows,
        Seq("id"), "wm", partitionByCol = Some("bucket")))
    // the unpartitioned atomic-swap path still accepts it
    val r = ParquetMergeSink.merge(spark, dest, rows, Seq("id"), "wm")
    assert(r.rowsWritten == 1)
  }

  test("merge prefers the update on watermark ties (replaces apply-order rule)") {
    val dest = tmpDir("sync-tie") + "/dest"
    ParquetMergeSink.merge(spark, dest, src((1L, 100L, 1.0, "orig")), Seq("id"), "updated")
    ParquetMergeSink.merge(spark, dest, src((1L, 100L, 9.0, "re-extracted")), Seq("id"), "updated")
    assert(readDest(dest) == Map(1L -> ((100L, 9.0, "re-extracted"))))
  }

  // ------------------------------------------------- CDC delete tombstones

  private val cfgT = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated",
    tombstoneCol = Some("del"))

  private def srcT(rows: (Long, Long, java.lang.Double, String, Boolean)*): DataFrame =
    rows.toSeq.toDF("id", "updated", "amount", "status", "del")

  /** readDest that tolerates an EMPTY destination (an everything-deleted
    * merge can stage zero part files — unreadable as parquet). */
  private def readDestSafe(dir: String): Map[Long, (Long, Double, String)] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    if (!files.exists(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      Map.empty
    else readDest(dir)
  }

  test("tombstones: a delete removes its key; unknown-key and payload-free deletes are safe") {
    val dest = tmpDir("sync-tomb") + "/dest"
    val job = new SyncJob(spark, cfgT)
    job.run(srcT(
      (1L, 100L, 10.0, "A", false),
      (2L, 200L, 20.0, "B", false),
      (3L, 300L, 30.0, "C", false)), dest, 500L)
    assert(readDest(dest).keySet == Set(1L, 2L, 3L))
    // key 2 deleted payload-FREE (NULL amount/status — delete feeds
    // rarely carry payloads); key 9 deleted though never synced
    val s2 = srcT(
      (1L, 100L, 10.0, "A", false),
      (2L, 200L, 20.0, "B", false),
      (3L, 300L, 30.0, "C", false),
      (2L, 600L, null, null, true),
      (9L, 650L, null, null, true))
    job.run(s2, dest, 1000L)
    assert(readDest(dest).keySet == Set(1L, 3L),
      s"expected key 2 deleted, key 9 no-op: ${readDest(dest)}")
    // the dest never carries the tombstone column
    assert(!spark.read.parquet(dest).columns.contains("del"))
    // re-running the same cut is a detected no-op: the re-extracted
    // deletes find their keys already gone (rowsWritten == 0, no rewrite)
    val r3 = job.run(s2, dest, 1000L)
    assert(r3.rowsWritten == 0L, s"re-run rewrote the dest: $r3")
  }

  test("tombstones: delete-then-reinsert round-trips; same-ts delete/upsert is deterministic") {
    val dest = tmpDir("sync-tomb-rt") + "/dest"
    val job = new SyncJob(spark, cfgT)
    job.run(srcT((1L, 100L, 10.0, "A", false)), dest, 500L)
    job.run(srcT(
      (1L, 100L, 10.0, "A", false),
      (1L, 600L, null, null, true)), dest, 700L)
    assert(!readDestSafe(dest).contains(1L))
    // reinsert: a LATER live arrival for a deleted key is a new row
    job.run(srcT(
      (1L, 100L, 10.0, "A", false),
      (1L, 600L, null, null, true),
      (1L, 800L, 11.0, "A2", false)), dest, 1000L)
    assert(readDest(dest) == Map(1L -> ((800L, 11.0, "A2"))))
    // same-watermark delete+upsert pair: the payload-hash tie-break picks
    // ONE winner and picks the same one on every replay (T3)
    val dest2 = tmpDir("sync-tomb-tie") + "/dest"
    val pair = srcT(
      (5L, 100L, 50.0, "X", false),
      (5L, 100L, null, null, true))
    val job2 = new SyncJob(spark, cfgT)
    job2.run(pair, dest2, 500L)
    val first = readDestSafe(dest2).get(5L)
    job2.run(pair, dest2, 500L)
    assert(readDestSafe(dest2).get(5L) == first,
      "replaying the same tied pair crowned a different winner")
  }

  test("tombstones: everything-deleted dest empties and the next cold run converges") {
    val dest = tmpDir("sync-tomb-all") + "/dest"
    val job = new SyncJob(spark, cfgT)
    job.run(srcT((1L, 100L, 1.0, "A", false)), dest, 500L)
    val s2 = srcT(
      (1L, 100L, 1.0, "A", false),
      (1L, 600L, null, null, true))
    job.run(s2, dest, 1000L)
    assert(!readDestSafe(dest).contains(1L))
    // the emptied dest reads as "no destination"; the next run cold-starts
    // from the source MIN and the replayed delete keeps it empty
    val r = job.run(s2, dest, 1000L)
    assert(r.rowsWritten == 0L)
  }

  test("tombstones: the applied-delete watermark advances the restart point past a fully-applied delete feed") {
    val dest = tmpDir("sync-tomb-wm") + "/dest"
    val job = new SyncJob(spark, cfgT)
    val s1 = srcT(
      (1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false),
      (3L, 300L, 3.0, "C", false),
      (2L, 600L, null, null, true))
    job.run(s1, dest, 1000L)
    assert(readDest(dest).keySet == Set(1L, 3L))
    // dest MAX(wm) is 300 — BELOW the applied delete at 600. Without the
    // applied-watermark sidecar every later poll would restart at 300 and
    // re-extract the whole delete feed forever (r16 advice); with it the
    // restart base is the recorded 600 and only the inclusive tie row
    // travels
    val r2 = job.run(s1, dest, 1000L)
    assert(r2.startingPoint.contains(600L),
      s"restart point did not clear the applied delete feed: $r2")
    assert(r2.candidateRows == 1L,
      s"re-poll re-extracted the applied delete feed: $r2")
    assert(r2.rowsWritten == 0L)
    // a LATER live row is still picked up from the advanced base
    job.run(srcT(
      (1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false),
      (3L, 300L, 3.0, "C", false),
      (2L, 600L, null, null, true),
      (4L, 700L, 4.0, "D", false)), dest, 1000L)
    assert(readDest(dest).keySet == Set(1L, 3L, 4L))
    // a deleted-and-recreated destination must NOT inherit the stale
    // bound: the cold start owns the state record
    graft.core.Tables.deleteRecursively(new java.io.File(dest))
    val rCold = job.run(srcT((7L, 150L, 7.0, "G", false)), dest, 1000L)
    assert(rCold.startingPoint.contains(150L),
      s"stale applied watermark survived the cold start: $rCold")
    assert(readDest(dest).keySet == Set(7L))
  }

  test("tombstone setting is frozen per destination (blind-vs-tombstoned mixing refuses)") {
    // blind dest, tombstoned run
    val blind = tmpDir("sync-tomb-mixb") + "/dest"
    new SyncJob(spark, cfg).run(src((1L, 100L, 1.0, "A")), blind, 500L)
    val e1 = intercept[graft.core.GraftError.InvalidConfig](
      new SyncJob(spark, cfgT).run(srcT((1L, 600L, null, null, true)),
        blind, 1000L))
    assert(e1.getMessage.contains("tombstone-blind"))
    // tombstoned dest, blind run
    val tomb = tmpDir("sync-tomb-mixt") + "/dest"
    new SyncJob(spark, cfgT).run(srcT((1L, 100L, 1.0, "A", false)), tomb, 500L)
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      new SyncJob(spark, cfg).run(src((1L, 600L, 2.0, "B")), tomb, 1000L))
    assert(e2.getMessage.contains("WITH tombstones"))
    // tombstoned dest, DIFFERENT tombstone column
    val e3 = intercept[graft.core.GraftError.InvalidConfig](
      new SyncJob(spark, cfgT.copy(tombstoneCol = Some("status"))).run(
        srcT((1L, 600L, 2.0, "true", false)), tomb, 1000L))
    assert(e3.getMessage.contains("frozen"))
    // matching setting keeps working
    new SyncJob(spark, cfgT).run(srcT(
      (1L, 100L, 1.0, "A", false), (2L, 700L, 2.0, "B", false)), tomb, 1000L)
    assert(readDest(tomb).keySet == Set(1L, 2L))
  }

  test("tombstones: malformed flag values refuse typed (never silently upsert)") {
    val dest = tmpDir("sync-tomb-bad") + "/dest"
    val rows = Seq((1L, 100L, 1.0, "A", "deleted"))
      .toDF("id", "updated", "amount", "status", "del")
    val e = intercept[graft.core.GraftError.InvalidConfig](
      ParquetMergeSink.merge(spark, dest, rows, Seq("id"), "updated",
        tombstoneCol = Some("del")))
    assert(e.getMessage.contains("does not cast to boolean"))
    // the internal __tomb/__src names are reserved in the tombstoned
    // path (withColumn would replace a same-named user column and drop
    // would remove both)
    val clash = Seq((1L, 100L, 1.0, true))
      .toDF("id", "updated", "amount", "__tomb")
    val e2 = intercept[IllegalArgumentException](
      ParquetMergeSink.merge(spark, dest, clash, Seq("id"), "updated",
        tombstoneCol = Some("__tomb")))
    assert(e2.getMessage.contains("reserves"))
  }

  test("tombstone merge property: random CDC interleavings across random batch cuts converge to the LWW-excluding-deleted mirror") {
    // the keyed-lane property arm (AggMaintenanceSpec) transposed to the
    // SYNC path: random upsert/delete streams with unique timestamps,
    // split at random watermark cuts into sequential merges — flat and
    // partitioned — must end at exactly the brute-force mirror:
    // latest-per-key, keys whose latest op is a delete absent entirely
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(2026)
    (1 to 3).foreach { trial =>
      val nOps = 100 + rnd.nextInt(60)
      val nKeys = 8 + rnd.nextInt(12)
      val ops = (1 to nOps).map { ts =>
        val del = rnd.nextInt(5) == 0 // ~20% deletes
        (1L + rnd.nextInt(nKeys), ts.toLong,
          if (del) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(math.round(rnd.nextDouble() * 1e4) / 100.0),
          if (del) null.asInstanceOf[String] else s"s$ts",
          del)
      }
      val src = srcT(ops: _*)
      val partitioned = trial == 2
      val bucketed = if (partitioned)
        src.withColumn("bucket", pmod(col("id"), lit(3))) else src
      val cuts = (Seq(0L, nOps.toLong) ++
        Seq.fill(2 + rnd.nextInt(4))(1L + rnd.nextInt(nOps - 1).toLong))
        .distinct.sorted
      val dest = tmpDir(s"sync-tomb-prop$trial") + "/dest"
      cuts.sliding(2).foreach { case Seq(l, h) =>
        ParquetMergeSink.merge(spark, dest,
          bucketed.filter(col("updated") > l && col("updated") <= h),
          Seq("id"), "updated",
          partitionByCol = if (partitioned) Some("bucket") else None,
          tombstoneCol = Some("del"))
        ()
      }
      val w = Window.partitionBy("id").orderBy(col("updated").desc)
      val want = src.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).filter(!col("del"))
        .select("id", "updated", "amount", "status")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).toSet
      val got = spark.read.parquet(dest)
        .select("id", "updated", "amount", "status")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).toSet
      assert(got == want,
        s"trial $trial (partitioned=$partitioned): " +
          s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("partitioned tombstones: deletes vacate partitions; NULL-partition deletes refuse") {
    val dest = tmpDir("sync-tomb-part") + "/dest"
    def bucketed(df: DataFrame) = df.withColumn("bucket",
      org.apache.spark.sql.functions.pmod(col("id"), lit(2)))
    ParquetMergeSink.merge(spark, dest, bucketed(srcT(
      (1L, 100L, 1.0, "A", false),   // bucket 1
      (2L, 100L, 2.0, "B", false),   // bucket 0
      (3L, 100L, 3.0, "C", false))), // bucket 1
      Seq("id"), "updated", partitionByCol = Some("bucket"),
      tombstoneCol = Some("del"))
    assert(new java.io.File(dest, "bucket=0").exists())
    // delete key 2 — bucket 0's ONLY key: the partition must VANISH
    // (dynamic overwrite alone cannot drop it); key 1 also deleted but
    // bucket 1 keeps key 3
    ParquetMergeSink.merge(spark, dest, bucketed(srcT(
      (2L, 600L, null, null, true),
      (1L, 650L, null, null, true))),
      Seq("id"), "updated", partitionByCol = Some("bucket"),
      tombstoneCol = Some("del"))
    assert(!new java.io.File(dest, "bucket=0").exists(),
      "vacated partition dir survived")
    val rows = spark.read.parquet(dest).collect()
      .map(_.getAs[Long]("id")).toSet
    assert(rows == Set(3L), s"got $rows")
    // no restart marker left behind
    assert(stateOf(dest).stored.exists(_.restartWm.isEmpty))
    // a delete row with a NULL partition value cannot be located — refuse
    val e = intercept[graft.core.GraftError.InvalidConfig](
      ParquetMergeSink.merge(spark, dest,
        bucketed(srcT((3L, 700L, null, null, true)))
          .withColumn("bucket", lit(null).cast("int")),
        Seq("id"), "updated", partitionByCol = Some("bucket"),
        tombstoneCol = Some("del")))
    assert(e.getMessage.contains("NULL"))
  }
}
