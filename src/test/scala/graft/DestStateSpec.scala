package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SidecarIO
import graft.sync.{Compact, DestState, Reconcile, SyncConfig, SyncJob}

/** The parquet destination's state record carries the destination's
  * committed MAX(watermark) and schema, so T1 reads neither back from the
  * rows. Pinned here: the record's exact text, the old three-line record,
  * the exact-or-cleared rule at every write, and convergence after a
  * crash between a commit and its record write. */
class DestStateSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")
  private val cfgT = cfg.copy(tombstoneCol = Some("del"))

  private def src(rows: (Long, Long, Double, String)*): DataFrame =
    rows.toSeq.toDF("id", "updated", "amount", "status")

  private def srcT(rows: (Long, Long, java.lang.Double, String, Boolean)*)
      : DataFrame =
    rows.toSeq.toDF("id", "updated", "amount", "status", "del")

  private def fsOf(dest: String) =
    new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stored(dest: String): DestState =
    DestState.parquet(fsOf(dest), dest).stored.get

  private def scanMax(dest: String): Option[Long] =
    Option(spark.read.parquet(dest).agg(max("updated")).first().get(0))
      .map(_.asInstanceOf[Long])

  /** The record says what a scan and an inference of the rows say. */
  private def assertExact(dest: String, when: String): Unit = {
    val s = stored(dest)
    assert(s.destMax.isDefined && s.destMax == scanMax(dest),
      s"$when: recorded MAX ${s.destMax}, scan ${scanMax(dest)}")
    assert(s.schema.contains(spark.read.parquet(dest).schema),
      s"$when: recorded schema ${s.schema}")
  }

  test("the record's exact text; an old three-line record reads MAX and schema as unknown and the next poll fills them in") {
    val dest = tmpDir("state-golden") + "/dest"
    val rows = src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"))
    new SyncJob(spark, cfg).run(rows, dest, 1000L)
    val path = new Path(dest + ".__merge_state")
    assert(SidecarIO.read(fsOf(dest), path).contains(
      "restart=\napplied=\nparams=\nmax=200\nschema=" +
        """{"type":"struct","fields":[""" +
        """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"updated","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"amount","type":"double","nullable":true,"metadata":{}},""" +
        """{"name":"status","type":"string","nullable":true,"metadata":{}}]}"""))
    // the record as the previous version wrote it
    SidecarIO.write(fsOf(dest), path, "restart=\napplied=\nparams=tomb=del")
    assert(stored(dest) == DestState(None, None, Some("tomb=del")))
    SidecarIO.write(fsOf(dest), path, "restart=\napplied=\nparams=")
    assert(stored(dest) == DestState.Empty)
    val idle = new SyncJob(spark, cfg).run(rows, dest, 1000L)
    assert(idle.startingPoint.contains(200L) && idle.rowsWritten == 0L,
      s"$idle")
    assertExact(dest, "after the poll that found a three-line record")
    // a record this version cannot read refuses loudly
    SidecarIO.write(fsOf(dest), path, "restart=\napplied=\nparams=\nmax=1")
    val e = intercept[java.io.IOException](stored(dest))
    assert(e.getMessage.contains("unreadable sync state record"))
  }

  test("a recorded MAX and schema equal a scan and an inference after cold, delta, idle and Compact") {
    val dest = tmpDir("state-exact") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")), dest, 1000L)
    assertExact(dest, "cold")
    val next = src((1L, 100L, 1.0, "A"), (2L, 300L, 2.5, "B"),
      (3L, 250L, 3.0, "C"))
    val delta = job.run(next, dest, 1000L)
    assert(delta.rowsWritten == 3L, s"$delta")
    assertExact(dest, "delta")
    assert(stored(dest).destMax.contains(300L))
    val idle = job.run(next, dest, 1000L)
    assert(idle.startingPoint.contains(300L) && idle.rowsWritten == 0L,
      s"$idle")
    assertExact(dest, "idle")
    Compact.compact(spark, dest, targetBytes = 1L << 20)
    assertExact(dest, "Compact")
    // a partitioned destination: the cold write records MAX, the first
    // poll the inferred schema, a blind merge raises MAX
    val pdest = tmpDir("state-exact-part") + "/dest"
    val pjob = new SyncJob(spark, cfg.copy(partitionByCol = Some("bucket")))
    def bucketed(df: DataFrame) = df.withColumn("bucket", pmod($"id", lit(2)))
    pjob.run(bucketed(src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"))),
      pdest, 1000L)
    assert(stored(pdest).destMax.contains(200L) && stored(pdest).schema.isEmpty)
    pjob.run(bucketed(src((1L, 150L, 1.5, "A"), (2L, 200L, 2.0, "B"),
      (3L, 400L, 3.0, "C"))), pdest, 1000L)
    assertExact(pdest, "partitioned delta")
    assert(stored(pdest).destMax.contains(400L))
    Compact.compact(spark, pdest, targetBytes = 1L << 20)
    assertExact(pdest, "partitioned Compact")
  }

  test("a crash between the swap and the record write leaves MAX stale-low; the next poll converges and raises it") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[MockStoreFileSystem].getName)
    val dest = s"graftmock:${tmpDir("state-crash")}/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")), dest, 1000L)
    val next = src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"),
      (3L, 300L, 3.0, "C"), (4L, 400L, 4.0, "D"))
    // the poll's first record write is its commit, after the swap
    MockStoreFileSystem.failOnCreate = Some(".__merge_state")
    try intercept[java.io.IOException](job.run(next, dest, 1000L))
    finally MockStoreFileSystem.failOnCreate = None
    assert(spark.read.parquet(dest).count() == 4L, "the swap did not land")
    assert(stored(dest).destMax.contains(200L), "MAX is not stale-low")
    // restart at the stale MAX: the batch is re-read, proven applied,
    // and the record raised to the destination's MAX without a rewrite
    val r = job.run(next, dest, 1000L)
    assert(r.startingPoint.contains(200L) && r.candidateRows == 3L &&
      r.rowsWritten == 0L, s"$r")
    assertExact(dest, "after the converging poll")
    val idle = job.run(next, dest, 1000L)
    assert(idle.startingPoint.contains(400L) && idle.candidateRows == 1L,
      s"$idle")
  }

  test("a tombstoned batch that deletes the MAX row leaves T1's restart point equal to the scan-based one") {
    Seq(None, Some("bucket")).foreach { part =>
      val dest = tmpDir("state-delmax") + "/dest"
      val job = new SyncJob(spark, cfgT.copy(partitionByCol = part))
      def bucketed(df: DataFrame) =
        if (part.isEmpty) df else df.withColumn("bucket", pmod($"id", lit(2)))
      job.run(bucketed(srcT((1L, 100L, 1.0, "A", false),
        (2L, 200L, 2.0, "B", false))), dest, 1000L)
      // key 2 holds the MAX; its delete arrives at 300
      val feed = bucketed(srcT((1L, 100L, 1.0, "A", false),
        (2L, 300L, null, null, true)))
      job.run(feed, dest, 1000L)
      assert(spark.read.parquet(dest).count() == 1L, s"$part")
      val s = stored(dest)
      // the unpartitioned rewrite knows its MAX; the partitioned merge
      // cannot know what its delete left, and clears it
      assert(s.destMax == (if (part.isEmpty) Some(100L) else None), s"$part: $s")
      assert(s.restart(s.destMax.orElse(scanMax(dest))) ==
        s.restart(scanMax(dest)), s"$part: $s")
      val idle = job.run(feed, dest, 1000L)
      assert(idle.startingPoint.contains(300L) && idle.rowsWritten == 0L,
        s"$part: $idle")
      assertExact(dest, s"$part: after the next poll")
    }
  }

  test("Reconcile and a partitioned delete clear the recorded MAX; the next poll records it again") {
    val dest = tmpDir("state-reconcile") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"),
      (3L, 300L, 3.0, "C")), dest, 1000L)
    assert(stored(dest).destMax.contains(300L))
    // upstream deleted key 3, the MAX row
    val snapshot = src((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"))
    val orphans = Reconcile.deletedKeys(snapshot, spark.read.parquet(dest),
      Seq("id"))
    assert(Reconcile.applyDeletes(spark, dest, orphans, Seq("id")) ==
      ((2L, 1L)))
    assert(stored(dest).destMax.isEmpty && stored(dest).schema.isEmpty,
      s"${stored(dest)}")
    val r = job.run(snapshot, dest, 1000L)
    assert(r.startingPoint.contains(200L), s"$r")
    assertExact(dest, "after the poll that follows Reconcile")

    val pdest = tmpDir("state-partdel") + "/dest"
    val pjob = new SyncJob(spark, cfgT.copy(partitionByCol = Some("bucket")))
    def bucketed(df: DataFrame) = df.withColumn("bucket", pmod($"id", lit(2)))
    pjob.run(bucketed(srcT((1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false), (3L, 300L, 3.0, "C", false))), pdest, 1000L)
    pjob.run(bucketed(srcT((1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false), (3L, 300L, 3.0, "C", false),
      (4L, 400L, 4.0, "D", false))), pdest, 1000L)
    assert(stored(pdest).destMax.contains(400L), s"${stored(pdest)}")
    // a delete of a key that is not the MAX still clears it: the merge
    // cannot tell
    pjob.run(bucketed(srcT((4L, 400L, 4.0, "D", false),
      (1L, 500L, null, null, true))), pdest, 1000L)
    assert(stored(pdest).destMax.isEmpty, s"${stored(pdest)}")
    assert(spark.read.parquet(pdest).count() == 3L)
  }
}
