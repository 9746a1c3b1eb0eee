package graft

import org.apache.spark.sql.functions._

import graft.sync.Compact

/** Small-files compaction: data-identical rewrite toward the target file
  * size, committed via the merge sink's atomic swap (no backup/stage
  * residue), partition layout preserved. */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
  }

  test("compacts many small files to one; data identical; no residue") {
    val dir = tmpDir("compact") + "/t"
    val data = (1L to 1000L).map(i => (i, i * 2.0, s"v$i"))
    data.toDF("id", "x", "s").repartition(16).write.parquet(dir)
    assert(files(dir).size == 16)
    val r = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(r.rows == 1000 && r.filesBefore == 16 && r.filesAfter == 1)
    val got = spark.read.parquet(dir).as[(Long, Double, String)].collect().toSet
    assert(got == data.toSet)
    assert(!new java.io.File(dir + ".__merge_tmp").exists())
    assert(!new java.io.File(dir + ".__merge_old").exists())
  }

  test("a table emptied by a tombstoned merge compacts to 0 rows and stays readable") {
    val dir = tmpDir("compact-empty") + "/t"
    val cfg = graft.sync.SyncConfig(keyCols = Seq("id"),
      watermarkCol = "updated", tombstoneCol = Some("del"))
    val job = new graft.sync.SyncJob(spark, cfg)
    val live = Seq((1L, 100L, "a", false), (2L, 200L, "b", false))
    job.run(live.toDF("id", "updated", "s", "del"), dir, 1000L)
    val deletes = live ++ Seq((1L, 300L, null, true), (2L, 300L, null, true))
    job.run(deletes.toDF("id", "updated", "s", "del"), dir, 1000L)
    assert(spark.read.parquet(dir).count() == 0L)
    val r = Compact.compact(spark, dir)
    assert(r.rows == 0L, s"$r")
    val after = spark.read.parquet(dir)
    assert(after.columns.toSeq == Seq("id", "updated", "s"))
    assert(after.count() == 0L)
    assert(!new java.io.File(dir + ".__merge_tmp").exists())
    assert(!new java.io.File(dir + ".__merge_old").exists())
  }

  test("a dot/underscore ANCESTOR directory does not hide the table's files") {
    // regression: dataFiles used to strip an unqualified root prefix from
    // fully-qualified (file:/...) listing paths, so the hidden-file filter
    // saw every ancestor segment — a table under ".cache" read as empty
    // (totalBytes=0 → one repartition(1) output task for the whole table)
    val dir = tmpDir("compact-dot") + "/.cache/_staging/t"
    val data = (1L to 500L).map(i => (i, s"v$i"))
    data.toDF("id", "s").repartition(8).write.parquet(dir)
    val r = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(r.filesBefore == 8, s"ancestor dot-dirs hid the files: $r")
    assert(r.rows == 500 && r.filesAfter == 1)
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(got == data.toSet)
  }

  test("partitioned compaction keeps the layout: one file per partition") {
    val dir = tmpDir("compact-part") + "/t"
    val data = (1L to 400L).map(i => (i, i % 4, i * 1.5))
    data.toDF("id", "bucket", "x")
      .repartition(8).write.partitionBy("bucket").parquet(dir)
    assert(files(dir).size > 4) // several files per partition
    val r = Compact.compact(spark, dir, targetBytes = 1L << 30,
      partitionByCol = Some("bucket"))
    assert(r.rows == 400)
    (0 to 3).foreach { b =>
      assert(files(s"$dir/bucket=$b").size == 1, s"bucket=$b not compacted")
    }
    val got = spark.read.parquet(dir)
      .select(col("id"), col("bucket").cast("long"), col("x"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == data.map { case (i, b, x) => (i, b.toLong, x) }.toSet)
  }

  test("omitted partitionByCol AUTO-PRESERVES a partitioned layout") {
    // flattening a partitioned merge destination would make the next
    // dynamic partition overwrite corrupt it (root files + partition
    // dirs); the layout is detectable from the listing, so compact must
    // keep it even when the caller forgets --partition-by
    val dir = tmpDir("compact-autopart") + "/t"
    val data = (1L to 200L).map(i => (i, i % 4, i * 1.5))
    data.toDF("id", "bucket", "x")
      .repartition(8).write.partitionBy("bucket").parquet(dir)
    val r = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(r.rows == 200)
    (0 to 3).foreach { b =>
      assert(new java.io.File(s"$dir/bucket=$b").isDirectory,
        s"bucket=$b flattened away")
      assert(files(s"$dir/bucket=$b").size == 1, s"bucket=$b not compacted")
    }
    assert(files(dir).forall(_.getParentFile.getName.startsWith("bucket=")),
      "root-level data files would corrupt the next partitioned merge")
  }

  test("a directory that holds no table refuses typed before any write") {
    val work = tmpDir("compact-notable")
    val missing = work + "/typo"
    val e = intercept[graft.core.GraftError.InvalidConfig](
      Compact.compact(spark, missing))
    assert(e.getMessage.contains("holds no parquet table"), e.getMessage)
    assert(!new java.io.File(missing).exists() &&
      !new java.io.File(missing + ".__merge_tmp").exists())
    // a crashed first write leaves metadata only
    val meta = work + "/meta"
    assert(new java.io.File(meta, "_temporary").mkdirs() &&
      new java.io.File(meta, "_SUCCESS").createNewFile())
    intercept[graft.core.GraftError.InvalidConfig](Compact.compact(spark, meta))
    assert(!new java.io.File(meta + ".__merge_tmp").exists())
    assert(new java.io.File(meta).list().toSet == Set("_temporary", "_SUCCESS"))
  }

  test("Compact of a recorded unpartitioned destination runs no schema-inference job") {
    val work = tmpDir("compact-jobs")
    val cfg = graft.sync.SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")
    val rows = (1L to 200L).map(i => (i, i, s"v$i")).toDF("id", "updated", "s")
    new graft.sync.SyncJob(spark, cfg).run(rows.repartition(4), work + "/dest", 1000L)
    // the same files without the state record beside them
    rows.repartition(4).write.parquet(work + "/bare")
    val (r, recorded) = jobsIn(Compact.compact(spark, work + "/dest"))
    val (_, bare) = jobsIn(Compact.compact(spark, work + "/bare"))
    info(s"recorded: $recorded jobs; without a record: $bare jobs")
    assert(r.rows == 200L && r.filesAfter == 1, s"$r")
    assert(recorded == bare - 1, "the recorded read still infers its schema")
    assert(recorded <= 2, s"Compact ran $recorded Spark jobs")
  }
}
