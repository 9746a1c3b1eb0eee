package graft

import org.apache.spark.sql.functions.{col, sum}

import graft.sync.AggMaintenance

/** Spark-job budget of one rollup apply, whole-directory (v2 moments) and
  * bucket-partitioned (v1): a data-bearing slice into an existing rollup,
  * then an empty slice whose cut still moves. The whole-directory apply
  * learns whether the slice is empty and its row count in one pass over
  * its persisted partial, the partitioned apply its touched buckets and
  * row count in one collect, and the staged write counts its own groups; a
  * scalar pass added back beside those, a staged directory read back to
  * count it, or a schema inference of the stored rollup (every apply
  * reads it with the schema its state record carries), shows up here as
  * extra jobs. The keyed lanes (flat, with
  * and without a tombstone column, and bucket-partitioned) and the v3
  * distinct-count lane are pinned at the counts they ran when the pins
  * were added, so folding lanes onto shared cores cannot add a job
  * unnoticed. */
class AggMaintenanceCostSpec extends SparkSpec {
  import spark.implicits._

  /** 2,000 rows over 200 accounts, `ts` = 0 … 1999. */
  private def source(work: String) = {
    (0 until 2000).map(i => (i.toLong, i.toLong, s"a${i % 200}", i * 0.25))
      .toDF("id", "ts", "acct", "amount")
      .repartition(3).write.parquet(work + "/src")
    spark.read.parquet(work + "/src")
  }

  test("applySliceV2: a data-bearing slice into an existing rollup runs at most 6 Spark jobs; an empty slice at most 2") {
    val work = tmpDir("agg-cost-v2")
    val src = source(work)
    val dir = work + "/rollup"
    def apply(lo: Long, hi: Long) = AggMaintenance.applySliceV2(
      spark, dir, src, "ts", Seq("acct"), Seq("amount"), lo, hi)
    apply(0L, 1000L)
    val (data, dataJobs) = jobsIn(apply(1000L, 2000L))
    val (empty, emptyJobs) = jobsIn(apply(2000L, 3000L))
    info(s"data-bearing slice: $dataJobs jobs; empty slice: $emptyJobs jobs")
    assert(data.groupsWritten == 200L && data.sliceRows == 1000L, s"$data")
    assert(empty.groupsWritten == 0L && empty.sliceRows == 0L &&
      empty.applied && empty.watermarkUs == 3000L, s"$empty")
    assert(AggMaintenance.read(spark, dir).agg(sum("cnt")).first()
      .getLong(0) == 2000L)
    assert(dataJobs <= 6, s"data-bearing slice ran $dataJobs Spark jobs")
    assert(emptyJobs <= 2, s"empty slice ran $emptyJobs Spark jobs")
  }

  test("applySlicePartitioned: a data-bearing slice into an existing rollup runs at most 7 Spark jobs; an empty slice at most 2") {
    val work = tmpDir("agg-cost-part")
    val src = source(work)
    val dir = work + "/rollup"
    def apply(lo: Long, hi: Long) = AggMaintenance.applySlicePartitioned(
      spark, dir, src, "ts", Seq("acct"), "amount", lo, hi, nBuckets = 8)
    apply(0L, 1000L)
    val (data, dataJobs) = jobsIn(apply(1000L, 2000L))
    val (empty, emptyJobs) = jobsIn(apply(2000L, 3000L))
    info(s"data-bearing slice: $dataJobs jobs; empty slice: $emptyJobs jobs")
    assert(data.groupsWritten == 200L && data.sliceRows == 1000L, s"$data")
    assert(empty.groupsWritten == 0L && empty.sliceRows == 0L &&
      empty.applied && empty.watermarkUs == 3000L, s"$empty")
    assert(AggMaintenance.read(spark, dir).agg(sum("cnt")).first()
      .getLong(0) == 2000L)
    assert(dataJobs <= 7, s"data-bearing slice ran $dataJobs Spark jobs")
    assert(emptyJobs <= 2, s"empty slice ran $emptyJobs Spark jobs")
  }

  /** One lane's budget: a data-bearing slice into a rollup that already
    * holds the first half, then an empty slice whose cut still moves. */
  private def pin(name: String, dataMax: Int, emptyMax: Int)(
      apply: (String, Long, Long) => AggMaintenance.AggResult): Unit = {
    val work = tmpDir(s"agg-cost-$name")
    val dir = work + "/rollup"
    apply(dir, 0L, 1000L)
    val (data, dataJobs) = jobsIn(apply(dir, 1000L, 2000L))
    val (empty, emptyJobs) = jobsIn(apply(dir, 2000L, 3000L))
    info(s"$name data-bearing slice: $dataJobs jobs; empty slice: " +
      s"$emptyJobs jobs")
    assert(data.applied && data.sliceRows == 1000L, s"$data")
    assert(empty.groupsWritten == 0L && empty.sliceRows == 0L &&
      empty.applied && empty.watermarkUs == 3000L, s"$empty")
    assert(dataJobs <= dataMax, s"data-bearing slice ran $dataJobs Spark jobs")
    assert(emptyJobs <= emptyMax, s"empty slice ran $emptyJobs Spark jobs")
  }

  /** The keyed lanes' source: 600 keys re-arriving across the two halves,
    * every 7th row a delete marker (read only by the tombstoned apply). */
  private def keyedSource(work: String) =
    source(work).withColumn("k", col("id") % 600L)
      .withColumn("del", col("id") % 7L === 0L)

  test("applySliceKeyed: a data-bearing slice runs at most 12 Spark jobs; an empty slice at most 4") {
    val src = keyedSource(tmpDir("agg-cost-keyed-src"))
    pin("keyed", 12, 4)((dir, lo, hi) => AggMaintenance.applySliceKeyed(
      spark, dir, src, "ts", Seq("k"), Seq("acct"), "amount", lo, hi))
  }

  test("applySliceKeyed with a tombstone column: a data-bearing slice runs at most 12 Spark jobs; an empty slice at most 4") {
    val src = keyedSource(tmpDir("agg-cost-keyed-tomb-src"))
    pin("keyed-tomb", 12, 4)((dir, lo, hi) => AggMaintenance.applySliceKeyed(
      spark, dir, src, "ts", Seq("k"), Seq("acct"), "amount", lo, hi,
      tombstoneCol = Some("del")))
  }

  test("applySliceKeyedPartitioned: a data-bearing slice runs at most 17 Spark jobs; an empty slice at most 3") {
    val src = keyedSource(tmpDir("agg-cost-keyed-part-src"))
    pin("keyed-part", 17, 3)((dir, lo, hi) =>
      AggMaintenance.applySliceKeyedPartitioned(spark, dir, src, "ts",
        Seq("k"), Seq("acct"), "amount", lo, hi, nBuckets = 8,
        nKeyBuckets = 8))
  }

  test("applySliceDistinct: a data-bearing slice runs at most 7 Spark jobs; an empty slice at most 2") {
    val src = source(tmpDir("agg-cost-distinct-src"))
    pin("distinct", 7, 2)((dir, lo, hi) => AggMaintenance.applySliceDistinct(
      spark, dir, src, "ts", Seq("acct"), Seq("id"), lo, hi))
  }

  test("rebucket: relabeling a partitioned rollup runs at most 2 Spark jobs") {
    val work = tmpDir("agg-cost-rebucket")
    val src = source(work)
    val dir = work + "/rollup"
    AggMaintenance.applySlicePartitioned(spark, dir, src, "ts", Seq("acct"),
      "amount", 0L, 2000L, nBuckets = 4)
    val (_, jobs) = jobsIn(AggMaintenance.rebucket(spark, dir, 8))
    info(s"rebucket: $jobs jobs")
    assert(AggMaintenance.read(spark, dir).agg(sum("cnt")).first()
      .getLong(0) == 2000L)
    assert(jobs <= 2, s"rebucket ran $jobs Spark jobs")
  }

  test("applySliceV2: a data-bearing apply makes one state-record commit and one root-state read; readDerived one read") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[MockStoreFileSystem].getName)
    val work = tmpDir("agg-cost-record")
    val src = source(work)
    val dir = s"graftmock:$work/rollup"
    def apply(lo: Long, hi: Long) = AggMaintenance.applySliceV2(
      spark, dir, src, "ts", Seq("acct"), Seq("amount"), lo, hi)
    apply(0L, 1000L)
    val state = (RollupRecord.File +: RollupRecord.SidecarFiles).toSet
    /** (sidecar commits, state reads) of `body`: a commit creates its
      * `.name.tmp`; a read opens the file or its `.name.new` twin. */
    def stateOps(body: => Any): (Int, Int) = {
      val log = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, org.apache.hadoop.fs.Path)]()
      MockStoreFileSystem.calls = Some(log)
      try body finally MockStoreFileSystem.calls = None
      val ops = log.toArray.toSeq.map {
        case (op: String, p: org.apache.hadoop.fs.Path) => op -> p.getName
      }
      def twin(n: String, suffix: String) =
        n.startsWith(".") && state(n.drop(1).stripSuffix(suffix))
      (ops.count { case (op, n) => op == "create" && twin(n, ".tmp") },
        ops.count { case (op, n) =>
          op == "open" && (state(n) || twin(n, ".new")) })
    }
    val (commits, reads) = stateOps(apply(1000L, 2000L))
    info(s"data-bearing apply: $commits sidecar commits, $reads state reads")
    assert(commits == 1 && reads == 1, s"$commits commits, $reads reads")
    val (_, derivedReads) = stateOps(
      AggMaintenance.readDerived(spark, dir).collect())
    assert(derivedReads == 1, s"readDerived made $derivedReads state reads")
    assert(AggMaintenance.readDerived(spark, dir).agg(sum("cnt")).first()
      .getLong(0) == 2000L)
  }
}
