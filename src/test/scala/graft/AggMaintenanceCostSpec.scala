package graft

import org.apache.spark.sql.functions.{col, sum}

import graft.sync.AggMaintenance

/** Spark-job budget of one rollup apply, whole-directory (v2 moments) and
  * bucket-partitioned (v1): a data-bearing slice into an existing rollup,
  * then an empty slice whose cut still moves. The whole-directory apply
  * learns whether the slice is empty and its row count in one pass over
  * its persisted partial, the partitioned apply its touched buckets and
  * row count in one collect, and the staged write counts its own groups; a
  * scalar pass added back beside those, or a staged directory read back
  * to count it, shows up here as extra jobs. The keyed lanes (flat, with
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

  test("applySliceV2: a data-bearing slice into an existing rollup runs at most 7 Spark jobs; an empty slice at most 2") {
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
    assert(dataJobs <= 7, s"data-bearing slice ran $dataJobs Spark jobs")
    assert(emptyJobs <= 2, s"empty slice ran $emptyJobs Spark jobs")
  }

  test("applySlicePartitioned: a data-bearing slice into an existing rollup runs at most 8 Spark jobs; an empty slice at most 2") {
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
    assert(dataJobs <= 8, s"data-bearing slice ran $dataJobs Spark jobs")
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

  test("applySliceKeyedPartitioned: a data-bearing slice runs at most 20 Spark jobs; an empty slice at most 3") {
    val src = keyedSource(tmpDir("agg-cost-keyed-part-src"))
    pin("keyed-part", 20, 3)((dir, lo, hi) =>
      AggMaintenance.applySliceKeyedPartitioned(spark, dir, src, "ts",
        Seq("k"), Seq("acct"), "amount", lo, hi, nBuckets = 8,
        nKeyBuckets = 8))
  }

  test("applySliceDistinct: a data-bearing slice runs at most 7 Spark jobs; an empty slice at most 2") {
    val src = source(tmpDir("agg-cost-distinct-src"))
    pin("distinct", 7, 2)((dir, lo, hi) => AggMaintenance.applySliceDistinct(
      spark, dir, src, "ts", Seq("acct"), Seq("id"), lo, hi))
  }
}
