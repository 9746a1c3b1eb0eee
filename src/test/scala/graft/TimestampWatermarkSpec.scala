package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.core.{Tables, Watermark}
import graft.sync.{SyncConfig, SyncJob}

/** The watermark protocol over SQL-timestamp columns (the driver fixture's
  * current events.ts shape) — the same T1/T2/T3/T4 scenario matrix
  * SyncJobSpec pins on Long-epoch watermarks, re-run with `updated` as
  * TIMESTAMP_NTZ. Driver-side scalars are canonical epoch-micros
  * (core.Watermark); the column keeps its native type end-to-end, so this
  * suite is what proves Watermark.toMicros/litFor are wired through
  * SyncJob rather than dead code.
  */
class TimestampWatermarkSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")

  /** Rows carry epoch-micros longs; the frame converts them to a genuine
    * TIMESTAMP_NTZ column via NTZ-to-NTZ arithmetic (timezone-independent,
    * like Tables.tsUs in reverse). */
  private def src(rows: (Long, Long, Double, String)*): DataFrame =
    rows.toSeq.toDF("id", "updated_us", "amount", "status")
      .withColumn("updated",
        expr("timestampadd(MICROSECOND, updated_us, TIMESTAMP_NTZ'1970-01-01 00:00:00')"))
      .select("id", "updated", "amount", "status")

  private def readDest(dir: String): Map[Long, (Long, Double, String)] = {
    val d = spark.read.parquet(dir)
    d.select(col("id"), Tables.tsUs(d, "updated").as("us"),
        col("amount"), col("status"))
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("us"), r.getAs[Double]("amount"), r.getAs[String]("status"))))
      .toMap
  }

  // µs scalars large enough to be realistic instants (2024-ish)
  private val base = 1704067200000000L // 2024-01-01T00:00:00Z in µs

  test("cold start on a TIMESTAMP_NTZ watermark: T1 falls back to MIN(source)") {
    val dest = tmpDir("tswm-cold") + "/dest"
    val s = src((1L, base + 100L, 10.0, "A"), (2L, base + 200L, 20.0, "B"),
      (3L, base + 300L, 30.0, "A"))
    assert(s.schema("updated").dataType == TimestampNTZType)
    val r = new SyncJob(spark, cfg).run(s, dest, nowWatermark = base + 1000L)
    assert(r.startingPoint.contains(base + 100L)) // canonical µs
    assert(r.candidateRows == 3)
    assert(readDest(dest).keySet == Set(1L, 2L, 3L))
  }

  test("warm incremental: T1 = MAX(dest) as canonical µs; updates overwrite") {
    val dest = tmpDir("tswm-warm") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, base + 100L, 10.0, "A"), (2L, base + 200L, 20.0, "B")),
      dest, base + 500L)
    val s2 = src((1L, base + 600L, 11.0, "A2"), (2L, base + 200L, 20.0, "B"),
      (4L, base + 700L, 40.0, "C"))
    val r2 = job.run(s2, dest, base + 1000L)
    assert(r2.startingPoint.contains(base + 200L))
    assert(readDest(dest) == Map(
      1L -> ((base + 600L, 11.0, "A2")), 2L -> ((base + 200L, 20.0, "B")),
      4L -> ((base + 700L, 40.0, "C"))))
  }

  test("T3 restart idempotence: ties re-extract, apply is idempotent") {
    val dest = tmpDir("tswm-idem") + "/dest"
    val s = src((1L, base + 100L, 1.0, "A"), (2L, base + 200L, 2.0, "B"))
    val job = new SyncJob(spark, cfg)
    job.run(s, dest, base + 500L)
    val before = readDest(dest)
    val r2 = job.run(s, dest, base + 500L)
    assert(r2.candidateRows >= 1)
    assert(readDest(dest) == before)
  }

  test("T4 documented miss: a backdated timestamp below the watermark skips") {
    val dest = tmpDir("tswm-t4") + "/dest"
    val job = new SyncJob(spark, cfg)
    job.run(src((1L, base + 100L, 1.0, "A"), (2L, base + 500L, 2.0, "B")),
      dest, base + 600L)
    val mutated = src((1L, base + 50L, 99.0, "HACKED"), (2L, base + 500L, 2.0, "B"))
    job.run(mutated, dest, base + 1000L)
    assert(readDest(dest)(1L) == ((base + 100L, 1.0, "A"))) // old row survives
  }

  test("T2 snapshot cut freezes at the canonical-µs bound") {
    val dest = tmpDir("tswm-cut") + "/dest"
    val s = src((1L, base + 100L, 1.0, "A"), (2L, base + 900L, 2.0, "B"))
    val job = new SyncJob(spark, cfg)
    val r = job.run(s, dest, nowWatermark = base + 500L)
    assert(r.candidateRows == 1)
    assert(readDest(dest).keySet == Set(1L))
    job.run(s, dest, nowWatermark = base + 1000L)
    assert(readDest(dest).keySet == Set(1L, 2L))
  }

  test("partitioned merge records the crash marker for a timestamp order column") {
    // partitionByCol path: the restart marker must store canonical µs
    // (it used to reject non-numeric order columns outright)
    val pcfg = cfg.copy(partitionByCol = Some("status"))
    val dest = tmpDir("tswm-part") + "/dest"
    val job = new SyncJob(spark, pcfg)
    job.run(src((1L, base + 100L, 1.0, "A"), (2L, base + 200L, 2.0, "B")),
      dest, base + 500L)
    val r2 = job.run(src((1L, base + 600L, 9.0, "A"), (2L, base + 200L, 2.0, "B")),
      dest, base + 1000L)
    assert(r2.rowsWritten > 0)
    assert(readDest(dest)(1L) == ((base + 600L, 9.0, "A")))
  }

  test("T5 continuous polling converges on a timestamp watermark") {
    val dest = tmpDir("tswm-t5") + "/dest"
    val all = Seq(
      (1L, base + 100L, 1.0, "A"), (2L, base + 200L, 2.0, "B"),
      (3L, base + 300L, 3.0, "A"), (4L, base + 400L, 4.0, "B"))
    // the "live" source grows one row per poll; cut = max seen so far
    var visible = 1
    def source() = src(all.take(visible): _*)
    def cut() = all.take(visible).map(_._2).max
    val reports = new graft.sync.ContinuousSync(spark, cfg).run(
      () => { val s = source(); visible = math.min(visible + 1, all.size); s },
      dest, () => cut(), delayMs = 0L, maxIterations = 5, sleep = _ => ())
    assert(reports.size == 5)
    assert(readDest(dest).keySet == Set(1L, 2L, 3L, 4L))
    assert(readDest(dest)(4L) == ((base + 400L, 4.0, "B")))
  }

  test("a fractional watermark column is rejected up front, not truncated") {
    val dest = tmpDir("tswm-frac") + "/dest"
    val s = Seq((1L, 100.5, 1.0, "A")).toDF("id", "updated", "amount", "status")
    val e = intercept[IllegalArgumentException] {
      new SyncJob(spark, cfg).run(s, dest, 1000L)
    }
    assert(e.getMessage.contains("updated"))
  }

  test("Watermark.toMicros canonicalizes every supported scalar shape") {
    assert(Watermark.toMicros(null).isEmpty)
    assert(Watermark.toMicros(java.lang.Long.valueOf(42L)).contains(42L))
    assert(Watermark.toMicros(java.lang.Integer.valueOf(7)).contains(7L))
    assert(Watermark.toMicros(new java.math.BigDecimal("123")).contains(123L))
    val inst = java.time.Instant.parse("2024-01-01T00:00:00.000123Z")
    assert(Watermark.toMicros(inst).contains(base + 123L))
    assert(Watermark.toMicros(java.sql.Timestamp.from(inst)).contains(base + 123L))
    val ldt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
    assert(Watermark.toMicros(ldt).contains(base + 123L))
    intercept[IllegalArgumentException] { Watermark.toMicros(1.5d) }
    intercept[IllegalArgumentException] {
      Watermark.toMicros(new java.math.BigDecimal("1.5"))
    }
  }

  test("Watermark.litFor round-trips through each column type") {
    val us = base + 654321L
    val df = Seq((us, us)).toDF("l", "r")
      .withColumn("ts", expr("timestamp_micros(l)"))
      .withColumn("ntz", expr("timestampadd(MICROSECOND, l, TIMESTAMP_NTZ'1970-01-01 00:00:00')"))
    // literal == column value for every representation
    val row = df.select(
      (col("l") === Watermark.litFor(LongType, us)).as("a"),
      (col("ts") === Watermark.litFor(TimestampType, us)).as("b"),
      (col("ntz") === Watermark.litFor(TimestampNTZType, us)).as("c")).first()
    assert(row.getBoolean(0) && row.getBoolean(1) && row.getBoolean(2))
  }

  test("Tables.tsUs/tsLit agree across all three physical representations") {
    val us = base + 111222333L
    val df = Seq(Tuple1(us)).toDF("us")
      .select(
        expr("us * 1000").as("ns_long"),
        expr("timestamp_micros(us)").as("ts"),
        expr("timestampadd(MICROSECOND, us, TIMESTAMP_NTZ'1970-01-01 00:00:00')").as("ntz"))
    val got = df.select(
      Tables.tsUs(df, "ns_long").as("a"),
      Tables.tsUs(df, "ts").as("b"),
      Tables.tsUs(df, "ntz").as("c")).first()
    assert(got.getLong(0) == us && got.getLong(1) == us && got.getLong(2) == us)
    // tsLit compares equal against each native representation
    val d2 = Seq(Tuple1(Tables.utcMicros("2024-03-05 06:07:08"))).toDF("us")
      .select(
        expr("us * 1000").as("ns_long"),
        expr("timestamp_micros(us)").as("ts"),
        expr("timestampadd(MICROSECOND, us, TIMESTAMP_NTZ'1970-01-01 00:00:00')").as("ntz"))
    val eq = d2.select(
      (col("ns_long") === Tables.tsLit(d2, "2024-03-05 06:07:08", "ns_long")).as("a"),
      (col("ts") === Tables.tsLit(d2, "2024-03-05 06:07:08", "ts")).as("b"),
      (col("ntz") === Tables.tsLit(d2, "2024-03-05 06:07:08", "ntz")).as("c")).first()
    assert(eq.getBoolean(0) && eq.getBoolean(1) && eq.getBoolean(2))
  }
}
