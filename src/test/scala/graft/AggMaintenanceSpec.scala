package graft

import org.apache.spark.sql.functions._

import graft.sync.AggMaintenance

/** sync/AggMaintenance — batch IVM for grouped distributive aggregates:
  * slice-by-slice equivalence to the full re-aggregation, the exactly-once
  * contracts (replay no-op, gap refusal, empty-slice advance), NULL group
  * keys, and crash-debris recovery. */
class AggMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(r: (Long, String, Double)*) =
    r.toSeq.toDF("us", "grp", "v")

  private def snapshot(dir: String): Map[String, (Long, Double, Double, Double)] =
    AggMaintenance.read(spark, dir)
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>") ->
        ((r.getLong(1), r.getDecimal(2).doubleValue,
          r.getDecimal(3).doubleValue, r.getDecimal(4).doubleValue))).toMap

  test("three slices fold to exactly the full groupBy; watermark tracks hi") {
    val src = rows(
      (10L, "a", 1.5), (20L, "b", 2.0), (30L, "a", -1.0),
      (40L, "b", 4.25), (50L, "a", 0.25), (60L, "c", 9.0))
    val dir = tmpDir("agg-ivm")
    assert(AggMaintenance.watermark(spark, dir).isEmpty)
    val r1 = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 25L)
    assert(r1.applied && r1.sliceRows == 2 && r1.watermarkUs == 25L)
    val r2 = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 25L, 45L)
    val r3 = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 45L, 100L)
    assert(r2.sliceRows == 2 && r3.sliceRows == 2)
    assert(AggMaintenance.watermark(spark, dir).contains(100L))
    assert(snapshot(dir) == Map(
      "a" -> ((3L, 0.75, -1.0, 1.5)),
      "b" -> ((2L, 6.25, 2.0, 4.25)),
      "c" -> ((1L, 9.0, 9.0, 9.0))))
  }

  test("replay is a no-op; a gap refuses typed; empty slice advances") {
    val src = rows((10L, "a", 1.0), (90L, "a", 2.0))
    val dir = tmpDir("agg-ivm")
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 20L)
    val before = snapshot(dir)
    // replay of the same slice: reported not-applied, rollup untouched
    val rp = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 20L)
    assert(!rp.applied && rp.groupsWritten == 0 && rp.watermarkUs == 20L)
    assert(snapshot(dir) == before)
    // a gap (lo=30 over stored 20) must refuse — [20,30) would vanish
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 30L, 40L))
    // an EMPTY contiguous slice advances the watermark, data untouched
    val em = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 20L, 80L)
    assert(em.applied && em.sliceRows == 0 && em.groupsWritten == 0)
    assert(AggMaintenance.watermark(spark, dir).contains(80L))
    assert(snapshot(dir) == before)
    // and the chain continues from the advanced cut
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 80L, 95L)
    assert(snapshot(dir)("a") == ((2L, 3.0, 1.0, 2.0)))
  }

  test("NULL group keys are a real group (union+groupBy, never a join)") {
    val src = Seq((10L, Option("a"), 1.0), (20L, Option.empty[String], 2.0),
      (30L, Option.empty[String], 3.0)).toDF("us", "grp", "v")
    val dir = tmpDir("agg-ivm")
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 25L)
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 25L, 50L)
    assert(snapshot(dir)("<null>") == ((2L, 5.0, 2.0, 3.0)))
  }

  test("stale staging debris from a crashed apply is cleared, not merged") {
    val src = rows((10L, "a", 1.0), (30L, "a", 2.0))
    val dir = tmpDir("agg-ivm")
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 20L)
    // simulate a crash that left a staging dir behind
    val tmp = new java.io.File(dir + ".__agg_tmp")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(tmp.toPath.resolve("junk"), "debris")
    val r = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 20L, 40L)
    assert(r.applied && snapshot(dir)("a") == ((2L, 3.0, 1.0, 2.0)))
  }

  test("cold start on an empty opening slice creates an empty rollup") {
    val src = rows((100L, "a", 1.0))
    val dir = tmpDir("agg-ivm")
    val r = AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 50L)
    assert(r.applied && r.sliceRows == 0)
    assert(AggMaintenance.watermark(spark, dir).contains(50L))
    assert(AggMaintenance.read(spark, dir).count() == 0)
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 50L, 200L)
    assert(snapshot(dir)("a") == ((1L, 1.0, 1.0, 1.0)))
  }

  // pmod(hash(grp), 8) as the ENGINE computes it — the tests that reason
  // about which bucket moved pick collision-free group names with it
  private def bucketOf(g: String): Int =
    spark.range(1).select(
      pmod(hash(lit(g)), lit(8))).first().getInt(0)

  test("partitioned: slices fold to the full groupBy; untouched buckets keep their files") {
    // three groups in three DISTINCT buckets (names chosen at runtime so a
    // murmur3 collision can't silently weaken the untouched-bucket claim)
    val gA = "a"
    val gB = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA)).get
    val gC = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA) && bucketOf(g) != bucketOf(gB)).get
    val src = rows(
      (10L, gA, 1.5), (20L, gB, 2.0), (30L, gA, -1.0),
      (40L, gB, 4.25), (50L, gA, 0.25), (60L, gC, 9.0))
    val dir = tmpDir("agg-part")
    def apply(l: Long, h: Long) = AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", l, h, nBuckets = 8)
    apply(0L, 25L); apply(25L, 45L); apply(45L, 100L)
    assert(AggMaintenance.watermark(spark, dir).contains(100L))
    assert(snapshot(dir) == Map(
      gA -> ((3L, 0.75, -1.0, 1.5)),
      gB -> ((2L, 6.25, 2.0, 4.25)),
      gC -> ((1L, 9.0, 9.0, 9.0))))
    // a delta touching ONLY gC must leave gA/gB's bucket files alone
    val before = bucketFiles(dir)
    val cOnly = rows((110L, gC, 1.0))
    AggMaintenance.applySlicePartitioned(
      spark, dir, cOnly, "us", Seq("grp"), "v", 100L, 120L, nBuckets = 8)
    val after = bucketFiles(dir)
    assert(after(s"__bucket=${bucketOf(gC)}") != before(s"__bucket=${bucketOf(gC)}"))
    Seq(gA, gB).foreach { g =>
      assert(after(s"__bucket=${bucketOf(g)}") == before(s"__bucket=${bucketOf(g)}"),
        s"bucket of $g was rewritten by a slice that never touched it")
    }
    assert(snapshot(dir)(gC) == ((2L, 10.0, 1.0, 9.0)))
    assert(snapshot(dir)(gA) == ((3L, 0.75, -1.0, 1.5)))
  }

  test("partitioned: replay no-ops, params mismatch and layout mixing refuse") {
    val src = rows((10L, "a", 1.0), (90L, "b", 2.0))
    val dir = tmpDir("agg-part")
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 50L, nBuckets = 8)
    val rp = AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 50L, nBuckets = 8)
    assert(!rp.applied && rp.watermarkUs == 50L)
    // a different bucket count is a different hash space — refuse
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, dir, src, "us", Seq("grp"), "v", 50L, 95L, nBuckets = 16))
    // the whole-dir API must not merge into a partitioned layout
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 50L, 95L))
    // and the partitioned API must not merge into a whole-dir rollup
    val flat = tmpDir("agg-flat")
    AggMaintenance.applySlice(spark, flat, src, "us", Seq("grp"), "v", 0L, 50L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, flat, src, "us", Seq("grp"), "v", 50L, 95L, nBuckets = 8))
  }

  test("stamped lanes refuse column names carrying stamp delimiters") {
    // Seq("a","b+c") and Seq("a+b","c") would stamp identically
    // (group=a+b+c) — the cross-parameterization guard would then accept
    // a foreign layout, so delimiter-carrying names refuse at the front
    val src = rows((10L, "a", 1.0)).withColumnRenamed("grp", "g+h")
    val dir = tmpDir("agg-stampsafe")
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, dir, src, "us", Seq("g+h"), "v", 0L, 50L, nBuckets = 8))
    val src2 = rows((10L, "a", 1.0)).withColumnRenamed("v", "v w")
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceV2(
        spark, dir, src2, "us", Seq("grp"), Seq("v w"), 0L, 50L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceDistinct(
        spark, dir, rows((10L, "a", 1.0)).withColumnRenamed("v", "v=x"),
        "us", Seq("grp"), Seq("v=x"), 0L, 50L))
  }

  test("partitioned: a bucket already committed by a crashed attempt is not re-merged") {
    // distinct-bucket group names, computed like the engine computes them
    val gA = "a"
    val gB = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA)).get
    val src = rows((10L, gA, 1.0), (20L, gB, 2.0), (60L, gA, 3.0), (70L, gB, 4.0))
    val dir = tmpDir("agg-part")
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 50L, nBuckets = 8)
    // simulate the crash window of slice [50,100): gA's bucket committed
    // (data + bucket watermark) but the process died before the ROOT
    // watermark moved. Build that state through the real API — fold gA's
    // rows of the slice — then rewind only the root watermark.
    AggMaintenance.applySlicePartitioned(
      spark, dir, src.filter(col("grp") === gA),
      "us", Seq("grp"), "v", 50L, 100L, nBuckets = 8)
    // rewind outside the Hadoop fs → drop its checksum sidecar too
    java.nio.file.Files.deleteIfExists(
      new java.io.File(dir, "._GRAFT_AGG_WM.crc").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_AGG_WM").toPath, "50")
    // the re-run of the FULL slice must skip gA's bucket (its watermark
    // already reads 100 — re-merging would double-count) and fold only gB
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 50L, 100L, nBuckets = 8)
    assert(snapshot(dir) == Map(
      gA -> ((2L, 4.0, 1.0, 3.0)),
      gB -> ((2L, 6.0, 2.0, 4.0))))
    assert(AggMaintenance.watermark(spark, dir).contains(100L))
  }

  test("partitioned: a crashed attempt is finished first when the re-run cut MOVED") {
    // the round-11 self-review finding: a bucket committed at hi'=100 by a
    // crashed attempt, then the next cron run computes hi=150 from a grown
    // source. The naive skip test (bucket wm >= hi) would re-merge that
    // bucket's [50,100) rows — the apply must instead split at the
    // interior watermark and finish the crashed cut first.
    val gA = "a"
    val gB = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA)).get
    val base = rows((10L, gA, 1.0), (20L, gB, 2.0), (60L, gA, 3.0), (70L, gB, 4.0))
    val dir = tmpDir("agg-part")
    AggMaintenance.applySlicePartitioned(
      spark, dir, base, "us", Seq("grp"), "v", 0L, 50L, nBuckets = 8)
    // crash window of slice [50,100): gA's bucket committed, root did not
    AggMaintenance.applySlicePartitioned(
      spark, dir, base.filter(col("grp") === gA),
      "us", Seq("grp"), "v", 50L, 100L, nBuckets = 8)
    java.nio.file.Files.deleteIfExists(
      new java.io.File(dir, "._GRAFT_AGG_WM.crc").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_AGG_WM").toPath, "50")
    // the source grew; the re-run folds [50, 150) in one call
    val grown = base.unionByName(rows((110L, gA, 10.0), (120L, gB, 20.0)))
    val r = AggMaintenance.applySlicePartitioned(
      spark, dir, grown, "us", Seq("grp"), "v", 50L, 150L, nBuckets = 8)
    assert(r.applied && r.watermarkUs == 150L)
    assert(snapshot(dir) == Map(
      gA -> ((3L, 14.0, 1.0, 10.0)),   // 1.0 + 3.0 + 10.0 — no double count
      gB -> ((3L, 26.0, 2.0, 20.0))))  // 2.0 + 4.0 + 20.0
    assert(AggMaintenance.watermark(spark, dir).contains(150L))
  }

  test("readers serve the committed state through a crash window WITHOUT healing") {
    val src = rows((10L, "a", 1.0), (20L, "b", 2.0))
    val dir = tmpDir("agg-crashread")
    AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "v", 0L, 50L)
    val committed = snapshot(dir)
    // simulate the swapWholeDir crash window: destination renamed to the
    // backup, staged dir never moved in
    val bak = new java.io.File(dir + ".__agg_bak_dir")
    assert(new java.io.File(dir).renameTo(bak))
    // a reader mid-window sees the committed watermark and rows, and
    // must NOT mutate the filesystem (a concurrent apply may own it)
    assert(AggMaintenance.watermark(spark, dir).contains(50L))
    assert(AggMaintenance.read(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      committed.map { case (k, v) => k -> v._1 })
    assert(bak.exists(), "reader healed (renamed) — reads must be read-only")
    // the next APPLY heals and continues the chain
    val r = AggMaintenance.applySlice(
      spark, dir, rows((60L, "a", 3.0)), "us", Seq("grp"), "v", 50L, 80L)
    assert(r.applied && snapshot(dir)("a") == ((2L, 4.0, 1.0, 3.0)))
    assert(!bak.exists())
  }

  test("partitioned reader unions a backed-up bucket missing from the root") {
    val gA = "a"
    val gB = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA)).get
    val src = rows((10L, gA, 1.0), (20L, gB, 2.0))
    val dir = tmpDir("agg-crashread-part")
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 50L, nBuckets = 8)
    val committed = snapshot(dir)
    // simulate swapBucket's crash window for gA's bucket: renamed to the
    // backup root, staged never moved in
    val name = s"__bucket=${bucketOf(gA)}"
    val bakKid = new java.io.File(dir + ".__agg_bak", name)
    assert(bakKid.getParentFile.mkdirs() || bakKid.getParentFile.isDirectory)
    assert(new java.io.File(dir, name).renameTo(bakKid))
    assert(snapshot(dir) == committed) // read-around, nothing lost
    assert(bakKid.exists(), "partitioned reader must not heal")
  }

  private def bucketFiles(dir: String): Map[String, Set[String]] =
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap

  // ——— v2 multi-value rollups (maintained moments) ———

  private def rows2(r: (Long, String, Double, Double)*) =
    r.toSeq.toDF("us", "grp", "x", "y")

  test("v2: slices fold to the one-shot; derived avg/var match var_samp") {
    val src = rows2(
      (10L, "a", 1.5, 10.0), (20L, "b", 2.0, -3.0), (30L, "a", -1.0, 4.5),
      (40L, "b", 4.25, 0.5), (50L, "a", 0.25, 2.0), (60L, "c", 9.0, 7.0))
    val dir = tmpDir("agg-v2")
    def apply(l: Long, h: Long) = AggMaintenance.applySliceV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), l, h)
    apply(0L, 25L); apply(25L, 45L); apply(45L, 100L)
    assert(AggMaintenance.watermark(spark, dir).contains(100L))
    // replay no-op
    val rp = apply(0L, 100L)
    assert(!rp.applied && rp.watermarkUs == 100L)
    // stored moments equal the one-shot exact aggregation
    val got = AggMaintenance.read(spark, dir).collect().map(r =>
      r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getDecimal(3).doubleValue, r.getDecimal(4).doubleValue,
        r.getLong(7), r.getDecimal(8).doubleValue))).toMap
    assert(got("a") == ((3L, 3L, 0.75, 1.5 * 1.5 + 1.0 + 0.25 * 0.25, 3L, 16.5)))
    assert(got("c") == ((1L, 1L, 9.0, 81.0, 1L, 7.0)))
    // derived avg/var agree with Spark's own avg/var_samp to 1e-9 —
    // var_samp's streaming double fold is merge-order-dependent, so this
    // is a tolerance check, never hash equality (readDerived's scaladoc)
    val derived = AggMaintenance.readDerived(spark, dir)
      .select("grp", "avg_x", "var_x", "avg_y", "var_y")
      .filter(col("grp") =!= "c") // single-row group: var is NULL, below
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val want = src.filter(col("grp") =!= "c").groupBy("grp")
      .agg(avg("x").as("ax"), var_samp("x").as("vx"),
        avg("y").as("ay"), var_samp("y").as("vy"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for (g <- Seq("a", "b")) {
      val (ax, vx, ay, vy) = derived(g); val (wax, wvx, way, wvy) = want(g)
      assert(math.abs(ax - wax) < 1e-9 && math.abs(vx - wvx) < 1e-9 &&
        math.abs(ay - way) < 1e-9 && math.abs(vy - wvy) < 1e-9,
        s"derived moments for $g: ($ax,$vx,$ay,$vy) vs ($wax,$wvx,$way,$wvy)")
    }
    // single-row group: variance is NULL (n ≤ 1), avg is the value
    val c = AggMaintenance.readDerived(spark, dir)
      .filter(col("grp") === "c").select("avg_x", "var_x").collect().head
    assert(c.getDouble(0) == 9.0 && c.isNullAt(1))
  }

  test("v2: NULL values feed cntv, not cnt — avg/var stay undiluted") {
    val src = Seq(
      (10L, "a", Option(2.0), Option(1.0)),
      (20L, "a", Option.empty[Double], Option(3.0)),
      (30L, "a", Option(4.0), Option.empty[Double]))
      .toDF("us", "grp", "x", "y")
    val dir = tmpDir("agg-v2-null")
    AggMaintenance.applySliceV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), 0L, 25L)
    AggMaintenance.applySliceV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), 25L, 50L)
    val r = AggMaintenance.readDerived(spark, dir)
      .select("cnt", "cntv_x", "avg_x", "var_x", "cntv_y", "avg_y")
      .collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2 && r.getLong(4) == 2)
    assert(r.getDouble(2) == 3.0, "avg over the NON-NULL count")
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-12) // var_samp of {2,4}
    assert(r.getDouble(5) == 2.0)
  }

  test("v2: empty slice advances; empty cold start is readable and stamped") {
    val src = rows2((100L, "a", 1.0, 2.0))
    val dir = tmpDir("agg-v2-cold")
    val r = AggMaintenance.applySliceV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), 0L, 50L)
    assert(r.applied && r.sliceRows == 0)
    assert(AggMaintenance.watermark(spark, dir).contains(50L))
    assert(AggMaintenance.readDerived(spark, dir).count() == 0)
    // the stamp was written with the cold start: a v1 apply refuses NOW,
    // not only after the first data-bearing slice
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "x", 50L, 200L))
    AggMaintenance.applySliceV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), 50L, 200L)
    val m = AggMaintenance.readDerived(spark, dir).collect().head
    assert(m.getLong(1) == 1 && m.getAs[java.math.BigDecimal]("sum_x")
      .doubleValue == 1.0)
  }

  test("v2/v1 cross-parameterizations refuse typed in every direction") {
    val src = rows2((10L, "a", 1.0, 2.0), (90L, "b", 3.0, 4.0))
    // v2 table: v1 apply refuses, foreign v2 column sets refuse
    val v2dir = tmpDir("agg-v2-x")
    AggMaintenance.applySliceV2(
      spark, v2dir, src, "us", Seq("grp"), Seq("x", "y"), 0L, 50L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(spark, v2dir, src, "us", Seq("grp"), "x", 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig]( // different values
      AggMaintenance.applySliceV2(
        spark, v2dir, src, "us", Seq("grp"), Seq("x"), 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig]( // different order col
      AggMaintenance.applySliceV2(
        spark, v2dir, src.withColumn("us2", col("us")), "us2",
        Seq("grp"), Seq("x", "y"), 50L, 95L))
    // v1 whole-dir table: v2 apply and readDerived refuse
    val v1dir = tmpDir("agg-v1-x")
    AggMaintenance.applySlice(spark, v1dir, src, "us", Seq("grp"), "x", 0L, 50L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceV2(
        spark, v1dir, src, "us", Seq("grp"), Seq("x", "y"), 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readDerived(spark, v1dir))
    // v1 partitioned table: v2 apply refuses on the v1 stamp
    val pdir = tmpDir("agg-p-x")
    AggMaintenance.applySlicePartitioned(
      spark, pdir, src, "us", Seq("grp"), "x", 0L, 50L, nBuckets = 8)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceV2(
        spark, pdir, src, "us", Seq("grp"), Seq("x", "y"), 50L, 95L))
    // and readDerived refuses the partitioned (v1) stamp too
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readDerived(spark, pdir))
  }

  test("v2 partitioned: slices fold to the one-shot; only touched buckets rewrite") {
    val gA = "a"
    val gB = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA)).get
    val src = rows2(
      (10L, gA, 1.0, 4.0), (20L, gB, 2.0, -1.0),
      (60L, gA, 3.0, 8.0), (70L, gB, 4.0, 0.5))
    val dir = tmpDir("agg-v2-part")
    def apply(d: org.apache.spark.sql.DataFrame, l: Long, h: Long) =
      AggMaintenance.applySlicePartitionedV2(
        spark, dir, d, "us", Seq("grp"), Seq("x", "y"), l, h, nBuckets = 8)
    apply(src, 0L, 50L); apply(src, 50L, 100L)
    assert(AggMaintenance.watermark(spark, dir).contains(100L))
    // derived stats equal Spark's own avg/var_samp (tolerance — see v2 flat)
    val d = AggMaintenance.readDerived(spark, dir)
      .select("grp", "cnt", "avg_x", "var_x", "avg_y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(d(gA)._1 == 2 && d(gA)._2 == 2.0 &&
      math.abs(d(gA)._3 - 2.0) < 1e-9 && d(gA)._4 == 6.0)
    assert(d(gB)._1 == 2 && d(gB)._2 == 3.0 &&
      math.abs(d(gB)._3 - 2.0) < 1e-9 && d(gB)._4 == -0.25)
    // replay no-op
    val rp = apply(src, 0L, 100L)
    assert(!rp.applied && rp.watermarkUs == 100L)
    // a delta touching ONLY gB leaves gA's bucket files untouched
    val before = bucketFiles(dir)
    apply(rows2((110L, gB, 6.0, 1.0)), 100L, 120L)
    val after = bucketFiles(dir)
    assert(after(s"__bucket=${bucketOf(gB)}") != before(s"__bucket=${bucketOf(gB)}"))
    assert(after(s"__bucket=${bucketOf(gA)}") == before(s"__bucket=${bucketOf(gA)}"),
      "untouched bucket rewritten by a v2 partitioned delta")
    val b2 = AggMaintenance.readDerived(spark, dir)
      .filter(col("grp") === gB).select("cnt", "avg_x", "var_x")
      .collect().head
    assert(b2.getLong(0) == 3 && b2.getDouble(1) == 4.0 &&
      math.abs(b2.getDouble(2) - 4.0) < 1e-9) // var_samp{2,4,6} = 4
  }

  test("v2 partitioned: every cross-parameterization refuses typed") {
    val src = rows2((10L, "a", 1.0, 2.0), (90L, "b", 3.0, 4.0))
    val v2p = tmpDir("agg-v2p-x")
    AggMaintenance.applySlicePartitionedV2(
      spark, v2p, src, "us", Seq("grp"), Seq("x", "y"), 0L, 50L, nBuckets = 8)
    // v1 partitioned, v1 flat, and v2 flat all refuse on the v2-part stamp
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, v2p, src, "us", Seq("grp"), "x", 50L, 95L, nBuckets = 8))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(spark, v2p, src, "us", Seq("grp"), "x", 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceV2(
        spark, v2p, src, "us", Seq("grp"), Seq("x", "y"), 50L, 95L))
    // foreign bucket count and foreign value set refuse
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitionedV2(
        spark, v2p, src, "us", Seq("grp"), Seq("x", "y"), 50L, 95L,
        nBuckets = 16))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitionedV2(
        spark, v2p, src, "us", Seq("grp"), Seq("x"), 50L, 95L, nBuckets = 8))
    // and the v2 partitioned apply refuses v1 layouts in both directions
    val v1p = tmpDir("agg-v1p-x")
    AggMaintenance.applySlicePartitioned(
      spark, v1p, src, "us", Seq("grp"), "x", 0L, 50L, nBuckets = 8)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitionedV2(
        spark, v1p, src, "us", Seq("grp"), Seq("x", "y"), 50L, 95L,
        nBuckets = 8))
    val v1flat = tmpDir("agg-v1f-x")
    AggMaintenance.applySlice(spark, v1flat, src, "us", Seq("grp"), "x", 0L, 50L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitionedV2(
        spark, v1flat, src, "us", Seq("grp"), Seq("x", "y"), 50L, 95L,
        nBuckets = 8))
  }

  // ——— v3 distinct-count rollups (maintained HLL sketches) ———

  test("v3: maintained sketch estimates match exact distinct counts; replay no-ops") {
    import spark.implicits._
    // 3 groups × known distinct cardinalities, fed across two slices with
    // heavy cross-slice overlap (the case exact per-slice counting gets
    // WRONG and mergeable sketches get right)
    val src = (1 to 600).map { i =>
      val grp = s"g${i % 3}"
      val user = (i % 50).toLong // 50 distinct users per group, repeated
      (i.toLong, grp, user)
    }.toDF("us", "grp", "user")
    val dir = tmpDir("agg-v3")
    def apply(l: Long, h: Long) = AggMaintenance.applySliceDistinct(
      spark, dir, src, "us", Seq("grp"), Seq("user"), l, h)
    apply(0L, 300L); apply(300L, 700L)
    assert(AggMaintenance.watermark(spark, dir).contains(700L))
    val rp = apply(0L, 700L)
    assert(!rp.applied && rp.watermarkUs == 700L)
    val got = AggMaintenance.readDistinct(spark, dir)
      .select("grp", "cnt", "approx_distinct_user")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = src.groupBy("grp")
      .agg(count(lit(1)).as("c"), countDistinct("user").as("d"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for ((g, (c, d)) <- exact) {
      assert(got(g)._1 == c, s"row count for $g")
      val est = got(g)._2
      assert(math.abs(est - d) <= math.max(0.05 * d, 2.0),
        s"estimate $est too far from exact $d for $g")
    }
  }

  test("v3: all-NULL distinct column reads 0 (SQL COUNT DISTINCT); cross-refusals") {
    val src = Seq((10L, "a", Option(1L)), (20L, "a", Option.empty[Long]),
      (30L, "b", Option.empty[Long]))
      .toDF("us", "grp", "user")
    val dir = tmpDir("agg-v3-null")
    AggMaintenance.applySliceDistinct(
      spark, dir, src, "us", Seq("grp"), Seq("user"), 0L, 50L)
    val rows = AggMaintenance.readDistinct(spark, dir)
      .select("grp", "cnt", "approx_distinct_user")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("a") == ((2L, 1L)))
    // hll_sketch_agg emits an EMPTY sketch for zero non-null inputs —
    // the estimate reads 0, which IS SQL's count(distinct) here
    assert(rows("b") == ((1L, 0L)))
    // every other lane refuses the v3 stamp, and v3 refuses theirs
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(spark, dir, src, "us", Seq("grp"), "us", 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceV2(
        spark, dir, src, "us", Seq("grp"), Seq("us"), 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readDerived(spark, dir))
    assertThrows[graft.core.GraftError.InvalidConfig]( // foreign columns
      AggMaintenance.applySliceDistinct(
        spark, dir, src, "us", Seq("grp"), Seq("us"), 50L, 95L))
    val v1dir = tmpDir("agg-v3-on-v1")
    AggMaintenance.applySlice(
      spark, v1dir, rows2((10L, "a", 1.0, 2.0)), "us", Seq("grp"), "x", 0L, 50L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceDistinct(
        spark, v1dir, src, "us", Seq("grp"), Seq("user"), 50L, 95L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readDistinct(spark, v1dir))
  }

  test("v3 partitioned: sketches fold per bucket; untouched buckets keep files; refusals") {
    import spark.implicits._
    val gA = "a"
    val gB = ('b' to 'z').map(_.toString)
      .find(g => bucketOf(g) != bucketOf(gA)).get
    val src = Seq(
      (10L, gA, 1L), (20L, gB, 2L), (60L, gA, 2L), (70L, gB, 2L),
      (80L, gA, 1L)) // gA: users {1,2}; gB: {2}
      .toDF("us", "grp", "user")
    val dir = tmpDir("agg-v3-part")
    def apply(d: org.apache.spark.sql.DataFrame, l: Long, h: Long) =
      AggMaintenance.applySlicePartitionedDistinct(
        spark, dir, d, "us", Seq("grp"), Seq("user"), l, h, nBuckets = 8)
    apply(src, 0L, 50L); apply(src, 50L, 100L)
    val got = AggMaintenance.readDistinct(spark, dir)
      .select("grp", "cnt", "approx_distinct_user")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(gA) == ((3L, 2L)) && got(gB) == ((2L, 1L)),
      s"tiny cardinalities are HLL-exact; got $got")
    // a delta touching ONLY gB leaves gA's bucket files untouched
    val before = bucketFiles(dir)
    apply(Seq((110L, gB, 9L)).toDF("us", "grp", "user"), 100L, 120L)
    val after = bucketFiles(dir)
    assert(after(s"__bucket=${bucketOf(gA)}") == before(s"__bucket=${bucketOf(gA)}"))
    assert(AggMaintenance.readDistinct(spark, dir)
      .filter(col("grp") === gB).select("approx_distinct_user")
      .first().getLong(0) == 2L)
    // the refusal matrix names the matching lane
    val e = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, dir, rows((130L, gA, 1.0)), "us", Seq("grp"), "v", 120L, 140L,
        nBuckets = 8))
    assert(e.getMessage.contains("applySlicePartitionedDistinct"))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceDistinct( // flat lane on a partitioned table
        spark, dir, src, "us", Seq("grp"), Seq("user"), 120L, 140L))
  }

  // ---- rebucket (bucket-count growth path) ----

  test("rebucket: relabeled rollup reads identically; old stamp refuses; chain continues") {
    val src = rows(
      (10L, "a", 1.5), (20L, "b", 2.0), (30L, "c", -1.0),
      (40L, "d", 4.25), (110L, "a", 0.25), (120L, "e", 9.0))
    val dir = tmpDir("agg-rebkt")
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 100L, nBuckets = 4)
    val before = AggMaintenance.read(spark, dir).collect().map(_.toString).toSet
    AggMaintenance.rebucket(spark, dir, 16)
    // pure relabeling: same rows, same watermark
    assert(AggMaintenance.read(spark, dir)
      .collect().map(_.toString).toSet == before)
    assert(AggMaintenance.watermark(spark, dir).contains(100L))
    // an apply carrying the OLD bucket count refuses on the stamp
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, dir, src, "us", Seq("grp"), "v", 100L, 200L, nBuckets = 4))
    // the chain continues under the NEW count and folds to the full groupBy
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 100L, 200L, nBuckets = 16)
    val got = AggMaintenance.read(spark, dir)
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val want = src.groupBy("grp")
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == want)
    // rebucket to the current count is a no-op, and a flat rollup refuses
    AggMaintenance.rebucket(spark, dir, 16)
    val flat = tmpDir("agg-ivm")
    AggMaintenance.applySlice(
      spark, flat, src, "us", Seq("grp"), "v", 0L, 100L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.rebucket(spark, flat, 8))
  }

  test("rebucket: refuses while a crashed apply is mid-slice (bucket wm past root)") {
    val src = rows((10L, "a", 1.0), (20L, "b", 2.0))
    val dir = tmpDir("agg-rebkt")
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 100L, nBuckets = 4)
    // simulate the crash: one bucket committed through a LATER slice
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucket = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(_.getPath.getName.startsWith("__bucket=")).head.getPath
    graft.core.SidecarIO.write(fs,
      new org.apache.hadoop.fs.Path(bucket, "_GRAFT_AGG_WM"), "150")
    val e = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.rebucket(spark, dir, 16))
    assert(e.getMessage.contains("mid-slice"))
    // finishing the slice (the interior-split recovery) unblocks it
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 100L, 150L, nBuckets = 4)
    AggMaintenance.rebucket(spark, dir, 16)
    assert(AggMaintenance.watermark(spark, dir).contains(150L))
  }

  test("rebucket: v2 moments layout relabels and keeps derived reads working") {
    val src = rows2((10L, "a", 1.0, 2.0), (20L, "b", 3.0, 4.0),
      (110L, "a", 5.0, 6.0))
    val dir = tmpDir("agg-rebkt-v2")
    AggMaintenance.applySlicePartitionedV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), 0L, 100L,
      nBuckets = 2)
    val before = AggMaintenance.readDerived(spark, dir)
      .collect().map(_.toString).toSet
    AggMaintenance.rebucket(spark, dir, 8)
    assert(AggMaintenance.readDerived(spark, dir)
      .collect().map(_.toString).toSet == before)
    AggMaintenance.applySlicePartitionedV2(
      spark, dir, src, "us", Seq("grp"), Seq("x", "y"), 100L, 200L,
      nBuckets = 8)
    assert(AggMaintenance.read(spark, dir)
      .filter(col("grp") === "a").select(col("cnt"))
      .first().getLong(0) == 2L)
  }

  test("rebucket: a swap crash window rolls back to the OLD layout on next touch") {
    val src = rows((10L, "a", 1.0), (20L, "b", 2.0), (110L, "c", 3.0))
    val dir = tmpDir("agg-rebkt")
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 0L, 100L, nBuckets = 4)
    val before = AggMaintenance.read(spark, dir).collect().map(_.toString).toSet
    // simulate a crash BETWEEN the two swap renames: root moved to the
    // whole-dir backup, staged dir never moved in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".__agg_bak_dir")))
    // a reader inside the window serves the committed (old) state
    assert(AggMaintenance.read(spark, dir)
      .collect().map(_.toString).toSet == before)
    // the next apply heals (restores the OLD 4-bucket layout) and folds
    AggMaintenance.applySlicePartitioned(
      spark, dir, src, "us", Seq("grp"), "v", 100L, 200L, nBuckets = 4)
    assert(AggMaintenance.read(spark, dir).count() == 3)
  }

  // ---- keyed (last-writer-wins) lane ----

  private def rowsK(r: (Long, Long, String, java.lang.Double)*) =
    r.toSeq.toDF("us", "k", "grp", "v")

  private def snapshotK(dir: String): Map[String, (Long, Option[Double])] =
    AggMaintenance.read(spark, dir)
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>") ->
        ((r.getLong(1),
          Option(r.getDecimal(2)).map(_.doubleValue)))).toMap

  private def applyK(dir: String, src: org.apache.spark.sql.DataFrame,
                     lo: Long, hi: Long) =
    AggMaintenance.applySliceKeyed(
      spark, dir, src, "us", Seq("k"), Seq("grp"), "v", lo, hi)

  test("keyed: re-arrivals replace — value update, group move, within-slice dup") {
    val src = rowsK(
      (10L, 1L, "a", 1.0), (20L, 2L, "a", 2.0), (30L, 3L, "b", 4.0),
      // slice 2: key 1 re-arrives with a new value (same group); key 3
      // MOVES group b→c; key 4 arrives twice WITHIN the slice (latest wins)
      (110L, 1L, "a", 10.0), (120L, 3L, "c", 5.0),
      (130L, 4L, "b", 7.0), (140L, 4L, "b", 8.5))
    val dir = tmpDir("agg-keyed")
    val r1 = applyK(dir, src, 0L, 100L)
    assert(r1.applied && r1.sliceRows == 3 && r1.watermarkUs == 100L)
    assert(snapshotK(dir) == Map(
      "a" -> ((2L, Some(3.0))), "b" -> ((1L, Some(4.0)))))
    val r2 = applyK(dir, src, 100L, 200L)
    assert(r2.sliceRows == 4)
    // mirror is now: 1→(a,10), 2→(a,2), 3→(c,5), 4→(b,8.5)
    assert(snapshotK(dir) == Map(
      "a" -> ((2L, Some(12.0))),   // key 1 replaced 1.0 → 10.0, NOT added
      "b" -> ((1L, Some(8.5))),    // key 3 left; key 4 deduped to 8.5
      "c" -> ((1L, Some(5.0)))))   // key 3 arrived with its old mass gone
    assert(AggMaintenance.watermark(spark, dir).contains(200L))
  }

  test("keyed: a group whose last key departs is REMOVED, not left at 0") {
    val src = rowsK((10L, 1L, "solo", 3.0), (110L, 1L, "other", 3.0))
    val dir = tmpDir("agg-keyed")
    applyK(dir, src, 0L, 100L)
    assert(snapshotK(dir).keySet == Set("solo"))
    applyK(dir, src, 100L, 200L)
    assert(snapshotK(dir) == Map("other" -> ((1L, Some(3.0)))))
  }

  test("keyed: NULL values count the key but not the sum, both directions") {
    val src = rowsK(
      (10L, 1L, "a", 5.0), (20L, 2L, "a", null),
      // key 1: value → NULL (sum loses 5, cnt keeps the key);
      // key 2: NULL → 6 (sum gains 6)
      (110L, 1L, "a", null), (120L, 2L, "a", 6.0))
    val dir = tmpDir("agg-keyed")
    applyK(dir, src, 0L, 100L)
    assert(snapshotK(dir) == Map("a" -> ((2L, Some(5.0)))))
    applyK(dir, src, 100L, 200L)
    assert(snapshotK(dir) == Map("a" -> ((2L, Some(6.0)))))
  }

  test("keyed: NULL group is a real group; NULL key refuses typed") {
    val src = rowsK((10L, 1L, null, 2.0), (20L, 2L, "a", 1.0))
    val dir = tmpDir("agg-keyed")
    applyK(dir, src, 0L, 100L)
    assert(snapshotK(dir) ==
      Map("<null>" -> ((1L, Some(2.0))), "a" -> ((1L, Some(1.0)))))
    // and a key moving OUT of the NULL group retracts from it
    applyK(dir, rowsK((110L, 1L, "a", 2.0)), 100L, 200L)
    assert(snapshotK(dir) == Map("a" -> ((2L, Some(3.0)))))
    val nullKey = Seq((210L, null.asInstanceOf[java.lang.Long], "a",
      java.lang.Double.valueOf(1.0))).toDF("us", "k", "grp", "v")
    val e = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyed(
        spark, dir, nullKey, "us", Seq("k"), Seq("grp"), "v", 200L, 300L))
    assert(e.getMessage.contains("NULL key"))
  }

  test("keyed: replay no-ops, gap refuses, empty slice advances, cold empty readable") {
    val src = rowsK((10L, 1L, "a", 1.0))
    val dir = tmpDir("agg-keyed")
    // empty-slice COLD start: readable empty rollup, stamped
    val em = applyK(dir, src, 100L, 200L)
    assert(em.applied && em.sliceRows == 0)
    assert(AggMaintenance.read(spark, dir).count() == 0)
    assert(AggMaintenance.watermark(spark, dir).contains(200L))
    // gap refuses
    assertThrows[graft.core.GraftError.InvalidConfig](
      applyK(dir, src, 300L, 400L))
    // contiguous data-bearing slice over a key that predates the cut: the
    // source row at us=10 is OUTSIDE [200,400) — not folded
    val more = rowsK((10L, 1L, "a", 1.0), (250L, 2L, "b", 2.0))
    applyK(dir, more, 200L, 400L)
    assert(snapshotK(dir) == Map("b" -> ((1L, Some(2.0)))))
    // replay no-op
    val before = snapshotK(dir)
    val rp = applyK(dir, more, 200L, 400L)
    assert(!rp.applied && snapshotK(dir) == before)
  }

  test("keyed: cross-lane and cross-parameterization refusals, both directions") {
    val src = rowsK((10L, 1L, "a", 1.0))
    val dir = tmpDir("agg-keyed")
    applyK(dir, src, 0L, 100L)
    // v1 apply on a keyed table names the owning lane
    val e1 = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlice(
        spark, dir, rows((110L, "a", 1.0)), "us", Seq("grp"), "v", 100L, 200L))
    assert(e1.getMessage.contains("applySliceKeyed"))
    // v2 apply on a keyed table refuses too
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceV2(
        spark, dir, src, "us", Seq("grp"), Seq("v"), 100L, 200L))
    // keyed apply with different parameters refuses
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyed(
        spark, dir, src.withColumn("v2", col("v")), "us",
        Seq("k"), Seq("grp"), "v2", 100L, 200L))
    // keyed apply on a v1 table refuses
    val v1dir = tmpDir("agg-ivm")
    AggMaintenance.applySlice(
      spark, v1dir, rows((10L, "a", 1.0)), "us", Seq("grp"), "v", 0L, 100L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      applyK(v1dir, src, 100L, 200L))
    // a keyed table missing its state store refuses rather than treating
    // every arrival as new mass (state and rollup commit together — a
    // missing store is foreign surgery, not a crash window)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_GRAFT_AGG_STATE"), true)
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      applyK(dir, rowsK((110L, 1L, "a", 2.0)), 100L, 200L))
    assert(e2.getMessage.contains("_GRAFT_AGG_STATE"))
  }

  test("keyed: slices fold to the latest-per-key groupBy on real data") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val us = graft.core.Tables.tsUs(ev)
    val src = ev.select(col("event_id").as("k"), col("event_type").as("grp"),
      col("value").as("v"), us.as("us"))
    val b = src.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .collect().head
    val lo = b.getLong(0); val hi = b.getLong(1) + 1
    val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
    val dir = tmpDir("agg-keyed-ev")
    Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
      applyK(dir, src, l, h) }
    // event_id is unique in the fixture → latest-per-key == all rows,
    // so the keyed rollup must equal the plain groupBy exactly
    val want = src.groupBy("grp")
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val got = AggMaintenance.read(spark, dir)
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == want)
  }

  // ---- keyed PARTITIONED lane (bucketed rollup + bucketed key state) ----

  private def applyKP(dir: String, src: org.apache.spark.sql.DataFrame,
                      lo: Long, hi: Long, nBuckets: Int = 8,
                      nKeyBuckets: Int = 8) =
    AggMaintenance.applySliceKeyedPartitioned(
      spark, dir, src, "us", Seq("k"), Seq("grp"), "v", lo, hi,
      nBuckets, nKeyBuckets)

  private def copyDir(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(from).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from),
      fs, new org.apache.hadoop.fs.Path(to), false, conf)
    ()
  }

  test("keyed partitioned: folds equal the flat keyed lane; untouched buckets keep files") {
    val s1 = rowsK(
      (10L, 1L, "a", 1.0), (20L, 2L, "a", 2.0), (30L, 3L, "b", 4.0),
      (40L, 4L, "c", 8.0))
    val s2 = rowsK(
      // key 1 value update, key 3 group move b→d, key 5 new, key 4
      // re-arrives twice within the slice (latest wins)
      (110L, 1L, "a", 10.0), (120L, 3L, "d", 5.0), (130L, 5L, "b", 7.0),
      (140L, 4L, "c", 1.0), (150L, 4L, "c", 2.5))
    val src = s1.unionByName(s2)
    val flat = tmpDir("agg-keyed-flat")
    val part = tmpDir("agg-keyed-part")
    Seq((0L, 100L), (100L, 200L)).foreach { case (l, h) =>
      applyK(flat, src, l, h)
      val r = applyKP(part, src, l, h)
      assert(r.applied)
    }
    assert(snapshotK(part) == snapshotK(flat))
    assert(snapshotK(part) == Map(
      "a" -> ((2L, Some(12.0))), "b" -> ((1L, Some(7.0))),
      "c" -> ((1L, Some(2.5))), "d" -> ((1L, Some(5.0)))))
    // an untouched bucket's files survive byte-identically: fold a third
    // slice touching ONLY group "a" (key 1 again) and assert every bucket
    // not holding "a"/key-1 kept its exact file set
    val before = bucketFiles(part)
    val s3 = rowsK((210L, 1L, "a", 3.0))
    applyKP(part, s3, 200L, 300L)
    val after = bucketFiles(part)
    val aBucket = "__bucket=" + bucketOf("a")
    before.keys.filterNot(_ == aBucket).foreach { b =>
      assert(after(b) == before(b), s"untouched $b was rewritten") }
    assert(after(aBucket) != before(aBucket))
    assert(snapshotK(part)("a") == ((2L, Some(5.0))))
  }

  test("keyed partitioned: replay no-ops, gap refuses, empty slice advances, cold empty readable") {
    val dir = tmpDir("agg-keyed-part")
    val em = applyKP(dir, rowsK((10L, 1L, "a", 1.0)), 100L, 200L)
    assert(em.applied && em.sliceRows == 0)
    assert(AggMaintenance.read(spark, dir).count() == 0)
    assert(AggMaintenance.watermark(spark, dir).contains(200L))
    assertThrows[graft.core.GraftError.InvalidConfig](
      applyKP(dir, rowsK((310L, 1L, "a", 1.0)), 300L, 400L))
    val more = rowsK((250L, 2L, "b", 2.0))
    applyKP(dir, more, 200L, 400L)
    assert(snapshotK(dir) == Map("b" -> ((1L, Some(2.0)))))
    val before = snapshotK(dir)
    val rp = applyKP(dir, more, 200L, 400L)
    assert(!rp.applied && snapshotK(dir) == before)
    // NULL key refuses typed (same contract as the flat lane)
    val nullKey = Seq((410L, null.asInstanceOf[java.lang.Long], "a",
      java.lang.Double.valueOf(1.0))).toDF("us", "k", "grp", "v")
    val e = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyedPartitioned(
        spark, dir, nullKey, "us", Seq("k"), Seq("grp"), "v", 400L, 500L,
        8, 8))
    assert(e.getMessage.contains("NULL key"))
    // a group vacated across buckets disappears from the read
    applyKP(dir, rowsK((450L, 2L, "c", 2.0)), 400L, 500L)
    assert(snapshotK(dir) == Map("c" -> ((1L, Some(2.0)))))
  }

  test("keyed partitioned: crash windows replay to the exact same state") {
    val s1 = rowsK(
      (10L, 1L, "a", 1.0), (20L, 2L, "b", 2.0), (30L, 3L, "c", 4.0))
    val s2 = rowsK(
      (110L, 1L, "b", 10.0), (120L, 4L, "a", 5.0), (130L, 2L, "b", 3.0))
    val src = s1.unionByName(s2)
    val conf = spark.sparkContext.hadoopConfiguration
    // the fully-applied truth
    val want = tmpDir("agg-kp-want")
    applyKP(want, src, 0L, 100L); applyKP(want, src, 100L, 200L)
    val wantSnap = snapshotK(want)

    // crash window 1: every bucket committed, root wm not yet written —
    // the re-run must no-op the merges and just advance the root wm
    val d1 = tmpDir("agg-kp-c1")
    applyKP(d1, src, 0L, 100L); applyKP(d1, src, 100L, 200L)
    val fs1 = new org.apache.hadoop.fs.Path(d1).getFileSystem(conf)
    graft.core.SidecarIO.write(fs1,
      new org.apache.hadoop.fs.Path(d1, "_GRAFT_AGG_WM"), "100")
    val r1 = applyKP(d1, src, 100L, 200L)
    assert(r1.applied && r1.watermarkUs == 200L)
    assert(snapshotK(d1) == wantSnap)

    // crash window 2: all ROLLUP buckets committed, ONE state bucket
    // still old, root wm old — the state rewrite must be idempotent and
    // the stale delta discarded wholesale
    val d2 = tmpDir("agg-kp-c2")
    applyKP(d2, src, 0L, 100L)
    val pre2 = tmpDir("agg-kp-c2-pre") + "/copy"
    copyDir(d2, pre2)
    applyKP(d2, src, 100L, 200L)
    val fs2 = new org.apache.hadoop.fs.Path(d2).getFileSystem(conf)
    // key 1's state bucket: holds key 1 BEFORE the slice and is rewritten
    // BY it (key 1 re-arrives in s2) — the rollback below must bite
    val victim = "__kbucket=" + spark.range(1).select(
      pmod(xxhash64(lit(1L)), lit(8L)).cast("int")).first().getInt(0)
    assert(new java.io.File(pre2, s"_GRAFT_AGG_STATE/$victim").isDirectory)
    val dstK = new org.apache.hadoop.fs.Path(d2, s"_GRAFT_AGG_STATE/$victim")
    fs2.delete(dstK, true)
    org.apache.hadoop.fs.FileUtil.copy(fs2,
      new org.apache.hadoop.fs.Path(pre2, s"_GRAFT_AGG_STATE/$victim"),
      fs2, dstK, false, conf)
    graft.core.SidecarIO.write(fs2,
      new org.apache.hadoop.fs.Path(d2, "_GRAFT_AGG_WM"), "100")
    val r2 = applyKP(d2, src, 100L, 200L)
    assert(r2.applied && snapshotK(d2) == wantSnap)
    // and the repaired state store retracts correctly on the NEXT slice
    applyKP(d2, rowsK((210L, 1L, "c", 1.0)), 200L, 300L)
    val want3 = tmpDir("agg-kp-want3")
    applyKP(want3, src, 0L, 100L); applyKP(want3, src, 100L, 200L)
    applyKP(want3, rowsK((210L, 1L, "c", 1.0)), 200L, 300L)
    assert(snapshotK(d2) == snapshotK(want3))

    // crash window 3: ONE rollup bucket and ALL state buckets still old
    // (crash mid-rollup-phase) — per-bucket wms skip the committed
    // buckets and the old state reproduces the identical delta
    val d3 = tmpDir("agg-kp-c3")
    applyKP(d3, src, 0L, 100L)
    val pre3 = tmpDir("agg-kp-c3-pre") + "/copy"
    copyDir(d3, pre3)
    applyKP(d3, src, 100L, 200L)
    val fs3 = new org.apache.hadoop.fs.Path(d3).getFileSystem(conf)
    // roll the whole state store AND one rollup bucket back to pre-slice
    fs3.delete(new org.apache.hadoop.fs.Path(d3, "_GRAFT_AGG_STATE"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs3,
      new org.apache.hadoop.fs.Path(pre3, "_GRAFT_AGG_STATE"), fs3,
      new org.apache.hadoop.fs.Path(d3, "_GRAFT_AGG_STATE"), false, conf)
    // group b's bucket: existed before the slice (key 2 is in b) and the
    // slice rewrites it (key 1 moves a→b, key 2's value changes) — the
    // rollback must bite
    val victimB = "__bucket=" + bucketOf("b")
    assert(new java.io.File(pre3, victimB).isDirectory)
    val dstB = new org.apache.hadoop.fs.Path(d3, victimB)
    fs3.delete(dstB, true)
    org.apache.hadoop.fs.FileUtil.copy(fs3,
      new org.apache.hadoop.fs.Path(pre3, victimB), fs3, dstB, false, conf)
    graft.core.SidecarIO.write(fs3,
      new org.apache.hadoop.fs.Path(d3, "_GRAFT_AGG_WM"), "100")
    val r3 = applyKP(d3, src, 100L, 200L)
    assert(r3.applied && snapshotK(d3) == wantSnap)
  }

  test("keyed partitioned: a deleted state store refuses; all-vacated crash replay commits empty") {
    val conf = spark.sparkContext.hadoopConfiguration
    // (1) missing-state refusal — foreign surgery, not a crash window
    val d0 = tmpDir("agg-kp-nostate")
    applyKP(d0, rowsK((10L, 1L, "a", 1.0)), 0L, 100L)
    val fs0 = new org.apache.hadoop.fs.Path(d0).getFileSystem(conf)
    fs0.delete(new org.apache.hadoop.fs.Path(d0, "_GRAFT_AGG_STATE"), true)
    val e = intercept[graft.core.GraftError.InvalidConfig](
      applyKP(d0, rowsK((110L, 1L, "b", 2.0)), 100L, 200L))
    assert(e.getMessage.contains("_GRAFT_AGG_STATE"))

    // (2) a crash replay whose ONLY pending rollup bucket ends fully
    // vacated: the staged merge is EMPTY (no partition dirs at all) and
    // the empty swap must still commit — the bucket's group is gone.
    // Groups g1/g2 chosen to hash to different buckets so the vacated
    // bucket is pending alone while the gaining bucket stays committed.
    val g1 = "a"
    val g2 = Seq("b", "c", "d", "e", "f")
      .find(g => bucketOf(g) != bucketOf(g1)).get
    val src = rowsK((10L, 1L, g1, 1.0), (110L, 1L, g2, 2.0))
    val want = tmpDir("agg-kp-vac-want")
    applyKP(want, src, 0L, 100L); applyKP(want, src, 100L, 200L)
    val d = tmpDir("agg-kp-vac")
    applyKP(d, src, 0L, 100L)
    val pre = tmpDir("agg-kp-vac-pre") + "/copy"
    copyDir(d, pre)
    applyKP(d, src, 100L, 200L)
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(conf)
    // roll back: group g1's bucket (now empty) AND the whole state store
    // to pre-slice; g2's bucket stays committed at wm=200; root wm back
    val vb = s"__bucket=${bucketOf(g1)}"
    fs.delete(new org.apache.hadoop.fs.Path(d, vb), true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(pre, vb), fs,
      new org.apache.hadoop.fs.Path(d, vb), false, conf)
    fs.delete(new org.apache.hadoop.fs.Path(d, "_GRAFT_AGG_STATE"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(pre, "_GRAFT_AGG_STATE"), fs,
      new org.apache.hadoop.fs.Path(d, "_GRAFT_AGG_STATE"), false, conf)
    graft.core.SidecarIO.write(fs,
      new org.apache.hadoop.fs.Path(d, "_GRAFT_AGG_WM"), "100")
    val r = applyKP(d, src, 100L, 200L)
    assert(r.applied && r.groupsWritten == 0L)
    assert(snapshotK(d) == snapshotK(want))
    assert(snapshotK(d) == Map(g2 -> ((1L, Some(2.0)))))
  }

  test("keyed partitioned: cross-lane / cross-parameterization refusals") {
    val src = rowsK((10L, 1L, "a", 1.0))
    val dir = tmpDir("agg-keyed-part")
    applyKP(dir, src, 0L, 100L)
    // flat keyed on a partitioned keyed table names the owning lane
    val e1 = intercept[graft.core.GraftError.InvalidConfig](
      applyK(dir, src, 100L, 200L))
    assert(e1.getMessage.contains("applySliceKeyedPartitioned"))
    // append-only partitioned lanes refuse it too
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySlicePartitioned(
        spark, dir, rows((110L, "a", 1.0)), "us", Seq("grp"), "v",
        100L, 200L, nBuckets = 8))
    // different bucket / kbucket counts are foreign parameterizations
    assertThrows[graft.core.GraftError.InvalidConfig](
      applyKP(dir, src, 100L, 200L, nBuckets = 16))
    assertThrows[graft.core.GraftError.InvalidConfig](
      applyKP(dir, src, 100L, 200L, nKeyBuckets = 16))
    // partitioned keyed on a FLAT keyed table refuses
    val flat = tmpDir("agg-keyed-flat")
    applyK(flat, src, 0L, 100L)
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      applyKP(flat, src, 100L, 200L))
    assert(e2.getMessage.contains("applySliceKeyed"))
  }

  test("keyed partitioned: rebucket carries the key-state store across the swap") {
    val s1 = rowsK(
      (10L, 1L, "a", 1.0), (20L, 2L, "b", 2.0), (30L, 3L, "c", 4.0))
    val dir = tmpDir("agg-keyed-part")
    applyKP(dir, s1, 0L, 100L, nBuckets = 4, nKeyBuckets = 4)
    val before = snapshotK(dir)
    AggMaintenance.rebucket(spark, dir, 16)
    assert(snapshotK(dir) == before, "relabeled rollup must read identically")
    assert(new java.io.File(dir, "_GRAFT_AGG_STATE").isDirectory,
      "rebucket must carry the state store across the whole-dir swap")
    // the old bucket count refuses on the stamp
    val e = intercept[graft.core.GraftError.InvalidConfig](
      applyKP(dir, rowsK((110L, 1L, "b", 9.0)), 100L, 200L,
        nBuckets = 4, nKeyBuckets = 4))
    assert(e.getMessage.contains("different parameters"))
    // and the carried state still RETRACTS: key 1 moves a→b with a new
    // value — sum must move by replacement, group a must disappear
    applyKP(dir, rowsK((110L, 1L, "b", 9.0)), 100L, 200L,
      nBuckets = 16, nKeyBuckets = 4)
    assert(snapshotK(dir) == Map(
      "b" -> ((2L, Some(11.0))), "c" -> ((1L, Some(4.0)))))
    // the state store's OWN growth path: kbuckets 4 → 16 relabels on the
    // key hash; the old kbucket count then refuses, and retraction still
    // works through the relabeled store (key 2 changes value in place)
    AggMaintenance.rebucket(spark, dir, 16, newKeyBuckets = 16)
    assertThrows[graft.core.GraftError.InvalidConfig](
      applyKP(dir, rowsK((210L, 2L, "b", 5.0)), 200L, 300L,
        nBuckets = 16, nKeyBuckets = 4))
    applyKP(dir, rowsK((210L, 2L, "b", 5.0)), 200L, 300L,
      nBuckets = 16, nKeyBuckets = 16)
    assert(snapshotK(dir) == Map(
      "b" -> ((2L, Some(14.0))), "c" -> ((1L, Some(4.0)))))
    // newKeyBuckets on a non-keyed layout refuses
    val plain = tmpDir("agg-ivm-part")
    AggMaintenance.applySlicePartitioned(spark, plain,
      rows((10L, "a", 1.0)), "us", Seq("grp"), "v", 0L, 100L, nBuckets = 4)
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.rebucket(spark, plain, 8, newKeyBuckets = 16))
    assert(e2.getMessage.contains("state store"))
  }

  // ---- keyed MOMENTS lane (retraction-capable cnt/cntv/sum/sumsq) ----

  private def applyKM(dir: String, src: org.apache.spark.sql.DataFrame,
                      lo: Long, hi: Long, nBuckets: Int = 8,
                      nKeyBuckets: Int = 8) =
    AggMaintenance.applySliceKeyedPartitionedV2(
      spark, dir, src, "us", Seq("k"), Seq("grp"), Seq("v"), lo, hi,
      nBuckets, nKeyBuckets)

  private def momentsOneShot(mirror: org.apache.spark.sql.DataFrame) = {
    val c = col("v").cast("decimal(18,4)")
    AggMaintenance.deriveMomentCols(
      mirror.groupBy("grp").agg(
        count(lit(1)).as("cnt"),
        count(c).as("cntv_v"),
        sum(c).cast("decimal(28,4)").as("sum_v"),
        sum((c * c).cast("decimal(38,8)")).cast("decimal(38,8)")
          .as("sumsq_v")),
      Seq("v"))
      .select("grp", "cnt", "cntv_v", "sum_v", "sumsq_v", "avg_v", "var_v")
  }

  test("keyed moments: re-arrivals retract (v, v²) exactly; derived avg/var match one-shot") {
    val s1 = rowsK(
      (10L, 1L, "a", 3.0), (20L, 2L, "a", 5.0), (30L, 3L, "b", 4.0),
      (40L, 4L, "a", null))
    val s2 = rowsK(
      // key 1: value 3→7 in place; key 3 moves b→a; key 4 NULL→6;
      // key 2: value 5→NULL (cntv/sum/sumsq retract, cnt keeps the key)
      (110L, 1L, "a", 7.0), (120L, 3L, "a", 2.0), (130L, 4L, "a", 6.0),
      (140L, 2L, "a", null))
    val src = s1.unionByName(s2)
    val dir = tmpDir("agg-keyed-mom")
    applyKM(dir, src, 0L, 100L)
    applyKM(dir, src, 100L, 200L)
    // live mirror: 1→(a,7), 2→(a,NULL), 3→(a,2), 4→(a,6) — group b gone
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("us").desc)
    val mirror = src.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val want = momentsOneShot(mirror)
    val got = AggMaintenance.readDerived(spark, dir)
      .select("grp", "cnt", "cntv_v", "sum_v", "sumsq_v", "avg_v", "var_v")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 1) // group b vacated and removed
    // replay no-op
    val rp = applyKM(dir, src, 100L, 200L)
    assert(!rp.applied)
  }

  test("keyed moments: cross-lane refusals and rebucket state carry") {
    val src = rowsK((10L, 1L, "a", 1.0), (20L, 2L, "b", 2.0))
    val dir = tmpDir("agg-keyed-mom")
    applyKM(dir, src, 0L, 100L)
    // keyed v1 partitioned on a keyedv2 table names the owning lane
    val e1 = intercept[graft.core.GraftError.InvalidConfig](
      applyKP(dir, src, 100L, 200L))
    assert(e1.getMessage.contains("applySliceKeyedPartitionedV2"))
    // and the reverse: keyedv2 on a keyed v1 table
    val v1dir = tmpDir("agg-keyed-part")
    applyKP(v1dir, src, 0L, 100L)
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      applyKM(v1dir, src, 100L, 200L))
    assert(e2.getMessage.contains("applySliceKeyedPartitioned"))
    // readDerived serves the keyedv2 stamp but refuses keyed v1
    assert(AggMaintenance.readDerived(spark, dir).columns.contains("avg_v"))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readDerived(spark, v1dir))
    // rebucket (rollup AND state space) keeps retraction working
    AggMaintenance.rebucket(spark, dir, 16, newKeyBuckets = 16)
    applyKM(dir, rowsK((110L, 1L, "b", 9.0)), 100L, 200L,
      nBuckets = 16, nKeyBuckets = 16)
    val got = AggMaintenance.read(spark, dir)
      .select(col("grp"), col("cnt"), col("sum_v").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == Map("b" -> ((2L, 11.0)))) // group a vacated and removed
  }

  test("readKeyedDistinct: live (G,d) groups are the distinct set; refusals typed") {
    // keys 1..4; user moves and type changes retract old pairs exactly
    val src = Seq(
      (10L, 1L, "a", 100L), (20L, 2L, "a", 100L), (30L, 3L, "a", 200L),
      (40L, 4L, "b", 100L),
      // slice 2: key 1 changes type a→b (user 100 leaves a's set only if
      // no other live key has (a,100) — key 2 still does); key 3 changes
      // user 200→300 within a (distinct stays 2: {100,300})
      (110L, 1L, "b", 100L), (120L, 3L, "a", 300L))
      .toDF("us", "k", "grp", "u").withColumn("one", lit(1.0))
    val dir = tmpDir("agg-keyed-dist")
    Seq((0L, 100L), (100L, 200L)).foreach { case (l, h) =>
      AggMaintenance.applySliceKeyedPartitioned(spark, dir, src, "us",
        Seq("k"), Seq("grp", "u"), "one", l, h, 8, 8) }
    val got = AggMaintenance.readKeyedDistinct(spark, dir, Seq("grp"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // mirror: 1→(b,100), 2→(a,100), 3→(a,300), 4→(b,100)
    assert(got == Map("a" -> ((2L, 2L)), "b" -> ((1L, 2L))))
    // outer cols must be a proper subset of the stored group columns
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedDistinct(spark, dir, Seq("grp", "u")))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedDistinct(spark, dir, Seq("nope")))
    // append-only rollups refuse — their group set double-counts
    val v1dir = tmpDir("agg-ivm-dist")
    AggMaintenance.applySlice(spark, v1dir, rows((10L, "a", 1.0)), "us",
      Seq("grp"), "v", 0L, 100L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedDistinct(spark, v1dir, Seq("grp")))
    // a duplicated outer column passes membership but would emit two
    // identically-named ambiguous result columns — refuse up front
    assertThrows[IllegalArgumentException](
      AggMaintenance.readKeyedDistinct(spark, dir, Seq("grp", "grp")))
  }

  test("readKeyedMinMax: live (G,v) groups carry the mirror's extrema; refusals typed") {
    // keys 1..4; slice 2 moves key 3 (a's max, 9.0) to b DOUBLED and
    // bumps key 1's value — a's max must SHRINK to a surviving value
    // (retraction a running max cannot do), b's must grow
    val src = Seq(
      (10L, 1L, "a", 2.0), (20L, 2L, "a", 5.0), (30L, 3L, "a", 9.0),
      (40L, 4L, "b", 1.0),
      (110L, 3L, "b", 18.0), (120L, 1L, "a", 3.0))
      .toDF("us", "k", "grp", "v").withColumn("one", lit(1.0))
    val dir = tmpDir("agg-keyed-minmax")
    Seq((0L, 100L), (100L, 200L)).foreach { case (l, h) =>
      AggMaintenance.applySliceKeyed(spark, dir, src, "us",
        Seq("k"), Seq("grp", "v"), "one", l, h) }
    val got = AggMaintenance.readKeyedMinMax(spark, dir, Seq("grp"), "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // mirror: 1→(a,3.0), 2→(a,5.0), 3→(b,18.0), 4→(b,1.0)
    assert(got == Map("a" -> ((3.0, 5.0, 2L)), "b" -> ((1.0, 18.0, 2L))))
    // the value column must be a stored group column outside the outer set
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedMinMax(spark, dir, Seq("grp"), "one"))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedMinMax(spark, dir, Seq("grp", "v"), "v"))
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedMinMax(spark, dir, Seq("nope"), "v"))
    assertThrows[IllegalArgumentException](
      AggMaintenance.readKeyedMinMax(spark, dir, Seq("grp", "grp"), "v"))
    // append-only rollups refuse — their live groups reflect history
    val v1dir = tmpDir("agg-ivm-minmax")
    AggMaintenance.applySlice(spark, v1dir, rows((10L, "a", 1.0)), "us",
      Seq("grp"), "v", 0L, 100L)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.readKeyedMinMax(spark, v1dir, Seq("grp"), "v"))
  }

  test("keyed tombstones: deletes retract keys, vacate groups, and round-trip reinserts") {
    import spark.implicits._
    def rowsT(r: (Long, Long, String, java.lang.Double, Boolean)*) =
      r.toSeq.toDF("us", "k", "grp", "v", "del")
    val base = rowsT(
      (10L, 1L, "a", 2.0, false), (20L, 2L, "a", 5.0, false),
      (30L, 3L, "b", 4.0, false))
    // slice 2: key 1 deleted (payload-free: NULL group/value), key 9
    // deleted though never seen (idempotent no-op), key 3 deleted AND
    // reinserted later in the SAME slice (latest wins: stays live)
    val s2 = rowsT(
      (110L, 1L, null, null, true), (120L, 9L, null, null, true),
      (130L, 3L, null, null, true), (140L, 3L, "b", 7.0, false))
    val all = base.unionByName(s2)
    val flat = tmpDir("agg-keyed-tomb-flat")
    val part = tmpDir("agg-keyed-tomb-part")
    Seq((0L, 100L), (100L, 200L)).foreach { case (l, h) =>
      AggMaintenance.applySliceKeyed(spark, flat, all, "us", Seq("k"),
        Seq("grp"), "v", l, h, tombstoneCol = Some("del"))
      AggMaintenance.applySliceKeyedPartitioned(spark, part, all, "us",
        Seq("k"), Seq("grp"), "v", l, h, 8, 16, tombstoneCol = Some("del"))
      ()
    }
    // mirror: key 1 gone, key 2 → (a, 5), key 3 → (b, 7)
    val want = Map("a" -> ((1L, Some(5.0))), "b" -> ((1L, Some(7.0))))
    assert(snapshotK(flat) == want, s"flat: ${snapshotK(flat)}")
    assert(snapshotK(part) == want, s"partitioned: ${snapshotK(part)}")
    // slice 3: group a's LAST key deleted — the group must vanish; a
    // deleted key REINSERTS later as a brand-new arrival
    val s3 = rowsT((210L, 2L, null, null, true), (220L, 1L, "c", 9.0, false))
    val all3 = all.unionByName(s3)
    AggMaintenance.applySliceKeyed(spark, flat, all3, "us", Seq("k"),
      Seq("grp"), "v", 200L, 300L, tombstoneCol = Some("del"))
    AggMaintenance.applySliceKeyedPartitioned(spark, part, all3, "us",
      Seq("k"), Seq("grp"), "v", 200L, 300L, 8, 16,
      tombstoneCol = Some("del"))
    val want3 = Map("b" -> ((1L, Some(7.0))), "c" -> ((1L, Some(9.0))))
    assert(snapshotK(flat) == want3 && snapshotK(part) == want3)
    // the tombstone column is part of the frozen parameterization: a
    // tombstone-blind apply against this rollup refuses (it would treat
    // delete markers as upserts)
    assertThrows[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyed(spark, flat, all3, "us", Seq("k"),
        Seq("grp"), "v", 300L, 400L))
    // tombstone col can't double as a key/group/value/order column
    assertThrows[IllegalArgumentException](
      AggMaintenance.applySliceKeyed(spark, tmpDir("agg-tomb-bad"), all3,
        "us", Seq("k"), Seq("grp"), "v", 0L, 100L,
        tombstoneCol = Some("grp")))
  }

  test("tombstone flags that cannot be read as boolean refuse (r15 advice)") {
    import spark.implicits._
    // schema gate: a type with no meaningful boolean cast refuses before
    // any job runs (an array tombstone is always operator error)
    val arr = Seq((10L, 1L, "a", 2.0, Seq(true)))
      .toDF("us", "k", "grp", "v", "del")
    val e = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyed(spark, tmpDir("agg-tomb-type"), arr,
        "us", Seq("k"), Seq("grp"), "v", 0L, 100L,
        tombstoneCol = Some("del")))
    assert(e.getMessage.contains("boolean"))
    // data gate: a STRING tombstone is admissible ("true"/"0"/... cast
    // fine, NULL reads as false), but a malformed value whose cast is
    // NULL must refuse — silently reading "deleted" as an upsert is the
    // mixing the tomb= stamp exists to prevent
    val str = Seq(
      (10L, 1L, "a", 2.0, "true"),
      (20L, 2L, "a", 5.0, null.asInstanceOf[String]),
      (30L, 3L, "b", 4.0, "deleted"))
      .toDF("us", "k", "grp", "v", "del")
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyed(spark, tmpDir("agg-tomb-data"), str,
        "us", Seq("k"), Seq("grp"), "v", 0L, 100L,
        tombstoneCol = Some("del")))
    assert(e2.getMessage.contains("does not cast to boolean"))
    val e3 = intercept[graft.core.GraftError.InvalidConfig](
      AggMaintenance.applySliceKeyedPartitioned(spark,
        tmpDir("agg-tomb-data-p"), str, "us", Seq("k"), Seq("grp"), "v",
        0L, 100L, 8, 16, tombstoneCol = Some("del")))
    assert(e3.getMessage.contains("does not cast to boolean"))
    // well-formed string flags DO work: "true" deletes, NULL/"false" keep
    val ok = Seq(
      (10L, 1L, "a", java.lang.Double.valueOf(2.0), "false"),
      (20L, 2L, "a", java.lang.Double.valueOf(5.0), null.asInstanceOf[String]),
      (110L, 1L, null.asInstanceOf[String],
        null.asInstanceOf[java.lang.Double], "true"))
      .toDF("us", "k", "grp", "v", "del")
    val d = tmpDir("agg-tomb-str-ok")
    Seq((0L, 100L), (100L, 200L)).foreach { case (l, h) =>
      AggMaintenance.applySliceKeyed(spark, d, ok, "us", Seq("k"),
        Seq("grp"), "v", l, h, tombstoneCol = Some("del"))
      ()
    }
    assert(snapshotK(d) == Map("a" -> ((1L, Some(5.0)))))
  }

  test("keyed moments tombstones: a deleted key's (v, v²) leaves the derived stats") {
    import spark.implicits._
    val src = Seq(
      (10L, 1L, "a", java.lang.Double.valueOf(2.0), false),
      (20L, 2L, "a", java.lang.Double.valueOf(6.0), false),
      (30L, 3L, "a", java.lang.Double.valueOf(10.0), false),
      // slice 2: key 3 (the avg-dominating value) deleted payload-free
      (110L, 3L, null.asInstanceOf[String],
        null.asInstanceOf[java.lang.Double], true))
      .toDF("us", "k", "grp", "v", "del")
    val dir = tmpDir("agg-keyed-tomb-moments")
    Seq((0L, 100L), (100L, 200L)).foreach { case (l, h) =>
      AggMaintenance.applySliceKeyedPartitionedV2(spark, dir, src, "us",
        Seq("k"), Seq("grp"), Seq("v"), l, h, 4, 8,
        tombstoneCol = Some("del"))
      ()
    }
    val got = AggMaintenance.readDerived(spark, dir)
      .select(col("grp"), col("cnt"), col("cntv_v"), col("avg_v"),
        col("var_v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // mirror after the delete: {2.0, 6.0} → avg 4, sample var 8
    assert(got == Map("a" -> ((2L, 2L, 4.0, 8.0))),
      s"moments must exclude the deleted key's contribution: $got")
  }

  test("heal honors a twin-committed watermark: stacked crash windows never roll back") {
    // Fallback-scheme stacked windows: (1) an old whole-dir swap left its
    // backup behind; (2) a later in-place wm advance crashed between the
    // two-phase commit's steps 4 and 5, leaving the root's wm committed
    // only in SidecarIO's `.new` twin. The heal's committed-probe must
    // count the twin (SidecarIO.exists) — a raw fs.exists would read the
    // newer root as UNCOMMITTED, delete it, and restore the OLDER backup.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def copyTree(src: String, dst: String): Unit = {
      val s = Paths.get(src); val d = Paths.get(dst)
      Files.walk(s).forEach { p =>
        val t = d.resolve(s.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else { Files.createDirectories(t.getParent)
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING); () }
      }
    }
    val work = tmpDir("agg-heal-twin")
    val dir = s"$work/roll"
    AggMaintenance.applySlice(spark, dir, rows((10L, "a", 1.0)), "us",
      Seq("grp"), "v", 0L, 100L)
    copyTree(dir, s"$work/slice1copy") // the would-be stale backup
    AggMaintenance.applySlice(spark, dir, rows((110L, "b", 2.0)), "us",
      Seq("grp"), "v", 100L, 200L)
    // stage the stacked crash: stale backup beside the root, root's wm
    // committed only in its `.new` twin
    copyTree(s"$work/slice1copy", s"$dir.__agg_bak_dir")
    Files.move(Paths.get(dir, "_GRAFT_AGG_WM"),
      Paths.get(dir, "._GRAFT_AGG_WM.new"))
    // reads serve the TWIN-committed state (wm 200, both slices)
    assert(AggMaintenance.watermark(spark, dir).contains(200L))
    assert(snapshot(dir).keySet == Set("a", "b"))
    // the next apply heals: root kept (its wm is committed), backup
    // dropped, and the chain continues from 200 — a rollback to the
    // backup would make this slice non-contiguous and throw
    AggMaintenance.applySlice(spark, dir, rows((210L, "a", 5.0)), "us",
      Seq("grp"), "v", 200L, 300L)
    assert(!Files.exists(Paths.get(s"$dir.__agg_bak_dir")),
      "stale backup must be dropped, not restored")
    val got = snapshot(dir)
    assert(got("a") == ((2L, 6.0, 1.0, 5.0)) &&
      got("b") == ((1L, 2.0, 2.0, 2.0)), s"state rolled back: $got")
  }

  test("keyed lane property: seeded-random upsert streams fold to latest-per-key under any slicing") {
    import spark.implicits._
    // deterministic pseudo-random scenarios (seeded — never flaky): the
    // hand-built arms pin specific behaviors; this arm sweeps the space
    // of re-arrival patterns × slice cuts the fixtures can't enumerate.
    // Each event gets a DISTINCT ts so the brute-force latest-per-key is
    // unambiguous (within-slice ts ties have their own tie-break arm).
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val nEvents = 120 + rnd.nextInt(80)
      val nKeys = 10 + rnd.nextInt(20)
      val groups = Seq("a", "b", "c", "d")
      // trial 3 interleaves ~12% CDC tombstones among the upserts — the
      // brute-force mirror is then "latest per key, excluding deleted"
      val withTombs = trial == 3
      val events = (1 to nEvents).map { ts =>
        (ts.toLong, (1 + rnd.nextInt(nKeys)).toLong,
          groups(rnd.nextInt(groups.size)),
          math.round(rnd.nextDouble() * 1000) / 10.0,
          withTombs && rnd.nextInt(8) == 0)
      }
      val src = events.toDF("us", "k", "grp", "v", "del")
      val tomb = if (withTombs) Some("del") else None
      val cuts = (Seq(1L, nEvents + 1L) ++
        Seq.fill(2 + rnd.nextInt(4))(1L + rnd.nextInt(nEvents).toLong))
        .distinct.sorted
      val dir = tmpDir(s"agg-keyed-prop$trial")
      cuts.sliding(2).foreach { case Seq(l, h) =>
        if (trial == 2)
          AggMaintenance.applySliceKeyedPartitioned(spark, dir, src, "us",
            Seq("k"), Seq("grp"), "v", l, h, 8, 16)
        else
          AggMaintenance.applySliceKeyed(spark, dir, src, "us",
            Seq("k"), Seq("grp"), "v", l, h, tombstoneCol = tomb)
        ()
      }
      val got = AggMaintenance.read(spark, dir)
        .select(col("grp"), col("cnt"),
          col("sum_val").cast("decimal(28,4)").as("sum_val"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("us").desc)
      val latest = src.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .filter(if (withTombs) !col("del") else lit(true))
      val want = latest.groupBy("grp")
        .agg(count(lit(1)).as("cnt"),
          sum(col("v").cast("decimal(18,4)")).cast("decimal(28,4)")
            .as("sum_val"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"trial $trial (cuts ${cuts.mkString(",")}) diverged from " +
          "latest-per-key")
      if (trial == 1) {
        // the composition readers over the same stream: a (grp, v)-
        // grouped keyed rollup's live groups must carry the mirror's
        // exact distinct counts and extrema
        val cdir = tmpDir("agg-keyed-prop-comp")
        val csrc = src.withColumn("one", lit(1.0))
        cuts.sliding(2).foreach { case Seq(l, h) =>
          AggMaintenance.applySliceKeyed(spark, cdir, csrc, "us",
            Seq("k"), Seq("grp", "v"), "one", l, h)
          ()
        }
        val mm = AggMaintenance.readKeyedMinMax(spark, cdir, Seq("grp"), "v")
          .select(col("grp"), col("min_v"), col("max_v"))
        val mmWant = latest.groupBy("grp")
          .agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        assert(mm.exceptAll(mmWant).isEmpty && mmWant.exceptAll(mm).isEmpty,
          "composition min/max diverged from the mirror")
        val dc = AggMaintenance.readKeyedDistinct(spark, cdir, Seq("grp"))
          .select(col("grp"), col("distinct_groups"))
        val dcWant = latest.groupBy("grp")
          .agg(count_distinct(col("v")).as("distinct_groups"))
        assert(dc.exceptAll(dcWant).isEmpty && dcWant.exceptAll(dc).isEmpty,
          "composition distinct diverged from the mirror")
      }
    }
  }

  test("timestamp order column: bounds are canonical µs, filter on native type") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val us = graft.core.Tables.tsUs(ev)
    val b = ev.agg(min(us).as("lo"), max(us).as("hi")).collect().head
    val lo = b.getLong(0); val hi = b.getLong(1) + 1
    val mid = lo + (hi - lo) / 2
    val dir = tmpDir("agg-ivm-ts")
    AggMaintenance.applySlice(spark, dir, ev, "ts", Seq("event_type"), "value", lo, mid)
    AggMaintenance.applySlice(spark, dir, ev, "ts", Seq("event_type"), "value", mid, hi)
    val got = AggMaintenance.read(spark, dir)
      .select(col("event_type"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want)
  }

  test("params stamps: each lane writes its exact stamp text and every refusal names the owning lane") {
    import graft.core.GraftError.InvalidConfig
    val src = Seq((10L, 1L, "a", "p", 1.0, 2.0, 7L, false))
      .toDF("us", "k", "grp", "g2", "x", "y", "u", "del")
    val g = Seq("grp", "g2")
    def stamp(dir: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(dir, "_GRAFT_AGG_PARAMS")
      graft.core.SidecarIO.read(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val tomb = Some("del")
    // (lane, exact stamp, cold apply of [0, 100))
    val lanes: Seq[(String, String, String => Any)] = Seq(
      ("applySlicePartitioned", "v1 buckets=8 group=grp+g2 value=x order=us",
        d => AggMaintenance.applySlicePartitioned(
          spark, d, src, "us", g, "x", 0L, 100L, 8)),
      ("applySliceV2", "v2 flat group=grp+g2 values=x+y order=us",
        d => AggMaintenance.applySliceV2(
          spark, d, src, "us", g, Seq("x", "y"), 0L, 100L)),
      ("applySlicePartitionedV2",
        "v2 buckets=8 group=grp+g2 values=x+y order=us",
        d => AggMaintenance.applySlicePartitionedV2(
          spark, d, src, "us", g, Seq("x", "y"), 0L, 100L, 8)),
      ("applySliceDistinct", "v3 flat group=grp+g2 distinct=u order=us",
        d => AggMaintenance.applySliceDistinct(
          spark, d, src, "us", g, Seq("u"), 0L, 100L)),
      ("applySlicePartitionedDistinct",
        "v3 buckets=8 group=grp+g2 distinct=u order=us",
        d => AggMaintenance.applySlicePartitionedDistinct(
          spark, d, src, "us", g, Seq("u"), 0L, 100L, 8)),
      ("applySliceKeyed", "keyed flat key=k group=grp+g2 value=x order=us",
        d => AggMaintenance.applySliceKeyed(
          spark, d, src, "us", Seq("k"), g, "x", 0L, 100L)),
      ("applySliceKeyed",
        "keyed flat key=k group=grp+g2 value=x order=us tomb=del",
        d => AggMaintenance.applySliceKeyed(
          spark, d, src, "us", Seq("k"), g, "x", 0L, 100L, tomb)),
      ("applySliceKeyedPartitioned",
        "keyed buckets=8 kbuckets=16 key=k group=grp+g2 value=x order=us",
        d => AggMaintenance.applySliceKeyedPartitioned(
          spark, d, src, "us", Seq("k"), g, "x", 0L, 100L, 8, 16)),
      ("applySliceKeyedPartitioned",
        "keyed buckets=8 kbuckets=16 key=k group=grp+g2 value=x order=us " +
          "tomb=del",
        d => AggMaintenance.applySliceKeyedPartitioned(
          spark, d, src, "us", Seq("k"), g, "x", 0L, 100L, 8, 16, tomb)),
      ("applySliceKeyedPartitionedV2",
        "keyedv2 buckets=8 kbuckets=16 key=k group=grp+g2 values=x+y order=us",
        d => AggMaintenance.applySliceKeyedPartitionedV2(
          spark, d, src, "us", Seq("k"), g, Seq("x", "y"), 0L, 100L, 8, 16)),
      ("applySliceKeyedPartitionedV2",
        "keyedv2 buckets=8 kbuckets=16 key=k group=grp+g2 values=x+y " +
          "order=us tomb=del",
        d => AggMaintenance.applySliceKeyedPartitionedV2(
          spark, d, src, "us", Seq("k"), g, Seq("x", "y"), 0L, 100L, 8, 16,
          tomb)))
    // a whole-dir, a flat stamped and a partitioned probe at [100, 200)
    val probes: Seq[(String, String => Any)] = Seq(
      ("applySlice", d => AggMaintenance.applySlice(
        spark, d, src, "us", g, "x", 100L, 200L)),
      ("applySliceKeyed", d => AggMaintenance.applySliceKeyed(
        spark, d, src, "us", Seq("k"), g, "x", 100L, 200L)),
      ("applySliceKeyedPartitionedV2",
        d => AggMaintenance.applySliceKeyedPartitionedV2(
          spark, d, src, "us", Seq("k"), g, Seq("x", "y"), 100L, 200L, 8, 16)))
    lanes.foreach { case (lane, want, apply) =>
      val dir = tmpDir("agg-stamp")
      apply(dir)
      assert(stamp(dir).contains(want), s"$lane wrote ${stamp(dir)}")
      probes.filter(_._1 != lane).foreach { case (probe, run) =>
        val e = intercept[InvalidConfig](run(dir))
        assert(e.getMessage.contains(s"stamped '$want'") &&
          e.getMessage.contains(s"use $lane, or rebuild"),
          s"$probe on $lane: ${e.getMessage}")
      }
    }
    // v1 whole-dir rollups carry no stamp; the stamped lanes say so
    val v1 = tmpDir("agg-stamp-v1")
    AggMaintenance.applySlice(spark, v1, src, "us", g, "x", 0L, 100L)
    assert(stamp(v1).isEmpty)
    val ep = intercept[InvalidConfig](probes(2)._2(v1))
    assert(ep.getMessage.contains("use applySlice, or rebuild partitioned"))
    val ef = intercept[InvalidConfig](probes(1)._2(v1))
    assert(ef.getMessage.contains("has no stamp"))
    // rebucket rewrites buckets= and kbuckets= in place, keeping the rest
    val kp = tmpDir("agg-stamp-rebucket")
    lanes(8)._3(kp)
    AggMaintenance.rebucket(spark, kp, 4, newKeyBuckets = 32)
    assert(stamp(kp).contains("keyed buckets=4 kbuckets=32 key=k " +
      "group=grp+g2 value=x order=us tomb=del"))
    val v2p = tmpDir("agg-stamp-rebucket-v2")
    lanes(2)._3(v2p)
    AggMaintenance.rebucket(spark, v2p, 4)
    assert(stamp(v2p).contains("v2 buckets=4 group=grp+g2 values=x+y order=us"))
  }

  test("whole-dir lanes: a crash before an empty cold start's watermark commit leaves a rollup the re-run completes") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftmock.impl", classOf[graft.MockStoreFileSystem].getName)
    // nothing in [0, 100): every lane's opening slice is empty
    val src = Seq((500L, 1L, "a", 1.0, 2.0, 7L))
      .toDF("us", "k", "grp", "x", "y", "u")
    val lanes: Seq[(String, Option[String],
        String => AggMaintenance.AggResult)] = Seq(
      ("v1", None, d => AggMaintenance.applySlice(
        spark, d, src, "us", Seq("grp"), "x", 0L, 100L)),
      ("v2", Some("v2 flat group=grp values=x+y order=us"),
        d => AggMaintenance.applySliceV2(
          spark, d, src, "us", Seq("grp"), Seq("x", "y"), 0L, 100L)),
      ("v3", Some("v3 flat group=grp distinct=u order=us"),
        d => AggMaintenance.applySliceDistinct(
          spark, d, src, "us", Seq("grp"), Seq("u"), 0L, 100L)),
      ("keyed", Some("keyed flat key=k group=grp value=x order=us"),
        d => AggMaintenance.applySliceKeyed(
          spark, d, src, "us", Seq("k"), Seq("grp"), "x", 0L, 100L)))
    lanes.foreach { case (lane, want, apply) =>
      val dir = s"graftmock:${tmpDir(s"agg-cold-crash-$lane")}/rollup"
      MockStoreFileSystem.failOnCreate = Some("_GRAFT_AGG_WM")
      try intercept[java.io.IOException](apply(dir))
      finally MockStoreFileSystem.failOnCreate = None
      val r = apply(dir)
      assert(r.applied && r.sliceRows == 0L && r.watermarkUs == 100L, lane)
      assert(AggMaintenance.watermark(spark, dir).contains(100L), lane)
      val got = AggMaintenance.read(spark, dir)
      assert(got.count() == 0L && got.columns.contains("cnt"), lane)
      val p = new org.apache.hadoop.fs.Path(dir, "_GRAFT_AGG_PARAMS")
      assert(graft.core.SidecarIO.read(p.getFileSystem(conf), p) == want,
        lane)
    }
  }

  test("whole-dir lanes: the stored rollup reads with its recorded schema, as an inference would, and without the sidecar still reads") {
    val src = Seq((10L, 1L, "a", 1.0, 2.0, 7L), (20L, 2L, "b", 3.0, 4.0, 8L),
      (30L, 3L, "a", 5.0, 6.0, 7L)).toDF("us", "k", "grp", "x", "y", "u")
    val lanes: Seq[(String, String => AggMaintenance.AggResult)] = Seq(
      "v1" -> (d => AggMaintenance.applySlice(
        spark, d, src, "us", Seq("grp"), "x", 0L, 100L)),
      "v2" -> (d => AggMaintenance.applySliceV2(
        spark, d, src, "us", Seq("grp"), Seq("x", "y"), 0L, 100L)),
      "v3" -> (d => AggMaintenance.applySliceDistinct(
        spark, d, src, "us", Seq("grp"), Seq("u"), 0L, 100L)),
      "keyed" -> (d => AggMaintenance.applySliceKeyed(
        spark, d, src, "us", Seq("k"), Seq("grp"), "x", 0L, 100L)))
    lanes.foreach { case (lane, apply) =>
      val dir = tmpDir(s"agg-flat-schema-$lane") + "/rollup"
      apply(dir)
      val inferred = spark.read.parquet(dir)
      val (got, jobs) = jobsIn(AggMaintenance.read(spark, dir))
      assert(jobs == 0, s"$lane: the read ran $jobs Spark jobs")
      assert(got.schema == inferred.schema, lane)
      assert(got.collect().toSet == inferred.collect().toSet, lane)
      val sidecar = new java.io.File(dir, "_GRAFT_AGG_SCHEMA")
      assert(sidecar.delete(), lane)
      assert(AggMaintenance.read(spark, dir).collect().toSet ==
        inferred.collect().toSet, lane)
    }
  }
}
