package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistedIndex

/** Z-ORDER (Morton-curve) layout over TWO dimensions — the
  * multi-dimensional complement to [[RangeLayout]] (which clusters one
  * sort key): each dimension is normalized to a 16-bit grid and their
  * bits INTERLEAVED, so rows close in the z-value are close in BOTH
  * dimensions at once. A table z-ordered on (user, day) prunes buckets
  * for queries filtering EITHER column — the property single-key range
  * clustering cannot give (sorting by user scatters time, and vice
  * versa), and the reason lakehouse engines expose Z-ORDER BY for their
  * OPTIMIZE/clustering commands.
  *
  * Everything is EXACT integer arithmetic, deterministic, and
  * oracle-reproducible: grid = ((v − min)·65535) div span (floor
  * division, never a double ratio), z = Σᵢ ((ga≫i)&1)≪2i | ((gb≫i)&1)≪(2i+1)
  * (disjoint bits, so the sum is the OR), and the bucket split reuses
  * [[RangeLayout.withRangeBucket]]'s rank-division (skew-proof
  * ⌈n/buckets⌉ bound — a z-value histogram can be arbitrarily lumpy).
  * The per-bucket manifest carries min/max of BOTH source columns; a
  * pruned read consults it for whichever dimension the query constrains.
  *
  * Bounds are taken from the data in ONE aggregate (driver-side scalars —
  * the same pattern as the PageRank node count); spans up to 2⁴⁷ stay
  * exact under the ×65535 scaling in long arithmetic. */
object ZOrder {

  val GridBits = 16
  val GridMax: Long = (1L << GridBits) - 1 // 65535

  /** Largest dimension span for which (v − mn) · GridMax stays inside a
    * long (≈2⁴⁷). Spans beyond it would WRAP in the non-ANSI long multiply
    * and emit negative grids / garbage z-values — enforced loudly in
    * [[gridCoord]]/[[bounds]] instead of degrading the layout silently.
    * Oversized dimensions (e.g. a raw epoch-µs column spanning decades)
    * should be pre-scaled to a coarser unit (days, hours) by the caller. */
  val MaxSpan: Long = Long.MaxValue / GridMax

  /** 16-bit grid coordinate of column `name` within [mn, mx] — exact
    * floor division (`div`, never a double ratio); a degenerate dimension
    * (mx == mn) collapses to grid 0. */
  def gridCoord(name: String, mn: Long, mx: Long): Column =
    if (mx == mn) lit(0L)
    else {
      // mx ≥ mn is the caller contract, so a NEGATIVE difference can only
      // mean either swapped bounds or a span past 2^63 that wrapped the
      // subtraction itself (e.g. a Long.MinValue sentinel row) — both must
      // refuse, or the guard fails OPEN on exactly the overflow it exists
      // to stop
      val span = mx - mn
      require(span >= 0 && span <= MaxSpan,
        s"z-order dimension `$name` bounds [$mn, $mx] give span $span — " +
          s"outside [0, $MaxSpan] (~2^47): swapped bounds, a sentinel " +
          "value, or a span needing a coarser unit")
      expr(s"((`$name` - ${mn}L) * ${GridMax}L) div ${span}L")
    }

  /** Morton interleave of two 16-bit grid coordinates: dimension A takes
    * the even bits, B the odd. Terms have disjoint bits, so the sum IS
    * the bitwise OR — and `+` is what every engine folds exactly. */
  def zValue(ga: Column, gb: Column): Column =
    (0 until GridBits).map { i =>
      shiftleft(shiftright(ga, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(gb, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** min/max bounds of both dimensions, one aggregate. Dimensions must be
    * integer-valued (ids, epoch units, day numbers — cast dates/timestamps
    * to an epoch unit first); the cast here widens int32s, it does not
    * repair non-numeric columns. */
  def bounds(df: DataFrame, colA: String, colB: String): (Long, Long, Long, Long) = {
    val r = df.agg(min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).first()
    require(!r.anyNull, s"z-order dimensions $colA/$colB must be " +
      "non-null integer-valued columns")
    Seq(colA -> (r.getLong(1) - r.getLong(0)),
        colB -> (r.getLong(3) - r.getLong(2))).foreach { case (c, span) =>
      // min ≤ max by construction here, so span < 0 ⟺ the true span
      // overflowed the Long subtraction (a Long.MinValue sentinel row) —
      // refuse rather than fail open into wrapped grid coordinates
      require(span >= 0 && span <= MaxSpan,
        s"z-order dimension `$c` span $span is outside [0, $MaxSpan] " +
          "(~2^47): a sentinel/extreme value or a span needing a coarser " +
          "unit — rescale the column first")
    }
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** `df` plus the z-value column for (colA, colB) under the given bounds. */
  def withZ(df: DataFrame, colA: String, colB: String,
            aMin: Long, aMax: Long, bMin: Long, bMax: Long,
            outCol: String = "zval"): DataFrame =
    df.withColumn("__za", col(colA).cast("long"))
      .withColumn("__zb", col(colB).cast("long"))
      .withColumn(outCol,
        zValue(gridCoord("__za", aMin, aMax), gridCoord("__zb", bMin, bMax)))
      .drop("__za", "__zb")

  /** Write `df` z-ordered on (colA, colB) into `nBuckets` hive
    * `bucket=k/` dirs (rank-split over the z total order, tie-broken by
    * `tieBreak`), plus a manifest sidecar carrying per-bucket min/max of
    * BOTH source columns. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    tieBreak: Seq[Column], nBuckets: Int): Unit = {
    val (aMin, aMax, bMin, bMax) = bounds(df, colA, colB)
    val z = withZ(df, colA, colB, aMin, aMax, bMin, bMax)
    val bucketed = RangeLayout.withRangeBucket(z, col("zval") +: tieBreak,
      nBuckets)
    // the z-value is ENGINEERING, not data: it decided the bucket and its
    // job is done — persisting it would widen every row by 8 bytes and
    // break schema comparisons against the source (the writeClustered
    // __rn rule; stampExistingLayout recomputes zval from data, so
    // nothing reads a stored copy)
    PersistedIndex.commit(df.sparkSession, path,
        PersistedIndex.zorder(colA, colB, GridBits, nBuckets)) {
      bucketed.drop("zval")
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
      bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col(colA)).as(s"min_$colA"), max(col(colA)).as(s"max_$colA"),
          min(col(colB)).as(s"min_$colB"), max(col(colB)).as(s"max_$colB"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(RangeLayout.manifestPath(path))
    }
  }

  /** Manifest-pruned range read on EITHER z-ordered dimension: buckets
    * whose [min,max] of `dim` misses [lo, hi] are never opened
    * (PartitionFilters at planning time); parquet row-group stats prune
    * further inside survivors. */
  def prunedRead(spark: SparkSession, path: String, dim: String,
                 lo: Column, hi: Column): DataFrame = {
    // a layout z-ordered on OTHER dimensions or under a grid from another
    // library version has a manifest describing a different clustering
    val params = PersistedIndex.read(spark, path, PersistedIndex.ZOrderLayout)
    val (a, b) = (params.str("a"), params.str("b"))
    require(a == dim || b == dim,
      s"$path is z-ordered on ($a, $b); [$dim] is neither dimension — " +
        "refusing a pruned read")
    require(params.int("gridBits") == GridBits,
      s"$path was written with gridBits=${params.str("gridBits")}" +
        s"; this library prunes gridBits=$GridBits layouts only")
    val mf = spark.read.parquet(RangeLayout.manifestPath(path))
    val ids = mf.filter(col(s"min_$dim") <= hi && col(s"max_$dim") >= lo)
      .select(col("bucket").cast("long")).collect().map(_.getLong(0))
    spark.read.parquet(path)
      .filter(col("bucket").isin(ids.toIndexedSeq: _*))
      .filter(col(dim) >= lo && col(dim) <= hi)
  }

  /** One-shot MIGRATION stamp for a z-order layout persisted before the
    * params sidecar existed (the [[RangeLayout.stampExistingLayout]]
    * twin). Verifies the caller's provenance claim against the persisted
    * manifest — stats for BOTH claimed dimensions must be present, bucket
    * ids consistent with the claimed count — then writes the sidecar.
    * `gridBits` is stamped at the CURRENT library constant: a layout
    * written under a different grid cannot be detected from the manifest
    * alone, so the caller must only stamp layouts they know this library
    * version wrote. Refuses if a sidecar already exists. */
  def stampExistingLayout(spark: SparkSession, path: String, colA: String,
                          colB: String, nBuckets: Int): Unit = {
    require(colA != colB,
      s"z-order dimensions must differ, got ($colA, $colB)")
    RangeLayout.verifyManifestClaim(spark, path, PersistedIndex.ZOrderLayout,
      Seq(colA, colB), nBuckets)
    // The manifest's column set is SYMMETRIC in (a, b), so a dimension-
    // SWAPPED claim survives every check above yet records a false
    // interleave order (a takes the even Morton bits, b the odd). Verify
    // the order against the DATA: recompute z under the claimed (a, b)
    // and require the persisted buckets to be contiguous z-ranges — the
    // rank-split [[writeZOrdered]] produced (boundary ties allowed: the
    // writer tie-breaks inside equal z). A swapped claim interleaves the
    // other way, so its z-order disagrees with the stored bucket order —
    // except when both orders genuinely coincide (a degenerate
    // dimension), where either claim describes the layout equally well
    // and stamping is harmless. Bounded: one two-column scan + an
    // nBuckets-row collect, acceptable for a one-shot migration tool.
    val data = spark.read.parquet(path)
    val (aMin, aMax, bMin, bMax) = bounds(data, colA, colB)
    val zb = withZ(data, colA, colB, aMin, aMax, bMin, bMax)
      .groupBy(col("bucket").cast("long").as("__b"))
      .agg(min("zval").as("zmin"), max("zval").as("zmax"))
      .orderBy("__b").collect()
    zb.sliding(2).foreach {
      case Array(p, n) =>
        require(p.getLong(2) <= n.getLong(1),
          s"$path bucket order disagrees with a ($colA, $colB) z-order " +
            s"(bucket ${p.getLong(0)} has max z ${p.getLong(2)} > bucket " +
            s"${n.getLong(0)}'s min z ${n.getLong(1)}) — the dimensions " +
            "are likely swapped; refusing to stamp a false interleave order")
      case _ => () // single bucket: any interleave order is consistent
    }
    PersistedIndex.write(spark, path,
      PersistedIndex.zorder(colA, colB, GridBits, nBuckets))
  }
}
