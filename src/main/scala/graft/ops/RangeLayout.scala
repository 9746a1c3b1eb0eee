package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistedIndex

/** Range-clustered table layout: the scan-pruning complement to
  * [[Bucketing]] (which co-locates equi-JOINS by hash) and
  * `sync.Compact` (which fixes file SIZES). Clustering rows into
  * contiguous sort-key ranges is what makes range predicates cheap at
  * 100 TB: a time-slice query touches only the buckets whose [min,max]
  * intersect it, and inside each bucket the rows are sorted, so parquet
  * row-group min/max statistics prune further. The per-bucket manifest
  * (min/max/count of the sort key) is the table-level pruning index —
  * tiny (one row per bucket), and written beside the data so a planner
  * (or [[prunedRead]]) can select buckets without touching data files.
  *
  * Bucket boundaries are DETERMINISTIC, not sampled: the global rank from
  * [[GlobalRowNumber]] (two-phase range shuffle — never a one-reducer
  * window) splits the total order into `nBuckets` near-equal runs via
  * exact integer arithmetic, `bucket = ((rn-1)·nBuckets) div total`. A
  * plain `repartitionByRange` would cluster too, but its reservoir-sampled
  * boundaries differ run to run — unacceptable for a layout that an
  * external manifest (or an oracle) must reproduce, and its skew under
  * heavy key repetition is unbounded, whereas rank-splitting bounds every
  * bucket at ⌈total/nBuckets⌉ rows by construction.
  */
object RangeLayout {

  /** Deterministic range-bucket assignment over the total order given by
    * `sortCols` (include a tie-break column — same contract as
    * [[GlobalRowNumber.withGlobalRowNumber]]). Adds `outCol` (LongType in
    * [0, nBuckets)); every bucket holds ⌊total/nBuckets⌋ or
    * ⌈total/nBuckets⌉ rows regardless of key skew. */
  def withRangeBucket(df: DataFrame, sortCols: Seq[Column], nBuckets: Int,
                      outCol: String = "bucket"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(!df.columns.contains(outCol),
      s"input already carries a column named '$outCol'")
    // the numbering pass already summed the per-partition counts on the
    // driver — total comes for free, never a second full max(__rn) pass
    val (rn, total) =
      GlobalRowNumber.withGlobalRowNumberCounted(df, "__rn", sortCols)
    // the (rn−1)·nBuckets product must stay in Long range, or non-ANSI
    // Spark wraps it NEGATIVE and the layout silently writes bucket=-k
    // dirs (verifyRankSplit guards the same arithmetic with BigInt) —
    // refuse loud at the genuinely absurd scale instead
    require(total <= Long.MaxValue / nBuckets,
      s"rank-split arithmetic would overflow: $total rows × $nBuckets " +
        "buckets exceeds Long range — lower nBuckets")
    if (total == 0L) rn.withColumn(outCol, lit(0L)).drop("__rn")
    else rn
      // exact integer floor division in any engine — never a double ratio
      // (a correctly-rounded a/b can land on the wrong side of an integer
      // boundary; `div` cannot)
      .withColumn(outCol, expr(s"((__rn - 1L) * ${nBuckets}L) div ${total}L"))
      .drop("__rn")
  }

  /** The per-bucket pruning manifest: `bucketCol, n_rows, min_<statsCol>,
    * max_<statsCol>`. One row per bucket — the table-level index a range
    * scan consults instead of data files. */
  def manifest(bucketed: DataFrame, bucketCol: String,
               statsCol: String): DataFrame =
    bucketed.groupBy(bucketCol)
      .agg(count(lit(1)).as("n_rows"),
        min(col(statsCol)).as(s"min_$statsCol"),
        max(col(statsCol)).as(s"max_$statsCol"))

  /** Sidecar location — underscore-prefixed, so parquet discovery over the
    * table root never reads it as data (same visibility rule as _SUCCESS). */
  def manifestPath(path: String): String =
    path.stripSuffix("/") + "/_layout_manifest"

  /** Stamp file beside the manifest: a pruned read against a layout
    * written with another kind, clustering column or grid would consult
    * manifest columns that describe the wrong order and silently return a
    * partial row set, so readers validate the stamp first. */
  val ParamsFile: String = PersistedIndex.RangeLayout.file

  /** Write `df` range-clustered by `sortCol` (tie-broken by `tieBreak`)
    * into `nBuckets` hive partitions `bucket=k/`, rows sorted within each
    * bucket (parquet row-group stats stay tight), plus the manifest
    * sidecar. The bucket column is already range-partitioned when it
    * reaches the writer, so `partitionBy` splits each task into at most
    * two bucket dirs — never the all-buckets-per-task small-file blowup a
    * hash layout would produce. */
  def writeClustered(df: DataFrame, path: String, sortCol: String,
                     tieBreak: Seq[Column], nBuckets: Int): Unit = {
    val bucketed = withRangeBucket(df, col(sortCol) +: tieBreak, nBuckets)
    PersistedIndex.commit(df.sparkSession, path,
        PersistedIndex.range(sortCol, nBuckets)) {
      bucketed.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
      manifest(bucketed, "bucket", sortCol)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(manifestPath(path))
    }
  }

  /** Manifest-driven range scan of a [[writeClustered]] table: consult the
    * sidecar for the buckets whose [min,max] intersects [lo,hi] (a
    * bucket-count-bounded driver collect), then filter the table scan on
    * those bucket VALUES — Spark's partition pruning drops the other
    * `bucket=k/` dirs at planning time (`PartitionFilters` in the scan,
    * asserted in RangeLayoutSpec) — and on the sort column itself, which
    * parquet row-group stats serve inside the surviving buckets. `lo`/`hi`
    * must be literals of the column's stored type (e.g. `Tables.tsLit`)
    * so both prunings see plain comparisons. */
  def prunedRead(spark: SparkSession, path: String, sortCol: String,
                 lo: Column, hi: Column): DataFrame = {
    // pruning on a column the layout was NOT clustered by would consult
    // manifest stats describing a different order
    val by = PersistedIndex.read(spark, path, PersistedIndex.RangeLayout).str("by")
    require(by == sortCol,
      s"$path is range-clustered by [$by], not [$sortCol]; refusing a " +
        "pruned read on the wrong column")
    val mf = spark.read.parquet(manifestPath(path))
    val ids = mf.filter(col(s"min_$sortCol") <= hi && col(s"max_$sortCol") >= lo)
      .select(col("bucket").cast("long")).collect().map(_.getLong(0))
    spark.read.parquet(path)
      .filter(col("bucket").isin(ids.toIndexedSeq: _*))
      .filter(col(sortCol) >= lo && col(sortCol) <= hi)
  }

  /** The rank-split bucket distribution is fully determined by (total
    * rows, nBuckets): bucket b holds exactly
    * ceil((b+1)·total/n) − ceil(b·total/n) rows (see [[withRangeBucket]]).
    * A stamp claim is verified by recomputing that distribution from the
    * manifest's n_rows sum and requiring exact equality — an inflated or
    * deflated nBuckets claim CANNOT reproduce the observed per-bucket
    * counts, so false provenance refuses instead of landing in the params
    * sidecar. Bounded: the manifest has one row per bucket (CLI-capped at
    * 1e6) and the expected-share loop runs on the claimed nBuckets. */
  private def verifyRankSplit(mf: DataFrame, nBuckets: Int,
                              path: String): Unit = {
    val got = mf.select(col("bucket").cast("long"), col("n_rows").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = BigInt(got.values.sum)
    def ceilDiv(a: BigInt, b: BigInt): Long = ((a + b - 1) / b).toLong
    val n = BigInt(nBuckets)
    require(total > 0,
      s"$path manifest is empty — an empty layout carries no provenance " +
        "evidence to verify a stamp against; rewrite instead of stamping")
    val expected = (0 until nBuckets).iterator.map { b =>
      b.toLong -> (ceilDiv((b + 1) * total, n) - ceilDiv(b * total, n))
    }.filter(_._2 > 0).toMap
    require(got == expected,
      s"$path manifest bucket counts do not match a $nBuckets-way " +
        s"rank-split of ${total} rows — the layout was written with a " +
        "different bucket count; refusing to stamp a false provenance")
  }

  /** One-shot MIGRATION stamp for a range layout persisted BEFORE the
    * params sidecar existed: pruned reads now hard-refuse sidecar-less
    * layouts (unknown provenance), which is deliberate fail-loud but left
    * pre-existing on-disk artifacts unreadable short of a full rewrite.
    * The caller asserts the layout's provenance (the clustering column
    * and bucket count it was written with); this verifies that claim
    * against the persisted manifest — the manifest must exist, carry
    * min/max stats for EXACTLY the claimed column, and use bucket ids
    * consistent with the claimed count — then writes the sidecar the
    * current readers require. Refuses if a sidecar is already present
    * (stamping over live provenance is never a migration) or if the
    * manifest contradicts the claim (a mis-stamped layout would prune
    * wrongly — the exact silent corruption the sidecar prevents). */
  def stampExistingLayout(spark: SparkSession, path: String,
                          sortCol: String, nBuckets: Int): Unit = {
    verifyManifestClaim(spark, path, PersistedIndex.RangeLayout, Seq(sortCol),
      nBuckets)
    PersistedIndex.write(spark, path, PersistedIndex.range(sortCol, nBuckets))
  }

  /** The shared half of both migration stamps (this and
    * [[ZOrder.stampExistingLayout]]): no live stamp, a readable manifest
    * with EXACTLY the bucket, count and min/max columns of the claimed
    * layout (containment alone would let a z-order layout stamp as range
    * and then prune wrongly), and the per-bucket counts of an
    * `nBuckets`-way rank split. */
  private[ops] def verifyManifestClaim(spark: SparkSession, path: String,
                                       family: PersistedIndex.Family,
                                       statsCols: Seq[String],
                                       nBuckets: Int): Unit = {
    PersistedIndex.requireUnstamped(spark, path, family)
    val mf = try spark.read.parquet(manifestPath(path))
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$path has no readable manifest at ${manifestPath(path)} — not " +
            s"a ${family.what}; rewrite instead of stamping", e) }
    val cols = mf.columns.toSet
    val want = Set("bucket", "n_rows") ++
      statsCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    require(cols == want,
      s"$path manifest has [${cols.mkString(", ")}], not exactly " +
        s"[${want.mkString(", ")}] — not a ${family.what} on " +
        s"(${statsCols.mkString(", ")}); refusing to stamp a false provenance")
    verifyRankSplit(mf, nBuckets, path)
  }
}
