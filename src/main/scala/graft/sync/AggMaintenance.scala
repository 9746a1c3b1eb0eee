package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Watermark

/** Incremental maintenance of a materialized GROUPED AGGREGATE (batch IVM)
  * — the complement to [[ParquetMergeSink]]'s row-level merge: where the
  * merge sink keeps a row-for-row mirror of the source, this keeps only a
  * (group → cnt/sum/min/max) rollup, updated one watermark slice at a time
  * without ever rescanning history. At 100 TB the difference is the whole
  * point: a nightly "balance per account" table costs one slice scan plus
  * a group-cardinality shuffle, not a full-corpus re-aggregation. The
  * streaming twin is `streaming/IncrementalBalance` (A5/T6); this is the
  * batch lane for stores that arrive as watermark extracts (the reference's
  * own data model, session.py:58).
  *
  * APPEND-ONLY CONTRACT: slices are folded as pure EVENT streams. The
  * reference's row sync treats a re-arriving PK with a bumped `updated` as
  * an UPDATE (session.py:135-151 — ON CONFLICT DO UPDATE overwrites); this
  * rollup has no PK concept, so the same re-arrival is NEW MASS and the
  * row counts twice. Correct for event/transaction tables (the
  * README.md:146-151 balance use-case — every arrival IS a transaction);
  * documented-wrong for row-mirror rollups over keyed, updated-in-place
  * sources — maintain those through [[applySliceKeyed]] (the
  * last-writer-wins lane, which retracts a re-arriving key's prior
  * contribution), or through ParquetMergeSink + a full regroup of the
  * mirror. The a14 gate pins this double-count semantics the way the T4
  * fixture pins the watermark's documented miss; a16 pins the keyed
  * lane's replace semantics against the same re-arrival shape.
  *
  * Only DISTRIBUTIVE aggregates are maintained (cnt, sum, min, max — each
  * merges by re-aggregating partials). The combine is a UNION + one grouped
  * re-aggregation, NEVER a join: union-then-groupBy is null-safe on group
  * keys for free (NULL groups flow through like any other value, no
  * null-safe-equality join pitfall — the Reconcile lesson) and plans as one
  * shuffle keyed on the group columns whose input is group-cardinality ×2,
  * not slice-sized. Sums accumulate in exact DECIMAL so slice order and
  * partial/final splits can never move a bit (the engine-wide a4 rule).
  *
  * Exactly-once protocol: the applied-watermark sidecar `_GRAFT_AGG_WM`
  * (epoch-µs canonical long — core.Watermark) lives INSIDE the table
  * directory and is staged together with the data, so the atomic swap
  * commits rollup and watermark as one unit — there is no window where a
  * crash leaves new data with an old watermark (double-count on replay) or
  * vice versa (silent skip). Slices must be applied contiguously: a replay
  * (`hi` ≤ stored) is a reported no-op, a gap (`lo` ≠ stored) is a typed
  * refusal — silently skipping [stored, lo) would undercount forever.
  * Hadoop parquet readers ignore `_`-prefixed files, so the sidecar rides
  * invisibly beside the data files. Store note: the sidecar rewrites the
  * protocol leans on (empty-slice watermark advance, partitioned root-wm
  * commit) are crash-atomic where SidecarIO has an atomic path (local
  * NIO, HDFS FileContext); on schemes without an AbstractFileSystem
  * binding (s3a, custom stores) SidecarIO stages a two-phase commit and
  * every sidecar read here goes through SidecarIO.read, which serves the
  * committed value at every crash point — see core.SidecarIO's scaladoc
  * for the full argument.
  */
object AggMaintenance {

  /** @param groupsWritten groups materialized by THIS apply (full rollup
    *                      size for a data-bearing slice — the rewrite is
    *                      whole-directory — 0 for no-op replays and
    *                      empty-slice watermark advances). Counted by the
    *                      write job that stages them.
    * @param sliceRows     rows the slice contributed.
    * @param applied       false only for the replay no-op.
    * @param watermarkUs   the stored watermark after this call. */
  final case class AggResult(groupsWritten: Long, sliceRows: Long,
                             applied: Boolean, watermarkUs: Long)

  private val WmFile = "_GRAFT_AGG_WM"
  /** Rollup schema as Catalyst JSON — an empty rollup writes NO parquet
    * part files (Spark skips empty partitions), so the schema must ride a
    * sidecar for [[read]] to serve the schema-correct empty frame. */
  private val SchemaFile = "_GRAFT_AGG_SCHEMA"
  /** Layout stamp of a PARTITIONED rollup (bucket count + columns) — the
    * params-guard convention: a foreign parameterization refuses loud. */
  private val ParamsFile = "_GRAFT_AGG_PARAMS"
  /** Key-state store of the KEYED lane (inside the rollup dir — the `_`
    * prefix hides it from the rollup's own parquet listing, and the
    * whole-dir swap commits state+rollup+watermark as one unit). */
  private val StateDir = "_GRAFT_AGG_STATE"
  /** Exact accumulation type for the maintained sum (the a4 DECIMAL rule;
    * 28 integral digits absorbs ~1e24 of 4-dp mass before overflow). */
  private val SumType = "decimal(28,4)"
  private val ValType = "decimal(18,4)"
  /** Exact sum-of-squares type (v2): (18,4)² is (37,8); summing in
    * decimal(38,8) leaves 30 integral digits — ~1e30 of squared mass —
    * the same overflow headroom analysis as StreamingZScore's BigInt
    * sum-of-squares, kept in DECIMAL here so DuckDB reproduces it. */
  private val SqType = "decimal(38,8)"

  /** One maintained metric column of a whole-directory rollup: stored
    * name + exact type, the slice-scan aggregation producing it, the
    * union-merge aggregation folding old+new partials, and the literal
    * for the schema-bearing empty cold start. v1 (single value column:
    * cnt/sum_val/min_val/max_val) and v2 (multi-column + sum-of-squares)
    * differ ONLY in this list — the exactly-once protocol is shared. */
  private final case class Metric(name: String, typ: String,
                                  partial: Column, merge: Column,
                                  emptyLit: Column)

  private def cntMetric: Metric = Metric("cnt", "long",
    count(lit(1)), sum(col("cnt")).cast("long"), lit(0L))

  private def v1Metrics(valueCol: String): Seq[Metric] = {
    val c = col(valueCol).cast(ValType)
    Seq(cntMetric,
      Metric("sum_val", SumType, sum(c).cast(SumType),
        sum(col("sum_val")).cast(SumType), lit(null).cast(SumType)),
      Metric("min_val", ValType, min(c),
        min(col("min_val")), lit(null).cast(ValType)),
      Metric("max_val", ValType, max(c),
        max(col("max_val")), lit(null).cast(ValType)))
  }

  /** v3 DISTINCT-COUNT lane: per group, `cnt` plus one Apache DataSketches
    * HLL sketch per distinct-counted column. Exact COUNT(DISTINCT) is not
    * distributive — maintaining it would mean keeping every distinct
    * value — but HLL sketches ARE mergeable (register-wise max), so the
    * union+regroup combine maintains them slice-by-slice like any sum:
    * the only distinct-count that survives incremental maintenance at
    * 100 TB. Estimates come out via [[readDistinct]]; typical error at
    * the default lgConfigK is ~1.6%, and the merged estimate is NOT
    * byte-identical to a one-shot sketch (DataSketches' HIP estimator is
    * stream-order-dependent; unions fall back to the composite
    * estimator) — contracts gate it against EXACT distinct counts with
    * tolerance, never by hash. */
  private def v3Metrics(distinctCols: Seq[String]): Seq[Metric] =
    cntMetric +: distinctCols.map { v =>
      Metric(s"hll_$v", "binary",
        hll_sketch_agg(col(v)),
        hll_union_agg(col(s"hll_$v")),
        lit(null).cast("binary"))
    }

  private def v2Metrics(valueCols: Seq[String]): Seq[Metric] =
    cntMetric +: valueCols.flatMap { v =>
      val c = col(v).cast(ValType)
      Seq(
        // per-column NON-NULL count: cnt counts rows, but a NULL value
        // contributes nothing to sum/sumsq — deriving avg/var over the
        // row count would silently dilute them on a nullable column
        Metric(s"cntv_$v", "long", count(c),
          sum(col(s"cntv_$v")).cast("long"), lit(0L)),
        Metric(s"sum_$v", SumType, sum(c).cast(SumType),
          sum(col(s"sum_$v")).cast(SumType), lit(null).cast(SumType)),
        Metric(s"sumsq_$v", SqType, sum((c * c).cast(SqType)).cast(SqType),
          sum(col(s"sumsq_$v")).cast(SqType), lit(null).cast(SqType)),
        Metric(s"min_$v", ValType, min(c),
          min(col(s"min_$v")), lit(null).cast(ValType)),
        Metric(s"max_$v", ValType, max(c),
          max(col(s"max_$v")), lit(null).cast(ValType)))
    }

  /** The applied watermark (canonical µs), None before the first apply.
    * READ-ONLY: inside a whole-dir swap crash window (destination without
    * its sidecar, backup present) the answer comes from the BACKUP — the
    * committed state — without mutating anything, so a concurrent apply's
    * in-flight swap can never be broken by a reader. Healing itself is
    * the next apply's job (single-writer). */
  def watermark(spark: SparkSession, targetDir: String): Option[Long] = {
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readWm(fs, new Path(targetDir, WmFile))
      .orElse(readWm(fs,
        new Path(bakRoot(targetDir) + "_dir", WmFile)))
  }

  /** Apply the half-open slice [lo, hi) of `source` (canonical-µs bounds
    * over `orderCol`) to the rollup at `targetDir`, maintaining per-group
    * (cnt, sum_val, min_val, max_val) over `valueCol`.
    *
    * Cold start (no data at targetDir) creates the rollup from this slice;
    * `lo` is the caller's T2-style starting cut. Replays no-op; gaps refuse
    * typed (`GraftError.InvalidConfig`). An EMPTY slice still advances the
    * watermark (single sidecar rewrite, data untouched) — an idle poll must
    * not wedge the contiguity chain. */
  def applySlice(spark: SparkSession, targetDir: String, source: DataFrame,
                 orderCol: String, groupCols: Seq[String], valueCol: String,
                 lo: Long, hi: Long): AggResult = {
    require(groupCols.nonEmpty, "applySlice requires at least one group column")
    require(hi >= lo, s"applySlice: hi ($hi) must be >= lo ($lo)")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healWholeDir(fs, targetDir)
    // a v1 whole-dir rollup is the ONLY unstamped layout: any stamp at
    // all means some other lane owns this table — laneFor names it
    readText(fs, new Path(targetDir, ParamsFile)).foreach { p =>
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir is stamped '$p', not a v1 whole-directory " +
          s"rollup; use ${laneFor(p)}, or rebuild")
    }
    applyWholeDir(spark, targetDir, source, orderCol, groupCols,
      v1Metrics(valueCol), stamp = None, lo, hi)
  }

  /** v2 multi-value rollup: per group, `cnt` plus — for EACH value column
    * v — exact `sum_v` / `sumsq_v` (DECIMAL) and `min_v` / `max_v`. The
    * sum-of-squares is what [[readDerived]] turns into avg/variance
    * WITHOUT rescanning history: maintained moments, the trigger-
    * maintained aggregate of README.md:156-198 generalized beyond SUM.
    * Same exactly-once whole-directory protocol as [[applySlice]]; the
    * layout is stamped `v2 …` in `_GRAFT_AGG_PARAMS` (riding the swap, so
    * stamp and data commit together) and every cross-parameterization —
    * v1 apply on a v2 table, v2 apply on a v1 or partitioned table, a v2
    * apply with different value/group/order columns — refuses typed. */
  def applySliceV2(spark: SparkSession, targetDir: String, source: DataFrame,
                   orderCol: String, groupCols: Seq[String],
                   valueCols: Seq[String], lo: Long, hi: Long): AggResult = {
    require(groupCols.nonEmpty,
      "applySliceV2 requires at least one group column")
    require(valueCols.nonEmpty,
      "applySliceV2 requires at least one value column")
    require(valueCols.distinct == valueCols,
      s"duplicate value columns: ${valueCols.mkString(", ")}")
    require(hi >= lo, s"applySliceV2: hi ($hi) must be >= lo ($lo)")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healWholeDir(fs, targetDir)
    requireStampSafe("group", groupCols)
    requireStampSafe("value", valueCols)
    requireStampSafe("order", Seq(orderCol))
    val params = paramsStringV2(groupCols, valueCols, orderCol)
    validateStampedFlat("applySliceV2", fs, targetDir, params)
    applyWholeDir(spark, targetDir, source, orderCol, groupCols,
      v2Metrics(valueCols), stamp = Some(params), lo, hi)
  }

  /** Shared stamp validation for the STAMPED whole-directory fronts
    * (v2 moments / v3 distinct). A wrong-lane stamp names the lane that
    * owns it ([[laneFor]]); a same-lane parameter mismatch says so
    * without suggesting the op the caller just invoked. */
  private def validateStampedFlat(op: String, fs: FileSystem,
                                  targetDir: String, params: String): Unit = {
    readText(fs, new Path(targetDir, ParamsFile)) match {
      case Some(p) if p == params =>
      case Some(p) if laneFor(p) != op =>
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir is stamped '$p'; use ${laneFor(p)}, " +
            "or rebuild")
      case Some(p) =>
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir was built with different parameters " +
            s"($p); refusing to apply $params — column sets would mix")
      case None if ParquetMergeSink.hasData(fs, new Path(targetDir)) ||
          readWm(fs, new Path(targetDir, WmFile)).isDefined =>
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir has no stamp — a v1 whole-directory " +
            s"rollup or an unknown layout; $op refuses to merge into it")
      case None =>
    }
  }

  /** v3 whole-directory rollup maintaining per-group HLL DISTINCT-COUNT
    * sketches (see [[v3Metrics]] for why sketches are the only
    * slice-maintainable distinct count). Same exactly-once protocol and
    * stamp discipline as [[applySliceV2]]; stamped `v3 flat …`, every
    * cross-parameterization refusing typed. Estimates via
    * [[readDistinct]]. */
  def applySliceDistinct(spark: SparkSession, targetDir: String,
                         source: DataFrame, orderCol: String,
                         groupCols: Seq[String], distinctCols: Seq[String],
                         lo: Long, hi: Long): AggResult = {
    require(groupCols.nonEmpty,
      "applySliceDistinct requires at least one group column")
    require(distinctCols.nonEmpty,
      "applySliceDistinct requires at least one distinct-count column")
    require(distinctCols.distinct == distinctCols,
      s"duplicate distinct columns: ${distinctCols.mkString(", ")}")
    require(hi >= lo, s"applySliceDistinct: hi ($hi) must be >= lo ($lo)")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healWholeDir(fs, targetDir)
    requireStampSafe("group", groupCols)
    requireStampSafe("distinct", distinctCols)
    requireStampSafe("order", Seq(orderCol))
    val params = paramsStringV3(groupCols, distinctCols, orderCol)
    validateStampedFlat("applySliceDistinct", fs, targetDir, params)
    applyWholeDir(spark, targetDir, source, orderCol, groupCols,
      v3Metrics(distinctCols), stamp = Some(params), lo, hi)
  }

  /** Read a v3 rollup with per-column `approx_distinct_v` estimates
    * (BIGINT) appended from the maintained sketches. A group whose column
    * was all-NULL in every slice reads 0 — hll_sketch_agg emits an EMPTY
    * sketch for zero non-null inputs, and 0 is exactly SQL's
    * COUNT(DISTINCT) over an all-NULL group; the coalesce additionally
    * covers a null sketch cell (unreachable through the apply path, but
    * total is better than almost-total). Refuses typed on non-v3
    * tables. */
  def readDistinct(spark: SparkSession, targetDir: String): DataFrame = {
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params = readText(fs, new Path(targetDir, ParamsFile))
      .orElse(readText(fs, new Path(bakRoot(targetDir) + "_dir", ParamsFile)))
      .getOrElse(throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir carries no $ParamsFile stamp — not a v3 " +
          "distinct-count rollup"))
    if (!params.startsWith("v3 "))
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir is '$params', not a v3 distinct-count rollup")
    val distinctCols = params.split(' ')
      .find(_.startsWith("distinct=")).map(_.stripPrefix("distinct="))
      .getOrElse(throw graft.core.GraftError.InvalidConfig(
        s"malformed v3 stamp at $targetDir: '$params'"))
      .split('+').toSeq
    distinctCols.foldLeft(read(spark, targetDir)) { (df, v) =>
      df.withColumn(s"approx_distinct_$v",
        coalesce(when(col(s"hll_$v").isNotNull,
            hll_sketch_estimate(col(s"hll_$v"))), lit(0L)))
    }
  }

  /** KEYED (last-writer-wins) rollup IVM — the row-mirror complement to
    * [[applySlice]]'s append-only contract. The reference's own sync
    * target is a keyed mirror: a re-arriving PK with a bumped `updated`
    * REPLACES its prior row (reference session.py:135-151 — ON CONFLICT
    * DO UPDATE), so a rollup over that mirror must count each key ONCE at
    * its latest value — exactly what the a14 gate pins the append-only
    * lane as NOT doing. This lane maintains per-group
    * (`cnt` = live keys, `sum_val` = exact sum of latest values) such
    * that after every apply the rollup equals
    * `SELECT group, count(*), sum(value) FROM latest_per_key(mirror)`
    * without ever re-aggregating the mirror.
    *
    * Mechanics: beside the rollup lives a KEY-STATE store
    * (`_GRAFT_AGG_STATE/` — hidden from the rollup read by the `_`
    * prefix; key → group cols + value of the key's latest arrival), the
    * minimal projection of the mirror that retraction needs. A slice
    * folds as:
    *   1. latest-per-key WITHIN the slice (row_number over the order
    *      column, deterministic payload-hash tie-break — the normalize
    *      discipline). The state needs NO timestamp: contiguous half-open
    *      slices guarantee every re-arrival outranks every stored row.
    *   2. delta = (+1, +value) per arriving key in its NEW group and
    *      (−1, −old value) per already-known key in its OLD group (the
    *      state lookup) — a key that changes group retracts from one
    *      group and adds to the other for free.
    *   3. rollup ← union(rollup, grouped delta) re-aggregated (the same
    *      group-cardinality union+regroup combine as every lane; the
    *      DECIMAL sums cancel exactly), dropping groups whose live-key
    *      count reached zero; state ← (state anti-join slice keys) ∪
    *      slice-latest.
    *
    * Scale shape (100 TB): the state lookup and the state rewrite are
    * keyed equi-joins DRIVEN by the slice — the arriving key set is
    * broadcast when small (the steady-state delta), so the big state is
    * scanned once and never shuffled; past the broadcast cutoff AQE plans
    * the shuffle join a bulk slice genuinely needs. Only cnt/sum are
    * maintained: min/max are NOT retractable without per-group value
    * history (a 2-heap / segment-tree structure — scoped out, NOTES.md).
    *
    * Same whole-directory exactly-once protocol as [[applySlice]]: state,
    * rollup, stamp and watermark stage together and commit by ONE atomic
    * swap, so mirror-state and rollup can never diverge across a crash.
    * Stamped `keyed flat …`; every cross-lane / cross-parameterization
    * apply refuses typed (and the append-only lanes refuse this table —
    * the two contracts cannot mix silently). Key columns must be
    * non-NULL: a NULL key never equi-joins its own prior arrival, so its
    * retraction would silently miss — a slice carrying one refuses
    * typed.
    *
    * `tombstoneCol` (CDC deletes): when set, a slice row whose tombstone
    * column is true is a DELETE of its key — the key's prior
    * contribution retracts (group vanishes with its last key, exactly
    * like a move-away) and the key leaves the state store; its payload
    * columns may be NULL (delete feeds rarely carry one). NULL tombstone
    * reads as false (the common CDC shape). A tombstone for a never-seen
    * key is an idempotent no-op. The column is part of the rollup's
    * frozen parameterization (`tomb=` stamp token): mixing tombstoned
    * and tombstone-blind applies against one rollup would silently treat
    * delete markers as upserts, so it refuses like any other foreign
    * parameterization. */
  def applySliceKeyed(spark: SparkSession, targetDir: String,
                      source: DataFrame, orderCol: String,
                      keyCols: Seq[String], groupCols: Seq[String],
                      valueCol: String, lo: Long, hi: Long,
                      tombstoneCol: Option[String] = None): AggResult = {
    require(keyCols.nonEmpty,
      "applySliceKeyed requires at least one key column")
    require(groupCols.nonEmpty,
      "applySliceKeyed requires at least one group column")
    require(keyCols.distinct == keyCols,
      s"duplicate key columns: ${keyCols.mkString(", ")}")
    require(groupCols.distinct == groupCols,
      s"duplicate group columns: ${groupCols.mkString(", ")}")
    require(!(keyCols ++ groupCols).contains(valueCol),
      s"value column '$valueCol' is also a key/group column — aggregate a " +
        "copy under a different name")
    require(!(keyCols ++ groupCols).contains(orderCol) && orderCol != valueCol,
      s"order column '$orderCol' cannot also be a key/group/value column " +
        "in the keyed lane (a group that moves on every touch has no " +
        "stable retraction target)")
    tombstoneCol.foreach { t =>
      require(!(keyCols ++ groupCols).contains(t) && t != valueCol &&
          t != orderCol,
        s"tombstone column '$t' cannot also be a key/group/value/order " +
          "column (a delete marker that moves the group it deletes from " +
          "is unresolvable)")
      requireStampSafe("tombstone", Seq(t))
      requireTombstoneType(source, t)
    }
    require(hi >= lo, s"applySliceKeyed: hi ($hi) must be >= lo ($lo)")
    val wmType = source.schema(orderCol).dataType
    require(Watermark.supported(wmType),
      s"order column '$orderCol' must be integral-numeric or timestamp-typed; " +
        s"got ${wmType.simpleString}")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healWholeDir(fs, targetDir)
    requireStampSafe("key", keyCols)
    requireStampSafe("group", groupCols)
    requireStampSafe("value", Seq(valueCol))
    requireStampSafe("order", Seq(orderCol))
    val params = paramsStringKeyed(keyCols, groupCols, valueCol, orderCol) +
      tombstoneCol.map(t => s" tomb=$t").getOrElse("")
    validateStampedFlat("applySliceKeyed", fs, targetDir, params)

    val dst = new Path(targetDir)
    val exists = ParquetMergeSink.hasData(fs, dst)
    val stored = readWm(fs, new Path(dst, WmFile))
    if (exists && stored.isEmpty)
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir has data but no $WmFile sidecar — not an " +
          "AggMaintenance table (refusing to merge into an unknown layout)")
    stored match {
      case Some(wm) if hi <= wm => // replay — already folded in
        return AggResult(0L, 0L, applied = false, watermarkUs = wm)
      case Some(wm) =>
        if (lo != wm) throw graft.core.GraftError.InvalidConfig(
          s"non-contiguous slice: stored watermark is $wm but slice starts " +
            s"at $lo — applying it would silently lose [$wm, $lo)")
      case None => // cold start: lo is the caller's opening cut
    }

    val statePath = new Path(dst, StateDir)
    // existence, not hasData: the empty-slice cold start materializes an
    // empty state dir (no part files) beside the empty rollup
    if (exists && !fs.exists(statePath))
      throw graft.core.GraftError.InvalidConfig(
        s"keyed rollup at $targetDir has data but no $StateDir store — " +
          "state and rollup commit together, so this is not a layout the " +
          "keyed lane wrote; rebuild")
    val valC = col(valueCol).cast(ValType)
    val emptyState = source
      .select((keyCols ++ groupCols).map(col) :+ valC.as(valueCol): _*)
      .limit(0)
    // committed state, or the schema-correct empty frame before the first
    // data-bearing slice (cold start / empty-slice-only cold start)
    val state =
      if (ParquetMergeSink.hasData(fs, statePath))
        spark.read.parquet(statePath.toString)
      else emptyState

    val slice = source.filter(
      col(orderCol) >= Watermark.litFor(wmType, lo) &&
      col(orderCol) < Watermark.litFor(wmType, hi))
    // latest-per-key within the slice; deterministic tie-break on the
    // payload hash so a retry can never crown a different winner
    // NULL tombstone reads as false; the normalized flag (selected
    // FIRST, so the window hashes the post-projection column) joins the
    // tie-break hash so a same-ts delete/upsert pair ranks
    // deterministically
    // try_cast, not cast: under ANSI (the Spark 4 default) a malformed
    // string flag would kill the job as a raw cast error mid-shuffle;
    // try_cast yields NULL either way, which the __tombBad gate below
    // turns into the typed refusal
    val tombC = tombstoneCol.map(t =>
      coalesce(col(t).try_cast("boolean"), lit(false)))
    // the data half of requireTombstoneType: a raw non-NULL flag whose
    // boolean cast is NULL (a malformed string CDC marker) must refuse,
    // not silently read as "upsert"
    val tombBadC = tombstoneCol.map(t =>
      (col(t).isNotNull && col(t).try_cast("boolean").isNull).as("__tombBad"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc,
        xxhash64((groupCols.map(col) :+ col(valueCol)) ++
          tombstoneCol.map(_ => col("__tomb")).toSeq: _*).desc)
    val ranked = slice
      .select((keyCols ++ groupCols).map(col) ++
        Seq(valC.as(valueCol), col(orderCol)) ++
        tombC.map(_.as("__tomb")).toSeq ++ tombBadC.toSeq: _*)
      .withColumn("__rn", row_number().over(w))
      .persist()
    try {
      // ONE pass over the persisted frame answers every admission
      // question — row count, NULL-key count, malformed-tombstone count
      // (separate count jobs used to cost a fixed job latency each, per
      // micro-batch in the streaming fold)
      val admission = ranked.agg(count(lit(1)).as("n"),
        count(when(keyCols.map(col(_).isNull).reduce(_ || _), lit(1)))
          .as("nullk"),
        (if (tombstoneCol.isDefined) count(when(col("__tombBad"), lit(1)))
         else count(when(lit(false), lit(1)))).as("badtomb")).first()
      val rawRows = admission.getLong(0)
      if (rawRows == 0L) {
        // idle poll: advance the watermark only (the applyWholeDir
        // empty-slice contract); cold start materializes the readable
        // empty rollup + stamp first
        if (!exists && !fs.exists(new Path(dst, SchemaFile))) {
          val empty = source.select(groupCols.map(col): _*).limit(0)
            .withColumn("cnt", lit(0L))
            .withColumn("sum_val", lit(null).cast(SumType))
          empty.write.mode("overwrite").parquet(targetDir)
          emptyState.write.mode("overwrite").parquet(statePath.toString)
          writeText(fs, new Path(dst, SchemaFile), empty.schema.json)
          writeText(fs, new Path(dst, ParamsFile), params)
        }
        writeWm(fs, new Path(dst, WmFile), hi)
        return AggResult(0L, 0L, applied = true, watermarkUs = hi)
      }
      val nullKeys = admission.getLong(1)
      if (nullKeys > 0L)
        throw graft.core.GraftError.InvalidConfig(
          s"slice [$lo, $hi) carries $nullKeys row(s) with a NULL key " +
            s"(${keyCols.mkString(", ")}) — a NULL key cannot be matched " +
            "to its prior arrival, so last-writer-wins semantics are " +
            "undefined; filter or repair the source")
      val badTomb = admission.getLong(2)
      if (badTomb > 0L)
        throw graft.core.GraftError.InvalidConfig(
          s"slice [$lo, $hi) carries $badTomb row(s) whose tombstone " +
            s"'${tombstoneCol.get}' does not cast to boolean — treating " +
            "malformed delete markers as upserts would silently mix " +
            "tombstoned and tombstone-blind semantics; repair the source " +
            "or cast the column explicitly")

      val latest = ranked.filter(col("__rn") === 1)
        .drop("__rn", orderCol, "__tombBad")
      // a tombstoned key retracts (its key is in keysOnly) but never
      // re-adds and leaves the state — deletion is "move away from every
      // group"
      val live = if (tombstoneCol.isEmpty) latest
        else latest.filter(!col("__tomb"))
      val keysOnly0 = latest.select(keyCols.map(col): _*)
      val keysOnly =
        if (rawRows <= broadcastKeyRowCutoff(keyCols)) broadcast(keysOnly0)
        else keysOnly0
      // old contributions of re-arriving keys, retracted from their OLD
      // group at their OLD value
      val minus = state.join(keysOnly, keyCols, "inner")
        .select(groupCols.map(col) :+ col(valueCol): _*)
        .withColumn("__sign", lit(-1L))
      val plus = live.select(groupCols.map(col) :+ col(valueCol): _*)
        .withColumn("__sign", lit(1L))
      val delta = plus.unionByName(minus)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("__sign")).cast("long").as("cnt"),
          sum((col(valueCol) * col("__sign")).cast(SumType))
            .cast(SumType).as("sum_val"))

      val merged0 =
        if (!exists) delta
        else spark.read.parquet(targetDir)
          .select(groupCols.map(col) ++
            Seq(col("cnt").cast("long"), col("sum_val").cast(SumType)): _*)
          .unionByName(delta)
          .groupBy(groupCols.map(col): _*)
          .agg(sum(col("cnt")).cast("long").as("cnt"),
            sum(col("sum_val")).cast(SumType).as("sum_val"))
      // a group whose last live key moved away reads cnt=0 — the live
      // mirror has no such row, so neither does the rollup
      val merged = merged0.filter(col("cnt") > 0L)
      val newState = state.join(keysOnly, keyCols, "left_anti")
        .unionByName(live.select(
          (keyCols ++ groupCols).map(col) :+ col(valueCol): _*))

      val tmp = targetDir.stripSuffix("/") + ".__agg_tmp"
      val tmpPath = new Path(tmp)
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true) // stale crash debris
      val groups = ParquetMergeSink.countedWrite(merged)(
        _.write.mode("overwrite").parquet(tmp))
      newState.write.mode("overwrite")
        .parquet(tmp + "/" + StateDir)
      writeText(fs, new Path(tmpPath, SchemaFile), merged.schema.json)
      writeText(fs, new Path(tmpPath, ParamsFile), params)
      writeWm(fs, new Path(tmpPath, WmFile), hi)
      swapWholeDir(fs, targetDir, tmpPath)
      AggResult(groups, rawRows, applied = true, watermarkUs = hi)
    } finally { ranked.unpersist(); () }
  }

  /** The shared whole-directory exactly-once core — v1, v2 and v3 differ
    * only in their [[Metric]] list and optional params stamp. See
    * [[applySlice]] for the protocol contract. */
  private def applyWholeDir(spark: SparkSession, targetDir: String,
                            source: DataFrame, orderCol: String,
                            groupCols: Seq[String], metrics: Seq[Metric],
                            stamp: Option[String],
                            lo: Long, hi: Long): AggResult = {
    val wmType = source.schema(orderCol).dataType
    require(Watermark.supported(wmType),
      s"order column '$orderCol' must be integral-numeric or timestamp-typed; " +
        s"got ${wmType.simpleString}")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(targetDir)
    val exists = ParquetMergeSink.hasData(fs, dst)
    val stored = readWm(fs, new Path(dst, WmFile))
    if (exists && stored.isEmpty)
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir has data but no $WmFile sidecar — not an " +
          "AggMaintenance table (refusing to merge into an unknown layout)")

    stored match {
      case Some(wm) if hi <= wm => // replay — already folded in
        return AggResult(0L, 0L, applied = false, watermarkUs = wm)
      case Some(wm) =>
        if (lo != wm) throw graft.core.GraftError.InvalidConfig(
          s"non-contiguous slice: stored watermark is $wm but slice starts " +
            s"at $lo — applying it would silently lose [$wm, $lo)")
      case None => // cold start: lo is the caller's opening cut
    }

    val slice = source.filter(
      col(orderCol) >= Watermark.litFor(wmType, lo) &&
      col(orderCol) < Watermark.litFor(wmType, hi))
    val partial = slice.groupBy(groupCols.map(col): _*)
      .agg(metrics.head.partial.as(metrics.head.name),
        metrics.tail.map(m => m.partial.as(m.name)): _*)
      .persist()
    try {
      // ONE scalar pass over the persisted partial: the slice's row count
      // (cnt leads every lane), None for an empty slice. Grouped by a
      // constant, not a global aggregate: an empty partial then yields no
      // row, and AQE skips the aggregate's own stage
      val sliceRows = partial.groupBy(lit(true)).agg(sum(col("cnt")))
        .collect().headOption.map(_.getLong(1))
      if (sliceRows.isEmpty) {
        // idle poll with a moving cut: advance the watermark, leave the
        // data files untouched (a one-file overwrite; replay-safe — a
        // crash mid-write just re-runs the same advance). Cold start on an
        // empty opening slice first materializes an empty rollup so the
        // table is readable (schema-bearing) from its first poll on.
        if (!exists && !fs.exists(new Path(dst, SchemaFile))) {
          // an empty write leaves one schema-bearing part file; the schema
          // sidecar beside it is what a reader falls back to when it finds
          // no data file (the dir itself may pre-exist, e.g. a fresh mkdtemp)
          val empty = emptyRollup(spark, source, groupCols, metrics)
          empty.write.mode("overwrite").parquet(targetDir)
          writeText(fs, new Path(dst, SchemaFile), empty.schema.json)
          stamp.foreach(writeText(fs, new Path(dst, ParamsFile), _))
        }
        writeWm(fs, new Path(dst, WmFile), hi)
        return AggResult(0L, 0L, applied = true, watermarkUs = hi)
      }

      val merged =
        if (!exists) partial // includes the empty-rollup cold-start successor
        else {
          val existing = spark.read.parquet(targetDir)
            .select((groupCols.map(col) ++
              metrics.map(m => col(m.name).cast(m.typ))): _*)
          existing.unionByName(partial)
            .groupBy(groupCols.map(col): _*)
            .agg(metrics.head.merge.as(metrics.head.name),
              metrics.tail.map(m => m.merge.as(m.name)): _*)
        }

      val tmp = targetDir.stripSuffix("/") + ".__agg_tmp"
      val tmpPath = new Path(tmp)
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true) // stale crash debris
      val groups = ParquetMergeSink.countedWrite(merged)(
        _.write.mode("overwrite").parquet(tmp))
      writeText(fs, new Path(tmpPath, SchemaFile), merged.schema.json)
      // the v2 stamp rides the swap: stamp and data commit as one unit
      stamp.foreach(writeText(fs, new Path(tmpPath, ParamsFile), _))
      writeWm(fs, new Path(tmpPath, WmFile), hi) // watermark rides the swap
      swapWholeDir(fs, targetDir, tmpPath)
      AggResult(groups, sliceRows.get, applied = true, watermarkUs = hi)
    } finally { partial.unpersist(); () }
  }

  /** Bucket-PARTITIONED slice apply — the billion-group form of
    * [[applySlice]]. The whole-directory swap above rewrites the full
    * rollup every slice: O(groups) per apply, fine to ~1e8 groups, wrong
    * at per-document granularity on a 100 TB corpus. Here the rollup is
    * laid out as `__bucket=K/` partitions (K = pmod(hash(group key), n))
    * and one apply rewrites ONLY the buckets the slice actually touched —
    * per-apply cost is slice-scan + (touched buckets × bucket size), and
    * a delta that touches few groups leaves the rest of a billion-group
    * rollup untouched on disk.
    *
    * Exactly-once gets harder than the whole-dir case because bucket
    * commits can't be one atomic rename, so the protocol is two-level:
    *   - each bucket's data + its OWN `_GRAFT_AGG_WM` sidecar commit
    *     together by one per-bucket rename swap (staging and backup live
    *     OUTSIDE the root — `<root>.__agg_tmp` / `<root>.__agg_bak` — so
    *     partition discovery can never see half-swapped debris as data);
    *   - the ROOT watermark commits only after every touched bucket did.
    * A crash mid-loop leaves root wm = lo and a mix of bucket wms; the
    * re-run recomputes the same slice and SKIPS buckets whose wm already
    * reached `hi` (their data already includes this slice — re-merging
    * would double-count) while finishing the rest. Replays after the root
    * commit no-op exactly like the whole-dir path.
    *
    * The layout is stamped by a `_GRAFT_AGG_PARAMS` sidecar (bucket count,
    * group/value/order columns). A mismatched parameterization — or
    * pointing the partitioned apply at a whole-dir rollup or vice versa —
    * refuses loud instead of silently mixing hash spaces (the engine-wide
    * params-guard convention from the ANN index family).
    *
    * Sizing: the whole-dir [[applySlice]] is the right tool to ~1e8 groups
    * (one rewrite job, no per-bucket constants); beyond that, partition
    * with roughly √(groups) buckets so a single bucket's rewrite stays
    * executor-memory-sized while a small delta still prunes most of them. */
  def applySlicePartitioned(spark: SparkSession, targetDir: String,
                            source: DataFrame, orderCol: String,
                            groupCols: Seq[String], valueCol: String,
                            lo: Long, hi: Long, nBuckets: Int): AggResult = {
    requireStampSafe("group", groupCols)
    requireStampSafe("value", Seq(valueCol))
    requireStampSafe("order", Seq(orderCol))
    val params = paramsString(nBuckets, groupCols, valueCol, orderCol)
    validatePartitioned("applySlicePartitioned", spark, targetDir, params)
    applyPartitionedCore(spark, targetDir, source, orderCol, groupCols,
      v1Metrics(valueCol), params, lo, hi, nBuckets)
  }

  /** The bucket-partitioned form of [[applySliceV2]]: multi-value MOMENTS
    * (cnt + per-column non-null count / exact sum / sum-of-squares /
    * min / max) over the `__bucket=K/` layout — per-DOCUMENT statistics
    * at corpus scale, where one apply rewrites only the buckets the
    * slice touched and [[readDerived]] serves avg/variance without a
    * history rescan. Same two-level exactly-once protocol as the v1
    * partitioned form (per-bucket wm swaps, root wm last, interior-
    * watermark split recovery); stamped `v2 buckets=…` and cross-refusing
    * every other parameterization. */
  def applySlicePartitionedV2(spark: SparkSession, targetDir: String,
                              source: DataFrame, orderCol: String,
                              groupCols: Seq[String], valueCols: Seq[String],
                              lo: Long, hi: Long,
                              nBuckets: Int): AggResult = {
    require(valueCols.nonEmpty,
      "applySlicePartitionedV2 requires at least one value column")
    require(valueCols.distinct == valueCols,
      s"duplicate value columns: ${valueCols.mkString(", ")}")
    requireStampSafe("group", groupCols)
    requireStampSafe("value", valueCols)
    requireStampSafe("order", Seq(orderCol))
    val params = paramsStringV2Part(nBuckets, groupCols, valueCols, orderCol)
    validatePartitioned("applySlicePartitionedV2", spark, targetDir, params)
    applyPartitionedCore(spark, targetDir, source, orderCol, groupCols,
      v2Metrics(valueCols), params, lo, hi, nBuckets)
  }

  /** The bucket-partitioned form of [[applySliceDistinct]]: per-group HLL
    * distinct-count sketches over the `__bucket=K/` layout — per-entity
    * approximate distinct counts at billion-group scale, touched buckets
    * only. Stamped `v3 buckets=…`; [[readDistinct]] serves estimates. */
  def applySlicePartitionedDistinct(spark: SparkSession, targetDir: String,
                                    source: DataFrame, orderCol: String,
                                    groupCols: Seq[String],
                                    distinctCols: Seq[String],
                                    lo: Long, hi: Long,
                                    nBuckets: Int): AggResult = {
    require(distinctCols.nonEmpty,
      "applySlicePartitionedDistinct requires at least one distinct column")
    require(distinctCols.distinct == distinctCols,
      s"duplicate distinct columns: ${distinctCols.mkString(", ")}")
    requireStampSafe("group", groupCols)
    requireStampSafe("distinct", distinctCols)
    requireStampSafe("order", Seq(orderCol))
    val params = paramsStringV3Part(nBuckets, groupCols, distinctCols,
      orderCol)
    validatePartitioned("applySlicePartitionedDistinct", spark, targetDir,
      params)
    applyPartitionedCore(spark, targetDir, source, orderCol, groupCols,
      v3Metrics(distinctCols), params, lo, hi, nBuckets)
  }

  /** The bucket-partitioned form of [[applySliceKeyed]] — last-writer-wins
    * rollup maintenance at billion-KEY scale. The flat keyed lane rewrites
    * the whole rollup AND the whole key-state store on every slice —
    * O(keys) per apply, the one cost that grows with the mirror, not the
    * slice. Here both sides are hash-bucketed INDEPENDENTLY:
    *
    *   - rollup: `__bucket=K/` on the GROUP hash (the a8 layout) — a
    *     slice rewrites only the buckets its delta touches;
    *   - key state: `_GRAFT_AGG_STATE/__kbucket=K/` on the KEY hash
    *     (xxhash64; keys are ~orders of magnitude finer than groups, so
    *     `nKeyBuckets` is sized separately) — the retraction lookup reads
    *     and the state rewrite touches only the buckets where the slice's
    *     arriving keys land. Steady-state cost is O(slice + touched
    *     buckets), never O(mirror).
    *
    * Exactly-once across crashes WITHOUT a cross-bucket transaction, by
    * commit ORDER: stage everything first (one job for the merged rollup
    * buckets, one for the rewritten state buckets), then swap rollup
    * buckets (per-bucket wm = hi), THEN state buckets, root wm last.
    *   - A crash during the rollup phase leaves the state store fully
    *     OLD, so a re-run recomputes the identical deltas (the
    *     latest-per-key window is deterministic: payload-hash tie-break)
    *     and per-bucket watermarks skip the already-committed buckets.
    *   - A crash during the state phase means EVERY rollup bucket
    *     committed — the re-run's delta is discarded wholesale (each
    *     touched bucket skips on wm), and the state rewrite is
    *     IDEMPOTENT per bucket: (state ∖ sliceKeys) ∪ sliceLatest maps
    *     an already-rewritten bucket to itself. The delta a re-run
    *     derives from a half-new state store can only touch groups the
    *     original attempt touched (old-group rows retract into original
    *     minus-groups, new-group rows into original plus-groups), so no
    *     unswapped bucket can receive a corrupt merge — and an invariant
    *     check below turns any violation of the ordering into a typed
    *     error instead of silent double-count.
    *   - A crashed attempt with a DIFFERENT cut splits at interior
    *     bucket watermarks exactly like the append-only core (the wm set
    *     is the union over rollup and state buckets).
    *
    * cnt/sum only, same contract surface as the flat lane (NULL-key
    * refusal, cnt=0 group removal, `keyed buckets=… kbuckets=…` stamp
    * cross-refusing every other lane). [[rebucket]] grows the ROLLUP
    * bucket count (state rides across unchanged — independent hash
    * spaces). */
  def applySliceKeyedPartitioned(spark: SparkSession, targetDir: String,
                                 source: DataFrame, orderCol: String,
                                 keyCols: Seq[String],
                                 groupCols: Seq[String], valueCol: String,
                                 lo: Long, hi: Long, nBuckets: Int,
                                 nKeyBuckets: Int,
                                 tombstoneCol: Option[String] = None)
      : AggResult =
    applyKeyedPartitionedCore(spark, targetDir, source, orderCol, keyCols,
      groupCols, Seq(valueCol), keyedV1Metrics(valueCol),
      paramsStringKeyedPart(nBuckets, nKeyBuckets, keyCols, groupCols,
        valueCol, orderCol) +
        tombstoneCol.map(t => s" tomb=$t").getOrElse(""),
      "applySliceKeyedPartitioned", lo, hi, nBuckets, nKeyBuckets,
      tombstoneCol)

  /** The keyed MOMENTS lane: avg/variance over a live keyed mirror,
    * maintained last-writer-wins at bucket-partitioned scale. Per value
    * column the rollup keeps the RETRACTION-CAPABLE moment set — cntv
    * (non-null count), exact DECIMAL sum and sum-of-squares — plus the
    * shared live-key cnt; a re-arrival retracts its old (v, v²)
    * contribution and adds the new one, so [[readDerived]] serves
    * avg/var of the CURRENT mirror without ever rescanning it. min/max
    * are deliberately absent: they are not retractable without per-group
    * value history (the NOTES 2-heap scope-out) — a keyed-moments caller
    * who needs them maintains a separate append-only v2 rollup and
    * accepts its event-stream semantics. Same layout, commit order and
    * crash contract as [[applySliceKeyedPartitioned]]; stamped
    * `keyedv2 buckets=… kbuckets=…`, cross-refusing every other lane. */
  def applySliceKeyedPartitionedV2(spark: SparkSession, targetDir: String,
                                   source: DataFrame, orderCol: String,
                                   keyCols: Seq[String],
                                   groupCols: Seq[String],
                                   valueCols: Seq[String],
                                   lo: Long, hi: Long, nBuckets: Int,
                                   nKeyBuckets: Int,
                                   tombstoneCol: Option[String] = None)
      : AggResult = {
    require(valueCols.nonEmpty,
      "applySliceKeyedPartitionedV2 requires at least one value column")
    applyKeyedPartitionedCore(spark, targetDir, source, orderCol, keyCols,
      groupCols, valueCols, keyedV2Metrics(valueCols),
      paramsStringKeyedV2Part(nBuckets, nKeyBuckets, keyCols, groupCols,
        valueCols, orderCol) +
        tombstoneCol.map(t => s" tomb=$t").getOrElse(""),
      "applySliceKeyedPartitionedV2", lo, hi, nBuckets, nKeyBuckets,
      tombstoneCol)
  }

  /** One maintained metric of a KEYED rollup. `delta` aggregates the
    * signed latest/retraction union (rows carry `__sign` = ±1 plus the
    * state-typed value columns); `merge` re-folds old bucket content with
    * the delta; `emptyLit` types the cold-start schema sidecar. Every
    * keyed metric is a sum of signed contributions BY CONSTRUCTION —
    * that is what makes it retractable; min/max cannot be expressed here
    * and that is the point. */
  private final case class KeyedMetric(name: String, typ: String,
                                       delta: Column, merge: Column,
                                       emptyLit: Column)

  private def keyedCntMetric: KeyedMetric = KeyedMetric("cnt", "long",
    sum(col("__sign")).cast("long"), sum(col("cnt")).cast("long"), lit(0L))

  private def keyedV1Metrics(valueCol: String): Seq[KeyedMetric] =
    Seq(keyedCntMetric,
      KeyedMetric("sum_val", SumType,
        sum((col(valueCol) * col("__sign")).cast(SumType)).cast(SumType),
        sum(col("sum_val")).cast(SumType), lit(null).cast(SumType)))

  private def keyedV2Metrics(valueCols: Seq[String]): Seq[KeyedMetric] =
    keyedCntMetric +: valueCols.flatMap { vc =>
      val v = col(vc) // already ValType in the signed union
      // sign application by NEGATION, not multiplication: decimal×long
      // re-derives precision/scale and can silently cap at 38 — negation
      // preserves the operand type exactly
      def signed(x: Column): Column =
        when(col("__sign") < 0L, -x).otherwise(x)
      Seq(
        KeyedMetric(s"cntv_$vc", "long",
          sum(when(v.isNotNull, col("__sign")).otherwise(lit(0L)))
            .cast("long"),
          sum(col(s"cntv_$vc")).cast("long"), lit(0L)),
        KeyedMetric(s"sum_$vc", SumType,
          sum(signed(v.cast(SumType))).cast(SumType),
          sum(col(s"sum_$vc")).cast(SumType), lit(null).cast(SumType)),
        KeyedMetric(s"sumsq_$vc", SqType,
          sum(signed((v * v).cast(SqType))).cast(SqType),
          sum(col(s"sumsq_$vc")).cast(SqType), lit(null).cast(SqType)))
    }

  private def applyKeyedPartitionedCore(spark: SparkSession,
                                        targetDir: String,
                                        source: DataFrame, orderCol: String,
                                        keyCols: Seq[String],
                                        groupCols: Seq[String],
                                        valueCols: Seq[String],
                                        metrics: Seq[KeyedMetric],
                                        params: String, op: String,
                                        lo: Long, hi: Long, nBuckets: Int,
                                        nKeyBuckets: Int,
                                        tombstoneCol: Option[String] = None)
      : AggResult = {
    require(keyCols.nonEmpty, s"$op requires at least one key column")
    require(groupCols.nonEmpty, s"$op requires at least one group column")
    require(keyCols.distinct == keyCols,
      s"duplicate key columns: ${keyCols.mkString(", ")}")
    require(groupCols.distinct == groupCols,
      s"duplicate group columns: ${groupCols.mkString(", ")}")
    require(valueCols.distinct == valueCols,
      s"duplicate value columns: ${valueCols.mkString(", ")}")
    valueCols.foreach { valueCol =>
      require(!(keyCols ++ groupCols).contains(valueCol),
        s"value column '$valueCol' is also a key/group column — aggregate " +
          "a copy under a different name") }
    require(!(keyCols ++ groupCols).contains(orderCol) &&
        !valueCols.contains(orderCol),
      s"order column '$orderCol' cannot also be a key/group/value column " +
        "in the keyed lane (a group that moves on every touch has no " +
        "stable retraction target)")
    tombstoneCol.foreach { t =>
      require(!(keyCols ++ groupCols).contains(t) &&
          !valueCols.contains(t) && t != orderCol,
        s"tombstone column '$t' cannot also be a key/group/value/order " +
          "column (a delete marker that moves the group it deletes from " +
          "is unresolvable)")
      requireStampSafe("tombstone", Seq(t))
      requireTombstoneType(source, t)
    }
    require(hi >= lo, s"$op: hi ($hi) must be >= lo ($lo)")
    require(nBuckets >= 1 && nBuckets <= 65536,
      s"nBuckets must be in [1, 65536], got $nBuckets")
    require(nKeyBuckets >= 1 && nKeyBuckets <= 65536,
      s"nKeyBuckets must be in [1, 65536], got $nKeyBuckets")
    val wmType = source.schema(orderCol).dataType
    require(Watermark.supported(wmType),
      s"order column '$orderCol' must be integral-numeric or timestamp-typed; " +
        s"got ${wmType.simpleString}")
    requireStampSafe("key", keyCols)
    requireStampSafe("group", groupCols)
    requireStampSafe("value", valueCols)
    requireStampSafe("order", Seq(orderCol))
    validatePartitioned(op, spark, targetDir, params)
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(targetDir)
    val stateRoot = new Path(dst, StateDir)
    // validatePartitioned healed the whole-dir window and the rollup
    // buckets; the state store has its own bucket namespace to heal
    healBuckets(fs, stateRoot.toString)

    val stored = readWm(fs, new Path(dst, WmFile))
    stored match {
      case Some(wm) if hi <= wm =>
        return AggResult(0L, 0L, applied = false, watermarkUs = wm)
      case Some(wm) =>
        if (lo != wm) throw graft.core.GraftError.InvalidConfig(
          s"non-contiguous slice: stored watermark is $wm but slice starts " +
            s"at $lo — applying it would silently lose [$wm, $lo)")
      case None =>
    }
    // a keyed rollup holding data without its state store is FOREIGN
    // SURGERY, not a crash window (state and rollup buckets commit inside
    // one apply; the state root itself is created at cold start before
    // any data): folding into it would silently treat every re-arrival
    // as new mass — the flat lane's refusal, applied to this layout
    if (stored.isDefined && !fs.exists(stateRoot) &&
        fs.exists(dst) && fs.listStatus(dst).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("__bucket=")))
      throw graft.core.GraftError.InvalidConfig(
        s"keyed rollup at $targetDir has data but no $StateDir store — " +
          "state and rollup commit together, so this is not a layout the " +
          "keyed lane wrote; rebuild")

    // a crashed attempt at a DIFFERENT cut: split at each interior bucket
    // watermark (rollup AND state buckets), replaying the crashed
    // attempt's own cut first — see applyPartitionedCore's contract
    val interior = (bucketWms(fs, targetDir) ++
        bucketWms(fs, stateRoot.toString, "__kbucket="))
      .filter(w => w > lo && w < hi).distinct.sorted
    if (interior.nonEmpty) {
      val mid = interior.head
      val r1 = applyKeyedPartitionedCore(spark, targetDir, source, orderCol,
        keyCols, groupCols, valueCols, metrics, params, op,
        lo, mid, nBuckets, nKeyBuckets, tombstoneCol)
      val r2 = applyKeyedPartitionedCore(spark, targetDir, source, orderCol,
        keyCols, groupCols, valueCols, metrics, params, op,
        mid, hi, nBuckets, nKeyBuckets, tombstoneCol)
      return AggResult(r1.groupsWritten + r2.groupsWritten,
        r1.sliceRows + r2.sliceRows,
        applied = true, watermarkUs = r2.watermarkUs)
    }

    if (stored.isEmpty) { // cold start: stamp the layout before any data
      fs.mkdirs(dst)
      fs.mkdirs(stateRoot)
      writeText(fs, new Path(dst, ParamsFile), params)
      writeText(fs, new Path(dst, SchemaFile),
        metrics.foldLeft(source.select(groupCols.map(col): _*).limit(0)) {
          (df, m) => df.withColumn(m.name, m.emptyLit)
        }.schema.json)
    }

    val valCs = valueCols.map(v => col(v).cast(ValType).as(v))
    val kbucketOf = pmod(xxhash64(keyCols.map(col): _*),
      lit(nKeyBuckets.toLong)).cast("int")
    val slice = source.filter(
      col(orderCol) >= Watermark.litFor(wmType, lo) &&
      col(orderCol) < Watermark.litFor(wmType, hi))
    // latest-per-key within the slice; deterministic payload-hash
    // tie-break (the flat lane's discipline) so a crash re-run can never
    // crown a different winner
    // NULL tombstone reads as false; the normalized flag (selected
    // FIRST, so the window hashes the post-projection column) joins the
    // tie-break hash (the flat lane's discipline)
    // try_cast + __tombBad gate: see the flat lane
    val tombC = tombstoneCol.map(t =>
      coalesce(col(t).try_cast("boolean"), lit(false)))
    val tombBadC = tombstoneCol.map(t =>
      (col(t).isNotNull && col(t).try_cast("boolean").isNull).as("__tombBad"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc,
        xxhash64((groupCols.map(col) ++ valueCols.map(col)) ++
          tombstoneCol.map(_ => col("__tomb")).toSeq: _*).desc)
    val ranked = slice
      .select(((keyCols ++ groupCols).map(col) ++ valCs :+ col(orderCol)) ++
        tombC.map(_.as("__tomb")).toSeq ++ tombBadC.toSeq: _*)
      .withColumn("__rn", row_number().over(w))
      .persist()
    var delta: Option[DataFrame] = None
    try {
      // one pass for every admission question (see the flat lane)
      val admission = ranked.agg(count(lit(1)).as("n"),
        count(when(keyCols.map(col(_).isNull).reduce(_ || _), lit(1)))
          .as("nullk"),
        (if (tombstoneCol.isDefined) count(when(col("__tombBad"), lit(1)))
         else count(when(lit(false), lit(1)))).as("badtomb")).first()
      val rawRows = admission.getLong(0)
      if (rawRows == 0L) { // idle poll: watermark advance only
        writeWm(fs, new Path(dst, WmFile), hi)
        return AggResult(0L, 0L, applied = true, watermarkUs = hi)
      }
      val nullKeys = admission.getLong(1)
      if (nullKeys > 0L)
        throw graft.core.GraftError.InvalidConfig(
          s"slice [$lo, $hi) carries $nullKeys row(s) with a NULL key " +
            s"(${keyCols.mkString(", ")}) — a NULL key cannot be matched " +
            "to its prior arrival, so last-writer-wins semantics are " +
            "undefined; filter or repair the source")
      val badTomb = admission.getLong(2)
      if (badTomb > 0L)
        throw graft.core.GraftError.InvalidConfig(
          s"slice [$lo, $hi) carries $badTomb row(s) whose tombstone " +
            s"'${tombstoneCol.get}' does not cast to boolean — treating " +
            "malformed delete markers as upserts would silently mix " +
            "tombstoned and tombstone-blind semantics; repair the source " +
            "or cast the column explicitly")

      val latest = ranked.filter(col("__rn") === 1)
        .drop("__rn", orderCol, "__tombBad")
      // a tombstoned key retracts (its key is in keysOnly) but never
      // re-adds and leaves the state (the flat lane's delete semantics)
      val live = if (tombstoneCol.isEmpty) latest
        else latest.filter(!col("__tomb"))
      val keysOnly0 = latest.select(keyCols.map(col): _*)
      val keysOnly =
        if (rawRows <= broadcastKeyRowCutoff(keyCols)) broadcast(keysOnly0)
        else keysOnly0

      // which state buckets the slice's keys land in — the ONLY state the
      // retraction lookup and the state rewrite ever read
      val touchedK = latest.select(kbucketOf.as("__kbucket")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val probesK = parMap(touchedK) { k =>
        val kp = new Path(stateRoot, s"__kbucket=$k")
        (k, readWm(fs, new Path(kp, WmFile)), ParquetMergeSink.hasData(fs, kp))
      }
      val stateCols = (keyCols ++ groupCols ++ valueCols).map(col)
      val emptyState = ranked.select(stateCols: _*).limit(0)
      def readStateDirs(dirs: Seq[String]): DataFrame =
        if (dirs.isEmpty) emptyState
        else spark.read.option("basePath", stateRoot.toString)
          .parquet(dirs: _*)
          .select((keyCols ++ groupCols).map(col) ++
            valueCols.map(v => col(v).cast(ValType).as(v)): _*)
      def kDir(k: Int): String = s"${stateRoot.toString}/__kbucket=$k"

      // retraction source: every touched data-bearing state bucket — on a
      // clean run all are pre-slice (wm < hi); see the invariant below
      val stateTouched = readStateDirs(
        probesK.collect { case (k, _, hd) if hd => kDir(k) })
      val deltaCols = (groupCols ++ valueCols).map(col)
      val minus = stateTouched.join(keysOnly, keyCols, "inner")
        .select(deltaCols: _*)
        .withColumn("__sign", lit(-1L))
      val plus = live.select(deltaCols: _*)
        .withColumn("__sign", lit(1L))
      val deltaDf = plus.unionByName(minus)
        .groupBy(groupCols.map(col): _*)
        .agg(metrics.head.delta.as(metrics.head.name),
          metrics.tail.map(m => m.delta.as(m.name)): _*)
        .withColumn("__bucket", pmod(hash(groupCols.map(col): _*),
          lit(nBuckets)))
        .persist()
      delta = Some(deltaDf)

      val touchedB = deltaDf.select("__bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val probesB = parMap(touchedB) { b =>
        val bp = new Path(dst, s"__bucket=$b")
        (b, readWm(fs, new Path(bp, WmFile)), ParquetMergeSink.hasData(fs, bp))
      }
      val pendingB = probesB.collect {
        case (b, wm, _) if !wm.exists(_ >= hi) => b
      }
      val pendingK = probesK.collect {
        case (k, wm, _) if !wm.exists(_ >= hi) => k
      }
      // commit-order invariant: state buckets swap strictly AFTER every
      // rollup bucket — a committed state bucket beside a pending rollup
      // bucket means the retraction source above was half-new and the
      // delta is untrustworthy. Single-writer discipline makes this
      // unreachable; refuse loudly rather than double-count if it is ever
      // violated (concurrent writers, manual surgery).
      if (pendingB.nonEmpty && probesK.exists(_._2.exists(_ >= hi)))
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir has state buckets committed at $hi while " +
            "rollup buckets are still pending — commit-order invariant " +
            "violated (concurrent writer?); rebuild the rollup")

      if (pendingB.isEmpty && pendingK.isEmpty) {
        writeWm(fs, new Path(dst, WmFile), hi)
        return AggResult(0L, rawRows, applied = true, watermarkUs = hi)
      }

      // ---- stage (no commits yet) ----
      val tmpRoot = targetDir.stripSuffix("/") + ".__agg_tmp"
      val tmpPath = new Path(tmpRoot)
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true) // stale crash debris
      val tmpState = new Path(tmpPath, StateDir)
      val groups = if (pendingB.isEmpty) 0L else {
        val existingBDirs = probesB.collect {
          case (b, wm, hd) if !wm.exists(_ >= hi) && hd =>
            s"${targetDir.stripSuffix("/")}/__bucket=$b"
        }
        val pendingDelta = deltaDf.filter(
          col("__bucket").isin(pendingB: _*))
        // ONE multi-path read of exactly the pending data-bearing rollup
        // buckets (plan size O(1) in touched buckets — the r12 lesson)
        val merged0 =
          if (existingBDirs.isEmpty) pendingDelta
          else spark.read.option("basePath", targetDir)
            .parquet(existingBDirs: _*)
            .select(groupCols.map(col) ++ (col("__bucket").cast("int") +:
              metrics.map(m => col(m.name).cast(m.typ))): _*)
            .unionByName(pendingDelta
              .select(groupCols.map(col) ++ (col("__bucket") +:
                metrics.map(m => col(m.name))): _*))
            .groupBy((groupCols.map(col) :+ col("__bucket")): _*)
            .agg(metrics.head.merge.as(metrics.head.name),
              metrics.tail.map(m => m.merge.as(m.name)): _*)
        // a group whose last live key moved away reads cnt=0 — gone
        val merged = merged0.filter(col("cnt") > 0L)
        // one owning task per bucket ⇒ one file per bucket per slice. A
        // crash-replay whose pending buckets ALL end fully vacated writes
        // an empty frame — no partition dirs — yet the empty swap below
        // is exactly the right commit (the buckets' groups are gone)
        ParquetMergeSink.countedWrite(merged.repartition(col("__bucket")))(
          _.write.mode("overwrite").partitionBy("__bucket").parquet(tmpRoot))
      }
      fs.mkdirs(tmpPath)
      if (pendingK.nonEmpty) {
        val existingKPendingDirs = probesK.collect {
          case (k, wm, hd) if !wm.exists(_ >= hi) && hd => kDir(k)
        }
        val statePending = readStateDirs(existingKPendingDirs)
        val latestPendingK = live
          .select(stateCols: _*)
          .withColumn("__kbucket", kbucketOf)
          .filter(col("__kbucket").isin(pendingK: _*))
        val newState = statePending.join(keysOnly, keyCols, "left_anti")
          .withColumn("__kbucket", kbucketOf)
          .unionByName(latestPendingK)
        newState.repartition(col("__kbucket"))
          .write.mode("overwrite").partitionBy("__kbucket")
          .parquet(tmpState.toString)
      }

      // ---- commit: rollup buckets, THEN state buckets, root wm LAST ----
      parMap(pendingB) { b =>
        val staged = new Path(tmpRoot, s"__bucket=$b")
        if (!fs.exists(staged)) fs.mkdirs(staged) // bucket fully vacated
        writeWm(fs, new Path(staged, WmFile), hi)
        swapBucket(fs, targetDir, s"__bucket=$b", staged)
      }
      parMap(pendingK) { k =>
        val staged = new Path(tmpState, s"__kbucket=$k")
        if (!fs.exists(staged)) fs.mkdirs(staged)
        writeWm(fs, new Path(staged, WmFile), hi)
        swapBucket(fs, stateRoot.toString, s"__kbucket=$k", staged)
      }
      fs.delete(tmpPath, true)
      writeWm(fs, new Path(dst, WmFile), hi)
      AggResult(groups, rawRows, applied = true, watermarkUs = hi)
    } finally {
      ranked.unpersist()
      delta.foreach(_.unpersist())
      ()
    }
  }

  /** Shared stamp validation for the partitioned fronts. A mismatched
    * stamp names the lane that CAN apply it (the full v1/v2/v3 ×
    * flat/partitioned matrix in one place); the core below never
    * re-validates. */
  private def validatePartitioned(op: String, spark: SparkSession,
                                  targetDir: String, params: String): Unit = {
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(targetDir)
    // a crashed [[rebucket]] commits via the whole-dir swap — heal that
    // window first (restores the pre-rebucket layout), then any
    // interrupted per-bucket swaps
    healWholeDir(fs, targetDir)
    healBuckets(fs, targetDir)
    // presence check only — the core re-reads the VALUE itself (it must:
    // the interior-watermark split recursion advances it mid-apply);
    // SidecarIO.exists so a twin-committed wm (fallback-scheme window)
    // counts as present
    val wmExists = graft.core.SidecarIO.exists(fs, new Path(dst, WmFile))
    readText(fs, new Path(dst, ParamsFile)) match {
      case Some(p) if p != params && laneFor(p) != op =>
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir is stamped '$p'; use ${laneFor(p)}, " +
            "or rebuild")
      case Some(p) if p != params => // same lane, foreign parameters
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir was built with different parameters " +
            s"($p); refusing to apply $params — hash spaces would mix")
      case None if wmExists =>
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir is a whole-directory rollup (no " +
            s"$ParamsFile); use applySlice, or rebuild partitioned")
      case None if ParquetMergeSink.hasData(fs, dst) =>
        throw graft.core.GraftError.InvalidConfig(
          s"$targetDir holds data but no $ParamsFile/$WmFile — not an " +
            "AggMaintenance table (refusing to merge into an unknown layout)")
      case _ =>
    }
  }

  /** The apply lane that matches a stored stamp — for refusal messages. */
  private def laneFor(p: String): String = p match {
    case s if s.startsWith("v1 buckets=") => "applySlicePartitioned"
    case s if s.startsWith("v2 buckets=") => "applySlicePartitionedV2"
    case s if s.startsWith("v3 buckets=") => "applySlicePartitionedDistinct"
    case s if s.startsWith("v2 flat")        => "applySliceV2"
    case s if s.startsWith("v3 flat")        => "applySliceDistinct"
    case s if s.startsWith("keyed buckets=") => "applySliceKeyedPartitioned"
    case s if s.startsWith("keyedv2 buckets=") =>
      "applySliceKeyedPartitionedV2"
    case s if s.startsWith("keyed flat")     => "applySliceKeyed"
    case _                                => "the matching applySlice* lane"
  }

  private def applyPartitionedCore(spark: SparkSession, targetDir: String,
                                   source: DataFrame, orderCol: String,
                                   groupCols: Seq[String],
                                   metrics: Seq[Metric], params: String,
                                   lo: Long, hi: Long,
                                   nBuckets: Int): AggResult = {
    require(groupCols.nonEmpty,
      "partitioned apply requires at least one group column")
    require(hi >= lo, s"partitioned apply: hi ($hi) must be >= lo ($lo)")
    require(nBuckets >= 1 && nBuckets <= 65536,
      s"nBuckets must be in [1, 65536], got $nBuckets")
    val wmType = source.schema(orderCol).dataType
    require(Watermark.supported(wmType),
      s"order column '$orderCol' must be integral-numeric or timestamp-typed; " +
        s"got ${wmType.simpleString}")

    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(targetDir)
    val stored = readWm(fs, new Path(dst, WmFile))

    stored match {
      case Some(wm) if hi <= wm =>
        return AggResult(0L, 0L, applied = false, watermarkUs = wm)
      case Some(wm) =>
        if (lo != wm) throw graft.core.GraftError.InvalidConfig(
          s"non-contiguous slice: stored watermark is $wm but slice starts " +
            s"at $lo — applying it would silently lose [$wm, $lo)")
      case None =>
    }

    // Finish any CRASHED ATTEMPT whose cut differs from this one before
    // touching data: a bucket watermark strictly inside (lo, hi) means an
    // earlier apply committed that bucket through [lo, w) and died — the
    // bucket-skip test below is only sound when every committed bucket
    // holds EXACTLY this slice, so the apply is split at each interior
    // watermark (re-running the crashed attempt's own cut first, where
    // its buckets skip cleanly, then continuing). Without the split, a
    // re-run with a larger cut would re-merge [lo, w) into those buckets —
    // silent double-count (self-review round-11 finding #1).
    val interior = bucketWms(fs, targetDir)
      .filter(w => w > lo && w < hi).distinct.sorted
    if (interior.nonEmpty) {
      val mid = interior.head
      val r1 = applyPartitionedCore(spark, targetDir, source, orderCol,
        groupCols, metrics, params, lo, mid, nBuckets)
      val r2 = applyPartitionedCore(spark, targetDir, source, orderCol,
        groupCols, metrics, params, mid, hi, nBuckets)
      // groupsWritten is "groups materialized by THIS apply" — both
      // segments did real rewrites, so the work sums
      return AggResult(r1.groupsWritten + r2.groupsWritten,
        r1.sliceRows + r2.sliceRows,
        applied = true, watermarkUs = r2.watermarkUs)
    }

    val slice = source.filter(
      col(orderCol) >= Watermark.litFor(wmType, lo) &&
      col(orderCol) < Watermark.litFor(wmType, hi))
    val bucketOf = pmod(hash(groupCols.map(col): _*), lit(nBuckets))
    val partial = slice.groupBy((groupCols.map(col) :+
        bucketOf.as("__bucket")): _*)
      .agg(metrics.head.partial.as(metrics.head.name),
        metrics.tail.map(m => m.partial.as(m.name)): _*)
      .persist()
    try {
      if (stored.isEmpty) { // cold start: stamp the layout before any data
        fs.mkdirs(dst)
        writeText(fs, new Path(dst, ParamsFile), params)
        writeText(fs, new Path(dst, SchemaFile),
          partial.drop("__bucket").schema.json)
      }
      // ONE scalar pass over the persisted partial: the touched buckets
      // (none = an empty slice) with their row counts
      val perBucket = partial.groupBy("__bucket").agg(sum(col("cnt")))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      if (perBucket.isEmpty) {
        writeWm(fs, new Path(dst, WmFile), hi)
        return AggResult(0L, 0L, applied = true, watermarkUs = hi)
      }

      // touched buckets, minus any whose own watermark already reached hi
      // (a crashed previous attempt committed them — re-merging the same
      // partial would double-count)
      val touched = perBucket.map(_._1).sorted.toSeq
      // ONE parallel metadata pass answers both questions per touched
      // bucket: its committed watermark (the crashed-attempt skip) and
      // whether it holds prior data (which buckets the merge must read)
      val probes = parMap(touched) { b =>
        val bp = new Path(dst, s"__bucket=$b")
        (b, readWm(fs, new Path(bp, WmFile)),
          ParquetMergeSink.hasData(fs, bp))
      }
      val pending = probes.collect {
        case (b, wm, _) if !wm.exists(_ >= hi) => b
      }
      val existingDirs = probes.collect {
        case (b, wm, hd) if !wm.exists(_ >= hi) && hd =>
          s"${targetDir.stripSuffix("/")}/__bucket=$b"
      }
      val sliceRows = perBucket.map(_._2).sum
      if (pending.isEmpty) { // every bucket committed before the crash
        writeWm(fs, new Path(dst, WmFile), hi)
        return AggResult(0L, sliceRows, applied = true, watermarkUs = hi)
      }

      // ONE job merges every pending bucket into the staging root,
      // partitioned by __bucket; the commit loop below is renames only
      val tmpRoot = targetDir.stripSuffix("/") + ".__agg_tmp"
      val tmpPath = new Path(tmpRoot)
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
      val pendingPartial = partial.filter(
        col("__bucket").isin(pending.toSeq: _*))
      // The existing side is ONE multi-path read of exactly the pending
      // data-bearing bucket dirs — never a per-pending-bucket union, and
      // never a full-root read. Plan size must stay O(1) in the
      // touched-bucket count: at this form's own design point (~√groups
      // buckets ⇒ ~31k buckets for 1e9 groups) a wide slice touches most
      // of them, and a union of tens of thousands of scan nodes blows up
      // driver-side analysis long before the data is the problem
      // (r12 VERDICT #1); N paths into one spark.read is still a SINGLE
      // relation/scan node (proven at 1,024 buckets × all-touched in
      // ScaleStress `aggivmwide`). Listing only the pending dirs also
      // keeps file discovery O(touched), where a root read re-lists
      // every bucket of the rollup on every slice — O(total buckets) for
      // a 50-bucket delta. `basePath` keeps `__bucket` a partition
      // column even though the paths point below it.
      val merged =
        if (existingDirs.isEmpty) pendingPartial
        else {
          val ex = spark.read.option("basePath", targetDir)
            .parquet(existingDirs: _*)
            .select((groupCols.map(col) ++ (col("__bucket").cast("int") +:
              metrics.map(m => col(m.name).cast(m.typ)))): _*)
          ex.unionByName(pendingPartial
              .select((groupCols.map(col) ++ (col("__bucket") +:
                metrics.map(m => col(m.name)))): _*))
            .groupBy((groupCols.map(col) :+ col("__bucket")): _*)
            .agg(metrics.head.merge.as(metrics.head.name),
              metrics.tail.map(m => m.merge.as(m.name)): _*)
        }
      // repartition BY BUCKET before the partitionBy write: without it,
      // every shuffle task writes a file into every bucket it happens to
      // hold — O(shuffle.partitions × touched buckets) small files per
      // slice (~1M at the ~31k-bucket design point). Hash-repartitioning
      // on __bucket gives each bucket exactly one owning task ⇒ one file
      // per bucket per slice; the extra shuffle moves only
      // group-cardinality rows, and a bucket is executor-memory-sized by
      // the layout's own sizing rule (~√groups buckets).
      val groups = ParquetMergeSink.countedWrite(
        merged.repartition(col("__bucket")))(
        _.write.mode("overwrite").partitionBy("__bucket").parquet(tmpRoot))

      // commit loop: per-bucket (data + bucket wm) swap, root wm LAST.
      // Driver-side and O(touched buckets) in rename RPCs — metadata-only
      // ops (no data moves), run 16-way parallel ([[parMap]]): bucket
      // swaps are mutually independent, only the ROOT watermark write
      // must come after every one of them. A crash mid-commit leaves an
      // arbitrary committed subset — exactly the state the bucket-wm skip
      // + interior-watermark split above recover from, same as the
      // sequential loop.
      parMap(pending) { b =>
        val staged = new Path(tmpRoot, s"__bucket=$b")
        if (!fs.exists(staged)) fs.mkdirs(staged) // all-NULL-group slice edge
        writeWm(fs, new Path(staged, WmFile), hi)
        swapBucket(fs, targetDir, s"__bucket=$b", staged)
      }
      fs.delete(tmpPath, true)
      writeWm(fs, new Path(dst, WmFile), hi)
      AggResult(groups, sliceRows, applied = true, watermarkUs = hi)
    } finally { partial.unpersist(); () }
  }

  /** Change a partitioned rollup's bucket count in ONE maintenance pass —
    * the growth path the frozen `buckets=` stamp otherwise forecloses: a
    * rollup sized for 1e6 groups that grows to 1e9 is stuck with buckets
    * 1000× their design size (each rewrite job must fit a bucket in
    * executor memory), and the only alternative is a full rebuild plus a
    * watermark-chain reset. Rebucket is a pure RELABELING — groups are
    * unique across buckets, so no re-aggregation happens: one read of the
    * rollup (group-cardinality rows, not history), one
    * repartition-by-new-bucket write (one file per bucket), stamp and
    * per-bucket watermarks rewritten, all committed by the same atomic
    * whole-dir swap as the flat lanes ([[swapWholeDir]]; the partitioned
    * entry points heal its crash window before touching data, so a
    * crashed rebucket rolls back to the OLD layout, never a mixed hash
    * space). After the swap, applies carrying the old bucket count refuse
    * on the params stamp exactly like any foreign parameterization.
    *
    * Refuses when an in-flight slice is detected (a bucket watermark past
    * the root watermark — a crashed apply mid-commit): relabeling those
    * buckets would erase the per-bucket watermarks the interior-split
    * recovery needs, silently double-counting the slice on the re-run.
    * Re-run the crashed apply first, then rebucket.
    *
    * Single-writer like every apply; O(groups) data movement with ONE
    * shuffle keyed on the new bucket id.
    *
    * KEYED layouts: the key-state store rides across the swap (rewritten
    * into the staged root — dropping it would sever every future
    * retraction), and `newKeyBuckets` optionally grows the state store's
    * own frozen `kbuckets=` hash space in the same pass (relabeled on the
    * same xxhash64 key hash the apply lane uses; 0 keeps the old count).
    * O(groups + keys) data movement for a keyed relabel. */
  def rebucket(spark: SparkSession, targetDir: String,
               newBuckets: Int, newKeyBuckets: Int = 0): Unit = {
    require(newBuckets >= 1 && newBuckets <= 65536,
      s"newBuckets must be in [1, 65536], got $newBuckets")
    require(newKeyBuckets >= 0 && newKeyBuckets <= 65536,
      s"newKeyBuckets must be in [0, 65536] (0 = keep), got $newKeyBuckets")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(targetDir)
    healWholeDir(fs, targetDir)
    healBuckets(fs, targetDir)
    val params = readText(fs, new Path(dst, ParamsFile)).getOrElse(
      throw graft.core.GraftError.InvalidConfig(
        s"no $ParamsFile at $targetDir — not a partitioned rollup"))
    val tokens = params.split(' ')
    val oldBuckets = tokens.lift(1).filter(_.startsWith("buckets="))
      .map(_.stripPrefix("buckets=").toInt).getOrElse(
        throw graft.core.GraftError.InvalidConfig(
          s"rollup at $targetDir is stamped '$params' — rebucket applies " +
            "only to bucket-partitioned layouts"))
    val groupCols = tokens.find(_.startsWith("group="))
      .map(_.stripPrefix("group=").split('+').toSeq).getOrElse(
        throw graft.core.GraftError.InvalidConfig(
          s"malformed partitioned stamp at $targetDir: '$params'"))
    val keyed = tokens.headOption.exists(t => t == "keyed" || t == "keyedv2")
    if (newKeyBuckets > 0 && !keyed)
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir is stamped '$params' — newKeyBuckets " +
          "resizes the keyed lane's state store; this layout has none")
    // the keyed state store's own growth path: its kbuckets= hash space
    // is as frozen as the rollup's buckets= — a mirror that outgrows it
    // would be stuck with executor-memory-sized state buckets forever
    val oldKb = if (!keyed) 0 else tokens.lift(2)
      .filter(_.startsWith("kbuckets="))
      .map(_.stripPrefix("kbuckets=").toInt).getOrElse(
        throw graft.core.GraftError.InvalidConfig(
          s"malformed keyed partitioned stamp at $targetDir: '$params'"))
    val kb = if (newKeyBuckets > 0) newKeyBuckets else oldKb
    val keyCols = if (!keyed) Seq.empty[String] else
      tokens.find(_.startsWith("key="))
        .map(_.stripPrefix("key=").split('+').toSeq).getOrElse(
          throw graft.core.GraftError.InvalidConfig(
            s"malformed keyed partitioned stamp at $targetDir: '$params'"))
    if (oldBuckets == newBuckets && kb == oldKb) return // no-op relabel
    val wm = readWm(fs, new Path(dst, WmFile)).getOrElse(
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir has no root watermark — not a committed " +
          "AggMaintenance table"))
    val stateRoot = new Path(dst, StateDir)
    if (keyed) healBuckets(fs, stateRoot.toString)
    if (bucketWms(fs, targetDir).exists(_ > wm) ||
        bucketWms(fs, stateRoot.toString, "__kbucket=").exists(_ > wm))
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir has bucket watermarks past the root " +
          s"watermark $wm — a crashed apply is mid-slice; re-run that " +
          "apply to completion first, then rebucket")

    val newParams =
      if (!keyed) (tokens.take(1) :+ s"buckets=$newBuckets") ++ tokens.drop(2)
      else (tokens.take(1) :+ s"buckets=$newBuckets" :+ s"kbuckets=$kb") ++
        tokens.drop(3)
    val tmpRoot = targetDir.stripSuffix("/") + ".__agg_tmp"
    val tmpPath = new Path(tmpRoot)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true) // stale crash debris
    val hasRows = fs.exists(dst) && fs.listStatus(dst).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("__bucket="))
    if (hasRows) {
      spark.read.parquet(targetDir).drop("__bucket")
        .withColumn("__bucket",
          pmod(hash(groupCols.map(col): _*), lit(newBuckets)))
        .repartition(col("__bucket"))
        .write.mode("overwrite").partitionBy("__bucket").parquet(tmpRoot)
    } else fs.mkdirs(tmpPath)
    // every written bucket restarts its watermark chain at the root wm
    val written =
      if (!hasRows) Seq.empty
      else fs.listStatus(tmpPath).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("__bucket="))
        .map(_.getPath)
    parMap(written) { bp => writeWm(fs, new Path(bp, WmFile), wm) }
    // KEYED layout: the key-state store rides inside the rollup dir, so
    // the whole-dir swap below would silently DROP it — rewrite it into
    // the staged root (kbucket labels unchanged: the state hash space is
    // independent of the rollup bucket count; per-kbucket watermarks
    // restart at the root wm like the rollup buckets). A crash anywhere
    // still lands on a complete layout: the old dir keeps its state until
    // the swap, the staged dir carries its own copy.
    if (keyed) {
      val tmpState = new Path(tmpPath, StateDir)
      val hasStateRows = fs.exists(stateRoot) &&
        fs.listStatus(stateRoot).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("__kbucket="))
      if (hasStateRows) {
        // kbuckets unchanged → pure rewrite preserving labels; changed →
        // relabel on the SAME xxhash64 key hash the apply lane uses
        val st0 = spark.read.option("basePath", stateRoot.toString)
          .parquet(stateRoot.toString)
        val st =
          if (kb == oldKb) st0
          else st0.drop("__kbucket").withColumn("__kbucket",
            pmod(xxhash64(keyCols.map(col): _*), lit(kb.toLong)).cast("int"))
        st.repartition(col("__kbucket"))
          .write.mode("overwrite").partitionBy("__kbucket")
          .parquet(tmpState.toString)
        val kWritten = fs.listStatus(tmpState).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("__kbucket="))
          .map(_.getPath)
        parMap(kWritten) { kp => writeWm(fs, new Path(kp, WmFile), wm) }
      } else fs.mkdirs(tmpState)
    }
    readText(fs, new Path(dst, SchemaFile)).foreach(
      writeText(fs, new Path(tmpPath, SchemaFile), _))
    writeText(fs, new Path(tmpPath, ParamsFile), newParams.mkString(" "))
    writeWm(fs, new Path(tmpPath, WmFile), wm)
    swapWholeDir(fs, targetDir, tmpPath)
  }

  /** Read the full rollup (groupCols..., cnt, sum_val, min_val, max_val).
    * An empty rollup (no part files yet) is served schema-correct from the
    * schema sidecar. Partitioned rollups are healed (interrupted bucket
    * swaps restored) and served without the internal `__bucket` column.
    *
    * ISOLATION: reads are BUCKET-atomic, not slice-atomic. A reader
    * concurrent with an apply's commit loop can observe a torn slice —
    * some buckets already folded through [lo, hi), others not yet (the
    * whole-dir lanes are slice-atomic: one swap). Crash DEBRIS never
    * tears a read (the read-around logic below serves the committed side
    * of every interrupted swap); only a LIVE writer does. Callers who
    * need slice-consistent analytics over a partitioned rollup should
    * read between applies (the cron shape) or snapshot the directory —
    * the same contract as any multi-file commit without a manifest. */
  def read(spark: SparkSession, targetDir: String): DataFrame = {
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(targetDir)
    // a ParamsFile alone no longer implies partitioned (v2/v3 whole-dir
    // tables are stamped too) — key off the stamp's SECOND token exactly:
    // a substring test could false-positive on a column name that itself
    // contains " buckets=" (column names ride inside group=/order= tokens).
    // The stamp falls back to the whole-dir BACKUP: inside a rebucket's
    // swap crash window the root itself is absent, and a partitioned
    // table must not be misread through the flat branch (whose backup
    // read would surface the internal __bucket partition column).
    val partitioned = readText(fs, new Path(root, ParamsFile))
      .orElse(readText(fs, new Path(bakRoot(targetDir) + "_dir", ParamsFile)))
      .exists(_.split(' ').lift(1).exists(_.startsWith("buckets=")))
    // READ-ONLY crash tolerance: a reader never renames anything (a
    // concurrent apply may be mid-swap — healing here could break its
    // forward rename); instead it READS AROUND the window. Whole-dir: the
    // backup IS the committed state when the destination lacks its
    // sidecar. Partitioned: any backed-up bucket missing from the root is
    // unioned back in. Healing the filesystem stays the next apply's job
    // (single-writer).
    def emptyFromSchema(): DataFrame = {
      val sj = readText(fs, new Path(targetDir, SchemaFile))
        .orElse(readText(fs,
          new Path(bakRoot(targetDir) + "_dir", SchemaFile)))
        .getOrElse(throw graft.core.GraftError.InvalidConfig(
          s"no rollup at $targetDir (no data files and no $SchemaFile)"))
      val schema = org.apache.spark.sql.types.DataType.fromJson(sj)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    if (partitioned) {
      // rebucket's whole-dir swap crash window: root lacking its
      // watermark sidecar while the whole-dir backup has one means the
      // backup IS the committed (pre-rebucket) layout — serve it, exactly
      // like the flat branch below (read-only; healing is the next
      // apply's job)
      val wholeBak = new Path(bakRoot(targetDir) + "_dir")
      val serveRoot =
        if (!graft.core.SidecarIO.exists(fs, new Path(root, WmFile)) &&
            graft.core.SidecarIO.exists(fs, new Path(wholeBak, WmFile)))
          wholeBak
        else root
      // partition dirs carry "=" so Spark's hidden-path filter keeps them
      // (`__bucket=3` is data; `_GRAFT_AGG_WM` is not)
      val rootBuckets =
        if (!fs.exists(serveRoot)) Set.empty[String]
        else fs.listStatus(serveRoot).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("__bucket="))
          .map(_.getPath.getName).toSet
      val bk = new Path(bakRoot(targetDir))
      val bakKids =
        if (!fs.exists(bk)) Seq.empty
        else fs.listStatus(bk).toSeq
          .filter(st => !rootBuckets.contains(st.getPath.getName))
          .map(_.getPath)
      val rootDf =
        if (rootBuckets.isEmpty) None
        else Some(spark.read.parquet(serveRoot.toString).drop("__bucket"))
      val bakDfs = bakKids.map(p => spark.read.parquet(p.toString))
      (rootDf.toSeq ++ bakDfs).reduceOption(_ unionByName _)
        .getOrElse(emptyFromSchema())
    }
    else if (ParquetMergeSink.hasData(fs, root)) spark.read.parquet(targetDir)
    else {
      val bak = new Path(bakRoot(targetDir) + "_dir")
      val inCrashWindow =
        !graft.core.SidecarIO.exists(fs, new Path(root, WmFile)) &&
        graft.core.SidecarIO.exists(fs, new Path(bak, WmFile))
      if (inCrashWindow && ParquetMergeSink.hasData(fs, bak))
        spark.read.parquet(bak.toString)
      else emptyFromSchema()
    }
  }

  /** EXACT keyed distinct counts — the a19 composition as a first-class
    * read. A last-writer-wins distinct count has no sketch form (HLL
    * cannot retract a replaced key's contribution), but a keyed rollup
    * GROUPED BY (outer..., distinctCol...) maintains it exactly: its
    * cnt>0 rows are precisely the group tuples with ≥1 live key (the
    * lane removes vacated groups), so the distinct count per outer
    * prefix is a count of live groups — a group-cardinality regroup at
    * read time, never a history rescan. `outerGroupCols` must be a
    * proper non-empty prefix-set of the stored group columns; the
    * remaining group columns are the distinct-counted tuple. Returns
    * (outer..., distinct_groups, cnt) where `cnt` is the live-key total
    * per outer prefix. */
  def readKeyedDistinct(spark: SparkSession, targetDir: String,
                        outerGroupCols: Seq[String]): DataFrame = {
    val stored = keyedGroupColsFor(spark, targetDir, "readKeyedDistinct",
      outerGroupCols)
    if (outerGroupCols.size >= stored.size)
      throw graft.core.GraftError.InvalidConfig(
        "outer group columns cover every stored group column — nothing " +
          "is left to count distinct; rebuild the rollup with the " +
          "distinct column appended to its group columns")
    read(spark, targetDir)
      .groupBy(outerGroupCols.map(col): _*)
      .agg(count(lit(1)).as("distinct_groups"),
        sum(col("cnt")).cast("long").as("cnt"))
  }

  /** EXACT keyed MIN/MAX — the composition the apply lanes refuse to fake.
    * The keyed lanes cannot MAINTAIN min/max: a replaced key's old value
    * cannot be retracted from a running min/max without per-group value
    * history (the NOTES 2-heap scope-out). But a keyed rollup GROUPED BY
    * (outer..., valueGroupCol) carries the live mirror's exact value SET
    * per outer prefix — its cnt>0 rows are precisely the (outer, value)
    * pairs with ≥1 live key, and the lane removes a pair when its last
    * key leaves — so min/max of the live mirror IS min/max over live
    * groups: exact, retractable, bucketed, a group-cardinality regroup at
    * read time (the readKeyedDistinct pattern). `valueGroupCol` must be
    * one of the rollup's GROUP columns (outside the outer prefix): it is
    * the dimension whose live values are folded. Returns
    * (outer..., min_<v>, max_<v>, cnt) where `cnt` is the live-key total
    * per outer prefix. */
  def readKeyedMinMax(spark: SparkSession, targetDir: String,
                      outerGroupCols: Seq[String],
                      valueGroupCol: String): DataFrame = {
    val stored = keyedGroupColsFor(spark, targetDir, "readKeyedMinMax",
      outerGroupCols)
    if (!stored.contains(valueGroupCol))
      throw graft.core.GraftError.InvalidConfig(
        s"value column '$valueGroupCol' is not a group column of this " +
          s"rollup (stored: ${stored.mkString(", ")}) — keyed min/max " +
          "reads fold the LIVE GROUP values; rebuild the rollup with the " +
          "value column appended to its group columns")
    if (outerGroupCols.contains(valueGroupCol))
      throw graft.core.GraftError.InvalidConfig(
        s"value column '$valueGroupCol' is also an outer group column — " +
          "a min/max over a column the result is grouped by is the " +
          "column itself")
    read(spark, targetDir)
      .groupBy(outerGroupCols.map(col): _*)
      .agg(min(col(valueGroupCol)).as(s"min_$valueGroupCol"),
        max(col(valueGroupCol)).as(s"max_$valueGroupCol"),
        sum(col("cnt")).cast("long").as("cnt"))
  }

  /** The stored keyed state-store bucket count (the stamp's `kbuckets=`
    * token) of a warm partitioned keyed rollup, if any. The CLI derives
    * its default `--kbuckets` from here: after a `rebucket --buckets N`
    * (which keeps the stored kbuckets), a re-derived 4×buckets default
    * would differ from the stored space and hit the
    * foreign-parameterization refusal on every subsequent default-flag
    * apply — the stamp, not the derivation, is the truth on a warm
    * rollup. */
  def storedKeyBuckets(spark: SparkSession, targetDir: String): Option[Int] = {
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readText(fs, new Path(targetDir, ParamsFile))
      .orElse(readText(fs, new Path(bakRoot(targetDir) + "_dir", ParamsFile)))
      .flatMap(_.split(' ').find(_.startsWith("kbuckets="))
        .flatMap(_.stripPrefix("kbuckets=").toIntOption))
  }

  /** Slice-row cutoff below which the keyed lanes broadcast the arriving
    * key set into the state lookup/rewrite joins. Scaled by KEY WIDTH,
    * not a flat row count (r14 verdict #8): a 1M-row × four-column-key
    * frame is ~4× the broadcast bytes of the single-column case the flat
    * 1M cutoff was sized for, and an oversized explicit broadcast() hint
    * bypasses autoBroadcastJoinThreshold entirely. One column keeps the
    * measured 1M; each extra key column shrinks it proportionally. Past
    * the cutoff AQE plans the shuffle join a bulk slice genuinely needs
    * (the kbucket-pruning note below). */
  private def broadcastKeyRowCutoff(keyCols: Seq[String]): Long =
    1000000L / math.max(1, keyCols.size)

  /** Shared admission for the keyed composition readers: the stamp must
    * be a keyed lane's (append-only lanes double-count re-arrivals, so
    * their live group set reflects history, not the mirror), and the
    * outer prefix must be distinct, non-empty, and drawn from the stored
    * group columns. Returns the stored group-column list. */
  private def keyedGroupColsFor(spark: SparkSession, targetDir: String,
                                reader: String,
                                outerGroupCols: Seq[String]): Seq[String] = {
    require(outerGroupCols.nonEmpty,
      s"$reader requires at least one outer group column")
    // a duplicated outer column would pass membership checks and emit a
    // result with two identically-named ambiguous columns
    require(outerGroupCols.distinct == outerGroupCols,
      s"duplicate outer group columns: ${outerGroupCols.mkString(", ")}")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params = readText(fs, new Path(targetDir, ParamsFile))
      .orElse(readText(fs, new Path(bakRoot(targetDir) + "_dir", ParamsFile)))
      .getOrElse(throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir carries no params stamp — not a keyed " +
          "rollup; build one with a keyed apply lane"))
    if (!params.startsWith("keyed ") && !params.startsWith("keyed flat") &&
        !params.startsWith("keyedv2 "))
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir is '$params' — $reader needs a " +
          "KEYED rollup (append-only lanes double-count re-arrivals, so " +
          "their group set is not a live set of the mirror)")
    val stored = params.split(' ').find(_.startsWith("group="))
      .map(_.stripPrefix("group=").split('+').toSeq)
      .getOrElse(throw graft.core.GraftError.InvalidConfig(
        s"malformed keyed stamp at $targetDir: '$params'"))
    val missing = outerGroupCols.filterNot(stored.contains)
    if (missing.nonEmpty)
      throw graft.core.GraftError.InvalidConfig(
        s"outer group column(s) ${missing.mkString(", ")} are not group " +
          s"columns of this rollup (stored: ${stored.mkString(", ")})")
    stored
  }

  /** Stamp-safety guard: column names ride inside `_GRAFT_AGG_PARAMS`
    * tokens joined by ' ' and '+', so a name containing a delimiter would
    * make two DIFFERENT parameterizations stamp identically —
    * Seq("a","b+c") and Seq("a+b","c") both stamp `group=a+b+c` — and the
    * cross-parameterization refusal would then ACCEPT a foreign layout
    * (or readDerived/readDistinct would split the stamp into wrong
    * column names). Refuse such names typed at the front door instead of
    * escaping: an escape scheme would have to be honored by every stamp
    * parser forever. */
  /** Tombstone flags are read as `coalesce(cast('boolean'), false)`, so
    * any value whose boolean cast yields NULL would silently read as
    * "upsert" — a delete marker quietly becoming a re-insert, exactly the
    * tombstone-blind mixing the `tomb=` stamp refusal exists to prevent
    * (r15 advice). Two gates close it: this schema-level one (only types
    * with a total-or-checkable boolean cast are admitted — boolean is
    * identity, numerics cast as `!= 0` and never NULL a non-NULL value,
    * strings are checkable per row), and the per-slice data gate in the
    * admission pass (a non-NULL raw value whose cast is NULL refuses
    * typed — see `__tombBad`). */
  private[graft] def requireTombstoneType(source: DataFrame,
                                          t: String): Unit =
    source.schema(t).dataType match {
      case org.apache.spark.sql.types.BooleanType => ()
      case _: org.apache.spark.sql.types.NumericType => ()
      case org.apache.spark.sql.types.StringType => ()
      case other => throw graft.core.GraftError.InvalidConfig(
        s"tombstone column '$t' is ${other.simpleString} — only boolean, " +
          "numeric, or string columns can mark CDC deletes (the flag is " +
          "read via a boolean cast, which this type does not support " +
          "losslessly); cast the column explicitly in the source")
    }

  private def requireStampSafe(role: String, cols: Seq[String]): Unit =
    cols.foreach { c =>
      if (c.isEmpty || c.exists(ch => ch == ' ' || ch == '+' || ch == '='))
        throw graft.core.GraftError.InvalidConfig(
          s"$role column '$c' is empty or contains a params-stamp " +
            "delimiter (space, '+', '=') — different parameterizations " +
            "could stamp identically; rename the column")
    }

  private def paramsString(nBuckets: Int, groupCols: Seq[String],
                           valueCol: String, orderCol: String): String =
    s"v1 buckets=$nBuckets group=${groupCols.mkString("+")} " +
      s"value=$valueCol order=$orderCol"

  /** Read a v2 rollup with avg/variance DERIVED from the maintained exact
    * moments — per value column v, appends `avg_v` and `var_v` (sample
    * variance) as DOUBLE. The arithmetic chain is a CONTRACT, not an
    * implementation detail: every operand is an exactly-maintained
    * DECIMAL cast once to double (correctly rounded in any engine), and
    * the chain is fixed as (n = cntv_v, the NON-NULL count of v)
    *   avg_v = double(sum_v) / double(n),  NULL when n = 0
    *   var_v = (double(sumsq_v) − double(sum_v)·double(sum_v)/double(n))
    *           / (double(n) − 1),  NULL when n ≤ 1
    * so any engine replaying the same IEEE-754 operations over the same
    * exact moments — a one-shot Spark aggregation in the a10 gate's
    * exceptAll contract — reproduces it bit for bit. (Spark's own
    * var_samp is a streaming central-moment fold whose double result
    * depends on partition merge order — fine within tolerance, unusable
    * under hash equality; the spec checks it at 1e-9.) CROSS-ENGINE
    * caveat: the decimal→double cast itself is only engine-identical
    * while the decimal's UNSCALED form stays under 2^53 — above that,
    * engines that cast via (double)unscaled ÷ 10^scale (DuckDB) round
    * TWICE where BigDecimal.doubleValue rounds once, a 1-ulp flap (hit
    * by a11's price sum-of-squares, scale 8, unscaled ~5e16). The a10/a11
    * gates therefore hash only moments exact-down-cast below that bound;
    * this method keeps the generic chain for in-engine use.
    * NUMERICAL caveat: the moments are exact, but the textbook
    * (sumsq − sum²/n)/(n−1) chain in doubles can catastrophically cancel
    * for a near-constant, high-magnitude column — var_v may then come out
    * as a TINY NEGATIVE number (≈ −1e-10 · mean²) where true variance is
    * ~0. The chain is deliberately NOT reordered or clamped here (it is a
    * cross-engine bit-identity contract — the a10 exceptAll gate replays
    * the exact IEEE ops); callers that need mathematical validity over
    * bit-identity should wrap it in greatest(var_v, 0.0).
    * Refuses typed on anything but a v2 table: v1 rollups keep no
    * sum-of-squares, so a derived variance there would be a lie. */
  def readDerived(spark: SparkSession, targetDir: String): DataFrame = {
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params = readText(fs, new Path(targetDir, ParamsFile))
      .orElse(readText(fs, new Path(bakRoot(targetDir) + "_dir", ParamsFile)))
      .getOrElse(throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir carries no $ParamsFile stamp — a v1 " +
          "whole-directory rollup maintains no sumsq; rebuild with " +
          "applySliceV2 to derive avg/var"))
    // the append-only v2 lanes AND the keyed moments lane maintain the
    // same cntv/sum/sumsq moment set, so both derive through this chain
    if (!params.startsWith("v2 ") && !params.startsWith("keyedv2 "))
      throw graft.core.GraftError.InvalidConfig(
        s"rollup at $targetDir is '$params', not a v2/keyedv2 moments rollup")
    val valueCols = params.split(' ')
      .find(_.startsWith("values=")).map(_.stripPrefix("values="))
      .getOrElse(throw graft.core.GraftError.InvalidConfig(
        s"malformed v2 stamp at $targetDir: '$params'"))
      .split('+').toSeq
    deriveMomentCols(read(spark, targetDir), valueCols)
  }

  /** The contractual avg/var derivation fold over v2 moment columns
    * (`cntv_v` / `sum_v` / `sumsq_v` → `avg_v` / `var_v`) — ONE
    * definition shared by [[readDerived]], the a10 gate's independent
    * one-shot twin, and the ScaleStress equality arm. The chain is
    * bit-for-bit identity-critical (see [[readDerived]]'s scaladoc): a
    * reordered copy would break the exceptAll gates by 1 ulp with
    * nothing pointing at the drifted duplicate, so there must be no
    * duplicate to drift. */
  private[graft] def deriveMomentCols(df: DataFrame,
                                      valueCols: Seq[String]): DataFrame =
    valueCols.foldLeft(df) { (d, v) =>
      val nD = col(s"cntv_$v").cast("double")
      val sumD = col(s"sum_$v").cast("double")
      val sqD = col(s"sumsq_$v").cast("double")
      d.withColumn(s"avg_$v",
          when(col(s"cntv_$v") > 0, sumD / nD)
            .otherwise(lit(null).cast("double")))
        .withColumn(s"var_$v",
          when(col(s"cntv_$v") > 1,
            (sqD - sumD * sumD / nD) / (nD - lit(1.0)))
            .otherwise(lit(null).cast("double")))
    }

  /** keyed flat stamp (no `buckets=` token, same reason as v2 flat). */
  private def paramsStringKeyed(keyCols: Seq[String], groupCols: Seq[String],
                                valueCol: String, orderCol: String): String =
    s"keyed flat key=${keyCols.mkString("+")} " +
      s"group=${groupCols.mkString("+")} value=$valueCol order=$orderCol"

  /** keyed partitioned stamp: `buckets=` MUST be the second token ([[read]]
    * keys the partitioned branch off it, [[rebucket]] rewrites it);
    * `kbuckets=` fixes the independent key-state hash space. */
  private def paramsStringKeyedPart(nBuckets: Int, nKeyBuckets: Int,
                                    keyCols: Seq[String],
                                    groupCols: Seq[String],
                                    valueCol: String,
                                    orderCol: String): String =
    s"keyed buckets=$nBuckets kbuckets=$nKeyBuckets " +
      s"key=${keyCols.mkString("+")} group=${groupCols.mkString("+")} " +
      s"value=$valueCol order=$orderCol"

  private def paramsStringKeyedV2Part(nBuckets: Int, nKeyBuckets: Int,
                                      keyCols: Seq[String],
                                      groupCols: Seq[String],
                                      valueCols: Seq[String],
                                      orderCol: String): String =
    s"keyedv2 buckets=$nBuckets kbuckets=$nKeyBuckets " +
      s"key=${keyCols.mkString("+")} group=${groupCols.mkString("+")} " +
      s"values=${valueCols.mkString("+")} order=$orderCol"

  /** v2 flat stamp: no `buckets=` token — [[read]] keys partitioned-ness
    * off the `… buckets=` prefixes, so a v2 whole-dir table reads through
    * the whole-dir (backup-aware) branch. */
  private def paramsStringV2(groupCols: Seq[String], valueCols: Seq[String],
                             orderCol: String): String =
    s"v2 flat group=${groupCols.mkString("+")} " +
      s"values=${valueCols.mkString("+")} order=$orderCol"

  private def paramsStringV2Part(nBuckets: Int, groupCols: Seq[String],
                                 valueCols: Seq[String],
                                 orderCol: String): String =
    s"v2 buckets=$nBuckets group=${groupCols.mkString("+")} " +
      s"values=${valueCols.mkString("+")} order=$orderCol"

  private def paramsStringV3(groupCols: Seq[String],
                             distinctCols: Seq[String],
                             orderCol: String): String =
    s"v3 flat group=${groupCols.mkString("+")} " +
      s"distinct=${distinctCols.mkString("+")} order=$orderCol"

  private def paramsStringV3Part(nBuckets: Int, groupCols: Seq[String],
                                 distinctCols: Seq[String],
                                 orderCol: String): String =
    s"v3 buckets=$nBuckets group=${groupCols.mkString("+")} " +
      s"distinct=${distinctCols.mkString("+")} order=$orderCol"

  private def bakRoot(targetDir: String): String =
    targetDir.stripSuffix("/") + ".__agg_bak"

  /** Whole-dir swap with RECOVERABLE crash semantics: every committed
    * AggMaintenance state carries `_GRAFT_AGG_WM`, so [[healWholeDir]]
    * can always decide which side of the two renames a crash hit — unlike
    * a data-file test, which is blind to the sidecar-only (empty cold
    * start) rollup and would silently reset the watermark chain. */
  private def swapWholeDir(fs: FileSystem, targetDir: String,
                           staged: Path): Unit = {
    val dst = new Path(targetDir)
    val bak = new Path(bakRoot(targetDir) + "_dir")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"swap: rename $dst -> $bak failed")
    if (!fs.rename(staged, dst)) {
      if (fs.exists(bak)) fs.rename(bak, dst) // restore; best effort
      throw new java.io.IOException(
        s"swap: rename $staged -> $dst failed (backup restored)")
    }
    fs.delete(bak, true)
    ()
  }

  /** Heal a [[swapWholeDir]] crash window: the destination lacking its
    * watermark sidecar while a backup exists means the crash hit between
    * the two renames — the backup IS the committed state; restore it. A
    * destination that has its sidecar means the forward rename completed —
    * drop the leftover backup. */
  private def healWholeDir(fs: FileSystem, targetDir: String): Unit = {
    val bak = new Path(bakRoot(targetDir) + "_dir")
    if (!fs.exists(bak)) return
    // SidecarIO.exists, not raw fs.exists: on fallback schemes an
    // in-place wm advance crashed mid two-phase commit leaves the wm
    // committed only in its `.new` twin — a raw probe would read
    // "uncommitted", delete the CURRENT destination, and restore the
    // older backup, rolling back committed state
    val committed = graft.core.SidecarIO.exists(fs,
      new Path(targetDir, WmFile))
    if (!committed) {
      val dst = new Path(targetDir)
      if (fs.exists(dst)) fs.delete(dst, true)
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(
          s"recovery: rename $bak -> $dst failed; manual intervention needed")
    } else { fs.delete(bak, true); () }
  }

  /** Swap `targetDir/bucketName` for `staged` through a backup OUTSIDE the
    * rollup root, so partition discovery can never parse swap debris as a
    * partition value. A crash between the two renames is healed by
    * [[healBuckets]] on the next apply or read. */
  private def swapBucket(fs: FileSystem, targetDir: String,
                         bucketName: String, staged: Path): Unit = {
    val dst = new Path(targetDir, bucketName)
    val bak = new Path(bakRoot(targetDir), bucketName)
    fs.mkdirs(bak.getParent)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"bucket swap: rename $dst -> $bak failed")
    if (!fs.rename(staged, dst)) {
      if (fs.exists(bak)) fs.rename(bak, dst) // restore; best effort
      throw new java.io.IOException(
        s"bucket swap: rename $staged -> $dst failed (backup restored)")
    }
    fs.delete(bak, true)
    ()
  }

  /** Bounded-parallel map over driver-side METADATA ops (sidecar reads,
    * rename swaps). The partitioned form's per-apply bookkeeping is
    * O(touched buckets) filesystem RPCs in three places (bucket-wm scan,
    * crashed-attempt skip probe, commit loop); sequential at the layout's
    * ~√groups design point (~31k buckets, 1–5 ms/RPC on HDFS) that is
    * minutes of driver wall per slice — parallel at 16 it is seconds.
    * Every call is independent (Hadoop FileSystem objects are
    * thread-safe); result order is preserved; the first failure rethrows
    * its original exception. */
  private def parMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      // daemon threads: a hung filesystem RPC must not block JVM exit
      val tf = new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-agg-meta-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, items.size), tf)
      try {
        val futures = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(a)
          })
        }
        try futures.map(_.get())
        catch {
          // ANY failure of the wait — a task error (ExecutionException) or
          // the caller being interrupted (job kill) — must cancel queued
          // work and WAIT OUT in-flight tasks before rethrowing: a
          // straggler swap still mutating the rollup after this method has
          // thrown would race the caller's retry/healing pass (delete
          // staged dirs under a live swap, heal backups a swap is
          // concurrently creating). InterruptedException clears the
          // interrupt flag, so the drain below can proceed; the flag is
          // restored before rethrowing.
          case e: Throwable =>
            pool.shutdownNow()
            val drained = pool.awaitTermination(60,
              java.util.concurrent.TimeUnit.SECONDS)
            if (!drained)
              // the quiesced-before-rethrow contract is VIOLATED: a swap
              // hung past the drain window (filesystem RPC stall) may
              // still be mutating the rollup. Say so loudly rather than
              // rethrow as if quiesced — the caller's heal pass must not
              // assume exclusive ownership of staged dirs.
              System.err.println(
                "[graft] WARN: AggMaintenance.parMap drain timed out after " +
                "60s — in-flight bucket swaps may still be running; do not " +
                "run a heal/retry pass until they quiesce")
            e match {
              case ee: java.util.concurrent.ExecutionException =>
                throw ee.getCause
              case ie: InterruptedException =>
                Thread.currentThread().interrupt(); throw ie
              case other => throw other
            }
        }
      } finally { pool.shutdown(); () }
    }

  /** Every bucket's applied watermark (driver-side file reads, bounded by
    * the bucket count; parallel — see [[parMap]]). `prefix` selects the
    * partition namespace: rollup buckets (`__bucket=`) or the keyed
    * lane's state buckets (`__kbucket=`). */
  private def bucketWms(fs: FileSystem, targetDir: String,
                        prefix: String = "__bucket="): Seq[Long] = {
    val root = new Path(targetDir)
    if (!fs.exists(root)) Nil
    else {
      val dirs = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(prefix))
      parMap(dirs)(st => readWm(fs, new Path(st.getPath, WmFile))).flatten
    }
  }

  /** Restore interrupted bucket swaps: a backup whose bucket dir is gone
    * IS the previous committed state (the crash hit between the two
    * renames) — put it back; one whose bucket dir exists lost after the
    * forward rename — drop it. */
  private def healBuckets(fs: FileSystem, targetDir: String): Unit = {
    val bk = new Path(bakRoot(targetDir))
    if (!fs.exists(bk)) return
    fs.listStatus(bk).foreach { st =>
      val dst = new Path(targetDir, st.getPath.getName)
      if (!fs.exists(dst)) {
        if (!fs.rename(st.getPath, dst))
          throw new java.io.IOException(
            s"bucket recovery: rename ${st.getPath} -> $dst failed")
      } else { fs.delete(st.getPath, true); () }
    }
    fs.delete(bk, true)
    ()
  }

  private def emptyRollup(spark: SparkSession, source: DataFrame,
                          groupCols: Seq[String],
                          metrics: Seq[Metric]): DataFrame =
    metrics.foldLeft(source.select(groupCols.map(col): _*).limit(0)) {
      (df, m) => df.withColumn(m.name, m.emptyLit)
    }

  private def readWm(fs: FileSystem, p: Path): Option[Long] =
    readText(fs, p).flatMap(_.trim.toLongOption)

  private def writeWm(fs: FileSystem, p: Path, wm: Long): Unit =
    writeText(fs, p, wm.toString)

  private def readText(fs: FileSystem, p: Path): Option[String] =
    // committed-content read: on no-AbstractFileSystem schemes the value
    // may live in SidecarIO's staged `.new` twin inside the two-phase
    // commit's crash window — read() serves whichever is committed
    graft.core.SidecarIO.read(fs, p)

  private def writeText(fs: FileSystem, p: Path, s: String): Unit =
    // the _GRAFT_AGG_WM / _GRAFT_AGG_PARAMS / _GRAFT_AGG_SCHEMA sidecars
    // are COMMIT MARKERS rewritten IN PLACE by the empty-slice watermark
    // advance and the partitioned root-wm commit — every crash-window
    // subtlety (torn write, missing-after-delete, non-atomic local
    // FileContext rename, checksum-twin staleness) lives in ONE place:
    // core.SidecarIO's scaladoc is the full argument.
    graft.core.SidecarIO.write(fs, p, s)
}
