package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.graftshim.SchemaAccess.asNullable
import graft.core.GraftError.InvalidConfig
import graft.core.{SidecarIO, Watermark}

/** Incremental maintenance of a materialized GROUPED AGGREGATE (batch IVM)
  * — the complement to [[ParquetMergeSink]]'s row-level merge: where the
  * merge sink keeps a row-for-row mirror of the source, this keeps only a
  * per-group rollup, updated one watermark slice at a time without ever
  * rescanning history. At 100 TB the difference is the whole point: a
  * nightly "balance per account" table costs one slice scan plus a
  * group-cardinality shuffle, not a full-corpus re-aggregation. The
  * streaming twin is `streaming/IncrementalBalance` (A5/T6); this is the
  * batch lane for stores that arrive as watermark extracts (the
  * reference's own data model, session.py:58).
  *
  * LANES. Every lane folds a MERGEABLE summary with the same union+regroup
  * combine; a lane is a metric set × append-only-or-keyed × layout, named
  * by the stamp its state record carries (`params=`):
  *
  * {{{
  * apply lane                    stamp prefix      layout         metrics per group     readers
  * applySlice                    (none)            whole dir      cnt, sum_val,         read
  *                                                                min_val, max_val
  * applySliceV2                  v2 flat           whole dir      cnt; per v: cntv_v,   read, readDerived
  *                                                                sum_v, sumsq_v,
  *                                                                min_v, max_v
  * applySliceDistinct            v3 flat           whole dir      cnt; per v: hll_v     read, readDistinct
  * applySliceKeyed               keyed flat        whole dir +    cnt (live keys),      read, readKeyed*
  *                                                 key state      sum_val
  * applySlicePartitioned         v1 buckets=       __bucket=K/    as applySlice         read
  * applySlicePartitionedV2       v2 buckets=       __bucket=K/    as applySliceV2       read, readDerived
  * applySlicePartitionedDistinct v3 buckets=       __bucket=K/    as applySliceDistinct read, readDistinct
  * applySliceKeyedPartitioned    keyed buckets=    __bucket=K/ +  as applySliceKeyed    read, readKeyed*
  *                               kbuckets=         __kbucket=J/
  * applySliceKeyedPartitionedV2  keyedv2 buckets=  __bucket=K/ +  cnt; per v: cntv_v,   read, readDerived,
  *                               kbuckets=         __kbucket=J/   sum_v, sumsq_v        readKeyed*
  * }}}
  *
  * After the prefix a stamp carries `key=…` (keyed lanes), `group=…`,
  * `value=…` / `values=…` / `distinct=…`, `order=…` and, for a tombstoned
  * keyed lane, `tomb=…`. A call whose stamp differs from the stored one
  * refuses typed, naming the lane that owns the table. Column names may
  * not carry a stamp delimiter (space, '+', '=', newline): two
  * parameterizations would otherwise stamp identically, and the record
  * is one field per line.
  *
  * APPEND-ONLY lanes (v1/v2/v3) fold slices as pure EVENT streams: a
  * re-arriving row is NEW MASS and counts twice — right for
  * event/transaction tables (README.md:146-151), documented-wrong for
  * row-mirror rollups over keyed, updated-in-place sources (the a14 gate
  * pins this). Only DISTRIBUTIVE summaries are kept: cnt, exact DECIMAL
  * sum and sum-of-squares (the a4 rule — slice order can never move a
  * bit), min/max, and HLL sketches (register-wise max; the only distinct
  * count that survives incremental maintenance, ~1.6% typical error,
  * gated against exact counts with tolerance, never by hash). The combine
  * is UNION + one grouped re-aggregation, NEVER a join: NULL groups flow
  * through like any value, and the shuffle input is group-cardinality ×2,
  * not slice-sized.
  *
  * KEYED lanes maintain last-writer-wins rollups over a keyed mirror (the
  * reference's ON CONFLICT DO UPDATE, session.py:135-151): after every
  * apply the rollup equals the grouped aggregate of latest-per-key(mirror)
  * (a16). Beside the rollup lives a KEY-STATE store (`_GRAFT_AGG_STATE/`,
  * key → group + value of its latest arrival). A slice folds as
  * latest-per-key within the slice (order column desc, deterministic
  * payload-hash tie-break, so a retry crowns the same winner), then the
  * signed delta +1/+v per arriving key in its NEW group ∪ −1/−old v per
  * known key in its OLD group, then the same union+regroup (groups whose
  * live count reaches 0 are dropped) and state ← (state ∖ slice keys) ∪
  * slice latest. The state lookup and rewrite are equi-joins DRIVEN by the
  * slice (the arriving key set is broadcast while small). Only signed sums
  * are retractable: min/max would need per-group value history (scoped
  * out, NOTES.md); readKeyedMinMax/readKeyedDistinct compose them exactly
  * from a rollup grouped by the value column instead. Key columns must be
  * non-NULL (a NULL key never joins its prior arrival) — a slice carrying
  * one refuses typed. `tombstoneCol` (CDC deletes): a row whose flag reads
  * true retracts its key and leaves the state; NULL reads as false; a flag
  * that does not cast to boolean refuses typed; the column is part of the
  * stamp (`tomb=`), so tombstoned and tombstone-blind applies never mix.
  *
  * EXACTLY-ONCE. A rollup root keeps its state in ONE framed record,
  * `_GRAFT_AGG_RECORD` (core.SidecarIO.writeRecord), three fields in this
  * order: `wm=` the applied watermark (canonical epoch-µs long —
  * core.Watermark), the commit marker; `params=` the stamp (empty for v1
  * whole-dir); `schema=` the rollup schema as Catalyst JSON (an empty
  * rollup may have no part files). Each state change is one write of the
  * record. Slices apply contiguously:
  * a replay (`hi` ≤ stored) is a reported no-op, a gap (`lo` ≠ stored) a
  * typed refusal, an EMPTY slice still advances the watermark in place
  * (an idle poll must not wedge the chain). The first apply's `lo` is the
  * caller's opening cut. A root written before the record (one sidecar
  * per field, [[SidecarLayout]]) reads as that record, at the root and at
  * the backup alike; its first commit migrates it.
  *   - Whole dir: rollup, key state and record are staged in
  *     `<dir>.__agg_tmp` and committed by ONE two-rename swap
  *     (ParquetMergeSink.swap, the one directory commit of graft.sync)
  *     through `<dir>.__agg_bak_dir` — the cold start too, empty or not —
  *     so no crash leaves data without its watermark or vice versa. The
  *     next apply heals an interrupted swap (ParquetMergeSink.heal, the
  *     root committed once its record holds `wm`); readers read around
  *     it.
  *   - Partitioned (`__bucket=K` on pmod(hash(group), n); key state
  *     `__kbucket=J` on pmod(xxhash64(key), m)): one apply rewrites ONLY
  *     the buckets its slice touches — per-apply cost slice + touched
  *     buckets, for billion-group rollups (size n ≈ √groups). Each bucket's
  *     data + its own watermark commit by the same swap (staging and
  *     backup live OUTSIDE the root, `<dir>.__agg_tmp` / `<dir>.__agg_bak`;
  *     a bucket is committed once it exists; its watermark is its own
  *     one-field `_GRAFT_AGG_WM`); keyed rollup buckets swap before state
  *     buckets; the ROOT record's watermark commits last. A re-run skips
  *     buckets whose watermark reached `hi`, and a crashed attempt with
  *     a DIFFERENT cut is finished first by splitting the apply at each
  *     interior bucket watermark. Reads are
  *     bucket-atomic, not slice-atomic, against a LIVE writer.
  * Sidecar writes go through core.SidecarIO, crash-atomic where the store
  * has an atomic path and two-phase elsewhere; every read serves the
  * committed value at every crash point. Single writer per rollup. */
object AggMaintenance {

  /** @param groupsWritten groups materialized by THIS apply (the full
    *                      rollup for a whole-dir slice, the rewritten
    *                      buckets' groups for a partitioned one, 0 for
    *                      replays and watermark-only advances).
    * @param sliceRows     rows the slice contributed.
    * @param applied       false only for the replay no-op.
    * @param watermarkUs   the stored watermark after this call. */
  final case class AggResult(groupsWritten: Long, sliceRows: Long,
                             applied: Boolean, watermarkUs: Long)

  private val RecordFile = "_GRAFT_AGG_RECORD"
  private val RecordFields = Seq("wm", "params", "schema")
  private val StateDir = "_GRAFT_AGG_STATE"
  /** Exact accumulation types (the a4 DECIMAL rule): 28 integral digits of
    * sum headroom; (18,4)² summed in (38,8) leaves 30 for sum-of-squares. */
  private val SumType = "decimal(28,4)"
  private val ValType = "decimal(18,4)"
  private val SqType = "decimal(38,8)"

  /** Per group: cnt, sum_val, min_val, max_val over `valueCol`. */
  def applySlice(spark: SparkSession, targetDir: String, source: DataFrame,
                 orderCol: String, groupCols: Seq[String], valueCol: String,
                 lo: Long, hi: Long): AggResult =
    run(spark, targetDir, source, lo, hi,
      Stamp("v1", group = groupCols, values = Seq(valueCol), order = orderCol))

  /** Per group: cnt plus, per value column v, cntv_v / sum_v / sumsq_v /
    * min_v / max_v — the moments [[readDerived]] turns into avg/var. */
  def applySliceV2(spark: SparkSession, targetDir: String, source: DataFrame,
                   orderCol: String, groupCols: Seq[String],
                   valueCols: Seq[String], lo: Long, hi: Long): AggResult =
    run(spark, targetDir, source, lo, hi,
      Stamp("v2", group = groupCols, values = valueCols, order = orderCol))

  /** Per group: cnt plus one HLL sketch `hll_v` per distinct-counted
    * column; estimates via [[readDistinct]]. */
  def applySliceDistinct(spark: SparkSession, targetDir: String,
                         source: DataFrame, orderCol: String,
                         groupCols: Seq[String], distinctCols: Seq[String],
                         lo: Long, hi: Long): AggResult =
    run(spark, targetDir, source, lo, hi,
      Stamp("v3", group = groupCols, values = distinctCols, order = orderCol))

  /** Last-writer-wins per group: cnt = live keys, sum_val = exact sum of
    * their latest values; `tombstoneCol` marks CDC deletes. */
  def applySliceKeyed(spark: SparkSession, targetDir: String,
                      source: DataFrame, orderCol: String,
                      keyCols: Seq[String], groupCols: Seq[String],
                      valueCol: String, lo: Long, hi: Long,
                      tombstoneCol: Option[String] = None): AggResult =
    run(spark, targetDir, source, lo, hi, Stamp("keyed", key = keyCols,
      group = groupCols, values = Seq(valueCol), order = orderCol,
      tomb = tombstoneCol))

  /** [[applySlice]] over `nBuckets` group-hash buckets. */
  def applySlicePartitioned(spark: SparkSession, targetDir: String,
                            source: DataFrame, orderCol: String,
                            groupCols: Seq[String], valueCol: String,
                            lo: Long, hi: Long, nBuckets: Int): AggResult =
    run(spark, targetDir, source, lo, hi, Stamp("v1", Some(nBuckets),
      group = groupCols, values = Seq(valueCol), order = orderCol))

  /** [[applySliceV2]] over `nBuckets` group-hash buckets. */
  def applySlicePartitionedV2(spark: SparkSession, targetDir: String,
                              source: DataFrame, orderCol: String,
                              groupCols: Seq[String], valueCols: Seq[String],
                              lo: Long, hi: Long,
                              nBuckets: Int): AggResult =
    run(spark, targetDir, source, lo, hi, Stamp("v2", Some(nBuckets),
      group = groupCols, values = valueCols, order = orderCol))

  /** [[applySliceDistinct]] over `nBuckets` group-hash buckets. */
  def applySlicePartitionedDistinct(spark: SparkSession, targetDir: String,
                                    source: DataFrame, orderCol: String,
                                    groupCols: Seq[String],
                                    distinctCols: Seq[String],
                                    lo: Long, hi: Long,
                                    nBuckets: Int): AggResult =
    run(spark, targetDir, source, lo, hi, Stamp("v3", Some(nBuckets),
      group = groupCols, values = distinctCols, order = orderCol))

  /** [[applySliceKeyed]] over `nBuckets` group-hash rollup buckets and
    * `nKeyBuckets` key-hash state buckets (sized separately: keys are
    * usually far finer than groups). */
  def applySliceKeyedPartitioned(spark: SparkSession, targetDir: String,
                                 source: DataFrame, orderCol: String,
                                 keyCols: Seq[String],
                                 groupCols: Seq[String], valueCol: String,
                                 lo: Long, hi: Long, nBuckets: Int,
                                 nKeyBuckets: Int,
                                 tombstoneCol: Option[String] = None)
      : AggResult =
    run(spark, targetDir, source, lo, hi, Stamp("keyed", Some(nBuckets),
      Some(nKeyBuckets), keyCols, groupCols, Seq(valueCol), orderCol,
      tombstoneCol))

  /** Keyed MOMENTS: live-key cnt plus, per value column, the retractable
    * cntv_v / sum_v / sumsq_v, so [[readDerived]] serves avg/var of the
    * current mirror (no min/max: not retractable). */
  def applySliceKeyedPartitionedV2(spark: SparkSession, targetDir: String,
                                   source: DataFrame, orderCol: String,
                                   keyCols: Seq[String],
                                   groupCols: Seq[String],
                                   valueCols: Seq[String],
                                   lo: Long, hi: Long, nBuckets: Int,
                                   nKeyBuckets: Int,
                                   tombstoneCol: Option[String] = None)
      : AggResult =
    run(spark, targetDir, source, lo, hi, Stamp("keyedv2", Some(nBuckets),
      Some(nKeyBuckets), keyCols, groupCols, valueCols, orderCol,
      tombstoneCol))

  /** The applied watermark (canonical µs), None before the first apply.
    * Read-only: inside a whole-dir swap crash window the committed value
    * comes from the backup without touching anything. */
  def watermark(spark: SparkSession, targetDir: String): Option[Long] =
    new RollupState(spark, targetDir).committed._2.flatMap(_.wm)

  /** The full rollup (group columns, then the lane's metrics); an empty
    * rollup is served schema-correct from the record's schema, a
    * partitioned one without its `__bucket` column. Read-only: the
    * committed side of every interrupted swap is read around, never
    * healed (a concurrent apply may own the swap). */
  def read(spark: SparkSession, targetDir: String): DataFrame =
    read(new RollupState(spark, targetDir))

  private def read(st: RollupState): DataFrame = {
    val (at, rec) = st.committed
    val schema = rec.flatMap(_.schema)
    def empty(): DataFrame = st.spark.createDataFrame(st.spark.sparkContext
      .emptyRDD[Row], schema.getOrElse(throw InvalidConfig(s"no rollup at " +
        s"${st.dir} (no data files and no schema in its state record)")))
    // the stamp falls back to the backup too: inside a rebucket's swap
    // window the root is absent, and a partitioned table read through the
    // flat branch would surface the internal __bucket column
    if (rec.flatMap(_.params).exists(Stamp.parse(_).partitioned)) {
      val rootBuckets = bucketDirs(st.fs, at, "__bucket=").map(_.getName)
      val bakKids = bucketDirs(st.fs, new Path(bakRoot(st.dir)), "__bucket=")
        .filterNot(p => rootBuckets.contains(p.getName))
      val rootDf = Option.when(rootBuckets.nonEmpty)(readParquet(st.spark,
        schema, at, Seq(at), Some("__bucket")).drop("__bucket"))
      (rootDf.toSeq ++ bakKids.map(p =>
        readParquet(st.spark, schema, p, Seq(p))))
        .reduceOption(_ unionByName _).getOrElse(empty())
    }
    else if (ParquetMergeSink.hasData(st.fs, at))
      readParquet(st.spark, schema, at, Seq(at))
    else empty()
  }

  /** A v2/keyedv2 rollup with `avg_v` and `var_v` (sample variance, DOUBLE)
    * derived per value column by [[deriveMomentCols]]; refuses typed on
    * any other lane (v1 keeps no sum-of-squares). */
  def readDerived(spark: SparkSession, targetDir: String): DataFrame = {
    val st = new RollupState(spark, targetDir)
    deriveMomentCols(read(st), requireStamp(st, Set("v2", "keyedv2"),
      "v2/keyedv2 moments rollup").values)
  }

  /** A v3 rollup with `approx_distinct_v` (BIGINT) per sketched column. An
    * all-NULL column reads 0 — hll_sketch_agg emits an EMPTY sketch for
    * zero non-null inputs, which is SQL's COUNT(DISTINCT); the coalesce
    * also covers a null sketch cell. Refuses typed on any other lane. */
  def readDistinct(spark: SparkSession, targetDir: String): DataFrame = {
    val st = new RollupState(spark, targetDir)
    requireStamp(st, Set("v3"), "v3 distinct-count rollup").values
      .foldLeft(read(st)) { (df, v) => df.withColumn(s"approx_distinct_$v",
        coalesce(when(col(s"hll_$v").isNotNull,
          hll_sketch_estimate(col(s"hll_$v"))), lit(0L))) }
  }

  /** EXACT keyed distinct counts from a keyed rollup grouped by
    * (outer..., distinct...): its live groups are precisely the tuples
    * with ≥1 live key, so the distinct count per outer prefix is a count
    * of live groups (a group-cardinality regroup at read time).
    * `outerGroupCols` must be a proper non-empty subset of the stored
    * group columns. Returns (outer..., distinct_groups, cnt). */
  def readKeyedDistinct(spark: SparkSession, targetDir: String,
                        outerGroupCols: Seq[String]): DataFrame = {
    val st = new RollupState(spark, targetDir)
    val stored = keyedGroupColsFor(st, "readKeyedDistinct", outerGroupCols)
    if (outerGroupCols.size >= stored.size)
      throw InvalidConfig(
        "outer group columns cover every stored group column — nothing " +
          "is left to count distinct; rebuild the rollup with the " +
          "distinct column appended to its group columns")
    read(st)
      .groupBy(outerGroupCols.map(col): _*)
      .agg(count(lit(1)).as("distinct_groups"),
        sum(col("cnt")).cast("long").as("cnt"))
  }

  /** EXACT keyed MIN/MAX from a keyed rollup grouped by (outer...,
    * valueGroupCol): its live groups carry the mirror's exact live value
    * set, so min/max over them is retractable where a maintained running
    * min/max is not. Returns (outer..., min_<v>, max_<v>, cnt). */
  def readKeyedMinMax(spark: SparkSession, targetDir: String,
                      outerGroupCols: Seq[String],
                      valueGroupCol: String): DataFrame = {
    val st = new RollupState(spark, targetDir)
    val stored = keyedGroupColsFor(st, "readKeyedMinMax", outerGroupCols)
    if (!stored.contains(valueGroupCol))
      throw InvalidConfig(
        s"value column '$valueGroupCol' is not a group column of this " +
          s"rollup (stored: ${stored.mkString(", ")}) — keyed min/max " +
          "reads fold the LIVE GROUP values; rebuild the rollup with the " +
          "value column appended to its group columns")
    if (outerGroupCols.contains(valueGroupCol))
      throw InvalidConfig(
        s"value column '$valueGroupCol' is also an outer group column — " +
          "a min/max over a column the result is grouped by is the " +
          "column itself")
    read(st)
      .groupBy(outerGroupCols.map(col): _*)
      .agg(min(col(valueGroupCol)).as(s"min_$valueGroupCol"),
        max(col(valueGroupCol)).as(s"max_$valueGroupCol"),
        sum(col("cnt")).cast("long").as("cnt"))
  }

  /** The stored `kbuckets=` of a keyed partitioned rollup. The CLI derives
    * its default `--kbuckets` from here: after a rebucket that keeps the
    * state space, a re-derived default would hit the
    * foreign-parameterization refusal — on a warm rollup the stamp, not
    * the derivation, is the truth. */
  def storedKeyBuckets(spark: SparkSession, targetDir: String): Option[Int] =
    new RollupState(spark, targetDir).stamp.flatMap(_.kbuckets)

  /** Change a partitioned rollup's bucket count (and, for keyed layouts,
    * optionally the state store's `kbuckets=`; 0 keeps it) in one pass —
    * the growth path the frozen stamp otherwise forecloses. A pure
    * RELABELING (groups are unique across buckets, no re-aggregation):
    * one read, one repartition-by-new-bucket write, every bucket
    * watermark restarted at the root's, committed by the whole-dir swap
    * (the partitioned applies heal its crash window back to the OLD
    * layout). Refuses while a crashed apply is mid-slice (a bucket
    * watermark past the root's): relabeling would erase the watermarks
    * its recovery needs. */
  def rebucket(spark: SparkSession, targetDir: String,
               newBuckets: Int, newKeyBuckets: Int = 0): Unit = {
    require(newBuckets >= 1 && newBuckets <= 65536,
      s"newBuckets must be in [1, 65536], got $newBuckets")
    require(newKeyBuckets >= 0 && newKeyBuckets <= 65536,
      s"newKeyBuckets must be in [0, 65536] (0 = keep), got $newKeyBuckets")
    val st = new RollupState(spark, targetDir)
    val fs = st.fs
    st.heal(buckets = true)
    val params = st.rec.flatMap(_.params).getOrElse(throw InvalidConfig(
      s"no params stamp at $targetDir — not a partitioned rollup"))
    val s = Stamp.parse(params)
    val oldBuckets = s.buckets.getOrElse(throw InvalidConfig(
      s"rollup at $targetDir is stamped '$params' — rebucket applies " +
        "only to bucket-partitioned layouts"))
    if (newKeyBuckets > 0 && !s.keyed)
      throw InvalidConfig(
        s"rollup at $targetDir is stamped '$params' — newKeyBuckets " +
          "resizes the keyed lane's state store; this layout has none")
    if (s.group.isEmpty || (s.keyed && (s.key.isEmpty || s.kbuckets.isEmpty)))
      throw InvalidConfig(
        s"malformed partitioned stamp at $targetDir: '$params'")
    val oldKb = s.kbuckets.getOrElse(0)
    val kb = if (newKeyBuckets > 0) newKeyBuckets else oldKb
    if (oldBuckets == newBuckets && kb == oldKb) return // no-op relabel
    val wm = st.wm.getOrElse(throw InvalidConfig(
      s"rollup at $targetDir has no root watermark — not a committed " +
        "AggMaintenance table"))
    if ((bucketWms(fs, st.root, "__bucket=") ++
        bucketWms(fs, st.stateRoot, "__kbucket=")).exists(_ > wm))
      throw InvalidConfig(
        s"rollup at $targetDir has bucket watermarks past the root " +
          s"watermark $wm — a crashed apply is mid-slice; re-run that " +
          "apply to completion first, then rebucket")
    st.clearTmp()
    // one bucketed namespace rewritten into the stage (relabeled when
    // `label` is set), every written bucket's watermark restarted at wm;
    // read with `schema` when it is known (the rollup's, from the record)
    def relabel(from: Path, to: Path, c: String, label: Option[Column],
                schema: Option[StructType]): Unit =
      if (bucketDirs(fs, from, s"$c=").isEmpty) { fs.mkdirs(to); () }
      else {
        val df = readParquet(spark, schema, from, Seq(from), Some(c))
        label.fold(df)(l => df.drop(c).withColumn(c, l))
          .repartition(col(c))
          .write.mode("overwrite").partitionBy(c).parquet(to.toString)
        parMap(bucketDirs(fs, to, s"$c="))(writeWm(fs, _, wm))
        ()
      }
    relabel(st.root, st.tmp, "__bucket",
      Some(pmod(hash(s.group.map(col): _*), lit(newBuckets))),
      st.rec.flatMap(_.schema))
    // the key-state store rides inside the rollup dir: the swap would drop
    // it unless it is staged too (labels kept unless kbuckets changed —
    // the two hash spaces are independent)
    if (s.keyed)
      relabel(st.stateRoot, new Path(st.tmp, StateDir), "__kbucket",
        if (kb == oldKb) None
        else Some(pmod(xxhash64(s.key.map(col): _*), lit(kb.toLong))
          .cast("int")), None)
    st.commitStaged(Rec(Some(wm), s.copy(buckets = Some(newBuckets),
      kbuckets = s.kbuckets.map(_ => kb)).render, st.rec.flatMap(_.schema)))
  }

  /** The contractual avg/var derivation over v2 moment columns
    * (`cntv_v` / `sum_v` / `sumsq_v` → `avg_v` / `var_v`) — ONE definition
    * shared by [[readDerived]], the a10 gate's one-shot twin and
    * ScaleStress, so no duplicate can drift by an ulp. The chain is a
    * cross-engine bit-identity contract, fixed as (n = cntv_v)
    *   avg_v = double(sum_v) / double(n),  NULL when n = 0
    *   var_v = (double(sumsq_v) − double(sum_v)·double(sum_v)/double(n))
    *           / (double(n) − 1),  NULL when n ≤ 1
    * over exact DECIMAL moments, so any engine replaying the same IEEE-754
    * operations reproduces it (Spark's var_samp is merge-order-dependent:
    * tolerance only). Caveats: the decimal→double cast is engine-identical
    * only while the unscaled value stays under 2^53 (DuckDB rounds twice
    * above it — the a10/a11 gates hash only moments below that bound), and
    * the textbook chain can cancel to a tiny NEGATIVE variance for a
    * near-constant, high-magnitude column; it is deliberately neither
    * reordered nor clamped — wrap it in greatest(var_v, 0.0) if validity
    * matters more than bit-identity. */
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

  // ---- lanes: stamp, metrics, admission ----

  /** A lane's full parameterization and its record's `params=` text.
    * `buckets=` is always the second token (partitioned-ness is keyed off
    * it); v1 whole-dir is the one unstamped layout. `values` rides under
    * `value=` (v1, keyed), `values=` (v2, keyedv2) or `distinct=` (v3). */
  private final case class Stamp(kind: String, buckets: Option[Int] = None,
                                 kbuckets: Option[Int] = None,
                                 key: Seq[String] = Nil,
                                 group: Seq[String] = Nil,
                                 values: Seq[String] = Nil,
                                 order: String = "",
                                 tomb: Option[String] = None) {
    def keyed: Boolean = kind.startsWith("keyed")
    def partitioned: Boolean = buckets.isDefined
    def lane: String = Stamp.Lanes.getOrElse((kind, partitioned),
      "the matching applySlice* lane")
    def render: Option[String] =
      if (kind == "v1" && !partitioned) None
      else Some((Seq(kind, buckets.fold("flat")(b => s"buckets=$b")) ++
        kbuckets.map(k => s"kbuckets=$k") ++
        (if (key.isEmpty) Nil else Seq(s"key=${key.mkString("+")}")) ++
        Seq(s"group=${group.mkString("+")}",
          s"${Stamp.valueToken(kind)}=${values.mkString("+")}",
          s"order=$order") ++
        tomb.map(t => s"tomb=$t")).mkString(" "))
    def metrics: Seq[Metric] = kind match {
      case "v1" => v1Metrics(values.head)
      case "v2" => v2Metrics(values)
      case "v3" => v3Metrics(values)
      case _    => keyedMetrics(values, moments = kind == "keyedv2")
    }
  }

  private object Stamp {
    val Lanes: Map[(String, Boolean), String] = Map(
      ("v1", false) -> "applySlice", ("v1", true) -> "applySlicePartitioned",
      ("v2", false) -> "applySliceV2", ("v2", true) -> "applySlicePartitionedV2",
      ("v3", false) -> "applySliceDistinct",
      ("v3", true) -> "applySlicePartitionedDistinct",
      ("keyed", false) -> "applySliceKeyed",
      ("keyed", true) -> "applySliceKeyedPartitioned",
      ("keyedv2", true) -> "applySliceKeyedPartitionedV2")

    def valueToken(kind: String): String = kind match {
      case "v1" | "keyed" => "value"
      case "v3"           => "distinct"
      case _              => "values"
    }

    def parse(p: String): Stamp = {
      val tokens = p.split(' ').toSeq
      val kv = tokens.drop(1).flatMap { t =>
        val i = t.indexOf('=')
        if (i < 0) None else Some(t.take(i) -> t.drop(i + 1))
      }.toMap
      def cols(k: String) = kv.get(k).map(_.split('+').toSeq).getOrElse(Nil)
      val kind = tokens.headOption.getOrElse("")
      Stamp(kind, kv.get("buckets").flatMap(_.toIntOption),
        kv.get("kbuckets").flatMap(_.toIntOption), cols("key"), cols("group"),
        cols(valueToken(kind)), kv.getOrElse("order", ""), kv.get("tomb"))
    }
  }

  /** One maintained metric: stored name and exact type, the aggregation
    * producing it from a slice (append-only lanes) or from the signed
    * latest/retraction union (keyed lanes: every keyed metric is a sum of
    * signed contributions — that is what makes it retractable), the merge
    * folding old and new partials, and the cold-start literal. */
  private final case class Metric(name: String, typ: String,
                                  partial: Column, merge: Column,
                                  emptyLit: Column)

  /** A summed metric: merges by sum, starts at 0 (counts) or NULL (sums). */
  private def summed(name: String, typ: String, partial: Column): Metric =
    Metric(name, typ, partial, sum(col(name)).cast(typ),
      if (typ == "long") lit(0L) else lit(null).cast(typ))

  private def extreme(name: String, c: Column, f: Column => Column) =
    Metric(name, ValType, f(c), f(col(name)), lit(null).cast(ValType))

  private def v1Metrics(v: String): Seq[Metric] = {
    val c = col(v).cast(ValType)
    Seq(summed("cnt", "long", count(lit(1))),
      summed("sum_val", SumType, sum(c).cast(SumType)),
      extreme("min_val", c, min(_: Column)),
      extreme("max_val", c, max(_: Column)))
  }

  // per-column non-NULL count cntv_v: a NULL contributes nothing to
  // sum/sumsq, so avg/var over the ROW count would dilute them
  private def v2Metrics(values: Seq[String]): Seq[Metric] =
    summed("cnt", "long", count(lit(1))) +: values.flatMap { v =>
      val c = col(v).cast(ValType)
      Seq(summed(s"cntv_$v", "long", count(c)),
        summed(s"sum_$v", SumType, sum(c).cast(SumType)),
        summed(s"sumsq_$v", SqType, sum((c * c).cast(SqType)).cast(SqType)),
        extreme(s"min_$v", c, min(_: Column)),
        extreme(s"max_$v", c, max(_: Column)))
    }

  // HLL sketches merge register-wise; the merged estimate is not
  // byte-identical to a one-shot sketch (HIP vs composite estimator)
  private def v3Metrics(values: Seq[String]): Seq[Metric] =
    summed("cnt", "long", count(lit(1))) +: values.map(v =>
      Metric(s"hll_$v", "binary", hll_sketch_agg(col(v)),
        hll_union_agg(col(s"hll_$v")), lit(null).cast("binary")))

  private def keyedMetrics(values: Seq[String], moments: Boolean)
      : Seq[Metric] = {
    val sign = col("__sign")
    // sign applied by NEGATION, not multiplication: decimal × long
    // re-derives precision/scale and can silently cap at 38
    def signed(x: Column): Column = when(sign < 0L, -x).otherwise(x)
    summed("cnt", "long", sum(sign).cast("long")) +: (
      if (!moments) Seq(summed("sum_val", SumType,
        sum((col(values.head) * sign).cast(SumType)).cast(SumType)))
      else values.flatMap { vc =>
        val v = col(vc) // already ValType in the signed union
        Seq(summed(s"cntv_$vc", "long",
            sum(when(v.isNotNull, sign).otherwise(lit(0L))).cast("long")),
          summed(s"sum_$vc", SumType,
            sum(signed(v.cast(SumType))).cast(SumType)),
          summed(s"sumsq_$vc", SqType,
            sum(signed((v * v).cast(SqType))).cast(SqType)))
      })
  }

  private def aggregate(g: RelationalGroupedDataset, ms: Seq[Metric],
                        f: Metric => Column): DataFrame =
    g.agg(f(ms.head).as(ms.head.name), ms.tail.map(m => f(m).as(m.name)): _*)

  /** Every parameter rule of every lane, checked before any I/O. */
  private def validate(s: Stamp, source: DataFrame, lo: Long, hi: Long)
      : Unit = {
    val op = s.lane
    require(s.group.nonEmpty, s"$op requires at least one group column")
    require(s.values.nonEmpty, s"$op requires at least one value column")
    require(s.values.distinct == s.values,
      s"duplicate value columns: ${s.values.mkString(", ")}")
    require(hi >= lo, s"$op: hi ($hi) must be >= lo ($lo)")
    s.buckets.foreach(n => require(n >= 1 && n <= 65536,
      s"nBuckets must be in [1, 65536], got $n"))
    s.kbuckets.foreach(n => require(n >= 1 && n <= 65536,
      s"nKeyBuckets must be in [1, 65536], got $n"))
    if (s.keyed) {
      require(s.key.nonEmpty, s"$op requires at least one key column")
      require(s.key.distinct == s.key,
        s"duplicate key columns: ${s.key.mkString(", ")}")
      require(s.group.distinct == s.group,
        s"duplicate group columns: ${s.group.mkString(", ")}")
      s.values.foreach(v => require(!(s.key ++ s.group).contains(v),
        s"value column '$v' is also a key/group column — aggregate a copy " +
          "under a different name"))
      require(!(s.key ++ s.group ++ s.values).contains(s.order),
        s"order column '${s.order}' cannot also be a key/group/value " +
          "column in the keyed lane (a group that moves on every touch has " +
          "no stable retraction target)")
      s.tomb.foreach(LastWriterWins.requireTombstone(source, _,
        s.key ++ s.group ++ s.values :+ s.order))
    }
    val wmType = source.schema(s.order).dataType
    require(Watermark.supported(wmType),
      s"order column '${s.order}' must be integral-numeric or " +
        s"timestamp-typed; got ${wmType.simpleString}")
    // stamped column names must not carry a stamp delimiter; refused, not
    // escaped — an escape scheme would bind every stamp parser forever
    if (s.render.isDefined)
      Seq("key" -> s.key, "group" -> s.group,
        (if (s.kind == "v3") "distinct" else "value") -> s.values,
        "order" -> Seq(s.order), "tombstone" -> s.tomb.toSeq).foreach {
        case (role, cols) => cols.foreach { c =>
          if (c.isEmpty || c.exists(" +=\n".contains(_)))
            throw InvalidConfig(
              s"$role column '$c' is empty or contains a params-stamp " +
                "delimiter (space, '+', '=', newline) — different " +
                "parameterizations could stamp identically, and a newline " +
                "would break the state record; rename the column")
        }
      }
  }

  // ---- the two apply cores ----

  private def run(spark: SparkSession, targetDir: String, source: DataFrame,
                  lo: Long, hi: Long, s: Stamp): AggResult = {
    validate(s, source, lo, hi)
    val st = new RollupState(spark, targetDir)
    st.heal(buckets = s.partitioned)
    st.check(s)
    if (s.partitioned) applyPartitioned(spark, st, source, lo, hi, s)
    else applyWholeDir(spark, st, source, lo, hi, s)
  }

  private def sliceOf(source: DataFrame, s: Stamp, lo: Long, hi: Long)
      : DataFrame = {
    val t = source.schema(s.order).dataType
    source.filter(col(s.order) >= Watermark.litFor(t, lo) &&
      col(s.order) < Watermark.litFor(t, hi))
  }

  /** Whole-directory core: v1, v2, v3 and keyed flat. Everything the
    * slice changes is staged and committed by one swap; only an empty
    * slice on a committed rollup advances the watermark in place. */
  private def applyWholeDir(spark: SparkSession, st: RollupState,
                            source: DataFrame, lo: Long, hi: Long,
                            s: Stamp): AggResult = {
    val stored = st.advance(lo, hi) match {
      case Left(replay) => return replay
      case Right(wm)    => wm
    }
    val exists = ParquetMergeSink.hasData(st.fs, st.root)
    requireStateStore(st, s, stored, exists)
    val slice = sliceOf(source, s, lo, hi)
    val keyed = if (s.keyed) Some(new KeyedSlice(slice, s, lo, hi)) else None
    val partial = if (s.keyed) None else Some(aggregate(
      slice.groupBy(s.group.map(col): _*), s.metrics, _.partial).persist())
    try {
      // one scalar pass: the slice's row count (cnt leads every lane).
      // Grouped by a constant, not a global aggregate: an empty partial
      // then yields no row, and AQE skips the aggregate's own stage
      val rows = keyed.fold(partial.get.groupBy(lit(true))
        .agg(sum(col("cnt"))).collect().headOption.fold(0L)(_.getLong(1)))(
        _.rows)
      if (rows == 0L && stored.isDefined) return st.advanceInPlace(hi, 0L)
      val (merged, newState) =
        if (rows == 0L) // cold start: the readable, stamped empty rollup
          (emptyRollup(source, s), keyed.map(_.emptyState))
        else {
          val state = keyed.map(k => k.readState(spark, st.stateRoot,
            if (ParquetMergeSink.hasData(st.fs, st.stateRoot))
              Seq(st.stateRoot) else Nil))
          val fresh = partial.getOrElse(keyed.get.delta(state.get))
          val m = if (!exists) fresh else fold(readParquet(spark,
            st.rec.flatMap(_.schema), st.root, Seq(st.root)), fresh, s)
          // a keyed group whose last live key left reads cnt=0: gone
          (if (s.keyed) m.filter(col("cnt") > 0L) else m,
            keyed.map(_.newState(state.get)))
        }
      st.clearTmp()
      def save(df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(st.tmp.toString)
      val groups =
        if (rows == 0L) { save(merged); 0L }
        else ParquetMergeSink.countedWrite(merged)(save)
      newState.foreach(_.write.mode("overwrite")
        .parquet(new Path(st.tmp, StateDir).toString))
      st.commitStaged(Rec(Some(hi), s.render, Some(merged.schema)))
      AggResult(groups, rows, applied = true, watermarkUs = hi)
    } finally {
      partial.foreach(_.unpersist())
      keyed.foreach(_.unpersist())
    }
  }

  /** Bucket-partitioned core: v1, v2, v3, keyed and keyedv2 over
    * `__bucket=K/` (plus `_GRAFT_AGG_STATE/__kbucket=J/` when keyed). Only
    * touched buckets are read, merged and swapped; rollup buckets commit
    * before state buckets, the root watermark last. */
  private def applyPartitioned(spark: SparkSession, st: RollupState,
                               source: DataFrame, lo: Long, hi: Long,
                               s: Stamp): AggResult = {
    val fs = st.fs
    val stored = st.advance(lo, hi) match {
      case Left(replay) => return replay
      case Right(wm)    => wm
    }
    requireStateStore(st, s, stored,
      bucketDirs(fs, st.root, "__bucket=").nonEmpty)
    // a bucket watermark strictly inside (lo, hi) means a crashed attempt
    // committed that bucket through [lo, w) with a different cut: the
    // bucket-skip below is only sound when every committed bucket holds
    // EXACTLY this slice, so finish the crashed cut first, then continue
    // (without the split a larger re-run cut would double-count [lo, w))
    val interior = (bucketWms(fs, st.root, "__bucket=") ++
        (if (s.keyed) bucketWms(fs, st.stateRoot, "__kbucket=") else Nil))
      .filter(w => w > lo && w < hi).distinct.sorted
    if (interior.nonEmpty) {
      val r1 = applyPartitioned(spark, st, source, lo, interior.head, s)
      val r2 = applyPartitioned(spark, st, source, interior.head, hi, s)
      return AggResult(r1.groupsWritten + r2.groupsWritten,
        r1.sliceRows + r2.sliceRows, applied = true, r2.watermarkUs)
    }
    val bucketOf = pmod(hash(s.group.map(col): _*), lit(s.buckets.get))
    val kbucketOf = pmod(xxhash64(s.key.map(col): _*),
      lit(s.kbuckets.getOrElse(1).toLong)).cast("int")
    val slice = sliceOf(source, s, lo, hi)
    val keyed = if (s.keyed) Some(new KeyedSlice(slice, s, lo, hi)) else None
    val partial = if (s.keyed) None else Some(aggregate(
      slice.groupBy(s.group.map(col) :+ bucketOf.as("__bucket"): _*),
      s.metrics, _.partial).persist())
    var delta: Option[DataFrame] = None
    try {
      if (stored.isEmpty) { // cold start: stamp the layout before any data
        fs.mkdirs(st.root)
        if (s.keyed) fs.mkdirs(st.stateRoot)
        st.write(Rec(None, s.render, Some(partial.fold(
          emptyRollup(source, s))(_.drop("__bucket")).schema)))
      }
      // append-only: ONE collect answers touched buckets and row count
      val perBucket = partial.map(_.groupBy("__bucket").agg(sum(col("cnt")))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq)
      val rows = perBucket.fold(keyed.get.rows)(_.map(_._2).sum)
      if (rows == 0L) return st.advanceInPlace(hi, 0L)
      // keyed: the state buckets the slice's keys land in are the ONLY
      // state the retraction lookup and the state rewrite ever read
      val probesK = keyed.fold(Seq.empty[Bucket])(k => probe(fs, st.stateRoot,
        "__kbucket=", distinctInts(k.latest.select(kbucketOf))))
      val fresh = partial.getOrElse {
        val d = keyed.get.delta(keyed.get.readState(spark, st.stateRoot,
          probesK.filter(_.hasData).map(_.path)))
          .withColumn("__bucket", bucketOf).persist()
        delta = Some(d)
        d
      }
      val probesB = probe(fs, st.root, "__bucket=", perBucket.fold(
        distinctInts(fresh.select("__bucket")))(_.map(_._1).sorted))
      val pendingB = probesB.filter(_.pending(hi))
      val pendingK = probesK.filter(_.pending(hi))
      // commit-order invariant: state buckets swap strictly AFTER every
      // rollup bucket, so a committed state bucket beside a pending rollup
      // bucket means the retraction source was half-new — unreachable
      // under single-writer discipline; refuse rather than double-count
      if (pendingB.nonEmpty && probesK.exists(!_.pending(hi)))
        throw InvalidConfig(
          s"rollup at ${st.dir} has state buckets committed at $hi while " +
            "rollup buckets are still pending — commit-order invariant " +
            "violated (concurrent writer?); rebuild the rollup")
      // every touched bucket committed before a crash: advance the root
      if (pendingB.isEmpty && pendingK.isEmpty)
        return st.advanceInPlace(hi, rows)
      st.clearTmp()
      val groups = if (pendingB.isEmpty) 0L else {
        val pendingFresh = fresh.filter(col("__bucket").isin(
          pendingB.map(_.id): _*))
        // ONE multi-path read of exactly the pending data-bearing buckets:
        // plan size O(1) and listing O(touched) in the touched-bucket
        // count (a per-bucket union of ~31k scans blew up driver analysis
        // — r12; `basePath` keeps __bucket a partition column)
        val existing = pendingB.filter(_.hasData).map(_.path)
        val m =
          if (existing.isEmpty) pendingFresh
          else fold(readParquet(spark, st.rec.flatMap(_.schema), st.root,
            existing, Some("__bucket")), pendingFresh, s)
        // repartition BY BUCKET: one owning task, so one file, per bucket
        // per slice. A replay whose pending buckets all end vacated writes
        // an empty frame, and the empty swaps below are the right commit
        ParquetMergeSink.countedWrite(
          (if (s.keyed) m.filter(col("cnt") > 0L) else m)
            .repartition(col("__bucket")))(
          _.write.mode("overwrite").partitionBy("__bucket")
            .parquet(st.tmp.toString))
      }
      val tmpState = new Path(st.tmp, StateDir)
      if (pendingK.nonEmpty) {
        val k = keyed.get
        // (state ∖ slice keys) ∪ slice latest is idempotent per bucket, so
        // a re-run over an already-rewritten state bucket is harmless
        k.newState(k.readState(spark, st.stateRoot,
            pendingK.filter(_.hasData).map(_.path)))
          .withColumn("__kbucket", kbucketOf)
          .filter(col("__kbucket").isin(pendingK.map(_.id): _*))
          .repartition(col("__kbucket"))
          .write.mode("overwrite").partitionBy("__kbucket")
          .parquet(tmpState.toString)
      }
      commitBuckets(fs, st.root, "__bucket=", pendingB, st.tmp, hi)
      commitBuckets(fs, st.stateRoot, "__kbucket=", pendingK, tmpState, hi)
      fs.delete(st.tmp, true)
      st.advanceInPlace(hi, rows).copy(groupsWritten = groups)
    } finally {
      partial.foreach(_.unpersist())
      keyed.foreach(_.unpersist())
      delta.foreach(_.unpersist())
    }
  }

  /** The one combine: stored partials ∪ fresh partials, re-aggregated per
    * group (and bucket) — a UNION, never a join. */
  private def fold(existing: DataFrame, fresh: DataFrame, s: Stamp)
      : DataFrame = {
    val keys = s.group.map(col) ++
      (if (s.partitioned) Seq(col("__bucket").cast("int")) else Nil)
    def shape(df: DataFrame) =
      df.select(keys ++ s.metrics.map(m => col(m.name).cast(m.typ)): _*)
    aggregate(shape(existing).unionByName(shape(fresh)).groupBy(
      (s.group ++ (if (s.partitioned) Seq("__bucket") else Nil)).map(col): _*),
      s.metrics, _.merge)
  }

  private def emptyRollup(source: DataFrame, s: Stamp): DataFrame =
    s.metrics.foldLeft(source.select(s.group.map(col): _*).limit(0)) {
      (df, m) => df.withColumn(m.name, m.emptyLit)
    }

  /** A keyed rollup holding data without its key-state store is foreign
    * surgery, not a crash window (state and rollup commit together):
    * folding into it would treat every re-arrival as new mass. */
  private def requireStateStore(st: RollupState, s: Stamp,
                                stored: Option[Long], holdsData: => Boolean)
      : Unit =
    if (s.keyed && stored.isDefined && holdsData &&
        !st.fs.exists(st.stateRoot))
      throw InvalidConfig(
        s"keyed rollup at ${st.dir} has data but no $StateDir store — " +
          "state and rollup commit together, so this is not a layout the " +
          "keyed lane wrote; rebuild")

  /** A keyed lane's slice: every arrival ranked latest-first per key, and
    * the signed delta and state rewrite built from the winners. */
  private final class KeyedSlice(slice: DataFrame, s: Stamp, lo: Long,
                                 hi: Long) {
    private val stateCols = (s.key ++ s.group ++ s.values).map(col)
    private val tombC = s.tomb.map(t =>
      LastWriterWins.flag(t).as("__tomb"))
    // the normalized flag joins the payload-hash tie-break, so a same-ts
    // delete/upsert pair ranks deterministically
    private val w = org.apache.spark.sql.expressions.Window
      .partitionBy(s.key.map(col): _*)
      .orderBy(col(s.order).desc, xxhash64(s.group.map(col) ++
        s.values.map(col) ++ s.tomb.map(_ => col("__tomb")): _*).desc)
    private val ranked = slice
      .select((s.key ++ s.group).map(col) ++
        s.values.map(v => col(v).cast(ValType).as(v)) ++
        (col(s.order) +: tombC.toSeq): _*)
      .withColumn("__rn", row_number().over(w))
      .persist()

    /** The slice's row count; ONE pass over the ranked frame also answers
      * the NULL-key and malformed-tombstone refusals. */
    lazy val rows: Long = {
      val a = ranked.agg(count(lit(1)),
        count(when(s.key.map(col(_).isNull).reduce(_ || _), lit(1))),
        count(when(if (s.tomb.isDefined)
          LastWriterWins.malformed(col("__tomb")) else lit(false), lit(1))))
        .first()
      if (a.getLong(1) > 0L)
        throw InvalidConfig(
          s"slice [$lo, $hi) carries ${a.getLong(1)} row(s) with a NULL key " +
            s"(${s.key.mkString(", ")}) — a NULL key cannot be matched to " +
            "its prior arrival, so last-writer-wins semantics are " +
            "undefined; filter or repair the source")
      s.tomb.foreach(
        LastWriterWins.requireWellFormed(s"slice [$lo, $hi)", _, a.getLong(2)))
      a.getLong(0)
    }
    lazy val latest: DataFrame = ranked.filter(col("__rn") === 1)
      .drop("__rn", s.order)
    // a deleted key retracts (it is in `keys`) but never re-adds
    private lazy val live =
      if (s.tomb.isEmpty) latest else latest.filter(!col("__tomb"))
    // broadcast the arriving keys while small; the cutoff scales by key
    // width (a 4-column key is ~4× the bytes), past it AQE plans a shuffle
    private lazy val keys = {
      val k = latest.select(s.key.map(col): _*)
      if (rows <= 1000000L / math.max(1, s.key.size)) broadcast(k) else k
    }
    lazy val emptyState: DataFrame = ranked.select(stateCols: _*).limit(0)

    def readState(spark: SparkSession, root: Path, dirs: Seq[Path])
        : DataFrame =
      if (dirs.isEmpty) emptyState
      else readParquet(spark, Some(emptyState.schema), root, dirs,
          Option.when(s.partitioned)("__kbucket"))
        .select((s.key ++ s.group).map(col) ++
          s.values.map(v => col(v).cast(ValType).as(v)): _*)

    /** +1/+v per arriving key in its new group ∪ −1/−v per known key in
      * its old group, aggregated per group by the lane's metrics. */
    def delta(state: DataFrame): DataFrame = {
      val cols = (s.group ++ s.values).map(col)
      val minus = state.join(keys, s.key, "inner").select(cols: _*)
        .withColumn("__sign", lit(-1L))
      val plus = live.select(cols: _*).withColumn("__sign", lit(1L))
      aggregate(plus.unionByName(minus).groupBy(s.group.map(col): _*),
        s.metrics, _.partial)
    }

    def newState(state: DataFrame): DataFrame =
      state.join(keys, s.key, "left_anti")
        .unionByName(live.select(stateCols: _*))

    def unpersist(): Unit = { ranked.unpersist(); () }
  }

  // ---- rollup state on disk ----

  /** A rollup root's state record: the applied watermark (canonical µs),
    * the params stamp (None: v1 whole-dir) and the rollup schema. */
  private final case class Rec(wm: Option[Long], params: Option[String],
                               schema: Option[StructType])

  /** The layout before the record: one sidecar per field, in field order,
    * read where a root (or its backup) has no record. A whole-dir commit
    * drops them with the old root; an in-place commit drops any after
    * writing the record. A bucket's watermark file keeps the name [[Wm]]. */
  private object SidecarLayout {
    val Wm = "_GRAFT_AGG_WM"
    def files(at: Path): Seq[Path] =
      Seq(Wm, "_GRAFT_AGG_PARAMS", "_GRAFT_AGG_SCHEMA").map(new Path(at, _))
  }

  /** The record under `at`, else the sidecar layout there. */
  private def readRec(fs: FileSystem, at: Path): Option[Rec] = {
    lazy val old = SidecarLayout.files(at).map(SidecarIO.read(fs, _))
    SidecarIO.readRecord(fs, new Path(at, RecordFile), RecordFields,
      "rollup state record").orElse(Option.when(old.exists(_.isDefined))(old))
      .map(f => Rec(f(0).flatMap(_.trim.toLongOption), f(1),
        f(2).map(DataType.fromJson(_).asInstanceOf[StructType])))
  }

  /** Parquet at `paths` under `base`, read with the recorded `schema`
    * (made nullable, plus partition column `part` as INT) — no inference
    * job; inferred only without a schema. */
  private def readParquet(spark: SparkSession, schema: Option[StructType],
                          base: Path, paths: Seq[Path],
                          part: Option[String] = None): DataFrame = {
    val r = spark.read.option("basePath", base.toString)
    schema.map(asNullable).fold(r)(s =>
      r.schema(part.fold(s)(s.add(_, IntegerType))))
      .parquet(paths.map(_.toString): _*)
  }

  /** The one reader and writer of a rollup root's record. Applies heal
    * first, then read the root's record once ([[rec]]) and keep it
    * current through every [[write]]; readers read [[committed]], the
    * backup's inside a whole-dir swap crash window. */
  private final class RollupState(val spark: SparkSession, val dir: String) {
    val root = new Path(dir)
    val fs: FileSystem =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stateRoot = new Path(root, StateDir)
    val tmp = new Path(dir.stripSuffix("/") + ".__agg_tmp")
    val bak = new Path(bakRoot(dir) + "_dir")

    private lazy val stored = readRec(fs, root)
    private var written: Option[Rec] = None
    def rec: Option[Rec] = written.orElse(stored)
    private lazy val bakRec = readRec(fs, bak)
    def wm: Option[Long] = rec.flatMap(_.wm)
    def stamp: Option[Stamp] = committed._2.flatMap(_.params).map(Stamp.parse)

    /** The committed directory and its record: the backup when the root's
      * record lacks its watermark while the backup's has one (a whole-dir
      * swap crashed between its renames), else the root. */
    def committed: (Path, Option[Rec]) =
      if (rec.exists(_.wm.isDefined) || !bakRec.exists(_.wm.isDefined))
        (root, rec) else (bak, bakRec)

    /** The contiguity rule: a replay (`hi` ≤ stored) is a reported no-op
      * (Left), a gap refuses typed (skipping [stored, lo) would undercount
      * forever), anything else proceeds with the stored watermark. A
      * replay beside a record also drops old sidecars that a
      * crash left between the record write and their drop. */
    def advance(lo: Long, hi: Long): Either[AggResult, Option[Long]] =
      wm match {
        case Some(w) if hi <= w =>
          if (SidecarIO.exists(fs, new Path(root, RecordFile))) dropSidecars()
          Left(AggResult(0L, 0L, applied = false, watermarkUs = w))
        case Some(w) if lo != w => throw InvalidConfig(
          s"non-contiguous slice: stored watermark is $w but slice starts " +
            s"at $lo — applying it would silently lose [$w, $lo)")
        case stored => Right(stored)
      }

    /** Commit `hi` as the root watermark in place. */
    def advanceInPlace(hi: Long, rows: Long): AggResult = {
      write(rec.fold(Rec(Some(hi), None, None))(_.copy(wm = Some(hi))))
      AggResult(0L, rows, applied = true, watermarkUs = hi)
    }

    /** The one stamp check: the stored stamp must be this lane's exactly.
      * A foreign lane's stamp names its owner; v1 whole-dir is the only
      * unstamped layout, so an unstamped table that holds anything refuses
      * every stamped lane, and whole-dir data without a watermark is not a
      * layout any lane wrote. */
    def check(s: Stamp): Unit = {
      def refuse(why: String) = throw InvalidConfig(s"rollup at $dir $why")
      val want = s.render
      lazy val hasData = ParquetMergeSink.hasData(fs, root)
      rec.flatMap(_.params) match {
        case have if have == want =>
        case Some(p) =>
          val owner = Stamp.parse(p).lane
          if (want.isEmpty)
            refuse(s"is stamped '$p', not a v1 whole-directory rollup; use " +
              s"$owner, or rebuild")
          else if (owner != s.lane)
            refuse(s"is stamped '$p'; use $owner, or rebuild")
          else refuse(s"was built with different parameters ($p); " +
            s"refusing to apply ${want.get} — the layouts would mix")
        case None if wm.isDefined || hasData =>
          refuse(s"has no stamp — a v1 whole-directory rollup or an " +
            s"unknown layout; use applySlice, or rebuild" +
            (if (s.partitioned) " partitioned" else ""))
        case None =>
      }
      if (!s.partitioned && hasData && wm.isEmpty)
        refuse("has data but no watermark in its state record — not an " +
          "AggMaintenance table (refusing to merge into an unknown layout)")
    }

    /** Write `r` as the root's record — one sidecar commit — in place,
      * then drop any old sidecars there (a crash between the two leaves
      * them, and the record wins); or staged `at` [[tmp]], the root's
      * once [[commitStaged]] swaps it in. */
    def write(r: Rec, at: Path = root): Unit = {
      SidecarIO.writeRecord(fs, new Path(at, RecordFile), RecordFields,
        Seq(r.wm.map(_.toString), r.params, r.schema.map(_.json)))
      if (at == root) dropSidecars()
      written = Some(r)
    }

    private def dropSidecars(): Unit =
      SidecarLayout.files(root).foreach(SidecarIO.delete(fs, _))

    /** Drop staging debris of a crashed attempt. */
    def clearTmp(): Unit = { if (fs.exists(tmp)) fs.delete(tmp, true); () }

    /** Commit the stage, with record `r`, as the whole rollup, through
      * [[bak]]; the old root's sidecars go with it. */
    def commitStaged(r: Rec): Unit = {
      write(r, tmp)
      ParquetMergeSink.swap(fs, root, tmp, bak)
    }

    /** Heal every swap a crash interrupted: the whole-dir swap first (a
      * crashed rebucket commits through it too), then, with `buckets`,
      * each bucket swap of the rollup and key-state namespaces. A root is
      * committed once its record holds `wm` (read under SidecarIO's
      * two-phase rule, so a newer root is never rolled back to an older
      * backup); a bucket once it exists. */
    def heal(buckets: Boolean): Unit = {
      ParquetMergeSink.heal(fs, root, bak,
        readRec(fs, _).exists(_.wm.isDefined))
      if (buckets) Seq(root, stateRoot).foreach { r =>
        val bk = new Path(bakRoot(r.toString))
        if (fs.exists(bk)) {
          fs.listStatus(bk).foreach(b => ParquetMergeSink.heal(fs,
            new Path(r, b.getPath.getName), b.getPath, fs.exists))
          fs.delete(bk, true)
        }
      }
    }
  }

  private def requireStamp(st: RollupState, kinds: Set[String],
                           what: String): Stamp = {
    val p = st.committed._2.flatMap(_.params).getOrElse(throw InvalidConfig(
      s"rollup at ${st.dir} carries no params stamp — not a $what"))
    val s = Stamp.parse(p)
    if (!kinds(s.kind))
      throw InvalidConfig(s"rollup at ${st.dir} is '$p', not a $what")
    if (s.group.isEmpty || s.values.isEmpty)
      throw InvalidConfig(s"malformed stamp at ${st.dir}: '$p'")
    s
  }

  /** The keyed readers' admission: a keyed stamp (append-only lanes
    * double-count re-arrivals, so their group set is not the mirror's) and
    * a distinct, non-empty outer prefix drawn from the stored group
    * columns. Returns the stored group columns. */
  private def keyedGroupColsFor(st: RollupState, reader: String,
                                outerGroupCols: Seq[String]): Seq[String] = {
    require(outerGroupCols.nonEmpty,
      s"$reader requires at least one outer group column")
    // a duplicated outer column would pass membership checks and emit two
    // identically-named ambiguous result columns
    require(outerGroupCols.distinct == outerGroupCols,
      s"duplicate outer group columns: ${outerGroupCols.mkString(", ")}")
    val stored = requireStamp(st, Set("keyed", "keyedv2"),
      s"KEYED rollup, which $reader needs (append-only lanes double-count " +
        "re-arrivals, so their group set is not a live set of the mirror)")
      .group
    val missing = outerGroupCols.filterNot(stored.contains)
    if (missing.nonEmpty)
      throw InvalidConfig(
        s"outer group column(s) ${missing.mkString(", ")} are not group " +
          s"columns of this rollup (stored: ${stored.mkString(", ")})")
    stored
  }

  // ---- buckets ----

  /** One bucket of a partitioned namespace, probed once per apply. */
  private final case class Bucket(id: Int, path: Path, wm: Option[Long],
                                  hasData: Boolean) {
    /** Not yet committed through `hi` by an earlier (crashed) attempt. */
    def pending(hi: Long): Boolean = !wm.exists(_ >= hi)
  }

  private def probe(fs: FileSystem, root: Path, prefix: String,
                    ids: Seq[Int]): Seq[Bucket] =
    parMap(ids) { b =>
      val p = new Path(root, s"$prefix$b")
      Bucket(b, p, readWm(fs, p), ParquetMergeSink.hasData(fs, p))
    }

  private def distinctInts(df: DataFrame): Seq[Int] =
    df.distinct().collect().map(_.getInt(0)).sorted.toSeq

  /** Swap each staged bucket in with its own watermark = `hi`, through a
    * backup OUTSIDE the root (partition discovery never parses swap
    * debris as data). The swaps are independent metadata ops run in
    * parallel; a crash leaves a committed subset, which the bucket-wm
    * skip and the interior split recover from. */
  private def commitBuckets(fs: FileSystem, root: Path, prefix: String,
                            buckets: Seq[Bucket], staging: Path,
                            hi: Long): Unit = {
    val bk = new Path(bakRoot(root.toString))
    if (buckets.nonEmpty) fs.mkdirs(bk)
    parMap(buckets) { b =>
      val staged = new Path(staging, s"$prefix${b.id}")
      if (!fs.exists(staged)) fs.mkdirs(staged) // bucket fully vacated
      writeWm(fs, staged, hi)
      ParquetMergeSink.swap(fs, b.path, staged, new Path(bk, b.path.getName))
    }
    ()
  }

  private def bucketDirs(fs: FileSystem, root: Path,
                         prefix: String): Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)

  /** Every bucket's applied watermark under `root` (`__bucket=` rollup
    * buckets or `__kbucket=` state buckets). */
  private def bucketWms(fs: FileSystem, root: Path,
                        prefix: String): Seq[Long] =
    parMap(bucketDirs(fs, root, prefix))(readWm(fs, _)).flatten

  private def bakRoot(targetDir: String): String =
    targetDir.stripSuffix("/") + ".__agg_bak"

  /** Bounded-parallel map over driver-side METADATA ops (sidecar reads,
    * rename swaps): O(touched buckets) RPCs, minutes sequentially at the
    * ~31k-bucket design point on HDFS, seconds 16-way. Result order is
    * preserved; the first failure rethrows its original exception. */
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
          // ANY failure of the wait must cancel queued work and WAIT OUT
          // in-flight tasks before rethrowing: a straggler swap still
          // mutating the rollup would race the caller's retry/heal pass.
          // The interrupt flag is restored before rethrowing.
          case e: Throwable =>
            pool.shutdownNow()
            val drained = pool.awaitTermination(60,
              java.util.concurrent.TimeUnit.SECONDS)
            if (!drained)
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

  /** The watermark of the bucket at `b`: one field in its own file (the
    * name [[SidecarLayout.Wm]] it shares with the layout before the
    * record), a commit marker rewritten in place (every crash-window
    * subtlety lives in core.SidecarIO). */
  private def readWm(fs: FileSystem, b: Path): Option[Long] =
    SidecarIO.read(fs, new Path(b, SidecarLayout.Wm))
      .flatMap(_.trim.toLongOption)

  private def writeWm(fs: FileSystem, b: Path, wm: Long): Unit =
    SidecarIO.write(fs, new Path(b, SidecarLayout.Wm), wm.toString)
}
