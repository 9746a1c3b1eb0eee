package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.graftshim.SchemaAccess.asNullable

/** Keyed upsert ("MERGE") into a parquet table directory — the file-format
  * twin of the reference's `INSERT ... ON CONFLICT (pk) DO UPDATE` sink
  * (SURVEY §2.1 S4, reference session.py:135-151).
  *
  * Semantics: last-writer-wins per key by `orderCol`, updates beating the
  * existing row on ties. This replaces the reference's apply-in-ascending-
  * `updated`-order rule (session.py:126-133) with an order-independent
  * keyed reduction — equivalent final state, no global sort, idempotent
  * under replay (T3: at-least-once extract + idempotent apply).
  *
  * Scale notes (100 TB): the reduction is a single hash aggregation
  * `groupBy(keys).agg(max_by(payload, (orderCol, precedence)))` — one
  * shuffle on the merge key, map-side partial aggregation, no window sort.
  * The rewrite is the parquet-format cost: without table-format metadata a
  * merge rewrites the target. For bounded rewrites at scale, partition the
  * target (`partitionByCol`) — then only partitions containing updated keys
  * are rewritten (dynamic partition overwrite), the parquet analog of the
  * reference's bounded 10M-row slices.
  */
object ParquetMergeSink {

  /** @param rowsWritten rows materialized by THIS merge: the full table for
    *                    an unpartitioned rewrite, only the affected
    *                    partitions for a partitioned one, 0 for no-op polls.
    *                    Counted by the write job that stages them.
    * @param updateRows  rows in the extracted batch. */
  final case class MergeResult(rowsWritten: Long, updateRows: Long)

  /** Merge `updates` into the parquet table at `targetDir`.
    *
    * @param keyCols   merge key (the reference's reflected primary key)
    * @param orderCol  monotone modification column (`updated`/`ts`)
    * @param partitionByCol optional target layout column; when set, only
    *                  partitions containing updated keys are read and
    *                  rewritten (dynamic partition overwrite). MUST be
    *                  stable per key — derive it from the merge key (e.g.
    *                  `pmod(hash(key), N)`), never from mutable payload, or
    *                  a key that "moves" partitions leaves a stale twin
    *                  behind.
    * @param tombstoneCol CDC delete marker (the a21 semantics one layer
    *                  down, in the sync path a real CDC consumer feeds): a
    *                  batch row whose flag reads true DELETES its key from
    *                  the destination instead of upserting. Payload-free
    *                  deletes (NULL non-key columns) are accepted; a
    *                  delete for an absent key is an idempotent no-op;
    *                  delete-then-reinsert round-trips (the reinsert is a
    *                  later-`orderCol` arrival that wins). The column
    *                  never reaches the destination schema, and the
    *                  setting is FROZEN in the destination's state record
    *                  ([[DestState.freeze]]): a tombstone-blind merge
    *                  against a tombstoned destination (or vice versa)
    *                  refuses — mixing would silently apply delete
    *                  markers as upserts. The reference cannot express
    *                  this at all
    *                  (session.py:135-151 is upsert-only; its delete
    *                  blind spot otherwise needs Reconcile's full
    *                  anti-join scan, the wrong cost shape for a per-batch
    *                  delete feed).
    * @param destination the destination as the caller already read it
    *                  (the sync lifecycle's T1 read), reused instead of a
    *                  second read; ignored when there is no destination
    *                  yet.
    * @param orderFloor canonical watermark (core.Watermark) at or below
    *                  every batch row's `orderCol` — the run's T1 start.
    *                  Bounds the probe's destination side by a plain
    *                  literal; without it the bound is the batch minimum,
    *                  taken inside the same probe query.
    * @param onProgress M1 callback over the rows this merge writes,
    *                  against the batch's row count as the total.
    * @param state     the destination's state record as the caller
    *                  already read it (the sync lifecycle's T1), reused
    *                  instead of a second read. The merge keeps its MAX
    *                  and schema fields by the rule on [[DestState]].
    */
  def merge(spark: SparkSession, targetDir: String, updates: DataFrame,
            keyCols: Seq[String], orderCol: String,
            partitionByCol: Option[String] = None,
            knownUpdateRows: Option[Long] = None,
            tombstoneCol: Option[String] = None,
            destination: Option[DataFrame] = None,
            orderFloor: Option[Long] = None,
            onProgress: Option[Progress => Unit] = None,
            state: Option[DestState.Store] = None): MergeResult = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    // Resolve caller-supplied names against each frame's ACTUAL casing
    // once: StructType(name) lookups are always case-sensitive and column
    // resolution is too under spark.sql.caseSensitive=true, so a
    // case-only mismatch between caller args (or a renamed source) and a
    // frame would otherwise die as a raw analysis error mid-merge. A
    // frame carrying case-colliding columns (`value` AND `Value`) makes
    // fold resolution ambiguous — refuse loudly rather than silently
    // picking one and dropping the other's data.
    def resolveAgainst(cols: Array[String], frame: String)(name: String): String = {
      val hits = cols.filter(_.equalsIgnoreCase(name))
      require(hits.length <= 1,
        s"$frame carries case-colliding columns (${hits.mkString(", ")}) — " +
          "merge cannot resolve them unambiguously")
      hits.headOption.getOrElse(name)
    }
    val uResolve = resolveAgainst(updates.columns, "updates") _
    val uOrder = uResolve(orderCol)
    val uKeys = keyCols.map(uResolve)
    val uPart = partitionByCol.map(uResolve)
    val uTomb = tombstoneCol.map(uResolve)
    uTomb.foreach { t =>
      require(!uKeys.contains(t) && t != uOrder && !uPart.contains(t),
        s"tombstone column '$t' cannot also be a key/order/partition " +
          "column (a delete marker that is its own addressing column is " +
          "unresolvable)")
      require(updates.columns.contains(t),
        s"tombstone column '$t' is not in the update batch")
      // the tombstoned merge rides internal __tomb/__src columns through
      // the dedupe — a user column under either name would silently
      // collide with them (withColumn REPLACES, drop drops BOTH)
      require(t != "__tomb" && t != "__src" &&
          !updates.columns.contains("__tomb"),
        "tombstoned merge reserves the internal column names " +
          "'__tomb'/'__src'; rename the colliding batch column")
      // type gate — shared with the keyed IVM lanes (r15 advice): only
      // types whose boolean read is total or per-row checkable
      AggMaintenance.requireTombstoneType(updates, t)
    }
    // The partitioned path's crash safety RESTS on the restart marker
    // (dynamic partition overwrite is not atomic across partitions), and
    // the marker stores the canonical-long restart watermark (epoch-micros
    // for time-typed order columns, the raw long for numeric ones —
    // core.Watermark). An order column outside the watermark protocol
    // would silently skip the marker — the exact loss window the marker
    // exists to close — so it is rejected up front; use the unpartitioned
    // atomic-swap merge for non-watermark order columns.
    if (partitionByCol.isDefined) {
      val dt = updates.schema(uOrder).dataType
      require(graft.core.Watermark.supported(dt),
        s"partitioned merge requires a numeric or timestamp order column " +
          s"for the crash-recovery marker; '$orderCol' is ${dt.simpleString} — " +
          "drop partitionByCol to use the atomic whole-directory swap")
    }
    val fs = new Path(targetDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedSwap(fs, targetDir)
    val exists = hasData(fs, new Path(targetDir))
    // the tombstone setting is part of the destination's frozen
    // parameterization — mixing tombstoned and tombstone-blind merges
    // against one dest would silently apply delete markers as upserts.
    // A cold start resets the record here, before any data commit.
    val store = state.getOrElse(DestState.parquet(fs, targetDir))
    store.open(uTomb, exists)
    // normalized delete flag: try_cast (never a raw ANSI cast error
    // mid-shuffle), NULL reads as false — the common CDC shape
    val tombFlag = uTomb.map(t =>
      coalesce(col(t).try_cast("boolean"), lit(false)))

    def withProgress[A](rows: Long)(body: => A): A = onProgress match {
      case Some(f) => TaskProgressListener.withProgress(spark, rows, f)(body)
      case None => body
    }

    // One materialization of the extracted batch: the probe, admission
    // pass and dedupe/write below all reuse it, so a live (JDBC) source is
    // scanned exactly once per merge and every derived number describes
    // the same snapshot.
    val mustPersist = updates.storageLevel == StorageLevel.NONE
    if (mustPersist) updates.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE admission pass (only in the tombstoned path — the blind path
      // learns its batch size from the cold count or the probe): batch
      // size, malformed flags, delete count, and NULL-partition deletes
      val (knownRows, delCount) = uTomb match {
        case None => (knownUpdateRows, 0L)
        case Some(t) =>
          val flag = tombFlag.get
          val aggs = Seq(
            count(lit(1)).as("n"),
            count(when(col(t).isNotNull &&
              col(t).try_cast("boolean").isNull, lit(1))).as("bad"),
            count(when(flag, lit(1))).as("dels")) ++
            uPart.map(pc => count(when(flag && col(pc).isNull, lit(1)))
              .as("delnullpart"))
          val r = updates.agg(aggs.head, aggs.drop(1): _*).first()
          if (r.getLong(1) > 0L)
            throw graft.core.GraftError.InvalidConfig(
              s"batch carries ${r.getLong(1)} row(s) whose tombstone '$t' " +
                "does not cast to boolean — treating malformed delete " +
                "markers as upserts would silently mix tombstoned and " +
                "tombstone-blind semantics; repair the source")
          if (uPart.isDefined && r.getLong(3) > 0L)
            throw graft.core.GraftError.InvalidConfig(
              s"batch carries ${r.getLong(3)} delete row(s) with a NULL " +
                s"'${uPart.get}' partition value — the partition column " +
                "is key-derived (merge contract), so a delete must carry " +
                "it or its target partition cannot be located")
          (knownUpdateRows.orElse(Some(r.getLong(0))), r.getLong(2))
      }
      def idle(): MergeResult = {
        // idle poll (T5): nothing extracted → never touch the destination
        store.commit(None)
        MergeResult(0L, 0L)
      }
      // Before a commit starts, the record forgets what the commit may
      // contradict (DestState: never a stale-high MAX or a stale schema):
      // MAX when the batch deletes, the schema when the written data
      // columns (all but the partition column, whose type a read infers
      // from directory names) differ from it
      def retract(written: StructType, partCol: Option[String]): Unit = {
        def data(t: StructType) = t.fields.toSeq
          .filterNot(f => partCol.exists(_.equalsIgnoreCase(f.name)))
        store.describe(s => s.copy(
          destMax = s.destMax.filter(_ => delCount == 0L),
          schema = s.schema.filter(r => data(r) == data(asNullable(written)))))
      }
      if (!exists) {
        val updateRows = knownRows.getOrElse(updates.count())
        // S3 create-dest-from-source-schema (session.py:194-197): still dedup
        // within the batch (a key may appear twice in one extract). STAGED,
        // then made visible by one rename: Spark's job commit moves task
        // files into the target sequentially, so a driver crash mid-commit
        // would leave SOME part files visible — hasData would then read
        // true and the next run would trust the partial destination's
        // MAX(watermark), silently skipping the crashed batch's lost rows
        // forever. (A leftover _temporary/ or a half-staged tmp is NOT
        // data; the cold start simply re-runs.)
        // tombstones participate in last-writer-wins (a later delete beats
        // an earlier upsert and vice versa), then losing DELETE winners
        // simply never reach the destination — cold-start deletes of
        // never-synced keys are no-ops by construction
        val prepared = uTomb match {
          case None => updates
          case Some(t) => updates.withColumn("__tomb", tombFlag.get).drop(t)
        }
        val deduped0 = dedupe(prepared.withColumn("__src", lit(1)), uKeys, uOrder)
        val deduped =
          if (uTomb.isDefined) deduped0.filter(!col("__tomb")).drop("__tomb")
          else deduped0
        val tmp = targetDir.stripSuffix("/") + ".__merge_tmp"
        if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
        // an all-deletes cold batch legitimately stages ZERO rows
        val (written, writtenMax) = withProgress(updateRows)(
          write(deduped, tmp, uPart, uOrder, sorted = true))
        val dst = new Path(targetDir)
        // hasData said false, so anything here is crashed-first-write debris
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(new Path(tmp), dst))
          throw new java.io.IOException(
            s"cold merge: rename $tmp -> $dst failed")
        // cold-start deletes of never-synced keys leave no row to carry
        // their watermark — record the batch bound so the next poll's
        // restart point clears the already-applied delete feed
        val applied =
          if (uTomb.isDefined && delCount > 0L) graft.core.Watermark
            .toMicros(updates.agg(max(col(uOrder))).first().get(0))
          else None
        // the cold write is the whole destination: its MAX is exact, and
        // so is its schema, unless a read infers a partition column's type
        store.commit(applied, _.copy(destMax = writtenMax,
          schema = Option.when(uPart.isEmpty)(asNullable(deduped.schema))))
        return MergeResult(written, updateRows)
      }
      if (knownRows.contains(0L)) return idle()

      val dest = destination.getOrElse(
        readDestination(spark, targetDir, store.stored))
      // Schema drift must fail TYPED and loud before any projection: the
      // select-onto-target-columns below would silently DISCARD a column
      // the source gained (every future sync dropping that data), and a
      // column the source lost would die as a raw AnalysisException. A
      // sync tool's contract on drift is "stop and tell the operator",
      // never either of those.
      // Compare case-folded (matching JdbcUpsertSink.ensureTable and Spark's
      // own case-insensitive resolution) — a case-only rename must not read
      // as the same column added AND removed; original casing is kept for
      // the error message.
      val targetCols = dest.columns
      // case-colliding columns within one frame defeat fold comparison
      // AND fold projection — refuse before any of it
      Seq(updates.columns -> "updates", targetCols -> "target").foreach {
        case (cols, frame) =>
          val dups = cols.groupBy(_.toLowerCase).filter(_._2.length > 1)
          require(dups.isEmpty,
            s"$frame carries case-colliding columns " +
              s"(${dups.values.flatten.mkString(", ")}) — merge cannot " +
              "resolve them unambiguously")
      }
      // the tombstone column is transport metadata, never destination
      // schema — exclude it from drift on both sides
      val targetFold = targetCols.map(_.toLowerCase).toSet
      val updateFold = updates.columns.map(_.toLowerCase).toSet
      val added = updates.columns.filterNot(c => targetFold(c.toLowerCase) ||
        uTomb.exists(_.equalsIgnoreCase(c))).toSeq
      val removed = targetCols.filterNot(c => updateFold(c.toLowerCase)).toSeq
      if (added.nonEmpty || removed.nonEmpty) {
        // an empty batch carries nothing to drift; the probe that would
        // tell is not run on a batch that cannot be projected
        if (knownRows.isEmpty && updates.isEmpty) return idle()
        throw graft.core.GraftError.SchemaDrift(added, removed)
      }
      // Project by the UPDATES' actual column names aliased to the
      // target's casing: resolving target-cased names against updates
      // relies on spark.sql.caseSensitive=false — under a case-sensitive
      // session a case-only rename that passed the folded drift check
      // would otherwise die here as a raw AnalysisException. The same
      // applies to the key/order/partition columns against the
      // target-cased frames below.
      val updatesByFold = updates.columns.map(c => c.toLowerCase -> c).toMap
      // __tomb (the normalized flag) rides beside the projected payload:
      // target rows are implicitly live (__tomb = false), so the one
      // dedupe below resolves upsert-vs-delete per key and the winner's
      // flag decides survival
      val tagged = updates.select(targetCols
        .map(tc => col(updatesByFold(tc.toLowerCase)).as(tc))
        .toIndexedSeq ++ tombFlag.map(_.as("__tomb")).toSeq: _*)
        .withColumn("__src", lit(1))
      val target = dest.withColumn("__src", lit(0))
      val tResolve = resolveAgainst(targetCols, "target") _
      val tOrder = tResolve(orderCol)
      val tKeys = keyCols.map(tResolve)
      def withTombFalse(df: DataFrame): DataFrame =
        if (uTomb.isEmpty) df else df.withColumn("__tomb", lit(false))
      def dropTombWinners(df: DataFrame): DataFrame =
        if (uTomb.isEmpty) df else df.filter(!col("__tomb")).drop("__tomb")

      // T3/T5 no-op detection: the inclusive lower bound re-extracts
      // watermark ties every poll; a re-extracted row IDENTICAL to its
      // destination twin carries nothing. ONE probe query over the batch
      // answers it together with the batch size and the order bounds (the
      // restart marker's lo, the applied watermark's hi): an existence
      // join of every batch row against the destination, scan-only, so an
      // idle continuous poll skips the O(dest) rewrite while any actual
      // difference — including a payload change on a tied watermark,
      // which the S4 tie rule resolves in the update's favour — still
      // merges. Every batch row has orderCol >= the floor (the caller's
      // T1 start, else the batch minimum), so an identical twin sits in
      // that range: bounding the destination side lets parquet row-group
      // stats skip the rest (the tie range is a poll-sized sliver at
      // 100 TB). (Equality treats NULL != NULL, so null-bearing rows read
      // as novel: a spurious rewrite at worst, never a skipped change.)
      val floor = orderFloor
        .map(graft.core.Watermark.litFor(dest.schema(tOrder).dataType, _))
        .getOrElse(tagged.agg(min(col(tOrder))).scalar())
      // only LIVE rows take the identical-twin test — a payload-free
      // delete row has no destination twin by construction and would
      // otherwise read as novel on every poll, re-rewriting an idle dest
      val live = if (uTomb.isEmpty) lit(true) else !col("__tomb")
      val batch = probe(tagged, dest.filter(col(tOrder) >= floor), tOrder, live)
      val updateRows = knownRows.getOrElse(batch.rows)
      if (updateRows == 0) return idle()
      val tieLo = batch.lo
      val appliedHi: Option[Long] =
        if (uTomb.isDefined) graft.core.Watermark.toMicros(batch.hi) else None
      // a re-extracted delete whose key is already GONE carries nothing;
      // one key-level semi-join (scan-only, skipped when the batch has no
      // deletes at all) detects a delete that still has work to do
      val novelDelete =
        if (delCount == 0L) 0L
        else tagged.filter(col("__tomb")).select(tKeys.map(col): _*)
          .join(target.select(tKeys.map(col): _*), tKeys, "left_semi")
          .limit(1).count()
      if (!batch.novel && novelDelete == 0) {
        // the batch is PROVEN fully applied (no live novelty, no delete
        // with work left) — advancing here is what stops an idle
        // continuous sync from re-extracting the accumulated delete
        // feed on every poll. Every live batch row has its destination
        // twin, so their MAX raises a MAX left stale-low by a crash
        // between an earlier commit and its record write
        val liveHi =
          if (graft.core.Watermark.supported(tagged.schema(tOrder).dataType))
            graft.core.Watermark.toMicros(batch.liveHi)
          else None
        store.commit(appliedHi, _.raised(liveHi))
        return MergeResult(0L, updateRows)
      }

      // (rows written, what the commit leaves in the record)
      val (written, seen) = withProgress(updateRows)(partitionByCol match {
        case Some(p) =>
          // Bounded rewrite: only target partitions that contain updated keys
          // participate. The partition list is a small driver-side scalar set
          // (like the watermark reads); target rows outside it are never read
          // or rewritten — the parquet analog of the reference's bounded
          // slices, and what keeps merge cost ∝ update locality at 100 TB.
          val tPart = tResolve(p)
          val uPartCol = col(uPart.getOrElse(p))
          val partVals = updates.select(uPartCol)
            .distinct().collect().map(_.get(0))
          val nonNull = partVals.filter(_ != null)
          // isin() never matches NULL — target rows in a null partition must
          // be kept explicitly or the dynamic overwrite would drop them
          val partPred =
            if (nonNull.length == partVals.length) col(tPart).isin(nonNull.toIndexedSeq: _*)
            else col(tPart).isin(nonNull.toIndexedSeq: _*) || col(tPart).isNull
          val affected = withTombFalse(target).filter(partPred)
          val merged =
            dropTombWinners(dedupe(affected.unionByName(tagged), tKeys, tOrder))
          // Can't overwrite partitions we are reading: stage affected rows,
          // then dynamic-partition-overwrite replaces only those partitions.
          val tmp = targetDir.stripSuffix("/") + ".__merge_tmp"
          // a fully-vacated batch (every key in the affected partitions
          // deleted) stages ZERO rows, yet its empty write still leaves one
          // schema-bearing part file: the written count, not the listing,
          // says whether the overwrite job and the staged re-read run
          val (stagedRows, stagedMax) =
            write(merged, tmp, None, tOrder, sorted = false)
          retract(merged.schema, Some(tPart))
          // Dynamic partition overwrite commits per partition, NOT atomically
          // across them: a crash can leave some partitions new (advancing
          // MAX(watermark) in dest) while others keep old rows. Record the
          // batch's low watermark first; the next sync treats a surviving
          // marker as "restart extraction from here" and the idempotent
          // merge heals any partial commit. Cleared only after a fully-committed overwrite
          // AND the vacated-partition removal below.
          graft.core.Watermark.toMicros(tieLo) match {
            case Some(lo) => store.markRestart(lo)
            case None => () // all-null order column (watermark type enforced
                            // above): rows without a watermark are outside
                            // the protocol
          }
          if (stagedRows > 0L) {
            val staged = spark.read.parquet(tmp)
            val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try
              staged.sortWithinPartitions(col(tOrder)) // row-group stats layout
                .write.mode(SaveMode.Overwrite).partitionBy(tPart).parquet(targetDir)
            finally {
              prevMode match {
                case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
                case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
              }
            }
          }
          // Dynamic overwrite cannot DROP a partition that is absent from
          // the staged frame, so a partition whose last key was deleted
          // would silently keep its old rows forever. Remove vacated
          // partition dirs explicitly. Both sides of the comparison are
          // Spark's OWN string-cast of the value (the same rendering the
          // partition writer uses for the dir name), so the match holds
          // for any partition type, and only delete-touched partitions
          // can vacate (an upsert row always lands in the staged frame).
          // Idempotent + still under the restart marker: a crash mid-sweep
          // re-extracts and re-deletes.
          if (delCount > 0L) {
            val stagedStrs: Set[String] =
              if (stagedRows == 0L) Set.empty
              else spark.read.parquet(tmp)
                .select(col(tPart).cast("string")).distinct()
                .collect().flatMap(r => Option(r.getString(0))).toSet
            val deletePartStrs = updates.filter(tombFlag.get)
              .select(uPartCol.cast("string")).distinct()
              .collect().flatMap(r => Option(r.getString(0)))
            deletePartStrs.filterNot(stagedStrs).foreach { s =>
              val dir = new Path(targetDir,
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .getPartitionPathString(tPart, s))
              if (fs.exists(dir)) fs.delete(dir, true)
            }
          }
          fs.delete(new Path(tmp), true)
          // without deletes a rewritten partition's rows only move to a
          // later watermark, so the new MAX is the higher of the two
          (stagedRows, (_: DestState).raised(stagedMax))
        case None =>
          val merged = dropTombWinners(
            dedupe(withTombFalse(target).unionByName(tagged), tKeys, tOrder))
          // Parquet dirs can't be read and overwritten in one job: stage then
          // swap the whole directory (atomicSwap). An everything-deleted
          // merge legitimately stages zero rows; the swap still runs (the
          // empty dest reads as "no destination", and the next run's cold
          // re-extract converges).
          val tmp = targetDir.stripSuffix("/") + ".__merge_tmp"
          val (stagedRows, stagedMax) =
            write(merged, tmp, None, tOrder, sorted = true)
          retract(merged.schema, None)
          atomicSwap(fs, targetDir, tmp)
          // the rewrite is the whole destination: MAX and schema exact
          (stagedRows, (_: DestState).copy(destMax = stagedMax,
            schema = Some(asNullable(merged.schema))))
      })
      // the marker clears with the bound: a surviving marker means a
      // possibly-partial commit, and min(marker) must keep winning over
      // this bound at the next restart
      store.commit(appliedHi, seen)
      MergeResult(written, updateRows)
    } finally if (mustPersist) updates.unpersist()
  }

  private def bakDir(targetDir: String): String =
    targetDir.stripSuffix("/") + ".__merge_old"

  /** Replace `targetDir` with the staged `tmpDir` via two renames, checking
    * each (HDFS-style filesystems return false instead of throwing) and
    * restoring the backup if the forward swap fails. A crash between the
    * two renames is healed by [[recoverInterruptedSwap]] on the next call.
    * Shared by the unpartitioned merge and the Compact maintenance op. */
  private[sync] def atomicSwap(fs: FileSystem, targetDir: String,
                               tmpDir: String): Unit = {
    val dst = new Path(targetDir)
    val bak = new Path(bakDir(targetDir))
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"swap: rename $dst -> $bak failed")
    if (!fs.rename(new Path(tmpDir), dst)) {
      fs.rename(bak, dst) // restore; best effort before surfacing
      throw new java.io.IOException(
        s"swap: rename $tmpDir -> $dst failed (backup restored)")
    }
    fs.delete(bak, true)
    ()
  }

  /** Distinct hive partition column names of a single-level `col=value/`
    * layout at `dir` (the merge sink's own partitioned shape) — empty for
    * an unpartitioned table. Maintenance rewrites (Reconcile, Compact)
    * consult this so they PRESERVE the layout instead of silently
    * flattening a partitioned destination (which the next dynamic
    * partition overwrite would then corrupt into mixed root-files-plus-
    * partition-dirs). */
  private[sync] def partitionColsOf(fs: org.apache.hadoop.fs.FileSystem,
                                    dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith(".")) // swap/stage debris is not layout
      .map(_.getPath.getName.split("=", 2)(0))
      .distinct
  }

  /** True when the path holds actual table data — at least one entry that
    * is not a hidden/metadata artifact (`_temporary`, `_SUCCESS`, dotfiles).
    * A crashed first write leaves only such artifacts and must read as
    * "no destination yet", not wedge every subsequent run. */
  private[sync] def hasData(fs: org.apache.hadoop.fs.FileSystem, path: Path): Boolean =
    fs.exists(path) && fs.listStatus(path).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** Heal a crash window between the two swap renames: destination gone but
    * backup present → the backup IS the previous destination; restore it.
    * Destination healthy with a backup still present → the crash hit after
    * the forward rename; the backup is stale — DROP it (it is a full table
    * copy, and an idle destination whose polls keep early-returning would
    * otherwise carry it forever; same rule as AggMaintenance.healWholeDir). */
  private[sync] def recoverInterruptedSwap(fs: org.apache.hadoop.fs.FileSystem,
                                           targetDir: String): Unit = {
    val dst = new Path(targetDir)
    val bak = new Path(bakDir(targetDir))
    if (!hasData(fs, dst) && hasData(fs, bak)) {
      if (fs.exists(dst)) fs.delete(dst, true)
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(
          s"merge recovery: rename $bak -> $dst failed; manual intervention needed")
    } else if (hasData(fs, dst) && fs.exists(bak)) {
      fs.delete(bak, true)
      ()
    }
  }

  /** Last-writer-wins per key: max_by(payload, (orderCol, __src, hash)) in
    * one hash aggregate. `__src` breaks order ties in favour of the update
    * — the deterministic replacement for "apply in ascending updated
    * order". The payload hash breaks remaining EXACT (orderCol, __src)
    * ties deterministically (JdbcUpsertSink.normalize's discipline): a
    * same-timestamp delete/upsert pair for one key, or two differing
    * same-timestamp updates, must crown the same winner on every retry —
    * max_by alone would pick by shuffle arrival order. Map-typed columns
    * are excluded from the hash (xxhash64 rejects MapType at analysis);
    * rows equal on everything else are interchangeable. */
  private def dedupe(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val payloadCols = df.columns.filterNot(keyCols.contains).filter(_ != "__src")
    val payload = struct(payloadCols.map(col).toIndexedSeq: _*)
    val hashCols = df.schema.fields.toIndexedSeq
      .filter(f => payloadCols.contains(f.name) && hashable(f.dataType))
      .map(f => col(f.name))
    val tie = if (hashCols.isEmpty) lit(0L) else xxhash64(hashCols: _*)
    val ord = struct(col(orderCol), col("__src"), tie)
    df.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(max_by(payload, ord).as("__payload"))
      .select(keyCols.map(col) ++
        payloadCols.map(c => col(s"__payload.$c").as(c)): _*)
  }

  /** What one probe pass learns about a batch bound for an existing
    * destination: its row count, the order column's min/max (and max over
    * live rows), and whether any live row lacks an identical destination
    * twin. */
  private final case class Probe(rows: Long, lo: Any, hi: Any, liveHi: Any,
                                 novel: Boolean)

  /** The merge's one scalar pass over a batch (`tagged`: the batch
    * projected onto the destination's columns) against `dest`, which the
    * caller has already bounded to the order floor. The twin test is a
    * correlated EXISTS over every destination column — planned as an
    * existence join, so each batch row counts once however many twins
    * the destination holds. A row where `live` is false never counts as
    * novel. */
  private def probe(tagged: DataFrame, dest: DataFrame, orderCol: String,
                    live: Column): Probe = {
    val dataCols = dest.columns.toIndexedSeq
    // The batch side takes names no destination column carries: a
    // correlated reference resolves against the subquery's own plan
    // first, so a shared name would compare the destination with itself.
    val outer = dataCols.indices.map(i => s"__probe$i")
    val twin = dest.where(dataCols.zip(outer)
      .map { case (c, o) => col(c) === col(o).outer() }.reduce(_ && _))
      .exists()
    val order = col(outer(dataCols.indexOf(orderCol)))
    val r = tagged
      .select(dataCols.zip(outer).map { case (c, o) => col(c).as(o) } :+
        live.as("__live"): _*)
      .select(order, col("__live"), (col("__live") && !twin).as("__novel"))
      .agg(count(lit(1)), min(order), max(order),
        max(when(col("__live"), order)), count_if(col("__novel")))
      .first()
    Probe(r.getLong(0), r.get(1), r.get(2), r.get(3), r.getLong(4) > 0L)
  }

  /** Write with the BRIN-analog layout (SURVEY §4.1) when `sorted`: rows
    * sorted WITHIN partitions by the watermark column, so parquet
    * row-group min/max stats stay tight and T1 watermark reads / S1 range
    * scans skip row groups — the storage-side twin of the reference's BRIN
    * advisory. No global sort (that would be a range shuffle); only the
    * free in-task ordering of data the merge already holds. Returns the
    * rows written and their MAX(`orderCol`) ([[observedWrite]]). */
  private def write(df: DataFrame, dir: String, partitionByCol: Option[String],
                    orderCol: String, sorted: Boolean): (Long, Option[Long]) = {
    val out = if (sorted) df.sortWithinPartitions(col(orderCol)) else df
    observedWrite(out, Some(orderCol)) { o =>
      val w = o.write.mode(SaveMode.Overwrite)
      partitionByCol.fold(w)(w.partitionBy(_)).parquet(dir)
    }
  }

  /** The destination at `dir` read with the schema its state record holds
    * (no inference job); inferred only when the record has none. */
  private[sync] def readDestination(spark: SparkSession, dir: String,
                                    recorded: Option[DestState]): DataFrame =
    recorded.flatMap(_.schema)
      .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** Run `save` on `df` and return the rows it wrote, counted by the write
    * job itself: an observed `count(1)` over `df` instead of reading the
    * written files back. Pass the frame exactly as it is written, after
    * any `repartition` or `sortWithinPartitions`: the count then sits
    * directly under the write, in its result stage, where Spark applies
    * each task's update once even under task retry or speculation. The
    * count arrives only through a `DataFrameWriter` action: an
    * `Observation` on a frame consumed by `foreachPartition` never
    * completes on Spark 4.1.2. */
  private[sync] def countedWrite(df: DataFrame)(save: DataFrame => Unit): Long =
    observedWrite(df, None)(save)._1

  /** [[countedWrite]] that also observes MAX(`maxOf`) in the same write
    * job, canonical (core.Watermark): None for an empty write or a column
    * outside the watermark types. */
  private[sync] def observedWrite(df: DataFrame, maxOf: Option[String])
                                 (save: DataFrame => Unit): (Long, Option[Long]) = {
    val written = Observation()
    val wm = maxOf.filter(c =>
      graft.core.Watermark.supported(df.schema(c).dataType))
    save(df.observe(written, count(lit(1)).as("rows"),
      wm.map(c => max(col(c)).as("max")).toSeq: _*))
    val r = written.get
    (r("rows").asInstanceOf[Long],
      wm.flatMap(_ => graft.core.Watermark.toMicros(r("max"))))
  }
}
