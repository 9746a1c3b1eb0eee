package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.{IncrementalBalance, RowImage}

/** Streaming semantics in the DuckDB oracle gate (SURVEY §2.8 T5/T6):
  * deterministic REPLAY-EQUIVALENCE twins. Each entry replays the events
  * fixture through the real Structured-Streaming pipeline (MemoryStream →
  * stateful ops → sink) in event-time order across several micro-batches,
  * then returns the final state — which must hash-match the plain batch
  * SQL the oracle runs. This is the batch-equivalence law from SURVEY §7.3
  * promoted from spec assertions into the external oracle gate.
  *
  * Scale note: the driver-side `collect()` of the fixture here is the
  * REPLAY HARNESS, not the operator — a production stream reads from a
  * source, never from a collected array. It is the streaming analog of the
  * gate queries' query-vector collects: bounded by the fixture, gate-only.
  *
  * Determinism: rows are fed in (ts, event_id) order; every stateful op in
  * the path is chunk-split-proof (per-key transition state sees one row
  * per unique key; sums/maxes are associative-commutative; window
  * finalization is watermark-driven), so the final state is independent of
  * the micro-batch boundaries. Doubles accumulated in stream order are
  * rounded to 2 decimals on BOTH sides — stream-vs-decimal sum error is
  * ~1e-9 on this data, far below the rounding grid.
  */
object StreamingReplayQueries {

  private val nChunks = 3

  private def chunked[T](rows: Array[T]): Iterator[Seq[T]] =
    rows.grouped(math.max(1, rows.length / nChunks + 1)).map(_.toSeq)

  /** One collected superset of the events fixture, shared by all five
    * replay twins (each previously ran its own scan+sort+collect of the
    * same read-only parquet — five redundant Spark jobs per gate run).
    * Keyed by fixture dir PLUS its content stamp ([[Tables.fixtureStamp]]):
    * the fixture is immutable test input, but a regeneration under the
    * same dir within one JVM must be a cache miss, not a stale replay.
    * Each twin derives its feed (projection / filter / re-sort / doubling)
    * driver-side from this array — same harness-bounded memory as before,
    * 4 fewer jobs. */
  private final case class Ev(eventId: Long, userId: Long, eventType: String,
                              value: Double, tsUs: Long)
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Ev]]()
  private def collectedEvents(s: SparkSession, dir: String): Array[Ev] =
    fixtureCache.computeIfAbsent(
      s"$dir@${Tables.fixtureStamp(dir, "events")}", _ =>
      { val ev = Tables.events(s, dir)
        ev.select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), Tables.tsUs(ev).as("ts_us"))
          .orderBy("ts_us", "event_id")
          .collect()
          .map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2),
            r.getDouble(3), r.getLong(4))) })

  /** ts-boundary-safe chunking for the IVM replay twins (t13/t14): extend
    * each chunk until the ts changes, so two rows sharing a ts can never
    * straddle micro-batches — the half-open applySlice slice would drop
    * the tail rows otherwise (the fixture has unique ts; the harness must
    * not depend on that). A plain foreach, NOT a for-comprehension with a
    * `chunk = …` definition: that desugars to a .map evaluated over ALL
    * chunks BEFORE the body's carry mutation runs, so every spill would be
    * computed against the initial empty carry and silently dropped. */
  private def tsBoundaryChunks(rows: Array[Ev]): Seq[Seq[Ev]] = {
    val out = Seq.newBuilder[Seq[Ev]]
    var carry = Seq.empty[Ev]
    chunked(rows).foreach { c =>
      val chunk = carry ++ c
      if (chunk.nonEmpty) {
        val lastTs = chunk.last.tsUs
        // rows are ts-sorted, so the last-ts rows form the SUFFIX; they
        // spill to the next chunk. A chunk that is ALL one ts keeps
        // accumulating (the run may continue into the next).
        val (keep, spill) = chunk.partition(_.tsUs != lastTs)
        if (keep.isEmpty) carry = chunk
        else { out += keep; carry = spill }
      }
    }
    if (carry.nonEmpty) out += carry
    out.result()
  }

  /** Run `body` with a reduced shuffle-partition count, restoring the
    * session's setting after. Stateful streaming ops commit one state-store
    * instance PER shuffle partition PER micro-batch; a gate replay with a
    * handful of micro-batches on a single-host session pays that fixed
    * commit cost 32× for no parallelism win. 4 keeps the state genuinely
    * partition-distributed (the chunk-split/partition-split laws are still
    * exercised) at half the commit cost of 8. Gate-harness tuning only — a
    * production stream sizes partitions to the cluster, not to 4. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  val defs: Map[String, Q] = Map(

    // T6 — the trigger-maintained incremental balance, replayed through
    // the FULL streaming path (deriveTransitions flatMapGroupsWithState →
    // transition guard → update-mode running balance → S4 merge sink per
    // micro-batch) and compared against the one-shot batch aggregate. The
    // guard admits inserts of qualifying rows only; the fixture history is
    // insert-only (unique event_id = PK), so qualifying == non-error.
    "t6_incremental_balance_replay" -> Q(
      """SELECT user_id,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS balance,
        |       epoch_us(max(ts)) AS updated_us
        |FROM events WHERE event_type <> 'error'
        |GROUP BY user_id""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = collectedEvents(s, dir)
        .map(e => RowImage(key = e.eventId, userId = e.userId,
          status = e.eventType, amount = e.value, ts = e.tsUs))
      val dest = Tables.scratchDir("t6-replay") + "/balances"
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[RowImage]
        val q = IncrementalBalance.run(mem.toDS(), dest)
        try chunked(rows).foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      s.read.parquet(dest).select(col("user_id"),
        round(col("balance"), 2).as("balance"),
        col("updated").as("updated_us"))
    },

    // T5/W6 — event-time tumbling-window aggregation replayed through a
    // watermarked APPEND-mode stream: windows finalize only when the
    // watermark passes them, so the twin exercises watermark advance and
    // state eviction, not just the agg. Sentinel batches past the end of
    // the data flush the last real windows (their own rows are filtered
    // out by event_type); the result must hash-match the batch w6 oracle.
    "t7_tumbling_window_replay" -> Q(
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = collectedEvents(s, dir)
        .map(e => (e.tsUs, e.eventType, e.value))
        .sortBy(identity)
      val mem = MemoryStream[(Long, String, Double)]
      val agg = mem.toDS().toDF("ts_us", "event_type", "value")
        .withColumn("tss", timestamp_micros(col("ts_us")))
        .withWatermark("tss", "0 seconds")
        .groupBy(window(col("tss"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_start_us"),
          col("event_type"), col("cnt"), col("sum_value"))
      val name = "t7_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 4) {
        val q = agg.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try {
          chunked(rows).foreach { b => mem.addData(b); q.processAllAvailable() }
          // ONE sentinel batch suffices to flush: its max event time advances
          // the watermark past every real window at batch end, and Spark's
          // no-data micro-batch (noDataMicroBatches, on by default) then runs
          // the emitting batch before processAllAvailable returns — the
          // second sentinel the harness used to feed only re-paid the batch
          // cost for state that was already emitted
          val maxUs = rows.last._1
          mem.addData((maxUs + 7200000000L, "__sentinel", 0.0))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name).filter(col("event_type") =!= "__sentinel")
    },

    // T5/E1 — streaming exact dedup replayed with PLANTED re-deliveries:
    // every event is delivered twice (the at-least-once upstream the op
    // exists for); dropDuplicatesWithinWatermark must collapse each pair
    // within the horizon, so the surviving stream aggregates to exactly
    // the batch profile of the fixture (count / distinct / id-sum — the
    // id-sum catches a wrong SELECTION, not just a wrong count).
    "t8_streaming_dedup_replay" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val base = collectedEvents(s, dir).map(e => (e.eventId, e.tsUs))
      val rows = (base ++ base) // the re-delivery
        .sortBy { case (id, us) => (us, id) }
      val mem = MemoryStream[(Long, Long)]
      val deduped = graft.ext.Dedup.streamingDedup(
        mem.toDS().toDF("event_id", "ts_us")
          .withColumn("tss", timestamp_micros(col("ts_us"))),
        Seq("event_id"), "tss", delay = "60 days") // horizon spans the fixture
      val name = "t8_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 4) {
        val q = deduped.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try chunked(rows).foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      s.table(name).agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_id")).as("n_ids"),
        sum(col("event_id")).as("id_sum"))
    },

    // T5/W8 — event-time SESSION windows replayed through a watermarked
    // append-mode stream: sessions MERGE across micro-batches as members
    // arrive (the stateful behavior tumbling windows never exercise), and
    // finalize only when the watermark passes the gap. Sentinel rows under
    // a reserved user id flush the last real sessions; the result must
    // hash-match the batch w8 oracle (same 24 h gap, same user slice).
    "t10_session_window_replay" -> Q(
      """WITH s AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE user_id < 10),
        |m AS (SELECT user_id, us,
        |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 86400000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM s),
        |g AS (SELECT user_id, us,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |      FROM m)
        |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events
        |FROM g GROUP BY user_id, grp""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val sentinelUser = 999999L
      val rows = collectedEvents(s, dir).filter(_.userId < 10)
        .map(e => (e.userId, e.tsUs))
        .sortBy { case (uid, us) => (us, uid) }
      val mem = MemoryStream[(Long, Long)]
      val agg = mem.toDS().toDF("user_id", "ts_us")
        .withColumn("tss", timestamp_micros(col("ts_us")))
        .withWatermark("tss", "0 seconds")
        .groupBy(session_window(col("tss"), "24 hours").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("cnt").as("n_events"))
      val name = "t10_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 4) {
        val q = agg.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try {
          chunked(rows).foreach { b => mem.addData(b); q.processAllAvailable() }
          // one sentinel + the no-data micro-batch flush (the t7 protocol)
          val maxUs = rows.last._2
          mem.addData((sentinelUser, maxUs + 172800000000L))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name).filter(col("user_id") =!= sentinelUser)
    },

    // T5/W12 — the strict-sequence funnel replayed as a mapGroupsWithState
    // state machine (custom per-user state — slots are write-once, so
    // `reached` is monotone and the LAST update per user is the final
    // state; max_by(…, reached) picks it from the update-mode table).
    // Must hash-match the batch w12 oracle exactly.
    "t11_funnel_replay" -> Q(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |s1 AS (SELECT user_id, min(us) AS s1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT ev.user_id, min(us) AS s2 FROM ev JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > s1 GROUP BY 1),
        |s3 AS (SELECT ev.user_id, min(us) AS s3 FROM ev JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > s2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id,
        |       CAST(CASE WHEN s3.s3 IS NOT NULL THEN 3
        |                 WHEN s2.s2 IS NOT NULL THEN 2
        |                 WHEN s1.s1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS reached,
        |       s1.s1 AS view_us, s2.s2 AS click_us, s3.s3 AS purchase_us
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.streaming.StreamingFunnel
      import graft.streaming.StreamingFunnel.FunnelEvent
      val rows = collectedEvents(s, dir)
        .map(e => FunnelEvent(e.userId, e.tsUs, e.eventType))
      val mem = MemoryStream[FunnelEvent]
      val upd = StreamingFunnel.updates(mem.toDS(),
        Seq("view", "click", "purchase"))
      val name = "t11_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 4) {
        val q = upd.writeStream.outputMode("update")
          .format("memory").queryName(name).start()
        try chunked(rows).foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      def slot(i: Int) = {
        val v = element_at(col("__fin.slots"), i)
        when(v === -1L, lit(null).cast("long")).otherwise(v)
      }
      s.table(name)
        .groupBy(col("userId").as("user_id"))
        .agg(max_by(struct(col("reached"), col("slots")), col("reached"))
          .as("__fin"))
        .select(col("user_id"), col("__fin.reached").as("reached"),
          slot(1).as("view_us"), slot(2).as("click_us"),
          slot(3).as("purchase_us"))
    },

    // T5/W13 — the rolling z-score anomaly scorer replayed as a
    // flatMapGroupsWithState op with a BOUNDED per-user deque (the last
    // 23 values — row-count frames are exactly what event-time window
    // aggs can't express, so this is the custom-state layer again). Each
    // event emits its own (n_window, zscore) row; the appended stream
    // must hash-match the batch w13 window expression bit-for-bit.
    "t12_rolling_zscore_replay" -> Q(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |                  CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |w AS (SELECT event_id, user_id, us, v,
        |        count(*) OVER win AS n,
        |        sum(v) OVER win AS s,
        |        sum(v * v) OVER win AS sq
        |      FROM e
        |      WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_id, CAST(n AS BIGINT) AS n_window,
        |       CASE WHEN (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)
        |                    * CAST(s AS DOUBLE) / n) / n <= 0 THEN NULL
        |            ELSE round((CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |                 / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)
        |                           * CAST(s AS DOUBLE) / n) / n), 6)
        |       END AS zscore
        |FROM w""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.streaming.StreamingZScore
      import graft.streaming.StreamingZScore.ZEvent
      val rows = collectedEvents(s, dir)
        .map(e => ZEvent(e.eventId, e.userId, e.tsUs, e.value))
      val mem = MemoryStream[ZEvent]
      val scored = StreamingZScore.updates(mem.toDS(), window = 24)
      val name = "t12_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 4) {
        val q = scored.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try chunked(rows).foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      s.table(name).select(col("eventId").as("event_id"),
        col("nWindow").as("n_window"), col("zscore"))
    },

    // T5/J — stream-stream interval join (view-before-purchase attribution)
    // replayed against the batch join oracle: each side arrives in its own
    // event-time order across micro-batches, state is bounded by
    // lookback + watermark on both sides, and the emitted pair set must
    // equal DuckDB's static interval join row-for-row.
    "t9_stream_join_replay" -> Q(
      """SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
        |FROM events p JOIN events v ON p.user_id = v.user_id
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      def side(eventType: String): Array[(Long, Long, Long)] =
        collectedEvents(s, dir).filter(_.eventType == eventType)
          .map(e => (e.userId, e.tsUs, e.eventId))
          .sortBy { case (_, us, id) => (us, id) }
      val pMem = MemoryStream[(Long, Long, Long)]
      val vMem = MemoryStream[(Long, Long, Long)]
      def shape(df: org.apache.spark.sql.DataFrame, ts: String, id: String) =
        df.select(col("_1").as("user_id"),
          timestamp_micros(col("_2")).as(ts), col("_3").as(id))
      val joined = graft.streaming.StreamJoin.intervalJoin(
        shape(pMem.toDF(), "pts", "p_id"), "pts",
        shape(vMem.toDF(), "vts", "v_id"), "vts",
        Seq("user_id"), lookbackMs = 3600000L, watermarkDelay = "0 seconds")
      val name = "t9_replay_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 4) {
        val q = joined.select("user_id", "p_id", "v_id").writeStream
          .outputMode("append").format("memory").queryName(name).start()
        try {
          val (ps, vs) = (chunked(side("purchase")).toSeq, chunked(side("view")).toSeq)
          ps.zipAll(vs, Seq.empty[(Long, Long, Long)], Seq.empty[(Long, Long, Long)])
            .foreach { case (pb, vb) =>
              if (pb.nonEmpty) pMem.addData(pb)
              if (vb.nonEmpty) vMem.addData(vb)
              // a round with nothing added has nothing to process — an
              // unconditional processAllAvailable still paid a micro-batch
              if (pb.nonEmpty || vb.nonEmpty) q.processAllAvailable()
            }
        } finally q.stop()
      }
      s.table(name)
    },

    // T13 — batch IVM driven AS A STREAMING SINK: each micro-batch folds
    // into the AggMaintenance rollup through the same applySlice contract
    // the a7 gate exercises (contiguous [stored wm, batch max+1) slices,
    // replay no-op, exactly-once swap), and the final rollup must
    // hash-match a7's one-shot oracle — gating that the batch-IVM and
    // streaming-agg lanes AGREE, not merely that each matches its own
    // oracle. foreachBatch is the production shape for this (stream →
    // incremental materialized view); the per-batch watermark read + fold
    // is exactly the cron loop of `cli.Main runAgg`, driven by triggers
    // instead of cron. Chunks split on ts BOUNDARIES: two rows sharing a
    // ts must never straddle batches, or the half-open slice would drop
    // the tail rows (the fixture has unique ts; the harness must not
    // depend on that).
    "t13_agg_maintenance_replay" -> Q(
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |       CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
        |       CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.sync.AggMaintenance
      val safeChunks = tsBoundaryChunks(collectedEvents(s, dir))
      val rollup = Tables.scratchDir("t13-replay") + "/rollup"
      val ckpt = Tables.scratchDir("t13-ckpt")
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[Ev]
        val fold: (org.apache.spark.sql.Dataset[Ev], Long) => Unit =
          (batch, _) => {
            val b = batch.persist()
            try {
              val bounds = b.agg(min(col("tsUs")), max(col("tsUs"))).head()
              if (!bounds.isNullAt(0)) {
                val lo = AggMaintenance.watermark(s, rollup)
                  .getOrElse(bounds.getLong(0))
                AggMaintenance.applySlice(s, rollup, b.toDF(), "tsUs",
                  Seq("eventType"), "value", lo, bounds.getLong(1) + 1)
                ()
              }
            } finally { b.unpersist(); () }
          }
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try safeChunks.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      AggMaintenance.read(s, rollup)
        .select(col("eventType").as("event_type"), col("cnt"),
          col("sum_val").cast("double").as("sum_value"),
          col("min_val").cast("double").as("min_value"),
          col("max_val").cast("double").as("max_value"))
    },

    // T14 — the v2 MOMENTS lane driven as a streaming sink: t13 proves the
    // foreachBatch fold for the v1 rollup only, while the moments lane
    // claims the same contract — this twin closes that gap. Each
    // micro-batch folds through applySliceV2 (same contiguous-slice /
    // exactly-once protocol); the final rollup's DERIVED avg/var must
    // equal the one-shot moments aggregation IN-PLAN (exceptAll both ways
    // through the ONE shared deriveMomentCols chain — the a10 discipline),
    // and the hash gate covers the 2^53-safe columns (cnt, cntv, exact
    // sum/min/max and the avg double chain; var is exceptAll-pinned, not
    // hash-gated — sumsq's DECIMAL(38,8) unscaled form exceeds 2^53 where
    // DuckDB's decimal→double cast double-rounds, the a11 1-ulp flap).
    "t14_agg_maintenance_v2_replay" -> Q(
      """SELECT event_type, count(*) AS cnt, count(value) AS cntv,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |         / CAST(count(value) AS DOUBLE) AS avg_value,
        |       CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
        |       CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.sync.AggMaintenance
      val safeChunks = tsBoundaryChunks(collectedEvents(s, dir))
      val rollup = Tables.scratchDir("t14-replay") + "/rollup"
      val ckpt = Tables.scratchDir("t14-ckpt")
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[Ev]
        val fold: (org.apache.spark.sql.Dataset[Ev], Long) => Unit =
          (batch, _) => {
            val b = batch.persist()
            try {
              val bounds = b.agg(min(col("tsUs")), max(col("tsUs"))).head()
              if (!bounds.isNullAt(0)) {
                val lo = AggMaintenance.watermark(s, rollup)
                  .getOrElse(bounds.getLong(0))
                AggMaintenance.applySliceV2(s, rollup, b.toDF(), "tsUs",
                  Seq("eventType"), Seq("value"), lo, bounds.getLong(1) + 1)
                ()
              }
            } finally { b.unpersist(); () }
          }
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try safeChunks.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      // in-plan equality of the REPLAYED rollup's derived moments vs the
      // one-shot aggregation over the raw fixture (never through
      // AggMaintenance) — the maintained-moments contract itself
      val ev = Tables.events(s, dir)
      val c = col("value").cast("decimal(18,4)")
      // localCheckpoint BOTH sides (group-cardinality frames) before the
      // two exceptAll directions: each direction otherwise re-runs the
      // one-shot events aggregation — two full passes for one equality
      // pin (guide §1.2: don't compute things twice)
      val oneShot = AggMaintenance.deriveMomentCols(
        ev.groupBy(col("event_type").as("eventType"))
          .agg(count(lit(1)).as("cnt"),
            count(c).as("cntv_value"),
            sum(c).cast("decimal(28,4)").as("sum_value"),
            sum((c * c).cast("decimal(38,8)")).cast("decimal(38,8)")
              .as("sumsq_value"),
            min(c).as("min_value"), max(c).as("max_value")),
        Seq("value")).localCheckpoint()
      val derived = AggMaintenance.readDerived(s, rollup).localCheckpoint()
      require(derived.exceptAll(oneShot).isEmpty &&
        oneShot.exceptAll(derived).isEmpty,
        "t14: replayed v2 moments diverge from the one-shot aggregation")
      // oneShot is pin-only — release its blocks now (the a10 rule);
      // `derived` stays: the returned frame reads it
      graft.core.Checkpoints.release(oneShot)
      derived.select(col("eventType").as("event_type"), col("cnt"),
        col("cntv_value").as("cntv"),
        col("sum_value").cast("double").as("sum_value"),
        col("avg_value"),
        col("min_value").cast("double").as("min_value"),
        col("max_value").cast("double").as("max_value"))
    },

    // T15 — the v3 HLL DISTINCT lane driven as a streaming sink, closing
    // the last lane of the foreachBatch matrix (t13 = v1, t14 = v2
    // moments). Micro-batches fold through applySliceDistinct; the gate
    // is a12's tolerance contract, NOT a hash of the sketches — HLL
    // estimates are estimator-path-dependent (a union over stream-sized
    // slices need not be byte-identical to a 3-slice batch fold), but the
    // ESTIMATE must sit within max(5%, 2) of the exact per-group distinct
    // count regardless of how many micro-batches carried it. DuckDB emits
    // the same constant-1 flag over the exact counts.
    "t15_agg_maintenance_v3_replay" -> Q(
      """SELECT event_type, count(*) AS cnt, CAST(1 AS BIGINT) AS est_ok
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.sync.AggMaintenance
      val safeChunks = tsBoundaryChunks(collectedEvents(s, dir))
      val rollup = Tables.scratchDir("t15-replay") + "/rollup"
      val ckpt = Tables.scratchDir("t15-ckpt")
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[Ev]
        val fold: (org.apache.spark.sql.Dataset[Ev], Long) => Unit =
          (batch, _) => {
            val b = batch.persist()
            try {
              val bounds = b.agg(min(col("tsUs")), max(col("tsUs"))).head()
              if (!bounds.isNullAt(0)) {
                val lo = AggMaintenance.watermark(s, rollup)
                  .getOrElse(bounds.getLong(0))
                AggMaintenance.applySliceDistinct(s, rollup, b.toDF(),
                  "tsUs", Seq("eventType"), Seq("userId"), lo,
                  bounds.getLong(1) + 1)
                ()
              }
            } finally { b.unpersist(); () }
          }
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try safeChunks.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
      }
      val ev = Tables.events(s, dir)
      val est = AggMaintenance.readDistinct(s, rollup)
        .select(col("eventType").as("event_type"), col("cnt"),
          col("approx_distinct_userId").as("est"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("cnt"),
          when(abs(col("est") - col("exact")).cast("double") <=
            greatest(col("exact").cast("double") * 0.05, lit(2.0)), 1L)
            .otherwise(0L).as("est_ok"))
    },

    // T16 — the KEYED (last-writer-wins) lane driven as a streaming sink:
    // the most production-shaped twin of the matrix — a live stream of
    // UPSERTS (every 10th event re-arrives later with a doubled value in
    // a new group, the a16 fixture) maintaining a mirror rollup through
    // the keyed fold. Re-arrivals land in LATER micro-batches than their
    // originals, so the retraction must come from the persisted key-state
    // store, never from batch-local memory; the final rollup must
    // hash-match the latest-per-key aggregate (a16's oracle) regardless
    // of micro-batch boundaries.
    //
    // Deliberately the FLAT lane (applySliceKeyed): the property this
    // twin gates — retraction from PERSISTED state across micro-batch
    // boundaries — is a property of the keyed contract, not of the
    // storage layout, and both lanes share the same latest-per-key /
    // state-lookup / union-regroup core. The partitioned layout's own
    // concerns (bucket pruning, commit order, crash windows) are gated by
    // a17's oracle entry, the rollback-and-replay crash specs, and the
    // ScaleStress arm; driving the replay through the partitioned lane
    // here only re-paid its fixed per-slice commit constant (two staged
    // jobs + 8 rollup + ≤16 state bucket swaps ≈ 4 s/batch) four times at
    // toy scale — 15.6 s of pure harness cost for zero extra coverage
    // (the r14 verdict's accounting, BENCH_r14).
    "t16_agg_maintenance_keyed_replay" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events WHERE event_id % 4 = 0
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         'moved' AS event_type, value * 2 AS value
        |  FROM events WHERE event_id % 20 = 0),
        |latest AS (
        |  SELECT event_id, event_type, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.sync.AggMaintenance
      // a16's fixture shape as an ordered upsert stream: base events plus
      // every 10th re-arriving one span later, value doubled, group moved
      // a QUARTER of the fixture (event_id % 4) keeps this — the
      // costliest fold of the matrix, a keyed apply of state machinery
      // per micro-batch — in line with the other twins; the span rides
      // the FULL fixture's bounds so the oracle subquery (over all
      // events) derives the identical shift. Derived driver-side from the
      // shared collectedEvents cache (ts-sorted, so head/last ARE the
      // bounds) — the twin's private scan+union+sort+collect job chain
      // was pure harness cost on a fixture every other twin already holds
      val all = collectedEvents(s, dir)
      val span = all.last.tsUs - all.head.tsUs + 1
      val base = all.filter(_.eventId % 4 == 0)
      val updated = base.filter(_.eventId % 10 == 0).map(e => e.copy(
        tsUs = e.tsUs + span, eventType = "moved", value = e.value * 2))
      val rows = (base ++ updated).sortBy(e => (e.tsUs, e.eventId))
      val safeChunks = tsBoundaryChunks(rows)
      val rollup = Tables.scratchDir("t16-replay") + "/rollup"
      val ckpt = Tables.scratchDir("t16-ckpt")
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[Ev]
        val fold: (org.apache.spark.sql.Dataset[Ev], Long) => Unit =
          (batch, _) => {
            val bt = batch.persist()
            try {
              val bounds = bt.agg(min(col("tsUs")), max(col("tsUs"))).head()
              if (!bounds.isNullAt(0)) {
                val lo = AggMaintenance.watermark(s, rollup)
                  .getOrElse(bounds.getLong(0))
                AggMaintenance.applySliceKeyed(s, rollup,
                  bt.toDF(), "tsUs", Seq("eventId"), Seq("eventType"),
                  "value", lo, bounds.getLong(1) + 1)
                ()
              }
            } finally { bt.unpersist(); () }
          }
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try safeChunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        finally q.stop()
      }
      AggMaintenance.read(s, rollup)
        .select(col("eventType").as("event_type"), col("cnt"),
          col("sum_val").cast("double").as("sum_value"))
    },

    // T17 — STREAMING ADMISSION twin for the persisted gram index (the
    // t13 pattern applied to TextAnalysis.buildGramIndex/gramIndexAppend/
    // gramIndexSpanCoverage — the lifecycle-parity gap the IVM lanes
    // closed in t13–t16): base corpus indexed once, then each micro-batch
    // of arriving documents PROBES the index first (span coverage against
    // base + previously-ADMITTED generations only — the order a resident
    // admission service pays) and is APPENDED after. Gate: the
    // accumulated per-batch coverage table hash-matches the oracle's
    // generation-aware recomputation — gram g covers a probe doc of
    // generation b iff g first occurs in a STRICTLY earlier generation
    // (base = gen -1; batches split deterministically by (doc_id/4) % 3
    // and fed in generation order).
    "t17_span_admission_replay" -> Q(
      """WITH docs0 AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         CASE WHEN doc_id % 4 <> 0 THEN -1
        |              ELSE CAST((doc_id // 4) % 3 AS INT) END AS gen
        |  FROM documents WHERE text IS NOT NULL AND doc_id < 2000),
        |ap AS (SELECT doc_id, gen, text, len,
        |        unnest(range(1, CASE WHEN len <= 16 THEN 2 ELSE len - 14 END)) AS s
        |       FROM docs0),
        |gmin AS (SELECT CASE WHEN len <= 16 THEN text
        |                     ELSE substr(text, s, 16) END AS gram,
        |                min(gen) AS g0
        |         FROM ap GROUP BY 1),
        |probe AS (SELECT doc_id, gen, text, len FROM docs0 WHERE gen >= 0),
        |pp AS (SELECT doc_id, gen, text, len,
        |        unnest(range(1, CASE WHEN len <= 16 THEN 2 ELSE len - 14 END)) AS s
        |       FROM probe),
        |h AS (SELECT doc_id, gen, s,
        |             CASE WHEN len <= 16 THEN len ELSE s + 15 END AS e,
        |             CASE WHEN len <= 16 THEN text ELSE substr(text, s, 16) END AS gram
        |      FROM pp),
        |dh AS (SELECT doc_id, s, e FROM h JOIN gmin USING (gram)
        |       WHERE gmin.g0 < h.gen),
        |isl AS (SELECT doc_id, s, e,
        |        CASE WHEN s > COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |             THEN 1 ELSE 0 END AS brk
        |        FROM dh),
        |g AS (SELECT doc_id, s, e,
        |             sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
        |      FROM isl),
        |m AS (SELECT doc_id, isl_id, min(s) AS gs, max(e) AS ge
        |      FROM g GROUP BY 1, 2),
        |c AS (SELECT doc_id, sum(ge - gs + 1) AS covered FROM m GROUP BY 1)
        |SELECT p.doc_id, CAST(p.len AS BIGINT) AS text_len,
        |       CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_chars,
        |       CASE WHEN p.len = 0 THEN NULL
        |            ELSE round(COALESCE(c.covered, 0) * 1.0 / p.len, 6)
        |       END AS dup_span_frac
        |FROM probe p LEFT JOIN c USING (doc_id)""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.ext.TextAnalysis
      // doc_id < 2000 bounds the twin at larger SFs (the t16
      // quarter-fixture rule: this entry gates LIFECYCLE PARITY, not
      // scale — e6i6 probes the full-corpus index and e6i2 measures the
      // full span pipeline); at sf0.001/0.01 the bound is the whole table
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("doc_id") < 2000)
      // fresh MUTABLE index per invocation: appends change it, and the
      // probe-before-append order means a reused index from a prior
      // iteration would already contain every generation's grams
      val work = Tables.scratchDir("t17-gramidx")
      val idxDir = work + "/idx"
      val covDir = work + "/coverage"
      // 8 buckets, not the 64 default: the default sizes bucket files for
      // corpus-scale gram sets, while this twin's fixture-scale index pays
      // 3 partitioned parquet APPENDS (one per micro-batch) whose cost is
      // dominated by files-per-write — a layout knob, not semantics (the
      // probe is bucket-key-joined either way; e6i6 keeps the default)
      TextAnalysis.buildGramIndex(docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", idxDir, hashedKeys = false, nBuckets = 8)
      val gens = docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"),
          expr("CAST((doc_id div 4) % 3 AS INT)").as("gen"))
        .collect() // replay harness, fixture-bounded (the t13 note)
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .sortBy(r => (r._3, r._1))
        .groupBy(_._3).toSeq.sortBy(_._1).map(_._2.toSeq)
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[(Long, String, Int)]
        val fold: (org.apache.spark.sql.Dataset[(Long, String, Int)], Long) => Unit =
          (batch, _) => {
            val b = batch.toDF("doc_id", "text", "gen").persist()
            try {
              if (b.head(1).nonEmpty) {
                // probe FIRST (coverage against prior generations only),
                // append AFTER — the admission order, fused so the batch's
                // position stream is computed once per micro-batch (the
                // separate probe + append calls each re-exploded the
                // batch; coverage is materialized pre-append inside)
                val cov = TextAnalysis.gramIndexProbeAndAdmit(s, idxDir, b,
                  "doc_id", "text")
                cov.write.mode("append").parquet(covDir)
                graft.core.Checkpoints.release(cov)
              }
            } finally { b.unpersist(); () }
          }
        val ckpt = Tables.scratchDir("t17-ckpt")
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try gens.foreach { g => mem.addData(g); q.processAllAvailable() }
        finally q.stop()
      }
      s.read.parquet(covDir)
        .select(col("doc_id"), col("text_len"), col("covered_chars"),
          col("dup_span_frac"))
    },

    // T18 — STREAMING ADMISSION twin for the persisted MINHASH index
    // (t17's sibling, closing the same lifecycle-parity gap for the
    // fuzzy-dedup family): base [0,300) built once, [300,500) arriving
    // through foreachBatch minhashIndexAppend in generation order, then
    // one probe of whitespace variants (of base docs AND of
    // streamed-in docs — proving appended generations are searchable) at
    // threshold 1.0, where the LSH stage is exhaustively exact (J=1 ⟺
    // identical shingle sets ⟺ identical signatures ⟺ collide in every
    // band; verify kills J<1). Gate: the probe result equals DuckDB's
    // one-shot cross-join of identical sorted-shingle-set keys over the
    // FULL corpus — append-fold ≡ one-shot build, strict row equality.
    "t18_minhash_admission_replay" -> Q(
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |q AS (SELECT doc_id + 200000 AS doc_id,
        |             regexp_replace(text, ' ', '  ', 'g') AS text
        |      FROM documents
        |      WHERE doc_id < 50 OR (doc_id >= 300 AND doc_id < 350)),
        |bsh AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ta FROM base),
        |bsg AS (SELECT doc_id,
        |          CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
        |               ELSE list_distinct(list_transform(range(1, len(ta) - 1),
        |                      i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2])) END AS sa
        |        FROM bsh),
        |bk AS (SELECT doc_id, array_to_string(list_sort(sa), chr(30)) AS sk FROM bsg),
        |qsh AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ta FROM q),
        |qsg AS (SELECT doc_id,
        |          CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
        |               ELSE list_distinct(list_transform(range(1, len(ta) - 1),
        |                      i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2])) END AS sa
        |        FROM qsh),
        |qk AS (SELECT doc_id, array_to_string(list_sort(sa), chr(30)) AS sk FROM qsg)
        |SELECT b.doc_id AS base_id, q.doc_id AS q_id, CAST(1 AS DOUBLE) AS jaccard
        |FROM bk b JOIN qk q USING (sk)""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      import graft.ext.Dedup
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // fresh MUTABLE index per invocation (the t17 rule): the streamed
      // appends ARE the behavior under test; a stamp-keyed reuse would
      // skip them on every warm run and the twin would gate nothing
      val idx = Tables.scratchDir("t18-mhidx") + "/idx"
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") < 300),
        "doc_id", "text", idx)
      val arrivals = docs
        .filter(col("doc_id") >= 300 && col("doc_id") < 500)
        .collect() // replay harness, fixture-bounded (the t13 note)
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[(Long, String)]
        val fold: (org.apache.spark.sql.Dataset[(Long, String)], Long) => Unit =
          (batch, _) => {
            val b = batch.toDF("doc_id", "text").persist()
            try {
              if (b.head(1).nonEmpty) {
                Dedup.minhashIndexAppend(s, idx, b, "doc_id", "text")
                ()
              }
            } finally { b.unpersist(); () }
          }
        val ckpt = Tables.scratchDir("t18-ckpt")
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try chunked(arrivals).foreach { c =>
          mem.addData(c); q.processAllAvailable()
        }
        finally q.stop()
      }
      Dedup.minhashIndexProbe(s, idx,
        docs.filter(col("doc_id") < 50 ||
            (col("doc_id") >= 300 && col("doc_id") < 350))
          .select((col("doc_id") + 200000).as("doc_id"),
            regexp_replace(col("text"), " ", "  ").as("text")),
        "doc_id", "text",
        docs.filter(col("doc_id") < 500), "doc_id", threshold = 1.0)
    },

    // T20 — STREAMING ADMISSION twin for the persisted dHASH index
    // (t17/t18's sibling, completing lifecycle parity for ALL THREE
    // persisted index families: span grams, text MinHash, and now
    // perceptual image hashes): base noise images [0,300) built once,
    // [300,500) arriving through foreachBatch dhashIndexAppend in
    // generation order — each micro-batch decodes ONLY its own images
    // under the frozen band stamp, the base is never re-hashed — then
    // one probe of grid-aligned 2× RESIZED copies of ids <50 AND
    // [300,350) (proving streamed-in generations are searchable) at
    // maxHamming 2, where the aligned resize is hash-IDENTICAL by the
    // floor-sampling arithmetic. Gate: the probe result equals the
    // planted pair list — append-fold ≡ one-shot build, strict row
    // equality (the e3i expectation through the streaming path).
    "t20_dhash_admission_replay" -> Q(
      """SELECT doc_id AS base_id, doc_id + 200000 AS q_id,
        |       CAST(0 AS INT) AS hamming
        |FROM documents
        |WHERE doc_id < 50 OR (doc_id >= 300 AND doc_id < 350)""".stripMargin) {
      (s, dir) =>
        implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        import graft.ext.Multimodal
        val docs = Tables.documents(s, dir).select("doc_id")
        // fresh MUTABLE index per invocation (the t18 rule): the streamed
        // appends ARE the behavior under test
        val idx = Tables.scratchDir("t20-dhidx") + "/idx"
        Multimodal.buildDHashIndex(
          Multimodal.plantedNoisePngMedia(
            docs.filter(col("doc_id") < 300), "doc_id"), idx)
        val arrivals = docs
          .filter(col("doc_id") >= 300 && col("doc_id") < 500)
          .collect() // replay harness, fixture-bounded (the t13 note)
          .map(_.getLong(0)).sorted
        withShufflePartitions(s, 4) {
          val mem = MemoryStream[Long]
          val fold: (org.apache.spark.sql.Dataset[Long], Long) => Unit =
            (batch, _) => {
              val ids = batch.toDF("doc_id").persist()
              try {
                if (ids.head(1).nonEmpty) {
                  // the planted bytes are generated executor-side from
                  // the id — the batch carries ids only, the append
                  // decodes just this batch's images
                  Multimodal.dhashIndexAppend(s, idx,
                    Multimodal.plantedNoisePngMedia(ids, "doc_id"))
                }
              } finally { ids.unpersist(); () }
            }
          val ckpt = Tables.scratchDir("t20-ckpt")
          val q = mem.toDS().writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch(fold).start()
          try chunked(arrivals).foreach { c =>
            mem.addData(c); q.processAllAvailable()
          }
          finally q.stop()
        }
        val probe = Multimodal.resizeImages(
          Multimodal.plantedNoisePngMedia(
            docs.filter(col("doc_id") < 50 ||
              (col("doc_id") >= 300 && col("doc_id") < 350)), "doc_id"),
          36, 32)
          .withColumn("media_id", col("media_id") + 200000)
        Multimodal.dhashIndexProbe(s, idx, probe, maxHamming = 2)
    },

    // T21 — STREAMING ADMISSION twin for the persisted AUDIO-hash index
    // (t20's audio sibling, driving the same BandedHashIndex core
    // through the PCM hash lane — with it, every persisted index family
    // has foreachBatch ≡ one-shot parity): base noise recordings
    // [0,300) built once, [300,500) arriving through foreachBatch
    // audioIndexAppend in generation order — each micro-batch parses
    // ONLY its own PCM under the frozen band stamp — then one probe of
    // 2× RESAMPLED copies of ids <50 AND [300,350) at maxHamming 2
    // (hash-identical by the frame arithmetic). Gate: the probe equals
    // the planted pair list, strict row equality.
    "t21_audio_admission_replay" -> Q(
      """SELECT doc_id AS base_id, doc_id + 200000 AS q_id,
        |       CAST(0 AS INT) AS hamming
        |FROM documents
        |WHERE doc_id < 50 OR (doc_id >= 300 AND doc_id < 350)""".stripMargin) {
      (s, dir) =>
        implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        import graft.ext.Multimodal
        val docs = Tables.documents(s, dir).select("doc_id")
        // fresh MUTABLE index per invocation (the t18 rule)
        val idx = Tables.scratchDir("t21-ahidx") + "/idx"
        Multimodal.buildAudioHashIndex(
          Multimodal.plantedNoisePcmMedia(
            docs.filter(col("doc_id") < 300), "doc_id"), idx)
        val arrivals = docs
          .filter(col("doc_id") >= 300 && col("doc_id") < 500)
          .collect() // replay harness, fixture-bounded (the t13 note)
          .map(_.getLong(0)).sorted
        withShufflePartitions(s, 4) {
          val mem = MemoryStream[Long]
          val fold: (org.apache.spark.sql.Dataset[Long], Long) => Unit =
            (batch, _) => {
              val ids = batch.toDF("doc_id").persist()
              try {
                if (ids.head(1).nonEmpty) {
                  Multimodal.audioIndexAppend(s, idx,
                    Multimodal.plantedNoisePcmMedia(ids, "doc_id"))
                }
              } finally { ids.unpersist(); () }
            }
          val ckpt = Tables.scratchDir("t21-ckpt")
          val q = mem.toDS().writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch(fold).start()
          try chunked(arrivals).foreach { c =>
            mem.addData(c); q.processAllAvailable()
          }
          finally q.stop()
        }
        val probe = Multimodal.resamplePcm(
          Multimodal.plantedNoisePcmMedia(
            docs.filter(col("doc_id") < 50 ||
              (col("doc_id") >= 300 && col("doc_id") < 350)), "doc_id"), 2)
          .withColumn("media_id", col("media_id") + 200000)
        Multimodal.audioIndexProbe(s, idx, probe, maxHamming = 2)
    },

    // T19 — the S13 CDC-tombstone SYNC path as a streaming sink (t-parity
    // for the round's headline feature, the t13 pattern on
    // ParquetMergeSink.merge): a live CDC feed — upserts, payload-free
    // DELETES one span later for every 20th key, REINSERTS two spans
    // later for every 40th — folds micro-batch by micro-batch through
    // the tombstoned merge into one parquet destination. Deletes and
    // their reinserts land in LATER micro-batches than the rows they
    // retract, so the fold exercises cross-batch delete-then-reinsert
    // against committed destination state, the tombstone stamp frozen at
    // the cold batch. Gate: the final destination hash-matches the
    // one-shot latest-per-key-excluding-deleted oracle.
    "t19_sync_tombstone_replay" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |         value, FALSE AS del
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |         CAST(NULL AS DOUBLE), TRUE
        |  FROM events WHERE event_id % 20 = 0
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + 2 * (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                             FROM events) AS ts_us,
        |         user_id, 'reborn', value * 2, FALSE
        |  FROM events WHERE event_id % 40 = 0),
        |latest AS (
        |  SELECT event_id, ts_us, user_id, event_type, value, del FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_id, ts_us, user_id, event_type, value
        |FROM latest WHERE NOT del""".stripMargin) { (s, dir) =>
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val all = collectedEvents(s, dir)
      val span = all.last.tsUs - all.head.tsUs + 1
      val base = all.map(e => (e.eventId, e.tsUs, Option(e.userId),
        Option(e.eventType), Option(e.value), false))
      val tombs = all.filter(_.eventId % 20 == 0).map(e =>
        (e.eventId, e.tsUs + span, Option.empty[Long],
          Option.empty[String], Option.empty[Double], true))
      val reins = all.filter(_.eventId % 40 == 0).map(e =>
        (e.eventId, e.tsUs + 2 * span, Option(e.userId),
          Option("reborn"), Option(e.value * 2), false))
      // every key's generations carry distinct ts (t, t+span, t+2·span),
      // so micro-batch boundaries can never split a same-key tie — the
      // fold's final state is boundary-independent
      val rows = (base ++ tombs ++ reins).sortBy(r => (r._2, r._1))
      // fresh MUTABLE dest per invocation (the t18 rule: the fold IS the
      // behavior under test; mid-states differ between a warm re-fold
      // and a cold one)
      val dest = Tables.scratchDir("t19-replay") + "/dest"
      withShufflePartitions(s, 4) {
        val mem = MemoryStream[
          (Long, Long, Option[Long], Option[String], Option[Double], Boolean)]
        val fold: (org.apache.spark.sql.Dataset[
          (Long, Long, Option[Long], Option[String], Option[Double], Boolean)],
          Long) => Unit = (batch, _) => {
          val b = batch.toDF("event_id", "ts_us", "user_id", "event_type",
            "value", "del").persist()
          try {
            if (b.head(1).nonEmpty) {
              graft.sync.ParquetMergeSink.merge(s, dest, b,
                Seq("event_id"), "ts_us", tombstoneCol = Some("del"))
              ()
            }
          } finally { b.unpersist(); () }
        }
        val ckpt = Tables.scratchDir("t19-ckpt")
        val q = mem.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(fold).start()
        try chunked(rows).foreach { c => mem.addData(c); q.processAllAvailable() }
        finally q.stop()
      }
      s.read.parquet(dest).select(col("event_id"), col("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    }
  )
}
