package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** The reference's declared operator surface (SURVEY §2.1–§2.8), one named
  * query per operator id, each oracle-checked against DuckDB over the same
  * parquet. Citations are into /root/reference/.
  *
  * The `transactions` stand-in is the `events` fixture (FIXTURES.md):
  * `ts` plays `updated` (physical type varies by fixture generation —
  * handled via Tables.tsUs/tsLit, see core.Tables),
  * `user_id` plays the uuid key, `value` plays `amount`,
  * `event_type='error'` plays `status='BLOCKED'`.
  */
object ReferenceQueries {

  // Shared boundary dates (UTC, whole-second — ns-vs-µs truncation safe).
  // Materialized per-query via Tables.tsLit (native-typed, pushdown-able)
  // or Tables.utcMicros (µs-space arithmetic) — never pre-bound to one
  // physical ts representation (the fixture has shipped both ns-Long and
  // TIMESTAMP_NTZ generations).
  private val loDate   = "2024-01-10" // range-scan window
  private val hiDate   = "2024-01-20"
  private val cutDate  = "2024-01-25" // T2 snapshot cut
  private val warmUs   = Tables.utcMicros("2024-01-20") // T1 warm-start boundary

  /** DECIMAL-exact, order-independent money sum cast back to DOUBLE. */
  private def decSum(c: String, scale: Int = 2) =
    sum(col(c).cast(s"decimal(18,$scale)")).cast("double")

  /** Per-JVM temp dir for the MUTABLE IVM rollups the a7–a15 gates build.
    * Unlike the read-only format-roundtrip caches (s8/s10/s11: idempotent
    * content behind a _SUCCESS guard), these dirs are stateful targets of
    * repeated applySlice — a path keyed only by fixture dir+stamp would
    * let two concurrent suite runs race the same rollup mid-swap, and
    * would silently resume from a crashed prior process's partial state.
    * applicationId scopes the dir to this JVM; within one app the path is
    * stable so Bench's min-of-3 reuse (idempotent re-apply via the
    * applied-watermark skip) still works. */
  private def ivmTmp(s: SparkSession, tag: String, key: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag-" +
      Integer.toHexString(key.hashCode) + "-" + s.sparkContext.applicationId

  /** a10/a11's shared HASH-SAFE derived select over stored lineitem v2
    * moments: exact down-casts keep every gated decimal's unscaled form
    * under 2^53 (quantities are integral → scale 0; 2-dp price sums →
    * scale 2), where both engines' decimal→double casts agree — see the
    * a10 oracle comment for why (DuckDB double-rounds above 2^53). ONE
    * definition so a later scale edit cannot drift between the gates
    * (the deriveMomentCols rule applied to the hash chain too). */
  private def lineitemMomentHashCols(): Seq[Column] = {
    val nQ = col("cntv_l_quantity").cast("double")
    val sQ = col("sum_l_quantity").cast("decimal(28,0)").cast("double")
    val qQ = col("sumsq_l_quantity").cast("decimal(38,0)").cast("double")
    val nP = col("cntv_l_extendedprice").cast("double")
    val sP = col("sum_l_extendedprice").cast("decimal(28,2)").cast("double")
    Seq((sQ / nQ).as("avg_qty"),
      when(col("cntv_l_quantity") > 1,
        (qQ - sQ * sQ / nQ) / (nQ - lit(1.0)))
        .otherwise(lit(null).cast("double")).as("var_qty"),
      (sP / nP).as("avg_price"))
  }

  val defs: Map[String, Q] = Map(

    // S1 — the per-slice extraction read: closed range on the watermark col
    // (reference session.py:127-133). ORDER BY dropped per SURVEY §1.3.
    "s1_range_scan" -> Q(
      s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
         |FROM events
         |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'""".stripMargin) {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.filter(col("ts").between(Tables.tsLit(e, loDate), Tables.tsLit(e, hiDate)))
          .select(col("event_id"), Tables.tsUs(e).as("ts_us"), col("user_id"),
                  col("event_type"), col("value"), col("props"))
    },

    // S1b — the same extraction read with a NATIVE-timestamp output: the
    // oracle compares SQL timestamps directly, so the engine's physical-ts
    // handling (ns-Long vs TIMESTAMP_NTZ fixture generations) is itself
    // oracle-gated — a future fixture type change fails THIS row loudly
    // instead of silently changing µs semantics (the round-7/8 lesson).
    "s1b_range_scan_ts" -> Q(
      """SELECT event_id, ts FROM events
        |WHERE ts >= TIMESTAMP '2024-01-12 00:00:00' AND ts < TIMESTAMP '2024-01-18 00:00:00'""".stripMargin) {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.filter(col("ts") >= Tables.tsLit(e, "2024-01-12") &&
                 col("ts") < Tables.tsLit(e, "2024-01-18"))
          .select(col("event_id"), Tables.tsNtz(e).as("ts"))
    },

    // S7 — plain file-source scan (driver fixtures; TESTDATA.md).
    "s7_scan_count" -> Q("SELECT count(*) AS cnt FROM lineitem") {
      (s, dir) => Tables.lineitem(s, dir).agg(count(lit(1)).as("cnt"))
    },

    // S8 — JSONL (newline-delimited JSON) source/sink ROUND TRIP: the
    // interchange format crawl corpora actually ship in. The documents
    // table is written as compressed JSONL and read back through Spark's
    // json source with an EXPLICIT schema (schema inference is a full
    // extra pass over the data at 100 TB — production readers declare the
    // schema); the round trip must reproduce the parquet rows exactly, so
    // the oracle is the plain parquet SELECT. The temp write is keyed by
    // the fixture stamp — a regenerated fixture re-materializes instead of
    // serving a stale copy (the e2s index-cache protocol).
    "s8_jsonl_roundtrip" -> Q(
      """SELECT doc_id, text, lang, source, n_chars FROM documents""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val stamp = Tables.fixtureStamp(dir, "documents")
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-jsonl-" +
          Integer.toHexString(s"$dir@$stamp".hashCode)
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          docs.write.mode("overwrite").option("compression", "gzip").json(out)
        }
        s.read.schema(docs.schema).json(out)
          .select("doc_id", "text", "lang", "source", "n_chars")
    },

    // S10 — ORC round trip (source/sink breadth beside s8's JSONL): write
    // the documents table to ORC, read it back, and hand the oracle the
    // identity projection — any column the writer or reader mangles
    // hash-mismatches. ORC is the second columnar interchange format a
    // Spark shop meets (Hive-era warehouses); the write is keyed by the
    // fixture stamp so regenerated testdata can't serve a stale copy.
    "s10_orc_roundtrip" -> Q(
      """SELECT doc_id, text, lang, source, n_chars FROM documents""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val stamp = Tables.fixtureStamp(dir, "documents")
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-orc-" +
          Integer.toHexString(s"$dir@$stamp".hashCode)
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          docs.write.mode("overwrite").orc(out)
        }
        s.read.schema(docs.schema).orc(out)
          .select("doc_id", "text", "lang", "source", "n_chars")
    },

    // S11 — CSV round trip over events. Text-format hazards are handled
    // explicitly: RFC4180 quote-doubling (escape = quote) so the JSON in
    // `props` survives its own quotes; ts carried as epoch-µs (a Long —
    // CSV timestamp formats are lossy below millis); doubles round-trip
    // via Java's shortest-representation toString. multiLine on the read
    // arm keeps the reader correct even if a future fixture ships
    // embedded newlines (at 100 TB you'd pre-split such files — CSV is
    // the INTERCHANGE lane here, parquet stays the performance lane).
    "s11_csv_roundtrip" -> Q(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM events""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val flat = ev.select(col("event_id"), Tables.tsUs(ev).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        val stamp = Tables.fixtureStamp(dir, "events")
        // "v2" = the explicit nullValue/emptyValue format rev — folded into
        // the cache key so a CSV dir written by the v1 defaults (null → "")
        // on this machine can't be read back with the v2 options
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-csv-" +
          Integer.toHexString(s"$dir@$stamp@v2".hashCode)
        // nullValue/emptyValue pinned EXPLICITLY on both arms: Spark's
        // defaults write null as "" and read empty fields back as null,
        // which is only lossless while no text column carries a genuine
        // empty string. Distinct tokens (null → unquoted \N, empty → "")
        // keep null and "" distinguishable if a future fixture ships
        // either — the silent-coalescing hazard, not today's data.
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          flat.write.mode("overwrite")
            .option("header", "true").option("escape", "\"")
            .option("nullValue", "\\N").option("emptyValue", "\"\"")
            .csv(out)
        }
        s.read.schema(flat.schema)
          .option("header", "true").option("escape", "\"")
          .option("multiLine", "true")
          .option("nullValue", "\\N").option("emptyValue", "")
          .csv(out)
    },

    // S9 — DELETE reconciliation (sync/Reconcile): the repair pass for
    // the delete blind spot every watermark sync shares with the
    // reference (a deleted row touches no `updated` value, so the
    // incremental slice never mentions it). The gate SIMULATES upstream
    // deletes in-plan — source = events minus every 97th id, dest = the
    // full events table — and the orphan set must equal the planted
    // deletions via the key-only anti-join both engines run.
    "s9_delete_reconcile" -> Q(
      """WITH s AS (SELECT event_id FROM events WHERE event_id % 97 <> 0)
        |SELECT d.event_id FROM (SELECT DISTINCT event_id FROM events) d
        |LEFT JOIN s ON d.event_id = s.event_id
        |WHERE s.event_id IS NULL""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        graft.sync.Reconcile.deletedKeys(
          ev.filter(col("event_id") % 97 =!= 0), ev, Seq("event_id"))
    },

    // F1 — column projection (session.py:288).
    "f1_project" -> Q("SELECT l_orderkey, l_extendedprice FROM lineitem") {
      (s, dir) => Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice")
    },

    // F2 — inclusive-both-ends range conjunction (session.py:130-132).
    "f2_between" -> Q(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20""".stripMargin) {
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_quantity").between(10, 20))
          .select("l_orderkey", "l_linenumber", "l_quantity")
    },

    // F3 — half-open range [start, end) (session.py:264-271 interval_to_expr).
    "f3_half_open" -> Q(
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-22 00:00:00'""".stripMargin) {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.filter(col("ts") >= Tables.tsLit(e, "2024-01-15") &&
                 col("ts") < Tables.tsLit(e, "2024-01-22"))
          .select(col("event_id"), Tables.tsUs(e).as("ts_us"))
    },

    // F4 + W1 — ROW_NUMBER over total order, modulo picks window-boundary
    // rows (session.py:273-292). Total order = (epoch_us, event_id).
    "f4_modulo_window" -> Q(
      """SELECT rn, event_id, ts_us FROM (
        |  SELECT row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn,
        |         event_id, epoch_us(ts) AS ts_us
        |  FROM events) t
        |WHERE rn % 100 = 1""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val e = ev.withColumn("ts_us", Tables.tsUs(ev))
        val w = Window.orderBy(col("ts_us"), col("event_id"))
        e.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") % 100 === 1)
          .select("rn", "event_id", "ts_us")
    },

    // F5 — null-test + inequality (README.md:150, trigger WHEN README.md:182).
    "f5_null_ineq" -> Q(
      """SELECT event_id, event_type, value FROM events
        |WHERE value IS NOT NULL AND event_type <> 'error'""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("value").isNotNull && col("event_type") =!= "error")
          .select("event_id", "event_type", "value")
    },

    // F6 — equality filters (README.md:252-253, README.md:219).
    "f6_eq" -> Q(
      """SELECT event_id, value FROM events
        |WHERE user_id = 42 AND event_type = 'purchase'""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("user_id") === 42 && col("event_type") === "purchase")
          .select("event_id", "value")
    },

    // F7 — predicate propagation into a subquery (session.py:281-282);
    // under Catalyst the outer filter is pushed through the projection free.
    "f7_pushdown_subquery" -> Q(
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value FROM events WHERE user_id < 50) t
        |WHERE value > 100""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("user_id") < 50)
          .select("event_id", "user_id", "value")
          .filter(col("value") > 100)
    },

    // F8 — IN-list membership, pushed to the scan as one `In` filter
    // (PlanCheck pins it): the discrete-set slice every partition-subset
    // or event-type-family extract runs.
    "f8_in_list" -> Q(
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type IN ('signup', 'purchase')""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("event_type").isin("signup", "purchase"))
          .select("event_id", "user_id", "event_type")
    },

    // F9 — string-prefix predicate, pushed as StringStartsWith so parquet
    // row groups prune on min/max string stats — the LIKE form that stays
    // sargable (a '%x' suffix match would not).
    "f9_prefix_like" -> Q(
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_brand LIKE 'Brand#1%'""".stripMargin) {
      (s, dir) =>
        Tables.part(s, dir)
          .filter(col("p_brand").startsWith("Brand#1"))
          .select("p_partkey", "p_name", "p_brand")
    },

    // A1 — scalar MAX watermark (session.py:57-59).
    "a1_max_watermark" -> Q("SELECT epoch_us(max(ts)) AS wm_us FROM events") {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.agg(max(Tables.tsUs(e)).as("wm_us"))
    },

    // A2 — scalar MIN cold-start fallback (session.py:61-63).
    "a2_min_watermark" -> Q("SELECT epoch_us(min(ts)) AS wm_us FROM events") {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.agg(min(Tables.tsUs(e)).as("wm_us"))
    },

    // A3 — filtered COUNT(*) (README.md:217-220, status='BLOCKED').
    "a3_filtered_count" -> Q(
      "SELECT count(*) AS cnt FROM events WHERE event_type = 'error'") {
      (s, dir) =>
        Tables.events(s, dir).filter(col("event_type") === "error")
          .agg(count(lit(1)).as("cnt"))
    },

    // A4 — grouped SUM balance materialization (README.md:146-151).
    "a4_grouped_sum" -> Q(
      """SELECT user_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS balance,
        |       count(*) AS cnt
        |FROM events WHERE value IS NOT NULL AND event_type <> 'error'
        |GROUP BY user_id""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("value").isNotNull && col("event_type") =!= "error")
          .groupBy("user_id")
          .agg(decSum("value").as("balance"), count(lit(1)).as("cnt"))
    },

    // A5 — trigger-maintained incremental aggregate, batch equivalent
    // (README.md:156-198): only qualifying rows contribute; updated stamp =
    // latest contributing ts.
    "a5_incremental_balance" -> Q(
      """SELECT user_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS balance,
        |       epoch_us(max(ts)) AS updated_us
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin) {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(decSum("value").as("balance"),
               max(Tables.tsUs(e)).as("updated_us"))
    },

    // A9 — exact grouped COUNT(DISTINCT): a single distinct plans as
    // FOUR hash aggregates across TWO exchanges — dedup on (group, key),
    // then the per-group count (the second shuffle is exactly what w11
    // avoids on the big-fact path; PlanCheck pins the shape). At 100 TB
    // you reach for this only when the distinct count must be exact and
    // per-group.
    "a9_count_distinct" -> Q(
      """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("users"),
            count(lit(1)).as("n"))
    },

    // A7 — batch IVM (sync/AggMaintenance): the rollup maintained across
    // THREE contiguous watermark slices must equal the one-shot groupBy the
    // oracle runs — the slice decomposition is invisible in the result or
    // the maintenance is wrong. Slice cuts derive from the fixture's own
    // µs range (thirds), the table dir is fixtureStamp-keyed, and re-runs
    // ride the replay no-op (hi ≤ stored watermark) — the gate re-reads the
    // same committed rollup, which is itself the idempotence contract.
    "a7_agg_maintenance" -> Q(
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |       CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
        |       CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val us = Tables.tsUs(ev)
        val b = ev.agg(min(us).as("lo"), max(us).as("hi")).collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivm", s"$dir@$stamp")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySlice(
            s, out, ev, "ts", Seq("event_type"), "value", l, h)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("event_type"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"),
            col("min_val").cast("double").as("min_value"),
            col("max_val").cast("double").as("max_value"))
    },

    // A8 — the bucket-PARTITIONED batch IVM (billion-group form): same
    // three-slice ≡ one-shot contract as a7, but grouped by user_id (1.5k
    // groups at sf0.01) over a 16-bucket `__bucket=K/` layout where one
    // apply rewrites only touched buckets. Re-runs ride the replay no-op;
    // the params stamp refuses foreign bucket counts.
    "a8_agg_maintenance_partitioned" -> Q(
      """SELECT user_id, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |       CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
        |       CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
        |FROM events GROUP BY user_id""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val us = Tables.tsUs(ev)
        val b = ev.agg(min(us).as("lo"), max(us).as("hi")).collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmp", s"$dir@$stamp")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySlicePartitioned(
            s, out, ev, "ts", Seq("user_id"), "value", l, h, nBuckets = 16)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("user_id"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"),
            col("min_val").cast("double").as("min_value"),
            col("max_val").cast("double").as("max_value"))
    },

    // A10 — v2 multi-value batch IVM with maintained MOMENTS (the
    // trigger-maintained aggregate of README.md:156-198 generalized
    // beyond SUM): the rollup keeps exact DECIMAL (cnt, sum, sumsq, min,
    // max) per group for TWO value columns across three contiguous
    // slices; avg and sample variance DERIVE from the stored moments —
    // no history rescan, the 100 TB point. The avg/var double chain is
    // readDerived's documented contract (each exact DECIMAL cast once to
    // double, fixed operation order), so the DuckDB oracle reproduces it
    // bit-for-bit; an in-plan exceptAll pins the maintained moments
    // against an INDEPENDENT one-shot aggregation before returning.
    // CROSS-ENGINE HASH SAFETY: DuckDB's decimal→double cast can DOUBLE-
    // ROUND ((double)int128 then ÷10^scale — two roundings) once the
    // unscaled value passes 2^53, while Spark's BigDecimal.doubleValue
    // rounds once — a 1-ulp flap (hit by a11's var_price at sf0.01, first
    // caught 2026-08-15). So the HASHED columns use only decimals whose
    // unscaled form stays far under 2^53: quantity moments at SCALE 0
    // (quantities are integral — exact; sumsq ≤ ~5e8 per group) and the
    // price SUM at SCALE 2 (prices are 2-dp — exact; unscaled ≤ ~1e12),
    // where both engines' casts are exact-or-single-rounded and therefore
    // identical. var_price (sumsq_p unscaled ≥ 5e16 at gate SFs) is NOT
    // hash-gated: it is pinned by the in-plan exceptAll below and the
    // spec's 1e-9 tolerance vs var_samp.
    "a10_agg_maintenance_v2" -> Q(
      """WITH g AS (
        |  SELECT l_returnflag, count(*) AS cnt,
        |         count(l_quantity) AS n_q, count(l_extendedprice) AS n_p,
        |         sum(CAST(l_quantity AS DECIMAL(19,0))) AS s_q,
        |         sum(CAST(l_quantity AS DECIMAL(19,0))
        |             * CAST(l_quantity AS DECIMAL(19,0))) AS sq_q,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_p,
        |         CAST(min(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS min_qty,
        |         CAST(max(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS max_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, cnt,
        |       CAST(s_q AS DOUBLE) / CAST(n_q AS DOUBLE) AS avg_qty,
        |       CASE WHEN n_q > 1 THEN
        |         (CAST(sq_q AS DOUBLE)
        |          - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE) / CAST(n_q AS DOUBLE))
        |         / (CAST(n_q AS DOUBLE) - 1.0) END AS var_qty,
        |       CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE) AS avg_price,
        |       min_qty, max_qty
        |FROM g""".stripMargin) {
      (s, dir) =>
        val li = Tables.lineitem(s, dir)
        val vals = Seq("l_quantity", "l_extendedprice")
        val us = Tables.tsUs(li, "l_shipdate")
        val b = li.agg(min(us).as("lo"), max(us).as("hi")).collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "lineitem")
        val out = ivmTmp(s, "aggivm2", s"$dir@$stamp@m2")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceV2(
            s, out, li, "l_shipdate", Seq("l_returnflag"), vals, l, h)
        }
        val derived = graft.sync.AggMaintenance.readDerived(s, out)
        // independent one-shot twin: ONE aggregation over the raw rows
        // (never through AggMaintenance), same exact types + double chain
        def moments(v: String): Seq[Column] = {
          val c = col(v).cast("decimal(18,4)")
          Seq(count(c).as(s"cntv_$v"),
            sum(c).cast("decimal(28,4)").as(s"sum_$v"),
            sum((c * c).cast("decimal(38,8)")).cast("decimal(38,8)")
              .as(s"sumsq_$v"),
            min(c).as(s"min_$v"), max(c).as(s"max_$v"))
        }
        // derived columns via the ONE shared chain (deriveMomentCols) —
        // a hand-copied fold here could reorder an IEEE op and break the
        // exceptAll below by 1 ulp
        // localCheckpoint BOTH sides (group-cardinality frames) before the
        // two exceptAll directions: each direction otherwise re-runs the
        // full one-shot lineitem aggregation — two corpus passes for one
        // equality pin (guide §1.2: don't compute things twice)
        val oneShot = graft.sync.AggMaintenance.deriveMomentCols(
          li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"),
            vals.flatMap(moments): _*), vals).localCheckpoint()
        val derivedM = derived.localCheckpoint()
        require(derivedM.exceptAll(oneShot).isEmpty &&
          oneShot.exceptAll(derivedM).isEmpty,
          "a10: maintained v2 moments diverge from the one-shot aggregation")
        // the pin is done with both checkpoints — free their blocks NOW
        // (Checkpoints.release) instead of at GC, so the bench's min-of-3
        // loop never runs against leaked block-manager pressure (the r12
        // e9d variance mode; the returned frame below is a fresh read)
        graft.core.Checkpoints.release(derivedM)
        graft.core.Checkpoints.release(oneShot)
        // hashed output via the ONE shared hash-safe chain (value-
        // preserving exact down-casts — equals readDerived's numbers
        // wherever both are exact; see lineitemMomentHashCols)
        graft.sync.AggMaintenance.read(s, out)
          .select((col("l_returnflag") +: col("cnt") +:
            lineitemMomentHashCols()) ++ Seq(
            col("min_l_quantity").cast("double").as("min_qty"),
            col("max_l_quantity").cast("double").as("max_qty")): _*)
    },

    // A11 — the bucket-PARTITIONED v2 moments rollup (a8's billion-group
    // layout × a10's maintained moments): per-supplier avg/variance of
    // two measures maintained across three shipdate slices over a
    // 16-bucket `__bucket=K/` layout — per-entity statistics at corpus
    // scale, one apply rewrites only touched buckets, derived stats come
    // from the stored exact moments via a10's fixed double chain.
    "a11_agg_maintenance_v2_partitioned" -> Q(
      """WITH g AS (
        |  SELECT l_suppkey, count(*) AS cnt,
        |         count(l_quantity) AS n_q,
        |         sum(CAST(l_quantity AS DECIMAL(19,0))) AS s_q,
        |         sum(CAST(l_quantity AS DECIMAL(19,0))
        |             * CAST(l_quantity AS DECIMAL(19,0))) AS sq_q,
        |         count(l_extendedprice) AS n_p,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_p
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, cnt,
        |       CAST(s_q AS DOUBLE) / CAST(n_q AS DOUBLE) AS avg_qty,
        |       CASE WHEN n_q > 1 THEN
        |         (CAST(sq_q AS DOUBLE)
        |          - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE) / CAST(n_q AS DOUBLE))
        |         / (CAST(n_q AS DOUBLE) - 1.0) END AS var_qty,
        |       CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE) AS avg_price
        |FROM g""".stripMargin) {
      (s, dir) =>
        val li = Tables.lineitem(s, dir)
        val vals = Seq("l_quantity", "l_extendedprice")
        val us = Tables.tsUs(li, "l_shipdate")
        val b = li.agg(min(us).as("lo"), max(us).as("hi")).collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "lineitem")
        val out = ivmTmp(s, "aggivm2p", s"$dir@$stamp")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySlicePartitionedV2(
            s, out, li, "l_shipdate", Seq("l_suppkey"), vals, l, h,
            nBuckets = 16)
        }
        // the ONE shared hash-safe chain (2^53 rule — see
        // lineitemMomentHashCols); var_price stays un-hashed, spec-pinned
        // at 1e-9 vs var_samp
        graft.sync.AggMaintenance.read(s, out)
          .select(col("l_suppkey") +: col("cnt") +:
            lineitemMomentHashCols(): _*)
    },

    // A12 — v3 DISTINCT-COUNT IVM: exact COUNT(DISTINCT) is not
    // distributive (maintaining it means keeping every distinct value),
    // so the maintained form is one HLL sketch per group — mergeable
    // register-wise, the only distinct count that survives slice-by-slice
    // maintenance at 100 TB. Sketch estimates are approximate and their
    // merged form is estimator-path-dependent (readDistinct's scaladoc),
    // so the gate is a TOLERANCE CONTRACT (the e4c pattern): the
    // maintained estimate must sit within max(5%, 2) of the exact
    // per-group distinct count both engines can compute; DuckDB emits the
    // same constant-1 flag over the exact counts.
    "a12_agg_maintenance_distinct" -> Q(
      """SELECT event_type, count(*) AS cnt, CAST(1 AS BIGINT) AS est_ok
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val us = Tables.tsUs(ev)
        val b = ev.agg(min(us).as("lo"), max(us).as("hi")).collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivm3", s"$dir@$stamp")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceDistinct(
            s, out, ev, "ts", Seq("event_type"), Seq("user_id"), l, h)
        }
        val est = graft.sync.AggMaintenance.readDistinct(s, out)
          .select(col("event_type"), col("cnt"),
            col("approx_distinct_user_id").as("est"))
        val exact = ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("cnt"),
            when(abs(col("est") - col("exact")).cast("double") <=
              greatest(col("exact").cast("double") * 0.05, lit(2.0)), 1L)
              .otherwise(0L).as("est_ok"))
    },

    // A13 — the bucket-PARTITIONED v3 distinct-count rollup (a8's layout
    // × a12's sketches): per-USER distinct event types maintained over a
    // 16-bucket `__bucket=K/` layout, three ts slices — per-entity
    // distinct counts at billion-group scale, touched buckets only. Tiny
    // per-group cardinalities (≤5 event types) keep the HLL in its exact
    // sparse regime, so the tolerance contract is deterministic here.
    "a13_agg_maintenance_distinct_partitioned" -> Q(
      """SELECT user_id, count(*) AS cnt, CAST(1 AS BIGINT) AS est_ok
        |FROM events GROUP BY user_id""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val us = Tables.tsUs(ev)
        val b = ev.agg(min(us).as("lo"), max(us).as("hi")).collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivm3p", s"$dir@$stamp")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySlicePartitionedDistinct(
            s, out, ev, "ts", Seq("user_id"), Seq("event_type"), l, h,
            nBuckets = 16)
        }
        val est = graft.sync.AggMaintenance.readDistinct(s, out)
          .select(col("user_id"), col("cnt"),
            col("approx_distinct_event_type").as("est"))
        val exact = ev.groupBy("user_id")
          .agg(count_distinct(col("event_type")).as("exact"))
        est.join(exact, "user_id")
          .select(col("user_id"), col("cnt"),
            when(abs(col("est") - col("exact")).cast("double") <=
              greatest(col("exact").cast("double") * 0.05, lit(2.0)), 1L)
              .otherwise(0L).as("est_ok"))
    },

    // A14 — the IVM's APPEND-ONLY CONTRACT, pinned the way T4 pins the
    // watermark's documented miss: the reference's sync handles UPDATEs as
    // the same PK re-arriving in a later extract with a bumped `updated`
    // (session.py:135-151 — ON CONFLICT DO UPDATE makes the re-arrival
    // overwrite), but AggMaintenance folds slices as pure EVENT streams —
    // a re-synced row is new mass, so an updated row counts TWICE in the
    // rollup. That is the correct semantics for event/transaction tables
    // (the README.md:146-151 balance use-case: each row is a transaction,
    // re-arrival IS new mass) and the documented-wrong one for row-mirror
    // rollups; this gate makes the contract honest by pinning the double
    // count against an oracle that aggregates the same multiset (base
    // UNION ALL re-arrivals). Every 10th event re-arrives one span later
    // with the SAME value — the bumped-watermark touch shape.
    "a14_agg_maintenance_update_replay" -> Q(
      """WITH src AS (
        |  SELECT user_id, value FROM events
        |  UNION ALL
        |  SELECT user_id, value FROM events WHERE event_id % 10 = 0)
        |SELECT user_id, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM src GROUP BY user_id""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("user_id"), col("value"),
          Tables.tsUs(ev).as("ts"))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        // the reference's UPDATE shape: same PK, watermark bumped past the
        // first extract's cut, value unchanged (a touch) — lands wholly in
        // the second slice
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmu", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySlice(
            s, out, src, "ts", Seq("user_id"), "value", l, h)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("user_id"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // A16 — KEYED (last-writer-wins) rollup IVM: the row-mirror
    // complement to a14. There the same re-arrival shape (same PK, bumped
    // watermark) counts TWICE by contract; here it REPLACES — the rollup
    // tracks the aggregate of the latest-per-key mirror, the reference's
    // own target-table shape (session.py:135-151 ON CONFLICT DO UPDATE)
    // joined to its Q2 aggregation (README.md:146-151). The fixture makes
    // replacement observable three ways at once: every 10th event
    // re-arrives one span later with its value DOUBLED (sum must move by
    // +value, not +2·value), in a NEW group 'moved' (cnt must shift
    // across groups: retract from the old event_type, add to 'moved'),
    // across a second slice (the retraction reads the key-state store,
    // not the slice). Oracle: aggregate the latest-per-key multiset.
    "a16_agg_maintenance_keyed" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         'moved' AS event_type, value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, event_type, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("event_type"),
          col("value"), Tables.tsUs(ev).as("ts"))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("event_type", lit("moved"))
          .withColumn("value", col("value") * 2) // ×2 is float-exact
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmk", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyed(
            s, out, src, "ts", Seq("event_id"), Seq("event_type"), "value",
            l, h)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("event_type"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // A17 — the bucket-PARTITIONED keyed rollup (a16's last-writer-wins
    // contract × a8's layout): the flat keyed lane rewrites the whole
    // rollup AND the whole key-state store per slice — O(mirror), the one
    // cost that grows with the synced table instead of the slice. Here
    // the rollup is bucketed on the GROUP hash and the key state on the
    // KEY hash (independent spaces, sized separately), so a slice touches
    // only the buckets its keys/groups land in; commit order (rollup
    // buckets, then state buckets, root wm last) + per-bucket watermarks
    // carry exactly-once across crashes without a cross-bucket
    // transaction. Same fixture and oracle as a16 — the layout must be
    // invisible to the result.
    "a17_agg_maintenance_keyed_partitioned" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         'moved' AS event_type, value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, event_type, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("event_type"),
          col("value"), Tables.tsUs(ev).as("ts"))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("event_type", lit("moved"))
          .withColumn("value", col("value") * 2) // ×2 is float-exact
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkp", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyedPartitioned(
            s, out, src, "ts", Seq("event_id"), Seq("event_type"), "value",
            l, h, nBuckets = 16, nKeyBuckets = 32)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("event_type"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // A18 — keyed MOMENTS IVM (a17's layout × a10's moment set): avg and
    // variance of the CURRENT keyed mirror, maintained last-writer-wins —
    // a re-arrival retracts its old (v, v²) contribution exactly (DECIMAL
    // cancellation) and adds the new one. min/max deliberately absent
    // (not retractable — NOTES 2-heap scope-out). Gate: the replayed
    // rollup's derived avg/var equals the one-shot latest-per-key moments
    // aggregation IN-PLAN (exceptAll both ways through the ONE shared
    // deriveMomentCols chain — the a10/t14 discipline); the DuckDB hash
    // covers the 2^53-safe columns (cnt/cntv/sum/avg; var is
    // exceptAll-pinned — sumsq's DECIMAL(38,8) unscaled form exceeds 2^53
    // where DuckDB double-rounds, the a11 flap). Fixture: a16's
    // re-arrival shape (value doubled, group moved, across a slice).
    "a18_agg_maintenance_keyed_moments" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         'moved' AS event_type, value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, event_type, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, count(*) AS cnt, count(value) AS cntv,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |         / CAST(count(value) AS DOUBLE) AS avg_value
        |FROM latest GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("event_type"),
          col("value"), Tables.tsUs(ev).as("ts"))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("event_type", lit("moved"))
          .withColumn("value", col("value") * 2)
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkm", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyedPartitionedV2(
            s, out, src, "ts", Seq("event_id"), Seq("event_type"),
            Seq("value"), l, h, nBuckets = 16, nKeyBuckets = 32)
        }
        // in-plan: derived avg/var of the maintained rollup ≡ the
        // one-shot latest-per-key moments aggregation, shared chain
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_id").orderBy(col("ts").desc)
        val latest = src.withColumn("__rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__rn") === 1)
        val c = col("value").cast("decimal(18,4)")
        val oneShot = graft.sync.AggMaintenance.deriveMomentCols(
          latest.groupBy("event_type").agg(
            count(lit(1)).as("cnt"),
            count(c).as("cntv_value"),
            sum(c).cast("decimal(28,4)").as("sum_value"),
            sum((c * c).cast("decimal(38,8)")).cast("decimal(38,8)")
              .as("sumsq_value")),
          Seq("value"))
        // localCheckpoint BOTH sides (group-cardinality frames) before the
        // two exceptAll directions: each direction otherwise re-runs the
        // one-shot latest-per-key window + aggregation — two full passes
        // for one equality pin (guide §1.2: don't compute things twice)
        val derived = graft.sync.AggMaintenance.readDerived(s, out)
          .select("event_type", "cnt", "cntv_value", "sum_value",
            "sumsq_value", "avg_value", "var_value")
          .localCheckpoint()
        val oneShotSel = oneShot.select("event_type", "cnt", "cntv_value",
          "sum_value", "sumsq_value", "avg_value", "var_value")
          .localCheckpoint()
        require(derived.exceptAll(oneShotSel).isEmpty &&
          oneShotSel.exceptAll(derived).isEmpty,
          "a18: maintained keyed moments diverge from the one-shot " +
            "latest-per-key aggregation")
        // oneShotSel is pin-only — release its blocks now (the a10 rule);
        // `derived` stays: the returned frame reads it
        graft.core.Checkpoints.release(oneShotSel)
        derived.select(col("event_type"), col("cnt"),
          col("cntv_value").as("cntv"),
          col("sum_value").cast("double").as("sum_value"),
          col("avg_value"))
    },

    // A19 — keyed EXACT DISTINCT by composition: HLL sketches cannot
    // retract, so a last-writer-wins distinct-count has no sketch form
    // (the CLI refusal) — but the keyed lane maintains it EXACTLY with
    // no new machinery: group the keyed rollup by (G, distinctCol), and
    // the distinct count per G is the number of live groups (cnt>0 rows
    // are exactly the (G, d) pairs with ≥1 live key; the lane already
    // removes vacated groups). Retraction falls out: a key whose user
    // moves or whose type changes retracts its old (G, d) pair, and the
    // pair disappears when its last key leaves. The read-side regroup is
    // group-cardinality, not history. Fixture: a16's re-arrival shape —
    // moved keys must vanish from their old type's distinct set.
    "a19_agg_maintenance_keyed_distinct" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, user_id
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         'moved' AS event_type, user_id
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, event_type, user_id FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, count(DISTINCT user_id) AS distinct_users,
        |       count(*) AS cnt
        |FROM latest GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("event_type"),
          col("user_id"), Tables.tsUs(ev).as("ts"))
          // the keyed lane wants a value column distinct from key/group;
          // the distinct-count composition carries no real measure, so a
          // constant rides along (cnt is the live-key count per pair)
          .withColumn("one", lit(1.0))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("event_type", lit("moved"))
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkd", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyedPartitioned(
            s, out, src, "ts", Seq("event_id"),
            Seq("event_type", "user_id"), "one", l, h,
            nBuckets = 16, nKeyBuckets = 32)
        }
        graft.sync.AggMaintenance
          .readKeyedDistinct(s, out, Seq("event_type"))
          .select(col("event_type"),
            col("distinct_groups").as("distinct_users"), col("cnt"))
    },

    // A20 — keyed EXACT MIN/MAX by composition: the keyed apply lanes
    // refuse min/max (a replaced key's old value cannot be retracted
    // from a running extremum without per-group value history), but the
    // a19 pattern closes the gap with no new machinery — a keyed rollup
    // grouped by (G, value) carries the live mirror's exact value SET
    // per G, so min/max over LIVE groups IS min/max of the mirror:
    // exact, retractable (a vacated value disappears with its last key),
    // and a group-cardinality regroup at read time. Fixture: a16's
    // update-heavy shape — moved keys DOUBLE their value and leave their
    // old group, so both the old type's max (shrinks when its largest
    // key moves away) and 'moved''s extrema (doubled values) change
    // across the slice boundary, and both must come out exact.
    "a20_agg_maintenance_keyed_minmax" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         'moved' AS event_type, value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, event_type, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, min(value) AS min_value, max(value) AS max_value,
        |       count(*) AS cnt
        |FROM latest GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("event_type"),
          col("value"), Tables.tsUs(ev).as("ts"))
          // the value rides as a GROUP column (the composition); the
          // lane's measure slot carries a constant like a19's
          .withColumn("one", lit(1.0))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("event_type", lit("moved"))
          .withColumn("value", col("value") * 2) // ×2 is float-exact
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkx", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyed(
            s, out, src, "ts", Seq("event_id"),
            Seq("event_type", "value"), "one", l, h)
        }
        graft.sync.AggMaintenance
          .readKeyedMinMax(s, out, Seq("event_type"), "value")
          .select(col("event_type"), col("min_value"), col("max_value"),
            col("cnt"))
    },

    // A21 — keyed IVM with DELETE TOMBSTONES (the CDC shape): a key whose
    // upstream row is deleted must LEAVE the mirror — retraction with no
    // replacement, the one re-arrival the upsert-only keyed lane cannot
    // express. Every 20th key receives a payload-FREE tombstone (NULL
    // group, NULL value — delete feeds rarely carry payloads) one span
    // later, across the slice boundary, so the retraction reads the
    // persisted key-state store and the key must vanish from its group's
    // cnt/sum (a group whose last key dies disappears). Oracle: the
    // latest-per-key mirror EXCLUDING deleted keys.
    "a21_agg_maintenance_keyed_tombstone" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_type, value,
        |         FALSE AS del
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         CAST(NULL AS VARCHAR) AS event_type,
        |         CAST(NULL AS DOUBLE) AS value, TRUE AS del
        |  FROM events WHERE event_id % 20 = 0),
        |latest AS (
        |  SELECT event_id, event_type, value, del FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM latest WHERE NOT del GROUP BY event_type""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), col("event_type"),
          col("value"), Tables.tsUs(ev).as("ts"))
          .withColumn("del", lit(false))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val tombs = base.filter(col("event_id") % 20 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("event_type", lit(null).cast("string"))
          .withColumn("value", lit(null).cast("double"))
          .withColumn("del", lit(true))
        val src = base.unionByName(tombs)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkt", s"$dir@$stamp")
        Seq((lo, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyed(
            s, out, src, "ts", Seq("event_id"), Seq("event_type"), "value",
            l, h, tombstoneCol = Some("del"))
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("event_type"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // A22 — KEYED × WINDOWED composition: the keyed lane is group-generic
    // exactly like v1 (the a15 argument transposed), so a last-writer-wins
    // mirror grouped by (user, tumbling-hour window-start) maintains with
    // NO new machinery — the window start rides as a derived group column
    // (exact long µs arithmetic, the a15 rule), and a key that RE-ARRIVES
    // in a later hour retracts from its old window and lands in the new
    // one through the ordinary keyed retraction path. Fixture: a16's
    // update-heavy shape — every 10th key re-arrives one span later with
    // value doubled (float-exact), so windows both lose and gain mass
    // across the slice boundary. Slice cuts straddle window boundaries
    // (three contiguous slices; the a15 discipline). Oracle: the
    // latest-per-key mirror grouped by (user, hour).
    "a22_agg_maintenance_keyed_windowed" -> Q(
      """WITH src AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, user_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, user_id, ts_us, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT user_id,
        |       (ts_us // 3600000000) * 3600000000 AS win_start_us,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        def winOf(ts: Column): Column = ts - pmod(ts, lit(3600000000L))
        val base = ev.select(col("event_id"), col("user_id"), col("value"),
            Tables.tsUs(ev).as("ts"))
          .withColumn("win_start_us", winOf(col("ts")))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("win_start_us", winOf(col("ts")))
          .withColumn("value", col("value") * 2)
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkw", s"$dir@$stamp")
        val cut1 = lo + (hi - lo) / 2
        Seq((lo, cut1), (cut1, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyed(
            s, out, src, "ts", Seq("event_id"),
            Seq("user_id", "win_start_us"), "value", l, h)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("user_id"), col("win_start_us"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // A23 — the a22 composition on the PARTITIONED keyed lane: groups
    // (user, hour-window) bucketed on the GROUP hash, key state on the
    // KEY hash — proving the window-start-as-derived-group-column rule
    // composes with the bucket layout exactly as it does flat (the
    // rollup core is group-generic; the bucket router hashes whatever
    // the group tuple is). Same fixture and oracle as a22; only the
    // lane differs. A re-arriving key crossing an hour boundary
    // retracts from its old window's bucket and lands in the new one —
    // two touched buckets, never a mirror rewrite.
    "a23_agg_maintenance_keyed_windowed_partitioned" -> Q(
      """WITH src AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, user_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0),
        |latest AS (
        |  SELECT event_id, user_id, ts_us, value FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT user_id,
        |       (ts_us // 3600000000) * 3600000000 AS win_start_us,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        def winOf(ts: Column): Column = ts - pmod(ts, lit(3600000000L))
        val base = ev.select(col("event_id"), col("user_id"), col("value"),
            Tables.tsUs(ev).as("ts"))
          .withColumn("win_start_us", winOf(col("ts")))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val updated = base.filter(col("event_id") % 10 === 0)
          .withColumn("ts", col("ts") + lit(span))
          .withColumn("win_start_us", winOf(col("ts")))
          .withColumn("value", col("value") * 2)
        val src = base.unionByName(updated)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmkwp", s"$dir@$stamp")
        val cut1 = lo + (hi - lo) / 2
        Seq((lo, cut1), (cut1, hi), (hi, hi + span)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySliceKeyedPartitioned(
            s, out, src, "ts", Seq("event_id"),
            Seq("user_id", "win_start_us"), "value", l, h,
            nBuckets = 16, nKeyBuckets = 32)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("user_id"), col("win_start_us"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // A15 — WINDOWED rollup IVM: the v1 core is group-generic, so a
    // (user, tumbling-window-start) grouped rollup maintains slice-by-
    // slice with NO new machinery — group cols = user_id + the hour
    // bucket derived from ts (exact long arithmetic, w6's window shape).
    // Slice cuts deliberately straddle window boundaries: a window whose
    // rows arrive across two slices accumulates through the union+regroup
    // combine like any other group — the streaming-window use-case
    // (README.md:156-198 generalized to time buckets) carried by the
    // batch IVM matrix. Contract: three contiguous slices ≡ the one-shot
    // windowed aggregate, hash-exact.
    "a15_agg_maintenance_windowed" -> Q(
      """SELECT user_id,
        |       (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        // hour-aligned window start in exact long µs (never a double
        // division — a rounded quotient could flap the floor at bucket
        // edges). pmod, not %: the oracle's `//` and Spark's window()
        // both FLOOR, while % follows the dividend's sign — a pre-1970
        // timestamp would diverge under truncating modulo
        val base = ev.select(col("user_id"), col("value"),
            Tables.tsUs(ev).as("ts"))
          .withColumn("win_start_us",
            col("ts") - pmod(col("ts"), lit(3600000000L)))
        val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "aggivmw", s"$dir@$stamp")
        Seq((lo, cut1), (cut1, cut2), (cut2, hi)).foreach { case (l, h) =>
          graft.sync.AggMaintenance.applySlice(
            s, out, base, "ts", Seq("user_id", "win_start_us"), "value", l, h)
        }
        graft.sync.AggMaintenance.read(s, out)
          .select(col("user_id"), col("win_start_us"), col("cnt"),
            col("sum_val").cast("double").as("sum_value"))
    },

    // W1 — partitioned ROW_NUMBER, the load-bearing S4-dedup form
    // (SURVEY §2.5): latest row per key, last-writer-wins.
    "w1_latest_per_key" -> Q(
      """SELECT user_id, event_id, ts_us, value FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val e = ev.withColumn("ts_us", Tables.tsUs(ev))
        val w = Window.partitionBy("user_id")
                      .orderBy(col("ts_us").desc, col("event_id").desc)
        e.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_id", "ts_us", "value")
    },

    // O1 — ascending sort (+ LIMIT on a total order for determinism)
    // (session.py:133, README.md:103).
    "o1_sort_limit" -> Q(
      """SELECT event_id, ts_us FROM (
        |  SELECT event_id, epoch_us(ts) AS ts_us FROM events) t
        |ORDER BY ts_us ASC, event_id ASC LIMIT 100""".stripMargin) {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.select(col("event_id"), Tables.tsUs(e).as("ts_us"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
          .limit(100)
    },

    // O2 — top-k: filter + ORDER BY DESC + LIMIT (README.md:250-255).
    // Spark plans TakeOrderedAndProject — distributed top-k, no global sort.
    "o2_topk" -> Q(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY value DESC, event_id ASC LIMIT 10""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "value")
          .orderBy(col("value").desc, col("event_id").asc)
          .limit(10)
    },

    // X1 — abs() in a predicate (README.md:306).
    "x1_abs" -> Q(
      """SELECT event_id, abs(value - 100.0) AS dev FROM events
        |WHERE abs(value - 100.0) > 50""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("dev", abs(col("value") - 100.0))
          .filter(col("dev") > 50)
          .select("event_id", "dev")
    },

    // X2 — epoch-millis conversion (README.md:148, pypgsync.py:13).
    "x2_epoch_millis" -> Q(
      "SELECT event_id, epoch_ms(ts) AS ts_ms FROM events") {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.select(col("event_id"), Tables.tsUs(e).as("ts_us"))
          .selectExpr("event_id", "ts_us div 1000 AS ts_ms") // integer div,
          // never double: the repo's ts-arithmetic rule (core.Tables)
    },

    // X4 — modulo (session.py:292), as a bucketing aggregate.
    "x4_modulo" -> Q(
      """SELECT event_id % 7 AS bucket, count(*) AS cnt
        |FROM events GROUP BY event_id % 7""".stripMargin) {
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy((col("event_id") % 7).as("bucket"))
          .agg(count(lit(1)).as("cnt"))
    },

    // T1 — warm-start watermark recovery: wm = MAX(updated) in "destination"
    // (rows before the warm boundary), count of newer source rows
    // (session.py:50-65). µs-normalized on both sides.
    "t1_watermark_recovery" -> Q(
      s"""SELECT count(*) AS cnt FROM events
         |WHERE epoch_us(ts) > (SELECT max(epoch_us(ts)) FROM events
         |                      WHERE epoch_us(ts) < $warmUs)""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val e = ev.withColumn("ts_us", Tables.tsUs(ev))
        val wm = e.filter(col("ts_us") < warmUs)
                  .agg(max("ts_us").as("wm_us"))
        e.crossJoin(wm).filter(col("ts_us") > col("wm_us"))
          .agg(count(lit(1)).as("cnt"))
    },

    // T2 — frozen snapshot cut: only rows at-or-before the run-start bound
    // sync this run (pypgsync.py:13, session.py:221-222).
    "t2_snapshot_cut" -> Q(
      s"""SELECT count(*) AS cnt FROM events
         |WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'""".stripMargin) {
      (s, dir) =>
        val e = Tables.events(s, dir)
        e.filter(col("ts") <= Tables.tsLit(e, cutDate))
          .agg(count(lit(1)).as("cnt"))
    },

    // T3 — inclusive lower bound: rows sharing the watermark ts re-extract
    // (session.py:130); count >= 1 by construction.
    "t3_inclusive_reread" -> Q(
      """SELECT count(*) AS cnt FROM events
        |WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events)""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val e = ev.withColumn("ts_us", Tables.tsUs(ev))
        val wm = e.agg(max("ts_us").as("wm_us"))
        e.crossJoin(wm).filter(col("ts_us") >= col("wm_us"))
          .agg(count(lit(1)).as("cnt"))
    },

    // S13 — CDC DELETE TOMBSTONES through the SYNC MERGE PATH (the a21
    // semantics one layer down, where a debezium-style consumer feeds
    // them): two watermark-driven SyncJob batches against one parquet
    // destination — the base generation, then a delete feed in which
    // every 20th key receives a payload-FREE tombstone (NULL payload —
    // delete feeds rarely carry one) one span later. The deleted key must
    // LEAVE the destination entirely; the tombstone column never reaches
    // the dest schema; the setting is frozen in the destination's state
    // record (sync.DestState). The reference cannot express this (session.py:135-151 is
    // upsert-only — its delete blind spot otherwise costs a Reconcile
    // full anti-join per repair). Oracle: the latest-per-key mirror
    // excluding deleted keys.
    "s13_sync_tombstone" -> Q(
      """WITH src AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |         value, FALSE AS del
        |  FROM events
        |  UNION ALL
        |  SELECT event_id,
        |         epoch_us(ts) + (SELECT max(epoch_us(ts)) - min(epoch_us(ts)) + 1
        |                         FROM events) AS ts_us,
        |         CAST(NULL AS BIGINT) AS user_id,
        |         CAST(NULL AS VARCHAR) AS event_type,
        |         CAST(NULL AS DOUBLE) AS value, TRUE AS del
        |  FROM events WHERE event_id % 20 = 0),
        |latest AS (
        |  SELECT event_id, ts_us, user_id, event_type, value, del FROM (
        |    SELECT src.*, row_number() OVER (PARTITION BY event_id
        |                                     ORDER BY ts_us DESC) AS rn
        |    FROM src) t
        |  WHERE rn = 1)
        |SELECT event_id, ts_us, user_id, event_type, value
        |FROM latest WHERE NOT del""".stripMargin) {
      (s, dir) =>
        val ev = Tables.events(s, dir)
        val base = ev.select(col("event_id"), Tables.tsUs(ev).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
          .withColumn("del", lit(false))
        val b = base.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
          .collect().head
        val lo = b.getLong(0); val hi = b.getLong(1) + 1
        val span = hi - lo
        val tombs = base.filter(col("event_id") % 20 === 0)
          .withColumn("ts_us", col("ts_us") + lit(span))
          .withColumn("user_id", lit(null).cast("long"))
          .withColumn("event_type", lit(null).cast("string"))
          .withColumn("value", lit(null).cast("double"))
          .withColumn("del", lit(true))
        val src = base.unionByName(tombs)
        val stamp = Tables.fixtureStamp(dir, "events")
        val out = ivmTmp(s, "synctomb", s"$dir@$stamp")
        val cfg = graft.sync.SyncConfig(Seq("event_id"), "ts_us",
          tombstoneCol = Some("del"))
        val job = new graft.sync.SyncJob(s, cfg)
        // batch 1: base generation only (cut = max base ts); batch 2: the
        // tombstone feed. Replays inside one JVM (Bench min-of-3) are
        // absorbed: batch 1 may transiently resurrect a deleted key whose
        // base row re-extracts as novel, and batch 2 deletes it again —
        // the T3 convergence argument, now including deletes.
        job.run(src, out, hi - 1)
        job.run(src, out, hi - 1 + span)
        s.read.parquet(out).select(col("event_id"), col("ts_us"),
          col("user_id"), col("event_type"), col("value"))
    }
  )
}
