package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and the end-to-end events sync-merge, printing one
  * JSON line.
  *
  * Queries are forced through the "noop" datasource sink — unlike count(),
  * that executes the full plan including projections (count() lets Catalyst
  * prune every column off a scan-only query).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // NonFatal only: an OutOfMemoryError/StackOverflowError must crash the
    // run (rc!=0), not be silently reported as a -1 timing. The failure is
    // PRINTED before the -1: a silent -1 in the committed artifact is
    // undiagnosable from the log (the r16 sync-arm lesson).
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      try f catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] entry FAILED (reported -1): $e")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // n runs per query, report the min: run 1 absorbs JVM/codegen warmup
    // and one-time index builds (ANN build/probe split), so the min is the
    // steady-state cost — the number a resident service would see.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)

    // warm the JVM/codegen once so the first measured entry doesn't pay
    // session startup. DETERMINISTIC (r18 verdict #4): the old
    // `queries.head` of an unordered Map warmed a machine-dependent entry,
    // so the alphabetically-FIRST measured entry (a10 — which also runs
    // the IVM write path and the exceptAll pins, the exact code its
    // measured runs exercise) absorbed first-in-session JIT/parquet-footer
    // costs in some sessions and not others. Warm that entry itself;
    // `warmup_entry` on the bench line records it (additions-only — no
    // existing field or methodology changed).
    val warmupEntry = SparkEntry.queries.keys.min
    try SparkEntry.queries(warmupEntry)(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    catch { case scala.util.control.NonFatal(_) => () }

    // warm the STREAMING infra once (state-store coordinator, streaming
    // listener bus, micro-batch planner classes): the alphabetically
    // first replay twin otherwise pays this one-time cost inside its
    // measured window — a fixed tax the other ten twins never see, which
    // makes t10's number incomparable to its siblings'
    try {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Int]
      val q = mem.toDS().groupBy("value").count()
        .writeStream.outputMode("update")
        .format("memory").queryName("__bench_stream_warmup").start()
      try { mem.addData(1 to 4); q.processAllAvailable() } finally q.stop()
      spark.catalog.dropTempView("__bench_stream_warmup")
      HarnessState.reclaim(spark)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

    // replay twins (t*_replay) run ONCE: their cost is the MemoryStream +
    // state-store replay harness — fixed and deterministic across runs —
    // so min-of-n would triple the bench wall-clock for zero extra signal
    def runsFor(name: String): Int = if (name.endsWith("_replay")) 1 else runs

    // local-iteration filter (the Verify SPARK_GRAFT_ONLY convention); the
    // driver never sets it, so the round bench always measures everything.
    // Unknown names fail loudly — a typo'd filter must not bench nothing.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but names no queries")
      // "sync_merge_events" is the e2e sync arm below, not a queries entry —
      // accepting it here lets local iteration re-measure the headline
      // sync throughput alone (the drift-pinning protocol) without the
      // other ~130 entries
      val unknown = names -- SparkEntry.queries.keySet - "sync_merge_events"
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }

    // gate stat is the MIN of n runs (steady-state cost, BASELINE.md's
    // comparison number); the MEDIAN rides along because round-over-round
    // sync-throughput swings (131–162k rows/s across r06–r10 with no code
    // change on the path) are indistinguishable from regressions without
    // a second, noise-damped statistic to cross-check against
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // per-twin reclaim evidence for the compact line (r14 verdict #1: a
    // twin-time regression in the driver's artifact is adjudicable only
    // if the artifact shows what residue each twin ran against and that
    // the reclaim fired — the pagerank_releases treatment)
    val twinReclaims =
      scala.collection.mutable.ArrayBuffer.empty[(String, HarnessState.ReclaimStats)]
    val resultsFull = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to runsFor(name)).map { _ =>
        time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }.filter(_ >= 0)
      // see HarnessState: drop replay sink views, unload state-store
      // providers, GC under cached-block pressure — late entries must not
      // run against a storage-full session
      val st = HarnessState.reclaim(spark)
      if (name.endsWith("_replay"))
        twinReclaims += name.takeWhile(_ != '_') -> st
      name -> (if (times.isEmpty) (-1.0, -1.0)
               else (times.min, median(times)))
    }
    val results = resultsFull.map { case (n, (mn, _)) => n -> mn }

    // Probe-only ANN timings: the e2b/e2d gate queries pay for their exact
    // brute-force twin + recall agg by construction, which hides the
    // index's steady-state win. Build each index once OUTSIDE the timed
    // region, then time the bare probe — the per-query cost a resident
    // service pays.
    val probeResults = if (only.isDefined) Seq.empty else try {
      import org.apache.spark.sql.functions.col
      val emb = graft.core.Tables.embeddings(spark, sfDir)
      val query = emb.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0)
      val lshDir = graft.ext.Similarity.ensureLshIndex(emb, "vec_id", "embedding",
        dim = 64, nPlanes = 8)
      val ivfDir = graft.ext.Similarity.ensureIvfIndex(emb, "vec_id", "embedding")
      def probeTime(f: => org.apache.spark.sql.DataFrame): (Double, Double) = {
        val ts = (1 to runs).map { _ =>
          time(f.write.format("noop").mode("overwrite").save())
        }.filter(_ >= 0)
        if (ts.isEmpty) (-1.0, -1.0) else (ts.min, median(ts))
      }
      val ivfqDir = graft.ext.Similarity.ensureIvfIndexQuantized(
        emb, "vec_id", "embedding")
      val lshqDir = graft.ext.Similarity.ensureLshIndexQuantized(
        emb, "vec_id", "embedding", dim = 64, nPlanes = 8)
      Seq(
        "e2b_ann_probe_only" -> probeTime(
          graft.ext.Similarity.annProbe(spark, lshDir, "vec_id", "embedding",
            query, 10, dim = 64, nPlanes = 8, probeHamming = 3)),
        "e2d_ivf_probe_only" -> probeTime(
          graft.ext.Similarity.ivfProbe(spark, ivfDir, "vec_id", "embedding",
            query, 10, nProbe = 6)),
        "e2k_ivfq_probe_only" -> probeTime(
          graft.ext.Similarity.ivfProbeQuantized(spark, ivfqDir, "vec_id",
            query, 10, nProbe = 6)),
        "e2l_lshq_probe_only" -> probeTime(
          graft.ext.Similarity.annProbeQuantized(spark, lshqDir, "vec_id",
            query, 10, dim = 64, nPlanes = 8, probeHamming = 3)))
    } catch { case scala.util.control.NonFatal(_) =>
      Seq("e2b_ann_probe_only", "e2d_ivf_probe_only",
        "e2k_ivfq_probe_only", "e2l_lshq_probe_only")
        .map(_ -> ((-1.0, -1.0))) }

    // end-to-end sync-merge throughput on the events twin-table fixture
    // (BASELINE.md comparable (a)): cold-start full sync, fresh dest per
    // run, min wall-clock across runs.
    var syncRows = 0L
    // the sync e2e (and its events scan for maxTs) is skipped under the
    // local-iteration filter unless named explicitly
    val syncTimes = if (only.exists(!_.contains("sync_merge_events")))
      Seq.empty[Double]
    else {
      val events = graft.core.Tables.events(spark, sfDir)
      // canonical epoch-micros whatever the fixture's physical ts type
      // (ns-Long or TIMESTAMP_NTZ generations — core.Watermark)
      val maxTs = graft.core.Watermark.toMicros(
        events.agg(org.apache.spark.sql.functions.max("ts")).first().get(0)).get
      (1 to runs).map { _ =>
        val syncDest = java.nio.file.Files
          .createTempDirectory("bench-sync").toString + "/dest"
        time {
          val r = new graft.sync.SyncJob(spark,
            graft.sync.SyncConfig(Seq("event_id"), "ts"))
            .run(events, syncDest, maxTs)
          syncRows = r.candidateRows
        }
      }.filter(_ >= 0)
    }
    val syncSec = if (syncTimes.isEmpty) -1.0 else syncTimes.min
    val syncRps = if (syncSec > 0) syncRows / syncSec else 0.0
    val syncMedian = if (syncTimes.isEmpty) -1.0 else median(syncTimes)
    val syncRpsMedian = if (syncMedian > 0) syncRows / syncMedian else 0.0

    val all = results ++ probeResults.map { case (n, (mn, _)) => n -> mn } :+
      ("sync_merge_events" -> syncSec)
    // medians mirror `queries` KEY-FOR-KEY (probe entries included) so the
    // min-vs-median noise cross-check never hits a missing key
    val medians = resultsFull.map { case (n, (_, md)) => n -> md } ++
      probeResults.map { case (n, (_, md)) => n -> md } :+
      ("sync_merge_events" -> syncMedian)
    // ms precision keeps the line short, and the headline metric/value
    // fields go LAST: the driver records only a bounded tail of stdout, so
    // with ~95 queries a front-loaded summary gets truncated away. The
    // per-query map is ordered fastest→slowest for the same reason: the
    // slowest queries — the ones worth reading — sit at the END of the map
    // where the tail-keep preserves them (failures, reported as -1, sort
    // after even those: a failure must never be truncated away).
    // Locale.ROOT: the default-locale f-interpolator would emit comma
    // decimal separators (invalid JSON) on non-English JVMs
    def r3(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(kvs: Seq[(String, Double)]): String = kvs
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val bySlowest = all.sortBy { case (_, v) =>
      if (v < 0) Double.MaxValue else v }
    val qs = jsonMap(bySlowest)
    val total = all.map(_._2).filter(_ >= 0).sum
    // the FULL record: every entry's gate min plus the per-entry medians
    // (gate number = min; median is the noise cross-check — BASELINE.md
    // "which stat is the gate" note). Persisted to BENCH_LINE.json, which
    // survives any stdout-tail truncation.
    val line = s"""{"queries":$qs,"queries_median":${jsonMap(medians)},""" +
      s""""warmup_entry":"$warmupEntry",""" +
      s""""sync_rows":$syncRows,"runs_per_query":$runs,""" +
      s""""sf":"$sfDir","sync_rows_per_sec":${syncRps.round},""" +
      s""""sync_rows_per_sec_median":${syncRpsMedian.round},""" +
      s""""gate_stat":"min","metric":"total","value":${r3(total)},""" +
      s""""unit":"sec"}"""
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LINE.json"), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH_LINE.json: $e") }
    spark.stop()
    // The very LAST stdout line is a COMPACT summary sized for the
    // driver's bounded (~2000-char) tail: the full line above is ~9 KB,
    // so nine rounds of BENCH_r*.json carried "parsed": null — the tail
    // kept the line's END but lost its HEAD. This one carries the
    // headline totals plus only the 15 slowest entries (the ones worth
    // reading; the full per-query map lives in BENCH_LINE.json).
    val slowest = bySlowest.takeRight(15)
    // medians for the same 15 slowest entries, IN THE TAIL LINE: the r13
    // verdict could not adjudicate the e9d min-regression without the
    // medians, which lived only in BENCH_LINE.json — carry the min/median
    // pair for every slow entry so noise (min≪median) and regression
    // (min AND median up) are distinguishable from the tail alone
    val medByName = medians.toMap
    val slowestMed = slowest.map { case (n, _) =>
      n -> medByName.getOrElse(n, -1.0) }
    // the probe broadcast guard's fallback count (expected 0 in-gate —
    // gate batches sit far under the bound; a nonzero here means a probe
    // shuffle-joined) and the checkpoint releases of PageRank and the
    // query layer (proof the eager unpersists fired in THIS run; a
    // growing missed count means frees regressed to GC timing)
    System.err.println(s"[bench] probe broadcast fallbacks=" +
      s"${graft.ext.ProbeBroadcast.fallbacks.get}" +
      s" checkpoint releases fired=" +
      s"${graft.core.Checkpoints.releasesFired.get}" +
      s" missed=${graft.core.Checkpoints.releasesMissed.get}")
    // per-twin reclaim evidence: loaded state-store providers each twin
    // LEFT BEHIND (unloaded at its reclaim — so the NEXT entry started
    // clean), memory-sink views dropped, cached bytes at reclaim. A twin
    // regression with providers piling up across this map is residue; one
    // with a flat map is machine/session band. -1 providers = the
    // reflective count degraded (Spark rename), not zero residue.
    val twinProviders = twinReclaims
      .map { case (k, st) => "\"" + k + "\":" + st.providersUnloaded }
      .mkString("{", ",", "}")
    val twinViews = twinReclaims.map(_._2.viewsDropped).sum
    val twinCachedMb = twinReclaims.map(_._2.cachedBytes).sum / (1 << 20)
    System.err.println(s"[bench] twin reclaim providers=$twinProviders" +
      s" views=$twinViews cachedMb=$twinCachedMb")
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""warmup_entry":"$warmupEntry",""" +
      s""""sf":"$sfDir","n_queries":${all.size},"runs_per_query":$runs,""" +
      s""""gate_stat":"min","sync_rows":$syncRows,""" +
      s""""sync_rows_per_sec":${syncRps.round},""" +
      s""""sync_rows_per_sec_median":${syncRpsMedian.round},""" +
      // field names kept for readers of the line; since PageRank releases
      // through Checkpoints they count every checkpoint release
      s""""pagerank_releases":${graft.core.Checkpoints.releasesFired.get},""" +
      s""""pagerank_release_misses":${graft.core.Checkpoints.releasesMissed.get},""" +
      s""""twin_reclaim_providers":$twinProviders,""" +
      s""""twin_sink_views_dropped":$twinViews,""" +
      s""""full_map":"BENCH_LINE.json","queries":${jsonMap(slowest)},""" +
      s""""queries_median":${jsonMap(slowestMed)}}"""
    if (compact.length > 1900)
      System.err.println(s"[bench] compact line is ${compact.length} chars" +
        " — trim the slowest-entries list before it outgrows the tail")
    println(compact)
  }
}
