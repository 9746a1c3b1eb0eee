package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.sources.JdbcSource
import graft.sync.{DestState, SyncConfig, SyncEndpoint, SyncPipeline}

/** End-to-end JDBC sync lifecycle — preflight (S6), PK reflection (S2),
  * create-dest (S3), partitioned range extract (S1), idempotent guarded
  * upsert (S4/S5), watermark recovery (T1), restart-marker healing — as a
  * SHARED spec body parameterized over the dialect, run against:
  *
  *   - embedded Derby ([[JdbcSyncSpec]]): always on, in the Spark jars, no
  *     network — exercises the generic guarded-update/insert-miss protocol;
  *   - live PostgreSQL ([[PostgresSyncSpec]]): env-gated on `GRAFT_PG_URL`
  *     (skips cleanly when unset — the CI sandbox is zero-egress) —
  *     exercises the native batched `INSERT ... ON CONFLICT DO UPDATE` fast
  *     path (reference session.py:135-151) that is otherwise covered only
  *     as SQL text in JdbcSpec.
  *
  * Dialect knobs: [[freshDb]] (empty namespace per test), [[ident]]
  * (catalog identifier folding — Derby upper, PG lower), [[doubleType]].
  */
trait JdbcSyncBehaviors { this: SparkSpec =>

  /** Fresh, empty database/namespace for `name`; returns its JDBC URL. */
  protected def freshDb(name: String): String

  /** How the catalog stores an unquoted identifier (case folding). */
  protected def ident(s: String): String = s

  protected def doubleType: String = "DOUBLE"

  /** False → every shared test is skipped (assume), e.g. no live PG. */
  protected def dbAvailable: Boolean = true

  /** Why this arm skips when [[dbAvailable]] is false. */
  protected def unavailableReason: String =
    "GRAFT_PG_URL not set — live-PostgreSQL arm skipped"

  private def skipUnlessAvailable(): Unit =
    assume(dbAvailable, unavailableReason)

  protected def exec(url: String, sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try { st.executeUpdate(sql); () } finally st.close()
    } finally conn.close()
  }

  protected def seedSource(url: String, rows: Seq[(Long, Long, Double, String)]): Unit = {
    exec(url, "CREATE TABLE SRC (ID BIGINT NOT NULL PRIMARY KEY, " +
      s"UPDATED BIGINT NOT NULL, AMOUNT $doubleType, STATUS VARCHAR(32))")
    insertRows(url, "SRC", rows)
  }

  protected def insertRows(url: String, table: String,
                         rows: Seq[(Long, Long, Double, String)]): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(
        s"INSERT INTO $table VALUES (?, ?, ?, ?)")
      try rows.foreach { case (id, wm, amt, st) =>
        ps.setLong(1, id); ps.setLong(2, wm)
        ps.setDouble(3, amt); ps.setString(4, st)
        ps.executeUpdate()
      } finally ps.close()
    } finally conn.close()
  }

  protected def updateRow(url: String, id: Long, wm: Long, amt: Double,
                        status: String): Unit =
    exec(url, s"UPDATE SRC SET UPDATED = $wm, AMOUNT = $amt, " +
      s"STATUS = '$status' WHERE ID = $id")

  protected def readTable(url: String, table: String): Map[Long, (Long, Double, String)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT ID, UPDATED, AMOUNT, STATUS FROM $table")
        try {
          val b = Map.newBuilder[Long, (Long, Double, String)]
          while (rs.next())
            b += rs.getLong(1) -> ((rs.getLong(2), rs.getDouble(3), rs.getString(4)))
          b.result()
        } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  protected def count(url: String, sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        try { assert(rs.next()); rs.getLong(1) } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** `table`'s `graft_sync_dest` row, read with plain SQL. */
  protected def stateRow(url: String, table: String): Option[DestState] = {
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement("SELECT restart_wm, applied_wm, params " +
        "FROM graft_sync_dest WHERE table_name = ?")
      try {
        ps.setString(1, table)
        val rs = ps.executeQuery()
        try {
          if (!rs.next()) None
          else Some(DestState(graft.core.Watermark.toMicros(rs.getObject(1)),
            graft.core.Watermark.toMicros(rs.getObject(2)),
            Option(rs.getString(3))))
        } finally rs.close()
      } finally ps.close()
    } finally conn.close()
  }

  protected val cfg = SyncConfig(keyCols = Seq("ID"), watermarkCol = "UPDATED")

  protected val cfgT: SyncConfig = cfg.copy(tombstoneCol = Some("DEL"))

  /** (Re)write the parquet source at `dir` with tombstone column `tombCol`. */
  protected def writeTombSrc(dir: String,
                             rows: Seq[(Long, Long, java.lang.Double, String, Boolean)],
                             tombCol: String = "DEL"): Unit = {
    import spark.implicits._
    rows.toDF("ID", "UPDATED", "AMOUNT", "STATUS", tombCol)
      .write.mode("overwrite").parquet(dir)
  }

  /** Registers the shared spec body. Called from each arm's constructor —
    * explicitly, so an arm whose database can NEVER be present in this
    * environment (live PG in the zero-egress sandbox) can register one
    * canceled marker instead of nine canceled twins of tests that are
    * already green under Derby and DuckDB. */
  protected final def sharedSyncTests(): Unit = {

  test("jdbc→jdbc: cold start reflects PK, creates dest, syncs all rows") {
    skipUnlessAvailable()
    val url = freshDb("cold")
    seedSource(url, Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")))
    val src = SyncEndpoint.parse(s"$url#SRC")
    val dst = SyncEndpoint.parse(s"$url#DST")
    // S2: the reflected PK matches the declared one (catalog-folded case)
    assert(new JdbcSource(url, new java.util.Properties())
      .primaryKey(ident("SRC")).map(_.toUpperCase) == Seq("ID"))
    val r = SyncPipeline.run(spark, cfg, src, dst)
    assert(r.startingPoint.contains(100L)) // T1 cold start = src MIN
    assert(r.candidateRows == 2 && r.rowsWritten == 2)
    assert(readTable(url, "DST") ==
      Map(1L -> ((100L, 1.0, "A")), 2L -> ((200L, 2.0, "B"))))
  }

  test("jdbc→jdbc: warm incremental picks up only new/changed rows; stale replays blocked") {
    skipUnlessAvailable()
    val url = freshDb("warm")
    seedSource(url, Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")))
    val src = SyncEndpoint.parse(s"$url#SRC")
    val dst = SyncEndpoint.parse(s"$url#DST")
    SyncPipeline.run(spark, cfg, src, dst)
    // row 1 modified (wm bumped), row 3 inserted
    updateRow(url, 1L, 600L, 11.0, "A2")
    insertRows(url, "SRC", Seq((3L, 700L, 3.0, "C")))
    val r2 = SyncPipeline.run(spark, cfg, src, dst)
    assert(r2.startingPoint.contains(200L)) // T1 = MAX(dest)
    assert(readTable(url, "DST") == Map(
      1L -> ((600L, 11.0, "A2")), 2L -> ((200L, 2.0, "B")),
      3L -> ((700L, 3.0, "C"))))
    // ordering guard: replaying an older row regresses nothing
    import spark.implicits._
    val stale = Seq((1L, 300L, 99.0, "STALE"))
      .toDF("ID", "UPDATED", "AMOUNT", "STATUS")
    graft.sinks.JdbcUpsertSink.write(stale, url, new java.util.Properties(),
      "DST", Seq("ID"), "UPDATED")
    assert(readTable(url, "DST")(1L) == ((600L, 11.0, "A2")))
  }

  test("jdbc→jdbc: T3 re-run of the same cut is a no-op (idempotent upsert)") {
    skipUnlessAvailable()
    val url = freshDb("idem")
    seedSource(url, Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")))
    val src = SyncEndpoint.parse(s"$url#SRC")
    val dst = SyncEndpoint.parse(s"$url#DST")
    SyncPipeline.run(spark, cfg, src, dst, cut = Some(500L))
    val before = readTable(url, "DST")
    val r2 = SyncPipeline.run(spark, cfg, src, dst, cut = Some(500L))
    assert(r2.candidateRows >= 1) // watermark ties re-extracted (T3)
    assert(readTable(url, "DST") == before)
  }

  test("jdbc→jdbc: surviving restart marker forces re-extraction below dest MAX") {
    skipUnlessAvailable()
    val url = freshDb("marker")
    seedSource(url, Seq((1L, 100L, 1.0, "A"), (2L, 500L, 2.0, "B")))
    val src = SyncEndpoint.parse(s"$url#SRC")
    val dst = SyncEndpoint.parse(s"$url#DST")
    SyncPipeline.run(spark, cfg, src, dst)
    // simulate a crashed run that had started from wm=100: marker survives
    exec(url, "UPDATE graft_sync_dest SET restart_wm = 100 " +
      "WHERE table_name = 'DST'")
    assert(stateRow(url, "DST").flatMap(_.restartWm).contains(100L))
    // row 1 changed with wm 150 < dest MAX 500 — lost without the marker
    updateRow(url, 1L, 150L, 9.0, "RECOVERED")
    val r = SyncPipeline.run(spark, cfg, src, dst)
    assert(r.startingPoint.contains(100L)) // min(dest MAX, marker)
    assert(readTable(url, "DST")(1L) == ((150L, 9.0, "RECOVERED")))
    // successful run cleared the marker
    assert(stateRow(url, "DST").exists(_.restartWm.isEmpty))
  }

  test("jdbc→jdbc: a cut below the destination MAX skips the run and keeps a surviving restart marker") {
    skipUnlessAvailable()
    val url = freshDb("lowcut")
    seedSource(url, Seq((1L, 100L, 1.0, "A"), (2L, 500L, 2.0, "B")))
    val src = SyncEndpoint.parse(s"$url#SRC")
    val dst = SyncEndpoint.parse(s"$url#DST")
    SyncPipeline.run(spark, cfg, src, dst)
    exec(url, "UPDATE graft_sync_dest SET restart_wm = 100 " +
      "WHERE table_name = 'DST'")
    // row 1 changed with wm 150 < dest MAX 500 — lost if the marker goes
    updateRow(url, 1L, 150L, 9.0, "RECOVERED")
    // below the marker (start > cut), then between marker and dest MAX:
    // either run would replay the interrupted batch at most in part
    Seq(50L, 120L).foreach { c =>
      val r = SyncPipeline.run(spark, cfg, src, dst, cut = Some(c))
      assert(r.startingPoint.contains(100L) && r.snapshotCut == c &&
        r.candidateRows == 0L && r.rowsWritten == 0L, s"cut $c: $r")
      assert(stateRow(url, "DST").flatMap(_.restartWm).contains(100L),
        s"cut $c cleared the restart marker")
    }
    val r = SyncPipeline.run(spark, cfg, src, dst)
    assert(r.startingPoint.contains(100L), s"$r")
    assert(readTable(url, "DST")(1L) == ((150L, 9.0, "RECOVERED")))
    assert(stateRow(url, "DST").exists(_.restartWm.isEmpty))
  }

  test("all four endpoint pairs agree over one source history; continuous polls one pair") {
    skipUnlessAvailable()
    val url = freshDb("pairs")
    val dir = tmpDir("jdbc-pairs")
    val srcDir = dir + "/src"
    var rows = Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"))
    seedSource(url, Nil)
    // the parquet source and the JDBC source hold the same rows
    def writeSources(): Unit = {
      import spark.implicits._
      rows.toDF("ID", "UPDATED", "AMOUNT", "STATUS")
        .write.mode("overwrite").parquet(srcDir)
      exec(url, "DELETE FROM SRC")
      insertRows(url, "SRC", rows)
    }
    val pqSrc = SyncEndpoint.ParquetDir(srcDir)
    val jdbcSrc = SyncEndpoint.parse(s"$url#SRC")
    val pairs = Seq(
      "parquet→parquet" -> (pqSrc -> SyncEndpoint.ParquetDir(dir + "/pp")),
      "parquet→jdbc" -> (pqSrc -> SyncEndpoint.parse(s"$url#PJ")),
      "jdbc→parquet" -> (jdbcSrc -> SyncEndpoint.ParquetDir(dir + "/jp")),
      "jdbc→jdbc" -> (jdbcSrc -> SyncEndpoint.parse(s"$url#JJ")))
    def readDest(d: SyncEndpoint): Map[Long, (Long, Double, String)] = d match {
      case SyncEndpoint.ParquetDir(p) =>
        // as longs/doubles: the JDBC schema's numeric box differs by driver
        spark.read.parquet(p).select("ID", "UPDATED", "AMOUNT", "STATUS")
          .collect().map(r => r.getAs[Number](0).longValue ->
            ((r.getAs[Number](1).longValue, r.getAs[Number](2).doubleValue,
              r.getString(3)))).toMap
      case SyncEndpoint.JdbcTable(u, t, _) => readTable(u, t)
    }
    // every pair's (start, cut, rows extracted), and every destination
    // equal to the source's last-writer-wins state
    def step(label: String, want: (Option[Long], Long, Long)): Unit = {
      writeSources()
      val seen = pairs.map { case (name, (s, d)) =>
        val r = SyncPipeline.run(spark, cfg, s, d)
        name -> ((r.startingPoint, r.snapshotCut, r.candidateRows))
      }
      assert(seen.forall(_._2 == want), s"$label: $seen")
      val lww = rows.map { case (id, wm, amt, st) => id -> ((wm, amt, st)) }.toMap
      pairs.foreach { case (name, (_, d)) =>
        assert(readDest(d) == lww, s"$label: $name")
      }
    }
    step("cold", (Some(100L), 200L, 2L))
    // row 2's payload changes on its tied watermark; row 3 is new
    rows = Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.5, "B2"), (3L, 300L, 3.0, "C"))
    step("delta", (Some(200L), 300L, 2L))
    step("idle", (Some(300L), 300L, 1L))

    rows = rows :+ ((4L, 400L, 4.0, "D"))
    writeSources()
    val (s, d) = pairs.head._2
    val polls = SyncPipeline.continuous(spark, cfg, s, d, maxIterations = 2,
      sleep = _ => ())
    assert(polls.map(r => (r.startingPoint, r.snapshotCut, r.candidateRows)) ==
      Seq((Some(300L), 400L, 2L), (Some(400L), 400L, 1L)), s"$polls")
    assert(polls.last.rowsWritten == 0L, s"$polls")
    assert(readDest(d) == rows.map { case (id, wm, amt, st) =>
      id -> ((wm, amt, st)) }.toMap)
  }

  test("jdbc dest with only the pre-record state tables: restart honoured, record written, old rows gone") {
    skipUnlessAvailable()
    val url = freshDb("legacy")
    val dir = tmpDir("jdbc-legacy") + "/src"
    writeTombSrc(dir, Seq((1L, 100L, 1.0, "A", false), (2L, 500L, 2.0, "B", false)))
    val src = SyncEndpoint.ParquetDir(dir)
    val dst = SyncEndpoint.parse(s"$url#LEGDST")
    SyncPipeline.run(spark, cfgT, src, dst)
    // the layout an earlier version left: no record, three state tables —
    // a crashed run's marker at 100, an applied bound, the tombstone stamp
    exec(url, "DELETE FROM graft_sync_dest")
    exec(url, "CREATE TABLE graft_sync_state (table_name VARCHAR(128) " +
      "NOT NULL PRIMARY KEY, restart_wm BIGINT)")
    exec(url, "CREATE TABLE graft_sync_applied (table_name VARCHAR(128) " +
      "NOT NULL PRIMARY KEY, applied_wm BIGINT)")
    exec(url, "CREATE TABLE graft_sync_params (table_name VARCHAR(128) " +
      "NOT NULL PRIMARY KEY, params VARCHAR(256))")
    exec(url, "INSERT INTO graft_sync_state VALUES ('LEGDST', 100)")
    exec(url, "INSERT INTO graft_sync_applied VALUES ('LEGDST', 300)")
    exec(url, "INSERT INTO graft_sync_params VALUES ('LEGDST', 'tomb=DEL')")
    // another destination's old row is not this migration's to drop
    exec(url, "INSERT INTO graft_sync_state VALUES ('OTHER', 7)")
    // row 1 changed with wm 150 < dest MAX 500 — lost without the marker
    writeTombSrc(dir, Seq((1L, 150L, 9.0, "RECOVERED", false),
      (2L, 500L, 2.0, "B", false)))
    val r = SyncPipeline.run(spark, cfgT, src, dst)
    // min(max(dest MAX 500, applied 300), marker 100)
    assert(r.startingPoint.contains(100L), s"$r")
    assert(readTable(url, "LEGDST") ==
      Map(1L -> ((150L, 9.0, "RECOVERED")), 2L -> ((500L, 2.0, "B"))))
    assert(stateRow(url, "LEGDST").contains(
      DestState(None, Some(500L), Some("tomb=DEL"))))
    Seq("graft_sync_state", "graft_sync_applied", "graft_sync_params")
      .foreach { t =>
        assert(count(url, s"SELECT COUNT(*) FROM $t " +
          "WHERE table_name = 'LEGDST'") == 0L, s"$t row survived")
      }
    assert(count(url, "SELECT COUNT(*) FROM graft_sync_state") == 1L)
    // the stamp still binds: a blind run refuses
    val e = intercept[graft.core.GraftError.InvalidConfig](
      SyncPipeline.run(spark, cfg, src, dst))
    assert(e.getMessage.contains("WITH tombstones"))
  }

  test("parquet→jdbc tombstones: the applied bound is the source MAX, not a far cut") {
    skipUnlessAvailable()
    val url = freshDb("farcut")
    val dir = tmpDir("jdbc-farcut") + "/src"
    writeTombSrc(dir, Seq((1L, 100L, 1.0, "A", false), (2L, 200L, 2.0, "B", false)))
    val src = SyncEndpoint.ParquetDir(dir)
    val dst = SyncEndpoint.parse(s"$url#FARDST")
    SyncPipeline.run(spark, cfgT, src, dst, cut = Some(10000L))
    assert(stateRow(url, "FARDST").flatMap(_.appliedWm).contains(200L))
    // a row that lands after that run, above the source MAX but below
    // the cut: the next run must extract it
    writeTombSrc(dir, Seq((1L, 100L, 1.0, "A", false), (2L, 200L, 2.0, "B", false),
      (3L, 500L, 3.0, "C", false)))
    SyncPipeline.run(spark, cfgT, src, dst, cut = Some(10000L))
    assert(readTable(url, "FARDST") == Map(1L -> ((100L, 1.0, "A")),
      2L -> ((200L, 2.0, "B")), 3L -> ((500L, 3.0, "C"))))
  }

  test("parquet→jdbc tombstones: a dropped destination re-syncs under a new tombstone column") {
    skipUnlessAvailable()
    val url = freshDb("restamp")
    val dirA = tmpDir("jdbc-restamp-a") + "/src"
    writeTombSrc(dirA, Seq((1L, 100L, 1.0, "A", false), (2L, 200L, 2.0, "B", false)))
    val dst = SyncEndpoint.parse(s"$url#RESTAMP")
    SyncPipeline.run(spark, cfgT, SyncEndpoint.ParquetDir(dirA), dst)
    exec(url, "DROP TABLE RESTAMP")
    // the record still says tomb=DEL; an empty destination adopts the
    // new run's column, as a parquet destination does
    val dirB = tmpDir("jdbc-restamp-b") + "/src"
    writeTombSrc(dirB, Seq((1L, 100L, 1.0, "A", false), (2L, 200L, 2.0, "B", false),
      (2L, 300L, null, null, true)), tombCol = "GONE")
    SyncPipeline.run(spark, cfg.copy(tombstoneCol = Some("GONE")),
      SyncEndpoint.ParquetDir(dirB), dst)
    assert(readTable(url, "RESTAMP") == Map(1L -> ((100L, 1.0, "A"))))
    assert(stateRow(url, "RESTAMP").flatMap(_.params).contains("tomb=GONE"))
  }

  test("parquet→jdbc tombstones: deletes issue DELETEs, setting is frozen in graft_sync_params") {
    skipUnlessAvailable()
    val url = freshDb("tomb")
    import spark.implicits._
    val dir = tmpDir("jdbc-tomb") + "/src"
    def writeSrc(rows: Seq[(Long, Long, java.lang.Double, String, Boolean)]): Unit =
      rows.toDF("ID", "UPDATED", "AMOUNT", "STATUS", "DEL")
        .write.mode("overwrite").parquet(dir)
    writeSrc(Seq(
      (1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false)))
    val src = SyncEndpoint.ParquetDir(dir)
    val dst = SyncEndpoint.parse(s"$url#TOMBDST")
    SyncPipeline.run(spark, cfgT, src, dst)
    // dest created WITHOUT the tombstone column
    assert(readTable(url, "TOMBDST") ==
      Map(1L -> ((100L, 1.0, "A")), 2L -> ((200L, 2.0, "B"))))
    // key 1 deleted payload-free, key 9 deleted though never synced
    writeSrc(Seq(
      (1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false),
      (1L, 600L, null, null, true),
      (9L, 650L, null, null, true)))
    SyncPipeline.run(spark, cfgT, src, dst)
    assert(readTable(url, "TOMBDST") == Map(2L -> ((200L, 2.0, "B"))))
    // idempotent: the re-extracted delete finds its key already gone —
    // and the record's applied watermark has advanced
    // the restart point past the fully-applied delete feed: dest MAX is
    // 200 but the feed ends at 650, so only the inclusive tie row
    // travels instead of the whole accumulated feed (r16 advice, the
    // parquet sidecar rule on the JDBC front)
    val r3 = SyncPipeline.run(spark, cfgT, src, dst)
    assert(readTable(url, "TOMBDST") == Map(2L -> ((200L, 2.0, "B"))))
    assert(r3.startingPoint.contains(650L),
      s"restart point did not clear the applied delete feed: $r3")
    assert(r3.candidateRows == 1L,
      s"re-poll re-extracted the applied delete feed: $r3")
    // delete-then-reinsert round-trips
    writeSrc(Seq(
      (1L, 100L, 1.0, "A", false),
      (2L, 200L, 2.0, "B", false),
      (1L, 600L, null, null, true),
      (9L, 650L, null, null, true),
      (1L, 800L, 11.0, "A2", false)))
    SyncPipeline.run(spark, cfgT, src, dst)
    assert(readTable(url, "TOMBDST") ==
      Map(1L -> ((800L, 11.0, "A2")), 2L -> ((200L, 2.0, "B"))))
    // a dropped-and-recreated dest must NOT inherit the stale applied
    // bound: the cold start owns the state family and re-extracts from
    // the source MIN
    exec(url, "DROP TABLE TOMBDST")
    val rCold = SyncPipeline.run(spark, cfgT, src, dst)
    assert(rCold.startingPoint.contains(100L),
      s"stale applied watermark survived the cold start: $rCold")
    assert(readTable(url, "TOMBDST") ==
      Map(1L -> ((800L, 11.0, "A2")), 2L -> ((200L, 2.0, "B"))))
    // the setting is FROZEN: a tombstone-blind re-run against the same
    // dest refuses rather than applying future markers as upserts
    val e = intercept[graft.core.GraftError.InvalidConfig](
      SyncPipeline.run(spark, cfg, src, dst))
    assert(e.getMessage.contains("WITH tombstones"))
    // and a populated blind dest refuses a tombstoned run
    val blindDir = tmpDir("jdbc-tomb-blind") + "/src"
    Seq((1L, 100L, 1.0, "A")).toDF("ID", "UPDATED", "AMOUNT", "STATUS")
      .write.parquet(blindDir)
    SyncPipeline.run(spark, cfg,
      SyncEndpoint.ParquetDir(blindDir), SyncEndpoint.parse(s"$url#BLINDDST"))
    val e2 = intercept[graft.core.GraftError.InvalidConfig](
      SyncPipeline.run(spark, cfgT, src, SyncEndpoint.parse(s"$url#BLINDDST")))
    assert(e2.getMessage.contains("tombstone-blind"))
  }

  test("parquet→jdbc tombstones: a NULL applied-watermark row is overwritten, never a raw PK violation") {
    skipUnlessAvailable()
    val url = freshDb("tombnull")
    import spark.implicits._
    val dir = tmpDir("jdbc-tomb-null") + "/src"
    Seq((1L, 100L, 1.0, "A", false), (2L, 200L, 2.0, "B", false))
      .toDF("ID", "UPDATED", "AMOUNT", "STATUS", "DEL").write.parquet(dir)
    val src = SyncEndpoint.ParquetDir(dir)
    val dst = SyncEndpoint.parse(s"$url#NULLDST")
    SyncPipeline.run(spark, cfgT, src, dst)
    // a NULL bound (a foreign writer, or a hand repair) reads as absent
    exec(url, "UPDATE graft_sync_dest SET applied_wm = NULL " +
      "WHERE table_name = 'NULLDST'")
    assert(stateRow(url, "NULLDST").exists(_.appliedWm.isEmpty))
    val r = SyncPipeline.run(spark, cfgT, src, dst)
    assert(r.snapshotCut == 200L, s"$r")
    assert(readTable(url, "NULLDST") ==
      Map(1L -> ((100L, 1.0, "A")), 2L -> ((200L, 2.0, "B"))))
    val recorded = stateRow(url, "NULLDST")
    assert(recorded.flatMap(_.appliedWm).contains(200L),
      s"applied bound not recorded: $recorded")
  }

  test("jdbc→parquet and parquet→jdbc arms round-trip") {
    skipUnlessAvailable()
    val url = freshDb("mixed")
    seedSource(url, Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B")))
    val dir = tmpDir("jdbc-pq") + "/dest"
    // jdbc → parquet
    val r1 = SyncPipeline.run(spark, cfg,
      SyncEndpoint.parse(s"$url#SRC"), SyncEndpoint.ParquetDir(dir))
    assert(r1.candidateRows == 2)
    val pq = spark.read.parquet(dir)
    assert(pq.count() == 2)
    // parquet → jdbc (new dest table, created from the parquet schema)
    val r2 = SyncPipeline.run(spark, cfg,
      SyncEndpoint.ParquetDir(dir), SyncEndpoint.parse(s"$url#ROUNDTRIP"))
    assert(r2.rowsWritten == 2)
    assert(readTable(url, "ROUNDTRIP") ==
      Map(1L -> ((100L, 1.0, "A")), 2L -> ((200L, 2.0, "B"))))
  }

  test("S1 partitioned read: slices match data") {
    skipUnlessAvailable()
    val url = freshDb("slices")
    seedSource(url, (1L to 100L).map(i => (i, i * 10L, i * 1.0, "X")))
    val df = new JdbcSource(url, new java.util.Properties())
      .rangeRead(spark, "SRC", "UPDATED", 200L, 800L,
        estimatedRows = 61L, targetRowsPerSlice = 20L)
    assert(df.rdd.getNumPartitions == 4) // ceil(61/20) slices
    assert(df.count() == 61)
    // compare as longs: the JDBC schema's numeric box differs by driver
    // (Derby BIGINT → Long, DuckDB's metadata maps through DECIMAL)
    assert(df.agg(min("UPDATED"), max("UPDATED")).first().toSeq
      .map(_.asInstanceOf[Number].longValue()) == Seq(200L, 800L))
  }

  test("source bounds and range count as plain statements match spark.read.jdbc of the same SQL") {
    skipUnlessAvailable()
    val url = freshDb("scalars")
    val props = new java.util.Properties()
    val src = new JdbcSource(url, props)
    exec(url, "CREATE TABLE NSRC (ID BIGINT NOT NULL PRIMARY KEY, " +
      "UPDATED BIGINT NOT NULL)")
    exec(url, "CREATE TABLE TSRC (ID BIGINT NOT NULL PRIMARY KEY, " +
      "UPDATED TIMESTAMP NOT NULL)")
    val dialect = graft.sinks.SqlDialect.forUrl(url)
    def tsLit(us: Long): String = dialect.timestampLiteral(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .format(java.time.LocalDateTime.ofInstant(java.time.Instant
          .ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
          java.time.ZoneOffset.UTC)))
    def sparkBounds(table: String): Option[JdbcSource.WatermarkBounds] =
      JdbcSource.WatermarkBounds.of(spark.read.jdbc(url,
        s"(SELECT MIN(UPDATED) AS lo, MAX(UPDATED) AS hi FROM $table) AS t",
        props).first())
    def sparkCount(table: String, lo: String, hi: String): Long =
      spark.read.jdbc(url, s"(SELECT COUNT(*) AS c FROM $table " +
        s"WHERE UPDATED >= $lo AND UPDATED <= $hi) AS t", props)
        .first().getAs[Number](0).longValue()
    // empty tables: no bounds, and a zero count, on both paths
    Seq("NSRC", "TSRC").foreach { t =>
      assert(src.watermarkBounds(spark, t, "UPDATED").isEmpty, t)
      assert(sparkBounds(t).isEmpty, t)
    }
    assert(src.countRange(spark, "NSRC", "UPDATED", 0L, 1000L) == 0L)
    exec(url, "INSERT INTO NSRC VALUES (1, 100), (2, 250), (3, 400)")
    val base = 1704067200000000L // 2024-01-01T00:00:00Z µs
    val ts = Seq(base + 100000000L, base + 250123456L, base + 400000000L)
    ts.zipWithIndex.foreach { case (us, i) =>
      exec(url, s"INSERT INTO TSRC VALUES (${i + 1}, ${tsLit(us)})")
    }
    val nb = src.watermarkBounds(spark, "NSRC", "UPDATED")
    assert(nb.contains(JdbcSource.WatermarkBounds(100L, 400L,
      timestampTyped = false)), s"$nb")
    assert(nb == sparkBounds("NSRC"))
    val tb = src.watermarkBounds(spark, "TSRC", "UPDATED")
    assert(tb.contains(JdbcSource.WatermarkBounds(ts.head, ts.last,
      timestampTyped = true)), s"$tb")
    assert(tb == sparkBounds("TSRC"))
    Seq((100L, 250L, 2L), (101L, 399L, 1L), (100L, 400L, 3L)).foreach {
      case (lo, hi, want) =>
        val n = src.countRange(spark, "NSRC", "UPDATED", lo, hi)
        assert(n == want && n == sparkCount("NSRC", lo.toString, hi.toString),
          s"[$lo, $hi]: $n")
    }
    Seq((ts(0), ts(1), 2L), (ts(1), ts(1), 1L), (ts(1) + 1L, ts(2), 1L))
      .foreach { case (lo, hi, want) =>
        val n = src.countRange(spark, "TSRC", "UPDATED", lo, hi,
          timestampTyped = true)
        assert(n == want && n == sparkCount("TSRC", tsLit(lo), tsLit(hi)),
          s"[$lo, $hi]: $n")
      }
  }

  test("upsert returns the post-dedup row count, stale replays included") {
    skipUnlessAvailable()
    val url = freshDb("applied")
    exec(url, "CREATE TABLE APPLIED (ID BIGINT NOT NULL PRIMARY KEY, " +
      s"UPDATED BIGINT NOT NULL, AMOUNT $doubleType, STATUS VARCHAR(32))")
    import spark.implicits._
    def upsert(rows: Seq[(Long, Long, Double, String)]): Long =
      graft.sinks.JdbcUpsertSink.write(
        rows.toDF("ID", "UPDATED", "AMOUNT", "STATUS"), url,
        new java.util.Properties(), "APPLIED", Seq("ID"), "UPDATED")
    // three rows over two keys: one winner per key is applied
    assert(upsert(Seq((1L, 100L, 1.0, "A"), (1L, 150L, 1.5, "A2"),
      (2L, 200L, 2.0, "B"))) == 2L)
    assert(readTable(url, "APPLIED") ==
      Map(1L -> ((150L, 1.5, "A2")), 2L -> ((200L, 2.0, "B"))))
    assert(upsert(Nil) == 0L)
    // the ordering guard blocks a stale replay, and it still counts: the
    // count is the deduped batch the upsert applied, not rows changed
    assert(upsert(Seq((1L, 120L, 9.0, "STALE"), (3L, 300L, 3.0, "C"))) == 2L)
    assert(readTable(url, "APPLIED") == Map(1L -> ((150L, 1.5, "A2")),
      2L -> ((200L, 2.0, "B")), 3L -> ((300L, 3.0, "C"))))
    // one write task per shuffle partition, even for a batch this small:
    // AQE does not coalesce the key shuffle away from parallel writers
    val normalized = graft.sinks.JdbcUpsertSink.normalize(
      Seq((1L, 100L, 1.0, "A")).toDF("ID", "UPDATED", "AMOUNT", "STATUS"),
      Seq("ID"), "UPDATED")
    assert(normalized.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("S6 preflight: typed errors for missing table") {
    skipUnlessAvailable()
    val url = freshDb("errors")
    exec(url, "CREATE TABLE T (ID BIGINT NOT NULL PRIMARY KEY)")
    val src = new JdbcSource(url, new java.util.Properties())
    src.preflight(ident("T"))
    assertThrows[graft.core.GraftError.MissingTable](src.preflight("NOPE"))
    // '_' is a single-char wildcard in the JDBC metadata PATTERN: a lone
    // SYNCXDEST must NOT satisfy preflight("sync_dest") — the exact-name
    // recheck has to reject the wildcard match and throw TYPED here, not
    // let the caller die later on a raw SQLException
    exec(url, "CREATE TABLE SYNCXDEST (ID BIGINT NOT NULL PRIMARY KEY)")
    assertThrows[graft.core.GraftError.MissingTable](
      src.preflight(ident("sync_dest")))
    exec(url, "CREATE TABLE SYNC_DEST (ID BIGINT NOT NULL PRIMARY KEY)")
    src.preflight(ident("sync_dest"))
  }

  test("S3 ensureTable: schema drift against an existing dest fails TYPED") {
    skipUnlessAvailable()
    val url = freshDb("drift")
    exec(url, "CREATE TABLE D (ID BIGINT NOT NULL PRIMARY KEY, " +
      "UPDATED BIGINT NOT NULL)")
    import org.apache.spark.sql.types._
    val widened = StructType(Seq(StructField("id", LongType),
      StructField("updated", LongType), StructField("region", StringType)))
    val eAdd = intercept[graft.core.GraftError.SchemaDrift] {
      graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
        ident("D"), widened, Seq("id"))
    }
    assert(eAdd.getMessage.contains("region"))
    val narrowed = StructType(Seq(StructField("id", LongType)))
    val eDrop = intercept[graft.core.GraftError.SchemaDrift] {
      graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
        ident("D"), narrowed, Seq("id"))
    }
    assert(eDrop.getMessage.toLowerCase.contains("updated"))
    // matching schema (any case) passes untouched
    val same = StructType(Seq(StructField("id", LongType),
      StructField("updated", LongType)))
    graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
      ident("D"), same, Seq("id"))
  }

  test("upsert: non-duplicate integrity violations propagate, never silently drop rows") {
    skipUnlessAvailable()
    val url = freshDb("nnviol")
    exec(url, "CREATE TABLE NN (ID BIGINT NOT NULL PRIMARY KEY, " +
      s"UPDATED BIGINT NOT NULL, AMOUNT $doubleType NOT NULL)")
    import spark.implicits._
    val df = Seq((1L, 100L, Some(1.0)), (2L, 200L, Option.empty[Double]))
      .toDF("ID", "UPDATED", "AMOUNT")
    // row 2 violates NOT NULL (SQLState 23502) — a real data error, which
    // must fail the sync; only duplicate-key 23505 (the ordering guard's
    // legitimate stale-replay signal) is ever swallowed
    assertThrows[org.apache.spark.SparkException](
      graft.sinks.JdbcUpsertSink.write(df, url, new java.util.Properties(),
        "NN", Seq("ID"), "UPDATED"))
  }

  test("S3 drift guard: same-named drifted twin in ANOTHER schema raises no phantom drift") {
    skipUnlessAvailable()
    // the reference resolves the dest against the session's search_path
    // (session.py:184-197); the guard's analog is scoping getColumns rows
    // to the connection's current schema. A backup-schema twin with an
    // extra column must NOT poison the comparison — an unscoped metadata
    // scan unions its columns in and raises phantom drift on every poll.
    val url = freshDb("scopeok")
    exec(url, "CREATE TABLE SD (ID BIGINT NOT NULL PRIMARY KEY, " +
      "UPDATED BIGINT NOT NULL)")
    exec(url, s"CREATE SCHEMA ${ident("graftbackup")}")
    exec(url, s"CREATE TABLE ${ident("graftbackup")}.SD " +
      "(ID BIGINT NOT NULL PRIMARY KEY, UPDATED BIGINT NOT NULL, " +
      "EXTRA BIGINT)")
    import org.apache.spark.sql.types._
    val same = StructType(Seq(StructField("id", LongType),
      StructField("updated", LongType)))
    // must pass: the current-schema table matches; the twin's EXTRA column
    // sits in graftbackup and is out of scope
    graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
      ident("SD"), same, Seq("id"))
    // and REAL drift on the current-schema table still fires
    val widened = StructType(same.fields :+ StructField("region", StringType))
    val e = intercept[graft.core.GraftError.SchemaDrift] {
      graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
        ident("SD"), widened, Seq("id"))
    }
    assert(e.getMessage.contains("region"))
  }

  test("S3 drift guard: dest only in a NON-current schema falls back to name-only scoping") {
    skipUnlessAvailable()
    // PG search_path can resolve the dest to a schema other than
    // current_schema ("$user",public with the dest in public): the scoped
    // metadata pass finds nothing there, and the guard must fall back to
    // name-only matching rather than silently skip the drift check.
    val url = freshDb("scopefb")
    exec(url, s"CREATE SCHEMA ${ident("graftother")}")
    exec(url, s"CREATE TABLE ${ident("graftother")}.FB " +
      "(ID BIGINT NOT NULL PRIMARY KEY, UPDATED BIGINT NOT NULL)")
    import org.apache.spark.sql.types._
    val same = StructType(Seq(StructField("id", LongType),
      StructField("updated", LongType)))
    graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
      ident("FB"), same, Seq("id"))
    val narrowed = StructType(Seq(StructField("id", LongType)))
    val e = intercept[graft.core.GraftError.SchemaDrift] {
      graft.sinks.JdbcUpsertSink.ensureTable(url, new java.util.Properties(),
        ident("FB"), narrowed, Seq("id"))
    }
    assert(e.getMessage.toLowerCase.contains("updated"))
  }

  test("jdbc→parquet with a TIMESTAMP watermark column: cold, warm, idempotent") {
    skipUnlessAvailable()
    // The server-side column is a genuine SQL TIMESTAMP; bounds travel as
    // canonical epoch-µs and re-materialize as ANSI TIMESTAMP literals in
    // the extraction SQL / partitioned-read bounds (JdbcSource.wmSqlLiteral
    // + rangeReadOptions timestampTyped). UTC wall-clock both sides.
    val url = freshDb("tswm")
    exec(url, "CREATE TABLE TSRC (ID BIGINT NOT NULL PRIMARY KEY, " +
      s"UPDATED TIMESTAMP NOT NULL, AMOUNT $doubleType)")
    def insertTs(rows: Seq[(Long, Long, Double)]): Unit =
      // plain-SQL literals through the dialect renderer: driver support
      // for timestamp bind parameters varies (DuckDB rejects the Calendar
      // overload, Derby rejects setObject(LocalDateTime)); literal text is
      // the one lane every arm parses
      rows.foreach { case (id, us, amt) =>
        val wall = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
          .format(java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochSecond(us / 1000000L,
              (us % 1000000L) * 1000L), java.time.ZoneOffset.UTC))
        val lit = graft.sinks.SqlDialect.forUrl(url).timestampLiteral(wall)
        exec(url, s"INSERT INTO TSRC VALUES ($id, $lit, $amt)")
      }
    val base = 1704067200000000L // 2024-01-01T00:00:00Z µs
    insertTs(Seq((1L, base + 100000000L, 1.0), (2L, base + 200000000L, 2.0)))
    val tcfg = SyncConfig(keyCols = Seq("ID"), watermarkCol = "UPDATED")
    val src = SyncEndpoint.parse(s"$url#TSRC")
    val destDir = tmpDir("jdbc-tswm") + "/dest"
    val dst = SyncEndpoint.parse(destDir)
    val r = SyncPipeline.run(spark, tcfg, src, dst)
    assert(r.startingPoint.contains(base + 100000000L)) // canonical µs
    assert(r.candidateRows == 2)
    assert(spark.read.parquet(destDir).count() == 2)
    // warm: bump row 1, insert row 3 — only those extract
    exec(url, s"DELETE FROM TSRC WHERE ID = 1")
    insertTs(Seq((1L, base + 600000000L, 11.0), (3L, base + 700000000L, 3.0)))
    val r2 = SyncPipeline.run(spark, tcfg, src, dst)
    assert(r2.startingPoint.contains(base + 200000000L)) // MAX(dest) µs
    val dest = spark.read.parquet(destDir)
    assert(dest.count() == 3)
    val row1 = dest.filter(col("ID") === 1L).select("AMOUNT").first().getDouble(0)
    assert(row1 == 11.0)
    // idempotent re-run: nothing regresses
    val r3 = SyncPipeline.run(spark, tcfg, src, dst)
    assert(spark.read.parquet(destDir).count() == 3)
    assert(r3.candidateRows >= 1) // inclusive tie re-read
  }
  }
}

/** Derby arm — always on (embedded, in the Spark jars). Derby folds
  * unquoted identifiers to UPPER case, hence the upper-case fixtures. */
class JdbcSyncSpec extends SparkSpec with JdbcSyncBehaviors {

  override protected def freshDb(name: String): String =
    s"jdbc:derby:memory:$name;create=true"

  override protected def ident(s: String): String = s.toUpperCase

  sharedSyncTests()

  /** Runs `n` copies of `body` released together; every outcome. */
  private def race[A](n: Int)(body: => A): Seq[scala.util.Try[A]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val go = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (1 to n).map(_ => pool.submit(
        new java.util.concurrent.Callable[scala.util.Try[A]] {
          def call(): scala.util.Try[A] = { go.await(); scala.util.Try(body) }
        }))
      go.countDown()
      futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally { pool.shutdownNow(); () }
  }

  test("state record: concurrent first opens of one destination all return, one row") {
    val url = freshDb("ensurerow")
    val outcomes = race(6) {
      val conn = DriverManager.getConnection(url)
      try DestState.jdbc(conn, "RACEDST").open(None, populated = false)
      finally conn.close()
    }
    assert(outcomes.forall(_.toOption.contains(DestState.Empty)), s"$outcomes")
    assert(count(url, "SELECT COUNT(*) FROM graft_sync_dest") == 1L)
  }

  test("two concurrent tombstoned syncs into one destination converge or fail typed") {
    val url = freshDb("concurrent")
    val dir = tmpDir("jdbc-concurrent") + "/src"
    val seed = (1L to 20L).map(i => (i, i * 10L, java.lang.Double.valueOf(i.toDouble),
      s"S$i", false))
    writeTombSrc(dir, seed)
    val src = SyncEndpoint.ParquetDir(dir)
    val dst = SyncEndpoint.parse(s"$url#RACESYNC")
    SyncPipeline.run(spark, cfgT, src, dst)
    // new keys, updates of old ones, and deletes, for both runs at once
    val batch = seed ++ (21L to 40L).map(i =>
      (i, i * 10L, java.lang.Double.valueOf(i.toDouble), s"S$i", false)) ++
      (1L to 20L by 3).map(i => (i, 500L + i, java.lang.Double.valueOf(-1.0),
        s"U$i", false)) ++
      (2L to 20L by 5).map(i => (i, 600L + i, null, null, true))
    writeTombSrc(dir, batch)
    val outcomes = race(2)(SyncPipeline.run(spark, cfgT, src, dst))
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    outcomes.foreach(_.failed.foreach { e =>
      assert(e.isInstanceOf[graft.core.GraftError], s"untyped failure: $e")
      assert(!chain(e).exists(
        _.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException]), s"$e")
    })
    assert(outcomes.exists(_.isSuccess), s"$outcomes")
    val want = batch.groupBy(_._1).values.map(_.maxBy(_._2))
      .filterNot(_._5)
      .map { case (id, wm, amt, st, _) => id -> ((wm, amt.doubleValue, st)) }.toMap
    assert(readTable(url, "RACESYNC") == want)
    // a loser's marker may survive its failure; two winners clear both
    if (outcomes.forall(_.isSuccess))
      assert(stateRow(url, "RACESYNC").exists(_.restartWm.isEmpty))
  }

  test("S6: a destination database that does not exist fails typed") {
    val dir = tmpDir("jdbc-nodb") + "/src"
    writeTombSrc(dir, Seq((1L, 100L, 1.0, "A", false)))
    // no ;create=true: Derby reports SQLState XJ004
    val e = intercept[graft.core.GraftError.MissingDatabase](
      SyncPipeline.run(spark, cfg, SyncEndpoint.ParquetDir(dir),
        SyncEndpoint.parse("jdbc:derby:memory:graftabsentdb#DST")))
    assert(e.getMessage.contains("graftabsentdb"))
  }

  test("Derby→Derby Spark-job budget: cold run, delta poll, idle poll") {
    val url = freshDb("jobcost")
    val live = (1L to 2000L).map(i => (i, i, i * 0.5, s"s${i % 7}"))
    seedSource(url, live)
    val src = SyncEndpoint.parse(s"$url#SRC")
    val dst = SyncEndpoint.parse(s"$url#DST")
    val (cold, coldJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dst))
    assert(cold.candidateRows == 2000L && cold.rowsWritten == 2000L, s"$cold")
    // 100 new keys, and the row at the destination MAX keeps its
    // watermark but changes payload
    insertRows(url, "SRC", (2001L to 2100L).map(i => (i, i, i * 0.5, "new")))
    updateRow(url, 2000L, 2000L, -1.0, "changed")
    val (delta, deltaJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dst))
    assert(delta.startingPoint.contains(2000L) && delta.candidateRows == 101L &&
      delta.rowsWritten == 101L, s"$delta")
    val want = (live.map { case (id, u, a, s) => id -> ((u, a, s)) }.toMap +
      (2000L -> ((2000L, -1.0, "changed")))) ++
      (2001L to 2100L).map(i => i -> ((i, i * 0.5, "new")))
    assert(readTable(url, "DST") == want)
    // the idle poll re-extracts and re-upserts its watermark tie row
    val (idle, idleJobs) = jobsIn(SyncPipeline.run(spark, cfg, src, dst))
    assert(idle.candidateRows == 1L && idle.rowsWritten == 1L, s"$idle")
    assert(readTable(url, "DST") == want)
    info(s"cold run: $coldJobs jobs; delta poll: $deltaJobs jobs; " +
      s"idle poll: $idleJobs jobs")
    // the key shuffle and the write; bounds and range count are plain
    // statements, and the write counts what it applies
    assert(deltaJobs <= 2, s"delta poll ran $deltaJobs Spark jobs")
    assert(idleJobs <= 2, s"idle poll ran $idleJobs Spark jobs")
    assert(coldJobs <= 2, s"cold run ran $coldJobs Spark jobs")
  }

  test("tombstoned parquet→Derby Spark-job budget: cold run ≤ 11, delete poll ≤ 12, idle poll ≤ 11") {
    val url = freshDb("tombcost")
    val dir = tmpDir("jdbc-tomb-cost") + "/src"
    val live = (1L to 2000L).map(i =>
      (i, i, java.lang.Double.valueOf(i * 0.5), s"s${i % 7}", false))
    writeTombSrc(dir, live)
    val src = SyncEndpoint.ParquetDir(dir)
    val dst = SyncEndpoint.parse(s"$url#TOMBCOST")
    val (cold, coldJobs) = jobsIn(SyncPipeline.run(spark, cfgT, src, dst))
    assert(cold.rowsWritten == 2000L, s"$cold")
    // 100 payload-free deletes of keys 1..100, then one new key
    val poll = live ++ (1L to 100L).map(i =>
      (i, 2000L + i, null.asInstanceOf[java.lang.Double], null, true)) :+
      ((2101L, 2101L, java.lang.Double.valueOf(1.0), "new", false))
    writeTombSrc(dir, poll)
    val (delete, deleteJobs) = jobsIn(SyncPipeline.run(spark, cfgT, src, dst))
    // the deletes and the new key, plus the re-extracted tie row
    assert(delete.rowsWritten == 102L, s"$delete")
    val want = (101L to 2000L).toSet + 2101L
    def keys = readTable(url, "TOMBCOST").keySet
    assert(keys == want, s"${keys.size} keys")
    // the idle poll re-extracts its watermark tie row and deletes nothing
    val (idle, idleJobs) = jobsIn(SyncPipeline.run(spark, cfgT, src, dst))
    assert(idle.candidateRows == 1L && idle.rowsWritten == 1L, s"$idle")
    assert(keys == want, s"${keys.size} keys")
    info(s"cold run: $coldJobs jobs; delete poll: $deleteJobs jobs; " +
      s"idle poll: $idleJobs jobs")
    // one tally pass over the persisted batch (rows, malformed flags,
    // delete winners), no delete pass when nothing is deleted, and one
    // job for the delete pass over keys normalize already deduped
    assert(idleJobs <= 11, s"idle poll ran $idleJobs Spark jobs")
    assert(coldJobs <= 11, s"cold run ran $coldJobs Spark jobs")
    assert(deleteJobs <= 12, s"delete poll ran $deleteJobs Spark jobs")
  }

  // pure option-set check has no dialect; lives in the Derby arm only
  test("S1 partitioned read options carry the slice plan") {
    val opts = JdbcSource.rangeReadOptions("SRC", "UPDATED", 0L, 1000L,
      estimatedRows = 25000000L, targetRowsPerSlice = 10000000L)
    assert(opts("partitionColumn") == "UPDATED")
    assert(opts("lowerBound") == "0" && opts("upperBound") == "1000")
    assert(opts("numPartitions") == "3") // ceil(25M / 10M)
    assert(opts("fetchsize") == "10000")
  }
}

/** Live-PostgreSQL arm: the SAME spec body against a real PG, driving the
  * native `INSERT ... ON CONFLICT DO UPDATE` fast path. Gated on
  * `GRAFT_PG_URL` (e.g. `jdbc:postgresql://host:5432/db?user=u&password=p`);
  * every test skips (ScalaTest canceled) when unset. Each test gets a
  * fresh schema in the target database via `currentSchema`. */
class PostgresSyncSpec extends SparkSpec with JdbcSyncBehaviors {

  private val baseUrl: Option[String] = sys.env.get("GRAFT_PG_URL")

  override protected def dbAvailable: Boolean = baseUrl.isDefined

  override protected def ident(s: String): String = s.toLowerCase

  override protected def doubleType: String = "DOUBLE PRECISION"

  override protected def freshDb(name: String): String = {
    val url = baseUrl.get
    val schema = s"graft_sync_$name".toLowerCase
    exec(url, s"DROP SCHEMA IF EXISTS $schema CASCADE")
    exec(url, s"CREATE SCHEMA $schema")
    url + (if (url.contains("?")) "&" else "?") + s"currentSchema=$schema"
  }

  // with a live PG, run the full shared body; without one, register a
  // single canceled marker instead of nine canceled twins of scenarios
  // that are green under the Derby and DuckDB arms — the cancellation
  // records "a live wire would add coverage", once
  if (dbAvailable) sharedSyncTests()
  else test("live-PostgreSQL arm (full shared sync body)") {
    cancel(unavailableReason)
  }
}

/** DuckDB arm: the SAME spec body against in-process DuckDB, which speaks
  * the PostgreSQL dialect — so the native `INSERT ... ON CONFLICT DO
  * UPDATE ... WHERE` fast path, the `IF NOT EXISTS` create-with-PK DDL,
  * and the PG type names EXECUTE end-to-end without a live server or any
  * egress (`SqlDialect.forUrl` routes `jdbc:duckdb` to the Postgres
  * dialect for exactly this reason). File-backed per-test databases: an
  * in-memory `jdbc:duckdb:` URL gives every `DriverManager.getConnection`
  * its own private database, which the multi-connection sink/source
  * protocol would never see twice. Gated on the driver jar being on the
  * test classpath (pre-warmed local cache — skips cleanly when absent). */
class DuckDbSyncSpec extends SparkSpec with JdbcSyncBehaviors {

  override protected def dbAvailable: Boolean =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: ClassNotFoundException => false }

  override protected def unavailableReason: String =
    "DuckDB JDBC driver not on the test classpath — DuckDB arm skipped"

  override protected def doubleType: String = "DOUBLE PRECISION"

  private lazy val dbRoot =
    java.nio.file.Files.createTempDirectory("graft-duckdb").toString

  override protected def freshDb(name: String): String =
    s"jdbc:duckdb:$dbRoot/$name.duckdb"

  sharedSyncTests()
}
