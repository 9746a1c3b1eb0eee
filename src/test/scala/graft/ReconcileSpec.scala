package graft

import org.apache.spark.sql.functions._

import graft.sync.Reconcile

/** sync/Reconcile — the delete-repair pass for the watermark sync's
  * structural blind spot: orphan detection over single and composite
  * keys, duplicate-immunity, the staged apply rewrite, and the JDBC
  * key-only source arm (Derby). */
class ReconcileSpec extends SparkSpec {
  import spark.implicits._

  test("deletedKeys finds dest-minus-source orphans; duplicates don't inflate") {
    val source = Seq(1L, 2L, 3L).toDF("id")
    // dest carries a replayed duplicate of id 5 — the orphan set is keyed,
    // one row per key, regardless of row multiplicity
    val dest = Seq(1L, 2L, 3L, 4L, 5L, 5L).toDF("id")
    val got = Reconcile.deletedKeys(source, dest, Seq("id"))
      .as[Long].collect().sorted.toList
    assert(got == List(4L, 5L))
    // no orphans → empty, never an error
    assert(Reconcile.deletedKeys(dest, source, Seq("id")).count() == 0)
    assertThrows[IllegalArgumentException](
      Reconcile.deletedKeys(source, dest, Seq.empty))
  }

  test("composite keys: a row is orphaned only when the FULL key vanished") {
    val source = Seq((1L, "a"), (2L, "a")).toDF("k1", "k2")
    val dest = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("k1", "k2")
    val got = Reconcile.deletedKeys(source, dest, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(got == List((1L, "b")), s"got $got")
  }

  test("applyDeletes rewrites the destination in place, keeps other columns") {
    val work = tmpDir("reconcile-apply")
    Seq((1L, "keep"), (2L, "keep"), (3L, "drop"), (4L, "drop"))
      .toDF("id", "payload").write.parquet(s"$work/dest")
    val source = Seq(1L, 2L).toDF("id")
    val dest = spark.read.parquet(s"$work/dest")
    val orphans = Reconcile.deletedKeys(source, dest, Seq("id"))
      .localCheckpoint()
    val (kept, dropped) = Reconcile.applyDeletes(
      spark, s"$work/dest", orphans, Seq("id"))
    assert(kept == 2L && dropped == 2L)
    val after = spark.read.parquet(s"$work/dest")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toList
    assert(after == List((1L, "keep"), (2L, "keep")), s"got $after")
    // no stale staging dir left behind
    assert(!new java.io.File(s"$work/dest.reconcile.tmp").exists())
  }

  test("applyDeletes with every destination key orphaned keeps 0 rows; the next sync converges") {
    val work = tmpDir("reconcile-all")
    val dest = s"$work/dest"
    val cfg = graft.sync.SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")
    val job = new graft.sync.SyncJob(spark, cfg)
    job.run(Seq((1L, 100L, "a"), (2L, 200L, "b"), (3L, 300L, "c"))
      .toDF("id", "updated", "payload"), dest, 1000L)
    // the source's snapshot shares no key with the destination; key 4
    // carries two versions, and the later one wins
    val source = Seq((4L, 50L, "old"), (4L, 150L, "new"), (5L, 120L, "e"))
      .toDF("id", "updated", "payload")
    val orphans = Reconcile.deletedKeys(source, spark.read.parquet(dest),
      Seq("id")).localCheckpoint()
    val (kept, dropped) = Reconcile.applyDeletes(spark, dest, orphans, Seq("id"))
    assert(kept == 0L && dropped == 3L, s"got ($kept, $dropped)")
    assert(!new java.io.File(s"$work/dest.reconcile.tmp").exists())
    val r = job.run(source, dest, 1000L)
    assert(r.rowsWritten == 2L, s"$r")
    val after = spark.read.parquet(dest).as[(Long, Long, String)]
      .collect().sortBy(_._1).toList
    assert(after == List((4L, 150L, "new"), (5L, 120L, "e")), s"got $after")
  }

  test("applyDeletes preserves a hive-partitioned destination layout") {
    val work = tmpDir("reconcile-part")
    Seq((1L, 0L, "keep"), (2L, 1L, "keep"), (3L, 0L, "drop"), (4L, 1L, "drop"))
      .toDF("id", "p", "payload")
      .write.partitionBy("p").parquet(s"$work/dest")
    val source = Seq(1L, 2L).toDF("id")
    val dest = spark.read.parquet(s"$work/dest")
    val orphans = Reconcile.deletedKeys(source, dest, Seq("id"))
      .localCheckpoint()
    val (kept, dropped) = Reconcile.applyDeletes(
      spark, s"$work/dest", orphans, Seq("id"))
    assert(kept == 2L && dropped == 2L)
    // the rewrite must keep the p=X/ dirs — a flat rewrite would be
    // corrupted by the next partitioned merge's dynamic overwrite
    Seq(0L, 1L).foreach { p =>
      assert(new java.io.File(s"$work/dest/p=$p").isDirectory,
        s"partition p=$p flattened away")
    }
    val after = spark.read.parquet(s"$work/dest")
      .select(col("id")).as[Long].collect().toSet
    assert(after == Set(1L, 2L))
  }

  test("JDBC source arm: key-only projection from Derby drives the orphan set") {
    val url = s"jdbc:derby:memory:reconcile${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE SRC (ID BIGINT PRIMARY KEY, V VARCHAR(10))")
      Seq(1L, 2L, 3L).foreach(i =>
        st.executeUpdate(s"INSERT INTO SRC VALUES ($i, 'x')"))
      st.close()
      val src = spark.read.jdbc(url, "(SELECT ID FROM SRC) graft_rc",
        new java.util.Properties())
      val dest = Seq(1L, 2L, 3L, 9L).toDF("ID")
      val got = Reconcile.deletedKeys(src, dest, Seq("ID"))
        .as[Long].collect().toList
      assert(got == List(9L), s"got $got")
    } finally conn.close()
  }

  test("NULL-keyed dest rows are never reported: report and apply agree") {
    // equality anti-join would report a NULL key as an orphan (it matches
    // nothing on the source side), but neither apply path can delete it —
    // applyDeletes' left_anti keeps it and the JDBC `k = ?` never matches
    // NULL — so the report must not promise it
    val source = Seq(Some(1L), Some(2L)).toDF("id")
    val dest = Seq(Some(1L), Some(2L), Some(7L), None).toDF("id")
    val orphans = Reconcile.deletedKeys(source, dest, Seq("id"))
    assert(orphans.as[Long].collect().toList == List(7L),
      "only the real orphan; the NULL-keyed row is excluded")
    // composite: NULL in ANY key component excludes the row
    val src2 = Seq((Some(1L), Some("a"))).toDF("k1", "k2")
    val dst2 = Seq((Some(1L), Some("a")), (Some(2L), None),
      (None, Some("b")), (Some(3L), Some("c"))).toDF("k1", "k2")
    val got2 = Reconcile.deletedKeys(src2, dst2, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(got2 == List((3L, "c")), s"got $got2")
    // end-to-end agreement: applying the report drops EXACTLY the
    // reported rows (the NULL-keyed row rides through untouched)
    val work = tmpDir("reconcile-null")
    dst2.write.parquet(s"$work/dest")
    val (kept, dropped) = Reconcile.applyDeletes(spark, s"$work/dest",
      Reconcile.deletedKeys(src2, spark.read.parquet(s"$work/dest"),
        Seq("k1", "k2")).localCheckpoint(), Seq("k1", "k2"))
    assert(kept == 3L && dropped == 1L, s"kept=$kept dropped=$dropped")
  }

  test("deleteByKeys reports rows the database ACTUALLY deleted (Derby)") {
    val url = s"jdbc:derby:memory:recdel${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE T (ID BIGINT PRIMARY KEY, V VARCHAR(5))")
      Seq(1L, 2L, 3L).foreach(i =>
        st.executeUpdate(s"INSERT INTO T VALUES ($i, 'x')"))
      st.close()
      // submit 3 distinct keys of which only 2 exist: Derby reports real
      // per-statement counts, so the return is 2 — not the submitted 3
      // the pre-fix code would have claimed
      val keys = Seq(2L, 3L, 99L).toDF("ID")
      val n = graft.sinks.JdbcUpsertSink.deleteByKeys(
        keys, url, new java.util.Properties(), "T", Seq("ID"))
      assert(n == 2L, s"expected 2 actually-deleted rows, got $n")
      // second pass over the same keys: everything already gone → 0
      val again = graft.sinks.JdbcUpsertSink.deleteByKeys(
        keys, url, new java.util.Properties(), "T", Seq("ID"))
      assert(again == 0L, s"re-delete of absent keys reported $again")
      val left = spark.read.jdbc(url, "T", new java.util.Properties())
        .select("ID").as[Long].collect().toList
      assert(left == List(1L), s"got $left")
    } finally conn.close()
  }
}
