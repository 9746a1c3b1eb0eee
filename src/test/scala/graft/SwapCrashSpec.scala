package graft

import org.apache.hadoop.fs.Path

import graft.sync.{AggMaintenance, Compact, DestState, Reconcile, SyncConfig,
  SyncJob}

/** Every crash point of the one directory swap (`ParquetMergeSink.swap`)
  * under every caller, and of every rollup state-record commit. An
  * uncrashed call counts the renames and deletes that name the caller's
  * own swap directories (destination, stage, backup) exactly: the swap's
  * own, and a partitioned stage write's job commit moving a bucket dir
  * into the stage. A rollup caller also counts every create, rename and
  * delete of the record and of the sidecar layout's three sidecars (and
  * their `.tmp`/`.new` twins) in its root, stage and backup. Then, for
  * each k, a fresh copy of the pre-state runs
  * the call with a crash at op k, and a clean rerun must heal and end at
  * exactly the uncrashed state, with no stage or backup left. Between
  * the crash and the rerun a rollup read serves, per group and for the
  * watermark, the old or the new committed value, never neither. */
class SwapCrashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.graftmock.impl", classOf[MockStoreFileSystem].getName)
    c
  }
  private def fs(d: String) = new Path(d).getFileSystem(conf)
  private def exists(d: String) = fs(d).exists(new Path(d))

  /** One caller of the swap: how its pre-state is built, the swaps the
    * call makes as (destination, stage, backup), the call itself, and
    * what it leaves behind. `rows` (rollups only) is the read a reader
    * sees, group → row. */
  private final case class Caller(name: String, setup: String => Unit,
                                  swaps: String => Seq[(String, String, String)],
                                  call: String => Unit,
                                  state: String => Any,
                                  rows: Option[String => Map[String, String]] = None)

  /** Every path whose ops `c` counts on `d`. */
  private def watched(c: Caller, d: String): Seq[String] =
    c.swaps(d).flatMap { case (a, b, k) => Seq(a, b, k) } ++ (
      if (c.rows.isEmpty) Nil
      else Seq(d, d + ".__agg_tmp", d + ".__agg_bak_dir").flatMap(dir =>
        (RollupRecord.File +: RollupRecord.SidecarFiles).flatMap(f =>
          Seq(s"$dir/$f", s"$dir/.$f.tmp", s"$dir/.$f.new"))))

  // ---- sync destinations ----

  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "updated")
  private val batch1 = Seq((1L, 100L, 1.0, "A"), (2L, 200L, 2.0, "B"),
    (3L, 300L, 3.0, "C"))
  private val batch2 = batch1.filterNot(_._1 == 2L) ++
    Seq((2L, 400L, 2.5, "B2"), (4L, 500L, 4.0, "D"))
  private def sync(rs: Seq[(Long, Long, Double, String)])(d: String): Unit = {
    new SyncJob(spark, cfg).run(rs.toDF("id", "updated", "amount", "status"),
      d, 1000L)
    ()
  }
  private def merged(d: String, staged: String) =
    Seq((d, d + staged, d + ".__merge_old"))
  private def syncState(d: String): Any =
    (spark.read.parquet(d).collect().map(_.toString).sorted.toSeq,
      DestState.parquet(fs(d), d).stored)

  // ---- rollups ----

  private val src = Seq((10L, 1L, "a", 1.0), (20L, 2L, "b", 2.0),
    (30L, 3L, "c", 3.0), (60L, 1L, "b", 4.0), (70L, 4L, "a", 5.0),
    (80L, 5L, "d", 6.0)).toDF("us", "k", "grp", "x")
  private def v2(lo: Long, hi: Long)(d: String): Unit = {
    AggMaintenance.applySliceV2(spark, d, src, "us", Seq("grp"), Seq("x"),
      lo, hi); ()
  }
  private def keyedBuckets(lo: Long, hi: Long)(d: String): Unit = {
    AggMaintenance.applySliceKeyedPartitionedV2(spark, d, src, "us",
      Seq("k"), Seq("grp"), Seq("x"), lo, hi, nBuckets = 2, nKeyBuckets = 2)
    ()
  }
  private def wholeDir(d: String) =
    Seq((d, d + ".__agg_tmp", d + ".__agg_bak_dir"))
  /** Every bucket swap of a keyed layout with 2 + 2 buckets. */
  private def bucketSwaps(d: String) =
    Seq(d -> "__bucket=", s"$d/_GRAFT_AGG_STATE" -> "__kbucket=").flatMap {
      case (root, prefix) =>
        val staging = if (root == d) d + ".__agg_tmp"
          else d + ".__agg_tmp/_GRAFT_AGG_STATE"
        (0 until 2).map(b => (s"$root/$prefix$b", s"$staging/$prefix$b",
          s"$root.__agg_bak/$prefix$b"))
    }
  /** Group → row, and the watermark under `<wm>`; before a cold start
    * there is no rollup to read. */
  private def rollupRows(d: String): Map[String, String] =
    (try AggMaintenance.read(spark, d).collect()
      .map(r => r.get(0).toString -> r.toString).toMap
    catch {
      case e: graft.core.GraftError.InvalidConfig
          if e.getMessage.contains("no rollup") => Map.empty[String, String]
    }) + ("<wm>" -> AggMaintenance.watermark(spark, d).toString)
  private def rollupState(d: String): Any =
    (rollupRows(d), RollupRecord.field(d, "params"), RollupRecord.present(d))
  /** The pre-state built by `build`, turned into the sidecar layout. */
  private def sidecars(build: String => Unit)(d: String): Unit = {
    build(d); RollupRecord.toSidecarLayout(d)
  }

  private val callers = Seq(
    Caller("cold merge", _ => (), merged(_, ".__merge_tmp"), sync(batch1),
      syncState),
    Caller("whole-directory merge", sync(batch1), merged(_, ".__merge_tmp"),
      sync(batch2), syncState),
    Caller("Compact", d => { sync(batch1)(d); sync(batch2)(d) },
      merged(_, ".__merge_tmp"),
      d => { Compact.compact(spark, d, targetBytes = 1L << 20); () },
      syncState),
    Caller("Reconcile", sync(batch1), merged(_, ".reconcile.tmp"),
      d => { Reconcile.applyDeletes(spark, d, Seq(2L).toDF("id"), Seq("id")); () },
      syncState),
    Caller("whole-directory rollup apply", v2(0L, 50L), wholeDir,
      v2(50L, 100L), rollupState, Some(rollupRows)),
    Caller("rollup bucket commit", keyedBuckets(0L, 50L), bucketSwaps,
      keyedBuckets(50L, 100L), rollupState, Some(rollupRows)),
    Caller("rebucket", keyedBuckets(0L, 100L), wholeDir,
      d => AggMaintenance.rebucket(spark, d, 3), rollupState,
      Some(rollupRows)),
    Caller("whole-directory rollup cold start", _ => (), wholeDir,
      v2(0L, 50L), rollupState, Some(rollupRows)),
    Caller("whole-directory rollup empty advance", v2(0L, 50L), wholeDir,
      v2(50L, 55L), rollupState, Some(rollupRows)),
    Caller("partitioned rollup cold start", _ => (), bucketSwaps,
      keyedBuckets(0L, 50L), rollupState, Some(rollupRows)),
    Caller("partitioned rollup empty root advance", keyedBuckets(0L, 100L),
      bucketSwaps, keyedBuckets(100L, 150L), rollupState, Some(rollupRows)),
    Caller("whole-directory rollup apply on a sidecar-layout root",
      sidecars(v2(0L, 50L)), wholeDir, v2(50L, 100L), rollupState,
      Some(rollupRows)),
    Caller("partitioned rollup apply on a sidecar-layout root",
      sidecars(keyedBuckets(0L, 50L)), bucketSwaps, keyedBuckets(50L, 100L),
      rollupState, Some(rollupRows)))

  /** Run `call` on `d` with the swap-op counter armed. */
  private def counted(c: Caller, d: String, crashAt: Int): Int = {
    val ops = new MockStoreFileSystem.SwapOps(watched(c, d), crashAt)
    MockStoreFileSystem.swapOps = Some(ops)
    try c.call(d) finally MockStoreFileSystem.swapOps = None
    ops.count
  }

  private def crashed(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("simulated crash")))

  callers.foreach { c =>
    test(s"${c.name}: a crash at every swap op heals to the uncrashed result") {
      conf
      def fresh(tag: String): String = {
        val d = s"graftmock:${tmpDir(s"swapcrash-$tag")}/t"
        c.setup(d)
        d
      }
      val ref = fresh("ref")
      val old = c.rows.map(_(ref))
      val n = counted(c, ref, 0)
      val want = c.state(ref)
      val wantRows = c.rows.map(_(ref))
      info(s"${c.name}: $n ops on its swap directories")
      assert(n > 0, "the call made no swap")
      (1 to n).foreach { k =>
        val d = fresh(s"k$k")
        val e = intercept[Throwable](counted(c, d, k))
        assert(crashed(e), s"op $k: $e")
        for (read <- c.rows; before <- old; after <- wantRows) {
          val mid = read(d)
          (before.keySet ++ after.keySet).foreach { g =>
            assert(mid.get(g) == before.get(g) || mid.get(g) == after.get(g),
              s"op $k: group $g reads ${mid.get(g)}, neither " +
                s"${before.get(g)} nor ${after.get(g)}")
          }
        }
        c.call(d)
        assert(c.state(d) == want, s"op $k: the rerun did not converge")
        if (c.rows.isDefined)
          assert(RollupRecord.present(d) == Set(RollupRecord.File),
            s"op $k: the root holds ${RollupRecord.present(d)}")
        c.swaps(d).foreach { case (_, staged, bak) =>
          assert(!exists(staged) && !exists(bak),
            s"op $k: $staged or $bak left behind")
        }
      }
    }
  }

  test("a backup beside a destination where neither holds data is restored by the heal") {
    val work = tmpDir("swapcrash-nodata")
    val dest = s"$work/t"
    // metadata only on both sides: each reads as "no destination"
    assert(new java.io.File(dest).mkdirs() &&
      new java.io.File(dest, "_SUCCESS").createNewFile())
    assert(new java.io.File(dest + ".__merge_old").mkdirs() &&
      new java.io.File(dest + ".__merge_old", "_marker").createNewFile())
    intercept[graft.core.GraftError.InvalidConfig](Compact.compact(spark, dest))
    assert(!new java.io.File(dest + ".__merge_old").exists(),
      "the backup was left in place")
    assert(new java.io.File(dest, "_marker").exists() &&
      !new java.io.File(dest, "_SUCCESS").exists(), "the backup was not restored")
    // the cold write swaps the restored debris aside and drops it
    sync(batch1)(dest)
    assert(spark.read.parquet(dest).count() == 3L)
    assert(!new java.io.File(dest + ".__merge_old").exists())
  }
}
