package perfbench

import java.io.File
import java.sql.{Connection, DriverManager, SQLException}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.sinks.JdbcUpsertSink
import graft.sources.JdbcSource
import graft.sync.{AggMaintenance, ParquetMergeSink, SyncConfig, SyncEndpoint,
  SyncJob, SyncPipeline}

/** What a workload shares with the runner: the session, a private work
  * directory, the seed, the tracer and the per-layer samples it records. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val params: Map[String, String], val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def long(k: String): Long = params(k).toLong
  def int(k: String): Int = params(k).toInt
  def double(k: String): Double = params(k).toDouble
  def dir(name: String): String = new File(work, name).getAbsolutePath

  val spec: GenSpec = GenSpec(long("rows"), long("delta_rows"),
    double("update_frac"), long("tie_rows"), int("accts"), int("cats"),
    int("payload_bytes"))
}

/** One benchmark workload: a destination the runner seeds, then polls in a
  * closed loop. Each poll call starts only after the previous returns. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def tr: Tracer = ctx.tracer

  /** Generate the input afresh and seed an empty destination from it;
    * returns (rows the cold sync extracted, cold sync seconds). */
  def setupRep(rep: Int): (Long, Double)
  /** Append the next generated delta to the source (not poll time). */
  def appendDelta(): Unit
  /** The poll that finds the fresh delta. */
  def deltaPoll(poll: Long): Unit
  /** The same poll with nothing new. */
  def idlePoll(poll: Long): Unit
  /** The analytic reads on the maintained state; each returns rows read
    * back. The runner cycles through them. */
  def reads: IndexedSeq[Long => Long]
  /** Traced runs only: remember the destination before the next delta, so
    * [[isolate]] can replay that delta against a copy of it. */
  def snapshot(): Unit
  /** Traced runs only: call the sink (and source) layers directly on the
    * delta just polled, against the snapshot copy. */
  def isolate(poll: Long): Unit
  /** Correctness gates: (name, missing rows, unexpected rows). */
  def gates(): Seq[(String, Long, Long)]
  /** On-disk bytes of the destination ÷ its live rows. */
  def destBytesPerRow(): Double
  def close(): Unit = ()

  protected def diff(name: String, expected: DataFrame,
                     actual: DataFrame): (String, Long, Long) = {
    val (missing, extra) = Workload.compare(expected, actual)
    (name, missing, extra)
  }

  protected val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)

  /** Run a read and record its scan counters when traced. */
  protected def timedRead(poll: Long, name: String)(df: => DataFrame): Long =
    tr.span(name, poll) { s =>
      val q = df
      val rows = q.collect().length.toLong
      if (s != null) {
        s.attrs("rows_returned") = rows.toDouble
        s.attrs("files_read") = Workload.filesRead(q).toDouble
        s.attrs("rows_examined") = Workload.rowsScanned(q).toDouble
      }
      rows
    }
}

object Workload extends AdaptiveSparkPlanHelper {
  /** Compare two frames both ways as multisets: (rows of `expected` absent
    * from `actual`, rows of `actual` absent from `expected`). Equal row-hash
    * digests settle it in one pass per side; otherwise `exceptAll` counts
    * the difference. */
  def compare(expected: DataFrame, actual: DataFrame): (Long, Long) =
    if (Gen.digest(expected) == Gen.digest(actual)) (0L, 0L)
    else (expected.exceptAll(actual).count(), actual.exceptAll(expected).count())

  /** Files the executed plan's parquet scans opened. */
  def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Rows the executed plan's scans (parquet or JDBC) produced. */
  def rowsScanned(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case l: LeafExecNode =>
      l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Sum of parquet data file sizes under `dir` (sidecars, checksums and
    * hidden files excluded). */
  def dataBytes(dir: File): Long =
    dataFiles(allFiles(dir)).toSeq.map(new File(dir, _).length()).sum

  /** The parquet data files among `paths` (hidden and sidecar files out). */
  def dataFiles(paths: Set[String]): Set[String] = paths.filter(p =>
    p.endsWith(".parquet") && !p.split('/').exists(n => n.startsWith(".") || n.startsWith("_")))

  /** Every file under `dir` (data, sidecars and checksums), as paths
    * relative to it. */
  def allFiles(dir: File): Set[String] = {
    def walk(f: File, rel: String): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel)
    walk(dir, "").toSet
  }

  def copyDir(from: File, to: File): Unit = {
    deleteDir(to)
    org.apache.commons.io.FileUtils.copyDirectory(from, to)
  }

  def deleteDir(f: File): Unit =
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "parquet-poll" => new ParquetPoll(ctx)
    case "jdbc-poll"    => new JdbcPoll(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Parquet → parquet through [[SyncJob]] (the CLI's default path, an
  * unpartitioned merge that rewrites the destination on every delta), with
  * a v2 rollup of the source (`AggMaintenance.applySliceV2`, one group per
  * account) maintained beside it. A poll brings both up to date; the reads
  * run on the merged destination and on the rollup. */
final class ParquetPoll(ctx: Ctx) extends Workload(ctx) {
  private val cfg = SyncConfig(keyCols = Seq("id"), watermarkCol = "ts")
  private val groupCols = Seq("acct")
  private val valueCols = Seq("amount")
  private var gen: Gen = _
  private var src: String = _
  private var dst: String = _
  private var rollup: String = _
  private var appliedHi = 0L
  private var iso: String = _
  private var isoStart = 0L

  private def source: DataFrame = spark.read.parquet(src)
  private def dest: DataFrame = spark.read.parquet(dst)

  private def dropDirs(): Unit =
    Seq(src, dst, rollup).filter(_ != null).foreach(p => Workload.deleteDir(new File(p)))

  /** Generate the base into a fresh source directory, cold-sync it into an
    * empty destination and build the rollup from it. */
  def setupRep(rep: Int): (Long, Double) = {
    dropDirs()
    gen = new Gen(spark, ctx.seed, ctx.spec)
    src = ctx.dir(s"src_$rep")
    dst = ctx.dir(s"dst_$rep")
    rollup = ctx.dir(s"rollup_$rep")
    gen.base().write.parquet(src)
    val (report, s) = Main.time(new SyncJob(spark, cfg).run(source, dst, gen.maxTs))
    appliedHi = gen.maxTs + 1
    AggMaintenance.applySliceV2(spark, rollup, source, "ts", groupCols,
      valueCols, Gen.T0, appliedHi)
    (report.candidateRows, s)
  }

  def appendDelta(): Unit =
    gen.nextDelta().write.mode("append").parquet(src)

  /** Sync the destination, then fold the slice [applied, max + 1) into the
    * rollup (empty on an idle poll). */
  private def poll(poll: Long): Unit = {
    tr.span("graft.sync.SyncJob.run", poll) { s =>
      val r = new SyncJob(spark, cfg).run(source, dst, gen.maxTs)
      if (s != null) {
        s.attrs("rows_extracted") = r.candidateRows.toDouble
        s.attrs("rows_written") = r.rowsWritten.toDouble
      }
    }
    val hi = gen.maxTs + 1
    tr.span("graft.sync.AggMaintenance.applySliceV2", poll) { s =>
      val r = AggMaintenance.applySliceV2(spark, rollup, source, "ts",
        groupCols, valueCols, appliedHi, hi)
      if (s != null) s.attrs("slice_rows") = r.sliceRows.toDouble
    }
    appliedHi = hi
  }

  def deltaPoll(p: Long): Unit = poll(p)
  def idlePoll(p: Long): Unit = poll(p)

  val reads: IndexedSeq[Long => Long] = IndexedSeq(
    p => { // filtered grouped sum over an account range
      val a = rng.nextInt(ctx.int("accts"))
      timedRead(p, "read.grouped_sum")(dest
        .filter(col("acct") >= a && col("acct") < a + ctx.int("accts") / 20)
        .groupBy("cat").agg(sum("amount"), count(lit(1))))
    },
    p => { // row count of a watermark range
      val span = gen.maxTs - Gen.T0
      val lo = Gen.T0 + (rng.nextDouble() * span * 0.9).toLong
      timedRead(p, "read.range_count")(dest
        .filter(col("ts") >= lo && col("ts") < lo + span / 10)
        .agg(count(lit(1))))
    },
    p => timedRead(p, "read.top_derived")(tr.span(
        "graft.sync.AggMaintenance.readDerived", p) { _ =>
      AggMaintenance.readDerived(spark, rollup)
    }.orderBy(desc("sum_amount"), asc("acct")).limit(10)))

  def snapshot(): Unit = {
    iso = ctx.dir("iso")
    Workload.copyDir(new File(dst), new File(iso))
    isoStart = gen.maxTs
  }

  def isolate(poll: Long): Unit = {
    val changed = gen.keysChangedAfter(isoStart)
    val extracted = source.filter(col("ts") >= isoStart && col("ts") <= gen.maxTs)
      .persist()
    val n = extracted.count()
    val before = Workload.allFiles(new File(iso))
    val fs0 = FsStats.now()
    val (res, s) = Main.time(tr.span("graft.sync.ParquetMergeSink.merge", poll) { _ =>
      ParquetMergeSink.merge(spark, iso, extracted, cfg.keyCols, cfg.watermarkCol,
        knownUpdateRows = Some(n))
    })
    val fs = FsStats.now() - fs0
    extracted.unpersist()
    val after = Workload.allFiles(new File(iso))
    ctx.sample("merge.s", s)
    ctx.sample("merge.rows_written_per_row_changed",
      res.rowsWritten.toDouble / math.max(1L, res.updateRows))
    ctx.sample("merge.bytes_written", fs.bytesWritten.toDouble)
    ctx.sample("merge.files_written", Workload.dataFiles(after -- before).size.toDouble)
    ctx.sample("merge.fs_ops", ((after -- before).size + (before -- after).size).toDouble)
    ctx.sample("sync.rows_extracted_per_row_changed", n.toDouble / math.max(1L, changed))
    ctx.sample("iso.sink_s", s)
    ctx.sample("rollup.state_bytes",
      org.apache.commons.io.FileUtils.sizeOfDirectory(new File(rollup)).toDouble)
    Workload.deleteDir(new File(iso))
  }

  /** The destination is the last writer per key over everything generated;
    * the rollup is a from-scratch regroup of every row it folded in. Tie
    * rows, stamped at a watermark whose slice was already applied, never
    * reach the rollup (its half-open slices are an event fold, not a
    * re-read). */
  def gates(): Seq[(String, Long, Long)] = Seq(
    diff("dest = last-writer-wins(history)",
      Gen.lastWriterWins(gen.history()), dest),
    diff("readDerived = groupBy(applied rows)",
      ParquetPoll.recompute(gen.history(lateTies = false)),
      ParquetPoll.derivedCols(AggMaintenance.readDerived(spark, rollup))))

  def destBytesPerRow(): Double =
    Workload.dataBytes(new File(dst)).toDouble / gen.liveKeys

  override def close(): Unit = dropDirs()
}

object ParquetPoll {
  private val cols = Seq("acct", "cnt", "cntv_amount", "sum_amount",
    "sumsq_amount", "min_amount", "max_amount", "avg_amount", "var_amount")

  def derivedCols(df: DataFrame): DataFrame = df.select(cols.map(col): _*)

  /** The v2 rollup recomputed from scratch: exact decimal moments, and
    * avg/var derived from them by the same double arithmetic. */
  def recompute(rows: DataFrame): DataFrame = {
    val v = col("amount").cast("decimal(18,4)")
    rows.groupBy("acct").agg(
        count(lit(1)).as("cnt"), count(v).as("cntv_amount"),
        sum(v).cast("decimal(28,4)").as("sum_amount"),
        sum((v * v).cast("decimal(38,8)")).cast("decimal(38,8)").as("sumsq_amount"),
        min(v).as("min_amount"), max(v).as("max_amount"))
      .withColumn("avg_amount", when(col("cntv_amount") > 0,
        col("sum_amount").cast("double") / col("cntv_amount").cast("double")))
      .withColumn("var_amount", when(col("cntv_amount") > 1,
        (col("sumsq_amount").cast("double") - col("sum_amount").cast("double") *
          col("sum_amount").cast("double") / col("cntv_amount").cast("double")) /
          (col("cntv_amount").cast("double") - lit(1.0))))
      .select(cols.map(col): _*)
  }
}

/** Embedded in-memory Derby → Derby through [[SyncPipeline]]: the
  * reference's own PG→PG shape, with the generic-dialect upsert. */
final class JdbcPoll(ctx: Ctx) extends Workload(ctx) {
  private val cfg = SyncConfig(keyCols = Seq("ID"), watermarkCol = "TS")
  private val props = new Properties()
  private var gen: Gen = _
  private var url: String = _
  private var isoStart = 0L
  private val cols = Seq("ID", "TS", "ACCT", "CAT", "AMOUNT", "PAYLOAD")

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  private def exec(sql: String): Unit = withConn { c =>
    val st = c.createStatement()
    try { st.executeUpdate(sql); () } finally st.close()
  }

  private def dropDb(): Unit = Option(url).foreach { u =>
    try DriverManager.getConnection(u.replace(";create=true", ";drop=true"))
    catch { case _: SQLException => () } // Derby reports a drop as 08006
  }

  /** Insert (or, for keys below `existing`, update) rows in watermark order,
    * so a key updated twice in one delta ends at its later row. */
  private def upsertSource(rows: Array[Row], existing: Long): Unit = withConn { c =>
    c.setAutoCommit(false)
    val ins = c.prepareStatement(
      s"INSERT INTO SRC (${cols.mkString(", ")}) VALUES (?, ?, ?, ?, ?, ?)")
    val upd = c.prepareStatement("UPDATE SRC SET TS = ?, ACCT = ?, CAT = ?, " +
      "AMOUNT = ?, PAYLOAD = ? WHERE ID = ?")
    try {
      rows.sortBy(_.getLong(1)).foreach { r =>
        if (r.getLong(0) < existing) {
          upd.setLong(1, r.getLong(1)); upd.setInt(2, r.getInt(2))
          upd.setString(3, r.getString(3)); upd.setDouble(4, r.getDouble(4))
          upd.setString(5, r.getString(5)); upd.setLong(6, r.getLong(0))
          upd.executeUpdate()
        } else {
          ins.setLong(1, r.getLong(0)); ins.setLong(2, r.getLong(1))
          ins.setInt(3, r.getInt(2)); ins.setString(4, r.getString(3))
          ins.setDouble(5, r.getDouble(4)); ins.setString(6, r.getString(5))
          ins.addBatch()
        }
      }
      ins.executeBatch()
      c.commit()
    } finally { ins.close(); upd.close() }
  }

  private def endpoint(t: String) = SyncEndpoint.JdbcTable(url, t, props)

  def setupRep(rep: Int): (Long, Double) = {
    dropDb()
    url = s"jdbc:derby:memory:perfbench_$rep;create=true"
    gen = new Gen(spark, ctx.seed, ctx.spec)
    exec("CREATE TABLE SRC (ID BIGINT NOT NULL PRIMARY KEY, TS BIGINT NOT NULL, " +
      s"ACCT INT, CAT VARCHAR(16), AMOUNT DOUBLE, PAYLOAD VARCHAR(${ctx.int("payload_bytes")}))")
    exec("CREATE INDEX SRC_TS ON SRC (TS)")
    upsertSource(gen.base().collect(), 0L)
    val (r, s) = Main.time(SyncPipeline.run(spark, cfg, endpoint("SRC"),
      endpoint("DST")))
    (r.candidateRows, s)
  }

  def appendDelta(): Unit = {
    val existing = gen.liveKeys
    upsertSource(gen.nextDelta().collect(), existing)
  }

  private def poll(poll: Long): Unit =
    tr.span("graft.sync.SyncPipeline.run", poll) { s =>
      val r = SyncPipeline.run(spark, cfg, endpoint("SRC"), endpoint("DST"))
      if (s != null) {
        s.attrs("rows_extracted") = r.candidateRows.toDouble
        s.attrs("rows_written") = r.rowsWritten.toDouble
      }
    }

  def deltaPoll(p: Long): Unit = poll(p)
  def idlePoll(p: Long): Unit = poll(p)

  private def query(poll: Long, name: String, sql: String): Long =
    timedRead(poll, name)(spark.read.jdbc(url, s"($sql) AS T", props))

  val reads: IndexedSeq[Long => Long] = IndexedSeq(
    p => {
      val a = rng.nextInt(ctx.int("accts"))
      query(p, "read.grouped_sum", "SELECT CAT, SUM(AMOUNT) AS S, COUNT(*) AS N " +
        s"FROM DST WHERE ACCT >= $a AND ACCT < ${a + ctx.int("accts") / 20} GROUP BY CAT")
    },
    p => {
      val span = gen.maxTs - Gen.T0
      val lo = Gen.T0 + (rng.nextDouble() * span * 0.9).toLong
      query(p, "read.range_count",
        s"SELECT COUNT(*) AS N FROM DST WHERE TS >= $lo AND TS < ${lo + span / 10}")
    },
    p => query(p, "read.top_accounts", "SELECT ACCT, SUM(AMOUNT) AS TOTAL FROM DST " +
      "GROUP BY ACCT ORDER BY TOTAL DESC, ACCT FETCH FIRST 10 ROWS ONLY"))

  /** Copy the destination, primary key included, into DST_ISO. */
  def snapshot(): Unit = {
    isoStart = gen.maxTs
    try exec("DROP TABLE DST_ISO")
    catch { case _: SQLException => () } // first snapshot: nothing to drop
    JdbcUpsertSink.ensureTable(url, props, "DST_ISO",
      spark.read.jdbc(url, "DST", props).schema, cfg.keyCols)
    exec("INSERT INTO DST_ISO SELECT * FROM DST")
  }

  def isolate(poll: Long): Unit = {
    val src = new JdbcSource(url, props)
    val hi = gen.maxTs
    val (n, countS) = Main.time(tr.span("graft.sources.JdbcSource.countRange", poll) { _ =>
      src.countRange(spark, "SRC", "TS", isoStart, hi)
    })
    val extracted = src.rangeRead(spark, "SRC", "TS", isoStart, hi, n)
    val (_, readS) = Main.time(tr.span("graft.sources.JdbcSource.rangeRead", poll) { _ =>
      extracted.write.format("noop").mode("overwrite").save()
    })
    val (_, ensureS) = Main.time(tr.span("graft.sinks.JdbcUpsertSink.ensureTable", poll) { _ =>
      JdbcUpsertSink.ensureTable(url, props, "DST_ISO", extracted.schema, cfg.keyCols)
    })
    val (applied, upsertS) = Main.time(tr.span("graft.sinks.JdbcUpsertSink.write", poll) { _ =>
      JdbcUpsertSink.write(extracted, url, props, "DST_ISO", cfg.keyCols, cfg.watermarkCol)
    })
    val changed = gen.keysChangedAfter(isoStart)
    ctx.sample("sources.count_range_s", countS)
    ctx.sample("sources.range_read_s", readS)
    ctx.sample("sources.read_partitions", extracted.rdd.getNumPartitions.toDouble)
    ctx.sample("sinks.ensure_table_s", ensureS)
    ctx.sample("sinks.upsert_s", upsertS)
    ctx.sample("sinks.upsert_rows_per_s", applied / upsertS)
    ctx.sample("sync.rows_extracted_per_row_changed", n.toDouble / math.max(1L, changed))
    ctx.sample("iso.sink_s", upsertS)
  }

  private def destFrame: DataFrame =
    spark.read.jdbc(url, "DST", props).select(cols.map(c => col(c).as(c.toLowerCase)): _*)

  def gates(): Seq[(String, Long, Long)] =
    Seq(diff("dest = last-writer-wins(history)",
      Gen.lastWriterWins(gen.history()), destFrame))

  /** Allocated pages of the destination table and its indexes, compacted
    * first: Derby's free space after in-place updates depends on page-split
    * history, the compacted size only on the stored rows and their types. */
  def destBytesPerRow(): Double = withConn { c =>
    val st = c.createStatement()
    try {
      st.execute("CALL SYSCS_UTIL.SYSCS_COMPRESS_TABLE('APP', 'DST', 1)")
      val rs = st.executeQuery("SELECT SUM(CAST(NUMALLOCATEDPAGES AS BIGINT) * " +
        "PAGESIZE) FROM TABLE (SYSCS_DIAG.SPACE_TABLE('APP', 'DST')) AS T")
      try { rs.next(); rs.getLong(1).toDouble / gen.liveKeys } finally rs.close()
    } finally st.close()
  }

  override def close(): Unit = dropDb()
}
