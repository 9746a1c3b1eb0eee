package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one run of one workload.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> [--param key=value ...]
  *
  * A run: start the session; warm the JIT by running the whole workload
  * once (a set-up and `warm_iters` loop iterations); set up [[SetupReps]]
  * more times (generate the input, seed an empty destination by a cold
  * sync) and keep the last; then run the closed loop for `seconds`.
  * One iteration appends a generated delta to the source, then runs a delta
  * poll, an idle poll and one read of each kind, each call starting after
  * the previous one returned. Finally the correctness gates compare the
  * destination with a model computed from the generator's full history.
  *
  * With --trace 1 the odd iterations run untraced and the even ones run
  * inside spans, with the Spark job listener attributing jobs to them, an
  * isolation pass after each traced delta poll, and the spans written to
  * `<work>/spans.jsonl`; the result then carries the per-layer metrics and
  * the tracing overhead (traced ÷ untraced iteration medians).
  *
  * The last stdout line is `RESULT <json>`. */
object Main {
  /** Set-ups after the warm-up; setup_s and the cold sync take the median. */
  val SetupReps = 3

  final class Op(val kind: String) {
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    def all: Seq[Double] = (untraced ++ traced).toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = mutable.LinkedHashMap.empty[String, String]
    val params = mutable.LinkedHashMap.empty[String, String]
    args.grouped(2).foreach {
      case Array("--param", kv) =>
        val i = kv.indexOf('=')
        params(kv.take(i)) = kv.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val work = new File(opts("work"))
    work.mkdirs()
    val (spark, sessionS) = time(session(params("cores").toInt, work))
    try {
      if (opts("workload") == "selftest")
        sys.exit(SelfTest.run(spark, opts("seed").toLong))
      val res = run(spark, sessionS, opts("workload"), opts("seed").toLong,
        opts("seconds").toDouble, opts("trace") == "1", work, params.toMap)
      println("RESULT " + res)
    } finally spark.stop()
  }

  def session(cores: Int, work: File): SparkSession =
    graft.core.GraftSession.builder("perfbench", s"local[$cores]", cores)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()

  def time[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  def run(spark: SparkSession, sessionS: Double, name: String, seed: Long,
          seconds: Double, trace: Boolean, work: File,
          params: Map[String, String]): String = {
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, params, tracer)
    val w = Workload(name, ctx)
    var attempted = 0L
    var failed = 0L

    val ops = Seq("delta_poll", "idle_poll", "read").map(k => k -> new Op(k)).toMap
    val traceRoots = mutable.ArrayBuffer.empty[(String, Span)]
    var poll = 0L
    val probes = mutable.ArrayBuffer.empty[Double]
    def probe(): Unit = probes += time(Probe.run(spark, ctx.int("cores")))._2

    def op(kind: String, traced: Boolean, record: Boolean)(body: => Unit): Unit = {
      if (record) probe()
      attempted += 1
      val t = System.nanoTime()
      try {
        tracer.span(kind, poll) { s =>
          body
          if (s != null) traceRoots += (kind -> s)
        }
        val d = (System.nanoTime() - t) / 1e9
        if (record) (if (traced) ops(kind).traced else ops(kind).untraced) += d
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $kind poll $poll failed: $e")
          e.printStackTrace()
      }
    }

    var readIdx = 0
    val genS = mutable.ArrayBuffer.empty[Double]
    def iteration(traced: Boolean, record: Boolean): Unit = {
      poll += 1
      tracer.enabled = traced
      if (traced) w.snapshot()
      genS += time(w.appendDelta())._2
      op("delta_poll", traced, record)(w.deltaPoll(poll))
      if (traced) {
        try w.isolate(poll)
        catch { case e: Exception =>
          attempted += 1; failed += 1
          System.err.println(s"[perfbench] isolation pass $poll failed: $e")
        }
      }
      op("idle_poll", traced, record)(w.idlePoll(poll))
      (0 until w.reads.size).foreach { _ =>
        op("read", traced, record)(w.reads(readIdx % w.reads.size)(poll))
        readIdx += 1
      }
      tracer.enabled = false
    }

    // --- set-up, all of it counted in setup_s: a JIT warm-up that runs
    // the whole workload once, then several set-ups (generate the input,
    // seed an empty destination), the last one kept
    val (_, warmS) = time {
      w.setupRep(0)
      (1 to ctx.int("warm_iters")).foreach(_ => iteration(traced = false, record = false))
    }
    val reps = (1 to SetupReps).map { i =>
      (1 to 3).foreach(_ => probe())
      time(w.setupRep(i))
    }
    val coldS = reps.map(_._1._2)
    val coldRows = reps.last._1._1
    val repS = reps.map(_._2)
    genS.clear()

    // --- measured closed loop
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var it = 0
    while (it == 0 || System.nanoTime() < deadline) {
      iteration(traced = trace && it % 2 == 1, record = true)
      it += 1
    }

    // --- correctness gates
    val (gates, gateS) = time(w.gates())
    gates.foreach { case (g, missing, extra) =>
      attempted += 1
      val ok = missing == 0 && extra == 0
      if (!ok) failed += 1
      System.err.println(s"[perfbench] gate ${if (ok) "ok" else "FAILED"}: $g " +
        s"(missing $missing, unexpected $extra)")
    }
    val destBpr = w.destBytesPerRow()

    // End-to-end times in seconds at the reference host speed: raw seconds
    // × Probe.RefS ÷ this run's median probe time (rates by the inverse).
    // The raw values go to stderr. See Probe.
    val probeS = Stats.median(probes.toSeq)
    val k = Probe.RefS / probeS
    val loop = ops.map { case (kind, o) => kind -> (if (trace) o.untraced.toSeq else o.all) }
    val raw = mutable.LinkedHashMap(
      "setup_s" -> (sessionS + Stats.median(repS) + warmS),
      "cold_sync_rows_per_s" -> coldRows / Stats.median(coldS),
      "delta_poll_s_p50" -> Stats.median(loop("delta_poll")),
      "idle_poll_s_p50" -> Stats.median(loop("idle_poll")),
      "read_s_p50" -> Stats.median(loop("read")))
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      raw.foreach { case (key, v) =>
        m(key) = if (key.endsWith("rows_per_s")) (v / k, "rows/s") else (v * k, "s")
      }
      m("dest_bytes_per_row") = (destBpr, "bytes")
    } else {
      tracer.drain()
      Layers.report(m, ctx, tracer, traceRoots.toSeq, ops, failed, attempted,
        sessionS, repS, warmS, genS.toSeq, probeS)
      tracer.write(new File(work, "spans.jsonl"))
    }
    System.err.println(s"[perfbench] $name seed=$seed iterations=$it " +
      ops.values.map(o => s"${o.kind}=${o.all.size}").mkString(" ") +
      f" session=${sessionS}%.2fs reps=${repS.map(d => f"$d%.2f").mkString(",")}s " +
      f"warm=${warmS}%.2fs gates=${gateS}%.2fs probe=${probeS * 1000}%.1fms")
    System.err.println("[perfbench] raw: " +
      raw.map { case (key, v) => f"$key=$v%.4g" }.mkString(" "))
    w.close()
    val correct = failed == 0
    val metrics = m.map { case (key, (v, u)) =>
      s""""$key": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$metrics}}"""
  }
}

/** Host-speed probe. This machine's speed drifts by up to 2× over minutes
  * as other tenants load it, and a poll's wall time is mostly Spark's job
  * scheduling floor, which drifts with it. The probe is the smallest Spark
  * job — 8 rows, one task per core — timed before every measured call. It
  * runs no graft code, so a change to graft moves the measured call and not
  * the probe. End-to-end times are reported in reference seconds: raw
  * seconds × RefS ÷ the run's median probe time (and rates by the inverse),
  * i.e. as if the probe had taken RefS, its typical time on the 4-core host
  * the sizes were tuned on. */
object Probe {
  val RefS = 0.05

  def run(spark: SparkSession, cores: Int): Long =
    spark.range(0, 8, 1, cores).count()
}

object Stats {
  /** Median (mean of the middle two for an even count); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
