package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans, the Spark jobs
  * attributed to them and the samples of the isolation pass. A layer that
  * does no work on a workload reports 0. */
object Layers {
  private val Kinds = Seq("delta_poll", "idle_poll", "read")

  def report(m: mutable.LinkedHashMap[String, (Double, String)], ctx: Ctx,
             tr: Tracer, roots: Seq[(String, Span)], ops: Map[String, Main.Op],
             failed: Long, attempted: Long, sessionS: Double, repS: Seq[Double],
             warmS: Double, genS: Seq[Double], probeS: Double): Unit = {
    def med(xs: Iterable[Double]): Double =
      if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def sampled(k: String): Double = med(ctx.samples.getOrElse(k, Nil))
    def rootsOf(kind: String) = roots.collect { case (`kind`, s) => s }
    def children(s: Span) = tr.spans.filter(_.parent == s.id)
    def graftCall(s: Span) = children(s).find(_.name.startsWith("graft."))
    def named(prefix: String) = tr.spans.filter(_.name.startsWith(prefix))

    // graft.sync lifecycle: the poll call against the Spark jobs inside it
    for (k <- Seq("delta_poll", "idle_poll")) {
      val calls = rootsOf(k).flatMap(graftCall)
      m(s"sync.$k.driver_only_s") = (med(calls.map(tr.driverOnlySeconds)), "s")
      m(s"sync.$k.spark_jobs") =
        (med(calls.map(c => tr.jobsUnder(c).size.toDouble)), "count")
    }
    val deltaCalls = rootsOf("delta_poll").flatMap(graftCall)
    val sinkS = ctx.samples.getOrElse("iso.sink_s", Nil)
    m("sync.lifecycle_s") =
      (if (sinkS.isEmpty) 0.0 else med(deltaCalls.map(_.seconds)) - med(sinkS), "s")
    m("sync.rows_extracted_per_row_changed") =
      (sampled("sync.rows_extracted_per_row_changed"), "ratio")

    // sink and source layers, called directly by the isolation pass
    Seq("merge.s" -> "s", "merge.rows_written_per_row_changed" -> "ratio",
      "merge.bytes_written" -> "bytes", "merge.files_written" -> "count",
      "merge.fs_ops" -> "count", "sources.count_range_s" -> "s",
      "sources.range_read_s" -> "s", "sources.read_partitions" -> "count",
      "sinks.upsert_s" -> "s", "sinks.upsert_rows_per_s" -> "rows/s",
      "sinks.ensure_table_s" -> "s", "rollup.state_bytes" -> "bytes")
      .foreach { case (k, u) => m(k) = (sampled(k), u) }

    // rollup maintenance and the derived read
    val applies = named("graft.sync.AggMaintenance.applySliceV2")
      .filter(_.attrs.getOrElse("slice_rows", 0.0) > 0)
    m("rollup.apply_s") = (med(applies.map(_.seconds)), "s")
    m("rollup.bytes_written_per_apply") =
      (med(applies.map(_.attrs("fs.bytes_written"))), "bytes")
    m("rollup.read_derived_s") = (med(named("read.top_derived").map(_.seconds)), "s")

    // reads on the destination: the read call is the root's child span
    val reads = rootsOf("read").flatMap(children).filter(_.name.startsWith("read."))
    def attr(k: String) = reads.map(_.attrs.getOrElse(k, 0.0))
    m("read.input_bytes") =
      (med(reads.map(r => tr.jobsUnder(r).map(_.inputBytes).sum.toDouble)), "bytes")
    m("read.files_read") = (med(attr("files_read")), "count")
    val returned = attr("rows_returned").sum
    m("read.rows_examined_per_row_returned") =
      (if (returned == 0) 0.0 else attr("rows_examined").sum / returned, "ratio")

    // Spark engine work inside each kind of call, per call
    for (k <- Kinds) {
      val js = rootsOf(k).map(r => tr.jobsUnder(r))
      def per(f: JobRec => Double) = med(js.map(_.map(f).sum))
      m(s"spark.$k.executor_run_s") = (per(_.runMs / 1e3), "s")
      m(s"spark.$k.executor_cpu_s") = (per(_.cpuNs / 1e9), "s")
      m(s"spark.$k.gc_s") = (per(_.gcMs / 1e3), "s")
      m(s"spark.$k.tasks") = (per(_.tasks.toDouble), "count")
      m(s"spark.$k.shuffle_write_bytes") = (per(_.shuffleWriteBytes.toDouble), "bytes")
      m(s"spark.$k.spill_bytes") = (per(_.spillBytes.toDouble), "bytes")
    }

    // tracing overhead: traced against untraced iterations of this run
    for (k <- Kinds) {
      val o = ops(k)
      val (t, u) = (med(o.traced), med(o.untraced))
      m(s"e2e.${k}_s_p50.traced") = (t, "s")
      m(s"e2e.${k}_s_p50.untraced") = (u, "s")
      m(s"trace.$k.overhead_frac") = (if (u == 0) 0.0 else t / u - 1, "ratio")
    }

    // set-up parts, generator time, warm-up check and failures
    m("setup.session_s") = (sessionS, "s")
    m("setup.rep_s") = (med(repS), "s")
    m("setup.warm_s") = (warmS, "s")
    m("gen.delta_s") = (med(genS), "s")
    m("host.probe_s") = (probeS, "s")
    val d = ops("delta_poll").all
    val half = d.size / 2
    m("warm.delta_poll_halves_ratio") = (if (half == 0) 0.0
      else med(d.drop(d.size - half)) / med(d.take(half)), "ratio")
    m("ops.failed_op_frac") = (failed.toDouble / attempted, "ratio")
  }
}
