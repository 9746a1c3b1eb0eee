package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds (fractional), on the
  * same clock as Spark's job events. `attrs` carries the counts recorded at
  * the span's boundary (file-system deltas, rows, bytes). */
final class Span(val id: Long, val name: String, val parent: Long,
                 val poll: Long, val start: Double) {
  var end: Double = start
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1000.0
}

/** Executor-side work of one Spark job, summed over its tasks. */
final class JobRec(val id: Int, val group: String, val start: Double) {
  var end: Double = start
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** Attributes Spark jobs to the enclosing benchmark span: every span sets
  * a job group named after itself, and each job's group is read back from
  * its start event. Task metrics are folded into their job. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val j = new JobRec(e.jobId, group, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toVector)
}

/** Hadoop FileSystem statistics summed over every scheme. Local-mode
  * executors run in this JVM, so a before/after delta around a call covers
  * its tasks' I/O as well as the driver's. */
final case class FsStats(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats =
    FsStats(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  @annotation.nowarn("cat=deprecation")
  def now(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala
    FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Span recorder. Disabled, `span` runs its body and records nothing.
  * Spans are kept in memory and written out once, at the end of the run. */
final class Tracer(sc: SparkContext) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private var nextId = 0L
  private var stack = List.empty[Span]
  private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new JobListener

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  def enabled: Boolean = on
  /** The job listener is registered on first enabling, so an untraced run
    * carries no listener at all. */
  def enabled_=(v: Boolean): Unit = {
    if (v && !registered) { sc.addSparkListener(listener); registered = true }
    on = v
  }
  private var registered = false

  private def group(s: Span) = s"perfbench-span-${s.id}"

  /** Run `body` inside a span `name` of poll `poll`; `body` may add counts
    * to the span's attrs (it gets null when tracing is off). The parent's
    * job group is restored on exit. */
  def span[A](name: String, poll: Long)(body: Span => A): A =
    if (!on) body(null)
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id), poll,
        nowMs)
      stack = s :: stack
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      val fs0 = FsStats.now()
      try body(s)
      finally {
        s.end = nowMs
        val d = FsStats.now() - fs0
        s.attrs("fs.bytes_read") = d.bytesRead.toDouble
        s.attrs("fs.bytes_written") = d.bytesWritten.toDouble
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        spans += s
      }
    }

  /** Wait until every posted listener event is delivered. */
  def drain(): Unit = org.apache.spark.graftshim.ListenerBusAccess.drain(sc)

  /** Spark jobs run inside `s` or any span below it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = descendants(s).map(_.id).toSet + s.id
    listener.all.filter(j => ids.exists(i => j.group == s"perfbench-span-$i"))
  }

  private def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** The span's wall time not covered by any Spark job run inside it. */
  def driverOnlySeconds(s: Span): Double = {
    val iv = jobsUnder(s).map(j => (math.max(j.start, s.start),
      math.min(j.end, s.end))).filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** The span's wall time minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Spans and their Spark jobs as JSON lines. Jobs become child spans
    * named `spark.job` carrying their task metrics. */
  def write(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    try {
      spans.sortBy(_.id).foreach { s =>
        val a = (s.attrs + ("self_s" -> selfSeconds(s)))
          .map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")
        out.println(s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, """ +
          s""""poll": ${s.poll}, "start_ms": ${s.start}, "end_ms": ${s.end}, "attrs": {$a}}""")
      }
      listener.all.foreach { j =>
        val parent = j.group.stripPrefix("perfbench-span-")
        if (parent.nonEmpty && parent.forall(_.isDigit))
          out.println(s"""{"name": "spark.job", "job": ${j.id}, "parent": $parent, """ +
            s""""start_ms": ${j.start}, "end_ms": ${j.end}, "attrs": {"tasks": ${j.tasks}, """ +
            s""""executor_run_ms": ${j.runMs}, "executor_cpu_ns": ${j.cpuNs}, """ +
            s""""gc_ms": ${j.gcMs}, "shuffle_write_bytes": ${j.shuffleWriteBytes}, """ +
            s""""spill_bytes": ${j.spillBytes}, "input_bytes": ${j.inputBytes}, """ +
            s""""input_records": ${j.inputRecords}}}""")
      }
    } finally out.close()
  }
}
