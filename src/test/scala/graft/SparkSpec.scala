package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite, SURVEY §5.2). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    graft.core.GraftSession.builder("graft-test", "local[4]", 4).getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started by `body` on this thread, counted through a job
    * group: AQE submits stages from other threads, but they inherit the
    * group, and jobs of anything else running in the session do not. */
  def jobsIn[A](body: => A): (A, Int) = {
    val group = s"job-cost-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val a = body
      org.apache.spark.graftshim.ListenerBusAccess.drain(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
