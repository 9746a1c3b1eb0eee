package graft.core

import org.apache.spark.sql.DataFrame

/** Explicit release of `localCheckpoint` blocks, for PageRank's
  * iteration cuts and the query layer. A localCheckpoint's blocks are
  * otherwise freed only when JVM GC collects the dataset reference, so
  * frames checkpointed inside queries that re-run in one session (the
  * bench's min-of-3 loop) accumulate block-manager pressure and make run
  * cost depend on GC timing (the r12 e9d variance, the r18 advice on the
  * a10/a18/t14 equality pins). Call [[release]] the moment nothing will
  * read the frame again: a localCheckpoint has no lineage to recompute
  * from, so a released frame is GONE. */
object Checkpoints {

  /** "Did the unpersist actually fire in THIS session" stays a checkable
    * fact (Bench prints both counters after the run). A
    * miss means the frame's plan was not the expected checkpoint
    * LogicalRDD (e.g. a Spark upgrade changed the shape) and the free
    * silently regressed to GC timing. */
  private[graft] val releasesFired = new java.util.concurrent.atomic.AtomicLong
  private[graft] val releasesMissed = new java.util.concurrent.atomic.AtomicLong

  /** Free a localCheckpoint'd frame's blocks NOW instead of at GC. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
      releasesFired.incrementAndGet(); ()
    case _ => releasesMissed.incrementAndGet(); ()
  }
}
