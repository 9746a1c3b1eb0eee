package graft.sync

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-files maintenance for parquet table directories — the op every
  * long-running merge destination needs: each merge/poll rewrite emits one
  * file set per shuffle partition, so file counts grow with merge count,
  * and at 100 TB scan cost is governed by file size (tiny files → footer
  * and open overhead dominates; the vectorized reader wants row groups in
  * the hundreds of MB).
  *
  * Rewrites the table toward `targetBytes` per file and commits via the
  * merge sink's atomic stage-and-swap, so a crash mid-compaction never
  * loses the table (healed by `recoverInterruptedSwap` on the next merge
  * or compact). Partition layout is preserved: with `partitionByCol` the
  * rewrite hashes rows by the partition column so each hive partition is
  * written by exactly one task → one file per partition (granularity note:
  * a single partition larger than `targetBytes` still compacts to one
  * file — split hot partitions upstream via the merge key bucketing).
  */
object Compact {

  /** Default output file size — the single source for CLI and API. */
  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** @param rows        rows the rewrite wrote, counted by its write job.
    * @param filesBefore data files before the rewrite.
    * @param filesAfter  data files after it. */
  final case class CompactResult(rows: Long, filesBefore: Int, filesAfter: Int)

  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = DefaultTargetBytes,
              partitionByCol: Option[String] = None): CompactResult = {
    require(targetBytes > 0, "targetBytes must be positive")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParquetMergeSink.recoverInterruptedSwap(fs, dir)
    val before = dataFiles(fs, new Path(dir))
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, math.ceil(totalBytes.toDouble / targetBytes).toLong).toInt
    val df = spark.read.parquet(dir)
    val tmp = dir.stripSuffix("/") + ".__merge_tmp"
    // an omitted partitionByCol must not FLATTEN a partitioned table: the
    // layout is detectable from the listing, so auto-preserve it (and
    // refuse a foreign multi-column layout rather than guess)
    val effPart = partitionByCol.orElse {
      ParquetMergeSink.partitionColsOf(fs, dir) match {
        case Seq()  => None
        case Seq(p) => Some(p)
        case many => throw graft.core.GraftError.InvalidConfig(
          s"$dir carries multiple partition column layouts " +
            s"(${many.mkString(", ")}) — not a merge-sink table; refusing " +
            "to compact it")
      }
    }
    val rows = effPart match {
      case Some(p) =>
        ParquetMergeSink.countedWrite(df.repartition(nOut, col(p)))(
          _.write.mode(SaveMode.Overwrite).partitionBy(p).parquet(tmp))
      case None =>
        ParquetMergeSink.countedWrite(df.repartition(nOut))(
          _.write.mode(SaveMode.Overwrite).parquet(tmp))
    }
    ParquetMergeSink.atomicSwap(fs, dir, tmp)
    CompactResult(rows, before.length, dataFiles(fs, new Path(dir)).length)
  }

  /** Non-hidden data files under `p`, recursively (skips `_SUCCESS`,
    * `_temporary`, dotfiles — the same visibility rule as the merge).
    * Only path segments BELOW the table root count: listFiles returns
    * fully-qualified paths (`file:/...`), so the root must be qualified the
    * same way before stripping, or a dot/underscore ancestor directory
    * (e.g. `/home/u/.cache/tbl`) would hide every file. */
  private def dataFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val root = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(root)
      val segs = rel.split("/")
      if (!segs.exists(s => s.startsWith("_") || s.startsWith(".")))
        out += st
    }
    out.result()
  }
}
