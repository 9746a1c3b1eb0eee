package graft.sync

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-files maintenance for parquet table directories — the op every
  * long-running merge destination needs: each merge/poll rewrite emits one
  * file set per shuffle partition, so file counts grow with merge count,
  * and at 100 TB scan cost is governed by file size (tiny files → footer
  * and open overhead dominates; the vectorized reader wants row groups in
  * the hundreds of MB).
  *
  * Rewrites the table toward `targetBytes` per file through the merge
  * sink's layout-preserving staged rewrite ([[ParquetMergeSink.rewrite]]),
  * committed by its one swap, so a crash mid-compaction never loses the
  * table (the swap's heal runs first on the next merge or compact). With
  * `partitionByCol`, or the single partition column the listing shows,
  * the rewrite hashes rows by the partition column so each hive
  * partition is written by exactly one task → one file per partition
  * (granularity note: a single partition larger than `targetBytes` still
  * compacts to one file — split hot partitions upstream via the merge key
  * bucketing). The table is read with the schema its state record holds
  * ([[DestState]]), inferred only without one. The rewrite keeps the
  * rows and that schema, so the record's MAX and schema stay true and
  * are left as they are. A directory that holds no table (missing, or
  * metadata only) refuses typed.
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
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParquetMergeSink.healDestination(fs, dir)
    val before = if (fs.exists(root)) dataFiles(fs, root) else Nil
    if (before.isEmpty)
      throw graft.core.GraftError.InvalidConfig(
        s"$dir holds no parquet table (missing, or metadata only) — " +
          "nothing to compact")
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, math.ceil(totalBytes.toDouble / targetBytes).toLong).toInt
    val df = ParquetMergeSink.readDestination(spark, dir,
      DestState.parquet(fs, dir).stored)
    val rows = ParquetMergeSink.rewrite(fs, dir,
        dir.stripSuffix("/") + ".__merge_tmp", partitionByCol) {
      case Some(p) => df.repartition(nOut, col(p))
      case None    => df.repartition(nOut)
    }
    CompactResult(rows, before.length, dataFiles(fs, root).length)
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
