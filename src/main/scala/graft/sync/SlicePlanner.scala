package graft.sync

/** Range-partition planning for the extraction scan (SURVEY §2.7 X5,
  * reference utils.py:29-38 + session.py:201-240).
  *
  * The reference splits the watermark keyspace into ~10M-row slices so each
  * unit of work is bounded. Under Spark each slice becomes one read
  * partition (task) instead of a sequential loop iteration; the same
  * arithmetic sizes JDBC `lowerBound/upperBound/numPartitions`.
  *
  * Unlike the reference (§0.2: broken chunk validation, inaccurate final
  * count) bounds are validated and exact.
  */
object SlicePlanner {

  /** The reference's slice size: ~10M rows per unit of work. */
  val TargetRows: Long = 10000000L

  /** Successive `n`-sized inclusive-both-ends pairs tiling [start, end]
    * (reference `intervals`, utils.py:29-38): the last pair is clipped to
    * `end`. Requires start <= end and n > 0 — the reference's documented
    * (but mis-implemented) contract. */
  def intervals(start: Long, end: Long, n: Long): Vector[(Long, Long)] = {
    require(start <= end, s"start ($start) must be <= end ($end)")
    require(n > 0, s"interval size must be positive, got $n")
    val b = Vector.newBuilder[(Long, Long)]
    var lo = start
    while (lo <= end) {
      val hi = if (end - lo < n) end else lo + n - 1
      b += ((lo, hi))
      lo = hi + 1
    }
    b.result()
  }

  /** Watermark-units-per-slice for a target rows-per-slice (reference
    * session.py:236-240: `(max - start) / est_rows * target`). Clamped to
    * >= 1 so a dense keyspace still advances. */
  def sliceLength(start: Long, end: Long, estimatedRows: Long,
                  targetRowsPerSlice: Long = TargetRows): Long = {
    require(end >= start, s"end ($end) must be >= start ($start)")
    if (estimatedRows <= 0) math.max(end - start, 1L)
    else {
      val span = end - start
      val len = (BigInt(span) * targetRowsPerSlice / estimatedRows).toLong
      math.max(len, 1L)
    }
  }

  /** Partition count for a Spark range-partitioned read of [start, end]:
    * `ceil(estRows / target)`, at least 1 — the JDBC `numPartitions`
    * equivalent of the reference's slice list. */
  def numSlices(estimatedRows: Long, targetRowsPerSlice: Long = TargetRows): Int = {
    require(targetRowsPerSlice > 0)
    if (estimatedRows <= 0) 1
    else ((estimatedRows + targetRowsPerSlice - 1) / targetRowsPerSlice)
      .min(Int.MaxValue).toInt
  }
}
