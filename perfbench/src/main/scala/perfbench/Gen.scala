package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shape of one generated table and the deltas appended to it.
  *
  * @param rows        base rows (keys 0 until rows)
  * @param deltaRows   rows per delta
  * @param updateFrac  share of a delta that rewrites existing keys; the rest
  *                    are new keys
  * @param tieRows     new-key rows per delta stamped with the previous
  *                    maximum watermark (re-read by the inclusive lower bound)
  * @param accts       distinct `acct` values (the rollup's group count)
  * @param cats        distinct `cat` values
  * @param payloadBytes length of the `payload` string (hex, at most 64) */
final case class GenSpec(rows: Long, deltaRows: Long, updateFrac: Double,
                         tieRows: Long, accts: Int, cats: Int,
                         payloadBytes: Int) {
  require(rows > 0 && deltaRows > 0 && payloadBytes > 0 && payloadBytes <= 64)
  require(updateFrac >= 0 && updateFrac <= 1)
  val updateRows: Long = math.round(deltaRows * updateFrac)
  require(tieRows <= deltaRows - updateRows, "tie rows are new keys")
}

/** Deterministic seeded generator of a keyed, watermarked table.
  *
  * Every column is a hash of (seed, round, row index), so the same seed
  * yields the same rows whatever the partitioning, and the generator's
  * state after k deltas is a pure function of (seed, spec, k). Columns:
  * `id` (key), `ts` (numeric watermark), `acct`, `cat`, `amount`, `payload`.
  *
  * A delta of round r rewrites `updateRows` existing keys chosen with a
  * Zipf(s≈1) skew (log-uniform rank, scattered over the key space by a
  * prime-stride permutation, so a hot key may appear twice in one delta)
  * and adds new keys. Delta watermarks are strictly above the previous
  * maximum, except `tieRows` new keys that land exactly on it. */
final class Gen(spark: SparkSession, val seed: Long, val spec: GenSpec) {
  import Gen._

  private var rounds = 0
  private var keys = spec.rows
  private var hiTs = 0L
  /** Each delta with the maximum watermark before it. */
  private var deltas = Vector.empty[(DataFrame, Long)]

  /** Keys generated so far (every key stays live: there are no deletes). */
  def liveKeys: Long = keys
  /** Largest watermark generated so far. */
  def maxTs: Long = hiTs

  private def u(round: Int, salt: Int, idx: Column): Column =
    xxhash64(lit(seed), lit(round), lit(salt), idx)
      .bitwiseAND(lit(Mask53)).cast("double") / lit(Two53)

  private def payloadCols(round: Int, idx: Column): Seq[Column] = Seq(
    floor(u(round, 2, idx) * spec.accts).cast("int").as("acct"),
    concat(lit("c"), floor(u(round, 3, idx) * spec.cats).cast("int")
      .cast("string")).as("cat"),
    (floor(u(round, 4, idx) * 1000000.0) / 100.0).as("amount"),
    substring(sha2(concat_ws(":", lit(seed), lit(round), idx.cast("string")),
      256), 1, spec.payloadBytes).as("payload"))

  /** The base table: `rows` keys with watermarks spread over
    * [T0, T0 + 10·rows). Resets the generator state. */
  def base(): DataFrame = {
    rounds = 0
    keys = spec.rows
    deltas = Vector.empty
    val df = baseFrame
    hiTs = df.agg(max("ts")).first().getLong(0)
    df
  }

  private def baseFrame: DataFrame =
    spark.range(0, spec.rows, 1, BasePartitions).select(
      (col("id") +: (floor(u(0, 1, col("id")) * (spec.rows * 10.0))
        .cast("long") + lit(T0)).as("ts") +: payloadCols(0, col("id"))): _*)

  /** The next delta; advances the generator state. */
  def nextDelta(): DataFrame = {
    require(hiTs > 0, "base() must come first")
    rounds += 1
    val r = rounds
    val k0 = keys
    val ts0 = hiTs
    val j = col("id")
    val nu = spec.updateRows
    // log-uniform rank in [0, k0): P(rank) ∝ 1/rank, i.e. Zipf with s≈1
    val rank = least(floor(exp(u(r, 5, j) * math.log(k0.toDouble)))
      .cast("long") - 1L, lit(k0 - 1))
    val updatedKey = pmod(rank * lit(Stride), lit(k0))
    val newIdx = j - lit(nu)
    val df = spark.range(0, spec.deltaRows, 1, 1).select(
      (when(j < nu, updatedKey).otherwise(newIdx + lit(k0)).as("id") +:
        when(j >= nu && newIdx < spec.tieRows, lit(ts0))
          .otherwise(j + lit(ts0 + 1)).as("ts") +:
        payloadCols(r, j)): _*)
    keys = k0 + spec.deltaRows - nu
    hiTs = ts0 + spec.deltaRows
    deltas :+= (df -> ts0)
    df
  }

  /** Distinct keys written with a watermark above `ts`. */
  def keysChangedAfter(ts: Long): Long =
    history().filter(col("ts") > ts).select("id").distinct().count()

  /** Every row generated so far, base and deltas; without `lateTies`, less
    * the tie rows that landed on an earlier delta's maximum watermark. */
  def history(lateTies: Boolean = true): DataFrame =
    deltas.foldLeft(baseFrame) { case (h, (d, ts0)) =>
      h.unionByName(if (lateTies) d else d.filter(col("ts") > ts0))
    }
}

object Gen {
  val T0 = 1000000000L
  private val Mask53 = (1L << 53) - 1
  private val Two53 = (1L << 53).toDouble
  /** Prime stride of the key permutation; larger than any key count here. */
  private val Stride = 1000003L
  private val BasePartitions = 4

  /** Last writer wins: each key's row with the highest watermark. Delta
    * watermarks are unique per row, so there is never a tie on one key. */
  def lastWriterWins(history: DataFrame): DataFrame =
    history
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("ts").desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Order-independent digest of a frame: (rows, sum of row hashes). */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).first()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
