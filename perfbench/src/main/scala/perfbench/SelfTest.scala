package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's own machinery: the generator is a pure
  * function of its seed, and the correctness gate catches a dropped, a
  * duplicated and a stale destination row. Returns the process exit code. */
object SelfTest {

  def run(spark: SparkSession, seed: Long): Int = {
    val spec = GenSpec(rows = 2000, deltaRows = 200, updateFrac = 0.5,
      tieRows = 5, accts = 50, cats = 4, payloadBytes = 64)
    def generated(s: Long): (Gen, (Long, BigDecimal)) = {
      val g = new Gen(spark, s, spec)
      g.base(); g.nextDelta(); g.nextDelta()
      (g, Gen.digest(g.history()))
    }
    val (a, da) = generated(seed)
    val (b, db) = generated(seed)
    val (_, dc) = generated(seed + 1)
    val sameSeed = da == db && a.maxTs == b.maxTs && a.liveKeys == b.liveKeys
    val otherSeed = da._2 != dc._2

    val model = Gen.lastWriterWins(a.history()).persist()
    // a key rewritten by a delta, and its older base version
    val updated = a.history().groupBy("id").count().filter(col("count") > 1)
      .select("id").orderBy("id").first().getLong(0)
    val oneRow = model.filter(col("id") === updated)
    val stale = a.history().filter(col("id") === updated)
      .orderBy(col("ts").asc).limit(1)
    val cases = Seq(
      ("exact copy", model, true),
      ("dropped row", model.filter(col("id") =!= updated), false),
      ("duplicated row", model.unionByName(oneRow), false),
      ("stale row", model.filter(col("id") =!= updated).unionByName(stale), false))
    val gateOk = cases.map { case (name, actual, shouldPass) =>
      val (missing, extra) = Workload.compare(model, actual)
      val passed = missing == 0 && extra == 0
      val ok = passed == shouldPass
      println(s"selftest gate, $name: missing $missing, unexpected $extra -> " +
        (if (passed) "passes" else "caught") + (if (ok) "" else "  WRONG"))
      ok
    }.forall(identity)
    println(s"selftest generator, same seed identical: $sameSeed")
    println(s"selftest generator, other seed differs: $otherSeed")
    val ok = sameSeed && otherSeed && gateOk
    println(if (ok) "selftest OK" else "selftest FAILED")
    if (ok) 0 else 1
  }
}
