package graft

import graft.ops.PageRank

/** PageRank vs an in-test reference power iteration using the exact same
  * rounding protocol (12-dp HALF_UP per contribution, decimal sum, double
  * update, final 10-dp) — the distributed plan must reproduce the scalar
  * loop bit-for-bit, not approximately. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Scalar reference: directed edges, same arithmetic shape as the op
    * (12-dp HALF_UP contributions, decimal sums, double update; dangling
    * mass as the same decimal sum over out-degree-0 nodes when on). */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
                  damping: Double = 0.85,
                  danglingMass: Boolean = false): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val n = nodes.size
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val dangling = nodes.filterNot(deg.contains)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val sums = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(t => r12(rank(t._1) / deg(t._1))).sum
      }
      val dm = if (danglingMass)
        dangling.map(v => r12(rank(v))).sum.toDouble / n
      else 0.0
      rank = nodes.map { v =>
        v -> ((1.0 - damping) / n +
          damping * (sums.get(v).map(_.toDouble).getOrElse(0.0) + dm))
      }.toMap
    }
    rank.map { case (v, r) =>
      v -> BigDecimal(r).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    PageRank.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("path graph: matches the scalar reference bit-for-bit; symmetry holds") {
    // undirected path 1—2—3 as directed arcs
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val got = run(edges, 5)
    assert(got == ref(edges, 5), s"got $got\nref ${ref(edges, 5)}")
    assert(got(1L) == got(3L), "symmetric endpoints must tie exactly")
    assert(got(2L) > got(1L), "the center of a path outranks the endpoints")
    assert(math.abs(got.values.sum - 1.0) < 1e-6,
      "rank mass is conserved (no dangling nodes by construction)")
  }

  test("star + appendage: hub dominates; in-degree-0 handling via left join") {
    // star 1→{2,3,4} plus back-arcs, and a directed-only arc 5→1 (node 5
    // has NO in-edges: its rank must settle at the base (1-d)/N term path)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 1L), (5L, 1L))
    val got = run(edges, 4)
    assert(got == ref(edges, 4), s"got $got\nref ${ref(edges, 4)}")
    assert(got(1L) > got(2L) && got(2L) == got(3L) && got(3L) == got(4L))
    assert(got(5L) == ref(edges, 4)(5L) && got(5L) < got(2L))
  }

  test("iteration count is part of the contract") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    assert(run(edges, 1) == ref(edges, 1))
    assert(run(edges, 1) != run(edges, 5), "more iterations move the ranks")
  }

  test("dangling mass: redistributed uniformly, conserved; off by default it leaks") {
    // 1→2, 1→3, 2→3: node 3 is DANGLING (no out-edges)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    def total(m: Map[Long, Double]) = m.values.sum
    val leaky = PageRank.pageRank(edges.toDF("src", "dst"), "src", "dst", 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kept = PageRank.pageRank(edges.toDF("src", "dst"), "src", "dst", 5,
        danglingMass = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(leaky == ref(edges, 5), "historical default matches the leaky ref")
    assert(kept == ref(edges, 5, danglingMass = true),
      s"got $kept\nref ${ref(edges, 5, danglingMass = true)}")
    assert(math.abs(total(kept) - 1.0) < 1e-6,
      s"teleport conserves rank mass: ${total(kept)}")
    assert(total(leaky) < 0.9,
      s"without redistribution the dangling node leaks mass: ${total(leaky)}")
    assert(kept(3L) > kept(2L) && kept(2L) > kept(1L),
      "sink node collects the most rank")
  }

  test("converged mode: epsilon-terminated, replayable via the returned count") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L))
    val (df, ran) = PageRank.pageRankConverged(
      edges.toDF("src", "dst"), "src", "dst", tol = 1e-9,
      maxIterations = 100, danglingMass = false)
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ran > 1 && ran < 100, s"should converge before the cap: $ran")
    // the fixed-iteration form with the returned count replays bit-for-bit
    assert(got == run(edges, ran),
      "converged result must equal the fixed-iteration replay")
    // a tighter-than-representable tol hits the cap instead of spinning
    val (_, capped) = PageRank.pageRankConverged(
      edges.toDF("src", "dst"), "src", "dst", tol = 0.0 + Double.MinPositiveValue,
      maxIterations = 3, danglingMass = false)
    assert(capped == 3)
  }

  test("superseded checkpoints are released: one live frame per call") {
    // the r13 variance fix frees a superseded localCheckpoint's RDD blocks
    // via its LogicalRDD the moment the successor materializes; the match
    // is deliberately total (`case _ => ()`), so if a Spark upgrade ever
    // changes the checkpoint plan shape this would silently regress to
    // GC-timed frees — this test makes that loud. A 5-iteration dangling
    // run materializes init + it2 + it4 + it5 + nodes/ed/dangling = 8
    // checkpoints; all but the final rank must be unpersisted by return.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val firedBefore = graft.core.Checkpoints.releasesFired.get
    val missedBefore = graft.core.Checkpoints.releasesMissed.get
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    PageRank.pageRank(edges.toDF("src", "dst"), "src", "dst",
      iterations = 5, danglingMass = true).collect()
    val after = sc.getPersistentRDDs.size
    assert(after <= before + 1,
      s"expected at most one live checkpoint after pageRank, " +
        s"got $before -> $after")
    // and the instrumented counters (what Bench prints as gate evidence)
    // must agree: every release attempt matched the LogicalRDD shape
    assert(graft.core.Checkpoints.releasesFired.get > firedBefore,
      "release counter did not advance — the unpersist never fired")
    assert(graft.core.Checkpoints.releasesMissed.get == missedBefore,
      "release fell through the LogicalRDD match — blocks now free at GC")
  }
}
