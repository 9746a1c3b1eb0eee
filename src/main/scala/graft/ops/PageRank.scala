package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoints

/** Iterative PageRank over an edge table — the graph-centrality layer on
  * top of the near-dup/interaction graphs the engine already builds
  * ([[graft.ext.DupClusters]] gives components; this ranks WITHIN the
  * graph, e.g. picking the most-connected canonical doc of a duplicate
  * cluster, or weighting suppliers by how central their part overlap is).
  *
  * Fixed-iteration damped power method: r₀ = 1/N;
  * rₖ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rₖ(u)/deg(u) + D_k/N), where D_k is the
  * total rank mass sitting on DANGLING nodes (out-degree 0) at step k —
  * redistributed uniformly, the standard random-surfer teleport. With
  * `danglingMass = false` (the historical default) the D_k term is
  * omitted; that is only mass-conserving when every node has out-degree
  * ≥ 1 (an undirected graph encoded as both directed arcs satisfies
  * this), and callers with genuinely directed graphs should pass
  * `danglingMass = true`. No convergence test in this form — a fixed
  * iteration count is what makes the result EXACTLY reproducible (and
  * oracle-checkable: the gate SQL unrolls the same iterations as chained
  * CTEs). [[pageRankConverged]] is the ε-terminated variant with an
  * iteration cap for callers who want steady state over replayability.
  *
  * Cross-engine determinism (the e4p discipline): each edge contribution
  * `rank/deg` is one double division (identical shape both engines),
  * rounded to 12 dp and fixed BEFORE the per-target sum — exact and
  * order-free, so the reduction order Spark's shuffle picks can never
  * change a bit. Spark carries the fixed quantum as a LONG in 1e-12
  * units (8-byte shuffle rows, codegen'd integer adds — see
  * [[toFixedLong]]'s bit-exactness proof) while the oracle states the
  * same arithmetic as DECIMAL(28,12) sums; the two encodings are the
  * same integers. The dangling mass D_k is the same 12-dp-round +
  * fixed-point sum over the dangling nodes' ranks (order-free again),
  * and the per-iteration update is then one double expression of those
  * exact sums.
  *
  * Shape per iteration: one broadcast-or-shuffle equi-join of the rank
  * table (N rows) onto the edge table (E rows, pre-joined ONCE with
  * out-degrees and checkpointed), one target-keyed aggregation, one left
  * join back onto the node table for in-degree-0 nodes; with dangling
  * redistribution, plus one anti-join + scalar DECIMAL aggregation whose
  * single row broadcasts onto the update (the one-row broadcast-totals
  * pattern — never a driver collect inside the loop). Rank tables are
  * localCheckpoint'd on an every-other cadence — constant-depth plans
  * instead of a k-deep lineage (the classic iterative-Spark trap) — and
  * every superseded checkpoint's blocks are RELEASED the moment its
  * successor is materialized (`Checkpoints.release`), so a call leaves
  * exactly one cached frame behind instead of one per cut: deterministic
  * block-manager footprint, deterministic run cost (the r12 e9d
  * bench-variance fix).
  * Everything keys on node id; no driver-side loops over data, only over
  * ITERATIONS.
  *
  * @param edges directed edge table
  * @return node, rank (after `iterations` updates, 10-dp rounded)
  */
object PageRank {

  /** Per-iteration shared state: node table, checkpointed edge⋈degree,
    * node count, and (when dangling redistribution is on) the fixed
    * dangling-node table — the dangling SET never changes across
    * iterations, only its mass does. */
  private final case class Graph(nodes: DataFrame, ed: DataFrame, n: Long,
                                 dangling: Option[DataFrame]) {
    /** Release the shared per-iteration frames once the final rank is
      * materialized — see [[PageRank.eager]]. */
    def release(): Unit = {
      Checkpoints.release(nodes); Checkpoints.release(ed)
      dangling.foreach(Checkpoints.release)
    }
  }

  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
                      danglingMass: Boolean): Graph = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct()
    val nodes = eager(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct())
    val n = nodes.count()
    val deg = e.groupBy("__src").agg(count(lit(1)).as("__deg"))
    // edge ⋈ degree once; every iteration reuses this materialized frame
    val ed = eager(e.join(deg, "__src"))
    val dangling = if (danglingMass)
      Some(eager(nodes.join(deg.select(col("__src").as("node")), Seq("node"),
        "left_anti")))
    else None
    Graph(nodes, ed, n, dangling)
  }

  /** Node-count bound under which the rank table is broadcast into the
    * edge join. A checkpointed rank frame reports the DEFAULT size
    * estimate (effectively infinite), so without the hint Catalyst
    * sort-merge-joins the E-row edge table against the N-row rank table
    * EVERY iteration — re-shuffling the edges k times. N is known
    * exactly (counted once in [[prepare]]), so the decision is made from
    * real cardinality, not a stats guess: ≤ 2M nodes ≈ ≤ ~32 MB of
    * (id, rank) pairs — comfortably a broadcast; above it the join
    * falls back to shuffle, which is the right plan for a graph whose
    * rank table doesn't fit an executor. Measured at the sf0.1 gate
    * graph (21k nodes, 1M arcs): the broadcast path cuts e9d 12.3 s →
    * 4.7 s (~2.6×); the ×100 stress graph (10M nodes) stays on the
    * shuffle path by this bound, as it must. */
  val BroadcastNodeLimit: Long = 2000000L

  /** The contribution/dangling-mass fixed point in 1e-12 units, as a
    * LONG. Bit-exact vs the former decimal(28,12) chain, proven step by
    * step (guide §2.3 narrower types — the per-iteration exchange carries
    * 8-byte inline longs whose partial sums aggregate in codegen'd long
    * adds, instead of variable-length BigDecimal buffers — and the
    * per-edge conversion is pure double arithmetic, no BigDecimal op; a
    * first cut via `cast(decimal(16,12)) * 10^12` was measured ×1.5
    * SLOWER at the ×100 stress graph — a JavaBigDecimal multiply per edge
    * traded exchange bytes for map CPU):
    *  1. `round(c, 12)` (shared with the old chain) yields the double r
    *     nearest the true 12-dp decimal R = I·10⁻¹², and the old
    *     double→decimal(…,12) cast recovered exactly I (r's shortest
    *     decimal form IS R: any shorter string differs by ≥ 10⁻¹¹ ≫
    *     ulp(r), so it parses to a different double);
    *  2. `floor(r·1e12 + 0.5)` recovers the SAME I in pure doubles:
    *     R ≤ ~1, so I = R·10¹² ≤ ~10¹² is exactly representable, and
    *     fl(r·1e12) = I + δ with |δ| ≤ |r−R|·10¹² + ulp(10¹²)/2 ≤
    *     1.1e-4 + 6.1e-5 ≪ 0.5 — the +0.5/floor therefore lands on I
    *     exactly, and the long cast of an exact ≤2^53 integer is exact;
    *  3. sums are exact integer arithmetic in both encodings, and total
    *     rank mass ≤ ~1 bounds every sum below 2^53 ≪ Long.Max — no
    *     overflow, and the long→double conversion below stays exact;
    *  4. the read-out divides the exactly-converted sum by the exactly-
    *     representable double 1e12: ONE correctly-rounded operation on the
    *     same rational I/10^12 the old Decimal.toDouble produced (JDK
    *     BigDecimal.doubleValue is correctly rounded) — bit-identical.
    * Oracle-pinned empirically on top of the proof: e9d/e9d2 hash-match
    * the unchanged DuckDB decimal chain. */
  private def toFixedLong(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    floor(round(c, 12) * lit(1e12) + lit(0.5)).cast("long")
  private def fromFixedLong(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    c.cast("double") / lit(1e12)

  /** One damped power-method update of `rank` over `g`. */
  private def step(g: Graph, rank: DataFrame, damping: Double): DataFrame = {
    val base = lit((1.0 - damping) / g.n)
    val rankSide = if (g.n <= BroadcastNodeLimit) broadcast(rank) else rank
    val contrib = g.ed.join(rankSide, g.ed("__src") === rankSide("node"))
      .select(col("__dst"), toFixedLong(col("rank") / col("__deg")).as("__c"))
    val sums = contrib.groupBy(col("__dst").as("node"))
      .agg(sum(col("__c")).as("__s"))
    // nodes ⋈ sums stays a shuffle join DELIBERATELY: broadcasting sums
    // was measured SLOWER at the gate graph (e9d min 4.7 → 5.9 s) — the
    // per-iteration driver collect + broadcast build serializes the
    // pipeline, while the N-row exchange+sort is cheap and overlaps the
    // contrib aggregation it follows.
    val joined = g.nodes.join(sums, Seq("node"), "left")
    g.dangling match {
      case None =>
        joined.select(col("node"),
          (base + lit(damping) *
            fromFixedLong(coalesce(col("__s"), lit(0L)))).as("rank"))
      case Some(dang) =>
        // D_k: exact order-free fixed-point sum of the dangling ranks; ONE
        // row, broadcast onto every node's update (in-plan — no driver
        // action inside the iteration loop). rankSide: both inputs are
        // checkpointed (no usable size estimate), so the plain join
        // sort-merge-joined two N-row frames per iteration — under the
        // node bound the rank table broadcasts and dang streams.
        val dm = dang.join(rankSide, "node")
          .agg(coalesce(sum(toFixedLong(col("rank"))), lit(0L)).as("__dm"))
        joined.crossJoin(broadcast(dm))
          .select(col("node"),
            (base + lit(damping) *
              (fromFixedLong(coalesce(col("__s"), lit(0L))) +
                fromFixedLong(col("__dm")) / lit(g.n.toDouble))).as("rank"))
    }
  }

  /** One UN-TRUNCATED damped update over `edges`' prepared graph — the
    * per-iteration STEP plan for the plan-evidence tools (PlanDump/
    * PlanCheck): [[pageRank]]'s final plan roots at a localCheckpoint by
    * construction, so the per-iteration join strategies (edge⋈rank
    * broadcast under the node bound, the deliberate nodes⋈sums
    * sort-merge, the r18 dangling-join broadcast) are visible only here.
    * Tool-only: the prepare/rank checkpoints it makes are released by GC
    * after the explain (no bench loop runs this). */
  private[graft] def stepPlan(edges: DataFrame, srcCol: String,
                              dstCol: String,
                              danglingMass: Boolean): DataFrame = {
    val g = prepare(edges, srcCol, dstCol, danglingMass)
    val rank = eager(g.nodes.select(col("node"), lit(1.0 / g.n).as("rank")))
    step(g, rank, damping = 0.85)
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85,
               danglingMass: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val g = prepare(edges, srcCol, dstCol, danglingMass)
    var rank = eager(g.nodes.select(col("node"), lit(1.0 / g.n).as("rank")))
    // superseded materialized frames, RELEASED as soon as their successor
    // is materialized: localCheckpoint blocks can only be freed by JVM
    // GC, so repeated calls in one session (the bench's min-of-3 loop)
    // accumulated block-manager pressure and made run cost depend on GC
    // timing — the r12 e9d min-vs-median variance. persist+count gives
    // the same eager materialization with a deterministic release point;
    // only the FINAL rank frame stays cached for the caller.
    var live: List[DataFrame] = List(rank)
    for (it <- 1 to iterations) {
      rank = step(g, rank, damping)
      // materialize every SECOND iteration (and at the end): a 2-deep
      // join-agg plan optimizes fine, while an eager cut per iteration
      // doubles the fixed job count — measured 12.2 s → the every-other
      // cadence at the sf0.1 gate graph
      if (it % 2 == 0 || it == iterations) {
        rank = eager(rank)
        live.foreach(Checkpoints.release); live = List(rank)
      }
    }
    g.release()
    rank.select(col("node"), round(col("rank"), 10).as("rank"))
  }

  /** Eager lineage cut. localCheckpoint is the right primitive for an
    * iterative loop (it TRUNCATES the plan — a persist keeps the k-deep
    * lineage and the plan/CacheManager cost grows with the iteration
    * count, measured as an explain-string OOM at pageRankConverged's
    * 50-iteration cap), but its blocks are only freed by JVM GC of the
    * dataset reference — so repeated calls in one session (the bench's
    * min-of-3 loop) accumulated block-manager pressure and made run cost
    * depend on GC timing (the r12 e9d min-vs-median variance).
    * `Checkpoints.release` is the missing half: an explicit unpersist of the checkpointed RDD
    * behind a frame, called the moment its successor is materialized. */
  private def eager(df: DataFrame): DataFrame = df.localCheckpoint()

  /** ε-CONVERGENCE mode: iterate until max |rₖ₊₁ − rₖ| < `tol` or
    * `maxIterations` is hit, whichever first. The termination test costs
    * one extra node-keyed join + scalar aggregation per iteration (a
    * bounded driver action — the price of a data-dependent stop), so the
    * fixed-iteration [[pageRank]] stays the gate/replay form; this is the
    * steady-state form for production ranking where the caller wants
    * "converged" rather than "k steps". The iteration count it ran is
    * returned so callers can REPLAY the exact result via
    * `pageRank(..., iterations = ranIterations)` WITH THE SAME
    * `danglingMass` setting — the two entry points share the step
    * function AND their defaults, so an argument-for-argument replay is
    * bit-identical (a replay that flips danglingMass is a different
    * recurrence and silently diverges on any graph with dangling nodes).
    *
    * @return (node/rank frame — 10-dp rounded, iterations actually run) */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
                        tol: Double, maxIterations: Int = 50,
                        damping: Double = 0.85,
                        danglingMass: Boolean = false): (DataFrame, Int) = {
    require(tol > 0, s"tol must be positive: $tol")
    require(maxIterations >= 1, s"maxIterations must be >= 1: $maxIterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val g = prepare(edges, srcCol, dstCol, danglingMass)
    var rank = eager(g.nodes.select(col("node"), lit(1.0 / g.n).as("rank")))
    var it = 0
    var converged = false
    while (it < maxIterations && !converged) {
      val next = eager(step(g, rank, damping))
      val delta = next
        .join(rank.select(col("node"), col("rank").as("__prev")), "node")
        .agg(max(abs(col("rank") - col("__prev")))).first().getDouble(0)
      Checkpoints.release(rank) // delta consumed it; only `next` stays live
      rank = next
      it += 1
      if (delta < tol) converged = true
    }
    g.release()
    (rank.select(col("node"), round(col("rank"), 10).as("rank")), it)
  }
}
