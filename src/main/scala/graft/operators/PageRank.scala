package graft.operators

import graft.MaterializedCaches.persisting
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in BIGINT fixed-point arithmetic.
  *
  * Why integer: a double-summed rank would make the result depend on
  * Spark's (and DuckDB's) aggregation order — the repo-wide oracle gate
  * compares exact values, and 100 TB runs should be bit-reproducible
  * run-to-run too. All arithmetic is BIGINT with floor division
  * (`div`), so every engine computes the identical lattice:
  *
  *   r0(v)   = SCALE                       (= 1.0 in fixed-point)
  *   r_i(v)  = (15*SCALE)/100 + (85 * Σ_u→v  r_{i-1}(u) div deg(u)) / 100
  *
  * i.e. the standard d=0.85 update with per-term floors. Overflow bound
  * (worst case — a star graph concentrating the entire mass on one
  * node): total rank mass stays ≤ N*SCALE, so `85 * Σ` needs
  * `85*N*SCALE < 2^63` → N < ~1.08e5 nodes at SCALE=1e12, ~1.08e8 at
  * 1e9, ~1.08e11 at 1e6. Rank resolution trades off against node
  * count, and `run` AUTO-STEPS the resolution down in power-of-10
  * notches until the bound holds (rejecting only graphs beyond the
  * 1e6-resolution floor) — never a silent overflow (Spark ANSI mode
  * would throw, not wrap) and never a hard abort on a graph that a
  * coarser lattice handles fine.
  *
  * Iteration mechanics: unlike [[Dedup.connectedComponents]] (whose
  * label table feeds each round twice — join + change count — doubling
  * the plan per round), the rank table appears exactly once per round,
  * so the un-checkpointed plan grows LINEARLY and short fixed-iteration
  * runs are best left as one query: AQE then sees every round's shuffle
  * statistics and broadcast-converts the rank side of each join at
  * runtime (a localCheckpoint would erase those stats and force
  * sort-merge joins). Long runs still need truncation — driver-side
  * plan/optimizer cost per round grows with depth — so `run` fuses
  * [[RoundsPerCheckpoint]] rounds into each [[Iterate]] round (one
  * checkpoint per block, previous block released), not checkpoint-always.
  * Per round the cost is one join + one aggregate — and with the degree
  * pre-join + dst-partitioned edge cache + size-gated rank broadcast
  * below, the round collapses to scan + project + aggregate with no
  * exchange at all (the Pregel shape, declared in DataFrames so AQE
  * still re-plans skew when the graph outgrows the broadcast gate).
  */
object PageRank {

  val Scale = 1000000000000L // 1e12: rank 1.0 in fixed-point

  /** Rank tables below this node count ride a broadcast each round (24 B
    * a row ⇒ ~120 MB at the limit); larger graphs fall back to a shuffle
    * join. The gate is on the MEASURED node count — never a blind hint
    * (a hint would OOM the moment the graph outgrows the driver).
    */
  val BroadcastNodeLimit = 5000000L

  /** PageRank rounds fused into one checkpointed [[Iterate]] round. */
  private val RoundsPerCheckpoint = 8

  /** edges: (src: BIGINT, dst: BIGINT), already symmetrized if the graph
    * is undirected; every node must appear as a src (guaranteed for
    * symmetrized graphs — dangling-node mass handling is out of scope
    * and rejected loudly below). Returns (node, r) after `iters` rounds.
    *
    * `seed`: None = standard PageRank (uniform 15% jump to every node);
    * Some(v) = PERSONALIZED PageRank — all initial mass and all restart
    * mass concentrate on `v`, so ranks measure proximity to the seed
    * (random walk with restart). Same integer lattice, same iteration
    * mechanics; total mass is bounded by one node's worth (≤ scale), so
    * the overflow notches are if anything conservative.
    *
    * `prebuilt`: optionally the (degree table (src, d), degree-pre-joined
    * dst-partitioned edge table (src, dst, d)) pair, when the caller
    * maintains them as materialized artifacts shared across several
    * seeded/unseeded runs over one graph (the Bench/production posture —
    * building them is the extraction job's cost, not each query's).
    * When supplied they are caller-owned: `run` neither persists nor
    * unpersists them.
    */
  def run(edges: DataFrame, iters: Int,
      validate: Boolean = true, scale: Long = Scale,
      seed: Option[Long] = None,
      prebuilt: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(scale >= 1000000L, "scale below 1e6 leaves too little rank resolution")
    prebuilt.fold {
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      // degree pre-joined once and the result partitioned by dst: with
      // the rank side broadcast, every round is then scan + project +
      // aggregate with NO exchange (broadcast joins preserve the cached
      // partitioning, which already satisfies the aggregate's required
      // distribution)
      val e2 = edges.join(deg, "src").select(col("src"), col("dst"), col("d"))
        .repartition(col("dst"))
      persisting(deg, e2)(iterate(deg, e2, iters, validate, scale, seed))
    } { case (deg, e2) => iterate(deg, e2, iters, validate, scale, seed) }
  }

  /** [[run]]'s rounds over the degree table and the degree-pre-joined
    * edge table.
    */
  private def iterate(deg: DataFrame, e2: DataFrame, iters: Int,
      validate: Boolean, scale: Long, seed: Option[Long]): DataFrame = {
    val nNodes = deg.count()
    // overflow safety WITHOUT a hard abort: the worst case (a star graph
    // concentrating the whole mass on one node) needs 85*N*scale < 2^63.
    // Rather than rejecting large graphs, automatically step the
    // fixed-point resolution down (in power-of-10 notches, so small-graph
    // results are bit-stable as a graph grows toward a notch) until the
    // bound holds; only graphs beyond the 1e6-resolution floor
    // (~1.08e11 nodes) are rejected. Callers needing a pinned lattice
    // (e.g. the oracle-gated query, whose DuckDB twin hardcodes 1e12)
    // stay below the first notch by construction.
    var eff = scale
    while (eff > 1000000L && nNodes >= Long.MaxValue / (85L * eff)) eff /= 10L
    require(nNodes < Long.MaxValue / (85L * eff),
      s"$nNodes nodes overflows 85*N*scale even at the 1e6 resolution floor")
    val jump = 15L * eff / 100L
    if (validate) {
      // dangling check: a dst that never occurs as src would silently
      // leak rank mass; symmetrized inputs can't trigger this (callers
      // whose construction proves symmetry pass validate=false), a
      // directed graph wired in by mistake fails loudly instead of
      // converging wrong. Left-anti against the small degree table —
      // not except(), which would pay a distinct of the edge list first.
      val dangling = e2.select(col("dst").as("src"))
        .join(deg.select(col("src")), Seq("src"), "left_anti").count()
      require(dangling == 0, s"$dangling dangling edges (dst never src): symmetrize first")
    }
    val small = nNodes <= BroadcastNodeLimit
    val jumpCol = seed match {
      case None => lit(jump)
      case Some(sd) => when(col("dst") === sd, jump).otherwise(0L)
    }
    val r0 = deg.select(col("src").as("node"), (seed match {
      case None => lit(eff)
      case Some(sd) => when(col("src") === sd, eff).otherwise(0L)
    }).as("r"))
    def round(r: DataFrame): DataFrame = {
      val ranks = r.withColumnRenamed("node", "src")
      e2.join(if (small) broadcast(ranks) else ranks, "src")
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("c"))
        .select(col("dst").as("node"), (jumpCol + expr("(85 * c) div 100")).as("r"))
    }
    // the final block always checkpoints: the returned frame must not
    // depend on e2/deg, which [[run]] releases before the caller ever
    // executes the (lazy) result. Each eager checkpoint runs its block's
    // linear plan as ONE AQE query.
    val blocks = (iters + RoundsPerCheckpoint - 1) / RoundsPerCheckpoint
    Iterate(Iterate.Round(r0, Row.empty), blocks) { (prev, b) =>
      val n = math.min(RoundsPerCheckpoint, iters - (b - 1) * RoundsPerCheckpoint)
      (1 to n).foldLeft(prev.frame)((r, _) => round(r))
    }.frame
  }
}
