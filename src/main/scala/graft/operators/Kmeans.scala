package graft.operators

import graft.MaterializedCaches.persisting
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means in EXACT integer arithmetic — the coarse
  * quantizer TRAINER behind an IVF index (the embedding analog of the
  * learned-BPE trainer in [[graft.functions.Bpe]]: until now the IVF
  * cells reused the corpus's shipped labels; this trains real cells).
  *
  * Split of labor, matched to Spark's execution model exactly like the
  * BPE trainer:
  *
  *   - the DISTRIBUTED part is each iteration's assignment (map-only:
  *     k squared-L2 distances per row against broadcast-literal
  *     centroids, argmin with a cluster-id tie-break) and the update's
  *     per-(cluster, dim) sum/count aggregate — one shuffle of k×dims
  *     partial rows per iteration, map-side combined;
  *   - the DRIVER part is folding that k×dims-row aggregate (bounded:
  *     512 rows at k=8, dims=64 — the top-4096 BPE vocab posture) into
  *     the next centroid table with floorDiv.
  *
  * Why integer: double centroid sums depend on partition aggregation
  * order; quantizing components to micros (round(x·1e6)) makes every
  * sum, distance and floor-average BIGINT-exact, so training is
  * bit-reproducible run-to-run AND recomputable by the DuckDB oracle
  * (distances stay far under 2^63: components ≤ ~2e6 micros in
  * magnitude, so a 64-dim squared distance is ≤ ~1e15).
  *
  * Determinism contract: init is the k lowest vec_ids' vectors; ties in
  * assignment break toward the smaller cluster id; the floor-average
  * uses truncating division (JVM `/` == DuckDB integer `//` for all
  * signs); a cluster left empty by an iteration keeps its previous
  * centroid (both sides implement the same rule via the previous-table
  * coalesce).
  */
object Kmeans {

  /** The √n cell-count rule for sizing an IVF coarse quantizer: with
    * ncells ≈ √n, a probe touching nprobe cells reads ~nprobe·√n
    * vectors and the centroid ranking costs √n distances — both
    * sub-linear, and balanced against each other (more cells = cheaper
    * scans but costlier ranking + training). This is the standard
    * sizing (FAISS guideline; Jégou 2011 evaluates at K' ≈ √n) and what
    * `ivf_size_profile` publishes the trade for on the fixture.
    */
  def ncellsFor(n: Long): Int =
    math.max(2, math.round(math.sqrt(n.toDouble)).toInt)

  /** (vec_id, v: array<long>) — embeddings quantized to integer micros.
    * Both engines compute round(float→double × 1e6) on the same parquet
    * floats, so the lattices agree exactly.
    */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), transform(col("embedding"),
      x => round(x.cast("double") * 1e6).cast("long")).as("v"))

  /** struct(dist, cid) of the nearest centroid for column `v` — ONE
    * codegen'd k×dims argmin loop ([[graft.functions.SketchExprs
    * .nearestCentroid]]); the centroid table rides along as a single
    * reference object (the broadcast-scalar posture). The HOF spelling
    * (k zip_with/aggregate folds under array_min) interpreted every
    * lambda step and allocated k temp arrays per row — measured ~17 s
    * for a 2-round train at sf0.1 vs sub-second generated.
    */
  def nearest(cents: Array[Array[Long]]): Column =
    graft.functions.SketchExprs.nearestCentroid(col("v"), cents)

  /** Train `iters` Lloyd rounds at `k` over `emb` (embeddings schema:
    * vec_id, embedding). Returns the final centroid table, cid-indexed.
    */
  def train(emb: DataFrame, k: Int = 8, iters: Int = 2): Array[Array[Long]] =
    trainQ(quantized(emb), k, iters)

  /** [[train]] over an ALREADY-quantized (vec_id, v: array<long>) table —
    * the entry point for training on derived lattice vectors (the PQ
    * residual codebooks train on v − coarse_centroid slices, which are
    * integer vectors with no float source to quantize).
    */
  def trainQ(q: DataFrame, k: Int = 8, iters: Int = 2): Array[Array[Long]] = {
    require(k >= 1 && iters >= 0)
    // persist: each iteration re-reads the quantized table (assignment +
    // update); also guarantees init and iterations see ONE evaluation.
    // A frame the caller cached stays the caller's to release: unpersisting
    // it here would drop it under a concurrent trainer on the same plan
    persisting(q) {
      var cents = q.orderBy(col("vec_id")).limit(k).collect()
        .map(_.getSeq[Long](1).toArray)
      require(cents.length == k, s"corpus smaller than k=$k")
      for (_ <- 1 to iters) {
        val upd = q.select(nearest(cents).getField("cid").as("cid"),
            posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect() // bounded: k × dims rows
        val next = cents.map(_.clone()) // empty clusters keep previous
        // plain / (truncation toward zero): DuckDB's integer `//` also
        // truncates (measured (-5)//2 = -2), so this is the exact oracle
        // match for negative component sums — floorDiv would be off by
        // one there
        upd.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
        }
        cents = next
      }
      cents
    }
  }
}
