package graft.operators

import graft.MaterializedCaches.persisting
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with RESIDUAL encoding — the memory-
  * compression half of a production IVF-PQ index, as actually specified
  * by Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011 §IV.A (IVFADC): the quantity encoded is NOT the raw
  * vector but the residual r = v − coarse_centroid(cell(v)) left over
  * after the IVF coarse quantizer ([[Kmeans]]) explains the cell
  * center. Codebooks trained on residuals spend their entire capacity
  * on within-cell structure instead of re-describing cell centers, which
  * is why a 4-byte code survives large cell counts — the fidelity gap a
  * raw-vector PQ shows as depressed raw-ADC recall.
  *
  * Each 64-dim residual is encoded as M=4 one-byte codes, one per
  * 16-dim subspace, by assigning every residual subvector to its
  * nearest centroid in a per-subspace codebook trained with the same
  * exact-integer Lloyd's k-means as the coarse quantizer (PQ is
  * literally M independent k-means runs on sliced residuals, so the
  * trainer is reused verbatim via [[Kmeans.trainQ]]).
  *
  * Query-time scoring is asymmetric distance computation (ADC), now
  * per-cell: for a vector in cell c, the approximated squared L2 is
  * Σ_m dt(c)(m)(code_m) where dt(c)(m)(j) = ‖q_m − cc_c_m − cb_m(j)‖²
  * — the cell-center term folds into the lookup table, so the scan
  * still costs M table lookups per row. The full table is
  * ncells × M × K exact longs (256 at the fixture's 8/4/8 — a broadcast
  * scalar; at production ncells=√n it is probed-cells × 32 because only
  * probed cells' slabs are needed). At 100 TB the scan reads the 4-byte
  * code column plus the cell id, not the 256-byte raw vectors — a 64×
  * I/O reduction, the reason PQ exists. Everything stays on the
  * integer-micro lattice: training, codes and ADC scores are
  * bit-reproducible and DuckDB-recomputable (residual components are
  * bounded by ~4e6 micros, so a 16-dim squared distance is ≤ ~2.6e14
  * and an M-sum ≤ ~1e15 — far inside BIGINT).
  *
  * The reference engine has no similarity-search trace (SURVEY.md §2
  * tier C); this is north-star scope.
  */
object Pq {

  val M = 4       // subspaces
  val SubDim = 16 // dims per subspace (64-dim embeddings)
  val K = 8       // centroids per codebook
  val Iters = 2   // Lloyd rounds, matching the IVF quantizer

  /** The trained IVF coarse-quantizer centroid table (cell-indexed, in
    * integer micros) every residual-PQ operation is defined against.
    */
  type Coarse = Array[Array[Long]]

  /** (vec_id, cell, v) where cell is the vector's trained coarse cell
    * and v = quantized(vector) − coarse(cell) — the residual every
    * downstream train/encode/score consumes. Map-only: the codegen'd
    * argmin picks the cell, one zip_with against the broadcast-literal
    * centroid table subtracts it.
    */
  def residuals(emb: DataFrame, coarse: Coarse): DataFrame = {
    val centLit = typedLit(coarse.map(_.toSeq).toSeq)
    Kmeans.quantized(emb)
      .select(col("vec_id"),
        Kmeans.nearest(coarse).getField("cid").cast("int").as("cell"),
        col("v"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), element_at(centLit, col("cell") + 1),
          (a, b) => a - b).as("v"))
  }

  /** Train the M per-subspace RESIDUAL codebooks: model(m)(cid)(dim) in
    * integer micros. Each subspace is an independent [[Kmeans.trainQ]]
    * over the sliced residuals (same init / tie-break / empty-cluster
    * contract as the coarse quantizer). The residual table is persisted
    * once and sliced M ways.
    */
  def train(emb: DataFrame, coarse: Coarse): Array[Array[Array[Long]]] = {
    val r = residuals(emb, coarse)
    persisting(r)(Array.tabulate(M) { m =>
      Kmeans.trainQ(
        r.select(col("vec_id"),
          slice(col("v"), m * SubDim + 1, SubDim).as("v")),
        k = K, iters = Iters)
    })
  }

  /** The nearest-codebook-centroid code for subspace `m` of the residual
    * column `v` — one codegen'd k×SubDim argmin loop.
    */
  private def codeOf(v: Column, model: Array[Array[Array[Long]]], m: Int): Column =
    graft.functions.SketchExprs
      .nearestCentroid(slice(v, m * SubDim + 1, SubDim), model(m))
      .getField("cid")

  /** Encode the corpus: (vec_id, cell int, codes array<int> of length M)
    * — the compact artifact the ADC scan reads. Map-only; at 100 TB this
    * table IS the index payload (4 bytes/vector + cell + id, partitioned
    * by cell).
    */
  def codesWide(emb: DataFrame, coarse: Coarse,
      model: Array[Array[Array[Long]]]): DataFrame =
    residuals(emb, coarse).select(col("vec_id"), col("cell"),
      array((0 until M).map(m => codeOf(col("v"), model, m)): _*).as("codes"))

  /** The M=4 one-byte codes bit-packed into ONE int (code m in byte m,
    * little-endian) — the physically-4-bytes-per-vector storage form of
    * the materialized index. K ≤ 256 by construction (codes are bytes);
    * the pack/unpack is two shifts in codegen, so the ADC scan pays
    * nothing for the 4× storage reduction over `array<int>` (which
    * additionally carries per-row array headers in parquet).
    */
  def packCodes(codes: Column): Column =
    (0 until M).map(m => shiftleft(codes.getItem(m).cast("int"), 8 * m))
      .reduce(_ bitwiseOR _)

  /** Encode-on-ingest — the streaming face of the index build: vectors
    * arriving in a monitored directory are encoded against the SHIPPED
    * trained quantizers (broadcast-literal coarse table + codebooks, the
    * exact batch [[codesWide]] transform) in a STATELESS map-only stream
    * — no watermark, no state, because cell assignment and residual PQ
    * encode are per-row. This is how the index keeps up with 100 TB/day
    * of new vectors: each micro-batch is embarrassingly parallel, and
    * the sink appends into the cell-partitioned layout
    * ([[graft.queries.Pipeline.pqIndexPath]]) so probes see new data
    * without a rebuild. `sfDir` supplies the schema (streaming reads
    * require one up front).
    */
  def encodeStream(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      streamDir: String, coarse: Coarse,
      model: Array[Array[Array[Long]]]): DataFrame = {
    val schema = graft.sources.Tables.embeddings(spark, sfDir).schema
    codesWide(spark.readStream.schema(schema).parquet(streamDir), coarse, model)
  }

  /** The query's per-cell ADC lookup tables: dt(cell)(m)(cid) = exact
    * squared L2 between the query's subvector m and (coarse cell center
    * + residual codebook centroid cid), in micro² — the IVFADC table
    * r(x) ≈ q − cc folded per cell. ncells×M×K longs (256 at the
    * fixture) — computed on the driver, shipped as a literal.
    */
  def distTables(model: Array[Array[Array[Long]]], coarse: Coarse,
      qv: Array[Long]): Array[Array[Array[Long]]] =
    coarse.map { cc =>
      Array.tabulate(M) { m =>
        model(m).map { c =>
          var s = 0L
          var i = 0
          while (i < SubDim) {
            val d = qv(m * SubDim + i) - cc(m * SubDim + i) - c(i)
            s += d * d
            i += 1
          }
          s
        }
      }
    }

  /** ADC score over (cell, codes array) columns: Σ_m dt(cell)(m)
    * (codes(m)). One flattened ncells×M×K literal + M element_at
    * lookups — stays inside whole-stage codegen, no join, no shuffle.
    */
  def adcScore(cell: Column, codes: Column,
      dt: Array[Array[Array[Long]]]): Column = {
    val flat = typedLit(dt.flatten.flatten.toSeq)
    (0 until M).map { m =>
      element_at(flat,
        (cell * lit(M * K) + lit(m * K) + codes.getItem(m)).cast("int") + 1)
    }.reduce(_ + _)
  }

  /** ADC score over (cell, packed code32) columns: Σ_m dt(cell)(m)
    * ((code32 >> 8m) & 0xFF) — same flattened-literal lookups as
    * [[adcScore]], reading the 4-byte form directly.
    */
  def adcScorePacked(cell: Column, code32: Column,
      dt: Array[Array[Array[Long]]]): Column = {
    val flat = typedLit(dt.flatten.flatten.toSeq)
    (0 until M).map { m =>
      element_at(flat,
        (cell * lit(M * K) + lit(m * K)
          + shiftright(code32, 8 * m).bitwiseAND(lit(0xFF))).cast("int") + 1)
    }.reduce(_ + _)
  }
}
