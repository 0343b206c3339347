package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Input-type guard shared by the sketch expressions: these are also
  * SQL-registered (`graft_*`), so a wrong-typed array must fail analysis
  * with a clear message — never read through ArrayData with the wrong
  * accessor (silent garbage from UnsafeArrayData, CCE from generic rows).
  */
trait RequiresArrayOf { self: Expression =>
  protected def requiredElementType: DataType
  protected def typedChildren: Seq[Expression]

  // def, not lazy val: TypeCheckResult is not serializable and must not
  // become a field of a task-shipped expression
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val bad = typedChildren.map(_.dataType).collectFirst {
      case t if !t.isInstanceOf[ArrayType] ||
        t.asInstanceOf[ArrayType].elementType != requiredElementType => t
    }
    bad match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(
        s"${self.prettyName} requires array<${requiredElementType.simpleString}> input, got ${t.simpleString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }
}

/** Native codegen'd sketch expressions for the dedup/similarity hot paths.
  *
  * Rationale (measured at sf0.1): Spark's higher-order functions are
  * interpreted per element — a 64-permutation MinHash via `transform`
  * lambdas or 64 min-aggregates costs ~10 s, while one generated loop over
  * the hash array costs milliseconds and keeps the computation map-only
  * (no shuffle, no 64-column aggregate). This is the brief's preference
  * path (b): custom `Expression` with `doGenCode` before reaching for a
  * custom operator.
  */
object SketchExprs {

  /** 64-perm MinHash signature of an `array<long>` of base hashes:
    * sig[k] = min over h of (a_k * h + b_k) mod p. Base hashes must be in
    * [0, 2^31) so a*h stays within int64.
    */
  def minhashSig(hashes: Column, a: Array[Long], b: Array[Long], p: Long): Column =
    Bridge.column(MinHashSigExpr(Bridge.expression(hashes), a, b, p))

  /** 64-bit SimHash of an `array<long>` of element hashes. */
  def simhash64(hashes: Column): Column =
    Bridge.column(SimHash64Expr(Bridge.expression(hashes)))

  /** Dot product of an `array<float>` column with a constant weight
    * vector, accumulated in double — sequential order, bit-identical to
    * a left-fold.
    */
  def floatDot(vec: Column, weights: Array[Double]): Column =
    Bridge.column(FloatDotExpr(Bridge.expression(vec), weights))

  /** Native cosine similarity over two `array<float>` columns. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Intersection size of two sorted `array<long>` columns (merge loop). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCountExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Intersection ELEMENTS of two sorted `array<long>` columns, as a
    * sorted `array<long>` — the generator companion of
    * [[sortedIntersectCount]] for when the identities matter (e.g.
    * triangle membership credit). `array_intersect` computes the same
    * multiset-free result but builds a per-row hash set; on id-sorted
    * adjacency arrays one generated merge loop does it allocation-lean.
    */
  def sortedIntersect(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Per-edge triangle-credit rows for the local-clustering census, as
    * ONE generated merge loop: for oriented edge (x, y) with sorted
    * out-adjacencies xs/ys, returns
    * `[(x, |xs∩ys|), (y, |xs∩ys|)] ++ [(z, 1) for z in xs∩ys]`
    * (empty when the edge closes no triangle — explode then drops the
    * row). Fusing the credit build into the intersect avoids
    * materializing the intersection array and the interpreted
    * per-element `transform` lambda that a compositional spelling pays
    * on millions of edges.
    */
  def triCredits(x: Column, y: Column, xs: Column, ys: Column): Column =
    Bridge.column(TriCreditsExpr(Bridge.expression(x), Bridge.expression(y),
      Bridge.expression(xs), Bridge.expression(ys)))

  /** Nearest centroid of an `array<long>` vector against a constant
    * centroid table: struct(dist: bigint, cid: int) — exact integer
    * squared L2, ties to the smaller cid, the whole k×dims argmin as ONE
    * generated loop. The HOF spelling (k zip_with/aggregate folds under
    * array_min) allocates k intermediate arrays per row and interprets
    * every lambda step — measured ~17 s for 2 Lloyd rounds over 5k×64
    * vectors at k=8 vs sub-second generated.
    */
  def centroidDists(vec: Column, cents: Array[Array[Long]]): Column =
    Bridge.column(CentroidDistsExpr(Bridge.expression(vec), cents))

  def nearestCentroid(vec: Column, cents: Array[Array[Long]]): Column =
    Bridge.column(NearestCentroidExpr(Bridge.expression(vec), cents))

  /** Occurrences of `needle` in an `array<string>` column — term
    * frequency in one generated loop. The HOF spelling
    * `size(filter(ts, x -> x = t))` interprets the lambda per element
    * and re-evaluates wherever the expression is referenced; this stays
    * inside whole-stage codegen.
    */
  def countEq(arr: Column, needle: Column): Column =
    Bridge.column(CountEqExpr(Bridge.expression(arr), Bridge.expression(needle)))

  /** Longest run (most frequent element + count) of a SORTED
    * `array<string>` — the map-only mode/argmax primitive.
    */
  def topRun(sortedArr: Column): Column =
    Bridge.column(TopRunExpr(Bridge.expression(sortedArr)))
}

case class MinHashSigExpr(child: Expression, a: Array[Long], b: Array[Long], p: Long)
    extends UnaryExpression with RequiresArrayOf {
  require(a.length == b.length)
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val k = a.length
    val mins = Array.fill(k)(p)
    var j = 0
    while (j < arr.numElements()) {
      val h = arr.getLong(j)
      var i = 0
      while (i < k) {
        val v = (a(i) * h + b(i)) % p
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", a, "long[]")
    val bRef = ctx.addReferenceObj("mhB", b, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[${a.length}];
         |java.util.Arrays.fill($mins, ${p}L);
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  long $h = $c.getLong($j);
         |  for (int $i = 0; $i < ${a.length}; $i++) {
         |    long $v = ($aRef[$i] * $h + $bRef[$i]) % ${p}L;
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** struct(dist, cid) of the nearest row of `cents` (flattened k×dims
  * longs) to the input `array<long>` vector — exact integer squared L2,
  * (dist, cid) lexicographic tie-break. The centroid table rides along
  * as one reference object; dims is pinned by the table, and a vector of
  * any other length fails loudly at eval.
  */
case class NearestCentroidExpr(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression with RequiresArrayOf {
  require(cents.nonEmpty && cents.forall(_.length == cents(0).length))
  private def k = cents.length
  private def dims = cents(0).length
  // flattened row-major for the generated inner loop (and one reference
  // object instead of k)
  private lazy val flat: Array[Long] = cents.flatten
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(child)
  override def dataType: DataType = StructType(Seq(
    StructField("dist", LongType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    require(arr.numElements() == dims,
      s"nearestCentroid: vector has ${arr.numElements()} dims, centroids $dims")
    var bestD = Long.MaxValue
    var bestC = -1
    var c = 0
    while (c < k) {
      var d = 0L
      var i = 0
      while (i < dims) {
        val diff = arr.getLong(i) - flat(c * dims + i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; bestC = c }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestD, bestC)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("ncCents", flat, "long[]")
    nullSafeCodeGen(ctx, ev, in => {
      val bestD = ctx.freshName("bestD")
      val bestC = ctx.freshName("bestC")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
         |if ($in.numElements() != $dims) {
         |  throw new IllegalArgumentException(
         |    "nearestCentroid: vector has " + $in.numElements() + " dims, centroids $dims");
         |}
         |long $bestD = Long.MAX_VALUE;
         |int $bestC = -1;
         |for (int $c = 0; $c < $k; $c++) {
         |  long $d = 0L;
         |  for (int $i = 0; $i < $dims; $i++) {
         |    long $diff = $in.getLong($i) - $fRef[$c * $dims + $i];
         |    $d += $diff * $diff;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $bestC = $c; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bestD, $bestC});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
}

/** ALL squared L2 distances from the input vector to k literal anchor
  * vectors, as one generated loop per row ([[NearestCentroidExpr]]'s
  * sibling for consumers that rank or top-k the anchors instead of
  * taking the argmin — intrinsic_dim's 2-NN, batch audits). The HOF
  * spelling (aggregate over zip_with per anchor) interprets every
  * lambda step and allocates temp arrays — measured 19 s vs sub-second
  * generated at 1M (row, anchor) pairs.
  */
case class CentroidDistsExpr(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression with RequiresArrayOf {
  require(cents.nonEmpty && cents.forall(_.length == cents(0).length))
  private def k = cents.length
  private def dims = cents(0).length
  private lazy val flat: Array[Long] = cents.flatten
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    require(arr.numElements() == dims,
      s"centroidDists: vector has ${arr.numElements()} dims, anchors $dims")
    val out = new Array[Long](k)
    var c = 0
    while (c < k) {
      var d = 0L
      var i = 0
      while (i < dims) {
        val diff = arr.getLong(i) - flat(c * dims + i)
        d += diff * diff
        i += 1
      }
      out(c) = d
      c += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("cdCents", flat, "long[]")
    nullSafeCodeGen(ctx, ev, in => {
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
         |if ($in.numElements() != $dims) {
         |  throw new IllegalArgumentException(
         |    "centroidDists: vector has " + $in.numElements() + " dims, anchors $dims");
         |}
         |long[] $out = new long[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  long $d = 0L;
         |  for (int $i = 0; $i < $dims; $i++) {
         |    long $diff = $in.getLong($i) - $fRef[$c * $dims + $i];
         |    $d += $diff * $diff;
         |  }
         |  $out[$c] = $d;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDistsExpr =
    copy(child = newChild)
}

case class SimHash64Expr(child: Expression) extends UnaryExpression with RequiresArrayOf {
  override def dataType: DataType = LongType
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(child)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Int](64)
    var j = 0
    while (j < arr.numElements()) {
      val h = arr.getLong(j)
      var i = 0
      while (i < 64) {
        acc(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $acc = new int[64];
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  long $h = $c.getLong($j);
         |  for (int $i = 0; $i < 64; $i++) {
         |    $acc[$i] += ((($h >>> $i) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $out = 0L;
         |for (int $i = 0; $i < 64; $i++) {
         |  if ($acc[$i] > 0) $out |= (1L << $i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

case class FloatDotExpr(child: Expression, weights: Array[Double])
    extends UnaryExpression with RequiresArrayOf {
  override def dataType: DataType = DoubleType
  override protected def requiredElementType: DataType = FloatType
  override protected def typedChildren: Seq[Expression] = Seq(child)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != weights.length) {
      throw new IllegalArgumentException(
        s"FloatDot: vector length ${arr.numElements()} != weights length ${weights.length}")
    }
    var s = 0.0
    var i = 0
    val n = weights.length
    while (i < n) { s += weights(i) * arr.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("dotW", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |if ($c.numElements() != $wRef.length) {
         |  throw new IllegalArgumentException("FloatDot: vector length " +
         |    $c.numElements() + " != weights length " + $wRef.length);
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $wRef.length; $i++) {
         |  $s += $wRef[$i] * (double) $c.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FloatDotExpr =
    copy(child = newChild)
}

/** Cosine similarity of two `array<float>` columns, accumulated in double
  * with the same sequential order as the HOF left-fold formulation
  * (`VectorFns`), so results are bit-identical to the DuckDB list_reduce
  * oracle — but ~100x faster per pair (generated loop vs interpreted
  * lambdas).
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with RequiresArrayOf {
  override def dataType: DataType = DoubleType
  override protected def requiredElementType: DataType = FloatType
  override protected def typedChildren: Seq[Expression] = Seq(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) {
      throw new IllegalArgumentException(
        s"cosine: dimension mismatch ${x.numElements()} vs ${y.numElements()}")
    }
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("cosine: dimension mismatch " +
         |    $a.numElements() + " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED `array<long>` columns via a merge loop
  * — O(|a|+|b|), no per-element boxing. Used for set-similarity verifies
  * where the sets are represented by sorted distinct hashes.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with RequiresArrayOf {
  override def dataType: DataType = IntegerType
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $n++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Merge-loop intersection of two SORTED `array<long>` columns, emitting
  * the common elements as a sorted `array<long>`. Duplicate handling
  * matches [[SortedIntersectCountExpr]] exactly (each matched pair
  * advances both cursors), so `size(sortedIntersect(a, b)) ==
  * sortedIntersectCount(a, b)` by construction. The output buffer is
  * sized min(|a|, |b|) and trimmed once — no per-element boxing, no
  * hash set (`array_intersect` allocates one per row).
  */
case class SortedIntersectExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with RequiresArrayOf {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val buf = new Array[Long](math.min(x.numElements(), y.numElements()))
    var i = 0; var j = 0; var n = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { buf(n) = xv; n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val buf = ctx.freshName("buf")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |long[] $buf = new long[Math.min($a.numElements(), $b.numElements())];
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $buf[$n++] = $xv; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $n));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectExpr =
    copy(left = newLeft, right = newRight)
}

/** Triangle-credit generator (see [[SketchExprs.triCredits]]): one merge
  * loop over two SORTED `array<long>` adjacencies emitting
  * array<struct<n,t>> credit rows. Null-intolerant like the other
  * merge-loop expressions: any null child yields null.
  */
case class TriCreditsExpr(x: Expression, y: Expression,
    xs: Expression, ys: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with RequiresArrayOf {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = xs
  override def fourth: Expression = ys
  override protected def requiredElementType: DataType = LongType
  override protected def typedChildren: Seq[Expression] = Seq(xs, ys)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("t", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    super.checkInputDataTypes() match {
      case f: TypeCheckResult.TypeCheckFailure => f
      case _ if x.dataType != LongType || y.dataType != LongType =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires bigint endpoints, got " +
            s"${x.dataType.simpleString}/${y.dataType.simpleString}")
      case ok => ok
    }
  }

  override def nullSafeEval(xv: Any, yv: Any, xsv: Any, ysv: Any): Any = {
    val a = xsv.asInstanceOf[ArrayData]
    val b = ysv.asInstanceOf[ArrayData]
    val buf = new Array[Long](math.min(a.numElements(), b.numElements()))
    var i = 0; var j = 0; var n = 0
    while (i < a.numElements() && j < b.numElements()) {
      val av = a.getLong(i); val bv = b.getLong(j)
      if (av == bv) { buf(n) = av; n += 1; i += 1; j += 1 }
      else if (av < bv) i += 1
      else j += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n + 2)
    val cnt = n.toLong
    out(0) = org.apache.spark.sql.catalyst.InternalRow(
      xv.asInstanceOf[Long], cnt)
    out(1) = org.apache.spark.sql.catalyst.InternalRow(
      yv.asInstanceOf[Long], cnt)
    var k = 0
    while (k < n) {
      out(k + 2) = org.apache.spark.sql.catalyst.InternalRow(buf(k), 1L)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xv, yv, a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val buf = ctx.freshName("buf")
      val av = ctx.freshName("av"); val bv = ctx.freshName("bv")
      val out = ctx.freshName("out"); val k = ctx.freshName("k")
      val rowCls = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
      val arrCls = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      s"""
         |long[] $buf = new long[Math.min($a.numElements(), $b.numElements())];
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $av = $a.getLong($i); long $bv = $b.getLong($j);
         |  if ($av == $bv) { $buf[$n++] = $av; $i++; $j++; }
         |  else if ($av < $bv) { $i++; } else { $j++; }
         |}
         |Object[] $out = new Object[$n == 0 ? 0 : $n + 2];
         |if ($n > 0) {
         |  $out[0] = new $rowCls(new Object[]{ java.lang.Long.valueOf($xv), java.lang.Long.valueOf($n) });
         |  $out[1] = new $rowCls(new Object[]{ java.lang.Long.valueOf($yv), java.lang.Long.valueOf($n) });
         |  for (int $k = 0; $k < $n; $k++) {
         |    $out[$k + 2] = new $rowCls(new Object[]{ java.lang.Long.valueOf($buf[$k]), java.lang.Long.valueOf(1L) });
         |  }
         |}
         |${ev.value} = new $arrCls($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): TriCreditsExpr =
    copy(x = newFirst, y = newSecond, xs = newThird, ys = newFourth)
}

/** tf(needle, tokens): count of array elements byte-equal to `needle`
  * (the per-document analogue of the reference's count reducer,
  * distwc.c:27-30). Null elements don't match; null array or needle →
  * null (BinaryExpression's null-safe contract).
  */
case class CountEqExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with RequiresArrayOf {
  override def dataType: DataType = IntegerType
  override protected def requiredElementType: DataType = StringType
  // only the array child carries the element-type requirement; the
  // needle is checked separately below
  override protected def typedChildren: Seq[Expression] = Seq(left)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    super.checkInputDataTypes() match {
      case f: TypeCheckResult.TypeCheckFailure => f
      case _ if right.dataType != StringType =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string needle, got ${right.dataType.simpleString}")
      case ok => ok
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val needle = b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    var i = 0; var n = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && arr.getUTF8String(i).equals(needle)) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      s"""
         |int $i = 0; int $n = 0;
         |while ($i < $a.numElements()) {
         |  if (!$a.isNullAt($i) && $a.getUTF8String($i).equals($b)) { $n++; }
         |  $i++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountEqExpr =
    copy(left = newLeft, right = newRight)
}

/** Longest run in a SORTED `array<string>`: returns
  * struct(w: string, c: int) — the most frequent element and its count,
  * ties resolved to the FIRST (= lexicographically smallest, since the
  * input is sorted) run. One generated pass comparing adjacent elements;
  * null for empty/absent arrays. With `sort_array` this turns per-row
  * mode/argmax computations (e.g. a document's dominant n-gram) into a
  * map-only expression — no (row, element) explode, no two-level
  * aggregation, no shuffle.
  */
case class TopRunExpr(child: Expression) extends UnaryExpression with RequiresArrayOf {
  override protected def requiredElementType: DataType = StringType
  override protected def typedChildren: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("w", StringType, nullable = false),
    StructField("c", IntegerType, nullable = false)))

  // NULL array elements are SKIPPED (not counted as a run): the function
  // is SQL-registered, so a user can pass arrays with nulls — sibling
  // CountEqExpr takes the same stance, and reading a null slot through
  // getUTF8String would NPE interpreted / return garbage under codegen.
  // sort_array groups nulls together (first), so skipping a prefix/run
  // of nulls preserves the sorted-adjacency the scan relies on.
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var bestStart = -1; var bestLen = 0
    var runStart = -1; var runLen = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { runStart = -1; runLen = 0 }
      else if (runLen > 0 && arr.getUTF8String(i).equals(arr.getUTF8String(i - 1))) {
        runLen += 1
        if (runLen > bestLen) { bestLen = runLen; bestStart = runStart }
      } else {
        runStart = i; runLen = 1
        if (bestLen == 0) { bestLen = 1; bestStart = i }
      }
      i += 1
    }
    if (bestLen == 0) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](arr.getUTF8String(bestStart).copy(), bestLen))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val bs = ctx.freshName("bestStart"); val bl = ctx.freshName("bestLen")
      val rs = ctx.freshName("runStart"); val rl = ctx.freshName("runLen")
      s"""
         |int $n = $c.numElements();
         |int $bs = -1; int $bl = 0; int $rs = -1; int $rl = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) { $rs = -1; $rl = 0; }
         |  else if ($rl > 0 && $c.getUTF8String($i).equals($c.getUTF8String($i - 1))) {
         |    $rl++;
         |    if ($rl > $bl) { $bl = $rl; $bs = $rs; }
         |  } else {
         |    $rs = $i; $rl = 1;
         |    if ($bl == 0) { $bl = 1; $bs = $i; }
         |  }
         |}
         |if ($bl == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{ $c.getUTF8String($bs).copy(), java.lang.Integer.valueOf($bl) });
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TopRunExpr =
    copy(child = newChild)
}
