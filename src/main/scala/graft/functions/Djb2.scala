package graft.functions

import org.apache.spark.Partitioner
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** djb2 string hash with the exact semantics of the reference
  * partitioner (`/root/reference/mapreduce.c:154-160`):
  *
  * {{{
  *   unsigned long hash = 5381;
  *   int c;
  *   while ((c = *key++) != '\0') hash = hash * 33 + c;
  * }}}
  *
  * Notes for byte-exact parity:
  *   - `unsigned long` is 64-bit on the reference platform; Scala `Long`
  *     arithmetic wraps identically (two's complement == mod 2^64).
  *   - `c` is an `int` loaded from `char`, which is signed on x86 Linux:
  *     bytes >= 0x80 sign-extend to negative values before the add. We
  *     reproduce that by casting the byte to `Byte` (signed) then widening.
  *   - The final `% num_partitions` in C is an unsigned modulo →
  *     `java.lang.Long.remainderUnsigned`.
  */
object Djb2 {
  def hash(key: Array[Byte]): Long = {
    var h = 5381L
    var i = 0
    while (i < key.length) {
      h = h * 33 + key(i) // key(i): Byte, sign-extends like C's (int)(char)
      i += 1
    }
    h
  }

  def hash(key: String): Long = hash(key.getBytes("UTF-8"))

  /** Partition index exactly as the reference computes it. */
  def partition(key: String, numPartitions: Int): Int =
    java.lang.Long.remainderUnsigned(hash(key), numPartitions.toLong).toInt

  /** Column form, codegen'd (whole-stage-codegen friendly). */
  def djb2(c: Column): Column = Bridge.column(Djb2Hash(Bridge.expression(c)))

  /** `djb2(key) % p` as an unsigned modulo — the reference's partition id
    * (`mapreduce.c:159`: `hash % num_partitions` on an unsigned long).
    */
  def djb2Pid(c: Column, p: Int): Column =
    Bridge.column(Djb2Pid(Bridge.expression(c), p))
}

/** `Long.remainderUnsigned(djb2(key), p)` as one codegen'd expression. */
case class Djb2Pid(child: Expression, p: Int) extends UnaryExpression {
  require(p > 0)
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.remainderUnsigned(
      Djb2.hash(input.asInstanceOf[UTF8String].getBytes), p.toLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("djb2Bytes")
      val i = ctx.freshName("djb2I")
      val h = ctx.freshName("djb2H")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 5381L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 33L + $bytes[$i];
         |}
         |${ev.value} = java.lang.Long.remainderUnsigned($h, ${p}L);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Djb2Pid =
    copy(child = newChild)
}

/** Native Catalyst expression for [[Djb2.hash]] with `doGenCode`, so the
  * hash stays inside whole-stage codegen (no UDF serialization, no boxing).
  */
case class Djb2Hash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    Djb2.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("djb2Bytes")
      val i = ctx.freshName("djb2I")
      val h = ctx.freshName("djb2H")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 5381L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 33L + $bytes[$i];
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Djb2Hash =
    copy(child = newChild)
}

/** Unsigned UTF-8 lexicographic string ordering == C `strcmp` on the
  * reference's NUL-terminated UTF-8 keys (`mapreduce.c:123-141`). The JVM
  * default `Ordering[String]` compares UTF-16 code units, which diverges
  * from byte order for supplementary code points (surrogate pairs sort
  * before U+E000..U+FFFF in UTF-16 order but after in UTF-8 byte order).
  *
  * Allocation-free: this sits in the comparator hot path of
  * `repartitionAndSortWithinPartitions` (O(n log n) invocations), so it
  * walks chars instead of re-encoding both strings per call. Ordering is
  * by *effective code point* — the sequence the UTF-8 encoder actually
  * writes, with unpaired surrogates mapped to '?' exactly as
  * `String.getBytes("UTF-8")` mangles them — so the comparison agrees
  * with the bytes in the sink files for malformed input too, matching
  * the old getBytes-based formulation byte-for-byte. (Per-code-point
  * UTF-8 is order-preserving and prefix-free, so code-point order ==
  * encoded-byte order.)
  */
object Utf8ByteOrdering extends Ordering[String] {
  override def compare(a: String, b: String): Int = {
    val la = a.length
    val lb = b.length
    var i = 0
    var j = 0
    while (i < la && j < lb) {
      val ca = a.charAt(i)
      val cb = b.charAt(j)
      if (ca == cb && (ca < 0xD800 || ca >= 0xE000)) {
        // fast path: identical non-surrogate chars (≈ all real data)
        i += 1; j += 1
      } else {
        // surrogate or differing char: compare effective code points
        // (equal surrogate CHARS may still differ as code points — their
        // pairing context can differ, e.g. "\uD800A" vs "𐀀")
        val cpA = effectiveCodePoint(a, i, la)
        val cpB = effectiveCodePoint(b, j, lb)
        if (cpA != cpB) return Integer.compare(cpA, cpB)
        i += charStep(a, i, la)
        j += charStep(b, j, lb)
      }
    }
    (la - i) - (lb - j)
  }

  private def effectiveCodePoint(s: String, i: Int, len: Int): Int = {
    val c = s.charAt(i)
    if (Character.isHighSurrogate(c) && i + 1 < len
        && Character.isLowSurrogate(s.charAt(i + 1)))
      Character.toCodePoint(c, s.charAt(i + 1))
    else if (Character.isSurrogate(c)) 0x3F // encoder writes '?' for unpaired
    else c.toInt
  }

  private def charStep(s: String, i: Int, len: Int): Int = {
    val c = s.charAt(i)
    if (Character.isHighSurrogate(c) && i + 1 < len
        && Character.isLowSurrogate(s.charAt(i + 1))) 2
    else 1
  }
}

/** RDD-level partitioner with the reference's exact partition layout
  * (`mapreduce.c:111-144`: partition = djb2(key) % P, unsigned).
  * Only needed when byte-exact partition-file parity matters
  * (`partitioned_wc`); everything else uses Spark's HashPartitioning.
  */
class Djb2Partitioner(val partitions: Int) extends Partitioner {
  require(partitions > 0)
  override def numPartitions: Int = partitions
  override def getPartition(key: Any): Int = key match {
    case null => 0
    case s: String => Djb2.partition(s, partitions)
    case other => Djb2.partition(other.toString, partitions)
  }
  override def equals(other: Any): Boolean = other match {
    case p: Djb2Partitioner => p.partitions == partitions
    case _ => false
  }
  override def hashCode: Int = partitions
}
