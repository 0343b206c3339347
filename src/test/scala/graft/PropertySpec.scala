package graft

import graft.functions.{Bpe, Djb2, Utf8ByteOrdering, ZOrder}
import graft.operators.MRJob
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests over the pure-JVM kernels the hot paths codegen
  * against. Every property checks the implementation against an
  * INDEPENDENT formulation (BigInt wrap-around, byte-array compare, a
  * bit-loop), not against itself — the example-based specs pin known
  * vectors; these sweep the input space. Seeded, so a failure replays.
  * No SparkSession: everything here must hold before distribution even
  * enters the picture.
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String)(p: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(300)
      .withInitialSeed(0xC0FFEEL)
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name failed: ${r.status}")
  }

  // well-formed strings over the full code-point range (incl. supplementary)
  private val cpGen: Gen[Int] = Gen.frequency(
    8 -> Gen.choose(0x20, 0x7E),
    3 -> Gen.choose(0x80, 0xD7FF),
    2 -> Gen.choose(0xE000, 0xFFFD),
    2 -> Gen.choose(0x10000, 0x10FFFF))
  private val cpStr: Gen[String] =
    Gen.listOf(cpGen).map(_.flatMap(Character.toChars(_).toSeq).mkString)
  // raw UTF-16 char sequences: may contain unpaired surrogates (malformed)
  private val rawStr: Gen[String] =
    Gen.listOf(Gen.choose(0, 0xFFFF).map(_.toChar)).map(_.mkString)

  test("djb2 equals the C wrap-around semantics (independent BigInt model)") {
    val two64 = BigInt(1) << 64
    check("djb2-ref")(Prop.forAll(cpStr) { s =>
      val ref = s.getBytes("UTF-8").foldLeft(BigInt(5381)) { (h, b) =>
        (h * 33 + BigInt(b.toLong)).mod(two64) // signed char add, mod 2^64
      }
      Djb2.hash(s) == ref.toLong // toLong keeps the low 64 bits, like C
    })
  }

  test("djb2 partition is the unsigned modulo, in range, for any P") {
    check("djb2-pid")(Prop.forAll(cpStr, Gen.choose(1, 1 << 16)) { (s, p) =>
      val pid = Djb2.partition(s, p)
      val unsigned = (BigInt(Djb2.hash(s)) & ((BigInt(1) << 64) - 1)) mod BigInt(p)
      pid >= 0 && pid < p && BigInt(pid) == unsigned
    })
  }

  test("Utf8ByteOrdering sign-agrees with unsigned UTF-8 byte compare, even malformed") {
    def byteCmp(a: String, b: String): Int = {
      val ba = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
      var i = 0
      while (i < ba.length && i < bb.length) {
        val d = (ba(i) & 0xFF) - (bb(i) & 0xFF)
        if (d != 0) return Integer.signum(d)
        i += 1
      }
      Integer.signum(ba.length - bb.length)
    }
    val p = Prop.forAll(rawStr, rawStr) { (a, b) =>
      Integer.signum(Utf8ByteOrdering.compare(a, b)) == byteCmp(a, b)
    }
    check("utf8-order")(p)
    // reflexivity/antisymmetry on the well-formed generator too
    check("utf8-antisym")(Prop.forAll(cpStr, cpStr) { (a, b) =>
      Integer.signum(Utf8ByteOrdering.compare(a, b)) ==
        -Integer.signum(Utf8ByteOrdering.compare(b, a))
    })
  }

  test("getline records equal the regex split they replace, newline-kept") {
    // the former formulation: split after each \n, an empty file yields none
    def regexLines(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split("(?<=\n)").toSeq
    val piece = Gen.frequency(
      4 -> Gen.alphaNumStr, 2 -> Gen.const("\n"), 1 -> Gen.const("\r\n"),
      1 -> Gen.const("\n\n\n"), 1 -> Gen.const(" "), 1 -> cpStr)
    val text = Gen.frequency(1 -> Gen.const(""), 9 -> Gen.listOf(piece).map(_.mkString))
    check("getlines")(Prop.forAll(text) { s =>
      val got = MRJob.getlineRecords(s).toSeq
      got == regexLines(s) && got.mkString == s && got.forall(_.nonEmpty)
    })
    assert(MRJob.getlineRecords("").isEmpty)
    assert(MRJob.getlineRecords("\na\r\n\nb").toSeq == Seq("\n", "a\r\n", "\n", "b"))
  }

  private def mortonRef(x: Long, y: Long): Long = {
    var r = 0L; var i = 0
    while (i < 31) {
      r |= ((x >> i) & 1L) << (2 * i)
      r |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }
  private def mortonEval(x: Long, y: Long): Long =
    ZOrder.morton2Expr(Literal(x), Literal(y)).eval(null).asInstanceOf[Long]
  private val key31 = Gen.choose(0L, 0x7FFFFFFFL)

  test("morton2 expression equals the bit-loop reference") {
    check("morton-ref")(Prop.forAll(key31, key31) { (x, y) =>
      mortonEval(x, y) == mortonRef(x, y)
    })
  }

  test("morton2 is monotone under coordinate dominance and round-trips") {
    // dominance: x1<=x2 && y1<=y2 ==> code1 <= code2 (what makes
    // contiguous code ranges into bounded rectangles for pruning)
    check("morton-mono")(Prop.forAll(key31, key31, key31, key31) { (a, b, c, d) =>
      val (x1, x2) = (a min b, a max b); val (y1, y2) = (c min d, c max d)
      mortonRef(x1, y1) <= mortonRef(x2, y2)
    })
    // bijectivity: de-interleaving even/odd bits recovers both keys
    def unspread(z: Long): Long = {
      var r = 0L; var i = 0
      while (i < 31) { r |= ((z >> (2 * i)) & 1L) << i; i += 1 }
      r
    }
    check("morton-roundtrip")(Prop.forAll(key31, key31) { (x, y) =>
      val z = mortonRef(x, y)
      unspread(z) == x && unspread(z >> 1) == y
    })
  }

  private val alphaWord: Gen[String] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val corpusGen: Gen[List[(String, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(alphaWord, Gen.choose(1L, 50L)))

  test("BPE: token count is within [1, |word|] under any trained merge table") {
    check("bpe-bounds")(Prop.forAll(corpusGen, Gen.choose(0, 25)) { (wc, n) =>
      val ranks = Bpe.ranksOf(Bpe.train(wc, n))
      wc.forall { case (w, _) =>
        val c = Bpe.countWord(w, ranks)
        c >= 1L && c <= w.length.toLong
      }
    })
  }

  test("BPE: empty merge table degenerates to character count") {
    val empty = Bpe.ranksOf(Array.empty[String])
    check("bpe-empty")(Prop.forAll(alphaWord) { w =>
      Bpe.countWord(w, empty) == w.length.toLong
    })
  }

  test("BPE: countText is additive over space-separated words, non-alpha charges 1") {
    check("bpe-additive")(Prop.forAll(corpusGen, Gen.choose(0, 25)) { (wc, n) =>
      val ranks = Bpe.ranksOf(Bpe.train(wc, n))
      val words = wc.map(_._1)
      val joined = UTF8String.fromString(words.mkString(" "))
      Bpe.countText(joined, ranks) == words.map(Bpe.countWord(_, ranks)).sum
    })
    val ranks = Bpe.ranksOf(Array.empty[String])
    assert(Bpe.countText(UTF8String.fromString("a7!"), ranks) == 3L)
  }

  // bounded integer-micro components (the embedding lattice posture)
  private val microGen: Gen[Long] = Gen.choose(-2000000L, 2000000L)
  private def vecGen(n: Int): Gen[Array[Long]] =
    Gen.listOfN(n, microGen).map(_.toArray)

  test("PQ ADC law: a quantization-error-free vector scores its exact distance") {
    import graft.operators.Pq
    val dims = Pq.M * Pq.SubDim
    val cbGen: Gen[Array[Array[Array[Long]]]] =
      Gen.listOfN(Pq.M, Gen.listOfN(Pq.K, vecGen(Pq.SubDim)).map(_.toArray))
        .map(_.toArray)
    // residual ADC approximates d(q, v) by d(q_m, cc_cell_m +
    // centroid(code(r_m))) summed; when every residual subvector of v IS
    // its chosen codebook centroid (v = cell center + decoded residual)
    // the approximation must collapse to the exact squared L2 — the
    // identity separating table lookup bugs from genuine quantization
    // error
    val coarseGen: Gen[Array[Array[Long]]] =
      Gen.listOfN(2, vecGen(dims)).map(_.toArray)
    check("adc-exact")(Prop.forAll(cbGen, coarseGen, vecGen(dims),
        Gen.choose(0, 1),
        Gen.listOfN(Pq.M, Gen.choose(0, Pq.K - 1)).map(_.toArray)) {
      (cb, coarse, q, cell, codes) =>
      val dt = Pq.distTables(cb, coarse, q)
      val v = (0 until Pq.M).flatMap { m =>
        (0 until Pq.SubDim).map(i =>
          coarse(cell)(m * Pq.SubDim + i) + cb(m)(codes(m))(i))
      }.toArray
      val exact = q.indices.map(i => (q(i) - v(i)) * (q(i) - v(i))).sum
      (0 until Pq.M).map(m => dt(cell)(m)(codes(m))).sum == exact
    })
  }

  test("thumbnail law: resizing a 4x4 image is the identity on its pixel bytes") {
    import graft.operators.Multimodal.{BmpFile, BmpThumbCodec, MediaIn}
    val codec = new BmpThumbCodec
    check("thumb-identity")(Prop.forAll(Gen.choose(0L, 1L << 40)) { seed =>
      val bytes = BmpFile.build(4, 4, seed)
      val rb = BmpFile.rowBytes(4) // 12: no padding at w=4, rows contiguous
      codec.thumb(MediaIn(1L, bytes)).forall { p =>
        val base = 54 + p.py * rb + p.px * 3
        p.b == (bytes(base) & 0xFF) && p.g == (bytes(base + 1) & 0xFF) &&
          p.r == (bytes(base + 2) & 0xFF)
      }
    })
  }

  test("RRF fusion is rank-monotone within a list (pure kernel)") {
    // 1e9 div (60+rank) must be strictly decreasing over the rank range a
    // corpus can produce (collisions would make fused order depend on the
    // other list only) — strictness holds while (60+r)^2/1e9 < 1 gap, so
    // assert it over the first 30k ranks and monotone (non-strict) beyond
    def rrf(r: Long) = 1000000000L / (60L + r)
    assert((1L until 30000L).forall(r => rrf(r) > rrf(r + 1)))
    check("rrf-monotone")(Prop.forAll(Gen.choose(1L, 10000000L)) { r =>
      rrf(r) >= rrf(r + 1)
    })
  }
}
