package graft

import graft.queries.Quality
import org.apache.spark.sql.functions._

/** Invariants for the Quality batch beyond the DuckDB value gate. */
class QualitySpec extends SparkSuite {

  test("cms_estimate: grid, estimates and one-sided error match a plain-Scala recompute") {
    val M = 2147483648L
    val hp = Seq((5381L, 33L), (4241L, 31L), (7919L, 37L), (104729L, 29L))
    def bucket(t: String, seed: Long, mult: Long): Int =
      (t.foldLeft(seed)((a, c) => (a * mult + c.toInt) % M) % 16).toInt
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split("[ \t\n\r]", -1).filter(_.nonEmpty))
    val cells = toks.flatMap(t => hp.zipWithIndex.map { case ((s0, m), j) =>
        (j, bucket(t, s0, m)) })
      .groupBy(identity).map { case (k, o) => (k, o.length.toLong) }
    val exact = toks.groupBy(identity).map { case (t, o) => (t, o.length.toLong) }
    val ref = exact.map { case (t, c) =>
      val est = hp.zipWithIndex.map { case ((s0, m), j) =>
        cells((j, bucket(t, s0, m))) }.min
      (t, c, est, est - c)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.Quality.cmsEstimate(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == ref)
    // the CM deterministic guarantee: estimates never undercount
    assert(got.forall(_._4 >= 0L))
    // w=16 over this vocabulary must produce real collisions, or the
    // error column demonstrates nothing
    assert(got.exists(_._4 > 0L), "no overcount — sketch degenerate on fixture")
  }

  test("heavy_hitters: two-pass MG equals brute force under forced evictions") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    // adversarial skewed stream: zipf-ish key frequencies across many
    // partitions, with k far below the cardinality so the per-partition
    // Misra-Gries summaries MUST evict constantly — the superset
    // guarantee (not summary capacity) has to carry correctness
    val rnd = new scala.util.Random(7)
    val stream = (0 until 20000).map { _ =>
      val r = rnd.nextDouble()
      if (r < 0.30) "hot0" else if (r < 0.45) "hot1" else if (r < 0.55) "hot2"
      else s"cold${rnd.nextInt(500)}"
    }
    val k = 8
    val items = stream.toDS().repartition(16)
    val got = HeavyHitters.topOver(items, k).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = stream.size
    val expect = stream.groupBy(identity).map { case (x, o) => (x, o.size.toLong) }
      .filter(_._2 > n / k).toSeq.sortBy(_._1)
    assert(got.toSeq == expect, s"got ${got.toSeq} want $expect")
    assert(expect.nonEmpty && expect.size < 10,
      "fixture must be selective or the spec proves nothing")
    // the candidate stage must honor its O(k)-per-partition bound
    val candPerPart = HeavyHitters.mgCandidates(items, k)
      .withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("p").count().collect().map(_.getLong(1))
    assert(candPerPart.forall(_ <= k), s"partition over bound: ${candPerPart.max}")
  }

  test("token_kl_drift: top-20 drift contributors match a plain-Scala recompute") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
    val cA = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cB = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { case (id, ts) =>
      val m = if (id % 2 == 0) cA else cB
      ts.foreach(t => m(t) += 1L)
    }
    val vocab = (cA.keySet ++ cB.keySet).toSeq
    val (nA, nB, v) = (cA.values.sum, cB.values.sum, vocab.size.toLong)
    def term(t: String): Long = {
      val p = (cA(t) + 1).toDouble / (nA + v)
      val q = (cB(t) + 1).toDouble / (nB + v)
      // HALF_UP like both engines' round() — away from zero on negatives
      BigDecimal(1e9 * p * math.log(p / q))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val expect = vocab.map(t => (t, cA(t), cB(t), term(t)))
      .sortBy { case (t, _, _, k) => (-math.abs(k), t) }.take(20)
    val rows = Quality.tokenKlDrift(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == expect)
    assert(rows.nonEmpty && rows.exists(_._4 != 0L), "drift report must be non-trivial")
  }

  test("distinct_ngrams: per-source diversity ratios match a plain-Scala recompute") {
    val rows = Quality.distinctNgrams(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val perSrc = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty))
      .groupBy(_._1).map { case (src, ds) => src -> ds.map(_._2) }
    val expect = perSrc.toSeq.sortBy(_._1).map { case (src, docTs) =>
      val unis = docTs.flatten
      val bis = docTs.filter(_.length >= 2)
        .flatMap(ts => ts.sliding(2).map(_.mkString(" ")))
      def bp(d: Long, n: Long) = if (n == 0) 10000L else 10000L * d / n
      (src, unis.length.toLong, unis.distinct.length.toLong,
        bp(unis.distinct.length.toLong, unis.length.toLong),
        bis.length.toLong, bis.distinct.length.toLong,
        bp(bis.distinct.length.toLong, bis.length.toLong))
    }
    assert(rows == expect)
  }

  test("ams_f2: sketch estimate matches a plain-Scala recompute and lands near exact F2") {
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).collect()
      .flatMap(_.getString(0).split("[ \t\n\r]", -1).filter(_.nonEmpty))
    val hashes = Seq((5381L, 33L), (4241L, 31L), (7919L, 37L), (104729L, 29L))
    def sign(t: String, seed: Long, mult: Long): Long = {
      val h = t.foldLeft(seed)((a, c) => (a * mult + c.toInt) % 2147483648L)
      if (h % 1000000007L % 2 == 0) 1L else -1L
    }
    val zs = hashes.map { case (s0, m) =>
      toks.foldLeft(0L)((a, t) => a + sign(t, s0, m)) }
    val est = zs.map(z => BigInt(z) * z).sum / 4
    val exact = toks.groupBy(identity).values
      .map(v => BigInt(v.length) * v.length).sum
    val r = Quality.amsF2(spark, sf0001).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((exact.toLong, est.toLong,
        (BigInt(10000) * (est - exact).abs / exact).toLong)))
    // AMS contract at d=4: the estimate is the right order of magnitude
    // (Var[Z^2] <= 2*F2^2 per row; the 4-row mean stays within a small
    // constant factor on this fixture)
    assert(est > exact / 4 && est < exact * 4)
    // the four rows are genuinely independent estimators (raw mod-2^31
    // parity collapsed them all to the character-sum parity — the bug
    // the odd-prime fold fixes)
    assert(zs.distinct.size > 1, "sign rows must differ")
  }

  test("filter_funnel: cascade survival matches a plain-Scala replay of the battery order") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).collect()
      .map(_.getString(0).split("[ \t\n\r]", -1).filter(_.nonEmpty))
    case class F(len: Boolean, wl: Boolean, st: Boolean, rep: Boolean, un: Boolean)
    val flags = docs.map { ts =>
      val n = ts.length.toLong
      val sumLen = ts.map(_.length.toLong).sum
      val maxc = if (n == 0) 0L else ts.groupBy(identity).values.map(_.length).max.toLong
      val nUniq = ts.distinct.length.toLong
      val nStop = ts.count(t => t == "a" || t == "the").toLong
      F(n >= 5 && n <= 100000,
        10 * sumLen >= 30 * n && 10 * sumLen <= 100 * n,
        50 * nStop >= n, 5 * maxc < n, 10 * nUniq >= n)
    }
    val ns = Seq(
      flags.length.toLong,
      flags.count(_.len).toLong,
      flags.count(f => f.len && f.wl).toLong,
      flags.count(f => f.len && f.wl && f.st).toLong,
      flags.count(f => f.len && f.wl && f.st && f.rep).toLong,
      flags.count(f => f.len && f.wl && f.st && f.rep && f.un).toLong)
    val names = Seq("1_all", "2_len", "3_wordlen", "4_stop", "5_rep", "6_uniq")
    val expect = names.zipWithIndex.map { case (nm, i) =>
      val prev = if (i == 0) ns(0) else ns(i - 1)
      (nm, ns(i), if (prev == 0) 0L else 10000L * (prev - ns(i)) / prev)
    }
    val got = Quality.filterFunnel(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // a funnel only narrows
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
  }

  test("vocab_coverage: power-of-2 ladder matches a plain-Scala recompute and saturates") {
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).collect()
      .flatMap(_.getString(0).split("[ \t\n\r]", -1).filter(_.nonEmpty))
    val counts = toks.groupBy(identity).toSeq
      .map { case (t, v) => (t, v.length.toLong) }
      .sortBy { case (t, c) => (-c, t) }
    val total = counts.map(_._2).sum
    val expect = (0 to 9).map(1L << _).map { k =>
      val cov = counts.take(k.toInt).map(_._2).sum
      (k, math.min(k, counts.size.toLong), cov, 10000L * cov / total)
    }
    val got = Quality.vocabCoverage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // the curve is monotone and saturates at exactly the full mass
    assert(got.map(_._4) == got.map(_._4).sorted)
    assert(got.last._4 == 10000L)
  }

  test("vocab_coverage: an empty documents table still emits all 10 ladder rungs") {
    // the oracle's `ks CROSS JOIN tot LEFT JOIN r` always produces the
    // full rung set; the Spark side must not let the theta-join drop
    // them when the vocabulary is empty (zero docs or all-delimiter text)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vocab-empty").toString
    spark.read.parquet(s"$sf0001/documents.parquet").limit(0)
      .write.parquet(s"$tmp/documents.parquet")
    val got = Quality.vocabCoverage(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == (0 to 9).map(1L << _).map(k => (k, 0L, 0L)))
  }

  test("source_overlap: pairwise vocabulary Jaccard matches a plain-Scala recompute") {
    val vocab = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
      .groupBy(_._1).map { case (src, ds) => src -> ds.flatMap(_._2).toSet }
    val srcs = vocab.keys.toSeq.sorted
    val expect = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
    } yield {
      val (a, b) = (vocab(srcs(i)), vocab(srcs(j)))
      val inter = a.intersect(b).size.toLong
      (srcs(i), srcs(j), inter, 10000L * inter / (a.size + b.size - inter))
    }).filter(_._3 > 0)
    val got = Quality.sourceOverlap(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // full upper-triangular census on this corpus (every source pair
    // shares at least one token of the tiny common vocabulary)
    assert(got.size == srcs.size * (srcs.size - 1) / 2)
  }

  test("ngram_novelty: first-occurrence shares match a plain-Scala recompute; dup docs read 0") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
      .filter(_._3.length >= 8).sortBy(_._1)
    val grams = docs.flatMap { case (id, src, ts) =>
      ts.sliding(8).map(g => (id, src, g.mkString(" "))) }
    val first = grams.groupBy(_._3).map { case (g, occ) => g -> occ.map(_._1).min }
    val expect = grams.groupBy(d => (d._1, d._2)).toSeq
      .sortBy(_._1._1).map { case ((id, src), gs) =>
        val nov = gs.count(g => first(g._3) == id)
        (id, src, gs.length.toLong, nov.toLong, 10000L * nov / gs.length)
      }
    val got = Quality.ngramNovelty(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect)
    // the screen discriminates: fresh docs at 10000, planted dups at 0
    assert(got.exists(_._5 == 10000L) && got.exists(_._5 == 0L))
    // the first document is by definition fully novel
    assert(got.head._5 == 10000L)
  }

  test("topic_boundaries: lowest-cohesion gap matches a plain-Scala block scan") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
      .filter(_._2.length >= 40)
    def expectOf(ts: Array[String]): (Long, Long) = {
      val nb = ts.length / 10
      (1 until nb).map { gap =>
        val b1 = ts.slice((gap - 1) * 10, gap * 10).distinct.toSet
        val b2 = ts.slice(gap * 10, gap * 10 + 10).distinct.toSet
        val sim = 10000L * b1.intersect(b2).size / b1.union(b2).size
        (gap.toLong, sim)
      }.minBy { case (g, s0) => (s0, g) }
    }
    val expect = docs.sortBy(_._1).map { case (id, ts) =>
      val (g, s0) = expectOf(ts); (id, g, s0) }.toSeq
    val got = Quality.topicBoundaries(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // cohesion varies: not every doc cuts at the same gap
    assert(got.map(_._2).distinct.size > 1)
  }

  test("boilerplate_ngrams: per-source shares match a plain-Scala recompute of the >=3-doc rule") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
      .filter(_._3.length >= 5)
    val grams = docs.flatMap { case (id, src, ts) =>
      ts.sliding(5).map(g => (id, src, g.mkString(" "))) }
    val boiler = grams.map(g => (g._3, g._1)).distinct
      .groupBy(_._1).filter(_._2.length >= 3).keySet
    val expect = grams.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, gs) =>
      val nb = gs.count(g => boiler(g._3))
      (src, gs.length.toLong, nb.toLong, 10000L * nb / gs.length,
        gs.filter(g => boiler(g._3)).map(_._3).distinct.length.toLong)
    }
    val rows = Quality.boilerplateNgrams(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows == expect)
    // the screen must actually fire on the fixture (planted near-dups
    // share spans) without flagging everything
    assert(rows.exists(_._3 > 0) && rows.exists(_._3 == 0))
  }

  test("boilerplate_scrub: rewrite matches a plain-Scala recompute of span coverage") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
    val grams = docs.filter(_._2.length >= 5).flatMap { case (id, ts) =>
      ts.sliding(5).zipWithIndex.map { case (g, i0) => (id, i0 + 1, g.mkString(" ")) } }
    val boiler = grams.map(g => (g._3, g._1)).distinct
      .groupBy(_._1).filter(_._2.length >= 3).keySet
    val expect = docs.map { case (id, ts) =>
      val covered = grams.filter(g => g._1 == id && boiler(g._3))
        .flatMap(g => g._2 to g._2 + 4).toSet
      val kept = ts.zipWithIndex.collect { case (t, i0) if !covered(i0 + 1) => t }
      (id, ts.length.toLong, (ts.length - kept.length).toLong, kept.mkString(" "))
    }.sortBy(_._1).toSeq
    val got = Quality.boilerplateScrub(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expect)
    // the scrub must actually edit the fixture without erasing it
    assert(got.exists(_._3 > 0) && got.exists(r => r._3 == 0 && r._2 > 0))
    // clean text token count always reconciles with the accounting
    assert(got.forall(r =>
      r._4.split(" ").count(_.nonEmpty).toLong == r._2 - r._3))
  }

  test("decontaminate_train: train-vs-benchmark audit matches a plain-Scala recompute") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
      .filter(_._2.length >= 3)
      .map { case (id, ts) => (id, ts.sliding(3).map(_.mkString(" ")).toSet) }
    def split(id: Long): String = {
      val b = ((id % 2147483647L) * 2654435761L) % 100L
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }
    val testSh = docs.filter(d => split(d._1) == "test").flatMap(_._2).toSet
    val expect = docs.filter(d => split(d._1) == "train").map { case (id, sh) =>
      val m = sh.count(testSh).toLong
      (id, sh.size.toLong, m, 5L * m >= sh.size)
    }.sortBy(_._1).toSeq
    val got = Quality.decontaminateTrain(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == expect)
    // the pass must fire on the fixture without dropping everything
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("quality_filters: flags recompute brute-force and kept is their AND") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val rows = Quality.qualityFilters(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split("[ \t\n\r]").filter(_.nonEmpty)
      val counts = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = toks.length.toLong
      val nUniq = counts.size.toLong
      val maxc = counts.values.max
      val sumLen = toks.map(_.length.toLong).sum
      val nStop = Quality.Stopwords.map(w => counts.getOrElse(w, 0L)).sum
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((n, nUniq, maxc)))
      val flags = Seq(
        n >= 5 && n <= 100000,
        10 * sumLen >= 30 * n && 10 * sumLen <= 100 * n,
        50 * nStop >= n,
        5 * maxc < n,
        10 * nUniq >= n)
      flags.zipWithIndex.foreach { case (f, i) =>
        assert(r.getBoolean(4 + i) == f, s"doc ${r.getLong(0)} flag $i")
      }
      assert(r.getBoolean(9) == flags.forall(identity))
    }
  }

  test("source_mix_report: per-source card matches a recomputation from quality_filters") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val flags = Quality.qualityFilters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(9))).toMap
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val fs = ds.map(d => flags.get(d._1))
      src -> (ds.length.toLong,
        fs.flatMap(_.map(_._1)).sum,
        fs.count(_.exists(_._2)).toLong,
        ds.length.toLong - ds.map(_._3).distinct.length)
    }
    val rows = Quality.sourceMixReport(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == expect.keys.toSeq.sorted)
    rows.foreach { r =>
      val (nd, tt, nk, dup) = expect(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == tt, r.getString(0))
      assert(r.getLong(3) == tt / nd)
      assert(r.getLong(4) == nk && r.getLong(5) == nk * 10000L / nd)
      assert(r.getLong(6) == dup)
    }
    // the report must account for every document exactly once
    assert(rows.map(_.getLong(1)).sum == docs.length.toLong)
  }

  test("repetition_ngram: the reported bigram is the true per-doc argmax") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val rows = Quality.repetitionNgram(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split("[ \t\n\r]").filter(_.nonEmpty)
      val bgs = toks.sliding(2).collect { case Array(a, b) => (a, b) }.toSeq
      val counts = bgs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      // tie-break on the space-joined string — the declared contract
      val best = counts.toSeq.sortBy { case ((w1, w2), c) => (-c, s"$w1 $w2") }.head
      assert(r.getLong(1) == bgs.length.toLong, "nb = bigram slots")
      assert(r.getLong(2) == best._2, s"doc ${r.getLong(0)} maxc")
      assert((r.getString(3), r.getString(4)) == best._1, s"doc ${r.getLong(0)} argmax")
      assert(r.getBoolean(5) == (5 * best._2 >= bgs.length))
    }
  }

  test("doc_surprisal: integer micro-nats match a driver-side recompute") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]").filter(_.nonEmpty)))
    val counts = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = counts.values.sum.toDouble
    val lp = counts.map { case (t, c) =>
      t -> math.round(math.log(c / n) * 1000000.0)
    }
    val expect = docs.map { case (id, ts) =>
      id -> (ts.length.toLong, -ts.map(lp).sum)
    }.toMap
    val rows = graft.queries.Quality.docSurprisal(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == expect(r.getLong(0)), s"doc ${r.getLong(0)}")
      assert(r.getLong(2) > 0, "surprisal is positive")
    }
  }

  test("corpus_stats: every cell re-derives independently") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val r = graft.queries.Quality.corpusStats(spark, sf0001).head()
    assert(r.getLong(0) == d.count())
    assert(r.getLong(1) == d.select("lang").distinct().count())
    assert(r.getLong(2) == d.select("source").distinct().count())
    assert(r.getLong(3) == d.agg(sum(col("n_chars"))).head().getLong(0))
    val toks = d.select(col("text")).collect()
      .map(_.getString(0).split("[ \t\n\r]").count(_.nonEmpty).toLong)
    assert(r.getLong(4) == toks.sum)
    assert(r.getLong(5) == toks.min && r.getLong(6) == toks.max)
    assert(r.getLong(7) == d.count() - d.select("text").distinct().count())
  }

  test("positional_index: every listed position really holds the term") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]").filter(_.nonEmpty)))
      .toMap
    val rows = graft.queries.Quality.positionalIndex(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // positions arrive ','-serialized (driver-sortable convention)
      val (tok, doc, pos, tf) =
        (r.getString(0), r.getLong(1),
          r.getString(2).split(",").filter(_.nonEmpty).map(_.toInt).toSeq,
          r.getLong(3))
      assert(pos.length.toLong == tf)
      assert(pos == pos.sorted && pos.distinct == pos, "strictly increasing")
      pos.foreach(p => assert(docs(doc)(p - 1) == tok, s"$tok@$doc:$p"))
      // completeness: every occurrence is listed
      assert(docs(doc).count(_ == tok).toLong == tf)
    }
  }

  test("token_count_bpe: pre-tokenizer pieces and learned-BPE charges on known strings") {
    import spark.implicits._
    val merges = graft.queries.Quality.bpeMerges(spark, sf0001)
    val texts = Seq((1L, "Hello, world 42abc"), (2L, "a"), (3L, "supercalifragilistic"), (4L, ""))
    // expectations from the INDEPENDENT in-learned-order encoder (BpeRef)
    val expect = texts.map { case (id, t) =>
      (id, BpeRef.pretokenize(t).length.toLong, BpeRef.countText(t, merges))
    }.toSet
    val rows = graft.queries.Quality.tokenCountBpeOf(
        texts.toDF("doc_id", "text"), merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == expect)
    // the single-char and unseen-long-word edges still behave: "a" is one
    // piece/one subword; an out-of-vocab run never charges more than its
    // length or less than 1
    assert(rows.contains((2L, 1L, 1L)))
    val (_, p3, s3) = rows.find(_._1 == 3L).get
    assert(p3 == 1L && s3 >= 1L && s3 <= 20L)
  }

  test("bigram_lm_topk: <=3 continuations per token, counts non-increasing") {
    val rows = graft.queries.Quality.bigramLmTopk(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.length <= 3)
      val cs = g.map(_._3).toSeq
      assert(cs == cs.sortBy(-_), "counts non-increasing within a group")
    }
  }

  test("typo_pairs: deletion-neighborhood candidates miss no brute-force pair") {
    val rows = graft.queries.Quality.typoPairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.nonEmpty, "planted variants must produce pairs")
    // brute force over the same vocab ∪ planted set
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).collect()
      .flatMap(_.getString(0).split("[ \t\n\r]").filter(_.nonEmpty)).distinct
    val planted = toks.filter(_.length >= 4).map(w => w.substring(0, w.length - 1))
    val v = (toks ++ planted).distinct
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val brute = (for {
      a <- v; b <- v if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(rows == brute, s"missing=${(brute -- rows).take(5)} extra=${(rows -- brute).take(5)}")
  }

  test("hll_merge: union of per-shard sketches equals the one-shot sketch") {
    val ev = graft.streaming.Sessions.events(spark, sf0001)
      .select(col("event_type"), col("user_id"))
    // HLL merge is a per-register max — sharding must not change the
    // estimate at all, not just keep it within the error contract
    val merged = ev.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val oneShot = ev.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .head().getLong(0)
    assert(merged == oneShot, s"sharded merge $merged != one-shot $oneShot")
    val r = Quality.hllMerge(spark, sf0001).head()
    assert(r.getBoolean(1), "estimate outside the 5% contract")
  }

  test("hll_intersect: inclusion-exclusion estimate lands inside the 10% contract") {
    val ev = graft.streaming.Sessions.events(spark, sf0001)
      .select(col("event_type"), col("user_id"))
    // exact overlap by a plain driver-side set intersection
    def users(tpe: String) = ev.filter(col("event_type") === tpe)
      .select(col("user_id")).collect().map(_.getLong(0)).toSet
    val exact = (users("view") & users("purchase")).size.toLong
    val r = Quality.hllIntersect(spark, sf0001).head()
    assert(r.getLong(0) == exact, s"n_exact ${r.getLong(0)} != $exact")
    assert(r.getBoolean(1), "inclusion-exclusion estimate outside the 10% contract")
  }

  test("bigram_surprisal: micro-nat scores match a driver-side bigram LM") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]").filter(_.nonEmpty)))
    val bigrams = docs.map { case (id, ts) =>
      id -> ts.sliding(2).collect { case Array(a, b) => (a, b) }.toSeq
    }.filter(_._2.nonEmpty)
    val c12 = bigrams.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong)
    val c1 = bigrams.flatMap(_._2).groupBy(_._1).view.mapValues(_.size.toLong)
    val lp = c12.map { case (bg, c) =>
      bg -> math.round(math.log(c.toDouble / c1(bg._1)) * 1000000.0) }.toMap
    val expect = bigrams.map { case (id, bs) =>
      id -> ((bs.length.toLong, -bs.map(lp).sum)) }.toMap
    val rows = graft.queries.Quality.bigramSurprisal(spark, sf0001).collect()
    assert(rows.length == expect.size && rows.nonEmpty)
    rows.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == expect(r.getLong(0)), s"doc ${r.getLong(0)}")
      assert(r.getLong(2) > 0)
    }
  }

  test("mixture_weights: micro weights match a plain-Scala recompute and flatten toward uniform as T grows") {
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).split("[ \t\n\r]").count(_.nonEmpty).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expect = Seq(1L, 2L, 4L).flatMap { t =>
      val p = toks.view.mapValues(n =>
        math.round(math.pow(n.toDouble, 1.0 / t.toDouble) * 1000000.0)).toMap
      val tot = p.values.sum
      p.map { case (src, pm) => (src, t) -> (toks(src), 1000000L * pm / tot) }
    }.toMap
    val rows = graft.queries.Quality.mixtureWeights(spark, sf0001).collect()
    assert(rows.length == expect.size && rows.nonEmpty)
    rows.foreach { r =>
      assert((r.getLong(2), r.getLong(3)) == expect((r.getString(0), r.getLong(1))),
        s"${r.getString(0)} T=${r.getLong(1)}")
    }
    // flattening: at higher T the weight spread strictly shrinks, and
    // the smallest source's weight is non-decreasing in T
    def spread(t: Long) = {
      val ws = rows.filter(_.getLong(1) == t).map(_.getLong(3))
      ws.max - ws.min
    }
    assert(spread(1) > spread(2) && spread(2) > spread(4),
      s"spreads: ${spread(1)}, ${spread(2)}, ${spread(4)}")
    val smallest = toks.minBy(_._2)._1
    val sw = Seq(1L, 2L, 4L).map(t => rows.find(r =>
      r.getString(0) == smallest && r.getLong(1) == t).get.getLong(3))
    assert(sw == sw.sorted, s"smallest source must up-sample with T: $sw")
  }

  test("quality_model_roc: TP/FP monotone non-increasing in theta with pinned endpoints") {
    val rows = graft.queries.Quality.qualityModelRoc(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length > 2)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq, "theta not sorted")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3,
        s"TP/FP must be non-increasing in theta: $a -> $b")
    }
    // grid spans [smin-1, smax+1]: the lowest rung admits everything
    // (TPR = FPR = 10000 bp), the highest admits nothing
    assert(rows.head._4 == 10000L && rows.head._5 == 10000L, rows.head.toString)
    assert(rows.last._2 == 0L && rows.last._3 == 0L, rows.last.toString)
    // the ROC really discriminates on this corpus: some rung separates
    // the classes (TPR > FPR strictly)
    assert(rows.exists(r => r._4 > r._5),
      "no operating point with TPR > FPR — the card carries no signal")
  }

  test("quality_model_train leaves the token counts a lazily built ROC card reads cached") {
    // roc persists the shared tokenCounts block and reads it lazily;
    // training on the same plan must not release a block it did not cache
    val counts = Quality.tokenCounts(graft.sources.Tables.documents(spark, sf0001))
    val roc = Quality.qualityModelRoc(spark, sf0001)
    assert(counts.storageLevel.useMemory, "the ROC card did not cache the token counts")
    Quality.qualityModelTrain(spark, sf0001).collect()
    assert(counts.storageLevel.useMemory, "training released the ROC card's token counts")
    assert(roc.collect().nonEmpty)
    counts.unpersist()
  }

  test("perplexity_filter: interpolated trigram micro-nats and CCNet tertiles match a driver recompute") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]").filter(_.nonEmpty)))
    val tris = docs.map { case (id, ts) =>
      id -> ts.sliding(3).collect { case Array(a, b, c) => (a, b, c) }.toSeq
    }.filter(_._2.nonEmpty)
    val all = tris.flatMap(_._2)
    val c123 = all.groupBy(identity).view.mapValues(_.size.toLong)
    val c12 = all.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong)
    val c23 = all.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong)
    val c2 = all.groupBy(_._2).view.mapValues(_.size.toLong)
    val c3 = all.groupBy(_._3).view.mapValues(_.size.toLong)
    val nn = all.length.toLong
    val lp = c123.map { case (t, c) =>
      t -> math.round(math.log(
        0.6 * (c.toDouble / c12((t._1, t._2))) +
        0.3 * (c23((t._2, t._3)).toDouble / c2(t._2)) +
        0.1 * (c3(t._3).toDouble / nn)) * 1000000.0)
    }.toMap
    val scored = tris.map { case (id, ss) =>
      val sur = -ss.map(lp).sum
      (id, ss.length.toLong, sur / ss.length) }
    val nd = scored.length.toLong
    val expect = scored.sortBy(x => (x._3, x._1)).zipWithIndex.map {
      case ((id, ns, ppl), i) =>
        val b = i.toLong * 3 / nd
        id -> ((ns, ppl,
          Seq("head", "middle", "tail")(b.toInt), b < 2))
    }.toMap
    val rows = graft.queries.Quality.perplexityFilter(spark, sf0001).collect()
    assert(rows.length == expect.size && rows.nonEmpty)
    rows.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))
        == expect(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
    // tertiles: 2/3 kept, and every kept ppl <= every dropped ppl
    val kept = rows.filter(_.getBoolean(4)).map(_.getLong(2))
    val dropped = rows.filterNot(_.getBoolean(4)).map(_.getLong(2))
    assert(kept.length == (2 * nd / 3 + (if (nd * 2 % 3 > 0) 1 else 0)).toInt ||
      kept.length == (2L * nd / 3).toInt + (if ((2L * nd) % 3 > 0) 1 else 0))
    assert(dropped.nonEmpty && kept.max <= dropped.min,
      "a dropped doc reads lower perplexity than a kept one")
  }

  test("bpe_fertility: per-language totals recompute through the reference encoder") {
    val merges = graft.queries.Quality.bpeMerges(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wordRe = "[A-Za-z]+".r
    val expect = docs.flatMap { case (lang, t) =>
      wordRe.findAllIn(t).map(w => (lang, w)) }
      .groupBy(_._1).map { case (lang, ws) =>
        val sub = ws.map { case (_, w) =>
          BpeRef.encodeInOrder(w, merges).length.toLong }.sum
        lang -> (ws.length.toLong, sub)
      }
    val rows = graft.queries.Quality.bpeFertility(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == expect.keys.toSeq.sorted)
    rows.foreach { r =>
      val (nw, ns) = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2)) == (nw, ns), r.getString(0))
      assert(r.getLong(3) == ns * 10000L / nw)
      assert(r.getLong(3) >= 10000L, "fertility is at least one subword per word")
    }
  }

  test("zipf_fit: OLS over micro-nat ln(rank)/ln(count) matches a driver recompute") {
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect()
      .flatMap(_.getString(0).split("[ \t\n\r]")).filter(_.nonEmpty)
    val counts = toks.groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex
      .map { case ((_, c), i) => (i + 1L, c) }
    val m = ranked.map { case (rank, c) =>
      (Math.round(math.log(rank.toDouble) * 1000000),
        Math.round(math.log(c.toDouble) * 1000000)) }
    val n = m.length.toLong
    val (sx, sy) = (m.map(_._1).sum, m.map(_._2).sum)
    val sxx = m.map(p => p._1 * p._1).sum
    val sxy = m.map(p => p._1 * p._2).sum
    val den = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
    val slope = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) / den
    val intercept = (sy.toDouble * sxx.toDouble - sx.toDouble * sxy.toDouble) / den
    val r = graft.queries.Quality.zipfFit(spark, sf0001).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == counts.values.sum)
    assert(math.abs(r.getDouble(2) - slope) < 1e-5, s"${r.getDouble(2)} vs $slope")
    assert(math.abs(r.getDouble(3) - intercept) < 1e-5)
    assert(r.getDouble(2) < 0, "rank-frequency slope must be negative")
  }

  test("feature_chi2: 2x2 presence contingency matches a driver recompute") {
    val rows0 = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text").collect()
    val n = rows0.length.toLong
    val byLang = rows0.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length.toLong }
    val pres = rows0.flatMap { r =>
      r.getString(2).split("[ \t\n\r]").filter(_.nonEmpty).distinct
        .map(t => (r.getString(1), t)) }
    val a = pres.groupBy(identity).map { case (k, o) => k -> o.length.toLong }
    val tTok = pres.groupBy(_._2).map { case (t, o) => t -> o.length.toLong }
    val got = graft.queries.Quality.featureChi2(spark, sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (lang, tok) = (r.getString(0), r.getString(1))
      val av = a((lang, tok)); val t = tTok(tok); val l = byLang(lang)
      assert(r.getLong(2) == av)
      val diff = av * (n - t - l + av) - (t - av) * (l - av)
      val chi2 = n.toDouble * diff.toDouble * diff.toDouble /
        (t.toDouble * (n - t).toDouble * l.toDouble * (n - l).toDouble)
      assert(math.abs(r.getDouble(3) - chi2) < 1e-5, s"$lang/$tok")
    }
    // every kept margin is non-degenerate; degenerate ones are filtered
    val expectKeys = a.keys.filter { case (lang, tok) =>
      val t = tTok(tok); val l = byLang(lang); t > 0 && t < n && l > 0 && l < n }
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet == expectKeys.toSet)
  }

  test("char_ngram_profile: per-language top-5 trigrams match a driver recompute") {
    val rows0 = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("lang", "text").collect()
    val counts = rows0.flatMap { r =>
      r.getString(1).split("[ \t\n\r]").filter(_.length >= 3)
        .flatMap(w => (0 to w.length - 3).map(i => (r.getString(0), w.substring(i, i + 3))))
    }.groupBy(identity).map { case (k, o) => k -> o.length.toLong }
    val expect = counts.groupBy(_._1._1).flatMap { case (lang, m) =>
      m.toSeq.map { case ((_, tri), c) => (tri, c) }
        .sortBy { case (tri, c) => (-c, tri) }.take(5)
        .map { case (tri, c) => (lang, tri, c) }
    }.toSet
    val got = graft.queries.Quality.charNgramProfile(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("phrase_search: index-join hits equal a naive sliding-window text scan") {
    val phrase = Array("join", "part", "filter")
    val expect = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).split("[ \t\n\r]").filter(_.nonEmpty)
        val hits = toks.sliding(3).zipWithIndex
          .filter { case (w, _) => w.length == 3 && w.sameElements(phrase) }
          .map(_._2).toSeq
        r.getLong(0) -> hits
      }
      .filter(_._2.nonEmpty).toMap
    val rows = graft.queries.Quality.phraseSearch(spark, sf0001).collect()
    assert(rows.nonEmpty, "test corpus must contain the phrase")
    assert(rows.map(_.getLong(0)).toSet == expect.keySet)
    rows.foreach { r =>
      val hits = expect(r.getLong(0))
      assert(r.getLong(1) == hits.length.toLong)
      assert(r.getLong(2) == hits.min + 1L, "first_pos is 1-based")
    }
  }

  test("dataset_card: every census column matches a driver recompute") {
    val rows = spark.read.parquet(s"$sf0001/documents.parquet").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
    val toks = rows.map(r => r._2.split("[ \t\n\r]", -1).filter(_.nonEmpty))
    val nTokens = toks.map(_.length.toLong).sum
    val r = graft.queries.Quality.datasetCard(spark, sf0001).collect().head
    assert(r.getLong(0) == rows.length.toLong)
    assert(r.getLong(1) == rows.map(_._4).distinct.length.toLong)
    assert(r.getLong(2) == rows.map(_._3).distinct.length.toLong)
    assert(r.getLong(3) == rows.map(_._5).sum)
    assert(r.getLong(4) == nTokens)
    assert(r.getLong(5) == toks.flatten.distinct.length.toLong)
    assert(r.getLong(6) == nTokens / rows.length)
    assert(r.getLong(7) == 10000L * rows.count(_._3 == "en") / rows.length)
    assert(r.getLong(8) ==
      10000L * (rows.length - rows.map(_._2).distinct.length) / rows.length)
  }

  test("log_odds_tokens: Dirichlet-smoothed z ranking matches a driver recompute") {
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "text").collect()
      .flatMap { r =>
        val ga = r.getString(0).drop(3).toLong % 2 == 0
        r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty).map(t => (ga, t))
      }
    val counts = toks.groupBy(_._2).map { case (t, os) =>
      (t, os.count(_._1).toLong, os.count(!_._1).toLong) }
    val (na, nb) = (counts.map(_._2).sum, counts.map(_._3).sum)
    val expect = counts.toSeq.map { case (t, a, b) =>
      val delta = math.log((a + 1).toDouble / (na - a + 1)) -
        math.log((b + 1).toDouble / (nb - b + 1))
      val sig = math.sqrt(1.0 / (a + 1) + 1.0 / (b + 1))
      (t, a, b, Math.round(delta / sig * 1e6), math.abs(delta / sig))
    }.sortBy { case (t, _, _, _, az) => (-az, t) }.take(10)
      .map(x => (x._1, x._2, x._3, x._4))
    val got = graft.queries.Quality.logOddsTokens(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // distinctive in both directions: positive and negative z both present
    assert(got.exists(_._4 > 0) && got.exists(_._4 < 0))
  }

  test("effective_sources: entropy perplexity matches a driver recompute") {
    val counts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source").collect().map(_.getString(0))
      .groupBy(identity).map(_._2.length.toLong)
    val nt = counts.sum.toDouble
    val hNano = counts.map { n =>
      val p = n / nt
      Math.round(-p * math.log(p) * 1e9)
    }.sum
    val r = graft.queries.Quality.effectiveSources(spark, sf0001).collect().head
    assert(r.getLong(0) == counts.size.toLong)
    assert(r.getLong(1) == hNano)
    assert(r.getLong(2) == Math.round(math.exp(hNano.toDouble / 1e9) * 1000))
    // diversity and concentration agree: eff <= n_sources always
    assert(r.getLong(2) <= r.getLong(0) * 1000)
  }

  test("hhi_sources: concentration index matches a driver recompute") {
    val mass = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("source", "CAST(n_chars AS BIGINT) AS n").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val total = mass.values.sum
    val shares = mass.values.map(m => 10000L * m / total)
    val r = graft.queries.Quality.hhiSources(spark, sf0001).collect().head
    assert(r.getLong(0) == mass.size.toLong)
    assert(r.getLong(1) == shares.map(s0 => s0 * s0).sum)
    assert(r.getLong(2) == shares.max)
    // near-uniform fixture: HHI close to the uniform floor 10^8/k
    assert(r.getLong(1) >= 100000000L / mass.size)
    assert(r.getLong(1) < 3L * 100000000L / mass.size)
  }

  test("mutual_info: per-cell PMI and contributions match a driver recompute") {
    val cells = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ns = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val nl = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val nt = cells.values.sum
    val expect = cells.toSeq.map { case ((src, lg), n) =>
      val pmi = Math.round(math.log(
        (n.toDouble * nt) / (ns(src).toDouble * nl(lg))) * 1e9)
      (src, lg, n, pmi, n * pmi / nt)
    }.sortBy(t => (t._1, t._2))
    val got = graft.queries.Quality.mutualInfo(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect)
    // MI is a real dependence signal on the fixture: nonzero total
    assert(expect.map(_._5).sum != 0L)
  }

  test("heaps_law: growth curve and log-log fit match a driver recompute") {
    val grams = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val ts = r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)
        if (ts.length < 3) Seq.empty
        else ts.sliding(3).map(w => (r.getLong(0), w.mkString(" "))).toSeq
      }
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    val ps = ((3 to 40).map(1L << _).filter(_ < nDocs) :+ nDocs).sorted
    val firstSeen = grams.groupBy(_._2).map { case (_, os) => os.map(_._1).min }
    val curve = ps.map { p =>
      (p, grams.count(_._1 < p).toLong, firstSeen.count(_ < p).toLong)
    }
    val (lx, ly) = (curve.map(c => Math.round(math.log(c._2.toDouble) * 1e6)),
      curve.map(c => Math.round(math.log(c._3.toDouble) * 1e6)))
    val k = curve.length.toDouble
    val (sx, sy) = (lx.sum.toDouble, ly.sum.toDouble)
    val sxx = lx.map(x => x * x).sum.toDouble
    val sxy = lx.zip(ly).map { case (x, y) => x * y }.sum.toDouble
    val beta = BigDecimal((k * sxy - sx * sy) / (k * sxx - sx * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.queries.Quality.heapsLaw(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == curve.map(c => (c._1, c._2, c._3, beta)))
    // a real sub-linear growth exponent, not a saturated or linear corpus
    assert(beta > 0.5 && beta < 1.0, s"beta $beta")
  }

  test("quality model: train/score/agreement match a plain-Scala recompute and beat the majority class") {
    // the full chain re-derived sequentially from raw text: battery
    // labels, hashed per-mille ratios, floor-div class centroids,
    // scores, 257-rung threshold ERM
    def h31(tok: String): Long =
      tok.foldLeft(5381L)((a, c) => (a * 33 + c.toLong) % 2147483648L)
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split("[ \t\n\r]", -1).filter(_.nonEmpty)))
      .filter(_._2.nonEmpty)
    val labels = rows.map { case (id, ts) =>
      val cnt = ts.groupBy(identity).map { case (t, g) => t -> g.length.toLong }
      val n = ts.length.toLong
      val (nu, maxc) = (cnt.size.toLong, cnt.values.max)
      val sl = cnt.map { case (t, c) => t.length * c }.sum
      val ns = cnt.getOrElse("a", 0L) + cnt.getOrElse("the", 0L)
      val kept = n >= 5 && n <= 100000 && 10 * sl >= 30 * n && 10 * sl <= 100 * n &&
        50 * ns >= n && 5 * maxc < n && 10 * nu >= n
      id -> (if (kept) 1L else -1L)
    }.toMap
    val feats = rows.map { case (id, ts) =>
      val n = ts.length.toLong
      id -> ts.groupBy(t => (h31(t) % 64).toInt)
        .map { case (b, g) => b -> 1000L * g.length / n }
    }.toMap
    val pos = labels.collect { case (id, 1L) => id }.toSeq
    val neg = labels.collect { case (id, -1L) => id }.toSeq
    val w = Array.tabulate(64) { b =>
      pos.map(feats(_).getOrElse(b, 0L)).sum / pos.length -
        neg.map(feats(_).getOrElse(b, 0L)).sum / neg.length
    }
    val sc = labels.keys.map(id =>
      id -> feats(id).map { case (b, x) => x * w(b) }.sum).toMap
    val (smin, smax) = (sc.values.min, sc.values.max)
    val theta = (0L to 256L).map(j => smin - 1 + j * (smax - smin + 2) / 256)
      .map(t => (labels.count { case (id, y) =>
        (y == 1L && sc(id) <= t) || (y == -1L && sc(id) > t) }, t))
      .min // (err, theta) lexicographic = the argmin tie-break
      ._2
    val gotW = graft.queries.Quality.qualityModelTrain(spark, sf0001).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 64).foreach(b => assert(gotW(b) == w(b), s"w[$b]"))
    assert(gotW(64) == theta, s"theta: got ${gotW(64)} want $theta")
    val gotS = graft.queries.Quality.qualityModelScore(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(gotS.length == labels.size)
    gotS.foreach { case (id, score, pred) =>
      assert(score == sc(id) && pred == (sc(id) > theta), s"doc $id")
    }
    val ag = graft.queries.Quality.qualityModelAgreement(spark, sf0001).collect()(0)
    val (n, tn) = (ag.getLong(0), ag.getLong(4))
    val errs = labels.count { case (id, y) => (sc(id) > theta) != (y == 1L) }
    assert(ag.getLong(2) + ag.getLong(3) == errs, "fp+fn is the error count")
    // the model must beat always-keep (the majority class) and actually
    // reject something, or the trained scorer demonstrates nothing
    assert(errs < neg.length, s"errors $errs not below majority ${neg.length}")
    assert(tn > 0, "model never rejects — degenerate")
    val kappa = ag.getLong(6)
    assert(kappa > 0, s"kappa_micro $kappa — majority-class collapse")
    assert(n == labels.size.toLong)
  }

  test("quality_model_calibration: deciles reconcile with the battery and the score actually ranks") {
    val cal = graft.queries.Quality.qualityModelCalibration(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cal.map(_._1).toSeq == (0 until 10))
    // equal-count deciles (±1 on non-divisible corpora)
    val sizes = cal.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"deciles not equal-count: ${sizes.toSeq}")
    // Σ kept over deciles = the battery's kept census
    val keptTotal = graft.queries.Quality.qualityFilters(spark, sf0001)
      .filter(col("kept")).count()
    assert(cal.map(_._3).sum == keptTotal)
    // the score must RANK: the top decile's observed keep rate strictly
    // above the bottom decile's, or the calibration card shows noise
    assert(cal.head._4 > cal.last._4,
      s"top decile ${cal.head._4} bp !> bottom ${cal.last._4} bp")
  }
}
