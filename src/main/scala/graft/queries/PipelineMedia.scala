package graft.queries

import graft.MaterializedCaches.persistOnce
import graft.operators.Multimodal
import graft.sources.Tables
import graft.streaming.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier-C media / temporal queries: the multimodal decode pipeline
  * (BMP byte-independence path + javax.imageio JPEG/PNG path, WAV
  * chunk-walk), sessionization, event JSON, and the temporal join
  * family (range / as-of / overlap, tumbling / sliding windows). One
  * of the three cohesive modules [[Pipeline]] composes.
  */
private[queries] trait PipelineMedia extends PipelineBase { this: Pipeline.type =>

  /** Batch sessionization (gaps-and-islands). */
  def sessionize(s: SparkSession, d: String): DataFrame = Sessions.sessionize(s, d)

  /** Native session_window sessionization (streaming-compatible operator
    * run in batch).
    */
  def sessionWindow(s: SparkSession, d: String): DataFrame = Sessions.sessionWindowAgg(s, d)

  /** JSON scalar functions over events.props. */
  def eventsJson(s: SparkSession, d: String): DataFrame =
    Sessions.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  /** Range join (scale-correct binned implementation): every event joined
    * to its enclosing session, counted per session. The count must equal
    * the session's n_events — a self-checking invariant, and the DuckDB
    * oracle performs the same range join directly.
    */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val sessions = Sessions.sessionTable(s, d)
      .select(col("user_id"), col("start_ms"), col("end_ms"))
    val ev = Sessions.events(s, d).select(col("user_id"), col("ts_ms"))
    graft.operators.RangeJoin.binned(ev, sessions,
        keys = Seq("user_id"), pt = "ts_ms", lo = "start_ms", hi = "end_ms",
        binWidth = Sessions.GapMs)
      .groupBy(col("user_id"), col("start_ms"))
      .agg(count(lit(1)).as("n_in_range"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** As-of join: each event picks up the most recent session start at or
    * before its timestamp (= its own session) — point-in-time join over
    * the events table, checked against DuckDB's native ASOF JOIN.
    */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val sessions = Sessions.sessionTable(s, d)
      .select(col("user_id"), col("start_ms"), col("session_seq"))
      .withColumnRenamed("start_ms", "ts_ms") // as-of ts on the build side
    val ev = Sessions.events(s, d).select(col("user_id"), col("event_id"), col("ts_ms"))
    graft.operators.AsOfJoin.lastValue(ev, sessions,
        keyCol = "user_id", tsCol = "ts_ms", payloadCol = "session_seq")
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Forward as-of join: each event picks up the NEAREST session start
    * at or after its timestamp (null for events after their user's last
    * session start) — the mirror of asof_join, checked against DuckDB's
    * ASOF LEFT JOIN with a <= condition.
    */
  def asofForward(s: SparkSession, d: String): DataFrame = {
    val sessions = Sessions.sessionTable(s, d)
      .select(col("user_id"), col("start_ms"), col("session_seq"))
      .withColumnRenamed("start_ms", "ts_ms")
    val ev = Sessions.events(s, d).select(col("user_id"), col("event_id"), col("ts_ms"))
    graft.operators.AsOfJoin.nextValue(ev, sessions,
        keyCol = "user_id", tsCol = "ts_ms", payloadCol = "session_seq")
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Interval-overlap join: pairs of events of the same user within 5
    * minutes of each other (each event widened to a 5-minute interval;
    * overlap ⇔ |Δts| <= 5 min), counted per user. Runs on the binned
    * overlap operator — equi-join on (user, bin) with first-shared-bin
    * dedup, never a nested loop.
    */
  def overlapJoin(s: SparkSession, d: String): DataFrame = {
    val winMs = 300000L
    val ev = Sessions.events(s, d).select(col("user_id"), col("event_id"), col("ts_ms"))
    val a = ev.select(col("user_id"), col("event_id").as("id1"), col("ts_ms").as("lo1"))
      .withColumn("hi1", col("lo1") + lit(winMs))
    val b = ev.select(col("user_id"), col("event_id").as("id2"), col("ts_ms").as("lo2"))
      .withColumn("hi2", col("lo2") + lit(winMs))
    graft.operators.RangeJoin.overlap(a, b, Seq("user_id"),
        lo1 = "lo1", hi1 = "hi1", lo2 = "lo2", hi2 = "hi2", binWidth = winMs)
      .filter(col("id1") < col("id2"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Tumbling-window aggregation: events per (1-hour window, type) via
    * the native `window()` operator (streaming-compatible; run in batch).
    */
  def tumblingWindow(s: SparkSession, d: String): DataFrame =
    Sessions.events(s, d)
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
      .groupBy(window(col("tstamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col("event_type"), col("n"))
      .orderBy(col("win_start_ms"), col("event_type"))

  /** Sliding-window aggregation (1-hour window, 30-minute slide): every
    * event lands in exactly two overlapping windows; the oracle models
    * that as the union of the two slide-aligned assignments.
    */
  def slidingWindow(s: SparkSession, d: String): DataFrame =
    Sessions.events(s, d)
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
      .groupBy(window(col("tstamp"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("win_start_ms"),
        col("event_type"), col("n"))
      .orderBy(col("win_start_ms"), col("event_type"))

  /** Distinct aggregates (count-distinct reducer shape). */
  def countDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("n_parts"),
        count_distinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  /** Multimodal metadata via the per-partition codec. frame_samples is
    * flattened to a comma-joined string for the oracle compare (array
    * cells are unhashable on the driver's pandas side).
    */
  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeMeta(s, docs(s, d)).toDF()
      .withColumn("frame_samples", Shared.csv(col("frame_samples")))
      .orderBy(col("doc_id"))

  /** The frame-sampling fan-out a feature extractor consumes: one row
    * per sampled frame (payload, ordinal, frame index) via posexplode of
    * the decoded sample list — the batch shape a video pipeline hands to
    * the per-frame model stage.
    */
  def multimodalFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeMeta(s, docs(s, d)).toDF()
      .select(col("doc_id"), posexplode(col("frame_samples")).as(Seq("pos", "fi")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("sample_ord"),
        col("fi").cast("int").as("frame_idx"))
      .orderBy(col("doc_id"), col("sample_ord"))

  /** Audio metadata via the same per-partition codec seam as
    * [[multimodalMeta]] but a second real container format (RIFF/WAVE
    * with a planted skippable chunk) — the codec seam generalizing
    * beyond one format is the claim under test.
    */
  def multimodalAudio(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeAudio(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"))

  /** The RESIZE stage of the media pipeline: a real nearest-neighbor 4×4
    * thumbnail sampled from each payload's decoded frame-0 pixel array
    * ([[Multimodal.thumbnails]]) — the Spark side reads actual BMP
    * bytes (header parse, stride arithmetic, pixel indexing); the oracle
    * re-derives the same bytes from what the BUILDER planted, so the two
    * meet only through the byte layout, like multimodal_meta.
    */
  def imageThumb(s: SparkSession, d: String): DataFrame =
    Multimodal.thumbnails(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"), col("py"), col("px"))

  /** Perceptual average-hash of every image payload — the multimodal
    * dedup fingerprint ([[graft.operators.Multimodal.BmpAHashCodec]]):
    * the map-only feature-extract stage whose 8-byte codes feed the
    * same Hamming probe machinery as [[bqTopk]]. Decoded from the real
    * BMP bytes; the oracle recomputes the planted pixel arithmetic —
    * two independent paths meeting only through the hash.
    */
  def imagePhash(s: SparkSession, d: String): DataFrame =
    Multimodal.imageHashes(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"))

  /** [[imageThumb]] with the JDK javax.imageio decoder behind the same
    * seam, over real PNG payloads ([[Multimodal.pngThumbnails]]) — the
    * format an actual image corpus ships. PNG is lossless, so the
    * planted-pixel oracle is exact; the pure-JVM BMP twin above stays
    * as the byte-independence contract.
    */
  def imageThumbPng(s: SparkSession, d: String): DataFrame =
    Multimodal.pngThumbnails(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"), col("py"), col("px"))

  /** [[imagePhash]] over the PNG payloads via javax.imageio — same
    * 8-byte Hamming-probe codes, production decoder.
    */
  def imagePhashPng(s: SparkSession, d: String): DataFrame =
    Multimodal.pngImageHashes(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"))

  /** Format triage over a MIXED PNG/JPEG corpus (even doc_ids PNG, odd
    * JPEG): magic-sniffed format + decoded geometry per payload — the
    * ingest scan that routes payloads to per-format stages. Geometry is
    * exact for both formats (JPEG's loss is in pixels, not dimensions),
    * which makes this the oracle-gated JPEG decode query; JPEG pixel
    * fidelity is spec-gated with a tolerance instead (lossy by design).
    */
  def imageCodecMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.imageCodecMeta(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"))

  /** Hash-exact IMAGE dedup census — the dedup_exact of the multimodal
    * column (LAION-style corpus hygiene: byte-identical re-uploads and
    * trivial re-encodes collapse to one aHash): one row per distinct
    * 64-bit perceptual hash with member count and representative (min
    * doc_id — the dedup_exact keep-min convention). The fixture
    * honestly exhibits real collapse (303 distinct hashes over 500
    * images, max cluster 41 — tiny smooth gradients hash alike). Scale
    * shape: ONE hash aggregate over the map-only decode stream — no
    * pairs, no shuffle beyond the 16-byte-key groupBy, any corpus size.
    */
  def imageDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.imageHashes(s, docs(s, d)).toDF()
      .groupBy(col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("rep_doc"))
      .select(col("rep_doc"), col("n_members"), col("hash_lo"), col("hash_hi"))
      .orderBy(col("rep_doc"))

  /** Incremental-ingest IMAGE dedup — [[imageDedup]]'s census used as
    * the ingest-time gate (the dedup_incremental posture on the
    * multimodal column): a replayed ingest window (doc_id ≥ 250) keeps
    * only payloads whose perceptual hash is UNSEEN in the already-
    * ingested corpus (doc_id < 300 — the ranges overlap, modeling a
    * restart from an earlier checkpoint, so the 250–299 slice is
    * guaranteed already-seen and must drop). Left-anti join on the
    * 16-byte hash key; at scale the seen side is the MATERIALIZED
    * census (the [[graft.streaming.MaintainedCounts]] table the
    * streaming instance maintains), hash-bucketed so each batch
    * anti-joins at O(batch) without reshuffling the corpus.
    */
  def imageDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val seen = Multimodal.imageHashes(s, dd.filter(col("doc_id") < 300)).toDF()
      .select(col("hash_lo").as("sl"), col("hash_hi").as("sh")).distinct()
    Multimodal.imageHashes(s, dd.filter(col("doc_id") >= 250)).toDF()
      .join(seen,
        col("hash_lo") === col("sl") && col("hash_hi") === col("sh"), "left_anti")
      .select(col("doc_id"), col("hash_lo"), col("hash_hi"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate IMAGE pairs by aHash Hamming distance ≤ 3, found
    * via 4×16-bit band buckets — the Hamming-space LSH with a PROVABLE
    * recall contract: 3 bit flips can touch at most 3 of the 4 bands
    * (pigeonhole), so every ≤3-distance pair shares an untouched band
    * and the band join is LOSSLESS, never heuristic — which is exactly
    * why the DuckDB oracle may verify with plain exact Hamming and
    * still hash-match. Audit-bounded to doc_id < 500 (the
    * knn_label_consistency posture: the declared query is the bounded
    * audit; at corpus scale the same band buckets run corpus-wide with
    * the LSH giant-bucket pre-shard, candidates ∝ bucket mass, never
    * all-pairs). Output: (id1, id2, hamming) per verified pair.
    */
  def imageNearDup(s: SparkSession, d: String): DataFrame =
    imageNearDupPairs(s, d).orderBy(col("id1"), col("id2"))

  /** The image near-dup PAIR artifact, unsorted and cached per
    * (session, dir) — the ngramPairCache posture: the declared query
    * adds only the presentation sort, and [[modalityNeardupSummary]]
    * aggregates the same bounded frame instead of re-running the
    * decode + band join per read; bounded by the doc_id < 500 audit
    * domain.
    */
  private[queries] val imagePairCache = new graft.DfCache("media.imageNearDupPairs")

  private[queries] def imageNearDupPairs(s: SparkSession, d: String): DataFrame =
    imagePairCache.getOrElseUpdate((s, d), imageNearDupPairsUncached(s, d))

  private def imageNearDupPairsUncached(s: SparkSession, d: String): DataFrame = {
    // persist: the band self-join references this frame on BOTH sides,
    // and without storage each side re-runs the payload decode (the
    // tf_idf lesson — when two branches must see one evaluation, say so
    // with storage).
    val h = persistOnce(Multimodal.imageHashes(s, docs(s, d).filter(col("doc_id") < 500))
      .toDF().select(col("doc_id"), col("hash_lo"), col("hash_hi")))
    val bands = h.select(col("doc_id"), col("hash_lo"), col("hash_hi"),
      posexplode(array(
        col("hash_lo").bitwiseAND(lit(65535L)),
        shiftright(col("hash_lo"), 16).bitwiseAND(lit(65535L)),
        col("hash_hi").bitwiseAND(lit(65535L)),
        shiftright(col("hash_hi"), 16).bitwiseAND(lit(65535L))))
        .as(Seq("band_idx", "band_val")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.hash_lo").as("l1"), col("a.hash_hi").as("h1"),
        col("b.hash_lo").as("l2"), col("b.hash_hi").as("h2"))
      .distinct() // a pair may collide in several bands — count it once
    cand
      .select(col("id1"), col("id2"),
        (expr("bit_count(l1 ^ l2)") + expr("bit_count(h1 ^ h2)")).as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** VIDEO frame-sample fan-out — the `multimodal_frames` shape over a
    * REAL multi-frame container: each doc's animated GIF is decoded by
    * the JDK reader ([[graft.operators.Multimodal.GifCodec]]) and its
    * first/middle/last frames sampled, each row carrying the decoded
    * (0,0) gray as a per-frame pixel witness (frame f plants a +7f
    * term, so only true per-frame decode matches the oracle). GIF's
    * palette model makes grayscale frames lossless — the PNG exactness
    * property extended to the video column. Map-only; 3 rows per video
    * at any frame count.
    */
  def videoFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.videoFrameSamples(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"), col("sample_ord"))

  /** [[videoFrames]] through the SECOND video container — RIFF/AVI
    * with uncompressed 8-bit DIB frames, decoded by the pure-JVM chunk
    * walker ([[graft.operators.Multimodal.AviCodec]], the WAV RIFF
    * grammar). Same geometry and planted pixels per doc as the GIF
    * path, so the two containers must decode to row-identical frame
    * samples (spec-pinned) and this query carries the same exact
    * planted-pixel oracle: the video seam is format-agnostic the way
    * RIFF/WAVE proved the audio seam. Map-only; 3 rows per video.
    */
  def videoFramesAvi(s: SparkSession, d: String): DataFrame =
    Multimodal.aviFrameSamples(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"), col("sample_ord"))

  /** VIDEO dedup census — [[imageDedup]] for the video column: one row
    * per distinct (n_frames, frame-0 aHash, brightness contour)
    * fingerprint with member count and keep-min rep. The contour bits
    * (bit f set iff frame f+1's 8×8-grid mean exceeds frame f's) are
    * the audio energy-contour trick in the image domain: re-encoded
    * uploads of the same clip share the fingerprint, uniform-brightness
    * shifts don't break it, temporal re-cuts do. ONE hash aggregate
    * over the map-only decode stream — no pairs at any corpus size.
    */
  def videoDedup(s: SparkSession, d: String): DataFrame =
    Multimodal.videoHashes(s, docs(s, d)).toDF()
      .groupBy(col("n_frames"), col("hash_lo"), col("hash_hi"), col("contour_fp"))
      .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("rep_doc"))
      .select(col("rep_doc"), col("n_members"), col("n_frames"),
        col("hash_lo"), col("hash_hi"), col("contour_fp"))
      .orderBy(col("rep_doc"))

  /** CROSS-MODAL consistency audit — the recaptioned-reupload report a
    * LAION-style curation run reads: image-hash clusters (the
    * [[imageDedup]] census key) whose members do NOT all share one
    * text, i.e. the same picture travelling under different captions.
    * Exact-text distinctness is the text-dedup cluster relation
    * (dedup_exact's content-equality key), so `n_texts > 1` means the
    * image cluster spans text clusters. One doc_id-equi join (decode
    * stream × captions) + one hash aggregate — no pairs at any scale;
    * totals reconcile against [[modalityDedupSummary]] (spec-pinned:
    * Σ(n_members−1) over all image clusters = the card's image dupes).
    */
  def crossmodalMismatch(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    Multimodal.imageHashes(s, dd).toDF()
      .join(dd.select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy(col("hash_lo"), col("hash_hi"))
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_members"),
        count_distinct(col("text")).as("n_texts"))
      .filter(col("n_members") >= 2 && col("n_texts") > 1)
      .select(col("rep_doc"), col("n_members"), col("n_texts"),
        col("hash_lo"), col("hash_hi"))
      .orderBy(col("rep_doc"))
  }

  /** Incremental-ingest VIDEO dedup — [[imageDedupIncremental]]'s
    * replayed-window gate on the video column: the batch (doc_id ≥ 250)
    * keeps only videos whose (n_frames, frame-0 aHash, contour)
    * fingerprint is UNSEEN in the ingested corpus (doc_id < 300 — the
    * overlap models a checkpoint replay, so the 250–299 slice provably
    * drops). Left-anti on the ~20-byte fingerprint key; at scale the
    * seen side is the materialized census, hash-bucketed → O(batch)
    * per ingest, the same posture across all three modality gates.
    */
  def videoDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val seen = Multimodal.videoHashes(s, dd.filter(col("doc_id") < 300)).toDF()
      .select(col("n_frames").as("sn"), col("hash_lo").as("sl"),
        col("hash_hi").as("sh"), col("contour_fp").as("sc")).distinct()
    Multimodal.videoHashes(s, dd.filter(col("doc_id") >= 250)).toDF()
      .join(seen,
        col("n_frames") === col("sn") && col("hash_lo") === col("sl") &&
          col("hash_hi") === col("sh") && col("contour_fp") === col("sc"),
        "left_anti")
      .select(col("doc_id"), col("n_frames"), col("hash_lo"), col("hash_hi"),
        col("contour_fp"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate VIDEO pairs — [[imageNearDup]] on the video column:
    * re-encodes of the same clip whose frame-0 aHash drifted by ≤3 bits
    * but whose temporal structure (frame count + brightness contour) is
    * intact. Candidates come from the SAME pigeonhole-lossless 4×16-bit
    * banding as image_neardup (3 flips touch ≤3 of 4 bands, so every
    * ≤3-distance pair shares an untouched band — the band join misses
    * nothing, which is why the plain-exact-Hamming oracle can
    * hash-match), further blocked by (n_frames, contour_fp) equality so
    * only temporally-compatible clips ever pair. Audit-bounded to
    * doc_id < 500; at corpus scale the same bands run corpus-wide with
    * the giant-bucket pre-shard, candidates ∝ bucket mass, never
    * all-pairs.
    */
  def videoNearDup(s: SparkSession, d: String): DataFrame =
    videoNearDupPairs(s, d).orderBy(col("id1"), col("id2"))

  /** The video near-dup pair artifact — the [[imageNearDupPairs]]
    * caching posture on the video column.
    */
  private[queries] val videoPairCache = new graft.DfCache("media.videoNearDupPairs")

  private[queries] def videoNearDupPairs(s: SparkSession, d: String): DataFrame =
    videoPairCache.getOrElseUpdate((s, d), videoNearDupPairsUncached(s, d))

  private def videoNearDupPairsUncached(s: SparkSession, d: String): DataFrame = {
    // persisted for the same reason as image_neardup: the band self-join
    // reads this frame on both sides and each side would otherwise
    // re-run the GIF decode of every payload.
    val h = persistOnce(Multimodal.videoHashes(s, docs(s, d).filter(col("doc_id") < 500))
      .toDF().select(col("doc_id"), col("n_frames"), col("hash_lo"),
        col("hash_hi"), col("contour_fp")))
    val bands = h.select(col("doc_id"), col("n_frames"), col("hash_lo"),
      col("hash_hi"), col("contour_fp"),
      posexplode(array(
        col("hash_lo").bitwiseAND(lit(65535L)),
        shiftright(col("hash_lo"), 16).bitwiseAND(lit(65535L)),
        col("hash_hi").bitwiseAND(lit(65535L)),
        shiftright(col("hash_hi"), 16).bitwiseAND(lit(65535L))))
        .as(Seq("band_idx", "band_val")))
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.contour_fp") === col("b.contour_fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_frames").as("n_frames"),
        col("a.hash_lo").as("l1"), col("a.hash_hi").as("h1"),
        col("b.hash_lo").as("l2"), col("b.hash_hi").as("h2"))
      .distinct() // a pair may collide in several bands — count it once
      .select(col("id1"), col("id2"), col("n_frames"),
        (expr("bit_count(l1 ^ l2)") + expr("bit_count(h1 ^ h2)")).as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Near-duplicate AUDIO pairs — the neardup completing the modality
    * symmetry (image/video have one): clips of the same length whose
    * energy-contour fingerprints differ by 1–2 sign bits (a re-encode
    * that flipped a borderline loudness step). Hamming 0 is EXCLUDED —
    * exact collapse is [[audioDedup]]'s census and the fixture's strong
    * audio collapse (71 codes / 500 clips) would otherwise drown the
    * near misses in exact-pair noise. Candidates from 4×4-bit band
    * buckets over the ≤16-bit fingerprint (pigeonhole: ≤3 flips leave
    * ≥1 of 4 bands untouched — lossless at threshold 2 with margin),
    * blocked by n_frames equality. Audit-bounded to doc_id < 500, same
    * corpus-scale posture as the other neardups.
    */
  def audioNearDup(s: SparkSession, d: String): DataFrame =
    audioNearDupPairs(s, d).orderBy(col("id1"), col("id2"))

  /** The audio near-dup pair artifact — the [[imageNearDupPairs]]
    * caching posture on the audio column.
    */
  private[queries] val audioPairCache = new graft.DfCache("media.audioNearDupPairs")

  private[queries] def audioNearDupPairs(s: SparkSession, d: String): DataFrame =
    audioPairCache.getOrElseUpdate((s, d), audioNearDupPairsUncached(s, d))

  private def audioNearDupPairsUncached(s: SparkSession, d: String): DataFrame = {
    // persisted: both band-join sides read it; avoids a second WAV decode pass
    val h = persistOnce(audioFingerprintOfDocs(s, docs(s, d).filter(col("doc_id") < 500)))
    val bands = h.select(col("doc_id"), col("n_frames"), col("fp"),
      posexplode(array(
        col("fp").bitwiseAND(lit(15L)),
        shiftright(col("fp"), 4).bitwiseAND(lit(15L)),
        shiftright(col("fp"), 8).bitwiseAND(lit(15L)),
        shiftright(col("fp"), 12).bitwiseAND(lit(15L))))
        .as(Seq("band_idx", "band_val")))
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_frames").as("n_frames"),
        col("a.fp").as("f1"), col("b.fp").as("f2"))
      .distinct()
      .select(col("id1"), col("id2"), col("n_frames"),
        expr("bit_count(f1 ^ f2)").as("hamming"))
      .filter(col("hamming") >= 1 && col("hamming") <= 2)
  }

  /** VIDEO shot-boundary census — cuts are where consecutive decoded
    * frame means jump by more than 16 gray levels (a hard cut moves the
    * whole-frame brightness; gradual pans don't): per video, the cut
    * count and the cut frame indices. This is the first read of a
    * cut-aware sampling pipeline (sample frames AT shot boundaries
    * instead of uniformly — the `video_frames` first/middle/last
    * convention upgraded by content). Map-only decode stream + one
    * bounded per-doc window (≤5 frames/doc by the builder's geometry)
    * + one aggregate; no pairs, no unbounded state at any corpus size.
    */
  def videoSceneCuts(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Multimodal.videoFrameMeans(s, docs(s, d)).toDF()
      .withColumn("prev", lag(col("fmean"), 1).over(w)) // bounded per-doc
      .withColumn("is_cut",
        col("prev").isNotNull && abs(col("fmean") - col("prev")) > 16)
      .groupBy(col("doc_id"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        // collect_list drops the nulls of non-cut frames; numeric sort
        // BEFORE the string cast so the csv is index-ordered (matches
        // the oracle's ORDER BY fi inside string_agg) at any frame count
        array_join(transform(sort_array(collect_list(
          when(col("is_cut"), col("frame_idx")))), _.cast("string")), ",")
          .as("cuts"))
      .orderBy(col("doc_id"))
  }

  /** Cut-aware frame sampling — the stage [[videoSceneCuts]] motivates,
    * composed end-to-end: one row per SHOT START (frame 0 plus every
    * hard-cut frame), each carrying the decoded (0,0) gray witness —
    * the frame set a feature extractor should actually embed (one
    * representative per shot beats uniform first/middle/last when the
    * content is cut-structured). Per doc: shot_ord is the 1-based shot
    * number; reconciles with the census by construction (rows per doc =
    * n_cuts + 1, spec-pinned). Same map-only decode stream + bounded
    * per-doc windows; output ≤ n_frames rows per video.
    */
  def videoFramesAtCuts(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Multimodal.videoFrameMeans(s, docs(s, d)).toDF()
      .withColumn("prev", lag(col("fmean"), 1).over(w)) // bounded per-doc
      .filter(col("prev").isNull || abs(col("fmean") - col("prev")) > 16)
      .withColumn("shot_ord", row_number().over(w))
      .select(col("doc_id"), col("shot_ord"), col("frame_idx"),
        col("n_frames"), col("p00"))
      .orderBy(col("doc_id"), col("shot_ord"))
  }

  /** Incremental-ingest AUDIO dedup — the same replayed-window gate on
    * the audio column's (n_frames, energy-contour fp) key, completing
    * the ingest-gate symmetry across all three media modalities. The
    * fixture's strong audio collapse (71 distinct codes / 500 clips)
    * makes this the harshest of the three gates: most of the replayed
    * batch drops as already-heard.
    */
  def audioDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val seen = audioFingerprintOfDocs(s, dd.filter(col("doc_id") < 300))
      .select(col("n_frames").as("sn"), col("fp").as("sf")).distinct()
    audioFingerprintOfDocs(s, dd.filter(col("doc_id") >= 250))
      .join(seen, col("n_frames") === col("sn") && col("fp") === col("sf"),
        "left_anti")
      .select(col("doc_id"), col("n_frames"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** The FRAME-SAMPLE stage of the audio pipeline: 64-sample PCM frame
    * energies decoded from each payload's data chunk
    * ([[Multimodal.audioFrames]]) — chunk-walked, little-endian-read,
    * exact integer Σ sample² per frame. Same builder/reader independence
    * contract as [[imageThumb]].
    */
  def audioEnergy(s: SparkSession, d: String): DataFrame =
    Multimodal.audioFrames(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  /** The RESAMPLE stage of the audio pipeline — [[imageThumb]]'s role
    * on the audio column: frame energies of the decimate-by-2 stream
    * (keep every 2nd sample of the flat interleaved PCM — the naive
    * 44.1k→22.05k reducer; no anti-alias filter, the exact integer
    * arithmetic contract is the point). The oracle re-derives the
    * planted samples at even indices; the Spark side reaches the same
    * numbers only by chunk-walking the real RIFF bytes with stride 2.
    * Map-only, half the decoded data per payload, same bounded output
    * as [[audioEnergy]].
    */
  def audioDownsample(s: SparkSession, d: String): DataFrame =
    Multimodal.audioFramesDownsampled(s, docs(s, d)).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Audio fingerprint — the energy-DELTA-SIGN hash over the decoded
    * PCM frame energies (the Shazam-family trick reduced to its core:
    * a loudness-contour bit string is robust to gain changes because
    * only the SIGN of each frame-to-frame energy step survives): bit i
    * of a doc's fingerprint is set iff frame i+1 is louder than frame
    * i. Frames come from the REAL chunk-walked WAV decode
    * ([[Multimodal.audioFrames]] — ≤16 frames/doc by the builder's
    * geometry, so the per-doc window is bounded); the oracle re-derives
    * the planted sample arithmetic. 8-byte codes per clip at any audio
    * length — the audio analog of [[imagePhash]], feeding the same
    * Hamming probe machinery.
    */
  // fingerprint frame without the output sort, so the dedup census and
  // the summary can aggregate it directly (a sort below an aggregate is
  // pure waste); single definition keeps the fp semantics from drifting.
  // Takes the document frame (not just the dir) so the incremental gate
  // can fingerprint a doc_id slice through the SAME definition.
  private[graft] def audioFingerprintOfDocs(s: SparkSession,
      dd: org.apache.spark.sql.DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Multimodal.audioFrames(s, dd).toDF()
      .withColumn("nxt", lead(col("energy"), 1).over(w)) // bounded per-doc
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        coalesce(sum(when(col("nxt") > col("energy"),
          expr("shiftleft(1L, frame_idx)")).otherwise(0L)), lit(0L)).as("fp"))
  }

  private[queries] def audioFingerprintOf(s: SparkSession, d: String): DataFrame =
    audioFingerprintOfDocs(s, docs(s, d))

  def audioFingerprint(s: SparkSession, d: String): DataFrame =
    audioFingerprintOf(s, d).orderBy(col("doc_id"))

  /** Fingerprint-exact AUDIO dedup census — [[imageDedup]] for the
    * audio column (re-encoded/gain-shifted uploads of the same clip
    * share the energy-contour code by construction): one row per
    * distinct (n_frames, fp) with member count + keep-min rep. The
    * fixture honestly collapses (71 distinct codes / 500 clips — short
    * clips with few contour bits). ONE hash aggregate at any scale.
    */
  def audioDedup(s: SparkSession, d: String): DataFrame =
    audioFingerprintOf(s, d)
      .groupBy(col("n_frames"), col("fp"))
      .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("rep_doc"))
      .select(col("rep_doc"), col("n_members"), col("n_frames"), col("fp"))
      .orderBy(col("rep_doc"))

  /** The dedup dataset-card row set: exact-key duplicate rate for EACH
    * modality in one table — text (content equality), image (64-bit
    * aHash), audio (energy-contour fingerprint), video (frame-count +
    * frame-0 aHash + brightness contour, round 14) — the first read of
    * a mixed-modality corpus audit ("which modality carries the
    * redundancy?"). Four independent hash aggregates (the map-only
    * decode streams never join), a 4-row result at any corpus size.
    */
  def modalityDedupSummary(s: SparkSession, d: String): DataFrame = {
    val img = Multimodal.imageHashes(s, docs(s, d)).toDF()
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("hash_lo"), col("hash_hi")).as("n_distinct"))
    val aud = audioFingerprintOf(s, d)
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("n_frames"), col("fp")).as("n_distinct"))
    val vid = Multimodal.videoHashes(s, docs(s, d)).toDF()
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("n_frames"), col("hash_lo"), col("hash_hi"),
          col("contour_fp")).as("n_distinct"))
    val rows = aud.select(lit("audio").as("modality"), col("n_items"), col("n_distinct"))
      .union(img.select(lit("image"), col("n_items"), col("n_distinct")))
      .union(docs(s, d).agg(count(lit(1)).as("n_items"),
        count_distinct(col("text")).as("n_distinct"))
        .select(lit("text"), col("n_items"), col("n_distinct")))
      .union(vid.select(lit("video"), col("n_items"), col("n_distinct")))
    rows.select(col("modality"), col("n_items"), col("n_distinct"),
        (col("n_items") - col("n_distinct")).as("n_dupes"),
        expr("10000 * (n_items - n_distinct) div n_items").as("dup_bp"))
      .orderBy(col("modality"))
  }

  /** The NEAR-dup dataset-card — [[modalityDedupSummary]]'s sibling for
    * the drifted-copy population the exact censuses cannot see: one row
    * per media modality with its near-dup pair count and the number of
    * distinct documents involved, over the same bounded audit domain
    * and thresholds as the three declared neardup queries (image
    * Hamming ≤ 3, audio contour Hamming 1–2, video frame-0 Hamming ≤ 3
    * under the temporal block). Each modality is ONE aggregate over the
    * same CACHED pair artifact its declared neardup query sorts
    * ([[imageNearDupPairs]] — the ngramPairCache posture), so the card
    * never re-runs a decode or band join; pairs exploded to ids so the
    * pair count and the distinct-doc count come from a single aggregate
    * (no 1-row crosses); three bounded rows at any corpus size.
    */
  def modalityNeardupSummary(s: SparkSession, d: String): DataFrame = {
    def statsOf(pairs: DataFrame, name: String): DataFrame =
      pairs.select(explode(array(col("id1"), col("id2"))).as("id"))
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          count_distinct(col("id")).as("n_docs"))
        .select(lit(name).as("modality"), col("n_pairs"), col("n_docs"))
    statsOf(audioNearDupPairs(s, d), "audio")
      .union(statsOf(imageNearDupPairs(s, d), "image"))
      .union(statsOf(videoNearDupPairs(s, d), "video"))
      .orderBy(col("modality"))
  }

  /** Shared gaps-and-islands CTE (ms precision, > gap starts a session):
    * the single definition both the `sessionize` and `range_join` oracles
    * build on, so the session semantics cannot drift between them.
    */
  private[queries] val IslandsCte: String =
    s"""e AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
       |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > ${Sessions.GapMs}
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
       |s AS (
       |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
       |    ORDER BY ts_ms, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM e)""".stripMargin

  private[queries] val mediaQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sessionize" -> sessionize,
    "sessionize_incremental" -> ((s, d) => Sessions.sessionizeIncremental(s, d)),
    "session_window" -> sessionWindow,
    "events_json" -> eventsJson,
    "multimodal_meta" -> multimodalMeta,
    "multimodal_frames" -> multimodalFrames,
    "multimodal_audio" -> multimodalAudio,
    "image_thumb" -> imageThumb,
    "image_phash" -> imagePhash,
    "image_thumb_png" -> imageThumbPng,
    "image_phash_png" -> imagePhashPng,
    "image_codec_meta" -> imageCodecMeta,
    "image_dedup" -> imageDedup,
    "image_dedup_incremental" -> imageDedupIncremental,
    "image_neardup" -> imageNearDup,
    "video_frames" -> videoFrames,
    "video_frames_avi" -> videoFramesAvi,
    "video_dedup" -> videoDedup,
    "video_dedup_incremental" -> videoDedupIncremental,
    "video_neardup" -> videoNearDup,
    "video_scene_cuts" -> videoSceneCuts,
    "video_frames_at_cuts" -> videoFramesAtCuts,
    "audio_neardup" -> audioNearDup,
    "audio_dedup_incremental" -> audioDedupIncremental,
    "crossmodal_mismatch" -> crossmodalMismatch,
    "audio_dedup" -> audioDedup,
    "modality_dedup_summary" -> modalityDedupSummary,
    "modality_neardup_summary" -> modalityNeardupSummary,
    "audio_energy" -> audioEnergy,
    "audio_downsample" -> audioDownsample,
    "audio_fingerprint" -> audioFingerprint,
    "range_join" -> rangeJoin,
    "asof_join" -> asofJoin,
    "asof_forward" -> asofForward,
    "overlap_join" -> overlapJoin,
    "tumbling_window" -> tumblingWindow,
    "sliding_window" -> slidingWindow,
    "count_distinct" -> countDistinct,
  )

  /** Shared DuckDB fragment: the planted-arithmetic aHash bits table
    * (geo/grid/v/m/bits chain) — single-sourced across the image_phash
    * twins and the image dedup/neardup oracles so the hash definition
    * cannot drift between them. `bound` restricts the document domain
    * (e.g. " WHERE doc_id < 500" for the audit-bounded pair oracle).
    */
  private[queries] def AHashBitsCte(bound: String): String =
    s"""geo AS (SELECT doc_id, 4 + n % 12 AS w, 4 + (n * 31) % 11 AS h,
       |    doc_id * 31 AS seed
       |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents$bound)),
       |grid AS (SELECT doc_id, w, h, seed, x.i AS px, y.i AS py
       |  FROM geo CROSS JOIN range(0, 8) x(i) CROSS JOIN range(0, 8) y(i)),
       |v AS (SELECT doc_id, py * 8 + px AS idx,
       |    ((base + 0) % 256) + ((base + 1) % 256) + ((base + 2) % 256) AS gray
       |  FROM (SELECT doc_id, px, py,
       |          (px * w // 8) * 3 + (py * h // 8) * 31 + seed AS base FROM grid)),
       |m AS (SELECT doc_id, (sum(gray) // 64)::BIGINT AS gray_mean FROM v GROUP BY 1),
       |bits AS (SELECT v.doc_id,
       |    sum(CASE WHEN idx < 32 AND gray > gray_mean THEN 1::BIGINT << idx ELSE 0::BIGINT END)::BIGINT AS hash_lo,
       |    sum(CASE WHEN idx >= 32 AND gray > gray_mean THEN 1::BIGINT << (idx - 32) ELSE 0::BIGINT END)::BIGINT AS hash_hi
       |  FROM v JOIN m USING (doc_id) GROUP BY 1)""".stripMargin

  /** Shared DuckDB fragment: the planted-PCM energy-contour fingerprint
    * table `fps(doc_id, n_frames, fp)` — single-sourced across the
    * audio_fingerprint / audio_dedup / modality card oracles.
    */
  private[queries] def AudioFpCte: String =
    """g AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
      |p AS (SELECT doc_id, 1 + n % 2 AS ch, 100 + (n * 7) % 400 AS ns,
      |    doc_id * 17 + n AS seed FROM g),
      |t AS (SELECT doc_id, seed, ns * ch AS total FROM p),
      |f AS (SELECT doc_id, seed, total,
      |    unnest(range(0, (total + 63) // 64)) AS fi FROM t),
      |sm AS (SELECT doc_id, fi, ((seed * 31 + s * 7) % 32768) AS v
      |  FROM (SELECT doc_id, fi, seed,
      |          unnest(range(fi * 64, least(total, fi * 64 + 64))) AS s FROM f)),
      |e AS (SELECT doc_id, fi, sum(v * v)::BIGINT AS energy FROM sm GROUP BY 1, 2),
      |dl AS (SELECT doc_id, fi, energy,
      |         lead(energy) OVER (PARTITION BY doc_id ORDER BY fi) AS nxt FROM e),
      |fps AS (SELECT doc_id, count(*)::BIGINT AS n_frames,
      |  coalesce(sum(CASE WHEN nxt > energy THEN 1::BIGINT << fi::INT ELSE 0::BIGINT END), 0)::BIGINT AS fp
      |FROM dl GROUP BY doc_id)""".stripMargin

  /** Shared DuckDB fragment: the planted VIDEO fingerprint table
    * `vh(doc_id, n_frames, hash_lo, hash_hi, contour_fp)` — frame f of
    * doc's GIF plants gray(x, y) = (3x + 31y + 7f + doc_id*31) mod 256;
    * the fragment re-derives the 8×8-grid frame means, frame-0 aHash
    * bits and the brightness-contour bits from that arithmetic. The
    * Spark side reaches the same numbers only by decoding the real
    * animated-GIF bytes frame by frame.
    */
  private[queries] def VideoHashCte: String =
    """vgeo AS (SELECT doc_id, 4 + n % 12 AS w, 4 + (n * 31) % 11 AS h,
      |    2 + n % 4 AS f, doc_id * 31 AS seed
      |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)),
      |vfr AS (SELECT doc_id, w, h, f, seed, unnest(range(0, f)) AS fi FROM vgeo),
      |vgrid AS (SELECT doc_id, w, h, seed, fi, x.i AS px, y.i AS py
      |  FROM vfr CROSS JOIN range(0, 8) x(i) CROSS JOIN range(0, 8) y(i)),
      |vpx AS (SELECT doc_id, fi, py * 8 + px AS idx,
      |    (3 * (px * w // 8) + 31 * (py * h // 8) + 7 * fi + seed) % 256 AS gray
      |  FROM vgrid),
      |vfm AS (SELECT doc_id, fi, (sum(gray) // 64)::BIGINT AS fmean
      |  FROM vpx GROUP BY 1, 2),
      |vb0 AS (SELECT vpx.doc_id,
      |    sum(CASE WHEN idx < 32 AND gray > fmean THEN 1::BIGINT << idx ELSE 0::BIGINT END)::BIGINT AS hash_lo,
      |    sum(CASE WHEN idx >= 32 AND gray > fmean THEN 1::BIGINT << (idx - 32) ELSE 0::BIGINT END)::BIGINT AS hash_hi
      |  FROM vpx JOIN vfm ON vpx.doc_id = vfm.doc_id AND vpx.fi = vfm.fi
      |  WHERE vpx.fi = 0 GROUP BY 1),
      |vct AS (SELECT doc_id,
      |    coalesce(sum(CASE WHEN nxt > fmean THEN 1::BIGINT << fi::INT ELSE 0::BIGINT END), 0)::BIGINT AS contour_fp
      |  FROM (SELECT doc_id, fi, fmean,
      |          lead(fmean) OVER (PARTITION BY doc_id ORDER BY fi) AS nxt FROM vfm)
      |  GROUP BY doc_id),
      |vh AS (SELECT vgeo.doc_id, f AS n_frames, hash_lo, hash_hi, contour_fp
      |  FROM vgeo JOIN vb0 ON vgeo.doc_id = vb0.doc_id
      |            JOIN vct ON vgeo.doc_id = vct.doc_id)""".stripMargin

  private[queries] val mediaOracles: Map[String, String] = Map(
    "video_frames" ->
      """WITH p AS (SELECT doc_id, 2 + n % 4 AS f, doc_id * 31 AS seed
        |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)),
        |s AS (SELECT doc_id, 1::INT AS sample_ord, 0::BIGINT AS fi, f, seed FROM p
        |  UNION ALL SELECT doc_id, 2::INT, f // 2, f, seed FROM p
        |  UNION ALL SELECT doc_id, 3::INT, f - 1, f, seed FROM p)
        |SELECT doc_id, sample_ord, fi::INT AS frame_idx, f::INT AS n_frames,
        |  ((7 * fi + seed) % 256)::INT AS p00
        |FROM s ORDER BY doc_id, sample_ord""".stripMargin,
    // same planted-pixel arithmetic as video_frames: the AVI container
    // carries identical logical content (geometry + seed) per doc
    "video_frames_avi" ->
      """WITH p AS (SELECT doc_id, 2 + n % 4 AS f, doc_id * 31 AS seed
        |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)),
        |s AS (SELECT doc_id, 1::INT AS sample_ord, 0::BIGINT AS fi, f, seed FROM p
        |  UNION ALL SELECT doc_id, 2::INT, f // 2, f, seed FROM p
        |  UNION ALL SELECT doc_id, 3::INT, f - 1, f, seed FROM p)
        |SELECT doc_id, sample_ord, fi::INT AS frame_idx, f::INT AS n_frames,
        |  ((7 * fi + seed) % 256)::INT AS p00
        |FROM s ORDER BY doc_id, sample_ord""".stripMargin,
    "video_dedup" ->
      (s"WITH $VideoHashCte\n" +
        """SELECT min(doc_id)::BIGINT AS rep_doc, count(*)::BIGINT AS n_members,
          |  n_frames::INT AS n_frames, hash_lo, hash_hi, contour_fp
          |FROM vh GROUP BY n_frames, hash_lo, hash_hi, contour_fp
          |ORDER BY rep_doc""".stripMargin),
    "video_dedup_incremental" ->
      (s"WITH $VideoHashCte\n" +
        """SELECT v.doc_id, n_frames::INT AS n_frames, hash_lo, hash_hi,
          |  contour_fp
          |FROM vh v WHERE v.doc_id >= 250 AND NOT EXISTS (
          |  SELECT 1 FROM vh e WHERE e.doc_id < 300
          |    AND e.n_frames = v.n_frames AND e.hash_lo = v.hash_lo
          |    AND e.hash_hi = v.hash_hi AND e.contour_fp = v.contour_fp)
          |ORDER BY doc_id""".stripMargin),
    // plain exact Hamming over the bounded domain — legitimate because
    // the Spark side's 4x16 banding is pigeonhole-lossless at threshold
    // 3 and the (n_frames, contour_fp) block only removes pairs both
    // sides agree can't be near-dups
    "video_neardup" ->
      (s"WITH $VideoHashCte\n" +
        """SELECT id1, id2, n_frames::INT AS n_frames, ham::INT AS hamming FROM (
          |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_frames,
          |    bit_count(xor(a.hash_lo, b.hash_lo))
          |      + bit_count(xor(a.hash_hi, b.hash_hi)) AS ham
          |  FROM vh a JOIN vh b ON a.doc_id < b.doc_id
          |    AND a.n_frames = b.n_frames AND a.contour_fp = b.contour_fp
          |  WHERE a.doc_id < 500 AND b.doc_id < 500)
          |WHERE ham <= 3 ORDER BY id1, id2""".stripMargin),
    "audio_neardup" ->
      (s"WITH $AudioFpCte\n" +
        """SELECT id1, id2, n_frames, ham::INT AS hamming FROM (
          |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_frames,
          |    bit_count(xor(a.fp, b.fp)) AS ham
          |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
          |    AND a.n_frames = b.n_frames
          |  WHERE a.doc_id < 500 AND b.doc_id < 500)
          |WHERE ham BETWEEN 1 AND 2 ORDER BY id1, id2""".stripMargin),
    "video_scene_cuts" ->
      (s"WITH $VideoHashCte,\n" +
        """dl AS (SELECT doc_id, fi, fmean,
          |    lag(fmean) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
          |  FROM vfm)
          |SELECT d.doc_id, g.f::INT AS n_frames,
          |  count(CASE WHEN prev IS NOT NULL AND abs(fmean - prev) > 16
          |             THEN 1 END)::BIGINT AS n_cuts,
          |  coalesce(string_agg(
          |    CASE WHEN prev IS NOT NULL AND abs(fmean - prev) > 16
          |         THEN fi::VARCHAR END, ',' ORDER BY fi), '') AS cuts
          |FROM dl d JOIN vgeo g ON d.doc_id = g.doc_id
          |GROUP BY d.doc_id, g.f ORDER BY d.doc_id""".stripMargin),
    "video_frames_at_cuts" ->
      (s"WITH $VideoHashCte,\n" +
        """dl AS (SELECT doc_id, fi, fmean,
          |    lag(fmean) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
          |  FROM vfm),
          |st AS (SELECT doc_id, fi,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY fi) AS shot_ord
          |  FROM dl WHERE prev IS NULL OR abs(fmean - prev) > 16)
          |SELECT s.doc_id, shot_ord::INT AS shot_ord, fi::INT AS frame_idx,
          |  g.f::INT AS n_frames, ((7 * fi + g.seed) % 256)::INT AS p00
          |FROM st s JOIN vgeo g ON s.doc_id = g.doc_id
          |ORDER BY s.doc_id, shot_ord""".stripMargin),
    "audio_dedup_incremental" ->
      (s"WITH $AudioFpCte\n" +
        """SELECT f.doc_id, n_frames, fp
          |FROM fps f WHERE f.doc_id >= 250 AND NOT EXISTS (
          |  SELECT 1 FROM fps e WHERE e.doc_id < 300
          |    AND e.n_frames = f.n_frames AND e.fp = f.fp)
          |ORDER BY doc_id""".stripMargin),
    "crossmodal_mismatch" ->
      (s"WITH ${AHashBitsCte("")},\n" +
        """t AS (SELECT b.doc_id, b.hash_lo, b.hash_hi, d.text
          |  FROM bits b JOIN documents d ON b.doc_id = d.doc_id)
          |SELECT min(doc_id)::BIGINT AS rep_doc, count(*)::BIGINT AS n_members,
          |  count(DISTINCT text)::BIGINT AS n_texts, hash_lo, hash_hi
          |FROM t GROUP BY hash_lo, hash_hi
          |HAVING count(*) >= 2 AND count(DISTINCT text) > 1
          |ORDER BY rep_doc""".stripMargin),
    "image_dedup" ->
      s"""WITH ${AHashBitsCte("")}
         |SELECT min(doc_id)::BIGINT AS rep_doc, count(*)::BIGINT AS n_members,
         |  hash_lo, hash_hi
         |FROM bits GROUP BY hash_lo, hash_hi ORDER BY rep_doc""".stripMargin,
    "image_dedup_incremental" ->
      (s"WITH ${AHashBitsCte("")}\n" +
        """SELECT b.doc_id, b.hash_lo, b.hash_hi FROM bits b
          |WHERE b.doc_id >= 250 AND NOT EXISTS (
          |  SELECT 1 FROM bits e WHERE e.doc_id < 300
          |    AND e.hash_lo = b.hash_lo AND e.hash_hi = b.hash_hi)
          |ORDER BY doc_id""".stripMargin),
    // plain exact Hamming — legitimate because the Spark side's 4x16
    // banding is pigeonhole-lossless at threshold 3 (see imageNearDup)
    "image_neardup" ->
      s"""WITH ${AHashBitsCte(" WHERE doc_id < 500")}
         |SELECT id1, id2, ham::INT AS hamming FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    bit_count(xor(a.hash_lo, b.hash_lo))
         |      + bit_count(xor(a.hash_hi, b.hash_hi)) AS ham
         |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
         |WHERE ham <= 3 ORDER BY id1, id2""".stripMargin,
    "sessionize" ->
      s"""WITH $IslandsCte
         |SELECT user_id, session_seq::BIGINT AS session_seq,
         |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
         |  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS value_cents
         | FROM s GROUP BY user_id, session_seq
         | ORDER BY user_id, session_seq""".stripMargin,
    // the incremental fold must be indistinguishable from the full
    // recompute — same oracle text as sessionize IS the contract
    "sessionize_incremental" ->
      s"""WITH $IslandsCte
         |SELECT user_id, session_seq::BIGINT AS session_seq,
         |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
         |  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS value_cents
         | FROM s GROUP BY user_id, session_seq
         | ORDER BY user_id, session_seq""".stripMargin,
    "session_window" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= ${Sessions.GapMs * 1000}
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         |s AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
         |  FROM e)
         |SELECT user_id, (min(ts_us) // 1000)::BIGINT AS start_ms,
         |  ((max(ts_us) + ${Sessions.GapMs * 1000}) // 1000)::BIGINT AS end_ms,
         |  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS value_cents
         | FROM s GROUP BY user_id, session_seq
         | ORDER BY user_id, start_ms""".stripMargin,
    "range_join" ->
      s"""WITH $IslandsCte,
         |sess AS (
         |  SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
         |  FROM s GROUP BY user_id, session_seq)
         |SELECT ev.user_id, sess.start_ms, count(*)::BIGINT AS n_in_range
         | FROM (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events) ev
         | JOIN sess ON ev.user_id = sess.user_id
         |          AND ev.ts_ms BETWEEN sess.start_ms AND sess.end_ms
         | GROUP BY ev.user_id, sess.start_ms
         | ORDER BY ev.user_id, sess.start_ms""".stripMargin,
    "asof_join" ->
      s"""WITH $IslandsCte,
         |sess AS (
         |  SELECT user_id, session_seq, min(ts_ms) AS start_ms
         |  FROM s GROUP BY user_id, session_seq)
         |SELECT ev.user_id, ev.event_id, ev.ts_ms, sess.session_seq::BIGINT AS session_seq
         | FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events) ev
         | ASOF JOIN sess ON ev.user_id = sess.user_id AND ev.ts_ms >= sess.start_ms
         | ORDER BY ev.user_id, ev.ts_ms, ev.event_id""".stripMargin,
    "asof_forward" ->
      s"""WITH $IslandsCte,
         |sess AS (
         |  SELECT user_id, session_seq, min(ts_ms) AS start_ms
         |  FROM s GROUP BY user_id, session_seq)
         |SELECT ev.user_id, ev.event_id, ev.ts_ms, sess.session_seq::BIGINT AS session_seq
         | FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events) ev
         | ASOF LEFT JOIN sess ON ev.user_id = sess.user_id AND ev.ts_ms <= sess.start_ms
         | ORDER BY ev.user_id, ev.ts_ms, ev.event_id""".stripMargin,
    "overlap_join" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events)
        |SELECT a.user_id, count(*)::BIGINT AS n_pairs
        | FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |   AND a.ts_ms <= b.ts_ms + 300000 AND b.ts_ms <= a.ts_ms + 300000
        | GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "tumbling_window" ->
      """SELECT ((epoch_us(ts) // 3600000000) * 3600000) AS win_start_ms,
        |  event_type, count(*)::BIGINT AS n
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sliding_window" ->
      """WITH ev AS (SELECT epoch_us(ts) // 1000 AS ts_ms, event_type FROM events),
        |w AS (
        |  SELECT (ts_ms // 1800000) * 1800000 AS win_start_ms, event_type FROM ev
        |  UNION ALL
        |  SELECT ((ts_ms // 1800000) - 1) * 1800000, event_type FROM ev)
        |SELECT win_start_ms, event_type, count(*)::BIGINT AS n
        | FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_parts,
        |  count(DISTINCT l_suppkey)::BIGINT AS n_supps, count(*)::BIGINT AS cnt
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "events_json" ->
      """SELECT event_type, count(*)::BIGINT AS cnt,
        |  sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle re-derives what the BMP BUILDER planted (geometry is a
    // fixed function of the text byte length); the Spark side arrives at
    // the same numbers only by PARSING the container bytes — builder and
    // reader are independent code paths meeting at the byte level
    "multimodal_frames" ->
      """WITH m AS (SELECT doc_id, 1 + octet_length(encode(text)) % 5 AS f FROM documents),
        |s AS (SELECT doc_id, 1::INT AS sample_ord, 0::INT AS frame_idx FROM m
        |  UNION ALL SELECT doc_id, 2::INT, (f // 2)::INT FROM m
        |  UNION ALL SELECT doc_id, 3::INT, (f - 1)::INT FROM m)
        |SELECT doc_id, sample_ord, frame_idx FROM s
        |ORDER BY doc_id, sample_ord""".stripMargin,
    "multimodal_meta" ->
      """WITH g AS (SELECT doc_id, 4 + n % 12 AS w, 4 + (n * 31) % 11 AS h, 1 + n % 5 AS f
        |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents))
        |SELECT doc_id,
        |  (f * (54 + ((w * 3 + 3) // 4) * 4 * h))::BIGINT AS n_bytes,
        |  w::INT AS width, h::INT AS height, f::INT AS n_frames,
        |  concat('0,', f // 2, ',', f - 1) AS frame_samples
        |FROM g ORDER BY doc_id""".stripMargin,
    // resize twin: the oracle re-derives the 4x4 nearest-neighbor sample
    // from the builder's pixel arithmetic (byte at row sy, position p is
    // (p + sy*31 + doc_id*31) mod 256 in frame 0); the Spark side gets
    // the same bytes only by parsing the real BMP header and indexing
    // the pixel array
    "image_phash" ->
      (s"WITH ${AHashBitsCte("")}\n" +
        """SELECT g.doc_id, w::INT AS w, h::INT AS h, gray_mean, hash_lo, hash_hi
          |FROM geo g JOIN m USING (doc_id) JOIN bits USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
    "image_thumb" ->
      """WITH geo AS (SELECT doc_id, 4 + n % 12 AS w, 4 + (n * 31) % 11 AS h,
        |    doc_id * 31 AS seed
        |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)),
        |grid AS (SELECT doc_id, w, h, seed, x.i AS px, y.i AS py
        |  FROM geo CROSS JOIN range(0, 4) x(i) CROSS JOIN range(0, 4) y(i)),
        |v AS (SELECT doc_id, px, py,
        |    (px * w // 4) * 3 + (py * h // 4) * 31 + seed AS base
        |  FROM grid)
        |SELECT doc_id, px::INT AS px, py::INT AS py,
        |  ((base + 0) % 256)::INT AS b, ((base + 1) % 256)::INT AS g,
        |  ((base + 2) % 256)::INT AS r
        |FROM v ORDER BY doc_id, py, px""".stripMargin,
    // javax.imageio twins: the PNG payloads plant the SAME pixel
    // arithmetic as BMP frame 0 and PNG is lossless, so the oracle SQL
    // is verbatim the BMP one — the Spark side reaches the same bytes
    // only by running the JDK PNG decoder over the encoded stream
    "image_thumb_png" ->
      """WITH geo AS (SELECT doc_id, 4 + n % 12 AS w, 4 + (n * 31) % 11 AS h,
        |    doc_id * 31 AS seed
        |  FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)),
        |grid AS (SELECT doc_id, w, h, seed, x.i AS px, y.i AS py
        |  FROM geo CROSS JOIN range(0, 4) x(i) CROSS JOIN range(0, 4) y(i)),
        |v AS (SELECT doc_id, px, py,
        |    (px * w // 4) * 3 + (py * h // 4) * 31 + seed AS base
        |  FROM grid)
        |SELECT doc_id, px::INT AS px, py::INT AS py,
        |  ((base + 0) % 256)::INT AS b, ((base + 1) % 256)::INT AS g,
        |  ((base + 2) % 256)::INT AS r
        |FROM v ORDER BY doc_id, py, px""".stripMargin,
    "image_phash_png" ->
      (s"WITH ${AHashBitsCte("")}\n" +
        """SELECT g.doc_id, w::INT AS w, h::INT AS h, gray_mean, hash_lo, hash_hi
          |FROM geo g JOIN m USING (doc_id) JOIN bits USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
    // mixed PNG/JPEG triage: format comes from the builder's parity
    // rule, geometry from the shared arithmetic — the Spark side must
    // magic-sniff and decode real encoded streams to agree
    "image_codec_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  (4 + n % 12)::INT AS w, (4 + (n * 31) % 11)::INT AS h
        |FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // frame-energy twin: sample s of the planted PCM stream is
    // (seed*31 + s*7) mod 32768 with seed = doc_id*17 + n; the oracle
    // windows that arithmetic into 64-sample frames, the Spark side
    // chunk-walks the RIFF bytes and squares what it reads
    "audio_fingerprint" ->
      (s"WITH $AudioFpCte\n" +
        """SELECT doc_id, n_frames, fp FROM fps ORDER BY doc_id""").stripMargin,
    "audio_dedup" ->
      (s"WITH $AudioFpCte\n" +
        """SELECT min(doc_id)::BIGINT AS rep_doc, count(*)::BIGINT AS n_members,
          |  n_frames, fp
          |FROM fps GROUP BY n_frames, fp ORDER BY rep_doc""".stripMargin),
    // four independent exact-key censuses, one card: text content
    // equality, image aHash, audio contour fingerprint, video
    // frame-0-aHash+contour (round 14). The video CTE's names don't
    // collide with AHashBitsCte's geo/grid/v/m chain (fr/fm/b0/ct/vh).
    "modality_dedup_summary" ->
      (s"WITH ${AHashBitsCte("")},\n$AudioFpCte,\n$VideoHashCte,\n" +
        """card AS (
          |  SELECT 'audio' AS modality, count(*)::BIGINT AS n_items,
          |    count(DISTINCT (n_frames, fp))::BIGINT AS n_distinct FROM fps
          |  UNION ALL
          |  SELECT 'image', count(*)::BIGINT,
          |    count(DISTINCT (hash_lo, hash_hi))::BIGINT FROM bits
          |  UNION ALL
          |  SELECT 'text', count(*)::BIGINT,
          |    count(DISTINCT text)::BIGINT FROM documents
          |  UNION ALL
          |  SELECT 'video', count(*)::BIGINT,
          |    count(DISTINCT (n_frames, hash_lo, hash_hi, contour_fp))::BIGINT FROM vh)
          |SELECT modality, n_items, n_distinct,
          |  (n_items - n_distinct)::BIGINT AS n_dupes,
          |  (10000 * (n_items - n_distinct) // n_items)::BIGINT AS dup_bp
          |FROM card ORDER BY modality""".stripMargin),
    // the three neardup pair relations (same thresholds/blocks as the
    // declared queries) exploded to ids: pair count and distinct-doc
    // count from one aggregate per modality, like the Spark side
    "modality_neardup_summary" ->
      (s"WITH ${AHashBitsCte(" WHERE doc_id < 500")},\n$AudioFpCte,\n$VideoHashCte,\n" +
        """ip AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.hash_lo, b.hash_lo))
          |      + bit_count(xor(a.hash_hi, b.hash_hi)) <= 3),
          |ap AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id AND a.n_frames = b.n_frames
          |  WHERE a.doc_id < 500 AND b.doc_id < 500
          |    AND bit_count(xor(a.fp, b.fp)) BETWEEN 1 AND 2),
          |vp AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          |  FROM vh a JOIN vh b ON a.doc_id < b.doc_id
          |    AND a.n_frames = b.n_frames AND a.contour_fp = b.contour_fp
          |  WHERE a.doc_id < 500 AND b.doc_id < 500
          |    AND bit_count(xor(a.hash_lo, b.hash_lo))
          |      + bit_count(xor(a.hash_hi, b.hash_hi)) <= 3),
          |card AS (
          |  SELECT 'audio' AS modality, (count(*) // 2)::BIGINT AS n_pairs,
          |    count(DISTINCT id)::BIGINT AS n_docs
          |  FROM (SELECT unnest([id1, id2]) AS id FROM ap)
          |  UNION ALL
          |  SELECT 'image', (count(*) // 2)::BIGINT, count(DISTINCT id)::BIGINT
          |  FROM (SELECT unnest([id1, id2]) AS id FROM ip)
          |  UNION ALL
          |  SELECT 'video', (count(*) // 2)::BIGINT, count(DISTINCT id)::BIGINT
          |  FROM (SELECT unnest([id1, id2]) AS id FROM vp))
          |SELECT modality, n_pairs, n_docs FROM card ORDER BY modality""".stripMargin),
    "audio_energy" ->
      """WITH g AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |p AS (SELECT doc_id, 1 + n % 2 AS ch, 100 + (n * 7) % 400 AS ns,
        |    doc_id * 17 + n AS seed FROM g),
        |t AS (SELECT doc_id, seed, ns * ch AS total FROM p),
        |f AS (SELECT doc_id, seed, total,
        |    unnest(range(0, (total + 63) // 64)) AS fi FROM t),
        |sm AS (SELECT doc_id, fi, ((seed * 31 + s * 7) % 32768) AS v
        |  FROM (SELECT doc_id, fi, seed,
        |          unnest(range(fi * 64, least(total, fi * 64 + 64))) AS s FROM f))
        |SELECT doc_id, fi::INT AS frame_idx, count(*)::BIGINT AS n_sam,
        |  sum(v * v)::BIGINT AS energy
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin,
    // the decimated twin of audio_energy: kept sample j carries planted
    // sample 2j, (total+1)//2 samples survive, same 64-sample framing
    "audio_downsample" ->
      """WITH g AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |p AS (SELECT doc_id, 1 + n % 2 AS ch, 100 + (n * 7) % 400 AS ns,
        |    doc_id * 17 + n AS seed FROM g),
        |t AS (SELECT doc_id, seed, (ns * ch + 1) // 2 AS total FROM p),
        |f AS (SELECT doc_id, seed, total,
        |    unnest(range(0, (total + 63) // 64)) AS fi FROM t),
        |sm AS (SELECT doc_id, fi, ((seed * 31 + (2 * j) * 7) % 32768) AS v
        |  FROM (SELECT doc_id, fi, seed,
        |          unnest(range(fi * 64, least(total, fi * 64 + 64))) AS j FROM f))
        |SELECT doc_id, fi::INT AS frame_idx, count(*)::BIGINT AS n_sam,
        |  sum(v * v)::BIGINT AS energy
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin,
    // same builder/reader independence as multimodal_meta: the oracle
    // re-derives what the WAV BUILDER planted from the text length; the
    // Spark side gets there only by chunk-walking the RIFF bytes
    "multimodal_audio" ->
      """WITH g AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n FROM documents),
        |p AS (SELECT doc_id,
        |    CASE n % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
        |    1 + n % 2 AS ch, 100 + (n * 7) % 400 AS ns, (n % 10) * 2 AS lb FROM g)
        |SELECT doc_id, (52 + lb + ns * ch * 2)::BIGINT AS n_bytes,
        |  sr::INT AS sample_rate, ch::INT AS channels, ns::BIGINT AS n_samples,
        |  (ns * 1000 // sr)::BIGINT AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin,
  )
}
