package graft.examples

import graft.queries.Pipeline
import org.apache.spark.sql.functions._

/** End-to-end multimodal dedup lifecycle over the documents table's
  * media payloads — the composition the round-13 image/audio operators
  * exist for (the media analog of [[CurationPipelineExample]]):
  *
  *   1. TRIAGE: magic-sniff the mixed PNG/JPEG corpus and decode
  *      geometry per payload (`image_codec_meta` — the routing scan an
  *      ingest pipeline runs before per-format stages)
  *   2. FINGERPRINT: 64-bit perceptual aHash per image and the
  *      energy-contour code per audio clip — map-only decode stages,
  *      constant bytes out per payload
  *   3. CENSUS: collapse each modality to exact-key clusters
  *      (`image_dedup` / `audio_dedup` / `video_dedup`, round 14) and
  *      publish the 4-row modality dedup card — which modality carries
  *      the redundancy?
  *   4. NEAR-DUP: Hamming≤3 image pairs via the 4×16-bit band buckets
  *      (pigeonhole-lossless at this threshold — LSH with a proof)
  *   5. GATE: replay an ingest window through the incremental hash
  *      gate (`image_dedup_incremental`) — the O(batch) anti-join a
  *      streaming deployment runs against the maintained census
  *      ([[graft.streaming.MaintainedCounts]])
  *   6. RECONCILE: the cross-modal mismatch report
  *      (`crossmodal_mismatch`, round 14) — image clusters whose
  *      members carry different captions, the recaptioned-reupload
  *      signal a curation run acts on
  *   7. SEGMENT + SAMPLE: the shot-boundary census
  *      (`video_scene_cuts`) and the cut-aware sampler
  *      (`video_frames_at_cuts`) — the frame set a feature extractor
  *      embeds, one representative per shot instead of uniform
  *      first/middle/last; plus the video/audio near-dup reports
  *      completing the neardup symmetry
  *
  * Every stage is a declared, oracle-gated query; this harness just
  * composes them the way a corpus-hygiene job would.
  * Usage: runMain graft.examples.MultimodalDedupExample <sfDir>
  */
object MultimodalDedupExample {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.getOrCreate(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    spark.sparkContext.setLogLevel("WARN")

    // 1. triage the mixed-format corpus
    val meta = Pipeline.imageCodecMeta(spark, sfDir)
    val byFormat = meta.groupBy(col("format")).agg(count(lit(1)).as("n"))
      .orderBy(col("format")).collect()
    println(s"[mmdedup] formats: " +
      byFormat.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))

    // 2-3. per-modality exact-key censuses + the card
    val card = Pipeline.modalityDedupSummary(spark, sfDir).collect()
    card.foreach { r =>
      println(f"[mmdedup] ${r.getString(0)}%-5s items=${r.getLong(1)}%5d " +
        f"distinct=${r.getLong(2)}%5d dupes=${r.getLong(3)}%5d " +
        f"(${r.getLong(4)}%4d bp)")
    }
    val clusters = Pipeline.imageDedup(spark, sfDir)
    val biggest = clusters.orderBy(col("n_members").desc).limit(1).collect()(0)
    println(s"[mmdedup] largest image cluster: rep=${biggest.getLong(0)} " +
      s"members=${biggest.getLong(1)}")

    // 4. near-dup pairs the exact census cannot see (hamming 1-3)
    val near = Pipeline.imageNearDup(spark, sfDir)
      .filter(col("hamming") > 0).count()
    println(s"[mmdedup] near-dup (1<=hamming<=3) image pairs: $near")

    // 5. the ingest gate: what a replayed batch would actually keep
    val kept = Pipeline.imageDedupIncremental(spark, sfDir).count()
    println(s"[mmdedup] replayed batch survivors through the hash gate: $kept")

    // 6. the recaptioned-reupload report: same picture, different text
    val mismatch = Pipeline.crossmodalMismatch(spark, sfDir).count()
    println(s"[mmdedup] image clusters spanning >1 caption: $mismatch")

    // 7. shot structure: census -> cut-aware sample, plus the neardup
    // symmetry across the other two modalities
    val cut = Pipeline.videoSceneCuts(spark, sfDir)
      .agg(sum(col("n_cuts")).as("cuts"), count(lit(1)).as("vids")).collect()(0)
    val shots = Pipeline.videoFramesAtCuts(spark, sfDir).count()
    println(s"[mmdedup] shot structure: ${cut.getLong(0)} hard cuts over " +
      s"${cut.getLong(1)} videos -> $shots shot-start frames sampled")
    require(shots == cut.getLong(0) + cut.getLong(1),
      "sampler and census disagree (shots != cuts + videos)")
    val vnear = Pipeline.videoNearDup(spark, sfDir).filter(col("hamming") > 0).count()
    val anear = Pipeline.audioNearDup(spark, sfDir).count()
    println(s"[mmdedup] near-dup pairs: video(1<=ham<=3)=$vnear audio(1<=ham<=2)=$anear")

    // sanity the harness is real: the card's image and video rows must
    // agree with the censuses they summarize
    val imgRow = card.find(_.getString(0) == "image").get
    require(imgRow.getLong(2) == clusters.count(),
      "modality card and census disagree")
    val vidRow = card.find(_.getString(0) == "video").get
    require(vidRow.getLong(2) == Pipeline.videoDedup(spark, sfDir).count(),
      "modality card and video census disagree")
    println("[mmdedup] done: card/census consistent")
    spark.stop()
  }
}
