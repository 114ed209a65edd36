package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed END-TO-END multimodal training-corpus assembly — the
  * image-text twin of [[CorpusOps.assembleCorpus]] (q99's text north
  * star): shard members arrive paired by sample stem, then
  *
  *   1. pairing gate   — an image without a caption is not a training
  *                       sample (audit rows, not silent drops)
  *   2. decode gate    — undecodable payloads fail closed (hash NULL)
  *   3. geometry gate  — thumbnails below `minWidth` carry no signal
  *   4. near-dup gate  — DUAL perceptual keys from ONE decode
  *                       ([[ImageHash.PerceptualDecoder]]): the cheap
  *                       gradient dHash at tight radius catches
  *                       pixel-level tweaks, the DCT pHash at its wider
  *                       radius catches the recompression/resize
  *                       near-dups dHash is documented brittle under
  *                       (a JPEG re-encode moves dHash by dozens of
  *                       bits but pHash by ≤10 — PhashSpec's measured
  *                       Annex-K numbers). Pair sets union, components
  *                       form over the union ([[Dedup.clusterKeys]]),
  *                       min-id canonical per component.
  *
  * and the survivors are the training manifest. [[attrition]] emits the
  * one-row per-stage audit (the data-genealogy artifact reviewers ask
  * for first) from the SAME stage frames, so manifest and audit can
  * never disagree.
  *
  * 100 TB shape: stages 1-3 are row-local map work inside the shard
  * scan; the only exchanges are the two 8-byte-key banded-hamming
  * shuffles (each one capped bucket aggregate, never all-pairs) and the
  * component roll-up — payload bytes never survive past stage 2 (the
  * decode emits fixed-width metadata and the content column is dropped
  * immediately; BOTH hashes come out of that single decode, so the
  * robust key costs no extra raster pass).
  */
object MultimodalAssembly {

  private final case class Stages(
      images: DataFrame, paired: DataFrame, decoded: DataFrame,
      gated: DataFrame, kept: DataFrame)

  /** `pairs` columns: (id long, sample_id, shard_name, content binary,
    * caption string nullable). */
  private def stages(pairs: DataFrame, minWidth: Int, bands: Int,
      maxHamming: Int, phashBands: Int, phashMaxHamming: Int): Stages = {
    val images = pairs
    val paired = images.where(col("caption").isNotNull)
    // eager checkpoint: the frame is re-consumed by the dedup pair joins
    // and the counts below; payload bytes are dropped HERE
    val decoded = Multimodal.decodeRowsPartitioned(paired, "content",
        ImageHash.PerceptualDecoder)
      .where(col("dhash").isNotNull)
      .drop("content")
      .localCheckpoint(true)
    val gated = decoded.where(col("width") >= minWidth)
    val dupPairs = dualKeyDupPairs(gated, bands, maxHamming,
      phashBands, phashMaxHamming)
    val labeled = Dedup.clusterKeys(gated, "id", dupPairs)
    val keepIds = labeled.groupBy(col("cluster_key"))
      .agg(min(col("id")).as("id"))
      .select(col("id"))
    val kept = gated.join(keepIds, Seq("id"), "left_semi")
    Stages(images, paired, decoded, gated, kept)
  }

  /** Union of the dHash-keyed and pHash-keyed banded near-dup pair
    * sets, each at its own (bands, radius) geometry — shared by the
    * batch assembly here and the streaming twin
    * ([[graft.streaming.EventStream.assembleMultimodalIncremental]])
    * so the two admission paths can never diverge. `gated` must carry
    * (id, dhash, phash). */
  private[graft] def dualKeyDupPairs(gated: DataFrame, bands: Int,
      maxHamming: Int, phashBands: Int, phashMaxHamming: Int): DataFrame =
    // fused single-pass form of union-of-two hammingNearDupPairs —
    // result-identical (DedupSpec pins fused == union.distinct); the
    // explode→shed→bucket→pair machinery runs once, not per key
    Dedup.fusedHammingNearDupPairs(gated, "id",
      Seq(("dhash", bands, maxHamming),
        ("phash", phashBands, phashMaxHamming)))

  /** The training manifest: one row per surviving image-text sample.
    * Default geometries: dHash 4×16-bit bands / radius 3 (pixel
    * tweaks), pHash 16×4-bit bands / radius 10 (JPEG-recompression
    * class — PhashSpec measures ≤10 moved bits under an Annex-K
    * roundtrip; pigeonhole keeps recall exact through radius 15). */
  def manifest(pairs: DataFrame, minWidth: Int, bands: Int = 4,
      maxHamming: Int = 3, phashBands: Int = 16,
      phashMaxHamming: Int = 10): DataFrame =
    stages(pairs, minWidth, bands, maxHamming, phashBands,
        phashMaxHamming).kept
      .select(col("id"), col("sample_id"), col("shard_name"),
        col("width"), col("height"), col("dhash"), col("phash"),
        col("caption"))

  /** One-row attrition audit over the SAME stage frames. */
  def attrition(pairs: DataFrame, minWidth: Int, bands: Int = 4,
      maxHamming: Int = 3, phashBands: Int = 16,
      phashMaxHamming: Int = 10): DataFrame = {
    val st = stages(pairs, minWidth, bands, maxHamming, phashBands,
      phashMaxHamming)
    // n_images + n_paired from ONE pass over the arrival frame
    // (count(caption) counts exactly the caption-carrying rows the
    // pairing gate keeps), n_decoded + n_geometry_ok from ONE pass over
    // the checkpointed metadata (the geometry gate is a predicate of
    // it) — two stage-frame re-scans and two broadcast builds fewer
    // than the five-way crossJoin chain, same five columns
    st.images.agg(count(lit(1)).as("n_images"),
        count(col("caption")).as("n_paired"))
      .crossJoin(broadcast(st.decoded.agg(count(lit(1)).as("n_decoded"),
        count(when(col("width") >= minWidth, 1)).as("n_geometry_ok"))))
      .crossJoin(broadcast(st.kept.agg(count(lit(1)).as("n_kept"))))
  }
}
