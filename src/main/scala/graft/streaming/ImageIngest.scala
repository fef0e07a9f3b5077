package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Multimodal

/** Streaming IMAGE-dedup ingest — the [[SimhashIngest]] discipline on
  * the image modality: each micro-batch of media rows has its images
  * dHashed once ([[Multimodal.imagePhash]], batched map-side, the m1
  * corrupt-payload policy), screened against the PUBLISHED signature
  * index at hamming ≤ `maxDist`
  * ([[Multimodal.mediaSignatureDedupFromIndex]] — the signature-generic
  * screening core, batch reps broadcast, index streaming map-side),
  * survivors' 16-byte signatures appended to the index, and surviving
  * MEDIA rows emitted partitioned by batch id.
  *
  * Row policy (never lose rows silently): rows whose kind is not
  * exactly "image" — including a NULL kind (null-safe test) — pass
  * through unscreened, as does an image whose payload fails to decode
  * (no signature to screen; its decode_err surfaces via m4's
  * accounting). Only decodable images are subject to dedup.
  *
  * EXACTLY-ONCE REPLAY: the [[SimhashIngest]] construction — a
  * replayed batch's screened survivors ARE the signatures it stamped
  * (`batch_id = id` in the index; recomputing against the post-batch
  * index would drop them as near-dups of themselves), and the
  * pass-through rows are a pure deterministic filter of the batch
  * (kind + decode success), so the sink partition rewrites bit-same
  * via dynamic partition overwrite and the publish is skipped.
  */
object ImageIngest {

  private def emptyIndex(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("media_id", "phash", "batch_id")
  }

  /** Process ONE batch of media rows: dHash the images, screen against
    * the index + the batch itself, append the survivors' signatures,
    * emit surviving media rows (plus all pass-throughs) to
    * `out/batch_id=<id>/`. Idempotent per (batch contents, batchId).
    * Returns the emitted row count. The policy (decode-once,
    * pass-through arms, replay reconstruction, publish-then-write
    * order) is [[MediaDedupIngest]]'s — shared with the audio and
    * video streams; only the modality triple lives here.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexTable: String,
                  out: String, maxDist: Int = 4): Long =
    MediaDedupIngest.ingestBatch(batch, batchId, indexTable, out,
      kind = "image", sigCol = "phash",
      signatures = Multimodal.imagePhash,
      emptyIndex = emptyIndex,
      screen = (index, sigs) =>
        Multimodal.mediaSignatureDedupFromIndex(index, sigs, "phash",
          maxDist))
}
