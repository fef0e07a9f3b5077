package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Multimodal

/** Streaming VIDEO-dedup ingest — the [[ImageIngest]] discipline on
  * the video modality (the 7th versioned ingest stream, completing the
  * modality matrix on the streaming side): each micro-batch of media
  * rows has its clips frame-hashed once ([[Multimodal.videoFrameHashes]]
  * — one dHash per sampled frame, batched map-side, the two-granularity
  * failure policy), screened CLIP-level against the PUBLISHED per-frame
  * index at hamming ≤ `maxDist` ([[Multimodal.videoDedupFromIndex]] —
  * the GROUP-level screening core: a clip drops iff ANY sampled frame
  * nears an indexed frame or an earlier-in-batch clip's frame; own
  * frames never screen each other), survivors' per-frame signatures
  * appended to the index, and surviving MEDIA rows emitted partitioned
  * by batch id.
  *
  * The row policy and the exactly-once replay construction are
  * [[MediaDedupIngest]]'s, defined once for all three media streams —
  * here the multi-signature generalization matters: a clip passes
  * through (never screened, never lost) iff NO frame produced a hash
  * (corrupt container or null payload), while a clip with at least one
  * healthy frame is screened on the frames it has.
  */
object VideoIngest {

  private def emptyIndex(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long, Long)]
      .toDF("media_id", "frame_idx", "fhash", "batch_id")
  }

  /** Process ONE batch of media rows — [[MediaDedupIngest.ingestBatch]]
    * with the video modality triple. Idempotent per (batch contents,
    * batchId); returns the emitted row count.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexTable: String,
                  out: String, maxDist: Int = 4,
                  frameK: Int = Multimodal.VideoFrameK): Long = {
    // fail at configuration time, not after a batch's decode work:
    // the downstream pairing key packs frame_idx into 64 slots
    require(frameK >= 1 && frameK <= 64,
      s"frameK must be in [1, 64] (the clip-frame key packs 64 " +
        s"slots), got $frameK")
    MediaDedupIngest.ingestBatch(batch, batchId, indexTable, out,
      kind = "video", sigCol = "fhash",
      signatures = m => Multimodal.videoFrameHashes(m, frameK),
      emptyIndex = emptyIndex,
      screen = (index, sigs) => {
        val kept = Multimodal.videoDedupFromIndex(index, sigs, maxDist)
        // stamp ALL the surviving clips' healthy frame rows — the
        // survivor set is batch-bounded, broadcast it
        sigs.select(col("media_id"), col("frame_idx"), col("fhash"))
          .join(broadcast(kept.select(col("media_id"))),
            Seq("media_id"), "left_semi")
      })
  }
}
