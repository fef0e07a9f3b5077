package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Multimodal

/** Streaming AUDIO-dedup ingest — the [[ImageIngest]] discipline on
  * the audio modality (the 6th versioned ingest stream): each
  * micro-batch of media rows has its audio clips fingerprinted once
  * ([[Multimodal.audioHash]] — the m7 Haitsma–Kalker-shape 64-bit
  * signature, batched map-side, the m1 corrupt-payload policy),
  * screened against the PUBLISHED signature index at hamming ≤
  * `maxDist` ([[Multimodal.mediaSignatureDedupFromIndex]] — the ONE
  * signature-generic screening core, batch reps broadcast, index
  * streaming map-side), survivors' 16-byte signatures appended to the
  * index, and surviving MEDIA rows emitted partitioned by batch id.
  *
  * The row policy (non-audio and NULL-kind rows pass through
  * unscreened, as does an undecodable clip) and the exactly-once
  * replay construction are [[MediaDedupIngest]]'s, defined once for
  * all three media streams.
  */
object AudioIngest {

  private def emptyIndex(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("media_id", "ahash", "batch_id")
  }

  /** Process ONE batch of media rows — [[MediaDedupIngest.ingestBatch]]
    * with the audio modality triple. Idempotent per (batch contents,
    * batchId); returns the emitted row count.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexTable: String,
                  out: String, maxDist: Int = 4): Long =
    MediaDedupIngest.ingestBatch(batch, batchId, indexTable, out,
      kind = "audio", sigCol = "ahash",
      signatures = Multimodal.audioHash,
      emptyIndex = emptyIndex,
      screen = (index, sigs) =>
        Multimodal.mediaSignatureDedupFromIndex(index, sigs, "ahash",
          maxDist))
}
