package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Multimodal

/** The m13 dedup card over raw media rows: one unit per row from the
  * live signature passes, aggregated by
  * [[Multimodal.mediaDedupCardFromUnits]]. Image/audio units carry their
  * 64-bit hash as hex; a video clip's sig is the m11 clip key over its
  * healthy frames, null iff NO frame decoded; `has_err` is any decode
  * error at either granularity. Rows of no known kind become `other`
  * units, so Σ n_media covers the table.
  */
object MediaCard {
  def of(media: DataFrame): DataFrame = {
    val img = Multimodal.imagePhash(media).select(lit("image").as("kind"),
      col("media_id"), hex(col("phash")).as("sig"),
      col("decode_err").isNotNull.as("has_err"))
    val aud = Multimodal.audioHash(media).select(lit("audio").as("kind"),
      col("media_id"), hex(col("ahash")).as("sig"),
      col("decode_err").isNotNull.as("has_err"))
    val vid = Multimodal.videoFrameHashes(media).groupBy(col("media_id"))
      .agg(count(col("fhash")).as("n_ok"), Multimodal.clipKeyAgg.as("ck"),
        (count(col("decode_err")) > 0).as("has_err"))
      .select(lit("video").as("kind"), col("media_id"),
        when(col("n_ok") > 0, col("ck")).as("sig"), col("has_err"))
    val other = media
      .filter(col("kind").isNull ||
        !col("kind").isin(Multimodal.MediaKinds: _*))
      .select(lit("other").as("kind"), col("media_id"),
        lit(null).cast("string").as("sig"), lit(false).as("has_err"))
    Multimodal.mediaDedupCardFromUnits(
      img.unionByName(aud).unionByName(vid).unionByName(other))
  }
}
