package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE per-batch policy the three MEDIA-dedup ingest streams share
  * (image/audio/video — the [[VersionedIngest]] consolidation applied
  * one level up: the image stream's batch policy would otherwise be
  * duplicated verbatim per modality, and a fix to the replay or
  * pass-through discipline would have to land three times): scope the
  * batch to the modality's kind (null-safe), run the modality's
  * decode-ONCE signature pass, pass through every row the policy
  * cannot screen (wrong/NULL kind, undecodable payload — never lose a
  * row silently), screen decodable media against the published index
  * through the modality's screening core, stamp the survivors'
  * signature rows, and emit survivors + pass-throughs to the
  * batch-partitioned sink.
  *
  * EXACTLY-ONCE REPLAY is owned here once (the [[SimhashIngest]]
  * construction): a replayed batch's survivors ARE the rows it stamped
  * (`batch_id = id` in the index — recomputing against the post-batch
  * index would drop them as near-dups of themselves), and the
  * pass-through rows are a pure deterministic filter of the batch
  * (kind + decode success), so the sink partition rewrites bit-same
  * via dynamic partition overwrite and the publish is skipped.
  *
  * The parameters carry the modality:
  *  - `signatures(media)`: the decode-once pass — one OR MORE rows per
  *    media row (video emits one per sampled frame), `sigCol` null on
  *    an undecodable payload; cut here so screening and the
  *    pass-through arm never re-pay the codecs.
  *  - `screen(index, sigs)`: the modality's screening core — returns
  *    the SURVIVING signature rows exactly as they should be stamped
  *    (minus the `batch_id` this core adds). `sigs` arrives
  *    null-filtered.
  *  - `emptyIndex`: the empty-but-typed index frame before the first
  *    publish.
  */
private[streaming] object MediaDedupIngest {

  def ingestBatch(batch: DataFrame, batchId: Long, indexTable: String,
                  out: String, kind: String, sigCol: String,
                  signatures: DataFrame => DataFrame,
                  emptyIndex: SparkSession => DataFrame,
                  screen: (DataFrame, DataFrame) => DataFrame): Long = {
    val spark = batch.sparkSession
    val index = VersionedIngest.readIndexOr(spark, indexTable,
      emptyIndex(spark))
    // scope screening AND the undecodable pass-through to this kind —
    // a wrong-kind row sharing a media_id with an undecodable payload
    // must emit exactly once each (review-caught on the image stream)
    val media = batch.filter(col("kind") <=> kind)
    val sigs = graft.ops.Checkpoints.cut(signatures(media))
    val screenable = sigs.filter(col(sigCol).isNotNull)
    // pass-throughs are a PURE deterministic function of the batch
    // (kind + decode success), so the fresh and replay arms emit them
    // identically; the null-safe kind test keeps a NULL-kind row from
    // vanishing (=!= would filter it out of BOTH arms). The anti join
    // (rather than a null-signature semi) is what generalizes to
    // multi-signature units: a video clip passes through iff NO frame
    // produced a hash
    val passThrough = batch.filter(!(col("kind") <=> kind))
      .unionByName(media.join(screenable.select(col("media_id")),
        Seq("media_id"), "left_anti"))
    val screened =
      if (batchId <= VersionedIngest.maxPublished(spark, indexTable))
        // replay: the stamped signatures ARE this batch's survivors
        media.join(index.filter(col("batch_id") === batchId)
          .select(col("media_id")), Seq("media_id"), "left_semi")
      else {
        val kept = graft.ops.Checkpoints.cut(
          screen(index.drop("batch_id"), screenable))
        VersionedIngest.commit(spark, indexTable,
          kept.withColumn("batch_id", lit(batchId)), batchId)
        media.join(kept.select(col("media_id")), Seq("media_id"),
          "left_semi")
      }
    // sink write AFTER the publish: a crash in between replays into the
    // stamped-survivors arm, which rewrites exactly this partition
    val rows = screened.unionByName(passThrough)
      .withColumn("batch_id", lit(batchId))
    VersionedIngest.writeBatchPartition(rows, out)
  }
}
