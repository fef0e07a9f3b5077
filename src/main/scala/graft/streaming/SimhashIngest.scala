package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Near-dup-suppressed TEXT ingest over the 60-bit simhash pigeonhole
  * index: each batch of documents is screened against the PUBLISHED
  * SIGNATURE INDEX (plus itself, smaller-id-first greedy) via
  * [[Dedup.incrementalSimhashDedupFromIndex]], the survivors' signatures
  * are appended to the index — a [[graft.sources.Sinks.Versioned]]
  * table — and the surviving documents are emitted to the sink
  * partitioned by batch id.
  *
  * The index stores (doc_id, simhash, batch_id) and NEVER the text:
  * 16 bytes + a stamp per survivor, so the screening state for a 100 TB
  * text corpus is a few GB of signatures, streamed map-side past each
  * broadcast batch.
  *
  * POLICY: the greedy STREAM variant — a doc dropped in batch b is not
  * in the index and can never drop a later arrival; within a batch, a
  * doc falls to any smaller-id near neighbor. Arrival order is part of
  * the contract, as in every streaming dedup here.
  *
  * EXACTLY-ONCE REPLAY: the index carries `batch_id`; a replayed batch
  * whose id is already published recomputes nothing (its survivors ARE
  * the index rows it stamped, computed against the pre-batch index
  * state) and only rewrites its own sink partition via dynamic
  * partition overwrite. A crash between the index publish and the sink
  * write resumes without double-publishing or duplicating sink rows;
  * SimhashIngestSpec drives the torn order.
  *
  * Scale shape: per-batch work is one signature pass over the BATCH
  * plus the map-side index stream (both screening joins broadcast the
  * batch — plan-pinned on the underlying operator); the publish is an
  * O(batch) [[graft.sources.Sinks.Versioned.append]] manifest commit;
  * the replay high-water mark rides version metadata (one manifest
  * read, zero Spark jobs).
  */
object SimhashIngest {

  def maxPublished(spark: SparkSession, table: String): Long =
    VersionedIngest.maxPublished(spark, table)

  /** The published signature index (doc_id, simhash, batch_id),
    * empty-but-typed before the first publish.
    */
  def readIndex(spark: SparkSession, table: String): DataFrame =
    VersionedIngest.readIndexOr(spark, table, {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("doc_id", "simhash", "batch_id")
    })

  /** Process ONE batch of (doc_id, text, ...) rows: screen against the
    * index + itself, append the survivors' signatures to the index,
    * emit the surviving documents to `out/batch_id=<id>/`. Idempotent
    * per (batch contents, batchId). Returns the survivor count.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexTable: String,
                  out: String, maxDist: Int = 3): Long = {
    val spark = batch.sparkSession
    val index = readIndex(spark, indexTable)
    val survivors =
      if (batchId <= maxPublished(spark, indexTable))
        // replay of a published batch: its survivors ARE the rows it
        // stamped (recomputing against the POST-batch index would drop
        // them as near-dups of themselves)
        batch.join(index.filter(col("batch_id") === batchId)
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      else {
        // cut: the screening joins stream the WHOLE signature index, and
        // three actions consume `kept` (index append, sink write, count)
        // — without materialization each would re-pay the O(index) scan
        // and the per-batch wall would silently triple
        val kept = graft.ops.Checkpoints.cut(
          Dedup.incrementalSimhashDedupFromIndex(batch,
            index.select(col("doc_id"), col("simhash")), maxDist))
        VersionedIngest.commit(spark, indexTable,
          kept.withColumn("batch_id", lit(batchId)), batchId)
        batch.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
      }
    // sink write AFTER the publish: a crash in between replays into the
    // stamped-survivors arm, which rewrites exactly this partition
    val rows = survivors.withColumn("batch_id", lit(batchId))
    VersionedIngest.writeBatchPartition(rows, out)
  }
}
