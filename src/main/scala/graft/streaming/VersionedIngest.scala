package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** The ONE scaffold the versioned ingests share (SimhashIngest and the
  * three media streams through [[MediaDedupIngest]]; each once carried a
  * verbatim private copy, so a fix to the replay discipline had to land
  * in every one): the `_current`-pointer existence probe, the O(1)
  * `max_batch_id` metadata read with the one-off pre-metadata fallback
  * scan, the empty-or-read index accessor, the publish-vs-append commit
  * stamped with the batch id, and the batch-partitioned sink write. The
  * per-modality SEMANTICS (what a batch screens against, what the replay
  * arm reconstructs, what gets stamped) stay in each ingest — only the
  * invariant-bearing plumbing lives here.
  */
private[streaming] object VersionedIngest {

  val BatchIdMeta = "max_batch_id"

  def indexExists(spark: SparkSession, table: String): Boolean = {
    val ptr = new org.apache.hadoop.fs.Path(table, "_current")
    ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ptr)
  }

  /** Highest batch id already published — from version metadata (O(1),
    * zero Spark jobs); pre-metadata tables fall back to one index scan
    * (every commit this scaffold makes stamps the metadata, so the
    * fallback runs at most once per table lifetime).
    */
  def maxPublished(spark: SparkSession, table: String): Long =
    if (!indexExists(spark, table)) -1L
    else Sinks.Versioned.meta(spark, table).get(BatchIdMeta) match {
      case Some(v) => v.toLong
      case None =>
        Sinks.Versioned.read(spark, table)
          .agg(max(col("batch_id"))).head() match {
            case r if r.isNullAt(0) => -1L
            case r => r.getLong(0)
          }
    }

  /** The published index, or the caller's empty-but-typed frame before
    * the first publish.
    */
  def readIndexOr(spark: SparkSession, table: String,
                  empty: => DataFrame): DataFrame =
    if (indexExists(spark, table)) Sinks.Versioned.read(spark, table)
    else empty

  /** Publish (first batch) or append (every later one) `delta` into
    * the index table, stamping the batch id into the manifest metadata
    * [[maxPublished]] reads back.
    */
  def commit(spark: SparkSession, table: String, delta: DataFrame,
             batchId: Long): Unit =
    if (indexExists(spark, table))
      Sinks.Versioned.append(delta, table,
        meta = Map(BatchIdMeta -> batchId.toString))
    else
      Sinks.Versioned.publish(delta, table,
        meta = Map(BatchIdMeta -> batchId.toString))

  /** Write `rows` to the batch-partitioned sink (dynamic partition
    * overwrite — the exactly-once rewrite discipline every ingest
    * shares) and return the row count observed DURING the write: the
    * historical `rows.write; rows.count()` tail executed the emit plan
    * twice per batch (the count re-ran the screening joins and payload
    * union); an `observe` aggregate rides the write's one execution.
    */
  def writeBatchPartition(rows: DataFrame, out: String): Long = {
    val obs = org.apache.spark.sql.Observation(
      graft.ops.Checkpoints.freshMetricName("ingest_rows"))
    rows.observe(obs, count(lit(1)).as("n"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(out)
    obs.get("n").asInstanceOf[Long]
  }
}
