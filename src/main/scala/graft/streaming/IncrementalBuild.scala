package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.sources.Sinks

/** INCREMENTAL one-call training-data build — the streaming form of
  * [[graft.ops.TextAnalysis.trainingDataBuild]] (n99): documents arrive
  * in batches, each batch pays only batch-sized + index-stream work,
  * and cutting a RELEASE yields a versioned dataset provably identical
  * to running the one-shot build over everything that survived ingest.
  *
  * Two cadences, deliberately split by what each stage is a function
  * OF:
  *
  *   - '''Per batch (flat):''' near-dup-suppressed ingest into the doc
  *     store — [[SimhashIngest.ingestBatch]] VERBATIM (screen against
  *     the published 16-byte signature index, greedy stream policy,
  *     exactly-once replay via the versioned index manifest). Dup
  *     screening is a function of (batch, index), so it is the stage
  *     that can and does run incrementally; its per-batch wall is
  *     measured FLAT over 20 batches while the index grows (round-10
  *     sweeps + the round-11 build sweep in BENCH_NOTES). Exact-dup
  *     collapse is subsumed: identical texts share a signature
  *     (hamming 0).
  *
  *   - '''Per release ([[publishRelease]]):''' boilerplate-trim
  *     (gram df), decontamination, temperature mix, and sharding are
  *     functions of the WHOLE surviving corpus — a gram's df, a
  *     source's token total, and the test-side fingerprint set all
  *     keep moving as batches land, so "incrementally" deriving them
  *     per batch would freeze early documents under stale state and
  *     the final dataset would silently diverge from the one-shot
  *     build. The release instead re-derives those stages over the
  *     accumulated survivor store with the n99 machinery VERBATIM
  *     ([[graft.ops.TextAnalysis.trainingDataBuild]]) and publishes
  *     through [[Sinks.publishTrainingBuild]] — so release ≡ one-shot
  *     build BY CONSTRUCTION (IncrementalBuildSpec pins it bit-for-bit
  *     against batch-mode n99 on the same static corpus), release
  *     cost is paid once per release (not per batch), and every
  *     retained version stays readable ([[Sinks.Versioned.readVersion]]).
  *
  * Arrival order is part of the contract (the [[SimhashIngest]]
  * policy): the greedy keeper keeps FIRST arrival, which equals n99's
  * min-doc_id keeper exactly when batches arrive in id order — the
  * equivalence spec's regime; out-of-order feeds keep the later
  * arrivals' drops deterministic but keyed to arrival, as in every
  * streaming dedup here.
  */
object IncrementalBuild {

  def sigIndexTable(base: String): String = s"$base/sigindex"
  def docStore(base: String): String = s"$base/docs"

  /** Ingest ONE batch of (doc_id, text, source, ...) rows into the doc
    * store, near-dup-screened against the published signature index —
    * [[SimhashIngest.ingestBatch]] verbatim (its exactly-once replay
    * and flat per-batch shape carry over unchanged). `maxDist = 0`
    * screens exact-signature dups only — the setting under which the
    * survivor store is the full corpus minus exact dups and the
    * release provably equals the one-shot n99 of the FULL corpus.
    * Returns the batch's survivor count.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, base: String,
                  maxDist: Int = 3): Long =
    SimhashIngest.ingestBatch(batch, batchId, sigIndexTable(base),
      docStore(base), maxDist)

  /** Every document that survived ingest so far (original columns; the
    * ingest's batch_id stamp dropped).
    */
  def survivors(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(docStore(base)).drop("batch_id")

  /** Cut a RELEASE: re-derive the corpus-global stages (clean + trim +
    * decon + mix + shard — [[graft.ops.TextAnalysis.trainingDataBuild]]
    * verbatim) over the accumulated survivors and publish the result
    * as a pinned version of `table` via
    * [[Sinks.publishTrainingBuild]]. Returns the published build.
    *
    * `keepVersions` is the retention knob: releases past it are pruned
    * and only retained versions can be read back — size it to the
    * horizon the release cadence needs (the default 2 keeps the
    * current release and its predecessor).
    */
  def publishRelease(spark: SparkSession, base: String, table: String,
                     n: Int = 5, minDf: Int = 2, tau: Double = 0.5,
                     alpha: Double = 0.5, budget: Long = 20000L,
                     numShards: Int = 8,
                     params: Map[String, String] = Map.empty,
                     keepVersions: Int = 2,
                     safeSplits: Boolean = false,
                     splitThreshold: Double = 0.3): DataFrame = {
    val docs = survivors(spark, base).select(col("doc_id"), col("text"),
      col("source"))
    // safeSplits: release with the LEAKAGE-SAFE assignment (n142 —
    // split = near-dup component key, zero off-diagonal by
    // construction) instead of the hash split; both forms re-derive
    // the corpus-global stages over the same survivor store, so the
    // release ≡ batch-build proof carries over unchanged per form
    val build =
      if (safeSplits)
        TextAnalysis.trainingDataBuildSafe(docs, n, minDf, tau, alpha,
          budget, numShards, splitThreshold)
      else
        TextAnalysis.trainingDataBuild(docs, n, minDf, tau, alpha,
          budget, numShards)
    // stamp every knob that shapes the build — incl. splitThreshold,
    // which changes the safe form's component graph and therefore the
    // shipped split assignment (two safe releases at different
    // thresholds must not carry identical manifests)
    val safeKv =
      if (safeSplits) Map("safeSplits" -> "true",
        "splitThreshold" -> splitThreshold.toString)
      else Map("safeSplits" -> "false")
    Sinks.publishTrainingBuild(build, table,
      params ++ Map("n" -> n.toString, "minDf" -> minDf.toString,
        "tau" -> tau.toString, "alpha" -> alpha.toString,
        "budget" -> budget.toString, "numShards" -> numShards.toString)
        ++ safeKv,
      keepVersions)
    build
  }

  /** Checkpointed STREAMING form — [[ingestBatch]] in foreachBatch over
    * a parquet directory of document files (the [[SimhashIngest]]
    * wiring), cutting a release every `releaseEvery` batches
    * (0 = never; the caller releases manually). Ingest inherits the
    * underlying exactly-once replay contract verbatim. Releases are
    * pinned snapshots whose CONTENT is a pure function of the survivor
    * store, so a replayed trigger can at worst publish an extra version
    * with identical rows (never a divergent one); `keepVersions` bounds
    * the version chain either way. `compactEvery` caps the signature
    * index's commit-chain length on the [[SimhashIngest]] cadence
    * (≈50, measured) — a long-lived build otherwise accrues one
    * manifest directory per batch.
    *
    * Cadence releases fire on batch-count multiples, so a run whose
    * batch count is NOT a multiple of `releaseEvery` ends with TAIL
    * batches ingested but unreleased — the caller covers them with one
    * [[publishRelease]] after the query terminates.
    */
  def startFromParquet(spark: SparkSession, dir: String, checkpoint: String,
                       base: String, table: String, maxDist: Int = 3,
                       glob: String = "*.parquet",
                       maxFilesPerTrigger: Option[Int] = None,
                       schema: Option[org.apache.spark.sql.types.StructType] =
                         None,
                       releaseEvery: Int = 0,
                       keepVersions: Int = 2,
                       compactEvery: Int = 0,
                       compactTargetFiles: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // owner-side startup lease breaks for BOTH Versioned tables this
    // single-writer stream owns: a crash inside a cadence release
    // leaves the RELEASE table's lock held too, and clearing only the
    // index lease would fail the first post-restart release
    Sinks.Versioned.breakLease(spark, sigIndexTable(base))
    Sinks.Versioned.breakLease(spark, table)
    FileStreams.readParquetStream(spark, dir, glob, maxFilesPerTrigger,
        schema)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch, id, base, maxDist)
        if (releaseEvery > 0 && (id + 1) % releaseEvery == 0)
          publishRelease(spark, base, table, keepVersions = keepVersions,
            params = Map("lastBatch" -> id.toString))
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          Sinks.Versioned.compact(spark, sigIndexTable(base),
            compactTargetFiles)
        ()
      }
      .start()
  }
}
