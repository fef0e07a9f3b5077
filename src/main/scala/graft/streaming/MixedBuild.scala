package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Multimodal, Sinks}

/** MIXED-CORPUS one-call build — the brief's multimodal pillar wired
  * into the build surface: a corpus whose rows are text documents AND
  * media objects (image/audio/video payloads as opaque binary columns)
  * ingested through ONE per-batch entry point and released as ONE
  * versioned dataset with per-kind accounting.
  *
  * Composition, not reinvention — each kind routes to the machinery
  * that already owns its semantics, proofs included:
  *
  *   - '''text''' → [[IncrementalBuild.ingestBatch]] (SimhashIngest
  *     screening, exactly-once replay, flat per-batch shape); the
  *     release re-derives the corpus-global n99 stages over the
  *     survivor store (the [[IncrementalBuild]] argument, applied
  *     verbatim).
  *   - '''image/audio/video''' → the modality's versioned ingest
  *     ([[ImageIngest]]/[[AudioIngest]]/[[VideoIngest]] — ONE
  *     [[MediaDedupIngest]] policy: decode-once signatures, screening
  *     against the published index, undecodable pass-through, stamped
  *     survivors, torn-publish replay).
  *   - '''anything else''' (NULL/unknown kind) → a batch-partitioned
  *     pass-through store: the never-lose-a-row-silently discipline at
  *     the corpus boundary. Replay-safe for the same reason the media
  *     pass-through arms are — a pure deterministic filter of the
  *     batch rewrites its partition bit-same.
  *
  * The RELEASE is one frame over all kinds (text rows carry their
  * mix/shard assignment and cleaned text; media rows carry payloads,
  * byte counts, and a deterministic xxhash64 shard), published through
  * [[Sinks.publishTrainingBuild]] with per-kind counts stamped into the
  * manifest. MixedBuildSpec proves release-over-batches ≡
  * release-over-one-batch (batch composition) and reconciles the
  * per-kind counts against the manifest and the m13 dedup card over
  * the survivor stores.
  *
  * Scale shape: each batch pays batch-sized + index-stream work per
  * kind (the component ingests' proven shapes); payloads never shuffle
  * on the ingest path (kind routing is a filter; signatures are
  * map-side); the release's text half is the n99 plan, its media half
  * a projection of the survivor stores.
  */
object MixedBuild {

  /** The mixed-corpus row: text rows set `text`, media rows set
    * `payload`/`meta`; `kind` routes.
    */
  val mixedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true))),
      nullable = true)))

  def textBase(base: String): String = s"$base/text"
  def mediaIndex(base: String, kind: String): String = s"$base/$kind/index"
  def mediaOut(base: String, kind: String): String = s"$base/$kind/out"
  def otherOut(base: String): String = s"$base/other/out"
  def rejectsOut(base: String): String = s"$base/rejects/out"

  private def mediaCols(batch: DataFrame, kind: String): DataFrame =
    batch.filter(col("kind") <=> kind)
      .select(col("doc_id").as("media_id"), col("kind"), col("source"),
        col("payload"), col("meta"))

  /** Ingest ONE batch of mixed rows, routed by kind. Each component
    * inherits its own exactly-once replay contract; the `other` store's
    * rewrite is deterministic like the media pass-through arms.
    *
    * `qualityGate = true` runs [[Multimodal.mediaQualityAudit]] over
    * the media-kind rows FIRST (the quality → dedup stage order a
    * build pipeline wants: a degenerate payload must not cost a dedup
    * decision or an index entry): failing rows land in a REJECTS store
    * (batch-partitioned, carrying their flags — never lost silently),
    * passing rows proceed to their modality's screening. The gate is a
    * pure deterministic function of the batch, so the rejects
    * partition rewrites bit-same on replay and the downstream ingests
    * see a deterministic subset — the replay contracts compose
    * unchanged. TEXT rows are gated symmetrically through the n138
    * per-doc rules ([[graft.ops.TextAnalysis.qualityFlagsPerDoc]] —
    * fixed thresholds, per-row, stream-legal), landing in the SAME
    * rejects store under kind = 'text'; only the corpus-GLOBAL text
    * stages (minDf vocab, mixing, terciles) stay release-side, where
    * corpus statistics exist. NULL/unknown kinds keep routing to
    * `other` (the gate flags them `unknown_kind` only in audit
    * contexts — the router, not the gate, owns them here). The audit's
    * feature decode is a second map-side pass next to the signature
    * hash pass — both O(batch), stated.
    *
    * Preconditions: (doc_id, kind) is a KEY within a batch — the same
    * contract every versioned ingest's replay join already holds on
    * its id (two payloads under one key have no row identity to
    * reconcile); the gated path ENFORCES it with a loud require (a
    * violation would silently diverge the rejects store from the
    * returned accounting); and the gate setting is part of the stream's
    * IDENTITY, like a state schema — a batch replayed under a flipped
    * setting disagrees with what its stores hold, so flipping requires
    * a fresh checkpoint + base, as a changed streaming state schema
    * does.
    * As a guard rail the gate-off path still CLEARS the batch's
    * rejects partition (dynamic overwrite cannot rewrite a partition
    * absent from empty data): an on → off replay then at least cannot
    * double-count stale reject rows against the stores — though only
    * the fresh base the contract demands restores full equivalence
    * with a never-gated run.
    *
    * Returns the total rows landed (text + media survivors incl.
    * pass-throughs + other + rejects).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, base: String,
                  textMaxDist: Int = 0, mediaMaxDist: Int = 4,
                  qualityGate: Boolean = false): Long = {
    // cut ONCE at the boundary: the kind router fans this frame out to
    // five consumers (text + three modality ingests + other), each of
    // which would otherwise re-execute the caller's whole batch
    // subtree — source scan, unions, fixture synthesis — per consumer
    // (and per job inside each component ingest). A micro-batch is
    // batch-sized by contract, so one materialization is the stream
    // shape; pure performance, replay semantics unchanged.
    //
    // coalesce to the session's shuffle-partition setting first: a
    // batch assembled from unions of small scans CONCATENATES their
    // partitions (measured 145 for a ~500-row fixture batch), and
    // every downstream job in all five routes would relaunch that many
    // tasks — scheduling overhead, not work. coalesce is narrow (no
    // payload shuffle), a no-op when the batch is already at or below
    // the setting, and conf-driven so a cluster batch keeps its
    // parallelism knob.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val target = batch.sparkSession.sessionState.conf.numShufflePartitions
    val b = graft.ops.Checkpoints.cut(batch.coalesce(target))
    val mediaRows = b.filter(col("kind").isin(Multimodal.MediaKinds: _*))
    val (gated, fRejects) =
      if (!qualityGate) {
        // converge the on → off flip: this batch's rejects partition,
        // if an earlier gated run left one, no longer reflects the
        // stores — remove it (dynamic overwrite can't, with no data)
        val part = new org.apache.hadoop.fs.Path(rejectsOut(base),
          s"batch_id=$batchId")
        val fs = part.getFileSystem(
          b.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(part)) fs.delete(part, true)
        (b, Future.successful(0L))
      } else {
        val audit = graft.ops.Checkpoints.cut(
          Multimodal.mediaQualityAudit(mediaRows
            .select(col("doc_id").as("media_id"), col("kind"),
              col("payload"), col("meta"))))
        // TEXT half of the gate (symmetric to the media half): the
        // n138 per-doc rules are stream-legal — pure per-row functions
        // of the text — so a degenerate doc is rejected HERE, before
        // it costs a simhash, an index entry, or a release-stage seat.
        // The corpus-GLOBAL text stages (minDf vocab, mix weights,
        // terciles) stay in the release, where corpus statistics
        // exist; this gate is the per-row prefix of that pipeline.
        val textAudit = graft.ops.Checkpoints.cut(
          graft.ops.TextAnalysis.qualityFlagsPerDoc(
            b.filter(col("kind") <=> "text")
              .select(col("doc_id"), col("text"))))
        // enforce the stated (doc_id, kind)-key precondition LOUDLY:
        // on a duplicate-key batch the rejects store (written from a
        // join with mediaRows) and the returned nRejects (counted off
        // the audit) would silently diverge — and a same-key pass+fail
        // twin would strip a row no store holds. ONE count+distinct
        // aggregate job over BOTH cut audits (media kinds and 'text'
        // are disjoint, so the global n == k test is exactly the two
        // per-half tests the gate ran as separate jobs before r16).
        val keyRow = audit
          .select(col("media_id").as("id"), col("kind"))
          .unionByName(textAudit
            .select(col("doc_id").as("id"), lit("text").as("kind")))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("id"), col("kind")).as("k")).head()
        val (nAudit, nKeys) = (keyRow.getLong(0), keyRow.getLong(1))
        require(nAudit == nKeys,
          s"(doc_id, kind) must be a key within a batch: $nAudit gated " +
            s"rows over $nKeys distinct keys — the gate's reject " +
            "accounting and the replay contracts assume row identity")
        val fails = audit.filter(!col("pass"))
          .select(col("media_id").as("doc_id"), col("kind"),
            col("quality_flags"))
          .unionByName(textAudit.filter(!col("pass"))
            .select(col("doc_id"), lit("text").as("kind"),
              col("quality_flags")))
        val rejects = b
          .join(fails, Seq("doc_id", "kind"))
          .withColumn("batch_id", lit(batchId))
        // nRejects observed DURING the store write — under the enforced
        // key preconditions the written count equals the fails count,
        // so the separate fails.count() job (a re-run of both audit
        // filters + the union) is folded into the write's one execution.
        // SUBMITTED CONCURRENTLY with the kind routes below: the rejects
        // store is disjoint from every route's store and the write reads
        // only the cut batch + cut audits, so serializing it in front of
        // the routes was pure wall (replay is unaffected — every store
        // rewrite is deterministic dynamic overwrite).
        val fRejects = Future(
          VersionedIngest.writeBatchPartition(rejects, rejectsOut(base)))
        // anti-join on (id, kind): two kinds may legitimately share an
        // id, and a failing image must never strip a healthy
        // same-id audio row (which would vanish without a store)
        val accepted = b.join(
          fails.select(col("doc_id"), col("kind")),
          Seq("doc_id", "kind"), "left_anti")
        (accepted, fRejects)
      }
    // the five kind routes are INDEPENDENT (disjoint row sets, disjoint
    // stores) — submit them concurrently so the batch's wall is the
    // slowest route, not the sum. On a cluster this is what keeps the
    // executors busy through a mixed batch: the text simhash pass, the
    // three codec ingests, and the pass-through write pipeline against
    // each other instead of serializing five small job chains. Spark's
    // scheduler is thread-safe for concurrent job submission; `gated`
    // reads from the one cut batch, so no route re-executes another's
    // work.
    val fText = Future(IncrementalBuild.ingestBatch(
      gated.filter(col("kind") <=> "text")
        .select(col("doc_id"), col("text"), col("source")),
      batchId, textBase(base), textMaxDist))
    val fMedia = Multimodal.MediaKinds.map { k =>
      Future {
        val mc = mediaCols(gated, k)
        val (ix, out) = (mediaIndex(base, k), mediaOut(base, k))
        k match {
          case "image" =>
            ImageIngest.ingestBatch(mc, batchId, ix, out, mediaMaxDist)
          case "audio" =>
            AudioIngest.ingestBatch(mc, batchId, ix, out, mediaMaxDist)
          case _ =>
            VideoIngest.ingestBatch(mc, batchId, ix, out, mediaMaxDist)
        }
      }
    }
    val fOther = Future {
      val otherRows = b.filter(col("kind").isNull ||
          !col("kind").isin("text" +: Multimodal.MediaKinds: _*))
        .withColumn("batch_id", lit(batchId))
      VersionedIngest.writeBatchPartition(otherRows, otherOut(base))
    }
    (fRejects +: fText +: fMedia :+ fOther)
      .map(Await.result(_, scala.concurrent.duration.Duration.Inf))
      .sum
  }

  /** Quality-rejected media rows (flags attached) — the gate's
    * never-lose-a-row store; MixedBuildSpec reconciles the
    * conservation equation released + other + rejects = input.
    */
  def rejects(spark: SparkSession, base: String): DataFrame =
    readOrEmpty(spark, rejectsOut(base),
      withBatchId(StructType(mixedSchema :+
        StructField("quality_flags",
          org.apache.spark.sql.types.ArrayType(StringType,
            containsNull = false), nullable = true))))
      .drop("batch_id")

  /** Schema-EXPLICIT store read: a kind that never received a row
    * still gets its store directory written per batch (the component
    * ingests write unconditionally), so the directory can exist with
    * only a `_SUCCESS` marker — schema inference would throw on it
    * (review-caught: the spec fixture happened to feed every kind).
    * With the schema supplied, a file-less directory reads as the
    * empty frame it is; a missing directory (release before any
    * ingest) falls back to an explicit empty.
    */
  private def readOrEmpty(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
  }

  private def withBatchId(s: StructType): StructType =
    StructType(s :+ StructField("batch_id", LongType, nullable = true))

  private val mediaStoreSchema: StructType =
    StructType(mixedSchema.filterNot(_.name == "text")
      .map(f => if (f.name == "doc_id") f.copy(name = "media_id") else f))

  private val textStoreSchema: StructType =
    StructType(mixedSchema.filter(f =>
      Seq("doc_id", "text", "source").contains(f.name)))

  /** Every media row the build ships for `kind` — the modality sink's
    * survivors plus its undecodable pass-throughs, batch stamp dropped.
    */
  def mediaSurvivors(spark: SparkSession, base: String,
                     kind: String): DataFrame =
    readOrEmpty(spark, mediaOut(base, kind), withBatchId(mediaStoreSchema))
      .drop("batch_id")

  /** The release frame [[publishRelease]] publishes, pre-publish and
    * lineage-intact — split out so the plan is testable: the text half
    * re-derives the corpus-global n99 stages over the text survivor
    * store, the media half projects the survivor stores to the release
    * schema (payloads ride as-is; shard = pmod(xxhash64(doc_id)) —
    * deterministic and engine-stable, deliberately payload-agnostic).
    *
    * Layout discipline (round-14 verdict #1): the frame HASH-clusters
    * on (kind, shard) and sorts WITHIN partitions, NOT a global
    * orderBy. A global
    * sort is a RangePartitioning exchange: it SAMPLES the child to
    * pick range boundaries (a second pass over the release subtree)
    * and funnels every payload byte through skew-prone range buckets —
    * at 100 TB of media that one exchange dominates the whole build.
    * Hash clustering shuffles each payload byte exactly once with no
    * sampling pass, assignment is murmur3(kind, shard) — deterministic
    * — and each output file is internally sorted by (kind, shard,
    * doc_id), so file content is run-stable (epoch-shuffle
    * determinism). The tradeoff, stated: distinct (kind, shard) cells
    * can collide birthday-style into one partition (a range partition
    * avoids that — fine for payload-free text rows, not for media
    * payloads, for the reasons above), costing some write-task
    * balance; with cells ≈ tasks that is bounded and the release
    * reader filters on the shard COLUMN, not file layout. Plan pin:
    * MixedBuildSpec asserts no RangePartitioning exchange carries the
    * payload column.
    */
  def releaseFrame(spark: SparkSession, base: String,
                   n: Int = 5, minDf: Int = 2, tau: Double = 0.5,
                   alpha: Double = 0.5, budget: Long = 20000L,
                   numShards: Int = 8): DataFrame = {
    // schema-explicit like the media stores (a text-less corpus leaves
    // a file-less doc store), and the n99 stages only run when there
    // is text to build — their plan aggregates assume a non-empty
    // corpus
    val textDocs = readOrEmpty(spark,
      IncrementalBuild.docStore(textBase(base)),
      withBatchId(textStoreSchema))
      .select(col("doc_id"), col("text"), col("source"))
    val textBuild = (if (textDocs.head(1).isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("source", StringType, nullable = true),
          StructField("shard", IntegerType, nullable = true),
          StructField("pos", IntegerType, nullable = true),
          StructField("n_tokens", LongType, nullable = true),
          StructField("n_removed", LongType, nullable = true),
          StructField("text_clean", StringType, nullable = true))))
    // UNORDERED build: the (kind, shard) clustering below imposes the
    // release layout — the registry form's doc_id total order would
    // add a sampled range shuffle this frame immediately discards
    else graft.ops.TextAnalysis.trainingDataBuildUnordered(
      textDocs, n, minDf, tau, alpha, budget, numShards))
      .select(col("doc_id"), lit("text").as("kind"), col("source"),
        col("shard"), col("pos"), col("n_tokens"), col("n_removed"),
        col("text_clean"),
        lit(null).cast("long").as("n_bytes"),
        lit(null).cast("binary").as("payload"))
    val media = Multimodal.MediaKinds
      .map(k => mediaSurvivors(spark, base, k))
      .reduce(_ unionByName _)
      .select(col("media_id").as("doc_id"), col("kind"), col("source"),
        pmod(xxhash64(col("media_id")), lit(numShards)).cast("int")
          .as("shard"),
        lit(null).cast("int").as("pos"),
        lit(null).cast("long").as("n_tokens"),
        lit(null).cast("long").as("n_removed"),
        lit(null).cast("string").as("text_clean"),
        coalesce(octet_length(col("payload")).cast("long"), lit(0L))
          .as("n_bytes"),
        col("payload"))
    // one hash exchange, no sampling pass, no range boundaries — see
    // the Scaladoc; 4 kinds × numShards cells ≈ one cell per task
    textBuild.unionByName(media)
      .repartition(4 * numShards, col("kind"), col("shard"))
      .sortWithinPartitions(col("kind"), col("shard"), col("doc_id"))
  }

  /** Rows-only registry surface (m18) — the round-14 "make the mixed
    * build driver-visible" ask: run the WHOLE one-call build (two
    * gated ingest batches + one versioned release) over a bounded
    * deterministic mixed fixture derived from the sf dir, and emit the
    * per-bucket count frame (one row per released kind, plus `other`
    * and `rejects`) — the same conservation surface MixedBuildSpec
    * reconciles, now in the driver's CORRECTNESS file every round. The
    * release↔manifest reconciliation runs INSIDE (loud requires), so a
    * divergence fails the row, not just a spec.
    *
    * Fixture (ONE gated batch — cross-batch composition is
    * MixedBuildSpec's proof; the driver receipt buys the composition +
    * reconciliation at one batch's fixed cost): a doc slice (text), a
    * fixed BASE-ID window of each staged media corpus (image/audio/
    * video, planted twins included), EXACT payload copies under
    * shifted higher ids IN the same batch (the greedy
    * earliest-arrival policy must screen every decodable copy —
    * dedup visibly fires), one degenerate per gate family (flat
    * image, silent audio → rejects) and an unknown kind (→ other).
    * EAGER by the registry-auto contract: the build executes at
    * construction (stores live in a per-call temp dir, deleted before
    * returning) and the result is the collected count frame —
    * deterministic because every stage below it is.
    */
  def registryTable(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_m18")
    try {
      val base = s"$tmp/store"
      val metaType = Multimodal.mediaSchema("meta").dataType
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .orderBy(col("doc_id")).limit(96)
        .select(col("doc_id"), lit("text").as("kind"), col("source"),
          col("text"), lit(null).cast("binary").as("payload"),
          lit(null).cast(metaType).as("meta"))
      // BASE-id window (twin offsets are multiples of 2^40, so the low
      // bits recover the original id for originals AND planted twins):
      // a fixed window is size-STABLE across scale factors — the m18
      // receipt costs the same at sf0.001 and sf0.1, where any
      // mod-slice would grow the fixture (and the bench bill) with the
      // corpus
      def slice(df: DataFrame): DataFrame =
        df.filter(col("media_id").bitwiseAND(lit((1L << 40) - 1)) < 300)
      val media = slice(Multimodal.stagedEditedImages(spark, dir)
          .filter(col("kind") === "image"))
        .unionByName(slice(Multimodal.stagedEditedAudio(spark, dir)))
        .unionByName(slice(Multimodal.stagedEditedVideos(spark, dir)))
        .select((col("media_id") + lit(1L << 50)).as("doc_id"),
          col("kind"), lit("media_src").as("source"),
          lit(null).cast("string").as("text"), col("payload"),
          col("meta"))
      val copies = media.withColumn("doc_id", col("doc_id") + (1L << 20))
      val planted = spark.createDataFrame(java.util.Arrays.asList(
        Row(7000000001L, "image", "degen", null,
          Multimodal.constantPng(8, 8, 0x808080), Row(8, 8, null)),
        Row(7000000002L, "audio", "degen", null,
          Multimodal.pcmToWav(new Array[Short](512), Multimodal.WavRate),
          Row(null, null, Multimodal.WavRate)),
        Row(7000000003L, "pdf", "degen", null, null, null)), mixedSchema)
      ingestBatch(docs.unionByName(media).unionByName(copies)
        .unionByName(planted), 0L, base, qualityGate = true)
      val rel = publishRelease(spark, base, s"$tmp/release")
      val relCounts = rel.groupBy(col("kind"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val meta = Sinks.Versioned.meta(spark, s"$tmp/release")
      relCounts.foreach { case (k, n) =>
        require(meta(s"n_$k").toLong == n,
          s"release/manifest divergence for kind $k: " +
            s"frame=$n manifest=${meta(s"n_$k")}")
      }
      val buckets = (relCounts.toSeq ++ Seq(
        "other" -> readOrEmpty(spark, otherOut(base),
          withBatchId(mixedSchema)).count(),
        "rejects" -> rejects(spark, base).count())).sortBy(_._1)
      import spark.implicits._
      buckets.toDF("bucket", "n")
    } finally {
      val walk = java.nio.file.Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Cut a RELEASE over everything that survived ingest so far —
    * [[releaseFrame]] materialized once, published through
    * [[Sinks.publishTrainingBuild]] with per-kind counts stamped into
    * the manifest. One frame, one versioned publish.
    */
  def publishRelease(spark: SparkSession, base: String, table: String,
                     n: Int = 5, minDf: Int = 2, tau: Double = 0.5,
                     alpha: Double = 0.5, budget: Long = 20000L,
                     numShards: Int = 8,
                     params: Map[String, String] = Map.empty,
                     keepVersions: Int = 2): DataFrame = {
    val release = graft.ops.Checkpoints.cut(
      releaseFrame(spark, base, n, minDf, tau, alpha, budget, numShards))
    val kindCounts = release.groupBy(col("kind"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => s"n_${r.getString(0)}" -> r.getLong(1).toString).toMap
    Sinks.publishTrainingBuild(release, table,
      params ++ kindCounts ++ Map("n" -> n.toString,
        "minDf" -> minDf.toString, "tau" -> tau.toString,
        "alpha" -> alpha.toString, "budget" -> budget.toString,
        "numShards" -> numShards.toString),
      keepVersions)
    release
  }
}
