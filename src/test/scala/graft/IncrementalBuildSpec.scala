package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.sources.Sinks
import graft.streaming.IncrementalBuild

/** The incremental one-call training build: per-batch near-dup-screened
  * ingest (SimhashIngest verbatim), release = the n99 build re-derived
  * over the accumulated survivors — provably equal to batch-mode n99 on
  * the same static corpus, published as a pinned version.
  */
class IncrementalBuildSpec extends SparkSpec {
  import spark.implicits._

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("release over id-ordered exact-dup-screened batches equals " +
    "batch-mode n99 on the same static corpus, bit for bit") {
    val tmp = Files.createTempDirectory("graft_incbuild").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    // five id-ordered batches (first arrival == min doc_id, the n99
    // keeper); maxDist=0 screens exact-signature dups only, which the
    // one-shot build's own keeper also collapses — so the survivor
    // store is build-equivalent to the full corpus
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cut = ids.grouped(math.max(1, ids.length / 5 + 1)).toSeq
    cut.zipWithIndex.foreach { case (chunk, i) =>
      IncrementalBuild.ingestBatch(
        docs.filter(col("doc_id").isin(chunk: _*)), i.toLong,
        s"$tmp/state", maxDist = 0)
    }
    val release = IncrementalBuild.publishRelease(spark, s"$tmp/state",
      s"$tmp/release", params = Map("rel" -> "r1"))
    val oneShot = TextAnalysis.trainingDataBuild(docs)
    assert(asRows(release) === asRows(oneShot),
      "incremental release must equal the one-shot n99 build")
    assert(release.count() > 0, "fixture must produce a non-empty build")
    // and it is a real pinned version with the realized counts stamped
    val v = Sinks.Versioned.versions(spark, s"$tmp/release")
    assert(v === Seq(1L))
    val meta = Sinks.Versioned.metaOf(spark, s"$tmp/release", 1L)
    assert(meta("rel") === "r1")
    assert(meta("n_docs") === oneShot.count().toString)
    assert(asRows(Sinks.Versioned.readVersion(spark, s"$tmp/release", 1L))
      === asRows(oneShot))
  }

  test("safeSplits release equals batch-mode trainingDataBuildSafe " +
    "(n142) over the same survivor store, and stamps the mode") {
    val tmp = Files.createTempDirectory("graft_incbuild_safe").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    IncrementalBuild.ingestBatch(docs, 0L, s"$tmp/state", maxDist = 0)
    val release = IncrementalBuild.publishRelease(spark, s"$tmp/state",
      s"$tmp/release", safeSplits = true)
    val oneShot = TextAnalysis.trainingDataBuildSafe(docs)
    assert(asRows(release) === asRows(oneShot),
      "safe release must equal the one-shot n142 build")
    assert(release.count() > 0)
    val meta = Sinks.Versioned.metaOf(spark, s"$tmp/release", 1L)
    assert(meta("safeSplits") === "true")
  }

  test("near-dup screening (maxDist=3) drops a cross-batch near-dup the " +
    "one-shot build would keep; the release equals n99 over the " +
    "SURVIVOR corpus") {
    val tmp = Files.createTempDirectory("graft_incbuild_nd").toString
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    // doc 200 is a one-word edit of doc 100 (near-dup, NOT exact):
    // simhash hamming is tiny, word-set Jaccard high, md5 digests differ
    val nearDup = base.replace("w30", "xx")
    val docs = (
      (1L to 99L).map(i =>
        (i, (1 to 40).map(j => s"u${i}v$j").mkString(" "), s"s${i % 3}")) ++
      Seq((100L, base, "s0"), (200L, nearDup, "s1"))
    ).toDF("doc_id", "text", "source")
    IncrementalBuild.ingestBatch(
      docs.filter(col("doc_id") <= 100L), 0L, s"$tmp/state")
    IncrementalBuild.ingestBatch(
      docs.filter(col("doc_id") > 100L), 1L, s"$tmp/state")
    val surv = IncrementalBuild.survivors(spark, s"$tmp/state")
    val survIds = surv.select("doc_id").as[Long].collect().toSet
    assert(survIds.contains(100L) && !survIds.contains(200L),
      "the cross-batch near-dup must fall to the published index")
    // the release is exactly n99 over what survived — the no-drift
    // contract between ingest screening and the build machinery
    val release = IncrementalBuild.publishRelease(spark, s"$tmp/state",
      s"$tmp/release")
    assert(asRows(release) ===
      asRows(TextAnalysis.trainingDataBuild(
        docs.filter(col("doc_id") =!= 200L))))
  }

  test("stream over batch files ingests everything, releases at " +
    "cadence, and a release cut after the TAIL batch equals batch-mode " +
    "n99") {
    val tmp = Files.createTempDirectory("graft_incbuild_st").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    // FIVE batch files at releaseEvery=2: cadence releases fire after
    // batches 1 and 3, batch 4 is the tail only a caller's release
    // covers
    val ids = docs.select("doc_id").as[Long].collect().sorted
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/in"))
    ids.grouped(math.max(1, ids.length / 5 + 1)).zipWithIndex
      .foreach { case (chunk, i) =>
        stageParquetFile(docs.filter(col("doc_id").isin(chunk: _*)),
          s"$tmp/stage_b$i", s"$tmp/in", s"b$i", (i + 1) * 1000000L)
      }
    val q = graft.streaming.IncrementalBuild.startFromParquet(spark,
      s"$tmp/in", s"$tmp/ckpt", s"$tmp/state", s"$tmp/release",
      maxDist = 0, maxFilesPerTrigger = Some(1), releaseEvery = 2,
      keepVersions = 4)
    assert(q.awaitTermination(600000), "ingest stream still running")
    assert(q.exception.isEmpty, s"ingest stream failed: ${q.exception}")
    assert(Sinks.Versioned.versions(spark, s"$tmp/release").size === 2,
      "5 batches at cadence 2: two cadence releases")
    graft.streaming.IncrementalBuild.publishRelease(spark, s"$tmp/state",
      s"$tmp/release", keepVersions = 4)
    val versions = Sinks.Versioned.versions(spark, s"$tmp/release")
    assert(versions.size === 3,
      s"two cadence releases + the tail release: $versions")
    val last = Sinks.Versioned.readVersion(spark, s"$tmp/release",
      versions.max)
    assert(asRows(last) === asRows(TextAnalysis.trainingDataBuild(docs)))
    // the last cadence release must NOT already cover the tail — the
    // tail release is load-bearing, not a duplicate version
    assert(asRows(Sinks.Versioned.readVersion(spark, s"$tmp/release",
        versions.sorted.apply(1)))
      !== asRows(last))
  }

  test("a stale publish lease on the RELEASE table (a crash inside a " +
    "cadence release) does not stall the restarted stream") {
    val tmp = Files.createTempDirectory("graft_incbuild_lk").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") < 100)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/in"))
    stageParquetFile(docs, s"$tmp/stage_b0", s"$tmp/in", "b0", 1000000L)
    // simulate the crash: a dead publisher's lock left on the RELEASE
    // table (young enough that the lease-timeout path would stall a
    // writer that doesn't owner-break it)
    val table = s"$tmp/release"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_publish.lock"),
      "dead-owner".getBytes("UTF-8"))
    val q = graft.streaming.IncrementalBuild.startFromParquet(spark,
      s"$tmp/in", s"$tmp/ckpt", s"$tmp/state", table,
      maxDist = 0, maxFilesPerTrigger = Some(1), releaseEvery = 1)
    assert(q.awaitTermination(600000), "ingest stream still running")
    assert(q.exception.isEmpty, s"ingest stream failed: ${q.exception}")
    // one batch at cadence 1: the cadence release fired THROUGH the
    // broken lease
    assert(Sinks.Versioned.versions(spark, table) === Seq(1L))
    assert(Sinks.Versioned.readVersion(spark, table, 1L).count() ===
      TextAnalysis.trainingDataBuild(docs).count())
  }

  test("stream resume on the same checkpoint: a no-file re-run changes " +
    "nothing; late-arriving files ingest as NEW batches and the next " +
    "cadence release reflects them") {
    val tmp = Files.createTempDirectory("graft_incbuild_rs").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val (firstIds, lateIds) = ids.splitAt(ids.length / 2)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/in"))
    def run() = {
      val q = graft.streaming.IncrementalBuild.startFromParquet(spark,
        s"$tmp/in", s"$tmp/ckpt", s"$tmp/state", s"$tmp/release",
        maxDist = 0, maxFilesPerTrigger = Some(1), releaseEvery = 1)
      q.awaitTermination(300000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    stageParquetFile(docs.filter(col("doc_id").isin(firstIds: _*)),
      s"$tmp/stage_b0", s"$tmp/in", "b0", 1000000L)
    run()
    val v1 = Sinks.Versioned.versions(spark, s"$tmp/release")
    val store1 = asRows(IncrementalBuild.survivors(spark, s"$tmp/state"))
    // resume with no new files: nothing moves
    run()
    assert(Sinks.Versioned.versions(spark, s"$tmp/release") === v1)
    assert(asRows(IncrementalBuild.survivors(spark, s"$tmp/state"))
      === store1)
    // late files arrive; resume ingests ONLY them and the new cadence
    // release is the one-shot build of everything
    stageParquetFile(docs.filter(col("doc_id").isin(lateIds: _*)),
      s"$tmp/stage_b1", s"$tmp/in", "b1", 2000000L)
    run()
    val v2 = Sinks.Versioned.versions(spark, s"$tmp/release")
    assert(v2.size === v1.size + 1)
    assert(asRows(Sinks.Versioned.readVersion(spark, s"$tmp/release",
        v2.max))
      === asRows(TextAnalysis.trainingDataBuild(docs)))
  }

  test("replayed ingest batch leaves the store and the next release " +
    "unchanged (exactly-once carries through to the dataset)") {
    val tmp = Files.createTempDirectory("graft_incbuild_rp").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 =!= 0)
    IncrementalBuild.ingestBatch(b0, 0L, s"$tmp/state")
    IncrementalBuild.ingestBatch(b1, 1L, s"$tmp/state")
    val before = asRows(IncrementalBuild.survivors(spark, s"$tmp/state"))
    // replay batch 1 (the crash-recovery path)
    IncrementalBuild.ingestBatch(b1, 1L, s"$tmp/state")
    assert(asRows(IncrementalBuild.survivors(spark, s"$tmp/state"))
      === before)
    val r1 = IncrementalBuild.publishRelease(spark, s"$tmp/state",
      s"$tmp/release")
    val r2 = IncrementalBuild.publishRelease(spark, s"$tmp/state",
      s"$tmp/release")
    assert(asRows(r1) === asRows(r2))
    assert(Sinks.Versioned.versions(spark, s"$tmp/release")
      === Seq(1L, 2L))
  }
}
