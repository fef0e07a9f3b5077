package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.streaming.IncrementalBuild

/** The incremental training build: per-batch near-dup-screened ingest
  * (SimhashIngest verbatim) into a doc store; the n99 build re-derived
  * over the store equals batch-mode n99 on the same static corpus.
  */
class IncrementalBuildSpec extends SparkSpec {
  import spark.implicits._

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** Every document that survived ingest into `base`'s doc store. */
  private def storeDocs(base: String) =
    spark.read.parquet(IncrementalBuild.docStore(base))
      .select(col("doc_id"), col("text"), col("source"))

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
        docs.filter(col("doc_id").isin(chunk.toIndexedSeq: _*)), i.toLong,
        s"$tmp/state", maxDist = 0)
    }
    val release = TextAnalysis.trainingDataBuild(storeDocs(s"$tmp/state"))
    val oneShot = TextAnalysis.trainingDataBuild(docs)
    assert(asRows(release) === asRows(oneShot),
      "incremental release must equal the one-shot n99 build")
    assert(release.count() > 0, "fixture must produce a non-empty build")
  }

  test("safeSplits release equals batch-mode trainingDataBuildSafe " +
    "(n142) over the same survivor store, and stamps the mode") {
    val tmp = Files.createTempDirectory("graft_incbuild_safe").toString
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    IncrementalBuild.ingestBatch(docs, 0L, s"$tmp/state", maxDist = 0)
    val release =
      TextAnalysis.trainingDataBuildSafe(storeDocs(s"$tmp/state"))
    val oneShot = TextAnalysis.trainingDataBuildSafe(docs)
    assert(asRows(release) === asRows(oneShot),
      "safe release must equal the one-shot n142 build")
    assert(release.count() > 0)
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
    val surv = storeDocs(s"$tmp/state")
    val survIds = surv.select("doc_id").as[Long].collect().toSet
    assert(survIds.contains(100L) && !survIds.contains(200L),
      "the cross-batch near-dup must fall to the published index")
    // the release is exactly n99 over what survived — the no-drift
    // contract between ingest screening and the build machinery
    val release = TextAnalysis.trainingDataBuild(surv)
    assert(asRows(release) ===
      asRows(TextAnalysis.trainingDataBuild(
        docs.filter(col("doc_id") =!= 200L))))
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
    val before = asRows(storeDocs(s"$tmp/state"))
    val r1 = asRows(TextAnalysis.trainingDataBuild(storeDocs(s"$tmp/state")))
    // replay batch 1 (the crash-recovery path)
    IncrementalBuild.ingestBatch(b1, 1L, s"$tmp/state")
    assert(asRows(storeDocs(s"$tmp/state")) === before)
    assert(asRows(TextAnalysis.trainingDataBuild(storeDocs(s"$tmp/state")))
      === r1)
  }
}
