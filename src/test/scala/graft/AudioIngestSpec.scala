package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{Multimodal, Sinks}
import graft.streaming.AudioIngest

/** The streaming audio-dedup ingest: cross-batch screening against the
  * fingerprint index with brute-force expectations, the pass-through
  * policy (non-audio rows and undecodable clips are never lost),
  * deterministic replay across the publish-then-crash torn order, and
  * the foreachBatch wiring — the ImageIngest proofs on the audio
  * modality through the shared MediaDedupIngest policy.
  */
class AudioIngestSpec extends SparkSpec {

  // own synthesis (the m7 two-tone shape): full control over the PCM,
  // so the brute-force expectation can hash the raw samples while the
  // ingest decodes the real WAV round trip
  private def samples(id: Long): Array[Short] = {
    val f1 = 2 + (id % 5).toInt
    val f2 = 7 + (id % 11).toInt
    Array.tabulate(4096)(i =>
      (StrictMath.sin(2 * StrictMath.PI * f1 * i / 128.0) * 9000 +
        StrictMath.sin(2 * StrictMath.PI * f2 * i / 128.0) * 4000).toShort)
  }

  private def wav(id: Long): Array[Byte] =
    Multimodal.pcmToWav(samples(id), 8000)

  // the m7 requantized-twin transform: 6 of 16 bits dropped — energies
  // scale near-uniformly, delta signs survive except at near-ties
  private def quantTwin(id: Long): Array[Byte] =
    Multimodal.pcmToWav(samples(id).map(v =>
      ((v / Multimodal.AudioQuantStep) * Multimodal.AudioQuantStep)
        .toShort), 8000)

  private def media(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
      Multimodal.mediaSchema)

  private def aud(id: Long, payload: Array[Byte]) =
    Row(id, "audio", payload, Row(null, null, 8000))

  // batch 0: two originals; batch 1: a requantized twin of id 3 (near
  // dup, must screen out), a fresh clip, an image pass-through, and a
  // corrupt clip (undecodable → pass-through)
  private val b0 = Seq(aud(3L, wav(3L)), aud(6L, wav(6L)))
  private val b1 = Seq(aud(103L, quantTwin(3L)),
    aud(200L, wav(200L)),
    Row(300L, "image", Multimodal.pngBytes(300L), Row(4, 4, null)),
    aud(400L, Array.fill[Byte](16)(7)))

  private def sinkIds(out: String): Map[Long, Set[Long]] =
    spark.read.parquet(out)
      .select(col("batch_id").cast("long"), col("media_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("cross-batch screening matches brute force; image and corrupt " +
    "clips pass through; the planted requantized twin is screened") {
    val tmp = Files.createTempDirectory("graft_audingest").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    assert(AudioIngest.ingestBatch(media(b0: _*), 0L, table, out) === 2L)
    AudioIngest.ingestBatch(media(b1: _*), 1L, table, out)
    // brute force over the fingerprints of the RAW samples (the WAV
    // round trip is lossless 16-bit PCM, pinned by the m7 spec)
    def h(s: Array[Short]) = Multimodal.audioHash64(s)
    val idx = Seq(3L -> h(samples(3L)), 6L -> h(samples(6L)))
    val quantSamples = samples(3L).map(v =>
      ((v / Multimodal.AudioQuantStep) * Multimodal.AudioQuantStep)
        .toShort)
    val batchAud = Seq(103L -> h(quantSamples), 200L -> h(samples(200L)))
    val earlier = scala.collection.mutable.ListBuffer(idx: _*)
    val expectKept = batchAud.filter { case (_, hb) =>
      val near = earlier.exists(o =>
        java.lang.Long.bitCount(o._2 ^ hb) <= 4)
      earlier += ((0L, hb))
      !near
    }.map(_._1).toSet
    // the fixture must actually exercise both outcomes
    assert(!expectKept.contains(103L), "the requantized twin must screen")
    assert(expectKept.contains(200L), "the fresh clip must survive")
    val got = sinkIds(out)
    assert(got(0L) === Set(3L, 6L))
    assert(got(1L) === expectKept ++ Set(300L, 400L),
      "survivors + image pass-through + corrupt-clip pass-through")
    // only screened survivors enter the index — never pass-throughs
    val idxIds = Sinks.Versioned.read(spark, table)
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(idxIds === Set(3L, 6L) ++ expectKept)
  }

  test("replay idempotence incl. the publish-then-crash torn order") {
    val tmp = Files.createTempDirectory("graft_audingest_rp").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    AudioIngest.ingestBatch(media(b0: _*), 0L, table, out)
    assert(AudioIngest.ingestBatch(media(b1: _*), 1L, table, out) >= 2L)
    val before = sinkIds(out)
    val versionsBefore = Sinks.Versioned.versions(spark, table)
    val idxBefore = Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq
    // crash after publish, before sink write: lose the partition
    val part = new java.io.File(out, "batch_id=1")
    part.listFiles().foreach(_.delete()); part.delete()
    assert(!sinkIds(out).contains(1L))
    AudioIngest.ingestBatch(media(b1: _*), 1L, table, out)
    assert(sinkIds(out) === before)
    assert(Sinks.Versioned.versions(spark, table) === versionsBefore)
    assert(Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq === idxBefore)
  }
}
