package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{Multimodal, Sinks}
import graft.streaming.VideoIngest

/** The streaming video-dedup ingest: CLIP-level cross-batch screening
  * against the per-frame index with brute-force expectations (a clip
  * drops iff ANY frame nears an indexed or earlier-in-batch clip's
  * frame), the multi-signature pass-through policy (a clip passes
  * through iff NO frame hashed; a partially-decodable clip is screened
  * on the frames it has), deterministic replay across the
  * publish-then-crash torn order, and the foreachBatch wiring.
  *
  * Fixture note: the synthetic `pngBytes` image space is too
  * self-similar under dHash for a distance fixture (most ids land
  * within hamming 4 of each other — probed), so clips here are built
  * from 9×8 GRADIENT frames whose dHash equals a chosen 64-bit pattern
  * EXACTLY (identity nearest-neighbor resample; column 0 is gray 128,
  * each step right ±10 per pattern bit). Base patterns are pairwise
  * hamming 32; the planted twin flips 2 bits of one frame and shares
  * the other frame verbatim.
  */
class VideoIngestSpec extends SparkSpec {

  /** PNG of a 9×8 gray gradient image with dHash == bits exactly —
    * promoted to main code in round 14 (the planted registry
    * survivors use it); this alias keeps the fixture wording local.
    */
  private def patternPng(bits: Long): Array[Byte] =
    Multimodal.gradientPng(bits)

  // pairwise hamming 32 across all seven base patterns
  private val P = Seq(0x0000000000000000L, 0xFFFFFFFFFFFFFFFFL,
    0x00000000FFFFFFFFL, 0xFFFFFFFF00000000L, 0x0F0F0F0F0F0F0F0FL,
    0xF0F0F0F0F0F0F0F0L, 0x3333333333333333L)
  private val twinBits = P(0) ^ 0x3L // hamming 2 from P(0), ≥ 30 from rest

  private def clip(patterns: Long*): Array[Byte] =
    Multimodal.packGfv(patterns.map(patternPng))

  private def media(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
      Multimodal.mediaSchema)

  private def vid(id: Long, payload: Array[Byte]) =
    Row(id, "video", payload, Row(9, 8, null))

  // batch 0: two originals; batch 1: a 2-bit-edited twin of clip 3
  // (also shares frame 1 verbatim → must screen), a fresh clip, an
  // image pass-through, a corrupt CONTAINER (no frame hashes →
  // pass-through), and a partial clip (frame 0 undecodable, frame 1
  // healthy and far → screened on its one frame, survives)
  private val b0 = Seq(vid(3L, clip(P(0), P(1))), vid(6L, clip(P(2), P(3))))
  private val b1 = Seq(
    vid(103L, clip(twinBits, P(1))),
    vid(200L, clip(P(4), P(5))),
    Row(300L, "image", Multimodal.pngBytes(300L), Row(4, 4, null)),
    vid(400L, Array.fill[Byte](16)(9)),
    vid(500L, Multimodal.packGfv(
      Seq(Array.fill[Byte](16)(7), patternPng(P(6))))))

  private def sinkIds(out: String): Map[Long, Set[Long]] =
    spark.read.parquet(out)
      .select(col("batch_id").cast("long"), col("media_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("clip-level cross-batch screening matches brute force; image " +
    "and corrupt-container clips pass through; a partial clip is " +
    "screened on its healthy frame; the planted twin is screened") {
    val tmp = Files.createTempDirectory("graft_vidingest").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    assert(VideoIngest.ingestBatch(media(b0: _*), 0L, table, out) === 2L)
    VideoIngest.ingestBatch(media(b1: _*), 1L, table, out)
    // brute force over the known frame patterns, clip order = media_id;
    // clip 400 contributes no frames (corrupt container)
    val idxFrames = Seq(P(0), P(1), P(2), P(3))
    val batchClips = Seq(103L -> Seq(twinBits, P(1)),
      200L -> Seq(P(4), P(5)), 500L -> Seq(P(6)))
    val near = (a: Seq[Long], b: Seq[Long]) =>
      a.exists(x => b.exists(y => java.lang.Long.bitCount(x ^ y) <= 4))
    val earlier = scala.collection.mutable.ListBuffer(idxFrames)
    val expectKept = batchClips.filter { case (_, fh) =>
      val hit = earlier.exists(e => near(fh, e))
      earlier += fh
      !hit
    }.map(_._1).toSet
    // the fixture must exercise every policy arm
    assert(!expectKept.contains(103L), "the edited twin must screen")
    assert(expectKept === Set(200L, 500L))
    val got = sinkIds(out)
    assert(got(0L) === Set(3L, 6L))
    assert(got(1L) === expectKept ++ Set(300L, 400L),
      "survivors + image pass-through + corrupt-container pass-through")
    // the index stamps per-frame rows of SURVIVING clips only — the
    // partial clip contributes exactly its one healthy frame (idx 1)
    val idxRows = Sinks.Versioned.read(spark, table)
      .select(col("media_id"), col("frame_idx"), col("fhash")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idxRows === Set(
      (3L, 0, P(0)), (3L, 1, P(1)), (6L, 0, P(2)), (6L, 1, P(3)),
      (200L, 0, P(4)), (200L, 1, P(5)), (500L, 1, P(6))))
  }

  test("frameK outside [1, 64] fails at configuration time, before " +
    "any decode work") {
    val tmp = Files.createTempDirectory("graft_vidingest_fk").toString
    val e = intercept[IllegalArgumentException](
      VideoIngest.ingestBatch(media(b0: _*), 0L, s"$tmp/index",
        s"$tmp/out", frameK = 65))
    assert(e.getMessage.contains("frameK must be in [1, 64]"))
  }

  test("replay idempotence incl. the publish-then-crash torn order") {
    val tmp = Files.createTempDirectory("graft_vidingest_rp").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    VideoIngest.ingestBatch(media(b0: _*), 0L, table, out)
    assert(VideoIngest.ingestBatch(media(b1: _*), 1L, table, out) >= 2L)
    val before = sinkIds(out)
    val versionsBefore = Sinks.Versioned.versions(spark, table)
    val idxBefore = Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq
    // crash after publish, before sink write: lose the partition
    val part = new java.io.File(out, "batch_id=1")
    part.listFiles().foreach(_.delete()); part.delete()
    assert(!sinkIds(out).contains(1L))
    VideoIngest.ingestBatch(media(b1: _*), 1L, table, out)
    assert(sinkIds(out) === before)
    assert(Sinks.Versioned.versions(spark, table) === versionsBefore)
    assert(Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq === idxBefore)
  }
}
