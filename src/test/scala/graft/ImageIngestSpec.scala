package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{Multimodal, Sinks}
import graft.streaming.ImageIngest

/** The streaming image-dedup ingest: cross-batch screening against the
  * signature index with brute-force expectations, the pass-through
  * policy (non-image rows and undecodable images are never lost),
  * deterministic replay across the publish-then-crash torn order, and
  * the foreachBatch wiring.
  */
class ImageIngestSpec extends SparkSpec {

  private def editedPng(id: Long): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.pngBytes(id)))
    val p = img.getRGB(0, 0)
    val red = (p >> 16) & 0xff
    img.setRGB(0, 0,
      ((if (red == 255) red - 1 else red + 1) << 16) | (p & 0x00ffff))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def media(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
      Multimodal.mediaSchema)

  private def img(id: Long, payload: Array[Byte]) =
    Row(id, "image", payload, Row(4, 4, null))

  // batch 0: two originals; batch 1: an edited twin of id 3 (near-dup,
  // must screen out), a fresh image, an audio pass-through, and a
  // corrupt image (undecodable → pass-through)
  private val b0 = Seq(img(3L, Multimodal.pngBytes(3L)),
    img(6L, Multimodal.pngBytes(6L)))
  private val b1 = Seq(img(103L, editedPng(3L)),
    img(200L, Multimodal.pngBytes(200L)),
    Row(300L, "audio", Multimodal.wavBytes(300L), Row(null, null, 8000)),
    img(400L, Array.fill[Byte](16)(7)))

  private def sinkIds(out: String): Map[Long, Set[Long]] =
    spark.read.parquet(out)
      // the partition column type-infers as int on read-back
      .select(col("batch_id").cast("long"), col("media_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("cross-batch screening matches brute force; audio and corrupt " +
    "images pass through; the fixture exercises a screened twin") {
    val tmp = Files.createTempDirectory("graft_imgingest").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    assert(ImageIngest.ingestBatch(media(b0: _*), 0L, table, out) === 2L)
    ImageIngest.ingestBatch(media(b1: _*), 1L, table, out)
    // brute-force expectation over the decoded hashes: batch-1 images
    // survive iff no indexed (or earlier-in-batch) hash within 4
    def hashOf(p: Array[Byte]) = Multimodal.dHash(javax.imageio.ImageIO
      .read(new java.io.ByteArrayInputStream(p)))
    val idx = Seq(3L -> hashOf(Multimodal.pngBytes(3L)),
      6L -> hashOf(Multimodal.pngBytes(6L)))
    val batchImgs = Seq(103L -> hashOf(editedPng(3L)),
      200L -> hashOf(Multimodal.pngBytes(200L)))
    val earlier = scala.collection.mutable.ListBuffer(idx: _*)
    val expectKept = batchImgs.filter { case (_, h) =>
      val near = earlier.exists(o => java.lang.Long.bitCount(o._2 ^ h) <= 4)
      earlier += ((0L, h))
      !near
    }.map(_._1).toSet
    // the planted twin must actually be screened for the fixture to
    // mean anything
    assert(!expectKept.contains(103L), "the edited twin must screen out")
    val got = sinkIds(out)
    assert(got(0L) === Set(3L, 6L))
    assert(got(1L) === expectKept ++ Set(300L, 400L),
      "survivors + audio pass-through + corrupt-image pass-through")
    // only decodable SCREENED survivors enter the index — never the
    // pass-throughs
    val idxIds = Sinks.Versioned.read(spark, table)
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(idxIds === Set(3L, 6L) ++ expectKept)
  }

  test("row policy edges: a NULL-kind row passes through (never lost), " +
    "and a non-image row sharing a media_id with an undecodable image " +
    "is emitted exactly once") {
    val tmp = Files.createTempDirectory("graft_imgingest_pol").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    val rows = Seq(
      img(1L, Multimodal.pngBytes(1L)),
      Row(7L, null, Multimodal.wavBytes(7L), Row(null, null, 8000)),
      // id 42 twice: an audio row AND a corrupt image — both must
      // survive, each exactly once
      Row(42L, "audio", Multimodal.wavBytes(42L), Row(null, null, 8000)),
      img(42L, Array.fill[Byte](16)(7)))
    val n = ImageIngest.ingestBatch(media(rows: _*), 0L, table, out)
    assert(n === 4L, "all four rows must be emitted")
    val got = spark.read.parquet(out)
      .select(col("media_id"), col("kind")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got === Map(
      (1L, Some("image")) -> 1, (7L, None) -> 1,
      (42L, Some("audio")) -> 1, (42L, Some("image")) -> 1))
  }

  test("replay idempotence incl. the publish-then-crash torn order") {
    val tmp = Files.createTempDirectory("graft_imgingest_rp").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    ImageIngest.ingestBatch(media(b0: _*), 0L, table, out)
    assert(ImageIngest.ingestBatch(media(b1: _*), 1L, table, out) >= 2L)
    val before = sinkIds(out)
    val versionsBefore = Sinks.Versioned.versions(spark, table)
    val idxBefore = Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq
    // crash after publish, before sink write: lose the partition
    val part = new java.io.File(out, "batch_id=1")
    part.listFiles().foreach(_.delete()); part.delete()
    assert(!sinkIds(out).contains(1L))
    ImageIngest.ingestBatch(media(b1: _*), 1L, table, out)
    assert(sinkIds(out) === before)
    assert(Sinks.Versioned.versions(spark, table) === versionsBefore)
    assert(Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq === idxBefore)
  }
}
