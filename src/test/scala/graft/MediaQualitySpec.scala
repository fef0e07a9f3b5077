package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.Multimodal

/** Media quality audit (m15) and media decontamination (m16/m17):
  * planted degenerate media trip exactly their flags, the audit plans
  * with no exchange (pure map-side column work over the decode pass),
  * and the decontamination
  * kept-sets equal brute force at both signature granularities.
  */
class MediaQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def png(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def media(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      Multimodal.mediaSchema)

  private val degenerates = Seq(
    // pass: a real synthetic image (4x4 = 16 px, varied channels)
    Row(1L, "image", Multimodal.pngBytes(0L), Row(4, 4, null)),
    // flat: constant mid-gray 8x8
    Row(2L, "image", png(8, 8)((_, _) => 0x808080), Row(8, 8, null)),
    // tiny: 2x2 black/white checker (contrast 255 — only the size flag)
    Row(3L, "image", png(2, 2)((x, y) =>
      if ((x + y) % 2 == 0) 0xFFFFFF else 0), Row(2, 2, null)),
    // silent: 512 zero samples
    Row(4L, "audio", Multimodal.pcmToWav(new Array[Short](512),
      Multimodal.WavRate), Row(null, null, Multimodal.WavRate)),
    // clipped: rails at +/-32767
    Row(5L, "audio", Multimodal.pcmToWav(Array.tabulate[Short](512)(i =>
      if (i % 2 == 0) 32767 else -32768), Multimodal.WavRate),
      Row(null, null, Multimodal.WavRate)),
    // short_clip: 32 honest samples
    Row(6L, "audio", Multimodal.pcmToWav(Array.fill[Short](32)(1000),
      Multimodal.WavRate), Row(null, null, Multimodal.WavRate)),
    // pass: the planted ladder clip (long, loud, unclipped)
    Row(7L, "audio", Multimodal.pcmToWav(
      Multimodal.ladderPcm(Multimodal.AudioSurvivorBits),
      Multimodal.WavRate), Row(null, null, Multimodal.WavRate)),
    // static: two identical frames
    Row(8L, "video", Multimodal.packGfv(Seq(
      Multimodal.gradientPng(0x0F0F0F0F0F0F0F0FL),
      Multimodal.gradientPng(0x0F0F0F0F0F0F0F0FL))), Row(9, 8, null)),
    // few_frames (and trivially static: first = last frame)
    Row(9L, "video", Multimodal.packGfv(Seq(
      Multimodal.gradientPng(0x3333333333333333L))), Row(9, 8, null)),
    // pass: two frames with real motion
    Row(10L, "video", Multimodal.gfvBytes(5L), Row(4, 4, null)),
    // undecodable / empty / unknown kinds
    Row(11L, "image", Array.fill[Byte](16)(7), Row(4, 4, null)),
    Row(12L, "audio", null, Row(null, null, Multimodal.WavRate)),
    Row(13L, "pdf", Array.fill[Byte](8)(1), null),
    Row(14L, null, Multimodal.pngBytes(3L), null))

  test("mediaQualityAudit: planted degenerates trip exactly their " +
    "flags; healthy rows of every kind pass") {
    val audit = Multimodal.mediaQualityAudit(media(degenerates))
    val got = audit.collect().map(r => r.getLong(0) ->
      (r.getSeq[String](2).toSet, r.getBoolean(3))).toMap
    val want = Map[Long, Set[String]](
      1L -> Set(), 2L -> Set("flat"), 3L -> Set("tiny"),
      4L -> Set("silent"), 5L -> Set("clipped"), 6L -> Set("short_clip"),
      7L -> Set(), 8L -> Set("static"),
      9L -> Set("few_frames", "static"), 10L -> Set(),
      11L -> Set("undecodable"), 12L -> Set("empty"),
      13L -> Set("unknown_kind"), 14L -> Set("unknown_kind"))
    want.foreach { case (id, flags) =>
      assert(got(id)._1 === flags, s"media_id $id")
      assert(got(id)._2 === flags.isEmpty, s"pass for media_id $id")
    }
  }

  test("the audit is map-side pure: no exchange anywhere in its plan " +
    "(zero extra codec work — it reads the m1 decode pass's features)") {
    val p = Multimodal.mediaQualityAudit(media(degenerates))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"audit must not shuffle:\n$p")
  }

  test("imageDecontaminate: kept set equals brute force on the real " +
    "sf0.001 planted corpus against the mod-97 test sample") {
    val ph = Multimodal.imagePhash(
      Multimodal.mediaWithEditedImages(spark, dir))
      .filter(col("phash").isNotNull)
    val sig = ph.collect().map(r => (r.getLong(0), r.getLong(1)))
    val test = sig.filter(s =>
      s._1 < Multimodal.EditIdOffset && s._1 % 97 == 0)
    assert(test.nonEmpty, "the fixture must yield a test sample")
    val want = sig.filter { case (_, h) =>
      test.forall(t => java.lang.Long.bitCount(t._2 ^ h) > 4)
    }.toSet
    assert(want.nonEmpty && want.size < sig.length,
      "both outcomes must be exercised")
    import spark.implicits._
    val got = Multimodal.imageDecontaminate(ph,
      test.toSeq.toDF("media_id", "phash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("videoDecontaminate: a clip drops iff ANY frame nears any test " +
    "frame — hand fixture plus the real sf0.001 corpus vs brute force") {
    val P = Seq(0x0000000000000000L, 0xFFFFFFFFFFFFFFFFL,
      0x00000000FFFFFFFFL, 0x0F0F0F0F0F0F0F0FL)
    def clip(bits: Long*) =
      Multimodal.packGfv(bits.map(Multimodal.gradientPng))
    val corpus = media(Seq(
      Row(1L, "video", clip(P(0), P(1)), Row(9, 8, null)),
      Row(2L, "video", clip(P(0) ^ 0x3L, P(2)), Row(9, 8, null)),
      Row(3L, "video", clip(P(3)), Row(9, 8, null))))
    val test = media(Seq(Row(100L, "video", clip(P(0), P(1)),
      Row(9, 8, null))))
    val kept = Multimodal.videoDecontaminate(
      Multimodal.videoFrameHashes(corpus),
      Multimodal.videoFrameHashes(test))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // clip 1 = the test clip (hamming 0); clip 2's frame 0 is 2 bits
    // from the test's frame 0; clip 3 is >= 6 bits from everything
    assert(kept === List((3L, 1L)))

    // the real corpus: brute force at clip level
    val fh = Multimodal.videoFrameHashes(
      Multimodal.mediaWithEditedVideos(spark, dir))
      .filter(col("fhash").isNotNull)
    val rows = fh.collect().map(r => (r.getLong(0), r.getLong(2)))
    val byClip = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val testFrames = byClip.filter { case (id, _) =>
      id < Multimodal.VideoEditIdOffset && id % 97 == 0
    }.values.flatten.toSeq
    assert(testFrames.nonEmpty)
    val want = byClip.collect { case (id, fs)
      if fs.forall(f => testFrames.forall(t =>
        java.lang.Long.bitCount(t ^ f) > 4)) => id -> fs.length.toLong
    }.toMap
    val got = Multimodal.videoDecontaminate(fh,
      fh.filter(col("media_id") < Multimodal.VideoEditIdOffset &&
        pmod(col("media_id"), lit(97)) === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
    assert(got.nonEmpty && got.size < byClip.size,
      "both outcomes must be exercised on the real corpus")
  }
}
