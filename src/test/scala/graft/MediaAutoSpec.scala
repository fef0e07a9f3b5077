package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.Multimodal

/** The measured media collapse autos (m14 family): both fronts of the
  * member-level pair relation bit-equal per modality and dup regime,
  * and the branch choice pinned per regime.
  */
class MediaAutoSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // a synthetic LOW-duplication signature frame: distinct far-apart
  // signatures plus two planted near pairs — the plain-front regime
  private def distinctSigs = {
    import spark.implicits._
    val base = Seq(
      0x0000000000000000L, 0xFFFFFFFFFFFFFFFFL, 0x00000000FFFFFFFFL,
      0xFFFFFFFF00000000L, 0x0F0F0F0F0F0F0F0FL, 0xF0F0F0F0F0F0F0F0L,
      0x3333333333333333L, 0xCCCCCCCCCCCCCCCCL)
    (base.zipWithIndex.map { case (h, i) => (i.toLong, h) } :+
      ((100L, base(0) ^ 0x3L)) :+ // hamming 2 from id 0
      ((101L, base(4) ^ 0x11L))) // hamming 2 from id 4
      .toDF("media_id", "sig")
  }

  test("mediaSignaturePairs: expanded-collapsed ≡ plain, bit for bit, " +
    "on the dup-heavy image AND audio corpora and on a low-duplication " +
    "synthetic frame") {
    val ph = Multimodal.imagePhash(Multimodal.mediaWithEditedImages(
      spark, dir))
    assert(rows(Multimodal.mediaSignaturePairsExpanded(ph, "phash")) ===
      rows(Multimodal.mediaSignaturePairsPlain(ph, "phash")))
    val ah = Multimodal.audioHash(Multimodal.audioWithEditedClips(
      spark, dir))
    assert(rows(Multimodal.mediaSignaturePairsExpanded(ah, "ahash")) ===
      rows(Multimodal.mediaSignaturePairsPlain(ah, "ahash")))
    val d = distinctSigs
    val plain = rows(Multimodal.mediaSignaturePairsPlain(d, "sig"))
    assert(rows(Multimodal.mediaSignaturePairsExpanded(d, "sig")) === plain)
    assert(plain.nonEmpty, "the planted near pairs must appear")
  }

  test("auto ≡ both fronts; branch choice pinned per regime (the " +
    "collapse's collect_list groups appear in the expanded plan only); " +
    "the dup-heavy corpus measures past the switch, the distinct frame " +
    "below it") {
    val ph = Multimodal.imagePhash(Multimodal.mediaWithEditedImages(
      spark, dir))
    // the corpus regime: identical-hash groups everywhere (the periodic
    // formula) — the probe must land ≥ 2 and pick the collapse
    val inflImg = Dedup.groupInflation(
      ph.filter(col("phash").isNotNull), col("phash"))
    assert(inflImg >= 2.0, s"expected dup-heavy image corpus, got $inflImg")
    val auto = Multimodal.mediaNearDupPairsAuto(ph, "phash")
    assert(auto.queryExecution.optimizedPlan.toString.contains(
      "collect_list"), "auto must pick the collapsed front here")
    assert(rows(auto) ===
      rows(Multimodal.mediaSignaturePairsPlain(ph, "phash")))
    // the distinct regime: inflation 1.0 — plain front, no collapse
    val d = distinctSigs
    assert(Dedup.groupInflation(d, col("sig")) === 1.0)
    val autoD = Multimodal.mediaNearDupPairsAuto(d, "sig")
    assert(!autoD.queryExecution.optimizedPlan.toString.contains(
      "collect_list"), "auto must pick the plain front here")
    assert(rows(autoD) === rows(Multimodal.mediaSignaturePairsPlain(
      d, "sig")))
  }
}
