package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{Multimodal, Sinks}
import graft.streaming.MixedBuild

/** The mixed text+media one-call build: a release over id-ordered
  * batches equals the release over the same corpus as ONE batch (batch
  * composition — each kind's incremental screening composes exactly),
  * cross-batch dedup provably fires per modality, undecodable and
  * unknown-kind rows are never lost, and the per-kind counts reconcile
  * three ways: release frame ↔ manifest meta ↔ the m13 dataset-card
  * stamp.
  */
class MixedBuildSpec extends SparkSpec {

  private def textRow(id: Long, text: String, source: String) =
    Row(id, "text", source, text, null, null)

  private def imgRow(id: Long, bits: Long) =
    Row(id, "image", "img_src", null, Multimodal.gradientPng(bits),
      Row(9, 8, null))

  private def audRow(id: Long, bits: Long) =
    Row(id, "audio", "aud_src", null,
      Multimodal.pcmToWav(Multimodal.ladderPcm(bits), Multimodal.WavRate),
      Row(null, null, Multimodal.WavRate))

  private def vidRow(id: Long, bits: Long*) =
    Row(id, "video", "vid_src", null,
      Multimodal.packGfv(bits.map(Multimodal.gradientPng)),
      Row(9, 8, null))

  // far-apart signature patterns (pairwise hamming ≥ 6 — the
  // VideoIngestSpec family) and a second bounded-excursion audio
  // pattern 6 bits off the pinned survivor pattern
  private val P = Seq(0x0000000000000000L, 0xFFFFFFFFFFFFFFFFL,
    0x00000000FFFFFFFFL, 0xFFFFFFFF00000000L, 0x0F0F0F0F0F0F0F0FL)
  private val A1 = Multimodal.AudioSurvivorBits
  private val A2 = A1 ^ 0x3FL

  // id-ordered mixed corpus. Cross-batch dedup plants: 20x are copies
  // of batch-0 rows (must screen against the published indexes); 2012
  // is a 2-bit image edit of 102's pattern (near-dup, must screen).
  private val b0 = Seq(
    textRow(1L, "the quick brown fox jumps over the lazy dog", "s1"),
    textRow(2L, "pack my box with five dozen liquor jugs", "s1"),
    imgRow(101L, P(0)), imgRow(102L, P(1)),
    audRow(111L, A1),
    vidRow(121L, P(0), P(1)), vidRow(122L, P(2), P(3)))
  private val b1 = Seq(
    textRow(2001L, "the quick brown fox jumps over the lazy dog", "s2"),
    textRow(2002L, "sphinx of black quartz judge my vow", "s2"),
    imgRow(2011L, P(0)), // exact copy of 101's signature → drops
    imgRow(2012L, P(1) ^ 0x3L), // 2 bits from 102 → drops
    imgRow(2013L, P(4)), // fresh → survives
    audRow(2021L, A1), // copy of 111's fingerprint → drops
    audRow(2022L, A2), // fresh → survives
    vidRow(2031L, P(0), P(1)), // re-post of 121 → drops
    vidRow(2032L, P(4))) // fresh → survives
  private val b2 = Seq(
    Row(3001L, "image", "img_src", null, Array.fill[Byte](16)(7),
      Row(4, 4, null)), // corrupt image → passes through
    Row(3002L, null, "mystery", null, null, null), // NULL kind → other
    Row(3003L, "pdf", "docs", null, Array.fill[Byte](8)(1),
      null)) // unknown kind → other

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      MixedBuild.mixedSchema)

  /** The m13 dataset card over everything the build ships: the three
    * survivor stores unioned with the pass-through store, so the card's
    * `other` bucket is the never-lost rows.
    */
  private def releaseCard(base: String): DataFrame = {
    val other = spark.read
      .schema(MixedBuild.mixedSchema.add("batch_id", "long"))
      .parquet(MixedBuild.otherOut(base))
      .select(col("doc_id").as("media_id"), col("kind"), col("payload"),
        col("meta"))
    MediaCard.of(Multimodal.MediaKinds
      .map(k => MixedBuild.mediaSurvivors(spark, base, k)
        .select(col("media_id"), col("kind"), col("payload"), col("meta")))
      .reduce(_ unionByName _)
      .unionByName(other))
  }

  private def releaseRows(rel: DataFrame): Seq[String] =
    rel.select(col("doc_id"), col("kind"), col("source"), col("shard"),
      col("pos"), col("n_tokens"), col("n_removed"), col("text_clean"),
      col("n_bytes"), md5(col("payload")).as("payload_md5"))
      .collect().map(_.toString).sorted.toSeq

  test("release over id-ordered batches ≡ release over ONE batch; " +
    "cross-batch dedup fires per modality; corrupt and unknown rows " +
    "are never lost; per-kind counts reconcile release ↔ manifest ↔ " +
    "card") {
    val tmpA = Files.createTempDirectory("graft_mixed_a").toString
    val tmpB = Files.createTempDirectory("graft_mixed_b").toString
    // A: three id-ordered batches
    MixedBuild.ingestBatch(df(b0), 0L, s"$tmpA/store")
    MixedBuild.ingestBatch(df(b1), 1L, s"$tmpA/store")
    MixedBuild.ingestBatch(df(b2), 2L, s"$tmpA/store")
    val relA = MixedBuild.publishRelease(spark, s"$tmpA/store",
      s"$tmpA/release")
    // B: the same corpus as one batch
    MixedBuild.ingestBatch(df(b0 ++ b1 ++ b2), 0L, s"$tmpB/store")
    val relB = MixedBuild.publishRelease(spark, s"$tmpB/store",
      s"$tmpB/release")
    assert(releaseRows(relA) === releaseRows(relB),
      "batch composition must not change the release")

    // cross-batch dedup: the copies/near-dups are gone, survivors and
    // the corrupt pass-through are shipped
    val mediaIds = relA.filter(col("kind") =!= "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(mediaIds === Set(101L, 102L, 111L, 121L, 122L,
      2013L, 2022L, 2032L, 3001L))
    // text: the exact dup (2001, same text as 1) screens at ingest;
    // the release's text half equals the one-shot n99 build over
    // exactly the surviving docs (split/mix may legitimately drop more
    // — the comparison is against the machinery, not a hardcoded set)
    val textIds = relA.filter(col("kind") === "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(!textIds.contains(2001L), "the exact-dup text must screen")
    val survivorsDf = df(b0 ++ b1)
      .filter(col("kind") === "text" && col("doc_id") =!= 2001L)
      .select(col("doc_id"), col("text"), col("source"))
    val expectText = graft.ops.TextAnalysis.trainingDataBuild(survivorsDf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(textIds === expectText,
      "release text half ≡ one-shot n99 over the ingest survivors")

    // unknown-kind rows: not trainable, never lost — the other store
    // holds them and the card's `other` bucket accounts them
    val other = spark.read.parquet(MixedBuild.otherOut(s"$tmpA/store"))
    assert(other.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(3002L, 3003L))

    // three-way per-kind reconciliation
    val relCounts = relA.groupBy(col("kind")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val meta = Sinks.Versioned.meta(spark, s"$tmpA/release")
    relCounts.keys.foreach { k =>
      assert(meta(s"n_$k").toLong === relCounts(k),
        s"manifest count for $k must match the release frame")
    }
    assert(Seq("image", "audio", "video").forall(relCounts.contains),
      "every media kind must ship rows in this fixture")
    val card = releaseCard(s"$tmpA/store")
    val cardCounts = card.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("image", "audio", "video").foreach { k =>
      assert(cardCounts(k) === relCounts(k),
        s"card n_media for $k must match the released rows")
    }
    assert(cardCounts("other") === 2L,
      "the card's other bucket must cover the unknown-kind rows")
    // the card covers EVERY row the build touched beyond text
    assert(cardCounts.values.sum ===
      relCounts.filterNot(_._1 == "text").values.sum + 2L)

    // replay idempotence at the composition level: re-running a
    // published batch must not change any store
    val before = Multimodal.MediaKinds.map(k =>
      MixedBuild.mediaSurvivors(spark, s"$tmpA/store", k).count()).sum
    MixedBuild.ingestBatch(df(b1), 1L, s"$tmpA/store")
    val after = Multimodal.MediaKinds.map(k =>
      MixedBuild.mediaSurvivors(spark, s"$tmpA/store", k).count()).sum
    assert(after === before)
  }

  test("qualityGate = true: degenerate media land in the rejects store " +
    "with their flags BEFORE any dedup decision, healthy media flow " +
    "through screening unchanged, replay rewrites the rejects " +
    "partition bit-same, and the conservation equation holds " +
    "(released media + other + rejects = every non-text input row)") {
    val tmp = Files.createTempDirectory("graft_mixed_gate").toString
    val base = s"$tmp/store"
    // healthy media + one degenerate per modality + an unknown kind;
    // 5001 is a FLAT image whose id would otherwise dedup nothing
    val rows = Seq(
      textRow(1L, "the quick brown fox jumps over the lazy dog", "s1"),
      imgRow(101L, P(0)), imgRow(102L, P(4)),
      Row(5001L, "image", "img_src", null,
        Multimodal.constantPng(8, 8, 0x808080), Row(8, 8, null)),
      audRow(111L, A1),
      Row(5002L, "audio", "aud_src", null,
        Multimodal.pcmToWav(new Array[Short](512), Multimodal.WavRate),
        Row(null, null, Multimodal.WavRate)), // silent
      vidRow(121L, P(0), P(1)),
      Row(5003L, "video", "vid_src", null,
        Multimodal.packGfv(Seq(Multimodal.gradientPng(P(2)),
          Multimodal.gradientPng(P(2)))), Row(9, 8, null)), // static
      Row(5004L, "pdf", "docs", null, Array.fill[Byte](4)(1), null))
    // exact landed total pins the return-value accounting:
    // 1 text + 4 media survivors + 1 other + 3 rejects
    assert(MixedBuild.ingestBatch(df(rows), 0L, base,
      qualityGate = true) === 9L)
    val rej = MixedBuild.rejects(spark, base)
      .select(col("doc_id"), col("quality_flags")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(rej === Map(5001L -> Set("flat"), 5002L -> Set("silent"),
      5003L -> Set("static")))
    // rejected rows never reached the screening stores or indexes
    val releasedMedia = Multimodal.MediaKinds.flatMap(k =>
      MixedBuild.mediaSurvivors(spark, base, k).select(col("media_id"))
        .collect().map(_.getLong(0))).toSet
    assert(releasedMedia === Set(101L, 102L, 111L, 121L))
    // conservation: released + other + rejects = non-text input
    val other = spark.read.parquet(MixedBuild.otherOut(base))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(releasedMedia ++ other ++ rej.keySet ===
      rows.collect { case r if r.getString(1) != "text" => r.getLong(0) }
        .toSet)
    // replay: bit-same rejects partition, stores unchanged (payloads
    // compared through md5 — Row.toString prints array identity)
    def rejectRows() = MixedBuild.rejects(spark, base)
      .select(col("doc_id"), col("kind"), col("source"),
        md5(col("payload")).as("payload_md5"), col("quality_flags"))
      .collect().map(_.toString).sorted.toSeq
    val before = rejectRows()
    assert(MixedBuild.ingestBatch(df(rows), 0L, base,
      qualityGate = true) === 9L)
    assert(rejectRows() === before)
    assert(Multimodal.MediaKinds.flatMap(k =>
      MixedBuild.mediaSurvivors(spark, base, k).select(col("media_id"))
        .collect().map(_.getLong(0))).toSet === releasedMedia)
  }

  test("qualityGate = true gates TEXT symmetrically: a planted " +
    "degenerate doc lands in the rejects store under kind 'text' with " +
    "the n138 rule flags, never reaches the doc store or the release, " +
    "and the healthy docs release exactly as an ungated run of the " +
    "same survivors would") {
    val tmp = Files.createTempDirectory("graft_mixed_tgate").toString
    val base = s"$tmp/store"
    val rows = Seq(
      textRow(1L, "the quick brown fox jumps over the lazy dog", "s1"),
      // note: needs a Stopwords-list hit ('a', 'of', 'in', 'the') to
      // pass stopword_presence — the raw pangram has none
      textRow(2L, "pack a box of five dozen jugs in the bay", "s1"),
      // degenerate: 2 words (< 5) and zero stopwords — exactly two
      // deterministic rule flags
      textRow(3L, "aaa bbb", "s1"),
      imgRow(101L, P(0)))
    // 2 text survivors + 1 image + 1 reject
    assert(MixedBuild.ingestBatch(df(rows), 0L, base,
      qualityGate = true) === 4L)
    val rej = MixedBuild.rejects(spark, base)
      .select(col("doc_id"), col("kind"), col("quality_flags")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
    assert(rej.toSeq === Seq((3L, "text",
      Set("min_words", "stopword_presence"))))
    val rel = MixedBuild.publishRelease(spark, base, s"$tmp/release")
    val textIds = rel.filter(col("kind") === "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(!textIds.contains(3L), "the degenerate doc must not release")
    val expectText = graft.ops.TextAnalysis.trainingDataBuild(
      df(rows.take(2)).select(col("doc_id"), col("text"), col("source")))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(textIds === expectText,
      "release text half ≡ one-shot n99 over the gate survivors")
    // text conservation at the INGEST boundary (the release's n99
    // split/mix stages may legitimately drop more): doc store
    // survivors + rejects = every input text doc
    val stored = spark.read.parquet(
      graft.streaming.IncrementalBuild.docStore(
        MixedBuild.textBase(base)))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(stored === Set(1L, 2L),
      "the gate survivors — and only they — reach the doc store")
    assert(stored + 3L === Set(1L, 2L, 3L))
  }

  test("releaseFrame plan: no RangePartitioning exchange carries the " +
    "payload column — the release clusters by HASH on (kind, shard) " +
    "and sorts within partitions; a " +
    "global orderBy would range-shuffle every payload byte through " +
    "sampled boundaries (the round-14 scale-killer)") {
    val tmp = Files.createTempDirectory("graft_mixed_plan").toString
    val base = s"$tmp/store"
    MixedBuild.ingestBatch(df(b0), 0L, base)
    val plan = MixedBuild.releaseFrame(spark, base)
      .queryExecution.executedPlan.toString
    // the payload rides the release union — ANY rangepartitioning
    // exchange in this plan would carry it (the text half is
    // payload-free and window/hash-shaped, so the strong form holds)
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"release plan must not range-shuffle payloads:\n$plan")
    assert(plan.toLowerCase.contains("exchange hashpartitioning"),
      "release must still cluster on (kind, shard) for the sorted-" +
        s"file layout:\n$plan")
  }

  test("a corpus missing whole kinds still releases: the component " +
    "ingests write empty-but-existing stores (a _SUCCESS-only parquet " +
    "dir), which must read as empty frames, not crash schema " +
    "inference — incl. the text-less corpus, whose n99 stages must " +
    "not run on an empty survivor store") {
    // images only: no text, no audio, no video, no unknown kinds —
    // the common real shape (one modality at a time)
    val tmp = Files.createTempDirectory("graft_mixed_partial").toString
    MixedBuild.ingestBatch(df(Seq(imgRow(1L, P(0)), imgRow(2L, P(4)))),
      0L, s"$tmp/store")
    val rel = MixedBuild.publishRelease(spark, s"$tmp/store",
      s"$tmp/release")
    val counts = rel.groupBy(col("kind")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("image" -> 2L))
    val card = releaseCard(s"$tmp/store")
    val cardCounts = card.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cardCounts === Map("image" -> 2L))
  }
}
