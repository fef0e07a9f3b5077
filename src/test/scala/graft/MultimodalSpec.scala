package graft

import org.apache.spark.sql.functions._
import graft.sources.Multimodal

/** Multimodal pipeline: schema, payload synthesis, mapPartitions decode
  * shape, and REAL codec round trips — decoded pixel/sample statistics
  * are checked against hand-computed values from the synthesis formulas
  * (PNG and 16-bit PCM round-trip losslessly, so decode must reproduce
  * them exactly).
  */
class MultimodalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("media table has the declared schema and real codec payloads") {
    val m = Multimodal.mediaFromEvents(spark, dir)
    assert(m.schema.fieldNames.toSeq ===
      Seq("media_id", "kind", "payload", "meta"))
    // sampled ids are multiples of 5; 0/10/5 cover image/audio/video
    val rows = m.filter(col("media_id").isin(0L, 10L, 5L)).collect()
      .map(r => r.getString(1) -> r.getAs[Array[Byte]]("payload")).toMap
    // image payload is a real PNG (8-byte signature)
    assert(rows("image").take(8).toSeq ===
      Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    // audio payload is a real RIFF/WAV
    assert(rows("audio").take(4).toSeq === "RIFF".getBytes("US-ASCII").toSeq)
    // video payload is the GFV1 frame container
    assert(rows("video").take(4).toSeq === Multimodal.GfvMagic.toSeq)
  }

  test("dHash: deterministic, survives a lossless PNG re-encode " +
    "round trip bit-identically, and differs across distinct images") {
    def decode(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    val ids = Seq(0L, 24L, 48L, 72L)
    val hashes = ids.map(id => Multimodal.dHash(decode(Multimodal.pngBytes(id))))
    // stable across invocations
    assert(ids.map(id => Multimodal.dHash(decode(Multimodal.pngBytes(id))))
      === hashes)
    // re-encode the decoded image (lossless) → identical hash
    val img = decode(Multimodal.pngBytes(24L))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.dHash(decode(bos.toByteArray)) === hashes(1))
    // distinct synthetic images hash apart (the formula varies per id)
    assert(hashes.distinct.length === hashes.length)
  }

  test("imagePhash: corrupt payload yields a null-hash row with the " +
    "contextual error and never kills the task; null payload is a " +
    "null-hash no-error row") {
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(1L, "image", Multimodal.pngBytes(1L), Row(4, 4, null)),
      Row(2L, "image", Array.fill[Byte](16)(7), Row(4, 4, null)),
      Row(3L, "image", null, Row(4, 4, null)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.imagePhash(media).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.getString(2))))
      .sortBy(_._1)
    assert(got.length === 3, "all rows must survive a corrupt neighbor")
    assert(got(0)._2.isDefined && got(0)._3.isEmpty)
    assert(got(1)._2.isEmpty && got(1)._3.exists(_.contains("image")))
    assert(got(2)._2.isEmpty && got(2)._3.isEmpty)
  }

  test("extractFeatures: a NULL-kind row survives the decode task " +
    "(zero feature via the wildcard arm, kind piped through as null) — " +
    "the r12 latent trap: featureSchema must admit the null it emits") {
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(1L, "image", Multimodal.pngBytes(1L), Row(4, 4, null)),
      Row(2L, null, Multimodal.pngBytes(2L), Row(4, 4, null)),
      Row(3L, null, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.extractFeatures(media).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getSeq[Float](3)), Option(r.getString(4))))
      .sortBy(_._1)
    assert(got.length === 3, "NULL-kind rows must not kill the task")
    assert(got(0)._2.contains("image") && got(0)._3.isDefined)
    // null kind, real payload: wildcard arm → zero feature, no error
    assert(got(1)._2.isEmpty && got(1)._4.isEmpty)
    assert(got(1)._3.exists(f => f.length == 8 && f.forall(_ == 0f)))
    // null kind AND null payload: the null-payload zero-feature path
    assert(got(2)._2.isEmpty && got(2)._4.isEmpty)
    assert(got(2)._3.exists(f => f.length == 8 && f.forall(_ == 0f)))
  }

  test("mediaSignaturePairsPlain over image hashes: EXACTLY the brute-force hamming <= 4 pairs " +
    "over the decoded corpus, and every planted one-pixel edit pairs " +
    "with its original") {
    val phash = Multimodal.imagePhash(
      Multimodal.mediaWithEditedImages(spark, dir))
    val sig = phash.filter(col("phash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sig.nonEmpty)
    val brute = (for {
      (a, ha) <- sig; (b, hb) <- sig if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 4
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    val got = Multimodal.mediaSignaturePairsPlain(phash, "phash", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute,
      "the permuted pigeonhole front must have exact recall at <= 4")
    // fixture self-check: at least one planted twin is within distance
    // (a one-pixel ±1 edit moves few 9×8 samples on the tiny images)
    val planted = sig.map(_._1).filter(_ >= Multimodal.EditIdOffset)
      .map(id => (id - Multimodal.EditIdOffset, id))
      .filter { case (o, _) => sig.toMap.contains(o) }
    val caught = planted.count { case (o, e) =>
      got.exists(p => p._1 == o && p._2 == e) }
    assert(planted.nonEmpty && caught > 0,
      s"no planted twin caught (of ${planted.length})")
  }

  test("imageNearDupPairsCollapsed: rep pairs equal brute-force " +
    "hamming over DISTINCT signatures with exact group counts; every " +
    "planted twin is group- or rep-connected to its original") {
    val phash = Multimodal.imagePhash(
      Multimodal.mediaWithEditedImages(spark, dir))
    val sig = phash.filter(col("phash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byHash = sig.groupBy(_._2).map { case (h, m) =>
      h -> (m.map(_._1).min, m.length) } // hash -> (rep, n)
    val distinct = byHash.toSeq.map { case (h, (rep, _)) => (rep, h) }
    val brute = (for {
      (ra, ha) <- distinct; (rb, hb) <- distinct if ra < rb
      if java.lang.Long.bitCount(ha ^ hb) <= 4
    } yield (ra, rb, byHash(ha)._2, byHash(hb)._2,
      java.lang.Long.bitCount(ha ^ hb))).toSet
    val got = Multimodal.mediaNearDupPairsCollapsed(phash, "phash", 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    assert(got === brute.map(t => (t._1, t._2, t._3.toLong, t._4.toLong,
      t._5)))
    // no rep pair at hamming 0 — identical hashes are the same group
    assert(got.forall(_._5 >= 1))
    // every planted twin: same hash group as its original, or the two
    // groups' reps pair within the distance
    val hashOf = sig.toMap
    val planted = sig.map(_._1).filter(_ >= Multimodal.EditIdOffset)
      .map(id => (id - Multimodal.EditIdOffset, id))
      .filter { case (o, _) => hashOf.contains(o) }
    assert(planted.nonEmpty)
    planted.foreach { case (o, e) =>
      val (ho, he) = (hashOf(o), hashOf(e))
      val connected = ho == he || {
        val (ra, rb) = (byHash(ho)._1, byHash(he)._1)
        val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        got.exists(p => p._1 == lo && p._2 == hi)
      }
      assert(connected, s"planted twin ($o, $e) neither grouped nor " +
        "rep-paired")
    }
  }

  test("imagePhashDedupFromIndex: survivors equal brute-force screening " +
    "(no indexed or earlier-in-batch neighbor within hamming 4); " +
    "planted twins of indexed originals are dropped") {
    val ph = Multimodal.imagePhash(
      Multimodal.mediaWithEditedImages(spark, dir))
    val sig = ph.filter(col("phash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val idx = sig.filter(_._1 < Multimodal.EditIdOffset)
    // plant one batch row whose hash is provably FAR (hamming > 4) from
    // every indexed and every batch hash, so the keep path is exercised
    // even when every edited twin lands near its original (the registry
    // corpus produced exactly that all-dropped regime at r12): search
    // deterministic candidates until one clears the distance bound.
    val allHashes = sig.map(_._2)
    val farHash = Iterator.iterate(0x5a5a5a5a5a5a5a5aL)(h =>
      h * 0x9e3779b97f4a7c15L + 1L)
      .find(h => allHashes.forall(o =>
        java.lang.Long.bitCount(o ^ h) > 4)).get
    // off the constructor's own planted survivor (ImageSurvivorId =
    // 4×offset, which now arrives in `sig` with its own far hash) — a
    // duplicate media_id would make the survivor ordering ambiguous
    val plantedId = Multimodal.EditIdOffset * 16
    val batch = (sig.filter(_._1 >= Multimodal.EditIdOffset) :+
      ((plantedId, farHash))).sortBy(_._1)
    import spark.implicits._
    val idxDf = idx.toSeq.toDF("media_id", "phash")
    val batchDf = batch.toSeq.toDF("media_id", "phash")
    val got = Multimodal.mediaSignatureDedupFromIndex(idxDf, batchDf,
        "phash", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // brute force: the pinned policy (DedupSpec n95) — drop on ANY
    // earlier batch ARRIVAL within distance, kept or dropped, never
    // only on earlier survivors (the two diverge on chains: x1 dropped
    // by the index, x2 near x1 but far from everything else — x2 must
    // still drop)
    val want = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val earlier = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    batch.foreach { case (id, h) =>
      val near = idx.exists(o => java.lang.Long.bitCount(o._2 ^ h) <= 4) ||
        earlier.exists(o => java.lang.Long.bitCount(o._2 ^ h) <= 4)
      if (!near) want += ((id, h))
      earlier += ((id, h))
    }
    assert(got === want.toList)
    // the fixture must exercise BOTH outcomes: twins dropped (near
    // their original) and survivors kept (the planted far row at
    // minimum) — an all-dropped run would vacuously pass the equality
    assert(got.size < batch.size, "some twin must be screened out")
    assert(got.nonEmpty, "some batch row must survive screening")
    assert(got.exists(_._1 == plantedId), "the planted far row must survive")
  }

  test("audioHash64: deterministic, survives a lossless PCM re-encode " +
    "round trip bit-identically, differs across distinct clips, and " +
    "every planted twin (requantized AND time-shifted) lands within " +
    "hamming 4 of its original") {
    def decode(b: Array[Byte]): Array[Short] = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val bytes = in.readAllBytes(); in.close()
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.tabulate[Short](bytes.length / 2)(i => bb.getShort(i * 2))
    }
    val ids = Seq(0L, 24L, 48L, 72L, 96L)
    val hashes = ids.map(id =>
      Multimodal.audioHash64(decode(Multimodal.longWavBytes(id))))
    // stable across invocations
    assert(ids.map(id =>
      Multimodal.audioHash64(decode(Multimodal.longWavBytes(id)))) === hashes)
    // re-encode the decoded PCM (lossless) → identical hash
    val s24 = decode(Multimodal.longWavBytes(24L))
    assert(Multimodal.audioHash64(
      decode(Multimodal.pcmToWav(s24, Multimodal.WavRate))) === hashes(1))
    // distinct clips hash apart (the two-tone formula varies per id)
    assert(hashes.distinct.length === hashes.length)
    // planted-twin distances: the fixture's whole premise
    ids.zip(hashes).foreach { case (id, h) =>
      val s = decode(Multimodal.longWavBytes(id))
      val quant = s.map(v =>
        ((v / Multimodal.AudioQuantStep) * Multimodal.AudioQuantStep).toShort)
      val shifted = s.drop(Multimodal.AudioShiftSamples)
      val dq = java.lang.Long.bitCount(Multimodal.audioHash64(quant) ^ h)
      val ds = java.lang.Long.bitCount(Multimodal.audioHash64(shifted) ^ h)
      assert(dq <= 4, s"requantized twin of $id at hamming $dq > 4")
      assert(ds <= 4, s"shifted twin of $id at hamming $ds > 4")
    }
  }

  test("audioHash: corrupt payload yields a null-hash row with the " +
    "contextual error and never kills the task; null payload is a " +
    "null-hash no-error row") {
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(1L, "audio", Multimodal.longWavBytes(1L), Row(null, null, 8000)),
      Row(2L, "audio", Array.fill[Byte](16)(7), Row(null, null, 8000)),
      Row(3L, "audio", null, Row(null, null, 8000)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.audioHash(media).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.getString(2))))
      .sortBy(_._1)
    assert(got.length === 3, "all rows must survive a corrupt neighbor")
    assert(got(0)._2.isDefined && got(0)._3.isEmpty)
    assert(got(1)._2.isEmpty && got(1)._3.exists(_.contains("audio")))
    assert(got(2)._2.isEmpty && got(2)._3.isEmpty)
  }

  test("mediaSignaturePairsPlain over audio hashes: EXACTLY the brute-force hamming <= 4 pairs " +
    "over the decoded corpus, and every planted twin pairs with (or " +
    "hashes identically to) its original") {
    val ah = Multimodal.audioHash(
      Multimodal.audioWithEditedClips(spark, dir))
    val sig = ah.filter(col("ahash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sig.nonEmpty)
    val brute = (for {
      (a, ha) <- sig; (b, hb) <- sig if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 4
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    val got = Multimodal.mediaSignaturePairsPlain(ah, "ahash", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute,
      "the permuted pigeonhole front must have exact recall at <= 4")
    // fixture self-check: EVERY planted twin is within distance of its
    // original — paired (hamming >= 1) or hash-identical (hamming 0,
    // which the pair front excludes by the a < b same-hash group rule
    // only when collapsed; here distance-0 pairs are still pairs)
    val byId = sig.toMap
    val off = Multimodal.AudioEditIdOffset
    val planted = sig.map(_._1).filter(_ >= off)
      .map(id => (id % off, id)).filter { case (o, _) => byId.contains(o) }
    assert(planted.nonEmpty)
    planted.foreach { case (o, e) =>
      val d = java.lang.Long.bitCount(byId(o) ^ byId(e))
      assert(d <= 4, s"planted twin ($o, $e) at hamming $d")
      if (d > 0)
        assert(got.exists(p => p._1 == math.min(o, e) &&
          p._2 == math.max(o, e)), s"twin pair ($o, $e) missing")
    }
  }

  test("audioNearDupPairsCollapsed: rep pairs equal brute-force " +
    "hamming over DISTINCT signatures with exact group counts; every " +
    "planted twin is group- or rep-connected to its original") {
    val ah = Multimodal.audioHash(
      Multimodal.audioWithEditedClips(spark, dir))
    val sig = ah.filter(col("ahash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val groups = sig.groupBy(_._2)
      .map { case (h, g) => h -> (g.map(_._1).min, g.length) }
    val brute = (for {
      (ha, (ra, _)) <- groups; (hb, (rb, _)) <- groups
      if ra < rb && java.lang.Long.bitCount(ha ^ hb) <= 4
    } yield (math.min(ra, rb), math.max(ra, rb),
      java.lang.Long.bitCount(ha ^ hb))).toSet
    val got = Multimodal.mediaNearDupPairsCollapsed(ah, "ahash", 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(got === brute)
    // counts: every rep pair carries its groups' exact member counts
    val counts = Multimodal.mediaNearDupPairsCollapsed(ah, "ahash", 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    counts.foreach { case (a, b, na, nb) =>
      val byRep = groups.map { case (_, (rep, n)) => rep -> n }
      assert(byRep(a) === na && byRep(b) === nb)
    }
    // every planted twin: same hash group as its original, or reps
    // paired
    val byId = sig.toMap
    val off = Multimodal.AudioEditIdOffset
    sig.map(_._1).filter(_ >= off).map(id => (id % off, id))
      .filter { case (o, _) => byId.contains(o) }
      .foreach { case (o, e) =>
        val same = byId(o) == byId(e)
        val (ra, rb) = (groups(byId(o))._1, groups(byId(e))._1)
        val connected = same ||
          got.exists(p => p._1 == math.min(ra, rb) && p._2 == math.max(ra, rb))
        assert(connected, s"planted twin ($o, $e) neither grouped nor " +
          "rep-paired")
      }
  }

  test("audioHashDedupFromIndex: survivors equal brute-force screening " +
    "(no indexed or earlier-in-batch neighbor within hamming 4); " +
    "planted twins of indexed originals drop, a planted far row " +
    "survives") {
    val ah = Multimodal.audioHash(
      Multimodal.audioWithEditedClips(spark, dir))
    val sig = ah.filter(col("ahash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val off = Multimodal.AudioEditIdOffset
    val idx = sig.filter(_._1 < off)
    val allHashes = sig.map(_._2)
    val farHash = Iterator.iterate(0x5a5a5a5a5a5a5a5aL)(h =>
      h * 0x9e3779b97f4a7c15L + 1L)
      .find(h => allHashes.forall(o =>
        java.lang.Long.bitCount(o ^ h) > 4)).get
    val plantedId = off * 8
    val batch = (sig.filter(_._1 >= off) :+ ((plantedId, farHash)))
      .sortBy(_._1)
    import spark.implicits._
    val idxDf = idx.toSeq.toDF("media_id", "ahash")
    val batchDf = batch.toSeq.toDF("media_id", "ahash")
    val got = Multimodal.mediaSignatureDedupFromIndex(idxDf, batchDf,
        "ahash", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // brute force: drop on ANY earlier ARRIVAL within distance (the
    // n95 pinned policy)
    val want = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val earlier = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    batch.foreach { case (id, h) =>
      val near = idx.exists(o => java.lang.Long.bitCount(o._2 ^ h) <= 4) ||
        earlier.exists(o => java.lang.Long.bitCount(o._2 ^ h) <= 4)
      if (!near) want += ((id, h))
      earlier += ((id, h))
    }
    assert(got === want.toList)
    assert(got.size < batch.size, "some twin must be screened out")
    assert(got.exists(_._1 == plantedId), "the planted far row must survive")
  }

  test("videoFrameHashes: deterministic per-frame dHashes; corrupt " +
    "CONTAINER yields one clip-level err row, a corrupt FRAME its own " +
    "err row with healthy siblings alive, null payload a no-error row") {
    import org.apache.spark.sql.Row
    val goodClip = Multimodal.gfvBytes(3L)
    val frameBad = Multimodal.packGfv(
      Seq(Array.fill[Byte](16)(7), Multimodal.pngBytes(9L)))
    val rows = Seq(
      Row(1L, "video", goodClip, Row(4, 4, null)),
      Row(2L, "video", Array.fill[Byte](16)(9), Row(4, 4, null)),
      Row(3L, "video", null, Row(4, 4, null)),
      Row(4L, "video", frameBad, Row(4, 4, null)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.videoFrameHashes(media).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        Option(r.getString(3))))
      .sortBy(r => (r._1, r._2.getOrElse(-1)))
    // clip 1: GfvFrames healthy frames, hashes = dHash of the frames
    val h1 = got.filter(_._1 == 1L)
    assert(h1.length === Multimodal.GfvFrames &&
      h1.forall(r => r._3.isDefined && r._4.isEmpty))
    def hashOf(png: Array[Byte]) = Multimodal.dHash(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png)))
    assert(h1.map(_._3.get).toSeq ===
      (0 until Multimodal.GfvFrames).map(f =>
        hashOf(Multimodal.pngBytes(3L * 8 + f))))
    // clip 2: corrupt container → ONE clip-level err row
    assert(got.filter(_._1 == 2L).toSeq match {
      case Seq((_, None, None, Some(e))) => e.contains("video")
      case _ => false
    })
    // clip 3: null payload → one null-hash no-error row
    assert(got.filter(_._1 == 3L).toSeq === Seq((3L, None, None, None)))
    // clip 4: frame 0 undecodable (err row), frame 1 healthy
    val h4 = got.filter(_._1 == 4L)
    assert(h4.length === 2)
    assert(h4(0)._2.contains(0) && h4(0)._3.isEmpty && h4(0)._4.isDefined)
    assert(h4(1)._2.contains(1) &&
      h4(1)._3.contains(hashOf(Multimodal.pngBytes(9L))) && h4(1)._4.isEmpty)
  }

  test("videoNearDupClipsCollapsed: rep pairs equal brute force over " +
    "DISTINCT clip signatures (frame-pair counts and min hamming " +
    "exact); every planted frame-0-edited twin is group- or " +
    "rep-connected to its original") {
    val fh = Multimodal.videoFrameHashes(
      Multimodal.mediaWithEditedVideos(spark, dir))
    val sig = fh.filter(col("fhash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(sig.nonEmpty)
    val clips = sig.groupBy(_._1)
      .map { case (id, fs) => id -> fs.map(f => (f._2, f._3)).sortBy(_._1).toSeq }
    val groups = clips.groupBy(_._2)
      .map { case (s, g) => s -> (g.keys.min, g.size) }
    val brute = (for {
      (sa, (ra, na)) <- groups; (sb, (rb, nb)) <- groups if ra < rb
      pairs = for { (_, ha) <- sa; (_, hb) <- sb
        if java.lang.Long.bitCount(ha ^ hb) <= 4 }
        yield java.lang.Long.bitCount(ha ^ hb)
      if pairs.nonEmpty
    } yield (ra, rb, na.toLong, nb.toLong, pairs.size.toLong,
      pairs.min)).toSet
    val got = Multimodal.videoNearDupClipsCollapsed(fh, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSet
    assert(got === brute)
    // planted twins connect: same exact frame sequence (grouped) or
    // their reps pair
    val off = Multimodal.VideoEditIdOffset
    val planted = clips.keys.filter(_ >= off).map(id => (id - off, id))
      .filter { case (o, _) => clips.contains(o) }
    assert(planted.nonEmpty)
    planted.foreach { case (o, e) =>
      val same = clips(o) == clips(e)
      val (ra, rb) = (groups(clips(o))._1, groups(clips(e))._1)
      val connected = same ||
        got.exists(p => p._1 == math.min(ra, rb) && p._2 == math.max(ra, rb))
      assert(connected, s"planted twin ($o, $e) neither grouped nor " +
        "rep-paired")
    }
  }

  test("videoDedupFromIndex: survivors equal brute-force clip " +
    "screening (no frame near an indexed or EARLIER-batch clip's " +
    "frame; own frames never screen each other); twins of indexed " +
    "originals drop, a planted far clip survives") {
    val fh = Multimodal.videoFrameHashes(
      Multimodal.mediaWithEditedVideos(spark, dir))
    val sig = fh.filter(col("fhash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val off = Multimodal.VideoEditIdOffset
    val idx = sig.filter(_._1 < off)
    // plant one clip whose two frame hashes are provably FAR from every
    // hash present (and from each other — irrelevant by policy, but
    // keeps the fixture honest)
    val allHashes = sig.map(_._3)
    val farStream = Iterator.iterate(0x5a5a5a5a5a5a5a5aL)(h =>
      h * 0x9e3779b97f4a7c15L + 1L)
      .filter(h => allHashes.forall(o =>
        java.lang.Long.bitCount(o ^ h) > 4))
    val far1 = farStream.next()
    val far2 = farStream.filter(h =>
      java.lang.Long.bitCount(h ^ far1) > 4).next()
    val plantedId = off * 8
    val batch = (sig.filter(_._1 >= off) :+ ((plantedId, 0, far1)) :+
      ((plantedId, 1, far2))).sortBy(r => (r._1, r._2))
    import spark.implicits._
    val idxDf = idx.toSeq.toDF("media_id", "frame_idx", "fhash")
    val batchDf = batch.toSeq.toDF("media_id", "frame_idx", "fhash")
    val got = Multimodal.videoDedupFromIndex(idxDf, batchDf, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // brute force: clip order, drop on ANY earlier ARRIVAL (kept or
    // dropped) holding a frame within distance — never on own frames
    val byClip = batch.groupBy(_._1).view
      .mapValues(_.map(_._3).toSeq).toMap
    val clipsInOrder = batch.map(_._1).distinct.sorted
    val near = (a: Seq[Long], b: Seq[Long]) =>
      a.exists(x => b.exists(y => java.lang.Long.bitCount(x ^ y) <= 4))
    val idxHashes = idx.map(_._3).toSeq
    val want = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    clipsInOrder.foreach { id =>
      val mine = byClip(id)
      val earlier = clipsInOrder.filter(_ < id)
      val hit = near(mine, idxHashes) ||
        earlier.exists(e => near(mine, byClip(e)))
      if (!hit) want += ((id, mine.size.toLong))
    }
    assert(got === want.toList)
    assert(got.size < clipsInOrder.size, "some twin must be screened out")
    assert(got.exists(_._1 == plantedId), "the planted far clip must survive")
  }

  test("resizeImage: every output pixel equals the exact nearest-" +
    "neighbor source pixel from the synthetic formula") {
    val id = 6L
    val (w, h) = Multimodal.imgDims(id)
    val (ow, oh) = (5, 3)
    val resized = Multimodal.resizeImage(Multimodal.pngBytes(id), ow, oh)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized))
    assert(img.getWidth === ow && img.getHeight === oh)
    for (y <- 0 until oh; x <- 0 until ow) {
      val (r, g, b) = Multimodal.pixelRgb(id,
        (x.toLong * w / ow).toInt, (y.toLong * h / oh).toInt)
      val p = img.getRGB(x, y)
      assert(((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff) === ((r, g, b)),
        s"pixel ($x,$y)")
    }
    // upscale works through the same exact mapping
    val up = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.resizeImage(Multimodal.pngBytes(id), w * 2, h * 2)))
    val (r0, g0, b0) = Multimodal.pixelRgb(id, 0, 0)
    val q = up.getRGB(1, 1) // maps back to source (0, 0)
    assert((((q >> 16) & 0xff), ((q >> 8) & 0xff), (q & 0xff)) ===
      ((r0, g0, b0)))
    intercept[IllegalArgumentException] {
      Multimodal.resizeImage(Multimodal.pngBytes(id), 0, 3)
    }
  }

  test("sampleVideoFrames: evenly-spaced indices incl. endpoints; " +
    "k=1, k>=n, and the k<n formula") {
    val id = 5L
    val gfv = Multimodal.gfvBytes(id)
    val nFrames = Multimodal.GfvFrames
    // k = 1 → frame 0 only
    val one = Multimodal.sampleVideoFrames(gfv, 1)
    assert(one.size === 1 &&
      one.head.toSeq === Multimodal.pngBytes(id * 8).toSeq)
    // k >= n → every frame once, in order
    val all = Multimodal.sampleVideoFrames(gfv, nFrames + 3)
    assert(all.size === nFrames)
    assert(all.zipWithIndex.forall { case (f, i) =>
      f.toSeq == Multimodal.pngBytes(id * 8 + i).toSeq })
    // k < n → floor(i * (n-1) / (k-1)), endpoints inclusive
    val k = 2
    val two = Multimodal.sampleVideoFrames(gfv, k)
    assert(two.size === 2)
    assert(two.head.toSeq === Multimodal.pngBytes(id * 8).toSeq)
    assert(two.last.toSeq ===
      Multimodal.pngBytes(id * 8 + nFrames - 1).toSeq)
    intercept[IllegalArgumentException] {
      Multimodal.sampleVideoFrames("junk".getBytes, 2)
    }
  }

  test("transformMedia: resized/re-packed payloads decode to the target " +
    "shape; audio passes through; a corrupt payload yields a null-" +
    "payload row with transform_err and never kills the task") {
    import spark.implicits._
    val media = Multimodal.mediaFromEvents(spark, dir)
      .union(Seq((999999L, "image",
        "not a png".getBytes("UTF-8"),
        null.asInstanceOf[(Integer, Integer, Integer, Integer)]))
        .toDF("media_id", "kind", "payload", "m")
        .select(col("media_id"), col("kind"), col("payload"),
          lit(null).cast(Multimodal.mediaSchema("meta").dataType)
            .as("meta")))
    val out = Multimodal.transformMedia(media, 8, 6, 2).cache()
    // every healthy image decodes at exactly 8x6
    val img = out.filter(col("kind") === "image" &&
      col("transform_err").isNull && col("payload").isNotNull)
      .select("payload").collect()
    assert(img.nonEmpty)
    img.foreach { r =>
      val i = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        r.getAs[Array[Byte]](0)))
      assert(i.getWidth === 8 && i.getHeight === 6)
    }
    // every healthy video re-packs as a 2-frame GFV1 of 8x6 PNGs
    val vid = out.filter(col("kind") === "video" &&
      col("transform_err").isNull).select("payload").collect()
    assert(vid.nonEmpty)
    vid.foreach { r =>
      val frames = Multimodal.sampleVideoFrames(
        r.getAs[Array[Byte]](0), Int.MaxValue)
      assert(frames.size === 2)
      frames.foreach { f =>
        val i = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(f))
        assert(i.getWidth === 8 && i.getHeight === 6)
      }
    }
    // audio pass-through: bytes unchanged
    val aud = out.filter(col("kind") === "audio" &&
      col("transform_err").isNull)
      .select("media_id", "payload").collect()
    assert(aud.nonEmpty)
    aud.foreach { r =>
      assert(r.getAs[Array[Byte]](1).toSeq ===
        Multimodal.wavBytes(r.getLong(0)).toSeq)
    }
    // the planted corrupt image: err set, payload null, task alive
    val bad = out.filter(col("media_id") === 999999L).collect()
    assert(bad.length === 1 && bad.head.isNullAt(2) &&
      bad.head.getString(5) != null &&
      bad.head.getString(5).contains("image"))
  }

  test("PNG decode reproduces the hand-computed pixel statistics") {
    val id = 6L // event 6 → image kind
    val (w, h) = Multimodal.imgDims(id)
    // expected means straight from the pixel formula, never through ImageIO
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = Multimodal.pixelRgb(id, x, y)
      sr += r; sg += g; sb += b
    }
    val n = (w * h).toDouble // double division then float, as decode does
    val f = Multimodal.decodeImage(Multimodal.pngBytes(id))
    assert(f(0) === w.toFloat && f(1) === h.toFloat)
    assert(f(2) === (sr / n).toFloat && f(3) === (sg / n).toFloat &&
      f(4) === (sb / n).toFloat)
    assert(f(7) === n.toFloat)
  }

  test("WAV decode reproduces the hand-computed sample statistics") {
    val id = 7L // event 7 → audio kind
    val nSamples = 16 + (id % 32).toInt
    val samples = (0 until nSamples).map(Multimodal.wavSample(id, _))
    val f = Multimodal.decodeAudio(Multimodal.wavBytes(id))
    assert(f(0) === nSamples.toFloat)
    assert(f(1) === Multimodal.WavRate.toFloat)
    assert(f(2) === (samples.map(s => math.abs(s.toInt)).sum.toDouble
      / nSamples).toFloat)
    assert(f(4) === samples.min.toFloat && f(5) === samples.max.toFloat)
    val zc = samples.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
    assert(f(6) === zc.toFloat)
  }

  test("video container decode samples real first/last frames") {
    val id = 8L // event 8 → video kind
    val f = Multimodal.decodeVideo(Multimodal.gfvBytes(id))
    assert(f(0) === Multimodal.GfvFrames.toFloat)
    // first frame is the image of id*8 — its decoded mean gray must match
    // the formula
    val fid = id * 8
    val (w, h) = Multimodal.imgDims(fid)
    var sum = 0.0
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = Multimodal.pixelRgb(fid, x, y)
      sum += (r + g + b) / 3.0
    }
    assert(f(1) === w.toFloat && f(2) === h.toFloat)
    assert(f(3) === (sum / (w * h)).toFloat)
  }

  test("malformed GFV1 containers fail with descriptive requires") {
    val zeroFrames = java.nio.ByteBuffer.allocate(8)
      .put(Multimodal.GfvMagic).putInt(0).array()
    val e1 = intercept[IllegalArgumentException](
      Multimodal.decodeVideo(zeroFrames))
    assert(e1.getMessage.contains("declares 0 frames"))
    // declared frame length exceeds the remaining bytes
    val truncated = java.nio.ByteBuffer.allocate(14)
      .put(Multimodal.GfvMagic).putInt(1).putInt(999).put(Array[Byte](1, 2))
      .array()
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodeVideo(truncated))
    assert(e2.getMessage.contains("999 bytes"))
  }

  test("fuzz: truncated/garbled payloads fail as IllegalArgumentException " +
    "with a message, never a bare buffer/codec internal error") {
    // decode must either succeed (a prefix can still be a valid stream) or
    // throw the contract exception — BufferUnderflow/EOF/NegativeArraySize
    // escaping here would read as an engine bug, not bad input
    def check(kind: String, decode: Array[Byte] => Array[Float],
              payload: Array[Byte]): Unit =
      try { decode(payload); () } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage != null && e.getMessage.nonEmpty,
            s"$kind: contract exception must carry a contextual message")
        case e: Throwable =>
          fail(s"$kind decode leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    val valid = Seq[(String, Array[Byte] => Array[Float], Array[Byte])](
      ("image", Multimodal.decodeImage, Multimodal.pngBytes(6L)),
      ("audio", Multimodal.decodeAudio, Multimodal.wavBytes(7L)),
      ("video", Multimodal.decodeVideo, Multimodal.gfvBytes(8L)))
    for ((kind, decode, payload) <- valid) {
      // every truncation point, including the empty payload
      for (len <- 0 to payload.length)
        check(kind, decode, payload.take(len))
      // seeded byte-flip garbage (deterministic → reproducible failures)
      val rnd = new scala.util.Random(42)
      for (_ <- 1 to 200) {
        val mutated = payload.clone()
        for (_ <- 1 to (1 + rnd.nextInt(8)))
          mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte
        check(kind, decode, mutated)
      }
      // negative-length / hostile GFV1 headers are covered by the explicit
      // requires; pure noise payloads exercise the codec entry paths
      check(kind, decode, Array.fill(64)(rnd.nextInt(256).toByte))
    }
  }

  test("a corrupt payload yields a null-feature row and never kills the " +
    "healthy rows of its partition") {
    import org.apache.spark.sql.Row
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
        org.apache.spark.sql.types.StructType(
          Multimodal.mediaSchema.fields.take(3))))
    val rows = Seq(
      Row(1L, "image", Multimodal.pngBytes(1L)),
      Row(2L, "image", "not a png at all".getBytes("US-ASCII")),
      Row(3L, "audio", Multimodal.wavBytes(3L)),
      Row(4L, "video", Multimodal.gfvBytes(4L).take(10))) // truncated
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), enc.schema)
    val got = Multimodal.extractFeatures(media)
      .orderBy("media_id").collect()
    assert(got.length === 4, "all rows must survive a corrupt neighbor")
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // healthy rows decode exactly as they would alone
    assert(byId(1L).getAs[scala.collection.Seq[Float]]("feature").toSeq ===
      Multimodal.decodeImage(Multimodal.pngBytes(1L)).toSeq)
    assert(byId(3L).getAs[scala.collection.Seq[Float]]("feature").toSeq ===
      Multimodal.decodeAudio(Multimodal.wavBytes(3L)).toSeq)
    assert(byId(1L).getString(4) == null && byId(3L).getString(4) == null)
    // corrupt rows: null feature + the contextual message, row preserved
    for (id <- Seq(2L, 4L)) {
      assert(byId(id).isNullAt(3), s"row $id must carry a null feature")
      val err = byId(id).getString(4)
      assert(err != null && err.nonEmpty)
    }
    assert(byId(2L).getString(4).contains("image"))
    assert(byId(4L).getString(4).contains("GFV1"))
  }

  test("audioFrameFeatures: every frame recomputes exactly from the " +
    "synthetic sample formula; tail partial kept; corrupt clip yields " +
    "one err row, null payload one zero-frame row, healthy rows live") {
    import org.apache.spark.sql.Row
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
        org.apache.spark.sql.types.StructType(
          Multimodal.mediaSchema.fields.take(3))))
    val rows = Seq(
      Row(7L, "audio", Multimodal.wavBytes(7L)),   // 23 samples → 3 frames@8
      Row(8L, "audio", "RIFF garbage".getBytes("US-ASCII")),
      Row(9L, "audio", null),
      Row(1L, "image", Multimodal.pngBytes(1L)))   // non-audio filtered out
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), enc.schema)
    val got = Multimodal.audioFrameFeatures(media, 8)
      .orderBy("media_id", "frame_idx").collect()
    val byId = got.groupBy(_.getLong(0))
    assert(!byId.contains(1L), "non-audio rows must be filtered")
    // healthy clip: frames recomputed from the sample formula, in the
    // same accumulation order as the engine
    val n = 16 + (7L % 32).toInt
    val samples = (0 until n).map(Multimodal.wavSample(7L, _))
    val frames = byId(7L)
    assert(frames.length === (n + 7) / 8)
    frames.zipWithIndex.foreach { case (r, f) =>
      val seg = samples.slice(f * 8, math.min(n, f * 8 + 8))
      assert(r.getInt(2) === seg.length)
      val rms = math.sqrt(seg.map(s => s.toDouble * s).sum / seg.length)
      assert(r.getFloat(3) === rms.toFloat, s"frame $f rms")
      val zc = seg.sliding(2).count(p =>
        p.length == 2 && (p(0) >= 0) != (p(1) >= 0))
      assert(r.getInt(4) === zc, s"frame $f zcr")
      assert(r.getString(5) == null)
    }
    // tail partial: last frame shorter unless 8 divides n
    assert(frames.last.getInt(2) === (if (n % 8 == 0) 8 else n % 8))
    // corrupt: exactly one row, null frame fields, contextual message
    val bad = byId(8L)
    assert(bad.length === 1 && bad.head.isNullAt(1) &&
      bad.head.getString(5) != null &&
      bad.head.getString(5).contains("audio"))
    // null payload: one zero-frame row, no error (the m1 convention)
    val nul = byId(9L)
    assert(nul.length === 1 && nul.head.getInt(1) === 0 &&
      nul.head.getInt(2) === 0 && nul.head.isNullAt(3) &&
      nul.head.getString(5) == null)
  }

  test("audioFrameStats: per-clip roll-up reconciles with the whole-clip " +
    "m1 aggregates (Σ n_samples ≡ decodeAudio's count, Σ zcr ≡ " +
    "whole-clip zcr minus the frame-boundary crossings)") {
    val media = Multimodal.mediaFromEvents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("kind") === "audio")
    val stats = Multimodal.audioFrameStats(spark, dir, 8).collect()
    assert(stats.nonEmpty)
    val whole = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("feature")).toMap
    stats.foreach { r =>
      val id = r.getLong(0)
      val f = whole(id)
      assert(r.getLong(2) === f(0).toLong, s"clip $id n_samples")
      // frame-local zcr misses exactly the crossings that straddle a
      // frame boundary — recompute those from the formula and reconcile
      val n = f(0).toInt
      val samples = (0 until n).map(Multimodal.wavSample(id, _))
      val boundary = (1 until n).count(i =>
        i % 8 == 0 && (samples(i) >= 0) != (samples(i - 1) >= 0))
      assert(r.getLong(3) === f(6).toLong - boundary, s"clip $id zcr")
    }
  }

  test("feature extraction is deterministic and batched per partition") {
    val f1 = Multimodal.extractFeatures(Multimodal.mediaFromEvents(spark, dir))
    val f2 = Multimodal.extractFeatures(
      Multimodal.mediaFromEvents(spark, dir).repartition(7))
    val a = f1.orderBy("media_id").collect()
    val b = f2.orderBy("media_id").collect()
    assert(a.length === 200) // 1-in-5 sidecar sample of 1000 events
    assert(a.map(_.getAs[scala.collection.Seq[Float]]("feature")).toSeq ===
      b.map(_.getAs[scala.collection.Seq[Float]]("feature")).toSeq)
  }

  test("featureStats rolls up per kind from decoded payloads") {
    val stats = Multimodal.featureStats(spark, dir).collect()
    assert(stats.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    assert(stats.map(_.getLong(1)).sum === 200L)
    assert(stats.map(_.getLong(4)).sum === 0L,
      "synthesized payloads must decode without errors")
    // avg of feature[0]: image → width in 4..11; audio → 16..47 samples;
    // video → GfvFrames exactly
    val byKind = stats.map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(byKind("video") === Multimodal.GfvFrames.toDouble)
    assert(byKind("image") >= 4.0 && byKind("image") <= 11.0)
    assert(byKind("audio") >= 16.0 && byKind("audio") <= 47.0)
  }

  test("mediaDedupCard: hand-computed card over a planted fixture — " +
    "dup groups by exact signature, decode health at both video " +
    "granularities, inflation = sum(g^2)/sum(g)") {
    import org.apache.spark.sql.Row
    val rows = Seq(
      // image: an identical-payload pair (one dup group of 2), a
      // corrupt payload (err), a null payload (neither decoded nor err)
      Row(1L, "image", Multimodal.pngBytes(1L), Row(4, 4, null)),
      Row(2L, "image", Multimodal.pngBytes(1L), Row(4, 4, null)),
      Row(3L, "image", Array.fill[Byte](16)(7), Row(4, 4, null)),
      Row(4L, "image", null, Row(4, 4, null)),
      // audio: same shape
      Row(11L, "audio", Multimodal.wavBytes(1L), Row(null, null, 8000)),
      Row(12L, "audio", Multimodal.wavBytes(1L), Row(null, null, 8000)),
      Row(13L, "audio", Array.fill[Byte](16)(7), Row(null, null, 8000)),
      Row(14L, "audio", null, Row(null, null, 8000)),
      // video: an identical clip pair, a PARTIAL clip (frame 0 corrupt
      // → err, but decoded on frame 1), a corrupt container (err, not
      // decoded), a null payload
      Row(21L, "video", Multimodal.gfvBytes(2L), Row(4, 4, null)),
      Row(22L, "video", Multimodal.gfvBytes(2L), Row(4, 4, null)),
      Row(23L, "video", Multimodal.packGfv(Seq(Array.fill[Byte](16)(7),
        Multimodal.pngBytes(99L))), Row(4, 4, null)),
      Row(24L, "video", Array.fill[Byte](16)(9), Row(4, 4, null)),
      Row(25L, "video", null, Row(4, 4, null)),
      // rows no modality pass can touch: NULL kind and an unknown
      // kind — the card must still count them (the `other` bucket;
      // sum of n_media must cover the table)
      Row(31L, null, Multimodal.pngBytes(31L), Row(4, 4, null)),
      Row(32L, "pdf", Array.fill[Byte](16)(3), Row(null, null, null)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = MediaCard.of(media).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toSeq
    assert(got === Seq(
      ("audio", 4L, 2L, 1L, 1L, 1L, 2L, Some(2.0)),
      ("image", 4L, 2L, 1L, 1L, 1L, 2L, Some(2.0)),
      ("other", 2L, 0L, 0L, 0L, 0L, 0L, None),
      // video: decoded = {21, 22, 23}; errs = {23 partial, 24
      // container}; sigs = the 21/22 clip key + 23's one-frame key;
      // inflation = (2^2 + 1^2) / 3
      ("video", 5L, 3L, 2L, 2L, 1L, 2L, Some(1.666667))))
    assert(got.map(_._2).sum === rows.size.toLong,
      "the card must cover every media row")
  }

  test("frameKey guard: a frame_idx outside [0, 64) fails the pairing " +
    "front loudly instead of silently attributing frames to the wrong " +
    "clip") {
    import spark.implicits._
    val fh = Seq((1L, 0, 11L), (1L, 64, 22L), (2L, 0, 7L))
      .toDF("media_id", "frame_idx", "fhash")
    val e = intercept[Exception](
      Multimodal.videoNearDupClipsCollapsed(fh, 4).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("clip-frame key")),
      s"expected the frameKey guard message, got: $e")
  }

  // ======== planted guaranteed survivors (the m6/m9/m12 receipts) ====
  //
  // The survivor guarantees rest on EXHAUSTIVE enumeration, not
  // sampling: every synthesis formula is periodic in media_id (pngBytes
  // pixels/dims repeat every 256 ids; longWavSample's two tones and
  // phase repeat every lcm(5, 11, 17) = 935 ids), so the COMPLETE
  // signature space any corpus at any scale factor can reach is finite
  // and these tests hash all of it.

  test("planted image & video survivors: gradientPng realizes each " +
    "pattern's dHash exactly; every pattern sits >= 6 bits from EVERY " +
    "hash the periodic pngBytes family can produce (originals AND " +
    "red-bumped edit twins, all 256 residues); the survivor's own edit " +
    "twin hashes IDENTICALLY (it must drop against the survivor)") {
    def decode(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    val reachable = (0 until 256).flatMap { i =>
      val orig = Multimodal.pngBytes(i.toLong)
      val bumped = Multimodal.bumpRedPixelPng(orig).get._1
      Seq(Multimodal.dHash(decode(orig)), Multimodal.dHash(decode(bumped)))
    }.toSet
    Seq(Multimodal.ImageSurvivorBits, Multimodal.VideoSurvivorBitsA,
      Multimodal.VideoSurvivorBitsB).foreach { p =>
      val png = Multimodal.gradientPng(p)
      assert(Multimodal.dHash(decode(png)) === p,
        f"gradientPng(0x$p%016X) does not realize its pattern")
      val minD = reachable.iterator
        .map(h => java.lang.Long.bitCount(h ^ p)).min
      assert(minD >= 6, f"pattern 0x$p%016X margin $minD < 6")
      // the red +1 bump (the edit-twin transform) cannot flip any bit:
      // adjacent gradient grays differ by 30
      val twin = Multimodal.bumpRedPixelPng(png).get._1
      assert(Multimodal.dHash(decode(twin)) === p)
    }
    // the two video frames are distinct patterns (a genuine
    // multi-signature unit)
    assert(java.lang.Long.bitCount(Multimodal.VideoSurvivorBitsA ^
      Multimodal.VideoSurvivorBitsB) >= 6)
  }

  test("planted audio survivor: the amplitude ladder realizes its " +
    "fingerprint exactly through a real WAV round trip; it sits >= 6 " +
    "bits from EVERY signature the periodic longWavSample family can " +
    "produce (base, requantized, time-shifted — all 935 residues); " +
    "both its own edit twins fingerprint IDENTICALLY to it") {
    def decode(b: Array[Byte]): Array[Short] = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val bytes = in.readAllBytes(); in.close()
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.tabulate[Short](bytes.length / 2)(i => bb.getShort(i * 2))
    }
    def quantOf(s: Array[Short]): Array[Short] = s.map(v =>
      ((v / Multimodal.AudioQuantStep) * Multimodal.AudioQuantStep).toShort)
    val p = Multimodal.AudioSurvivorBits
    val lad = Multimodal.ladderPcm(p)
    assert(Multimodal.audioHash64(
      decode(Multimodal.pcmToWav(lad, Multimodal.WavRate))) === p,
      "ladder clip does not realize its pattern through the codec")
    val reachable = (0 until 935).flatMap { id =>
      val s = decode(Multimodal.longWavBytes(id.toLong))
      Seq(Multimodal.audioHash64(s),
        Multimodal.audioHash64(
          decode(Multimodal.pcmToWav(quantOf(s), Multimodal.WavRate))),
        Multimodal.audioHash64(decode(Multimodal.pcmToWav(
          s.drop(Multimodal.AudioShiftSamples), Multimodal.WavRate))))
    }.toSet
    val minD = reachable.iterator
      .map(h => java.lang.Long.bitCount(h ^ p)).min
    assert(minD >= 6, s"planted audio survivor margin $minD < 6")
    // the survivor's own twins: quant is a PCM no-op (multiple-of-64
    // amplitudes), the 2-sample shift moves only window-boundary
    // samples — both fingerprint identically and drop against it
    assert(Multimodal.audioHash64(decode(
      Multimodal.pcmToWav(quantOf(lad), Multimodal.WavRate))) === p)
    assert(Multimodal.audioHash64(decode(Multimodal.pcmToWav(
      lad.drop(Multimodal.AudioShiftSamples), Multimodal.WavRate))) === p)
  }
}
