package graft

import org.apache.spark.sql.functions._
import graft.ops.{Tables, TextAnalysis}

/** Hand-computed text-analysis expectations + split/vocab/decontamination
  * behavior.
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("splitAssignment: deterministic, complete, roughly 80/10/10") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val counts = TextAnalysis.splitAssignment(docs)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(n === 500.0)
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    assert(counts("val") / n > 0.04 && counts("val") / n < 0.18)
    assert(counts("test") / n > 0.04 && counts("test") / n < 0.18)
    // deterministic across invocations
    val again = TextAnalysis.splitAssignment(docs)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === counts)
  }

  test("vocabulary: exact top-k with tf-desc, word-asc tiebreak") {
    val docs = Seq((1L, "b a a c"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabulary(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("a", 3L), ("b", 2L), ("c", 2L)))
  }

  test("vocabCoverage: occurrences counted, OOV = tokens outside top-k") {
    val docs = Seq(
      (1L, "a a b rare"),      // 'a','b' in top-2; 'rare' OOV
      (2L, "a b b zz zz zz"))  // three 'zz' occurrences all OOV
      .toDF("doc_id", "text")
    // top-2 vocab: a (tf 3), b (tf 3) — zz (tf 3) loses the word-asc tie
    val got = TextAnalysis.vocabCoverage(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 4L, 1L, 0.25),
      (2L, 6L, 3L, 0.5)))
  }

  test("lengthOutliers: per-source exact quantile thresholds flag the " +
    "planted extremes, and only within their own source") {
    // source A: nine 10-token docs + one 1-token + one 100-token; the
    // p05/p95 of {1,10×9,100} (linear interpolation over 11 values) sit
    // strictly between the extremes and the bulk, so exactly one short
    // and one long flag. Source B's docs are all 50 tokens — its p05 =
    // p95 = 50 and NOTHING flags, even though 10-token docs would all
    // be "short" under A-derived or global thresholds.
    def doc(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = ((1 to 9).map(i => (i.toLong, doc(10), "A")) ++
      Seq((10L, doc(1), "A"), (11L, doc(100), "A")) ++
      (12 to 14).map(i => (i.toLong, doc(50), "B")))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.lengthOutliers(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    val a = r("A")
    assert(a.getLong(1) === 11L)
    assert(a.getDouble(2) > 1.0 && a.getDouble(2) < 10.0,
      s"p05 between the short extreme and the bulk, got ${a.getDouble(2)}")
    assert(a.getDouble(3) > 10.0 && a.getDouble(3) < 100.0)
    assert(a.getLong(4) === 1L && a.getLong(5) === 1L,
      "exactly the planted extremes flag")
    val b = r("B")
    assert(b.getDouble(2) === 50.0 && b.getDouble(3) === 50.0)
    assert(b.getLong(4) === 0L && b.getLong(5) === 0L,
      "a uniform source flags nothing under its OWN thresholds")
  }

  test("lengthOutliersApprox: the percentile_approx twin lands on (or " +
    "next to) the exact fences — counts within 2% per source on the " +
    "fixture corpus, identical on a uniform source") {
    // real-corpus bound: same sources, same n_docs, fences bracketed by
    // the source's own range, outlier counts within max(1, 2%) of exact —
    // the divergence budget the docstring's "swap at 100 TB" promises
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = TextAnalysis.lengthOutliers(fix).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = TextAnalysis.lengthOutliersApprox(fix).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet === approx.keySet)
    for ((src, e) <- exact) {
      val a = approx(src)
      assert(a.getLong(1) === e.getLong(1), s"$src n_docs")
      assert(a.getDouble(2) <= a.getDouble(3), s"$src fence order")
      // floor of 2: the approx fence is an actual order statistic, the
      // exact fence an interpolation — one position apart, which with
      // ties moves a couple of docs on a 25-doc fixture source; the 2%
      // term governs at real source sizes
      val tol = math.max(2.0, 0.02 * e.getLong(1))
      assert(math.abs(a.getLong(4) - e.getLong(4)) <= tol,
        s"$src n_short: approx ${a.getLong(4)} vs exact ${e.getLong(4)}")
      assert(math.abs(a.getLong(5) - e.getLong(5)) <= tol,
        s"$src n_long: approx ${a.getLong(5)} vs exact ${e.getLong(5)}")
    }
    // a uniform source must behave identically under both: p05 = p95 =
    // the constant, zero flags (the source-B half of the exact test)
    def doc(n: Int) = Seq.fill(n)("w").mkString(" ")
    val uni = (1 to 5).map(i => (i.toLong, doc(50), "B"))
      .toDF("doc_id", "text", "source")
    val b = TextAnalysis.lengthOutliersApprox(uni).collect()(0)
    assert(b.getDouble(2) === 50.0 && b.getDouble(3) === 50.0)
    assert(b.getLong(4) === 0L && b.getLong(5) === 0L)
  }

  test("boilerplateTrim: removes exactly the hot-gram-covered positions, " +
    "keeps everything else verbatim, and n_removed ≡ n71's n_cov") {
    // docs 1 and 2 share the 5-gram "a b c d e" (df=2 → hot); their
    // other words are unique. doc 3 has no repeated grams. doc 4 IS the
    // shared gram alone (fully covered → empty trim).
    val docs = Seq(
      (1L, "a b c d e x1 y1 z1"),
      (2L, "p2 a b c d e q2"),
      (3L, "u v w x y z"),
      (4L, "a b c d e")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateTrim(docs, 5, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (1L, 8L, 5L, "x1 y1 z1"),
      (2L, 7L, 5L, "p2 q2"),
      (3L, 6L, 0L, "u v w x y z"),
      (4L, 5L, 5L, "")))

    // composition pin on real data: the trim's accounting equals the
    // coverage signal row-for-row — the trim cannot disagree with n71
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val cover = TextAnalysis.boilerplateCoverage(fix, 5, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val trim = TextAnalysis.boilerplateTrim(fix, 5, 2).collect()
    assert(trim.nonEmpty)
    trim.foreach { r =>
      val (nTok, nCov) = cover(r.getLong(0))
      assert(r.getLong(1) === nTok && r.getLong(2) === nCov,
        s"doc ${r.getLong(0)}")
      // removed + kept = total (trim is a partition of positions)
      // split with -1 keeps trailing empty tokens (the fixture's split
      // parity convention)
      val keptWords =
        if (r.getString(3).isEmpty) 0
        else r.getString(3).split(" ", -1).length
      assert(keptWords === (nTok - nCov).toInt, s"doc ${r.getLong(0)}")
    }
  }

  test("dupSubstringDedup: keep-first — the globally-first occurrence " +
    "survives, later copies (cross-doc AND within-doc) are removed") {
    val docs = Seq(
      // first occurrence of "a b c d e" (doc 1, pos 0) — kept verbatim
      (1L, "a b c d e x1 y1 z1"),
      // later occurrence at pos 1 → positions 1..5 removed
      (2L, "p2 a b c d e q2"),
      // no duplicated windows → untouched
      (3L, "u v w x y z"),
      // IS the duplicated window alone → removed whole
      (4L, "a b c d e"),
      // two later occurrences (pos 2 and 7) → 2..11 removed
      (5L, "r s a b c d e a b c d e"),
      // WITHIN-doc repetition with a globally-unique window: pos 0 is
      // the global first (kept), pos 5 removed
      (6L, "m n o p q m n o p q")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupSubstringDedup(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (1L, 8L, 0L, "a b c d e x1 y1 z1"),
      (2L, 7L, 5L, "p2 q2"),
      (3L, 6L, 0L, "u v w x y z"),
      (4L, 5L, 5L, ""),
      (5L, 12L, 10L, "r s"),
      (6L, 10L, 5L, "m n o p q")))
    // the span inventory agrees with the execute side's accounting and
    // reports WHERE: 1-based starts, maximal runs
    val spans = TextAnalysis.dupSubstringSpans(docs, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(spans.toSeq === Seq(
      (2L, 2, 5L), (4L, 1, 5L), (5L, 3, 10L), (6L, 6, 5L)))
  }

  test("dupSubstringSpans: Σ span_len per doc ≡ dupSubstringDedup's " +
    "n_removed on real data (the inventory can't disagree with the cut)") {
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val spans = TextAnalysis.dupSubstringSpans(fix, 5)
      .groupBy("doc_id").agg(
        org.apache.spark.sql.functions.sum("span_len").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ded = TextAnalysis.dupSubstringDedup(fix, 5).collect()
    assert(ded.nonEmpty)
    assert(ded.exists(_.getLong(2) > 0L),
      "fixture should contain duplicated windows")
    ded.foreach { r =>
      assert(spans.getOrElse(r.getLong(0), 0L) === r.getLong(2),
        s"doc ${r.getLong(0)}")
      val keptWords =
        if (r.getString(3).isEmpty) 0
        else r.getString(3).split(" ", -1).length
      assert(keptWords === (r.getLong(1) - r.getLong(2)).toInt,
        s"doc ${r.getLong(0)}")
    }
  }

  test("dupSubstringDedupCollapsed ≡ dupSubstringDedup bit-equal on a " +
    "dup-heavy fixture (exact-dup copies removed whole; short dups pass)") {
    // groups: {1, 7, 9} identical long texts; {2, 8} identical SHORT
    // (< k words → untouched even as dups); distinct docs incl. a quote
    // of group-1's window and an interleaved-id distinct doc 5
    val docs = Seq(
      (1L, "a b c d e x1 y1 z1"),
      (2L, "s t u"),
      (5L, "k l m n o p"),
      (7L, "a b c d e x1 y1 z1"),
      (8L, "s t u"),
      (9L, "a b c d e x1 y1 z1"),
      (10L, "q2 a b c d e r2")
    ).toDF("doc_id", "text")
    val plain = TextAnalysis.dupSubstringDedup(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val coll = TextAnalysis.dupSubstringDedupCollapsed(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(plain.toSeq === coll.toSeq)
    // and the policy itself: rep 1 kept whole, copies 7/9 removed whole,
    // short dups 2/8 untouched, the quote in 10 cut
    val byId = plain.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 === "a b c d e x1 y1 z1")
    assert(byId(7L)._4 === "" && byId(7L)._3 === 8L)
    assert(byId(9L)._4 === "")
    assert(byId(2L)._4 === "s t u" && byId(8L)._4 === "s t u")
    assert(byId(10L)._4 === "q2 r2")
  }

  test("dupSubstringDedupHashed ≡ dupSubstringDedup on fixture and real " +
    "data (60-bit keys collide nowhere at fixture scale)") {
    val planted = Seq(
      (1L, "a b c d e x1 y1 z1"), (2L, "p2 a b c d e q2"),
      (3L, "u v w x y z"), (4L, "a b c d e"),
      (5L, "r s a b c d e a b c d e"), (6L, "m n o p q m n o p q")
    ).toDF("doc_id", "text")
    val real = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    Seq(planted, real).foreach { docs =>
      val want = TextAnalysis.dupSubstringDedup(docs, 5).collect()
        .map(_.toString).toSeq
      val got = TextAnalysis.dupSubstringDedupHashed(docs, 5).collect()
        .map(_.toString).toSeq
      assert(got === want)
    }
  }

  test("compressionQuality: rows recompute exactly against a direct " +
    "Deflater call; repetitive text separates from unique-word prose; " +
    "deterministic across runs; empty text scores NULL") {
    val rep = Seq.fill(200)("ab").mkString(" ")
    val prose = (0 until 400)
      .map(i => s"w${('a' + i % 26).toChar}${('a' + (i / 26) % 26).toChar}$i")
      .mkString(" ")
    val docs = Seq((1L, rep), (2L, prose), (3L, "")).toDF("doc_id", "text")
    def direct(s: String): (Int, Int) = {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(6)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var out = 0
      while (!d.finished()) out += d.deflate(buf)
      d.end()
      (bytes.length, out)
    }
    val got = TextAnalysis.compressionQuality(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    for ((id, s) <- Seq(1L -> rep, 2L -> prose)) {
      val (nb, nd) = direct(s)
      assert(got(id).getInt(1) === nb && got(id).getInt(2) === nd, s"doc $id")
      assert(got(id).getDouble(3) ===
        BigDecimal(nd.toDouble / nb).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got(1L).getDouble(3) < 0.1, "looped text must compress hard")
    assert(got(2L).getDouble(3) > 2 * got(1L).getDouble(3),
      "unique-word prose must sit well above the looped text")
    assert(got(3L).getInt(1) === 0 && got(3L).isNullAt(3))
    // determinism across plans/runs
    val again = TextAnalysis.compressionQuality(docs).collect()
      .map(_.toString).sorted.toSeq
    assert(again ===
      got.values.map(_.toString).toSeq.sorted)
  }

  test("shardBalance: reconciles with shardAssignment (n_docs per shard " +
    "= max pos) and shares sum to 1") {
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val byShard = TextAnalysis.shardAssignment(fix, 8).collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getInt(2)).max).toMap
    val got = TextAnalysis.shardBalance(fix, 8).collect()
    assert(got.length === byShard.size)
    got.foreach { r =>
      assert(r.getLong(1) === byShard(r.getLong(0)).toLong,
        s"shard ${r.getLong(0)}")
      assert(r.getDouble(4) > 0.5 && r.getDouble(4) < 2.0,
        s"md5 sharding should be roughly balanced, shard ${r.getLong(0)} " +
          s"skew ${r.getDouble(4)}")
    }
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }

  test("dupSubstringBySource: the per-source profile reconciles with " +
    "the per-doc dedup accounting row-for-row") {
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val perDoc = TextAnalysis.dupSubstringDedup(fix, 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val srcOf = fix.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.dupSubstringBySource(fix, 5).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val docs = srcOf.collect { case (id, s) if s == r.getString(0) => id }
      assert(r.getLong(1) === docs.size.toLong)
      assert(r.getLong(2) === docs.map(perDoc(_)._1).sum)
      assert(r.getLong(3) === docs.map(perDoc(_)._2).sum)
    }
  }

  test("dupSubstringDedupFromIndex: folding doc_id-ordered batches " +
    "through the index delta ≡ batch-mode dupSubstringDedup per batch; " +
    "cross-batch suppression actually fires") {
    import org.apache.spark.sql.functions.col
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val whole = TextAnalysis.dupSubstringDedup(fix, 5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val cuts = Seq(
      (col("doc_id") < 150, "b1"),
      (col("doc_id") >= 150 && col("doc_id") < 320, "b2"),
      (col("doc_id") >= 320, "b3"))
    var index = Seq.empty[String].toDF("g")
    var crossBatchRemovals = 0L
    cuts.foreach { case (pred, tag) =>
      val batch = fix.filter(pred)
      val got = TextAnalysis
        .dupSubstringDedupFromIndex(index, batch, 5).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got === whole.view.filterKeys(got.keySet).toMap, tag)
      // removals the batch could not have produced alone = index hits
      val alone = TextAnalysis.dupSubstringDedup(batch, 5).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      crossBatchRemovals +=
        got.map { case (id, (_, rem, _)) => rem - alone(id) }.sum
      index = index.unionByName(TextAnalysis.dupSubstringIndex(batch, 5))
        .distinct()
    }
    assert(crossBatchRemovals > 0L,
      "fixture should exercise the index-hit path across batches")
  }

  test("dupSubstringDedupAuto: both forced branches are bit-equal to " +
    "the plain form, and the measured inflation picks plain on the " +
    "low-dup corpus and collapsed on the replicated one") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val want = rows(TextAnalysis.dupSubstringDedup(d, 5))
    assert(want.nonEmpty)
    assert(rows(TextAnalysis.dupSubstringDedupCollapsed(d, 5)) === want)
    assert(rows(TextAnalysis.dupSubstringDedupAuto(d, 5)) === want)
    // ×3 replication: inflation ≈ 3 → collapsed branch, same answer
    val tri = d.union(d.select(col("doc_id") + 1000000L, col("text")))
      .union(d.select(col("doc_id") + 2000000L, col("text")))
    assert(rows(TextAnalysis.dupSubstringDedupAuto(tri, 5)) ===
      rows(TextAnalysis.dupSubstringDedup(tri, 5)))
  }

  test("paragraphDedupFromIndex: folding doc_id-ordered batches through " +
    "the index delta ≡ batch-mode paragraphDedupBlocks per batch; " +
    "cross-batch suppression actually fires") {
    val fix = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val whole = TextAnalysis.paragraphDedupBlocks(fix, 20).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val cuts = Seq(
      (col("doc_id") < 150, "b1"),
      (col("doc_id") >= 150 && col("doc_id") < 320, "b2"),
      (col("doc_id") >= 320, "b3"))
    var index = Seq.empty[String].toDF("h")
    var crossBatchRemovals = 0L
    cuts.foreach { case (pred, tag) =>
      val batch = fix.filter(pred)
      val got = TextAnalysis
        .paragraphDedupFromIndex(index, batch, 20).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got === whole.view.filterKeys(got.keySet).toMap, tag)
      val alone = TextAnalysis.paragraphDedupBlocks(batch, 20).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      crossBatchRemovals +=
        got.map { case (id, (_, rem, _)) => rem - alone(id) }.sum
      index = index.unionByName(TextAnalysis.paragraphIndex(batch, 20))
        .distinct()
    }
    assert(crossBatchRemovals > 0L,
      "fixture should exercise the index-hit path across batches")
  }

  test("cleanCorpusParagraph: keeper drops exact copies BEFORE the " +
    "paragraph stage, a block-aligned copy is cut keep-first with TOKEN " +
    "accounting, short docs gate out; output shape = n83's") {
    def uniq(p: String, n: Int) = (0 until n)
      .map(i => s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val w = uniq("w", 40)
    val v = uniq("v", 40).toArray
    // doc 3: 60 words, THIRD 20-word block is doc 1's first block
    // verbatim — loses exactly those 20 tokens and still clears the
    // 30-word gate with the 40 unique survivors
    val d3words = v.take(40) ++ w.take(20)
    val docs = Seq(
      (1L, w.mkString(" ")),            // 40 uniques — untouched
      (2L, w.mkString(" ")),            // exact copy — keeper drops
      (3L, d3words.mkString(" ")),      // block-aligned copy — cut
      (4L, uniq("z", 10).mkString(" ")) // too short after gate
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanCorpusParagraph(docs, 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.map(_._1).toSeq === Seq(1L, 3L),
      s"keeper must drop 2, the gate must drop 4: ${got.toSeq}")
    val byId = got.map(t => t._1 -> t).toMap
    // doc 1 survives whole (its blocks are the global firsts)
    assert(byId(1L)._3 === 40L && byId(1L)._4 === 0L)
    assert(byId(1L)._5 === w.mkString(" "))
    // doc 3 loses exactly the 20 copied TOKENS (n_removed is tokens,
    // the n83 convention) and keeps its 40 unique words
    assert(byId(3L)._3 === 40L && byId(3L)._4 === 20L)
    assert(byId(3L)._5 === v.take(40).mkString(" "))
  }

  test("cleanCorpusSubstring: keeper drops exact copies BEFORE the gram " +
    "stage, a quote is cut keep-first, short docs gate out; output " +
    "shape = n83's") {
    def uniq(p: String, n: Int) = (0 until n)
      .map(i => s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val w = uniq("w", 40)
    val v = uniq("v", 35).toArray
    val d3words = v.take(5) ++ w.take(5) ++ v.drop(10)
    val docs = Seq(
      (1L, w.mkString(" ")),                 // 40 uniques — untouched
      (2L, w.mkString(" ")),                 // exact copy — keeper drops
      (3L, d3words.mkString(" ")),           // 5-word quote of d1 — cut
      (4L, uniq("z", 10).mkString(" "))      // too short after gate
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanCorpusSubstring(docs, 5)
    assert(got.columns.toSeq ===
      Seq("doc_id", "split", "n_tokens", "n_removed", "text_clean"))
    val rows = got.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(rows.keySet === Set(1L, 3L))
    assert(rows(1L) === ((40L, 0L, w.mkString(" "))))
    assert(rows(3L) ===
      ((30L, 5L, (v.take(5) ++ v.drop(10)).mkString(" "))))
  }

  test("cleanCorpus: each stage fires on its planted doc — dup dropped " +
    "BEFORE df (copies can't self-boilerplate), trim executed, quality " +
    "gated, normalization applied") {
    // digit-free unique words — digits ANYWHERE in a word redact to
    // <num> under n36's normalization (the first draft of this test
    // used a1..a33 and learned that the hard way)
    def uniq(p: String, n: Int) = (0 until n)
      .map(i => s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
      .mkString(" ")
    val boiler = "bq bw be br bt"
    val docs = Seq(
      // 1: survives untouched; uppercase + digits prove normalization
      (1L, "Wx " + uniq("a", 33) + " 42"),
      // 2: EXACT dup of 1 after normalization (already lowercased) —
      // keeper drops it, and because the keeper runs before df, doc 1
      // is NOT fully trimmed by its own copy's grams
      (2L, "wx " + uniq("a", 33) + " 42"),
      // 3: too short post-trim — quality-dropped
      (3L, "tiny doc here"),
      // 4 & 5: share the boilerplate 5-gram + 32 unique words each —
      // trimmed by 5, survive at 32 tokens
      (4L, boiler + " " + uniq("c", 32)),
      (5L, uniq("d", 32) + " " + boiler)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanCorpus(docs, 5, 2).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq === Seq(
      (1L, 35L, 0L, "wx " + uniq("a", 33) + " <num>"),
      (4L, 32L, 5L, uniq("c", 32)),
      (5L, 32L, 5L, uniq("d", 32))))
    // split column is the registry's md5-bucket function of doc_id
    val splits = TextAnalysis.cleanCorpus(docs, 5, 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = graft.ops.TextAnalysis
      .splitAssignment(docs.withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    splits.foreach { case (id, s) => assert(s === want(id), s"doc $id") }
  }

  test("datasetCard: per-source volume, dup fraction, and quality rate " +
    "from one hand-checked corpus") {
    val good = (1 to 40).map(i => s"tok$i").mkString(" ") // 40 words, 0 stop
    val docs = Seq(
      (1L, good, "en", "web"),
      (2L, good, "en", "web"),       // exact dup of 1
      (3L, "short doc", "fr", "web"),
      (4L, good, "en", "books"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.datasetCard(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    val web = r("web")
    assert(web.getLong(1) === 3L, "n_docs")
    assert(web.getLong(2) === 2L, "two distinct texts")
    assert(web.getLong(3) === 2L, "en + fr")
    assert(web.getLong(4) === 82L, "40 + 40 + 2 tokens")
    assert(web.getLong(5) === 2L, "both copies of the good text qualify")
    assert(web.getDouble(6) === math.rint((1d - 2d / 3d) * 1e6) / 1e6,
      "dup_frac = 1 - unique/docs, round 6")
    val books = r("books")
    assert(books.getLong(1) === 1L && books.getDouble(6) === 0.0)
    assert(books.getDouble(7) === 40.0, "avg_tokens")
  }

  test("decontamination finds planted cross-split duplicate") {
    // craft doc ids whose md5-bucket puts one in train and one in test,
    // sharing the same word set
    val buckets = (0L until 200L).map { id =>
      id -> (BigInt("0" + java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).take(4).map("%02x".format(_)).mkString, 16) % 100).toInt
    }
    val trainId = buckets.find(_._2 < 80).get._1
    val testId = buckets.find(_._2 >= 90).get._1
    val docs = Seq(
      (trainId, "shared leaked content here", "en"),
      (testId, "here content leaked shared", "en"), // same word set
      (buckets.find(b => b._2 < 80 && b._1 != trainId).get._1,
        "innocent unrelated text", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.decontamination(docs).collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === testId && got.head.getLong(1) === trainId)
  }

  test("tokenCounts: whitespace, subword, and capped BPE-piece counts") {
    val docs = Seq((1L, "ab cd3 ef"), (2L, "abcdefghij x"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(docs).orderBy("doc_id").collect()
    assert(r(0).getInt(1) === 3) // ws tokens
    assert(r(0).getInt(2) === 4) // ab, cd, 3, ef
    assert(r(0).getInt(3) === 4) // every piece already <= 4 chars
    assert(r(1).getInt(2) === 2) // abcdefghij, x
    assert(r(1).getInt(3) === 4) // abcd|efgh|ij + x — the cap splits long words
  }

  test("shardAssignment: complete, deterministic, dense pos per shard") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    val got = TextAnalysis.shardAssignment(docs, 4).collect()
    assert(got.length.toLong === n) // every doc assigned exactly once
    assert(got.map(_.getLong(0)).distinct.length.toLong === n)
    assert(got.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 4))
    // pos is a dense 1..size(shard) rank within each shard
    got.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq === (1 to rows.length).toSeq)
    }
    val again = TextAnalysis.shardAssignment(docs, 4).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    // salted hash: shard boundaries must not mirror the split buckets
    // (same docs hashed unsalted) — at least one doc pair shares a split
    // bucket but not a shard
    val bucketToShards = got.map { r =>
      val id = r.getLong(0)
      val b = (BigInt("0" + java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).take(4).map("%02x".format(_))
        .mkString, 16) % 4).toInt
      b -> r.getLong(1)
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).distinct }
    assert(bucketToShards.values.exists(_.length > 1))
  }

  test("pipelineFunnel: hand corpus — dedup, quality, and split stages") {
    def bucket(id: Long) =
      (BigInt("0" + java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).take(4).map("%02x".format(_))
        .mkString, 16) % 100).toInt
    val trainIds = (0L until 50L).filter(b => bucket(b) < 80)
    val t1 = (1 to 30).map(i => s"w$i").mkString(" ") // 30 words, 0 stop
    val keeper = trainIds.head        // smallest id → the dedup keeper
    val dup = keeper + 40
    val short = trainIds.find(i => i != keeper && i != dup).get
    val docs = Seq((keeper, t1), (dup, t1), (short, "a b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pipelineFunnel(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("0_raw", 3L, 62L),
      ("1_exact_dedup", 2L, 32L),
      ("2_quality", 1L, 30L),
      ("3_train_split", 1L, 30L)))
  }

  test("repetitionQuality: hand-computed ratios, null bigram on 1-word doc") {
    val docs = Seq(
      (1L, "a a b"),     // 3 words, 2 uniq, top 'a'=2; bigrams [a a, a b] all uniq
      (2L, "a a a a"),   // top frac 1.0; bigrams [a a]×3 → dup 2/3
      (3L, "x"))         // no bigrams → null dup_bigram_frac
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionQuality(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) === 3L)
    assert(got(1L).getDouble(2) === 0.666667) // 2/3 uniq
    assert(got(1L).getDouble(3) === 0.666667) // top 'a' 2/3
    assert(got(1L).getDouble(4) === 0.0)
    assert(got(2L).getDouble(2) === 0.25)
    assert(got(2L).getDouble(3) === 1.0)
    assert(got(2L).getDouble(4) === 0.666667) // 1 - 1/3
    assert(got(3L).isNullAt(4))
  }

  test("MaxRunLength ≡ explode→count→max on real documents (codegen + interpreted)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val viaExpr = docs.select(col("doc_id"),
        graft.functions.MaxRunLength.ofSorted(
          array_sort(split(col("text"), " "))).as("top_n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExplode = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").count()
      .groupBy("doc_id").agg(max("count").as("top_n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === viaExplode)
    // edges: empty → 0; null elements break runs and never count
    val edge = Seq((1L, Seq.empty[String]), (2L, Seq("x")),
        (3L, Seq("a", "a", null, "b")))
      .toDF("id", "a")
      .select(col("id"), graft.functions.MaxRunLength.ofSorted(col("a")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edge === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("ngramDecontamination: planted 5-gram overlap across splits") {
    val buckets = (0L until 200L).map { id =>
      id -> (BigInt("0" + java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).take(4).map("%02x".format(_)).mkString, 16) % 100).toInt
    }
    val trainId = buckets.find(_._2 < 80).get._1
    val testId = buckets.find(_._2 >= 90).get._1
    val docs = Seq(
      (trainId, "one two three four five six", "en"),
      // shares exactly the 5-gram "one two three four five" with train;
      // its other two distinct 5-grams are clean
      (testId, "zero one two three four five tail", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.ngramDecontamination(docs, 5).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getLong(0) === testId)
    assert(r.getLong(1) === 3L) // 3 distinct 5-grams in the test doc
    assert(r.getLong(2) === 1L)
    assert(r.getDouble(3) === 0.333333)
  }

  test("bloomDecontamination flags a superset of the exact join's test docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = TextAnalysis.decontamination(docs)
      .select("test_doc").distinct()
      .collect().map(_.getLong(0)).toSet
    val bloom = TextAnalysis.bloomDecontamination(docs)
      .select("test_doc")
      .collect().map(_.getLong(0)).toSet
    // no false negatives (defining Bloom property)
    assert(exact.subsetOf(bloom),
      s"missed: ${exact.diff(bloom)}")
    // false positives bounded: at 1% fpp the flagged set stays close
    val nTest = TextAnalysis.splitAssignment(docs)
      .filter(col("split") === "test").count()
    assert(bloom.size - exact.size <= math.max(5, nTest / 10))
  }

  test("langConfusion row counts sum to the corpus size") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val conf = TextAnalysis.langConfusion(docs).collect()
    assert(conf.map(_.getLong(2)).sum === docs.count())
    // diagonal exists: at least one language predicted as itself
    assert(conf.exists(r => r.getString(0) == r.getString(1)))
  }

  test("sourceCap: at most k per source, deterministic across runs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val capped = TextAnalysis.sourceCap(docs, 3)
    val bySource = capped.collect().groupBy(_.getString(0))
    assert(bySource.values.forall(_.length <= 3))
    assert(bySource.values.exists(_.length === 3)) // sources big enough cap
    // deterministic: a second evaluation picks the same doc ids
    assert(capped.collect().map(_.getLong(1)).toSeq ===
      TextAnalysis.sourceCap(docs, 3).collect().map(_.getLong(1)).toSeq)
  }

  test("tokenBudgetMix equals an in-memory greedy-prefix simulation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 300L
    val got = TextAnalysis.tokenBudgetMix(docs, budget).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact expectation: walk each source in (md5("cap|" + id), id)
    // order, keep docs while the budget is not yet full when one starts
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String = {
      md.reset()
      md.digest(s"cap|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = docs.select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (src, rows) =>
        var cum = 0L; var n = 0L; var tok = 0L
        rows.sortBy(r => (key(r._2), r._2)).foreach { case (_, _, t) =>
          if (cum < budget) { n += 1; tok += t }
          cum += t
        }
        src -> ((n, tok))
      }
    assert(got === expected)
    // monotonicity: doubling the budget never keeps fewer
    val got2 = TextAnalysis.tokenBudgetMix(docs, budget * 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (src, (n, _)) => assert(got2(src) >= n) }
  }

  test("sequencePacking equals an in-memory concat-and-split simulation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cap = 512L
    val got = TextAnalysis.sequencePacking(docs, cap).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String = {
      md.reset()
      md.digest(s"cap|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = docs.select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(" ", -1).length.toLong))
      .groupBy(_._1).flatMap { case (src, rows) =>
        var cum = 0L
        rows.sortBy(r => (key(r._2), r._2)).map { case (_, _, t) =>
          val seq = cum / cap
          cum += t
          ((src, seq), t)
        }.groupBy(_._1).map { case (k, xs) =>
          k -> ((xs.length.toLong, xs.map(_._2).sum))
        }
      }.toMap
    assert(got === expected)
  }

  test("normalizeRedact: lowercases, redacts digit runs, collapses spaces") {
    val docs = Seq(
      (1L, "Call 555  then  1234 NOW", "en", "s", 0L),
      (2L, "no digits here", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.normalizeRedact(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
    val clean1 = "call <num> then <num> now"
    assert(got(1L)._1 === 2)
    assert(got(1L)._2 === clean1.length)
    assert(got(1L)._3 === java.security.MessageDigest.getInstance("MD5")
      .digest(clean1.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(got(2L)._1 === 0)
  }

  test("chunkDocs: stride windows with clamped tail") {
    val words80 = (1 to 80).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words80, "en", "s", 0L), (2L, "tiny doc", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.chunkDocs(docs, size = 32, stride = 24).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // starts 1, 25, 49, 73 → lengths 32, 32, 32, 8
    assert(got.filter(_._1 == 1L).map(c => (c._2, c._3)).toSeq ===
      Seq((0, 32), (1, 32), (2, 32), (3, 8)))
    // doc shorter than one chunk → a single clamped chunk
    assert(got.filter(_._1 == 2L).map(c => (c._2, c._3)).toSeq === Seq((0, 2)))
  }

  test("trainingCorpusCounts keeps only quality keepers") {
    val long30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long30, "en", "s", 0L),
      (2L, long30, "en", "s", 0L),       // exact dup of 1 → dropped
      (3L, "too short", "en", "s", 0L))  // quality-filtered
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.trainingCorpusCounts(docs).collect()
    assert(got.map(_.getLong(2)).sum === 1L) // exactly one survivor
  }

  test("trainingCorpusCounts collapsed front ≡ the keeper-semi-join " +
    "formulation, copies with differing langs included") {
    val long30 = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 35).map(i => s"v$i").mkString(" ")
    // copy group whose copies DISAGREE on lang: the keeper is the min
    // doc_id row and its lang must win in both formulations
    val docs = Seq(
      (5L, long30, "de", "s", 0L), (9L, long30, "en", "s", 0L),
      (2L, other, "fr", "s", 0L), (7L, other, "fr", "s", 0L),
      (3L, "too short", "en", "s", 0L),
      (11L, (1 to 40).map(_ => "the").mkString(" "), "en", "s", 0L)) // stopword-heavy
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the pre-collapse reference: digest keepers, full-corpus semi-join,
    // metrics + filter after
    val keepers = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val ws = split(col("text"), " ") // TextAnalysis.words
    val stopRatio = round(
      size(filter(ws, w => w.isin(TextAnalysis.Stopwords: _*))).cast("double") /
        size(ws), 6)
    val reference = docs.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), size(ws).as("n_words"),
        stopRatio.as("stop_ratio"), TextAnalysis.splitCol.as("split"))
      .filter(col("n_words") >= 30 && col("stop_ratio") <= 0.3)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("total_tokens"))
      .orderBy(col("lang"), col("split"))
    assert(TextAnalysis.trainingCorpusCounts(docs).collect().toSeq ===
      reference.collect().toSeq)
  }

  test("bigramLmScore: hand-computed add-one bigram probabilities") {
    // corpus: doc1 "a b a", doc2 "b a", doc3 "x" (no bigrams → excluded)
    // vocab {a,b,x} → V=3; counts: (a,b)=1, (b,a)=2; contexts: a=1, b=2
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "x"))
      .toDF("doc_id", "text")
    def lnp(cbi: Long, cctx: Long): BigDecimal =
      BigDecimal(math.log((cbi + 1).toDouble / (cctx + 3)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def avg(terms: Seq[BigDecimal]): Double =
      BigDecimal(terms.sum.toDouble / terms.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.bigramLmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      (1L, 2L, avg(Seq(lnp(1, 1), lnp(2, 2)))), // p(b|a), p(a|b)
      (2L, 1L, avg(Seq(lnp(2, 2))))))           // p(a|b)
  }

  test("scoreBigramLm against a persisted model ≡ in-query bigramLmScore") {
    val docs = Seq((1L, "a b a b c"), (2L, "b a"), (3L, "c c a b"))
      .toDF("doc_id", "text")
    val direct = TextAnalysis.bigramLmScore(docs)
      .collect().map(_.toString).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm").toString
    graft.sources.Sinks.writeIfAbsent(
      TextAnalysis.trainBigramLm(docs), s"$tmp/model")
    val viaDisk = TextAnalysis.scoreBigramLm(
        docs, spark.read.parquet(s"$tmp/model"))
      .collect().map(_.toString).toSeq
    assert(viaDisk === direct,
      "the persisted-model path must be bit-equal to the in-query trainer")
  }

  test("scoreBigramLm cross-corpus: unseen bigrams keep the smoothed term") {
    // model corpus "a b a": bigrams (a,b)=1, (b,a)=1; cctx a=1, b=1; V=2
    val model = TextAnalysis.trainBigramLm(Seq((1L, "a b a"))
      .toDF("doc_id", "text"))
    val probe = Seq(
      (10L, "a b"),  // seen:            ln((1+1)/(1+2))
      (11L, "x y"),  // unseen, x unseen context: ln((0+1)/(0+2))
      (12L, "a z"))  // unseen, a context seen:   ln((0+1)/(1+2))
      .toDF("doc_id", "text")
    def expect(cbi: Long, cctx: Long): Double =
      BigDecimal(BigDecimal(math.log((cbi + 1).toDouble / (cctx + 2)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.scoreBigramLm(probe, model).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // an inner join would have dropped doc 11 entirely and doc 12's bigram
    assert(got.toSeq === Seq(
      (10L, 1L, expect(1, 1)),
      (11L, 1L, expect(0, 0)),
      (12L, 1L, expect(0, 1))))
  }

  test("bigramLmScore and sourceDrift are partitioning-invariant") {
    // the decimal-summed terms must make the aggregates order-independent
    // — shuffling rows across a different partition count cannot move a
    // single bit of output
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    for (op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        TextAnalysis.bigramLmScore, TextAnalysis.sourceDrift)) {
      val a = op(docs.repartition(7)).collect().map(_.toString).toSeq
      val b = op(docs.repartition(3)).collect().map(_.toString).toSeq
      assert(a === b)
    }
  }

  test("dupSpanStats: shared bigram fractions on a hand corpus") {
    // d1 "a b c" → {a b, b c}; d2 "a b x" → {a b, b x}; d3 "z" → no
    // bigrams, drops out. Only "a b" appears in two docs.
    val docs = Seq((1L, "a b c"), (2L, "a b x"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.dupSpanStats(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5)))
  }

  test("dupSpanStats: duplicated docs share every gram") {
    val docs = Seq((1L, "w x y z w x"), (2L, "w x y z w x"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.dupSpanStats(docs, 3).collect()
    assert(got.length === 2)
    got.foreach(r => assert(r.getDouble(3) === 1.0))
  }

  test("sourceDrift: hand-computed KL(source || corpus)") {
    // s1: "a a b" → p=(2/3, 1/3); s2: "b b" → p=(0, 1)
    // corpus q: a=2/5, b=3/5
    val docs = Seq(("s1", "a a b"), ("s2", "b b")).toDF("source", "text")
    def kl(terms: (Double, Double)*): Double =
      BigDecimal(terms.map { case (p, q) =>
        BigDecimal(p * math.log(p / q))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.sourceDrift(docs).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq === Seq(
      ("s1", kl((2.0 / 3, 2.0 / 5), (1.0 / 3, 3.0 / 5))),
      ("s2", kl((1.0, 3.0 / 5)))))
  }

  test("boilerplateCoverage: hand corpus — positions, not distinct grams") {
    // bigrams, minDf=2: only "a b" repeats across docs (d1, d2).
    // d1 "a b c d": hot gram at pos 0 covers positions {0,1} → 2/4
    // d2 "a b x y": same → 2/4; d3 "q r s": nothing hot → 0/3
    val docs = Seq((1L, "a b c d"), (2L, "a b x y"), (3L, "q r s"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateCoverage(docs, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 4L, 2L, 0.5), (2L, 4L, 2L, 0.5), (3L, 3L, 0L, 0.0)))
  }

  test("boilerplateCoverage: overlapping hot grams cover a position once") {
    // "a a a a" vs "a a a": every bigram is "a a" (df 2). d1's three
    // hot grams cover {0,1},{1,2},{2,3} — union 4 positions, NOT 6.
    val docs = Seq((1L, "a a a a"), (2L, "a a a")).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateCoverage(docs, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 4L, 4L, 1.0), (2L, 3L, 3L, 1.0)))
  }

  test("boilerplateCoverage: a doc shorter than n scores zero coverage") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateCoverage(docs, 5, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 6L, 6L, 1.0), (2L, 6L, 6L, 1.0), (3L, 2L, 0L, 0.0)))
  }

  test("boilerplate family: the planner's broadcast and shuffled joins " +
    "are bit-equal across coverage/trim/spans — and the two exchange " +
    "strategies actually plan differently") {
    import org.apache.spark.sql.DataFrame
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // the join strategy comes from the planner's size threshold: a large
    // one lets it broadcast the hot frame, -1 forces a gram-key shuffle
    def under[T](threshold: String)(body: => T): T = {
      spark.conf.set(key, threshold)
      try body finally spark.conf.set(key, prev)
    }
    val family = Seq[DataFrame => DataFrame](
      TextAnalysis.boilerplateCoverage(_, 5, 2),
      TextAnalysis.boilerplateTrim(_, 5, 2),
      TextAnalysis.boilerplateSpans(_, 5, 2))
    def runAll() = (family.map(op => rows(op(d))),
      plan(TextAnalysis.boilerplateCoverage(d, 5, 2)))
    val (wantRows, pB) = under("1g")(runAll())
    val (gotRows, pS) = under("-1")(runAll())
    assert(wantRows.forall(_.nonEmpty))
    assert(gotRows === wantRows,
      "coverage, trim and spans must agree across the two strategies")
    assert(pB.contains("BroadcastHashJoin"),
      "under a large threshold the planner must broadcast the hot " +
        "frame:\n" + pB)
    assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"),
      "with broadcast off the table it must shuffle on the gram key:\n" + pS)
    assert(!TextAnalysis.boilerplateCoverage(d, 5, 2)
      .queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "the optimized plan must carry no broadcast hint")
  }

  test("trainingDataBuildSafe: zero off-diagonal leakage in the build " +
    "output; a planted 0.95-jaccard pair the unsafe build's 0.97-decon " +
    "misses ships train-side there but cannot straddle here") {
    import graft.ops.Dedup
    // discover a (train, test) id pair under the HASH split the unsafe
    // build uses — the ids that make the planted pair straddle
    val sp = spark.range(100)
      .select(col("id").as("doc_id"), TextAnalysis.splitCol.as("sp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val trainId = sp.find(_._2 == "train").get._1
    val testId = sp.find(_._2 == "test").get._1
    // 40 shared letter-words (digits would normalize to <num> and
    // collapse), one word edited — raw word-set jaccard 39/41 ≈ 0.95122
    val ws = (0 until 40).map(i =>
      s"w${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val a = ws.mkString(" ")
    val b = (ws.init :+ "zq").mkString(" ")
    val fill = (0 until 4).map { i =>
      val id = 200L + i
      (id, (0 until 35).map(j =>
        s"f${('a' + i).toChar}${('a' + j / 26).toChar}${('a' + j % 26).toChar}")
        .mkString(" "), s"s${i % 2}")
    }
    val docs = (fill :+ ((trainId, a, "s0")) :+ ((testId, b, "s1")))
      .toDF("doc_id", "text", "source")
    // the planted pair must be LSH-proposed and verified at >= 0.3 —
    // the fixture self-checks its own premise
    val vp = Dedup.minhashNearDupPairs(docs, 0.3)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (math.min(trainId, testId), math.max(trainId, testId))
    assert(vp.contains(planted), s"planted pair $planted not proposed: $vp")
    // UNSAFE build, decon tuned for verbatim copies (tau 0.97): the
    // 0.95 pair slips through and the train-side endpoint SHIPS while
    // its near-dup sits in test — the n97 leak, inside the dataset
    // minDf=3 keeps the boilerplate trim off the planted df-2 grams
    // (at minDf=2 the trim would gut BOTH endpoints below the 30-word
    // gate and the leak question would never arise)
    val unsafe = TextAnalysis.trainingDataBuild(
      docs, 5, 3, 0.97, 0.5, 100000L, 4)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(unsafe.contains(trainId),
      "the unsafe build must ship the leaking train endpoint")
    // SAFE build at the same decon threshold: the pair's component
    // hashes whole, so no verified pair can straddle the output vs the
    // safe assignment's val/test — zero off-diagonal BY CONSTRUCTION
    def offDiagonal(built: Set[Long], corpus: org.apache.spark.sql.DataFrame,
                    thr: Double): Int = {
      val asg = Dedup.leakageSafeSplits(corpus, thr)
        .select(col("doc_id"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      Dedup.minhashNearDupPairs(corpus, thr)
        .select(col("doc_a"), col("doc_b")).collect()
        .count { r =>
          val (x, y) = (r.getLong(0), r.getLong(1))
          (built.contains(x) && asg(y) != "train") ||
            (built.contains(y) && asg(x) != "train")
        }
    }
    val safe = TextAnalysis.trainingDataBuildSafe(
      docs, 5, 3, 0.97, 0.5, 100000L, 4, 0.3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(offDiagonal(safe, docs, 0.3) === 0)
    // and on the real corpus, default knobs
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val built = TextAnalysis.trainingDataBuildSafe(d)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(built.nonEmpty)
    assert(offDiagonal(built, d, 0.3) === 0,
      "no verified near-dup pair may straddle the shipped train set " +
        "and the safe assignment's val/test")
  }

  test("trainingDataBuildSafeWith(paragraph cleaner) ≡ its standalone " +
    "stages composed: cleaning columns equal n143's rows verbatim, " +
    "every shipped doc is safe-split train, and the seam genuinely " +
    "swaps the stage (output differs from the n83-cleaner build)") {
    import graft.ops.Dedup
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val built = TextAnalysis.trainingDataBuildSafeWith(
      d, dd => TextAnalysis.cleanCorpusParagraphRaw(dd, 20))
      .collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getString(6)))
    assert(built.nonEmpty)
    // 1. cleaning columns come from the STANDALONE paragraph cleaner,
    // row for row (the build may only drop/reorder docs, never alter
    // a doc's cleaning outcome)
    val standalone = TextAnalysis.cleanCorpusParagraph(d, 20).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    built.foreach { case (id, nTok, nRem, tc) =>
      assert(standalone.get(id).contains((nTok, nRem, tc)),
        s"doc $id diverges from the standalone n143 cleaner")
    }
    // 2. shipped docs are exactly train-side under the SAFE (component)
    // assignment the build derives
    val asg = Dedup.leakageSafeSplits(d, 0.3)
      .select(col("doc_id"), col("split")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    built.foreach { case (id, _, _, _) =>
      assert(asg(id) === "train", s"doc $id shipped from ${asg(id)}")
    }
    // 3. the seam swaps the stage: the paragraph-cleaner build differs
    // from the n83-cleaner build (different survivor set or accounting)
    val trimBuild = TextAnalysis.trainingDataBuildSafe(d).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getString(6)))
    assert(built.toSeq != trimBuild.toSeq,
      "paragraph and trim cleaner builds coincide — the seam is dead")
  }

  test("trainingDataBuildSafeWith(substring cleaner) ≡ its standalone " +
    "stages composed: cleaning columns equal n126's rows verbatim and " +
    "every shipped doc is safe-split train (the third cleaner through " +
    "the one seam)") {
    import graft.ops.Dedup
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val built = TextAnalysis.trainingDataBuildSafeWith(
      d, dd => TextAnalysis.cleanCorpusSubstringRaw(dd, 5))
      .collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getString(6)))
    assert(built.nonEmpty)
    val standalone = TextAnalysis.cleanCorpusSubstring(d, 5).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    built.foreach { case (id, nTok, nRem, tc) =>
      assert(standalone.get(id).contains((nTok, nRem, tc)),
        s"doc $id diverges from the standalone n126 cleaner")
    }
    val asg = Dedup.leakageSafeSplits(d, 0.3)
      .select(col("doc_id"), col("split")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    built.foreach { case (id, _, _, _) =>
      assert(asg(id) === "train", s"doc $id shipped from ${asg(id)}")
    }
  }

  test("paragraphDedupBlocks: k-word blocks dedup keep-first; the " +
    "partial tail block participates") {
    // k=2 blocks: doc 1 = [a b][c d], doc 2 = [a b][x] — doc 2's first
    // block is a copy of doc 1's, its 1-word tail is unique
    val docs = Seq((1L, "a b c d"), (2L, "a b x")).toDF("doc_id", "text")
    val got = TextAnalysis.paragraphDedupBlocks(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 0L, "a b c d"), (2L, 2L, 1L, "x")))
  }

  test("paragraphDedupBlocks reconciles with dupSubstringDedup (n122) " +
    "on a block-ALIGNED planted copy: same tokens removed") {
    // doc 20 copies doc 10's first 5-word block at a block-aligned
    // offset; all other words are globally unique, so no straddling
    // 5-window duplicates exist and both granularities must remove
    // exactly the 5 copied tokens from doc 20 and nothing from doc 10
    val docs = Seq(
      (10L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (20L, "b1 b2 b3 b4 b5 a1 a2 a3 a4 a5 b6 b7 b8 b9 b10"))
      .toDF("doc_id", "text")
    val para = TextAnalysis.paragraphDedupBlocks(docs, 5).collect()
      .map(r => (r.getLong(0),
        r.getString(3).split(" ").count(_.nonEmpty))).toMap
    val sub = TextAnalysis.dupSubstringDedup(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(sub === List((10L, 10L, 0L), (20L, 15L, 5L)))
    // surviving token counts agree: n_tokens − n122's n_removed
    assert(para === Map(10L -> 10, 20L -> 10))
  }

  test("paragraphDedupBySource rides the block accounting verbatim") {
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "a b x y", "s1"), (3L, "q r s t", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.paragraphDedupBySource(docs, 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === Seq(
      ("s1", 2L, 4L, 1L, 0.25), ("s2", 1L, 2L, 0L, 0.0)))
  }

  test("bpeMerges: hand-computed merge sequence, leftmost-first overlaps") {
    // corpus: "aaab aaab ab" → word freqs: aaab×2, ab×1
    // round 1: pairs (a,a)×2·2=4? no — PER WORD adjacent pairs weighted
    // by word freq: aaab = [a,a,a,b] → (a,a)×2, (a,b)×1, each ×2; ab →
    // (a,b)×1. counts: (a,a)=4, (a,b)=3 → merge (a,a) → aa
    // aaab → leftmost-first: [aa,a,b]; ab → [a,b]
    // round 2: (aa,a)×2, (a,b)×2+1=3 → merge (a,b) → ab
    // aaab → [aa,ab]; ab → [ab]
    // round 3: (aa,ab)×2 → merge → aaab; round 4: no pairs left → stop
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
  }

  test("bpeTokenize: trained rules segment seen and UNSEEN words alike") {
    // rules from the hand corpus above: (a,a)→aa, (a,b)→ab, (aa,ab)→aaab
    val train = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val rules = TextAnalysis.bpeMerges(train, 10)
    // seen words collapse fully: aaab→[aaab], ab→[ab] → 3 pieces / 3 toks
    // unseen "aab": [a,a,b] →(a,a)→ [aa,b] →(a,b) no match (last is aa)
    // → 2 pieces; "b" → 1 piece
    val got = TextAnalysis.bpeTokenize(
      Seq((1L, "aaab aaab ab"), (2L, "aab b")).toDF("doc_id", "text"),
      rules).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 3L, 3L, 1.0), (2L, 2L, 3L, 1.5)))
  }

  test("contaminationReport ≡ its three component detectors composed — " +
    "including a SHORT contaminated test doc the gram detector can't see") {
    // split read back from the real splitCol, then plant: an exact
    // test→train copy, a 4-word test→train copy (no 5-grams — the
    // fingerprint and minhash detectors must still surface it in the
    // report), and otherwise-unique texts
    val ids = (1L to 60L)
    val splits = TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val testIds = ids.filter(splits(_) == "test")
    val trainIds = ids.filter(splits(_) == "train")
    val (copyTest, copyTrain) = (testIds.head, trainIds.head)
    val (shortTest, shortTrain) = (testIds(1), trainIds(1))
    val docs = ids.map { i =>
      val text =
        if (i == copyTest || i == copyTrain) "p q r s t u v w"
        else if (i == shortTest || i == shortTrain) "g h i j"
        else s"u$i v$i w$i x$i y$i z$i"
      (i, text)
    }.toDF("doc_id", "text")
    val rep = TextAnalysis.contaminationReport(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    // components, independently; base = every test doc
    val ng = TextAnalysis.ngramDecontamination(docs, 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val exCnt = TextAnalysis.decontamination(docs).collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val nrMax = graft.ops.Dedup.minhashDecontamination(docs, 0.0).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).max }
    val want = testIds.sorted.map { t =>
      (t, ng.get(t).map(_._1).getOrElse(0L), ng.get(t).map(_._2),
        exCnt.getOrElse(t, 0L), nrMax.get(t))
    }
    assert(rep.toSeq === want)
    // the full-length copy: flagged by all three detectors
    val copyRow = rep.find(_._1 == copyTest).get
    assert(copyRow === ((copyTest, 4L, Some(1.0), 1L, Some(1.0))))
    // the SHORT copy: no grams to measure (n_grams 0, frac NULL) yet
    // present in the report with the exact and near-dup flags set
    val shortRow = rep.find(_._1 == shortTest).get
    assert(shortRow === ((shortTest, 0L, None, 1L, Some(1.0))))
    // a clean test doc: a row with nothing flagged
    val cleanRow = rep.find(_._1 == testIds(2)).get
    assert(cleanRow._3 === Some(0.0) && cleanRow._4 === 0L)
  }

  test("dsirWeights: naive Scala recompute on a synthetic corpus") {
    // split labels come from the REAL splitCol (md5-bucketed), so the
    // naive oracle reads them back rather than assuming any assignment
    val docs = (1L to 60L)
      .map(i => (i, s"w${i % 5} w${(i + 1) % 7} common"))
      .toDF("doc_id", "text")
    val splits = TextAnalysis
      .splitAssignment(docs.withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val toks = (1L to 60L).map(i =>
      i -> s"w${i % 5} w${(i + 1) % 7} common".split(" ").toSeq).toMap
    val vocab = toks.values.flatten.toSet
    def cnt(split: String): Map[String, Long] = toks
      .filter { case (id, _) => splits(id) == split }
      .values.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val ct = cnt("val"); val cr = cnt("train")
    val nt = ct.values.sum; val nr = cr.values.sum; val v = vocab.size
    def weight(ws: Seq[String]): Double = {
      val terms = ws.map { w =>
        BigDecimal(
          math.log((ct.getOrElse(w, 0L) + 1).toDouble / (nt + v)) -
            math.log((cr.getOrElse(w, 0L) + 1).toDouble / (nr + v)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      BigDecimal(terms.sum.toDouble / terms.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = toks.toSeq
      .filter { case (id, _) => splits(id) == "train" }
      .sortBy(_._1)
      .map { case (id, ws) => (id, ws.size.toLong, weight(ws)) }
    assert(want.nonEmpty, "fixture must land train docs")
    val got = TextAnalysis.dsirWeights(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === want)
  }

  test("dsirWeights: target-looking docs outscore off-target docs") {
    // the split is a pure function of doc_id, so build texts AFTER
    // reading it back: every val (target) doc says q, train docs split
    // between q and z — q-made train docs must then strictly outscore
    val ids = (1L to 80L)
    val splits = TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val docs = ids.map { i =>
      (i, if (splits(i) == "val" || i % 2 == 0) "q q q q" else "z z z z")
    }.toDF("doc_id", "text")
    val got = TextAnalysis.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val qW = got.collect { case (id, w) if id % 2 == 0 => w }
    val zW = got.collect { case (id, w) if id % 2 == 1 => w }
    assert(qW.nonEmpty && zW.nonEmpty)
    assert(qW.min > zW.max,
      s"q-docs must outscore z-docs: q=${qW.toSet} z=${zW.toSet}")
  }

  test("dsirWeightsHashed: rank agreement with the exact-vocabulary " +
    "anchor on the fixtures — the model frame is bucket-bounded") {
    // fixture vocabularies are tiny vs 10⁴ buckets, so hash collisions
    // are absent-or-rare and the hashed model must reproduce the
    // anchor's RANKING of train docs (the selection surface that
    // matters); exact weight values may differ only via collisions
    val docs = (1L to 120L)
      .map(i => (i, s"w${i % 11} w${(i + 3) % 13} w${i % 7} common text"))
      .toDF("doc_id", "text")
    val exact = TextAnalysis.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
    val hashed = TextAnalysis.dsirWeightsHashed(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
    assert(exact.map(_._1).toSeq === hashed.map(_._1).toSeq,
      "both forms must score the same train docs")
    // Spearman rank agreement ≥ 0.99 (ties broken by doc_id on both)
    def ranks(xs: Array[(Long, Double)]): Map[Long, Int] =
      xs.sortBy { case (id, w) => (-w, id) }.zipWithIndex
        .map { case ((id, _), r) => id -> r }.toMap
    val re = ranks(exact); val rh = ranks(hashed)
    val n = re.size.toDouble
    val d2 = re.map { case (id, r) => math.pow(r - rh(id), 2) }.sum
    val spearman = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(spearman >= 0.99,
      s"hashed model must preserve the anchor's ranking: rho=$spearman")
    // the production contract: the model is bucket-bounded whatever the
    // corpus — a 3-bucket model still runs (collisions fold features)
    val tiny = TextAnalysis.dsirWeightsHashed(docs, buckets = 3).collect()
    assert(tiny.length === exact.length)
    // and the selection twin ranks the hashed weights deterministically
    val sel1 = TextAnalysis.dsirSelectHashed(docs, 10).collect().toSeq
    val sel2 = TextAnalysis.dsirSelectHashed(docs, 10).collect().toSeq
    assert(sel1 === sel2 && sel1.size === 10)
  }

  test("qualityClassifierCalibrationHashed: same calibration curve as " +
    "the anchor on a collision-free fixture") {
    // with disjoint tiny vocabularies and 10⁴ buckets the hashed model
    // is the anchor's model under a renamed feature axis — the sweep
    // output must be IDENTICAL row for row
    val ids = (1L to 120L)
    val splits = TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val docs = ids.map { i =>
      val good = "alpha beta gamma delta " * 10 // 40 words, no stopwords→label drivers
      val bad = "the of and " * 4               // 12 words, short + stoppy
      (i, if (i % 2 == 0) good.trim else bad.trim)
    }.toDF("doc_id", "text")
    assert(ids.exists(i => splits(i) == "val"), "fixture must land val docs")
    val anchor = TextAnalysis.qualityClassifierCalibration(docs).collect()
    val hashed = TextAnalysis.qualityClassifierCalibrationHashed(docs)
      .collect()
    assert(anchor.map(_.toSeq).toSeq === hashed.map(_.toSeq).toSeq)
  }

  test("qualityClassifierCalibration: disjoint-vocab classes separate " +
    "perfectly at threshold 0; counts and monotonicity hold") {
    // the split is a pure function of doc_id — read it back first, then
    // plant texts so both classes land in train AND val
    val ids = (1L to 120L)
    val splits = TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val good = (1 to 35).map(i => s"g$i").mkString(" ") // ≥30 words, 0 stop
    val bad = "the the the spam junk"                   // short + stoppy
    val docs = ids.map(i => (i, if (i % 2 == 0) good else bad))
      .toDF("doc_id", "text")
    val nVal = ids.count(i => splits(i) == "val")
    val nValPos = ids.count(i => splits(i) == "val" && i % 2 == 0)
    assert(nVal > 0 && nValPos > 0 && nValPos < nVal,
      "fixture must land both classes in the val split")
    val rows = TextAnalysis.qualityClassifierCalibration(docs).collect()
    assert(rows.length === 13)
    rows.foreach { r =>
      assert(r.getLong(1) === nVal.toLong)              // n_docs = |val|
      assert(r.getLong(3) + r.getLong(5) === nValPos.toLong) // tp+fn
    }
    // disjoint vocabularies → NB separates perfectly at threshold 0
    val t0 = rows.find(_.getDouble(0) == 0.0).get
    assert(t0.getLong(3) === nValPos.toLong && t0.getLong(4) === 0L)
    assert(t0.getDouble(6) === 1.0 && t0.getDouble(7) === 1.0 &&
      t0.getDouble(8) === 1.0)
    // predictions can only shrink as the threshold rises
    val preds = rows.sortBy(_.getDouble(0)).map(_.getLong(2))
    assert(preds.zip(preds.tail).forall { case (a, b) => a >= b })
  }

  test("temperatureMix: α=0 flattens to uniform shares, α=1 is " +
    "proportional, and the realized sample respects the plan") {
    // big source: 60 docs × 10 tokens; small: 6 docs × 10 tokens
    val txt = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = ((1L to 60L).map((_, txt, "big")) ++
      (61L to 66L).map((_, txt, "small"))).toDF("doc_id", "text", "source")
    def byName(alpha: Double, budget: Long) =
      TextAnalysis.temperatureMix(docs, alpha, budget).collect()
        .map(r => r.getString(0) -> r).toMap
    // α=0: w = 1 per source → equal sampling shares
    val flat = byName(0.0, 300L)
    assert(flat("big").getDouble(3) === 0.5 && flat("small").getDouble(3) === 0.5)
    // α=1: shares proportional to token counts (600 vs 60 → 10/11, 1/11)
    val prop = byName(1.0, 300L)
    assert(math.abs(prop("big").getDouble(3) - 600.0 / 660) < 1e-6)
    assert(math.abs(prop("small").getDouble(3) - 60.0 / 660) < 1e-6)
    // α=0.5 boosts the small source past its proportional share
    val mid = byName(0.5, 300L)
    assert(mid("small").getDouble(3) > 60.0 / 660)
    assert(mid("big").getDouble(3) < 600.0 / 660)
    mid.values.foreach { r =>
      // thresholds never exceed the full range; kept ⊆ total
      assert(r.getLong(5) <= 1000000L)
      assert(r.getLong(6) <= r.getLong(1) && r.getLong(7) <= r.getLong(2))
    }
    // a budget covering everything keeps everything (thresh = 1e6)
    val all = byName(0.0, 100000L)
    assert(all.values.forall(r => r.getLong(5) === 1000000L &&
      r.getLong(6) === r.getLong(1) && r.getLong(7) === r.getLong(2)))
  }

  test("unimaxMix: waterfill saturates small sources and splits the " +
    "remainder equally; all-integer allocations") {
    // capacities at maxEpochs=2: A=20, B=200, C=2000
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = (Seq((1L, mk(10), "A"), (2L, mk(100), "B")) ++
      (3L to 12L).map((_, mk(100), "C"))).toDF("doc_id", "text", "source")
    def run(budget: Long) = TextAnalysis.unimaxMix(docs, budget, 2.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(4), r.getDouble(5))).toMap
    // budget 1000: A, B saturate (20 + 200), C takes the leftover 780
    val mid = run(1000L)
    assert(mid("A") === ((20L, 2.0)))
    assert(mid("B") === ((200L, 2.0)))
    assert(mid("C") === ((780L, 0.78)))
    // budget ≥ total capacity: everything saturates at maxEpochs
    val big = run(10000L)
    assert(Seq("A", "B", "C").forall(s => big(s)._2 === 2.0))
    // budget below the smallest equal split: nobody saturates, equal
    // integer shares
    val small = run(30L)
    assert(small("A") === ((10L, 1.0)))
    assert(small("B") === ((10L, 0.1)))
    assert(small("C") === ((10L, 0.01)))
  }

  test("zipfFit: an exact power law fits slope −1 with r² 1; " +
    "degenerate sources degrade to NULLs, not errors") {
    def rep(w: String, n: Int) = Seq.fill(n)(w)
    val docs = Seq(
      // tf = 12/rank exactly: ln(tf) = ln 12 − ln(rank), perfectly linear
      (1L, (rep("a", 12) ++ rep("b", 6) ++ rep("c", 4) ++ rep("d", 3))
        .mkString(" "), "zipf"),
      (2L, rep("solo", 7).mkString(" "), "single"),
      (3L, (rep("p", 5) ++ rep("q", 5) ++ rep("r", 5) ++ rep("s", 5))
        .mkString(" "), "flat")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.zipfFit(docs, 100).collect()
      .map(r => r.getString(0) -> r).toMap
    val z = got("zipf")
    assert(z.getLong(1) === 4L)
    assert(math.abs(z.getDouble(2) + 1.0) < 1e-4, s"slope ${z.getDouble(2)}")
    assert(math.abs(z.getDouble(3) - math.log(12.0)) < 1e-4)
    assert(z.getDouble(4) > 0.9999)
    val s1 = got("single") // one point fits nothing
    assert(s1.getLong(1) === 1L && s1.isNullAt(2) && s1.isNullAt(3) &&
      s1.isNullAt(4))
    val f = got("flat") // zero y-variance: slope 0, r² NULL (or ~0 if the
    // decimal-rounded moments miss exact zero by an ulp — both engines
    // compute the same doubles either way)
    assert(f.getLong(1) === 4L)
    assert(f.getDouble(2) === 0.0)
    assert(math.abs(f.getDouble(3) - math.log(5.0)) < 1e-4)
    assert(f.isNullAt(4) || math.abs(f.getDouble(4)) < 1e-3)
  }

  test("boilerplateSpans: maximal islands with 1-based starts; " +
    "overlapping hot grams merge into one span") {
    // docs 1,2 share 'a b c d e' (positions 1-5 in doc 1) and doc 1
    // repeats it shifted by one word later ('x' then again) — the two
    // covered runs in doc 1 merge where they touch
    val docs = Seq(
      (1L, "a b c d e x a b c d e"),   // grams at pos 1 and 7 → spans 1-5, 7-11
      (2L, "z a b c d e y"),           // one span 2-6
      (3L, "nothing shared here at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateSpans(docs, 5, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1, 5L), (1L, 7, 5L), (2L, 2, 5L)))
  }

  test("boilerplateSpans: Σ span_len per doc ≡ boilerplateCoverage's " +
    "n_cov (shared machinery cannot disagree)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val spans = TextAnalysis.boilerplateSpans(docs, 5, 2)
      .groupBy("doc_id").agg(sum("span_len").as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cov = TextAnalysis.boilerplateCoverage(docs, 5, 2)
      .filter(col("n_cov") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(spans === cov)
    assert(spans.nonEmpty)
  }

  test("temperatureMixPlan ≡ temperatureMix's plan columns (the n99 " +
    "factoring cannot drift from the n87 surface)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val withTok = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).as("n_tok"))
    val fromHelper = TextAnalysis.temperatureMixPlan(withTok, 0.5, 20000L)
      .orderBy("source").collect().map(_.toSeq)
    val fromMix = TextAnalysis.temperatureMix(docs, 0.5, 20000L)
      .select("source", "n_docs", "n_tokens", "p_samp", "target_tokens",
        "keep_thresh")
      .collect().map(_.toSeq)
    assert(fromHelper.toSeq === fromMix.toSeq)
  }

  test("trainingDataBuild ≡ its registry stages composed step by step") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val got = TextAnalysis.trainingDataBuild(docs, 5, 2, 0.5, 0.5,
      20000L, 8)
    val cleaned = TextAnalysis.cleanCorpus(docs, 5, 2)
      .filter($"split" === "train")
    val dropped = ops.Dedup.minhashDecontaminationCollapsed(docs, 0.5)
      .select($"train_doc".as("doc_id")).distinct()
    val train = cleaned.join(dropped, Seq("doc_id"), "left_anti")
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .withColumn("n_tok", $"n_tokens")
    val plan = TextAnalysis.temperatureMixPlan(train, 0.5, 20000L)
    val kept = train.withColumn("b6", TextAnalysis.tmixBucket)
      .join(plan.select($"source", $"keep_thresh"), Seq("source"))
      .filter($"b6" < $"keep_thresh")
    val sa = TextAnalysis.shardAssignment(kept, 8)
    val expected = kept.join(sa, Seq("doc_id"))
      .select($"doc_id", $"source", $"shard", $"pos", $"n_tokens",
        $"n_removed", $"text_clean")
      .orderBy($"doc_id")
    val gotRows = got.collect().map(_.toSeq).toSeq
    assert(gotRows === expected.collect().map(_.toSeq).toSeq)
    // the fixture must actually exercise every stage: survivors exist,
    // and the mix dropped SOME docs (keep_thresh below 100%)
    assert(gotRows.nonEmpty)
    assert(gotRows.size < cleaned.count())
  }

  test("piiRedact: planted emails/URLs/IPs scrubbed in url→email→ip " +
    "order, counts measured on the original text") {
    def md5of(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "contact bob.smith+x@example.org or visit https://a.example.com/p?q=1 now"),
      // the IP rides INSIDE the URL: the url scrub swallows it first, but
      // the per-pattern count still sees it on the original text
      (2L, "server https://10.0.0.1/admin and bare 192.168.1.250 up"),
      (3L, "no pii here at all"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiRedact(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(got(0) === ((1L, 1, 1, 0,
      md5of("contact <email> or visit <url> now"))))
    assert(got(1) === ((2L, 1, 0, 2,
      md5of("server <url> and bare <ip> up"))))
    assert(got(2) === ((3L, 0, 0, 0, md5of("no pii here at all"))))
  }

  test("dsirSelect: deterministic Gumbel top-k over the n73 weights, " +
    "descending keys, contiguous ranks") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sel = TextAnalysis.dsirSelect(docs, 20).collect()
    assert(sel.length === 20)
    assert(sel.map(_.getInt(0)).toSeq === (1 to 20))
    val keys = sel.map(_.getDouble(4))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    // every selected doc carries exactly its n73 weight row
    val w = TextAnalysis.dsirWeights(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    sel.foreach { r =>
      assert(w(r.getLong(1)) === ((r.getLong(2), r.getDouble(3)))) }
    val again = TextAnalysis.dsirSelect(docs, 20).collect()
      .map(_.toSeq)
    assert(again.toSeq === sel.map(_.toSeq).toSeq)
  }

  test("corpusDigest: order- and partitioning-invariant; any doc edit " +
    "moves its source's checksum") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = TextAnalysis.corpusDigest(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val shuffled = TextAnalysis.corpusDigest(
      docs.repartition(17).sortWithinPartitions(col("n_chars"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(base.toSeq === shuffled.toSeq)
    // flip one document's text: exactly that source's checksum moves
    val edited = docs.withColumn("text",
      when(col("doc_id") === 7L, concat(col("text"), lit(" tampered")))
        .otherwise(col("text")))
    val src7 = docs.filter(col("doc_id") === 7L)
      .select("source").head().getString(0)
    val after = TextAnalysis.corpusDigest(edited).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val before = base.map(t => t._1 -> t._3).toMap
    assert(after(src7) !== before(src7))
    assert((before - src7) === (after - src7))
  }

  test("approxVocabBySource: HLL estimate within 5% of the exact " +
    "per-source distinct count") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val approx = TextAnalysis.approxVocabBySource(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = docs
      .select($"source", explode(split($"text", " ")).as("word"))
      .groupBy($"source").agg(countDistinct($"word").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    for ((src, ex) <- exact) {
      val ap = approx(src).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05,
        s"$src: approx $ap vs exact $ex")
    }
  }

  test("qualityRulesReport: each planted violation lands on exactly its " +
    "rule; all_rules counts docs failing ANY rule once") {
    val docs = Seq(
      (1L, "a b", "en"),                        // min_words + mean_word_len
      (2L, "the cat sat on the mat", "en"),     // clean
      (3L, "cat dog bird fish wolf", "en"),     // no stopword
      (4L, "AAAA BBBB CCCC DDDD EEEE", "en"),   // upper ratio + no stopword
      (5L, "!!!! !!!! !!!! !!!! !!!!", "en")    // punct ratio + no stopword
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.qualityRulesReport(docs).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      "min_words" -> ((5L, 1L)), "max_words" -> ((5L, 0L)),
      "mean_word_len" -> ((5L, 1L)), "stopword_presence" -> ((5L, 3L)),
      "punct_ratio" -> ((5L, 1L)), "upper_ratio" -> ((5L, 1L)),
      "all_rules" -> ((5L, 4L))))
  }

  test("qualityRulesReport: reconciles with a naive per-doc recompute " +
    "from qualityFeatures on real data") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val feats = TextAnalysis.qualityFeatures(docs).collect().map { r =>
      (r.getString(1), r.getInt(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7))
    }
    def fails(nW: Int, mwl: Double, stop: Double, punct: Double,
              upper: Double): Map[String, Boolean] = Map(
      "min_words" -> (nW < 5), "max_words" -> (nW > 5000),
      "mean_word_len" -> !(mwl >= 2.0 && mwl <= 12.0),
      "stopword_presence" -> !(stop > 0.0),
      "punct_ratio" -> (punct > 0.2), "upper_ratio" -> (upper > 0.2))
    val want = feats.groupBy(_._1).flatMap { case (lang, rows) =>
      val perDoc = rows.map(t => fails(t._2, t._3, t._4, t._5, t._6))
      val rules = perDoc.head.keys.map(k =>
        (lang, k) -> perDoc.count(_(k)).toLong).toMap
      rules + ((lang, "all_rules") ->
        perDoc.count(_.values.exists(identity)).toLong)
    }
    val got = TextAnalysis.qualityRulesReport(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got === want)
  }

  test("ccnetBuckets: six equal-score docs split 2/2/2 by the doc_id " +
    "tiebreak; unscoreable single-word docs carry no bucket") {
    val docs = ((1L to 6L).map(i => (i, "the cat sat on the mat", "web")) :+
      (7L, "solo", "web"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.ccnetBuckets(docs).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    // identical texts → identical avg_lnp; percent_rank's total order
    // falls back to doc_id, so the terciles are exactly 2/2/2
    assert(got === Map(
      "head" -> ((2L, 12L)), "middle" -> ((2L, 12L)), "tail" -> ((2L, 12L))))
  }

  test("ccnetBuckets: reconciles with a naive Scala tercile over " +
    "bigramLmScore on real data") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val meta = docs.select($"doc_id", $"source",
        size(split($"text", " ")).as("n_tokens")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2).toLong)).toMap
    val scores = TextAnalysis.bigramLmScore(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val want = scores.map { case (id, lnp) => (meta(id)._1, id, lnp) }
      .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        val ordered = rows.sortBy { case (_, id, lnp) => (-lnp, id) }
        val n = ordered.size
        ordered.zipWithIndex.map { case ((_, id, lnp), i) =>
          val pr = if (n == 1) 0.0 else i.toDouble / (n - 1)
          val bucket = if (pr < 1.0 / 3) "head"
            else if (pr < 2.0 / 3) "middle" else "tail"
          (src, bucket, id, lnp)
        }
      }
      .groupBy(t => (t._1, t._2)).view.mapValues { rows =>
        (rows.size.toLong, rows.map(t => meta(t._3)._2).sum,
          rows.map(_._4).min, rows.map(_._4).max)
      }.toMap
    val got = TextAnalysis.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got === want)
  }
}
