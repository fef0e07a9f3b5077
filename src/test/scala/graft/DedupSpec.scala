package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dedup operators: the custom MinHashSignature expression must equal the
  * compositional explode→groupBy(min) form it replaced, and shingle /
  * simhash edge cases hold.
  */
class DedupSpec extends SparkSpec {

  test("dedupSavings: reconciles with the cluster operators — CC drops " +
    ">= star on the same graph, both with exact token accounting") {
    import org.apache.spark.sql.functions.col
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val toks = docs.selectExpr("doc_id", "size(split(text, ' ')) t")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    def want(cl: Array[(Long, Seq[Long])]) = {
      val dropped = cl.flatMap { case (hub, ms) => ms.filterNot(_ == hub) }
      (cl.length.toLong, cl.map(_._2.size).sum.toLong,
        dropped.length.toLong, dropped.map(toks).sum)
    }
    val cc = graft.ops.Dedup.dupClusters(
      graft.ops.Dedup.minhashNearDupPairs(docs, 0.3)).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]]("members").toSeq)
    val star = graft.ops.Dedup.starClusters(docs, 0.3).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]]("members").toSeq)
    val got = graft.ops.Dedup.dedupSavings(docs, 0.3).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("cc") === want(cc))
    assert(got("star") === want(star))
    assert(got("cc")._3 >= got("star")._3,
      "the transitive keeper must drop at least as many docs")
    assert(got("cc")._2 === got("star")._2, "same doc coverage")
  }

  test("lshPrecision: reconciles with the n6 pair list — candidates, " +
    "verified-at-τ count, and the ratio") {
    import org.apache.spark.sql.functions.col
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val all = graft.ops.Dedup.minhashNearDupPairs(docs, 0.0).collect()
      .map(_.getDouble(2))
    val got = graft.ops.Dedup.lshPrecision(docs, 0.3).collect()(0)
    assert(got.getLong(0) === all.length.toLong)
    assert(got.getLong(1) === all.count(_ >= 0.3).toLong)
    assert(got.getDouble(2) ===
      BigDecimal(all.count(_ >= 0.3).toDouble / all.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("starClusters: diameter ≤ 2 (every member verified-adjacent to " +
    "its hub), refines the CC partition, covers the same docs, and a " +
    "planted chain splits where CC merges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chain: a~b and b~c verify at τ=0.3 (J=1/3 each), a~c shares
    // nothing — CC would merge all three, star must keep diameter ≤ 2
    def ws(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val planted = Seq(
      (200001L, ws("u", 1 to 10) + " " + ws("a", 1 to 10)),
      (200002L, ws("u", 1 to 20)),
      (200003L, ws("u", 11 to 20) + " " + ws("c", 1 to 10))
    ).toDF("doc_id", "text")
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).unionByName(planted)
    val edges = graft.ops.Dedup.minhashNearDupPairs(docs, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def adjacent(x: Long, y: Long) =
      edges((math.min(x, y), math.max(x, y)))
    val star = graft.ops.Dedup.starClusters(docs, 0.3).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]]("members").toSeq)
    star.foreach { case (hub, ms) =>
      assert(ms.contains(hub), s"cluster $hub must contain its center")
      ms.filterNot(_ == hub).foreach(m =>
        assert(adjacent(hub, m),
          s"member $m must be a VERIFIED neighbor of hub $hub — " +
            "diameter ≤ 2 is the operator's contract"))
    }
    // same coverage as CC, and every star cluster sits inside one CC
    // cluster (star refines the transitive partition)
    val cc = graft.ops.Dedup.dupClusters(
      graft.ops.Dedup.minhashNearDupPairs(docs, 0.3)).collect()
      .flatMap(r => r.getAs[scala.collection.Seq[Long]]("members")
        .map(_ -> r.getLong(0))).toMap
    assert(star.flatMap(_._2).toSet === cc.keySet)
    star.foreach { case (hub, ms) =>
      assert(ms.map(cc).distinct.size === 1, s"cluster $hub crosses CC")
    }
    // the planted chain: when both edges verified, CC merges the three
    // into one cluster; star splits them with diameter ≤ 2
    if (adjacent(200001L, 200002L) && adjacent(200002L, 200003L) &&
        !edges((200001L, 200003L))) {
      assert(cc(200001L) === cc(200003L), "CC merges the chain ends")
      val starOf = star.flatMap { case (h, ms) => ms.map(_ -> h) }.toMap
      assert(starOf(200001L) !== starOf(200003L),
        "star clustering must not merge chain ends")
    }
  }

  test("clusterChainingAudit ≡ naive union-find + edge stats over the " +
    "verified pair graph (real data + a planted chain with a weak " +
    "min edge)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // planted chain: A~B (J=0.6) and B~C (J=0.333...) verify at τ=0.3;
    // A~C (J≈0.143) cannot — if the candidate front proposes the chain,
    // one cluster {A,B,C} exists whose min edge is B~C's 0.333333
    val planted = Seq(
      (100001L, "a b c d e f g h"),
      (100002L, "c d e f g h i j"),
      (100003L, "g h i j k l m n")).toDF("doc_id", "text")
    val real = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val docs = real.unionByName(planted)
    val verified = graft.ops.Dedup.minhashNearDupPairs(docs, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(verified.nonEmpty)
    // naive union-find over the verified edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    verified.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = parent.keys.toSeq.groupBy(find)
    val byCluster = verified.groupBy { case (a, _, _) => find(a) }
    val want = members.map { case (root, ms) =>
      val es = byCluster(root)
      val n = ms.size.toLong
      val sj = es.map(e =>
        BigDecimal(e._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      (ms.min, n, es.length.toLong,
        BigDecimal(es.length * 2.0 / (n * (n - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        es.map(_._3).min,
        BigDecimal(sj.toDouble / es.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = graft.ops.Dedup.clusterChainingAudit(docs, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === want)
    // the planted chain materializes iff the candidate front proposes
    // BOTH edges (shingle-level banding may skip the weaker B~C link —
    // expectations derive from the actual verified set, not from hope)
    val abEdge = verified.exists(e => e._1 == 100001L && e._2 == 100002L)
    val bcEdge = verified.exists(e => e._1 == 100002L && e._2 == 100003L)
    assert(abEdge, "the strong A~B edge (J=0.6) must verify")
    got.find(_._1 == 100001L).foreach { row =>
      if (bcEdge) {
        assert(row._2 === 3L && row._3 === 2L && row._4 === 0.666667)
        assert(row._5 === 0.333333, "min edge must be the weak B~C link")
      } else {
        assert(row._2 === 2L && row._5 === 0.6)
      }
    }
  }
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different words here entirely now"),
    (3L, "too short"),            // < 3 words → no shingles
    (4L, "the quick brown fox jumps over the lazy dog"), // dup of 0
    (5L, "trailing space text "), // trailing empty token (split parity)
    (6L, "double  space words inside")
  ).toDF("doc_id", "text")

  test("custom MinHashSignature ≡ compositional explode/groupBy(min) form") {
    val viaExpr = Dedup.minhashSignatures(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val viaComposition = docs
      .select(col("doc_id"), explode(Dedup.shingles).as("sh"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${Dedup.NumMinhashSeeds - 1})")).as("seed"),
        col("sh"))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(md5(concat(col("seed"), lit("|"), col("sh")))).as("mh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaExpr === viaComposition)
  }

  test("property: MinHashSignature ≡ compositional form on random texts " +
    "(incl. leading/trailing/double spaces, unicode)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // texts drawn to stress the token-boundary scan: empty tokens from
    // leading/double/trailing spaces, multibyte chars, 0-5 words
    val wordGen = Gen.oneOf("a", "bb", "héllo", "日本", "x1", "")
    val textGen = Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4),
      Prop.forAll(Gen.listOfN(8, textGen)) { texts =>
        val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val viaExpr = Dedup.minhashSignatures(d)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
        val viaComposition = d
          .select(col("doc_id"), explode(Dedup.shingles).as("sh"))
          .select(col("doc_id"),
            explode(expr(s"sequence(0, ${Dedup.NumMinhashSeeds - 1})"))
              .as("seed"), col("sh"))
          .groupBy(col("doc_id"), col("seed"))
          .agg(min(md5(concat(col("seed"), lit("|"), col("sh")))).as("mh"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
        viaExpr == viaComposition
      })
    assert(res.passed, res.status.toString)
  }

  test("short texts yield no signature rows (explode-form parity)") {
    val ids = Dedup.minhashSignatures(docs)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids === Set(0L, 1L, 2L, 4L, 5L, 6L))
  }

  test("dupClusters handles a chain longer than the old iteration bound") {
    val chain = (1L to 14L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.dupClusters(chain).collect()
    assert(got.length === 1)
    assert(got.head.getAs[scala.collection.Seq[Long]]("members").toList ===
      (1L to 15L).toList)
  }

  test("identical docs share every band; near-identical share some bucket") {
    val buckets = Dedup.lshBuckets(docs).collect()
    // docs 0 and 4 are identical → all 4 bands collide
    val with04 = buckets.filter(r => r.getAs[Long]("min_doc") == 0L &&
      r.getAs[Long]("max_doc") >= 4L)
    assert(with04.length === Dedup.NumMinhashSeeds / Dedup.BandSize)
  }

  test("near-dup pairs rank exact dup above near dup") {
    val pairs = Dedup.minhashNearDupPairs(docs, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val exact = pairs.find(p => p._1 == 0L && p._2 == 4L)
    assert(exact.exists(_._3 === 1.0))
    assert(pairs.forall(p => p._3 <= 1.0 && p._3 >= 0.0))
  }

  test("eligible(text) agrees with signature nullability on tricky tokens") {
    // three hand-mirrored copies of the split(" ", -1) token-count
    // semantics exist (eligible, MinHashSignature, the off-heap Fast
    // scan); if any drifts, filter(eligible) and the <3-token null path
    // silently disagree — pin them together over the tricky corpus
    val tricky = Seq("", " ", "  ", "a b", "a b c", " a b", "a b ",
      "a  b", "a  b c", "ä ö ü", "one two three four",
      "😀 x y")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = tricky.select(col("text"),
      graft.functions.MinHash.eligible(col("text")).as("e"),
      graft.functions.MinHash.signature(col("text"), 4).isNotNull.as("s"),
      graft.functions.MinHashFast.signature(col("text"), 4).isNotNull
        .as("sf")).collect()
    rows.foreach { r =>
      assert(r.getBoolean(1) === r.getBoolean(2), s"'${r.getString(0)}'")
      assert(r.getBoolean(1) === r.getBoolean(3), s"'${r.getString(0)}'")
    }
  }

  test("candidate pairs equal verified pairs at a 0.0 threshold") {
    // the CC queries take their edges from lshCandidatePairs on the
    // strength of this identity — a zero threshold never rejects
    val cand = Dedup.lshCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minhashNearDupPairs(docs, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand === verified)
    assert(cand.nonEmpty)
  }

  test("simhash: identical docs equal, distinct docs differ (hamming)") {
    val h = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) === h(4L))
    assert(h(0L) !== h(2L))
  }

  test("SimHash32 expression equals the compositional explode→groupBy form") {
    // includes empty tokens (double/trailing spaces) — split(" ", -1)
    val tricky = docs.union(Seq(
      (100L, "a  b"), (101L, "a b "), (102L, ""), (103L, "solo"))
      .toDF("doc_id", "text"))
    val hExpr = conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
    val exploded = tricky
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), hExpr.as("h"))
    val bitSums = (0 until Dedup.SimhashBits).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1))
        .as(s"b$i"))
    val sig = (0 until Dedup.SimhashBits).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val compositional = exploded.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = Dedup.simhash(tricky).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === compositional)
  }

  test("dupClusters: chain of pairs collapses to one cluster with min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 9L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Long]]("members").toList)).toMap
    assert(got === Map(1L -> List(1L, 2L, 3L, 9L), 5L -> List(5L, 6L)))
  }

  test("dupClusters: every min-label round's final AQE plan reuses the " +
    "propagate aggregate's exchange on the pointer-jump side") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 9L))
      .toDF("doc_a", "doc_b")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.ops.Dedup.dupClusters(pairs).collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    // a round's cut is the only action whose plan holds the propagate
    // aggregate, min(label)
    val rounds = plans.asScala.toSeq.filter(_.contains("min(label"))
    assert(rounds.nonEmpty, "no min-label round was observed")
    rounds.foreach { p =>
      assert(p.contains("isFinalPlan=true") && p.contains("ReusedExchange"),
        s"the round re-executes its propagate pipeline:\n$p")
    }
  }

  test("dupClusters under reliable checkpointing matches the default mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 9L))
      .toDF("doc_a", "doc_b")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Long]]("members").toList)).toSet
    val local = norm(graft.ops.Dedup.dupClusters(pairs))
    spark.conf.set(graft.ops.Checkpoints.ReliableConf, "true")
    try {
      assert(norm(graft.ops.Dedup.dupClusters(pairs)) === local)
      assert(norm(graft.ops.Dedup.dupClustersLogN(pairs)) === local)
    } finally spark.conf.unset(graft.ops.Checkpoints.ReliableConf)
  }

  test("property: large-star/small-star CC ≡ min-label propagation") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgesGen = Gen.listOfN(15, for {
      a <- Gen.choose(0L, 18L); b <- Gen.choose(0L, 18L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
      .suchThat(_.nonEmpty)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5),
      Prop.forAll(edgesGen) { es =>
        val pairs = es.toDF("doc_a", "doc_b")
        def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0),
            r.getAs[scala.collection.Seq[Long]]("members").toList)).toSet
        norm(graft.ops.Dedup.dupClusters(pairs)) ==
          norm(graft.ops.Dedup.dupClustersLogN(pairs))
      })
    assert(res.passed, res.status.toString)
  }

  test("exact-dup pre-collapse: clusters bit-equal the uncollapsed CC on " +
    "a corpus with heavy duplication, replicated real data included") {
    // hand corpus stressing every expansion branch: a near-dup component
    // spanning two digest groups, an ISOLATED exact-dup group whose rep
    // has no cross-group edge (the n > 1 fallback), a singleton with no
    // edges (must be in no cluster), ineligible dups (must be dropped)
    val hand = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (3L, "an isolated sentence repeated verbatim elsewhere in corpus"),
      (4L, "an isolated sentence repeated verbatim elsewhere in corpus"),
      (5L, "completely different words here entirely now"), // edgeless
      (6L, "too short"), (7L, "too short") // ineligible: no shingles
    ).toDF("doc_id", "text")
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).mkString(","))).toSet
    val collapsed = clusters(Dedup.dupClustersCollapsed(hand))
    val direct = clusters(Dedup.dupClustersLogN(
      Dedup.lshCandidatePairs(hand)))
    assert(collapsed === direct)
    assert(collapsed.exists(_._3 == "3,4"),
      "the isolated exact-dup group must form its own cluster via the " +
        "rep-fallback — its representative has no cross-group edge")
    assert(!collapsed.exists(c => c._3.contains("5") || c._3.contains("6")),
      "edgeless singletons and ineligible docs are in no cluster")

    // replicated real corpus — the boilerplate shape the collapse exists
    // for: every sf0.001 text appears 3×, dup-group size grows with the
    // replication factor while distinct texts do not
    val base = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(120)
    val replicated = (0 until 3).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    val c2 = clusters(Dedup.dupClustersCollapsed(replicated))
    val d2 = clusters(Dedup.dupClustersLogN(
      Dedup.lshCandidatePairs(replicated)))
    assert(c2 === d2)
    assert(c2.nonEmpty, "3× replication must produce dup clusters")
  }

  test("sourceSimilarity: identical sources score 1, disjoint score low") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "eta theta iota kappa lambda mu", "s1"),
      (3L, "alpha beta gamma delta epsilon zeta", "s2"), // = doc 1
      (4L, "eta theta iota kappa lambda mu", "s2"),      // = doc 2
      (5L, "wholly unrelated text content entirely different", "s3")
    ).toDF("doc_id", "text", "source")
    val sim = graft.ops.Dedup.sourceSimilarity(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(sim(("s1", "s2")) === 1.0) // same content → identical signatures
    assert(sim(("s1", "s3")) < 1.0)
  }

  test("minhashSignaturesFast emits long signatures for eligible docs") {
    val rows = Dedup.minhashSignaturesFast(docs).collect()
    assert(rows.length === 6 * Dedup.NumMinhashSeeds)
  }

  test("lshTuning: planted window pair found, out-of-window twin excluded") {
    val d = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4"),   // in-window dup of 1 → truth AND candidate
      (3L, "zz yy xx ww"),   // unrelated
      (100L, "w1 w2 w3 w4")) // dup of 1 but 99 ids away → outside window
      .toDF("doc_id", "text")
    val r = Dedup.lshTuning(d, window = 50, threshold = 0.5).head()
    assert(r.getLong(0) === 1L) // n_truth: only (1,2)
    assert(r.getLong(1) === 1L) // n_candidates: (1,100)/(2,100) window-cut
    assert(r.getLong(2) === 1L) // the hit
    assert(r.getDouble(3) === 1.0 && r.getDouble(4) === 1.0)
  }

  test("lshTuning: zero denominators yield null ratios, not a crash") {
    val d = Seq((1L, "aa bb cc"), (2L, "dd ee ff gg"))
      .toDF("doc_id", "text")
    val r = Dedup.lshTuning(d, window = 50, threshold = 0.5).head()
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(4)) // recall null when n_truth = 0
    if (r.getLong(1) === 0L) assert(r.isNullAt(3))
  }

  test("lshTuningSampled: agrees with the full harness on the sampled " +
    "universe; pct=100 is the full harness; the sample really shrinks") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val sampledUniverse = d.filter(Dedup.tuneSampleBucket < 20)
    val n = d.count()
    val sn = sampledUniverse.count()
    assert(sn > 0 && sn < n / 2,
      s"a 20% md5-bucket sample must really sample ($sn of $n)")
    // the sampled harness IS the harness over the sampled universe —
    // pinned so a refactor can't silently fork the two paths
    assert(Dedup.lshTuningSampled(d, 20).collect().toSeq ===
      Dedup.lshTuning(sampledUniverse).collect().toSeq)
    assert(Dedup.lshTuningSampled(d, 100).collect().toSeq ===
      Dedup.lshTuning(d).collect().toSeq)
  }

  test("incrementalDedup: corpus-known and within-batch dups both drop") {
    val corpus = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    // "x" is corpus-known; "z" appears twice in the batch → keep min id
    val batch = Seq((10L, "x"), (11L, "z"), (12L, "z"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, corpus).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(11L))
  }

  test("incrementalDedup against an empty corpus equals exactDedup") {
    val batch = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val inc = Dedup.incrementalDedup(batch, empty).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val exact = Dedup.exactDedup(batch)
      .collect().map(_.getLong(0)).toSeq
    assert(inc === exact)
  }

  test("snapshotDiff: all four statuses on a hand corpus") {
    val old = Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"))
      .toDF("doc_id", "text", "source")
    val neu = Seq((2L, "b2", "s1"), (3L, "c", "s2"), (4L, "d", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.snapshotDiff(old, neu).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("s1", "changed", 1L), ("s1", "removed", 1L),
      ("s2", "added", 1L), ("s2", "unchanged", 1L)))
  }

  test("snapshotDiff: a source MOVE is 'changed' at the new source, and " +
    "a NULL text never makes a present row read as absent") {
    // doc 1 moves s1→s2 with identical text; doc 2 has NULL text in
    // BOTH snapshots (present, unchanged); doc 3's text goes NULL
    // (present, changed)
    val old = Seq((1L, Some("a"), "s1"), (2L, None, "s1"),
      (3L, Some("c"), "s2")).toDF("doc_id", "text", "source")
    val neu = Seq((1L, Some("a"), "s2"), (2L, None, "s1"),
      (3L, Option.empty[String], "s2")).toDF("doc_id", "text", "source")
    val got = Dedup.snapshotDiff(old, neu).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("s1", "unchanged", 1L),
      ("s2", "changed", 2L)))
  }

  test("minhashDecontamination flags test→train copies, nothing else") {
    // the split is a pure function of doc_id: read it back, then plant
    // an exact copy across test→train (must be flagged), another across
    // train→train (must NOT — only test docs are probes), and unique
    // texts elsewhere
    val ids = (1L to 60L)
    val splits = graft.ops.TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val testId = ids.find(splits(_) == "test").get
    val trainIds = ids.filter(splits(_) == "train")
    val (copyTrain, dupA, dupB) = (trainIds(0), trainIds(1), trainIds(2))
    val docs = ids.map { i =>
      val text =
        if (i == testId || i == copyTrain) "p q r s t u v w"
        else if (i == dupA || i == dupB) "h i j k l m n o"
        else s"u$i v$i w$i x$i y$i z$i"
      (i, text)
    }.toDF("doc_id", "text")
    val got = Dedup.minhashDecontamination(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((testId, copyTrain, 1.0)),
      s"test=$testId copyTrain=$copyTrain trainDup=($dupA,$dupB)")
  }

  test("collapsed decontamination bit-equal to the uncollapsed detector " +
    "(n78 ≡ n72), within-group and cross-group branches + dup-heavy corpus") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // hand corpus driving both expansion branches deterministically: an
    // exact test→train copy (a digest group holding both splits — the
    // within-group emit, rep pairs can't see it), and a near-dup train
    // text in TWO copies (a verified cross-group rep pair expanding over
    // a >1-member train array)
    val ids = (1L to 60L)
    val splits = graft.ops.TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val testId = ids.find(splits(_) == "test").get
    val trainIds = ids.filter(splits(_) == "train")
    val d = ids.map { i =>
      val text =
        if (i == testId || i == trainIds(0))
          "the quick brown fox jumps over the lazy dog"
        else if (i == trainIds(1) || i == trainIds(2))
          "the quick brown fox jumps over the lazy cat"
        else s"u$i v$i w$i x$i y$i z$i"
      (i, text)
    }.toDF("doc_id", "text")
    for (tau <- Seq(0.0, 0.5)) {
      val un = rows(Dedup.minhashDecontamination(d, tau))
      val co = rows(Dedup.minhashDecontaminationCollapsed(d, tau))
      assert(co === un, s"hand corpus diverged at threshold $tau")
    }
    val at0 = rows(Dedup.minhashDecontaminationCollapsed(d, 0.0))
    assert(at0.exists(_._3 == 1.0) && at0.exists(p => p._3 < 1.0),
      "both the within-group (jaccard 1.0) and cross-group (< 1.0) " +
        s"branches must fire on the hand corpus: $at0")

    // replicated real corpus — every text ×3 under fresh doc_ids (fresh
    // split assignments), so dup groups span splits and the banding front
    // is exactly the dup-heavy shape the collapse exists for
    val base = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(120)
    val replicated = (0 until 3).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    val un2 = rows(Dedup.minhashDecontamination(replicated, 0.0))
    val co2 = rows(Dedup.minhashDecontaminationCollapsed(replicated, 0.0))
    assert(co2 === un2)
    assert(co2.nonEmpty, "3× replication must produce contamination flags")
  }

  test("splitLeakageMatrix: planted cross-split near-dups land in the " +
    "right cells with exact eligible-universe denominators") {
    import spark.implicits._
    val ids = (1L to 60L)
    val splits = graft.ops.TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val trainIds = ids.filter(splits(_) == "train").take(2)
    val testIds = ids.filter(splits(_) == "test").take(2)
    assert(trainIds.size === 2 && testIds.size === 2)
    val leaked = (trainIds ++ testIds).toSet
    val X = "alpha beta gamma delta epsilon zeta"
    val docs = ids.map(i =>
      (i, if (leaked(i)) X else s"u$i a$i b$i")).toDF("doc_id", "text")
    val got = Dedup.splitLeakageMatrix(docs, 0.3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val n = ids.groupBy(splits).view.mapValues(_.size.toLong).toMap
    // 'test' < 'train' < 'val' lexicographically
    assert(got(("test", "train")) ===
      ((4L, n("test") * n("train"))))
    assert(got(("train", "train")) ===
      ((1L, n("train") * (n("train") - 1) / 2)))
    assert(got(("test", "test")) ===
      ((1L, n("test") * (n("test") - 1) / 2)))
    assert(!got.contains(("train", "val")) && !got.contains(("test", "val")),
      "no val doc was planted — those cells must be absent")
  }

  test("leakageSafeSplits: a planted cross-split near-dup clique is " +
    "re-keyed to ONE split; the proof matrix's off-diagonal is all-zero " +
    "over the full cell universe") {
    import spark.implicits._
    val ids = (1L to 60L)
    val splits = graft.ops.TextAnalysis
      .splitAssignment(ids.map((_, "x")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val trainIds = ids.filter(splits(_) == "train").take(2)
    val testIds = ids.filter(splits(_) == "test").take(2)
    assert(trainIds.size === 2 && testIds.size === 2)
    val leaked = (trainIds ++ testIds).toSet
    val X = "alpha beta gamma delta epsilon zeta"
    val docs = ids.map(i =>
      (i, if (leaked(i)) X else s"u$i a$i b$i")).toDF("doc_id", "text")

    val asg = Dedup.leakageSafeSplits(docs, 0.3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(asg.keySet === ids.toSet, "every doc gets an assignment")
    // the clique re-keys to its component min — one split for all four,
    // even though the PLAIN hash split straddles train×test by fixture
    val key = leaked.min
    leaked.foreach { i =>
      assert(asg(i)._1 === key)
      assert(asg(i)._2 === asg(key)._2)
    }
    // singletons keep their own id, so their split IS the plain split
    (ids.toSet -- leaked).foreach { i =>
      assert(asg(i) === ((i, splits(i))))
    }

    // proof matrix: full universe (3 splits → 6 cells), zero off-diag,
    // and the clique's 6 verified pairs on its diagonal cell
    val cliqueSplit = asg(key)._2
    val m = Dedup.leakageSafeMatrix(docs, 0.3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val sizes = asg.values.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cells = for {
      a <- sizes.keys; b <- sizes.keys; if a <= b
    } yield (a, b)
    assert(m.keySet === cells.toSet, "every cell must be a visible row")
    m.foreach { case ((a, b), (nPairs, nPossible)) =>
      if (a == b && a == cliqueSplit) assert(nPairs === 6L)
      else assert(nPairs === 0L, s"cell ($a,$b) must hold zero pairs")
      if (a == b) assert(nPossible === sizes(a) * (sizes(a) - 1) / 2)
      else assert(nPossible === sizes(a) * sizes(b))
    }
  }

  test("sourceLeakageMatrix: a doc copied across sources lands in the " +
    "cross cell; denominators count eligible docs") {
    import spark.implicits._
    val X = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, X, "mirror"), (2L, X, "origin"), // the cross-source copy
      (3L, "one two three four five six", "origin"),
      (4L, "seven eight nine ten eleven twelve", "mirror"),
      (5L, "unrelated words appearing nowhere else entirely", "other")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceLeakageMatrix(docs, 0.3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet === Set(("mirror", "origin")))
    // 2 eligible docs per leaking source → universe 2×2 = 4
    assert(got(("mirror", "origin")) === ((1L, 4L, 0.25)))
  }

  test("sourceLeakageMatrix: the shuffle twin and both auto branches " +
    "are bit-equal to the broadcast form; the two exchange strategies " +
    "actually plan differently") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("source"))
    val want = Dedup.sourceLeakageMatrix(d, 0.3).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "fixture corpus must produce leakage cells")
    // hint-free twin: same answer
    assert(Dedup.sourceLeakageMatrixShuffle(d, 0.3).collect()
      .map(_.toSeq).toSeq === want)
    // auto, broadcast branch (count fits the ceiling): same answer
    assert(Dedup.sourceLeakageMatrixAuto(d, 0.3).collect()
      .map(_.toSeq).toSeq === want)
    // auto, FORCED shuffle branch (ceiling 0 — no pair set fits):
    // same answer through the other exchange strategy
    assert(Dedup.sourceLeakageMatrixAuto(d, 0.3, maxBroadcastPairs = 0L)
      .collect().map(_.toSeq).toSeq === want)
    // plan assertions: the broadcast form broadcasts the pair side;
    // the hint-free form shuffles it once Spark can't auto-broadcast
    val pBroadcast = Dedup.sourceLeakageMatrix(d, 0.3)
      .queryExecution.executedPlan.toString
    assert(pBroadcast.contains("BroadcastHashJoin"),
      "pair labeling must broadcast in the hinted form:\n" + pBroadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pShuffle = Dedup.sourceLeakageMatrixShuffle(d, 0.3)
        .queryExecution.executedPlan.toString
      assert(pShuffle.contains("SortMergeJoin") ||
        pShuffle.contains("ShuffledHashJoin"),
        "the hint-free twin must shuffle the pair labeling when a " +
          "broadcast is off the table:\n" + pShuffle)
      assert(Dedup.sourceLeakageMatrixShuffle(d, 0.3).collect()
        .map(_.toSeq).toSeq === want,
        "and still return the identical matrix")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhashNearDupPairs: the pigeonhole index finds EXACTLY the " +
    "brute-force hamming ≤ 3 pairs over the full pair space") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Dedup.simhashNearDupPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val h = Dedup.simhash(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, ha) <- h; (idb, hb) <- h if ida < idb
      dist = java.lang.Long.bitCount(ha ^ hb) if dist <= 3
    } yield (ida, idb, dist)).toSet
    assert(got === brute, "pigeonhole candidates must be complete AND " +
      "the verify exact — no misses, no extras")
    // the shared fixture: identical docs 0 and 4 land at hamming 0
    val fx = Dedup.simhashNearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(fx.contains((0L, 4L, 0)))
  }

  test("containmentPairsPrefix: catches the 30-word quote inside a " +
    "3,000-word doc that the MinHash front provably misses; output " +
    "equals brute-force shingle containment") {
    import spark.implicits._
    // doc 1 = the quote (30 words); doc 2 = 3,000 words of unique
    // filler with the quote embedded contiguously in the middle —
    // symmetric Jaccard ~0.01, shingle containment of 1 in 2 = 1.0
    val quote = (1 to 30).map(i => s"q$i").mkString(" ")
    val big = ((1 to 1500).map(i => s"f$i") ++ quote.split(" ") ++
      (1501 to 2970).map(i => s"f$i")).mkString(" ")
    val others = (3L to 40L).map(i =>
      (i, (1 to 20).map(j => s"o${i}x$j").mkString(" ")))
    val docs = (Seq((1L, quote), (2L, big)) ++ others)
      .toDF("doc_id", "text")
    // n90's LSH front does NOT propose the pair (the documented miss)
    val lshPairs = Dedup.containmentPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lshPairs.contains((1L, 2L)),
      "fixture must sit in the MinHash front's blind spot — if this " +
        "starts passing, the fixture no longer proves the gap")
    // the prefix index catches it at full containment
    val got = Dedup.containmentPairsPrefix(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 1.0),
      s"quote-in-doc must surface with cont_a_in_b = 1.0: " +
        s"${got.mkString(", ")}")
    // exact-recall pin: output == brute-force max-direction shingle
    // containment >= tau over ALL eligible pairs
    def shingleSet(t: String): Set[String] = {
      val ws = t.split(" ")
      (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    }
    val all = (Seq((1L, quote), (2L, big)) ++ others)
    val brute = (for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia < ib && ta.split(" ").length >= 3 && tb.split(" ").length >= 3
      sa = shingleSet(ta); sb = shingleSet(tb)
      inter = (sa & sb).size
      ca = BigDecimal(inter.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      cb = BigDecimal(inter.toDouble / sb.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if math.max(ca, cb) >= 0.5
    } yield (ia, ib, ca, cb)).toSet
    assert(got.toSet === brute,
      "prefix front must have EXACT recall on shingle containment")
  }

  test("containmentPairsPrefixCollapsed: bit-equal to the uncollapsed " +
    "prefix form on real data and on a replicated dup-heavy variant") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val want = rows(Dedup.containmentPairsPrefix(d, 0.5))
    assert(want.nonEmpty)
    assert(rows(Dedup.containmentPairsPrefixCollapsed(d, 0.5)) === want)
    // dup-heavy: every text appears three times (ids offset) — the
    // exact-dup groups the collapse exists for; both forms must still
    // agree bit for bit (incl. the within-group 1.0/1.0 pairs)
    val tri = d.select(col("doc_id"), col("text"))
      .union(d.select(col("doc_id") + 1000000L, col("text")))
      .union(d.select(col("doc_id") + 2000000L, col("text")))
    assert(rows(Dedup.containmentPairsPrefixCollapsed(tri, 0.5)) ===
      rows(Dedup.containmentPairsPrefix(tri, 0.5)))
  }

  test("digestInflation: hand-computed Σg²/Σg — 1.0 on all-distinct, " +
    "exact value on planted groups, 1.0 on empty") {
    import spark.implicits._
    // all distinct: every group size 1 → Σg²/Σg = 1
    assert(Dedup.digestInflation(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "text")) === 1.0)
    // groups of sizes 3 and 1: (9 + 1) / (3 + 1) = 2.5
    assert(Dedup.digestInflation(Seq((1L, "x"), (2L, "x"), (3L, "x"),
      (4L, "y")).toDF("doc_id", "text")) === 2.5)
    // empty corpus: no duplication by definition
    assert(Dedup.digestInflation(
      Seq.empty[(Long, String)].toDF("doc_id", "text")) === 1.0)
  }

  test("containmentPairsPrefixAuto: both forced branches are bit-equal " +
    "to the plain form, and the measured inflation picks plain on the " +
    "low-dup corpus and collapsed on the replicated one") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val want = rows(Dedup.containmentPairsPrefix(d, 0.5))
    assert(want.nonEmpty)
    // the collapsed branch, taken directly: same answer through a
    // diverging front
    assert(rows(Dedup.containmentPairsPrefixCollapsed(d, 0.5)) === want)
    // default switch point: sf0.001 has inflation ≈ 1 → plain branch;
    // a ×3 replication has inflation ≈ 3 → collapsed branch — both must
    // agree with their anchors bit for bit (the branch choice is
    // answer-invariant by construction)
    assert(rows(Dedup.containmentPairsPrefixAuto(d, 0.5)) === want)
    val tri = d.select(col("doc_id"), col("text"))
      .union(d.select(col("doc_id") + 1000000L, col("text")))
      .union(d.select(col("doc_id") + 2000000L, col("text")))
    assert(rows(Dedup.containmentPairsPrefixAuto(tri, 0.5)) ===
      rows(Dedup.containmentPairsPrefix(tri, 0.5)))
  }

  test("simhashNearDupPairsPermuted: exact recall — the identical pair " +
    "set to the wide pigeonhole index on real data and the fixture") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val wide = Dedup.simhashNearDupPairsWide(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val perm = Dedup.simhashNearDupPairsPermuted(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(perm === wide,
      "both fronts are exact at hamming<=3 — sets must be identical")
    assert(wide.nonEmpty, "fixture corpus must contain near-dups")
    // the completeness precondition is enforced, not assumed
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairsPermuted(d, maxDist = 3, nBlocks = 6,
        nKeep = 4).collect()
    }
  }

  test("permuted index bounds the hot-block bucket the plain pigeonhole " +
    "index cannot (one dominant block value)") {
    import spark.implicits._
    // skewed signatures: low 15 bits ZERO for every doc (the all-zeros
    // templated-doc pathology), upper 45 bits a deterministic mix —
    // the plain 4x15-bit index gets one corpus-sized bucket at block 0
    val n = 2000L
    val idx = (1L to n).map { i =>
      val mix = (i * 0x9E3779B97F4A7C15L) >>> 19
      (i, (mix & ((1L << 45) - 1)) << 15)
    }.toDF("doc_id", "simhash")
    val plain = Dedup.pigeonholeIndexStats(idx, 60, 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(plain(0)._1 === n,
      s"plain block 0 must be one corpus-sized hot bucket: ${plain(0)}")
    assert(plain(0)._2 === n * (n - 1) / 2,
      "and its candidate volume quadratic")
    // the permuted index (20 tables of 30-bit keys): the dominant
    // block can no longer bucket anything by itself — every table's
    // max bucket is bounded by 30-bit agreement
    val perm = Dedup.permutedIndexStats(idx).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(perm.size === 20)
    val maxBucket = perm.map(_._2).max
    val totalPairs = perm.map(_._3).sum
    assert(maxBucket <= 16L,
      s"permuted max bucket must stay bounded on the skew fixture, " +
        s"got $maxBucket")
    assert(totalPairs <= 4L * n,
      s"permuted candidate volume must stay near-linear, got " +
        s"$totalPairs vs plain ${n * (n - 1) / 2}")
  }

  test("SimHash60 expression equals the compositional explode→groupBy " +
    "form (incl. empty tokens)") {
    val tricky = docs.union(Seq(
      (100L, "a  b"), (101L, "a b "), (102L, ""), (103L, "solo"))
      .toDF("doc_id", "text"))
    val hExpr = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
    val exploded = tricky
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), hExpr.as("h"))
    val bitSums = (0 until Dedup.SimhashWideBits).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1))
        .as(s"b$i"))
    val sig = (0 until Dedup.SimhashWideBits).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val compositional = exploded.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = Dedup.simhashWideRaw(tricky).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === compositional)
  }

  test("simhashNearDupPairsWide: pigeonhole completeness holds at 60 " +
    "bits over the full sf0.001 pair space") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Dedup.simhashNearDupPairsWide(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val h = Dedup.simhashWideRaw(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, ha) <- h; (idb, hb) <- h if ida < idb
      dist = java.lang.Long.bitCount(ha ^ hb) if dist <= 3
    } yield (ida, idb, dist)).toSet
    assert(got === brute)
    // 60 near-uniform bits: unrelated docs essentially never sit at
    // hamming ≤ 3, so the wide index's output is the real near-dup set
    assert(got.size <= Dedup.simhashNearDupPairs(d).collect().length)
  }

  test("incrementalSimhashDedup: corpus hits and greedy within-batch " +
    "drops match the hand-computed survivors; brute parity on sf0.001") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely different words here entirely now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = corpus 100
      (2L, "unrelated fresh content appearing nowhere else today"),
      (3L, "unrelated fresh content appearing nowhere else today"), // = 2
      (4L, "another novel document with its own vocabulary entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalSimhashDedup(batch, corpus).collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 4L),
      "1 falls to the corpus, 3 to the smaller-id batch twin")
    // brute parity on the real split: survivors = batch ids with no
    // hamming ≤ 3 neighbor in the corpus nor among smaller batch ids
    val all = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val b = all.filter(col("doc_id") % 5 === 0)
    val c = all.filter(col("doc_id") % 5 =!= 0)
    val hb = Dedup.simhashWideRaw(b).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hc = Dedup.simhashWideRaw(c).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = hb.filter { case (id, h) =>
      !hc.exists { case (_, h2) => java.lang.Long.bitCount(h ^ h2) <= 3 } &&
      !hb.exists { case (id2, h2) =>
        id2 < id && java.lang.Long.bitCount(h ^ h2) <= 3 }
    }.map(_._1).toSeq.sorted
    val real = Dedup.incrementalSimhashDedup(b, c).collect()
      .map(_.getLong(0)).toSeq
    assert(real === want)
  }

  test("simhashIndexStats: exact bucket stats match a Scala " +
    "recomputation; the 60-bit index generates no more candidates") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Dedup.simhashIndexStats(d).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def brute(h: Seq[Long], bits: Int) = {
      val bb = bits / 4
      val mask = (1L << bb) - 1
      (0 until 4).map { b =>
        val sizes = h.groupBy(x => (x >>> (b * bb)) & mask)
          .values.map(_.size.toLong)
        (b, (sizes.size.toLong, sizes.max,
          sizes.map(s => s * (s - 1) / 2).sum))
      }
    }
    val h32 = Dedup.simhash(d).collect().map(_.getLong(1)).toSeq
    val h60 = Dedup.simhashWideRaw(d).collect().map(_.getLong(1)).toSeq
    for ((b, st) <- brute(h32, 32)) assert(got((32, b)) === st)
    for ((b, st) <- brute(h60, 60)) assert(got((60, b)) === st)
    // the decision the harness exists to surface, as data
    val c32 = (0 until 4).map(b => got((32, b))._3).sum
    val c60 = (0 until 4).map(b => got((60, b))._3).sum
    assert(c60 <= c32)
  }

  test("containmentPairsCollapsed ≡ containmentPairs on the fixture, " +
    "on an excerpt corpus, and on dup-heavy replication") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    // the shared fixture corpus (contains an exact dup: docs 0 and 4)
    val un = rows(Dedup.containmentPairs(docs, 0.0))
    val co = rows(Dedup.containmentPairsCollapsed(docs, 0.0))
    assert(co === un)
    assert(co.nonEmpty)
    // excerpt corpus driving the cross-group direction flip: the
    // CONTAINING doc gets the smaller id in one pair and the larger in
    // the other, so both expansion orderings are exercised
    val words = (1 to 35).map(i => s"w$i")
    val exc = Seq(
      (1L, words.mkString(" ")),           // container (small id)
      (2L, words.take(24).mkString(" ")),  // excerpt
      (3L, words.take(24).mkString(" ")),  // exact dup of the excerpt
      (9L, words.mkString(" "))            // exact dup of the container
    ).toDF("doc_id", "text")
    val unE = rows(Dedup.containmentPairs(exc, 0.5))
    val coE = rows(Dedup.containmentPairsCollapsed(exc, 0.5))
    assert(coE === unE)
    assert(unE.exists { case (a, b, ab, _) => a == 2L && b == 9L && ab == 1.0 },
      s"excerpt-in-later-container pair must flag: $unE")
    // 3× replication of the fixture: dup groups of size 3 × the base
    // structure — the regime the collapse exists for
    val replicated = (0 until 3).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    val un3 = rows(Dedup.containmentPairs(replicated, 0.0))
    val co3 = rows(Dedup.containmentPairsCollapsed(replicated, 0.0))
    assert(co3 === un3)
    assert(co3.length > un.length)
  }

  test("containmentPairs: an excerpt scores containment 1.0 where " +
    "Jaccard stays low; disjoint docs never pair") {
    import spark.implicits._
    val words = (1 to 35).map(i => s"w$i")
    val docs = Seq(
      (1L, words.take(24).mkString(" ")),         // the excerpt
      (2L, words.mkString(" ")),                  // the containing doc
      (3L, (100 to 140).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length === 1, s"exactly the excerpt pair: ${got.toSeq}")
    val (a, b, aInB, bInA) = got.head
    assert((a, b) === ((1L, 2L)))
    assert(aInB === 1.0, "every excerpt word is in the container")
    assert(math.abs(bInA - 24.0 / 35) < 1e-6)
    // the same pair under symmetric Jaccard scores only 24/35 — the
    // signal containment exists to recover (a MORE extreme excerpt no
    // longer shares a band at all: the documented symmetric-LSH bias)
    val jac = Dedup.minhashNearDupPairs(docs, 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(jac((1L, 2L)) - 24.0 / 35) < 1e-6)
  }

  test("jaccardBackground: hand corpus lands each pair in its floor " +
    "bucket, identical docs fold 1.0 into bucket 19") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),          // vs 2: {a,b,c,d} ∩ {a,b,c,e} = 3/5 = 0.6
      (2L, "a b c e"),          //   → bucket 12
      (3L, "a b c d"),          // identical to 1 → j = 1.0 → bucket 19
      (4L, "x y z w"))          // disjoint vs all → j = 0 → bucket 0
      .toDF("doc_id", "text")
    val got = Dedup.jaccardBackground(docs, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pairs: (1,2)=.6, (1,3)=1, (1,4)=0, (2,3)=.6, (2,4)=0, (3,4)=0
    assert(got === Map(0L -> 3L, 12L -> 2L, 19L -> 1L))
  }

  test("clusterSizeHistogram: hand labels roll up to (size, n_clusters, " +
    "n_docs)") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (1L, 2L), (3L, 3L), (3L, 4L), (3L, 5L),
      (9L, 8L), (9L, 9L)).toDF("cluster", "id")
    val got = Dedup.clusterSizeHistogram(labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((2L, 2L, 4L), (3L, 1L, 3L)))
  }

  test("jaccardBackground: the md5 sample is deterministic and the " +
    "histogram sums to the sample's pair count") {
    val docs = ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val h1 = Dedup.jaccardBackground(docs, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Dedup.jaccardBackground(docs, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 === h2)
    val s = docs.filter(
      ops.TextAnalysis.saltedBucket("jbg|", col("doc_id"), 100) < 10)
      .count()
    assert(h1.values.sum === s * (s - 1) / 2)
    assert(s > 0 && h1.values.sum > 0)
  }
}
