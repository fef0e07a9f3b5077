package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.ops.Similarity

/** The codegen'd DotProduct expression must equal the higher-order-function
  * composition it replaced, on both codegen and interpreted paths; cosine
  * search invariants hold on the real embeddings table.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("DotProduct ≡ aggregate(zip_with(...)) composition") {
    val vecs = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(0.0, 0.0)),
      (Array(-1.5, 2.25, 1e-8, 123456.789), Array(2.0, -0.5, 1e8, 0.001))
    ).toDF("a", "b")
    val got = vecs.select(VectorOps.dot(col("a"), col("b"))).as[Double].collect()
    val want = vecs.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)).as[Double].collect()
    assert(got.toSeq === want.toSeq)
  }

  test("DotProduct on real embeddings matches HOF form bit-exactly") {
    val e = graft.ops.Tables.embeddings(spark, dir).limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e.select(
      VectorOps.dot(col("v"), col("v")).as("custom"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("custom") =!= col("hof")).count() === 0)
  }

  test("self-cosine is 1; brute-force top-k is ranked and bounded") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // a copy of probe 0 under a fresh id is its nearest neighbor
    val twin = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(Long.MaxValue))
    val self = Similarity.bruteForceTopK(emb.unionByName(twin), 1, 1)
      .select(col("cos")).as[Double].collect()
    assert(self.length === 1 && math.abs(self.head - 1.0) < 1e-9)
    val topk = Similarity.bruteForceTopK(emb, 3, 5).collect()
    assert(topk.length === 15)
    // per probe: cos non-increasing with rank
    topk.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN: well-formed top-k with real recall against brute force") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val ivf = Similarity.ivfTopK(emb, 5, 5).collect()
    assert(ivf.groupBy(_.getAs[Long]("q_id")).forall(_._2.length <= 5))
    assert(ivf.nonEmpty)
    val bf = Similarity.bruteForceTopK(emb, 5, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val hits = ivf.count(r =>
      bf.contains((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))))
    // approximate search: some overlap with exact results must exist
    assert(hits > 0, s"IVF found none of the true top-5 (${ivf.length} results)")
  }

  test("VectorSum aggregate ≡ per-dimension avg at 256 dims") {
    val dims = 256
    val rnd = new scala.util.Random(42)
    val rows = (0 until 50).map(i =>
      (i % 4L, Seq.fill(dims)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("cid", "emb")
    val got = df.groupBy(col("cid"))
      .agg(graft.functions.VectorSum.vecSum(col("emb")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cid"), transform(col("s"), _ / col("n")).as("mean"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("mean")).toMap
    // driver-side expected means
    val want = rows.groupBy(_._1).map { case (cid, g) =>
      cid -> (0 until dims).map(i => g.map(_._2(i)).sum / g.size)
    }
    assert(got.keySet === want.keySet)
    for (cid <- want.keys; i <- 0 until dims)
      assert(math.abs(got(cid)(i) - want(cid)(i)) < 1e-9,
        s"cid=$cid dim=$i")
    // plan: exactly one ObjectHashAggregate pair, not 256 avg buffers
    val plan = df.groupBy(col("cid"))
      .agg(graft.functions.VectorSum.vecSum(col("emb")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Aggregate"))
  }

  test("ivfTopKFromModel ≡ ivfTopK, including through a parquet " +
    "round trip of the persisted centroids") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val direct = Similarity.ivfTopK(emb, 5, 5)
      .collect().map(_.toString).toSeq
    val model = Similarity.trainIvfCentroids(emb)
    val viaModel = Similarity.ivfTopKFromModel(emb, model, 5, 5)
      .collect().map(_.toString).toSeq
    assert(viaModel === direct,
      "scoring from a trained model must equal the in-query trainer")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    graft.sources.Sinks.writeIfAbsent(model, s"$tmp/centroids")
    val viaDisk = Similarity.ivfTopKFromModel(
        emb, spark.read.parquet(s"$tmp/centroids"), 5, 5)
      .collect().map(_.toString).toSeq
    assert(viaDisk === direct,
      "the parquet round trip must not perturb the centroids")
  }

  test("IVF ANN is reproducible across runs (deterministic training)") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val a = Similarity.ivfTopK(emb, 3, 3).collect().map(_.toString).toSeq
    val b = Similarity.ivfTopK(emb, 3, 3).collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("bucket-partitioned ANN index: probes prune to their partition") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann").toString
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // materialize the index: corpus partitioned by the production RP
    // sign bucket — the "bucket key becomes the partition key" scale path
    def bucketed = emb.withColumn("bucket",
      Similarity.rpBucket(col("embedding").cast("array<double>"),
        Similarity.BucketBits, Similarity.probeDims(emb)))
    bucketed.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    val index = spark.read.parquet(tmp)
    val probeBucket = index.filter(col("vec_id") === 7L)
      .select("bucket").head().getInt(0)
    val cell = index.filter(col("bucket") === probeBucket)
    val plan = cell.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(probeBucket.toString))
    // searching inside the cell gives the same answer as filtering in memory
    val inMem = bucketed.filter(col("bucket") === probeBucket).count()
    assert(cell.count() === inMem)
  }

  test("labelNorms: unit vectors average to norm 1.0 exactly") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 7),
      (2L, Array(0.0f, 1.0f, 0.0f), 7),
      (3L, Array(0.0f, 0.6f, 0.8f), 9))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNorms(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(7) === ((2L, 1.0)))
    assert(got(9) === ((1L, 1.0)))
  }

  test("int8Codes: hand-computed codes, constant dim maps to 0") {
    val emb = Seq(
      (0L, Array(0.0f, 10.0f, 3.0f), 1),
      (1L, Array(5.0f, 5.0f, 3.0f), 1),
      (2L, Array(10.0f, 0.0f, 3.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.int8Codes(emb, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // per-dim ranges: [0,10], [0,10], [3,3] (constant → code 0)
    assert(got((0L, 1)) === 0L)
    assert(got((0L, 2)) === 255L)
    assert(got((1L, 1)) === 128L) // round(5*25.5) = round(127.5) half-up
    assert(got((2L, 1)) === 255L)
    assert(got((2L, 2)) === 0L)
    assert(Seq(0L, 1L, 2L).forall(v => got((v, 3)) === 0L))
  }

  test("int8AnnTopK: high recall vs exact brute force, exact final scores") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, 5, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.int8AnnTopK(emb, 5, k).collect()
    val approxSet = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    // 64-dim int8 quantization should barely perturb the ranking
    val recall = (exact intersect approxSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@$k was $recall")
    // surviving scores are EXACT cosines — identical to brute force
    val exactScores = Similarity.bruteForceTopK(emb, 5, k).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    approx.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactScores.get(key).foreach(s => assert(r.getDouble(2) === s))
    }
  }

  test("lshNearDupPairs: all pairs share a bucket, meet the threshold, " +
    "and cover every exact pair whose members share a bucket") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val bits = Similarity.deriveBucketBits(emb)
    val got = Similarity.lshNearDupPairs(emb, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall(_._3 >= 0.5))
    val buckets = emb.select(col("vec_id"),
        Similarity.rpBucket(col("embedding").cast("array<double>"),
          bits, Similarity.probeDims(emb)).as("b")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.forall(p => buckets(p._1) === buckets(p._2)))
    // exhaustive within-bucket check on a small prefix: no missed pair
    val e = emb.filter(col("vec_id") < 60)
    val exact = Similarity.cosineNearDupPairs(
        e.withColumn("label", lit(0)), 0.5, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSmall = Similarity.lshNearDupPairs(e, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = exact.filter(p => buckets(p._1) == buckets(p._2))
    assert(gotSmall === expected)
  }

  test("rpBucket keeps near-dups together when the leading dims are " +
    "noise with flipped signs (where axis-aligned buckets scatter them)") {
    // 20 true near-dup pairs: first 4 coordinates are ±0.001 noise with
    // OPPOSITE signs across the pair, the remaining 60 carry a shared
    // seeded base vector — cosine ≈ 1. The old axis bucket (signs of the
    // first 4 coords) puts every pair in complementary buckets → recall
    // 0; the random projections weigh all 64 dims, so the tiny noise
    // cannot flip the projection sign.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20).flatMap { i =>
      val base = Array.fill(60)((rnd.nextDouble() * 2 - 1).toFloat)
      val a = Array.fill(4)(0.001f) ++ base
      val b = Array.fill(4)(-0.001f) ++ base.map(x => x * 1.0001f)
      Seq((i * 2L, a, i), (i * 2L + 1, b, i))
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val truePairs = (0 until 20).map(i => (i * 2L, i * 2L + 1L)).toSet
    val rp = Similarity.lshNearDupPairs(emb, 0.9, Similarity.BucketBits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rpRecall = (truePairs intersect rp).size.toDouble / truePairs.size
    assert(rpRecall >= 0.9, s"random-projection recall was $rpRecall")
    // the axis form demonstrably collapses on this corpus
    val axisBucket = (1 to Similarity.BucketBits).map(i =>
      when(element_at(col("emb"), i) >= 0d, lit(1 << (i - 1)))
        .otherwise(lit(0))).reduce(_ + _)
    val axis = Similarity.lshNearDupPairsWith(emb, 0.9, axisBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((truePairs intersect axis).isEmpty,
      "axis buckets must scatter these sign-flipped near-dups")
  }

  test("int8Codes: empty corpus yields an empty frame, not an NPE") {
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.int8Codes(empty, 10).count() === 0)
  }

  test("ivfTopK: offset vec_ids still seed centroids (no silent empty)") {
    // ids 100000+ — the old `vec_id < nCentroids` seed filter collected
    // zero centroids here and returned an empty result as if the corpus
    // had no neighbors
    val emb = graft.ops.Tables.embeddings(spark, dir)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val got = Similarity.ivfTopK(emb, 5, 5)
    assert(got.count() > 0)
  }

  test("deriveBucketBits: floor at BucketBits, grows with corpus size, " +
    "no dims clamp (rpBucket planes span all dims — no dead bits)") {
    val tiny = Seq((1L, Array(1f, -1f), 0), (2L, Array(-1f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.deriveBucketBits(tiny) === Similarity.BucketBits)
    // 300k rows → ceil(log2(300000/256)) = 11 bits, even on 2-dim data:
    // every plane mixes all coordinates, so no bit is structurally dead
    val big = spark.range(300000)
      .withColumn("embedding", array(lit(1f), lit(-1f)))
    assert(Similarity.deriveBucketBits(big) === 11)
  }

  test("ivfTopK: empty corpus yields an empty frame, not an analyzer error") {
    // zero centroids used to reach array() over no structs in
    // nearestCells and fail analysis with getField on NullType
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfTopK(empty, 10, 5)
    assert(got.columns.toSeq === Seq("q_id", "vec_id", "cos", "rnk"))
    assert(got.count() === 0)
  }

  // hand-computable axis bucket (sign of dim 1) for the keeper/ranking
  // tests — the production operators block on Similarity.rpBucket, whose
  // assignments these tests don't need to hand-derive
  private def dim1Sign = when(element_at(col("emb"), 1) >= 0d, lit(1))
    .otherwise(lit(0))

  test("semanticDedup core: min-id keeper over hand-built buckets") {
    // bucket = sign of dim 1. Bucket {1,2,4}: cos(1,2)≈1
    // drops 2; cos(1,4)=1/sqrt(101)≈0.0995 and cos(2,4)≈0.0985 keep 4.
    // Vector 3 sits alone in the negative bucket.
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0.001f), 0),
      (3L, Array(-1f, 0f), 1),
      (4L, Array(1f, -10f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedupWith(emb, 0.3, dim1Sign).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq === Seq((1L, 0), (3L, 1), (4L, 2)))
  }

  test("semanticDedup: survivors plus dropped partition the corpus") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val bits = Similarity.deriveBucketBits(emb)
    val kept = Similarity.semanticDedup(emb, 0.3, bits)
    val pairs = Similarity.lshNearDupPairs(emb, 0.3, bits)
    val dropped = pairs.select(col("id_b")).distinct().count()
    assert(kept.count() + dropped === emb.count())
    // no survivor may be the greater end of any near-dup pair
    assert(kept.join(pairs, kept("vec_id") === pairs("id_b"), "left_semi")
      .count() === 0)
  }

  test("semanticDedupCollapsed ≡ semanticDedup: hand corpus with copies, " +
    "zero vectors, and null embeddings; real embeddings; replicated corpus") {
    def keepSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // hand corpus: a copy group whose rep survives (1,2,3 identical —
    // only 1 survives), a copy group whose rep is itself dropped by a
    // smaller near-dup (5,6 identical, near-dup of 1), an isolated
    // vector (10), zero vectors (20,21) that must all survive, and
    // NULL embeddings (30,31) — null cosine fails every threshold in
    // the uncollapsed join, so they must survive the collapsed path too
    val hand = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(1f, 0f, 0f), 0),
      (3L, Array(1f, 0f, 0f), 0),
      (5L, Array(1f, 0.001f, 0f), 0), (6L, Array(1f, 0.001f, 0f), 0),
      (10L, Array(-1f, 5f, 2f), 1),
      (20L, Array(0f, 0f, 0f), 2), (21L, Array(0f, 0f, 0f), 2),
      (30L, null.asInstanceOf[Array[Float]], 3),
      (31L, null.asInstanceOf[Array[Float]], 3)
    ).toDF("vec_id", "embedding", "label")
    val direct = keepSet(Similarity.semanticDedup(hand, 0.3, 4))
    val collapsed = keepSet(Similarity.semanticDedupCollapsed(hand, 0.3, 4))
    assert(collapsed === direct)
    assert(collapsed.map(_._1).intersect(Set(20L, 21L)) === Set(20L, 21L),
      "zero vectors are never near-dups and must all survive")
    assert(collapsed.map(_._1).intersect(Set(30L, 31L)) === Set(30L, 31L),
      "null-embedding rows are never near-dups and must all survive")
    assert(!collapsed.map(_._1).contains(5L),
      "a copy-group rep that has a smaller near-dup must be dropped")

    // real fixture corpus, pinned oracle width
    val emb = graft.ops.Tables.embeddings(spark, dir)
    assert(keepSet(Similarity.semanticDedupCollapsed(emb, 0.3,
        Similarity.BucketBits)) ===
      keepSet(Similarity.semanticDedup(emb, 0.3, Similarity.BucketBits)))

    // replicated corpus — copy-group size grows with the replication
    // factor, the exact shape the collapse exists for
    val replicated = (0 until 3).map(i =>
      emb.limit(100).withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    assert(keepSet(Similarity.semanticDedupCollapsed(replicated, 0.3, 4)) ===
      keepSet(Similarity.semanticDedup(replicated, 0.3, 4)))
  }

  test("probeDims skips null embeddings — a null-FIRST corpus must plan") {
    val emb = Seq(
      (0L, null.asInstanceOf[Array[Float]], 0),
      (1L, Array(1f, 2f, 3f), 0)
    ).toDF("vec_id", "embedding", "label")
    assert(Similarity.probeDims(emb) === 3)
    // every plan-build prober in the family must survive the null-first
    // ordering end-to-end (head() on the unfiltered size() crashed here)
    assert(Similarity.semanticDedup(emb, 0.3, 4).count() === 2)
    assert(Similarity.semanticDedupCollapsed(emb, 0.3, 4).count() === 2)
  }

  test("incrementalSemanticDedup: index dups drop, batch keeper applies, " +
    "zero/null vectors survive, empty index ≡ semanticDedup") {
    def keepSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // exact copies guarantee shared buckets (cos = 1) without depending
    // on which side of a plane a near-identical pair lands
    val index = Seq((1L, Array(1f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val batch = Seq(
      (10L, Array(1f, 0f, 0f), 0),   // exact copy of index 1 → dropped
      (11L, Array(-1f, 5f, 2f), 1),  // unique → kept
      (12L, Array(-1f, 5f, 2f), 1),  // copy of 11, larger id → dropped
      (13L, Array(0f, 0f, 0f), 2),   // zero norm → survives
      (14L, null.asInstanceOf[Array[Float]], 3) // null → survives
    ).toDF("vec_id", "embedding", "label")
    assert(keepSet(Similarity.incrementalSemanticDedup(batch, index, 0.3, 4))
      === Set((11L, 1), (13L, 2), (14L, 3)))
    // empty index: the incremental policy degenerates to semanticDedup's
    // one-pass min-id keeper — proven on the real fixture corpus
    val emb = graft.ops.Tables.embeddings(spark, dir)
    assert(keepSet(Similarity.incrementalSemanticDedup(
        emb, emb.limit(0), 0.3, Similarity.BucketBits)) ===
      keepSet(Similarity.semanticDedup(emb, 0.3, Similarity.BucketBits)))
  }

  test("semanticDupClustersCollapsed ≡ semanticDupClusters: hand corpus " +
    "with copy groups, zero/null vectors; real and replicated corpora") {
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).mkString(","))).toSet
    // copy group {1,2} (own cluster via the n>1 fallback), copy group
    // {5,6} near-dup of 1 (merges into 1's component), isolated 10,
    // zero vectors 20,21 and nulls 30,31 (never clustered — identical
    // zero vectors must NOT ride the n>1 fallback)
    val hand = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(1f, 0f, 0f), 0),
      (5L, Array(1f, 0.001f, 0f), 0), (6L, Array(1f, 0.001f, 0f), 0),
      (10L, Array(-1f, 5f, 2f), 1),
      (20L, Array(0f, 0f, 0f), 2), (21L, Array(0f, 0f, 0f), 2),
      (30L, null.asInstanceOf[Array[Float]], 3),
      (31L, null.asInstanceOf[Array[Float]], 3)
    ).toDF("vec_id", "embedding", "label")
    val direct = clusters(Similarity.semanticDupClusters(hand, 0.3, 4))
    val collapsed =
      clusters(Similarity.semanticDupClustersCollapsed(hand, 0.3, 4))
    assert(collapsed === direct)
    assert(direct.exists(c => c._1 == 1L && c._3 == "1,2,5,6"),
      "the two copy groups must merge into one component rooted at 1")
    assert(!direct.exists(c => c._3.split(",").toSet.intersect(
        Set("20", "21", "30", "31")).nonEmpty),
      "zero/null vectors pair with nothing and must never be clustered")

    // real fixture corpus at the pinned oracle width, then a replicated
    // corpus (copy groups of size 3 — the collapse's reason to exist)
    val emb = graft.ops.Tables.embeddings(spark, dir)
    assert(clusters(Similarity.semanticDupClustersCollapsed(emb, 0.3,
        Similarity.BucketBits)) ===
      clusters(Similarity.semanticDupClusters(emb, 0.3,
        Similarity.BucketBits)))
    val replicated = (0 until 3).map(i =>
      emb.limit(100).withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    assert(clusters(Similarity.semanticDupClustersCollapsed(replicated,
        0.3, 4)) ===
      clusters(Similarity.semanticDupClusters(replicated, 0.3, 4)))
  }

  test("annRecall: colinear corpus — one bucket holds everyone, recall 1.0") {
    val base = Seq(0.3f, -0.7f, 0.5f)
    val emb = (0L to 14L).map(i => (i, base.map(x => x * (i + 1))))
      .toDF("vec_id", "embedding")
    val got = Similarity.annRecall(emb, 2, 3, 4).collect()
    assert(got.length === 2)
    got.foreach { r =>
      assert(r.getLong(1) === 3L && r.getLong(2) === 3L)
      assert(r.getDouble(3) === 1.0)
    }
  }

  test("annRecall on sf0.001: per-probe recall bounded, truth size = k; " +
    "derived width runs") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val got = Similarity.annRecall(emb, 10, 5, Similarity.BucketBits)
      .collect()
    assert(got.length === 10)
    got.foreach { r =>
      assert(r.getLong(1) === 5L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 5L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    assert(Similarity.annRecall(emb, 5, 3).count() === 5) // derived bits
  }

  test("annRecallCurve: recall is non-increasing in width (nested " +
    "buckets), and the curve's aggregate agrees with annRecall at the " +
    "shared width") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val curve = Similarity.annRecallCurve(emb, 10, 5, Seq(2, 4, 6, 8))
      .collect()
    assert(curve.map(_.getInt(0)).toSeq === Seq(2, 4, 6, 8))
    curve.foreach { r =>
      assert(r.getLong(1) === 50L, "n_truth = nProbes × k at every width")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // width w+Δ's buckets are refinements of width w's (shared-prefix
    // planes): a truth item that stays a candidate can only lose
    // competitors, and one that leaves the bucket loses its hit —
    // per-item hits, and so recall, never increase with width
    val recalls = curve.map(_.getDouble(3))
    recalls.zip(recalls.tail).foreach { case (lo, hi) =>
      assert(lo >= hi, s"recall must be non-increasing in bits: $lo < $hi")
    }
    // the 4-bit point IS annRecall's number, aggregated over probes
    val per = Similarity.annRecall(emb, 10, 5, 4)
      .agg(sum(col("n_truth")), sum(col("n_hits"))).head()
    val at4 = curve.find(_.getInt(0) === 4).get
    assert(at4.getLong(1) === per.getLong(0) &&
      at4.getLong(2) === per.getLong(1),
      "the curve's 4-bit row must aggregate annRecall's per-probe rows")
  }

  test("labelCentroidOutliers: hand corpus — the anti-aligned vector " +
    "flags, aligned ones don't; null embedding scores null") {
    val emb = Seq(
      (1L, "a", Array(1f, 0f)),
      (2L, "a", Array(1f, 0.1f)),
      (3L, "a", Array(-1f, 0f)),   // anti-aligned with label a's centroid
      (4L, "b", Array(0f, 1f)),
      (5L, "b", null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "label", "embedding")
    val r = Similarity.labelCentroidOutliers(emb, 0.5).collect()
    val byId = r.map(x => x.getLong(0) ->
      (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    assert(byId(1L).get > 0.5 && byId(2L).get > 0.5,
      "aligned vectors sit near the centroid")
    assert(byId(3L).get < 0.0, "the flipped vector is anti-aligned")
    assert(byId(4L).get === 1.0, "a singleton label's vector IS its centroid")
    assert(byId(5L).isEmpty, "null embedding scores null")
    val outliers = r.filter(x => !x.isNullAt(3) && x.getInt(3) === 1)
      .map(_.getLong(0)).toSet
    assert(outliers === Set(3L))
    assert(r.find(_.getLong(0) === 5L).get.isNullAt(3),
      "null cosine flags NULL, not true/false")
  }

  test("multi-probe: per width, mp recall >= single-probe recall") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val widths = Seq(2, 4, 6, 8)
    val sp = Similarity.annRecallCurve(emb, 10, 5, widths)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val mp = Similarity.annRecallCurve(emb, 10, 5, widths, probeRadius = 1)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    widths.foreach { w =>
      assert(mp(w) >= sp(w),
        s"Hamming-1 probing can only ADD candidates (bits=$w)")
    }
  }

  test("semanticDecontaminate: hand corpus — near-probe dropped; " +
    "orthogonal, zero-norm, and null embeddings survive") {
    val emb = Seq(
      (0L, Option(Seq(1f, 0f))),  // the probe (nProbes = 1)
      (10L, Option(Seq(2f, 0f))), // cos 1 vs probe → dropped
      (11L, Option(Seq(0f, 3f))), // cos 0 → survives
      (12L, Option(Seq(0f, 0f))), // zero-norm → null cos → survives
      (13L, Option.empty[Seq[Float]])) // null embedding → survives
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(emb, 1, 0.35).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(11L, 12L, 13L))
    assert(got(0).getDouble(1) === 0.0)
    assert(got(1).isNullAt(1) && got(2).isNullAt(1))
  }

  test("semanticDecontaminate with an empty probe set keeps the corpus") {
    val emb = Seq((10L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(emb, 0, 0.35).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(10L))
    assert(got(0).isNullAt(1))
  }

  test("semanticDecontaminate matches the join+groupBy twin on sf0.001") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val e = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(Similarity.dot(col("emb"), col("emb"))))
    val p = e.filter(col("vec_id") < 10)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val twin = e.filter(col("vec_id") >= 10).crossJoin(p)
      .select(col("vec_id"),
        round(when(col("q_nrm") * col("nrm") =!= 0d,
          Similarity.dot(col("q_emb"), col("emb")) /
            (col("q_nrm") * col("nrm"))), 6).as("cos"))
      .groupBy("vec_id").agg(max("cos").as("max_probe_cos"))
      .filter(col("max_probe_cos") < 0.35 || col("max_probe_cos").isNull)
    val got = Similarity.semanticDecontaminate(emb, 10, 0.35).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val want = twin.collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got === want && got.nonEmpty)
  }

  test("knnGraph core: in-bucket neighbors ranked by cosine on a hand corpus") {
    // dim-1 sign bucket: ids 1,2,4 share the positive bucket, 3 is alone
    // (no edges). cos(1,2)≈1 > cos(1,4)≈0.0995; cos(2,4)≈0.0985.
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0.001f), 0),
      (3L, Array(-1f, 0f), 1),
      (4L, Array(1f, -10f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnGraphWith(emb, 2, dim1Sign).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1), (1L, 4L, 2),
      (2L, 1L, 1), (2L, 4L, 2),
      (4L, 1L, 1), (4L, 2L, 2)))
  }

  test("knnGraph: k bounds per-src degree; edges stay in-bucket") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val bits = Similarity.deriveBucketBits(emb)
    val g = Similarity.knnGraph(emb, 3, bits).collect()
    val buckets = emb.select(col("vec_id"),
      Similarity.rpBucket(col("embedding").cast("array<double>"),
        bits, Similarity.probeDims(emb)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(g.groupBy(_.getLong(0)).values.forall(_.length <= 3))
    g.foreach(r =>
      assert(buckets(r.getLong(0)) === buckets(r.getLong(1))))
  }

  test("LSH ANN results are a subset of the probe's sign bucket") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val buckets = emb.select(col("vec_id"),
      Similarity.rpBucket(col("embedding").cast("array<double>"),
        Similarity.BucketBits, Similarity.probeDims(emb)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ann = Similarity.lshBucketTopK(emb, 3, 5).collect()
    ann.foreach { r =>
      assert(buckets(r.getAs[Long]("vec_id")) === buckets(r.getAs[Long]("q_id")))
    }
  }

  test("LSH ANN derived bucket width (production default) returns the same " +
    "top-k as the pinned registry width on the fixture corpus") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // on the fixture corpus deriveBucketBits floors at BucketBits, so the
    // derived path must be bit-identical to the pinned oracle twin — this
    // pins that the default REALLY routes through deriveBucketBits and
    // that adding the parameter changed nothing for existing callers
    assert(Similarity.deriveBucketBits(emb) === Similarity.BucketBits)
    val derived = Similarity.lshBucketTopK(emb, 10, 5)
    val pinned =
      Similarity.lshBucketTopK(emb, 10, 5, bucketBits = Similarity.BucketBits)
    assert(derived.exceptAll(pinned).count() === 0)
    assert(pinned.exceptAll(derived).count() === 0)
    assert(derived.count() > 0)
  }

  test("LSH ANN widened buckets keep per-probe results ranked and capped") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // a wider explicit width (what deriveBucketBits picks on a big corpus)
    // must still produce well-formed ranked output — probes just see
    // smaller candidate sets, so rows-per-probe can only shrink
    val wide = Similarity.lshBucketTopK(emb, 10, 5, bucketBits = 8).collect()
    wide.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      val byRank = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    val narrow = Similarity.lshBucketTopK(emb, 10, 5, bucketBits = 4).count()
    assert(wide.length <= narrow,
      "widening buckets must never grow the candidate/result set")
  }

  test("ivfRecall: probing every cell IS brute force — recall exactly 1.0") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    // nProbe >= nCentroids scans the whole corpus per probe, so the IVF
    // top-k must equal the brute-force truth and recall must be 1.0 for
    // every probe — the anchor the production nProbe is turned DOWN from
    val full = Similarity
      .ivfRecall(emb, 10, 5, nCentroids = 8, iters = 2, nProbe = 8)
      .collect()
    assert(full.length === 10)
    full.foreach { r =>
      assert(r.getLong(1) === 5L, "n_truth must be k")
      assert(r.getDouble(3) === 1.0,
        s"probe ${r.getLong(0)}: recall ${r.getDouble(3)} != 1.0")
    }
    // the production-shaped setting stays well-formed: recall in [0, 1]
    val partial = Similarity.ivfRecall(emb, 10, 5).collect()
    assert(partial.length === 10)
    partial.foreach { r =>
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    // probe alignment on NON-0-based ids: scoreIvf picks the nProbes
    // smallest ids, so the truth side must too — a literal
    // `vec_id < nProbes` would find zero probes on this shard and
    // return an empty harness instead of a recall number
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000L)
    val shiftedFull = Similarity
      .ivfRecall(shifted, 10, 5, nCentroids = 8, iters = 2, nProbe = 8)
      .collect()
    assert(shiftedFull.length === 10,
      "shifted-id corpus must still evaluate exactly nProbes probes")
    shiftedFull.foreach(r => assert(r.getDouble(3) === 1.0))
  }

  test("annSelectPath measures then chooses: IVF on the near-uniform " +
    "fixture corpus, sign-LSH (IVF never trained) on a " +
    "hyperplane-clustered one") {
    // near-uniform: the real embeddings fixture — derived-width
    // multi-probe sign-LSH recall sits well under the 0.8 floor
    // (measured 0.66 at sf0.01), so the decision must fall back to IVF
    // and report ITS measured recall
    val fix = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val uni = Similarity.annSelectPath(fix, 10, 5).collect()(0)
    assert(uni.getString(0) === "ivf", uni.toString)
    assert(uni.getDouble(3) < 0.8,
      s"premise: fixture lsh recall under the floor, got ${uni.getDouble(3)}")
    assert(!uni.isNullAt(4) && uni.getDouble(1) === uni.getDouble(4),
      "measured_recall must be the fallback's number")

    // clustered: 8 tight clusters whose centers clear every pinned
    // 4-bit hyperplane by a margin (|<c, p>| > 2) 100× the noise
    // radius, so members share sign buckets, true neighbors are
    // in-bucket, and the sign-LSH path must clear the floor — with the
    // IVF column NULL, proving the fallback's training never ran
    val dims = 16
    val planes = Similarity.rpPlanes(4, dims)
    val rnd = new scala.util.Random(42)
    def center(): Array[Double] = {
      val c = Array.fill(dims)(rnd.nextGaussian())
      if (planes.forall(p =>
        math.abs(p.zip(c).map { case (a, b) => a * b }.sum) > 2.0)) c
      else center()
    }
    val centers = Array.fill(8)(center())
    val clustered = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + (rnd.nextDouble() - 0.5) * 0.02).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cl = Similarity.annSelectPath(clustered, 10, 5).collect()(0)
    assert(cl.getString(0) === "sign-lsh-multiprobe", cl.toString)
    assert(cl.getDouble(1) >= 0.8 && cl.getDouble(1) === cl.getDouble(3))
    assert(cl.isNullAt(4),
      "ivf_recall must be NULL when sign-LSH meets the floor — the " +
        "skipped training is the point of measuring first")
  }

  test("randomProjection: unit basis vectors read the sign matrix back; " +
    "deterministic across runs") {
    val dims = 4
    val basis = (0 until dims).map { i =>
      (i.toLong, Seq.tabulate(dims)(d => if (d == i) 1.0 else 0.0))
    }.toDF("vec_id", "embedding")
    val signs = Similarity.jlSigns(dims, 3)
    val got = Similarity.randomProjection(basis, 3).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]](1).toSeq).toMap
    (0 until dims).foreach { i =>
      assert(got(i.toLong) === (0 until 3).map(j => signs(j)(i)),
        s"basis $i must read column $i of the sign matrix")
    }
    val again = Similarity.randomProjection(basis, 3).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]](1).toSeq).toMap
    assert(again === got)
  }

  test("randomProjection: an all-null embedding corpus projects every " +
    "row to null components — never to dropped rows") {
    val emb = Seq((1L, Option.empty[Seq[Double]]),
      (2L, Option.empty[Seq[Double]])).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(emb, 3).collect()
    assert(got.length === 2, "degraded rows must survive with null proj")
    got.foreach { r =>
      val p = r.getAs[scala.collection.Seq[Any]](1)
      assert(p.size === 3 && p.forall(_ == null), p.toString)
    }
  }

  test("projectedTopK: an exhaustive shortlist is exactly brute force; " +
    "the 20-wide shortlist still finds most true neighbors") {
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val n = emb.count().toInt
    val truth = Similarity.bruteForceTopK(emb, 5, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // shortlist covering the whole corpus → stage 2 IS brute force
    val exhaustive = Similarity.projectedTopK(emb, 5, 5, 8, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(exhaustive.toSeq === truth.toSeq)
    // the real shortlist: per-probe overlap with the true top-5
    val jl = Similarity.projectedTopK(emb, 5, 5, 8, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val trueSets = truth.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val hits = jl.count { case (q, v) => trueSets(q)(v) }
    info(s"JL recall@5 with shortlist 20: $hits/${truth.length}")
    assert(hits > 0, "the projected shortlist must find SOME true neighbors")
  }

  test("clusterBalancedSample: per-cell cap honored, small cells kept " +
    "whole, pick deterministic") {
    // two well-separated clusters; the two smallest ids (the k-means
    // seeds) land one in each, so training converges to the true cells:
    // A = odd ids {1,3,5} near (10,0), B = even ids 2..40 near (0,10)
    val a = Seq(1L, 3L, 5L).map(id => (id, Seq(10.0, 0.001 * id)))
    val b = (2L to 40L by 2).map(id => (id, Seq(0.001 * id, 10.0)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val got = Similarity.clusterBalancedSample(emb, 5, nCentroids = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byCell = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCell.keySet === Set(1L, 2L), s"cells: ${byCell.keySet}")
    // the 3-member cell survives whole; the 20-member cell is capped at 5
    assert(byCell(1L) === Set(1L, 3L, 5L))
    assert(byCell(2L).size === 5 && byCell(2L).forall(_ % 2 == 0))
    assert(got.forall(_._3 <= 5) && got.map(_._1).distinct.length === got.length)
    // deterministic end to end (salted-md5 rank, fixed k-means)
    val again = Similarity.clusterBalancedSample(emb, 5, nCentroids = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(again.toSeq === got.toSeq)
  }

  test("cosineBackground: identical→19, orthogonal→10, opposite→0, " +
    "zero-norm pairs count under the NULL bucket") {
    val emb = Seq(
      (1L, Array(1f, 0f)),   // vs 2: cos 1 → bucket least(20,19)=19
      (2L, Array(2f, 0f)),
      (3L, Array(0f, 1f)),   // vs 1,2: cos 0 → bucket 10
      (4L, Array(-1f, 0f)),  // vs 1,2: cos −1 → bucket 0; vs 3: cos 0 → 10
      (5L, Array(0f, 0f)))   // zero norm: all 4 pairs → NULL bucket
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineBackground(emb, 100).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1))
      .toMap
    assert(got === Map(-1L -> 4L, 0L -> 2L, 10L -> 3L, 19L -> 1L))
  }

  test("labelCentroidDrift: symmetric labels score the same cosine to " +
    "the corpus centroid; an all-null label drops out") {
    val emb = Seq(
      (1L, Array(1f, 0f), "A"), (2L, Array(1f, 0f), "A"),
      (3L, Array(0f, 1f), "B"), (4L, Array(0f, 1f), "B"),
      (5L, null.asInstanceOf[Array[Float]], "C"))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidDrift(emb).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // centroids: A=(1,0), B=(0,1), corpus=(0.5,0.5) over the 4 non-null
    // vectors; cos = 0.5/(1·√0.5) = 0.707107 for both labels
    assert(got.keySet === Set("A", "B"))
    assert(got("A")._1 === 2L && got("B")._1 === 2L)
    assert(got("A")._2 === 0.707107 && got("B")._2 === 0.707107)
  }

  test("labelCentroidDrift on the fixture: every label present, " +
    "cosines in [-1, 1]") {
    val emb = ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.labelCentroidDrift(emb).collect()
    val labels = emb.select("label").distinct().count()
    assert(got.length === labels)
    assert(got.forall(r => r.isNullAt(2) ||
      (r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0)))
  }
}
