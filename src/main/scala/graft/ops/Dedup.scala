package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`
  * (north star, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. Embedding-cosine near-dup lives in [[Similarity]].
  *
  * Scale design:
  *   - exact dedup = hash-groupBy on a 128-bit content hash — one shuffle
  *     keyed by digest, map-side combine, no text moves after the hash;
  *   - MinHash: shingle explosion happens before any shuffle (per-row
  *     generator inside codegen); signatures reduce via `min` with partial
  *     aggregation, so shuffle volume is (docs × seeds), not
  *     (docs × shingles);
  *   - LSH banding turns all-pairs O(n²) into per-bucket candidate
  *     generation — the only join is bucket-key equi, and bucket sizes are
  *     bounded by near-dup cluster sizes, not corpus size;
  *   - SimHash is a single per-row 32-bit signature (constant state per
  *     doc); near-dup = low Hamming distance.
  *
  * Oracle-facing versions hash with md5 (identical hex in DuckDB); the
  * `*Fast` twins use xxhash64 (Spark-native, no hex materialization) —
  * the 100 TB path, checked rows-only.
  */
object Dedup {

  /** Group-level MinHash: a whole group's signature is the elementwise min
    * of its members' signatures (the mergeability that makes MinHash a
    * sketch — union = min). Per-source signatures then estimate
    * cross-source content similarity as the fraction of matching
    * components, without ever comparing documents pairwise.
    */
  def sourceSimilarity(docs: DataFrame): DataFrame = {
    // md5-salted signature (not the xxhash64 Fast twin) so the estimate is
    // oracle-checkable — same merge shape either way: per-source min is a
    // partial aggregate, so shuffle volume is sources × seeds.
    val sig = docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("source"),
        graft.functions.MinHash.signature(col("text"), NumMinhashSeeds)
          .as("sig"))
      .groupBy(col("source"))
      .agg(array((0 until NumMinhashSeeds).map(i =>
        min(element_at(col("sig"), i + 1))): _*).as("sig"))
    sig.as("a").join(sig.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        round(expr(
          s"""size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v))
             | / cast(${NumMinhashSeeds} as double)""".stripMargin)
          , 6).as("est_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Exact dedup: group by content digest; keeper = min doc_id. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .orderBy(col("text_hash"))

  /** Exact-dedup keeper set: one surviving row per distinct text. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** Incremental exact dedup — the steady-state form of [[exactDedup]]:
    * a NEW batch is deduped against the corpus already ingested, so only
    * genuinely novel content survives. Two steps, both on the content
    * digest: drop batch rows whose digest the corpus already has
    * (left-anti), then keep the min-id row per surviving digest
    * (within-batch dedup).
    *
    * Scale shape: the corpus contributes ONLY its distinct-digest column
    * (in production, a persisted digest index — never the text); the anti
    * join and the keeper aggregate both shuffle 16-byte digests. Nothing
    * rescans old text on a new batch.
    */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusDigests = corpus.select(md5(col("text")).as("text_hash"))
      .distinct()
    newDocs.select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(corpusDigests, Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text_hash"))
      .orderBy(col("doc_id"))
  }

  /** Corpus snapshot diff — the versioning audit between two corpus
    * states: per source, how many docs were added, removed, changed
    * (same id, different content digest) or unchanged. One full-outer
    * join on doc_id, then a tiny (source × 4)-key count roll-up; the
    * text never moves, only (id, source, digest).
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), col("source").as("osource"),
      md5(col("text")).as("ohash"))
    val n = newDocs.select(col("doc_id"), col("source").as("nsource"),
      md5(col("text")).as("nhash"))
    // Presence comes from the SOURCE column (non-null iff that side
    // holds the row) — the hash is payload, and a legitimately-NULL text
    // must not make a present row read as absent. A source MOVE counts
    // as 'changed' (attributed to the NEW source, like every changed
    // row): without it, re-attributing a whole source reads as
    // all-unchanged — the silent rewrite this diff exists to surface.
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("nsource"), col("osource")).as("source"),
        when(col("osource").isNull, "added")
          .when(col("nsource").isNull, "removed")
          .when(!(col("ohash") <=> col("nhash")) ||
            !(col("osource") <=> col("nsource")), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("status"))
  }

  /** 3-word shingles of the `text` column (empty array when < 3 words) —
    * the single n-gram implementation lives in [[TextAnalysis.ngrams]] so
    * tokenization can never drift between the dedup and decontamination
    * paths.
    */
  def shingles: Column = TextAnalysis.ngrams(3)

  val NumMinhashSeeds = 8
  val BandSize = 2 // → 4 LSH bands

  /** All [[NumMinhashSeeds]] minhashes in ONE per-row pass via the custom
    * [[graft.functions.MinHashSignature]] expression — no shingle
    * explosion, no shuffle at all (the explode→groupBy(min) form shuffles
    * docs×shingles×seeds rows at 100 TB; this shuffles nothing).
    */
  private def minhashWide(docs: DataFrame): DataFrame =
    docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("doc_id"),
        graft.functions.MinHash.signature(col("text"), NumMinhashSeeds).as("sig"))
      .select(col("doc_id") +:
        (0 until NumMinhashSeeds).map(i =>
          element_at(col("sig"), i + 1).as(s"m$i")): _*)

  /** MinHash signatures, long format: (doc_id, seed, mh) — mh is the min
    * md5 over seed-salted shingles (unpivoted from the wide form).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val stackArgs = (0 until NumMinhashSeeds)
      .map(i => s"$i, m$i").mkString(", ")
    minhashWide(docs)
      .selectExpr("doc_id",
        s"stack($NumMinhashSeeds, $stackArgs) AS (seed, mh)")
      .orderBy(col("doc_id"), col("seed"))
  }

  /** LSH band keys: (doc_id, band, band_key) — band_key digests the band's
    * minhashes in seed order (the G1 digest shape again). Derived straight
    * from the wide signature row: zero extra shuffles.
    */
  def lshBandKeys(docs: DataFrame): DataFrame = {
    val nBands = NumMinhashSeeds / BandSize
    val bandCols = (0 until nBands).map { b =>
      md5(concat((0 until BandSize)
        .map(j => col(s"m${b * BandSize + j}")): _*)).as(s"bk$b")
    }
    val stackArgs = (0 until nBands).map(b => s"${b}L, bk$b").mkString(", ")
    minhashWide(docs)
      .select(col("doc_id") +: bandCols: _*)
      .selectExpr("doc_id", s"stack($nBands, $stackArgs) AS (band, band_key)")
  }

  /** Buckets holding ≥ 2 docs — the LSH candidate groups. */
  def lshBuckets(docs: DataFrame): DataFrame =
    lshBandKeys(docs)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("band"), col("band_key"))

  /** Distinct candidate pairs from any shared LSH bucket — generated
    * per-bucket from a collected id list (bounded by near-dup cluster
    * size), never a self-join, so the expensive minhash subtree is
    * computed once, not twice; `distinct` dedupes multi-band collisions.
    *
    * This IS `minhashNearDupPairs(docs, 0.0)` projected to its id pair:
    * a 0.0 threshold never rejects a candidate (Jaccard of two candidate
    * word sets is always defined and ≥ 0), so the connected-components
    * queries take their edges here and skip the verify's two extra joins
    * and two extra corpus scans (DedupSpec pins the equivalence).
    */
  def lshCandidatePairs(docs: DataFrame): DataFrame =
    lshBandKeys(docs)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(pairsWithin)
      .select(col("p.doc_a"), col("p.doc_b")).distinct()

  /** Every (doc_a < doc_b) pair inside each row's sorted `ids` array,
    * exploded to a struct column `p` — the one per-bucket / per-group
    * pair generator (LSH buckets, exact-dup groups), never a self-join.
    */
  private def pairsWithin: Column = explode(expr(
    """flatten(transform(ids, (x, i) ->
      |  transform(slice(ids, i + 2, size(ids)),
      |    y -> named_struct('doc_a', x, 'doc_b', y))))""".stripMargin))
    .as("p")

  /** MinHash-LSH index tuning harness — [[simhashIndexStats]]'s
    * discipline on the BAND index ([[bucketStats]], one definition):
    * per band, the bucket count, largest bucket, and EXACT candidate
    * volume Σ s·(s−1)/2 the banding would generate — the documented
    * hot-bucket risk of [[lshCandidatePairs]]'s per-bucket
    * collect_list surfaced as data BEFORE a corpus-scale run commits
    * (a pathological max_bucket here says collapse first — n53/n78 —
    * or re-tune bands×rows via [[lshTuning]]). All-integer,
    * oracle-exact; ONE map-side signature pass plus one combinable
    * (band, band_key) count, never the join it sizes.
    */
  def lshIndexStats(docs: DataFrame): DataFrame =
    bucketStats(lshBandKeys(docs), "band", "band_key")
      .orderBy(col("band"))

  /** Candidate pairs from any shared bucket, verified with exact Jaccard
    * over distinct word sets.
    */
  def minhashNearDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    // sortBarrier: the Jaccard-verify joins sit between the candidate
    // front's last exchange and the presentation sort, so the range
    // boundary sampling would re-run the whole verify per action
    Checkpoints.sortBarrier(minhashNearDupPairsRaw(docs, threshold),
        col("doc_a"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[minhashNearDupPairs]] without the presentation sort — the
    * composable form every aggregate/graph consumer reads (their own
    * shuffles make the sort, and the barrier that guards it, pure
    * overhead; EliminateSorts drops the sort but not the exchange).
    */
  private[graft] def minhashNearDupPairsRaw(docs: DataFrame,
                                            threshold: Double): DataFrame = {
    val pairs = lshCandidatePairs(docs)
    val w = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    pairs
      .join(w.as("wa"), col("doc_a") === col("wa.doc_id"))
      .join(w.as("wb"), col("doc_b") === col("wb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("wa.ws"), col("wb.ws"))).cast("double") /
          size(array_union(col("wa.ws"), col("wb.ws"))), 6).as("jaccard"))
      // barrier: without it the threshold lands in the verify join's
      // condition and the intersect+union pair is evaluated twice per
      // candidate (Checkpoints.exprBarrier — plan-pinned in PlanSpec)
      .transform(Checkpoints.exprBarrier(_, "mh_verify"))
      .filter(col("jaccard") >= threshold)
  }

  /** Split-leakage MATRIX — the "did my split leak" dashboard: count
    * verified near-dup pairs ([[minhashNearDupPairs]], same machinery)
    * per unordered split pair (train/val/test), with the pair-universe
    * denominator and the leak rate. The off-diagonal cells are the
    * eval-hygiene number (a nonzero train×test rate means benchmark
    * contamination BEFORE any model sees the data); the diagonal reads
    * as within-split redundancy.
    *
    * The split label is a pure function of doc_id
    * ([[TextAnalysis.splitOf]]), so labeling a pair is two expressions —
    * never a join back to the corpus. Denominators count
    * minhash-ELIGIBLE docs (≥3 words): exactly the universe the
    * candidate front can see, so a rate of 1.0 is reachable and the
    * matrix can't be diluted by unshingleable rows.
    *
    * Scale shape: inherits the near-dup path's (zero-shuffle
    * signatures, bucket-bounded pairs); everything after is a
    * ≤6-row matrix joined against a 3-row broadcast size frame.
    */
  def splitLeakageMatrix(docs: DataFrame,
                         threshold: Double = 0.3): DataFrame = {
    val sa = TextAnalysis.splitOf(col("doc_a"))
    val sb = TextAnalysis.splitOf(col("doc_b"))
    val m = minhashNearDupPairsRaw(docs, threshold)
      .select(least(sa, sb).as("split_a"), greatest(sa, sb).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val sizes = docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .groupBy(TextAnalysis.splitCol.as("split"))
      .agg(count(lit(1)).as("n"))
    m.join(broadcast(sizes.select(col("split").as("split_a"),
        col("n").as("na"))), Seq("split_a"))
      .join(broadcast(sizes.select(col("split").as("split_b"),
        col("n").as("nb"))), Seq("split_b"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        when(col("split_a") === col("split_b"),
          expr("(na * (na - 1)) div 2")).otherwise(col("na") * col("nb"))
          .as("n_possible"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_possible"),
        when(col("n_possible") === 0, lit(null))
          .otherwise(round(col("n_pairs").cast("double") /
            col("n_possible"), 9)).as("leak_rate"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Source-leakage MATRIX — the exact-count twin of
    * [[sourceSimilarity]] (n28, a MinHash-sketch ESTIMATE of pairwise
    * source overlap): verified near-dup pairs per unordered
    * (source, source) cell with eligible-universe denominators and the
    * duplication rate. Off-diagonal cells say which sources copy from
    * each other (mirror sites, syndication) — the provenance signal a
    * mixing decision ([[graft.ops.TextAnalysis.temperatureMix]],
    * [[graft.ops.TextAnalysis.unimaxMix]]) should see before
    * up-weighting an apparently-small source that is a duplicate of a
    * big one.
    *
    * Unlike the split ([[splitLeakageMatrix]]), source is DATA, not a
    * function of the id — so the pair labeling is two joins of the
    * verified pairs against the (doc_id, source) projection. The pairs
    * side is near-dup-bounded and broadcast here (the bench/oracle
    * shape); [[sourceLeakageMatrixShuffle]] is the hint-free twin for a
    * corpus where verified pairs outgrow a broadcast, and
    * [[sourceLeakageMatrixAuto]] picks between them from the MEASURED
    * pair count (the n80 measure-then-choose discipline) — the
    * (doc_id, source) projection is 16 bytes a row on every path, never
    * the text.
    */
  def sourceLeakageMatrix(docs: DataFrame,
                          threshold: Double = 0.3): DataFrame =
    sourceLeakageCore(docs,
      minhashNearDupPairsRaw(docs, threshold).select(col("doc_a"), col("doc_b")),
      broadcast)

  /** [[sourceLeakageMatrix]] with the pair-side broadcast hints DROPPED
    * — the labeling becomes a pair-count-sized shuffle join on doc_id.
    * The form a corpus whose verified near-dup pair set outgrows an
    * executor broadcast must run; bit-equal to the broadcast form by
    * construction (one [[sourceLeakageCore]] definition, DedupSpec pins
    * it and the plan shape of both branches).
    */
  def sourceLeakageMatrixShuffle(docs: DataFrame,
                                 threshold: Double = 0.3): DataFrame =
    sourceLeakageCore(docs,
      minhashNearDupPairsRaw(docs, threshold).select(col("doc_a"), col("doc_b")),
      identity)

  /** Default ceiling for [[sourceLeakageMatrixAuto]]'s broadcast branch:
    * 4M verified pairs ≈ 64 MB of (doc_a, doc_b) longs hashed — inside
    * a default executor broadcast budget with headroom.
    */
  val MaxBroadcastPairs = 4000000L

  /** The MEASURED switch between [[sourceLeakageMatrix]] (broadcast
    * pairs) and [[sourceLeakageMatrixShuffle]] (shuffle pairs) — the
    * n80 measure-then-choose discipline made real for the leakage
    * matrix: the verified pair set is materialized ONCE
    * ([[Checkpoints.cut]] — the expensive minhash subtree never runs
    * twice), its EXACT count read from the cut, and the labeling joins
    * take the broadcast path only when the count fits
    * `maxBroadcastPairs`. Both branches consume the same cut frame and
    * one [[sourceLeakageCore]], so the choice can never change the
    * answer — only the exchange strategy.
    *
    * EAGER by contract: the measure-then-choose read (`pairs.count()`
    * on the cut) runs the full minhash candidate+verify subtree AT
    * CONSTRUCTION TIME — composing or plan-inspecting this operator
    * executes jobs, unlike the rest of the registry (the
    * [[graft.ops.TextAnalysis.bloomDecontamination]] precedent, which
    * states the same thing for its filter build). Callers that need a
    * lazy plan pick a branch explicitly ([[sourceLeakageMatrix]] /
    * [[sourceLeakageMatrixShuffle]]); the auto form exists exactly for
    * the caller who wants the measured decision and accepts the action.
    */
  def sourceLeakageMatrixAuto(
      docs: DataFrame, threshold: Double = 0.3,
      maxBroadcastPairs: Long = MaxBroadcastPairs): DataFrame = {
    val pairs = Checkpoints.cut(
      minhashNearDupPairsRaw(docs, threshold).select(col("doc_a"), col("doc_b")))
    sourceLeakageCore(docs, pairs,
      if (pairs.count() <= maxBroadcastPairs) broadcast else identity)
  }

  /** ONE definition of the source-leakage matrix over an arbitrary
    * verified (doc_a, doc_b) pair frame — `hint` is the exchange
    * strategy for the pair-sized side of the two labeling joins
    * (`broadcast` when the pair set fits, `identity` to let it shuffle).
    * Everything else (canonicalization, denominators, rates) is shared
    * verbatim across the three public forms.
    */
  private def sourceLeakageCore(docs: DataFrame, pairs: DataFrame,
                                hint: DataFrame => DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val withA = src.join(hint(pairs), col("doc_id") === col("doc_a"))
      .select(col("source").as("sa"), col("doc_b"))
    val m = src.join(hint(withA), col("doc_id") === col("doc_b"))
      .select(least(col("sa"), col("source")).as("source_a"),
        greatest(col("sa"), col("source")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val sizes = docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    m.join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("na"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        when(col("source_a") === col("source_b"),
          expr("(na * (na - 1)) div 2")).otherwise(col("na") * col("nb"))
          .as("n_possible"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_possible"),
        when(col("n_possible") === 0, lit(null))
          .otherwise(round(col("n_pairs").cast("double") /
            col("n_possible"), 9)).as("dup_rate"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Leakage-SAFE train/val/test assignment — the ELIMINATOR the
    * leakage matrix ([[splitLeakageMatrix]], n97) motivates: instead of
    * measuring how many verified near-dup pairs straddle the
    * train/test boundary, make straddling impossible. The split key is
    * the doc's near-dup COMPONENT minimum (the [[dupLabelsLogN]]
    * cluster label over the verified pair graph at `threshold`) for
    * clustered docs and the doc's own id otherwise; the split label is
    * [[TextAnalysis.splitOf]] of that key. Every verified pair lies
    * inside one component, so both endpoints hash to the same split —
    * the off-diagonal of the leakage matrix over this assignment is
    * zero BY CONSTRUCTION ([[leakageSafeMatrix]] publishes that zero
    * as data; DedupSpec pins it and the planted straddling pair).
    *
    * Scale shape: the verified-pair front is the near-dup path's
    * (zero-shuffle signatures, bucket-bounded pairs); CC runs over the
    * EDGE list (pairs ≪ corpus at any real τ); the label join back to
    * the corpus is hint-free — labels are a (long, long) projection of
    * only the CLUSTERED docs, so size stats/AQE pick broadcast when it
    * fits and a doc_id shuffle when it doesn't (the n73→n109 lesson:
    * never force a broadcast on a corpus-shaped frame).
    */
  def leakageSafeSplits(docs: DataFrame, threshold: Double = 0.3): DataFrame =
    leakageSafeSplitsFromPairs(docs, Checkpoints.cut(
      minhashNearDupPairsRaw(docs, threshold)
        .select(col("doc_a"), col("doc_b"))))

  /** [[leakageSafeSplits]] over an ALREADY-VERIFIED (and cut) pair
    * frame — the composable form [[leakageSafeMatrix]] uses so the
    * candidate+verify front is computed once per proof, not once per
    * consumer.
    */
  private[ops] def leakageSafeSplitsFromPairs(docs: DataFrame,
                                              pairs: DataFrame): DataFrame = {
    val labels = dupLabelsLogN(pairs)
    val key = coalesce(col("cluster"), col("doc_id"))
    docs.select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("cluster")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), key.as("split_key"),
        TextAnalysis.splitOf(key).as("split"))
      .orderBy(col("doc_id"))
  }

  /** The PROOF query for [[leakageSafeSplits]]: the split-leakage
    * matrix recomputed over the cluster-aware assignment, emitting the
    * FULL cell universe (all split pairs from the size frame, zero
    * n_pairs included) so the off-diagonal zeros are visible as rows,
    * not as absences. Same schema as [[splitLeakageMatrix]] — diagonal
    * cells still read as within-split redundancy (components hash
    * whole, they don't vanish).
    *
    * The safe split is cluster-derived DATA, not a pure id function,
    * so pair labeling is two joins against the (doc_id, split)
    * assignment (the [[sourceLeakageCore]] shape), hint-free for the
    * same reason as the assignment join. The cell universe is a
    * 3-row × 3-row broadcast nested loop — never a CartesianProduct.
    */
  def leakageSafeMatrix(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = Checkpoints.cut(
      minhashNearDupPairsRaw(docs, threshold)
        .select(col("doc_a"), col("doc_b")))
    val asg = Checkpoints.cut(
      leakageSafeSplitsFromPairs(docs, pairs)
        .select(col("doc_id"), col("split")))
    val withA = asg.join(pairs, col("doc_id") === col("doc_a"))
      .select(col("split").as("sa"), col("doc_b"))
    val m = asg.join(withA, col("doc_id") === col("doc_b"))
      .select(least(col("sa"), col("split")).as("split_a"),
        greatest(col("sa"), col("split")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
    // cut: the 3-row size frame feeds BOTH sides of the cell cross join;
    // uncut, the eligible-scan + assignment join would execute twice
    val sizes = Checkpoints.cut(docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("doc_id"))
      .join(asg, Seq("doc_id"))
      .groupBy(col("split")).agg(count(lit(1)).as("n")))
    val cells = sizes.select(col("split").as("split_a"), col("n").as("na"))
      .crossJoin(broadcast(
        sizes.select(col("split").as("split_b"), col("n").as("nb"))))
      .filter(col("split_a") <= col("split_b"))
    cells.join(broadcast(m), Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("split_a") === col("split_b"),
          expr("(na * (na - 1)) div 2")).otherwise(col("na") * col("nb"))
          .as("n_possible"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_possible"),
        when(col("n_possible") === 0, lit(null))
          .otherwise(round(col("n_pairs").cast("double") /
            col("n_possible"), 9)).as("leak_rate"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Asymmetric near-dup CONTAINMENT pairs — the quote/subset signal
    * symmetric Jaccard misses: a short doc fully quoted inside a long
    * one scores |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but containment
    * C(A⊂B) = |A∩B|/|A| = 1. Both directions are emitted per candidate
    * pair and the pair survives when either clears `threshold` — the
    * dedup reviewer's "is this just an excerpt" column.
    *
    * Candidate front: the SAME LSH band machinery as
    * [[minhashNearDupPairs]] (one signature subtree, per-bucket pair
    * gen). Honest caveat, documented not hidden: MinHash collision
    * probability tracks the SYMMETRIC Jaccard, so extreme-ratio
    * containment (a 10-word quote in a 10k-word doc) rarely shares a
    * band and won't be proposed — those pairs are
    * [[containmentPairsPrefix]]'s job (the prefix-filtered inverted
    * index, exact recall on shingle containment); the verify math here
    * is already exact for whatever front proposes.
    *
    * Scale shape: identical to [[minhashNearDupPairs]] — zero-shuffle
    * signatures, bucket-bounded pair generation, exact verification on
    * candidate pairs only.
    */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame =
    containmentPairsRaw(docs, threshold).orderBy(col("doc_a"), col("doc_b"))

  /** [[containmentPairs]] without the presentation sort — the form the
    * collapsed twin runs over the group reps.
    */
  private def containmentPairsRaw(docs: DataFrame,
                                  threshold: Double): DataFrame = {
    val pairs = lshCandidatePairs(docs)
    val w = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    pairs
      .join(w.as("wa"), col("doc_a") === col("wa.doc_id"))
      .join(w.as("wb"), col("doc_b") === col("wb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("wa.ws"), col("wb.ws"))).as("inter"),
        size(col("wa.ws")).as("na"), size(col("wb.ws")).as("nb"))
      // barrier below the threshold: see minhashNearDupPairsRaw — the
      // pushed predicate would re-evaluate the intersect per reference
      .transform(Checkpoints.exprBarrier(_, "cont_verify"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("na"), 6).as("cont_a_in_b"),
        round(col("inter").cast("double") / col("nb"), 6).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** [[containmentPairs]] with the exact-dup pre-collapse composed in
    * front of the banding — the production form for dup-heavy corpora,
    * the same n53/n78 move: identical texts share every shingle,
    * signature, band key, and word set, so banding and verifying ONE
    * representative per distinct text ([[digestGroups]]) and expanding
    * the verified rep pairs back through the member lists
    * ([[expandRepPairs]]) is EXACT, not approximate. Within-group pairs
    * are identical texts — containment 1.0 both ways, which the
    * uncollapsed path emits via their all-bands-shared buckets.
    * Without the collapse, a bucket holding a size-g dup group pays
    * g²/2 pair generation and verification for values the group's one
    * rep already determines. DedupSpec pins bit-equality with
    * [[containmentPairs]] on the fixture and on replicated dup-heavy
    * variants; the registry's n91 proves it against n90's DuckDB oracle
    * verbatim.
    */
  def containmentPairsCollapsed(docs: DataFrame,
                                threshold: Double): DataFrame = {
    val groups = Checkpoints.cut(digestGroups(
      docs.filter(graft.functions.MinHash.eligible(col("text")))))
    expandRepPairs(
      containmentPairsRaw(
        groups.select(col("rep").as("doc_id"), col("text")), threshold),
      // a threshold above 1 keeps no rep pair, and no within-group pair
      // either (those score 1.0)
      groups.filter(lit(1.0) >= threshold), ContainmentValues)
  }

  /** Exact-dup digest groups: one row per distinct md5(text) with
    * rep = min doc_id, the group's text (identical across its members)
    * and the sorted member ids — the front every text pre-collapse
    * runs its pair or window machinery over. Lazy; each caller picks
    * its own materialization.
    */
  private[ops] def digestGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("rep"), first(col("text")).as("text"),
        sort_array(collect_list(col("doc_id"))).as("ids"))

  /** The member pair relation of an exact-dup collapse, rebuilt from
    * the pair front's answer over the group reps. Each rep pair
    * (doc_a, doc_b, values…) expands map-side to its two groups' member
    * cross product, each member pair ordered doc_a < doc_b; every
    * ≥ 2-member group adds its within-group pairs. `groups` holds
    * (rep, ids). Each of `values` is (column, mirror, within): a member
    * pair whose id order flips against its reps' takes the `mirror`
    * column's value (the other direction of an asymmetric score, the
    * column itself for a symmetric one), and a within-group pair —
    * identical texts or signatures — takes `within`. Sorted by
    * (doc_a, doc_b).
    */
  private def expandRepPairs(repPairs: DataFrame, groups: DataFrame,
                             values: Seq[(String, String, Column)])
      : DataFrame = {
    val gids = groups.select(col("rep"), col("ids"))
    val cross = repPairs
      .join(gids.as("ga"), col("doc_a") === col("ga.rep"))
      .join(gids.as("gb"), col("doc_b") === col("gb.rep"))
      .select(values.map(v => col(v._1)) :+
        explode(flatten(transform(col("ga.ids"), a =>
          transform(col("gb.ids"), b =>
            struct(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"),
              (a < b).as("aFirst")))))).as("p"): _*)
      .select(col("p.doc_a") +: col("p.doc_b") +: values.map {
        case (v, mirror, _) =>
          when(col("p.aFirst"), col(v)).otherwise(col(mirror)).as(v)
      }: _*)
    val within = groups
      .filter(size(col("ids")) > 1)
      .select(pairsWithin)
      .select(col("p.doc_a") +: col("p.doc_b") +: values.map {
        case (v, _, w) => w.as(v)
      }: _*)
    // sortBarrier: the rep-level verify and the member expansion sit
    // between the last exchange and the range sort, so boundary
    // sampling would re-run them per action
    Checkpoints.sortBarrier(cross.unionAll(within), col("doc_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Containment's [[expandRepPairs]] values: the two directions trade
    * places when a member pair's id order flips across its groups, and
    * identical texts contain each other fully.
    */
  private val ContainmentValues = Seq(
    ("cont_a_in_b", "cont_b_in_a", lit(1.0)),
    ("cont_b_in_a", "cont_a_in_b", lit(1.0)))

  /** MinHash/LSH NEAR-DUP decontamination: test-split docs flagged
    * against train-split docs that share an LSH band-bucket, verified
    * with exact word-set Jaccard ≥ `threshold`. Fills the gap between
    * the exact-fingerprint check ([[graft.ops.TextAnalysis.decontamination]]
    * — verbatim copies only) and the n-gram overlap fraction
    * ([[graft.ops.TextAnalysis.ngramDecontamination]] — a per-doc score,
    * not flagged pairs): this is the benchmark-leakage sweep as run in
    * practice (near-duplicate eval docs in the train set, lightly edited
    * copies included), and it rides the SAME signatures the dedup path
    * already computes.
    *
    * Scale shape: the split label is a column of doc_id (never a join);
    * candidate pairs generate per-bucket from a collected (id, split)
    * list — bounded by bucket size, the minhash subtree computed once —
    * and only test×train pairs materialize, so a bucket of pure train
    * docs (the overwhelming case) emits nothing. The verify join touches
    * candidate pairs only. Same no-self-join contract as
    * [[lshCandidatePairs]].
    */
  def minhashDecontamination(docs: DataFrame,
                             threshold: Double = 0.5): DataFrame = {
    val pairs = lshBandKeys(docs)
      .withColumn("split", TextAnalysis.splitCol)
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("split"))))
        .as("ms"))
      .select(explode(expr(
        """flatten(transform(filter(ms, m -> m.split = 'test'), t ->
          |  transform(filter(ms, m -> m.split = 'train'),
          |    r -> named_struct('test_doc', t.doc_id,
          |                      'train_doc', r.doc_id))))""".stripMargin))
        .as("p"))
      .select(col("p.test_doc"), col("p.train_doc")).distinct()
    val w = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    pairs
      .join(w.as("wa"), col("test_doc") === col("wa.doc_id"))
      .join(w.as("wb"), col("train_doc") === col("wb.doc_id"))
      .select(col("test_doc"), col("train_doc"),
        round(size(array_intersect(col("wa.ws"), col("wb.ws"))).cast("double") /
          size(array_union(col("wa.ws"), col("wb.ws"))), 6).as("jaccard"))
      // barrier: keep the intersect+union verify single-eval (see
      // minhashNearDupPairsRaw)
      .transform(Checkpoints.exprBarrier(_, "mhdecon_verify"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("test_doc"), col("train_doc"))
  }

  /** [[minhashDecontamination]] with the [[dupLabelsCollapsed]] exact-dup
    * pre-collapse composed in front of the banding — the production form
    * for dup-heavy corpora (which is what a decontamination run targets
    * by definition: the contaminated case IS repeated text).
    *
    * Why: per-bucket candidate generation is Σ (test-members ×
    * train-members) per bucket, and the biggest buckets on real corpora
    * are exact-duplicate groups, so the uncollapsed pair expansion grows
    * quadratically with dup-group size. Identical (minhash-eligible)
    * texts share every shingle, signature, and band key, so banding ONE
    * REPRESENTATIVE per distinct text loses nothing: a test×train doc
    * pair shares a bucket iff their reps do (identical band-key sets),
    * and its exact word-set Jaccard equals its reps' (identical word
    * sets). The expansion back through the digest map is therefore
    * EXACT, not approximate:
    *
    *   - cross-group flags: verified rep pair (A,B,j) expands to
    *     tests(A)×trains(B) ∪ tests(B)×trains(A), each at jaccard j;
    *   - within-group flags: a group holding both test and train members
    *     emits tests×trains at jaccard 1.0 (identical texts — n72 flags
    *     these via their shared buckets; rep pairs can't, a group has
    *     one rep).
    *
    * DedupSpec pins bit-equality with [[minhashDecontamination]] on the
    * fixture corpus and on dup-heavy variants; the registry's n78 proves
    * it against the same DuckDB oracle as n72. The banding/verify stages
    * now run on the DISTINCT-TEXT table: Σ bucket² and the verify join
    * are bounded by distinct-text near-dup structure regardless of how
    * many copies each text has — the n53 move, applied to the
    * decontamination front. [[graft.ops.TextAnalysis.contaminationReport]]
    * composes THIS form (bit-equal, so its oracle is unchanged).
    */
  def minhashDecontaminationCollapsed(docs: DataFrame,
                                      threshold: Double = 0.5): DataFrame = {
    val eligible = docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("doc_id"), col("text"), TextAnalysis.splitCol.as("split"))
    // One digest aggregate collapses copies before anything is shingled;
    // member ids ride along as per-split arrays (collect_list skips the
    // nulls of the other splits), so the expansion is a map-side explode,
    // never a join back to the corpus. Cut once: the groups frame feeds
    // the rep corpus, the rep-text verify, and both expansions.
    val groups = Checkpoints.cut(
      eligible.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("rep"), first(col("text")).as("text"),
          sort_array(collect_list(when(col("split") === "test",
            col("doc_id")))).as("test_ids"),
          sort_array(collect_list(when(col("split") === "train",
            col("doc_id")))).as("train_ids")))
    // Rep banding CARRIES the group's has-test/has-train flags so the
    // per-bucket pair generation keeps the uncollapsed path's pruning: a
    // rep pair materializes only when one side holds test members and
    // the other train members — without this, every ≥2 bucket would
    // emit ALL its rep pairs into the verify join (~6× the pair volume
    // on an 80/10 train/test corpus), and the dup-free (p=0) case would
    // pay it with nothing to collapse.
    val nBands = NumMinhashSeeds / BandSize
    val bandCols = (0 until nBands).map { b =>
      md5(concat((0 until BandSize)
        .map(j => element_at(col("sig"), b * BandSize + j + 1)): _*))
        .as(s"bk$b")
    }
    val stackArgs = (0 until nBands).map(b => s"${b}L, bk$b").mkString(", ")
    val repPairs = groups
      .select(col("rep"), (size(col("test_ids")) > 0).as("ht"),
        (size(col("train_ids")) > 0).as("hr"),
        graft.functions.MinHash.signature(col("text"), NumMinhashSeeds)
          .as("sig"))
      .select(col("rep") +: col("ht") +: col("hr") +: bandCols: _*)
      .selectExpr("rep", "ht", "hr",
        s"stack($nBands, $stackArgs) AS (band, band_key)")
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(struct(col("rep"), col("ht"), col("hr"))))
        .as("gs"))
      .filter(size(col("gs")) > 1)
      .select(explode(expr(
        """flatten(transform(gs, (x, i) ->
          |  transform(filter(slice(gs, i + 2, size(gs)),
          |      y -> (x.ht AND y.hr) OR (y.ht AND x.hr)),
          |    y -> named_struct('rep_a', x.rep, 'rep_b', y.rep))))"""
          .stripMargin))
        .as("p"))
      .select(col("p.rep_a"), col("p.rep_b")).distinct()
    val w = groups.select(col("rep"),
      array_distinct(split(col("text"), " ")).as("ws"),
      col("test_ids"), col("train_ids"))
    val verified = repPairs
      .join(w.as("wa"), col("rep_a") === col("wa.rep"))
      .join(w.as("wb"), col("rep_b") === col("wb.rep"))
      .select(
        round(size(array_intersect(col("wa.ws"), col("wb.ws"))).cast("double") /
          size(array_union(col("wa.ws"), col("wb.ws"))), 6).as("jaccard"),
        col("wa.test_ids").as("test_a"), col("wa.train_ids").as("train_a"),
        col("wb.test_ids").as("test_b"), col("wb.train_ids").as("train_b"))
      // barrier: keep the rep-level intersect+union single-eval (see
      // minhashNearDupPairsRaw) — doubly important here, where the
      // verified frame feeds TWO expansion branches
      .transform(Checkpoints.exprBarrier(_, "mhdeconc_verify"))
      .filter(col("jaccard") >= threshold)
    def cross(tests: Column, trains: Column) = explode(flatten(
      transform(tests, t => transform(trains, r =>
        struct(t.as("test_doc"), r.as("train_doc"))))))
    val expandAB = verified
      .select(col("jaccard"), cross(col("test_a"), col("train_b")).as("p"))
    val expandBA = verified
      .select(col("jaccard"), cross(col("test_b"), col("train_a")).as("p"))
    val within = groups
      .filter(size(col("test_ids")) > 0 && size(col("train_ids")) > 0 &&
        lit(1.0) >= threshold)
      .select(lit(1.0).as("jaccard"),
        cross(col("test_ids"), col("train_ids")).as("p"))
    expandAB.unionAll(expandBA).unionAll(within)
      .select(col("p.test_doc"), col("p.train_doc"), col("jaccard"))
      .orderBy(col("test_doc"), col("train_doc"))
  }

  /** Full-pair-space SimHash near-dup pairs via the PIGEONHOLE block
    * index (the Manku/Jain/Sarma WWW'07 web-dedup construction): split
    * the `SimhashBits`-bit hash into `nBlocks` equal blocks and
    * equi-join on (block index, block value). With maxDist < nBlocks,
    * any pair within Hamming distance maxDist differs in at most
    * maxDist blocks, so at least one block matches EXACTLY — the
    * candidate set provably contains every qualifying pair (exact
    * recall, unlike MinHash banding's probabilistic recall); the
    * bit_count verify then discards false candidates. Complements
    * [[simhashAdjacentHamming]] (n8's linear-sample twin) with the full
    * pair space at index cost.
    *
    * Scale shape: one map-side hash per doc, nBlocks index rows per
    * doc, equi-join on the block key (never a nested loop), verify is
    * one xor+popcount per candidate. Skewed block values (the
    * pathological all-zeros block on short docs) are the documented
    * hot-bucket risk — AQE skew-join handles moderate skew, and the
    * Manku permuted-table refinement is the named extension for
    * extreme corpora.
    */
  def simhashNearDupPairs(docs: DataFrame, maxDist: Int = 3,
                          nBlocks: Int = 4): DataFrame =
    blockIndexedHammingPairs(simhashRaw(docs), SimhashBits, maxDist, nBlocks)

  /** The 60-bit signature width for [[simhashNearDupPairsWide]]. */
  val SimhashWideBits = 60

  /** 60-bit SimHash per doc — the wide production signature (see
    * [[graft.functions.SimHash60]] for why 60 and why wide). Unsorted:
    * see [[simhashRaw]] for why consumers must not inherit a sort. */
  def simhashWideRaw(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimHash.simhash60(col("text")).as("simhash"))

  /** [[simhashNearDupPairs]] over the 60-bit signature — the
    * PRODUCTION twin: same pigeonhole completeness (maxDist < nBlocks),
    * but 15-bit blocks hold 2⁷× fewer colliding docs than the 32-bit
    * variant's 8-bit blocks, which is the difference between linear and
    * quadratic candidate volume at corpus scale (measured in
    * BENCH_NOTES: the 32-bit index goes super-linear past ~10⁴ docs on
    * a near-dup-free corpus while this stays near-linear). n93 keeps
    * the 32-bit form as the n7/n8-family oracle anchor.
    */
  def simhashNearDupPairsWide(docs: DataFrame, maxDist: Int = 3,
                              nBlocks: Int = 4): DataFrame =
    blockIndexedHammingPairs(simhashWideRaw(docs), SimhashWideBits, maxDist,
      nBlocks)

  /** Incremental near-dup screening of a NEW BATCH against an existing
    * corpus via the 60-bit pigeonhole index — the simhash member of the
    * incremental family ([[incrementalDedup]] exact-digest,
    * [[graft.ops.Similarity.incrementalSemanticDedup]] embedding-side).
    * Emits the batch's SURVIVORS (doc_id, simhash): docs dropped when
    * (a) a corpus doc sits within `maxDist` hamming, or (b) a
    * smaller-id BATCH doc does (the pessimistic greedy keeper —
    * standard ingest semantics; near-dup is not transitive, so the
    * greedy rule is the deterministic contract, not a CC pass).
    *
    * Scale shape: in production the corpus side is a persisted
    * (doc_id, simhash) INDEX — 16 bytes a row, never the text; the
    * batch is small, so BOTH screening joins broadcast the batch's
    * block keys and the index streams map-side past them (the n55
    * shape, plan-pinned) — nothing rescans or shuffles the corpus on a
    * new batch.
    */
  def incrementalSimhashDedup(newDocs: DataFrame, corpus: DataFrame,
                              maxDist: Int = 3,
                              nBlocks: Int = 4): DataFrame =
    incrementalSimhashDedupFromIndex(newDocs, simhashWideRaw(corpus), maxDist,
      nBlocks)

  /** [[incrementalSimhashDedup]] against a PRE-HASHED (doc_id, simhash)
    * index — the form the streaming ingest consumes: the persisted
    * index stores 16-byte signature rows, never the text, so screening
    * a batch costs one signature pass over the BATCH plus a map-side
    * stream of the index, and the index table stays text-free no matter
    * how the corpus grows.
    */
  def incrementalSimhashDedupFromIndex(newDocs: DataFrame,
                                       index: DataFrame,
                                       maxDist: Int = 3,
                                       nBlocks: Int = 4): DataFrame =
    incrementalSignatureDedupFromIndex(
      Checkpoints.cut(simhashWideRaw(newDocs)), index,
      SimhashWideBits, maxDist, nBlocks)

  /** The signature-GENERIC core of [[incrementalSimhashDedupFromIndex]]
    * — screen a pre-hashed (doc_id, simhash) BATCH against a pre-hashed
    * index at hamming ≤ maxDist, keeping batch rows with no indexed or
    * earlier-in-batch neighbor (greedy stream policy). Factored so the
    * media ingests ([[graft.sources.Multimodal.mediaSignatureDedupFromIndex]],
    * 64-bit signatures) and the text simhash ingest (60-bit) share ONE
    * definition of the screening joins and the pigeonhole recall
    * argument (nBlocks > maxDist ⇒ some untouched block matches).
    * `batch` must already be cut by the caller if expensive to derive —
    * it feeds both screening joins and the anti join.
    */
  private[graft] def incrementalSignatureDedupFromIndex(
      batch: DataFrame, index: DataFrame, bits: Int,
      maxDist: Int, nBlocks: Int): DataFrame = {
    require(maxDist < nBlocks)
    // maxDist ≥ 0 is what makes the rep collapse below survivor-exact
    // (distance-0 duplicates must count as neighbors)
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // collapse the BATCH to one rep (min doc_id) per DISTINCT signature
    // before any block join — the n118/n123 lesson a third time, found
    // by measurement (the m6 sweep): identical signatures multiply the
    // per-bucket probe side by dup-group size for screening decisions
    // one rep already determines. Survivor-EXACT: a non-rep duplicate
    // always has an earlier batch neighbor at distance 0 ≤ maxDist, so
    // it can never survive; a rep survives iff no indexed signature and
    // no smaller-rep batch signature sits within maxDist — the same
    // "any earlier arrival" test the uncollapsed join expressed
    // (DedupSpec n95 and the m6 brute-force spec pin the outputs).
    // The INDEX side stays uncollapsed and streams map-side past the
    // broadcast rep blocks — a distinct() on it would cost the
    // corpus-sized shuffle this whole shape exists to avoid.
    val reps = Checkpoints.cut(batch
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("simhash")))
    val repBlocks = blockKeys(reps, bits, nBlocks)
    val corpusHit = blockKeys(index.select(col("doc_id"), col("simhash")),
        bits, nBlocks).as("i")
      .join(broadcast(repBlocks.as("n")),
        col("i.blk") === col("n.blk") && col("i.bv") === col("n.bv"))
      .filter(bit_count(col("i.simhash").bitwiseXOR(col("n.simhash")))
        <= maxDist)
      .select(col("n.doc_id").as("doc_id")).distinct()
    val batchHit = repBlocks.as("a")
      .join(broadcast(repBlocks.as("b")),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
        <= maxDist)
      .select(col("b.doc_id").as("doc_id")).distinct()
    reps.join(broadcast(corpusHit.union(batchHit).distinct()),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))
  }

  /** GROUP-level greedy incremental screening over MEMBER signatures —
    * the [[incrementalSignatureDedupFromIndex]] policy lifted one
    * level, for modalities whose unit of dedup carries SEVERAL
    * signatures (a video clip's sampled-frame hashes): a batch group
    * `g` survives iff none of its member signatures sits within
    * `maxDist` of (a) any INDEX signature or (b) any member signature
    * of an EARLIER batch group (group-id order — the n95 "any earlier
    * arrival, kept or dropped" rule; a group's OWN members never
    * screen each other).
    *
    * Shape (all decisions at DISTINCT-signature level — the m6
    * collapse lesson, so identical frames across re-posted clips can
    * never multiply a join):
    *   1. per distinct batch signature s: minGrp(s) = earliest group
    *      carrying it (distance-0 arrivals collapse here);
    *   2. the permuted pigeonhole pair front over distinct signatures
    *      yields near pairs; nearMin(s) = min minGrp over s and its
    *      neighbors — the earliest arrival that can kill via s;
    *   3. g drops iff min over its signatures of nearMin < g — ONE
    *      membership join + a per-group min, never a pair expansion;
    *   4. index hits ride the corpusHit shape: index block keys stream
    *      map-side past the BROADCAST distinct-signature blocks.
    * Returns the surviving (grp_id) rows.
    */
  private[graft] def incrementalGroupSignatureDedupFromIndex(
      batch: DataFrame, index: DataFrame, bits: Int,
      maxDist: Int, nBlocks: Int): DataFrame = {
    require(maxDist < nBlocks && maxDist >= 0)
    // distinct (group, signature) membership — within-group duplicate
    // frames collapse here (they cannot affect any screening decision)
    val members = Checkpoints.cut(
      batch.select(col("grp_id"), col("simhash")).distinct())
    val minGrp = Checkpoints.cut(members.groupBy(col("simhash"))
      .agg(min(col("grp_id")).as("min_grp")))
    // the pair front needs a unique per-row doc_id; the DISTINCT
    // signature VALUE is one (64-bit signatures are Longs — the same
    // move would need a dense rank at wider signatures)
    val near = simhashNearDupPairsPermutedFromIndex(
      minGrp.select(col("simhash").as("doc_id"), col("simhash")),
      bits, maxDist, nBlocks, nBlocks - maxDist)
      .select(col("doc_a").as("sa"), col("doc_b").as("sb"))
    // nearMin(s) = the earliest batch arrival reachable through s:
    // min over {s} ∪ neighbors(s) of minGrp — distance-0 arrivals are
    // already inside minGrp itself
    // every frame below is BATCH-derived (bounded by the micro-batch's
    // distinct signature count) — broadcast the lookup sides, the same
    // contract as the flat core's screening joins; only the INDEX side
    // of idxHit streams
    val nbrMin = near
      .join(broadcast(minGrp.select(col("simhash").as("sb"),
        col("min_grp").as("mb"))), Seq("sb"))
      .select(col("sa").as("simhash"), col("mb").as("m"))
      .unionAll(near
        .join(broadcast(minGrp.select(col("simhash").as("sa"),
          col("min_grp").as("ma"))), Seq("sa"))
        .select(col("sb").as("simhash"), col("ma").as("m")))
      .groupBy(col("simhash")).agg(min(col("m")).as("nbr_min"))
    val nearMin = minGrp.join(broadcast(nbrMin), Seq("simhash"),
        "left_outer")
      .select(col("simhash"),
        least(col("min_grp"), coalesce(col("nbr_min"), col("min_grp")))
          .as("near_min"))
    // index hits at distinct-signature level: the corpusHit shape —
    // index block keys stream map-side past the BROADCAST batch blocks
    val sigBlocks = blockKeys(
      minGrp.select(col("simhash").as("doc_id"), col("simhash")),
      bits, nBlocks)
    val idxHit = blockKeys(index.select(col("doc_id"), col("simhash")),
        bits, nBlocks).as("i")
      .join(broadcast(sigBlocks.as("n")),
        col("i.blk") === col("n.blk") && col("i.bv") === col("n.bv"))
      .filter(bit_count(col("i.simhash").bitwiseXOR(col("n.simhash")))
        <= maxDist)
      .select(col("n.simhash").as("simhash")).distinct()
    // a group drops iff ANY of its signatures is index-hit or reaches
    // an earlier batch arrival — one membership join, per-group min
    val dropped = members
      .join(broadcast(idxHit.withColumn("ih", lit(true))),
        Seq("simhash"), "left_outer")
      .join(broadcast(nearMin), Seq("simhash"), "left_outer")
      .groupBy(col("grp_id"))
      .agg(max(coalesce(col("ih"), lit(false))).as("any_idx"),
        min(coalesce(col("near_min"), col("grp_id"))).as("reach"))
      .filter(col("any_idx") || col("reach") < col("grp_id"))
      .select(col("grp_id"))
    members.select(col("grp_id")).distinct()
      .join(broadcast(dropped), Seq("grp_id"), "left_anti")
      .orderBy(col("grp_id"))
  }

  /** Pigeonhole-index tuning harness — the [[lshTuning]]/recall-curve
    * discipline applied to the simhash index: per signature width (32
    * and 60 bits) and block, the bucket count, the largest bucket, and
    * the EXACT candidate-pair volume the index would generate
    * (Σ s·(s−1)/2 over bucket sizes s) — the number that says whether a
    * block width fits the corpus BEFORE a 100 TB join commits to it
    * (est_candidate_pairs exploding on the 32-bit rows while the
    * 60-bit rows stay ~linear is the n93→n94 decision, as data).
    * All-integer, oracle-exact.
    *
    * Scale shape: two map-side signature passes, one (blk, bv) count
    * with map-side combine, then a 4-row-per-width roll-up — the
    * harness costs two scans regardless of corpus size, never the join
    * it sizes.
    */
  def simhashIndexStats(docs: DataFrame, nBlocks: Int = 4): DataFrame = {
    def statsFor(hashed: DataFrame, bits: Int) =
      bucketStats(blockKeys(hashed, bits, nBlocks), "blk", "bv")
        .select(lit(bits).as("bits"), col("blk"), col("n_buckets"),
          col("max_bucket"), col("est_candidate_pairs"))
    statsFor(simhashRaw(docs), SimhashBits)
      .unionAll(statsFor(simhashWideRaw(docs), SimhashWideBits))
      .orderBy(col("bits"), col("blk"))
  }

  /** ONE definition of the per-group bucket statistics every index
    * tuning harness reports ([[simhashIndexStats]],
    * [[pigeonholeIndexStats]], [[permutedIndexStats]],
    * [[lshIndexStats]]): per `grp`, the bucket count, largest bucket,
    * and EXACT candidate volume Σ s·(s−1)/2 over the (grp, key) bucket
    * sizes — a change to the estimate lands in all four harnesses at
    * once.
    */
  private def bucketStats(rows: DataFrame, grp: String,
                          key: String): DataFrame =
    rows.select(col(grp), col(key))
      .groupBy(col(grp), col(key)).agg(count(lit(1)).as("s"))
      .groupBy(col(grp))
      .agg(count(lit(1)).as("n_buckets"), max(col("s")).as("max_bucket"),
        sum(expr("(s * (s - 1)) div 2")).as("est_candidate_pairs"))

  /** nBlocks (blk, bv) key rows per signature — the ONE block-key
    * derivation every pigeonhole consumer (pair index, incremental
    * screen, tuning harness) shares, so a change to block derivation
    * (e.g. the Manku permuted-table refinement) lands everywhere at
    * once.
    */
  private def blockKeys(hashed: DataFrame, bits: Int,
                        nBlocks: Int): DataFrame = {
    require(bits % nBlocks == 0, s"$nBlocks must divide $bits")
    val blockBits = bits / nBlocks
    val mask = (1L << blockBits) - 1
    hashed.select(col("doc_id"), col("simhash"),
        explode(array((0 until nBlocks).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("simhash"), b * blockBits)
              .bitwiseAND(lit(mask)).as("bv"))): _*)).as("kb"))
      .select(col("doc_id"), col("simhash"),
        col("kb.blk").as("blk"), col("kb.bv").as("bv"))
  }

  /** Shared pigeonhole block-index machinery over any (doc_id, simhash)
    * frame: explode nBlocks equal-width block keys, equi-join, verify
    * with xor+popcount. The hamming filter runs BEFORE the distinct:
    * hamming is a pure per-pair function, so filtering map-side first
    * is equivalent, and on a skewed block bucket (the documented
    * all-zeros risk) it keeps the false-candidate volume — the bulk of
    * every bucket — out of the dedup exchange entirely.
    */
  private def blockIndexedHammingPairs(hashed: DataFrame, bits: Int,
                                       maxDist: Int,
                                       nBlocks: Int): DataFrame = {
    require(maxDist < nBlocks,
      s"pigeonhole completeness needs maxDist ($maxDist) < nBlocks ($nBlocks)")
    val blocks = blockKeys(hashed, bits, nBlocks)
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** CONTAINMENT-AWARE candidate index — the prefix-filtering
    * set-similarity join (Chaudhuri et al. ICDE'06; the PPJoin family)
    * that catches the extreme-ratio pairs [[containmentPairs]]'s
    * MinHash front provably dilutes: a 30-word quote inside a
    * 3,000-word doc has symmetric Jaccard ≈ 0.01 (no band collision)
    * but shingle containment 1.0. Semantics: SHINGLE containment over
    * distinct 3-gram sets — the verbatim-quote signal (contiguity IS
    * what shingles encode; scattered shared words are not a quote).
    *
    * Exact-recall argument: sort each doc's distinct shingles by
    * global rarity (df asc, shingle asc — deterministic on both
    * engines) and take the prefix of length
    * p = n − ⌈τ·n⌉ + 1 (n = the doc's distinct-shingle count). If
    * another doc contains NONE of the prefix shingles, it holds at
    * most n − p = ⌈τ·n⌉ − 1 < τ·n of the doc's shingles — containment
    * < τ. So every pair with either-direction containment ≥ τ shares
    * (prefix of the contained side) × (full set of the container), and
    * the candidate join prefix×full on the shingle key proposes it:
    * the OUTPUT is exactly ALL pairs with max-direction shingle
    * containment ≥ τ (DedupSpec pins it against a brute-force
    * recompute; the registry oracles the full front in DuckDB).
    *
    * Scale shape: one (shingle, df) map-side-combined count, one
    * per-doc window for the prefix rank (docs×shingles keyed by
    * doc_id), then the inverted-index join prefix×full on the shingle
    * key. Rarity-ascending prefixes mean common shingles almost never
    * sit in a prefix — a hot shingle contributes (its few prefix
    * occurrences) × df pairs, not df². The standard residual knob at
    * extreme scale (not needed here, stated): cap df on the FULL side
    * and route the dropped ultra-common shingles through positional
    * filtering (PPJoin+'s suffix filter).
    */
  def containmentPairsPrefix(docs: DataFrame,
                             threshold: Double): DataFrame =
    // sortBarrier BEFORE the presentation sort: a global orderBy's
    // range exchange SAMPLES its child to pick boundaries, and the
    // verify segment above it has no exchange of its own — without the
    // barrier the whole candidate-verify pass (the operator's dominant
    // cost) runs TWICE per action, once for sampling and once for real
    // (measured 2× the intersect pass at sf0.1).
    Checkpoints.sortBarrier(containmentPairsPrefixRaw(docs, threshold),
        col("doc_a"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[containmentPairsPrefix]] without the presentation sort — the
    * composable form the collapsed twin expands (the raw/sorted
    * convention).
    */
  private def containmentPairsPrefixRaw(docs: DataFrame,
                                        threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // ngramsOf over a PROJECTED word array (the inlined-split ngrams()
    // form re-splits the text per element access — O(words²) per row),
    // and ONE materialization: the shingle-set frame feeds the df
    // count, the prefix rank, the inverted index, and both verify
    // sides — uncut, the shingle build would run four times
    // cutLazy: shared by four consumers of ONE query — materializes at
    // first action, so the operator stays plan-inspectable job-free
    val sets = Checkpoints.cutLazy(docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(TextAnalysis.ngramsOf(col("ws"), 3)).as("sg")))
    // nsh travels WITH the explode (sg is already distinct, so the
    // per-doc shingle count is size(sg)) — the count-over-doc window
    // this replaces was a second full pass over the sorted partition
    val ds = sets.select(col("doc_id"), size(col("sg")).as("nsh"),
      explode(col("sg")).as("sh"))
    val dfr = ds.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("sh").asc)
    // Candidate generation joins on xxhash64(sh), not the string: two
    // docs sharing a shingle always share its hash, so the candidate
    // set is a SUPERSET of the string-keyed one (a 64-bit collision can
    // only ADD a pair) and the exact verify below keeps the output
    // provably identical — while the join/broadcast side carries 8-byte
    // longs instead of ~30-byte shingle strings (guide §2.3: narrower
    // shuffle/broadcast keys). The PREFIX itself (df rarity order) stays
    // computed on strings, so recall keeps the PPJoin argument verbatim.
    //
    val pf = ds.join(dfr, Seq("sh"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("nsh") - ceil(lit(threshold) * col("nsh")) + 1)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh"))
    val cand = pf.as("p")
      .join(ds.select(col("doc_id"), xxhash64(col("sh")).as("sh")).as("d"),
        col("p.sh") === col("d.sh") &&
        col("p.doc_id") =!= col("d.doc_id"))
      .select(least(col("p.doc_id"), col("d.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("d.doc_id")).as("doc_b"))
      .distinct()
    cand
      .join(sets.as("wa"), col("doc_a") === col("wa.doc_id"))
      .join(sets.as("wb"), col("doc_b") === col("wb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("wa.sg"), col("wb.sg"))).as("inter"),
        size(col("wa.sg")).as("na"), size(col("wb.sg")).as("nb"))
      // barrier: without it the threshold is pushed into the verify
      // join's condition and the shingle-set intersect runs THREE times
      // per candidate (twice in the pushed greatest(), once in the
      // surviving projection) — measured ~2 s of the sf0.1 bench per
      // containment query (Checkpoints.exprBarrier; PlanSpec pins one
      // array_intersect in the n115 plan)
      .transform(Checkpoints.exprBarrier(_, "contp_verify"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("na"), 6).as("cont_a_in_b"),
        round(col("inter").cast("double") / col("nb"), 6).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** [[containmentPairsPrefix]] with the exact-dup pre-collapse in
    * front of the prefix index — the [[containmentPairsCollapsed]]
    * move applied to the PPJoin front; the form
    * [[containmentPairsPrefixAuto]] PICKS when the measured duplication
    * inflation says the collapse pays (it is not an unconditional
    * default: on low-dup corpora the groupBy(md5) + expansion costs
    * more than it saves — measured 23.6 s vs the plain 7.7 s at sf0.1).
    * Why it wins on dup-heavy corpora: identical texts share every
    * shingle, df
    * contribution, prefix, and candidate bucket, so a size-g dup group
    * multiplies the candidate volume ~g² for values its one rep
    * already determines. Banding one rep per distinct text, verifying
    * rep pairs, and expanding through the member lists is EXACT:
    * prefix-filter recall is order-agnostic (the length argument holds
    * for ANY deterministic prefix order, so rep-level df reordering
    * candidates cannot lose a pair), cross-group member pairs inherit
    * their reps' containment with directions swapped when id order
    * flips, and within-group pairs are identical texts (containment
    * 1.0 both ways — always ≥ a valid τ). DedupSpec pins bit-equality
    * with the uncollapsed form; the registry proves n118 against
    * n115's oracle verbatim. Measured on the salted dup-heavy sweep:
    * the candidate front collapses with the distinct-text count.
    */
  def containmentPairsPrefixCollapsed(docs: DataFrame,
                                      threshold: Double): DataFrame = {
    // cutLazy: the groups feed the rep corpus and the member expansion
    val groups = Checkpoints.cutLazy(digestGroups(
      docs.filter(graft.functions.MinHash.eligible(col("text")))))
    expandRepPairs(
      containmentPairsPrefixRaw(
        groups.select(col("rep").as("doc_id"), col("text")), threshold),
      groups, ContainmentValues)
  }

  /** The switch point of the measured collapse autos
    * ([[containmentPairsPrefixAuto]],
    * [[graft.ops.TextAnalysis.dupSubstringDedupAuto]],
    * [[graft.sources.Multimodal.mediaNearDupPairsAuto]]): collapse
    * when the duplication INFLATION — Σ g² / Σ g over exact-dup group
    * sizes g, i.e. the mean dup-group size weighted by membership (the
    * factor by which identical copies multiply the prefix index's
    * candidate volume) — reaches 2: every occurrence then sees on
    * average ≥ 2 identical copies, so rep-level candidate generation at
    * least halves the pair work the collapse exists to save, covering
    * its own groupBy(md5) + expansion overhead. Below it the collapse
    * pays that overhead for nothing (the driver-visible n118 23.6 s vs
    * n115 7.7 s at sf0.1, where inflation ≈ 1.07).
    */
  val MinCollapseInflation = 2.0

  /** Duplication INFLATION Σg²/Σg over a corpus's exact-dup (md5 text)
    * group sizes — the number both measured collapse switches
    * ([[containmentPairsPrefixAuto]],
    * [[graft.ops.TextAnalysis.dupSubstringDedupAuto]]) read before
    * choosing a front. Deliberately a digest-COUNT aggregate: the
    * shuffle carries 16-byte hashes and longs, never the text (a
    * text-carrying groups reuse cost the plain branch ~1.8× in the
    * n145 sweep), so probing the corpus's dup structure is band-level
    * next to either branch. EAGER: runs one job. Empty corpus → 1.0
    * (no duplication).
    */
  def digestInflation(docs: DataFrame): Double =
    groupInflation(docs, md5(col("text")))

  /** The MEASURED switch between [[containmentPairsPrefix]] (plain
    * PPJoin front, n115) and [[containmentPairsPrefixCollapsed]]
    * (exact-dup pre-collapse front, n118) — the n120 discipline applied
    * to the containment family: read the duplication inflation
    * ([[digestInflation]] — a 16-byte digest-count shuffle, never the
    * text) and choose the front from that number instead of a static
    * "production default" guess. The collapsed branch's text-carrying
    * groups pass is paid exactly when the collapse pays for it. Both
    * branches produce [[containmentPairsPrefix]]'s exact output (the
    * collapsed branch is spec-pinned bit-equal), so the choice can
    * never change the answer, only the candidate-generation shape.
    *
    * EAGER by contract, like [[sourceLeakageMatrixAuto]]: the inflation
    * read runs a job at construction time, and the switch point is
    * [[MinCollapseInflation]]. Callers that need a lazy plan pick a
    * branch explicitly.
    */
  def containmentPairsPrefixAuto(docs: DataFrame,
                                 threshold: Double): DataFrame =
    if (digestInflation(docs.filter(
        graft.functions.MinHash.eligible(col("text")))) >=
        MinCollapseInflation)
      containmentPairsPrefixCollapsed(docs, threshold)
    else containmentPairsPrefix(docs, threshold)

  /** Manku PERMUTED-TABLE refinement of the pigeonhole index (Manku,
    * Jain & Das Sarma, WWW'07 §3) — the fix for the documented
    * hot-block risk of [[simhashNearDupPairsWide]]: a block value
    * shared corpus-wide (the all-zeros block of templated/short docs)
    * turns one 15-bit bucket into an s² candidate bomb. Instead of
    * keying on ONE block, key on every `nKeep`-combination of the
    * `nBlocks` blocks (C(nBlocks, nKeep) tables): hamming ≤ maxDist
    * flips at most maxDist blocks, so some combination of
    * `nKeep ≤ nBlocks − maxDist` UNTOUCHED blocks matches — recall
    * stays EXACT (the pigeonhole argument, one level up) while the
    * bucket key widens from bits/nBlocks to nKeep·bits/nBlocks bits.
    * Default 60 bits / 6 blocks / keep 3 = 20 tables of 30-bit keys —
    * a hot 10-bit block value no longer buckets anything by itself;
    * collision now needs 30 agreeing bits across three blocks
    * (DedupSpec drives a one-dominant-block skew fixture: the plain
    * index's max bucket grows with the corpus, this one's stays flat).
    *
    * Trade, stated: 20 index rows per doc instead of 4 (5× index
    * volume, all map-side) bought per-bucket candidate volume bounded
    * by 30-bit agreement — Manku's exact table-count-vs-key-width
    * dial. Output ≡ [[simhashNearDupPairsWide]] (both are exact
    * hamming ≤ maxDist); the registry proves it against n94's oracle
    * verbatim.
    */
  def simhashNearDupPairsPermuted(docs: DataFrame, maxDist: Int = 3,
                                  nBlocks: Int = 6,
                                  nKeep: Int = 3): DataFrame =
    simhashNearDupPairsPermutedFromIndex(simhashWideRaw(docs),
      SimhashWideBits, maxDist, nBlocks, nKeep)

  /** [[simhashNearDupPairsPermuted]] over a PRE-HASHED (doc_id,
    * simhash) frame — the production entry point when the signature
    * index is already persisted ([[incrementalSimhashDedupFromIndex]]'s
    * convention): pairing a 100 TB corpus's index never re-reads or
    * re-hashes the text. PropertiesSpec drives it with random synthetic
    * signatures against a brute-force hamming recompute.
    */
  def simhashNearDupPairsPermutedFromIndex(index: DataFrame,
                                           bits: Int = SimhashWideBits,
                                           maxDist: Int = 3,
                                           nBlocks: Int = 6,
                                           nKeep: Int = 3): DataFrame = {
    val blocks = permutedBlockKeys(
      index.select(col("doc_id"), col("simhash")), bits,
      maxDist, nBlocks, nKeep)
    blocks.as("a").join(blocks.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.kv") === col("b.kv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The MEMBER-LEVEL near-dup pair relation over a pre-hashed
    * (doc_id, simhash) frame, computed through the exact-dup
    * pre-collapse and EXPANDED back: identical signatures group under
    * a min-id rep, the permuted pigeonhole front pairs one rep per
    * DISTINCT signature, then every rep pair expands to its groups'
    * member cross product (inheriting the reps' hamming VERBATIM —
    * identical signature ⇒ identical distance) and every ≥ 2-member
    * group contributes its within-group pairs at hamming 0. Output ≡
    * [[simhashNearDupPairsPermutedFromIndex]] row for row (spec-pinned
    * bit-equal on both dup regimes) — the containment-family
    * collapse/expand template (n118) applied to signature pairing, so
    * a measured auto can choose fronts without changing the answer.
    *
    * Candidate-generation volume is bounded by DISTINCT-signature
    * structure; the OUTPUT is the member relation by definition (on a
    * heavily-duplicated corpus it is inherently quadratic in group
    * size — callers who want the bounded encoding use the collapsed
    * rep-level forms directly, as the m5/m8/m11 registry entries do).
    * Each group's ids ride one collect_list row — the n119-measured
    * bound, shared with every collapse template here.
    *
    * Sharing note: the `groups` subtree feeds three consumers but is
    * deliberately NOT checkpointed — it ends in an exchange, which
    * Catalyst's exchange reuse dedupes within the one query (the
    * shuffle write and everything below it, including the caller's
    * signature derivation, runs once), and a lazy localCheckpoint here
    * would not even be lazy: under AQE, building the checkpoint RDD
    * materializes the plan's shuffle stages at construction.
    */
  def signaturePairsCollapsedExpanded(sigs: DataFrame, bits: Int,
                                      maxDist: Int, nBlocks: Int,
                                      nKeep: Int): DataFrame = {
    val groups = sigs
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
    expandRepPairs(
      simhashNearDupPairsPermutedFromIndex(
        groups.select(col("rep").as("doc_id"), col("simhash")),
        bits, maxDist, nBlocks, nKeep),
      groups, Seq(("hamming", "hamming", lit(0))))
  }

  /** SIGNATURE-level decontamination — the n26/n72 move on perceptual
    * signatures, completing the decontamination × modality matrix: drop
    * every corpus signature within hamming ≤ `maxDist` of ANY test-set
    * signature (exact recall by the pigeonhole argument: nBlocks >
    * maxDist ⇒ some untouched block matches). The TEST side broadcasts
    * — a benchmark/test set is bounded by construction (the n35 bloom
    * argument), the corpus streams map-side past its block keys and is
    * never re-read or re-decoded (16-byte signature rows in, the same
    * corpusHit shape the incremental screens use); the final anti join
    * is hint-free (the hit set can be corpus-sized on a contaminated
    * corpus — never force it). Returns the KEPT (doc_id, simhash)
    * rows; flag consumers anti-join the complement themselves.
    */
  def signatureDecontaminate(corpus: DataFrame, test: DataFrame,
                             bits: Int, maxDist: Int,
                             nBlocks: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < nBlocks,
      s"exact recall needs 0 <= maxDist ($maxDist) < nBlocks ($nBlocks)")
    val hits = blockKeys(corpus.select(col("doc_id"), col("simhash")),
        bits, nBlocks).as("c")
      .join(broadcast(blockKeys(
          test.select(col("doc_id"), col("simhash")), bits, nBlocks)
        .as("t")),
        col("c.blk") === col("t.blk") && col("c.bv") === col("t.bv"))
      .filter(bit_count(col("c.simhash").bitwiseXOR(col("t.simhash")))
        <= maxDist)
      .select(col("c.doc_id").as("doc_id")).distinct()
    corpus.select(col("doc_id"), col("simhash"))
      .join(hits, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Duplication INFLATION Σg²/Σg over the group sizes of `key` — the
    * [[digestInflation]] probe generalized to any grouping column, so
    * the media signature autos measure the SAME switch number over
    * phash/ahash/clip-key groups that the text autos read over
    * md5(text) groups. A count-only aggregate: the shuffle carries the
    * key and a long, never a payload. EAGER (one job); empty input →
    * 1.0 (no duplication).
    */
  def groupInflation(df: DataFrame, key: Column): Double = {
    // g² as DOUBLE: a Long product silently wraps (non-ANSI) once one
    // group tops ~3e9 members — exactly the dup-heavy corpora this
    // switch targets; the switch reads a ratio, not an exact integer
    val r = df.groupBy(key.as("k")).agg(count(lit(1)).as("g"))
      .agg(sum(col("g").cast("double") * col("g")).as("sq"),
        sum(col("g")).as("s"))
      .head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) 1.0
    else r.getDouble(0) / r.getLong(1)
  }

  /** C(nBlocks, nKeep) permuted-table key rows per signature: table t's
    * key packs that combination's block values into one long (block j
    * of the combination at bit offset j·blockBits). The [[blockKeys]]
    * contract widened — one derivation, every permuted consumer.
    */
  private def permutedBlockKeys(hashed: DataFrame, bits: Int, maxDist: Int,
                                nBlocks: Int, nKeep: Int): DataFrame = {
    require(bits % nBlocks == 0, s"$nBlocks must divide $bits")
    require(nKeep >= 1 && nKeep <= nBlocks - maxDist,
      s"exact recall needs nKeep ($nKeep) <= nBlocks ($nBlocks) - " +
        s"maxDist ($maxDist)")
    val blockBits = bits / nBlocks
    val mask = (1L << blockBits) - 1
    val combos = (0 until nBlocks).combinations(nKeep).toSeq
    hashed.select(col("doc_id"), col("simhash"),
        explode(array(combos.zipWithIndex.map { case (combo, t) =>
          val key = combo.zipWithIndex.map { case (b, j) =>
            shiftleft(shiftright(col("simhash"), b * blockBits)
              .bitwiseAND(lit(mask)), j * blockBits)
          }.reduce(_.bitwiseOR(_))
          struct(lit(t).as("tbl"), key.as("kv"))
        }: _*)).as("kb"))
      .select(col("doc_id"), col("simhash"),
        col("kb.tbl").as("tbl"), col("kb.kv").as("kv"))
  }

  /** Per-table bucket statistics of the PERMUTED index over a
    * pre-hashed (doc_id, simhash) frame — [[simhashIndexStats]]'s twin
    * for [[simhashNearDupPairsPermuted]]: (tbl, n_buckets, max_bucket,
    * est_candidate_pairs) per combination table, the number that shows
    * the hot-block pathology bounded BEFORE a corpus-scale join runs.
    * Takes the index frame (not docs) so a skew sweep can drive it
    * with synthetic signatures.
    */
  def permutedIndexStats(index: DataFrame, bits: Int = SimhashWideBits,
                         maxDist: Int = 3, nBlocks: Int = 6,
                         nKeep: Int = 3): DataFrame =
    bucketStats(permutedBlockKeys(index.select(col("doc_id"),
        col("simhash")), bits, maxDist, nBlocks, nKeep), "tbl", "kv")
      .orderBy(col("tbl"))

  /** [[simhashIndexStats]]'s per-block half over a pre-hashed index
    * frame at one width — the plain-index comparator the permuted skew
    * sweep reads against [[permutedIndexStats]].
    */
  def pigeonholeIndexStats(index: DataFrame, bits: Int = SimhashWideBits,
                           nBlocks: Int = 4): DataFrame =
    bucketStats(blockKeys(index.select(col("doc_id"), col("simhash")),
        bits, nBlocks), "blk", "bv")
      .orderBy(col("blk"))

  /** Exact n-gram (word-set) Jaccard over adjacent-id pairs — a
    * deterministic linear-size sample of the pair space used as the
    * oracle-checkable twin of the LSH candidate path.
    */
  def adjacentJaccard(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    w.as("a").join(w.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          size(array_union(col("a.ws"), col("b.ws"))), 6).as("jaccard"))
      .orderBy(col("doc_a"))
  }

  /** LSH tuning harness: precision/recall of the band-collision
    * candidate set against EXACT shingle-Jaccard ground truth, both
    * restricted to a bounded doc_id window. The window is what keeps an
    * exact ground truth computable at corpus scale — O(n·window) pairs
    * instead of O(n²) — and it is realized as a BLOCK EQUI-JOIN (each
    * doc probes its id-block and the next one), never a nested-loop
    * range join. Truth uses the SAME 3-word shingle sets the MinHash
    * signatures sketch ([[shingles]]), so recall measures banding loss,
    * not tokenization drift — the number this harness exists to put on
    * a (bands × rows) config before a 100 TB run commits to it.
    * One row: n_truth, n_candidates, n_hits, precision, recall
    * (ratios null when their denominator is 0).
    */
  def lshTuning(docs: DataFrame, window: Int = 50,
                threshold: Double = 0.5): DataFrame = {
    // τ = 0 would make every windowed pair a truth pair — including
    // pairs sharing NO shingle, which the inverted-index intersection
    // below never materializes. A zero threshold is also not a tuning
    // run (recall is 1.0 by definition); state the contract loudly.
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // hoist the split BEFORE shingling (ngramsOf over a materialized word
    // array): the one-shot `shingles` form re-splits the text for every
    // element inside the transform lambda — subexpression elimination
    // cannot reach across a lambda boundary
    // cutLazy: the per-doc shingle frame feeds the size projection and
    // both sides of the inverted-index join — one materialization
    val sg = Checkpoints.cutLazy(docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(TextAnalysis.ngramsOf(col("ws"), 3)).as("sg"),
        (col("doc_id") / window).cast("long").as("blk")))
    // Truth intersections via the INVERTED INDEX instead of per-pair
    // array_intersect (guide §2.3/§4: the old form shuffled every doc's
    // full shingle-STRING array twice through the block join and then
    // built a fresh hash set per windowed pair — ~250k pairs × O(|A|+|B|)
    // string hashings at sf0.1, the harness's dominant cost). Exploding
    // (doc, shingle) once and equi-joining on (block, shingle) computes
    // the SAME |A ∩ B| as one map-side-combined count per pair: the sets
    // are distinct per doc, so each shared shingle contributes exactly
    // one row. Pairs sharing no shingle never materialize — at any
    // τ > 0 they fail the threshold anyway (jaccard 0, or null on empty
    // unions, both < τ), so the truth set is identical.
    val ds = sg.select(col("doc_id"), col("blk"), explode(col("sg")).as("sh"))
    val inter = ds
      .select(col("doc_id").as("doc_a"), col("sh"),
        explode(array(col("blk"), col("blk") + 1)).as("pblk"))
      .join(ds.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("blk")),
        col("pblk") === col("blk") && col("sh") === col("shb"))
      .filter(col("doc_b") > col("doc_a") &&
        col("doc_b") <= col("doc_a") + window)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // |A ∪ B| = |A| + |B| - |A ∩ B| over the distinct sets — integer
    // arithmetic off the tiny per-doc size frame (never the arrays)
    val sizes = sg.select(col("doc_id"), size(col("sg")).as("n"))
    val unionSz = col("na") + col("nb") - col("inter")
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / unionSz).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_t"))
    val cand = lshCandidatePairs(docs)
      .filter(col("doc_b") - col("doc_a") <= window)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("in_t")).as("n_truth"),
        count(col("in_c")).as("n_candidates"),
        count(when(col("in_t").isNotNull && col("in_c").isNotNull, 1))
          .as("n_hits"))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        round(when(col("n_candidates") =!= 0,
          col("n_hits").cast("double") / col("n_candidates")), 6)
          .as("precision"),
        round(when(col("n_truth") =!= 0,
          col("n_hits").cast("double") / col("n_truth")), 6).as("recall"))
  }

  /** Deterministic md5-bucket for sampling the tuning harness — the n19
    * split-bucket machinery with its own salt, so sample membership never
    * correlates with train/val/test buckets or shard boundaries.
    */
  def tuneSampleBucket: Column =
    TextAnalysis.saltedBucket("tune|", col("doc_id"), 100)

  /** [[lshTuning]] over a deterministic `samplePct`% md5-bucket sample —
    * how a 100 TB corpus runs the harness. The full harness is LINEAR in
    * corpus size by design (its cost IS the product: exact shingle-set
    * intersects over every windowed pair), which is exactly right for an
    * oracle and exactly wrong for routine tuning at scale; banding
    * behavior is a per-pair property, so a uniform sample estimates the
    * same precision/recall at samplePct/100 of the pair volume. Hold the
    * ABSOLUTE sample volume fixed as the corpus grows (pct ∝ 1/n) and
    * tuning cost stays flat in corpus size. Same caveat as the full
    * harness: id-local dup bursts make any id-window estimate (sampled
    * or not) optimistic — the sample inherits, not adds, that bias.
    * The id window spans the sampled universe's ids (sparser than the
    * full corpus's), mirroring the registry oracle exactly.
    */
  def lshTuningSampled(docs: DataFrame, samplePct: Int, window: Int = 50,
                       threshold: Double = 0.5): DataFrame = {
    require(samplePct >= 1 && samplePct <= 100,
      s"samplePct must be 1..100, got $samplePct")
    lshTuning(docs.filter(tuneSampleBucket < samplePct), window, threshold)
  }

  /** Jaccard background distribution over a deterministic document
    * sample — the τ-calibration step a near-dup run does FIRST: the
    * dedup/decontamination thresholds (n6/n72's ≥ 0.5) are only
    * meaningful relative to what UNRELATED pairs score, and this
    * publishes that null distribution as a 20-bucket histogram of exact
    * word-set Jaccard over an md5-sampled doc subset (own salt — never
    * correlates with the split/shard/mix/tune buckets). Bucket b covers
    * [b/20, (b+1)/20); Jaccard 1.0 folds into bucket 19. Pair near-dup
    * thresholds well clear of the background mass are safe; a τ inside
    * it guarantees false positives at corpus scale.
    *
    * Scale shape: the sampled side broadcasts, so the pair space is
    * sample², never corpus² — and the sample is the knob: hold ABSOLUTE
    * sample volume fixed as the corpus grows (pct ∝ 1/growth, the
    * [[lshTuningSampled]] discipline) and calibration cost is FLAT in
    * corpus size. Bucketing floors a round-6 Jaccard — integer output,
    * no float compare surface.
    */
  def jaccardBackground(docs: DataFrame, pct: Int = 10): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be 1..100, got $pct")
    val s = docs
      .filter(TextAnalysis.saltedBucket("jbg|", col("doc_id"), 100) < pct)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
    s.as("a").join(broadcast(s.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(round(
        size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          size(array_union(col("a.ws"), col("b.ws"))), 6).as("j"))
      .select(least(floor(col("j") * 20d), lit(19d)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  /** PRODUCTION form of [[jaccardBackground]] — the ABSOLUTE-sample
    * knob as an entry point, not a pct the operator must re-derive per
    * corpus size: the sample is the `sampleSize` docs with the lowest
    * (salted md5 rank, doc_id) — a deterministic uniform subset of
    * FIXED size at any corpus scale, taken by a distributed
    * TakeOrdered top-k (one scan, no window). Pair space = sample² by
    * construction, so calibration cost is FLAT as the corpus grows,
    * with no pct to re-derive per corpus size. Histogram math
    * identical to the pct form (one definition of the buckets); own
    * salt (`jbgs|`) keeps it pairwise-uncorrelated with every other
    * sampler.
    */
  def jaccardBackgroundSample(docs: DataFrame, sampleSize: Int): DataFrame = {
    require(sampleSize >= 2, s"sampleSize must be >= 2, got $sampleSize")
    // cut: the self-join would otherwise plan TWO independent corpus
    // top-k subtrees (ReuseExchange can't merge them) — materializing
    // the N-row sample once keeps the corpus scan single; PlanSpec pins
    // the TakeOrdered shape on [[backgroundDocSample]] directly, since
    // the cut hides it from the final query's plan
    val s = Checkpoints.cut(backgroundDocSample(docs, sampleSize))
    s.as("a").join(broadcast(s.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(round(
        size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          size(array_union(col("a.ws"), col("b.ws"))), 6).as("j"))
      .select(least(floor(col("j") * 20d), lit(19d)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  /** The deterministic lowest-N doc sample [[jaccardBackgroundSample]]
    * rides — factored out so the distributed-TakeOrdered plan shape is
    * pinnable on its own (the public form cuts it, which hides the
    * top-k from the downstream plan).
    */
  def backgroundDocSample(docs: DataFrame, sampleSize: Int): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.saltedBucket("jbgs|", col("doc_id"), 1000000000L)
          .as("bk"))
      .orderBy(col("bk"), col("doc_id")).limit(sampleSize)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))

  val SimhashBits = 32

  /** 32-bit SimHash per doc from word-occurrence md5s: bit i of the
    * signature is the sign of Σ_words (2·bit_i(h(word)) − 1). One
    * per-row pass via the custom [[graft.functions.SimHash32]]
    * expression — the explode → groupBy(32 sums) form shuffles
    * docs×words rows; this shuffles nothing (DedupSpec proves
    * bit-equality against the compositional form).
    */
  def simhash(docs: DataFrame): DataFrame =
    simhashRaw(docs).orderBy(col("doc_id"))

  /** [[simhash]] without the presentation sort — the form every
    * internal consumer (pair index, adjacent hamming, tuning harness)
    * composes over: a mid-pipeline orderBy survives into consumers as a
    * full shuffle-sort of the signature stream per use (observed in the
    * n94 optimized plan before this split), bought for an ordering the
    * downstream join immediately destroys.
    */
  def simhashRaw(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull) // explode form drops null texts;
      // filtering the INPUT keeps the pushed-down predicate from
      // re-evaluating the signature
      .select(col("doc_id"),
        graft.functions.SimHash.simhash32(col("text")).as("simhash"))

  /** SimHash near-dup: Hamming distance over adjacent-id pairs. */
  def simhashAdjacentHamming(docs: DataFrame): DataFrame = {
    val s = simhashRaw(docs)
    s.as("a").join(s.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .orderBy(col("doc_a"))
  }

  /** Connected components over near-dup pairs → dedup clusters, the final
    * step of a dedup pipeline (keep one representative per cluster).
    * Iterative min-label propagation: each round joins current labels
    * across edges (both directions) and takes the min; converges in
    * O(log(diameter)) rounds — the standard large-scale approach (the
    * driver loop holds only a convergence flag, never data).
    */
  /** CLUSTER CHAINING audit — the documented failure mode of CC-based
    * near-dup clustering: A~B and B~C merge A and C transitively even
    * when Jaccard(A, C) ≈ 0, so a min-id keeper can drop members that
    * share almost nothing with the representative. Per multi-member
    * cluster of the VERIFIED pair graph ([[minhashNearDupPairs]] at
    * `threshold`): size, verified edge count, edge density vs the
    * complete graph, the WEAKEST verified edge, and the decimal-exact
    * mean edge Jaccard — a large low-density cluster with a weak min
    * edge IS a chain, the signal to raise τ or cap cluster diameter
    * before committing a keeper policy. Every number is deterministic
    * (min/count exact; mean via the n102 decimal-sum-then-divide
    * pattern), so the audit is fully oracled.
    *
    * Scale shape: inherits the near-dup path's bucket-bounded front and
    * [[dupClusters]]' O(iters) label propagation; the per-cluster stats
    * are one combinable aggregate over the VERIFIED edges joined to the
    * exploded label frame (edges ≪ candidate pairs at any real τ).
    */
  def clusterChainingAudit(docs: DataFrame,
                           threshold: Double = 0.3): DataFrame = {
    val pairs = Checkpoints.cut(minhashNearDupPairsRaw(docs, threshold))
    // one (cluster, n_docs) row per cluster already — bind it so the
    // final join reuses it instead of distinct()-ing the exploded
    // member frame back together and re-running the rollup
    // (review-caught)
    val clusters = Checkpoints.cut(
      dupClusters(pairs).select(col("cluster"), col("n_docs"),
        col("members")))
    val labels = clusters
      .select(col("cluster"), explode(col("members")).as("id"))
    val edgeStats = pairs
      .join(labels, col("doc_a") === col("id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("min_jaccard"),
        sum(col("jaccard").cast("decimal(18,6)")).as("sj"))
    clusters.select(col("cluster"), col("n_docs"))
      .join(edgeStats, Seq("cluster"))
      .select(col("cluster"), col("n_docs"), col("n_edges"),
        round(col("n_edges") * lit(2.0) /
          (col("n_docs") * (col("n_docs") - 1)), 6).as("density"),
        col("min_jaccard"),
        round(col("sj").cast("double") / col("n_edges"), 6)
          .as("avg_jaccard"))
      .orderBy(col("cluster"))
  }

  /** Candidate-front PRECISION — the tuning number [[lshTuning]]'s
    * recall curve doesn't show: of everything the banding proposes,
    * what fraction verifies at τ. Composes [[minhashNearDupPairs]] at
    * threshold 0 (the n6 machinery VERBATIM — every candidate with its
    * exact Jaccard) into one combinable aggregate row: (n_candidates,
    * n_verified, precision). Low precision = the bands are too loose
    * and the verify stage is paying for the front's noise — the knob to
    * rebalance bands/rows before a corpus-scale run, read together with
    * n119's per-band volume and n59/n65's recall.
    */
  def lshPrecision(docs: DataFrame, threshold: Double = 0.3): DataFrame =
    minhashNearDupPairsRaw(docs, 0.0)
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= threshold, 1L).otherwise(0L))
          .as("n_verified"))
      .select(col("n_candidates"), col("n_verified"),
        when(col("n_candidates") > 0,
          round(col("n_verified").cast("double") / col("n_candidates"), 6))
          .as("precision"))

  /** Dedup SAVINGS comparison — the yield number a keeper-policy
    * decision needs: for the SAME verified pair graph, what each policy
    * actually drops. One row per policy ('cc' = transitive min-id
    * keeper over [[dupClusters]]; 'star' = hub keeper over
    * [[starClusters]]): clusters, docs touched, docs dropped, tokens
    * dropped. CC always drops ≥ star (it merges more), but n130 shows
    * WHERE that extra yield comes from — chained members the
    * representative may not resemble; this query prices the trade.
    * Both labelings and the pair graph are the registry machinery
    * verbatim, so the comparison cannot disagree with the operators it
    * compares.
    */
  def dedupSavings(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = Checkpoints.cut(minhashNearDupPairsRaw(docs, threshold))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("t"))
    def stats(policy: String, lbl: DataFrame): DataFrame =
      lbl.join(toks, col("id") === col("doc_id"))
        .agg(countDistinct(col("cluster")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          sum(when(col("id") =!= col("cluster"), 1L).otherwise(0L))
            .as("n_dropped"),
          sum(when(col("id") =!= col("cluster"), col("t")).otherwise(0L))
            .as("tokens_dropped"))
        .select(lit(policy).as("policy"), col("n_clusters"),
          col("n_docs"), col("n_dropped"), col("tokens_dropped"))
    val cc = dupClusters(pairs)
      .select(col("cluster"), explode(col("members")).as("id"))
    val star = starClustersFromPairs(pairs.select(col("doc_a"), col("doc_b")))
      .select(col("cluster"), explode(col("members")).as("id"))
    stats("cc", cc).unionByName(stats("star", star))
      .orderBy(col("policy"))
  }

  /** Bounded-diameter STAR clustering — the policy fix the
    * [[clusterChainingAudit]] motivates (the star/canopy family, with
    * min-id determinism instead of degree ordering): HUBS are the
    * local-min docs of the verified pair graph (no smaller-id verified
    * neighbor); every other doc attaches to its MINIMUM adjacent hub,
    * or becomes its own secondary center when no hub is adjacent. Every
    * member of a cluster is a VERIFIED neighbor of its hub, so cluster
    * diameter ≤ 2 BY CONSTRUCTION — a transitive chain a-b-c-d splits
    * into {a,b}, {c}, {d} where CC ([[dupClusters]]) merges all four;
    * exact-dup groups (complete subgraphs) still cluster whole. Both
    * passes are plain joins + min aggregates — no iteration, no
    * recursion — so the whole operator is oracled in non-recursive SQL
    * and costs two gram-free shuffles over the verified EDGE list
    * (edges ≪ candidates at any real τ).
    */
  def starClusters(docs: DataFrame, threshold: Double = 0.3): DataFrame =
    starClustersFromPairs(Checkpoints.cut(
      minhashNearDupPairsRaw(docs, threshold)
        .select(col("doc_a"), col("doc_b"))))

  /** [[starClusters]] over an ALREADY-VERIFIED (and cut) pair frame —
    * the composable form [[dedupSavings]] uses so the candidate+verify
    * front is computed once per comparison, not once per policy.
    */
  private def starClustersFromPairs(pairs: DataFrame): DataFrame = {
    val nbrs = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("id", "nbr")
    val minNbr = Checkpoints.cut(
      nbrs.groupBy(col("id")).agg(min(col("nbr")).as("mn")))
    val hubs = minNbr.filter(col("mn") > col("id"))
      .select(col("id").as("hub"))
    val attach = nbrs
      .join(minNbr.filter(col("mn") < col("id")), Seq("id"))
      .join(hubs, col("nbr") === col("hub"))
      .groupBy(col("id")).agg(min(col("nbr")).as("cluster"))
    clusterRollup(minNbr.select(col("id"))
      .join(attach, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster")),
      col("cluster"), "id")
  }

  /** Cluster label rows rolled up to the CC reporting schema
    * (cluster, n_docs, members): one row per `cluster` group, members
    * sorted, clusters in order.
    */
  private[ops] def clusterRollup(labels: DataFrame, cluster: Column,
                                 member: String): DataFrame =
    labels.groupBy(cluster)
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col(member))).as("members"))
      .orderBy(col("cluster"))

  /** Members labeled through their exact-dup group's representative:
    * `members` joins `groups` (rep, n) on `groupCol`, and each member
    * takes its rep's CC cluster from `repLabels` (id, cluster). A group
    * whose rep gained no cross-group edge still forms its own cluster
    * when it has ≥ 2 members (pairwise dups by identity) — the `n > 1`
    * fallback; members of edgeless singleton groups get no row.
    */
  private[ops] def expandRepLabels(members: DataFrame, groups: DataFrame,
                                   groupCol: String, repLabels: DataFrame,
                                   id: Column): DataFrame =
    members.join(groups, groupCol)
      .join(repLabels.select(col("id").as("rep"), col("cluster")),
        Seq("rep"), "left")
      .select(id,
        coalesce(col("cluster"), when(col("n") > 1, col("rep")))
          .as("cluster"))
      .filter(col("cluster").isNotNull)

  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // materialize the PAIR list once, THEN mirror it — a union of two
    // branches over the uncut plan executes the upstream pair pipeline
    // (minhash, LSH, jaccard) twice; mirroring the checkpointed frame
    // just reads the blocks again
    val base = Checkpoints.cut(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val edges = base
      .union(base.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    // Min-label propagation strictly decreases Σlabel until the fixpoint,
    // so convergence is a cheap scalar check — observed DURING the
    // round's one materialization job (guide §1: the separate
    // convergence aggregate was a second action per round, and the
    // persist/unpersist dance around it churned the CacheManager).
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      val propagated = labels.union(viaNeighbors)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // pointer jumping: label ← label(label). Labels are always node
      // ids, so every label has its own row; composing the hop with the
      // neighbor step doubles the propagation distance per round —
      // O(log diameter) rounds instead of O(diameter). Both sides of
      // the self-join read the SAME aggregate subtree (same expr ids),
      // so its exchange is planned once and the probe side arrives as a
      // ReusedExchange — the propagate pipeline executes once per round
      // even though `propagated` is uncut (DedupSpec pins the reuse).
      val updated = propagated
        .join(propagated.select(col("id").as("label"),
          col("label").as("l2")), "label")
        .select(col("id"), col("l2").as("label"))
      // ONE job per round: the cut materializes the new labels and the
      // observe rides it with the decimal Σlabel (BIGINT would overflow
      // ANSI arithmetic once ids × rows get large).
      val (next, m) = Checkpoints.cutObserved(updated,
        sum(col("label").cast("decimal(38,0)")).as("s"))
      val s = m("s").asInstanceOf[java.math.BigDecimal] // null on empty
      converged = s == null || s == prevSum // empty graph → done
      prevSum = s
      labels = next
      i += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"CC_ROUND minlabel $i sum=$s")
    }
    // silent truncation would return SPLIT clusters — fail loudly instead
    // (min-label needs O(diameter) rounds; for long chains at scale use
    // dupClustersLogN)
    require(converged,
      s"dupClusters did not converge in $maxIters rounds; " +
        "component diameter exceeds the iteration bound — use dupClustersLogN")
    // labels is already a cut frame — the rollup reads checkpoint blocks
    clusterRollup(labels, col("label").as("cluster"), "id")
  }

  /** O(log n)-round connected components: alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the 100 TB twin of [[dupClusters]]'s min-label
    * propagation, which needs O(diameter) rounds. Each phase is one
    * groupBy over the (bounded, shrinking) edge list:
    *
    *   large-star: every neighbor larger than u links to the minimum of
    *   u's closed neighborhood; small-star: the smaller/equal neighbors
    *   (and u) link to that minimum. Alternating them contracts every
    *   component to a star rooted at its minimum id.
    *
    * Emits (cluster, id) membership pairs (cluster = component minimum);
    * [[dupClustersLogN]] rolls them up to the [[dupClusters]] schema, and
    * DedupSpec proves the two algorithms equal on random graphs.
    */
  def dupLabelsLogN(pairs: DataFrame, maxIters: Int = 12): DataFrame = {
    def canonical(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()

    def star(e: DataFrame, large: Boolean): DataFrame = {
      // neighborhoods over both directions
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val withMin = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"),
          collect_list(col("v")).as("vs"))
        .select(col("u"), col("m"), explode(col("vs")).as("v"))
      val linked =
        if (large) withMin.filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else withMin.filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(withMin.select(col("u"), col("m")))
      canonical(linked)
    }

    def cutWithFingerprint(e: DataFrame): (DataFrame, (Long, Long)) = {
      // ZERO extra jobs for the convergence check: the canonical edge
      // SET (distinct by construction) is unchanged iff
      // (count, XOR of xxhash64(u,v)) is unchanged (collision odds
      // ~2⁻⁶⁴; xor, unlike sum, can't overflow under ANSI mode) — and
      // the fingerprint aggregate is OBSERVED during the round's cut
      // job instead of running as its own action per round (guide §1).
      val (cutE, m) = Checkpoints.cutObserved(e,
        count(lit(1)).as("n"),
        bit_xor(xxhash64(col("u"), col("v"))).as("x"))
      (cutE, (m("n").asInstanceOf[Long],
        m("x") match { case null => 0L case v => v.asInstanceOf[Long] }))
    }

    var (edges, prev) = cutWithFingerprint(canonical(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))))
    var converged = prev._1 == 0 // empty graph → done
    var i = 0
    while (!converged && i < maxIters) {
      val (next, fp) = cutWithFingerprint(
        star(star(edges, large = true), large = false))
      // star edges always point (larger -> smaller); fixpoint when the
      // canonical edge set is unchanged
      converged = fp == prev
      prev = fp
      edges = next
      i += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"CC_ROUND star $i fp=$fp")
    }
    require(converged,
      s"dupClustersLogN did not converge in $maxIters rounds")
    // edges are now (member -> root); roots themselves appear as u=v-free
    edges.select(col("v").as("cluster"), col("u").as("id"))
      .union(edges.select(col("v").as("cluster"), col("v").as("id")))
      .distinct()
  }

  /** [[dupLabelsLogN]] rolled up to the [[dupClusters]] output schema
    * (cluster, n_docs, members) — the reporting surface; join-shaped
    * consumers ([[keepBestPerClusterLabels]]) should take the labels
    * directly and skip the collect_list/explode round trip.
    */
  def dupClustersLogN(pairs: DataFrame, maxIters: Int = 12): DataFrame =
    clusterRollup(dupLabelsLogN(pairs, maxIters), col("cluster"), "id")

  /** Connected-component labels with EXACT-DUPLICATE PRE-COLLAPSE — the
    * production front of the near-dup pipeline on boilerplate-heavy
    * corpora. Identical (minhash-eligible) texts share every shingle,
    * signature, and band key, so an exact-dup digest group is always a
    * clique inside one component; running LSH + CC over one
    * REPRESENTATIVE per distinct text (the group's min doc_id) and
    * expanding labels back through the digest map reconstructs the
    * original components EXACTLY, cluster ids included (component min =
    * min over group reps = min over all members, since each rep is its
    * group's min). DedupSpec pins bit-equality with the uncollapsed
    * path; the registry's n53 proves it against the same recursive-CTE
    * oracle as n21/n24.
    *
    * Why it matters at 100 TB: per-bucket pair generation is Σ bucket²,
    * and on real corpora the biggest buckets ARE exact-duplicate groups
    * (boilerplate, templated pages). If average dup-group size grows
    * with the corpus, pairs — and CC's edge list — grow quadratically;
    * collapsed, each group contributes ONE node regardless of its size.
    * Measured on the 100× replicated corpus (every text ×100): the
    * uncollapsed n24 takes ~84 s, collapsed ~6 s, identical output
    * (BENCH_NOTES round 6). The digest aggregate itself is one shuffle
    * whose map-side combine collapses identical texts per partition
    * before anything moves.
    *
    * Labels expand through [[expandRepLabels]]: size-1 groups with no
    * edges are in no cluster, exactly like singleton docs uncollapsed.
    */
  def dupLabelsCollapsed(
      docs: DataFrame,
      cc: DataFrame => DataFrame = dupLabelsLogN(_, 12)): DataFrame = {
    val eligible = docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("doc_id"), col("text"))
    // (digest → rep, n, text): first(text) is well-defined — members of a
    // digest group carry identical text. Cut once: the groups frame feeds
    // both the rep corpus (via LSH → CC) and the expansion join, and an
    // uncut plan would re-run the digest aggregate on both sides.
    val groups = Checkpoints.cut(
      eligible.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"),
          first(col("text")).as("text")))
    val repDocs = groups.select(col("rep").as("doc_id"), col("text"))
    val repLabels = cc(lshCandidatePairs(repDocs))
    expandRepLabels(
      eligible.select(col("doc_id"), md5(col("text")).as("digest")),
      groups.select(col("digest"), col("rep"), col("n")), "digest",
      repLabels, col("doc_id").as("id"))
      .select(col("cluster"), col("id"))
  }

  /** [[dupLabelsCollapsed]] rolled up to the [[dupClusters]] reporting
    * schema — the n53 registry surface, oracled identically to n21/n24.
    */
  def dupClustersCollapsed(docs: DataFrame): DataFrame =
    clusterRollup(dupLabelsCollapsed(docs), col("cluster"), "id")

  /** Duplication-depth profile — the dedup AUDIT companion to
    * [[jaccardBackground]]: how many near-dup clusters exist at each
    * size, from (cluster, id) label pairs ([[dupLabelsCollapsed]] in the
    * registry). Sets the dedup-savings expectation before a 100 TB run
    * (n_docs − n_clusters docs would drop under keep-one) and exposes
    * pathological boilerplate as a long tail of giant clusters — the
    * distribution-level view the per-cluster surfaces (n53) are too
    * large to eyeball at scale. Output: (cluster_size, n_clusters,
    * n_docs), audit-sized (≤ max cluster size rows) at any corpus size.
    *
    * Scale shape: two map-side-combinable count aggregates over the
    * label pairs — nothing new shuffles beyond the upstream CC's own
    * audited shape.
    */
  def clusterSizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Quality-aware keeper selection straight off (cluster, id) label
    * pairs: keep each cluster's best-scoring member (longest text; ties
    * break to the smaller doc_id via the (score, -id) struct ordering).
    * One join + one aggregate; the members arrays are never
    * materialized, collected or re-exploded.
    */
  def keepBestPerClusterLabels(labels: DataFrame, docs: DataFrame): DataFrame =
    labels.select(col("cluster"), col("id").as("doc_id"))
      .join(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("score")), "doc_id")
      .groupBy(col("cluster"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid")))
        .as("best"), count(lit(1)).as("n_members"))
      .select(col("cluster"), (-col("best.nid")).as("keeper"),
        col("best.score").as("keeper_score"), col("n_members"))
      .orderBy(col("cluster"))

  /** 100 TB-path signature: xxhash64 longs instead of md5-hex (rows-only
    * check — hash is engine-specific), via the zero-shuffle custom
    * expression [[graft.functions.MinHashSignatureFast]].
    */
  def minhashSignaturesFast(docs: DataFrame): DataFrame =
    docs
      .filter(graft.functions.MinHash.eligible(col("text")))
      .select(col("doc_id"),
        graft.functions.MinHashFast.signature(col("text"), NumMinhashSeeds)
          .as("sig"))
      // metrics + optimizer barrier: InferFiltersFromGenerate adds
      // size(sig) > 0 / isnotnull(sig) above the projection and pushdown
      // would inline the signature into them (3 evals per row); filters
      // cannot cross a CollectMetrics node. Name is unique per call so
      // two of these can compose in one query (duplicate observed-metric
      // names fail analysis).
      .observe(Checkpoints.freshMetricName("minhash_fast"),
        count(lit(1)).as("n_docs_signed"))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("seed", "mh")))
      .orderBy(col("doc_id"), col("seed"))
}
