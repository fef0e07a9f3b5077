package graft

/** Plan-shape regression guards: the scale-critical physical properties
  * (pushdown, pruning, broadcast, top-K without global sort, zero-shuffle
  * minhash) asserted on the real queries so a refactor can't silently
  * trade them away (SURVEY §4, "Optimize for scale").
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def plan(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("r1: shipdate filter pushed to the parquet scan; columns pruned") {
    val p = plan("r1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_comment"))
  }

  test("r2: all dimension joins broadcast (no dim-side shuffle)") {
    val p = plan("r2_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("CartesianProduct"))
  }

  test("a1: planner compiles to TakeOrderedAndProject reading only ts") {
    val p = plan("a1_catalog_topk")
    assert(p.contains("TakeOrderedAndProject"))
    // ts must surface as TimestampType (exactly "timestamp" — the
    // trailing ">" rejects a timestamp_ntz scan, which would break every
    // TIMESTAMP consumer downstream) and the scan must read ONLY ts
    assert(p.contains("ReadSchema: struct<ts:timestamp>"))
  }

  test("n4: minhash plan has no shuffle exchange before the signature") {
    // the custom expression computes signatures map-side; the only
    // exchange allowed is the final presentation sort
    val p = plan("n4_minhash_signatures")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "minhash must not hash-shuffle; found one in:\n" + p)
  }

  test("n22: the composite's collapsed front — no keeper join, the text " +
    "never reaches the digest shuffle") {
    val p = plan("n22_training_corpus")
    assert(!p.toLowerCase.contains("join"),
      "the exact-dedup keeper must fold into the digest aggregation, not " +
        "plan as a semi-join re-shuffling the corpus:\n" + p)
    // the per-row metric/filter stage runs BEFORE the shuffle: the first
    // (scan-side) exchange input carries (h, metrics), not the text
    val firstExchange = p.split("Exchange hashpartitioning")(0)
    assert(firstExchange.contains("md5") || p.contains("md5"),
      "digest front missing:\n" + p)
  }

  test("n55: the index check broadcasts the batch — the index never " +
    "shuffles into pair space") {
    val p = plan("n55_incremental_semantic_dedup")
    assert(p.contains("BroadcastHashJoin"),
      "the index-side near-dup check must stream the index against the " +
        "broadcast batch, not shuffle the corpus by bucket:\n" + p)
  }

  test("n61: decontamination is per-row — probe array broadcast, no hash " +
    "shuffle before the presentation sort") {
    val p = plan("n61_semantic_decontamination")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "probe struct array must arrive by broadcast")
    // the max-over-probes is computed on the scan row: the only exchange
    // is the final ORDER BY's range partitioning — a hash exchange would
    // mean a corpus×nProbes pair blowup got re-grouped
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"unexpected hash exchange:\n$p")
  }

  test("n66: centroid join is broadcast and the component aggregate " +
    "keeps a map-side partial phase") {
    val p = plan("n66_label_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "the labels×dims centroid table must broadcast back, never " +
        "shuffle the corpus by label:\n" + p)
    assert("partial_count|partial".r.findAllIn(p).nonEmpty &&
      p.contains("HashAggregate"),
      "the (label, pos) sums must partial-aggregate map-side:\n" + p)
  }

  test("n67: the top-k vocabulary arrives by broadcast; the corpus " +
    "shuffles only on doc_id") {
    val p = plan("n67_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"),
      "the k-row vocabulary must broadcast, not shuffle the exploded " +
        "corpus by word:\n" + p)
  }

  test("n69: the per-source stats table broadcasts back; the corpus " +
    "projection carries two columns, not the text") {
    val p = plan("n69_length_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source quantile table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here means the stats table lost its " +
        "broadcast hint:\n" + p)
  }

  test("n79: the approx twin keeps n69's broadcast shape AND a partial " +
    "(map-side mergeable) sketch phase — the properties that remove the " +
    "per-source sort straggler at 100 TB") {
    val p = plan("n79_length_outliers_approx")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source quantile table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here means the stats table lost its " +
        "broadcast hint:\n" + p)
    assert("partial_percentile_approx".r.findAllIn(p).nonEmpty,
      "percentile_approx must keep a map-side partial sketch phase — " +
        "that mergeability IS the reason the twin exists:\n" + p)
  }

  test("n82: the trim keeps n71's HINT-FREE hot-gram join — no forced " +
    "broadcast of the corpus-vocabulary-shaped df frame") {
    val opt = Queries.queries("n82_boilerplate_trim")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"),
      "the minDf=2 hot frame is every corpus-repeated gram — a forced " +
        "broadcast is the designed-in OOM n71's pin exists to forbid:\n" +
        opt)
    assert(!plan("n82_boilerplate_trim").contains("CartesianProduct"))
  }

  test("n25/n77: the corpus-vocabulary word joins are HINT-FREE — the " +
    "idf table and the BPE segmentation table are the corpus's " +
    "distinct-word vocabulary (10⁸–10⁹ rows on a web corpus), so the " +
    "exchange choice belongs to AQE (the scoreBigramLm pattern); only " +
    "the 1-row N frame may carry a hint") {
    for (name <- Seq("n25_tfidf_top_terms", "n77_bpe_tokenize")) {
      val opt = Queries.queries(name)(spark, dir)
        .queryExecution.optimizedPlan.toString
      // every equi-join ON word must be hint-free; n25's cross join
      // with the 1-row corpus count is the single allowed hint (its
      // join line carries no word key)
      val wordJoins = opt.linesIterator
        .filter(l => l.contains("Join") && l.contains("word#")).toList
      assert(wordJoins.nonEmpty, s"$name lost its word join:\n" + opt)
      wordJoins.foreach(l =>
        assert(!l.contains("strategy=broadcast"),
          s"$name force-broadcasts a vocabulary-shaped frame (the " +
            s"n71 OOM class, BENCH_NOTES round 12):\n" + l))
    }
  }

  test("n77: the production segmenter is ONE expression node — the " +
    "plan carries bpe_segment, not a chained-aggregate lambda tree " +
    "linear in nMerges") {
    val opt = Queries.queries("n77_bpe_tokenize")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("bpe_segment"),
      "the codegen'd BpeSegment expression must be the production " +
        "segmenter (the depth-receipt lesson):\n" + opt)
    assert(!opt.contains("aggregate(lambdafunction"),
      "a nested-HOF fold chain reappeared in the scoring plan — its " +
        "expression depth is linear in nMerges and stops planning " +
        "short of a 32k-merge model:\n" + opt)
  }

  test("n83: the composite keeps its stages' shapes — hint-free hot " +
    "set, no cartesian") {
    val opt = Queries.queries("n83_clean_corpus")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("strategy=broadcast"),
      "no stage of the cleaner may force-broadcast (the hot frame is " +
        "corpus-vocabulary-shaped at minDf=2):\n" + opt)
    assert(!plan("n83_clean_corpus").contains("CartesianProduct"))
  }

  test("verify single-eval (r16): the threshold filter must sit above " +
    "the exprBarrier, not be pushed into the verify join — one " +
    "array_intersect in the containment plan, one intersect+union in " +
    "the Jaccard plan, one dot-product chain in the cosine plan") {
    // pre-barrier plans carried 3 array_intersect evals per candidate
    // (two inside the pushed greatest(), one in the projection) — ~2 s
    // of the sf0.1 bench per containment query
    val cont = plan("n115_containment_prefix")
    assert("array_intersect".r.findAllIn(cont).size == 1,
      s"containment verify must evaluate its intersect once:\n$cont")
    val jac = plan("n6_minhash_neardup_pairs")
    assert("array_intersect".r.findAllIn(jac).size == 1 &&
      "array_union".r.findAllIn(jac).size == 1,
      s"jaccard verify must evaluate intersect+union once:\n$jac")
    assert(cont.contains("CollectMetrics") && jac.contains("CollectMetrics"),
      "the barrier node vanished — a Catalyst upgrade may have started " +
        "collapsing CollectMetrics; re-audit the verify family")
  }

  test("n59: tuning truth is a block equi-join and candidates a band-key " +
    "equi-join — never a cartesian/range nested loop") {
    val p = plan("n59_lsh_tuning")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, "expected equi-join operators")
  }

  test("n60: shard ranks are per-shard windows — never a global " +
    "row_number (a total-order barrier at 100 TB)") {
    val p = plan("n60_shard_assignment")
    assert(p.contains("row_number"))
    assert(p.contains("windowspecdefinition(shard"),
      s"rank must partition by shard:\n$p")
  }

  test("n63: the funnel is one scan — exactly one hash exchange (the " +
    "dedup window), stages as flags not re-scans") {
    val p = plan("n63_pipeline_funnel")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the content-hash window exchange:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected a single corpus scan:\n$p")
  }

  test("n9: probe side broadcast; no cartesian on the corpus") {
    val p = plan("n9_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("b2: single hash-aggregate pair with partial aggregation") {
    val p = plan("b2_hourly_histogram")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"))
  }

  test("b23: as-of join is a window carry-forward, not a range nested loop") {
    val p = plan("b23_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "as-of must not plan as a pair-blowup join:\n" + p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("b26: forward as-of plans the INCREMENTAL running frame, never " +
    "unboundedfollowing") {
    // a [currentRow, unboundedFollowing] frame re-evaluates the aggregate
    // per row — O(n²) in each user's history (measured 30.7 s vs 2.75 s
    // at 50×); forward must stay a reversed-sort running frame
    val p = plan("b26_asof_forward").toLowerCase
    assert(!p.contains("unboundedfollowing"),
      "forward as-of regressed to the quadratic frame:\n" + p)
    assert(p.contains("unboundedpreceding"),
      "expected the running carry frame:\n" + p)
  }

  test("b24: range join broadcasts the tiny tier side only") {
    val p = plan("b24_value_tiers")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // the stream (events) side must not exchange before the join
    assert(!p.split("BroadcastNestedLoopJoin")(1)
      .contains("Exchange hashpartitioning"))
  }

  test("b25: interval join keeps the user_id equi key (no nested loop)") {
    val p = plan("b25_click_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "interval join must use the equi key:\n" + p)
  }

  test("n30: repetition signals are per-row — the only pre-sort " +
    "exchange is the sort barrier, and it never carries the text") {
    val p = plan("n30_repetition_quality")
    // ONE hash exchange: the r15 sortBarrier (REPARTITION_BY_COL on the
    // sort key) that keeps the range sort's boundary sampling from
    // re-running the whole scan+stats segment; its input is the
    // audit-sized stats projection — the text column must be gone
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1 && p.contains("REPARTITION_BY_COL"),
      "expected exactly the sortBarrier exchange:\n" + p)
    assert(!p.split("REPARTITION_BY_COL")(0).contains("text#"),
      "the barrier exchange must carry stats, not text:\n" + p)
  }

  test("n31: gram decontamination joins on the gram key, never cartesian") {
    val p = plan("n31_ngram_decontamination")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  // Expensive custom expressions must appear EXACTLY once in their plans:
  // Catalyst happily duplicates them into pushed-down filters and collapsed
  // projections (observed: isnotnull(minhash) re-ran the signature per row,
  // queryStats' duration filter re-ran the whole log parse). The cheap-
  // predicate / CollectMetrics-barrier / UserDefinedExpression fixes keep
  // these at one evaluation — these guards keep it that way.
  test("b10: the log-line parse is evaluated exactly once") {
    assert("parse_log_line".r.findAllIn(plan("b10_query_class_stats"))
      .length === 1)
  }

  test("n4: the minhash signature is evaluated exactly once") {
    assert("minhash_signature".r.findAllIn(plan("n4_minhash_signatures"))
      .length === 1)
  }

  test("n17: the fast minhash signature is evaluated exactly once") {
    assert("minhash_signature_fast".r.findAllIn(plan("n17_minhash_fast"))
      .length === 1)
  }

  test("n7: the simhash expression is evaluated exactly once, no shuffle " +
    "before the presentation sort") {
    val p = plan("n7_simhash")
    assert("simhash32".r.findAllIn(p).length === 1)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "per-row simhash must not shuffle:\n" + p)
  }

  test("n26: the content fingerprint is computed exactly once per row") {
    // the one-scan groupBy rewrite fingerprints each doc once; the old
    // self-join scanned documents twice (md5 over sort+distinct per branch)
    val p = plan("n26_decontamination")
    assert("array_distinct".r.findAllIn(p).length === 1,
      "decontamination must fingerprint once:\n" + p)
    assert("FileScan parquet".r.findAllIn(p).length === 1,
      "decontamination must scan documents once:\n" + p)
  }

  test("n25: tf-idf is lazy end-to-end (N is a broadcast 1-row aggregate)") {
    // plan construction must not run a driver-side count(); building the
    // plan string here would hang/act if it did — additionally pin the
    // corpus-size join shape
    val p = plan("n25_tfidf_top_terms")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the 1-row N frame broadcast:\n" + p)
  }

  test("n37: chunking is a per-row generator — no hash shuffle") {
    val p = plan("n37_chunks")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "chunking must not shuffle:\n" + p)
  }

  test("n39: per-source cap pre-limits below the shuffle (WindowGroupLimit)") {
    // rank-limit pushdown caps each map partition to k rows per source
    // BEFORE the exchange — the skew guard that keeps a dominant source
    // from flooding one reducer
    val p = plan("n39_source_cap")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "expected partial + final WindowGroupLimit:\n" + p)
  }

  test("n44: vocabulary size is a broadcast 1-row aggregate (lazy N)") {
    // same lazy-scalar shape n25 pins: no driver-side count at plan build
    val p = plan("n44_bigram_lm_score")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the 1-row vocab frame broadcast:\n" + p)
  }

  test("n52: scoring from the persisted bigram model has zero training " +
    "subtrees") {
    // the train-once/score-many contract: the scoring plan reads the
    // model PARQUET and explodes the CORPUS exactly once (the scoring
    // bigram stream) — training would add the bigram-count and
    // vocabulary explosions. Aggregates over the MODEL are allowed
    // (vocabulary-bounded: the per-context distinct that serves unseen-
    // bigram smoothing) plus the per-doc rollup pair; the in-plan 1-row
    // vocab broadcast is gone (vsize inlines as a literal).
    val p = plan("n52_bigram_lm_model_score")
    assert(p.contains("graft_models"),
      "expected a scan of the persisted model table:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the in-plan vocab broadcast must be gone when scoring from a model:\n" + p)
    assert("Generate".r.findAllIn(p).length === 1,
      "expected exactly ONE corpus explosion (scoring bigrams; training " +
        "subtrees would add more):\n" + p)
    assert("HashAggregate".r.findAllIn(p).length <= 4,
      "expected only the per-doc rollup pair + the model-sized context " +
        "distinct:\n" + p)
  }

  test("n51: scoring from persisted IVF centroids plans no per-round " +
    "training aggregates") {
    val p = plan("n51_ivf_model_score")
    // nearestCells assignment is a pure projection over the model
    // literals; the only aggregation-free shuffles left are the probe
    // broadcast and the final rank/sort
    assert(!p.contains("vecsum"),
      "expected no VectorSum training aggregate in the scoring plan:\n" + p)
  }

  test("n46: the keep list is an anti join on the dropped-id set") {
    val p = plan("n46_semantic_dedup")
    assert(p.contains("LeftAnti"),
      "expected a left-anti join against dropped ids:\n" + p)
  }

  test("n54: collapsed keep list anti-joins dropped REPS and semi-joins " +
    "survivors — the full corpus never re-enters the pair join") {
    val p = plan("n54_semantic_dedup_collapsed")
    assert(p.contains("LeftAnti"),
      "expected the rep-side anti join against dropped ids:\n" + p)
    assert(p.contains("LeftSemi"),
      "expected the survivor-id semi join back to (vec_id, label):\n" + p)
    // The collapse property itself: the Σ bucket² pair join reads the
    // CHECKPOINTED rep frame (ExistingRDD scans), never the raw corpus —
    // exactly 2 embeddings scans remain (the zero-norm filter and the
    // final survivor semi-join). The uncollapsed shape needs 3 (both
    // sides of the self-join plus the final join), so a regression that
    // drops the rep collapse while keeping the join kinds fails here.
    val embScans = "embeddings\\.parquet".r.findAllIn(p).size
    assert(embScans <= 2,
      s"pair join must run over collapsed reps, not the corpus " +
        s"($embScans embeddings scans):\n" + p)
    assert(p.contains("Scan ExistingRDD"),
      "expected the checkpointed rep frame feeding the pair join:\n" + p)
  }

  test("n48: knn-graph top-k pre-limits below the shuffle (WindowGroupLimit)") {
    // same skew guard as n39: at most k candidate edges per (partition,
    // src) survive to the rank exchange, so one hot bucket can't flood a
    // reducer with its full Σ bucket² candidate set
    val p = plan("n48_knn_graph")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "expected partial + final WindowGroupLimit:\n" + p)
  }

  test("n53/n54: the collapse aggregates keep a partial (map-side) phase " +
    "below their exchange") {
    import org.apache.spark.sql.functions._
    // the collapse's scale claim is that identical payloads merge per
    // partition BEFORE the shuffle — pin the partial_* phase under the
    // Exchange for both group-by shapes (digest string → HashAggregate;
    // embedding array key → hash agg with float normalization; first()
    // may force SortAggregate — either is fine, partiality is the claim)
    val docs = graft.ops.Tables.documents(spark, dir)
    val textPlan = docs.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"),
        first(col("text")).as("text"))
      .queryExecution.executedPlan.toString
    assert(textPlan.contains("partial_min(doc_id"),
      "text collapse lost its map-side combine:\n" + textPlan)
    val emb = graft.ops.Tables.embeddings(spark, dir)
    val embPlan = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .groupBy(col("emb")).agg(min(col("vec_id")).as("rep"))
      .queryExecution.executedPlan.toString
    assert(embPlan.contains("partial_min(vec_id"),
      "embedding collapse lost its map-side combine:\n" + embPlan)
  }

  test("n71: the hot-gram join is HINT-FREE — at minDf=2 the df frame " +
    "is every corpus-repeated gram (corpus-vocabulary-shaped), so the " +
    "exchange choice belongs to AQE, never a forced hint") {
    val qe = Queries.queries("n71_boilerplate_coverage")(spark, dir)
      .queryExecution
    assert(!qe.optimizedPlan.toString.contains("strategy=broadcast"),
      "a forced broadcast(hot) here is an OOM by construction on a " +
        "dup-heavy corpus (the n73→n109 lesson):\n" + qe.optimizedPlan)
    // the df aggregate must still collapse per-doc-distinct gram rows
    // map-side before the one gram-key shuffle (the n47 shape)
    assert(qe.executedPlan.toString.contains("partial_count"),
      "the gram df aggregate lost its map-side partial phase:\n" +
        qe.executedPlan)
  }

  test("n73: the unigram model is a broadcast join and the constants a " +
    "1-row broadcast — the token stream never shuffles to score") {
    val p = plan("n73_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary-sized (ct, cr) model must broadcast:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "(vsize, nt, nr) must arrive as a broadcast 1-row aggregate:\n" + p)
  }

  test("n77: BPE segmentation runs on the vocab table and broadcasts " +
    "back at FIXTURE scale — AQE/stats choose it (the join is hint-free " +
    "since r13; the hint-absence pin above guards the mechanism, this " +
    "pins the small-regime outcome)") {
    val p = plan("n77_bpe_tokenize")
    assert(p.contains("BroadcastHashJoin"),
      "at sf0.01 the (word → n_sub) table fits any broadcast budget — " +
        "stats must still pick the broadcast without a hint:\n" + p)
    assert("partial_sum\\(n_sub".r.findAllIn(p).nonEmpty &&
      p.contains("HashAggregate"),
      "the per-doc piece sum must keep a map-side partial phase:\n" + p)
  }

  test("n84: the NB model arrives by broadcast and the threshold grid " +
    "by BNLJ — the token stream never sort-merge-joins") {
    val p = plan("n84_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "model join must broadcast the vocabulary-sized table:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "constants/grid must ride a broadcast nested loop:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "nothing here justifies a sort-merge join:\n" + p)
  }

  test("n85: the per-cell cap plans as WindowGroupLimit — the rank cut " +
    "runs below the window sort") {
    val p = plan("n85_cluster_balanced_sample")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "expected partial + final WindowGroupLimit:\n" + p)
  }

  test("n86: per-source top-k is a WindowGroupLimit over a map-side-" +
    "combined word count") {
    val p = plan("n86_zipf_fit")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "expected partial + final WindowGroupLimit:\n" + p)
    assert(p.contains("partial_count"),
      "the (source, word) count must keep its map-side phase:\n" + p)
  }

  test("n87: the mix plan broadcasts back onto the scan — the corpus " +
    "shuffles only its per-source partials") {
    val p = plan("n87_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      "the sources-sized plan must broadcast back for the realized pass:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("n89: the shortlist cut is a WindowGroupLimit and the exact " +
    "fetch a broadcast join — full vectors never shuffle") {
    val p = plan("n89_projected_ann_topk")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "stage-1 shortlist must pre-cap below the window sort:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the bounded shortlist must broadcast onto the corpus:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("b28: first-seen is a window min — no self-join back to the " +
    "stream, and the plan carries no join at all") {
    val p = plan("b28_retention_cohorts")
    assert(!p.contains("Join"),
      "retention must derive first-seen via the window, never a join:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("r15: the 1-row max and the supplier dim both broadcast — " +
    "Catalyst even rewrites the cross+filter into an equi join on the " +
    "tie key — and nothing sort-merges") {
    val p = plan("r15_top_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "argmax + supplier joins must both broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("n136: the percent_rank window partitions by source (never a " +
    "global single-partition window)") {
    val p = plan("n136_ccnet_buckets")
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(source".r.findFirstIn(p).nonEmpty,
      "the rank window must shuffle on the source key:\n" + p)
  }

  test("b29/n138: the one-pass-flags reports plan NO join at all — " +
    "steps/rules are window or flag columns on the scan row") {
    for (q <- Seq("b29_session_funnel", "n138_quality_rules")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay join-free:\n$p")
    }
  }

  test("n95: both screening joins broadcast the batch — the corpus-side " +
    "index streams map-side, never shuffling into pair space") {
    val p = plan("n95_incremental_simhash_dedup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "corpus-hit and within-batch joins must both broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("n94: the hamming verify rides the join condition and no " +
    "signature sort survives into the pipeline") {
    val opt = Queries.queries("n94_simhash_neardup_pairs_wide")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.linesIterator.exists(l =>
      l.contains("Join Inner") && l.contains("bit_count")),
      "the hamming <= maxDist cut must be pushed into the block join " +
        "(filter-before-distinct), not run above it:\n" + opt)
    assert("(?m)^\\s*(\\+- )?Sort ".r.findAllIn(opt).size <= 1,
      "only the final presentation sort may remain — a mid-pipeline " +
        "signature orderBy costs a full shuffle-sort per consumer:\n" + opt)
  }

  test("no query in the registry plans a CartesianProduct; SortMergeJoins " +
    "appear only in the audited legitimately-shuffling families") {
    // CartesianProduct is the silent scale-killer: an unkeyed join
    // degenerating to all-pairs. Deliberate tiny-side cross joins plan
    // as BroadcastNestedLoopJoin (allowed); an actual CartesianProduct
    // anywhere is a bug. Runs at sf0.001 because building some plans
    // executes driver-side training loops (IVF, connected components).
    //
    // The SMJ allowlist is a REGRESSION GUARD for the broadcast-designed
    // paths: most operators here are built so their small side
    // broadcasts (model frames, pair sets, probe sets, mix plans) — a
    // new SMJ outside this list means a designed broadcast silently
    // regressed to a shuffle. Every listed member shuffles LEGITIMATELY:
    // full-outer diffs (n50/r13 — no broadcast strategy exists),
    // corpus-vs-corpus pair joins in the semantic-dedup family
    // (n46/n54/n55/n57 — neither side is small at scale), the
    // exact-truth tuning/recall harnesses (n59/n65, n62/n64/n68/n75 —
    // aggregate-fed sides Catalyst can't size; AQE localizes at
    // runtime), and the n74 report composing those components. n112's
    // SMJ is its PURPOSE (the hint-free twin).
    // Value = the join-KEY names this query's SMJs are audited on: every
    // SortMergeJoin line in the plan must carry at least one of them, so
    // a SECOND, unintended SMJ (a regressed broadcast on some other key)
    // inside an allowlisted query is caught instead of hiding behind the
    // legitimate one. Key sets were read off the actual executed plans
    // (round 12) — an SMJ on a NEW key in any of these queries now fails
    // the sweep instead of riding the blanket allowance.
    val smjAllowed: Map[String, Set[String]] = Map(
      "n46_semantic_dedup" -> Set("vec_id"),
      "n50_snapshot_diff" -> Set("doc_id"),
      "n54_semantic_dedup_collapsed" -> Set("rep", "vec_id"),
      "n55_incremental_semantic_dedup" -> Set("vec_id"),
      "n57_semantic_dup_clusters_collapsed" -> Set("rep"),
      // r16: truth intersections moved to the inverted-index join on
      // (block, shingle) — the per-pair string-set intersects were the
      // harness's dominant cost; the size joins stay doc-keyed
      "n59_lsh_tuning" -> Set("doc_a", "doc_b", "sh"),
      "n62_ann_recall" -> Set("q_id", "vec_id"),
      "n64_ann_recall_curve" -> Set("bits", "q_id", "vec_id"),
      "n65_lsh_tuning_sampled" -> Set("doc_a", "doc_b", "sh"),
      "n68_ann_recall_curve_mp" -> Set("bits", "q_id", "vec_id"),
      "n74_contamination_report" -> Set("test_doc"),
      "n75_ivf_recall" -> Set("q_id", "vec_id"),
      "r13_full_outer_churn" -> Set("ck_a", "ck_b"),
      "n112_source_leakage_shuffle" -> Set("doc_id"),
      "n120_source_leakage_auto" -> Set("doc_id"),
      // keep-first substring dedup: the duplicated-gram first-occurrence
      // frame is one row per DUPLICATED gram — corpus-vocabulary-shaped,
      // deliberately NOT broadcast (the n73→n109 lesson); both gram-key
      // sides shuffle legitimately (key g), as does the doc-keyed
      // rebuild join
      "n121_dupsub_spans" -> Set("g", "doc_id"),
      "n122_dupsub_dedup" -> Set("g", "doc_id"),
      "n123_dupsub_dedup_collapsed" -> Set("g", "doc_id"),
      "n124_dupsub_incremental" -> Set("g", "doc_id"),
      "n125_dupsub_dedup_hashed" -> Set("g", "doc_id"),
      "n126_clean_corpus_subdedup" -> Set("g", "doc_id"),
      "n127_dupsub_by_source" -> Set("g", "doc_id"),
      // boilerplate family (round-12 un-force): the minDf=2 hot frame is
      // corpus-vocabulary-shaped, hint-free by design — the gram-key SMJ
      // is the scale-safe branch AQE localizes when the frame fits
      "n71_boilerplate_coverage" -> Set("g", "doc_id"),
      "n82_boilerplate_trim" -> Set("g", "doc_id"),
      "n106_boilerplate_spans" -> Set("g", "doc_id"),
      "n83_clean_corpus" -> Set("g", "doc_id"),
      "n99_training_data_build" -> Set("g", "doc_id"),
      // chaining audit / star clusters / savings: CC-label and hub
      // joins over the verified edge list — aggregate-fed, legitimate
      // "cluster": the per-cluster stats join — both sides are
      // cluster-count-shaped aggregate outputs off the cut pair frame,
      // deliberately hint-free (AQE localizes when they fit); it planned
      // broadcast while the rollup read a fresh eager cut, and surfaced
      // as the designed SMJ when r16 folded that cut away
      "n130_cluster_chaining" -> Set("id", "nbr", "hub", "doc_id",
        "cluster"),
      "n131_star_clusters" -> Set("id", "nbr", "hub"),
      "n133_dedup_savings" -> Set("id", "nbr", "hub", "doc_id"),
      // leakage-safe splits: the CC label frame (and in n135 the
      // verified pairs + cluster-aware assignment) joins on doc id —
      // aggregate-fed sides deliberately hint-free (the n73→n109
      // lesson), legitimate shuffles; AQE localizes when small
      "n134_leakage_safe_splits" -> Set("doc_id"),
      "n135_leakage_safe_matrix" -> Set("doc_id"),
      // paragraph dedup (CCNet first pass): the first-occurrence frame
      // is one row per distinct paragraph hash — corpus-shaped,
      // deliberately NOT broadcast (the n121 convention); hash-keyed
      // and doc-keyed shuffles are the design
      "n140_paragraph_dedup" -> Set("h", "doc_id"),
      "n141_paragraph_dedup_by_source" -> Set("h", "doc_id"),
      "n143_clean_corpus_paragraph" -> Set("h", "doc_id"),
      "n144_paragraph_dedup_incremental" -> Set("h", "doc_id"),
      // the substring auto inherits whichever branch fires (gram-key +
      // doc-keyed shuffles, the n122/n123 shapes)
      "n145_dupsub_dedup_auto" -> Set("g", "doc_id"),
      // safe build: n99's stages + the hint-free CC-label/assignment
      // joins (doc_id) and the hint-free hot-gram join (g)
      "n142_training_build_safe" -> Set("g", "doc_id"),
      // m11's pigeonhole pair front: the permuted-table block-key
      // self-join over the rep clips' frames — corpus-sized on both
      // sides at scale (the n59/n65 family's shape), deliberately
      // hint-free; it rode an auto-broadcast while the fixture was an
      // in-memory lineage with tiny size estimates and surfaced as the
      // designed SMJ once the corpus moved to staged parquet with
      // honest file stats (r14). AQE localizes it when a side fits.
      "m11_video_neardup_clips" -> Set("tbl", "kv"),
      // media decontamination: the final drop is a deliberately
      // hint-free anti join on the media/doc id — the hit set is
      // corpus-sized on a contaminated corpus (the n73→n109 lesson:
      // never force what can grow with the corpus); the TEST side of
      // the block join IS broadcast by construction upstream
      "m16_image_decontamination" -> Set("doc_id", "media_id"),
      "m17_video_decontamination" -> Set("doc_id", "media_id"))
    val tiny = "/root/testdata/sf0.001"
    graft.Queries.queries.foreach { case (name, fn) =>
      val p = fn(spark, tiny).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
      val smjLines = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
      if (smjLines.nonEmpty) {
        assert(smjAllowed.contains(name),
          s"$name plans a SortMergeJoin outside the audited allowlist — " +
            s"a designed broadcast likely regressed:\n$p")
        val keys = smjAllowed(name)
        if (keys.nonEmpty) smjLines.foreach { l =>
          // attr refs print as name#id — check the line's equi keys name
          // one of the audited columns
          val attrs = "([A-Za-z_][A-Za-z0-9_]*)#\\d+".r
            .findAllMatchIn(l).map(_.group(1)).toSet
          assert(attrs.intersect(keys).nonEmpty,
            s"$name has a SortMergeJoin on unaudited keys " +
              s"(${attrs.mkString(",")} vs allowed ${keys.mkString(",")}): " +
              s"$l\nfull plan:\n$p")
        }
      }
    }
  }

  test("n99: the mix plan and decon drop set arrive by broadcast — the " +
    "corpus text never shuffles for either") {
    val p = plan("n99_training_data_build")
    // keep_thresh join + (doc_id, source) projection join + decon
    // anti join: the sources-sized plan frame MUST broadcast
    assert(p.contains("BroadcastHashJoin"),
      "the sources-sized keep_thresh frame must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), "cartesian in:\n" + p)
  }

  test("n100/n101: background-histogram pair spaces broadcast the " +
    "sampled side (bounded BNLJ, never a cartesian)") {
    for (q <- Seq("n100_jaccard_background", "n101_cosine_background")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q: the sampled side must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian in:\n$p")
    }
  }

  test("n102: both centroids partial-aggregate map-side; the corpus " +
    "row joins by broadcast") {
    val p = plan("n102_label_centroid_drift")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      "the one-row corpus centroid must broadcast:\n" + p)
    assert("partial_count|partial".r.findAllIn(p).nonEmpty &&
      p.contains("HashAggregate"),
      "the (grp, pos) sums must partial-aggregate map-side:\n" + p)
  }

  test("n103: PII scrub is a pure per-row projection — the only " +
    "pre-sort exchange is the sort barrier, and it never carries the " +
    "text") {
    val p = plan("n103_pii_redact")
    // see the n30 pin: one REPARTITION_BY_COL barrier under the range
    // sort, carrying the md5+counts projection, never the text
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1 && p.contains("REPARTITION_BY_COL"),
      "expected exactly the sortBarrier exchange:\n" + p)
    assert(!p.split("REPARTITION_BY_COL")(0).contains("text#"),
      "the barrier exchange must carry the scrub digest, not text:\n" + p)
  }

  test("n104: the HLL sketch partial-aggregates map-side — the exchange " +
    "carries sketches, not (source, word) pairs") {
    val p = plan("n104_vocab_by_source_approx")
    assert(p.contains("partial_approx_count_distinct"),
      "approx vocab must merge HLL sketches map-side:\n" + p)
  }

  test("n107: the checksum sum partial-aggregates map-side — the " +
    "exchange carries one decimal per (partition, source)") {
    val p = plan("n107_corpus_digest")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      "the commutative checksum must combine map-side:\n" + p)
    assert(!p.toLowerCase.contains("join"), "one scan, no joins:\n" + p)
  }

  test("n108: the selection is a distributed TakeOrdered top-k — no " +
    "corpus-wide single-partition sort or window") {
    val p = plan("n108_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      "Gumbel top-k must plan as distributed TakeOrdered:\n" + p)
  }

  test("n109/n110: the HASHED models broadcast (safe by construction — " +
    "bucket-bounded) and the token stream never sort-merge-joins") {
    val p9 = plan("n109_dsir_weights_hashed")
    assert(p9.contains("BroadcastHashJoin"),
      "the fixed-size hashed model must broadcast:\n" + p9)
    assert(p9.contains("BroadcastNestedLoopJoin"),
      "(vsize, nt, nr) must arrive as a broadcast 1-row aggregate:\n" + p9)
    assert(!p9.contains("SortMergeJoin"),
      "nothing here justifies a sort-merge join:\n" + p9)
    val p10 = plan("n110_quality_classifier_hashed")
    assert(p10.contains("BroadcastHashJoin"),
      "the fixed-size hashed NB model must broadcast:\n" + p10)
    assert(!p10.contains("SortMergeJoin"),
      "nothing here justifies a sort-merge join:\n" + p10)
  }

  test("n116/n117: the absolute-size calibration sample is a distributed " +
    "TakeOrdered top-k (pinned on the factored sample half — the public " +
    "form cuts it), and the sample side broadcasts into the pair join") {
    // the sample halves: never a corpus-wide range sort + single
    // partition — the shape a stacked projection silently degrades to
    val pd = graft.ops.Dedup.backgroundDocSample(
      graft.ops.Tables.documents(spark, "/root/testdata/sf0.01"), 200)
      .queryExecution.executedPlan.toString
    assert(pd.contains("TakeOrderedAndProject"),
      "doc sample must plan as TakeOrdered:\n" + pd)
    val pv = graft.ops.Similarity.backgroundVecSample(
      graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.01"), 100)
      .queryExecution.executedPlan.toString
    assert(pv.contains("TakeOrderedAndProject"),
      "vector sample must plan as TakeOrdered:\n" + pv)
    // the public forms: the cut N-row sample broadcasts into the pair
    // space (two TakeOrdered subtrees would mean the cut regressed)
    for (q <- Seq("n116_jaccard_background_abs",
        "n117_cosine_background_abs")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"$q: the sampled side must broadcast into the pair space:\n" + p)
      assert(!p.contains("TakeOrderedAndProject"),
        s"$q: the corpus top-k must run ONCE inside the cut, not per " +
          s"self-join side:\n" + p)
    }
  }

  test("n111: the hashed selection keeps n108's distributed TakeOrdered " +
    "top-k shape") {
    val p = plan("n111_dsir_select_hashed")
    assert(p.contains("TakeOrderedAndProject"),
      "Gumbel top-k must plan as distributed TakeOrdered:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the hashed model must broadcast beneath the top-k:\n" + p)
  }

  test("n105/n106: no joins beyond the audited upstream shapes — the " +
    "histogram is two combinable aggregates, the island scan one " +
    "per-doc window") {
    val p5 = plan("n105_cluster_size_histogram")
    assert(!p5.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p5).size >= 2,
      "size histogram must be two aggregate stages:\n" + p5)
    val p6qe = Queries.queries("n106_boilerplate_spans")(spark, dir)
      .queryExecution
    assert(!p6qe.optimizedPlan.toString.contains("strategy=broadcast"),
      "the hot-gram join must stay hint-free (n71's front):\n" +
        p6qe.optimizedPlan)
    assert("Window".r.findAllIn(p6qe.executedPlan.toString).nonEmpty,
      "islands come from one per-doc window:\n" + p6qe.executedPlan)
  }

  test("n140: the paragraph keep-first test is the map-side-combinable " +
    "min(struct) aggregate — never a window over the paragraph hash (a " +
    "corpus-hot blank/boilerplate paragraph would buffer its whole " +
    "occurrence list in one reducer)") {
    val p = plan("n140_paragraph_dedup")
    assert(p.contains("partial_min"),
      "first-occurrence aggregate lost its map-side combine:\n" + p)
    assert(!p.contains("Window"),
      "the paragraph dedup must not plan any window — the keep-first " +
        "test is an aggregate join, the rebuild a per-doc aggregate:\n" + p)
  }

  test("n121/n122: the keep-first front is the map-side-combinable " +
    "min(struct) aggregate — never a row_number window over the gram " +
    "key (a corpus-hot gram would buffer its whole occurrence list in " +
    "one reducer)") {
    val p = plan("n122_dupsub_dedup")
    assert(p.contains("partial_min"),
      "first-occurrence aggregate lost its map-side combine:\n" + p)
    assert(!p.contains("Window"),
      "the dedup execute must not plan any window — the keep-first " +
        "test is an aggregate join, the rebuild an array fold:\n" + p)
    val ps = plan("n121_dupsub_spans")
    assert(ps.contains("partial_min"),
      "span inventory shares the combinable front:\n" + ps)
    // exactly one Window: the per-doc island scan (doc-length-bounded)
    assert(ps.contains("Window"),
      "islands come from one per-doc window:\n" + ps)
  }

  test("m9/m12: media screening is broadcast-shaped — zero sort-merge " +
    "joins, the block joins BroadcastHashJoin, and the index-side " +
    "pigeonhole stream never hash-shuffles on a block key") {
    for (name <- Seq("m9_audio_dedup_incremental",
        "m12_video_dedup_incremental")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"),
        s"$name must screen via broadcast, not a sort-merge join:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
        s"$name lost its broadcast screening joins:\n$p")
      // the index side explodes its block keys and feeds the join
      // map-side — an exchange keyed on (blk, bv) would mean the
      // corpus-sized index is shuffling into the pair space
      assert(!p.contains("Exchange hashpartitioning(blk"),
        s"$name shuffles on the block key — the index must stream " +
          s"past the broadcast batch blocks:\n$p")
    }
  }

  test("m13: the card's stats partial-aggregate map-side over 16-byte " +
    "signature rows; no window, no cartesian, the per-kind join " +
    "broadcast") {
    val p = plan("m13_media_dedup_card")
    assert(p.contains("partial_count"),
      "the card's counts lost their map-side combine:\n" + p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "the card is pure combinable aggregation:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the 1-row-per-kind join must broadcast:\n" + p)
  }
}
