package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`
  * (BASELINE.json north star): token counting, quality scoring, language-ID
  * heuristic, document fingerprinting.
  *
  * All pure column expressions — per-row, no shuffle until the final small
  * aggregate, so they stream over a 100 TB corpus at scan speed inside
  * WholeStageCodegen.
  */
object TextAnalysis {

  def words(text: Column): Column = split(text, " ")

  /** Whitespace token count + a BPE-ish subword proxy (runs of letters,
    * digits, or single punctuation — the common pre-tokenizer regex
    * shape) + a BPE piece-count proxy (the same classes capped at 4
    * chars per piece, the typical average BPE piece length — so long
    * words cost multiple tokens, the signal token-budget planning
    * actually needs).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .as("subword_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]{1,4}|[0-9]{1,4}|[^a-z0-9\\\\s]', 0))")
          .as("bpe_pieces"),
        length(col("text")).as("n_chars_measured"))

  /** Per-source token totals — the corpus-accounting roll-up. One pass:
    * token expressions computed alongside `source` on the scan row (a
    * doc_id re-join here would shuffle the whole corpus twice just to
    * recover a column the row already has).
    */
  def tokenStatsBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(words(col("text"))).as("ws_tokens"),
        length(col("text")).as("n_chars_measured"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_tokens"),
        sum(col("n_chars_measured")).as("total_chars"))
      .orderBy(col("source"))

  private[graft] val Stopwords =
    Seq("the", "a", "an", "of", "to", "and", "in", "is")

  /** Quality signals per doc: length, word count, mean word length,
    * stopword ratio, punctuation ratio, uppercase ratio — the standard
    * heuristic-filter feature set.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    // hoist the split: every later ws reference is an attribute read, not
    // a re-split of the text (same fix as ngramsOf)
    val nWords = size(col("ws"))
    val stopHits = size(filter(col("ws"), w => w.isin(Stopwords: _*)))
    val punct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
    val upper = length(regexp_replace(col("text"), "[^A-Z]", ""))
    docs.select(col("doc_id"), col("lang"), col("text"),
        words(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars"),
        nWords.as("n_words"),
        round((length(col("text")) - nWords + 1).cast("double") / nWords, 6)
          .as("mean_word_len"),
        round(stopHits.cast("double") / nWords, 6).as("stopword_ratio"),
        round(punct.cast("double") / length(col("text")), 6).as("punct_ratio"),
        round(upper.cast("double") / length(col("text")), 6).as("upper_ratio"))
  }

  /** Corpus quality roll-up per lang (exact decimal averages). */
  def qualityByLang(docs: DataFrame): DataFrame =
    qualityFeatures(docs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_words")).cast("double") / count(lit(1))).as("avg_words"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        round(sum(col("stopword_ratio").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_stopword_ratio"))
      .orderBy(col("lang"))

  /** The fixed-threshold rule set over [[qualityFeatures]]'s columns —
    * the Gopher-style heuristic battery (Rae et al. 2021 §A1.1 shape,
    * thresholds adapted to the features computed here). ONE definition
    * shared by the audit ([[qualityRulesReport]]) and any gate built on
    * it, so the audit can never disagree with the filter it explains.
    */
  private[graft] val QualityRules: Seq[(String, Column)] = Seq(
    ("min_words", col("n_words") >= 5),
    ("max_words", col("n_words") <= 5000),
    ("mean_word_len", col("mean_word_len").between(2.0, 12.0)),
    ("stopword_presence", col("stopword_ratio") > 0.0),
    ("punct_ratio", col("punct_ratio") <= 0.2),
    ("upper_ratio", col("upper_ratio") <= 0.2))

  /** PER-DOC quality flags — the GATE form of the n138 audit over the
    * same [[QualityRules]] (one rule definition, so a gate can never
    * disagree with the audit that explains it): for each doc, the
    * rules it fails, plus the `pass` composite. A rule whose feature
    * is NULL (null text) counts as FAILED — a gate must never pass a
    * row it cannot score. Stream-legal by construction: every rule is
    * a pure per-row function of the text (fixed thresholds, no corpus
    * statistics), so the flags are deterministic under replay and the
    * gate composes into incremental ingest exactly like the media
    * quality gate does. Input needs (doc_id, text); a lang column is
    * ignored (the rules don't read it).
    */
  def qualityFlagsPerDoc(docs: DataFrame): DataFrame = {
    val flags = array_compact(array(QualityRules.map { case (n, p) =>
      when(!coalesce(p, lit(false)), lit(n)) }: _*))
    qualityFeatures(docs.select(col("doc_id"),
        lit(null).cast("string").as("lang"), col("text")))
      .select(col("doc_id"), flags.as("quality_flags"),
        (size(flags) === 0).as("pass"))
  }

  /** Gopher-style per-rule quality AUDIT: for each rule × lang, how
    * many docs fail it, plus the `all_rules` composite — the "which
    * rule kills what" matrix a team reads before committing a
    * fixed-threshold gate (a rule failing 40% of one language is a
    * threshold bug, not a corpus property). Every rule reads
    * [[qualityFeatures]]'s columns verbatim; all rules evaluate as
    * FLAGS on one scan row and roll up in ONE map-side-combinable
    * aggregate (the n63 one-pass-flags discipline — per-rule filtered
    * re-scans would read the corpus once per rule at 100 TB), then
    * pivot long via explode.
    */
  def qualityRulesReport(docs: DataFrame): DataFrame = {
    val flagged = qualityFeatures(docs).select(
      col("lang") +: (QualityRules.map { case (n, p) => p.as(s"ok_$n") } :+
        QualityRules.map(_._2).reduce(_ && _).as("ok_all")): _*)
    val failCols = (QualityRules.map(_._1) :+ "all_rules").map { n =>
      val flag = if (n == "all_rules") col("ok_all") else col(s"ok_$n")
      sum(when(!flag, 1L).otherwise(0L)).as(s"f_$n")
    }
    flagged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), failCols: _*)
      .select(col("lang"), col("n_docs"), explode(array(
        (QualityRules.map(_._1) :+ "all_rules").map(n =>
          struct(lit(n).as("rule"), col(s"f_$n").as("n_fail"))): _*))
        .as("r"))
      .select(col("lang"), col("r.rule").as("rule"), col("n_docs"),
        col("r.n_fail").as("n_fail"),
        round(col("r.n_fail").cast("double") / col("n_docs"), 6)
          .as("fail_rate"))
      .orderBy(col("lang"), col("rule"))
  }

  /** Language-ID n-gram heuristic: score = stopword-list hit fraction per
    * candidate language; argmax wins (tie → lexicographic). The scoring
    * machinery is the real deliverable; the tiny marker lists stand in for
    * real per-language n-gram profiles.
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist"),
    "en" -> Seq("the", "a", "of", "is"),
    "es" -> Seq("el", "la", "que", "es"),
    "fr" -> Seq("le", "la", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "bu"))

  def langId(docs: DataFrame): DataFrame = {
    val ws = col("ws") // hoisted split: attribute reads per score column
    val scored = LangMarkers.foldLeft(
        docs.select(col("doc_id"), col("lang"), words(col("text")).as("ws"))) {
      case (df, (code, markers)) =>
        df.withColumn(s"score_$code",
          round(size(filter(ws, w => w.isin(markers: _*))).cast("double") /
            size(ws), 6))
    }
    val best = LangMarkers.map { case (code, _) =>
      struct(col(s"score_$code").as("score"),
        lit(code).as("code"))
    }
    // argmax: sort (score asc, code desc) and take last = highest score,
    // lexicographically-first code on ties.
    scored.withColumn("pred",
        element_at(array_sort(array(best: _*),
          (l, r) => when(l("score") < r("score"), -1)
            .when(l("score") > r("score"), 1)
            .otherwise(when(l("code") > r("code"), -1)
              .when(l("code") < r("code"), 1).otherwise(0))), -1)("code"))
      .select(col("doc_id"), col("lang"), col("pred"),
        col("score_en"), col("score_de"))
  }

  /** The content-signature COLUMN: MD5 over the sorted distinct word set
    * — order/multiplicity-insensitive (the G1 digest shape per-row). The
    * single definition every fingerprint consumer must use (exact dedup
    * join, Bloom path, streaming near-dup) so the signature can never
    * drift between them.
    */
  def fingerprintCol: Column =
    md5(array_join(array_sort(array_distinct(words(col("text")))), " "))

  /** Per-doc fingerprints frame (reporting surface of [[fingerprintCol]]). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol.as("fingerprint"))

  /** Winnowing (rolling-hash) fingerprints — the MOSS shared-substring
    * primitive; docs sharing any fingerprint share a substring of length
    * ≥ w + k − 1. Shuffles only (fingerprint, doc_id) pairs.
    */
  def winnowMatches(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.Winnow.fingerprints(col("text"))).as("fp"))
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  /** Deterministic split bucket in [0,100) from the doc id — md5-derived,
    * stable across runs/engines (unlike sample()), pure map-side.
    */
  def splitBucket: Column =
    pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long"), lit(100))

  /** The train/val/test label as a COLUMN of doc_id — consumers must add
    * it on their existing scan, never join [[splitAssignment]] back to the
    * corpus (that plans as a full self-join on doc_id: two pointless
    * exchanges per use at 100 TB).
    */
  def splitCol: Column = splitOf(col("doc_id"))

  /** [[splitCol]] over an arbitrary id column — the form pair-shaped
    * consumers use (a near-dup pair carries doc_a/doc_b; the split is a
    * pure function of the id, so labeling both sides is two expressions,
    * never a join back to the corpus).
    */
  def splitOf(id: Column): Column = {
    val bucket = pmod(conv(substring(md5(id.cast("string")), 1, 8),
      16, 10).cast("long"), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** Deterministic train/val/test split as a standalone frame (reporting
    * surface; derived from [[splitCol]]).
    */
  def splitAssignment(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), splitBucket.as("bucket"),
      splitCol.as("split"))

  /** Split sizes per lang — the stratification report. */
  def splitCounts(docs: DataFrame): DataFrame =
    splitAssignment(docs)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  /** The salted md5 shard key — the SINGLE definition
    * [[shardAssignment]], [[shardBalance]] and [[trainingDataBuild]]
    * derive their shard from, so the audit and the build can never
    * drift from the logical assignment.
    */
  def shardKey: Column =
    md5(concat(lit("shard|"), col("doc_id").cast("string")))

  /** Shard id from [[shardKey]]'s first 8 hex chars mod `numShards`. */
  def shardOf(numShards: Int): Column =
    pmod(conv(substring(shardKey, 1, 8), 16, 10).cast("long"),
      lit(numShards))

  /** Training-shard assignment — the logical core of the epoch-shuffle
    * shard writer (the pipeline's last step: emit the corpus as N shards
    * in a deterministic pseudo-random order). shard = md5-bucket of the
    * doc id mod `numShards` (salted 'shard|' so it does NOT correlate
    * with [[splitBucket]]'s unsalted hash — reusing one hash would leak
    * the train/val/test boundary into shard boundaries); pos = the doc's
    * rank within its shard by the same md5 key, i.e. a per-shard
    * deterministic shuffle. Deliberately NO global row_number: a global
    * sort is a total-order barrier at 100 TB, while this shape is one
    * hash shuffle into numShards window partitions, each sorted locally.
    */
  def shardAssignment(docs: DataFrame, numShards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("key"), col("doc_id"))
    docs.select(col("doc_id"), shardKey.as("key"),
        shardOf(numShards).as("shard"))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).as("pos"))
      .orderBy(col("doc_id"))
  }

  /** Shard BALANCE audit — the skew report a 100 TB writer checks
    * before committing a layout (one hot shard = one straggling
    * training-data file): per shard, docs, tokens, and each shard's
    * token share vs the ideal 1/numShards, from [[shardKey]]'s
    * assignment VERBATIM so the audit can never disagree with the
    * shards [[trainingDataBuild]] assigns. One
    * (shard)-keyed combinable aggregate + a 1-row broadcast total —
    * numShards-sized output.
    */
  def shardBalance(docs: DataFrame, numShards: Int): DataFrame = {
    val per = docs
      .select(shardOf(numShards).as("shard"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
    val total = per.agg(sum(col("tokens")).as("total"))
    per.crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("tokens"),
        round(col("tokens").cast("double") / col("total"), 6).as("share"),
        round(col("tokens").cast("double") * numShards / col("total"), 6)
          .as("skew"))
      .orderBy(col("shard"))
  }

  /** Compression-ratio quality signal — deflate(text)/|text|, the
    * repetitiveness filter production pipelines run alongside the
    * n30-style token heuristics (templated/looping junk compresses far
    * below prose; the signal catches repetition structures n-gram
    * ratios miss, e.g. long-period loops). DEFLATE level 6 with the
    * nowrap=false default — deterministic for a fixed JDK (java.util
    * .zip wraps the same zlib), so the spec recomputes rows exactly and
    * pins determinism across runs; no SQL-side zlib exists → rows-only
    * registry entry (the m1 exemption). Map-side batched
    * (mapPartitions, one Deflater per partition reused via reset — the
    * native allocation is the per-row cost to avoid); empty text scores
    * NULL ratio, never a division error.
    */
  def compressionQuality(docs: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_bytes",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_deflated",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("ratio",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(schema))
    docs.select(col("doc_id"), col("text")).mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(6)
      // native zlib buffers are freed at task end, not whenever GC gets
      // to the Cleaner — also covers a consumer abandoning the iterator
      // early (limit/take) (review-caught)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](8192)
      rows.map { r =>
        val bytes = r.getString(1).getBytes(
          java.nio.charset.StandardCharsets.UTF_8)
        deflater.reset()
        deflater.setInput(bytes)
        deflater.finish()
        var out = 0
        while (!deflater.finished()) out += deflater.deflate(buf)
        org.apache.spark.sql.Row(r.getLong(0), bytes.length, out,
          if (bytes.length == 0) null
          else Double.box(BigDecimal(out.toDouble / bytes.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }(enc).orderBy(col("doc_id"))
  }

  /** Corpus vocabulary: top-K words by document frequency (ties → word
    * asc). Shuffles (word, partial counts) only; at 100 TB this is the
    * canonical word-count with a TakeOrdered tail.
    */
  def vocabulary(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word").asc)
      .limit(k)

  /** Per-document vocabulary coverage against the top-`k` corpus
    * vocabulary — the tokenizer-fit signal: a doc whose tokens are
    * mostly out-of-vocabulary (OOV) is noise, the wrong language, or
    * evidence the tokenizer budget is too small. Output: (doc_id,
    * n_tokens, n_oov, oov_rate), token OCCURRENCES counted (a doc
    * repeating one rare word is still mostly OOV).
    *
    * Scale shape: the vocabulary is [[vocabulary]]'s word-count top-k
    * (one map-side-combined shuffle + TakeOrdered tail); it is k rows —
    * broadcast — so the coverage pass is explode → broadcast left join →
    * ONE groupBy(doc_id) shuffle carrying (doc_id, two counts) partials.
    * The corpus text never moves.
    */
  def vocabCoverage(docs: DataFrame, k: Int): DataFrame = {
    val vocab = vocabulary(docs, k).select(col("word"), lit(1).as("in_v"))
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(broadcast(vocab), Seq("word"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(lit(1)).minus(count(col("in_v"))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** The composite training-data preparation pipeline: exact dedup →
    * quality filter → deterministic split → per-(lang, split) corpus
    * accounting. Each stage is one of the operators above; chained, they
    * are the end-to-end "prepare a training corpus" job.
    *
    * COLLAPSED FRONT (the n53 pattern applied to the composite): the
    * quality metrics depend only on the text, so copies of one digest
    * group all qualify or all fail — the filter commutes with keeper
    * selection and runs per row BEFORE anything shuffles, and the
    * exact-dedup keeper folds into the same digest aggregation
    * (min struct, ordered by doc_id first) instead of a keeper semi-join
    * that re-shuffled the full corpus by doc_id. Shuffles: ONE map-side-
    * combined hash-group moving (digest, doc_id, lang, n_words,
    * stop_ratio) for qualifying rows only — the text itself never
    * travels — plus the final tiny-key aggregate. (The previous shape —
    * digest group + full-corpus semi-join — moved every surviving text
    * through a second exchange; at 100 TB that join IS the job.)
    */
  def trainingCorpusCounts(docs: DataFrame): DataFrame = {
    val stopRatio = round(
      size(filter(col("ws"), w => w.isin(Stopwords: _*))).cast("double") /
        size(col("ws")), 6)
    docs
      .select(md5(col("text")).as("h"), col("doc_id"), col("lang"),
        words(col("text")).as("ws"))
      .select(col("h"), col("doc_id"), col("lang"),
        size(col("ws")).as("n_words"), stopRatio.as("stop_ratio"))
      .filter(col("n_words") >= 30 && col("stop_ratio") <= 0.3)
      // doc_id is unique, so the struct min never compares past its first
      // field: the keeper is exactly the min-doc_id copy, carrying ITS
      // lang — bit-equal to the semi-join formulation
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_words"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.n_words").as("n_words"))
      .select(col("lang"), splitCol.as("split"), col("n_words"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("total_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  /** Pipeline funnel — per-stage survivor accounting for the n22
    * training-corpus pipeline (raw → exact-dedup keeper → quality →
    * train split), the observability query a production pipeline
    * publishes with every run: where did the tokens go. All four stages
    * are evaluated as FLAGS on one scan row (the keeper via a window
    * over the content hash — the same single shuffle exact dedup
    * already pays) and rolled up in ONE aggregate, then pivoted long;
    * four filtered re-scans would read the corpus four times at 100 TB
    * for numbers one pass already knows. Stage predicates reuse
    * [[trainingCorpusCounts]]'s definitions verbatim, so the funnel can
    * never disagree with the pipeline it explains (copies share a text,
    * so flag order vs n22's filter-then-group is count-equivalent).
    */
  def pipelineFunnel(docs: DataFrame): DataFrame = {
    val stopRatio = round(
      size(filter(col("ws"), w => w.isin(Stopwords: _*))).cast("double") /
        size(col("ws")), 6)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val flagged = docs
      .select(md5(col("text")).as("h"), col("doc_id"),
        words(col("text")).as("ws"))
      .select(col("h"), col("doc_id"), size(col("ws")).as("n_words"),
        stopRatio.as("stop_ratio"))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .withColumn("q", col("n_words") >= 30 && col("stop_ratio") <= 0.3)
      .withColumn("tr", splitBucket < 80)
    def d(cond: Column) = count(when(cond, 1))
    def t(cond: Column) = sum(when(cond, col("n_words")))
    flagged
      .agg(count(lit(1)).as("d0"), sum(col("n_words")).as("t0"),
        d(col("keep")).as("d1"), t(col("keep")).as("t1"),
        d(col("keep") && col("q")).as("d2"),
        t(col("keep") && col("q")).as("t2"),
        d(col("keep") && col("q") && col("tr")).as("d3"),
        t(col("keep") && col("q") && col("tr")).as("t3"))
      .select(explode(array(
        struct(lit("0_raw").as("stage"), col("d0").as("n_docs"),
          col("t0").as("n_tokens")),
        struct(lit("1_exact_dedup").as("stage"), col("d1").as("n_docs"),
          col("t1").as("n_tokens")),
        struct(lit("2_quality").as("stage"), col("d2").as("n_docs"),
          col("t2").as("n_tokens")),
        struct(lit("3_train_split").as("stage"), col("d3").as("n_docs"),
          col("t3").as("n_tokens")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"),
        col("s.n_tokens").as("n_tokens"))
      .orderBy(col("stage"))
  }

  /** Per-source ADAPTIVE length thresholds + outlier counts: exact p05 /
    * p95 of per-doc token count within each source, and how many docs
    * fall outside — the per-source length filter (a fixed global cutoff
    * is wrong when one source is tweets and another is books; the
    * RefinedWeb/Gopher-style rules are per-source quantiles). Two passes
    * over a (source, nw) projection — the stats pass must complete
    * before flagging can start (inherent to any adaptive threshold);
    * both passes move two small columns, never the text, and the
    * per-source stats table is broadcast back. Exact `percentile` is a
    * per-group sort at 100 TB — [[lengthOutliersApprox]] is the
    * registered `percentile_approx` swap (the b4/b13 twin relationship);
    * tune thresholds here, run the approx twin at scale.
    */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"),
      size(words(col("text"))).as("nw"))
    val stats = d.groupBy(col("source")).agg(
      round(expr("percentile(nw, 0.05)"), 4).as("p05"),
      round(expr("percentile(nw, 0.95)"), 4).as("p95"))
    d.join(broadcast(stats), Seq("source"))
      .groupBy(col("source"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nw") < col("p05"), 1).otherwise(0)).as("n_short"),
        sum(when(col("nw") > col("p95"), 1).otherwise(0)).as("n_long"))
      .select(col("source"), col("n_docs"), col("p05"), col("p95"),
        col("n_short"), col("n_long"))
      .orderBy(col("source"))
  }

  /** The 100 TB twin of [[lengthOutliers]]: identical shape with
    * `percentile_approx` (a fixed-size KLL-style sketch with map-side
    * merge) in place of exact `percentile` (a per-group sort buffer that
    * turns one billion-doc source into one straggling reducer — the skew
    * point the exact form's docstring warns about). Everything else is
    * shared: same projection, same broadcast-back, same outlier
    * predicate. Rows-only in the registry (sketch internals are
    * engine-specific); TextAnalysisSpec bounds the approx-vs-exact
    * cutoff and count divergence on the bench fixtures, which is the
    * real contract — the 5%/95% fences land on (or next to) the same
    * order statistics.
    */
  def lengthOutliersApprox(docs: DataFrame,
                           accuracy: Int = 10000): DataFrame = {
    val d = docs.select(col("source"),
      size(words(col("text"))).as("nw"))
    // cast: percentile_approx returns the input's integer type (it picks
    // an actual order statistic); double keeps the schema identical to
    // the exact twin so the two are drop-in interchangeable
    val stats = d.groupBy(col("source")).agg(
      round(expr(s"percentile_approx(nw, 0.05, $accuracy)")
        .cast("double"), 4).as("p05"),
      round(expr(s"percentile_approx(nw, 0.95, $accuracy)")
        .cast("double"), 4).as("p95"))
    d.join(broadcast(stats), Seq("source"))
      .groupBy(col("source"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nw") < col("p05"), 1).otherwise(0)).as("n_short"),
        sum(when(col("nw") > col("p95"), 1).otherwise(0)).as("n_long"))
      .select(col("source"), col("n_docs"), col("p05"), col("p95"),
        col("n_short"), col("n_long"))
      .orderBy(col("source"))
  }

  /** Per-source DATASET CARD: the one-scan summary a corpus publishes
    * with every release — volume (docs/tokens), exact-dup fraction,
    * language spread, and quality pass rate per source. Quality reuses
    * [[trainingCorpusCounts]]'s predicate verbatim (the n63 move), so
    * the card can never disagree with the pipeline. ONE scan + one
    * per-source aggregate; the distinct counts are two-phase
    * (map-side partial distinct), and the text never travels — only
    * (source, lang, md5, two small ints).
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val stopRatio = round(
      size(filter(col("ws"), w => w.isin(Stopwords: _*))).cast("double") /
        size(col("ws")), 6)
    docs.select(col("source"), col("lang"), md5(col("text")).as("h"),
        words(col("text")).as("ws"))
      .select(col("source"), col("lang"), col("h"),
        size(col("ws")).as("nw"), stopRatio.as("sr"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique_texts"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("nw")).as("total_tokens"),
        count(when(col("nw") >= 30 && col("sr") <= 0.3, 1)).as("n_quality"))
      .select(col("source"), col("n_docs"), col("n_unique_texts"),
        col("n_langs"), col("total_tokens"), col("n_quality"),
        round(lit(1d) - col("n_unique_texts").cast("double") /
          col("n_docs"), 6).as("dup_frac"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_tokens"))
      .orderBy(col("source"))
  }

  /** Word n-grams over an ALREADY-PROJECTED words-array column. Callers
    * must bind `split(text)` to a column first — inlining the split makes
    * every element access re-split the text (O(words²) per row; measured
    * as the dominant cost of the gram operators before this was hoisted).
    */
  def ngramsOf(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(j =>
          element_at(ws, i + lit(j + 1))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Word n-grams of the `text` column (empty array when shorter than n);
    * [[Dedup.shingles]] is the 3-gram instance. Convenience form of
    * [[ngramsOf]] for one-shot use — prefer projecting the word array
    * and calling ngramsOf when the same row computes anything else.
    */
  def ngrams(n: Int): Column = expr(
    s"""CASE WHEN size(split(text, ' ')) >= $n THEN
       |  transform(sequence(0, size(split(text, ' ')) - $n),
       |    i -> concat_ws(' ', ${(0 until n)
            .map(j => s"split(text, ' ')[i+$j]").mkString(", ")}))
       |ELSE array() END""".stripMargin)

  /** Gopher-style repetition signals per doc: distinct-word ratio, top
    * single-word frequency fraction, duplicate-bigram fraction — the
    * heuristics that catch boilerplate/spam long before a model sees it.
    *
    * Scale shape: per-row compute — the top-word frequency uses the
    * codegen'd [[graft.functions.MaxRunLength]] over the sorted word
    * array instead of the textbook explode → (doc, word) count → max
    * (which shuffles docs × words rows twice); uniq/bigram ratios are
    * array expressions. No hash/aggregation shuffle remains (PlanSpec
    * asserts that); the only exchange is the final presentation sort.
    */
  def repetitionQuality(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), ngramsOf(col("ws"), 2).as("bg"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).as("n_uniq"),
        graft.functions.MaxRunLength.ofSorted(array_sort(col("ws")))
          .as("top_n"),
        size(col("bg")).as("n_bg"),
        size(array_distinct(col("bg"))).as("n_bg_uniq"))
      .select(col("doc_id"), col("n_words"),
        round(col("n_uniq").cast("double") / col("n_words"), 6)
          .as("uniq_word_ratio"),
        round(col("top_n").cast("double") / col("n_words"), 6)
          .as("top_word_frac"),
        when(col("n_bg") > 0,
          round(lit(1.0) - col("n_bg_uniq").cast("double") / col("n_bg"), 6))
          .as("dup_bigram_frac"))
      .transform(f =>
        // sortBarrier: the whole scan->ngram->stats segment is
        // exchange-free; the sort's sampling pass would run it twice
        graft.ops.Checkpoints.sortBarrier(f, col("doc_id")))
      .orderBy(col("doc_id"))
  }

  /** Substring-level train/test decontamination: per test doc, the
    * fraction of its distinct word n-grams that appear anywhere in the
    * train split (the 13-gram-overlap eval-leakage check; n is a
    * parameter because the synthetic docs are short). Whole-doc
    * fingerprint matching ([[decontamination]]) misses partial copies —
    * this catches them.
    *
    * Scale shape: only (gram, doc) pairs shuffle; the train-gram set is
    * distinct-reduced before the join, and the join key is the gram hash
    * — the text itself never moves after the scan.
    */
  def ngramDecontamination(docs: DataFrame, n: Int = 5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), splitCol.as("split"),
        words(col("text")).as("ws"))
      .select(col("doc_id"), col("split"),
        explode(array_distinct(ngramsOf(col("ws"), n))).as("g"))
    val trainGrams = grams.filter(col("split") === "train")
      .select(col("g")).distinct()
    grams.filter(col("split") === "test")
      .join(trainGrams.select(col("g"), lit(1L).as("hit")), Seq("g"),
        "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
      .select(col("doc_id").as("test_doc"), col("n_grams"),
        col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("contamination_frac"))
      .orderBy(col("test_doc"))
  }

  /** Cross-corpus duplicated-span profile: for every document, the
    * fraction of its distinct word n-grams that also appear in at least
    * one OTHER document — the corpus self-overlap measure behind
    * substring-level train-set dedup (near-1 docs are verbatim copies or
    * boilerplate mosaics that whole-doc and MinHash dedup both miss).
    * Complements [[ngramDecontamination]], which compares against a held
    * split rather than the corpus itself.
    *
    * Scale shape: (gram, doc) pairs shuffle once for the per-gram count
    * and once for the join back — nothing is quadratic in documents, and
    * because the pairs are per-doc distinct, `count(*)` per gram IS its
    * document frequency (no second distinct pass). Catalyst expands the
    * shared gram frame into both consumers, so the corpus is scanned and
    * exploded twice; that is the deliberate trade — materializing the
    * pairs to reuse one explode would write ~n× the text size, and a
    * windowed count-over-gram single-scan variant buffers entire hot-gram
    * partitions in the window operator (no partial aggregation), which a
    * boilerplate gram shared by most documents turns into a spill storm.
    */
  def dupSpanStats(docs: DataFrame, n: Int = 5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode(array_distinct(ngramsOf(col("ws"), n)))
        .as("g"))
    val byGram = grams.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    grams.join(byGram, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_grams"), 6)
          .as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate POSITION coverage (the CCNet-style repeated-fragment
    * trim signal, adapted to span granularity because the corpus has no
    * line structure): per document, the fraction of word POSITIONS
    * covered by at least one n-gram whose corpus document frequency is
    * ≥ `minDf`. [[dupSpanStats]] counts a doc's DISTINCT shared grams —
    * a gram-set measure; this measures how much of the actual token
    * stream a trimmer would remove (overlapping shared grams cover the
    * same position once), which is the number that decides trim-vs-drop.
    *
    * Scale shape: one (gram, doc) shuffle for the df aggregate; the
    * boilerplate gram set (df ≥ minDf) joins back into the
    * positional-gram stream HINT-FREE — at the default `minDf = 2`
    * the "hot" frame is every corpus-repeated n-gram, which on a
    * dup-heavy web corpus is corpus-VOCABULARY-shaped, and a forced
    * `broadcast()` there is an OOM by construction at 100 TB whatever
    * AQE thinks (the n73→n109 lesson; the adjacent
    * [[dupWindowPositions]] already shuffles on the gram key for the
    * same reason). Hint-free, runtime size stats /
    * AQE still pick a broadcast whenever the hot frame genuinely fits
    * (high minDf, template-light corpora) and a gram-key shuffle when
    * it doesn't. Only COVERED positions then shuffle into the per-doc
    * count, bounded by boilerplate hits, not corpus size.
    * TextAnalysisSpec pins the broadcast and shuffled plans bit-equal;
    * the BENCH_NOTES round-12 receipt records the hot frame a forced
    * broadcast could not survive.
    */
  def boilerplateCoverage(docs: DataFrame, n: Int = 5, minDf: Int = 2)
      : DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    // ONE copy of the posGrams + df + hot-join front
    // (coveredPositionsRaw — shared with trim/spans), so the
    // OOM-policy-critical exchange choice can never diverge between
    // the coverage signal and its executors (review-caught: this body
    // was an inlined second copy)
    val covered = coveredPositionsRaw(base, n, minDf)
      .groupBy(col("doc_id")).agg(countDistinct(col("p")).as("n_cov"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"),
        round(coalesce(col("n_cov"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("boilerplate_frac"))
      .transform(f =>
        // sortBarrier: guard the join+projection segment from the
        // range sort's boundary-sampling re-execution
        graft.ops.Checkpoints.sortBarrier(f, col("doc_id")))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate TRIM — the operator [[boilerplateCoverage]] is the
    * signal for: REMOVE every word position covered by a hot (df ≥
    * `minDf`) n-gram and emit the cleaned text plus accounting
    * (doc_id, n_tokens, n_removed, trimmed_text). The hot set and
    * covered-position machinery are n71's verbatim, so `n_removed`
    * equals n71's `n_cov` row-for-row (spec-pinned — the trim cannot
    * disagree with its signal), and a pipeline runs n71 to DECIDE
    * trim-vs-drop and this to EXECUTE the trim.
    *
    * Scale shape: inherits n71's — one (gram, doc) shuffle for df, the
    * hot set joined back HINT-FREE (see [[boilerplateCoverage]]: at
    * minDf = 2 that frame is corpus-vocabulary-shaped, so the exchange
    * choice belongs to runtime stats, never a forced hint), only
    * covered positions shuffle into per-doc position sets (bounded by
    * boilerplate hits; the set is doc-length-bounded by construction).
    * The corpus then joins those sets ONCE on doc_id — the single stage
    * where text moves, and the output is text-sized anyway. Rebuild is
    * an index-filter fold over the words array (split once, never
    * re-split per position).
    */
  def boilerplateTrim(docs: DataFrame, n: Int = 5, minDf: Int = 2): DataFrame =
    // sortBarrier: the text-rebuild projection above the cov join is
    // exchange-free, so the presentation sort's boundary sampling
    // would re-run it per action (the containmentPairsPrefix lesson)
    graft.ops.Checkpoints.sortBarrier(
        boilerplateTrimRaw(docs, n, minDf), col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[boilerplateTrim]] without the presentation sort — the composable
    * form ([[cleanCorpus]] sorts once at its own tail).
    */
  /** (doc_id, p) for every 0-based word position covered by a hot
    * (df ≥ minDf) n-gram, WITH duplicates (overlapping hot grams emit a
    * position once per covering gram) — the shared front of
    * [[boilerplateTrimRaw]] (which dedups inside its collect_set) and
    * [[boilerplateSpans]] (which distincts before the island scan).
    * `base` is the (doc_id, ws) projection both callers already hold.
    */
  private def coveredPositionsRaw(base: DataFrame, n: Int, minDf: Int)
      : DataFrame = {
    val posGrams = base.select(col("doc_id"),
      posexplode(ngramsOf(col("ws"), n)).as(Seq("pos", "g")))
    // df via per-doc-DISTINCT gram rows + a map-side-combinable count(*)
    // (the n47 shape) — a countDistinct(doc_id) over the positional
    // stream computes the same df but cannot collapse rows before the
    // shuffle (measured 2.8× slower at salted 50×)
    val hot = base
      .select(col("doc_id"),
        explode(array_distinct(ngramsOf(col("ws"), n))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("g"))
    // hint-free: at minDf = 2 `hot` is every corpus-repeated
    // gram — corpus-vocabulary-shaped, never a safe forced broadcast
    // (see boilerplateCoverage's Scaladoc; AQE picks broadcast at
    // runtime exactly when the frame actually fits)
    posGrams.join(hot, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
  }

  def boilerplateTrimRaw(docs: DataFrame, n: Int = 5, minDf: Int = 2)
      : DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val cov = coveredPositionsRaw(base, n, minDf)
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
    base.join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("ws"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        concat_ws(" ", expr(
          """transform(filter(transform(ws, (w, i) ->
            |  named_struct('w', w, 'i', i)),
            |  x -> NOT array_contains(cov, x.i)), x -> x.w)"""
            .stripMargin)).as("trimmed_text"))
  }

  /** Duplicated-span INVENTORY — the maximal-span view of the n71/n82
    * machinery (the substring-dedup reporting shape of Lee et al.'s
    * exact-substring dedup, at gram granularity): contiguous runs of
    * word positions covered by ≥1 corpus-repeated n-gram, one row per
    * maximal run. n71 reports how MUCH of a doc is covered; this
    * reports WHERE — span starts and lengths, the spans a surgical
    * trimmer (or a span-level audit) consumes. Output: (doc_id,
    * span_start 1-based, span_len), gaps-and-islands over the shared
    * covered-positions frame, so Σ span_len per doc ≡ n71's n_cov by
    * construction (spec-pinned).
    *
    * Scale shape: inherits n71's audited front (hint-free hot-gram
    * join, only covered positions shuffle); the island scan is one
    * per-doc window over covered positions — bounded by doc length,
    * never corpus-wide.
    */
  def boilerplateSpans(docs: DataFrame, n: Int = 5, minDf: Int = 2)
      : DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val cov = coveredPositionsRaw(base, n, minDf).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    cov.withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg((min(col("p")) + 1).as("span_start"),
        count(lit(1)).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Keep-FIRST duplicated-window positions — the shared front of
    * [[dupSubstringSpans]] and [[dupSubstringDedup]] (the exact-substring
    * dedup of Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better", at word-window granularity): every k-word window
    * whose exact text occurs ANYWHERE earlier in global (doc_id, pos)
    * order marks its k positions for removal. The globally-first
    * occurrence of each window text is never marked, so exactly ONE copy
    * of every duplicated substring survives — DEDUP semantics, where
    * [[boilerplateTrimRaw]] (df ≥ minDf) is boilerplate REMOVAL that
    * deletes ALL copies including the first. Within-doc repetition is
    * in scope: the occurrence count is per occurrence, not per document.
    *
    * Scale shape: the positional gram stream shuffles once on the gram
    * key for the first-occurrence aggregate — min(struct(doc_id, pos))
    * and count(*) are both map-side combinable partial aggregates (a
    * row_number window over the gram partition would buffer a corpus-hot
    * gram's entire occurrence list in one reducer; the min-struct form
    * never does). Grams with a single occurrence can mark nothing and
    * are dropped BEFORE the join back, so the second gram-key shuffle's
    * build side carries only duplicated grams. Output rows (doc_id, p)
    * repeat where overlapping duplicated windows cover the same
    * position; callers distinct() or collect_set.
    */
  private def dupWindowPositions(base: DataFrame, k: Int,
                                 hashed: Boolean = false): DataFrame = {
    val raw = base.select(col("doc_id"),
      posexplode(ngramsOf(col("ws"), k)).as(Seq("pos", "g")))
    // hashed: 60-bit md5-prefix key instead of the ~k-word string — the
    // production index/shuffle payload (8 B vs tens of bytes per gram).
    // A collision can only OVER-mark (a false "duplicated" window) —
    // the conservative direction for dedup — at ≈ V²/2⁶¹ expected
    // colliding pairs (V = distinct grams; ~43 pairs at V = 10¹⁰).
    // cut when hashed: the occurrence frame feeds the firsts aggregate
    // AND the join back — uncut, every occurrence pays the md5+conv
    // twice (measured: the recompute is most of the hashed form's local
    // overhead); the materialized frame is the compact 20 B/occurrence
    // shape the hashing exists to produce
    val posGrams =
      if (hashed) graft.ops.Checkpoints.cutLazy(
        raw.select(col("doc_id"), col("pos"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
            .as("g")))
      else raw
    val firsts = posGrams
      .groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("g"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    posGrams.join(firsts, Seq("g"))
      .filter(col("doc_id") =!= col("fdoc") || col("pos") =!= col("fpos"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
  }

  /** Duplicated-substring span INVENTORY under keep-first semantics:
    * maximal contiguous runs of word positions covered by a NON-FIRST
    * occurrence of a corpus-duplicated k-window — WHERE a substring
    * dedup pass would cut, one row per maximal run (doc_id, span_start
    * 1-based, span_len). [[boilerplateSpans]] is the symmetric (remove
    * every copy) view; this is the asymmetric one that never reports the
    * surviving first copy. Σ span_len per doc ≡ [[dupSubstringDedup]]'s
    * n_removed by construction (spec-pinned).
    *
    * Scale shape: inherits [[dupWindowPositions]]'s combinable front;
    * the island scan is one per-doc window over covered positions,
    * bounded by doc length, never corpus-wide.
    */
  def dupSubstringSpans(docs: DataFrame, k: Int = 5): DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val cov = dupWindowPositions(base, k).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    cov.withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg((min(col("p")) + 1).as("span_start"),
        count(lit(1)).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Exact-substring DEDUP, keep-first (the EXECUTE side of
    * [[dupSubstringSpans]]): remove every word position covered by a
    * non-first occurrence of a duplicated k-window and emit the
    * deduplicated text plus accounting — (doc_id, n_tokens, n_removed,
    * text_dedup). A verbatim quote keeps its one original; exact-dup
    * documents keep exactly the min-doc_id copy (every window of a later
    * identical copy is non-first, so the whole copy is removed) — the
    * substring generalization of n2's keeper policy.
    *
    * Scale shape: [[dupWindowPositions]]'s front, then covered positions
    * shuffle once into per-doc sets (doc-length-bounded) and the corpus
    * joins those sets ONCE on doc_id — the only stage where text moves,
    * and the output is text-sized anyway. Rebuild is an index-filter
    * fold over the words array (split once, never re-split).
    */
  def dupSubstringDedup(docs: DataFrame, k: Int = 5): DataFrame =
    // sortBarrier: the rebuild projection is exchange-free above the
    // cov join — see boilerplateTrim
    graft.ops.Checkpoints.sortBarrier(dupSubstringDedupRaw(docs, k),
        col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[dupSubstringDedup]] without the presentation sort — the
    * composable form the collapsed twin expands.
    */
  private def dupSubstringDedupRaw(docs: DataFrame, k: Int,
                                   hashed: Boolean = false): DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    val cov = dupWindowPositions(base, k, hashed)
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
    base.join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("ws"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        concat_ws(" ", expr(
          """transform(filter(transform(ws, (w, i) ->
            |  named_struct('w', w, 'i', i)),
            |  x -> NOT array_contains(cov, x.i)), x -> x.w)"""
            .stripMargin)).as("text_dedup"))
  }

  /** [[dupSubstringDedup]] over 60-bit HASHED gram keys — the
    * NETWORK-optimized twin: 8 bytes per window instead of a k-word
    * string (measured 26.5 B average gram at sf0.1 → 3.3× smaller
    * payload on both gram-key exchanges and on any persisted index).
    * The trade is measured and direction-dependent: on the CPU-bound
    * local harness the per-occurrence md5+conv makes this ~1.3-1.7×
    * SLOWER wall than the string-keyed form (10.6 vs 6.3 s at salted
    * 10×, even with the occurrence frame cut so the hash is paid once)
    * — the string form stays the default; pick this one where the gram
    * shuffle is network-bound or the index is persisted (the ingest
    * path). Exact up to md5-prefix collisions, which can only
    * OVER-mark (a false "duplicated" window removes real text — the
    * conservative failure for dedup, never a missed duplicate), at
    * ≈ V²/2⁶¹ expected colliding pairs. ORACLED EXACTLY all the same:
    * both engines compute the identical 60-bit key, so the registry
    * proves the hashed path bit-for-bit (the n109 hashed-model
    * discipline); the spec additionally pins equality with the
    * string-keyed n122 on the fixtures, where collisions are absent.
    */
  def dupSubstringDedupHashed(docs: DataFrame, k: Int = 5): DataFrame =
    graft.ops.Checkpoints.sortBarrier(
        dupSubstringDedupRaw(docs, k, hashed = true), col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[dupSubstringDedup]] with the exact-dup pre-collapse — the
    * production default on dup-heavy corpora (the n118/n53 move applied
    * to keep-first substring dedup): run the window machinery over ONE
    * rep (min doc_id) per distinct text, then expand. Exactness: (a) a
    * window text's global first occurrence is always achieved BY a rep —
    * any non-rep occurrence has an identical rep with a smaller doc_id
    * holding the same window at the same pos; (b) the duplicated test
    * (count ≥ 2) restricted to reps misses only grams whose extra
    * occurrences are all inside later identical copies, and those grams'
    * rep occurrences are the global firsts — unmarked either way; (c) a
    * non-rep member's every window is non-first (its rep precedes it),
    * so members with ≥ k words are removed WHOLE and shorter members
    * have no windows and pass through untouched. DedupSpec pins
    * bit-equality with the uncollapsed form on a dup-heavy fixture; the
    * registry proves n123 against n122's oracle verbatim.
    */
  def dupSubstringDedupCollapsed(docs: DataFrame, k: Int = 5): DataFrame = {
    // cutLazy: the groups feed the rep corpus and the member expansion
    val groups = graft.ops.Checkpoints.cutLazy(
      graft.ops.Dedup.digestGroups(docs))
    val repRes = dupSubstringDedupRaw(
      groups.select(col("rep").as("doc_id"), col("text")), k)
    val members = groups
      .select(col("rep"), col("text"), explode(col("ids")).as("doc_id"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"), col("text"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") >= k, col("n_tokens")).otherwise(0L)
          .as("n_removed"),
        when(col("n_tokens") >= k, lit("")).otherwise(col("text"))
          .as("text_dedup"))
    // sortBarrier: repRes's rebuild + the member expansion sit between
    // the groups cut and the sort
    graft.ops.Checkpoints.sortBarrier(repRes.unionByName(members),
        col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The MEASURED switch between [[dupSubstringDedup]] (plain window
    * machinery, n122) and [[dupSubstringDedupCollapsed]] (exact-dup
    * pre-collapse, n123) — the n139 discipline on the substring
    * family: read the duplication inflation Σg²/Σg over exact-dup
    * group sizes, collapse only when it clears
    * [[graft.ops.Dedup.MinCollapseInflation]] (below it the collapse
    * pays its text-shuffling groupBy(md5) + expansion for nothing;
    * above it the round-11 sweep measured 12.4 s → 2.8 s at plain 5×).
    * The MEASURE shuffles 16-byte digest counts, never the text
    * (measured: a text-carrying groups reuse cost the plain branch
    * ~1.8× — the digest-count probe costs band-level); the collapsed
    * branch's text-shuffling groups pass is paid exactly when the
    * collapse pays for it. Both branches produce n122's exact output,
    * so the choice can never change the answer. EAGER by contract like
    * [[graft.ops.Dedup.containmentPairsPrefixAuto]].
    */
  def dupSubstringDedupAuto(docs: DataFrame, k: Int = 5): DataFrame =
    if (graft.ops.Dedup.digestInflation(docs) >=
        graft.ops.Dedup.MinCollapseInflation)
      dupSubstringDedupCollapsed(docs, k)
    else dupSubstringDedup(docs, k)

  /** The gram INDEX for incremental keep-first substring dedup: the
    * distinct k-window texts of an already-processed corpus. Presence
    * is the whole signal — an occurrence in a LATER batch is non-first
    * the moment its window text exists in any earlier batch, whatever
    * the position — so the index stores one row per distinct gram,
    * never positions or texts. A streaming ingest grows it by
    * appending only the grams a batch adds (O(new grams) per batch, the
    * SimhashIngest append discipline), never by rebuilding.
    */
  def dupSubstringIndex(docs: DataFrame, k: Int = 5): DataFrame =
    docs.select(words(col("text")).as("ws"))
      .select(explode(ngramsOf(col("ws"), k)).as("g"))
      .distinct()

  /** INCREMENTAL keep-first substring dedup (the n49/n95 move on
    * [[dupSubstringDedup]]): dedup a new batch against the accumulated
    * gram index of every earlier batch PLUS the batch's own internal
    * firsts. When batches partition the corpus in doc_id order, folding
    * them through this, growing the index batch by batch, is EXACTLY the
    * batch-mode [[dupSubstringDedup]] restricted to each batch's rows
    * (spec-pinned): an occurrence is globally non-first iff an earlier
    * occurrence exists, and "earlier" is either a prior batch (gram ∈
    * index — any position) or the same batch (the min(struct) test).
    *
    * Scale shape: the batch's gram stream shuffles on the gram key for
    * its internal firsts and joins the index on the same key — the
    * index never broadcasts (gram-vocabulary-shaped; the n73→n109
    * lesson) and never rescans earlier TEXT, only the 1-column gram
    * set. Everything downstream is the batch-sized rebuild.
    */
  def dupSubstringDedupFromIndex(index: DataFrame, batch: DataFrame,
                                 k: Int = 5): DataFrame = {
    val base = batch.select(col("doc_id"), words(col("text")).as("ws"))
    val posGrams = base.select(col("doc_id"),
      posexplode(ngramsOf(col("ws"), k)).as(Seq("pos", "g")))
    val firsts = posGrams
      .groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"),
        count(lit(1)).as("cnt"))
      .select(col("g"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"),
        col("cnt"))
    val cov = posGrams
      .join(firsts, Seq("g"))
      .join(index.select(col("g"), lit(1).as("hit")).distinct(),
        Seq("g"), "left_outer")
      .filter(col("hit").isNotNull ||
        (col("cnt") > 1 &&
          (col("doc_id") =!= col("fdoc") || col("pos") =!= col("fpos"))))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
    base.join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("ws"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        concat_ws(" ", expr(
          """transform(filter(transform(ws, (w, i) ->
            |  named_struct('w', w, 'i', i)),
            |  x -> NOT array_contains(cov, x.i)), x -> x.w)"""
            .stripMargin)).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  /** The EXECUTE side of the [[pipelineFunnel]]: emit the cleaned
    * training corpus ITSELF — normalize (n36's transform) → exact-dup
    * keeper on the normalized text (n2's min-id policy) →
    * boilerplate-trim over the KEEPER corpus (n82's machinery; the
    * keeper runs FIRST so duplicate copies cannot inflate a gram's
    * document frequency and mark their entire shared content
    * "boilerplate" — df means "repeated across distinct documents") →
    * quality gate on the trimmed text (n22's predicate verbatim). One
    * row per SURVIVING doc: (doc_id, split, n_tokens, n_removed,
    * text_clean), the frame a shard writer (n60) consumes. Every stage
    * is a registry operator's machinery reused verbatim, so the emitted
    * corpus is exactly what the accounting views say survives.
    *
    * Scale shape: inherits its stages' audited shapes — the additions
    * are one md5-keyed shuffle for the keeper window (the n2 shape) and
    * map-side predicates; text moves twice (keeper shuffle, the trim's
    * doc_id join), and the output is corpus-sized by definition.
    */
  def cleanCorpus(docs: DataFrame, n: Int = 5, minDf: Int = 2): DataFrame =
    // sortBarrier: the trim rebuild + quality gate above the cov join
    // are exchange-free — without the barrier they run twice per action
    graft.ops.Checkpoints.sortBarrier(cleanCorpusRaw(docs, n, minDf),
        col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[cleanCorpus]] without the presentation sort — the composable form
    * ([[trainingDataBuild]] sorts once at its own tail).
    */
  def cleanCorpusRaw(docs: DataFrame, n: Int = 5, minDf: Int = 2): DataFrame =
    cleanCorpusWith(docs, keepers =>
      boilerplateTrimRaw(keepers, n, minDf)
        .select(col("doc_id"), col("n_removed"),
          col("trimmed_text").as("cleaned")))

  /** The ONE normalize → exact-dup keeper → <cleaning stage> → quality
    * gate chain (n36/n2/n22 machinery) both cleaners instantiate —
    * `stage` maps the keeper corpus to (doc_id, n_removed, cleaned);
    * everything else (the normalize regexes, the md5 keeper window, the
    * stop-ratio expression, the nw/sr gate, the output shape) is
    * defined HERE once, so the n83 and n126 cleaners can never drift
    * apart on anything but their cleaning stage (review-caught: the
    * first n126 draft hand-copied this chain).
    */
  private def cleanCorpusWith(docs: DataFrame,
                              stage: DataFrame => DataFrame): DataFrame = {
    val normalized = docs.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")),
        "[0-9]+", "<num>"), " +", " ")).as("text"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val keepers = normalized
      .select(col("doc_id"), col("text"), md5(col("text")).as("h"))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .filter(col("keep")).select(col("doc_id"), col("text"))
    val stopRatio = round(
      size(filter(col("ws"), x => x.isin(Stopwords: _*))).cast("double") /
        size(col("ws")), 6)
    stage(keepers)
      .select(col("doc_id"), col("n_removed"), col("cleaned"),
        words(col("cleaned")).as("ws"))
      // barrier: the quality-gate filter would otherwise be pushed into
      // the cleaning stage's projection with `cleaned` (the whole trim
      // rebuild) and `ws` (its re-split) INLINED per reference —
      // measured 4 evaluations of the rebuild per doc in the n83 plan
      // (3 inside the pushed nw/sr condition, 1 in the projection);
      // Checkpoints.exprBarrier pins the rebuild+split to one
      // evaluation, the gate then tests cheap attributes
      .transform(graft.ops.Checkpoints.exprBarrier(_, "clean_gate"))
      .select(col("doc_id"), col("n_removed"), col("cleaned"),
        size(col("ws")).as("nw"), stopRatio.as("sr"))
      .filter(col("nw") >= 30 && col("sr") <= 0.3)
      .select(col("doc_id"), splitCol.as("split"),
        col("nw").cast("long").as("n_tokens"), col("n_removed"),
        col("cleaned").as("text_clean"))
  }

  /** Per-SOURCE duplicated-substring profile — the dataset-card view of
    * the keep-first machinery (which sources are quote/mirror-heavy,
    * the number that decides whether a corpus needs the substring stage
    * at all): per source, docs, total tokens, tokens a keep-first pass
    * would cut, and the cut fraction. Rides [[dupSubstringDedup]]'s
    * accounting verbatim, so the profile cannot disagree with the
    * execute side.
    */
  def dupSubstringBySource(docs: DataFrame, k: Int = 5): DataFrame =
    dupSubstringDedupRaw(docs, k)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_removed")).as("dup_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6)
          .as("dup_frac"))
      .orderBy(col("source"))

  /** PARAGRAPH-level keep-first dedup — CCNet's first pass (Wenzek et
    * al. 2020 §3.1: hash each paragraph, drop every non-first
    * occurrence corpus-wide), the cheap pre-filter a production
    * pipeline runs AHEAD of the window-level substring machinery
    * (n122): one md5-per-paragraph shuffle removes the whole-unit
    * copies (mirrored pages, quoted mails, boilerplate lines) so the
    * positional gram stage only pays for the partial overlaps it alone
    * can see. Within-doc repetition is in scope: occurrences are per
    * (doc_id, pidx), not per document.
    *
    * The corpus has no line structure (the testdata corpus — the same
    * adaptation [[boilerplateCoverage]] documents for spans), so
    * "paragraphs" are non-overlapping `k`-word blocks of the words
    * array, rebuilt space-joined. Block boundaries are
    * position-deterministic, so two docs sharing a copied region dedup
    * exactly when the copy is block-aligned — the honest limitation vs
    * the window-level n122 (which is alignment-free); TextAnalysisSpec
    * reconciles the two on a planted aligned fixture.
    *
    * Output: (doc_id, n_paras, n_removed, text_dedup) — n_paras counts
    * the doc's paragraphs, n_removed the dropped ones.
    *
    * Scale shape: the [[dupWindowPositions]] discipline at paragraph
    * granularity — the first-occurrence test is a min(struct(doc_id,
    * pidx)) + count(*) aggregate on the paragraph hash (both map-side
    * combinable partials; never a row_number window, which would
    * buffer a corpus-hot paragraph's whole occurrence list in one
    * reducer), singleton hashes are kept without distinguishing
    * themselves (their own row IS the min), and the rebuild is one
    * per-doc aggregate over kept (pidx, para) structs. Paragraph text
    * crosses exactly two exchanges (the hash-keyed first test, the
    * doc-keyed rebuild) — the same count the substring family pays,
    * with far fewer rows (paragraphs, not k-windows).
    */
  def paragraphDedupBlocks(docs: DataFrame, k: Int = 20): DataFrame =
    paragraphDedupBlocksRaw(docs, k).orderBy(col("doc_id"))

  /** [[paragraphDedupBlocks]] without the presentation sort — the
    * composable form (the raw/sorted convention; [[cleanCorpusParagraph]]
    * sorts once at its own tail).
    */
  private def paragraphDedupBlocksRaw(docs: DataFrame, k: Int): DataFrame =
    paragraphDedupAcc(blockParagraphs(docs, k))
      .select(col("doc_id"), col("n_paras"), col("n_removed"),
        col("text_dedup"))

  /** The (doc_id, pidx, para) frame of non-overlapping `k`-word blocks
    * — the block form's segmentation, shared by [[paragraphDedupBlocks]]
    * and the incremental form (one definition of the block boundary,
    * the cleanCorpusWith convention).
    */
  private[graft] def blockParagraphs(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), posexplode(transform(
        // ceil(n/k) block indices; words("") = [""], so size >= 1 and
        // the sequence is never empty (double div is exact for ints)
        sequence(lit(0),
          ceil(size(col("ws")).cast("double") / k).cast("int") - 1),
        i => concat_ws(" ", slice(col("ws"), i * k + 1, lit(k)))))
        .as(Seq("pidx", "para")))
  }

  /** ONE keep-first core over a (doc_id, pidx, para) block frame,
    * shared by [[paragraphDedupBlocks]] and the n83-shaped cleaner so
    * they can never drift on policy (the cleanCorpusWith convention).
    * Kept blocks rejoin space-separated, as they were split. Carries
    * TOKEN accounting too (`n_tok_removed` = Σ word counts of the
    * dropped paragraphs — what the cleaner reports, where the public
    * dedup form reports paragraph counts): one aggregate serves both,
    * and the public form projects the extra column away. An empty
    * paragraph counts one token (split("") = [""] on both engines — the
    * same convention everywhere words() touches empty text).
    */
  private def paragraphDedupAcc(paras: DataFrame): DataFrame = {
    val withH = paras.select(col("doc_id"), col("pidx"),
      col("para"), md5(col("para")).as("h"))
    val firsts = withH
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pidx").as("fpix"))
    withH.join(firsts, Seq("h"))
      .select(col("doc_id"), col("pidx"), col("para"),
        (col("doc_id") === col("fdoc") && col("pidx") === col("fpix"))
          .as("keep"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        sum(when(col("keep"), 0L)
          .otherwise(size(split(col("para"), " ")).cast("long")))
          .as("n_tok_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pidx"), col("para"))))),
          x => x("para"))).as("text_dedup"))
  }

  /** Per-SOURCE paragraph-dedup profile — the n127 accounting shape at
    * paragraph granularity (which sources are whole-unit copy-heavy —
    * the number that decides whether the cheap CCNet pass suffices or
    * the corpus needs the substring stage too): per source, docs,
    * total paragraphs, paragraphs a keep-first pass drops, and the
    * drop fraction. Rides [[paragraphDedupBlocks]]'s accounting
    * verbatim, so the profile cannot disagree with the execute side.
    */
  def paragraphDedupBySource(docs: DataFrame, k: Int = 20): DataFrame =
    paragraphDedupBlocks(docs, k)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_paras")).as("total_paras"),
        sum(col("n_removed")).as("dup_paras"))
      .select(col("source"), col("n_docs"), col("total_paras"),
        col("dup_paras"),
        round(col("dup_paras").cast("double") / col("total_paras"), 6)
          .as("dup_frac"))
      .orderBy(col("source"))

  /** The persisted 1-column PARAGRAPH-HASH index of a corpus — the
    * [[dupSubstringIndex]] convention at paragraph granularity:
    * presence of a hash means some earlier batch holds that paragraph's
    * first occurrence, so every later occurrence is non-first. One
    * 32-hex md5 STRING per row (~32 B payload; not truncated — the
    * hash IS the dedup key and must match the batch side exactly),
    * never the text.
    */
  def paragraphIndex(docs: DataFrame, k: Int = 20): DataFrame =
    blockParagraphs(docs, k)
      .select(md5(col("para")).as("h"))
      .distinct()

  /** INCREMENTAL paragraph dedup (the n124 move at paragraph
    * granularity): dedup a new batch against the accumulated paragraph
    * index of every earlier batch PLUS the batch's own internal
    * firsts. When batches partition the corpus in doc_id order,
    * folding them through this, growing the index batch by batch, is EXACTLY
    * batch-mode [[paragraphDedupBlocks]] restricted to each batch's
    * rows (spec-pinned): a paragraph is globally non-first iff an
    * earlier occurrence exists — a prior batch (hash ∈ index, any
    * position) or the same batch (the min(struct) test).
    *
    * Scale shape: the batch's paragraphs shuffle on the hash key for
    * internal firsts and join the index on the same key — the index
    * never broadcasts (paragraph-vocabulary-shaped; the n73→n109
    * lesson) and never rescans earlier text.
    */
  def paragraphDedupFromIndex(index: DataFrame, batch: DataFrame,
                              k: Int = 20): DataFrame = {
    val withH = blockParagraphs(batch, k)
      .select(col("doc_id"), col("pidx"), col("para"),
        md5(col("para")).as("h"))
    // no cnt column here, unlike dupSubstringDedupFromIndex: the keep
    // test below needs only the min and the index hit (a singleton
    // paragraph IS its own first and keeps without a count filter)
    val firsts = withH
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pidx").as("fpix"))
    withH.join(firsts, Seq("h"))
      .join(index.select(col("h"), lit(1).as("hit")).distinct(),
        Seq("h"), "left_outer")
      .select(col("doc_id"), col("pidx"), col("para"),
        (col("hit").isNull &&
          (col("doc_id") === col("fdoc") && col("pidx") === col("fpix")))
          .as("keep"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pidx"), col("para"))))),
          x => x("para"))).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  /** [[cleanCorpus]] with the PARAGRAPH keep-first stage in place of
    * the boilerplate trim — the CCNet-shaped cleaner (Wenzek et al.
    * 2020 run their paragraph-hash dedup as the FIRST content pass):
    * normalize (n36) → exact-dup keeper (n2's min-id policy — whole-doc
    * copies must not feed the paragraph stage as fake "firsts") →
    * [[paragraphDedupBlocks]]' keep-first core over the keepers → the
    * same quality gate. Output shape identical to n83/n126
    * ((doc_id, split, n_tokens, n_removed, text_clean); `n_removed`
    * counts TOKENS of the dropped paragraphs — the n83 token
    * convention, not the dedup forms' paragraph counts), so
    * mix/shard/build consumers take any of the three cleaners
    * unchanged. The cheapest of the three cleaning stages: one
    * paragraph-hash shuffle vs the gram machinery's positional streams.
    */
  def cleanCorpusParagraph(docs: DataFrame, k: Int = 20): DataFrame =
    graft.ops.Checkpoints.sortBarrier(cleanCorpusParagraphRaw(docs, k),
        col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[cleanCorpusParagraph]] without the presentation sort — the
    * composable form ([[trainingDataBuildSafeWith]] sorts once at its
    * own tail, the cleanCorpusRaw convention).
    */
  def cleanCorpusParagraphRaw(docs: DataFrame, k: Int = 20): DataFrame =
    cleanCorpusWith(docs, keepers =>
      paragraphDedupAcc(blockParagraphs(keepers, k))
        .select(col("doc_id"), col("n_tok_removed").as("n_removed"),
          col("text_dedup").as("cleaned")))

  /** [[cleanCorpus]] with the KEEP-FIRST SUBSTRING stage in place of the
    * boilerplate trim — the pipeline variant for corpora whose repeated
    * content is quotes/mirrors rather than templates: normalize (n36) →
    * exact-dup keeper (n2's min-id policy, FIRST for the same reason as
    * n83 — identical copies must not feed the gram stage) →
    * [[dupSubstringDedup]] over the keepers (n122: one copy of every
    * duplicated k-window survives, where n83's trim deletes ALL copies)
    * → the same quality gate. Output shape identical to n83
    * ((doc_id, split, n_tokens, n_removed, text_clean); n_tokens counts
    * the CLEANED text, n83's convention), so downstream consumers
    * (mix/shard/build) take either cleaner unchanged.
    *
    * Scale shape: one md5 keeper shuffle + [[dupSubstringDedup]]'s
    * audited combinable front; text moves twice (keeper window, rebuild
    * join), same as n83.
    */
  def cleanCorpusSubstring(docs: DataFrame, k: Int = 5): DataFrame =
    graft.ops.Checkpoints.sortBarrier(cleanCorpusSubstringRaw(docs, k),
        col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[cleanCorpusSubstring]] without the presentation sort — the
    * composable form ([[trainingDataBuildSafeWith]] sorts once at its
    * own tail, the cleanCorpusRaw convention).
    */
  def cleanCorpusSubstringRaw(docs: DataFrame, k: Int = 5): DataFrame =
    cleanCorpusWith(docs, keepers =>
      dupSubstringDedupRaw(keepers, k)
        .select(col("doc_id"), col("n_removed"),
          col("text_dedup").as("cleaned")))

  /** The one-call training-data BUILD — the full published pipeline a
    * 100 TB run executes, each stage a registry operator's machinery
    * verbatim so the build can never disagree with the individual gates:
    *
    *   1. [[cleanCorpusRaw]] (n83): normalize → exact-dup keeper →
    *      boilerplate trim → quality gate;
    *   2. near-dup DECONTAMINATION drop
    *      ([[graft.ops.Dedup.minhashDecontaminationCollapsed]], n78):
    *      every train doc sharing an LSH bucket with a test doc at
    *      exact word-set Jaccard ≥ `tau` leaves the train split — the
    *      flagged pair list IS the drop set;
    *   3. [[temperatureMixPlan]] (n87) derived over the SURVIVING train
    *      corpus's CLEANED token counts (the corpus the mix actually
    *      samples — a plan over raw pre-clean counts would over-sample
    *      sources the trim shrank), executed with the same integer
    *      md5-bucket keep test;
    *   4. shard assignment ([[shardKey]]/[[shardOf]], n60) over the kept
    *      docs — the frame a shard writer materializes.
    *
    * Output: one row per kept TRAIN doc — (doc_id, source, shard, pos,
    * n_tokens, n_removed, text_clean). Val/test survivors are cleaning
    * output, not training data, so they exit here (the eval sets ship
    * separately, unmixed and unsharded).
    *
    * Scale shape: inherits its stages' audited shapes (the n83 keeper
    * shuffle + trim join, n78's collapsed banding, n87's one broadcast
    * plan, n60's hash-shuffled per-shard windows); the additions are one
    * left-anti join against the decontamination drop set (train-doc ids
    * only — tiny next to the corpus) and one (doc_id, source) projection
    * join, both doc_id-keyed.
    */
  def trainingDataBuild(docs: DataFrame, n: Int = 5, minDf: Int = 2,
                        tau: Double = 0.5, alpha: Double = 0.5,
                        budget: Long = 20000L,
                        numShards: Int = 8): DataFrame = {
    trainingDataBuildUnordered(docs, n, minDf, tau, alpha, budget,
      numShards).orderBy(col("doc_id"))
  }

  /** [[trainingDataBuild]] minus the registry's trailing doc_id total
    * order — the COMPOSITION form: a consumer that immediately
    * re-clusters the rows by its own layout (the mixed release's
    * (kind, shard) hash clustering) must not pay a global range sort
    * whose ordering its next exchange discards — at scale that sort is
    * a full extra pass (sampling + range shuffle) over the text half
    * for nothing. Same rows, same columns, no ordering contract.
    */
  def trainingDataBuildUnordered(docs: DataFrame, n: Int = 5,
                                 minDf: Int = 2, tau: Double = 0.5,
                                 alpha: Double = 0.5,
                                 budget: Long = 20000L,
                                 numShards: Int = 8): DataFrame = {
    val cleaned = cleanCorpusRaw(docs, n, minDf)
    val contaminated = graft.ops.Dedup
      .minhashDecontaminationCollapsed(docs, tau)
      .select(col("train_doc").as("doc_id")).distinct()
    // Cut once: the surviving-train frame feeds BOTH the mix-plan
    // aggregate and the keep pass — uncut, the whole clean+decon chain
    // would be evaluated twice (AQE reuses only identical exchanges, not
    // the map-side work between them); the minhashDecontaminationCollapsed
    // groups-frame discipline, applied here.
    val train = Checkpoints.cut(cleaned.filter(col("split") === "train")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("n_tok", col("n_tokens")))
    buildMixShard(train, alpha, budget, numShards)
  }

  /** The mix + shard TAIL both builds share (n87's temperature plan
    * over the surviving train corpus, executed with the integer
    * md5-bucket keep test, then n60's shard assignment with per-shard
    * positions) — one definition, so [[trainingDataBuild]] and
    * [[trainingDataBuildSafe]] cannot drift on anything but their
    * split/decontamination front. `train` must carry (doc_id, source,
    * n_tokens, n_removed, text_clean, n_tok), cut by the caller (it is
    * consumed twice: plan aggregate + keep pass). Returns UNORDERED
    * rows — the registry entries append their doc_id total order
    * themselves; composition consumers (the mixed release) take the
    * rows as-is and impose their own layout.
    */
  private def buildMixShard(train: DataFrame, alpha: Double, budget: Long,
                            numShards: Int): DataFrame = {
    val plan = temperatureMixPlan(train, alpha, budget)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    train.withColumn("b6", tmixBucket)
      .join(broadcast(plan.select(col("source"), col("keep_thresh"))),
        Seq("source"))
      .filter(col("b6") < col("keep_thresh"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_removed"), col("text_clean"),
        shardKey.as("skey"), shardOf(numShards).as("shard"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("pos"),
        col("n_tokens"), col("n_removed"), col("text_clean"))
  }

  /** [[trainingDataBuild]] with LEAKAGE-SAFE splits — the n134
    * eliminator wired into the shipped dataset: the hash split
    * ([[splitOf]] of the doc id) lets a verified near-dup pair straddle
    * train/test INSIDE the build output (n97 measures exactly that
    * rate), so this variant assigns splits by the near-dup COMPONENT
    * key instead ([[graft.ops.Dedup.leakageSafeSplitsFromPairs]] over
    * the verified pair graph at `splitThreshold`) — both endpoints of
    * every verified pair hash to the same split, and off-diagonal
    * leakage in the output is zero BY CONSTRUCTION (the n135 proof
    * matrix shape; TextAnalysisSpec pins it on the build output, with a
    * planted straddling pair the unsafe build provably leaks).
    *
    * The decontamination stage is where the construction pays off:
    * requiring `tau ≥ splitThreshold` makes every train/test near-dup
    * pair at `tau` a within-component — hence within-split — pair, so
    * the drop set is provably EMPTY. The anti-join still executes over
    * the measured straddle set (reusing the ONE cut pair front the
    * split assignment consumes — the verdict's "reuse the verified
    * pair front"), and the ORACLE deliberately omits it: a bug that
    * let a pair straddle would drop a doc and fail the differential
    * gate loudly, which is the point.
    *
    * Scale shape: [[trainingDataBuild]]'s audited stages plus ONE
    * near-dup pair front (cut, consumed by assignment + straddle
    * check) and the CC labeling over the edge list (pairs ≪ corpus);
    * the assignment joins are hint-free doc_id joins (the n73→n109
    * lesson), AQE localizes when the label frame is small.
    */
  def trainingDataBuildSafe(docs: DataFrame, n: Int = 5, minDf: Int = 2,
                            tau: Double = 0.5, alpha: Double = 0.5,
                            budget: Long = 20000L, numShards: Int = 8,
                            splitThreshold: Double = 0.3): DataFrame =
    trainingDataBuildSafeWith(docs, cleanCorpusRaw(_, n, minDf), tau,
      alpha, budget, numShards, splitThreshold)

  /** [[trainingDataBuildSafe]] with a PLUGGABLE cleaning stage — the
    * seam the three parallel cleaners (n83 trim, n126 substring, n143
    * paragraph) already share via [[cleanCorpusWith]], exposed at the
    * build level: a CCNet-shaped corpus wants the paragraph pass
    * first, a template-heavy one the trim, a quote/mirror one the
    * substring stage — the SAFE-split/straddle/mix/shard tail is
    * identical and defined once here. `cleaner` maps the raw corpus to
    * the n83 output shape ((doc_id, split, n_tokens, n_removed,
    * text_clean) — split is dropped and re-derived from the
    * leakage-safe component assignment, the n142 move).
    */
  def trainingDataBuildSafeWith(docs: DataFrame,
                                cleaner: DataFrame => DataFrame,
                                tau: Double = 0.5, alpha: Double = 0.5,
                                budget: Long = 20000L, numShards: Int = 8,
                                splitThreshold: Double = 0.3): DataFrame = {
    require(tau >= splitThreshold,
      s"tau ($tau) must be >= splitThreshold ($splitThreshold): the " +
        "decontamination drop set reuses the split-threshold pair " +
        "front, which only covers pairs at jaccard >= splitThreshold")
    val pairs = graft.ops.Checkpoints.cut(
      graft.ops.Dedup.minhashNearDupPairsRaw(docs, splitThreshold))
    val asg = graft.ops.Dedup.leakageSafeSplitsFromPairs(
      docs, pairs.select(col("doc_a"), col("doc_b")))
      .select(col("doc_id"), col("split"))
    val cleaned = cleaner(docs).drop("split")
      .join(asg, Seq("doc_id"))
    // the straddle drop set — provably empty at tau >= splitThreshold
    // (kept as executed code so the emptiness is enforced, not assumed)
    val straddle = pairs.filter(col("jaccard") >= tau)
      .join(asg.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        Seq("doc_a"))
      .join(asg.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        Seq("doc_b"))
      .filter((col("sa") === "train" && col("sb") === "test") ||
        (col("sa") === "test" && col("sb") === "train"))
      .select(when(col("sa") === "train", col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    val train = Checkpoints.cut(cleaned.filter(col("split") === "train")
      .join(straddle, Seq("doc_id"), "left_anti")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("n_tok", col("n_tokens")))
    buildMixShard(train, alpha, budget, numShards)
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion matrix: labeled lang × predicted lang counts —
    * the eval roll-up of [[langId]] (how a classifier audit reads at
    * corpus scale: one tiny aggregate over a map-side scorer).
    */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))

  /** TF-IDF: top-`k` highest-scoring terms per document. tf = in-doc
    * count, idf = ln(N / df) over distinct-word document frequency.
    * Two shuffles (df aggregate, per-doc rank). The df join is
    * HINT-FREE (the [[scoreBigramLm]] model-join pattern): the df table
    * is corpus-vocabulary-shaped — 10⁸–10⁹ rows on a web corpus, the
    * [[dsirWeightsHashed]] number — so a forced broadcast is an
    * OOM-by-construction at scale; AQE broadcasts it when (and only
    * when) runtime stats say it fits, which covers the tiny-vocabulary
    * regime without betting the driver on it. The corpus size N is a
    * 1-row aggregate broadcast into the scorer — never a driver-side
    * `count()`, so the whole query stays lazy (composable, and the same
    * shape reuses on a stream where an eager action is illegal).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = docs.select(col("doc_id"),
        explode(array_distinct(words(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
    // N as data, not as a literal: count(1) over the scan reads zero
    // columns; the 1-row frame broadcasts (BroadcastNestedLoopJoin on a
    // single row — bounded by construction)
    val n = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("n_total") / col("df")), 6).as("tfidf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Train/test decontamination: test-split documents whose content
    * fingerprint also appears in the train split — the leakage check every
    * eval pipeline needs.
    *
    * ONE corpus scan, one shuffle: group by fingerprint collecting the
    * test-side and train-side member ids, then expand the cross pairs from
    * the (tiny) per-fingerprint lists. The self-join formulation scanned
    * `documents` twice and computed [[fingerprintCol]] (md5 over
    * sort+distinct of the word array — the expensive part) twice per row;
    * here every row is fingerprinted exactly once (PlanSpec pins this).
    * Per-fingerprint lists are bounded by the exact-duplicate group size,
    * the same bound the join's output already carries.
    */
  def decontamination(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol.as("fingerprint"),
        splitCol.as("split"))
      .groupBy(col("fingerprint"))
      .agg(
        sort_array(collect_list(when(col("split") === "test", col("doc_id"))))
          .as("tests"),
        sort_array(collect_list(when(col("split") === "train", col("doc_id"))))
          .as("trains"))
      .filter(functions.size(col("tests")) > 0 &&
        functions.size(col("trains")) > 0)
      .select(col("fingerprint"), col("trains"),
        explode(col("tests")).as("test_doc"))
      .select(col("test_doc"), explode(col("trains")).as("train_doc"),
        col("fingerprint"))
      .orderBy(col("test_doc"), col("train_doc"))

  /** Contamination REPORT — the leakage dashboard: every TEST-split
    * document scored by all three text-side detectors in one row
    * (the [[pipelineFunnel]]-style accounting view of the
    * decontamination family):
    *
    *   - `n_exact`: verbatim train copies ([[decontamination]] hits)
    *   - `ngram_frac`: distinct 5-gram overlap with the train split
    *     ([[ngramDecontamination]] — partial copies)
    *   - `max_jaccard`: the worst LSH candidate's exact word-set Jaccard
    *     ([[graft.ops.Dedup.minhashDecontaminationCollapsed]] at τ=0,
    *     bit-equal to the uncollapsed n72 detector — edited
    *     near-copies; NULL when no band-bucket candidate exists, which
    *     is itself the signal "no near-dup evidence")
    *
    * The detectors are the REGISTRY operators composed verbatim (same
    * definitions, never re-derived), so the report cannot disagree with
    * the individual checks a pipeline gates on. Scale shape: each
    * component keeps its own audited shape; the roll-ups join on
    * test-split-sized keys only.
    */
  def contaminationReport(docs: DataFrame): DataFrame = {
    // base = the test-split DOC LIST, not any one detector's output: a
    // test doc shorter than the gram width has no 5-grams and would
    // vanish from an ngram-based frame — while the fingerprint and
    // minhash detectors can still flag it. Every test doc gets a row;
    // ngram_frac stays NULL (not 0) when the doc has no grams to measure.
    val base = docs.filter(splitCol === "test")
      .select(col("doc_id").as("test_doc"))
    val exact = decontamination(docs)
      .groupBy(col("test_doc")).agg(count(lit(1)).as("n_exact"))
    // the collapsed form is spec-pinned bit-equal to minhashDecontamination
    // (n72/n78), so composing it changes nothing downstream while the
    // banding front stays bounded by DISTINCT-text structure on the
    // dup-heavy corpora this report exists for
    val near = Dedup.minhashDecontaminationCollapsed(docs, 0.0)
      .groupBy(col("test_doc")).agg(max(col("jaccard")).as("max_jaccard"))
    base
      .join(ngramDecontamination(docs, 5), Seq("test_doc"), "left_outer")
      .join(exact, Seq("test_doc"), "left_outer")
      .join(near, Seq("test_doc"), "left_outer")
      .select(col("test_doc"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("contamination_frac").as("ngram_frac"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("max_jaccard"))
      .orderBy(col("test_doc"))
  }

  /** Bloom-filter decontamination — the 100 TB path for [[decontamination]]:
    * instead of shuffling (fingerprint, doc) pairs into a join, aggregate
    * the train split's fingerprints into ONE Bloom filter, broadcast it,
    * and filter test docs map-side with `might_contain`. No false
    * negatives: every truly contaminated test doc is flagged (the spec
    * proves superset-of-exact); false positives are bounded by `fpp` and
    * can be re-verified with the exact join on the tiny flagged subset.
    *
    * `expectedItems` sizes the filter; None (default) derives it from a
    * count of the train split — an undersized Bloom saturates and
    * silently degrades to flag-everything, so never guess it. NOTE: this
    * operator runs jobs at CONSTRUCTION time (the count + the bloom
    * aggregation — `stat.bloomFilter` returns a driver-side sketch, like
    * [[Similarity.ivfTopK]]'s training collects); it is not a lazy plan.
    */
  def bloomDecontamination(docs: DataFrame,
                           expectedItems: Option[Long] = None,
                           fpp: Double = 0.01): DataFrame = {
    val fp = docs.select(col("doc_id"), fingerprintCol.as("fingerprint"),
      splitCol.as("split"))
    val train = fp.filter(col("split") === "train")
    val items = expectedItems.getOrElse(math.max(1L, train.count()))
    // distributed partial blooms merged to one (DataFrameStatFunctions —
    // the SQL-level bloom_filter_agg is not a registered public function)
    val bf = train.stat.bloomFilter("fingerprint", items, fpp)
    val bcast = docs.sparkSession.sparkContext.broadcast(bf)
    val mightContain =
      udf((s: String) => s != null && bcast.value.mightContainString(s))
    fp.filter(col("split") === "test")
      .filter(mightContain(col("fingerprint")))
      .select(col("doc_id").as("test_doc"), col("fingerprint"))
      .orderBy(col("test_doc"))
  }

  /** Corpus mixing: deterministic weighted downsampling per source (the
    * training-mix policy — e.g. halve low-quality sources, keep curated
    * ones whole). A doc survives iff its md5 bucket < weight·100, so the
    * mix is reproducible across runs and engines, and map-side only.
    */
  def mixCorpus(docs: DataFrame, weights: Map[String, Double],
                defaultWeight: Double): DataFrame = {
    val weightCol = weights.foldLeft(lit(defaultWeight * 100)) {
      case (acc, (src, w)) => when(col("source") === src, w * 100).otherwise(acc)
    }
    docs.filter(splitBucket < weightCol)
  }

  /** Kept-vs-total accounting of a corpus mix. */
  def mixReport(docs: DataFrame, weights: Map[String, Double],
                defaultWeight: Double): DataFrame = {
    val kept = mixCorpus(docs, weights, defaultWeight)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled source mixing (the multilingual α-sampling of
    * XLM / mT5 / the Pile): sampling probability p_s ∝ n_s^α flattens
    * the source distribution (α < 1 up-weights small sources without
    * letting any source dominate), the published knob between
    * proportional (α=1) and uniform (α=0) mixing — where [[mixCorpus]]
    * takes hand-set weights, this DERIVES them from corpus statistics.
    * Emits one row per source: the plan (n_docs, n_tokens, p_samp,
    * target_tokens, keep_thresh) AND the realized outcome (n_docs_kept,
    * tokens_kept) under the deterministic md5-bucket sample that
    * executes it — so the published mix and what the pipeline would
    * actually keep can never drift apart.
    *
    * Determinism discipline: the per-doc keep test is an INTEGER
    * comparison (md5-bucket in [0, 1e6) vs a floor-derived integer
    * threshold), so engine float quirks can't flip a boundary doc; the
    * only float steps (pow, the p_samp ratio) go through round(·, 6)
    * like every float surface here.
    *
    * Scale shape: ONE (source, tokens) aggregate (map-side combined)
    * derives the plan; the plan is sources-sized → broadcast back for
    * the realized pass; the corpus text never shuffles. The sampled
    * corpus itself is the same filter a consumer composes from
    * keep_thresh — this op publishes the accounting.
    */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.5,
                     budget: Long = 20000L): DataFrame = {
    val withTok = docs.select(col("doc_id"), col("source"),
      size(words(col("text"))).as("n_tok"), tmixBucket.as("b6"))
    val plan = temperatureMixPlan(withTok, alpha, budget)
    val kept = withTok
      .join(broadcast(plan.select(col("source"), col("keep_thresh"))),
        Seq("source"))
      .filter(col("b6") < col("keep_thresh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tok")).as("tokens_kept"))
    plan.join(broadcast(kept), Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("p_samp"),
        col("target_tokens"), col("keep_thresh"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .orderBy(col("source"))
  }

  /** The deterministic md5 sampling bucket [[temperatureMix]]'s keep test
    * compares against its integer threshold — the SINGLE definition the
    * mix report and [[trainingDataBuild]]'s executed sample share, so the
    * published plan and the corpus a build keeps can never drift.
    */
  def tmixBucket: Column = saltedBucket("tmix|", col("doc_id"), 1000000L)

  /** Deterministic salted md5 sampling bucket in [0, mod) — THE single
    * definition every md5-bucket sampler derives from ([[tmixBucket]],
    * [[graft.ops.Dedup.tuneSampleBucket]], the n100/n101 background
    * samples): first 8 md5 hex chars of salt+id, mod `mod`. Distinct
    * salts keep the samplers pairwise uncorrelated with each other and
    * with the split/shard buckets; the conv result is nonnegative, so
    * pmod ≡ the oracles' plain `%`.
    */
  def saltedBucket(salt: String, id: Column, mod: Long): Column =
    pmod(conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8),
      16, 10).cast("long"), lit(mod))

  /** The plan half of [[temperatureMix]] over an arbitrary per-doc
    * (source, n_tok) frame — factored out so the n99 build derives its
    * mix from the SURVIVING corpus's token counts (the corpus it
    * actually samples) with the registry machinery verbatim. Output one
    * row per source: (source, n_docs, n_tokens, p_samp, target_tokens,
    * keep_thresh); same integer-threshold determinism discipline.
    *
    * Scale shape: ONE map-side-combined (source, tokens) aggregate; the
    * result is sources-sized, broadcast by every consumer.
    */
  def temperatureMixPlan(withTok: DataFrame, alpha: Double,
                         budget: Long): DataFrame = {
    val per = withTok.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("w",
        round(pow(col("n_tokens").cast("double"), alpha), 6)
          .cast("decimal(18,6)"))
    val tot = per.agg(sum(col("w")).as("sw"))
    per.crossJoin(broadcast(tot))
      .withColumn("p_samp",
        round(col("w").cast("double") / col("sw").cast("double"), 6))
      .withColumn("target_tokens",
        floor(lit(budget.toDouble) * col("p_samp")).cast("long"))
      .withColumn("keep_thresh",
        least(lit(1000000L), floor(col("target_tokens").cast("double") *
          1000000d / col("n_tokens").cast("double")).cast("long")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("p_samp"), col("target_tokens"), col("keep_thresh"))
  }

  /** UniMax source allocation (Chung et al. 2023): distribute a token
    * budget as UNIFORMLY as possible across sources subject to a
    * per-source repeat cap (capacity = n_s × maxEpochs) — the published
    * alternative to [[temperatureMix]]'s α-sampling that bounds
    * repetition explicitly instead of tuning a temperature. Waterfill
    * in closed form: sources sorted by capacity ascending; source i is
    * saturated iff its capacity fits under an equal split of what's
    * left after everything smaller saturates (the predicate is
    * monotone, so no iteration); the unsaturated remainder shares the
    * leftover equally. Output per source: (source, n_docs, n_tokens,
    * capacity, alloc_tokens, epochs).
    *
    * Determinism discipline: capacities, prefix sums, the saturation
    * predicate, and the equal-share division are ALL integer arithmetic
    * (floor division for the share — the allocation may undershoot the
    * budget by < n_sources tokens, documented not hidden); only the
    * final epochs ratio is float, through round(·, 6).
    *
    * Scale shape: ONE (source, tokens) map-side-combined aggregate;
    * everything after runs on the sources-sized frame (the
    * single-partition windows are over tens of rows — the corpus never
    * enters a window).
    */
  def unimaxMix(docs: DataFrame, budget: Long,
                maxEpochs: Double = 2.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap").asc, col("source").asc)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val per = docs.select(col("source"), size(words(col("text"))).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("cap",
        floor(col("n_tokens").cast("double") * maxEpochs).cast("long"))
    val staged = per
      .withColumn("i", row_number().over(w))
      .withColumn("pfx", sum(col("cap")).over(w))
      .withColumn("nsrc", count(lit(1)).over(all))
      // saturated iff capacity fits under an equal split of the budget
      // remaining once every smaller source saturates
      .withColumn("full",
        col("cap") * (col("nsrc") - col("i") + 1) <=
          lit(budget) - (col("pfx") - col("cap")))
    val alloc = staged
      .withColumn("pk", coalesce(sum(when(col("full"), col("cap"))).over(all),
        lit(0L)))
      .withColumn("k", coalesce(sum(when(col("full"), 1L)).over(all), lit(0L)))
      .withColumn("alloc_tokens",
        when(col("full"), col("cap")).otherwise(
          floor((lit(budget) - col("pk")).cast("double") /
            (col("nsrc") - col("k")).cast("double")).cast("long")))
    alloc.select(col("source"), col("n_docs"), col("n_tokens"), col("cap"),
        col("alloc_tokens"),
        round(col("alloc_tokens").cast("double") / col("n_tokens"), 6)
          .as("epochs"))
      .orderBy(col("source"))
  }

  /** Fingerprint-duplicate groups: docs sharing a word-set signature. */
  def fingerprintDupGroups(docs: DataFrame): DataFrame =
    fingerprints(docs)
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fingerprint"))

  /** The stable per-doc sampling key shared by [[sourceCap]] and
    * [[tokenBudgetMix]] — both MUST walk sources in the same order, so
    * the key expression lives exactly once.
    */
  def sampKey: Column = md5(concat(lit("cap|"), col("doc_id").cast("string")))

  /** Per-source corpus cap: keep at most `k` docs per source, chosen by
    * a deterministic md5 order (a stable "uniform sample" — unlike
    * `sample()`, identical across runs, engines, and partitionings).
    * The standard "no source may dominate the mix" guard of corpus
    * assembly.
    *
    * Scale shape: one hash shuffle on `source` + a per-partition sort —
    * the per-group-top-k pattern (never a global sort). A pathologically
    * dominant source makes one reducer hot; the fix at that scale is a
    * per-partition pre-cap of k rows before the shuffle (same output,
    * since any global top-k is contained in the union of partition
    * top-ks) — the move a two-stage salted aggregation makes for sums.
    */
  def sourceCap(docs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("samp_key").asc, col("doc_id").asc)
    docs.select(col("source"), col("doc_id"), sampKey.as("samp_key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Token-budget corpus mix: greedily keep docs per source — in the
    * same stable md5 order as [[sourceCap]] — until the source's
    * whitespace-token budget is exhausted (a doc is kept iff the budget
    * was not yet full when it starts). Real corpus mixes are specified
    * in tokens, not document counts; this is the token-weighted twin of
    * the doc-weighted [[mixCorpus]]. Emits per-source accounting.
    *
    * One window over (source, samp_key) — same shuffle/skew shape (and
    * WindowGroupLimit-free; the running sum needs the full group, so a
    * dominant source's reducer is the scale limit — pre-aggregate by
    * bucketed sub-source at that point).
    */
  def tokenBudgetMix(docs: DataFrame, budgetPerSource: Long): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("source"))
      .orderBy(col("samp_key").asc, col("doc_id").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    tokenWalk(docs)
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") - col("n_tok") < budgetPerSource)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tok")).as("tokens_kept"))
      .orderBy(col("source"))
  }

  /** Sequence packing — concat-and-split assignment of docs into fixed
    * `capacity`-token training sequences, per source: walk the source's
    * docs in the stable [[sampKey]] order, concatenate token counts, and
    * assign each doc to the sequence its FIRST token lands in
    * (`seq_id = ⌊tokens-before / capacity⌋` — the standard pretraining
    * packing model where a doc may straddle a boundary). Emits
    * per-sequence accounting.
    *
    * Same one-window-per-source shape (and skew caveat) as
    * [[tokenBudgetMix]]; packing is embarrassingly parallel across
    * sources.
    */
  def sequencePacking(docs: DataFrame, capacity: Long): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("source"))
      .orderBy(col("samp_key").asc, col("doc_id").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    tokenWalk(docs)
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("seq_id",
        ((col("cum_tok") - col("n_tok")) / capacity).cast("long"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Corpus-trained bigram language-model quality score — the model-based
    * filter (CCNet-shape) that complements the heuristic features of
    * [[qualityFeatures]]: train add-one-smoothed bigram probabilities on
    * the corpus itself, then score every document by its mean
    * ln p(wᵢ | wᵢ₋₁). Terms go through decimal(18,9) so the per-doc sum
    * is order-independent and bit-exact against the DuckDB oracle.
    *
    * Scale shape: the context table derives from the bigram counts (never
    * a third corpus pass), but Catalyst expands the shared bigram frame
    * into one subtree per consumer, so this single-job form explodes the
    * corpus twice (counts, scoring) plus a word-distinct pass for the
    * vocabulary. That is the right trade for a one-shot audit; a real
    * 100 TB deployment trains ONCE — [[trainBigramLm]] +
    * [[graft.sources.Sinks.writeIfAbsent]] persist the model and
    * [[scoreBigramLm]] scores against it with zero count subtrees.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    // Same-corpus scoring: every bigram of `docs` exists in the model by
    // construction, so the inner join is lossless here and keeps the
    // plan at its documented two corpus explosions — [[scoreBigramLm]]'s
    // unseen-bigram LEFT joins would expand the (unpersisted) training
    // subtree once more per derived frame (context totals, vocabulary).
    // Cross-corpus scoring MUST go through [[scoreBigramLm]].
    bigramsOf(docs).join(trainBigramLm(docs), Seq("w1", "w2"))
      .select(col("doc_id"),
        log((col("cbi") + 1).cast("double") / (col("cctx") + col("vsize")))
          .cast("decimal(18,9)").as("lnp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lnp")).cast("double") / count(lit(1)), 6)
          .as("avg_lnp"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): per SOURCE,
    * rank docs by LM score and cut the ranking into head / middle /
    * tail terciles — the relative-threshold quality partition that
    * adapts to each source's own score distribution instead of one
    * global cutoff (a clean-but-formal source and a noisy web crawl
    * both contribute their best third). Score = [[bigramLmScore]]'s
    * per-doc mean log-probability VERBATIM (higher = more natural
    * text, the perplexity proxy); rank = percent_rank over
    * (avg_lnp DESC, doc_id) within source — doc_id makes the order
    * total, so every row's rank (and therefore its bucket) is
    * deterministic on both engines even under score ties. Docs with
    * no bigram (< 2 words) are unscoreable and carry no bucket, as in
    * CCNet. Output: per (source, bucket) doc/token counts plus the
    * realized score range — the report a mixing decision reads before
    * keeping only head+middle.
    *
    * Scale shape: the LM score is n44's documented two-explosion
    * plan; the source/token projection joins the per-doc score frame
    * (3 columns) hint-free — size stats pick the strategy, never a
    * forced corpus-shaped broadcast. The percent_rank window shuffles
    * the per-doc SCORE frame (doc_id, source, score — never the
    * text) once on the source key; the final rollup is map-side
    * combinable with ≤ 3 rows per source.
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("avg_lnp").desc, col("doc_id"))
    bigramLmScore(docs)
      .join(docs.select(col("doc_id"), col("source"),
        size(words(col("text"))).as("n_tokens")), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("avg_lnp"), percent_rank().over(w).as("pr"))
      .select(col("source"), col("n_tokens"), col("avg_lnp"),
        when(col("pr") < 1.0 / 3, "head")
          .when(col("pr") < 2.0 / 3, "middle")
          .otherwise("tail").as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("avg_lnp")).as("min_lnp"), max(col("avg_lnp")).as("max_lnp"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Per-doc bigram stream (doc_id, w1, w2) — the single definition
    * shared by training and scoring, so the two can never tokenize
    * differently.
    */
  private def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(functions.size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> " +
          "struct(w[i-1] AS w1, w[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Train the add-one-smoothed bigram LM as a persistable model table
    * (w1, w2, cbi, cctx, vsize): bigram count, context total, vocabulary
    * size — everything [[scoreBigramLm]] needs, denormalized so scoring
    * is ONE equi-join. Vocabulary-squared-bounded (in practice ~bigram
    * count), tiny next to any corpus.
    */
  def trainBigramLm(docs: DataFrame): DataFrame = {
    val bc = bigramsOf(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cbi"))
    val cc = bc.groupBy(col("w1")).agg(sum(col("cbi")).as("cctx"))
    val v = docs.select(explode(words(col("text"))).as("x"))
      .agg(countDistinct(col("x")).as("vsize"))
    bc.join(cc, Seq("w1")).crossJoin(broadcast(v))
  }

  /** Score documents against a TRAINED bigram model — the production
    * shape: one corpus explosion, model-sized joins, zero count subtrees
    * in the plan. Scoring a corpus against the model trained on that
    * same corpus is bit-equal to [[bigramLmScore]] (n52's oracle is
    * n44's).
    *
    * Bigrams UNSEEN at training time keep their add-one-smoothed term,
    * (0+1)/(cctx+V) — with cctx falling to 0 for an unseen context word,
    * i.e. 1/V — via LEFT joins: an inner join would silently drop the
    * very bigrams that should pull the score down hardest, and a doc of
    * entirely-unseen text would vanish from the output. The context
    * totals and vocabulary size derive from the model frame (persisted
    * and tiny — vocabulary-bounded), never from a corpus pass.
    */
  def scoreBigramLm(docs: DataFrame, model: DataFrame): DataFrame = {
    // vsize is constant across the model — read the one value on the
    // driver (bounded: one cell off a vocabulary-sized persisted table,
    // the same pattern as n51's centroid collect) and inline it, so no
    // 1-row-broadcast nested-loop join enters the scoring plan. An
    // EMPTY model scores everything as unseen over an empty vocabulary+1.
    val vsize = model.select(col("vsize")).limit(1).collect()
      .headOption.map(_.getLong(0)).getOrElse(0L) max 1L
    // per-context totals: a MODEL-sized aggregate (vocabulary-bounded),
    // never a corpus pass
    val ctx = model.select(col("w1"), col("cctx")).distinct()
    bigramsOf(docs)
      .join(model.select(col("w1"), col("w2"), col("cbi")),
        Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .select(col("doc_id"),
        log((coalesce(col("cbi"), lit(0L)) + 1).cast("double") /
          (coalesce(col("cctx"), lit(0L)) + lit(vsize)))
          .cast("decimal(18,9)").as("lnp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lnp")).cast("double") / count(lit(1)), 6)
          .as("avg_lnp"))
      .orderBy(col("doc_id"))
  }

  /** Per-source word-distribution drift: KL(source ‖ corpus) over the
    * unigram distributions — the mixing-time check that a source hasn't
    * diverged from (or collapsed onto) the corpus it feeds. Exact integer
    * counts; each term pₛ·ln(pₛ/q) is computed in one fixed operation
    * order and summed through decimal(18,12), so the aggregate is
    * order-independent and oracle-exact. Source totals, corpus totals and
    * the scoring terms all roll up from the per-(source, word) count
    * aggregate — everything past the first explosion is
    * vocabulary-×-sources sized, tiny at any corpus scale.
    */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val sw = docs.select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("csw"))
    val s = sw.groupBy(col("source")).agg(sum(col("csw")).as("cs"))
    val wTot = sw.groupBy(col("w")).agg(sum(col("csw")).as("cw"))
    val tot = s.agg(sum(col("cs")).as("ct"))
    sw.join(s, Seq("source"))
      .join(wTot, Seq("w"))
      .crossJoin(broadcast(tot))
      .select(col("source"),
        ((col("csw").cast("double") / col("cs")) *
          log((col("csw").cast("double") / col("cs")) /
            (col("cw").cast("double") / col("ct"))))
          .cast("decimal(18,12)").as("term"))
      .groupBy(col("source"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl_vs_corpus"))
      .orderBy(col("source"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every TRAIN-split
    * document by the mean per-token log-likelihood ratio between a
    * high-quality TARGET distribution (the val split, standing in for
    * the curated target a real run supplies) and the raw train
    * distribution — both add-one-smoothed unigram LMs. High-weight docs
    * "look like the target"; resampling by weight is the selection step.
    * Unigram rather than DSIR's hashed n-grams: the published estimator
    * admits any feature LM, and the unigram form keeps the model table
    * vocabulary-sized (the hashed variant is the same join on a hashed
    * key). Terms go through decimal(18,9) so the per-doc sum is
    * order-independent and bit-exact against the DuckDB oracle (the n44
    * discipline).
    *
    * Scale shape: one (word, split) count aggregate yields BOTH LMs in a
    * vocabulary-sized table; the totals (vsize, nt, nr) are a 1-row
    * aggregate DERIVED from it, and scoring is a map-side broadcast join
    * of the token stream against the model. Catalyst expands the shared
    * model frame into each consumer, so this single-job audit form
    * explodes the corpus three times (model, totals, scoring) — the
    * [[bigramLmScore]] trade; a production run persists the tiny model
    * like [[trainBigramLm]] and scores with zero count subtrees.
    */
  def dsirWeights(docs: DataFrame): DataFrame =
    dsirWeightsFull(docs)
      .select(col("doc_id"), col("n_tokens"), col("dsir_weight"))
      .orderBy(col("doc_id"))

  /** [[dsirWeights]] without the presentation sort and WITH the summed
    * (un-averaged) log importance `total_lw` — the composable form
    * [[dsirSelect]] consumes: the selection needs the document's TOTAL
    * log ratio, and rebuilding it as rounded-mean × n_tokens amplifies
    * the 6-decimal rounding error proportionally to document length (up
    * to 5e-7 × n_tokens on the Gumbel key — enough to flip a long doc
    * at the k boundary); summing the decimal terms once yields both
    * surfaces exactly.
    */
  private def dsirWeightsFull(docs: DataFrame): DataFrame =
    dsirCore(docs.select(col("doc_id"), splitCol.as("split"),
      explode(words(col("text"))).as("f")))

  /** Number of hash buckets the PRODUCTION DSIR model lives in — the
    * paper's own order (Xie et al. 2023 use 10⁴ hashed buckets). Fixed
    * at build time, so the model frame is ≤ this many rows whatever the
    * corpus vocabulary.
    */
  val DsirHashBuckets = 10000

  /** PRODUCTION form of [[dsirWeights]] — the DSIR paper's own
    * hashed-feature model (Xie et al. 2023 §3 hash n-gram features
    * into a fixed 10⁴-bucket table): every token maps to
    * `hash(token) mod buckets`, and BOTH unigram LMs are estimated over
    * bucket counts. The model frame is **fixed-size by construction**
    * (≤ `buckets` rows at ANY corpus scale), so the forced
    * `broadcast()` in the scoring join is always safe — unlike the
    * exact-vocabulary anchor [[dsirWeights]], whose model grows with
    * the corpus vocabulary (10⁸–10⁹ rows on a web corpus) and exists as
    * the oracle ANCHOR, not the 100 TB path (the n93/n94 anchor-vs-
    * production pattern). Hash = the [[saltedBucket]] md5 bucket (own
    * salt), so both engines and the oracle bucket identically.
    *
    * Collisions fold rare features together (the paper's trade); with
    * 10⁴ buckets and fixture-sized vocabularies agreement with the
    * exact anchor is near-total — TextAnalysisSpec pins rank agreement
    * on the fixtures.
    *
    * Scale shape: identical join/aggregate skeleton to the anchor, but
    * the broadcast payload is capped at `buckets` rows — the scoring
    * pass is map-side at any corpus size; the one corpus-keyed shuffle
    * is the per-doc decimal-partial aggregate.
    */
  def dsirWeightsHashed(docs: DataFrame,
                        buckets: Int = DsirHashBuckets): DataFrame =
    dsirWeightsHashedFull(docs, buckets)
      .select(col("doc_id"), col("n_tokens"), col("dsir_weight"))
      .orderBy(col("doc_id"))

  /** [[dsirWeightsHashed]] with `total_lw` carried exactly — the
    * composable form [[dsirSelectHashed]] consumes (same reason as
    * [[dsirWeightsFull]]).
    */
  private def dsirWeightsHashedFull(docs: DataFrame,
                                    buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    dsirCore(docs
      .select(col("doc_id"), splitCol.as("split"),
        explode(words(col("text"))).as("w"))
      .select(col("doc_id"), col("split"),
        saltedBucket("dsirh|", col("w"), buckets.toLong).as("f")))
  }

  /** Shared DSIR estimator core over a (doc_id, split, f) token stream —
    * `f` is the FEATURE (the raw word for the exact-vocabulary anchor,
    * the hashed bucket for the production form); everything downstream
    * of the feature map is ONE definition, so the two forms can never
    * drift in smoothing, decimal discipline, or output surface.
    *
    * The model broadcast is safe for the hashed caller by construction
    * (fixed bucket count); for the exact anchor it is the audited
    * oracle-scale shape — at true corpus scale the hashed form IS the
    * path ([[dsirWeightsHashed]] Scaladoc).
    */
  private def dsirCore(toks: DataFrame): DataFrame = {
    // one row per distinct feature: target + raw counts
    val model = toks.groupBy(col("f")).agg(
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("ct"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("cr"))
    // the smoothing constants as DATA (1-row broadcast, lazy end-to-end):
    // vsize counts the FULL feature support — including test-only
    // features — so the two smoothed denominators share one support
    val consts = model.agg(count(lit(1)).as("vsize"),
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    toks.filter(col("split") === "train")
      .join(broadcast(model), Seq("f"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"),
        (log((col("ct") + 1).cast("double") / (col("nt") + col("vsize"))) -
          log((col("cr") + 1).cast("double") / (col("nr") + col("vsize"))))
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("term")).cast("double") / count(lit(1)), 6)
          .as("dsir_weight"),
        round(sum(col("term")).cast("double"), 6).as("total_lw"))
  }

  /** The EXECUTE half of DSIR (Xie et al. 2023 §2: importance
    * RESAMPLING, not just weighting): select `k` train docs without
    * replacement with probability ∝ their importance, via the Gumbel
    * top-k identity — key = the document's TOTAL log importance (its
    * summed per-token log ratio, carried exactly by
    * [[dsirWeightsFull]] — never rebuilt from the rounded mean) plus a
    * Gumbel draw, take the k largest. The Gumbel uniform comes
    * from the deterministic salted md5 bucket ((b + 0.5)/10⁶ — never 0
    * or 1), so the SAME corpus always selects the SAME docs: the
    * selection is an auditable artifact, not a run-specific sample.
    * Output: (rank, doc_id, n_tokens, dsir_weight, sel_key), rank 1 =
    * strongest draw.
    *
    * Scale shape: inherits n73's weight pass; the selection adds one
    * map-side key projection and a distributed TakeOrdered top-k —
    * the rank window runs AFTER the limit, over k rows, never the
    * corpus.
    */
  def dsirSelect(docs: DataFrame, k: Int): DataFrame =
    gumbelTopK(dsirWeightsFull(docs), k)

  /** [[dsirSelect]] over the PRODUCTION hashed-feature weights
    * ([[dsirWeightsHashed]]) — the same deterministic Gumbel top-k
    * machinery (ONE definition, [[gumbelTopK]]) ranking the
    * broadcast-safe model's scores; the form a 100 TB selection
    * actually runs.
    */
  def dsirSelectHashed(docs: DataFrame, k: Int,
                       buckets: Int = DsirHashBuckets): DataFrame =
    gumbelTopK(dsirWeightsHashedFull(docs, buckets), k)

  /** The Gumbel top-k selection step shared by [[dsirSelect]] and
    * [[dsirSelectHashed]]: key = total_lw + a deterministic salted-md5
    * Gumbel draw, take the k largest — a distributed TakeOrdered, with
    * the rank window running AFTER the limit over k rows only.
    */
  private def gumbelTopK(scored: DataFrame, k: Int): DataFrame = {
    val u = (saltedBucket("dsir|", col("doc_id"), 1000000L) + lit(0.5)) /
      lit(1000000.0)
    val keyed = scored
      .withColumn("sel_key", round(col("total_lw") + -log(-log(u)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("sel_key").desc, col("doc_id"))
    keyed.orderBy(col("sel_key").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("n_tokens"),
        col("dsir_weight"), col("sel_key"))
      .orderBy(col("rank"))
  }

  /** Quality-classifier DISTILLATION + threshold calibration — the
    * production move behind every "quality classifier" corpus filter
    * (GPT-3 §2.2, LLaMA, RefinedWeb): the hand-written rule gate
    * ([[trainingCorpusCounts]]'s n_words/stop_ratio predicate, the
    * TEACHER — reused verbatim so the distillation target is exactly
    * the gate the pipeline ships) labels the train split, a Naive-Bayes
    * unigram log-odds model is fit to those labels, and the HELD-OUT
    * val split is scored and swept over a fixed threshold grid. Output:
    * one row per threshold — (threshold, n_docs, n_pred_pos, tp, fp,
    * fn, prec, rec, f1) against the teacher on val — the calibration
    * curve an operator reads to pick the deployment threshold (the
    * classifier generalizes the rule gate to corpora where the rule's
    * constants don't transfer; the sweep quantifies the fidelity cost).
    *
    * Counted on token OCCURRENCES (a word repeated in spammy docs
    * should carry its evidence), add-one smoothed over the FULL corpus
    * vocabulary so both class denominators share one support (the
    * [[dsirWeights]] discipline); per-doc score = mean per-token
    * log-odds through decimal(18,9) — order-independent, oracle-exact.
    * prec/rec/f1 compute from the integer tp/fp/fn directly
    * (f1 = 2tp/(2tp+fp+fn)) and NULL on an empty denominator.
    *
    * Scale shape: ONE (word, class-counts) aggregate — vocabulary-sized
    * — with the smoothing constants a 1-row derived aggregate; scoring
    * is a broadcast model join + one doc_id-keyed shuffle of decimal
    * partials (the text never moves); the sweep is a 13-row broadcast
    * grid (BroadcastNestedLoopJoin of constants, the n73 precedent)
    * into a threshold-keyed tiny aggregate. Nothing here grows with the
    * corpus except the two map-side passes.
    */
  def qualityClassifierCalibration(docs: DataFrame): DataFrame =
    nbCalibrationCore(qcLabeledToks(docs).withColumnRenamed("w", "f"))

  /** PRODUCTION form of [[qualityClassifierCalibration]] — the same
    * hashed-feature move as [[dsirWeightsHashed]]: the NB model is
    * estimated over `hash(token) mod buckets` counts, so the model
    * frame is fixed-size (≤ `buckets` rows at ANY corpus vocabulary)
    * and its forced broadcast is always safe. The exact-vocabulary
    * form stays as the oracle anchor; everything after the feature map
    * is [[nbCalibrationCore]] verbatim, so the two can't drift.
    */
  def qualityClassifierCalibrationHashed(
      docs: DataFrame, buckets: Int = DsirHashBuckets): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    nbCalibrationCore(qcLabeledToks(docs)
      .select(col("doc_id"), col("split"), col("label"),
        // dedicated salt (NOT dsirWeightsHashed's "dsirh|"): the
        // saltedBucket discipline — distinct salts keep the NB and DSIR
        // models' bucket-collision patterns pairwise uncorrelated
        saltedBucket("qch|", col("w"), buckets.toLong).as("f")))
  }

  /** The teacher-labeled token stream both calibration forms start
    * from: the n22 rule gate (n_words/stop_ratio predicate, verbatim)
    * labels each doc, then tokens explode with (doc_id, split, label).
    */
  private def qcLabeledToks(docs: DataFrame): DataFrame = {
    val stopRatio = round(
      size(filter(col("ws"), w => w.isin(Stopwords: _*))).cast("double") /
        size(col("ws")), 6)
    docs
      .select(col("doc_id"), splitCol.as("split"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("split"), col("ws"),
        size(col("ws")).as("n_words"), stopRatio.as("stop_ratio"))
      .withColumn("label",
        (col("n_words") >= 30 && col("stop_ratio") <= 0.3).cast("int"))
      .select(col("doc_id"), col("split"), col("label"),
        explode(col("ws")).as("w"))
  }

  /** Shared NB fit + threshold sweep over a (doc_id, split, label, f)
    * token stream — `f` is the feature (raw word for the anchor, hashed
    * bucket for production); ONE definition of smoothing, decimal
    * scoring, grid, and confusion counts for both forms.
    */
  private def nbCalibrationCore(toks: DataFrame): DataFrame = {
    // per-feature occurrence counts in positive/negative TRAIN docs
    // (val features still contribute support rows)
    val model = toks.groupBy(col("f")).agg(
      sum(when(col("split") === "train" && col("label") === 1, 1L)
        .otherwise(0L)).as("cp"),
      sum(when(col("split") === "train" && col("label") === 0, 1L)
        .otherwise(0L)).as("cn"))
    val consts = model.agg(count(lit(1)).as("vsize"),
      sum(col("cp")).as("np"), sum(col("cn")).as("nn"))
    val scored = toks.filter(col("split") === "val")
      .join(broadcast(model), Seq("f"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("label"),
        (log((col("cp") + 1).cast("double") / (col("np") + col("vsize"))) -
          log((col("cn") + 1).cast("double") / (col("nn") + col("vsize"))))
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("doc_id"), col("label"))
      .agg(round(sum(col("term")).cast("double") / count(lit(1)), 6)
        .as("score"))
    val spark = toks.sparkSession
    import spark.implicits._
    val grid = (-6 to 6).map(i => (BigDecimal(i) * BigDecimal("0.05")).toDouble)
      .toDF("threshold")
    val pred = col("score") >= col("threshold")
    scored.crossJoin(broadcast(grid))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pred, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(pred && col("label") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && col("label") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && col("label") === 1, 1L).otherwise(0L)).as("fn"))
      .select(col("threshold"), col("n_docs"), col("n_pred_pos"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") /
            (col("tp") + col("fp")), 6)).as("prec"),
        when(col("tp") + col("fn") === 0, lit(null))
          .otherwise(round(col("tp").cast("double") /
            (col("tp") + col("fn")), 6)).as("rec"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null))
          .otherwise(round(lit(2) * col("tp").cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
      .orderBy(col("threshold"))
  }

  /** Zipf rank-frequency fit per source — the corpus-statistics health
    * check: natural text follows freq ∝ rank^(−s) with s ≈ 1 (Zipf
    * 1949); a source whose fitted slope sits far from −1 (or whose fit
    * is poor, low r²) is boilerplate, templated spam, or machine
    * output masquerading as prose — flagged per SOURCE before any
    * per-doc gate sees a single row. Least squares of ln(tf) on
    * ln(rank) over each source's top-`k` words (rank ties broken word
    * asc — deterministic, engine-stable): emits (source, n_terms,
    * slope, intercept, r2); a 1-term source fits nothing → NULLs, an
    * all-equal-tf source has r2 NULL (zero y-variance).
    *
    * Sums go per-term through decimal(18,12) (the [[sourceDrift]]
    * discipline) so the five moments are fold-order-independent and
    * the closed-form slope/intercept/r² are bit-exact vs the oracle.
    *
    * Scale shape: ONE (source, word) map-side-combined count aggregate;
    * the per-source top-k is a WindowGroupLimit pre-cap (rank ≤ k cuts
    * below the window sort, the n48 shape) so only sources × k rows
    * reach the moment aggregate — tiny-key, flat in corpus size.
    */
  def zipfFit(docs: DataFrame, k: Int = 100): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("tf").desc, col("w").asc)
    val ranked = docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
    val x = log(col("rank").cast("double"))
    val y = log(col("tf").cast("double"))
    def dec(c: Column) = c.cast("decimal(18,12)")
    val m = ranked
      .select(col("source"), dec(x).as("xd"), dec(y).as("yd"),
        dec(x * y).as("xyd"), dec(x * x).as("xxd"), dec(y * y).as("yyd"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("xd")).cast("double").as("sx"),
        sum(col("yd")).cast("double").as("sy"),
        sum(col("xyd")).cast("double").as("sxy"),
        sum(col("xxd")).cast("double").as("sxx"),
        sum(col("yyd")).cast("double").as("syy"))
    val n = col("n_terms").cast("double")
    val covn = n * col("sxy") - col("sx") * col("sy")
    val varxn = n * col("sxx") - col("sx") * col("sx")
    val varyn = n * col("syy") - col("sy") * col("sy")
    m.select(col("source"), col("n_terms"),
        when(varxn === 0, lit(null)).otherwise(round(covn / varxn, 6))
          .as("slope"),
        when(varxn === 0, lit(null))
          .otherwise(round((col("sy") - (covn / varxn) * col("sx")) / n, 6))
          .as("intercept"),
        when(varxn === 0 || varyn === 0, lit(null))
          .otherwise(round(covn * covn / (varxn * varyn), 6)).as("r2"))
      .orderBy(col("source"))
  }

  /** BPE merge induction — train the tokenizer's merge table on the
    * corpus (Sennrich et al. 2016): start from characters, repeatedly
    * merge the most frequent adjacent symbol pair (ties broken
    * lexicographic so the rule sequence is deterministic and
    * engine-stable). The one tokenizer-side piece the counting surface
    * ([[tokenCounts]] proxies, [[vocabCoverage]] OOV) presupposes.
    *
    * Output: one row per merge round — (round, left, right, merged,
    * pair_freq), ordered by round; stops early when no adjacent pair
    * remains.
    *
    * Scale shape: BPE trains on the WORD-FREQUENCY table, not the
    * corpus — ONE corpus aggregate produces (word, freq), and every
    * merge round is a vocabulary-sized job (pair explode + one sum
    * aggregate + a map-side HOF re-segmentation), with
    * [[graft.ops.Checkpoints.cut]] truncating the per-round lineage
    * exactly like the CC/k-means loops. The per-round driver collect is
    * ONE row (the argmax pair — bounded, the n23 precedent). Merge
    * application is leftmost-first: the fold's accumulator ends in the
    * merged symbol, which cannot re-match the pair's left side, so
    * overlapping runs (`a a a` under `(a,a)`) merge exactly like the
    * reference implementation.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    var wordTable = Checkpoints.cut(
      docs.select(explode(words(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          filter(split(col("word"), ""), s => s =!= "").as("syms")))
    val adjacentPairs =
      when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1), i =>
          struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (round <- 1 to nMerges if !exhausted) {
      val top = wordTable
        .select(col("freq"), explode(adjacentPairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += ((round, l, r, l + r, cnt))
        wordTable = Checkpoints.cut(wordTable.select(col("freq"),
          aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === lit(l) && s === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(s)))).as("syms")))
      }
    }
    import spark.implicits._
    rules.toSeq.toDF("round", "left", "right", "merged", "pair_freq")
      .orderBy(col("round"))
  }

  /** [[bpeMerges]] with BATCHED rounds — the production-vocab form. A
    * real tokenizer is 32k-50k merges; one Spark job per merge is 32k
    * sequential vocab-sized jobs whose per-round FIXED cost (job launch
    * + argmax collect) dominates the wall. This variant selects up to
    * `batchK` merges per job and applies them in ONE fold pass, cutting
    * job count ~batchK× — while provably emitting the IDENTICAL rule
    * sequence (PropertiesSpec pins rule-for-rule equality against
    * [[bpeMerges]] on random corpora, dup-heavy and adversarial shapes
    * included; the registry's n81 runs it on the fixture corpus).
    *
    * Why identical, not approximately: candidates are walked in the
    * sequential argmax order (freq desc, then lexicographic) over a
    * collected top-`pool` candidate table, and a pair is accepted only
    * when
    *
    *   1. its symbol set {l, r, l+r} is disjoint from every earlier
    *      accept's — so applying earlier accepts can neither destroy
    *      nor create occurrences of it (its count is exactly what
    *      sequential training would re-count), and the one-pass fold
    *      application commutes with rule-at-a-time application; and
    *   2. its count strictly exceeds the best count any INTERACTING
    *      pair could reach when the earlier accepts apply: interacting
    *      candidates in the pool (tracked max), pairs below the pool
    *      (bounded by the pool's tail count), and — when an accepted
    *      merge re-creates a symbol string that ALREADY exists in the
    *      vocabulary — existing+created occurrences, bounded by 2× (the
    *      vocabulary is driver-known: initial characters + accepted
    *      merges, so the ×2 guard engages only on those rare rounds).
    *
    * A new pair minted by merge (a,b) has count ≤ the count of the
    * (x,a)/(b,y) context pair it came from — an interacting pair — so
    * under (2) no minted pair can overtake an accepted one, strictness
    * sidesteps ties, and sequential argmax after each accepted merge
    * still lands on the next accepted pair. The batch stops at the
    * first candidate that fails (counts only fall from there), so a
    * round degrades to batch size 1 — never to a wrong rule.
    */
  def bpeMergesBatched(docs: DataFrame, nMerges: Int = 10,
                       batchK: Int = 16, pool: Int = 256,
                       verbose: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    require(batchK >= 1 && pool > batchK,
      s"batchK=$batchK pool=$pool (want batchK >= 1, pool > batchK)")
    var nJobs = 0
    var wordTable = Checkpoints.cut(
      docs.select(explode(words(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          filter(split(col("word"), ""), s => s =!= "").as("syms")))
    val adjacentPairs =
      when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1), i =>
          struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
    // the symbol inventory is driver-sized by construction: initial
    // characters (one tiny distinct job) + one entry per accepted merge
    val vocab = scala.collection.mutable.Set[String](
      wordTable.select(explode(col("syms")).as("s")).distinct()
        .collect().map(_.getString(0)).toIndexedSeq: _*)
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (rules.size < nMerges && !exhausted) {
      val top = wordTable
        .select(col("freq"), explode(adjacentPairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(pool).collect()
      if (top.isEmpty) exhausted = true
      else {
        val tailBound = if (top.length == pool) top.last.getLong(2) else 0L
        val cand = top.map(row =>
          (row.getString(0), row.getString(1), row.getLong(2)))
        val acceptedIdx = scala.collection.mutable.Set.empty[Int]
        val accepted = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        val acceptedSyms = scala.collection.mutable.Set.empty[String]
        var mergedPreexists = false
        // max count over the WHOLE pool (before and after the current
        // candidate — an equal-count interacting pair later in the list
        // can mint a lexicographically-earlier pair and steal the next
        // sequential round) of non-accepted pairs touching an accepted
        // symbol; O(pool·batchK) driver arithmetic
        def interactMax: Long = cand.indices.collect {
          case i if !acceptedIdx(i) &&
            Set(cand(i)._1, cand(i)._2, cand(i)._1 + cand(i)._2)
              .exists(acceptedSyms) => cand(i)._3
        }.foldLeft(0L)(math.max)
        var stopped = false
        for (i <- cand.indices if !stopped &&
            accepted.size < math.min(batchK, nMerges - rules.size)) {
          val (l, r, cnt) = cand(i)
          val syms = Set(l, r, l + r)
          if (accepted.isEmpty) {
            acceptedIdx += i; accepted += ((l, r, cnt))
            mergedPreexists ||= vocab.contains(l + r); acceptedSyms ++= syms
          } else if (!syms.exists(acceptedSyms)) {
            val bound = math.max(interactMax, tailBound) *
              (if (mergedPreexists) 2L else 1L)
            if (cnt > bound) {
              acceptedIdx += i; accepted += ((l, r, cnt))
              mergedPreexists ||= vocab.contains(l + r)
              acceptedSyms ++= syms
            } else stopped = true
          }
        }
        nJobs += 1
        if (verbose) System.err.println(
          s"[bpe] job $nJobs accepted ${accepted.size} " +
            s"(rules ${rules.size + accepted.size}/$nMerges)")
        accepted.foreach { case (l, r, cnt) =>
          rules += ((rules.size + 1, l, r, l + r, cnt)); vocab += (l + r)
        }
        // ONE fold pass applies the whole batch: symbol-disjointness
        // means at most one rule matches any boundary, so the when-chain
        // order is immaterial and the pass equals rule-at-a-time folds
        wordTable = Checkpoints.cut(wordTable.select(col("freq"),
          aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
            accepted.foldRight(concat(acc, array(s))) {
              case ((l, r, _), els) =>
                when(size(acc) > 0 &&
                    element_at(acc, -1) === lit(l) && s === lit(r),
                  concat(slice(acc, lit(1), size(acc) - 1),
                    array(lit(l + r))))
                  .otherwise(els)
            }).as("syms")))
      }
    }
    import spark.implicits._
    rules.toSeq.toDF("round", "left", "right", "merged", "pair_freq")
      .orderBy(col("round"))
  }

  /** Tokenize with a TRAINED BPE merge table — the score-many half of
    * [[bpeMerges]] (the n52/n51 move on the tokenizer): per document,
    * whitespace token count, BPE piece count under the rule sequence,
    * and their ratio (the fertility number that replaces [[tokenCounts]]'
    * 4-char proxy with the real trained tokenizer).
    *
    * Piece count is a function of the WORD alone, so the segmenter
    * (the codegen'd [[graft.functions.BpeSegment]] expression, spec-
    * pinned bit-equal to the [[bpeSegmentHof]] training-fold anchor)
    * runs on the DISTINCT word table, vocabulary-sized, and the
    * (word → n_sub) result joins back into the token stream HINT-FREE:
    * that frame is corpus-vocabulary-shaped (10⁸–10⁹ rows on a web
    * corpus), so broadcast is AQE's runtime call, never forced.
    * Segmenting per OCCURRENCE instead measured 22.6 s at sf0.1 vs
    * ~1 s for this form: the segment work multiplies by
    * corpus-tokens/vocab (~160× here) for identical output. The model
    * collect is bounded (`nMerges` rows); the scoring plan carries zero
    * training subtrees, and the per-doc sum keeps a map-side partial
    * phase below its one doc_id exchange.
    */
  def bpeTokenize(docs: DataFrame, merges: DataFrame): DataFrame = {
    val rules = merges.orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val base = docs.select(col("doc_id"), words(col("text")).as("ws"))
    // production segmenter: the codegen'd BpeSegment expression (spec-
    // pinned ≡ bpeSegmentHof) — one tree node at ANY vocabulary size,
    // where the HOF chain's expression depth is linear in nMerges and
    // stops planning near the measured BENCH_NOTES r13 ceiling, far
    // short of a production 32k-merge model
    val vocab = base.select(explode(col("ws")).as("word")).distinct()
      .select(col("word"),
        size(graft.functions.BpeSegment.bpeSegment(col("word"), rules))
          .cast("long").as("n_sub"))
    // HINT-FREE word join (the scoreBigramLm model-join pattern): the
    // (word, n_sub) frame is corpus-vocabulary-shaped — the
    // dsirWeightsHashed Scaladoc's 10⁸–10⁹ rows on a web corpus — so a
    // forced broadcast is an OOM-by-construction; AQE broadcasts it
    // when runtime stats say it fits (it does at fixture scale)
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        explode(col("ws")).as("word"))
      .join(vocab, Seq("word"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(col("n_sub")).as("n_pieces"))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        round(col("n_pieces").cast("double") / col("n_tokens"), 6)
          .as("pieces_per_token"))
      .orderBy(col("doc_id"))
  }

  /** The compositional nested-HOF segmenter — the ANCHOR form of BPE
    * application (the training fold verbatim: per rule, one
    * leftmost-first pass where the merged symbol cannot re-match its
    * own right side). [[graft.functions.BpeSegment]] is spec-pinned
    * bit-equal and is the production form: this chain's expression
    * tree is LINEAR in nMerges (one `aggregate` lambda per rule), so
    * it stops planning well short of a 32k-merge production model —
    * the measured ceiling is the round-13 BENCH_NOTES receipt. Kept
    * public as the parity oracle and the depth-receipt harness.
    */
  def bpeSegmentHof(word: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(filter(split(word, ""), s => s =!= "")) {
      case (seg, (l, r)) =>
        aggregate(seg, array().cast("array<string>"), (acc, s) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s))))
    }

  /** The shared projection of the budget/packing operators: per-doc
    * token count + stable walk key.
    */
  private def tokenWalk(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
      functions.size(words(col("text"))).cast("long").as("n_tok"),
      sampKey.as("samp_key"))

  /** Text normalization + scrubbing — the cleanup pass before any hash,
    * dedup, or tokenizer sees the text: lowercase, digit runs redacted to
    * a `<num>` sentinel (the PII/number-scrub shape: same regex chain
    * works for emails/phones), runs of spaces collapsed, ends trimmed.
    * Per-row codegen'd regex work, zero shuffle; the normalized text is
    * emitted as an md5 so the output stays bounded at any corpus size.
    */
  def normalizeRedact(docs: DataFrame): DataFrame =
    // sortBarrier: pure regex map below the sort — boundary sampling
    // would run every regex twice per action
    graft.ops.Checkpoints.sortBarrier(normalizeRedactRaw(docs),
        col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[normalizeRedact]] without the presentation sort — pure per-row
    * projection, so the SAME code runs on a streaming frame (sorts are
    * illegal in append-mode streams; StreamingSpec proves stream ≡
    * batch).
    */
  def normalizeRedactRaw(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val redacted = regexp_replace(lowered, "[0-9]+", "<num>")
    val collapsed = trim(regexp_replace(redacted, " +", " "))
    docs.select(col("doc_id"),
      regexp_count(lowered, lit("[0-9]+")).as("n_redacted"),
      length(collapsed).as("clean_len"),
      md5(collapsed).as("norm_md5"))
  }

  /** Email pattern for [[piiRedact]] — chosen from the Java∩RE2 regex
    * subset (no lookarounds, no backrefs) so the Spark executor and the
    * DuckDB oracle compile the SAME automaton.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** URL pattern for [[piiRedact]] (scheme-anchored, runs to the next
    * space — the corpus is space-tokenized).
    */
  val UrlRe = "https?://[^ ]+"

  /** Dotted-quad pattern for [[piiRedact]] (syntactic IPv4; octet range
    * checking is a value predicate, not a scrub pattern).
    */
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scrub pass — the redaction step every published training
    * pipeline runs before text leaves the ingest boundary: emails, URLs
    * and dotted-quad IPs replaced by typed placeholders, with per-doc
    * match counts for the accounting dashboard. Counts are measured on
    * the ORIGINAL text per pattern (so an IP inside a URL counts under
    * both — the audit question is "how much of each pattern exists", the
    * scrub question is handled by the replacement ORDER: url → email →
    * ip, so a URL swallows its embedded credentials before the narrower
    * patterns see them). Emits the scrubbed text as an md5 (the n36
    * convention — output stays audit-sized at any corpus scale).
    *
    * The synthetic bench corpus contains no PII — both engines provably
    * agree on the no-match case via the registry oracle, and
    * TextAnalysisSpec drives the match cases on planted fixtures.
    *
    * Scale shape: pure per-row regex projection — zero shuffle beyond
    * the presentation sort, streams unchanged (the [[normalizeRedactRaw]]
    * contract).
    */
  def piiRedact(docs: DataFrame): DataFrame =
    // sortBarrier: see normalizeRedact
    graft.ops.Checkpoints.sortBarrier(piiRedactRaw(docs), col("doc_id"))
      .orderBy(col("doc_id"))

  /** [[piiRedact]] without the presentation sort (stream-legal). */
  def piiRedactRaw(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("text"),
      UrlRe, "<url>"), EmailRe, "<email>"), Ipv4Re, "<ip>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(UrlRe)).as("n_urls"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).as("n_ips"),
      md5(scrubbed).as("clean_md5"))
  }

  /** Approximate distinct vocabulary per source (HyperLogLog++) — the
    * 100 TB twin of an exact per-source `count(DISTINCT word)`: the
    * exact form shuffles every (source, word) pair to a distinct
    * aggregate, a straggler when one source holds billions of distinct
    * tokens; the sketch is fixed-size per source and merges map-side
    * (the b12 approx-count pattern applied to the corpus surface).
    * Rows-only by nature — HLL estimates are engine-specific;
    * TextAnalysisSpec bounds the relative error against the exact count
    * on the fixtures (rsd default 5%).
    */
  def approxVocabBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(words(col("text"))).as("word"))
      .groupBy(col("source"))
      .agg(approx_count_distinct(col("word")).as("n_words_approx"))
      .orderBy(col("source"))

  /** Per-source corpus CONTENT CHECKSUM — the release-integrity stamp a
    * dataset publish records: identical corpora produce identical
    * checksums regardless of row order, partitioning, or engine, and
    * any added/removed/edited doc changes its source's value. The
    * combine is a COMMUTATIVE exact-decimal sum of per-doc md5 prefixes
    * (15 hex chars — the widest a bigint parse holds, the SimHash60
    * trick), so it map-side-combines at any group size — the reference's
    * sort-and-hash digest ([[graft.ops.Digest.hashListExpr]]) collects
    * the whole group and only holds for BOUNDED groups; a source is
    * corpus-sized. Weaker than a cryptographic digest against
    * adversarial collision, exactly right for drift/corruption detection.
    * Output: (source, n_docs, checksum-as-string — decimal(38,0) renders
    * identically on both engines).
    */
  def corpusDigest(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("decimal(38,0)").as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("h")).cast("decimal(38,0)").cast("string").as("checksum"))
      .orderBy(col("source"))

  /** Fixed-size word chunking with overlap — the context-window prep
    * step of a training pipeline. Chunk starts step by `stride` (< size
    * ⇒ overlapping windows); the final chunk clamps at the end of the
    * doc. One generator expression per row (sequence → transform →
    * posexplode): no shuffle, no driver involvement — each 100 TB scan
    * task emits its own chunks. Chunks are identified by content md5 so
    * the output is audit-sized at any scale.
    */
  def chunkDocs(docs: DataFrame, size: Int = 32, stride: Int = 24): DataFrame =
    chunkDocsRaw(docs, size, stride).orderBy(col("doc_id"), col("chunk_id"))

  /** [[chunkDocs]] without the presentation sort — one generator per
    * row, legal (and partition-local) in a streaming pipeline too.
    */
  def chunkDocsRaw(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride >= 1 && size >= stride,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), greatest(functions.size(col("ws")), lit(1)),
            lit(stride)),
          s => slice(col("ws"), s, lit(size)))).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        functions.size(col("chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
  }
}
