package graft
import org.apache.spark.sql.functions._
/** Dev utility: derive a ~Nx larger dataset from sf0.1 under /tmp (id
  * offsets keep keys consistent), for timing registry queries at scale
  * with `graft.Profile <names> /tmp/graft_sf_x…`.
  *
  * Run: sbt "runMain graft.ScaleSanity [mult] [mode]" (mult defaults to
  * 5; mode is '', salt or mixed<0-100>, see below). Writes
  * `/tmp/graft_sf_x<mult>` (`s` suffix for salt, `m<pct>` for mixed) and
  * skips the build when that directory already holds lineitem.
  */
object ScaleSanity {

  /** Per-copy id shift of every `rep()` replication. */
  val RepPerCopy = 10000000L

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(5)
    // mode "salt": per-copy-transformed replication for the
    // dedup/similarity family. Plain replication duplicates every text
    // and vector `mult` times, so dup-group size — and Σ bucket² pair
    // cost — grows with the multiplier BY CONSTRUCTION (a boilerplate
    // stress, the collapse operators' case). Salting word-prefixes each
    // copy's texts and cyclically rotates (sign-flipping per wrap) each
    // copy's embeddings: intra-copy dup structure is preserved exactly,
    // cross-copy payloads are disjoint, so dup-group sizes stay CONSTANT
    // as the corpus grows — the honest volume-scaling measurement for
    // dedup/similarity. (Vocabulary-shaped ops — bigram LM, TF-IDF —
    // read the opposite way: salting grows vocabulary ∝ mult where real
    // corpora don't; measure those on the plain replication.)
    // modes: "" = plain replication (dup groups grow ∝ mult — the
    // boilerplate stress); "salt" = fully disjoint copies (constant dup
    // structure — pure volume); "mixed<pct>" = fraction pct/100 of each
    // copy keeps the ORIGINAL payload (cross-copy dup groups of size mult
    // for that slice) while the rest is salted — the realistic regime for
    // charting where the collapse operators (n53/n54) start paying against
    // their uncollapsed twins at a given boilerplate fraction.
    val mode = args.lift(1).getOrElse("")
    val salted = mode == "salt"
    // tolerant parse so a malformed mode ('mixed', 'mixedX') reaches the
    // require's explanatory message instead of a raw NumberFormatException
    val mixedPct =
      if (mode.startsWith("mixed"))
        scala.util.Try(mode.drop(5).toInt).toOption.getOrElse(-1)
      else -1
    require(mode.isEmpty || salted || (mixedPct >= 0 && mixedPct <= 100),
      s"mode '$mode' (want '', salt, or mixed<0-100>)")
    val out = s"/tmp/graft_sf_x$mult" +
      (if (salted) "s" else if (mixedPct >= 0) s"m$mixedPct" else "")
    val spark = LocalSpark.builder()
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      lazy val dims = spark.read.parquet(s"$src/embeddings.parquet")
        .selectExpr("size(embedding) d").head().getInt(0)
      // rotation+sign-flip yields distinct copies only up to 2×dims; past
      // that, copies repeat bit-identically and the constant-dup-structure
      // invariant this mode exists for silently reverts to the replicated
      // boilerplate stress — fail fast instead of misattributing numbers
      if (salted || mixedPct >= 0) require(mult <= 2 * dims,
        s"salt/mixed modes support mult <= ${2 * dims} (2×dims): copy i " +
          s"and i+${2 * dims} would be bit-identical embeddings")
      def rep(t: String, idCols: Seq[String], perCopy: Long): Unit = {
        val base = if (t == "events") ops.Tables.events(spark, src)
          else spark.read.parquet(s"$src/$t.parquet")
        val big = (0 until mult).map { i =>
          // mixed: the dup/keep decision runs on the ORIGINAL id (before
          // the shift), so the same base rows duplicate in every copy —
          // dup groups of size mult for the kept fraction
          def mixKeep(idCol: String) = pmod(col(idCol), lit(100)) < mixedPct
          // plain replication: no transform; mixed: copy 0 IS the
          // originals (transform only i>0); salt: transform every copy
          // (copy 0's c0_ prefix kept — the recorded r6 datasets' shape)
          val transformed =
            if ((!salted && mixedPct < 0) || (mixedPct >= 0 && i == 0)) base
            else t match {
              case "documents" =>
                // injective per-copy word map: intra-copy shingle/dup
                // structure preserved, cross-copy shingles disjoint
                val saltedText =
                  regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1")
                base.withColumn("text",
                  if (salted) saltedText
                  else when(mixKeep("doc_id"), col("text"))
                    .otherwise(saltedText))
              case "embeddings" =>
                val shift = i % dims
                val rot = if (shift == 0) col("embedding")
                  else concat(slice(col("embedding"), shift + 1, dims - shift),
                    slice(col("embedding"), 1, shift))
                // norms and intra-copy cosines are rotation/sign-invariant;
                // the sign flip per full rotation keeps copies distinct up
                // to 2×dims multipliers
                val signed = if ((i / dims) % 2 == 1)
                  transform(rot, x => -x) else rot
                base.withColumn("embedding",
                  if (salted) signed
                  else when(mixKeep("vec_id"), col("embedding"))
                    .otherwise(signed))
              case _ => base
            }
          idCols.foldLeft(transformed)((df, c) =>
            df.withColumn(c, col(c) + lit(i * perCopy)))
        }.reduce(_ union _)
        big.write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      rep("lineitem", Seq("l_orderkey"), RepPerCopy)
      rep("orders", Seq("o_orderkey"), RepPerCopy)
      rep("customer", Seq("c_custkey"), RepPerCopy)
      rep("events", Seq("event_id"), RepPerCopy)
      rep("documents", Seq("doc_id"), RepPerCopy)
      rep("embeddings", Seq("vec_id"), RepPerCopy)
      Seq("region", "nation", "supplier", "part").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet") }
    }
    spark.stop()
  }
}
