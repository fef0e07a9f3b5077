package graft

import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Skew-aware forms must be result-identical to their naive twins. */
class SkewSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("skew-aware running-sum twins equal the one-window forms") {
    import graft.ops.{TextAnalysis => TA}
    val docs = Tables.documents(spark, dir)
    // uniform sources AND a pathological one: one source holds ~90% of rows
    val skewed = docs.withColumn("source",
      when(pmod(col("doc_id"), lit(10)) < 9, lit("dominant"))
        .otherwise(col("source")))
    for (d <- Seq(docs, skewed)) {
      val mix0 = TA.tokenBudgetMix(d, 5000L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val mix1 = TA.tokenBudgetMixSkewAware(d, 5000L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(mix1 === mix0)
      val pack0 = TA.sequencePacking(d, 512L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val pack1 = TA.sequencePackingSkewAware(d, 512L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(pack1 === pack0)
    }
  }
}
