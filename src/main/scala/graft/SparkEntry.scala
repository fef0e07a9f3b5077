package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The actual query surface lives in [[Queries]]; one named entry per
  * implemented operator from SURVEY.md §2, each with a DuckDB oracle
  * where SQL-expressible.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference's whole §3.2 planner as one DataFrame: catalog
    * scan → day filters → open-hour exclusion → top-K newest log files.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.queries("a1_catalog_topk")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * These are the registry's static oracles, the same whatever has run.
    * The captured media oracles need a scale dir to capture signatures
    * from, so they are only in Verify's dump
    * (`Queries.oracleSql(spark, dir)`). */
  def oracleSql: Map[String, String] = Queries.oracleSql
}
