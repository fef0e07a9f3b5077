package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the harness parquet tables (TESTDATA.md / FIXTURES.md §1).
  *
  * Every operator query takes `(SparkSession, sfDir)` and reads from here so
  * the DuckDB oracle (which gets the same parquet registered under bare table
  * names) sees identical inputs. Filters/projections applied downstream push
  * into these parquet scans via Catalyst (PushedFilters / ReadSchema), so at
  * 100 TB a date-partitioned layout prunes before any shuffle.
  */
object Tables {
  /** All fixture reads go through one reader that pins how parquet
    * timestamps surface:
    *
    *   - `inferTimestampNTZ.enabled=false`: the harness parquet stores
    *     tz-NAIVE µs timestamps (`isAdjustedToUTC=false`); by default
    *     Spark 4 reads those as TIMESTAMP_NTZ, which breaks every
    *     TIMESTAMP-typed consumer (`unix_micros`, watermarks) and which
    *     the DuckDB oracle does not distinguish anyway. With the conf
    *     off they read as session-zone TimestampType — the session is
    *     pinned UTC, so the wall-clock values equal DuckDB's naive read.
    *     Doing this via conf (not a post-read cast) keeps predicate
    *     pushdown on timestamp columns intact — a cast on top of the
    *     scan would strip PushedFilters at 100 TB.
    *
    * `nanosAsLong=true` is deliberately NOT set here: it would make any
    * TIMESTAMP(NANOS) column in an unrelated table silently surface as
    * bigint instead of failing loudly. Only [[events]] — the one consumer
    * that handles the long fallback — opts in, and only for its own read.
    */
  private def reader(s: SparkSession) = {
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    s.read
  }
  def region(s: SparkSession, dir: String): DataFrame    = reader(s).parquet(s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = reader(s).parquet(s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = reader(s).parquet(s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = reader(s).parquet(s"$dir/supplier.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    = reader(s).parquet(s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame  = reader(s).parquet(s"$dir/lineitem.parquet")
  /** `ts` arrives as µs TimestampType via [[reader]]; a nano-long `ts`
    * (the TIMESTAMP(NANOS) legacy layout) converts to µs TimestampType
    * (lossless — the generator emits µs precision).
    *
    * `nanosAsLong` is a session-wide SQLConf (the lazy scan consults it at
    * execution, so it cannot be set-and-restored around this call): after
    * the first `events()` read it stays on for the session. That is safe
    * for the harness sessions, which read only fixture tables; a session
    * shared with non-fixture parquet reads should be aware TIMESTAMP(NANOS)
    * columns will surface as bigint from then on.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = reader(s).parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, dir: String): DataFrame = reader(s).parquet(s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = reader(s).parquet(s"$dir/embeddings.parquet")
}
