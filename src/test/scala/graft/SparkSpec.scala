package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the shared session

  /** Plant the mid-batch-kill artifact every streaming restart test
    * asserts against: a NON-EMPTY data file in the sink directory that no
    * committed batch registered in `_spark_metadata` — readers must never
    * see it while it physically exists. Copies a committed part file that
    * actually holds rows (a shuffle partition with no output writes a
    * footer-only empty part, and a zero-row torn file would pass the
    * visibility check vacuously — the deflake lesson learned once,
    * encoded here for all five restart suites).
    */
  def plantTornFile(out: String): java.io.File = {
    val donor = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .find(p => spark.read.parquet(p.getPath).count() > 0)
    assert(donor.nonEmpty, "no committed non-empty part file to copy")
    val torn = new java.io.File(out, "part-99999-torn.snappy.parquet")
    java.nio.file.Files.copy(donor.get.toPath, torn.toPath)
    torn
  }

  /** Assert the planted file is still physically present, non-empty, and
    * yet invisible to sink readers (which go through `_spark_metadata`).
    */
  def assertTornInvisible(torn: java.io.File): Unit = {
    assert(torn.exists())
    assert(spark.read.parquet(torn.getPath).count() > 0)
  }

  /** Stage a frame as one parquet file at `dir/name.parquet` with a pinned
    * mtime — ascending mtimes give the streaming file source a stable
    * ingestion order across the restart tests' arrival steps.
    */
  def stageParquetFile(df: org.apache.spark.sql.DataFrame, stageDir: String,
                       dir: String, name: String, mtime: Long): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(stageDir)
    val part = new java.io.File(stageDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(dir, s"$name.parquet")
    java.nio.file.Files.copy(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(dst.setLastModified(mtime))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSpark.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
