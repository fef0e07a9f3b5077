package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sinks
import graft.streaming.SimhashIngest

/** The text-side near-dup ingest: greedy-stream policy over the 60-bit
  * simhash index, text-free signature index, idempotent replay across
  * the publish-then-crash torn order, and the append-only index commit
  * with its metadata high-water mark. Exact-copy texts (hamming 0) keep
  * every expectation block-independent.
  */
class SimhashIngestSpec extends SparkSpec {
  import spark.implicits._

  private val X = "the quick brown fox jumps over the lazy dog"
  private val Y = "completely different words here entirely now"

  private def df(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def sinkRows(out: String) =
    spark.read.parquet(out)
      .select(col("batch_id").cast("long"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("greedy-stream policy across batches; the index carries " +
    "signatures, never text") {
    val tmp = Files.createTempDirectory("graft_shingest").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    // batch 0: 1=X kept; 2=X dropped (smaller-id twin in-batch)
    assert(SimhashIngest.ingestBatch(df((1L, X), (2L, X)), 0L, table, out)
      === 1L)
    // batch 1: 3=X dropped (vs INDEXED 1 — not vs dropped 2); 4=Y kept
    assert(SimhashIngest.ingestBatch(df((3L, X), (4L, Y)), 1L, table, out)
      === 1L)
    assert(sinkRows(out) === Set((0L, 1L), (1L, 4L)))
    val idx = Sinks.Versioned.read(spark, table)
    assert(!idx.columns.contains("text"),
      "the signature index must stay text-free")
    assert(idx.select(col("doc_id"), col("batch_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 0L), (4L, 1L)))
    // the sink DOES carry the surviving documents' text
    assert(spark.read.parquet(out).columns.contains("text"))
  }

  test("replay idempotence incl. the publish-then-crash torn order: " +
    "the sink partition rebuilds from the stamped survivors, the " +
    "index never double-publishes") {
    val tmp = Files.createTempDirectory("graft_shingest_rp").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    SimhashIngest.ingestBatch(df((1L, X), (2L, X)), 0L, table, out)
    val b1 = df((3L, X), (4L, Y), (5L, Y))
    assert(SimhashIngest.ingestBatch(b1, 1L, table, out) === 1L) // 4 only
    val versionsBefore = Sinks.Versioned.versions(spark, table)
    val idxBefore = Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq
    // CRASH AFTER PUBLISH, BEFORE SINK WRITE: lose the sink partition,
    // keep the index — exactly what a kill between the two leaves
    val part = new java.io.File(out, "batch_id=1")
    part.listFiles().foreach(_.delete()); part.delete()
    assert(sinkRows(out) === Set((0L, 1L)))
    // the replayed batch (same id, same contents) restores the sink
    // from the stamped survivors and publishes NOTHING new
    assert(SimhashIngest.ingestBatch(b1, 1L, table, out) === 1L)
    assert(sinkRows(out) === Set((0L, 1L), (1L, 4L)))
    assert(Sinks.Versioned.versions(spark, table) === versionsBefore)
    assert(Sinks.Versioned.read(spark, table).collect()
      .map(_.toString).sorted.toSeq === idxBefore)
  }

  test("append-only publish: B batches write O(total new rows) bytes — " +
    "the index is never rewritten per batch") {
    val tmp = Files.createTempDirectory("graft_shingest_ob").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    def parquetBytesByFile(dir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) Map.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet"))
            .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
        } finally s.close()
      }
    }
    // 12 constant-size batches of documents with disjoint vocabularies
    // (independent signatures, so all survive): a full-rewrite publish
    // would rewrite all b·|batch| index rows at batch b — new bytes per
    // batch GROWING with b; the append commit writes one batch-sized
    // commit dir, so they must stay ~flat
    def text(id: Long) = (1 to 40).map(j => s"u${id}v$j").mkString(" ")
    val perBatchNewBytes = (0 until 12).map { b =>
      val before = parquetBytesByFile(table)
      SimhashIngest.ingestBatch(
        df((0 until 8).map(i => (b * 8L + i, text(b * 8L + i))): _*),
        b.toLong, table, out)
      parquetBytesByFile(table).collect {
        case (p, n) if !before.contains(p) => n
      }.sum
    }
    // every append's newly-written bytes stay within a small constant
    // factor of the first append's (parquet framing noise), instead of
    // growing ~12x by the last batch as a full rewrite would
    val base = perBatchNewBytes(1)
    perBatchNewBytes.zipWithIndex.drop(1).foreach { case (n, b) =>
      assert(n <= base * 2,
        s"batch $b wrote $n new bytes (batch 1 wrote $base) — " +
          "per-batch publish cost must not grow with index size")
    }
    // and the index still reads complete: every survivor, batch-stamped
    assert(Sinks.Versioned.read(spark, table).count() === 96L)
    // the replay high-water mark rides the version metadata
    assert(SimhashIngest.maxPublished(spark, table) === 11L)
  }

  test("maxPublished reads version metadata with ZERO Spark jobs — no " +
    "per-batch index scan in the ingest") {
    val tmp = Files.createTempDirectory("graft_shingest_mj").toString
    val (table, out) = (s"$tmp/index", s"$tmp/out")
    SimhashIngest.ingestBatch(df((1L, X)), 0L, table, out)
    SimhashIngest.ingestBatch(df((4L, Y)), 1L, table, out)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(SimhashIngest.maxPublished(spark, table) === 1L)
      // listener delivery is async; a started job's event lands well
      // inside this window (the expectation is zero, so the sleep can
      // only catch a regression, never flake a pass into a failure)
      Thread.sleep(1000)
      assert(jobs.get() === 0,
        "the high-water mark must come from the manifest metadata, " +
          "not an index aggregate")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
