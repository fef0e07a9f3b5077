package graft
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

object Bench {

  /** One full pass over the registry with `parallelism` submission threads.
    * `parallelism == 1` is the SEQUENTIAL mode: per-query wall times contain
    * no queueing or co-running load, so they are comparable across rounds
    * and machines — the regression-detection record. `parallelism > 1`
    * overlaps planning/codegen of one query with execution of another
    * (what a cluster scheduler does with a query queue); its per-query
    * times include queueing and are only meaningful in aggregate, but its
    * TOTAL is the honest batch wall a saturated driver would see.
    */
  private def runPass(spark: SparkSession, sfDir: String, parallelism: Int)
      : (Double, Seq[(String, Double, Boolean)]) = {
    val pool = Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    // deterministic (sorted) submission order → comparable per-round numbers
    val futures = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      Future {
        val s0 = System.nanoTime()
        // Full materialization: `df.count()` lets Catalyst prune every
        // unreferenced projection (md5/sha2/fingerprint columns would be
        // optimized away) and drop sorts — toRdd.count() executes the
        // complete physical plan, producing every output column.
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        (name, (System.nanoTime() - s0) / 1e9, ok)
      }
    }
    val results = futures.map(f => Await.result(f, Duration.Inf))
    val total = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    (total, results)
  }

  private def toJsonMap(results: Seq[(String, Double, Boolean)]): String =
    results.map { case (k, v, ok) =>
      // a failed query reports -1 so a broken query can never flatter (or
      // silently inflate) the numbers
      s"\"" + k + "\":" + (if (ok) v else -1.0)
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    // "both" (default) = concurrent batch first (round-over-round comparable
    // wall), then a sequential pass whose per-query numbers carry no
    // FAIR-pool queueing noise; "concurrent" / "sequential" run one pass.
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "both")
    require(Set("both", "concurrent", "sequential")(mode),
      s"SPARK_GRAFT_BENCH_MODE=$mode (want both|concurrent|sequential) — " +
        "a typo here would silently run both passes yet stamp the bogus " +
        "mode string into the committed record")
    val spark = LocalSpark.builder(cpus)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/file-system paths once so the first timed query
    // doesn't absorb session startup (~5s of JIT + scan init).
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
        graft.ops.Tables.events(spark, sfDir) // ensures nanos conf is set
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      }
    } catch { case _: Throwable => () }

    val parallelism = math.max(2, math.min(4, cpus))
    // Concurrent pass FIRST so its wall is measured under the same
    // conditions as rounds 1-4 (cold per-query codegen); the sequential
    // passes then benefit uniformly from the warm codegen cache — fine,
    // because their numbers are compared only against other sequential runs.
    val (concTotal, concResults) =
      if (mode != "sequential") runPass(spark, sfDir, parallelism)
      else (0.0, Seq.empty)
    // MEDIAN-of-N sequential passes (the r3 verdict's median policy, in the
    // harness itself): a single pass leaves GC/co-tenancy outliers in
    // individual queries (observed: one codec-heavy query swinging 3.6→10.9 s
    // between back-to-back single passes while the pass TOTALS moved 2%);
    // the per-query median over 3 passes is stable within ±10%.
    val seqPasses = sys.env.getOrElse("SPARK_GRAFT_SEQ_PASSES", "3").toInt
    val seqRuns: Seq[(Double, Seq[(String, Double, Boolean)])] =
      if (mode != "concurrent")
        (1 to seqPasses).map(_ => runPass(spark, sfDir, 1))
      else Seq.empty
    val seqResults: Seq[(String, Double, Boolean)] =
      if (seqRuns.isEmpty) Seq.empty
      else seqRuns.head._2.map { case (name, _, _) =>
        val times = seqRuns.map(_._2.find(_._1 == name).get)
        val sorted = times.map(_._2).sorted
        (name, sorted(sorted.size / 2), times.forall(_._3))
      }
    val seqTotal = // median pass total, same policy as the per-query numbers
      if (seqRuns.isEmpty) 0.0
      else seqRuns.map(_._1).sorted.apply(seqRuns.size / 2)

    // WARM concurrent pass LAST (round-13 lesson: the driver's 203.2 s
    // gate number mixed cold-JIT/codec warmup into the conc wall with no
    // receipt to decompose it — r13's first seq pass hit 580.9 s cold vs
    // 273.5 warm and the anomaly was unattributable). `value` stays the
    // COLD conc wall (comparable to every prior round); `value_warm` is
    // the same batch re-run after the seq passes warmed codegen/stages,
    // so a cold-session anomaly in the driver's record now reads off the
    // committed cold−warm delta instead of being guessed at.
    val (concWarmTotal, concWarmResults) =
      if (mode != "sequential") runPass(spark, sfDir, parallelism)
      else (0.0, Seq.empty[(String, Double, Boolean)])

    // `queries` carries the load-independent SEQUENTIAL per-query medians
    // (the regression-detection record the round-4 verdict asked for);
    // `value` stays the concurrent batch wall, comparable to prior rounds.
    // In single-pass modes each field falls back to the pass that ran.
    val queriesJson =
      toJsonMap(if (seqResults.nonEmpty) seqResults else concResults)
    val concJson = toJsonMap(concResults)
    val concWarmJson = toJsonMap(concWarmResults)
    val value = if (concResults.nonEmpty) concTotal else seqTotal
    val failed = (concResults ++ seqResults ++ concWarmResults).collect {
      case (k, _, false) => "\"" + k + "\""
    }.distinct.mkString("[", ",", "]")
    val seqTotalsJson = seqRuns.map(_._1).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$value,"unit":"sec","queries":$queriesJson,""" +
        s""""queries_concurrent":$concJson,"seq_total":$seqTotal,""" +
        s""""value_warm":$concWarmTotal,""" +
        s""""queries_concurrent_warm":$concWarmJson,""" +
        s""""seq_pass_totals":$seqTotalsJson,"seq_passes":$seqPasses,""" +
        s""""mode":"$mode","failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // Persist the FULL line: the driver's captured tail truncates the
    // totals and the early (alphabetically a*/b*) queries away, so three
    // rounds of artifacts had no computable batch total. Committed per
    // round as BENCH_SELF_r{N}.json.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // The driver keeps only a ~2.2 KB stdout TAIL, so the ~8 KB full line
    // above never parses on its side ("parsed": null, five rounds running).
    // The LAST stdout line is therefore a compact summary — totals and
    // failure list only, no per-query maps — that always fits the tail
    // whole; the per-query detail lives in the full line and $outFile.
    val nQueries = math.max(concResults.size, seqResults.size)
    println(
      s"""{"metric":"total","value":$value,"unit":"sec","sf":"$sfDir",""" +
        s""""n_queries":$nQueries,"seq_total":$seqTotal,""" +
        s""""value_warm":$concWarmTotal,"mode":"$mode",""" +
        s""""failed":$failed,"detail":"$outFile"}""")
    spark.stop()
  }
}
