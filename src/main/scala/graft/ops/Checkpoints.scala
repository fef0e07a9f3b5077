package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative operators (connected components,
  * k-means): every round must cut the plan or the lineage (and the
  * re-execution cost of a lost partition) grows without bound.
  *
  * Two modes, selected by the session conf `spark.graft.checkpoint.reliable`:
  *
  *   - default (false): `localCheckpoint` — blocks live in executor
  *     block-manager memory/disk. Fastest, but a lost executor loses the
  *     blocks AND the truncated lineage — fine single-JVM (local[n]),
  *     lossy on a real cluster.
  *   - `true`: reliable `checkpoint()` to the checkpoint dir — survives
  *     executor loss; the 100 TB setting. On a non-local master the
  *     checkpoint dir MUST be durable shared storage (HDFS/object store)
  *     set via `SparkContext.setCheckpointDir` — a driver-local temp dir
  *     would scatter partitions across executors' local disks, so cut()
  *     refuses to invent one and fails fast instead. Reliable checkpoint
  *     files are only auto-deleted when
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true` (set it at
  *     context creation for long-lived jobs, or use a per-job checkpoint
  *     dir deleted on completion).
  */
object Checkpoints {

  val ReliableConf = "spark.graft.checkpoint.reliable"

  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A per-call-unique observed-metric name. Operators that end in an
    * `observe()` CollectMetrics barrier need this: two instances of the
    * same operator composed in one query would otherwise both register
    * the same metric name and fail analysis with "Multiple definitions
    * of observed metrics".
    */
  def freshMetricName(prefix: String): String =
    s"${prefix}_${metricSeq.incrementAndGet()}"

  /** Materialize `df` and truncate its lineage per the session's mode. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        require(sc.isLocal,
          "reliable checkpoints on a non-local master need " +
            "SparkContext.setCheckpointDir pointed at durable shared storage")
        val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
        // reliable checkpoint FILES are only auto-deleted with
        // spark.cleaner.referenceTracking.cleanCheckpoints=true, which we
        // can't set on a running context — since WE invented this temp
        // dir, delete it at JVM exit so repeated local runs don't leak
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          catch { case _: Exception => () } // best-effort cleanup
        }))
        sc.setCheckpointDir(dir.toString)
      }
      // checkpoint() runs one job to materialize and a SECOND to write the
      // checkpoint files; without a persist in between the second job
      // recomputes the whole plan (RDD.checkpoint contract). Cache first,
      // write from cache, then drop the cache — the checkpoint files carry
      // the data from here on.
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint(eager = true)
      finally cached.unpersist(blocking = false)
    } else df.localCheckpoint(eager = true)
  }

  /** Barrier between an expensive EXCHANGE-FREE segment and a global
    * (presentation) sort. A range sort SAMPLES its child to pick
    * partition boundaries, then executes the child again for the real
    * shuffle — when the child segment has no exchange of its own (a
    * chain of broadcast joins / generated columns), the whole segment
    * runs TWICE per action. A hash repartition here materializes the
    * segment once as shuffle files; the sampling pass then replays
    * those files instead of the compute. Lazy and job-free at
    * construction (unlike [[cutLazy]] on an exchanging subtree — see
    * its AQE caveat), at the cost of one extra exchange of the
    * (usually small) verified rows.
    */
  def sortBarrier(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    df.repartition(key)

  /** Optimizer barrier between an EXPENSIVE per-row projection and the
    * filter that consumes it. Predicate pushdown substitutes aliases
    * into the pushed predicate — and into a join's post-condition — so
    * a verify like `select(intersect-size as x).filter(f(x))` ends up
    * evaluating the intersect once per reference in the predicate PLUS
    * once in the surviving projection (measured: 3 `array_intersect`
    * evaluations per candidate pair on the containment verify, 2
    * intersect+union pairs on the Jaccard verify). Filters cannot cross
    * a CollectMetrics node, so a free-riding count barrier pins the
    * projection to exactly one evaluation; no exchange, no row change,
    * and the candidate count lands in the query's observed metrics as a
    * bonus. Name is per-call unique so two barriered operators compose
    * in one query.
    */
  def exprBarrier(df: DataFrame, prefix: String): DataFrame =
    df.observe(freshMetricName(prefix),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"))

  /** [[cut]] with aggregate metrics OBSERVED during the materialization
    * job (guide §1: fewer passes). Iterative operators (connected
    * components) previously paid TWO actions per round — the cut plus a
    * separate convergence aggregate over the fresh checkpoint; a
    * `CollectMetrics` node rides the cut's one job and delivers the same
    * scalars through the [[org.apache.spark.sql.Observation]] listener
    * (the [[graft.streaming.VersionedIngest.writeBatchPartition]]
    * precedent, applied to the checkpoint action). Returns the cut frame
    * (the observe node is NOT part of the returned plan — it already
    * fired) and the observed metric row as a name → value map.
    */
  def cutObserved(df: DataFrame,
                  aggs: org.apache.spark.sql.Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation(freshMetricName("cut_obs"))
    val out = cut(df.observe(obs, aggs.head, aggs.tail: _*))
    (out, obs.get)
  }

  /** [[cut]] WITHOUT the construction-time job: the checkpoint
    * materializes at the frame's FIRST action and is reused from blocks
    * after that — the same share-once semantics, deferred. This is the
    * form for share-inside-one-query cuts (a subtree read N times by
    * one plan), where eagerness buys nothing. Keep the EAGER [[cut]]
    * for (a) iterative loops (lineage must truncate each round BEFORE
    * the next builds on it), (b) read-modify-write cycles (the read
    * must materialize before the write overwrites its input), and (c)
    * measure-then-choose reads (the count IS the point).
    *
    * AQE caveat (measured, round 14): when the subtree being cut
    * CONTAINS AN EXCHANGE and adaptive execution is on, building the
    * checkpoint RDD materializes the plan's shuffle stages at
    * construction — the "lazy" checkpoint still runs those jobs up
    * front (only the final stage defers). Construction stays job-free
    * only for exchange-free subtrees (a checkpointed input's
    * filter/select, the card's decode union); an exchanging subtree
    * shared inside one query can go through Catalyst's exchange reuse
    * instead ([[graft.ops.Dedup.signaturePairsCollapsedExpanded]]'s
    * sharing note).
    *
    * Reliable mode note: a reliable checkpoint needs the persist dance
    * around an eager materialization, so in that mode this falls back
    * to the eager [[cut]] — correctness is identical, only plan-build
    * neutrality is local-mode (the registry autos are eager on a
    * cluster anyway, per their documented contract).
    */
  def cutLazy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) cut(df) else df.localCheckpoint(eager = false)
  }

  // Superseded rounds: localCheckpoint blocks are freed by the
  // ContextCleaner once the driver drops the reference (the loops reassign
  // their frame each round, so at most ~2 rounds are strongly reachable);
  // reliable checkpoint FILES need the cleanCheckpoints conf above or a
  // per-job checkpoint dir deleted on completion.
}
