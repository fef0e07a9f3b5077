package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink semantics mirroring the reference's targets (SURVEY §2.1 S5-S7).
  *
  * The reference writes each artifact to `data/{db}/{file}` /
  * `reports/{db}/{file}.html` via Luigi `LocalTarget.temporary_path()` —
  * write-to-temp then atomic rename (/root/reference/rds_pgbadger.py:44-49)
  * — and *skips* any task whose target already exists (Luigi memoization of
  * `output()`, :25-26,70-71). The Spark equivalents:
  *
  *   - atomicity: Spark's FileOutputCommitter already stages every write
  *     under `_temporary/` and renames on commit — same contract, free;
  *   - memoization / idempotence: `SaveMode.Ignore` per path, or dynamic
  *     partition overwrite for per-partition re-runs (re-running one hour
  *     replaces exactly that hour's partition, never the whole table);
  *   - the S3 copy (rds_pgbadger.py:25-31) is the same `write` against an
  *     `s3a://` URI — auth/credentials belong to the cluster's Hadoop
  *     conf, exactly as SigV4 signing was the AWS SDK's job.
  */
object Sinks {

  /** Luigi-style memoized write: no-op if the target already exists. */
  def writeIfAbsent(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Ignore).parquet(path)

  /** Deterministic model-cache location for a model trained off a corpus
    * table: keyed by the table's path and a fingerprint of its file
    * listing, so a data refresh re-trains and an unchanged corpus reuses
    * the persisted model. This is the train-once/score-many seam — pair
    * with [[materializeModel]] (in production the base would be a
    * warehouse path, not the local tmpdir).
    *
    * For a directory-shaped table the fingerprint covers every data
    * file's (name, length, mtime) — a single directory status would not
    * do: directory length is meaningless (0 on HDFS) and its mtime only
    * moves when entries are added/removed, so an in-place rewrite of one
    * part file would silently reuse a stale model.
    *
    * `contentDigest = true` closes the last gap — a same-length
    * same-mtime-tick content rewrite — by hashing the FILE BYTES instead
    * of the (length, mtime) pair. That is a full read of the corpus, so
    * it only pays off when training costs much more than one scan (it
    * usually does: k-means is `iters` scans plus driver round-trips).
    */
  def modelPath(spark: org.apache.spark.sql.SparkSession,
                corpusTable: String, modelName: String,
                contentDigest: Boolean = false): String = {
    val p = new org.apache.hadoop.fs.Path(corpusTable)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    def fileKey(s: org.apache.hadoop.fs.FileStatus): String =
      if (contentDigest) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val in = fs.open(s.getPath)
        try {
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        md.digest().map("%02x".format(_)).mkString
      } else s"${s.getLen}|${s.getModificationTime}"
    val entries =
      if (!st.isDirectory) Seq(fileKey(st))
      else fs.listStatus(p).toSeq
        .filterNot(_.getPath.getName.startsWith("_")) // commit markers churn
        .map(s => s"${s.getPath.getName}|${fileKey(s)}")
        .sorted
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((s"${p.toUri}" +: entries).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_models/${modelName}_$key"
  }

  /** Train-once/score-many: return the model persisted at `path`,
    * training and publishing it first only if absent. The existence
    * check comes BEFORE `train` is evaluated — training may do eager
    * driver-side work (k-means collect loops), which `SaveMode.Ignore`
    * alone cannot skip (it elides the write job, not the argument).
    *
    * A model is "present" only when its `_SUCCESS` marker is: a bare
    * directory-exists check would permanently serve the torn output of a
    * trainer that crashed mid-write (the partial dir exists, so training
    * is skipped forever and scoring silently reads incomplete data).
    * Publication is write-to-temp + atomic rename — the model dir appears
    * complete or not at all — and a committed-but-markerless leftover
    * from the old direct-write scheme (or a crash) is deleted and
    * re-trained. Concurrent trainers race to a single winner: the loser's
    * rename fails against the existing dir and its temp is discarded.
    * (On object stores without atomic dir rename, where "rename" is a
    * non-atomic copy+delete, publish through a manifest/pointer instead.)
    */
  def materializeModel(spark: org.apache.spark.sql.SparkSession,
                       path: String)(train: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // completeness = our OWN marker (written below before the atomic
    // rename), with _SUCCESS accepted for dirs published by the old
    // direct-write scheme. Relying on _SUCCESS alone would tie
    // correctness to mapreduce.fileoutputcommitter.marksuccessfuljobs —
    // with markers disabled every call would judge a valid model torn,
    // delete it, and retrain forever.
    def markedIn(dir: org.apache.hadoop.fs.Path) =
      fs.exists(new org.apache.hadoop.fs.Path(dir, "_GRAFT_OK")) ||
        fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))
    def committed = markedIn(p)
    if (fs.exists(p) && !committed) {
      // Torn leftover of a crashed trainer. Deleting in place has a TOCTOU
      // hazard under the supported concurrent-trainer regime: between the
      // `committed` check and the delete, a peer may delete the same torn
      // dir and publish a VALID model, which a plain delete would discard.
      // Instead, move whatever is at `p` aside with one atomic rename and
      // re-judge the MOVED dir (now immutable — no peer can change it):
      // genuinely torn → delete it; actually a peer's completed publish
      // that won the race → rename it straight back (or drop it if yet
      // another peer has re-published meanwhile — same corpus key, either
      // model is valid). A finished training run is never discarded.
      // A reader resolving the model path between the rename-aside and
      // the rename-back transiently sees a missing directory — which is
      // why reads go through [[readModel]]'s bounded retry (below and
      // for external readers): repair is trainer-safe, and readers ride
      // out the window instead of failing on it.
      val aside = new org.apache.hadoop.fs.Path(
        p.getParent, s".${p.getName}.torn-${System.nanoTime()}")
      if (fs.rename(p, aside)) {
        if (!markedIn(aside)) fs.delete(aside, true)
        else {
          // the moved dir is a VALID model (a peer won the repair race
          // and published between our judgment and the move): put it
          // back. A transient rename-back failure must NOT discard a
          // finished training run — retry, and if the path is still
          // free but the rename keeps failing, LEAVE the aside dir for
          // an age-gated sweep (liveness: the train branch
          // below republishes; the aside copy ages out or is recovered
          // by an operator).
          var restored = fs.exists(p)
          var attempts = 0
          while (!restored && attempts < 3) {
            restored = fs.rename(aside, p) || fs.exists(p)
            attempts += 1
          }
          if (restored && fs.exists(aside)) fs.delete(aside, true)
        }
      } // rename lost a race (peer already repaired) — fall through
    }
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, s".${p.getName}.train-${System.nanoTime()}")
      try {
        train.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        // marker travels INSIDE the dir through the atomic rename, so a
        // published dir is complete-by-construction under any committer
        fs.create(new org.apache.hadoop.fs.Path(tmp, "_GRAFT_OK"), true)
          .close()
        // a concurrent trainer may have published while we trained; their
        // model is equally valid (same corpus key) — keep theirs. The
        // exists-guard also prevents HDFS rename-INTO-existing-dir nesting.
        if (fs.exists(p) || !fs.rename(tmp, p)) fs.delete(tmp, true)
      } catch {
        case e: Throwable =>
          try fs.delete(tmp, true) catch { case _: Exception => () }
          throw e
      }
    }
    // a PEER's in-flight torn-dir repair can hold the path aside for a
    // moment between our publish check and this read — ride it out
    readModel(spark, path)
  }

  /** Read a model dir published by [[materializeModel]], riding out a
    * concurrent torn-dir REPAIR's transient absence (the rename-aside →
    * judge → rename-back window): bounded exponential backoff until the
    * path resolves, then the read. A path still absent at the deadline
    * fails with the underlying error — absence that long is a real
    * missing model, not a repair window. This is the reader half of the
    * repair contract: repair is trainer-safe by construction, and
    * readers are safe by retry (the remaining mid-scan race — a repair
    * moving files under an already-resolved scan — is the standard
    * concurrent-mutation caveat every directory-shaped table has;
    * tables needing stronger isolation publish through [[Versioned]]).
    */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String,
                waitMs: Long = 10000): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.currentTimeMillis() + waitMs
    var delay = 25L
    while (!fs.exists(p) && System.currentTimeMillis() < deadline) {
      Thread.sleep(delay)
      delay = math.min(delay * 2, 500L)
    }
    spark.read.parquet(path)
  }

  /** Publish a [[graft.ops.TextAnalysis.trainingDataBuild]] result as a
    * versioned DATASET RELEASE: the build rows become the next full
    * version of `table` with the build parameters AND the realized
    * doc/token counts stamped into the version manifest — a training
    * run records the version number it read, `Versioned.readVersion`
    * months later returns the SAME rows, and `metaOf` answers "which
    * τ/α/budget produced this data and how much is there" without
    * re-deriving anything. This is the operational close of the n99
    * build: the pipeline emits a release, not a directory.
    *
    * The build frame is lineage-cut before publishing so the counts
    * aggregate and the version write share ONE evaluation of the
    * (expensive) build pipeline; the cut output is kept-docs-sized.
    * Returns the published version's path (the version number is its
    * last `v-<n>` segment).
    */
  def publishTrainingBuild(build: DataFrame, table: String,
                           params: Map[String, String],
                           keepVersions: Int = 2): String = {
    val b = graft.ops.Checkpoints.cut(build)
    val r = b.agg(count(lit(1)).as("n"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("t")).head()
    Versioned.publish(b, table, keepVersions,
      meta = params ++ Map(
        "n_docs" -> r.getLong(0).toString,
        "n_tokens" -> r.getLong(1).toString))
  }

  /** Versioned-pointer table layout — concurrent-reader-safe
    * publication without a rename-swap window. A one-line
    * `_current` file names the live version `v-<n>`; every version dir
    * carries a tiny `_MANIFEST` naming the DATA directories (relative to
    * the table root) that make up that snapshot, plus string metadata.
    * Two commit shapes share the layout:
    *
    *   - [[publish]] (full): data is written INTO `v-<n>/` and the
    *     manifest references only it — O(df), the rewrite shape;
    *   - [[append]] (incremental): ONLY the new rows are written, to
    *     `data/c-<n>-<nanos>/`, and the manifest = the previous
    *     version's directory list + the new commit dir — O(batch)
    *     regardless of table size. This is what keeps a streaming ingest
    *     LINEAR over its life: B batches write O(total new rows) bytes,
    *     not O(B·index) (the table-format commit idea — a version is a
    *     manifest, not a copy).
    *
    * Writers make the new version COMPLETE (invisible until named) and
    * then atomically replace the pointer via POSIX/`FileContext` rename,
    * so a reader that resolved the pointer a moment earlier keeps
    * reading its (retained) version and a reader resolving now sees the
    * new one — there is no instant where the table is absent or partial.
    * Retention (`keepVersions`) covers in-flight readers; pruning
    * removes version dirs past retention and garbage-collects `data/`
    * commit dirs no retained manifest references (a full version dir
    * referenced by a newer append manifest survives until that manifest
    * itself is pruned). Version dirs published before the manifest
    * scheme (data, no `_MANIFEST`) read as themselves.
    *
    * WRITE CONCURRENCY CONTRACT: readers are unlimited; writers are
    * serialized by a LOCK-FILE LEASE — an atomic exclusive create of
    * `_publish.lock` carrying the holder's OWNER TOKEN. A second
    * in-flight publisher fails LOUDLY with
    * ConcurrentModificationException instead of racing the version
    * number; callers retry after the winner finishes. A publisher that
    * dies holding the lock is self-healed by a lease age-out
    * (`lockLeaseMs`, default 15 min — size it above the longest version
    * write): the breaker RENAMES the stale lock to a unique name before
    * deleting it, so two breakers can never each delete-then-create and
    * both enter (rename is atomic; exactly one wins). Release deletes
    * the lock only while it still holds this publisher's token — a
    * holder that overran its lease never deletes a successor's lock.
    * Only create-fails-if-exists maps to the loud contention error;
    * any other IOException (permissions, quota, network) propagates
    * as itself. Full optimistic multi-writer commit (pointer CAS +
    * automatic retry) remains a table format's job; the lease turns the
    * documented race into a detected, recoverable failure.
    */
  object Versioned {
    private def fsOf(spark: org.apache.spark.sql.SparkSession,
                     p: org.apache.hadoop.fs.Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def pointer(table: String) =
      new org.apache.hadoop.fs.Path(table, "_current")

    private val ManifestHeader = "graft-manifest-v1"

    /** The live version's data path, from the pointer file. For an
      * append (manifest-only) version this is the version DIRECTORY —
      * resolve its data through [[read]]/[[currentDirs]], not a direct
      * parquet read of this path.
      */
    def currentPath(spark: org.apache.spark.sql.SparkSession,
                    table: String): String =
      new org.apache.hadoop.fs.Path(table,
        currentVersion(spark, table)).toString

    private def currentVersion(spark: org.apache.spark.sql.SparkSession,
                               table: String): String = {
      val ptr = pointer(table)
      val fs = fsOf(spark, ptr)
      val in = fs.open(ptr)
      val name =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(name.matches("v-\\d+"), s"corrupt pointer $ptr: '$name'")
      name
    }

    /** Parse a version dir's `_MANIFEST`: (meta, data dirs relative to
      * the table root). None for a pre-manifest (legacy) version dir,
      * which reads as itself.
      */
    private def manifest(fs: org.apache.hadoop.fs.FileSystem,
                         tableP: org.apache.hadoop.fs.Path, vName: String)
        : Option[(Map[String, String], Seq[String])] = {
      val mf = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(tableP, vName), "_MANIFEST")
      if (!fs.exists(mf)) None
      else {
        val in = fs.open(mf)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toVector
          finally in.close()
        require(lines.headOption.contains(ManifestHeader),
          s"corrupt manifest $mf: ${lines.headOption.getOrElse("<empty>")}")
        val meta = lines.collect {
          case l if l.startsWith("meta ") =>
            val kv = l.drop(5).split("=", 2)
            kv(0) -> (if (kv.length > 1) kv(1) else "")
        }.toMap
        val dirs = lines.collect { case l if l.startsWith("dir ") => l.drop(4) }
        Some((meta, dirs))
      }
    }

    /** The data directories of version `vName`, absolute. */
    private def dirsOf(fs: org.apache.hadoop.fs.FileSystem,
                       tableP: org.apache.hadoop.fs.Path,
                       vName: String): Seq[String] =
      manifest(fs, tableP, vName).map(_._2).getOrElse(Seq(vName))
        .map(rel => new org.apache.hadoop.fs.Path(tableP, rel).toString)

    /** The live version's data directories — the reader-side seam for
      * engines that want the file list (manifest resolution without a
      * DataFrame).
      */
    def currentDirs(spark: org.apache.spark.sql.SparkSession,
                    table: String): Seq[String] = {
      val tableP = new org.apache.hadoop.fs.Path(table)
      dirsOf(fsOf(spark, tableP), tableP, currentVersion(spark, table))
    }

    /** The live version's metadata (empty for legacy/meta-less
      * versions) — O(1): one tiny manifest read, never a data scan.
      * This is where an ingest keeps its high-water batch id instead of
      * aggregating the whole index per batch.
      */
    def meta(spark: org.apache.spark.sql.SparkSession,
             table: String): Map[String, String] = {
      val tableP = new org.apache.hadoop.fs.Path(table)
      manifest(fsOf(spark, tableP), tableP, currentVersion(spark, table))
        .map(_._1).getOrElse(Map.empty)
    }

    /** Read the live version — the reader half of the contract. */
    def read(spark: org.apache.spark.sql.SparkSession,
             table: String): DataFrame =
      spark.read.parquet(currentDirs(spark, table): _*)

    /** The version numbers still on disk, ascending. Every listed
      * version is fully readable via [[readVersion]]: pruning removes
      * whole version dirs past retention, and the data-dir GC only
      * collects commit dirs referenced by NO version dir still present —
      * a listed version's data is never out from under it.
      */
    def versions(spark: org.apache.spark.sql.SparkSession,
                 table: String): Seq[Long] = {
      val tableP = new org.apache.hadoop.fs.Path(table)
      fsOf(spark, tableP).listStatus(tableP).toSeq
        .map(_.getPath.getName).filter(_.matches("v-\\d+"))
        .map(_.drop(2).toLong).sorted
    }

    /** TIME TRAVEL: read a pinned snapshot version — the reproducibility
      * half of the versioned contract (a training run records the
      * version number it read; a re-run months later reads the SAME
      * rows even though the live table has moved on). Only versions
      * within retention exist ([[versions]] lists them); a pruned
      * version fails loudly with the retention knob to turn, instead of
      * resolving to wrong data. Size `keepVersions` to the
      * reproducibility window, not just reader lifetimes.
      */
    def readVersion(spark: org.apache.spark.sql.SparkSession,
                    table: String, version: Long): DataFrame = {
      val tableP = new org.apache.hadoop.fs.Path(table)
      val fs = fsOf(spark, tableP)
      require(fs.exists(new org.apache.hadoop.fs.Path(tableP, s"v-$version")),
        s"version v-$version of $table does not exist " +
          s"(on disk: ${versions(spark, table).mkString(", ")}) — " +
          "pruned past keepVersions, or never published; raise " +
          "keepVersions to cover the reproducibility window")
      spark.read.parquet(dirsOf(fs, tableP, s"v-$version"): _*)
    }

    /** A pinned version's manifest metadata, like [[meta]] for the live
      * one (empty for legacy/meta-less versions).
      */
    def metaOf(spark: org.apache.spark.sql.SparkSession,
               table: String, version: Long): Map[String, String] = {
      val tableP = new org.apache.hadoop.fs.Path(table)
      manifest(fsOf(spark, tableP), tableP, s"v-$version")
        .map(_._1).getOrElse(Map.empty)
    }

    /** Publish `df` as a FULL next version (complete data rewrite) and
      * atomically repoint `_current`; returns the new version's path.
      * Versions older than the newest `keepVersions` are pruned
      * (in-flight readers of a retained version are unaffected; size
      * retention to reader lifetimes). `meta` is stamped into the
      * version's manifest ([[Versioned.meta]] reads it back). Throws
      * ConcurrentModificationException when another publisher holds the
      * lease — retry after it finishes; a crashed holder's lock ages
      * out after `lockLeaseMs`.
      */
    def publish(df: DataFrame, table: String, keepVersions: Int = 2,
                lockLeaseMs: Long = 15L * 60 * 1000,
                meta: Map[String, String] = Map.empty): String =
      withLease(df.sparkSession, table, lockLeaseMs) { (tableP, fs) =>
        commitLocked(df, df.sparkSession, tableP, fs, table, keepVersions,
          meta, inherit = false)
      }

    /** Append `df` as the next version WITHOUT rewriting existing data:
      * only the new rows are written (to `data/c-<n>-<nanos>/`); the new
      * version's manifest inherits the previous version's directory
      * list. O(batch) per call — the streaming-ingest publish shape.
      * Same lease, retention, and meta contract as [[publish]].
      * Appended batches must share the live schema (the reader resolves
      * a multi-directory parquet scan).
      */
    def append(df: DataFrame, table: String, keepVersions: Int = 2,
               lockLeaseMs: Long = 15L * 60 * 1000,
               meta: Map[String, String] = Map.empty): String =
      withLease(df.sparkSession, table, lockLeaseMs) { (tableP, fs) =>
        commitLocked(df, df.sparkSession, tableP, fs, table, keepVersions,
          meta, inherit = true)
      }

    private def withLease[A](spark: org.apache.spark.sql.SparkSession,
                             table: String, lockLeaseMs: Long)(
        body: (org.apache.hadoop.fs.Path,
               org.apache.hadoop.fs.FileSystem) => A): A = {
      val tableP = new org.apache.hadoop.fs.Path(table)
      val fs = fsOf(spark, tableP)
      fs.mkdirs(tableP)
      val lock = new org.apache.hadoop.fs.Path(tableP, "_publish.lock")
      // break a dead publisher's lease: age-gated —
      // a LIVE publisher's lock is younger than lockLeaseMs by contract.
      // The break is rename-then-delete, NOT delete-in-place: two racing
      // breakers each running delete-then-create could interleave so the
      // slower delete removes the faster breaker's FRESH lock and both
      // enter. Rename to a unique name is atomic — exactly one breaker's
      // rename succeeds; the loser falls through to the exclusive create
      // and loses that too.
      if (fs.exists(lock) &&
          fs.getFileStatus(lock).getModificationTime <
            System.currentTimeMillis() - lockLeaseMs) {
        val broken = new org.apache.hadoop.fs.Path(tableP,
          s"._publish.lock.broken-${System.nanoTime()}")
        if (scala.util.Try(fs.rename(lock, broken)).getOrElse(false))
          fs.delete(broken, false)
      }
      // atomic exclusive create = the lease acquisition, carrying this
      // publisher's owner token so release can prove ownership. On the
      // local FS Hadoop's create(overwrite=false) is check-then-create
      // (TOCTOU), so local paths go through NIO (O_EXCL, atomic);
      // elsewhere (HDFS) create-fails-if-exists is atomic server-side.
      // ONLY already-exists means contention — any other IOException
      // (permissions, quota, network) is a real infrastructure failure
      // and propagates as itself instead of masquerading as a lease
      // holder that will never release.
      val token = java.util.UUID.randomUUID().toString
      val acquired =
        try {
          if (fs.getUri.getScheme == "file")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(lock.toUri.getPath),
              token.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
          else {
            val out = fs.create(lock, false)
            try out.write(token.getBytes("UTF-8"))
            finally out.close()
          }
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      if (!acquired)
        throw new java.util.ConcurrentModificationException(
          s"publish: another publisher holds $lock — concurrent publishes " +
            "to a Versioned table are serialized by this lease (loud " +
            "failure, not a silent race). Retry after the holder finishes; " +
            s"a crashed holder's lock ages out after ${lockLeaseMs} ms.")
      try body(tableP, fs)
      finally releaseIfOwned(fs, lock, token)
    }

    /** Delete the lease only while it still carries `token`: a publisher
      * that overran its lease (its lock aged out and a successor broke
      * it and acquired) must NOT delete the successor's lock on the way
      * out. A read failure (lock already gone) is a no-op.
      */
    private[graft] def releaseIfOwned(fs: org.apache.hadoop.fs.FileSystem,
                                        lock: org.apache.hadoop.fs.Path,
                                        token: String): Boolean = {
      val owned = scala.util.Try {
        val in = fs.open(lock)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }.toOption.contains(token)
      owned && fs.delete(lock, false)
    }

    private def commitLocked(df: DataFrame,
                             spark: org.apache.spark.sql.SparkSession,
                             tableP: org.apache.hadoop.fs.Path,
                             fs: org.apache.hadoop.fs.FileSystem,
                             table: String, keepVersions: Int,
                             metaKv: Map[String, String],
                             inherit: Boolean): String = {
      // sweep pointer temps and renamed-aside stale locks a crashed
      // publisher/breaker left behind (uniquely named, so they
      // accumulate silently otherwise)
      fs.listStatus(tableP).toSeq
        .filter(s => s.getPath.getName.contains("_current.tmp-") ||
          s.getPath.getName.startsWith("._publish.lock.broken-"))
        .foreach(s => fs.delete(s.getPath, false))
      // Sweep ORPHAN versions too: a publisher that crashed after writing
      // its version dir but before repointing leaves a dir numbered above
      // the pointed version that was never live. Left in place it would
      // consume a retention slot while numeric pruning deleted the
      // just-replaced LIVE version — exactly the in-flight-reader window
      // keepVersions exists to protect. With orphans gone, numeric order
      // equals publication-lineage order and the prune below is safe.
      // (This sweep is also why the SINGLE-WRITER contract above is a
      // contract, not advice: a second in-flight publisher's unfinished
      // version dir is indistinguishable from a crashed one's.)
      // A corrupt/unreadable pointer yields None — the sweep is skipped
      // and the publish proceeds to REWRITE the pointer, self-healing the
      // table rather than failing forever on the broken state.
      val pointed: Option[Long] =
        if (!fs.exists(pointer(table))) None
        else scala.util.Try(
          currentPath(spark, table).split('/').last.drop(2).toLong).toOption
      fs.listStatus(tableP).toSeq.map(_.getPath.getName)
        .filter(_.matches("v-\\d+")).map(_.drop(2).toLong)
        .filter(v => pointed.exists(v > _))
        .foreach { v =>
          // a silently failed delete would put the orphan back in the
          // numeric prune below, re-enabling the live-version eviction
          // this sweep exists to prevent — fail loudly instead
          val orphan = new org.apache.hadoop.fs.Path(tableP, s"v-$v")
          require(fs.delete(orphan, true) || !fs.exists(orphan),
            s"publish: could not sweep orphan version $orphan")
        }
      val existing = fs.listStatus(tableP).toSeq.map(_.getPath.getName)
        .filter(_.matches("v-\\d+")).map(_.drop(2).toLong)
      val next = (existing.sorted.lastOption.getOrElse(0L) + 1)
      val vName = s"v-$next"
      val vPath = new org.apache.hadoop.fs.Path(tableP, vName)
      // --- data: full rewrite into the version dir, or O(batch) commit
      // dir + inherited manifest (the append-only path) ---
      val dirs: Seq[String] =
        if (!inherit) {
          df.write.mode(SaveMode.Overwrite).parquet(vPath.toString)
          Seq(vName)
        } else {
          val inherited = pointed match {
            case Some(v) => manifest(fs, tableP, s"v-$v").map(_._2)
              .getOrElse(Seq(s"v-$v"))
            case None => Seq.empty
          }
          val commitDir = s"data/c-$next-${System.nanoTime()}"
          df.write.mode(SaveMode.Overwrite).parquet(
            new org.apache.hadoop.fs.Path(tableP, commitDir).toString)
          inherited :+ commitDir
        }
      // --- manifest: tiny, written before the pointer names the version
      metaKv.foreach { case (k, v) =>
        require(k.matches("[A-Za-z0-9_.:-]+") && !v.contains("\n"),
          s"manifest meta key/value not line-safe: '$k'='$v'")
      }
      val mf = new org.apache.hadoop.fs.Path(vPath, "_MANIFEST")
      val body = (ManifestHeader +:
        (metaKv.toSeq.sorted.map { case (k, v) => s"meta $k=$v" } ++
          dirs.map(d => s"dir $d"))).mkString("", "\n", "\n")
      val mfOut = fs.create(mf, true)
      try mfOut.write(body.getBytes("UTF-8")) finally mfOut.close()
      // The version is complete (data committer-renamed, manifest in
      // place) but unnamed until the pointer moves — publish = one atomic
      // file replace. The replace primitive is filesystem-specific:
      // HDFS's rename(OVERWRITE) is atomic, but on the LOCAL filesystem
      // Hadoop's overwrite rename is delete-then-rename — a reader
      // between the two sees NO pointer (observed as a
      // FileNotFoundException under a racing reader), so local paths go
      // through POSIX rename(2) via NIO, which replaces atomically.
      // Object stores without an atomic replace need their atomic PUT
      // (a table format's commit protocol) instead.
      val ptr = pointer(table)
      if (fs.getUri.getScheme == "file") {
        val tmpNio = java.nio.file.Paths.get(ptr.toUri.getPath + s".tmp-${System.nanoTime()}")
        java.nio.file.Files.write(tmpNio, vName.getBytes("UTF-8"))
        java.nio.file.Files.move(tmpNio,
          java.nio.file.Paths.get(ptr.toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } else {
        val tmp = new org.apache.hadoop.fs.Path(tableP,
          s"._current.tmp-${System.nanoTime()}")
        val out = fs.create(tmp, true)
        try out.write(vName.getBytes("UTF-8")) finally out.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          tableP.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
      // --- prune versions: never the live one, never the newest
      // keepVersions. A stale FULL version dir still referenced by a
      // retained append manifest is DATA now — it survives until the
      // last manifest referencing it is itself pruned (then it is stale
      // and unreferenced, and this same pass deletes it).
      val all = (existing :+ next).sorted
      val retainedV = all.takeRight(math.max(1, keepVersions))
      val referenced: Set[String] = retainedV
        .flatMap(v => manifest(fs, tableP, s"v-$v").map(_._2)
          .getOrElse(Seq(s"v-$v")))
        .toSet
      all.dropRight(math.max(1, keepVersions))
        .filterNot(v => referenced.contains(s"v-$v"))
        .foreach(v => fs.delete(
          new org.apache.hadoop.fs.Path(tableP, s"v-$v"), true))
      // --- GC append-commit data dirs no surviving manifest references:
      // pruned-away versions' commits, and a crashed append's data dir
      // that never got a manifest (its version number was orphan-swept).
      // Under the lease there is no in-flight writer to confuse this.
      val dataP = new org.apache.hadoop.fs.Path(tableP, "data")
      if (fs.exists(dataP)) {
        val live: Set[String] = fs.listStatus(tableP).toSeq
          .map(_.getPath.getName).filter(_.matches("v-\\d+"))
          .flatMap(vn => manifest(fs, tableP, vn).map(_._2)
            .getOrElse(Seq(vn)))
          .toSet
        fs.listStatus(dataP).toSeq
          .filterNot(s => live.contains(s"data/${s.getPath.getName}"))
          .foreach(s => fs.delete(s.getPath, true))
      }
      vPath.toString
    }
  }

  /** Luigi-style memoized ATOMIC string artifact (the reference's
    * `LocalTarget.temporary_path()` + rename for its HTML reports,
    * rds_pgbadger.py:44-49, with the exists-check memoization of
    * :25-26,70-71): no-op returning false if `path` exists, else write
    * to a sibling temp file and rename into place. Goes through the
    * path's own Hadoop FileSystem so the same call publishes to local
    * disk, HDFS, or s3a (where "rename" is the store's copy semantics,
    * exactly like the reference's boto upload).
    */
  def writeStringIfAbsent(spark: org.apache.spark.sql.SparkSession,
                          path: String, content: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) false
    else {
      val tmp = new org.apache.hadoop.fs.Path(
        dst.getParent, s".${dst.getName}.tmp-${System.nanoTime()}")
      // any failure between create and rename must remove the uniquely-
      // named temp, or every retry leaks another one into the output dir
      try {
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, dst)) {
          fs.delete(tmp, false)
          // a concurrent writer won the rename — the artifact exists, which
          // is exactly the memoized outcome
          if (!fs.exists(dst))
            throw new java.io.IOException(s"could not publish $dst")
          false
        } else true
      } catch {
        case e: Throwable =>
          try fs.delete(tmp, false) catch { case _: Exception => () }
          throw e
      }
    }
  }
}
