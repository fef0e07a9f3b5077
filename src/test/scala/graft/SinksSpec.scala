package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Local-disk FileSystem under a distinct scheme whose file CREATE fails
  * with a quota-style IOException — drives the SinksSpec case proving a
  * non-contention infrastructure failure during lease acquisition is
  * not misreported as "another publisher holds the lock". Instantiated
  * reflectively by Hadoop via `fs.graftmock.impl`.
  */
class QuotaFailLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (f.getName == "_publish.lock")
      throw new java.io.IOException("simulated quota exceeded")
    else super.create(f, overwrite)
}

/** S5-S7 sink semantics: memoized write (Luigi `output().exists()` skip),
  * memoized model materialization, and the versioned-pointer tables.
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writeIfAbsent is a no-op when the target exists (S7)") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t"
    Sinks.writeIfAbsent(Seq(1, 2, 3).toDF("x"), dir)
    Sinks.writeIfAbsent(Seq(99).toDF("x"), dir) // must be ignored
    val got = spark.read.parquet(dir).as[Int].collect().sorted
    assert(got === Array(1, 2, 3))
  }

  test("materializeModel evaluates the training thunk only when absent") {
    val dir = Files.createTempDirectory("graft_model").toString + "/m"
    var trained = 0
    def train = { trained += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val first = Sinks.materializeModel(spark, dir)(train)
    assert(first.count() === 2 && trained === 1)
    // second call must short-circuit BEFORE the thunk: eager trainers
    // (k-means collect loops) would otherwise re-train on every score
    val second = Sinks.materializeModel(spark, dir)(train)
    assert(second.count() === 2)
    assert(trained === 1, "existing model must skip training entirely")
  }

  test("modelPath key moves when a data file is rewritten in place") {
    val dir = Files.createTempDirectory("graft_mp").toString + "/corpus"
    Seq((1, "a")).toDF("k", "v").write.parquet(dir)
    val k1 = Sinks.modelPath(spark, dir, "m")
    // rewrite one part file's CONTENT (same file names, same dir entries),
    // forcing the mtime to a DISTINCT value — sleeping for a tick flakes
    // on filesystems with coarse (1s) mtime granularity
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.write(part.toPath,
      java.nio.file.Files.readAllBytes(part.toPath))
    assert(part.setLastModified(part.lastModified() + 2000L))
    val k2 = Sinks.modelPath(spark, dir, "m")
    assert(k1 !== k2,
      "an in-place rewrite must produce a different model-cache key")
  }

  test("modelPath content-digest mode catches a same-length same-mtime " +
    "rewrite the listing mode admits it misses") {
    val dir = Files.createTempDirectory("graft_mpd").toString + "/corpus"
    Seq((1, "a")).toDF("k", "v").write.parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val mtime = 1700000000000L
    assert(part.setLastModified(mtime))
    val list1 = Sinks.modelPath(spark, dir, "m")
    val dig1 = Sinks.modelPath(spark, dir, "m", contentDigest = true)
    // flip one byte INSIDE the file body (not a structural offset), keep
    // length identical, and pin the mtime back to the same tick — the
    // exact staleness window the modelPath docstring documents
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    java.nio.file.Files.write(part.toPath, bytes)
    assert(part.setLastModified(mtime))
    // an out-of-band writer leaves no Hadoop CRC sidecar; the one Spark
    // wrote is now stale and would (rightly) fail the digest read
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(f => assert(f.delete()))
    assert(Sinks.modelPath(spark, dir, "m") === list1,
      "precondition: the listing mode cannot see a same-size same-tick " +
        "rewrite (this is the documented gap, not the assertion under test)")
    assert(Sinks.modelPath(spark, dir, "m", contentDigest = true) !== dig1,
      "content-digest keying must re-key on any byte change")
  }

  test("materializeModel re-trains over a torn (markerless) model dir " +
    "instead of serving it forever") {
    val base = Files.createTempDirectory("graft_torn").toString
    val dir = s"$base/m"
    // plant what a trainer crashed mid-write leaves behind: a model dir
    // with a data file but NO _SUCCESS marker
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Seq((9, "stale")).toDF("k", "v").coalesce(1).write.parquet(s"$base/donor")
    val donor = new java.io.File(s"$base/donor").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(donor.toPath,
      java.nio.file.Paths.get(dir, donor.getName))
    assert(!new java.io.File(dir, "_SUCCESS").exists())
    var trained = 0
    def train = { trained += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val got = Sinks.materializeModel(spark, dir)(train)
    assert(trained === 1, "a torn dir must trigger re-training")
    assert(got.count() === 2)
    assert(got.filter(col("v") === "stale").count() === 0,
      "the torn dir's stale rows must be gone")
    assert(new java.io.File(dir, "_SUCCESS").exists(),
      "the republished model must carry its commit marker")
    // and the repaired model is now served without re-training
    Sinks.materializeModel(spark, dir)(train)
    assert(trained === 1)
  }

  test("versioned-pointer table: publish/read round-trips and prunes") {
    val table = Files.createTempDirectory("graft_vtab").toString + "/t"
    Sinks.Versioned.publish(spark.range(100).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 100L)
    Sinks.Versioned.publish(spark.range(200).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 200L)
    Sinks.Versioned.publish(spark.range(50).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 50L)
    val versions = new java.io.File(table).listFiles()
      .map(_.getName).filter(_.startsWith("v-")).sorted
    assert(versions.toSeq === Seq("v-2", "v-3"),
      "retention must keep exactly the newest keepVersions versions")
  }

  test("versioned publish sweeps a crashed publish's orphan version " +
    "instead of letting it evict the live one from retention") {
    val table = Files.createTempDirectory("graft_vorphan").toString + "/t"
    Sinks.Versioned.publish(spark.range(10).toDF("id"), table)   // v-1
    Sinks.Versioned.publish(spark.range(20).toDF("id"), table)   // v-2 live
    // simulate a publisher that crashed AFTER writing its version dir but
    // BEFORE repointing: v-3 exists, _current still names v-2
    spark.range(99).toDF("id").write.parquet(s"$table/v-3")
    val next = Sinks.Versioned.publish(spark.range(30).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 30L)
    // the orphan must be swept (its number reused by the new publish),
    // and the retained versions must be the published lineage (v-2, new) —
    // numeric pruning with the orphan in place would have deleted v-2,
    // the version a racing reader may still be reading
    assert(next.endsWith("v-3"))
    val versions = new java.io.File(table).listFiles()
      .map(_.getName).filter(_.startsWith("v-")).sorted
    assert(versions.toSeq === Seq("v-2", "v-3"))
    assert(spark.read.parquet(s"$table/v-2").count() === 20L,
      "the just-replaced live version must survive for in-flight readers")
  }

  test("versioned publish self-heals a corrupt pointer instead of " +
    "failing forever") {
    val table = Files.createTempDirectory("graft_vcorrupt").toString + "/t"
    Sinks.Versioned.publish(spark.range(10).toDF("id"), table)
    // external truncation / disk-full artifact: a zero-byte pointer
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_current"), Array.emptyByteArray)
    intercept[Exception](Sinks.Versioned.read(spark, table))
    // publish is the only writer of the pointer — it must repair, not throw
    Sinks.Versioned.publish(spark.range(25).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 25L)
  }

  test("versioned publish: lock-file lease — a second in-flight publisher " +
    "fails loudly, the table stays intact, a dead lease ages out") {
    val table = Files.createTempDirectory("graft_vlock").toString + "/t"
    Sinks.Versioned.publish(spark.range(10).toDF("id"), table) // v-1 live
    // publisher A mid-publish: its lease is on disk
    val lock = java.nio.file.Paths.get(table, "_publish.lock")
    java.nio.file.Files.createFile(lock)
    // publisher B must fail LOUDLY — not race the version number and have
    // its dir orphan-swept — leaving A's lease and the live version intact
    intercept[java.util.ConcurrentModificationException](
      Sinks.Versioned.publish(spark.range(99).toDF("id"), table))
    assert(Sinks.Versioned.read(spark, table).count() === 10L)
    assert(java.nio.file.Files.exists(lock),
      "the losing publisher must not release the holder's lease")
    assert(!new java.io.File(table).listFiles().map(_.getName)
        .exists(_ == "v-2"),
      "the losing publisher must not have written a version dir")
    // A finishes and releases; B's retry proceeds normally
    java.nio.file.Files.delete(lock)
    Sinks.Versioned.publish(spark.range(20).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 20L)
    // a crashed holder's lease self-heals: deterministic mtime age-out
    // (the SinksSpec convention — no sleeps)
    java.nio.file.Files.createFile(lock)
    assert(new java.io.File(lock.toString).setLastModified(
      System.currentTimeMillis() - 16L * 60 * 1000))
    Sinks.Versioned.publish(spark.range(30).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 30L)
    assert(!java.nio.file.Files.exists(lock),
      "publish must release the lease it broke and re-acquired")
  }

  test("versioned publish: two genuinely interleaved publishers — at " +
    "least one wins, losers fail loudly, the table never corrupts") {
    val table = Files.createTempDirectory("graft_vrace2").toString + "/t"
    Sinks.Versioned.publish(spark.range(5).toDF("id"), table)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]()
    val threads = Seq(100L, 200L).map { n =>
      val t = new Thread(() =>
        try outcomes.add(Right(
          Sinks.Versioned.publish(spark.range(n).toDF("id"), table)))
        catch { case e: Throwable => outcomes.add(Left(e)) })
      t.start(); t
    }
    threads.foreach(_.join(60000))
    val (losers, winners) = {
      import scala.jdk.CollectionConverters._
      outcomes.asScala.toSeq.partitionMap(identity)
    }
    assert(winners.nonEmpty, "at least one publisher must win the lease")
    losers.foreach(e => assert(
      e.isInstanceOf[java.util.ConcurrentModificationException],
      s"a losing publisher must fail with the loud lease error, got $e"))
    // the table reads one WINNER's complete version — never a torn mix
    assert(Set(100L, 200L).contains(
      Sinks.Versioned.read(spark, table).count()))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "_publish.lock")),
      "every exit path must release the lease")
  }

  test("versioned append: O(batch) manifest commits — data inherited by " +
    "reference, read spans all commits, retention GCs unreferenced dirs") {
    val table = Files.createTempDirectory("graft_vappend").toString + "/t"
    Sinks.Versioned.publish(spark.range(0, 10).toDF("id"), table)   // v-1 full
    Sinks.Versioned.append(spark.range(10, 15).toDF("id"), table)   // v-2
    Sinks.Versioned.append(spark.range(15, 18).toDF("id"), table)   // v-3
    assert(Sinks.Versioned.read(spark, table)
      .as[Long].collect().sorted === (0L until 18L).toArray)
    // the append commits live under data/, and v-1's full data survived
    // retention (keep 2 → v-2, v-3) because v-3's manifest inherits it
    val commits = new java.io.File(s"$table/data").listFiles()
      .map(_.getName).filter(_.startsWith("c-"))
    assert(commits.length === 2, s"got ${commits.mkString(",")}")
    assert(new java.io.File(s"$table/v-1").isDirectory,
      "a full version referenced by a retained append manifest is data " +
        "now — it must survive its own retention window")
    // an old reader that resolved v-2 a moment before v-3 landed still
    // reads a complete snapshot (retention covers it)
    // a full publish of the live rows rewrites everything into one
    // version; once the append manifests age out of retention, v-1 and
    // the commit dirs are GC'd
    Sinks.Versioned.publish(Sinks.Versioned.read(spark, table)
      .repartition(1), table)                                        // v-4
    Sinks.Versioned.append(spark.range(18, 20).toDF("id"), table)    // v-5
    Sinks.Versioned.append(spark.range(20, 21).toDF("id"), table)    // v-6
    assert(Sinks.Versioned.read(spark, table)
      .as[Long].collect().sorted === (0L until 21L).toArray)
    assert(!new java.io.File(s"$table/v-1").exists(),
      "once no retained manifest references the old full version it is GC'd")
    val commitsAfter = new java.io.File(s"$table/data").listFiles()
      .map(_.getName).filter(_.startsWith("c-")).sorted
    assert(commitsAfter.forall(_.drop(2).takeWhile(_ != '-').toLong >= 5),
      s"pre-rewrite commits must be GC'd, got ${commitsAfter.mkString(",")}")
  }

  test("versioned time travel: readVersion pins a snapshot; every " +
    "listed version is fully readable; a pruned version fails loudly") {
    val table = Files.createTempDirectory("graft_vtt").toString + "/t"
    Sinks.Versioned.publish(spark.range(0, 10).toDF("id"), table,
      keepVersions = 3, meta = Map("run" -> "r1"))                  // v-1
    Sinks.Versioned.append(spark.range(10, 15).toDF("id"), table,
      keepVersions = 3, meta = Map("run" -> "r2"))                  // v-2
    Sinks.Versioned.append(spark.range(15, 18).toDF("id"), table,
      keepVersions = 3, meta = Map("run" -> "r3"))                  // v-3
    assert(Sinks.Versioned.versions(spark, table) === Seq(1L, 2L, 3L))
    // a training run that recorded "I read v-2" re-reads the SAME rows
    // after the table moved on to v-3
    assert(Sinks.Versioned.readVersion(spark, table, 2L)
      .as[Long].collect().sorted === (0L until 15L).toArray)
    assert(Sinks.Versioned.readVersion(spark, table, 1L)
      .as[Long].collect().sorted === (0L until 10L).toArray)
    assert(Sinks.Versioned.readVersion(spark, table, 3L)
      .as[Long].collect().sorted === (0L until 18L).toArray)
    assert(Sinks.Versioned.metaOf(spark, table, 2L) === Map("run" -> "r2"))
    // live read still equals the newest version
    assert(Sinks.Versioned.read(spark, table).count() === 18L)
    // push v-1 past numeric retention (keep 3: v-2..v-4): its DATA is
    // inherited by the retained append manifests, so the dir survives as
    // data, stays listed, and stays time-travel-readable
    Sinks.Versioned.append(spark.range(18, 20).toDF("id"), table,
      keepVersions = 3)                                             // v-4
    assert(Sinks.Versioned.versions(spark, table) === Seq(1L, 2L, 3L, 4L),
      "an inherited full version is data now — still listed, still readable")
    assert(Sinks.Versioned.readVersion(spark, table, 1L)
      .as[Long].collect().sorted === (0L until 10L).toArray)
    // a full rewrite breaks the inheritance chain; two more commits age
    // the old manifests out of retention and the early versions
    // genuinely disappear
    Sinks.Versioned.publish(Sinks.Versioned.read(spark, table)
      .repartition(1), table, keepVersions = 3)                      // v-5
    Sinks.Versioned.append(spark.range(20, 21).toDF("id"), table,
      keepVersions = 3)                                             // v-6
    Sinks.Versioned.append(spark.range(21, 22).toDF("id"), table,
      keepVersions = 3)                                             // v-7
    assert(Sinks.Versioned.versions(spark, table) === Seq(5L, 6L, 7L))
    assert(Sinks.Versioned.read(spark, table).count() === 22L)
    val e = intercept[IllegalArgumentException] {
      Sinks.Versioned.readVersion(spark, table, 2L)
    }
    assert(e.getMessage.contains("keepVersions"),
      "a pruned version must fail with the retention knob named")
  }

  test("versioned meta: stamped at publish/append, O(1) read-back") {
    val table = Files.createTempDirectory("graft_vmeta").toString + "/t"
    Sinks.Versioned.publish(spark.range(5).toDF("id"), table,
      meta = Map("max_batch_id" -> "0", "source" -> "unit"))
    assert(Sinks.Versioned.meta(spark, table) ===
      Map("max_batch_id" -> "0", "source" -> "unit"))
    Sinks.Versioned.append(spark.range(5, 9).toDF("id"), table,
      meta = Map("max_batch_id" -> "1"))
    assert(Sinks.Versioned.meta(spark, table) === Map("max_batch_id" -> "1"))
    assert(Sinks.Versioned.read(spark, table).count() === 9L)
  }

  test("versioned append onto a LEGACY (pre-manifest) version inherits " +
    "its data dir by reference") {
    val table = Files.createTempDirectory("graft_vlegacy").toString + "/t"
    // a version published by the old layout: raw data dir + pointer,
    // no _MANIFEST anywhere
    spark.range(7).toDF("id").write.parquet(s"$table/v-1")
    java.nio.file.Files.write(java.nio.file.Paths.get(table, "_current"),
      "v-1".getBytes("UTF-8"))
    assert(Sinks.Versioned.meta(spark, table) === Map.empty)
    Sinks.Versioned.append(spark.range(7, 10).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table)
      .as[Long].collect().sorted === (0L until 10L).toArray)
  }

  test("stale-lease break is rename-based: the break leaves no residue " +
    "and the publish proceeds") {
    val table = Files.createTempDirectory("graft_vbreak").toString + "/t"
    Sinks.Versioned.publish(spark.range(3).toDF("id"), table)
    val lock = java.nio.file.Paths.get(table, "_publish.lock")
    java.nio.file.Files.write(lock, "dead-holder-token".getBytes("UTF-8"))
    assert(new java.io.File(lock.toString).setLastModified(
      System.currentTimeMillis() - 16L * 60 * 1000))
    Sinks.Versioned.publish(spark.range(8).toDF("id"), table)
    assert(Sinks.Versioned.read(spark, table).count() === 8L)
    assert(!java.nio.file.Files.exists(lock))
    assert(!new java.io.File(table).listFiles().map(_.getName)
        .exists(_.contains("_publish.lock.broken")),
      "the renamed-aside stale lock must not accumulate")
  }

  test("lease release is owner-checked: an overrunning publisher never " +
    "deletes a successor's lock") {
    val table = Files.createTempDirectory("graft_vown").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(table))
    val lock = new org.apache.hadoop.fs.Path(table, "_publish.lock")
    // successor's lock on disk; the overrunning holder's token differs
    java.nio.file.Files.write(java.nio.file.Paths.get(table, "_publish.lock"),
      "successor-token".getBytes("UTF-8"))
    assert(!Sinks.Versioned.releaseIfOwned(fs, lock, "overrunner-token"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "_publish.lock")),
      "a lock the releaser no longer owns must be left in place")
    assert(Sinks.Versioned.releaseIfOwned(fs, lock, "successor-token"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "_publish.lock")))
    // releasing an already-released lock is a quiet no-op
    assert(!Sinks.Versioned.releaseIfOwned(fs, lock, "successor-token"))
  }

  test("a non-contention IOException during lease acquisition propagates " +
    "as itself, not as the misleading 'another publisher holds the lock'") {
    // a filesystem whose exclusive create fails with a quota-style
    // IOException (NOT already-exists): the old catch-all mapped this to
    // ConcurrentModificationException and told callers to retry forever
    spark.sparkContext.hadoopConfiguration.set("fs.graftmock.impl",
      classOf[QuotaFailLocalFs].getName)
    val table = "graftmock://" +
      Files.createTempDirectory("graft_vioerr").toString + "/t"
    val e = intercept[java.io.IOException](
      Sinks.Versioned.publish(spark.range(3).toDF("id"), table))
    assert(e.getMessage.contains("simulated quota exceeded"),
      s"expected the underlying IO failure to surface, got $e")
  }

  test("readModel waits out a concurrent repair's transient absence " +
    "instead of observing a missing model") {
    val base = Files.createTempDirectory("graft_rsafe").toString
    val dir = s"$base/m"
    Sinks.materializeModel(spark, dir)(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    // a peer's torn-dir repair in progress: the model is aside right now
    val aside = java.nio.file.Paths.get(base, ".m.torn-test")
    java.nio.file.Files.move(java.nio.file.Paths.get(dir), aside)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val read = scala.concurrent.Future {
        Sinks.readModel(spark, dir, waitMs = 30000).count()
      }
      Thread.sleep(500)
      assert(!read.isCompleted,
        "the reader must WAIT through the repair window, not fail fast " +
          "on the transient absence")
      // repair finishes: the dir is renamed back
      java.nio.file.Files.move(aside, java.nio.file.Paths.get(dir))
      assert(scala.concurrent.Await.result(read,
        scala.concurrent.duration.Duration(30, "s")) === 2L)
    } finally pool.shutdown()
  }

  test("materializeModel completeness does not depend on the committer's " +
    "_SUCCESS marker config") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val saved = hconf.get(key)
    try {
      hconf.set(key, "false") // common object-store tuning: no _SUCCESS
      val dir = Files.createTempDirectory("graft_nomark").toString + "/m"
      var trained = 0
      def train = { trained += 1; Seq((1, "a")).toDF("k", "v") }
      assert(Sinks.materializeModel(spark, dir)(train).count() === 1L)
      assert(!new java.io.File(dir, "_SUCCESS").exists(),
        "precondition: the committer really wrote no _SUCCESS")
      // the old _SUCCESS-only check judged this valid model torn, deleted
      // it, and retrained on EVERY call — the module's own marker decouples
      // completeness from committer config
      assert(Sinks.materializeModel(spark, dir)(train).count() === 1L)
      assert(trained === 1, "a marker-complete model must not retrain")
    } finally {
      if (saved == null) hconf.unset(key) else hconf.set(key, saved)
    }
  }

  test("versioned publish: a reader racing the swap always sees a full " +
    "table (the absent-window of the rename swap does not exist here)") {
    val table = Files.createTempDirectory("graft_vrace").toString + "/t"
    Sinks.Versioned.publish(
      spark.range(1000).toDF("id").repartition(20), table)
    @volatile var stop = false
    @volatile var failure: Option[Throwable] = None
    var reads = 0
    val reader = new Thread(() => {
      // do-while: at least ONE read always completes even if a loaded
      // test machine finishes all three rewrites before this thread's
      // first Spark job does (the `reads > 0` guard was flaky otherwise);
      // every completed read must see a complete version — 1000 rows,
      // whichever side of the pointer swap it lands on
      try do {
        assert(Sinks.Versioned.read(spark, table).count() === 1000L)
        reads += 1
      } while (!stop)
      catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    // retention widened so pruning can never touch a version the racing
    // reader may still hold — this test isolates the SWAP; the retention
    // contract ("size keepVersions to reader lifetimes") is its own test
    try (1 to 3).foreach(_ =>
      Sinks.Versioned.publish(Sinks.Versioned.read(spark, table)
        .repartition(2), table, keepVersions = 10))
    finally { stop = true; reader.join(30000) }
    failure.foreach(throw _)
    assert(reads > 0, "the reader must have actually raced the rewrites")
    assert(new java.io.File(table, "v-4").isDirectory,
      "three rewrites over v-1 must have published v-2..v-4")
  }

  test("schema-merge read spans evolving parquet versions") {
    val dir = Files.createTempDirectory("graft_evolve").toString + "/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/p=1")
    Seq((2L, "b", 9.0)).toDF("id", "v1", "v2_added").write.parquet(s"$dir/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "v1", "v2_added", "p"))
    assert(merged.filter(col("v2_added").isNull).count() === 1)
  }

  test("publishTrainingBuild: a build becomes a versioned dataset " +
    "release — pinned rows, params + realized counts in the manifest") {
    val table = Files.createTempDirectory("graft_release").toString + "/ds"
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val build = graft.ops.TextAnalysis
      .trainingDataBuild(docs, 5, 2, 0.5, 0.5, 20000L, 8)
    val params = Map("tau" -> "0.5", "alpha" -> "0.5", "budget" -> "20000")
    Sinks.publishTrainingBuild(build, table, params)            // v-1
    val expected = build.select("doc_id").as[Long].collect().sorted
    val expTok = build.agg(sum(col("n_tokens"))).head().getLong(0)
    // a second release over a changed corpus moves the live table...
    Sinks.publishTrainingBuild(
      graft.ops.TextAnalysis.trainingDataBuild(
        docs.filter(col("doc_id") < 250), 5, 2, 0.5, 0.5, 20000L, 8),
      table, params)                                            // v-2
    assert(Sinks.Versioned.versions(spark, table) === Seq(1L, 2L))
    // ...but v-1 stays pinned bit-for-bit: the reproducibility contract
    assert(Sinks.Versioned.readVersion(spark, table, 1L)
      .select("doc_id").as[Long].collect().sorted === expected)
    val meta = Sinks.Versioned.metaOf(spark, table, 1L)
    assert(meta("tau") === "0.5" && meta("alpha") === "0.5" &&
      meta("budget") === "20000")
    assert(meta("n_docs") === expected.length.toString)
    assert(meta("n_tokens") === expTok.toString)
    // the live read is the newest release
    assert(Sinks.Versioned.read(spark, table).count() ===
      Sinks.Versioned.readVersion(spark, table, 2L).count())
  }
}
