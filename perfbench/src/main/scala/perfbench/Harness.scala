package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Graft, Queries, SparkEntry}
import graft.sources.Sinks

/** Spark work attributed to one tag (a span id, or "-" for untagged work). */
final class Counters {
  var jobs, stages, tasks, inputStages = 0L
  var cpuNs, runMs, gcMs, waitMs = 0L
  var inputBytes, shuffleBytes, spillBytes, outputBytes = 0L
  /** Worst max/median task time over this tag's stages with ≥ 2 tasks. */
  var straggler = 1.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds covered by the union of this tag's job intervals. */
  def jobMs: Long = {
    var covered = 0L
    var reach = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered
  }
}

/** Counts jobs, stages, tasks, CPU and bytes per tag. The tag is the
  * `perfbench.tag` local property of the thread that submitted the job, so
  * work lands on the span that was open when it ran.
  */
final class Probe extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageInput = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val byTag = mutable.Map.empty[String, Counters]

  private def of(tag: String) = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Key)))
      .getOrElse("-")
    jobStart(e.jobId) = (tag, e.time)
    e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, tag))
    of(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t0) =>
      of(tag).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      stageSubmit(info.stageId) =
        info.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = of(stageTag.getOrElse(e.stageId, "-"))
    k.tasks += 1
    stageSubmit.get(e.stageId).foreach(s =>
      k.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      k.cpuNs += m.executorCpuTime
      k.runMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.inputBytes += m.inputMetrics.bytesRead
      stageInput(e.stageId) =
        stageInput.getOrElse(e.stageId, 0L) + m.inputMetrics.bytesRead
      k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      k.spillBytes += m.diskBytesSpilled
      k.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      val k = of(stageTag.getOrElse(id, "-"))
      k.stages += 1
      if (stageInput.getOrElse(id, 0L) > 0) k.inputStages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val median = math.max(sorted((sorted.size - 1) / 2), 1L)
        k.straggler = math.max(k.straggler, sorted.last.toDouble / median)
      }
      stageSubmit.remove(id)
      stageInput.remove(id)
    }
}

object Probe { val Key = "perfbench.tag" }

final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, var endNs: Long = 0L)

/** In-memory spans around the program's public calls. Op spans are always
  * kept (they are the op latencies); child spans only when tracing.
  */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def op[T](op: Int)(f: => T): T = open(op, "op")(f)

  def span[T](name: String)(f: => T): T =
    if (tracing) open(stack.head.op, name)(f) else f

  private def open[T](op: Int, name: String)(f: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
      name, System.nanoTime())
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(Probe.Key, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      spark.sparkContext.setLocalProperty(Probe.Key,
        stack.headOption.map(_.id.toString).orNull)
    }
  }
}

/** One benchmark run in one JVM: several timed set-ups, then a closed loop
  * of ops for a fixed time, then a JSON result file.
  *
  * Usage: perfbench.Harness <result.json> <plan.txt> key=value...
  * keys: workload, input, out, seconds, trace, setups, cpus, local, pass.
  * The loop stops at the first multiple of `pass` ops after the deadline,
  * so a registry run measures whole passes over its query list.
  * The plan holds `warmup <key>` and `op <key>` lines; an op key is a
  * reference hour (report-*, backfill) or a registry name (registry).
  */
object Harness {

  private var tracer: Tracer = _

  def main(args: Array[String]): Unit = {
    val resultFile = args(0)
    val plan = scala.io.Source.fromFile(args(1), "UTF-8").getLines()
      .map(_.split(" ", 2)).map(a => a(0) -> a(1)).toSeq
    val opt = args.drop(2).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val workload = opt("workload")
    val input = opt("input")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val cpus = opt("cpus")
    val warmups = plan.collect { case ("warmup", k) => k }
    val keys = plan.collect { case ("op", k) => k }

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", opt("local"))
        .config("spark.sql.warehouse.dir", s"${opt("local")}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // Set-up = session start + one warm-up op, repeated; all but the last
    // session are stopped again, so each set-up starts from no session.
    val nSetups = opt("setups").toInt
    var spark: SparkSession = null
    val setupS = (1 to nSetups).map { i =>
      val t0 = System.nanoTime()
      spark = session()
      tracer = new Tracer(spark, tracing = false)
      // a warm-up op may fail like the measured ops do; it still warms up
      warmups.foreach(k =>
        try runOp(spark, workload, input, s"$out/warmup$i", k, -1)
        catch { case _: Exception => () })
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < nSetups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }

    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    tracer = new Tracer(spark, tracing)
    val results = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    val pass = opt("pass").toInt
    while (i < keys.size && (System.nanoTime() < deadline || i % pass != 0)) {
      val (ok, err, info) =
        try { (true, "", runOp(spark, workload, input, s"$out/op$i", keys(i), i)) }
        catch { case e: Throwable => (false, errorClass(e), Map.empty[String, Any]) }
      results += json(Map("i" -> i, "key" -> keys(i), "ok" -> ok,
        "error" -> err) ++ info)
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    val oracles =
      if (workload == "registry") {
        val ran = keys.take(i).toSet
        SparkEntry.oracleSql.filter { case (k, _) => ran(k) }
      } else Map.empty[String, String]

    val spans = tracer.spans.map(s => json(Map("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
    val counters = probe.synchronized(probe.byTag.toSeq).map { case (tag, k) =>
      "\"" + tag + "\":" + json(Map("jobs" -> k.jobs, "stages" -> k.stages,
        "tasks" -> k.tasks, "input_stages" -> k.inputStages,
        "cpu_s" -> k.cpuNs / 1e9, "run_s" -> k.runMs / 1e3,
        "gc_s" -> k.gcMs / 1e3, "wait_s" -> k.waitMs / 1e3,
        "input_bytes" -> k.inputBytes, "shuffle_bytes" -> k.shuffleBytes,
        "spill_bytes" -> k.spillBytes, "output_bytes" -> k.outputBytes,
        "straggler" -> k.straggler, "job_s" -> k.jobMs / 1e3))
    }
    val body = Seq(
      "\"setup_s\":" + setupS.mkString("[", ",", "]"),
      "\"loop_s\":" + loopS,
      "\"peak_rss_mb\":" + peakRssMb,
      "\"ops\":" + results.mkString("[", ",", "]"),
      "\"spans\":" + spans.mkString("[", ",", "]"),
      "\"counters\":" + counters.mkString("{", ",", "}"),
      "\"oracles\":" + json(oracles))
    Files.write(Paths.get(resultFile), body.mkString("{", ",\n", "}\n")
      .getBytes(UTF_8))
    spark.stop()
  }

  /** One op through the program's public functions. Returns facts the
    * output checks and the per-layer report need.
    */
  private def runOp(spark: SparkSession, workload: String, input: String,
                    out: String, key: String, i: Int): Map[String, Any] =
    tracer.op(i) {
      workload match {
        case "report-clean" | "report-multiline" =>
          if (tracer.tracing) tracedReport(spark, s"$input/logs", out, key)
          else {
            require(Graft.writeReportDocument(spark, s"$input/logs", out, key),
              s"report for $key was not written")
            Map.empty[String, Any]
          }
        case "backfill" =>
          if (tracer.tracing) tracedBackfill(spark, s"$input/logs", out, key)
          else {
            val done = Graft.backfill(spark, s"$input/logs", out, key, key)
            require(done == Seq(key), s"backfill of $key processed $done")
            Map.empty[String, Any]
          }
        case "registry" =>
          val fn = Queries.queries(key)
          val rows =
            if (tracer.tracing) {
              val df = tracer.span("Queries.build")(fn(spark, input))
              val qe = df.queryExecution
              tracer.span("Queries.plan")(qe.executedPlan)
              tracer.span("Queries.exec")(qe.toRdd.count())
            } else fn(spark, input).queryExecution.toRdd.count()
          Map("rows" -> rows)
      }
    }

  /** The selection step of [[Graft.writeReportDocument]] and
    * [[Graft.backfill]], materialized in its own span so the ingest that
    * follows reads the same files without selecting again.
    */
  private def select(spark: SparkSession, logDir: String,
                     hour: String): (DataFrame, Map[String, Any]) =
    tracer.span("LogCatalog.select") {
      val df = Graft.selectLogFiles(spark, logDir, hour, 5)
      val rows = df.collect()
      val bytes = rows.map(r =>
        new java.io.File(s"$logDir/${r.getString(0)}").length()).sum
      (spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema),
        Map("files_selected" -> rows.length, "selected_bytes" -> bytes))
    }

  /** [[Graft.writeReportDocument]] split at its public calls: select,
    * readLogLines, one renderReportHtml per section, then publish. The
    * sections are joined into the document the single render would give.
    */
  private def tracedReport(spark: SparkSession, logDir: String, out: String,
                           hour: String): Map[String, Any] = {
    val target = s"$out/report_$hour.html"
    val title = s"graft report $hour"
    val (selected, facts) = select(spark, logDir, hour)
    val parsed = tracer.span("LogLines.ingest")(
      Graft.readLogLines(spark, logDir, selected))
    val bodies = Graft.reportSections(parsed).toSeq.sortBy(_._1).map {
      case (name, df) =>
        val doc = tracer.span(s"Reports.$name")(
          Graft.renderReportHtml(title, Map(name -> df)))
        doc.substring(doc.indexOf("</h1>\n") + 6, doc.lastIndexOf("\n</body>"))
    }
    val empty = Graft.renderReportHtml(title, Map.empty)
    val cut = empty.indexOf("</h1>\n") + 6
    val html = empty.substring(0, cut) + bodies.mkString("\n") +
      empty.substring(cut)
    val written = tracer.span("Sinks.publish")(
      Sinks.writeStringIfAbsent(spark, target, html))
    require(written, s"report for $hour was not written")
    facts + ("html_bytes" -> html.getBytes(UTF_8).length)
  }

  /** [[Graft.backfill]] for one hour, split the same way: select,
    * readLogLines, then the level-count parquet write.
    */
  private def tracedBackfill(spark: SparkSession, logDir: String, out: String,
                             hour: String): Map[String, Any] = {
    val (selected, facts) = select(spark, logDir, hour)
    val parsed = tracer.span("LogLines.ingest")(
      Graft.readLogLines(spark, logDir, selected))
    val counts = tracer.span("Reports.level_counts")(graft.ops.Reports
      .levelCounts(parsed.select(parsed("level").as("event_type"))))
    tracer.span("Sinks.publish")(
      counts.write.mode("overwrite").parquet(s"$out/hour=$hour"))
    facts
  }

  private def errorClass(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(e.getClass.getSimpleName)

  private def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally status.close()
  }

  private def json(v: Any): String = v match {
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }
}
