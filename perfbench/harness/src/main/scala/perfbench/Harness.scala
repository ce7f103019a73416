package perfbench

import java.io.{File, FileInputStream, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.io.{EventLogReader, ReportWriter}
import graft.queries.{AnalysisResult, AnalyzeQuery, ConsoleReport,
  ExportMissesQuery}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop timing harness with one client thread.
  *
  * Runs one workload's operations in passes until the measuring time is
  * up, and writes every timing, span and listener record to one JSON
  * file; `perfbench/run.py` turns that file into metrics and checks the
  * outputs. Usage: `perfbench.Harness <config.properties>`.
  *
  * Config keys: `workload` (`cli` or `catalog`), `seconds`, `trace`
  * (0 or 1), `cores`, `setups`, `warm` (untimed passes), `out` (result
  * JSON), `work` (scratch directory); `log` for `cli`; `data`, `entries`
  * (comma-separated `SparkEntry` names) and `dump` (result directory) for
  * `catalog`.
  *
  * Timeline: `setups` times {new session with the engine's extensions,
  * one warm-up query} for the set-up times, `warm` untimed passes over
  * the operations, then the timed passes. Catalog entries write their
  * results once, in the first warm pass, for the output check. A traced
  * run spends the first half of its time untraced and the second half
  * with spans, a `SparkListener` and a `QueryExecutionListener`, so the
  * tracing overhead is measured in the same process.
  */
object Harness {

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  /** Seconds since the harness started; event times share this clock. */
  def now(): Double = (System.nanoTime() - anchorNs) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - anchorMs) / 1e3

  final class Span(val id: Int, val parent: Int, val name: String,
                   val call: String, val op: Int, val start: Double) {
    var end: Double = Double.NaN
  }

  /** Span recorder for the benchmark's own layer boundaries (run, pass,
    * operation, phase). Disabled, it only runs the body. */
  final class Tracer {
    @volatile var on = false
    @volatile var op = -1
    val spans = ArrayBuffer[Span]()
    private var stack: List[Span] = Nil

    /** Opens a span (null while tracing is off). */
    def open(name: String, call: String): Span =
      if (!on) null
      else {
        val s = new Span(spans.size + 1, stack.headOption.fold(0)(_.id),
          name, call, op, now())
        spans += s
        stack = s :: stack
        s
      }
    def close(s: Span): Unit = if (s != null) {
      s.end = now()
      stack = stack.dropWhile(_ ne s).drop(1)
    }
    def span[T](name: String, call: String)(body: => T): T = {
      val s = open(name, call)
      try body finally close(s)
    }
  }

  final case class Op(name: String, run: (SparkSession, Tracer) => Unit)
  final case class OpRun(op: Int, name: String, pass: Int, traced: Boolean,
                         start: Double, end: Double, error: Option[String])

  /** Spark-side records for the traced passes. Jobs carry the operation
    * id as a local property; stages and tasks map to it through their
    * job. Query planning time comes from each query's planning tracker. */
  final class Recorder(tr: Tracer) extends SparkListener
      with QueryExecutionListener {
    val jobs = ArrayBuffer[ArrayBuffer[Any]]()   // id, op, start, end
    val stages = ArrayBuffer[Map[String, Any]]()
    val queries = ArrayBuffer[Map[String, Any]]()
    private val jobOf = scala.collection.mutable.Map[Int, (Int, Int)]()
    private val delay = scala.collection.mutable.Map[Int, Double]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties)
        .flatMap(p => Option(p.getProperty("perfbench.op")))
        .fold(-1)(_.toInt)
      e.stageIds.foreach(s => jobOf.getOrElseUpdate(s, (e.jobId, op)))
      jobs += ArrayBuffer(e.jobId, op, fromEpochMs(e.time), Double.NaN)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_(0) == e.jobId).foreach(_(3) = fromEpochMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        val getting =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
          else 0L
        val d = math.max(0L, i.finishTime - i.launchTime - busy - getting)
        delay(e.stageId) = delay.getOrElse(e.stageId, 0.0) + d / 1e3
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val m = s.taskMetrics
        val (job, op) = jobOf.getOrElse(s.stageId, (-1, -1))
        stages += Map(
          "stage" -> s.stageId, "job" -> job, "op" -> op,
          "tasks" -> s.numTasks,
          "start" -> s.submissionTime.fold(Double.NaN)(fromEpochMs),
          "end" -> s.completionTime.fold(Double.NaN)(fromEpochMs),
          "failed" -> s.failureReason.isDefined,
          "run_s" -> m.executorRunTime / 1e3,
          "cpu_s" -> m.executorCpuTime / 1e9,
          "gc_s" -> m.jvmGCTime / 1e3,
          "sched_delay_s" -> delay.getOrElse(s.stageId, 0.0),
          "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_b" -> m.inputMetrics.bytesRead,
          "input_rows" -> m.inputMetrics.recordsRead,
          "output_rows" -> m.outputMetrics.recordsWritten)
      }
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = synchronized {
      queries += Map("op" -> tr.op, "func" -> funcName,
        "plan_s" -> qe.tracker.phases.values.map(_.durationMs).sum / 1e3,
        "duration_s" -> durationNs / 1e9)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def newSession(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The reference's two commands, with the calls `graft.cli.Main`
    * makes. Results are kept for the output check. */
  def cliOps(log: String, report: String,
             analyzed: ArrayBuffer[Option[AnalysisResult]],
             exported: ArrayBuffer[Long]): Seq[Op] = Seq(
    Op("analyze", (spark, tr) => {
      val commits = tr.span("build", "EventLogReader.readCommits")(
        EventLogReader.readCommits(spark, log))
      if (tr.on) tr.span("plan", "executedPlan")(
        AnalyzeQuery.metricsFrame(commits).queryExecution.executedPlan)
      val r = tr.span("exec", "AnalyzeQuery.run")(AnalyzeQuery.run(commits))
      tr.span("report", "ConsoleReport.format")(ConsoleReport.format(r))
      analyzed += r
    }),
    Op("export-misses", (spark, tr) => {
      val commits = tr.span("build", "EventLogReader.readCommits")(
        EventLogReader.readCommits(spark, log))
      val misses = tr.span("build", "ExportMissesQuery.run")(
        ExportMissesQuery.run(commits))
      if (tr.on) tr.span("plan", "executedPlan")(
        misses.queryExecution.executedPlan)
      val n = tr.span("exec", "Dataset.count")(misses.count())
      if (n > 0) tr.span("report", "ReportWriter.writeCsvReport")(
        ReportWriter.writeCsvReport(misses, report))
      exported += n
    }))

  /** One catalog entry, timed with the noop-sink write `graft.Bench`
    * uses (the full plan runs; nothing is pruned). */
  def entryOp(name: String, data: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, (spark, tr) => {
      val df: DataFrame = tr.span("build", "entry")(fn(spark, data))
      if (tr.on) tr.span("plan", "executedPlan")(df.queryExecution.executedPlan)
      tr.span("exec", "noop write")(
        df.write.mode("overwrite").format("noop").save())
    })
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = new InputStreamReader(new FileInputStream(args(0)), UTF_8)
    try conf.load(in) finally in.close()
    def get(k: String): String = Option(conf.getProperty(k))
      .getOrElse(sys.error(s"missing config key $k"))
    val workload = get("workload")
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val cores = get("cores").toInt
    val nSetups = get("setups").toInt
    val work = get("work")
    new File(work).mkdirs()

    val analyzed = ArrayBuffer[Option[AnalysisResult]]()
    val exported = ArrayBuffer[Long]()
    val ops: Seq[Op] = workload match {
      case "cli" =>
        cliOps(get("log"), s"$work/report.csv", analyzed, exported)
      case "catalog" =>
        get("entries").split(',').toSeq.map(entryOp(_, get("data")))
      case other => sys.error(s"unknown workload $other")
    }
    val tr = new Tracer
    val runs = ArrayBuffer[OpRun]()
    def runOp(spark: SparkSession, i: Int, pass: Int,
              record: Boolean): Unit = {
      // as graft.Bench does, outside the timed region: drop cached
      // blocks and collect, so no operation pays an earlier one's GC bill
      spark.catalog.clearCache()
      System.gc()
      tr.op = i
      spark.sparkContext.setLocalProperty("perfbench.op", i.toString)
      val s = tr.open("op", ops(i).name)
      val t0 = now()
      val err =
        try { ops(i).run(spark, tr); None }
        catch { case e: Throwable => Some(message(e)) }
      val t1 = now()
      tr.close(s)
      if (record) runs += OpRun(i, ops(i).name, pass, tr.on, t0, t1, err)
      else err.foreach(m =>
        System.err.println(s"[perfbench] untimed ${ops(i).name}: $m"))
    }

    // Set-up: a new session, then one query through an injected engine
    // function (so a session without the extensions fails here). The
    // first set-up is also measured from process start (cold).
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer[Double]()
    var coldSetup = 0.0
    var spark: SparkSession = null
    for (k <- 1 to nSetups) {
      if (spark != null) spark.stop()
      val t0 = now()
      spark = newSession(cores, work)
      spark.range(0, 100000, 1, cores)
        .selectExpr("vector_dot(array(cast(id AS double), 1d), " +
          "array(1d, 2d)) AS d")
        .agg(org.apache.spark.sql.functions.sum("d")).collect()
      setups += now() - t0
      if (k == 1) coldSetup = (System.currentTimeMillis() - procStartMs) / 1e3
    }
    // The warm pass is untimed. Catalog entries write their results to
    // parquet in it (same plan, file sink instead of noop) for the
    // output check; cli results are kept by the operations themselves.
    val dumpErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    val w0 = now()
    if (workload == "catalog") ops.foreach { op =>
      try SparkEntry.queries(op.name)(spark, get("data"))
        .write.mode("overwrite").parquet(s"${get("dump")}/${op.name}")
      catch { case e: Throwable => dumpErrors(op.name) = message(e) }
    }
    else ops.indices.foreach(runOp(spark, _, 0, record = false))
    val warmPass = now() - w0
    for (_ <- 2 to get("warm").toInt)
      ops.indices.foreach(runOp(spark, _, 0, record = false))
    graft.ops.Counters.drain()

    val counters = ArrayBuffer[(Int, String, String, Map[String, Any])]()
    val recorder = new Recorder(tr)
    var pass = 0
    def passes(budget: Double): Unit = {
      val deadline = now() + budget
      val first = pass
      while (pass == first || now() < deadline) {
        pass += 1
        val ps = tr.open("pass", pass.toString)
        ops.indices.foreach { i =>
          runOp(spark, i, pass, record = true)
          if (tr.on) {
            Bus.drain(spark.sparkContext)
            graft.ops.Counters.drain().foreach { case (t, l, m) =>
              counters += ((i, t, l, m)) }
          }
        }
        tr.close(ps)
        if (!tr.on) graft.ops.Counters.drain()
      }
    }
    val run0 = now()
    if (traced) {
      passes(seconds / 2)
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
      tr.on = true
      tr.op = -1
      val rs = tr.open("run", workload)
      passes(seconds / 2)
      tr.close(rs)
      tr.on = false
      Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(recorder)
      spark.sparkContext.removeSparkListener(recorder)
    } else passes(seconds)
    val timed = now() - run0

    if (workload == "catalog") {
      val oracle = SparkEntry.oracleSql.filter(kv => ops.exists(_.name == kv._1))
      Files.write(Paths.get(get("dump"), "oracle_sql.json"),
        Json.obj(oracle.toSeq.sortBy(_._1)).getBytes(UTF_8))
    }
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> workload, "cores" -> cores, "seconds" -> seconds,
      "timed_s" -> timed, "setups" -> setups.toSeq,
      "cold_setup_s" -> coldSetup, "warm_pass_s" -> warmPass,
      "passes" -> pass,
      "runs" -> runs.toSeq.map(r => Map("op" -> r.op, "name" -> r.name,
        "pass" -> r.pass, "traced" -> r.traced, "start" -> r.start,
        "end" -> r.end, "error" -> r.error.orNull)),
      "spans" -> tr.spans.toSeq.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "call" -> s.call,
        "op" -> s.op, "start" -> s.start, "end" -> s.end)),
      "jobs" -> recorder.jobs.toSeq.map(j => Map("job" -> j(0), "op" -> j(1),
        "start" -> j(2), "end" -> j(3))),
      "stages" -> recorder.stages.toSeq,
      "queries" -> recorder.queries.toSeq,
      "counters" -> counters.toSeq.map { case (i, t, l, m) =>
        Map("op" -> i, "tag" -> t, "label" -> l, "metrics" -> m) },
      "analyzed" -> analyzed.distinct.toSeq.map(_.map(a =>
        a.productElementNames.zip(a.productIterator).toMap)),
      "analyze_runs" -> analyzed.size,
      "exported" -> exported.distinct.toSeq,
      "export_runs" -> exported.size,
      "report" -> s"$work/report.csv",
      "dump_errors" -> dumpErrors.toMap))
    Files.write(Paths.get(get("out")), out.getBytes(UTF_8))
    sys.exit(0)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else d.toString   // shortest round-trip form, valid JSON
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o: Option[_] => o.fold("null")(value)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
