package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, GraftExtensions, SparkEntry, Tables}

/** The benchmark's executor. It drives graft only through its public
  * entry points (`SparkEntry.queries`, `Tables.load`, the
  * `GraftExtensions` SQL kernels, `WinnowStream.nearDupGateStream`)
  * and follows a plan that `perfbench/run.py` draws from the run's
  * seed. It records raw walls, spans and listener events as TSV files
  * in the run dir; `run.py` turns them into metrics and checks the
  * outputs.
  *
  * Usage: Runner <plan-file> <run-dir>
  */
object Runner {
  final case class Plan(workload: String, data: String, seconds: Double,
      trace: Boolean, cpus: Int, passes: Seq[Seq[String]], kernelData: String,
      compactEvery: Int, buckets: Int)

  def readPlan(path: String): Plan = {
    val kv = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.contains(' ')).map { l => val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1) }
    def one(k: String) = kv.find(_._1 == k).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"plan: missing $k"))
    def list(s: String) = s.split(',').toSeq.filter(_.nonEmpty)
    Plan(one("workload"), one("data"), one("seconds").toDouble, one("trace") == "1",
      one("cpus").toInt, kv.filter(_._1 == "pass").map(p => list(p._2)), one("kernel_data"),
      one("compact_every").toInt, one("buckets").toInt)
  }

  /** Tab-separated event log, one file per kind, flushed at exit. */
  final class Tsv(dir: String, name: String) {
    private val rows = mutable.ArrayBuffer.empty[String]
    def add(fields: Any*): Unit = synchronized {
      rows += fields.map(f => String.valueOf(f).replace('\t', ' ').replace('\n', ' ')).mkString("\t")
    }
    def flush(): Unit = synchronized {
      val w = new PrintWriter(new File(dir, name))
      try rows.foreach(w.println) finally w.close()
    }
  }

  /** The session `graft.Bench` builds, with its drift controls. */
  def session(cpus: Int, warehouse: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.local.dir", Bench.localDir)
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", warehouse)
      .withExtensions(new GraftExtensions)
      .getOrCreate()

  def now(): Long = System.nanoTime()

  private val t0 = now()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(now() - t0) / 1e9}%.1f s")

  def heapUsed(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** `Bench.resetSession`, then one more full collection after a pause.
    * Spark's cleaner thread frees an operation's broadcasts and blocks
    * only after a collection has found them unreferenced (the one
    * `Peaks.mark` runs); the last collection reclaims what it freed
    * meanwhile. Without it the next operation's heap reading carries
    * the previous operation's blocks, which made `heap_peak_mb` jump by
    * one 64 MB page between identical runs.
    */
  def reset(spark: SparkSession): Unit = {
    Bench.resetSession(spark)
    Thread.sleep(50)
    System.gc()
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Peaks over the timed region, taken when an operation ends and
    * before `reset` releases its blocks: the live heap after a full
    * collection, which still holds what the operation left to the
    * cleaner (heap in use at an arbitrary moment, or after a young
    * collection, mostly says how much garbage had piled up and swings
    * by a third between identical runs), and the bytes
    * of the files the operation created under the Spark local dir (the
    * cleaner may still be deleting the previous operation's files).
    */
  final class Peaks(localDir: String) {
    var heap = 0L
    var scratch = 0L
    private var before = Set.empty[String]
    private def files(f: File): Seq[File] =
      if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(files)
    def begin(): Unit = before = files(new File(localDir)).map(_.getPath).toSet
    def mark(): Unit = {
      scratch = scratch max files(new File(localDir)).filterNot(f => before(f.getPath)).map(_.length).sum
      System.gc()
      heap = heap max heapUsed()
    }
  }

  /** Job, stage and task events, tagged with the job group the
    * benchmark set around each call. Only installed for traced runs.
    */
  final class JobListener(out: Tsv) extends SparkListener {
    private final class Acc(val group: String, val start: Long, val tables: Boolean) {
      var stages = 0; var tasks = 0; var failed = 0
      var run = 0L; var cpu = 0L; var gc = 0L; var waited = 0L
      var sr = 0L; var sw = 0L; var spill = 0L
    }
    private val jobs = mutable.Map.empty[Int, Acc]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSubmit = mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val tables = e.stageInfos.exists(_.name.contains("Tables.scala"))
      jobs(e.jobId) = new Acc(group, e.time, tables)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { a =>
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        stageSubmit.get(e.stageId).foreach(s => a.waited += (e.taskInfo.launchTime - s).max(0L))
        Option(e.taskMetrics).foreach { m =>
          a.run += m.executorRunTime; a.cpu += m.executorCpuTime; a.gc += m.jvmGCTime
          a.sr += m.shuffleReadMetrics.totalBytesRead
          a.sw += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { a =>
        out.add(e.jobId, a.group, a.start, e.time, a.stages, a.tasks, a.failed,
          if (a.tables) 1 else 0, a.run, a.cpu, a.gc, a.waited, a.sr, a.sw, a.spill)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val runDir = new File(args(1)).getCanonicalPath
    val t = (n: String) => new Tsv(runDir, n)
    val ops = t("ops.tsv"); val spans = t("spans.tsv"); val jobsOut = t("jobs.tsv")
    val setupOut = t("setup.tsv"); val probes = t("probes.tsv")
    val triggers = t("triggers.tsv"); val kernels = t("kernels.tsv"); val summary = t("summary.tsv")
    val all = Seq(ops, spans, jobsOut, setupOut, probes, triggers, kernels, summary)
    val wl: Workload = plan.workload match {
      case "ingest_gate" => new IngestGate(plan, runDir, triggers)
      case _ => new QuerySweep(plan, runDir)
    }
    val tracer = new Tracer(spans)
    // Set-up, from JVM start to the first timed operation: a session
    // with GraftExtensions, one schema probe per table, the workload's
    // own preparation (batch 0 for the gate) and the check pass.
    val spark = session(plan.cpus, s"$runDir/warehouse")
    spark.sparkContext.setLogLevel("ERROR")
    if (plan.trace) spark.sparkContext.addSparkListener(new JobListener(jobsOut))
    Tables.all.foreach { name =>
      val p0 = now()
      if (plan.trace) spark.sparkContext.setJobGroup(s"probe:$name", "tables.load", interruptOnCancel = false)
      tracer.span("tables.load", s"probe:$name")(Tables.load(spark, plan.data, name).schema)
      probes.add(name, p0, now())
    }
    spark.sparkContext.clearJobGroup()
    wl.prepare(spark)
    reset(spark)
    phase("setup done")
    // The check pass: every operation once, outputs kept for run.py.
    // It is also the warm-up that fills codegen and the per-JVM caches.
    wl.check(spark)
    phase("check pass done")
    reset(spark)

    val peaks = new Peaks(Bench.localDir)
    val deadline = now() + (plan.seconds * 1e9).toLong
    var opId = 0
    var pass = 0
    var gcTimed = 0L
    setupOut.add(ManagementFactory.getRuntimeMXBean.getStartTime, System.currentTimeMillis())
    // A traced run alternates untraced and traced passes, so it can
    // report its own tracing overhead.
    val minPasses = if (plan.trace) 2 else 1
    while (pass < plan.passes.size && (pass < minPasses || now() < deadline)) {
      val traced = plan.trace && pass % 2 == 1
      plan.passes(pass).zipWithIndex.foreach { case (name, idx) =>
        val id = s"op:$opId"
        peaks.begin()
        val gc0 = gcMillis()
        val t0 = now()
        val err = try { wl.run(spark, name, id, tracer, traced); "" }
          catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val t1 = now()
        gcTimed += gcMillis() - gc0
        peaks.mark()
        ops.add(pass, idx, name, id, t0, t1, if (err.isEmpty) 1 else 0, if (traced) 1 else 0, err)
        spark.sparkContext.clearJobGroup()
        reset(spark)
        opId += 1
      }
      pass += 1
    }
    phase("timed passes done")
    summary.add("heap_peak_bytes", peaks.heap)
    summary.add("scratch_peak_bytes", peaks.scratch)
    summary.add("gc_timed_ms", gcTimed)
    summary.add("graft_extensions", spark.catalog.functionExists("winnow_set"))
    wl.finish(spark, summary)
    phase("finish done")
    if (plan.trace) Kernels.measure(spark, plan.kernelData, kernels)
    spark.stop()
    phase("stopped")
    all.foreach(_.flush())
    sys.exit(0) // no lingering non-daemon thread may keep the JVM up
  }

  /** Spans of the benchmark's own calls: (op, name, start, end, parent). */
  final class Tracer(out: Tsv) {
    final case class Span(op: String, name: String, start: Long, parent: String)
    private val stack = mutable.Stack.empty[Span]
    def open(name: String, op: String): Span = {
      val s = Span(op, name, now(), stack.headOption.map(_.name).getOrElse(""))
      stack.push(s); s
    }
    def close(s: Span): Unit = { stack.pop(); out.add(s.op, s.name, s.start, now(), s.parent) }
    def span[T](name: String, op: String)(f: => T): T = {
      val s = open(name, op)
      try f finally close(s)
    }
  }

  trait Workload {
    def prepare(spark: SparkSession): Unit = ()
    def check(spark: SparkSession): Unit = ()
    def run(spark: SparkSession, name: String, id: String, tr: Tracer, trace: Boolean): Unit
    def finish(spark: SparkSession, summary: Tsv): Unit = ()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `catalog_sweep`: an operation is one query,
    * built, planned and fully materialized through the `noop` sink.
    */
  final class QuerySweep(plan: Plan, runDir: String) extends Workload {
    private val queries = SparkEntry.queries
    override def check(spark: SparkSession): Unit = {
      val names = plan.passes.head.distinct
      names.foreach { n =>
        try queries(n)(spark, plan.data).write.mode("overwrite").parquet(s"$runDir/out/$n")
        catch { case e: Throwable => System.err.println(s"[perfbench] $n failed: ${e.getMessage}") }
        Bench.resetSession(spark)
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.createDirectories(Paths.get(s"$runDir/out"))
      Files.writeString(Paths.get(s"$runDir/out/oracle_sql.json"),
        oracle.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}"))
    }
    def run(spark: SparkSession, name: String, id: String, tr: Tracer, trace: Boolean): Unit =
      if (!trace) noop(queries(name)(spark, plan.data))
      else {
        val sc = spark.sparkContext
        tr.span("op", id) {
          sc.setJobGroup(s"$id:operators.build", name, interruptOnCancel = false)
          val df = tr.span("operators.build", id)(queries(name)(spark, plan.data))
          sc.setJobGroup(s"$id:plan", name, interruptOnCancel = false)
          tr.span("plan", id)(df.queryExecution.executedPlan)
          sc.setJobGroup(s"$id:exec", name, interruptOnCancel = false)
          tr.span("exec", id)(noop(df))
        }
      }
  }
}
