package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.control.Control
import graft.control.Control.{JobResult, JobSpec, RunLog, RunLogEntry}
import graft.control.Watermarks
import graft.run.Pipelines

/** The benchmark process. It reads the op list that `run.py` generated
  * under `<work>/inputs`, sets up (session, warm-up, target seeding),
  * runs the fixed list of ops untraced (with `trace=1`: first traced,
  * with a [[JobTrace]] listener attached, then untraced), and writes one
  * TSV of ops per pass plus a properties file of process counters.
  * Outputs are checked by `run.py`, not here.
  *
  * Arguments are `key=value`: `workload`, `work` (absolute work dir),
  * `data` (fixture dir), `cpus`, `trace` (0/1). */
object Main {

  /** Flattened order-with-lineitems columns and their target types;
    * the lineitem fields drop their `lineitems_` prefix. */
  val castSpecs: Seq[String] = Seq(
    "o_orderkey:bigint", "o_custkey:bigint", "o_orderstatus:string",
    "o_totalprice:double", "o_orderdate:timestamp", "o_orderpriority:string",
    "upd_ts:bigint") ++ Seq(
    "l_linenumber:int", "l_partkey:bigint", "l_suppkey:bigint",
    "l_quantity:double", "l_extendedprice:double", "l_discount:double",
    "l_tax:double", "l_returnflag:string", "l_linestatus:string",
    "l_shipdate:timestamp").map { s =>
    val Array(name, ddl) = s.split(":")
    s"lineitems_$name:$ddl:$name"
  }

  final case class Conf(workload: String, work: String, data: String,
                        cpus: Int, trace: Boolean) {
    def path(parts: String*): String = Paths.get(work, parts: _*).toString
  }

  /** One timed op. `detail` carries the op's watermark timings. */
  final case class Op(id: String, name: String, startMs: Long, endMs: Long,
                      durNs: Long, status: String, rows: Long, waitNs: Long,
                      detail: String) {
    def tsv: String = Seq(id, name, startMs, endMs, durNs, status, rows,
      waitNs, detail).mkString("\t")
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val conf = Conf(kv("workload"), kv("work"), kv("data"), kv("cpus").toInt,
      kv.get("trace").contains("1"))
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.path("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val workload: Workload = conf.workload match {
        case "api_ingest" => new ApiIngest(spark, conf)
        case "inc_merge" => new IncMerge(spark, conf)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // a traced run times the traced pass first, in the same JVM state
      // as an untraced run's only pass; the untraced pass after it is
      // warmer, so their difference bounds the tracing overhead from above
      val phases = if (conf.trace) Seq("traced", "plain") else Seq("plain")
      workload.setup(phases.head)
      writeProps(conf.path("out", "setup.props"), Seq("first_op_epoch_ns" -> epochNs()))
      phases.foreach { phase =>
        val trace = if (phase == "traced") Some(new JobTrace) else None
        trace.foreach(spark.sparkContext.addSparkListener)
        runPhase(spark, conf, workload, phase, trace)
        trace.foreach(spark.sparkContext.removeSparkListener)
      }
    } finally spark.stop()
  }

  private def runPhase(spark: SparkSession, conf: Conf, w: Workload,
                       phase: String, trace: Option[JobTrace]): Unit = {
    w.preparePhase(phase)
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    val ops = w.run(phase)
    val wallNs = System.nanoTime() - t0
    val cpu = cpuNs() - cpu0
    val gc = gcMs() - gc0
    trace.foreach(_.drain(spark.sparkContext))
    write(conf.path("out", s"ops_$phase.tsv"), ops.map(_.tsv))
    trace.foreach(t => write(conf.path("out", s"jobs_$phase.tsv"),
      JobTrace.header +: t.rows))
    writeProps(conf.path("out", s"phase_$phase.props"), Seq(
      "wall_ns" -> wallNs, "cpu_ns" -> cpu, "gc_ms" -> gc,
      "peak_rss_kb" -> peakRssKb()) ++ w.phaseCounters(phase))
  }

  // ---- process counters -------------------------------------------------

  def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def write(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def writeProps(path: String, kv: Seq[(String, Any)]): Unit =
    write(path, kv.map { case (k, v) => s"$k=$v" })

  def readTsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))

  /** Runs `body` as op `id`: every Spark job it submits is tagged with
    * the id, and an exception or an "F" result is a failed op. */
  def timed(spark: SparkSession, id: String, name: String, waitNs: Long)
           (body: => (String, Long, String)): Op = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobTrace.OpKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (status, rows, detail) =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] op $id ($name) failed: $e")
        ("F", 0L, "")
      }
      finally sc.setLocalProperty(JobTrace.OpKey, null)
    Op(id, name, startMs, System.currentTimeMillis(), System.nanoTime() - t0,
      status, rows, waitNs, detail)
  }
}

/** A run log that adds the time of its appends to `spent` (the
  * per-layer `control.runlog_append_s`). */
final class TimedRunLog(spark: SparkSession, path: String, spent: AtomicLong)
    extends RunLog(spark, path) {
  override def appendAll(es: Seq[RunLogEntry]): Unit = {
    val t0 = System.nanoTime()
    try super.appendAll(es) finally spent.addAndGet(System.nanoTime() - t0)
  }
}

/** A workload is a job queue: `inputs/jobs.tsv` rows `id, loadType,
  * docsDir, targetName, role[, watermark]`. Jobs of one role run through
  * `Control.runWithRetries` with `parallelism` callers and no retries,
  * so every attempt is an op. `setup` runs once before the first timed
  * op and prepares the first phase; each phase gets fresh targets from
  * `preparePhase`, outside the timer, and runs the same `timed` jobs.
  *
  * Two parquet appends to one path at once race in Hadoop's file
  * committer (both stage under `<path>/_temporary/0`, and the first
  * job commit deletes it under the second), so each job logs to its
  * own run-log partition `runlog/jobId=<id>`, and jobs writing the same
  * target take that target's lock before their op starts; the wait
  * counts as queue wait. */
abstract class Workload(spark: SparkSession, conf: Main.Conf, parallelism: Int) {
  protected val jobs: Seq[Array[String]] = Main.readTsv(conf.path("inputs", "jobs.tsv"))
  private val runLogNs = new AtomicLong()
  private val filesWritten = new AtomicLong()
  private val targetLocks = new ConcurrentHashMap[String, ReentrantLock]()

  private def partFiles(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).map { f =>
      if (f.isDirectory) partFiles(f) else if (f.getName.startsWith("part-")) 1L else 0L
    }.sum

  private def target(phase: String, j: Array[String]): String =
    conf.path(phase, "targets", j(3))

  protected def ingest(phase: String, j: Array[String]): JobResult = {
    val spec = JobSpec(j(0).toLong, jobGroup = 1, jobOrder = j(0).toInt,
      sourceKind = "api", sourcePath = j(2), targetTable = j(3), loadType = j(1),
      keyCols = "o_orderkey;l_linenumber")
    val runLog = new TimedRunLog(spark, conf.path(phase, "runlog", s"jobId=${j(0)}"), runLogNs)
    Pipelines.apiIngest(spark, spec, spark.read.textFile(j(2)), Main.castSpecs,
      target(phase, j), runLog)
  }

  /** Hook around each job's ingest; returns the op detail column. */
  protected def around(phase: String, j: Array[String])(job: => JobResult): (JobResult, String) =
    (job, "")

  protected def runQueue(phase: String, role: String): Seq[Main.Op] = {
    val submitted = System.nanoTime()
    val ops = new ConcurrentLinkedQueue[Main.Op]()
    Control.runWithRetries(jobs.filter(_(4) == role), parallelism, maxRetries = 0) { j =>
      val lock = targetLocks.computeIfAbsent(target(phase, j), _ => new ReentrantLock())
      lock.lock()
      try {
        val before = partFiles(new File(target(phase, j)))
        var res = JobResult(j(0).toLong, "F", 0L, "exception")
        val op = Main.timed(spark, j(0), j(1), System.nanoTime() - submitted) {
          val (r, detail) = around(phase, j)(ingest(phase, j))
          res = r
          (r.status, r.records, detail)
        }
        ops.add(op)
        // SNP and INC rewrite the whole target; APPEND adds to it
        val now = partFiles(new File(target(phase, j)))
        filesWritten.addAndGet(if (j(1) == "APPEND") now - before else now)
        res
      } finally lock.unlock()
    }
    ops.asScala.toSeq.sortBy(_.id.toLong)
  }

  def setup(firstPhase: String): Unit

  def preparePhase(phase: String): Unit = {
    runLogNs.set(0L)
    filesWritten.set(0L)
  }

  def phaseCounters(phase: String): Seq[(String, Any)] =
    Seq("runlog_append_ns" -> runLogNs.get, "files_written" -> filesWritten.get,
      "runlog_files" -> partFiles(new File(conf.path(phase, "runlog"))))

  def run(phase: String): Seq[Main.Op] = runQueue(phase, "timed")
}

/** `api_ingest`: SNP jobs to their own targets and APPEND jobs onto one
  * shared target, two closed-loop callers. */
final class ApiIngest(spark: SparkSession, conf: Main.Conf)
    extends Workload(spark, conf, parallelism = 2) {
  def setup(firstPhase: String): Unit = {
    val warm = runQueue("warmup", "warm")
    require(warm.forall(_.status == "S"), s"warm-up failed: $warm")
  }
}

/** `inc_merge`: one SNP seed load, then INC batches in order, each
  * between `Watermarks.load` and `Watermarks.save`, one caller. */
final class IncMerge(spark: SparkSession, conf: Main.Conf)
    extends Workload(spark, conf, parallelism = 1) {
  private val wmJob = 1L

  def setup(firstPhase: String): Unit = preparePhase(firstPhase)

  private var prepared = Set.empty[String]

  /** Seeds the phase's target and runs the untimed warm-up batches. */
  override def preparePhase(phase: String): Unit = {
    if (!prepared(phase)) {
      prepared += phase
      val seed = runQueue(phase, "seed") ++ runQueue(phase, "warm")
      require(seed.forall(_.status == "S"), s"seed/warm-up failed: $seed")
    }
    super.preparePhase(phase)
  }

  /** Detail column: `watermark load ns,save ns`. Batch b carries
    * watermark b (jobs.tsv column 5), so the loaded one must be b - 1,
    * or none before the first batch. */
  override protected def around(phase: String, j: Array[String])
                               (job: => JobResult): (JobResult, String) =
    if (j(1) != "INC") (job, "")
    else {
      val wmPath = conf.path(phase, "watermarks")
      val wm = j(5).toLong
      val t0 = System.nanoTime()
      val stored = Watermarks.load(spark, wmPath, wmJob)
      val t1 = System.nanoTime()
      require(stored == Some(wm - 1).filter(_ > 0), s"watermark $stored before batch $wm")
      val r = job
      val t2 = System.nanoTime()
      if (r.status == "S") Watermarks.save(spark, wmPath, wmJob, wm)
      (r, s"${t1 - t0},${System.nanoTime() - t2}")
    }
}
