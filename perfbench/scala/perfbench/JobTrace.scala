package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-job counters for the traced phase. Every job is tagged with the
  * op that submitted it through the `perfbench.op` local property, and
  * with a long call site that the Python side maps to the `graft` method
  * that started the job: the call site of the job's SQL execution when
  * it has one (adaptive execution submits stages from its own threads,
  * whose stacks hold no user frames), else that of its result stage.
  *
  * Listener callbacks run on Spark's listener-bus thread; `drain` waits
  * for a marker job's end event, which the bus delivers after every
  * event posted before it. */
final class JobTrace extends SparkListener {
  import JobTrace._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val executionCallsite = new ConcurrentHashMap[String, String]()
  @volatile private var drained = new CountDownLatch(0)
  @volatile private var markerJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
    if (op == Marker) { markerJob = e.jobId; return }
    val callsite = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionCallsite.get(id)))
      .getOrElse(e.stageInfos.maxBy(_.stageId).details)
    val j = new Job(e.jobId, Option(op).getOrElse(""), e.time, callsite)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionCallsite.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(id => Option(jobs.get(id)))
      .foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) drained.countDown()
    else Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  /** Blocks until every event posted before this call has been seen. */
  def drain(sc: SparkContext): Unit = {
    drained = new CountDownLatch(1)
    sc.setLocalProperty(OpKey, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpKey, null)
    require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  /** One TSV row per job, in job-id order. */
  def rows: Seq[String] = {
    val sorted = mutable.ArrayBuffer.empty[Job]
    jobs.values().forEach(j => sorted += j)
    sorted.sortBy(_.id).map(_.tsv).toSeq
  }
}

object JobTrace {
  val OpKey = "perfbench.op"
  private val Marker = "__drain__"

  val header: String = Seq("job", "op", "start_ms", "end_ms", "stages", "tasks",
    "cpu_ns", "shuffle_write", "spill", "out_bytes", "out_records",
    "callsite").mkString("\t")

  private final class Job(val id: Int, val op: String, val startMs: Long,
                          callsite: String) {
    @volatile var endMs: Long = -1L
    @volatile var stages, tasks = 0
    @volatile var cpuNs, shuffleWrite, spill, outBytes, outRecords = 0L
    def tsv: String = Seq(id, op, startMs, endMs, stages, tasks, cpuNs,
      shuffleWrite, spill, outBytes, outRecords,
      callsite.replace("\\", "\\\\").replace("\t", " ").replace("\n", "\\n"))
      .mkString("\t")
  }
}
