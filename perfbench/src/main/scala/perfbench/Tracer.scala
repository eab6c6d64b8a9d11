package perfbench

import java.io.File
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-row layer records for the traced run, gathered only by listeners the
  * benchmark registers from outside the engine: a `SparkListener` for jobs,
  * stages and tasks, and a `StreamingQueryListener` for micro-batches.
  *
  * A job belongs to the row that is running, and to its construction or
  * execution phase by its job group (`<row>#<pass>#construct|exec`). Jobs
  * from other threads (streaming micro-batches set their own group) are
  * placed by submission time. The harness drains the listener bus after each
  * row, so every event of a row arrives while that row is current.
  */
final class Tracer {

  final class Phase {
    var jobs, stages, tasks = 0L
    var jobMs, taskMs, runMs, gcMs = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill, outBytes, outRecords = 0L
  }

  final class Row(val name: String) {
    val construct = new Phase
    val exec = new Phase
    @volatile var execStartMs = Long.MaxValue
    var scans: Seq[Boolean] = Nil
    var nodes = 0
    var phases: Map[String, Double] = Map.empty
    val batchMs = mutable.ArrayBuffer.empty[Long]
    var addBatchMs, commitMs, stateRows = 0L
    var statePartitions = 0
  }

  @volatile private var current: Row = null
  private val jobs = mutable.HashMap.empty[Int, (Long, Phase)]
  private val stages = mutable.HashMap.empty[Int, Phase]
  private val idle = new Phase

  private def phaseOf(props: Properties, timeMs: Long): Phase = {
    val row = current
    if (row == null) idle
    else Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith(row.name + "#") && g.endsWith("#construct") => row.construct
      case Some(g) if g.startsWith(row.name + "#") && g.endsWith("#exec") => row.exec
      case _ => if (timeMs >= row.execStartMs) row.exec else row.construct
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = phaseOf(e.properties, e.time)
      p.jobs += 1
      jobs(e.jobId) = (e.time, p)
      e.stageIds.foreach(stages(_) = p)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (t, p) => p.jobMs += e.time - t }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get(e.stageId).foreach { p =>
        p.tasks += 1
        p.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          p.runMs += m.executorRunTime
          p.cpuNs += m.executorCpuTime
          p.gcMs += m.jvmGCTime
          p.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          p.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          p.spill += m.diskBytesSpilled
          p.outBytes += m.outputMetrics.bytesWritten
          p.outRecords += m.outputMetrics.recordsWritten
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val row = current
      if (row != null) {
        val p = e.progress
        row.batchMs += p.batchDuration
        row.addBatchMs += Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
        p.stateOperators.foreach { s =>
          row.commitMs += s.commitTimeMs
          row.stateRows += s.numRowsTotal
          row.statePartitions = math.max(row.statePartitions, s.numShufflePartitions.toInt)
        }
      }
    }
  }

  private var attached = false

  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def begin(name: String): Unit = current = new Row(name)
  def execStarts(): Unit = current.execStartMs = System.currentTimeMillis()
  def scans(s: Seq[Boolean]): Unit = current.scans = s
  def nodes(n: Int): Unit = current.nodes = n
  def phases(p: Map[String, Double]): Unit = current.phases = p

  /** Close the current row (after the bus was drained) into its record. */
  def end(): Json.Obj = {
    val r = current
    current = null
    jobs.clear()
    stages.clear()
    val x = r.exec
    val both = Seq(r.construct, r.exec)
    def phase(k: String): Double = r.phases.getOrElse(k, 0.0)
    Json.Obj(
      "eager_jobs" -> r.construct.jobs,
      "eager_job_s" -> r.construct.jobMs / 1e3,
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "nodes" -> r.nodes,
      "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
      "task_overhead_s" -> (x.taskMs - x.runMs) / 1e3,
      "task_run_s" -> x.runMs / 1e3,
      "task_cpu_s" -> x.cpuNs / 1e9,
      "gc_s" -> x.gcMs / 1e3,
      "shuffle_write_mb" -> x.shuffleWrite / 1e6,
      "shuffle_read_mb" -> x.shuffleRead / 1e6,
      "spill_mb" -> x.spill / 1e6,
      "output_mb" -> both.map(_.outBytes).sum / 1e6,
      "output_records" -> both.map(_.outRecords).sum,
      "scans" -> r.scans.size,
      "fills" -> r.scans.count(!_),
      "batch_ms" -> Json.Arr(r.batchMs.toSeq.map(ms => Json.num(ms.toDouble)): _*),
      "addbatch_s" -> r.addBatchMs / 1e3,
      "state_commit_s" -> r.commitMs / 1e3,
      "state_rows" -> r.stateRows,
      "state_partitions" -> r.statePartitions)
  }
}

object Tracer {
  /** Bytes under a directory tree (0 when absent). */
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.isFile) f.length
    else 0L
}
