package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level totals of the Spark jobs one trace caused. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  val jobIds = mutable.Set.empty[Int]

  def +=(o: TaskTotals): this.type = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedulerDelayMs += o.schedulerDelayMs; shuffleWriteBytes += o.shuffleWriteBytes
    jobIds ++= o.jobIds
    this
  }
}

private final case class JobRef(spanId: Long, parent: Long, trace: Long, startMs: Long)

/** The benchmark's view of the Spark runtime. Jobs started under a job
  * group written by [[Tracer]] become `job` spans (layer `spark`) under the
  * caller's span, their stages become `stage` spans under the job, and
  * their task metrics are summed per trace. Jobs started outside any span
  * are ignored. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  private val jobs = mutable.Map.empty[Int, JobRef]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val totals = mutable.Map.empty[Long, TaskTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    JobGroup.parse(group).foreach { case (parent, trace) =>
      jobs(e.jobId) = JobRef(tracer.nextId(), parent, trace, e.time)
      e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
      totals.getOrElseUpdate(trace, new TaskTotals).jobIds += e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      tracer.add(Span(j.spanId, j.parent, j.trace, "job", "spark", j.startMs * 1000, e.time * 1000))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for {
      jobId <- stageJob.get(si.stageId)
      j <- jobs.get(jobId)
      s <- si.submissionTime
      c <- si.completionTime
    } tracer.add(Span(tracer.nextId(), j.spanId, j.trace, s"stage ${si.stageId}", "spark.stage",
      s * 1000, c * 1000))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      jobId <- stageJob.get(e.stageId)
      j <- jobs.get(jobId)
      m <- Option(e.taskMetrics)
    } {
      val t = totals.getOrElseUpdate(j.trace, new TaskTotals)
      val info = e.taskInfo
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      // the Spark UI's definition of scheduler delay
      t.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  /** Summed task totals over the given traces. */
  def totalsFor(traces: Iterable[Long]): TaskTotals = synchronized {
    val out = new TaskTotals
    traces.foreach(t => totals.get(t).foreach(out += _))
    out
  }
}

object SparkProbe {
  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.BusBridge.drain(sc)

  /** Rows output by the scan nodes (file or in-memory) of every SQL
    * execution that ran one of `jobIds`, read from Spark's own SQL status
    * store — the queries an operator builds internally are otherwise out of
    * the caller's reach. Call it after [[drain]], so the status store and
    * `jobIds` hold every job that has run. */
  def scannedRows(spark: org.apache.spark.sql.SparkSession, jobIds: collection.Set[Int]): Long = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    store.executionsList().filter(_.jobs.keySet.exists(jobIds.contains)).map { e =>
      val values = store.executionMetrics(e.executionId)
      store.planGraph(e.executionId).allNodes
        .filter(n => n.name.contains("Scan"))
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.filter(_.isDigit) match { case "" => 0L case d => d.toLong })
        .sum
    }.sum
  }
}
