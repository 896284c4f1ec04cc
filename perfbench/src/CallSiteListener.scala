package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it: the layer it was charged to and
  * the task metrics summed over its stages.
  */
final class JobRecord(val jobId: Int, val group: String, val layer: String,
    val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var tasksFailed = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var schedWaitMs = 0L
}

/** Charges every Spark job to the graft package whose code submitted it.
  *
  * Spark records a call site for each stage (`StageInfo.details`) and for
  * each SQL execution (`SparkListenerSQLExecutionStart.details`): the stack
  * of the submitting thread from its first non-Spark frame outwards. The
  * innermost `graft.<pkg>` frame names the layer. Jobs submitted from
  * Spark's own threads (broadcast exchanges) carry no user frames in their
  * stage details, so the SQL execution they belong to names them instead.
  * Jobs whose stacks show no graft frame at all (an action the benchmark
  * runs on a DataFrame a graft API returned) take the `perfbench.layer`
  * local property the benchmark sets around such actions.
  *
  * Only public listener events are used. All state is guarded by `this`:
  * events arrive on the listener-bus thread, reads come from the driver.
  */
final class CallSiteListener extends SparkListener {

  private val execLayer = mutable.Map.empty[Long, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  private var callbackNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    callbackNs += System.nanoTime() - t0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      timed(CallSiteListener.layerOf(e.details).foreach(execLayer(e.executionId) = _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // the job's own result stage is its newest; older stages may be shared
    // with (and were created by) earlier jobs
    val fromStage = e.stageInfos.sortBy(-_.stageId).iterator
      .flatMap(s => CallSiteListener.layerOf(s.details)).nextOption()
    val fromSql = prop("spark.sql.execution.id").flatMap(_.toLongOption)
      .flatMap(execLayer.get)
    val layer = fromStage.orElse(fromSql).orElse(prop("perfbench.layer"))
      .getOrElse("bench")
    jobs(e.jobId) = new JobRecord(e.jobId,
      prop("spark.jobGroup.id").getOrElse(""), layer, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
    if (!stageFirstLaunch.contains(e.stageId)) {
      stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
      for (sub <- stageSubmitted.get(e.stageId); j <- stageJob.get(e.stageId);
           rec <- jobs.get(j))
        rec.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
      rec.tasks += 1
      if (e.reason != Success) rec.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.cpuNs += m.executorCpuTime
        rec.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until every job seen so far has ended and no event arrived for a
    * quiet interval, so the snapshot holds all tasks of finished jobs.
    */
  def drain(quietMs: Long = 300L, maxMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var lastCount = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (open, count) = synchronized(
        (jobs.values.exists(_.endMs < 0), jobs.size + stageFirstLaunch.size))
      if (count != lastCount || open) {
        lastCount = count
        stableSince = System.currentTimeMillis()
      } else if (System.currentTimeMillis() - stableSince >= quietMs) return
      Thread.sleep(50)
    }
  }

  def snapshot(): (Seq[JobRecord], Long) = synchronized((jobs.values.toSeq, callbackNs))
}

object CallSiteListener {

  /** The package of the innermost `graft.` frame of a Spark call-site
    * string; classes directly in `graft` (Tables, SparkEntry) map to
    * "graft".
    */
  def layerOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator).map(_.trim)
      .collectFirst { case l if l.startsWith("graft.") =>
        val parts = l.takeWhile(_ != '(').split('.')
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1)
        else "graft"
      }
}
