package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Listener-side tracing, built only on public Spark APIs. Every job carries
  * the local properties the harness sets around each phase (query id and
  * phase name), so jobs, stages and tasks are attributed to the query and
  * phase that launched them even though listener events arrive
  * asynchronously. Jobs launched from threads that did not inherit the
  * properties (stream execution threads started before the property was
  * set) are attributed by time to the query span that contains them. */
final class Trace {
  import Trace._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAcc]
  val stageSpan = mutable.HashMap.empty[Int, (Long, Long)]
  val batches = mutable.ArrayBuffer.empty[Batch]
  private val markersSeen = mutable.HashSet.empty[String]
  private val streamsStarted = mutable.HashSet.empty[java.util.UUID]
  private val streamsEnded = mutable.HashSet.empty[java.util.UUID]
  private var drains = 0

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      val qid = p.flatMap(x => Option(x.getProperty(Trace.QidKey)))
      val ph = p.flatMap(x => Option(x.getProperty(Trace.PhaseKey)))
      jobs(e.jobId) = Job(e.jobId, qid, ph, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        j.qid.filter(_.startsWith(DrainPrefix)).foreach(markersSeen += _)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) stageSpan(i.stageId) = (a, b)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val acc = stages.getOrElseUpdate(e.stageId, new StageAcc)
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.input += m.inputMetrics.bytesRead
        acc.output += m.outputMetrics.bytesWritten
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized { streamsStarted += e.runId }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized { streamsEnded += e.runId }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches += Batch(ts, p.numInputRows, dur, p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  /** Waits until every listener event posted before the call has been
    * delivered, so the listeners can be removed without losing the last
    * query's events. The bus delivers each queue in order: once a marker
    * job launched now is seen to end, every earlier job, stage and task
    * event has been seen. A streaming query's start reaches the listener
    * synchronously and its termination comes after its last progress event,
    * so a query seen to terminate has delivered all its progress. Returns
    * false if that does not happen within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Boolean = {
    drains += 1
    val marker = s"$DrainPrefix$drains"
    sc.setLocalProperty(QidKey, marker)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(QidKey, null)
    def done = synchronized { markersSeen(marker) && streamsStarted.subsetOf(streamsEnded) }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(2)
    done
  }
}

object Trace {
  final case class Job(id: Int, qid: Option[String], phase: Option[String],
      start: Long, var end: Long, stages: Seq[Int])
  final class StageAcc {
    var tasks = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }
  final case class Batch(ts: Long, inputRows: Long, durMs: Long, stateRows: Long)

  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"
  /** Query-id prefix of the marker jobs `drain` launches; no execution
    * carries it, so they are attributed to nothing. */
  val DrainPrefix = "perfbench.drain:"

  /** Total length of the union of [a, b) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
