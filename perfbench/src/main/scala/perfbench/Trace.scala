package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the run: workload → pass → query → build, plan or
  * action → Spark job → stage. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double) {
  def duration: Double = end - start
}

object Span {

  /** Length of the union of `intervals` clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. Overlapping children count once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.duration - covered(kids, s.start, s.end))
    }.toMap
  }
}

/** Collects the spans the harness opens around its calls into the engine. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1L
  // Epoch-ms anchor for the monotonic clock, so harness and Spark listener
  // times share one axis.
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def epochMs(nanoTime: Long): Double = anchorMs + (nanoTime - anchorNs) / 1e6

  def newId(): Long = synchronized { val i = next; next += 1; i }

  def add(s: Span): Unit = synchronized { buf += s }

  def record(parent: Long, kind: String, name: String, t0: Long, t1: Long): Long = {
    val id = newId()
    add(Span(id, parent, kind, name, epochMs(t0), epochMs(t1)))
    id
  }

  def spans: Seq[Span] = synchronized(buf.toList)
}

/** Per-stage executor totals, summed over the stage's tasks. */
final class StageTotals {
  var submitted = Double.NaN
  var completed = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

final case class JobRecord(
    id: Int, group: String, phase: String, start: Double, var end: Double, stageIds: Seq[Int])

/** Spark listener that attributes jobs, stages and task metrics to the
  * query call whose job group submitted them. The harness sets the job
  * group to the call id and the local property [[LayerListener.PhaseKey]]
  * to `build` or `action`, so jobs fired while a DataFrame is built count
  * as eager jobs.
  */
final class LayerListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val stages = mutable.LinkedHashMap.empty[Int, StageTotals]
  /** Time spent inside this listener's callbacks: tracing's own cost. */
  @volatile var busyNs = 0L

  private def stage(id: Int): StageTotals = stages.getOrElseUpdate(id, new StageTotals)

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs(e.jobId) = JobRecord(e.jobId, prop("spark.jobGroup.id"),
      prop(LayerListener.PhaseKey), e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submitted = t.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val st = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => if (st.submitted.isNaN) st.submitted = t.toDouble)
    e.stageInfo.completionTime.foreach(t => st.completed = t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val st = stage(e.stageId)
    st.tasks += 1
    if (!st.submitted.isNaN)
      st.waitMs += math.max(0L, e.taskInfo.launchTime - st.submitted.toLong)
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): (Seq[JobRecord], Map[Int, StageTotals]) = synchronized {
    (jobs.values.toList, stages.toMap)
  }
}

object LayerListener {
  val PhaseKey = "perfbench.phase"
}

/** Counts micro-batches of every streaming query the session runs. */
final class BatchListener extends StreamingQueryListener {
  @volatile var batches = 0L
  @volatile var batchMs = 0L
  @volatile var rows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchMs += e.progress.batchDuration
    rows += e.progress.numInputRows
  }
}
