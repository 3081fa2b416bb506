package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval on the harness clock (seconds since [[Clock.t0]]). */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, t0: Double, t1: Double)

/** One clock for spans, ops and Spark events. Spans read `System.nanoTime`;
  * listener events carry epoch milliseconds, converted with the offset
  * captured here. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3
}

/** Spans recorded around calls into the program's layers, kept in memory
  * and written when the run ends. While a span is open its id is the
  * thread's `perfbench.span` Spark local property, so every job it submits
  * names the span that caused it. Disabled, [[span]] only runs its body. */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanProperty

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val outer = sc.getLocalProperty(SpanProperty)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = Clock.now()
      try body
      finally {
        val t1 = Clock.now()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, outer)
        spans += Span(id, parent, op, layer, name, t0, t1)
      }
    }

  /** The root span of op number `index`; layer spans opened inside it
    * carry the op's index. */
  def opSpan[T](index: Int, kind: String)(body: => T): T = {
    op = index
    try span("op", kind)(body) finally op = -1
  }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Per-job Spark execution totals: task counts and metrics summed over
  * the job's stages, keyed back to the submitting span. */
final class JobRecord(val id: Int, val span: Int, val t0: Double,
                      val stageIds: Seq[Int]) {
  var t1: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
}

/** The exec layer, seen from outside: a listener that ties each job to
  * the span that submitted it and sums its tasks' metrics. Jobs submitted
  * outside any span (untraced rounds, set-up) are ignored. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = mutable.HashMap.empty[Int, JobRecord]
  @volatile private var drainSeen: String = null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(JobListener.DrainProperty)))
      .foreach(m => drainSeen = m)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { s =>
      val r = new JobRecord(e.jobId, s.toInt, Clock.fromEpochMs(e.time), e.stageIds)
      jobs(e.jobId) = r
      e.stageIds.foreach(stageToJob(_) = r)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = Clock.fromEpochMs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskRunS += m.executorRunTime / 1e3
        r.taskCpuS += m.executorCpuTime / 1e9
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.peakExecMemBytes = math.max(r.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * submit a marker job and wait for its start event. The listener bus
    * delivers one listener's events in order, so earlier jobs' ends and
    * task ends are in by then. */
  def drain(sc: SparkContext, timeoutS: Double = 30): Unit = {
    val marker = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(JobListener.DrainProperty, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobListener.DrainProperty, null)
    val deadline = Clock.now() + timeoutS
    while (drainSeen != marker && Clock.now() < deadline) Thread.sleep(5)
    // the marker job's own end follows its start; the jobs before it are
    // complete either way
  }

  def recorded: Seq[JobRecord] = synchronized(jobs.values.toSeq)
}

object JobListener {
  val DrainProperty = "perfbench.drain"
}
