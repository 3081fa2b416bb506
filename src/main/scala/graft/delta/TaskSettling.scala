package graft.delta

import java.util.UUID
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.{ListenerBridge, MarkerEvent}

/** Holds a failed Spark job's caller back until the job's tasks are done.
  *
  * A failed job returns to its caller while Spark is still killing the
  * sibling task attempts: a killed write task deletes the file it opened
  * only as it aborts, and one not yet reached may still create a file, so
  * cleanup that runs (or a process that exits) in that window leaves it
  * behind. [[apply]] tags the jobs `body` submits and, when `body` throws,
  * waits for the end event of every task attempt they launched, which Spark
  * posts only after the task's thread has left it, abort included. */
private[graft] object TaskSettling {
  private val TagKey = "graft.settle.tag"

  /** Bound on the wait: a task that ignores its kill must not hang the caller. */
  private val TimeoutMs = 60000L

  /** `body`; if it throws, first wait until every task attempt of the Spark
    * jobs it submitted has ended. The listener lives only as long as `body`,
    * so jobs outside any write pay nothing. */
  def apply[A](sc: SparkContext)(body: => A): A = {
    val tag = UUID.randomUUID().toString
    val tracker = new Tracker(tag)
    sc.addSparkListener(tracker)
    val prior = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body
    catch {
      case e: Throwable =>
        // the marker queues behind the start event of every job already
        // submitted, and each job's task starts precede its end
        ListenerBridge.post(sc, new MarkerEvent(tag))
        if (!tracker.awaitSettled(System.currentTimeMillis() + TimeoutMs))
          System.err.println("graft: the tasks of a failed job did not all " +
            s"end within ${TimeoutMs / 1000} s; cleanup proceeds")
        throw e
    } finally {
      sc.setLocalProperty(TagKey, prior)
      sc.removeSparkListener(tracker)
    }
  }

  /** Open jobs and running task attempts of the jobs tagged `tag`. */
  private final class Tracker(tag: String) extends SparkListener {
    private val stages = mutable.Set.empty[Int]
    private val jobs = mutable.Set.empty[Int]
    private val running = mutable.Set.empty[Long]
    private var marked = false
    private def settled = marked && jobs.isEmpty && running.isEmpty

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty(TagKey) == tag) {
        jobs += e.jobId
        stages ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs -= e.jobId; notifyAll()
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      if (stages(e.stageId)) running += e.taskInfo.taskId
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      running -= e.taskInfo.taskId; notifyAll()
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case m: MarkerEvent if m.id == tag => synchronized { marked = true; notifyAll() }
      case _ => ()
    }

    /** Wait until settled or `deadline`; returns whether it settled (an
      * interrupted wait gives up, keeping the interrupt). */
    def awaitSettled(deadline: Long): Boolean = synchronized {
      try {
        var left = deadline - System.currentTimeMillis()
        while (!settled && left > 0) {
          wait(left)
          left = deadline - System.currentTimeMillis()
        }
      } catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      settled
    }
  }
}
