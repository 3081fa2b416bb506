package graft.delta

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits: a listener plus a marker-job
  * flush, because the listener bus delivers job starts asynchronously. */
trait JobCounting { self: SparkTestBase =>

  private val MarkerKey = "graft.test.jobMarker"

  /** Counts job starts (all, and graft table writes by their job
    * description); a job tagged with [[MarkerKey]] is a flush marker, not
    * counted. */
  private final class JobCounter extends SparkListener {
    val jobs = new AtomicInteger
    val writeJobs = new AtomicInteger
    @volatile var lastMarker: String = _
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(MarkerKey))) match {
        case Some(m) => lastMarker = m
        case None =>
          jobs.incrementAndGet()
          if (props.flatMap(p => Option(p.getProperty("spark.job.description")))
              .exists(_.startsWith(GraftWriter.WriteJobDescription)))
            writeJobs.incrementAndGet()
      }
    }
  }

  /** Run a tagged marker job and wait until the counter has seen it, so
    * every earlier job start is counted. */
  private def flush(c: JobCounter): Unit = {
    val sc = spark.sparkContext
    val m = UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, m)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (c.lastMarker != m && System.nanoTime() < deadline) Thread.sleep(5)
    assert(c.lastMarker == m, "listener bus did not deliver the marker job")
  }

  /** (all jobs, table-write jobs) submitted while `body` runs, and its
    * result. */
  def jobCountsDuring[A](body: => A): ((Int, Int), A) = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    try {
      flush(c)
      c.jobs.set(0)
      c.writeJobs.set(0)
      val out = body
      flush(c)
      ((c.jobs.get, c.writeJobs.get), out)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** Spark jobs submitted while `body` runs, and its result. */
  def jobsDuring[A](body: => A): (Int, A) = {
    val ((jobs, _), out) = jobCountsDuring(body)
    (jobs, out)
  }
}
