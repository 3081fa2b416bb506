package graft.delta

import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkTestBase
import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite

/** [[TaskSettling]]: a failed job's caller resumes only after every task
  * attempt the job launched has ended. */
class TaskSettlingSpec extends AnyFunSuite with SparkTestBase {
  import TaskSettlingSpec.{Ended, Started}

  test("a failed job returns only after its sibling tasks have ended") {
    Started.set(false); Ended.set(false)
    val sc = spark.sparkContext
    intercept[SparkException] {
      TaskSettling(sc) {
        sc.parallelize(0 until 2, 2).foreach { i =>
          if (i == 0) {
            // fail only once the sibling runs, so the kill reaches it mid-task
            val deadline = System.currentTimeMillis() + 10000
            while (!Started.get && System.currentTimeMillis() < deadline) Thread.sleep(5)
            throw new IllegalStateException("task 0 fails")
          } else {
            Started.set(true)
            // a killed task that is not interrupted runs on to its end
            try Thread.sleep(1500) catch { case _: InterruptedException => () }
            Ended.set(true)
          }
        }
      }
    }
    assert(Started.get, "the sibling task never started")
    assert(Ended.get, "the failed job returned while its sibling task still ran")
  }

  test("a body that fails before any job, or succeeds, returns at once") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    intercept[IllegalArgumentException](TaskSettling(sc)(throw new IllegalArgumentException("x")))
    assert(TaskSettling(sc)(sc.parallelize(1 to 4, 2).sum()) == 10)
    assert((System.nanoTime() - t0) / 1000000 < 10000)
  }
}

object TaskSettlingSpec {
  // tasks run in this JVM (local master), so they can signal the test
  val Started = new AtomicBoolean(false)
  val Ended = new AtomicBoolean(false)
}
