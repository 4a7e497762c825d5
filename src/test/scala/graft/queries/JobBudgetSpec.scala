package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Job budgets: how many Spark jobs a query runs from construction (the
  * eager staging jobs that run while its DataFrame is built) through a
  * noop write, on the sf0.001 fixture. At this scale most of a query's
  * time is fixed cost per job, and a job count, unlike a wall time, does
  * not drift with load on the machine, so a budget is a performance
  * tripwire. A count well under its budget means the budget should come
  * down with the change that earned it.
  */
class JobBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Jobs started while `q` is built and written to the noop sink. */
  private def jobsOf(q: String): Int = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    } finally { ListenerBus.drain(sc); sc.removeSparkListener(listener) }
    jobs.get()
  }

  test("events_anomaly_mad stays within its job budget") {
    // 10 jobs, 11 when the events file's footer is read for the first
    // time in the session: 2 staging jobs while the frame is built, 8
    // in the write. Both medians take percentilesExact's one-pass route
    // here; with the selection route for both it was 61 (62) jobs.
    val jobs = jobsOf("events_anomaly_mad")
    assert(jobs >= 9 && jobs <= 12, s"$jobs jobs")
  }
}
