package graft

import graft.ops.Bounded
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class BoundedSpec extends SparkSpec {

  // one partition, so a limit read is one job however many rows it keeps
  private def ids(n: Int) = spark.range(0, n, 1, 1).toDF("id")

  /** Jobs `body` submits. Listener events arrive asynchronously but in
    * order, so once a sentinel job submitted after `body` has been seen,
    * every job of `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.boundedspec"
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get()
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("collect: exactly cap rows come back whole") {
    val got = Bounded.collect(ids(5), 5).map(_.map(_.getLong(0)).toSeq)
    assert(got == Some(0L until 5L))
  }

  test("collect: cap + 1 rows give None") {
    assert(Bounded.collect(ids(6), 5).isEmpty)
  }

  test("collect: cap <= 0 gives None without a job") {
    assert(jobsOf(assert(Bounded.collect(ids(3), 0).isEmpty)) == 0)
    assert(jobsOf(assert(Bounded.collect(ids(3), -1).isEmpty)) == 0)
  }

  test("collect: a cap-row read is one job") {
    assert(jobsOf(assert(Bounded.collect(ids(5), 5).isDefined)) == 1)
  }
}
