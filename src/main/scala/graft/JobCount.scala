package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicLong

/** Count Spark jobs a query submits (names as args) — dev utility for
  * A/B-ing driver-loop shapes (BFS rounds etc.), where wall time alone
  * is noisy but the job count is deterministic. Each query first runs
  * once untimed and uncounted, so a memoized drive a cold warehouse
  * pays on the first run never enters the count.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    val jobs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def run(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are async — give the bus a beat to drain
      Thread.sleep(300)
      sec
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      run(fn) // warm-up: untimed, uncounted
      jobs.set(0)
      val sec = run(fn)
      println(f"JOBCOUNT $name jobs=${jobs.get()} wall=$sec%.3f s")
    }
    spark.stop()
  }
}
