package graft
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch breakdown for the streaming queries (names as args) —
  * dev utility (guide §1: decide whether a stateful query's wall is the
  * scan, the stateful shuffle, the state-store commit, or the harness).
  * Prints every StreamingQueryProgress as one JSON line: durationMs
  * {addBatch, getBatch, queryPlanning, walCommit, commitOffsets,
  * triggerExecution} plus stateOperators (commit times, rows, memory).
  * Runs in Bench's session ([[Bench.session]]).
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"PROGRESS ${e.progress.json}")
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      force(fn(spark, sfDir)) // warm-up (staging, codegen)
      println(s"PROBE $name measured run:")
      val t0 = System.nanoTime()
      force(fn(spark, sfDir))
      println(f"PROBE $name wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
