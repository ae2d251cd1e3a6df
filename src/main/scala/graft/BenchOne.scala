package graft
/** Time a subset of queries (names as args) — dev utility. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    // same forcing as Bench: noop write materializes every projected column
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      force(fn(spark, sfDir))
      val times = Seq.fill(3) {
        val t0 = System.nanoTime(); force(fn(spark, sfDir)); (System.nanoTime()-t0)/1e9
      }.sorted
      println(f"BENCHONE $name median=${times(1)}%.3f s")
    }
    spark.stop()
  }
}
