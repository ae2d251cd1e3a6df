package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for queries (names as args) — dev
  * utility for the optimization evidence trail (plans/<round>/ files).
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLANS_DIR
  * (REQUIRED — a baked-in round default would silently mislabel dumps
  * in later rounds), SPARK_GRAFT_PLAN_SUFFIX (e.g. "before"/"after").
  *
  * Runs in Bench's session ([[Bench.session]]), so the dumped plan is
  * the one the bench actually executes (shuffle partitions, AQE, UTC).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR",
      sys.error("SPARK_GRAFT_PLANS_DIR must be set (e.g. plans/r17)"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
