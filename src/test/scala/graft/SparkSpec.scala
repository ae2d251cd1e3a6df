package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator specs (small data, 4 threads). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Count shuffle exchanges in a frame's physical plan, AQE-SAFE: under
    * adaptive execution the root is AdaptiveSparkPlanExec, which reports
    * no children to collect(), so a naive count returns 0 and any
    * `<= N` assertion passes vacuously. The frame must be BUILT inside
    * the thunk so it is planned with AQE off.
    */
  def shufflesOf(build: => org.apache.spark.sql.DataFrame): Int = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try build.queryExecution.executedPlan.collect {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
    }.sum
    finally spark.conf.set(key, prev)
  }

  /** The pipelines of one kind (class) that a conf dir registers. */
  def registered[P <: graft.streaming.ServedPipeline: scala.reflect.ClassTag](
      dir: String): Seq[P] =
    graft.streaming.PipelineRegistry.load(dir).map(_.pipeline)
      .collect { case p: P => p }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.streaming.LocalCheckpointFileManager.install(s)
    s
  }
}
