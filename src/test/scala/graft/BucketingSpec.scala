package graft

import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Co-located joins: bucketing both fact tables on the join key at write
  * time eliminates the per-query shuffle — the difference between a
  * cluster-wide exchange of 100 TB and a local merge per bucket.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val orders = Tables.orders(spark, sf001)
    val lineitem = Tables.lineitem(spark, sf001)
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Bucketing.writeBucketed(orders, "orders_b", "o_orderkey", 8)
    Bucketing.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
      "o_orderkey", 8)

    // at sf0.001 Spark would (correctly) broadcast the tiny side; hint
    // merge to observe the at-scale plan shape, where broadcast is off
    // the table and bucketing is what saves the shuffle
    val joined = Bucketing.table(spark, "orders_b").hint("merge")
      .join(Bucketing.table(spark, "lineitem_b"), "o_orderkey")
      .groupBy(col("o_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
    val plan = joined.queryExecution.executedPlan.toString

    assert(plan.contains("SortMergeJoin"), plan.take(500))
    // the join itself must consume bucketed scans directly — the only
    // acceptable exchange is for the broadcast-free aggregate above it
    val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange hashpartitioning"),
      "bucketed join must not shuffle its inputs")

    // and it still computes the right thing
    val expected = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty")).count()
    assert(joined.count() == expected)
  }

  test("date-partitioned layout prunes partitions for time-range predicates") {
    val path = java.nio.file.Files.createTempDirectory("graft_part_").toString
    Bucketing.writeDatePartitioned(Tables.events(spark, sf001), "ts", path)
    val q = spark.read.parquet(path)
      .filter(col("dt") === "2024-01-02")
      .groupBy(col("event_type")).count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("dt"),
      "dt predicate must prune at listing time:\n" + plan.take(800))
    // pruned scan reads only that day's rows
    val expected = Tables.events(spark, sf001)
      .filter(to_date(col("ts")) === "2024-01-02").count()
    assert(q.agg(sum(col("count"))).head().getLong(0) == expected)
  }
}
