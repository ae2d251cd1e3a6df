package graft

import org.apache.spark.sql.functions._

/** The plain-SQL surface: every table registered as a view, queries
  * written as literal SQL through spark.sql — same Catalyst plans as the
  * DataFrame API, so results must be identical.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("spark.sql over registered views equals the DataFrame formulation") {
    Tables.names.filterNot(_ == "events").foreach { t =>
      Tables.load(spark, sf001, t).createOrReplaceTempView(t)
    }
    // events needs the nanos-aware loader (raw parquet schema is illegal)
    Tables.events(spark, sf001).createOrReplaceTempView("events")

    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)

    val df = Tables.lineitem(spark, sf001)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("count_order"))

    assert(sql.except(df).isEmpty && df.except(sql).isEmpty)

    // windowed SQL too
    val topk = spark.sql(
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin)
    assert(topk.count() > 0)
    assert(topk.groupBy("o_custkey").count().agg(max("count")).head().getLong(0) <= 2)
  }

  test("curation operators are reachable from plain SQL: PII rules and the quality gate") {
    Tables.documents(spark, sf001).createOrReplaceTempView("documents")
    val emailPat = graft.ops.Pii.defaultRules.find(_.name == "email").get.pattern
    // literal SQL using only built-in functions — what a SQL-only user
    // of the engine would write; must agree with the operator API
    val sqlGate = spark.sql(
      """SELECT doc_id,
        |       CASE WHEN size(split(text, ' ')) < 25 THEN 'too_short'
        |            WHEN size(array_distinct(split(text, ' '))) * 100
        |                 < size(split(text, ' ')) * 30 THEN 'repetitive'
        |            ELSE 'ok' END AS reason
        |FROM documents""".stripMargin)
    val opGate = graft.ops.TextAnalysis
      .qualityFilter(Tables.documents(spark, sf001), "text", 25, 30)
      .select(col("doc_id"), col("reason"))
    assert(sqlGate.except(opGate).isEmpty && opGate.except(sqlGate).isEmpty)

    val sqlPii = spark.sql(
      s"SELECT doc_id, regexp_count(text, '$emailPat') AS n FROM documents")
    assert(sqlPii.agg(sum("n")).head().getLong(0) == 0L) // corpus carries no PII
  }
}
