package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checkable query: the Spark implementation plus (when the
  * semantics are SQL-expressible) the equivalent DuckDB SQL the driver
  * runs as the correctness oracle. Column names MUST match between the
  * two — the driver sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
