package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Regex-based PII detection and redaction — a first-class gate in any
  * LLM-training-data pipeline (emails, IPs, phone numbers scrubbed
  * before a corpus ships).
  *
  * Everything here is per-row, codegen'd `regexp_count`/`regexp_replace`
  * over one scan — no shuffle, no UDF; at 100 TB the operator is pure
  * map-side throughput. Rules are RE2-compatible by construction (no
  * backreferences, no lookaround) so the SAME pattern strings run under
  * Java regex (engine) and RE2 (DuckDB oracle) with identical matches.
  */
object Pii {

  final case class Rule(name: String, pattern: String, replacement: String)

  /** Rule order matters and is part of the contract: email first — an
    * address body can contain digit.dot runs an IP rule would clip. */
  val defaultRules: Seq[Rule] = Seq(
    Rule("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    Rule("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    Rule("phone", "\\b555-\\d{4}\\b", "<PHONE>"))

  /** Adds one `n_<rule>` match-count column per rule (counted on the
    * ORIGINAL text) plus `clean`, the text with every rule's matches
    * replaced in rule order.
    */
  def detectAndRedact(df: DataFrame, textCol: String,
      rules: Seq[Rule] = defaultRules): DataFrame = {
    val counts = rules.map(r =>
      regexp_count(col(textCol), lit(r.pattern)).cast("long").as(s"n_${r.name}"))
    val clean = rules.foldLeft(col(textCol)) { (c, r) =>
      regexp_replace(c, lit(r.pattern), lit(r.replacement))
    }
    df.select(df.columns.toSeq.map(col) ++ counts :+ clean.as("clean"): _*)
  }
}
