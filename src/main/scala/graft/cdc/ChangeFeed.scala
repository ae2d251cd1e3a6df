package graft.cdc

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic Debezium-envelope change feed derived from the testdata
  * tables (FIXTURES.md §2): every event class the reference's handler can
  * see — snapshot reads, inserts, updates, deletes-with-null-after,
  * duplicate deliveries, DDL events, unknown ops, tombstones, payloadless
  * junk, and events from a second table (customer) that subscription
  * routing must separate. Keyed off `o_orderkey`/`c_custkey` so the
  * DuckDB oracle can state the expected LWW result in plain SQL.
  *
  * Event slots per order key k (offset = k*10 + slot; ts_ms makes
  * r < u < d so last-writer-wins is well-defined and arrival-order-free):
  *   slot 0: op=r snapshot of the row            (always, ts=1e9+k)
  *   slot 1: op=u totalprice*1.1                 (k%3==0, ts=2e9+k)
  *   slot 2: duplicate delivery of the update    (k%12==0, same ts as u)
  *   slot 3: op=d with explicit "after": null    (k%5==0, ts=3e9+k)
  *   slot 4: DDL event                           (k%7==0)   → dropped R7
  *   slot 5: unknown op "t"                      (k%11==0)  → dropped R8
  *   slot 6: tombstone (null value)              (k%13==0)  → dropped R5
  *   slot 7: `{"foo":1}` no payload              (k%17==0)  → dropped R6
  *   slot 8: op=u with NO after key              (k%19==0, ts=4e9+k — would
  *           corrupt the result if R9 failed to drop it) → dropped R9
  * Customer rows additionally emit op=c events for table `customer`
  * (offset = 1e8 + c_custkey) that routing must keep out of the orders
  * pipeline. Even keys use the wrapped `{schema,payload}` form, odd keys
  * the bare-payload form, so both parser paths are exercised.
  */
object ChangeFeed {

  private val jsonOpts = Map("ignoreNullFields" -> "false")

  val ordersRowSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  val customerRowSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  private def source(table: String, tsMs: Column): Column =
    struct(lit("shop").as("db"), lit(table).as("table"), tsMs.as("ts_ms"))

  private def dataPayload(op: String, before: Column, after: Column,
      table: String, tsMs: Column): Column =
    struct(before.as("before"), after.as("after"),
      source(table, tsMs).as("source"), lit(op).as("op"), tsMs.as("ts_ms"))

  /** Wrap even keys in `{schema, payload}`, leave odd keys bare. */
  private def envelope(key: Column, payload: Column): Column =
    when(key % 2 === 0,
      to_json(struct(struct(lit("dbz-envelope").as("name")).as("schema"),
        payload.as("payload")), jsonOpts))
      .otherwise(to_json(payload, jsonOpts))

  /** The full mixed feed: columns `value: String (nullable)`, `offset: Long`. */
  def fromTestData(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val k = col("o_orderkey")
    val row = struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderpriority"))
    val updatedRow = struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      (col("o_totalprice") * 1.1).as("o_totalprice"), col("o_orderpriority"))
    val nullRow = lit(null).cast(ordersRowSchema)

    def ev(cond: Column, slot: Int, value: Column): DataFrame =
      orders.filter(cond).select(value.as("value"), (k * 10 + slot).as("offset"))

    val snapshot = ev(lit(true), 0,
      envelope(k, dataPayload("r", nullRow, row, "orders", lit(1000000000L) + k)))
    val update = ev(k % 3 === 0, 1,
      envelope(k, dataPayload("u", row, updatedRow, "orders", lit(2000000000L) + k)))
    val updateDup = ev(k % 12 === 0, 2,
      envelope(k, dataPayload("u", row, updatedRow, "orders", lit(2000000000L) + k)))
    val delete = ev(k % 5 === 0, 3,
      envelope(k, dataPayload("d", row, nullRow, "orders", lit(3000000000L) + k)))
    val ddl = ev(k % 7 === 0, 4,
      envelope(k, struct(nullRow.as("before"), row.as("after"),
        source("orders", lit(1500000000L) + k).as("source"), lit("c").as("op"),
        (lit(1500000000L) + k).as("ts_ms"),
        lit("ALTER TABLE orders ADD COLUMN note VARCHAR").as("ddl"))))
    val badOp = ev(k % 11 === 0, 5,
      envelope(k, dataPayload("t", nullRow, row, "orders", lit(1600000000L) + k)))
    val tombstone = ev(k % 13 === 0, 6, lit(null).cast(StringType))
    val noPayload = ev(k % 17 === 0, 7, lit("""{"foo": 1}"""))
    // update WITHOUT the after key, latest ts — only R9 keeps it out
    val missingAfter = ev(k % 19 === 0, 8,
      envelope(k, struct(row.as("before"),
        source("orders", lit(4000000000L) + k).as("source"),
        lit("u").as("op"), (lit(4000000000L) + k).as("ts_ms"))))

    val customer = Tables.customer(spark, dir)
    val cRow = struct(col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))
    val cNull = lit(null).cast(customerRowSchema)
    val customerIns = customer.select(
      envelope(col("c_custkey"),
        struct(cNull.as("before"), cRow.as("after"),
          source("customer", lit(1000000000L) + col("c_custkey")).as("source"),
          lit("c").as("op"), (lit(1000000000L) + col("c_custkey")).as("ts_ms")))
        .as("value"),
      (lit(100000000L) + col("c_custkey")).as("offset"))

    Seq(snapshot, update, updateDup, delete, ddl, badOp, tombstone,
      noPayload, missingAfter, customerIns).reduce(_.unionByName(_))
  }

  /** The feed staged as JSON-LINES (`{"value":…, "offset":…}` records) —
    * the wire format the DSv2 source (sources.cdc.CdcEventSource) and
    * the streaming pipelines consume. Built once per (dir, content) as a
    * warehouse artifact ([[DeltaLog.artifact]]).
    *
    * v2 = 32-even-file layout: the fingerprint tracks source CONTENT
    * only, so a layout change bumps the version. Round-robin into evenly
    * sized files: the union's natural output is a few skewed parts (one
    * per source branch), which caps the consumers' scan parallelism — a
    * real bronze log is many files.
    */
  def stagedJsonl(spark: SparkSession, dir: String): String =
    DeltaLog.stage(spark, "cdcjsonl_v2", dir, "orders", "customer") { out =>
      fromTestData(spark, dir).repartition(32).write.mode("overwrite").json(out)
    }

  /** The feed materialized as a parquet "bronze log" and read back —
    * which is both what a real capture layer produces AND a hard
    * optimizer barrier: consumed as an expression tree, predicate
    * pushdown inlines the whole to_json/from_json chain into every
    * filter term (observed: 184 copies in the q17 plan), re-serializing
    * each event several times per row. Staged once, queries measure CDC
    * processing, not fixture generation. Same v2 even-file layout as
    * [[stagedJsonl]]: even files keep the downstream JSON parse — the
    * CPU-bound stage of every CDC query — at full scan parallelism.
    */
  def staged(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      DeltaLog.stage(spark, "cdcfeed_v2", dir, "orders", "customer") { out =>
        fromTestData(spark, dir).repartition(32).write.mode("overwrite").parquet(out)
      })

  /** Row payload schema of the `documents` CDC feed — the corpus as a
    * LIVE table: the shape every CDC-maintained corpus index (near-dup,
    * ANN) consumes.
    */
  val documentsRowSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Deterministic documents change feed (same construction discipline
    * as [[fromTestData]], stated so the DuckDB oracle can rebuild the
    * final corpus in plain SQL):
    *   slot 0: op=r snapshot of every doc           (ts = 1e9 + id)
    *   slot 1: op=u for id%3==0 — text gains the suffix
    *           " revised edition"                   (ts = 2e9 + id)
    *   slot 2: op=d for id%5==0                     (ts = 3e9 + id)
    * LWW final state: id%5==0 gone (delete outranks the update for
    * id%15==0), id%3==0 revised, everything else original — in SQL:
    * `CASE WHEN doc_id%3=0 THEN text || ' revised edition' ELSE text
    * END ... WHERE doc_id%5 <> 0`.
    */
  def documentsFromTestData(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val k = col("doc_id").cast("long")
    val row = struct(k.as("doc_id"), col("text"))
    val updRow = struct(k.as("doc_id"),
      concat(col("text"), lit(" revised edition")).as("text"))
    val nullRow = lit(null).cast(documentsRowSchema)
    def ev(cond: Column, slot: Int, value: Column): DataFrame =
      docs.filter(cond).select(value.as("value"), (k * 10 + slot).as("offset"))
    val snapshot = ev(lit(true), 0,
      envelope(k, dataPayload("r", nullRow, row, "documents", lit(1000000000L) + k)))
    val update = ev(k % 3 === 0, 1,
      envelope(k, dataPayload("u", row, updRow, "documents", lit(2000000000L) + k)))
    val delete = ev(k % 5 === 0, 2,
      envelope(k, dataPayload("d", row, nullRow, "documents", lit(3000000000L) + k)))
    snapshot.unionByName(update).unionByName(delete)
  }

  /** Row payload schema of the `embeddings` CDC feed — the vector
    * corpus as a live table (what a CDC-maintained ANN index consumes).
    */
  val embeddingsRowSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Deterministic embeddings change feed (same slot discipline as
    * [[documentsFromTestData]]):
    *   slot 0: op=r snapshot of every vector       (ts = 1e9 + id)
    *   slot 1: op=u for id%3==0 — embedding NEGATED elementwise, which
    *           flips its direction (cosine geometry actually moves;
    *           a scale would be a cosine no-op)    (ts = 2e9 + id)
    *   slot 2: op=d for id%5==0                    (ts = 3e9 + id)
    * LWW final state in SQL: `CASE WHEN vec_id%3=0 THEN
    * list_transform(emb, x -> -x) ELSE emb END ... WHERE vec_id%5 <> 0`.
    * Float negation is exact, so the JSON round trip and the oracle's
    * arithmetic agree bitwise.
    */
  def embeddingsFromTestData(spark: SparkSession, dir: String): DataFrame = {
    val embs = graft.Tables.embeddings(spark, dir)
    val k = col("vec_id").cast("long")
    val row = struct(k.as("vec_id"), col("embedding"))
    val updRow = struct(k.as("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    val nullRow = lit(null).cast(embeddingsRowSchema)
    def ev(cond: Column, slot: Int, value: Column): DataFrame =
      embs.filter(cond).select(value.as("value"), (k * 10 + slot).as("offset"))
    val snapshot = ev(lit(true), 0,
      envelope(k, dataPayload("r", nullRow, row, "embeddings", lit(1000000000L) + k)))
    val update = ev(k % 3 === 0, 1,
      envelope(k, dataPayload("u", row, updRow, "embeddings", lit(2000000000L) + k)))
    val delete = ev(k % 5 === 0, 2,
      envelope(k, dataPayload("d", row, nullRow, "embeddings", lit(3000000000L) + k)))
    snapshot.unionByName(update).unionByName(delete)
  }

  /** The embeddings feed staged as JSON-lines for the DSv2 source. */
  def stagedEmbeddingsJsonl(spark: SparkSession, dir: String): String =
    DeltaLog.stage(spark, "embfeed_v1", dir, "embeddings") { out =>
      embeddingsFromTestData(spark, dir).repartition(8)
        .write.mode("overwrite").json(out)
    }

  /** The documents feed staged as JSON-lines for the DSv2 source. */
  def stagedDocsJsonl(spark: SparkSession, dir: String): String =
    DeltaLog.stage(spark, "docfeed_v1", dir, "documents") { out =>
      documentsFromTestData(spark, dir).repartition(8)
        .write.mode("overwrite").json(out)
    }
}
