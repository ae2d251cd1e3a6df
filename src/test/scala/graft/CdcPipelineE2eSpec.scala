package graft

import graft.cdc.Subscription
import graft.sinks.EsSink
import graft.streaming.CdcPipeline
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end streaming run of the reference flow (SURVEY §3.2): a
  * bronze directory of change-event lines → readStream → parse → filters
  * → routing → per-batch LWW → idempotent sink effects, with the
  * checkpoint acting as the durable per-subscriber cursor: a restart
  * over the same directory re-delivers nothing.
  */
class CdcPipelineE2eSpec extends SparkSpec {
  import spark.implicits._

  private def ev(op: String, id: Long, v: String, ts: Long, off: Long): (String, Long) = {
    val after = if (op == "d") "null" else s"""{"id":$id,"v":"$v"}"""
    (s"""{"payload":{"before":{"id":$id,"v":"x"},"after":$after,""" +
      s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
  }

  test("streaming pipeline: source dir -> checkpointed query -> sink; restart is a no-op") {
    val srcDir = Files.createTempDirectory("graft_e2e_src_").toString
    val ckpt = Files.createTempDirectory("graft_e2e_ckpt_").toString
    val feed = Seq(
      ev("c", 1, "a", 1, 1), ev("u", 1, "b", 2, 2),
      ev("c", 2, "z", 1, 3), ev("d", 2, "-", 9, 4),
      (null, 5L)) // tombstone in the stream
      .toDF("value", "offset")
    feed.coalesce(1).write.mode("overwrite").json(srcDir)

    val pipe = CdcPipeline("e2e", Subscription(Set("d"), Set("t")),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      "id")
    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")

    SinkSpec.recorded.clear()
    val q = pipe.startDsv2(spark, srcDir, ckpt, cfg, new SinkSpec.Recorder)
    q.awaitTermination()
    val reqs = SinkSpec.recorded.asScala.toSeq
    assert(reqs.exists(r => r.method == "DELETE" && r.url.endsWith("/_doc/2")))
    assert(reqs.exists(r => r.method == "PUT" && r.body == """{"id":1,"v":"b"}"""))

    // restart over the same source + checkpoint: cursor says all consumed
    SinkSpec.recorded.clear()
    val q2 = pipe.startDsv2(spark, srcDir, ckpt, cfg, new SinkSpec.Recorder)
    q2.awaitTermination()
    assert(SinkSpec.recorded.isEmpty, "checkpoint must prevent re-delivery")
  }

  test("R12 transform hook: PII scrub runs inside the pipeline before the sink") {
    import org.apache.spark.sql.functions._
    val srcDir = Files.createTempDirectory("graft_pii_src_").toString
    val ckpt = Files.createTempDirectory("graft_pii_ckpt_").toString
    Seq(ev("c", 1, "mail bob@corp.example please", 1, 1),
        ev("c", 2, "clean row", 1, 2))
      .toDF("value", "offset")
      .coalesce(1).write.mode("overwrite").json(srcDir)

    // the reference's per-event transform (R12) — here the corpus PII
    // rule applied to the row payload before any sink effect
    val emailPat = graft.ops.Pii.defaultRules.find(_.name == "email").get.pattern
    val scrub: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("row", when(col("row").isNotNull,
        struct(col("row.id").as("id"),
          regexp_replace(col("row.v"), lit(emailPat), lit("<EMAIL>")).as("v"))))

    val pipe = CdcPipeline("pii", Subscription(Set("d"), Set("t")),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      "id", transform = scrub)
    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
    SinkSpec.recorded.clear()
    val q = pipe.startDsv2(spark, srcDir, ckpt, cfg, new SinkSpec.Recorder)
    q.awaitTermination()
    val bodies = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT").map(_.body).sorted
    assert(bodies == Seq("""{"id":1,"v":"mail <EMAIL> please"}""",
      """{"id":2,"v":"clean row"}"""), s"sink must see scrubbed payloads: $bodies")
  }
}
