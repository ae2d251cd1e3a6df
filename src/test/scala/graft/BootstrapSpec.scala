package graft

import graft.cdc.{Bootstrap, Subscription}
import graft.sinks.EsSink
import graft.streaming.CdcPipeline
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** R4 snapshot bootstrap: a batch table encoded as op="r" events plus
  * incremental deltas must converge to the SAME sink state as replaying
  * the full event history.
  */
class BootstrapSpec extends SparkSpec {
  import spark.implicits._

  private def ev(op: String, id: Long, v: String, ts: Long, off: Long): (String, Long) = {
    val after = if (op == "d") "null" else s"""{"id":$id,"v":"$v"}"""
    (s"""{"payload":{"before":{"id":$id,"v":"x"},"after":$after,""" +
      s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
  }

  private val pipe = CdcPipeline("boot", Subscription(Set("d"), Set("t")),
    StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
    "id")
  private val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")

  private def runPipeline(srcDir: String): Seq[(String, String, String)] = {
    val ckpt = Files.createTempDirectory("graft_boot_ckpt_").toString
    SinkSpec.recorded.clear()
    val q = pipe.startDsv2(spark, srcDir, ckpt, cfg, new SinkSpec.Recorder)
    q.awaitTermination()
    SinkSpec.recorded.asScala.toSeq.map(r => (r.method, r.url, r.body)).sorted
  }

  test("batch backfill + deltas converge to the full-replay LWW state") {
    // full history: creates at ts 1-2, then deltas at ts 10+
    val history = Seq(
      ev("c", 1, "a", 1, 1), ev("c", 2, "b", 1, 2), ev("c", 3, "c", 2, 3),
      ev("u", 1, "a2", 10, 4), ev("d", 2, "-", 11, 5), ev("c", 4, "d", 12, 6))

    val fullDir = Files.createTempDirectory("graft_boot_full_").toString
    history.toDF("value", "offset").coalesce(1).write.mode("overwrite").json(fullDir)

    // bootstrap path: the table AS OF ts 2 (what a jdbc/parquet read
    // would return), encoded as op=r events, plus only the deltas
    val bootDir = Files.createTempDirectory("graft_boot_snap_").toString
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Bootstrap.bootstrapFeed(snapshot, bootDir, "d", "t", snapshotTsMs = 2L)
    history.drop(3).toDF("value", "offset").coalesce(1)
      .write.mode("append").json(bootDir)

    val full = runPipeline(fullDir)
    val boot = runPipeline(bootDir)
    assert(full.nonEmpty)
    assert(boot == full,
      s"bootstrap state diverged:\nfull=$full\nboot=$boot")
    // sanity: the converged state is the expected LWW outcome
    val puts = full.collect { case ("PUT", _, body) => body }
    assert(puts.toSet == Set("""{"id":1,"v":"a2"}""", """{"id":3,"v":"c"}""",
      """{"id":4,"v":"d"}"""))
    assert(full.exists { case (m, url, _) => m == "DELETE" && url.endsWith("/_doc/2") })
  }

  test("snapshot events carry op=r and survive the filter chain") {
    val snapshot = Seq((7L, "z")).toDF("id", "v")
    val events = Bootstrap.snapshotEvents(snapshot, "d", "t", 5L)
    val parsed = graft.cdc.EventFilters.all(
      graft.cdc.Envelope.parse(events))
    assert(parsed.count() == 1)
    val row = parsed.select("op", "ts_ms", "after").head()
    assert(row.getString(0) == "r")
    assert(row.getLong(1) == 5L)
    assert(row.getString(2).contains("\"v\":\"z\""))
  }
}
