package graft

import graft.cdc.{DeltaLog, IncrementalAgg}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Compaction equivalence: every fold class must see IDENTICAL results
  * on a multi-batch delta log and on its compacted one-batch form.
  */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("v", DoubleType)))

  private def row(id: Long, g: String, v: Double) =
    s"""{"id":$id,"g":"$g","v":$v}"""

  test("compact preserves every fold class (± sums, distinct, top-k) and shrinks the log") {
    val base = java.nio.file.Files.createTempDirectory("graft_dl_spec_").toString
    val logDir = s"$base/log"
    def writeBatch(id: Long, rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("key", "action", "rowJson", "prevJson")
        .write.mode("overwrite").parquet(s"$logDir/batch_id=$id")
    // batch 0: three inserts across two groups
    writeBatch(0, Seq(
      (1L, "upsert", row(1, "a", 10.0), null),
      (2L, "upsert", row(2, "a", 8.0), null),
      (3L, "upsert", row(3, "b", 6.0), null)))
    // batch 1: re-price k1, group-move k3 b→a, delete k2
    writeBatch(1, Seq(
      (1L, "upsert", row(1, "a", 12.0), row(1, "a", 10.0)),
      (3L, "upsert", row(3, "a", 6.5), row(3, "b", 6.0)),
      (2L, "delete", null, row(2, "a", 8.0))))
    // batch 2: k4 inserted then... nothing (stays live)
    writeBatch(2, Seq((4L, "upsert", row(4, "b", 1.0), null)))

    val original = spark.read.parquet(logDir)
    val compactDir = s"$base/compacted"
    DeltaLog.compact(spark, logDir, compactDir)
    val compacted = spark.read.parquet(compactDir)

    def folds(log: DataFrame) = (
      IncrementalAgg.sumCountByGroup(log, rowSchema, "g", "v")
        .as[(String, Long, Double)].collect().toSet,
      IncrementalAgg.distinctCountByGroup(log, rowSchema, "g", "id")
        .as[(String, Long)].collect().toSet,
      IncrementalAgg.topKByGroup(log, rowSchema, "g", "v", "id", 2)
        .as[(String, Long, Long, Double)].collect().toSet)
    assert(folds(compacted) == folds(original))
    // sanity on the expected live state: k1 a@12, k3 a@6.5, k4 b@1
    assert(folds(compacted)._1 == Set(("a", 2L, 18.5), ("b", 1L, 1.0)))
    // compaction dropped history: one row per LIVE key, prev-free
    val rows = compacted.collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getAs[String]("action") == "upsert"
      && r.getAs[String]("prevJson") == null))
  }

  private def writeLog(logDir: String,
      batches: Seq[(Long, Seq[(Long, String, String, String)])]): Unit =
    batches.foreach { case (id, rows) =>
      rows.toDF("key", "action", "rowJson", "prevJson")
        .write.mode("overwrite").parquet(s"$logDir/batch_id=$id")
    }

  test("compactLog swaps CURRENT atomically; folds identical across generations; re-compactable") {
    val base = java.nio.file.Files.createTempDirectory("graft_dl_gen_").toString
    writeLog(s"$base/data", Seq(
      0L -> Seq((1L, "upsert", row(1, "a", 10.0), null),
        (2L, "upsert", row(2, "b", 5.0), null)),
      1L -> Seq((1L, "upsert", row(1, "a", 11.0), row(1, "a", 10.0)))))
    def fold() = IncrementalAgg.sumCountByGroup(
        spark.read.parquet(DeltaLog.activeDataDir(base)), rowSchema, "g", "v")
      .as[(String, Long, Double)].collect().toSet
    val before = fold()
    assert(DeltaLog.activeDataDir(base).endsWith("/data"))
    val gen1 = DeltaLog.compactLog(spark, base)
    assert(gen1.endsWith("/compact_1")
      && DeltaLog.activeDataDir(base) == gen1)
    assert(fold() == before)
    // the compacted generation is one batch of live upserts
    assert(spark.read.parquet(gen1).collect()
      .forall(_.getAs[String]("action") == "upsert"))
    // a second compaction stacks a new generation, never mixes
    val gen2 = DeltaLog.compactLog(spark, base)
    assert(gen2.endsWith("/compact_2")
      && DeltaLog.activeDataDir(base) == gen2)
    assert(fold() == before)
  }

  test("gc retires superseded fingerprints and generations on the retention clock") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val wh = Files.createTempDirectory("graft_dl_wh_").toString
    val prev = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      val now = 1_000_000_000_000L
      // one logical log, two fingerprints: fpOld superseded, fpNew live
      val fpOld = s"$wh/deltalog_orders_t/aaaa"
      val fpNew = s"$wh/deltalog_orders_t/bbbb"
      writeLog(s"$fpOld/data", Seq(0L -> Seq((1L, "upsert", row(1, "a", 1.0), null))))
      writeLog(s"$fpNew/data", Seq(0L -> Seq((1L, "upsert", row(1, "a", 2.0), null))))
      Files.createDirectories(Paths.get(s"$fpNew/ckpt"))
      Files.createFile(Paths.get(s"$fpNew/_GRAFT_DONE"))
      // live fingerprint compacted twice: data and compact_1 superseded
      DeltaLog.compactLog(spark, fpNew)
      DeltaLog.compactLog(spark, fpNew)
      // age everything, then mark fpNew as the most recent fingerprint
      Seq(fpOld, s"$fpNew/data", s"$fpNew/compact_1").foreach(p =>
        Files.setLastModifiedTime(Paths.get(p), FileTime.fromMillis(now - 10_000)))
      Files.setLastModifiedTime(Paths.get(fpNew), FileTime.fromMillis(now))

      // inside the retention window: nothing is deleted
      assert(DeltaLog.gc(spark, retentionMs = 60_000, nowMs = now).isEmpty)
      assert(Files.exists(Paths.get(s"$fpOld/data")))
      // past it: the old fingerprint and both superseded generations go
      val deleted = DeltaLog.gc(spark, retentionMs = 5_000, nowMs = now).toSet
      assert(deleted == Set(fpOld, s"$fpNew/data", s"$fpNew/compact_1"))
      assert(!Files.exists(Paths.get(fpOld)))
      assert(Files.exists(Paths.get(s"$fpNew/compact_2"))
        && Files.exists(Paths.get(s"$fpNew/ckpt"))
        && Files.exists(Paths.get(s"$fpNew/_GRAFT_DONE")))
      // folds over the surviving active generation still work
      assert(IncrementalAgg.sumCountByGroup(
          spark.read.parquet(DeltaLog.activeDataDir(fpNew)), rowSchema, "g", "v")
        .as[(String, Long, Double)].collect().toSet == Set(("a", 1L, 2.0)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.warehouse", v)
      case None => spark.conf.unset("spark.graft.warehouse")
    }
  }

  test("maintain dispatches compaction by log schema; unknown shapes are left whole") {
    import java.nio.file.{Files, Paths}
    val wh = Files.createTempDirectory("graft_dl_wh2_").toString
    val prev = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      // a SIGNED pair log (no key/action columns): two batches netting
      // (1,2)->1 and (1,3)->1
      val pairBase = s"$wh/lshindexlog_t/cafe"
      Seq((1L, 2L, 1), (1L, 2L, 1)).toDF("id_a", "id_b", "delta")
        .write.parquet(s"$pairBase/data/batch_id=0")
      Seq((1L, 2L, -1), (1L, 3L, 1)).toDF("id_a", "id_b", "delta")
        .write.parquet(s"$pairBase/data/batch_id=1")
      Files.createFile(Paths.get(s"$pairBase/_GRAFT_DONE"))
      // a VIEW-DELTA log: fact 10's update chain plus fact 11 whose
      // last word is a delete — compaction must keep one prev-free
      // upsert for 10 and drop 11 entirely
      val viewBase = s"$wh/viewdeltalog_t/beef"
      Seq((10L, "upsert", """{"v":1}""", "{}", null: String, null: String),
          (11L, "upsert", """{"v":9}""", "{}", null: String, null: String))
        .toDF("factId", "action", "factJson", "dimJson",
          "prevFactJson", "prevDimJson")
        .write.parquet(s"$viewBase/data/batch_id=0")
      Seq((10L, "upsert", """{"v":2}""", "{}", """{"v":1}""", "{}"),
          (11L, "delete", null: String, null: String, """{"v":9}""", "{}"))
        .toDF("factId", "action", "factJson", "dimJson",
          "prevFactJson", "prevDimJson")
        .write.parquet(s"$viewBase/data/batch_id=1")
      Files.createFile(Paths.get(s"$viewBase/_GRAFT_DONE"))
      val viewBefore = graft.cdc.IncrementalJoin.materializeLatest(
          spark.read.parquet(s"$viewBase/data"))
        .select("factId", "factJson").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // a genuinely UNKNOWN shape: must be left untouched
      val oddBase = s"$wh/mysterylog_t/feed"
      Seq((1L, "x")).toDF("a", "b").write.parquet(s"$oddBase/data/batch_id=0")
      Seq((2L, "y")).toDF("a", "b").write.parquet(s"$oddBase/data/batch_id=1")
      Files.createFile(Paths.get(s"$oddBase/_GRAFT_DONE"))

      // the old behavior applied the LWW latest-per-"key" compact to
      // every log and died on the missing column, aborting the whole pass
      DeltaLog.maintain(spark, maxBatches = 1, retentionMs = Long.MaxValue)

      // the signed log compacted to net rows under a new generation
      assert(Files.exists(Paths.get(s"$pairBase/CURRENT")))
      val folded = graft.ops.MinHashLsh.livePairs(
          spark.read.parquet(DeltaLog.activeDataDir(pairBase)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(folded == Set((1L, 2L, 1L), (1L, 3L, 1L)))
      assert(spark.read.parquet(DeltaLog.activeDataDir(pairBase)).count() == 2)
      // the view-delta log compacted to one live prev-free upsert;
      // materializeLatest is invariant across the rewrite
      assert(Files.exists(Paths.get(s"$viewBase/CURRENT")))
      val viewActive = spark.read.parquet(DeltaLog.activeDataDir(viewBase))
      assert(viewActive.count() == 1, "live keys only after compaction")
      assert(viewActive.filter(col("prevFactJson").isNotNull).count() == 0)
      val viewAfter = graft.cdc.IncrementalJoin.materializeLatest(viewActive)
        .select("factId", "factJson").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(viewAfter == viewBefore && viewAfter == Map(10L -> """{"v":2}"""))
      // the unknown-shape log was not compacted (no CURRENT pointer)
      assert(!Files.exists(Paths.get(s"$oddBase/CURRENT")))
      assert(spark.read.parquet(s"$oddBase/data").count() == 2)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.warehouse", v)
      case None => spark.conf.unset("spark.graft.warehouse")
    }
  }

  test("gc keeps the most recently USED fingerprint, not the most recently built") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val wh = Files.createTempDirectory("graft_dl_wh3_").toString
    val prev = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      val now = 1_000_000_000_000L
      // fpA built FIRST, then content changed to fpB, then reverted:
      // readers re-serve fpA (its marker mtime refreshed by the cache
      // hit), fpB is the dead one despite being built later
      val fpA = s"$wh/deltalog_orders_u/aaaa"
      val fpB = s"$wh/deltalog_orders_u/bbbb"
      writeLog(s"$fpA/data", Seq(0L -> Seq((1L, "upsert", row(1, "a", 1.0), null))))
      writeLog(s"$fpB/data", Seq(0L -> Seq((1L, "upsert", row(1, "a", 2.0), null))))
      Files.createFile(Paths.get(s"$fpA/_GRAFT_DONE"))
      Files.createFile(Paths.get(s"$fpB/_GRAFT_DONE"))
      // dir mtimes say B is newer (built later); marker mtimes say A is
      // the one in use (refreshed on access)
      Files.setLastModifiedTime(Paths.get(fpA), FileTime.fromMillis(now - 50_000))
      Files.setLastModifiedTime(Paths.get(fpB), FileTime.fromMillis(now - 20_000))
      Files.setLastModifiedTime(Paths.get(s"$fpA/_GRAFT_DONE"),
        FileTime.fromMillis(now))
      Files.setLastModifiedTime(Paths.get(s"$fpB/_GRAFT_DONE"),
        FileTime.fromMillis(now - 20_000))
      val deleted = DeltaLog.gc(spark, retentionMs = 5_000, nowMs = now).toSet
      assert(deleted == Set(fpB), "the superseded-but-newer-built dir goes")
      assert(Files.exists(Paths.get(s"$fpA/data")), "the in-use dir survives")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.warehouse", v)
      case None => spark.conf.unset("spark.graft.warehouse")
    }
  }

  // ---- staged fixture feeds: warehouse artifacts behind DeltaLog.stage

  /** Run `body` against a fresh `spark.graft.warehouse`, restored after. */
  private def withWarehouse[T](body: String => T): T = {
    val wh = java.nio.file.Files.createTempDirectory("graft_dl_stage_wh_").toString
    val prev = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    try body(wh)
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.warehouse", v)
      case None => spark.conf.unset("spark.graft.warehouse")
    }
  }

  /** A fresh data dir holding a copy of sf0.001's `table`. */
  private def copiedTable(table: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_dl_stage_src_")
    Files.copy(Paths.get(sf001, s"$table.parquet"), dir.resolve(s"$table.parquet"))
    dir.toString
  }

  test("two threads stage one fresh fixture: the build runs once into the warehouse and both read identical rows") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    withWarehouse { wh =>
      val dir = copiedTable("documents")
      val sentinelDir = java.nio.file.Files.createTempDirectory("graft_dl_sentinel_")
        .resolve("out").toString
      // writes into the warehouse, counted off the query listener bus;
      // events arrive asynchronously but in order, so once the sentinel
      // write submitted after both stagings is seen, every staging
      // write has been counted
      val writes = new AtomicInteger(0)
      val sentinel = new CountDownLatch(1)
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = {
          val plan = qe.logical.toString
          if (plan.contains(sentinelDir)) sentinel.countDown()
          else if (plan.contains(wh)) writes.incrementAndGet()
        }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val start = new CountDownLatch(1)
        val stagers = (1 to 2).map(_ => Future {
          start.await()
          val feed = graft.cdc.ChangeFeed.stagedDocsJsonl(spark, dir)
          (feed, spark.read.json(feed).collect().map(_.toString).sorted.toSeq)
        })
        start.countDown()
        val got = stagers.map(Await.result(_, 5.minutes))
        assert(got.map(_._1).distinct.size == 1)
        assert(got.head._1.startsWith(wh + "/docfeed_v1_"),
          s"staged outside the warehouse: ${got.head._1}")
        assert(got.head._2.nonEmpty && got(0)._2 == got(1)._2)
        spark.range(1).write.parquet(sentinelDir)
        assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel write not seen")
        assert(writes.get == 1, s"the staging build ran ${writes.get} times")
      } finally spark.listenerManager.unregister(listener)
    }
  }

  test("a re-fingerprinted source stages a new artifact beside the old one; gc retires the superseded one") {
    import java.nio.file.{Files, Paths}
    withWarehouse { _ =>
      val dir = copiedTable("events")
      val first = graft.streaming.Replay.stageEvents(spark, dir, withDuplicates = false)
      val rows = spark.read.parquet(first).count()
      // regenerate the source: a new mtime is a new content fingerprint
      assert(new java.io.File(s"$dir/events.parquet")
        .setLastModified(System.currentTimeMillis() + 60_000))
      val second = graft.streaming.Replay.stageEvents(spark, dir, withDuplicates = false)
      val (firstBase, secondBase) =
        (Paths.get(first).getParent, Paths.get(second).getParent)
      assert(firstBase != secondBase && firstBase.getParent == secondBase.getParent,
        s"expected two fingerprints of one artifact: $first, $second")
      assert(spark.read.parquet(second).count() == rows)
      Thread.sleep(50) // the superseded marker strictly older than the gc clock
      assert(DeltaLog.gc(spark, 0).toSet == Set(firstBase.toString))
      assert(!Files.exists(firstBase) && Files.exists(Paths.get(second)))
    }
  }
}
