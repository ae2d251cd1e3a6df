package graft

import graft.queries.DriveCost
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The drive-cost sidecar lifecycle and the r16 regression gate:
  * record → collect round-trips with the data-root tag, attribution is
  * EXACT by tag (the r15 suffix-match pooled two warehouses whose
  * sanitized roots share a suffix), and [[DriveCost.flagRegressions]]
  * flags >2× costs at the same log base without flagging first
  * appearances or sub-floor jitter.
  */
class DriveCostSpec extends AnyFunSuite {

  private def mkWarehouse(): java.nio.file.Path =
    Files.createTempDirectory("graft_drivecost_")

  // ---- the once-per-store protocol (DeltaLog.buildOnce + DriveCost.once)

  test("buildOnce with a custom marker runs the body once per base") {
    val wh = mkWarehouse()
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    Seq("a", "a", "b", "a").foreach { b =>
      graft.cdc.DeltaLog.buildOnce(wh.resolve(b).toString, "_MY_DONE") { () =>
        runs.incrementAndGet(); ()
      }
    }
    assert(runs.get == 2, "one run per base")
    assert(Files.exists(wh.resolve("a/_MY_DONE")))
    assert(!Files.exists(wh.resolve("a/_GRAFT_DONE")),
      "a custom marker replaces the default one")
  }

  test("a drive that throws leaves no marker and no cost sidecar; the retry runs") {
    val base = mkWarehouse().resolve("metrics_x/fp1")
    var attempts = 0
    def drive(): Unit = DriveCost.once(base.toString, "q141", "/data/x") {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("crash mid-drive")
    }
    assertThrows[IllegalStateException](drive())
    assert(!Files.exists(base.resolve("_Q141_DRIVE_DONE")))
    assert(!Files.exists(base.resolve("_DRIVE_COST.json")))
    drive()
    assert(attempts == 2, "the retry must re-drive")
    assert(Files.exists(base.resolve("_Q141_DRIVE_DONE")))
    assert(Files.exists(base.resolve("_DRIVE_COST.json")))
    drive()
    assert(attempts == 2, "a driven store never re-drives")
    DriveCost.once(base.toString, "q178", "/data/x", lifecycle = true) {}
    assert(Files.exists(base.resolve("_Q178_LIFECYCLE_DONE")))
  }

  test("a pre-existing _Q141_DRIVE_DONE skips the drive (warm warehouse)") {
    val base = mkWarehouse().resolve("metrics_x/fp1")
    Files.createDirectories(base)
    Files.createFile(base.resolve("_Q141_DRIVE_DONE"))
    var ran = false
    DriveCost.once(base.toString, "q141", "/data/x") { ran = true }
    assert(!ran, "a store driven by an earlier build must keep serving")
    assert(!Files.exists(base.resolve("_DRIVE_COST.json")),
      "a skipped drive must not re-record its cost")
    assert(!Files.exists(base.resolve("_GRAFT_DONE")))
  }

  test("two threads on one base run the drive once") {
    val base = mkWarehouse().resolve("metrics_x/fp1").toString
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        DriveCost.once(base, "q151", "/data/x") {
          runs.incrementAndGet(); Thread.sleep(200)
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(runs.get == 1)
  }

  test("record/collect round-trip carries drive, cost and data-root tag") {
    val wh = mkWarehouse()
    val base = wh.resolve("metrics_data_sf0_1/fp123")
    Files.createDirectories(base)
    DriveCost.record(base.toString, "q141",
      System.nanoTime() - 50000000L, "/data/sf0.1")
    val got = DriveCost.collect(wh.toString)
    assert(got.size == 1)
    val d = got.head
    assert(d.drive == "q141" && d.log == "metrics_data_sf0_1")
    assert(d.ms >= 50L && d.ms < 5000L)
    assert(d.tag == "_data_sf0_1")
  }

  test("a hostile drive name is sanitized where the JSON is written") {
    val wh = mkWarehouse()
    val base = wh.resolve("log_x/fp")
    Files.createDirectories(base)
    DriveCost.record(base.toString, "q\"veil\\", System.nanoTime(), "/d")
    val got = DriveCost.collect(wh.toString)
    assert(got.size == 1, "a quote in the name must not corrupt the sidecar")
    assert(got.head.drive == "q_veil_")
  }

  test("attribution is exact by tag: suffix-sharing roots never pool") {
    val a = DriveCost.Drive("q1", "m_data_sf0_1", 100L, "_data_sf0_1")
    val b = DriveCost.Drive("q1", "m_old_data_sf0_1", 100L, "_old_data_sf0_1")
    assert(DriveCost.belongsTo(a, "_data_sf0_1"))
    assert(!DriveCost.belongsTo(b, "_data_sf0_1"),
      "/old/data/sf0.1 must not pool into /data/sf0.1's headline")
    // legacy sidecar (no tag): falls back to the log-name suffix so a
    // warm pre-tag warehouse keeps reporting
    val legacy = DriveCost.Drive("q1", "m_data_sf0_1", 100L, "")
    assert(DriveCost.belongsTo(legacy, "_data_sf0_1"))
  }

  test("regression gate: >2x at the same log base flags; first appearance and sub-floor jitter pass") {
    val baseline = Map(
      ("q151", "logA") -> 10000L,
      ("q154", "logB") -> 10000L,
      ("q159", "logC") -> 200L)
    val current = Seq(
      DriveCost.Drive("q151", "logA", 25000L, "t"), // 2.5x — flags
      DriveCost.Drive("q154", "logB", 15000L, "t"), // 1.5x — passes
      DriveCost.Drive("q154", "logOther", 90000L, "t"), // other log base
      DriveCost.Drive("q159", "logC", 900L, "t"), // 4.5x but sub-floor
      DriveCost.Drive("q179", "logD", 99000L, "t")) // no baseline yet
    val flagged = DriveCost.flagRegressions(current, baseline)
    assert(flagged.map(f => (f.drive, f.log)) == Seq(("q151", "logA")))
    assert(flagged.head.ms == 25000L && flagged.head.baselineMs == 10000L)
  }

  test("baseline parses bench_drives.json shape; absent file reads empty") {
    val f = Files.createTempFile("graft_drives_base_", ".json")
    Files.write(f, ("""{"drives":[{"drive":"q151","log":"logA","ms":10000,""" +
      """"tag":"t"},{"drive":"q154","log":"logB","ms":7}],""" +
      """"total_ms":10007,"n":2,"sf":"/d"}""").getBytes("UTF-8"))
    val base = DriveCost.parseBaseline(f.toString)
    assert(base == Map(("q151", "logA") -> 10000L, ("q154", "logB") -> 7L))
    assert(DriveCost.parseBaseline("/nonexistent/x.json").isEmpty,
      "a missing baseline must read empty, never fail the bench")
  }
}
