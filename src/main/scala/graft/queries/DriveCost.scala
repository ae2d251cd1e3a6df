package graft.queries

/** One-time wall-clock of the MEMOIZED lifecycle drives (q141/q151/
  * q154/.../q179): each drives a full pipeline lifecycle once per data
  * fingerprint and then serves reads from the built store, so every
  * committed bench records 0.03–0.12 s for them — the drive's actual
  * cost (the thing a replay/rebuild regression would move) appears in
  * no artifact. Fix: the drive records its first-run wall clock as a
  * `_DRIVE_COST.json` sidecar BESIDE the memoized store (under the
  * fingerprinted log base, so it expires with the store it describes),
  * and [[graft.Bench]] collects every sidecar in the warehouse into
  * `bench_drives.json` — first-drive costs ride along with whichever
  * round's artifact triggered the drive.
  *
  * A crash-retried drive records only the final successful leg (the
  * completed legs' work is behind checkpoints/markers) — still the
  * cost an operator would see on that retry, and the regression signal
  * survives.
  *
  * The sidecar also records the SOURCE DATA DIR (sanitized) the drive
  * ran against: the warehouse is shared across scale factors and
  * rounds, and the bench's per-SF headline must attribute each drive
  * to its own leg EXACTLY — a suffix match on the log name would pool
  * two warehouses whose sanitized roots share a suffix (`/data/sf0.1`
  * vs `/old/data/sf0.1`).
  */
object DriveCost {

  /** Run a memoized lifecycle drive ONCE per store `base`, across
    * threads and JVMs ([[graft.cdc.DeltaLog.buildOnce]] under the
    * drive's own done marker: `_<NAME>_DRIVE_DONE`, or
    * `_<NAME>_LIFECYCLE_DONE` for the rebuild lifecycles), and record
    * its wall clock on success. A drive that throws leaves neither the
    * marker nor the sidecar, and the next call re-drives — the drives
    * are re-entrant by construction (checkpoints, DELETE+INSERT metrics,
    * replay-started markers), so the retry converges.
    */
  def once(base: String, name: String, dataDir: String,
      lifecycle: Boolean = false)(drive: => Unit): Unit = {
    val marker =
      s"_${name.toUpperCase}_${if (lifecycle) "LIFECYCLE" else "DRIVE"}_DONE"
    graft.cdc.DeltaLog.buildOnce(base, marker) { () =>
      val t0 = System.nanoTime()
      drive
      record(base, name, t0, dataDir)
    }
  }

  /** Record the drive's one-time cost beside its memoized store.
    * Failures log and continue: cost accounting must not fail the
    * drive whose store already built.
    *
    * The sidecar is parsed back by regex ([[collect]]) and aggregated
    * into `bench_drives.json` by raw interpolation, so the JSON-safe
    * name/tag alphabet is enforced HERE, where the JSON is written — a
    * quote or backslash in a future drive name must not corrupt every
    * downstream artifact. Sanitizing (with a loud stderr note) beats a
    * require: cost accounting never fails the drive.
    */
  def record(base: String, name: String, t0Nanos: Long,
      dataDir: String): Unit = {
    val ms = (System.nanoTime() - t0Nanos) / 1000000L
    val safe = name.replaceAll("[^A-Za-z0-9_]", "_")
    if (safe != name)
      System.err.println(s"[DriveCost] drive name '$name' sanitized to " +
        s"'$safe' for the JSON sidecar")
    val tag = graft.cdc.DeltaLog.dirTag(dataDir)
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(base, "_DRIVE_COST.json"),
        (s"""{"drive":"$safe","ms":$ms,"tag":"$tag"}""" + "\n")
          .getBytes("UTF-8"))
      ()
    } catch {
      case e: Exception =>
        System.err.println(s"[DriveCost] $safe cost not recorded: $e")
    }
  }

  /** One collected drive-cost sidecar: the drive name, the memoized
    * log it built, its one-time wall clock, and the sanitized source
    * data dir it ran against ("" for sidecars recorded before the tag
    * existed — the reader falls back to the log-name suffix for those,
    * see [[belongsTo]]).
    */
  final case class Drive(drive: String, log: String, ms: Long, tag: String)

  /** Every recorded drive cost in the warehouse, sorted by cost
    * descending — the warehouse layout is
    * `<root>/<logName>/<fingerprint>/` ([[graft.cdc.DeltaLog.artifactBase]]),
    * so the sidecars sit exactly two levels down. Driver-side listing
    * of a driver-sized structure (one entry per memoized drive).
    */
  def collect(warehouseRoot: String): Seq[Drive] = {
    val root = new java.io.File(warehouseRoot)
    val logs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    logs.flatMap { log =>
      Option(log.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).flatMap { fpDir =>
          val f = new java.io.File(fpDir, "_DRIVE_COST.json")
          if (!f.isFile) None
          else scala.util.Try {
            val s = new String(
              java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            parseEntry(s, log.getName)
          }.toOption
        }
    }.toSeq.sortBy(-_.ms)
  }

  private def parseEntry(s: String, logName: String): Drive = {
    def str(field: String): Option[String] =
      (s""""$field":"([^"]*)"""").r.findFirstMatchIn(s).map(_.group(1))
    Drive(
      str("drive").getOrElse("?"),
      str("log").getOrElse(logName),
      "\"ms\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(-1L),
      str("tag").getOrElse(""))
  }

  /** Does a collected drive belong to the bench leg running against
    * `sfTag` (the sanitized data root)? Tagged sidecars match the tag
    * EXACTLY — two warehouses whose sanitized roots share a suffix can
    * never pool costs. Pre-tag (legacy) sidecars fall back to the old
    * log-name suffix match so a warm warehouse keeps reporting until
    * its stores naturally re-drive.
    */
  def belongsTo(d: Drive, sfTag: String): Boolean =
    if (d.tag.nonEmpty) d.tag == sfTag else d.log.endsWith(sfTag)

  /** Parse a `bench_drives.json`-shaped baseline file into
    * (drive, log) -> ms. Tolerant by construction (same regex fields
    * [[record]] writes): an unreadable or absent file reads as an
    * empty baseline, and the gate simply has nothing to compare — the
    * comparator must never fail the bench.
    */
  def parseBaseline(path: String): Map[(String, String), Long] =
    scala.util.Try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      "\\{[^{}]*\\}".r.findAllIn(s).map(e => parseEntry(e, ""))
        .filter(d => d.drive != "?" && d.log.nonEmpty && d.ms >= 0)
        .map(d => (d.drive, d.log) -> d.ms).toMap
    }.getOrElse(Map.empty)

  /** One flagged drive-cost regression: the drive, at which log base,
    * its current cost vs the baseline's recorded cost.
    */
  final case class Regression(drive: String, log: String, ms: Long,
      baselineMs: Long)

  /** The DRIVE-COST REGRESSION GATE: flag every collected drive whose
    * one-time cost exceeds `factor`× its recorded baseline AT THE SAME
    * LOG BASE (same drive, same memoized store — cross-SF costs never
    * compare because the log name embeds the data root). `floorMs`
    * keeps sub-second drives out of the gate: an 80→200 ms jitter is
    * scheduler noise, not a lifecycle regression. Drives absent from
    * the baseline pass (first appearance IS the baseline, recorded by
    * this run's artifact). Pure — the bench calls it, the spec pins it.
    */
  def flagRegressions(current: Seq[Drive],
      baseline: Map[(String, String), Long], factor: Double = 2.0,
      floorMs: Long = 1000L): Seq[Regression] =
    current.flatMap { d =>
      baseline.get((d.drive, d.log)) match {
        case Some(b) if d.ms > floorMs && b >= 0 && d.ms > factor * b =>
          Some(Regression(d.drive, d.log, d.ms, b))
        case _ => None
      }
    }.sortBy(-_.ms)
}
