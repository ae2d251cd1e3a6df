package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps seven protocols in one place each, by scanning the main
  * sources: table-exists handling lives in [[graft.sinks.JdbcSink]]
  * (`createTableIfAbsent` swallows every engine's already-exists state,
  * not just Derby's); the once-per-store drive protocol lives in
  * [[graft.cdc.DeltaLog.buildOnce]] — no query hand-rolls a done marker
  * or an in-JVM memo set; and the graph operators' driver tiers gate
  * and read through [[graft.ops.Bounded.collect]] — no size probe, and
  * no unbounded collect without a reason on record; and the conf kinds
  * share one lifecycle ([[graft.streaming.ServedPipeline]]) — no
  * per-kind loader, scan or query view, and a watcher that names no
  * pipeline class; and the lww, view, ann and dedup kinds write through
  * one keyed serving write ([[graft.streaming.ServedPipeline.writeKeyed]])
  * — the lww kind over one stream start; and every fingerprinted derived
  * artifact (delta log, staged fixture feed, drive store) is keyed,
  * placed and built once by [[graft.cdc.DeltaLog.artifact]] — no
  * hand-rolled fingerprint, temp-dir staging or `_SUCCESS` cache check;
  * and the ± reading of a delta relation lives in
  * [[graft.streaming.StatefulLww.signed]], with one view-join fold per
  * operator kind in [[graft.cdc.IncrementalJoin]].
  */
class SourceScanSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  private def hits(files: Seq[Path], pattern: String): Seq[String] = {
    val re = pattern.r
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}"
      }
    }
  }

  test("no hand-rolled Derby X0Y32 catch outside JdbcSink") {
    val files = scalaFiles("src/main/scala")
      .filterNot(_.endsWith(Paths.get("sinks", "JdbcSink.scala")))
    assert(files.nonEmpty)
    val found = hits(files, """getSQLState\s*==\s*"X0Y32"""")
    assert(found.isEmpty,
      s"route CREATE TABLE through JdbcSink.createTableIfAbsent: $found")
  }

  test("queries create no drive done marker and declare no memo set") {
    val files = scalaFiles("src/main/scala/graft/queries")
    assert(files.nonEmpty)
    val found = hits(files, """Paths\.get\(.*_(DRIVE|LIFECYCLE)_DONE""") ++
      hits(files, """newKeySet""")
    assert(found.isEmpty,
      s"memoized drives go through DriveCost.once / DeltaLog.buildOnce: $found")
  }

  test("no limit(n + 1).count() size probe: a driver tier gates by its bounded read") {
    val found = hits(scalaFiles("src/main/scala"),
      """limit\([^)]*\+\s*1\)\s*\.count\(\)""")
    assert(found.isEmpty, s"gate and read in one Bounded.collect: $found")
  }

  /** The graph operators' driver reads that do not go through
    * Bounded.collect, matched by line text, each with why its size is
    * bounded anyway.
    */
  private val graphReadAllowlist = Seq(
    "best0.collect()" ->
      "incrementalBfs relaxation entry points: affected keys only, read under affectedN <= cap",
    ".agg((min(col(\"du\")) + 1).as(\"nd\")).collect()" ->
      "incrementalBfs relaxation candidates: affected keys only, read under affectedN <= cap",
    ".as[(Long, Long, Long, Long, Long)].collect().head" ->
      "curation funnel: a one-row crossJoin of two global aggregates")

  test("no raw driver collect in the graph operators outside Bounded.collect") {
    val files = Seq("CorpusOps.scala", "PageRank.scala")
      .map(f => Paths.get("src/main/scala/graft/ops", f))
    val reads = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if """\.collect\(\)|collectAsList|toLocalIterator""".r
            .findFirstIn(line).isDefined => (s"$f:${i + 1}", line)
      }
    }
    val unlisted = reads.filterNot { case (_, line) =>
      graphReadAllowlist.exists { case (text, _) => line.contains(text) }
    }
    assert(unlisted.isEmpty,
      s"read through Bounded.collect, or allowlist with a reason: ${unlisted.map(_._1)}")
    val stale = graphReadAllowlist.map(_._1)
      .filterNot(text => reads.exists(_._2.contains(text)))
    assert(stale.isEmpty, s"allowlist entries that match no read: $stale")
  }

  test("one pipeline lifecycle: no per-kind loaders, scans or query views; the watcher names no pipeline class") {
    val found = Seq(
      """\bload(Views|Ann|Dedup|Search)\b""",
      """\b(changed|removed)(Views|Ann|Dedup|Search)Since\b""",
      """\bactive(View|Ann|Dedup|Search)Queries\b""")
      .flatMap(hits(scalaFiles("src/main/scala"), _))
    assert(found.isEmpty,
      s"route every kind through PipelineRegistry.load / changedSince / activeQueries: $found")
    val watcher =
      Seq(Paths.get("src/main/scala/graft/streaming/PipelineWatcher.scala"))
    val named = hits(watcher,
      """\b(CdcPipeline|ViewPipeline|AnnServingPipeline|DedupClusterPipeline|SearchServingPipeline)\b""")
    assert(named.isEmpty,
      s"the watcher drives ServedPipeline, never a concrete kind: $named")
  }

  /** Keyed-sink calls under `streaming/` outside ServedPipeline.writeKeyed,
    * matched by file and line text, each with why it stays.
    */
  private val keyedSinkAllowlist = Seq(
    ("AnnServingPipeline.scala", "graft.sinks.EsSink.upsert(") ->
      ("retrainAndSwap re-PUTs every served document under its fresh " +
        "cell: marker-free, key-addressed, outside any micro-batch"))

  test("one keyed serving write: sink sends, the ES marker batch and sink dead letters only in ServedPipeline; one lww stream start") {
    val files = scalaFiles("src/main/scala/graft/streaming")
      .filterNot(_.endsWith("ServedPipeline.scala"))
    assert(files.nonEmpty)
    val calls = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if """applyKeyedBatch\(|applyKeyedDeltas\(|EsSink\.(upsert|delete)\(|write\.mode\("append"\)"""
            .r.findFirstIn(line).isDefined =>
          (f.getFileName.toString, s"$f:${i + 1}", line)
      }
    }
    val unlisted = calls.filterNot { case (file, _, line) =>
      keyedSinkAllowlist.exists { case ((f, text), _) =>
        file == f && line.contains(text) }
    }
    assert(unlisted.isEmpty,
      s"write through ServedPipeline.writeKeyed, or allowlist with a reason: ${unlisted.map(_._2)}")
    val stale = keyedSinkAllowlist.map(_._1).filterNot { case (f, text) =>
      calls.exists(c => c._1 == f && c._3.contains(text)) }
    assert(stale.isEmpty, s"allowlist entries that match no call: $stale")
    val lww = Seq(Paths.get("src/main/scala/graft/streaming/CdcPipeline.scala"))
    val extra = Seq("""\bstartIncremental\b""", """\bupsertRaw\b""", """\.json\(""")
      .flatMap(hits(lww, _))
    assert(extra.isEmpty,
      s"the lww kind starts one stream, startDsv2 over the graft-cdc source: $extra")
  }

  /** Fixture-cache lines under `src/main` outside DeltaLog, matched by
    * file and line text, each with why it stays.
    */
  private val buildOnceAllowlist = Seq(
    ("Replay.scala", "else Paths.get(sys.props(\"java.io.tmpdir\"))") ->
      ("ckptRoot: the throwaway replay checkpoints fall back to the temp " +
        "dir when no RAM disk exists; nothing is cached there"),
    ("DedupClusterPipeline.scala", "new java.io.File(f, \"_SUCCESS\").exists()") ->
      ("the cluster stage reads only COMMITTED doc-log batches while the " +
        "live doc-log writer runs; a commit check, not a cache"),
    ("TextAnalysis.scala", "def fingerprint(textColName: String)") ->
      "a text-normalization column, not a cache key",
    ("MandateQueries.scala", "TextAnalysis.fingerprint(\"text\")") ->
      "a text-normalization column, not a cache key")

  test("one build-once protocol: fingerprint keys, tmpdir stagings and _SUCCESS checks only in DeltaLog") {
    val files = scalaFiles("src/main/scala")
      .filterNot(_.endsWith(Paths.get("cdc", "DeltaLog.scala")))
    assert(files.nonEmpty)
    val found = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if """Staging\.fingerprint|\bfingerprint\(|java\.io\.tmpdir"|_SUCCESS""""
            .r.findFirstIn(line).isDefined =>
          (f.getFileName.toString, s"$f:${i + 1}", line)
      }
    }
    val unlisted = found.filterNot { case (file, _, line) =>
      buildOnceAllowlist.exists { case ((f, text), _) =>
        file == f && line.contains(text) }
    }
    assert(unlisted.isEmpty,
      s"key, place and build derived artifacts through DeltaLog.artifact, or allowlist with a reason: ${unlisted.map(_._2)}")
    val stale = buildOnceAllowlist.map(_._1).filterNot { case (f, text) =>
      found.exists(c => c._1 == f && c._3.contains(text)) }
    assert(stale.isEmpty, s"allowlist entries that match no line: $stale")
  }

  test("one ± reading of the LWW delta and two view-join operators: prevJson expansions only in StatefulLww") {
    val main = scalaFiles("src/main/scala")
    val expansions = hits(main, """col\("prevJson"\)\.isNotNull""")
    assert(expansions.nonEmpty && expansions.forall(_.contains(
      Paths.get("streaming", "StatefulLww.scala").toString + ":")),
      s"read a delta's ±rows through StatefulLww.signed: $expansions")
    val join = Seq(Paths.get("src/main/scala/graft/cdc/IncrementalJoin.scala"))
    val operators = hits(join, """\.flatMapGroupsWithState\(""")
    assert(operators.size == 2,
      s"IncrementalJoin keeps viewDeltaStream and alignedViewDeltaStream only: $operators")
    val twin = hits(main, """viewDeltaStreamOrdered""")
    assert(twin.isEmpty, s"the seq-ordered fold is viewDeltaStream: $twin")
  }
}
