package graft

import graft.sinks.EsSink
import graft.streaming.{LocalCheckpointFileManager, PipelineMetrics,
  PipelineRegistry, ServedPipeline, TableLogPipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** graft's checkpoint file manager ([[LocalCheckpointFileManager]]): the
  * file semantics the offset/commit logs and state stores rely on, no
  * process spawn on a drain's checkpoint writes, and a work root first
  * written by Spark's default manager resuming under it.
  */
class CheckpointFilesSpec extends SparkSpec {

  private def write(fm: FileContextBasedCheckpointFileManager, p: Path,
      body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), UTF_8)

  private def fresh(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_cfm_")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration()))
  }

  test("overwrite replaces the file; no-overwrite onto an existing file raises Hadoop's FileAlreadyExistsException and leaves it") {
    val (dir, fm) = fresh()
    val f = new Path(dir.toUri.toString + "/0")
    write(fm, f, "v1", overwrite = false)
    write(fm, f, "v2", overwrite = true)
    assert(read(dir.resolve("0")) == "v2")
    val e = intercept[FileAlreadyExistsException](
      write(fm, f, "v3", overwrite = false))
    assert(e.getMessage.contains("0"))
    assert(read(dir.resolve("0")) == "v2")
    // scheme-less paths are local too
    write(fm, new Path(dir.resolve("1").toString), "s", overwrite = false)
    assert(read(dir.resolve("1")) == "s")
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toSet == Set("0", "1"), "no temp file may be left behind")
  }

  test("a cancelled stream leaves neither the temp file nor the destination") {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir.toUri.toString + "/commit"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(Files.list(dir).count() == 0)
  }

  test("a file Spark's manager wrote (with a .crc sidecar) reads back through Hadoop FileSystem.open after graft's overwrite") {
    val (dir, fm) = fresh()
    val f = new Path(dir.toUri.toString + "/state.delta")
    val spark = new FileContextBasedCheckpointFileManager(f.getParent, new Configuration())
    write(spark, f, "spark's bytes", overwrite = true)
    assert(Files.exists(dir.resolve(".state.delta.crc")),
      "Spark's manager leaves the checksum sidecar this test is about")
    write(fm, f, "graft's longer bytes", overwrite = true)
    val fs = FileSystem.get(URI.create("file:///"), new Configuration())
    val in = fs.open(f)
    val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
    assert(got == "graft's longer bytes")
  }

  test("a non-file: path goes to Spark's own code") {
    val dir = Files.createTempDirectory("graft_cfm_raw_")
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.graftraw.impl", classOf[GraftRawFs].getName)
    val root = new Path(s"graftraw://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, conf)
    CountingRawFs.renames.set(0)
    write(fm, new Path(root, "0"), "x", overwrite = false)
    assert(read(dir.resolve("0")) == "x")
    assert(CountingRawFs.renames.get == 1,
      "the rename must have gone through Hadoop's FileContext")
  }

  /** An lww conf and an orders ⋈ customer view conf, both serving into
    * one [[EsSink.FileDocStore]] (disjoint ids) and recording metrics
    * rows into `metricsUrl`.
    */
  private def confs(metricsUrl: String): String = {
    val dir = Files.createTempDirectory("graft_cfm_conf_")
    val mx = s""""metrics":{"url":"$metricsUrl","table":"m"}"""
    Files.write(dir.resolve("lww.json"), Seq(
      s"""{"name":"cf_lww","databases":["d"],"tables":["t"],"idKey":"id",
         |"schema":"id BIGINT, v STRING",$mx}""".stripMargin
        .replace("\n", "")).asJava)
    Files.write(dir.resolve("view.json"), Seq(
      s"""{"kind":"view","name":"cf_view","databases":["d"],"leftOuter":true,
         |"fact":{"table":"orders","idKey":"o_id","joinKey":"c_id",
         |"schema":"o_id BIGINT, c_id BIGINT, val DOUBLE"},
         |"dim":{"table":"customer","idKey":"cc_id","joinKey":"cc_id",
         |"schema":"cc_id BIGINT, name STRING"},
         |"es":{"url":"http://graft-local/cf_view"},$mx}""".stripMargin
        .replace("\n", "")).asJava)
    dir.toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Feed file `i` (0-based): one event per table, ids moving with `i`. */
  private def feedFile(feed: String, i: Int): Unit = {
    def ev(table: String, after: String, off: Long): String = {
      val e = s"""{"payload":{"before":null,"after":$after,""" +
        s""""source":{"db":"d","table":"$table","ts_ms":$off},"op":"c","ts_ms":$off}}"""
      s"""{"value":${mapper.writeValueAsString(e)},"offset":$off}"""
    }
    val o = 10L * i
    Files.write(Paths.get(feed, f"$i%03d.json"), Seq(
      ev("t", s"""{"id":${1 + i % 2},"v":"v$i"}""", o + 1),
      ev("customer", s"""{"cc_id":${1 + i % 2},"name":"n$i"}""", o + 2),
      ev("orders", s"""{"o_id":${100 + i},"c_id":${1 + i % 2},"val":$i.5}""",
        o + 3)).asJava)
  }

  /** Drain every conf once on AvailableNow: the lww query, then the
    * view's stages ([[TableLogPipeline.runOnce]]).
    */
  private def drain(confDir: String, feed: String, ckptRoot: String,
      store: String): Unit = {
    val transport = new EsSink.FileDocStore(store)
    val live = ServedPipeline.Live(
      EsSink.Config("http://graft-local/cf_lww", "", "", "id"), transport)
    PipelineRegistry.load(confDir).foreach { e =>
      e.pipeline match {
        case t: TableLogPipeline => t.runOnce(spark, feed,
          s"$ckptRoot/${PipelineRegistry.ckptKey(e.file)}", transport)
        case _ => PipelineRegistry.start(e, spark, feed, ckptRoot, live)
          .foreach(_.awaitTermination())
      }
    }
  }

  test("an AvailableNow drain of an lww and a view conf spawns no process from a checkpoint write") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val metricsUrl = "jdbc:derby:memory:graftcfmspawn;create=true"
    val confDir = confs(metricsUrl)
    val feed = Files.createTempDirectory("graft_cfm_feed_").toString
    (0 until 3).foreach(feedFile(feed, _))
    val ckpt = Files.createTempDirectory("graft_cfm_ckpt_").toString
    val store = Files.createTempDirectory("graft_cfm_store_").toString
    val jfr = Files.createTempFile("graft_cfm_", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try drain(confDir, feed, ckpt, store)
    finally { rec.stop(); rec.dump(jfr); rec.close() }
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    // the innermost checkpoint-manager frame of each spawn; a directory
    // mkdir when a query or a state store starts is allowed
    val fromManager = starts.flatMap { ev =>
      Option(ev.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .find(_.getMethod.getType.getName.contains("CheckpointFileManager"))
        .map(f => s"${ev.getString("command")} <- " +
          s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    }
    val offending = fromManager.filterNot(s =>
      s.endsWith(".mkdirs") || s.endsWith(".createCheckpointDirectory"))
    assert(offending.isEmpty,
      s"${offending.size} spawns from checkpoint writes: " +
        offending.groupBy(identity).map { case (k, v) => s"${v.size}× $k" }
          .mkString("; "))
    // the drain served: the lww ids and the view's three orders
    assert(Set("1.json", "2.json", "100.json", "101.json", "102.json")
      .subsetOf(new java.io.File(store).list().toSet))
  }

  test("restart parity: a work root drained under Spark's default manager resumes under graft's and equals a run that never switched") {
    val key = LocalCheckpointFileManager.ConfKey
    val ours = spark.conf.getOption(key)
    /** Drain feed files 0-1, add file 2, drain again; the first drain
      * runs under `firstManager`. Returns the store's files (the view's
      * marker under its pipeline name), the metrics rows less wall time
      * and the number of offset/commit-log checksum sidecars after the
      * first drain (Spark's manager leaves one per entry, graft's none).
      */
    def run(tag: String, firstManager: Option[String])
        : (Map[String, String], Seq[String], Long) = {
      val metricsUrl = s"jdbc:derby:memory:graftcfm$tag;create=true"
      val confDir = confs(metricsUrl)
      val feed = Files.createTempDirectory("graft_cfm_feed_").toString
      val ckpt = Files.createTempDirectory("graft_cfm_ckpt_").toString
      val store = Files.createTempDirectory("graft_cfm_store_").toString
      (0 until 2).foreach(feedFile(feed, _))
      firstManager.foreach(spark.conf.set(key, _))
      try drain(confDir, feed, ckpt, store)
      finally ours.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val logCrcs = Files.walk(Paths.get(ckpt)).iterator().asScala.count(f =>
        f.getFileName.toString.endsWith(".crc") &&
          Set("offsets", "commits")(f.getParent.getFileName.toString))
      feedFile(feed, 2)
      drain(confDir, feed, ckpt, store)
      // the marker id carries the work root's hash; compare it by name
      def unhashed(s: String) = s.replaceAll("cf_view_[0-9a-f]+", "cf_view")
      val files = new java.io.File(store).listFiles().toSeq.map(f =>
        unhashed(f.getName) ->
          unhashed(new String(Files.readAllBytes(f.toPath), UTF_8))).toMap
      val rows = PipelineMetrics.rows(spark, PipelineMetrics.Target(metricsUrl, "m"))
        .drop("wall_ms").collect().map(_.toString).sorted.toSeq
      (files, rows, logCrcs.toLong)
    }
    val (switchedStore, switchedRows, switchedCrcs) =
      run("switched", Some(classOf[FileContextBasedCheckpointFileManager].getName))
    val (graftStore, graftRows, graftCrcs) = run("graft", None)
    assert(switchedCrcs > 0 && graftCrcs == 0,
      s"the first drains ran under different managers ($switchedCrcs, $graftCrcs)")
    assert(switchedStore.contains("_graft_progress_cf_view.json"))
    assert(Set("1.json", "2.json", "100.json", "101.json", "102.json")
      .subsetOf(switchedStore.keySet))
    assert(switchedStore == graftStore)
    assert(switchedRows.nonEmpty && switchedRows == graftRows)
  }
}

/** A local file system under the `graftraw:` scheme whose renames are
  * counted — a non-`file:` checkpoint path for the spec above.
  */
class CountingRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftraw:///")
  override def rename(src: Path, dst: Path): Boolean = {
    CountingRawFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingRawFs {
  val renames = new AtomicInteger(0)
}

class GraftRawFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingRawFs, conf, "graftraw", false)
