package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The checkpoint file manager of every graft streaming query: Spark's
  * own [[FileContextBasedCheckpointFileManager]], except that on a
  * local (`file:` or scheme-less local) path the atomic write's temp
  * file and its final rename go through `java.nio`.
  *
  * Why: Hadoop's `LocalFs` forks a `chmod` for every file it creates
  * (the temp file and its checksum sidecar) and `readlink`s for both
  * ends of every rename (of the file and of the sidecar), so each
  * offset-WAL entry, commit-log entry and state-store file paid ten
  * process spawns on the batch's serial path (2 `chmod` + 8 `readlink`
  * in a JFR census; ~80–120 ms per WAL write on a 4-vCPU host).
  * `java.nio` does the same work in a handful of syscalls.
  *
  * Semantics kept from Spark's manager (the contract `HDFSMetadataLog`
  * and the state stores rely on):
  *  - overwrite replaces the destination atomically (`rename(2)`);
  *  - no-overwrite publishes with `link(2)`, so a destination that
  *    already exists fails the write with Hadoop's
  *    [[FileAlreadyExistsException]] and stays as it was — the
  *    concurrent-writer check of the offset and commit logs;
  *  - nothing is fsynced, as in Spark's manager.
  * Spark's manager may leave a Hadoop checksum sidecar `.<name>.crc`
  * beside a file; a published file's stale sidecar is deleted, or a
  * checksummed `FileSystem.open` of the replaced file would fail.
  * Every other method, and every non-local scheme, stays Spark's.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file behind `p`, or None when `p` is not on `file:`. */
  private def local(p: Path): Option[java.nio.file.Path] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream =
    local(p).fold(super.createTempFile(p)) { f =>
      new FSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(f), 64 * 1024), null)
    }

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        val crc = d.resolveSibling(s".${d.getFileName}.crc")
        if (overwriteIfPossible) {
          Files.deleteIfExists(crc)
          Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        } else {
          try Files.createLink(d, s)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
          Files.delete(s)
          Files.deleteIfExists(crc)
        }
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}

object LocalCheckpointFileManager {
  /** Spark's session key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint file manager unless the session
    * already names one (an operator's own setting wins). Returns the
    * undo: unset the key again if this call set it, else nothing.
    */
  def install(spark: SparkSession): () => Unit =
    if (spark.conf.getOption(ConfKey).isDefined) () => ()
    else {
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
      () => spark.conf.unset(ConfKey)
    }
}
