package graft.stream

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FSDataOutputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark `CheckpointFileManager` for the engine's streaming checkpoints:
  * the offset log, the commit log, state schema and metadata files and the
  * RocksDB state changelog.
  *
  * Spark's default manager goes through Hadoop's local file system, which
  * without the native `libhadoop` starts a `chmod` or `readlink` child
  * process for nearly every directory and file it creates (dozens per
  * micro-batch of the service chain, most of each batch's offset-log,
  * commit-log and state-commit time). For `file:` paths this manager
  * creates directories and temp files and publishes them with java.nio
  * instead, and writes no `.crc` side files; reads, listing and deletes
  * stay on Hadoop's local file system, which starts no process for them
  * and still verifies a `.crc` that an earlier manager left. Every other
  * scheme gets exactly the manager Spark would have picked.
  *
  * Semantics kept from Spark's manager: a file is written to a temp file in
  * its own directory and published by rename, so readers see the old file
  * or the whole new one; publishing without overwrite fails with Hadoop's
  * `FileAlreadyExistsException` when the target exists (`HDFSMetadataLog`
  * relies on it to catch two queries on one checkpoint), decided atomically
  * by a hard link rather than an exists check; nothing is fsync'ed (Hadoop's
  * local file system never did).
  *
  * Installed per query by [[StreamOps.start]] through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val underlying: CheckpointFileManager =
    if (isFileScheme(path, hadoopConf)) new Nio(path, hadoopConf)
    else sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf naming the checkpoint manager class. Spark reads it from
    * the Hadoop conf it builds from the session's SQL conf. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
      .equalsIgnoreCase("file")

  /** The manager Spark picks when no class is configured. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val plain = new Configuration(conf)
    plain.unset(ConfKey)
    CheckpointFileManager.create(path, plain)
  }

  /** `file:` checkpoints: creates and publishes with java.nio; open, list,
    * exists and delete are Hadoop's local file system's. */
  private final class Nio(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(local(qualified))
      qualified
    }

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = local(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(f, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE),
        1 << 16), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (from, to) = (local(src), local(dst))
      if (overwriteIfPossible) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      else {
        // link(2) fails if `to` exists: the no-replace publish is one step
        try Files.createLink(to, from)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(from)
            throw new FileAlreadyExistsException(
              s"Failed to rename $src to $dst as destination already exists")
        }
        Files.delete(from)
      }
      // a checksum an earlier manager wrote for the replaced file would fail
      // the next checksummed read of the new one
      fs match {
        case c: ChecksumFileSystem => Files.deleteIfExists(local(c.getChecksumFile(dst)))
        case _ => ()
      }
    }
  }
}
