package graft.streaming

import java.io.IOException
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem,
  FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that starts no child process on the local
  * filesystem. Without Hadoop's native library, Spark's default
  * `FileContextBasedCheckpointFileManager` starts a `readlink` for
  * every rename (FileContext resolves symlinks first) and a `chmod` for
  * every file and directory it creates: 541 processes for the start
  * and first five triggers of an L1 query (`StreamingSpec`'s spawn test
  * run against the default manager), a large share of a live-book
  * trigger's fixed cost.
  *
  * For a path whose FileSystem is Hadoop's `LocalFileSystem`, files are
  * written to a temp file and published with `FileSystem.rename`,
  * through a checksummed `LocalFileSystem` over a `RawLocalFileSystem`
  * that sets permissions with `java.nio`. The `.crc` sidecars, the file
  * modes and the `FileAlreadyExistsException` of a no-overwrite clash
  * are those of the default manager. A no-overwrite publish checks the
  * destination and then renames, which is what the default manager's
  * FileContext rename does on `file:` paths too, so no atomicity is
  * lost. Every other scheme goes to Spark's
  * `FileContextBasedCheckpointFileManager`.
  *
  * Spark instantiates it by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val impl: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem => new NoSpawnLocal(path, hadoopConf)
      case _ => new FileContextBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** The conf key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The local half: write a hidden temp file next to the target (the
    * default manager's naming), publish it with `FileSystem.rename` on
    * close, delete it on cancel or on a failed publish. */
  private final class NoSpawnLocal(path: Path, conf: Configuration)
      extends CheckpointFileManager {
    private val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissionFs) {
        // a checksum failure throws and leaves the file where it is, as
        // the default manager's FileContext does; Hadoop's LocalFileSystem
        // would move it to a `bad_files` directory at the top of the mount
        override def reportChecksumFailure(p: Path, in: FSDataInputStream,
            inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean =
          false
      }
      local.initialize(URI.create("file:///"), conf)
      local
    }

    override def createAtomic(p: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
      // runs on failure paths, so it must not mask their exception
      def discard(): Unit = try fs.delete(tmp, false) catch { case NonFatal(_) => }
      new CancellableFSDataOutputStream(fs.create(tmp, true)) {
        private var terminated = false
        override def close(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            underlyingStream.close()
            try publish(tmp, p, overwriteIfPossible)
            catch { case e: Throwable => discard(); throw e }
          }
        }
        override def cancel(): Unit = synchronized {
          if (!terminated) {
            terminated = true
            try underlyingStream.close() catch { case NonFatal(_) => }
            discard()
          }
        }
      }
    }

    private def publish(src: Path, dst: Path,
        overwriteIfPossible: Boolean): Unit = {
      // the local rename replaces an existing destination, so a
      // no-overwrite publish checks first, as the default manager does
      if (!overwriteIfPossible && fs.exists(dst))
        throw new FileAlreadyExistsException(
          s"Failed to rename $src to $dst as destination already exists")
      if (!fs.rename(src, dst))
        throw new IOException(s"Failed to rename temp file $src to $dst")
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = {
      fs.mkdirs(p, FsPermission.getDirDefault); ()
    }
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = { fs.delete(p, true); () }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      fs.mkdirs(qualified, FsPermission.getDirDefault)
      qualified
    }
  }

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` whose `setPermission` goes through `java.nio`
    * instead of a `chmod` child process. A sticky bit, or a filesystem
    * without POSIX attributes, takes Hadoop's own path. */
  private final class NioPermissionFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // declared owner-read first: ordinal i is mode bit 8 - i
        PosixFilePermission.values.foreach { pp =>
          if ((mode >> (8 - pp.ordinal) & 1) == 1) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        ()
      }
  }
}
