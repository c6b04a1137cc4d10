package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint file manager every graft session uses
  * (`GraftSession.builder` registers it): the offset and commit logs,
  * the sink's file log and the state store's delta files go through it.
  *
  * On `file:` paths it is Spark's [[FileSystemBasedCheckpointFileManager]]
  * over Hadoop's checksummed `LocalFileSystem`, the same on-disk layout
  * (`.crc` sidecars included) as Spark's default. That default, the
  * `FileContext` manager, renames through
  * `AbstractFileSystem.renameInternal`, which asks
  * `RawLocalFileSystem.getFileLinkStatus` about the source and the
  * destination before a plain `File.renameTo`. Without `libhadoop` each
  * of those asks starts a `readlink` process, for the file and again
  * for its `.crc` sidecar, so every checkpoint write forks several
  * processes; on the benchmark stream they were most of a micro-batch.
  * The link checks buy nothing on a local disk: Hadoop documents that
  * rename as non-atomic, and the FileSystem manager's `exists` check
  * and the same `renameTo` give the same semantics, overwrite included
  * (StreamingSpec runs both managers through the same writes).
  * The same missing library made Hadoop start a `chmod` process for
  * every file it creates (the data file and its `.crc` sidecar, so
  * four per state delta with Spark's `N.delta.crc`); this manager's
  * file system sets those modes in-process instead
  * ([[GraftCheckpointFileManager.NioPermissions]]), so a checkpoint
  * write forks no process at all.
  *
  * Every other scheme gets exactly the manager Spark picks when no
  * class is configured, so HDFS and object stores keep `FileContext`'s
  * atomic rename (the FileSystem manager would silently drop a failed
  * overwrite-rename there). Spark's checksum layer wraps whichever
  * manager this returns and stays on.
  */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        new GraftCheckpointFileManager.LocalManager(path, hadoopConf)
      case _ =>
        val conf = new Configuration(hadoopConf)
        conf.unset(GraftCheckpointFileManager.ConfKey)
        CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object GraftCheckpointFileManager {
  /** Spark's `spark.sql.streaming.checkpointFileManagerClass`. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's raw local file system with an in-process
    * `setPermission`. Without `libhadoop` Hadoop's own runs
    * `chmod <mode> <path>` as a child process, and it is called on
    * every file create (`LocalFSFileOutputStream`) and directory create
    * (`mkOneDirWithMode`): 8–10 ms a file on one thread, against
    * ~0.2 ms here. The mode is the one Hadoop passes (0644 for a file
    * and 0755 for a directory under the default 022 umask), applied
    * with `Files.setPosixFilePermissions` from its `rwxr-xr-x` form (9
    * characters whenever the sticky bit is clear); a missing path throws
    * `NoSuchFileException`, an `IOException` as `chmod`'s failure is.
    * Two cases keep Hadoop's `chmod`, which nio cannot reproduce: a
    * mode with the sticky bit, and a directory carrying a setuid or
    * setgid bit (numeric `chmod` keeps those on a directory, a nio
    * chmod would clear them).
    */
  private[graft] class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit || setIdDirectory(file))
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(file,
          PosixFilePermissions.fromString(permission.toString))
    }

    /** A directory with S_ISUID or S_ISGID (06000) set: one `stat`. */
    private def setIdDirectory(file: java.nio.file.Path): Boolean = {
      val st = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (st & 0xf000) == 0x4000 && (st & 0xc00) != 0
    }
  }

  /** Spark's FileSystem manager over its own instance of Hadoop's
    * `LocalFileSystem`, not the JVM's cached `file:` FileSystem:
    * hive-exec registers Hive's `ProxyLocalFileSystem` for `file`, and
    * its rename refuses an existing destination, so an overwriting
    * write (the state store's delta files) would keep the old file and
    * report success. Built as `FileSystem.get` builds one, from the
    * caller's conf, without copying it, over [[NioPermissions]].
    */
  private final class LocalManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissions)
      local.setConf(conf)
      local.initialize(java.net.URI.create("file:///"), conf)
      local
    }
  }
}
