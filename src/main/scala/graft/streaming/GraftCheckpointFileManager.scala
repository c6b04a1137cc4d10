package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
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

  /** Spark's FileSystem manager over its own instance of Hadoop's
    * `LocalFileSystem`, not the JVM's cached `file:` FileSystem:
    * hive-exec registers Hive's `ProxyLocalFileSystem` for `file`, and
    * its rename refuses an existing destination, so an overwriting
    * write (the state store's delta files) would keep the old file and
    * report success. Built as `FileSystem.get` builds one, from the
    * caller's conf, without copying it.
    */
  private final class LocalManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem
      local.setConf(conf)
      local.initialize(java.net.URI.create("file:///"), conf)
      local
    }
  }
}
