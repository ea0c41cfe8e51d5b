package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Streaming checkpoint files (offset/commit logs, RocksDB changelogs and
  * snapshots) without a process spawn per file.
  *
  * Spark's default manager goes through Hadoop's `FileContext`, whose
  * `rename` resolves the link status of both paths and of their `.crc`
  * sidecars; without libhadoop each of those spawns `readlink`, and every
  * file the local FS creates spawns `chmod`. At one changelog commit per
  * state partition per trigger plus two WAL files per trigger, the spawns
  * were most of a small trigger's wall time.
  *
  * For `file:` paths this manager keeps Spark's `FileSystem`-based
  * protocol (write a temp file, then rename; renames go to
  * `File.renameTo`, atomic on POSIX) over a checksummed `LocalFileSystem`
  * whose permission bits are set through `java.nio`. The `.crc` sidecars
  * and the files' mode bits are the same as the stock local FS writes. As
  * in Spark's own `FileSystem` manager, a no-overwrite rename checks the
  * destination first, so one checkpoint takes one writer at a time (Spark
  * refuses a second active run of the same query). Other schemes keep the
  * FileSystem their path resolves to, under the same `FileSystem`-based
  * protocol. RocksDB copies snapshot SST files through its own cached
  * FileSystem, outside this manager; those copies still spawn `chmod`
  * once per new file.
  *
  * Installed per session by [[FadsStream.configure]] through
  * `spark.sql.streaming.checkpointFileManagerClass`. No global
  * `fs.file.impl` override: Hadoop caches FileSystems per JVM.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override protected val fs: FileSystem = path.getFileSystem(hadoopConf) match {
    case stock: LocalFileSystem =>
      val local = new LocalFileSystem(new LocalCheckpointFiles.NioPermissions)
      local.initialize(stock.getUri, hadoopConf)
      local
    case other => other
  }
}

object LocalCheckpointFiles {

  /** `RawLocalFileSystem` that sets mode bits in-process instead of
    * spawning `chmod`; a sticky bit (not expressible in java.nio) takes
    * the stock path.
    */
  final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // declaration order is owner rwx, group rwx, others rwx: mode bits
        // 8 down to 0 (toShort, not toString: a create mode prints both
        // its masked and unmasked bits)
        val mode = permission.toShort
        val bits = PosixFilePermission.values.zipWithIndex.collect {
          case (b, i) if (mode & (0x100 >> i)) != 0 => b
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      }
  }
}
