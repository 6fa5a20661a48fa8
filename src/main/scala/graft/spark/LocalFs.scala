package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The engine's `file:` filesystem: Hadoop's `LocalFileSystem` (checksum
  * `.crc` sidecars, umask, rename, every other behaviour) with one change —
  * `setPermission` is a `chmod(2)` through java.nio instead of a forked
  * `chmod` process.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand(chmod …)`, and it is called for every file created
  * (data file and `.crc`) and every directory made. On a host without the
  * native library that fork dominated the sink's write stage: about half of
  * the write tasks' non-idle stack samples sat in `Shell.runCommand`.
  *
  * The shim is selected per write, never JVM-wide: [[writerOptions]] goes
  * into a `DataFrameWriter`'s options (which reach the write job's Hadoop
  * conf on the executors and in the output committer) and [[fileSystem]]
  * serves driver-side metadata IO. Both are gated on the path resolving to
  * `file:`; hdfs/s3a outputs get Hadoop's filesystem untouched.
  */
object LocalFs {

  private val FileMode = 0x1ff // the nine rwx bits, 0777
  private val SetIdBits = 0xc00 // 06000
  private val DirType = 0x4000 // S_IFDIR
  private val TypeMask = 0xf000 // S_IFMT
  private val Perms = PosixFilePermission.values // OWNER_READ … OTHERS_EXECUTE = bit 8 … 0

  /** `RawLocalFileSystem` whose `setPermission` sets the nine rwx bits with
    * `Files.setPosixFilePermissions`. Falls back to Hadoop's own (forking)
    * path where java.nio cannot give the same result: a mode with bits
    * beyond 0777 (sticky), a file store without a unix attribute view, and
    * a directory carrying setuid/setgid — GNU `chmod 0755` keeps those on a
    * directory, `chmod(2)` clears them. Each fast-path call counts one
    * write op in this class's `FileSystem` statistics (stock
    * `RawLocalFileSystem` counts none), which is how tests see it was
    * taken. */
  class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~FileMode) != 0 || !nioChmod(pathToFile(p).toPath, mode))
        super.setPermission(p, permission)
      else if (statistics != null) statistics.incrementWriteOps(1)
    }

    private def nioChmod(f: java.nio.file.Path, mode: Int): Boolean =
      try {
        val cur = Files.getAttribute(f, "unix:mode").asInstanceOf[Integer].intValue
        ((cur & TypeMask) != DirType || (cur & SetIdBits) == 0) && {
          val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          Perms.foreach(q => if ((mode & (0x100 >> q.ordinal)) != 0) set.add(q))
          Files.setPosixFilePermissions(f, set)
          true
        }
      } catch { case _: UnsupportedOperationException => false }
  }

  /** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]. */
  class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  /** True when `p` resolves to the `file:` scheme under `conf`: an explicit
    * `file:` URI, or a scheme-less path while `fs.defaultFS` is `file:`. */
  private def isLocal(p: Path, conf: Configuration): Boolean =
    "file".equalsIgnoreCase(
      Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme))

  /** `DataFrameWriter` options that route a write to `path` through
    * [[NioLocalFileSystem]]; empty unless `path` is local. The cache switch
    * is needed because Hadoop's `FileSystem` cache is keyed by scheme, not
    * by conf: without it the write would get the JVM's cached stock
    * instance. */
  def writerOptions(path: String, conf: Configuration): Map[String, String] =
    if (!isLocal(new Path(path), conf)) Map.empty
    else Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")

  /** Filesystem of `p` for direct IO: a fresh [[NioLocalFileSystem]] for a
    * local path (construction is a few conf reads; nothing to close), else
    * Hadoop's cached one for the scheme. */
  def fileSystem(p: Path, conf: Configuration): FileSystem =
    if (!isLocal(p, conf)) p.getFileSystem(conf)
    else {
      val fs = new NioLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
}
