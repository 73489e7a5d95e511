package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem that [[graft.Sessions.local]] registers, in
  * Hadoop's four layers: [[RawLocalFileSystem]] (raw), [[LocalFileSystem]]
  * (`fs.file.impl`, checksummed), [[RawLocalFs]] and [[LocalFs]]
  * (`fs.AbstractFileSystem.file.impl`, for `FileContext`).
  *
  * Without Hadoop's native library (`NativeIO.isAvailable()` false)
  * Hadoop's raw layer forks a `chmod` process for every file or directory
  * it creates with a permission, and a `readlink` process for every
  * `getFileLinkStatus`, which `FileContext` calls several times in each
  * rename. Each fork costs about 10 ms, and the stream checkpoint logs,
  * the state-store deltas and the parquet output committer pay it per
  * file. The raw layer here does the same two things through `java.nio`;
  * checksums, umask, rename semantics and every permission bit written
  * stay Hadoop's.
  */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  /** chmod(2) instead of a `chmod` process. Hadoop's own path stays for a
    * sticky bit (the POSIX permission set cannot carry it), for a
    * directory with its set-user-ID or set-group-ID bit on (`chmod 0755`
    * keeps those on a directory, chmod(2) would clear them) and for a
    * JVM filesystem without the `unix` attribute view.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !RawLocalFileSystem.unixView ||
        RawLocalFileSystem.isSetIdDir(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  /** Hadoop's status of a path that is not a symlink is its
    * `getFileStatus`; only a real symlink needs the `readlink` path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object RawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private def isSetIdDir(file: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR, S_ISUID | S_ISGID
  }
}

/** `fs.file.impl`. It replaces Hive's `ProxyLocalFileSystem`, which the
  * `ServiceLoader` picks for `file:` when Spark's Hive jars are on the
  * class path, so it keeps that class's one rule: a rename onto an
  * existing file returns false and moves nothing.
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `local.LocalFs` over
  * [[RawLocalFileSystem]].
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf))

/** Hadoop's `local.RawLocalFs` over [[RawLocalFileSystem]]. */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
