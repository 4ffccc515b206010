package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions.fromString
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per call: with no
  * libhadoop it forks `chmod` per file or directory made and `readlink`
  * per `getFileLinkStatus` (four per checksummed `FileContext.rename`;
  * a qualified path's `file:/…` string names no file, so the answer is
  * `getFileStatus`). Both go through java.nio; a sticky or set-id bit
  * (chmod's octal mode keeps a directory's set-id bits, chmod(2) clears
  * them) and a real symlink defer to Hadoop. `core-site.xml` registers
  * the wrappers. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val (file, mode) = (pathToFile(p).toPath, permission.toShort)
    if ((mode & 0x200) != 0 ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, fromString("rwxrwxrwx"
      .zipWithIndex.map { case (c, i) => if ((mode & 0x100 >> i) != 0) c else '-' }
      .mkString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: parquet writes and the output committer. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Spark's checkpoint files, with the
  * overrides of Hadoop's `RawLocalFs` (constructors package-private). */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(): FsServerDefaults = defaults
      override def getServerDefaults(f: Path): FsServerDefaults = defaults
      override def isValidName(src: String): Boolean = true
      private def defaults = LocalConfigKeys.getServerDefaults
    })
