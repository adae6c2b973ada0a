package chainbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the shell. When Hadoop's native
  * library is absent, RawLocalFileSystem forks `chmod` for every file and
  * directory it creates and `readlink` for every link-status lookup, so
  * a micro-batch's checkpoint, state-store and output commits spend most
  * of their time in fork/exec. That cost belongs to the host, not to the
  * program, and it swamps what a change to the program could move, so
  * the benchmark sets permissions through java.nio and treats the
  * benchmark's own directories (which hold no symlinks) as link-free.
  * Checksum files are not written either (no ChecksumFileSystem). */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toString
    if (bits.length == 9 && bits.forall("rwx-".contains(_)))
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
    else super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The same filesystem for FileContext users (streaming checkpoints, the
  * dimension store's pointer commit). */
class LocalAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false)
