package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's checksummed local file system (`.crc` sidecars written and
  * verified as by the stock `LocalFileSystem`) whose permission calls
  * are java.nio calls instead of forked processes.
  *
  * The fork: Spark ships without the Hadoop native library (libhadoop),
  * so `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand`, and the raw FS calls it for every file it creates
  * and every directory it makes, plus a thread to drain its stderr. A
  * warm daily ingest ([[Pipeline.run]] of 200 games into 9 tables: their
  * parts, `.crc` sidecars and staging dirs) forked ~90 `chmod`s this way;
  * through this class it forks no `chmod`.
  * `graft.streaming.NioCheckpointFileManager` works around the same fork
  * for streaming checkpoint files.
  *
  * Permission parity: the raw FS applies the same umask to the same
  * requested mode before it calls `setPermission`, and `setPermission`
  * here sets exactly those nine bits with `Files.setPosixFilePermissions`,
  * as `chmod` does. Bits nio cannot express (the sticky bit), and file
  * systems without POSIX attributes, fall back to the stock call.
  *
  * Installed only on the clone an ETL run executes on
  * ([[Pipeline.etlSession]]), with `fs.file.impl.disable.cache=true`:
  * Hadoop's FS cache is keyed by scheme, authority and user, not by
  * conf, so without it `FileSystem.get` would hand the clone the JVM's
  * cached stock instance, or cache this class for every other caller.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw local FS with a java.nio `setPermission`. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The nine rwx bits of `p` as nio permissions. */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, bits: PosixFilePermission*): Unit =
      Seq(FsAction.READ, FsAction.WRITE, FsAction.EXECUTE).zip(bits).foreach {
        case (action, bit) => if (a.implies(action)) set.add(bit)
      }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    set
  }
}
