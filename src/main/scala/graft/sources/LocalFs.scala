package graft.sources

import java.io.IOException
import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem over [[LocalFs.Raw]] —
  * installed as `fs.file.impl` by [[graft.core.Engine.session]].
  * Everything but the permission call is Hadoop's own: `.crc`
  * sidecars, rename, listing and the read-side checksum check.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Octal 7777: rwx for all three classes plus setuid, setgid, sticky. */
  private val PermBits = 0xfff

  /** Without libhadoop, `RawLocalFileSystem.setPermission` forks a
    * `chmod` process, and Hadoop calls it after every create (part
    * file, `.crc` sidecar, `_SUCCESS`) and every mkdir — ~3 ms each,
    * most of a small file's write cost. Under umask 022 the file or
    * dir a plain create makes already has the requested mode
    * (0666/0777 masked to 0644/0755), so the chmod changes nothing.
    *
    * This layer stats the path once (`unix:mode`, no fork) and skips
    * the call only when the mode bits, setuid/setgid/sticky included,
    * already equal the requested ones. Any other mode, a missing path
    * or a filesystem without the unix attribute view goes to Hadoop's
    * method unchanged.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val current =
        try Files.getAttribute(pathToFile(p).toPath, "unix:mode").asInstanceOf[Int] & PermBits
        catch {
          case _: IOException | _: UnsupportedOperationException |
              _: IllegalArgumentException => -1
        }
      if (current != (permission.toShort & PermBits)) super.setPermission(p, permission)
    }
  }
}
