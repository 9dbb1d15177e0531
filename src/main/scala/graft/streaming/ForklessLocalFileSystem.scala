package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission
import java.util.{EnumSet => JEnumSet}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Local `file:` FileSystem without per-file subprocess forks.
 *
 * Absent the libhadoop native library, `RawLocalFileSystem.setPermission`
 * shells out (`chmod` via `Shell.execCommand`) — and `FileSystem.create`
 * applies a default permission to EVERY created file, so every parquet
 * part file written by a batch job pays a fork of the multi-GB JVM
 * (thread dumps: `ParquetFileWriter.<init>` → `FileSystem.create` →
 * `setPermission` → `Shell.runCommand`; a dynamic-partition insert of
 * ~100 day-partition files spent 1–2 s almost entirely in forks, see
 * OPTIMIZATION_r17.md). This subclass implements the chmod with
 * java.nio's `setPosixFilePermissions` — same bits, no subprocess.
 *
 * It also REPLACES the default checksummed `LocalFileSystem`: the
 * sibling `.crc` files double every create/rename against a local POSIX
 * filesystem whose integrity the OS already guarantees (and whose real
 * deployments put the data plane on HDFS/S3, where this class is never
 * registered — `fs.file.impl` is set only in [[graft.GraftSession]]).
 */
class ForklessLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val bits = permission.toShort.toInt
    val perms = JEnumSet.noneOf(classOf[PosixFilePermission])
    def add(bit: Int, perm: PosixFilePermission): Unit =
      if ((bits & bit) != 0) { perms.add(perm); () }
    add(0x100, PosixFilePermission.OWNER_READ)
    add(0x80, PosixFilePermission.OWNER_WRITE)
    add(0x40, PosixFilePermission.OWNER_EXECUTE)
    add(0x20, PosixFilePermission.GROUP_READ)
    add(0x10, PosixFilePermission.GROUP_WRITE)
    add(0x8, PosixFilePermission.GROUP_EXECUTE)
    add(0x4, PosixFilePermission.OTHERS_READ)
    add(0x2, PosixFilePermission.OTHERS_WRITE)
    add(0x1, PosixFilePermission.OTHERS_EXECUTE)
    // setuid/setgid/sticky bits are not expressible via PosixFilePermission;
    // nothing in the engine sets them on data files — mask off, as the
    // numeric chmod of the shell fallback would for these call sites.
    Files.setPosixFilePermissions(Paths.get(p.toUri.getPath), perms)
    ()
  }
}
