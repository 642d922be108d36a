package graft.engine

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** Local-filesystem Hadoop `FileSystem` whose permission operations use
  * `java.nio` instead of forking a `chmod` subprocess per call.
  *
  * Why: without the native-hadoop JNI library (absent in this sandbox, and
  * in most slim containers), `RawLocalFileSystem.setPermission` falls back
  * to `Shell.execCommand("chmod", ...)` — a full fork+exec (plus a stream-
  * reader thread) for EVERY file create and mkdir, because every
  * `FileSystem.create` call funnels a non-null permission into
  * `LocalFSFileOutputStream`'s constructor. A crawl round lands hundreds of
  * files (attempts parquet parts + .crc shadows, per-bucket key runs,
  * metrics); at 32 concurrent writer tasks the fork storm turns
  * into kernel-dominated CPU (observed: >60% system time, executor threads
  * sampled in `ProcessImpl.forkAndExec` and `Thread.start0`) that grows
  * with core count and buries the engine's real work.
  *
  * This is a LOCAL-MODE shim only: on a real cluster the data plane is
  * HDFS/S3A (permission ops are RPCs, no fork) and this class is never
  * bound. Overriding the single virtual `setPermission` covers both hot
  * callers — file create (`LocalFSFileOutputStream` ctor) and
  * `mkOneDirWithMode` — because both dispatch through it.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  // the RawLocalFileSystem base leaves getScheme at FileSystem's
  // throw-by-default (only the Checksum wrapper implements it)
  override def getScheme: String = "file"

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    // setuid/setgid/sticky can't be expressed through PosixFilePermission —
    // route those rare calls to the stock (forking) implementation rather
    // than silently dropping the special bits
    if ((bits & 0xE00) != 0) { super.setPermission(p, permission); return }
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    def add(bit: Int, perm: PosixFilePermission): Unit =
      if ((bits & bit) != 0) { set.add(perm); () }
    add(0x100, OWNER_READ); add(0x80, OWNER_WRITE); add(0x40, OWNER_EXECUTE)
    add(0x20, GROUP_READ); add(0x10, GROUP_WRITE); add(0x8, GROUP_EXECUTE)
    add(0x4, OTHERS_READ); add(0x2, OTHERS_WRITE); add(0x1, OTHERS_EXECUTE)
    try Files.setPosixFilePermissions(Paths.get(pathToFile(p).getPath), set)
    catch {
      // non-POSIX filesystem: degrade to the stock path instead of failing
      // every create() that funnels through setPermission
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
    ()
  }
}

/** Checksummed `file://` FileSystem over [[NioRawLocalFileSystem]] — the
  * drop-in replacement for Hadoop's default `LocalFileSystem` binding
  * (`ChecksumFileSystem.setPermission` delegates to the wrapped raw fs, so
  * the no-fork override applies to every create through this class too).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFs {
  val ImplKey = "fs.file.impl"
  val ImplClass = "graft.engine.NioLocalFileSystem"

  /** Bind `file://` to the no-fork local FS in a Hadoop configuration. */
  def install(conf: Configuration): Configuration = {
    conf.set(ImplKey, ImplClass)
    conf
  }
}
