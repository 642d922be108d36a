package graft.engine

import java.io.ByteArrayOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil, Options, Path, UnsupportedFileSystemException}

/** Hadoop-FileSystem-backed engine-state I/O.
  *
  * All engine sidecar state (snapshot manifests, exact key-log runs and
  * their filters) goes through the Hadoop `FileSystem` API so the same code
  * addresses local disk in this sandbox and HDFS/S3A on a real cluster —
  * the data-plane parquet reads/writes already do (Spark uses Hadoop FS
  * underneath).
  *
  * Configuration resolution: `new Configuration()` picks up core-site.xml
  * from the classpath, which is how executor-side tasks resolve the cluster
  * default FS; the driver could pass `spark.hadoopConfiguration`, but one
  * shared resolution path keeps driver and executor behavior identical.
  * Hard links are kept as a local-FS fast path for the carry-forward of
  * unchanged bucket files; any other scheme falls back to an FS copy
  * (on a real deployment the copy would be replaced by manifest-level
  * file references, the Iceberg pattern the Snapshot log already uses for
  * parquet dirs).
  */
object Fs {

  private val log = graft.core.Log("fs")

  // no-fork local permission ops ([[NioLocalFs]]): without native-hadoop,
  // the default file:// binding forks a chmod per create — a kernel-side
  // storm at 32 concurrent writers
  @transient private lazy val conf = NioLocalFs.install(new Configuration())

  // Pinned file:// instance, NOT resolved through FileSystem.get: the
  // global FileSystem cache keys on (scheme, authority, ugi) and ignores
  // fs.file.impl, so whichever code path touches file:// first pins its
  // binding for the whole JVM — a library consumer's SparkSession without
  // spark.hadoop.fs.file.impl would silently hand this object the stock
  // forking LocalFileSystem. Engine state also skips the checksum layer
  // (RAW fs): sidecar files carry their own magic/format, and the .crc
  // shadow would double the per-round file count.
  @transient private lazy val localFs: FileSystem = {
    val f = new NioRawLocalFileSystem()
    f.initialize(java.net.URI.create("file:///"), conf)
    f
  }

  def fs(path: String): FileSystem = {
    val scheme = new Path(path).toUri.getScheme
    if (scheme == null || scheme == "file") localFs
    else new Path(path).getFileSystem(conf)
  }

  // FileContext per (scheme, authority): the overwrite-capable rename lives
  // on the FileContext API, and constructing one per write would re-resolve
  // the AbstractFileSystem on every bucket-file publish
  @transient private lazy val fcCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileContext]()

  private def fc(path: String): FileContext = {
    val uri = new Path(path).toUri
    val key = Option(uri.getScheme).getOrElse("") + "://" +
      Option(uri.getAuthority).getOrElse("")
    fcCache.computeIfAbsent(key, _ => FileContext.getFileContext(uri, conf))
  }

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def mkdirs(path: String): Unit = { fs(path).mkdirs(new Path(path)); () }

  def delete(path: String): Unit = {
    fs(path).delete(new Path(path), true); ()
  }

  def readAllBytes(path: String): Array[Byte] = {
    val p = new Path(path)
    val in = fs(path).open(p)
    try {
      val bos = new ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        bos.write(buf, 0, n)
        n = in.read(buf)
      }
      bos.toByteArray
    } finally in.close()
  }

  /** Atomic-publish write: tmp file + overwrite-capable rename. On
    * `file://` the rename is `java.nio` ATOMIC_MOVE — POSIX `rename(2)`
    * replaces the target atomically, so there is never a window where the
    * target does not exist, even on replacement (crash-and-retry between
    * state write and snapshot commit). Other schemes go through
    * `FileContext.rename(..., Options.Rename.OVERWRITE)`; note Hadoop's
    * default `renameInternal(overwrite)` is delete-then-rename, so on an FS
    * that doesn't implement native overwrite-rename the missing-target
    * window exists there — acceptable: replacement only happens on
    * crash-retry of a write the reader side hasn't been told about yet
    * (the snapshot commit is what publishes a dir). The tmp name is unique
    * PER ATTEMPT — two concurrent writers of the same target (speculative
    * task + original, or a zombie attempt racing its retry) each stage
    * their own bytes and the rename decides; a shared tmp name would let
    * one attempt clobber the other mid-write and publish torn bytes. All
    * payloads written through here are DETERMINISTIC functions of committed
    * state, so whichever twin's rename lands last publishes the same bytes.
    * Failure handling: the staged tmp is best-effort deleted (no .tmp-*
    * garbage across task retries); the failure is downgraded to success
    * ONLY when a published target of the expected length exists — a twin's
    * identical bytes. Anything else (ENOSPC/EIO on create or write with no
    * usable target) propagates instead of being masked.
    */
  def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val f = fs(path)
    val target = new Path(path)
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID().toString)
    try {
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (f eq localFs)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else
        try fc(path).rename(tmp, target, Options.Rename.OVERWRITE)
        catch {
          case _: UnsupportedFileSystemException | _: UnsupportedOperationException =>
            // FS without a FileContext binding: legacy delete+rename (brief
            // missing-target window; still crash-retry safe)
            if (f.exists(target)) f.delete(target, false)
            if (!f.rename(tmp, target)) sys.error(s"rename $tmp -> $target failed")
        }
    } catch {
      case e: Throwable =>
        try { f.delete(tmp, false); () } catch { case _: Exception => () }
        val published =
          try f.getFileStatus(target).getLen == bytes.length.toLong
          catch { case _: Exception => false }
        if (!published) throw e
        log.warn(s"writeAtomic $path failed after a twin published " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); using the twin's bytes")
    }
  }

  /** Total bytes of the files directly under `dir` (key-run dirs are flat);
    * 0 if missing. Drives the tiered-fold merge trigger — a driver-side
    * listing of ≤ numBuckets entries, no data read.
    */
  def dirBytes(dir: String): Long = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) 0L
    else f.listStatus(p).iterator.filter(_.isFile).map(_.getLen).sum
  }

  /** Total row count of the parquet files under `dir` (recursively) from
    * their footers — driver-side metadata only, no Spark job (the
    * statistics an Iceberg manifest would carry); 0 if missing.
    */
  def parquetRowCount(dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) return 0L
    val it = f.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try n += rd.getRecordCount finally rd.close()
      }
    }
    n
  }

  /** File names (not paths) directly under `dir`; empty if missing. */
  def list(dir: String): Vector[String] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Vector.empty
    else f.listStatus(p).toVector.map(_.getPath.getName)
  }

  /** Carry an immutable file forward: hard link on local FS (no data copy),
    * FS copy elsewhere. No-op if the target already exists (idempotent
    * re-run after a crash between state write and snapshot commit).
    */
  def carryForward(src: String, dst: String): Unit = {
    val f = fs(dst)
    if (f.exists(new Path(dst))) return
    if (f.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(new Path(dst).toUri.getPath),
          java.nio.file.Paths.get(new Path(src).toUri.getPath))
        return
      } catch { case _: java.nio.file.FileAlreadyExistsException => return }
    }
    FileUtil.copy(fs(src), new Path(src), f, new Path(dst), false, conf); ()
  }

  /** Recursive local-directory delete (driver-side temp payload cleanup —
    * the one java.io helper Bench and the smoke queries share).
    */
  def deleteLocalDir(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteLocalDir)
    f.delete(): Unit
  }
}
