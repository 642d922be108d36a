package graft

import graft.engine.NioLocalFs
import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every entry point
  * (Main, Verify, Bench, the specs and the test-scope tools) starts from
  * [[builder]] and adds only its own appName, log level and call-site keys,
  * so the conf they share cannot drift apart.
  */
object Session {

  /** A `local[cores]` builder with the shared conf: shuffle partitions =
    * cores (Spark's default of 200 makes every small job slow), AQE on, UTC
    * session time zone, UI off, and `file://` bound to the no-fork
    * [[NioLocalFs]].
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", NioLocalFs.ImplClass)
      .config("spark.ui.enabled", "false")

  /** Syscall-lean local landing for crawl payloads: 1 MB write buffers
    * instead of Hadoop's 4 KB default (FSOutputSummer otherwise flushes
    * every ~4.5 KB -> ~1M write() calls per bench round), and stream (not
    * mmap) reads for local shuffle blocks — mmap/munmap, fork and
    * thread-create all serialize on the process mmap lock, which is exactly
    * what collapses at 32 writer threads.
    */
  val CrawlLanding: Map[String, Any] = Map(
    "spark.hadoop.io.file.buffer.size" -> (1 << 20).toString,
    "spark.storage.memoryMapThreshold" -> "256m")
}
