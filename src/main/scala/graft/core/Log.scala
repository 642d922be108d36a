package graft.core

/** Minimal structured logging surface — the analog of the reference's
  * logging_config (/root/reference/medcrawler/logging_config.py:13-67:
  * level from config/env, timestamped single-line format, per-module
  * loggers). Spark owns log4j for its own internals; engine-level events
  * go through this so a deployment can raise/lower engine verbosity with
  * ONE env knob without touching Spark's logging:
  *
  *   GRAFT_LOG=debug|info|warn|error   (default warn)
  *
  * Lines land on stderr as `<ISO-8601 UTC> LEVEL [component] message`;
  * messages are by-name so a filtered call costs one int compare.
  * Executor-safe: the threshold is read once per JVM from the env (Spark
  * forwards the driver env to local-mode executors; on a real cluster set
  * it via spark.executorEnv.GRAFT_LOG).
  */
final class Log private (component: String) {
  import Log._
  def error(msg: => String): Unit = emit(Error, component, msg)
  def warn(msg: => String): Unit = emit(Warn, component, msg)
  def info(msg: => String): Unit = emit(Info, component, msg)
  def debug(msg: => String): Unit = emit(Debug, component, msg)
  def isDebug: Boolean = threshold <= Debug
}

object Log {
  private val Debug = 10; private val Info = 20
  private val Warn = 30; private val Error = 40

  private val names =
    Map(Debug -> "DEBUG", Info -> "INFO", Warn -> "WARN", Error -> "ERROR")

  private[core] val threshold: Int =
    sys.env.get("GRAFT_LOG").map(_.toLowerCase) match {
      case Some("debug") => Debug
      case Some("info") => Info
      case Some("error") => Error
      case _ => Warn
    }

  def apply(component: String): Log = new Log(component)

  private def emit(level: Int, component: String, msg: => String): Unit =
    if (level >= threshold) {
      val ts = java.time.Instant.now().toString
      System.err.println(s"$ts ${names(level)} [$component] $msg")
    }
}
