package graft.core

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.SparkSession

/** Runs query planning and submission under the context classloader of
  * the local-mode executor tasks.
  *
  * Spark keys its codegen cache by (context classloader, generated source).
  * A whole-stage class is compiled once while Spark plans the stage (a
  * compile check before the stage's RDD is built) and once more by the
  * tasks that run it; in a local-mode JVM the task threads use a loader of
  * their own, so every whole-stage class takes TWO cache entries and two
  * compiles. Under the task loader the planning-time compile fills the
  * entry the tasks look up. The task loader asks the application loader
  * first, so every class resolves the same way under either.
  *
  * Two limits hold in Spark 4.1:
  *   - Pool threads. `SQLExecution.withThreadLocalCaptured` does not carry
  *     the context loader, and adaptive query stages (shuffle exchanges,
  *     result stages) submit through it. Their driver-side compile runs on
  *     a pool thread whose loader is the one it inherited from the thread
  *     that created it, so a block run here covers those compiles only
  *     when the pool thread was created under it. Gains from this loader
  *     alone are therefore uneven from run to run.
  *   - No pinning. A thread's loader is set only inside [[run]], which
  *     restores it on exit. A caller thread left on a session's task
  *     loader fails once that session stops (`executor not accepting a
  *     task`, from the stopped session's loader), so never set it
  *     outside a scoped `run`.
  *
  * A no-op off local mode, where executors are other JVMs with caches of
  * their own.
  */
private[graft] object TaskLoader {
  private val loaders = new java.util.WeakHashMap[SparkSession, ClassLoader]()
  @volatile private var probed: ClassLoader = _

  /** The context classloader of the session's query tasks in local mode,
    * read once per session by a one-task query (query tasks run under the
    * session's own executor-side loader, not the one of plain RDD jobs).
    * None off local mode.
    */
  def of(spark: SparkSession): Option[ClassLoader] =
    if (!spark.sparkContext.isLocal) None
    else loaders.synchronized {
      Option(loaders.get(spark)).orElse {
        spark.range(0, 1, 1, 1).foreachPartition { (_: Iterator[java.lang.Long]) =>
          probed = Thread.currentThread.getContextClassLoader
        }
        val l = probed
        if (l != null) loaders.put(spark, l)
        Option(l)
      }
    }

  /** `f` with the current thread's context classloader set to the task
    * loader of `spark` (restored afterwards).
    */
  def run[T](spark: SparkSession)(f: => T): T = of(spark) match {
    case None => f
    case Some(loader) =>
      val t = Thread.currentThread
      val prev = t.getContextClassLoader
      t.setContextClassLoader(loader)
      try f finally t.setContextClassLoader(prev)
  }

  /** The global execution context, running each task under [[run]]. */
  def executionContext(spark: SparkSession): ExecutionContext = {
    val global = ExecutionContext.global
    new ExecutionContext {
      def execute(task: Runnable): Unit = global.execute(() => run(spark)(task.run()))
      def reportFailure(cause: Throwable): Unit = global.reportFailure(cause)
    }
  }
}
