package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one telemetry layer (TelemetrySpec fails on any other SparkListener
  * or codegen-counter read under `src/`): the task-CPU [[Listener]], the
  * Janino counter [[compiled]], and [[phase]], which labels jobs by phase.
  */
object Telemetry {
  private val log = Log("phase")
  private val Description = "spark.job.description"

  /** The call site of a stage that an adaptive plan submits from a pool
    * thread (`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:…`):
    * it names no caller, so stage labels leave it out.
    */
  private val PoolSite = "withThreadLocalCaptured"

  /** Task-CPU (steal- and clock-invariant) in total and per stage; stage
    * labels carry the job description and the call site (none for a pool
    * thread's).
    */
  final class Listener extends SparkListener {
    val totalNs = new AtomicLong(0)
    /** Every started job's description ("" if none), by job id. */
    val jobDescription = new ConcurrentHashMap[Int, String]()
    private val stageNs = new ConcurrentHashMap[Int, AtomicLong]()
    private val stageName = new ConcurrentHashMap[Int, String]()

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(te.taskMetrics).foreach { m =>
        totalNs.addAndGet(m.executorCpuTime)
        stageNs.computeIfAbsent(te.stageId, _ => new AtomicLong(0))
          .addAndGet(m.executorCpuTime): Unit
      }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty(Description))).getOrElse("")
      jobDescription.put(js.jobId, desc)
      js.stageIds.foreach(sid =>
        stageName.merge(sid, s"[job ${js.jobId} $desc] ", (a, b) => b + a): Unit)
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val site = sc.stageInfo.name.takeWhile(_ != '\n').take(120)
      if (!site.contains(PoolSite))
        stageName.merge(sc.stageInfo.stageId, site, (a, b) => a + b): Unit
    }

    /** `[job <id> <description>] <call site>`, or "?" for an unseen stage. */
    def stageLabel(stageId: Int): String =
      stageName.getOrDefault(stageId, "?").trim

    /** The `n` top (stage id, task-CPU ns, label) since the last call. */
    def drainTopStages(n: Int): Seq[(Int, Long, String)] = {
      val top = stageNs.asScala.toSeq.map { case (sid, ns) => (sid, ns.get) }
        .sortBy(-_._2).take(n)
        .map { case (sid, ns) => (sid, ns, stageLabel(sid)) }
      stageNs.clear(); stageName.clear()
      top
    }
  }

  final case class Compiled(classes: Long, ms: Long)

  /** `f`'s value and the classes Janino compiled while it ran (Spark's
    * counters are process-wide: concurrent callers' compiles count too).
    */
  def compiled[T](f: => T): (T, Compiled) = {
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ns0 = CodeGenerator.compileTime
    val v = f
    (v, Compiled(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
      (CodeGenerator.compileTime - ns0) / 1000000L))
  }

  /** `f` with `name` as the description of the jobs it starts on this
    * thread (the caller's comes back on every exit); wall time is logged at
    * `GRAFT_LOG=debug`. Pool threads keep the local properties they were
    * created with, so a block handed to a pool labels itself in its body.
    */
  def phase[T](sc: SparkContext, name: String)(f: => T): T = {
    val caller = sc.getLocalProperty(Description)
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try f
    finally {
      sc.setJobDescription(caller)
      log.debug(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
  }
}
