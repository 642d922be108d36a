package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._

/** Task metrics summed over the Spark jobs of one benchmark call. */
final class Acc {
  var jobs, tasks = 0L
  var cpuNs, runMs, shuffleRead, shuffleWrite, spill, input, output = 0L
  /** (launch, finish) wall-clock ms of every task, for busy-time unions. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(te: SparkListenerTaskEnd): Unit = {
    tasks += 1
    intervals += ((te.taskInfo.launchTime, te.taskInfo.finishTime))
    val m = te.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }

  /** Wall ms within [from, to] during which at least one task ran. */
  def busyMs(from: Long, to: Long): Long = {
    var covered = 0L
    var lo, hi = -1L // the merged run being built
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, from)
      val b = math.min(b0, to)
      if (b > a) {
        if (a > hi) { covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
    }
    covered + hi - lo
  }
}

/** One timed call into the engine's public API. */
final case class Op(name: String, kind: String, module: String, ok: Boolean,
    wallS: Double, startMs: Long, endMs: Long, acc: Acc, urls: Long)

final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int)

/** The benchmark's only observer: a SparkListener that attributes task
  * metrics to the benchmark call open when each job started, plus optional
  * spans around every call. Calls run one at a time, and the listener bus
  * is drained before the next call opens, so every job started while a call
  * was open belongs to it, whichever thread submitted it (the engine writes
  * its round tail from a thread pool, where Spark's local properties are
  * stale).
  */
final class Recorder(sc: SparkContext, val trace: Boolean) extends SparkListener {
  @volatile private var current: String = null
  private val stageCall = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]
  val total = new Acc
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  var attempted, failed = 0L
  /** Time spent in span bookkeeping itself: the direct tracing overhead. */
  var traceSelfNs = 0L
  private var seq = 0
  private val open = mutable.Stack(0) // span 0 is the workload root
  private val rootStart = System.nanoTime()

  sc.addSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val call = current
    if (call != null) {
      accs.getOrElseUpdate(call, new Acc).jobs += 1
      js.stageIds.foreach(stageCall(_) = call)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    total.add(te)
    stageCall.get(te.stageId).foreach(c => accs.getOrElseUpdate(c, new Acc).add(te))
  }

  /** A span around `f`, nested under the innermost open span. */
  def span[T](name: String)(f: => T): T =
    if (!trace) f
    else {
      val t0 = System.nanoTime()
      seq += 1
      val id = seq
      val parent = open.top
      open.push(id)
      traceSelfNs += System.nanoTime() - t0
      val start = System.nanoTime()
      try f
      finally {
        val end = System.nanoTime()
        open.pop()
        spans += Span(id, name, start, end, parent)
        traceSelfNs += System.nanoTime() - end
      }
    }

  /** Time one call: a thrown call counts as failed and records no time. */
  def call[T](name: String, kind: String, module: String = "")(f: => T): Option[T] = {
    attempted += 1
    val id = s"$name#${ops.size}"
    current = id
    sc.setJobDescription(name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Some(span(name)(f))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += 1
          None
      } finally sc.setJobDescription(null)
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    Bus.drain(sc)
    current = null
    val acc = synchronized(accs.getOrElse(id, new Acc))
    ops += Op(name, kind, module, res.isDefined, wall, startMs, endMs, acc, 0L)
    res
  }

  /** URLs scheduled by the last call, for per-URL rates. */
  def setUrls(n: Long): Unit = ops(ops.size - 1) = ops.last.copy(urls = n)

  def drain(): Unit = Bus.drain(sc)

  def writeSpans(path: String, traceId: String): Unit = {
    val end = System.nanoTime()
    val rows = (Span(0, "workload", rootStart, end, -1) +: spans.toSeq).map { s =>
      Json.obj("trace" -> traceId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_us" -> (s.startNs - rootStart) / 1000,
        "end_us" -> (s.endNs - rootStart) / 1000)
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      rows.mkString("", "\n", "\n"))
    catch { case NonFatal(e) => System.err.println(s"[perfbench] spans: $e") }
  }
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
