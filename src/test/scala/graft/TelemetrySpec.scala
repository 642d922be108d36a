package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Telemetry is one implementation: one listener, one compile counter. */
class TelemetrySpec extends AnyFunSuite {

  test("no SparkListener or codegen counter under src/ but in Telemetry.scala") {
    val listener =
      """(extends|new|with)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val counter = """Codegen[M]etrics|CodeGenerator\s*\.\s*compile[T]ime""".r
    val home = Paths.get("src/main/scala/graft/core/Telemetry.scala")
    def strays(sources: Seq[(Path, String)]): Seq[Path] = sources.collect {
      case (p, text) if p != home &&
          (listener.findFirstIn(text) ++ counter.findFirstIn(text)).nonEmpty => p
    }
    val planted = Seq("new org.apache.spark.scheduler.Spark" + "Listener {",
      "class L extends Spark" + "Listener", "Codegen" + "Metrics.METRIC_",
      "CodeGenerator." + "compileTime")
      .zipWithIndex.map { case (text, i) => Paths.get(s"Stray$i.scala") -> text }
    assert(strays(planted) == planted.map(_._1), "the scan misses a planted stray")

    assert(Files.isRegularFile(home),
      s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(Paths.get("src")).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p))
    assert(strays(sources).isEmpty,
      s"hand-rolled telemetry: ${strays(sources).mkString(", ")}")
  }
}
