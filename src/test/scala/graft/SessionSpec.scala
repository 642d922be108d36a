package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session factory is the one source of the shared conf. */
class SessionSpec extends AnyFunSuite {

  test("Session pins the shared keys") {
    val spark = Session.builder(4).appName("session-spec").getOrCreate()
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(sc.hadoopConfiguration.get(graft.engine.NioLocalFs.ImplKey) ==
      graft.engine.NioLocalFs.ImplClass)
  }

  test("no SparkSession builder under src/ but the one in Session.scala") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src),
      s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val calls: Seq[(Path, Int)] = Files.walk(src).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> builderCall.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0)
    assert(calls == Seq(Paths.get("src/main/scala/graft/Session.scala") -> 1),
      s"hand-rolled session builders: ${calls.mkString(", ")}")
  }
}
