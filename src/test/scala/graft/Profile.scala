package graft

import java.nio.file.{Files, Paths}

import graft.core.Telemetry
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

/** Query and crawl profiler:
  * `Test/runMain graft.Profile <sfDir> <outDir> <passes> <query>...` or
  * `Test/runMain graft.Profile --crawl <rounds>`.
  *
  * Runs each named `SparkEntry` query `passes` times on one
  * `local[SPARK_GRAFT_CPUS]` session (default: all cores), timing each pass
  * as `graft.Bench` does (build the DataFrame, then count it). Per pass it
  * prints the wall time, the executor task-CPU ([[Telemetry.Listener]]:
  * steal- and clock-invariant on a burstable box), the jobs it started,
  * the generated classes Janino compiled and the ms it spent on them
  * ([[Telemetry.compiled]]: a warm pass that still compiles is thrashing
  * the codegen cache) and the top stages by task-CPU, each labelled with
  * its job description. Per query it writes two plans under `outDir`:
  *   - `<query>.formatted.txt`: the formatted plan before execution;
  *   - `<query>.final.txt`: the final adaptive plan of the last pass's
  *     count, after it ran.
  * A query may be named more than once; its passes run at each place it
  * is named. perfbench's query_block interleaves its queries: a cold pass
  * over the whole list, then a warm one, in one order. Reproduce it with
  * `passes` = 1 and the list named three times (cold, warm, and a second
  * warm pass to see whether the block has settled): whether a class stays
  * cached depends on what ran in between, which `passes` > 1 on one query
  * does not show.
  *
  * `--crawl` runs round 0 of the [[DeepCrawl]] corpus, then `rounds`
  * resume rounds, each one `CrawlEngine.resume` call as perfbench's
  * crawl_deep makes it. Per resume round it prints the wall time, jobs,
  * tasks, task-CPU and compiled classes of the round, then the same per
  * phase ([[Telemetry.Listener.phases]]; the tail phases overlap, so their
  * compile counts may overlap too), then the bytes of committed state per
  * family: the files under the dirs the round's manifest references, a
  * hard-linked file counted once.
  */
object Profile {
  private val TopStages = 10

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--crawl")) {
      require(args.length == 2, "usage: graft.Profile --crawl <rounds>")
      crawl(args(1).toInt)
    } else queries(args)

  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def crawl(rounds: Int): Unit = {
    import graft.engine.{CrawlEngine, Fs}
    val spark = Session.builder(cores).appName("graft-profile-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = new Telemetry.Listener
    spark.sparkContext.addSparkListener(cpu)
    val dir = Files.createTempDirectory("graft-profile-crawl").toFile
    val root = dir.toString
    try {
      var scheduled = CrawlEngine.run(spark, DeepCrawl.spec, DeepCrawl.seeds,
        DeepCrawl.cfg, root).totalScheduled
      for (r <- 1 to rounds) {
        val t0 = System.nanoTime()
        val (res, compiled) = Telemetry.compiled(CrawlEngine.resume(spark,
          DeepCrawl.spec, DeepCrawl.cfg.copy(maxRounds = r + 1), root))
        val wall = (System.nanoTime() - t0) / 1e9
        BusDrain.drain(spark.sparkContext)
        val phases = cpu.phases.toSeq.filter(_._1.startsWith(s"round $r "))
          .sortBy(-_._2.cpuNs)
        val ps = phases.map(_._2)
        println(f"[profile] round $r: wall $wall%.2f s, " +
          s"${res.totalScheduled - scheduled} URLs, jobs ${ps.map(_.jobs).sum} " +
          s"tasks ${ps.map(_.tasks).sum} " + f"cpu ${ps.map(_.cpuNs).sum / 1e9}%.3f s " +
          s"compiled ${compiled.classes} classes (${compiled.ms} ms)")
        phases.foreach { case (label, p) =>
          println(f"[profile]   ${label.stripPrefix(s"round $r ")}%-18s jobs ${p.jobs}%3d " +
            f"tasks ${p.tasks}%4d cpu ${p.cpuNs / 1e9}%6.3f s compiled ${p.classes}%3d classes")
        }
        println("[profile]   committed bytes: " + stateBytes(res.manifest)
          .map { case (family, n) => s"$family $n" }.mkString(", "))
        scheduled = res.totalScheduled
        if (res.manifest.done) println(s"[profile] the crawl is done after round $r")
      }
    } finally { spark.stop(); Fs.deleteLocalDir(dir) }
  }

  /** Bytes of the files under each state family's committed dirs, each
    * inode once.
    */
  private def stateBytes(m: graft.engine.Snapshot.Manifest): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val inodes = scala.collection.mutable.Set.empty[AnyRef]
    Seq("frontier" -> m.frontierAddDirs, "frontier_keys" -> m.frontierKeyDirs,
      "frontier_rem" -> m.frontierRemDirs, "seen" -> m.seenDirs,
      "seen_keys" -> m.seenKeyDirs).map { case (family, dirs) =>
      family -> dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
        val files = Files.walk(d)
        try files.iterator.asScala.filter(Files.isRegularFile(_)).toVector
        finally files.close()
      }.filter(f => inodes.add(Files.getAttribute(f, "unix:ino"))).map(Files.size).sum
    }
  }

  private def queries(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.Profile <sfDir> <outDir> <passes> <query>...")
    val Array(sfDir, outDir, passesArg) = args.take(3)
    val passes = passesArg.toInt
    val queries = args.drop(3).toSeq
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Session.builder(cores).appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = new Telemetry.Listener
    spark.sparkContext.addSparkListener(cpu)
    Files.createDirectories(Paths.get(outDir))
    def writePlan(name: String, qe: QueryExecution): Unit =
      Files.writeString(Paths.get(outDir, name), qe.explainString(FormattedMode))
    try {
      // session warm-up, so the first query's pass 1 is not also the JVM's
      SparkEntry.queries("q_topk")(spark, sfDir).count(): Unit
      BusDrain.drain(spark.sparkContext)
      cpu.drainTopStages(TopStages): Unit
      for (q <- queries) {
        var minWall = Double.MaxValue
        var minCpu = Double.MaxValue
        for (pass <- 1 to passes) {
          val c0 = cpu.totalNs.get()
          val j0 = cpu.jobDescription.size
          val ((counted, n, wall), compiled) = Telemetry.compiled {
            val t0 = System.nanoTime()
            val df = SparkEntry.queries(q)(spark, sfDir)
            val built = System.nanoTime()
            if (pass == 1) writePlan(s"$q.formatted.txt", df.queryExecution)
            // the same plan Dataset.count() runs, kept so its final
            // adaptive plan can be written after execution
            val counted = df.groupBy().count()
            val t1 = System.nanoTime()
            val n = counted.collect().head.getLong(0)
            (counted, n, (built - t0 + System.nanoTime() - t1) / 1e9)
          }
          BusDrain.drain(spark.sparkContext)
          val cpuS = (cpu.totalNs.get() - c0) / 1e9
          val jobs = cpu.jobDescription.size - j0
          minWall = math.min(minWall, wall)
          minCpu = math.min(minCpu, cpuS)
          println(f"[profile] $q pass$pass: wall $wall%.2f s cpu $cpuS%.2f s " +
            s"jobs $jobs compiled ${compiled.classes} classes " +
            s"(${compiled.ms} ms) ($n rows)")
          cpu.drainTopStages(TopStages).foreach { case (sid, ns, name) =>
            println(f"[profile]   stage $sid%4d cpu ${ns / 1e9}%7.2f s  $name")
          }
          if (pass == passes) writePlan(s"$q.final.txt", counted.queryExecution)
        }
        println(f"[profile] $q MIN: wall $minWall%.2f s cpu $minCpu%.2f s")
      }
    } finally spark.stop()
  }
}
