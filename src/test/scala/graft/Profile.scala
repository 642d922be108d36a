package graft

import java.nio.file.{Files, Paths}

import graft.core.Telemetry
import org.apache.spark.graft.BusDrain
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

/** Query profiler:
  * `Test/runMain graft.Profile <sfDir> <outDir> <passes> <query>...`
  *
  * Runs each named `SparkEntry` query `passes` times on one
  * `local[SPARK_GRAFT_CPUS]` session (default: all cores), timing each pass
  * as `graft.Bench` does (build the DataFrame, then count it). Per pass it
  * prints the wall time, the executor task-CPU ([[Telemetry.Listener]]:
  * steal- and clock-invariant on a burstable box), the generated classes
  * Janino compiled ([[Telemetry.compiled]]: a warm pass that still compiles
  * is thrashing the codegen cache) and the top stages by task-CPU, each
  * labelled with its job description. Per query it writes two plans
  * under `outDir`:
  *   - `<query>.formatted.txt`: the formatted plan before execution;
  *   - `<query>.final.txt`: the final adaptive plan of the last pass's
  *     count, after it ran.
  * Crawl rounds are profiled by `perfbench/run.py --trace 1` and
  * `graft.Bench` instead.
  */
object Profile {
  private val TopStages = 10

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.Profile <sfDir> <outDir> <passes> <query>...")
    val Array(sfDir, outDir, passesArg) = args.take(3)
    val passes = passesArg.toInt
    val queries = args.drop(3).toSeq
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

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
          minWall = math.min(minWall, wall)
          minCpu = math.min(minCpu, cpuS)
          println(f"[profile] $q pass$pass: wall $wall%.2f s cpu $cpuS%.2f s " +
            s"compiled ${compiled.classes} classes ($n rows)")
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
