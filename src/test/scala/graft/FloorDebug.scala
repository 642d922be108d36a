package graft

import org.apache.spark.sql.functions._

/** Isolate the repartition slowdown: same explode+agg over documents with
  * (a) no repartition, (b) round-robin, (c) hash on doc_id, (d) round-robin
  * with sortBeforeRepartition off.
  */
object FloorDebug {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cpu = new graft.core.Telemetry.Listener
    spark.sparkContext.addSparkListener(cpu)
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    def work(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", split(trim(regexp_replace(lower($"text"), "\\s+", " ")), " ").as("w"))
      .select($"doc_id", explode($"w").as("t"))
      .groupBy($"t").agg(count(lit(1)))
    def time(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      for (p <- 1 to 2) {
        val c0 = cpu.totalNs.get(); val t0 = System.nanoTime()
        val n = df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
        val cpuS = (cpu.totalNs.get() - c0) / 1e9
        println(f"[floordbg] $name p$p: wall $wall%.2f cpu $cpuS%.2f ($n rows)")
      }
    }
    time("plain        ", work(docs))
    time("roundrobin   ", work(docs.repartition(32)))
    time("hash(doc_id) ", work(docs.repartition(32, $"doc_id")))
    spark.conf.set("spark.sql.execution.sortBeforeRepartition", "false")
    time("rr-nosort    ", work(docs.repartition(32)))
    spark.conf.set("spark.sql.execution.sortBeforeRepartition", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    time("plain-nowscg ", work(docs))
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    def subtrees(df: org.apache.spark.sql.DataFrame): Int = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      "WholeStageCodegen subtrees".r.findFirstIn(s).size +
        s.linesIterator.count(_.contains("== Subtree"))
    }
    println("[floordbg] plain codegen subtrees: " + subtrees(work(docs)))
    println("[floordbg] rr    codegen subtrees: " + subtrees(work(docs.repartition(32))))
    spark.stop()
  }
}
