package graft

import graft.engine.{Fs, KeyLog, KeyLogCache, ProbeExpr}
import org.apache.spark.sql.functions._

/** A/B microbench for the membership probe: native codegen Expression vs
  * the equivalent Scala UDF (what it replaced), over 10^7 rows probing one
  * committed 10^6-key run. `Test/runMain graft.ProbeBench`
  */
object ProbeBench {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val dir = java.nio.file.Files.createTempDirectory("probe-bench").toString
      val keyDir = s"$dir/keys"
      val buckets = 16
      KeyLog.write(
        spark.range(1000000).select(
          pmod(xxhash64($"id"), lit(buckets)).cast("int").as("hostBucket"),
          xxhash64($"id", lit(1)).as("urlHash"),
          lit(0).as("aux")),
        keyDir, buckets)
      // 50% of probes target stored keys (id % 2M < 1M), like a crawl
      // round where roughly half the candidate links are already known
      val rows = spark.range(10000000L)
        .select(pmod($"id", lit(2000000)).as("k"))
        .select(
          pmod(xxhash64($"k"), lit(buckets)).cast("int").as("b"),
          xxhash64($"k", lit(1)).as("h"))
        .persist()
      rows.count() // materialize input outside the timed region

      // tiered arm: the same 10^6 keys split 7:1 into a base run + small L1
      // run (the steady-state shape after tiered folding) — measures the
      // marginal cost of the second binary search per probe
      val baseDir = s"$dir/base"; val l1Dir = s"$dir/l1"
      KeyLog.write(
        spark.range(1000000).where(pmod($"id", lit(8)) =!= 0).select(
          pmod(xxhash64($"id"), lit(buckets)).cast("int").as("hostBucket"),
          xxhash64($"id", lit(1)).as("urlHash"),
          lit(0).as("aux")),
        baseDir, buckets)
      KeyLog.write(
        spark.range(1000000).where(pmod($"id", lit(8)) === 0).select(
          pmod(xxhash64($"id"), lit(buckets)).cast("int").as("hostBucket"),
          xxhash64($"id", lit(1)).as("urlHash"),
          lit(0).as("aux")),
        l1Dir, buckets)

      val cfg = ProbeExpr.MemberCfg(IndexedSeq(keyDir), IndexedSeq.empty)
      val cfg2 = ProbeExpr.MemberCfg(IndexedSeq(baseDir, l1Dir), IndexedSeq.empty)
      val udfProbe = udf { (b: Int, h: Long) =>
        IndexedSeq(keyDir).exists { d =>
          KeyLogCache.get(d, b) match {
            case Some((hs, aux)) => KeyLog.existsMatch(hs, aux, h)(_ => true)
            case None => false
          }
        }
      }
      def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit =
        for (pass <- 1 to 3) {
          val t0 = System.nanoTime()
          val n = mk.count()
          println(f"[probe-bench] $name pass$pass: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n hits)")
        }
      time("native-expr")(rows.where(ProbeExpr.memberLive(cfg)($"b", $"h")))
      time("native-expr-2runs")(rows.where(ProbeExpr.memberLive(cfg2)($"b", $"h")))
      time("scala-udf")(rows.where(udfProbe($"b", $"h")))
      Fs.delete(dir)
    } finally spark.stop()
  }
}
