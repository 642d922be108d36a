package graft.engine

import graft.{Bench, Session}
import org.scalatest.funsuite.AnyFunSuite

/** The row-sized fan-out rule of a crawl round ([[Fanout]]). */
class FanoutSpec extends AnyFunSuite {

  private def isPow2(n: Int): Boolean = n > 0 && (n & (n - 1)) == 0

  test("tiny inputs run in one task; counts grow monotonically in powers of two") {
    for (cap <- Seq(1, 2, 4, 8, 16, 32, 64, 6, 12))
      assert(Seq(0L, 1L, 90L, 1024L).map(Fanout.partitions(_, cap)).forall(_ == 1), cap)
    assert(Fanout.partitions(1025, 64) == 2 && Fanout.partitions(4097, 64) == 8)
    val rows = (0L to 200000L by 97L) ++ Seq(1L << 20, 1L << 32, 10000000000L, Long.MaxValue)
    for (cap <- Seq(1, 4, 8, 32, 64, 6, 24)) {
      val n = rows.map(Fanout.partitions(_, cap))
      assert(n.zip(n.tail).forall { case (a, b) => a <= b }, s"not monotone at cap $cap")
      assert(n.forall(p => p >= 1 && p <= cap), s"outside [1, $cap]")
      assert(n.forall(p => p == cap || isPow2(p)), s"a count below cap $cap is no power of two")
    }
  }

  test("graft.Bench's crawl round and a 10^10-frontier round keep the full fan-out") {
    // the bench round is round 0 over every page: its fetch is sized by the
    // frontier, its attempts scans by the scheduled rows (the per-host
    // quotas; every host has more pages than its quota)
    val spec = Bench.benchSpec(Bench.DefaultScale)
    val frontier = spec.numHosts.toLong * spec.pagesPerHost
    val scheduled = spec.hostPolicies.map(p => math.min(p.quotaPerRound, spec.pagesPerHost).toLong).sum
    assert(frontier == 120000L && scheduled > 40000L, (frontier, scheduled))
    for (cores <- Bench.Levels; rows <- Seq(frontier, 10000000000L)) {
      assert(Fanout.partitions(rows, 2 * cores) == 2 * cores, (cores, rows))
      assert(Fanout.partitions(rows, cores) == cores, (cores, rows))
    }
    for (cores <- Bench.Levels)
      assert(Fanout.partitions(scheduled, cores) == cores, (cores, scheduled))
  }

  test("the fetch cap is twice the cores, whatever the session's shuffle partitions") {
    val spark = Session.builder(4).appName("fanout-spec").getOrCreate().newSession()
    // Spark's default shuffle partition count, as a caller's session may have it
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    val cores = spark.sparkContext.defaultParallelism
    assert(Fanout.fetch(spark, 90) == 1)
    assert(Fanout.fetch(spark, 10000000000L) == 2 * cores)
    val df = spark.range(0, 100, 1, 4).toDF()
    assert(Fanout.narrow(df, 100).rdd.getNumPartitions == 1)
    assert(Fanout.narrow(df, 10000000000L) eq df)
  }
}
