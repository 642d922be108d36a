package graft.engine

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.util.LongAccumulator
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

/** A [[KeyLog]] run's filter: sized to the run, never a false negative,
  * and never more than a shortcut in front of the exact binary search.
  */
class KeyLogSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    graft.Session.builder(4).appName("keylog-spec").getOrCreate()

  private val NumBuckets = 4

  private def tmpDir(): String = Files.createTempDirectory("keylog-spec").toString

  /** `n` random (bucket, hash, aux) triples; hashes repeat with other auxes. */
  private def triples(n: Int, seed: Long): Seq[(Int, Long, Int)] = {
    val rnd = new Random(seed)
    val hs = Array.fill(n)(rnd.nextLong())
    (0 until n).map { i =>
      val h = if (i % 10 == 9) hs(i - 1) else hs(i)
      (java.lang.Math.floorMod(h, NumBuckets.toLong).toInt, h, rnd.nextInt(50))
    }
  }

  private def assertAllFound(dir: String, ts: Seq[(Int, Long, Int)]): Unit = {
    val runs = (0 until NumBuckets).map(KeyLog.readRun(dir, _))
    ts.foreach { case (b, h, a) =>
      assert(runs(b).filter.mightContainLong(h), s"filter of $dir/b$b misses $h")
      assert(runs(b).contains(h)(_ == a), s"$dir/b$b misses ($h, $a)")
    }
  }

  test("runs written by KeyLog.write, KeyLog.fold and RoundSidecars have no " +
    "false negatives") {
    import spark.implicits._
    val first = triples(3000, 1)
    val second = triples(2000, 2)
    val (written, delta, folded) = (tmpDir(), tmpDir(), tmpDir())
    def write(ts: Seq[(Int, Long, Int)], dir: String): Long =
      KeyLog.write(ts.toDF("hostBucket", "urlHash", "aux"), dir, NumBuckets)
    assert(write(first, written) == first.size)
    write(second, delta)
    assertAllFound(written, first)
    KeyLog.fold(spark, Some(written), Seq(delta), Nil, folded, NumBuckets,
      keepMaxAuxPerHash = false)
    assertAllFound(folded, first ++ second)

    // a round's seen stamps and tombstones, one pass
    val (seenDir, tombDir) = (tmpDir(), tmpDir())
    val tombs = new LongAccumulator
    val stamps = first.map { case (b, h, _) => b -> h }.distinct
      .map { case (b, h) => (b, h, 7) }
    val rows = stamps.map { case (b, h, r) => Row(h, b, r, null) } ++
      second.map { case (b, h, a) => Row(h, b, null, a) }
    assert(RoundSidecars(seenDir, Int.MinValue, tombDir, tombs)
      .merge(rows.iterator).size == stamps.size)
    assert(tombs.value == second.size)
    assertAllFound(seenDir, stamps)
    assertAllFound(tombDir, second)
  }

  test("a run's filter keeps its false-positive rate at 10^3, 10^4 and 10^5 keys") {
    val rnd = new Random(3)
    val absent = Array.fill(100000)(rnd.nextLong())
    for (n <- Seq(1000, 10000, 100000)) {
      val hs = Array.fill(n)(rnd.nextLong()).sorted
      val run = KeyLog.deserialize(KeyLog.serialize(hs, Array.fill(n)(0)))
      assert(run.hashes.sameElements(hs))
      val passed = absent.count(run.filter.mightContainLong)
      val rate = passed.toDouble / absent.length
      info(f"$n keys: $rate%.4f of ${absent.length} absent keys pass the filter")
      assert(rate <= 0.06, f"$n keys: false-positive rate $rate%.4f")
      assert(!absent.exists(run.contains(_)(_ => true)), "an absent key was found")
    }
  }

  test("a run whose filter is saturated answers exactly like a binary search") {
    val ts = triples(10000, 4).map { case (_, h, a) => (h, a) }.sorted
    val (hs, as) = (ts.map(_._1).toArray, ts.map(_._2).toArray)
    val saturated = BloomFilter.create(1, 0.03)
    hs.foreach(saturated.putLong)
    val run = KeyLog.Run(hs, as, saturated)
    val rnd = new Random(5)
    val absent = Array.fill(10000)(rnd.nextLong())
    assert(absent.count(saturated.mightContainLong) >= 9900, "the filter is not saturated")
    val lives: Seq[Int => Boolean] = Seq(_ => true, _ >= 25, _ == 3, _ => false)
    for (h <- hs ++ absent; live <- lives)
      assert(run.contains(h)(live) == KeyLog.existsMatch(hs, as, h)(live), s"hash $h")
  }
}
