package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core._
import graft.engine.{CrawlEngine, Fs, KeyLog, LruCache, NioLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the executor-local sidecar machinery (probe caches,
  * filtered key-run state) that the crawl hot path leans on.
  */
class EngineSidecarSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    Session.builder(4).appName("engine-sidecar-spec").getOrCreate()

  test("bloom rebuild at major compaction un-learns TTL-dead keys (judge r3 #3)") {
    // long TTL-churn crawl: stamps die every ttl rounds and many re-stamp.
    // Each seen key run carries a filter over its own keys, and the
    // 16-delta major compaction writes the compacted runs from LIVE stamps
    // only, so keys whose stamps were already dead at compaction must pass
    // the compacted runs' filters at ~fpp — while every live stamp still
    // passes (a false negative would drop URLs: correctness, not just
    // cost).
    val spec = CorpusSpec(numHosts = 4, pagesPerHost = 30, failures = false)
    val cfg = CrawlConfig(maxResults = Long.MaxValue, maxRounds = 20,
      numBuckets = 8, ttlRounds = 3)
    val seeds = spec.defaultSeeds(2)
    val oracle = RefOracle.crawl(spec, seeds, cfg)
    val out = java.nio.file.Files.createTempDirectory("bloom-churn").toString
    val res = CrawlEngine.run(spark, spec, seeds, cfg, out)
    assert(res.schedule(spark).select("round", "canonUrl").collect()
      .map(r => (r.getInt(0), r.getString(1))).toVector == oracle.order)

    val compactDir = res.manifest.seenDirs.head
    assert(compactDir.contains("compact-r"), s"no compaction ran: $compactDir")
    val compactR = compactDir.split("compact-r").last.toInt
    val rFinal = res.manifest.round

    // per-key newest stamp from the queryable seen log (keeps every key)
    import org.apache.spark.sql.functions._
    val stamps = res.seen(spark)
      .groupBy("urlHash", "hostBucket").agg(max("seenRound").as("sr"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val deadAtCompact = stamps.filter(_._3 <= compactR - cfg.ttlRounds)
    val liveNow = stamps.filter(_._3 > rFinal - cfg.ttlRounds)
    assert(deadAtCompact.length >= 20,
      s"churn produced only ${deadAtCompact.length} dead-at-compaction keys — vacuous")
    assert(liveNow.nonEmpty)

    // a key passes when some committed seen run's filter passes it: the
    // compacted base (or a base merged from it since), or an L1 run
    val seenKeyDirs = res.manifest.seenKeyDirs
    def bloomPass(bucket: Int, h: Long): Boolean =
      seenKeyDirs.exists(KeyLog.readRun(_, bucket).filter.mightContainLong(h))
    liveNow.foreach { case (h, b, _) =>
      assert(bloomPass(b, h), s"LIVE key $h absent from the seen runs' filters")
    }
    val deadPass = deadAtCompact.count { case (h, b, _) => bloomPass(b, h) }
    val rate = deadPass.toDouble / deadAtCompact.length
    info(f"dead-key filter pass-rate after compaction: $rate%.3f " +
      f"(${deadAtCompact.length} dead keys, fpp=${KeyLog.Fpp})")
    assert(rate <= 0.25,
      f"compacted runs' filters still pass $rate%.2f of TTL-dead keys (want ~fpp)")
    assert(!Fs.exists(s"$out/bloom"), "a crawl root holds a bloom/ dir")

    // no orphan key-run dirs: every surviving seen_keys/frontier_keys dir
    // must be referenced by a retained manifest — a compacting round must
    // not leave its per-round fold (or any ephemeral delta) behind, or one
    // full O(total-keys) sidecar copy leaks per compaction at design scale
    import graft.engine.Snapshot
    val retainedIds = Fs.list(s"$out/meta")
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted.takeRight(3)
    val referenced = retainedIds.flatMap { id =>
      val mm = Snapshot.read(out, id)
      mm.seenKeyDirs ++ mm.frontierKeyDirs ++ mm.frontierRemDirs
    }.toSet
    for (sub <- Seq("seen_keys", "frontier_keys", "frontier_rem");
        name <- Fs.list(s"$out/$sub"))
      assert(referenced.contains(s"$out/$sub/$name"),
        s"orphan key-run dir not referenced by any retained manifest: $sub/$name")
  }

  test("LruCache: hot entries survive overflow, size stays bounded") {
    val cache = new LruCache[Int, Int](100)
    (0 until 100).foreach(k => cache.get(k)(identity))
    // keep 0..9 hot while inserting 200 colder keys
    (100 until 300).foreach { k =>
      (0 until 10).foreach(h => cache.get(h)(identity))
      cache.get(k)(identity)
    }
    assert(cache.size <= 100, s"cache grew past capacity: ${cache.size}")
    (0 until 10).foreach { h =>
      assert(cache.peek(h).contains(h), s"hot key $h was evicted")
    }
    // the freshest cold keys should also still be resident
    assert(cache.peek(299).contains(299))
  }

  test("LruCache: concurrent misses on one key load once; eviction under " +
    "concurrency never deadlocks or unbounds the map") {
    val loads = new AtomicInteger(0)
    val cache = new LruCache[Int, Int](64)
    val pool = Executors.newFixedThreadPool(16)
    val start = new CountDownLatch(1)
    // phase 1: 16 threads race one cold key — computeIfAbsent must load once
    val racers = (0 until 16).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          cache.get(7) { k => loads.incrementAndGet(); k * 2 }: Unit
        }
      })
    }
    start.countDown()
    racers.foreach(_.get(30, TimeUnit.SECONDS))
    assert(loads.get() == 1, s"racing threads loaded ${loads.get()} times")
    assert(cache.peek(7).contains(14))
    // phase 2: hammer 16 threads over a 10x-capacity key space
    val jobs = (0 until 16).map { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          (0 until 2000).foreach(i => cache.get((t * 31 + i) % 640)(identity): Unit)
      })
    }
    jobs.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(cache.size <= 64, s"cache unbounded under concurrency: ${cache.size}")
  }

  test("file:// binds to the pinned no-fork raw FS and permission ops use " +
    "java.nio (no chmod fork per create)") {
    import java.nio.file.attribute.PosixFilePermission._
    val dir = java.nio.file.Files.createTempDirectory("niofs").toString
    val p = s"$dir/x.bin"
    Fs.writeAtomic(p, Array[Byte](1, 2, 3))
    assert(Fs.readAllBytes(p).toSeq == Seq[Byte](1, 2, 3))
    // Fs holds its own file:// instance — the global FileSystem cache keys
    // on (scheme, authority, ugi) and ignores fs.file.impl, so relying on
    // FileSystem.get would hand this object a stock forking LocalFileSystem
    // whenever another code path resolved file:// first (the r4
    // kernel-storm regression, reintroduced by cache race)
    val fs = Fs.fs(p)
    assert(fs.isInstanceOf[graft.engine.NioRawLocalFileSystem],
      s"file:// resolved to ${fs.getClass.getName}")
    fs.setPermission(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.permission.FsPermission("600"))
    val perms = java.nio.file.Files.getPosixFilePermissions(
      java.nio.file.Paths.get(p))
    assert(perms == java.util.EnumSet.of(OWNER_READ, OWNER_WRITE),
      s"expected rw------- via java.nio, got $perms")
    // Spark's data plane still binds the checksummed no-fork class through
    // spark.hadoop.fs.file.impl (set by Session.builder)
    assert(spark.sparkContext.hadoopConfiguration
      .get(graft.engine.NioLocalFs.ImplKey) == graft.engine.NioLocalFs.ImplClass)
    Fs.delete(dir)
  }

  test("writeAtomic on file://: atomic replace, no .crc shadows, no tmp garbage") {
    val dir = java.nio.file.Files.createTempDirectory("watomic").toString
    val p = s"$dir/state.bin"
    Fs.writeAtomic(p, Array[Byte](1, 1, 1))
    // replacement (crash-retry republish) goes through nio ATOMIC_MOVE:
    // POSIX rename(2) swaps the target in place — no missing-target window
    Fs.writeAtomic(p, Array[Byte](2, 2, 2, 2))
    assert(Fs.readAllBytes(p).toSeq == Seq[Byte](2, 2, 2, 2))
    // engine state skips the checksum layer (sidecar files carry their own
    // magic) and failed/staged attempts never leave .tmp-* garbage behind
    assert(Fs.list(dir) == Vector("state.bin"), Fs.list(dir).toString)
    Fs.delete(dir)
  }
}
