package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.{Canon, CorpusSpec, CrawlConfig, RefOracle, Seed}
import graft.engine.{CrawlEngine, Fetcher, NioLocalFs, Snapshot}
import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload against graft's public API and writes the raw
  * measurements (every timed call with its task metrics, check outcomes,
  * counts) to `<work>/raw.json`; `run.py` turns them into metrics.
  *
  * Usage: Driver <workload> <seed> <seconds> <trace 0|1> <work dir> <cores> <smoke 0|1> <tables dir>
  */
object Driver {

  /** Seven of the 32 graft.Bench headline queries, with the operator
    * module of each: two connected-components queries (text and image), the
    * exact and LSH embedding top-k, and two relational and one media query.
    * On the 0.01-scale tables a cold and a warm pass over 15 of the 32 took
    * 45 + 27 s on 4 cores, more than a run may take; embed_neardup_clusters
    * alone adds about 20 s, most of it in its DuckDB oracle, and
    * video_frames about 5 s.
    */
  val Queries: Vector[(String, String)] =
    Vector("q1_agg" -> "relational", "q_broadcast_join" -> "relational",
      "neardup_clusters" -> "text", "embed_knn" -> "vector",
      "embed_ann_lsh" -> "vector", "img_phash_clusters" -> "image",
      "audio_features" -> "media")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, smoke: Boolean, tables: String)

  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, trace, work, cores, smoke, tables) = argv
    val a = Args(w, seed.toLong, secs.toDouble, trace == "1", work, cores.toInt,
      smoke == "1", tables)
    require(Set("crawl_deep", "query_block")(a.workload),
      s"unknown workload ${a.workload}")
    new Driver(a).run()
  }

  /** Whole-box (busy, steal, total) ticks from /proc/stat; zeros elsewhere. */
  def cpuTicks(): (Long, Long, Long) =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      (f.sum - idle, if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L, 0L) }

  /** Peak resident set of this JVM in kB (VmHWM), 0 where unavailable. */
  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }
}

final class Driver(a: Driver.Args) {
  import Driver._

  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
  private var checkNs = 0L

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", NioLocalFs.ImplClass)
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val deepSpec = CorpusSpec(seed = a.seed, numHosts = if (a.smoke) 6 else 30,
    pagesPerHost = 100, quotaBoost = 2, rateLimitEvery = 4)
  // one seed per host: rounds grow from 30 URLs, and their sizes vary
  // less from one corpus seed to the next than from a handful of seeds
  private val deepSeeds: Seq[Seed] = deepSpec.defaultSeeds(deepSpec.numHosts)
  private val deepCfg = CrawlConfig(maxResults = Long.MaxValue, maxRounds = 1,
    numBuckets = 4, compactEvery = 2)
  /** The last set-up's crawl root and its round-0 result. */
  private var round0: (String, CrawlEngine.CrawlResult) = _

  /** Set-up, several times: a fresh session, then the workload's first call
    * into graft. For crawl_deep that is round 0, `CrawlEngine.run`, each
    * time into a root of its own; the crawl goes on from the last one. For
    * query_block it is the `q1_agg` query. The first set-up is timed from
    * JVM start, so it also pays class loading and the first compilation of
    * the program's code paths.
    */
  private def setUp(): SparkSession = {
    val runTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val times = (0 until (if (a.smoke) 1 else 3)).map { i =>
      val t0 =
        if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      if (i > 0) SparkSession.active.stop()
      val spark = session()
      if (a.workload == "crawl_deep") {
        val root = s"${a.work}/deep-$i"
        val c0 = System.nanoTime()
        round0 = root -> CrawlEngine.run(spark, deepSpec, deepSeeds, deepCfg, root)
        runTimes += (System.nanoTime() - c0) / 1e9
      } else SparkEntry.queries("q1_agg")(spark, a.tables).collect(): Unit
      (System.currentTimeMillis() - t0) / 1e3
    }
    out("setup_s") = times
    out("engine_run_s") = runTimes
    SparkSession.active
  }

  /** Untimed work beside the calls (checks, key sampling); its task metrics
    * stay out of the calls' attribution.
    */
  private def aside[T](rec: Recorder)(f: => T): T = {
    val t0 = System.nanoTime()
    try rec.call("aside", "aside")(f).getOrElse(sys.error("aside call failed"))
    finally checkNs += System.nanoTime() - t0
  }

  private def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok && checks.getOrElse(name, true)
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }

  def run(): Unit = {
    new File(a.work).mkdirs()
    val spark = setUp()
    out("setup_first_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Recorder(spark.sparkContext, a.trace)
    val box0 = cpuTicks()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (a.workload == "crawl_deep") crawlDeep(spark, rec, () => elapsed)
    else queryBlock(spark, rec)
    val box1 = cpuTicks()
    rec.drain()
    val dt = (box1._3 - box0._3).toDouble
    out("box_busy_pct") = if (dt > 0) 100.0 * (box1._1 - box0._1) / dt else 0.0
    out("box_steal_pct") = if (dt > 0) 100.0 * (box1._2 - box0._2) / dt else 0.0
    val (asides, calls) = rec.ops.partition(_.kind == "aside")
    out("listener_cpu_s") = (rec.total.cpuNs - asides.map(_.acc.cpuNs).sum) / 1e9
    out("attempted") = rec.attempted - asides.size
    out("failed") = rec.failed
    out("check_s") = checkNs / 1e9
    out("checks") = checks.toMap
    out("trace_self_s") = rec.traceSelfNs / 1e9
    out("cores") = a.cores
    out("ops") = calls.map { o =>
      Map("name" -> o.name, "kind" -> o.kind, "module" -> o.module, "ok" -> o.ok,
        "wall_s" -> o.wallS, "cpu_s" -> o.acc.cpuNs / 1e9, "jobs" -> o.acc.jobs,
        "tasks" -> o.acc.tasks, "task_s" -> o.acc.runMs / 1e3,
        "busy_s" -> o.acc.busyMs(o.startMs, o.endMs) / 1e3,
        "shuffle_read" -> o.acc.shuffleRead, "shuffle_write" -> o.acc.shuffleWrite,
        "spill" -> o.acc.spill, "input" -> o.acc.input, "output" -> o.acc.output,
        "urls" -> o.urls)
    }
    if (a.trace) {
      val path = s"${a.work}/spans.jsonl"
      rec.writeSpans(path, s"${a.workload}-${a.seed}")
      out("spans") = rec.spans.size + 1
      out("spans_file") = path
    }
    out("peak_rss_kb") = peakRssKb()
    Files.writeString(Paths.get(s"${a.work}/raw.json"), Json.value(out.toMap))
    spark.stop()
  }

  /** `Fetcher.fetchOne` over the spec's URLs on one thread outside Spark,
    * for about two seconds: microseconds per URL, the codec ceiling a crawl
    * round is compared to.
    */
  private def rawFetchUs(spec: CorpusSpec, round: Int): Double = {
    val urls = for (p <- 0 until spec.pagesPerHost; h <- 0 until spec.numHosts)
      yield Canon.canonicalize(spec.pageUrl(h, p))
    val t0 = System.nanoTime()
    var n = 0
    while (n < urls.size && (n < 50 || System.nanoTime() - t0 < 2e9)) {
      val c = urls(n)
      Fetcher.fetchOne(spec, CrawlEngine.FetchTask(c, Canon.xxhash64(c),
        Canon.hostOf(c), 0, 0, 1.0, "raw", Seq.empty, 0, 100), round): Unit
      n += 1
    }
    (System.nanoTime() - t0) / 1e3 / n
  }

  private def recordRoot(root: String, res: CrawlEngine.CrawlResult,
      spec: CorpusSpec, round: Int): Unit = {
    val m = res.manifest
    out("crawl_root") = root
    out("counts") = Map("scheduled" -> m.totalScheduled, "fetched_ok" -> m.fetchedCount,
      "rounds" -> res.rounds, "frontier_rows" -> m.frontierCount,
      "seen_rows" -> m.seenCount)
    if (a.trace) {
      val lat = (0 until 5).map { _ =>
        val t0 = System.nanoTime(); Snapshot.latest(root); (System.nanoTime() - t0) / 1e6
      }.sorted
      out("snapshot_latest_ms") = lat(2)
      out("fetch_raw_us_per_url") = rawFetchUs(spec, round)
    }
  }

  /** A multi-round crawl from one seed per host (failures, backoff, 429s),
    * one call per round: round 0 (the last set-up's), then a fixed number of
    * resume rounds, one per five seconds of the time box and at least
    * `compactEvery`, so that the frontier deltas reach the compaction
    * trigger. Then a closed loop of point lookups (one client) mixing crawled
    * keys and never-crawled misses, until the time box is spent.
    */
  private def crawlDeep(spark: SparkSession, rec: Recorder, elapsed: () => Double): Unit = {
    val (spec, seeds) = (deepSpec, deepSeeds)
    val (root, start) = round0
    var done = start
    var round = 1
    val rounds = if (a.smoke) 1 else math.max(deepCfg.compactEvery, (a.seconds / 5).toInt)
    while (round <= rounds && !done.manifest.done) {
      val prev = done.totalScheduled
      rec.call("engine.resume", "round") {
        CrawlEngine.resume(spark, spec, deepCfg.copy(maxRounds = round + 1), root)
      }.foreach { x => rec.setUrls(x.totalScheduled - prev); done = x }
      round += 1
    }
    val oracle = {
      val t0 = System.nanoTime()
      val o = RefOracle.crawl(spec, seeds, deepCfg.copy(maxRounds = done.rounds))
      checkNs += System.nanoTime() - t0
      o
    }
    val order = aside(rec)(done.schedule(spark).select("round", "canonUrl").collect()
      .map(r => (r.getInt(0), r.getString(1))).toVector)
    check("deep.schedule_order", order == oracle.order)
    val seen = aside(rec)(done.seen(spark).select("urlHash").collect().map(_.getLong(0)).toSet)
    check("deep.seen_set", seen == oracle.seen)

    val fetchedOk = oracle.fetched.map(_.image_id).toSet
    val keys = order.map(_._2).distinct
    val rng = new scala.util.Random(a.seed)
    var n = 0
    while (n < 4 || elapsed() < a.seconds) {
      val batch = Vector.fill(16)(keys(rng.nextInt(keys.size))) ++
        Vector.fill(4)(spec.pageUrl(rng.nextInt(spec.numHosts),
          spec.pagesPerHost + rng.nextInt(1000)))
      rec.call("lookup", "lookup") {
        val (hits, missing) = done.lookup(spark, batch)
        (hits.select("image_id").collect().map(_.getString(0)).toSet, missing)
      }.foreach { case (found, missing) =>
        val canon = batch.map(Canon.canonicalize).toSet
        check("deep.lookup", found == canon.intersect(fetchedOk) &&
          missing.toSet == canon -- found)
      }
      n += 1
    }
    recordRoot(root, done, spec, done.rounds)
  }

  /** The headline queries in a seed-permuted order: one cold pass, then a
    * fixed number of warm passes, one per ten seconds of the time box. The
    * last pass's results are written for the DuckDB oracle check.
    */
  private def queryBlock(spark: SparkSession, rec: Recorder): Unit = {
    val list = if (a.smoke) Queries.filter(q => Set("q1_agg", "embed_knn",
      "audio_features")(q._1)) else Queries
    val order = new scala.util.Random(a.seed).shuffle(list)
    val results = s"${a.work}/results"
    val warmPasses = math.max(1, (a.seconds / 10).toInt)
    val lastPass = scala.collection.mutable.ArrayBuffer
      .empty[(String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]))]
    for (pass <- 0 to warmPasses; (q, module) <- order) {
      rec.call(s"query.$q", if (pass == 0) "cold" else s"warm.$pass", module) {
        val df = rec.span("plan")(SparkEntry.queries(q)(spark, a.tables))
        (df.schema, rec.span("collect")(df.collect()))
      }.filter(_ => pass == warmPasses).foreach(lastPass += q -> _)
    }
    // one job per result, submitted from `cores` threads at once
    aside(rec) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
      try lastPass.map { case (q, (schema, rows)) =>
        pool.submit[Unit](() => spark.createDataFrame(rows.toList.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$results/$q"))
      }.foreach(_.get())
      finally pool.shutdown()
    }
    out("results_dir") = results
    out("oracle_sql") = order.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    out("tables_dir") = a.tables
  }
}
