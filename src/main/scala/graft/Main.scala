package graft

import graft.core._
import graft.engine.CrawlEngine

/** CLI crawl driver — the spark-submit entry point. Mirrors the reference
  * demo CLI (argparse flags in /root/reference/medcrawler/demo.py:155-176):
  * seeds in, budget, rounds; fetched images + metrics + lineage out.
  *
  * Usage:
  *   runMain graft.Main --out /tmp/crawl [--hosts 20] [--pages 500]
  *     [--seeds 4] [--max 1000] [--rounds 64] [--skew] [--resume]
  *     [--cores 8] [--show] [--recent DAYS] [--ttl ROUNDS] [--ratelimit K]
  *     [--pace] [--get URL[,URL...]]
  *
  * `--recent DAYS` keeps only seeds published within the last DAYS days
  * (relative date arithmetic evaluated IN Spark via date_sub against the
  * corpus epoch 1998-01-01 — the reference's now−90d `--recent` analog,
  * medcrawler/demo.py:183-192).
  *
  * `--pace` enforces per-host minIntervalMs in wall-clock time inside the
  * fetch stage (ref rate limiter, medcrawler/base.py:266-280).
  *
  * `--get` runs AFTER the crawl (or against a `--resume`d snapshot): serves
  * the listed URLs read-through from the snapshot without a fetch — the
  * reference demo's cached `get_item` phase (medcrawler/demo.py:126-144).
  */
object Main {
  private val usage =
    """usage: graft.Main --out DIR [options]
      |  --out DIR        output/snapshot directory (default: temp dir)
      |  --hosts N        synthetic corpus hosts (default 20)
      |  --pages N        pages per host (default 500)
      |  --seeds N        number of seed URLs (default 4)
      |  --max N          global fetch budget (default 1000)
      |  --rounds N       max scheduling rounds (default 64)
      |  --cores N        local[N] parallelism (default 8 / SPARK_GRAFT_CPUS)
      |  --recent DAYS    keep only seeds published in the last DAYS days
      |  --ttl ROUNDS     re-fetch a seen URL after ROUNDS rounds (0 = never)
      |  --ratelimit K    corpus rate-limits every K-th round per host
      |  --skew           make host 0 a mega-host (skew stress)
      |  --pace           enforce per-host min-interval in wall-clock time
      |  --resume         resume the crawl from the snapshot in --out
      |  --show           print schedule/fetched/metrics tables after the run
      |  --get URL[,URL]  point-lookup URLs from the snapshot (no fetch)""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.contains("--help") || args.contains("-h")) { println(usage); return }
    val opts = parse(args.toList, Map.empty)
    val out = opts.getOrElse("out",
      java.nio.file.Files.createTempDirectory("graft-crawl").toString)
    val cores =
      opts.getOrElse("cores", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).toInt

    val spark = Session.builder(cores)
      .appName("graft-crawl")
      .config(Session.CrawlLanding)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val spec = CorpusSpec(
      numHosts = opts.getOrElse("hosts", "20").toInt,
      pagesPerHost = opts.getOrElse("pages", "500").toInt,
      skewHost0 = opts.contains("skew"),
      rateLimitEvery = opts.getOrElse("ratelimit", "0").toInt)
    val cfg = CrawlConfig(
      maxResults = opts.getOrElse("max", "1000").toLong,
      maxRounds = opts.getOrElse("rounds", "64").toInt,
      ttlRounds = opts.getOrElse("ttl", "0").toInt,
      paceWallClock = opts.contains("pace"))
    val allSeeds = spec.defaultSeeds(opts.getOrElse("seeds", "4").toInt)
    val seeds = opts.get("recent") match {
      case None => allSeeds
      case Some(recentDays) =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val pubUdf = udf((u: String) =>
          SynthCorpus.pubDate(spec, Canon.canonicalize(u)))
        val kept = spark.createDataset(allSeeds)
          .withColumn("pub", pubUdf($"url"))
          .where($"pub" >= date_sub(to_date(lit("1998-01-01")), recentDays.toInt))
          .select($"seedId", $"url", $"priority")
          .as[Seed].collect().toSeq
        println(s"--recent $recentDays: kept ${kept.size}/${allSeeds.size} seeds")
        kept
    }

    val t0 = System.nanoTime()
    val res =
      if (opts.contains("resume")) CrawlEngine.resume(spark, spec, cfg, out)
      else CrawlEngine.run(spark, spec, seeds, cfg, out)
    val secs = (System.nanoTime() - t0) / 1e9

    println(f"crawl done: out=$out rounds=${res.rounds} " +
      f"scheduled=${res.totalScheduled} fetched=${res.manifest.fetchedCount} " +
      f"seen=${res.manifest.seenCount} frontierLeft=${res.manifest.frontierCount} " +
      f"secs=$secs%.2f urlsPerSec=${res.totalScheduled / secs}%.1f")

    opts.get("get").foreach { urls =>
      val t1 = System.nanoTime()
      val (hits, misses) = res.lookup(spark, urls.split(',').toSeq)
      println("-- lookup hits (served from snapshot, no fetch) --")
      hits.select("image_id", "fmt", "w", "h", "phash", "round")
        .show(20, truncate = false)
      println(f"lookup: ${(System.nanoTime() - t1) / 1e9}%.3fs; " +
        s"misses=${misses.mkString(",")}")
    }

    if (opts.contains("show")) {
      println("-- schedule (crawl order) --")
      res.schedule(spark).show(10, truncate = false)
      println("-- fetched --")
      res.fetched(spark)
        .select("image_id", "fmt", "w", "h", "phash", "seed_id", "depth")
        .show(10, truncate = false)
      println("-- metrics --")
      res.metrics(spark).orderBy("round", "host").show(20)
    }
    spark.stop()
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case ("--skew" | "--resume" | "--show" | "--pace") :: rest =>
        parse(rest, acc + (args.head.stripPrefix("--") -> "true"))
      case k :: v :: rest if k.startsWith("--") =>
        parse(rest, acc + (k.stripPrefix("--") -> v))
      case other :: _ =>
        sys.error(s"unrecognized argument: $other (flags: --out --hosts " +
          "--pages --seeds --max --rounds --cores --recent --ttl " +
          "--ratelimit --skew --resume --show --pace --get)")
    }
}
