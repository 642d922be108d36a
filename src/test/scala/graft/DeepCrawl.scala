package graft

import graft.core.{CorpusSpec, CrawlConfig, Seed}

/** perfbench's crawl_deep corpus: 30 hosts × 100 pages from one seed per
  * host, with fetch failures, backoff and 429 rate limiting, 4 buckets and
  * `compactEvery` 2, one round per `CrawlEngine.run`/`resume` call. A
  * steady resume round schedules about 90 URLs.
  */
object DeepCrawl {
  val spec: CorpusSpec = CorpusSpec(seed = 1, numHosts = 30, pagesPerHost = 100,
    quotaBoost = 2, rateLimitEvery = 4)
  val seeds: Seq[Seed] = spec.defaultSeeds(spec.numHosts)
  /** Round 0 only; resume round `r` with `maxRounds = r + 1`. */
  val cfg: CrawlConfig = CrawlConfig(maxResults = Long.MaxValue, maxRounds = 1,
    numBuckets = 4, compactEvery = 2)
}
