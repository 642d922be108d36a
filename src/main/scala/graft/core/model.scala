package graft.core

/** Core data model of the crawl engine.
  *
  * Reference analogs (HadleyLab/MedCrawler, /root/reference):
  *  - the frontier stream of item IDs: `search()` async generator,
  *    medcrawler/base.py:343-353
  *  - the seen set: `old_item_ids: Set[str]`, medcrawler/base.py:348
  *  - fetched records: `extract_metadata` dicts, medcrawler/pubmed.py:245-259
  *  - politeness/retry budgets: `CrawlerConfig`, medcrawler/config.py:34-45
  *
  * All tables are typed Datasets of these case classes (product encoders,
  * no Kryo), so every scheduling round stays inside Catalyst.
  */

/** One pending URL in the crawl frontier.
  *
  * @param url            raw URL as discovered
  * @param canonUrl       RFC-3986 canonical form (see [[Canon]])
  * @param urlHash        xxhash64(canonUrl), the identity key of the URL
  * @param host           lowercased host component
  * @param hostBucket     pmod(xxhash64(host), numBuckets) — partition key for
  *                       the seen shards / frontier state
  * @param depth          hops from the seed
  * @param priority       OPIC-style cash score (depth-penalized, see
  *                       [[graft.engine.Scheduler]])
  * @param seedId         originating seed
  * @param path           seed→URL lineage (page URLs, in order)
  * @param attempt        retry attempt counter (0 = first try);
  *                       ref max_retries=5, medcrawler/config.py:38
  * @param notBeforeRound backoff deferral: do not schedule before this round;
  *                       ref tenacity wait_chain, medcrawler/base.py:136-154
  */
case class FrontierEntry(
    url: String,
    canonUrl: String,
    urlHash: Long,
    host: String,
    hostBucket: Int,
    depth: Int,
    priority: Double,
    seedId: String,
    path: Seq[String],
    attempt: Int,
    notBeforeRound: Int)

/** One row of the URL-seen table (bucketed by hostBucket).
  *
  * @param seenRound round that marked the URL seen — drives TTL refetch
  *                  (ref: cache entries expire after ttl and are refetched,
  *                  medcrawler/base.py:52-93,161-216)
  */
case class SeenEntry(urlHash: Long, hostBucket: Int, seenRound: Int)

/** A fetched image+caption row — the `input_hint` schema from
  * /root/repo/BASELINE.json (column names in snake_case on disk).
  * `image_id` is the canonical URL.
  */
case class CrawledImage(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** Extended fetched row carried inside the engine: payload + crawl lineage +
  * discovery metadata needed to expand the frontier.
  *
  * @param failKind typed failure taxonomy (ref exceptions.py:36-66):
  *                 "" = ok; "transient" = retryable with backoff;
  *                 "permanent" = 404-analog, dropped immediately, no retry;
  *                 "ratelimited" = 429-analog, does NOT consume an attempt,
  *                 the whole host is deferred retryAfter rounds
  *                 (Retry-After analog, medcrawler/base.py:296-301)
  * @param retryAfter rounds to defer (rate-limited failures only, else 0)
  * @param fetchedAtMs fetch start time in MONOTONIC milliseconds (same
  *                 clock as `System.nanoTime`, arbitrary epoch — deltas are
  *                 exact, wall jumps impossible). 0 when wall-clock pacing
  *                 is off, keeping unpaced runs byte-deterministic
  */
case class FetchResult(
    url: String,
    canonUrl: String,
    urlHash: Long,
    host: String,
    hostBucket: Int,
    depth: Int,
    priority: Double,
    seedId: String,
    path: Seq[String],
    attempt: Int,
    round: Int,
    ok: Boolean,
    failKind: String,
    retryAfter: Int,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    outlinks: Seq[String],
    fetchedAtMs: Long = 0L)

/** Per-host politeness + robots dimension (broadcast-joined; tiny).
  * Ref: per-API budgets in CrawlerConfig, medcrawler/config.py:70-82.
  *
  * @param minIntervalMs politeness interval between requests to this host
  *                      (ref 340ms unkeyed PubMed / 100ms keyed + CT.gov)
  * @param quotaPerRound max URLs fetched from this host per scheduling round
  *                      = min(round length / minIntervalMs, batch cap);
  *                      ref caps 3/5, medcrawler/pubmed.py:299,
  *                      medcrawler/clinical_trials.py:242
  * @param robotsDisallow path prefixes denied by robots.txt
  */
case class HostPolicy(
    host: String,
    minIntervalMs: Int,
    quotaPerRound: Int,
    robotsDisallow: Seq[String])

/** Engine configuration. Mirrors CrawlerConfig defaults where an analog
  * exists (medcrawler/config.py:34-45).
  *
  * @param maxResults   global fetch budget (ref max_results,
  *                     medcrawler/base.py:343)
  * @param maxRounds    hard stop on scheduling rounds
  * @param maxRetries   drop a URL after this many failed attempts (ref 5)
  * @param gamma        OPIC depth damping factor for child priority
  * @param numBuckets   host-hash shard count for seen/frontier state and the
  *                     per-bucket Bloom files. Size so ONE bucket's filter
  *                     stays executor-loadable: at the 10^10-URL design
  *                     point and 3% fpp the total filter state is ~9 GB, so
  *                     production runs want 4096+ buckets (~2 MB each); the
  *                     default suits 10^8-scale runs, tests pin 8-16
  * @param bloomExpectedItems per-round expected items for the per-bucket
  *                     Bloom prefilter (0 = auto-size from the round);
  *                     deliberately undersizing it raises the false-positive
  *                     rate — correctness must NOT depend on it (the exact
  *                     anti-join is authoritative; tested adversarially)
  * @param bloomFpp     target false-positive probability for the Bloom
  * @param ttlRounds    TTL refetch horizon: a seen entry older than this
  *                     many rounds stops excluding its URL, so the URL can
  *                     be re-discovered and refetched (ref: TTL cache expiry
  *                     + refetch, medcrawler/base.py:52-93,161-216).
  *                     0 = seen-forever (fetch-once). The Bloom prefilter is
  *                     unaffected: expired entries become false positives
  *                     that the exact (liveness-filtered) anti-join clears.
  * @param paceWallClock when true, the fetch stage enforces each host's
  *                     minIntervalMs IN REAL TIME: consecutive fetch STARTS
  *                     against one host are spaced ≥ minIntervalMs apart
  *                     (ref: wall-clock rate limiter, medcrawler/
  *                     base.py:266-280, gated by tests/test_base.py:81-102).
  *                     Off by default — the per-round quota already models
  *                     the same budget (quota = round length / interval)
  *                     without sleeping, and results are identical either
  *                     way; enable it when the engine fronts a live server
  * @param compactEvery LSM major-compaction cadence: compact the seen
  *                     parquet log when it reaches this many delta dirs,
  *                     and the frontier add log at the same threshold. A
  *                     long-TTL deployment can raise it to trade listing
  *                     cost for compaction I/O (r4 verdict nit #7)
  * @param l1MergeDenom tiered key-run folding MERGE EAGERNESS: each round
  *                     folds its delta into a small L1 run; L1 merges into
  *                     the base run when L1 ≥ base/l1MergeDenom. A non-merge
  *                     round writes O(delta + L1) with L1 < base/denom; a
  *                     merge rewrites the O(state) base but fires only once
  *                     L1 has accumulated base/denom rows, so amortized
  *                     per-round writes are O(delta · denom). LARGER values
  *                     merge MORE often (denom → ∞ degenerates to the
  *                     full-state rewrite every round; 1 merges only when
  *                     L1 reaches base size). Probes touch ≤ 2 runs at any
  *                     setting — results are denom-invariant (gated
  *                     bit-identical across {1, 8, 10^6})
  * @param drainCompactMinDead floor on the majority-dead frontier
  *                     compaction trigger (dead add-log rows > live AND
  *                     ≥ this): a removal-only drain phase never grows the
  *                     add-DIR count, so without the dead trigger the
  *                     frontier scan re-reads the full dead add log every
  *                     round; the floor keeps tiny dead sets (whose scan
  *                     cost is trivial) from compacting every round.
  *                     1 = fire on any majority-dead log
  */
case class CrawlConfig(
    maxResults: Long = 1000L,
    maxRounds: Int = 64,
    maxRetries: Int = 5,
    gamma: Double = 0.85,
    numBuckets: Int = 64,
    bloomExpectedItems: Long = 0L,
    bloomFpp: Double = 0.03,
    ttlRounds: Int = 0,
    paceWallClock: Boolean = false,
    compactEvery: Int = 16,
    l1MergeDenom: Int = 8,
    drainCompactMinDead: Long = 4096L) {
  // fail at construction, not rounds later (ref error discipline:
  // medcrawler/config.py:55-68 __post_init__ raising on nonpositive
  // budgets/TTLs)
  require(maxResults > 0, s"maxResults must be positive, got $maxResults")
  require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
  require(maxRetries >= 1, s"maxRetries must be >= 1, got $maxRetries")
  require(gamma > 0 && gamma <= 1, s"gamma must be in (0, 1], got $gamma")
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  require(bloomExpectedItems >= 0,
    s"bloomExpectedItems must be >= 0 (0 = auto), got $bloomExpectedItems")
  require(bloomFpp > 0 && bloomFpp < 1,
    s"bloomFpp must be in (0, 1), got $bloomFpp")
  require(ttlRounds >= 0,
    s"ttlRounds must be >= 0 (0 = seen-forever), got $ttlRounds")
  require(compactEvery >= 2,
    s"compactEvery must be >= 2, got $compactEvery")
  require(l1MergeDenom >= 1,
    s"l1MergeDenom must be >= 1, got $l1MergeDenom")
  require(drainCompactMinDead >= 1,
    s"drainCompactMinDead must be >= 1, got $drainCompactMinDead")
}

/** Per-(round, host) metrics row — the fetch/dedup/politeness-wait metrics
  * table required by the north rule. Ref analog: batch success/failure tally,
  * medcrawler/base.py:416-418.
  */
case class RoundMetrics(
    round: Int,
    host: String,
    candidates: Long,
    seenDropped: Long,
    robotsBlocked: Long,
    scheduled: Long,
    fetchedOk: Long,
    failed: Long,
    deferred: Long,
    politenessWaitMs: Long)

/** A crawl seed: initial OPIC cash = 1.0 / numSeeds. */
case class Seed(seedId: String, url: String, priority: Double)

/** OPIC cash fixed-point arithmetic (shared by engine and oracle).
  *
  * Child priority is the SUM of per-parent cash contributions. Summing
  * doubles is order-dependent, which would either pin the aggregation to a
  * sorted fold (a `collect_list` whose buffer is unbounded under in-degree
  * skew — a 10^6-in-link URL would build a 10^6-element array in one
  * aggregation buffer) or make results vary with partitioning. Instead cash
  * is truncated to integer fixed-point BEFORE aggregation: `sum(long)` is
  * exact, order-independent, and map-side-combinable — the same
  * integer-cents trick the relational operators use for money.
  *
  * Scale choice: priorities are ≤ 1.0 (seeds split unit cash; gamma < 1
  * damps each hop), so per-parent cash fits 0.85e12 at Scale=1e12 and even
  * 10^6-parent sums stay ~8.5e17 < Long.MaxValue. Cash below 1/Scale
  * truncates to 0 identically on both sides.
  */
object Opic {
  val Scale: Double = 1e12
  /** Double cash → fixed point. Truncation toward zero matches Spark's
    * `cast(double as long)` exactly.
    */
  def toFp(cash: Double): Long = (cash * Scale).toLong
  def toPriority(fp: Long): Double = fp.toDouble / Scale
}
