package graft

import graft.core.CrawlConfig
import org.scalatest.funsuite.AnyFunSuite

/** [[CrawlConfig]] validates at construction (ref error discipline:
  * medcrawler/config.py:55-68 raises on nonpositive budgets/TTLs) — a bad
  * knob must fail before a round runs, not rounds later as a mystery.
  */
class ConfigSpec extends AnyFunSuite {

  test("defaults construct") {
    val c = CrawlConfig()
    assert(c.maxResults > 0 && c.maxRounds > 0)
  }

  test("nonpositive budgets / out-of-range knobs fail at construction") {
    def bad(f: => CrawlConfig): Unit =
      assertThrows[IllegalArgumentException](f)
    bad(CrawlConfig(maxResults = 0))
    bad(CrawlConfig(maxResults = -5))
    bad(CrawlConfig(maxRounds = 0))
    bad(CrawlConfig(maxRetries = 0))
    bad(CrawlConfig(maxRetries = -1))
    bad(CrawlConfig(gamma = 0.0))
    bad(CrawlConfig(gamma = 1.5))
    bad(CrawlConfig(numBuckets = 0))
    bad(CrawlConfig(ttlRounds = -1))
    // compactEvery = 1 would fire major compaction EVERY round (the very
    // rewrite cadence the tiered fold exists to avoid) and orphan the
    // fold-skip logic; l1MergeDenom = 0 divides the merge threshold away
    bad(CrawlConfig(compactEvery = 1))
    bad(CrawlConfig(compactEvery = 0))
    bad(CrawlConfig(l1MergeDenom = 0))
    bad(CrawlConfig(l1MergeDenom = -3))
  }

  test("boundary values that are legal stay legal") {
    CrawlConfig(maxRetries = 1) // fetch-once, no retry
    CrawlConfig(gamma = 1.0) // undamped OPIC
    CrawlConfig(ttlRounds = 0) // seen-forever
    CrawlConfig(compactEvery = 2) // most aggressive legal compaction
    CrawlConfig(l1MergeDenom = 1) // merge whenever L1 >= base
  }
}
