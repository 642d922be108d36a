package graft.engine

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Spark-native crawl engine: URL frontier + fetch scheduler.
  *
  * Reimplements the reference crawl core (frontier generator + seen-set +
  * politeness scheduler + retrying fetcher, medcrawler/base.py,
  * medcrawler/pubmed.py, medcrawler/clinical_trials.py) as driver-looped
  * Catalyst rounds over snapshot tables. One round is one declarative
  * pipeline (physical plan target in SURVEY.md §4):
  *
  *   frontier ──broadcast policy join──▶ robots filter ──window rank per
  *     host──▶ per-host quota ──(rare) global budget──▶ schedule
  *     ──salted repartition──▶ mapPartitions synthetic fetch
  *     ──explode outlinks──▶ OPIC cash aggregation
  *     ──executor-local seen probe (filtered exact KeyLog runs)──▶
  *     next frontier
  *
  * Determinism contract (SURVEY.md §7.3, mirrored by [[graft.core.RefOracle]]):
  * schedule order = (round ASC, priority DESC, host ASC, urlHash ASC); OPIC
  * priority sums run in integer fixed point ([[graft.core.Opic]]) so they are
  * exact and order-independent — results are independent of partitioning and
  * parallelism, which is what makes the N-vs-4N-core scaling equivalence
  * testable.
  *
  * Scale notes (100 TB / 10^10-frontier design):
  *  - scheduling rounds never touch image `bytes` (they live only in the
  *    fetched table; Parquet column pruning keeps scans narrow);
  *  - the seen table is NEVER scanned or shuffled by a round: membership is
  *    an executor-local probe (exact sorted [[KeyLog]] runs, each behind a
  *    Bloom filter over its own keys, LSM-compacted); the queryable parquet
  *    deltas exist for consumers and compaction only. There is no
  *    round-start seen check at all — frontier ∩ live-seen = ∅ is an engine
  *    invariant shared with the oracle;
  *  - the frontier is an append-only DELTA LOG (add deltas + exact
  *    (urlHash, addedSeq) tombstone runs): a round writes O(scheduled +
  *    discovered) bytes, never O(frontier); unchanged entries are never
  *    read-modified-rewritten. Expansion-time dedup against the frontier is
  *    the same executor-local probe pattern, so a steady-state round has NO
  *    shuffle join at all — its only exchanges are the per-host quota
  *    window and the O(round) OPIC aggregation;
  *  - the global-budget sort runs ONLY when the remaining budget is smaller
  *    than the round (last round) — steady-state rounds have no global
  *    ordering bottleneck;
  *  - fetch tasks are salted-range-repartitioned on (host, salt) so one
  *    mega-host cannot serialize a partition (AQE skew join also on);
  *  - fan-out follows the round's rows ([[Fanout]]): the fetch and the
  *    round's readers open about one task per 1024 rows, up to two per
  *    core for the fetch and one per core for a reader, with the rows taken
  *    from manifest counts and parquet footers. A round of a few hundred
  *    URLs runs in a handful of tasks; a wide round keeps every core;
  *  - generated code is ROUND-INVARIANT: the round number reaches the
  *    generated Java as a reference ([[ProbeExpr.param]]), never as an
  *    inlined literal, except in the two frontier `notBeforeRound` scan
  *    filters, which keep `lit(r)` for parquet row-group pruning (those
  *    scan stages are the only classes a round adds). Whether a warm round
  *    then compiles nothing depends on Spark's codegen cache: 100 entries
  *    by default (a static conf the engine cannot raise for a caller's
  *    session), kept as 4 LRU segments of 25 and keyed by (context
  *    classloader, source). A round runs under the local-mode task
  *    classloader ([[TaskLoader]]), so the compile check Spark runs while
  *    planning a whole-stage class and the tasks that run it share one
  *    entry. The round keeps its class set small for that cache: one
  *    checkpointed decision frame (no in-memory-columnar accessors) for
  *    both quota phases, which run the same window over the same row
  *    layout; one per-bucket pass for the seen parquet and every sidecar;
  *    native expressions, not Scala UDFs or the interpreted `exists`, for
  *    the URL functions and the robots check; no join for the 429 horizons
  *    and no plan branch that depends on the round's data. A crawl_deep
  *    round uses about 60 distinct classes, so every LRU segment holds its
  *    share with high probability; the per-round `log.info` line reports
  *    `compiled=<n> classes (<ms> ms)`.
  *
  * Every job of a crawl is labelled with its phase ([[Telemetry.phase]]):
  * `init seedFrontier`, then `round <r> <phase>` (`ph` in `roundPlan`).
  */
object CrawlEngine {

  private val log = Log("crawl")

  /** Narrow row shipped to the fetcher — no payload columns.
    * `minIntervalMs` rides along for the wall-clock pacer (cfg.paceWallClock).
    */
  case class FetchTask(
      canonUrl: String,
      urlHash: Long,
      host: String,
      hostBucket: Int,
      depth: Int,
      priority: Double,
      seedId: String,
      path: Seq[String],
      attempt: Int,
      minIntervalMs: Int)

  case class CrawlResult(
      outDir: String,
      rounds: Int,
      totalScheduled: Long,
      manifest: Snapshot.Manifest) {

    /** Schedule in the pinned crawl order (narrow projection of the
      * attempts log; `bytes` pruned at the parquet scan).
      */
    def schedule(spark: SparkSession): DataFrame =
      readAttempts(spark, manifest.scheduleDirs)
        .select(col("round"), col("canonUrl"), col("urlHash"), col("host"),
          col("hostBucket"), col("priority"), col("depth"), col("attempt"))
        .orderBy(col("round").asc, col("priority").desc, col("host").asc,
          col("urlHash").asc)

    /** Fetched rows in the input_hint schema + lineage (ok attempts only;
      * the ok=true predicate prunes to the ok partition of each round's
      * attempts log — failed rows are never scanned).
      */
    def fetched(spark: SparkSession): DataFrame =
      readAttempts(spark, manifest.fetchedDirs)
        .where(col("ok"))
        .select(col("canonUrl").as("image_id"), col("bytes"), col("w"),
          col("h"), col("fmt"), col("caption"), col("phash"),
          col("seedId").as("seed_id"), col("path"), col("depth"),
          col("priority"), col("round"))

    /** Full fetch-attempt log: every scheduled URL with its outcome, typed
      * failure kind, and (when cfg.paceWallClock) the monotonic fetch-start
      * stamp — the error side-output (P3) and pacing audit trail. Column
      * pruning keeps `bytes` out of any scan that doesn't select it.
      */
    def attempts(spark: SparkSession): DataFrame = readAttempts(spark, manifest.scheduleDirs)

    def seen(spark: SparkSession): DataFrame = readSeen(spark, manifest.seenDirs)

    /** Per-(round, host) [[RoundMetrics]] rows. */
    def metrics(spark: SparkSession): DataFrame =
      readPinned(spark, metricsSchema, manifest.metricsDirs, partitioned = false)

    /** Read-through point lookup (ref `get_item(s)` serving an
      * already-fetched record from the TTL cache without a network round,
      * medcrawler/base.py:370-386; cache-speedup gate
      * tests/integration/test_performance.py:84-85): canonicalize the
      * requested URLs and serve their fetched rows straight from the
      * committed snapshot — NO crawl round, NO fetch. Returns
      * (hits in the [[fetched]] schema — latest round wins under TTL
      * refetch — and the canonical URLs with no cached row).
      *
      * Scale shape: the keys broadcast as an IN-list predicate, so the scan
      * is parquet row-group-pruned on image_id min/max stats and `bytes`
      * decodes only for matching rows; misses cost a driver set-diff over
      * the requested keys, never a scan of the miss space. Batch hydration
      * of misses = seed a round with them ([[CrawlEngine.run]]).
      */
    def lookup(spark: SparkSession, urls: Seq[String]): (DataFrame, Seq[String]) = {
      val canons = urls.map(Canon.canonicalize).distinct
      val w = Window.partitionBy(col("image_id")).orderBy(col("round").desc)
      val hits = fetched(spark)
        .where(col("image_id").isin(canons: _*))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .drop("rn")
      val found = hits.select("image_id").collect().map(_.getString(0)).toSet
      (hits, canons.filterNot(found))
    }
  }

  /** `dirs` read with the pinned `schema` (no footer-inference job); no
    * dirs, or dirs without data files, read as an empty frame with those
    * columns. Partitioned roots cannot share one scan's partition
    * inference, so each `partitioned` dir is a scan with its own basePath.
    */
  private def readPinned(spark: SparkSession, schema: StructType,
      dirs: Seq[String], partitioned: Boolean): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else if (!partitioned) spark.read.schema(schema).parquet(dirs: _*)
    else dirs.map(d => spark.read.schema(schema).option("basePath", d).parquet(d))
      .reduce(_ unionByName _)

  /** Seen delta rows, each delta hostBucket-partitioned ([[readPinned]]). */
  private val seenSchema = StructType(Seq(
    StructField("urlHash", LongType, nullable = false),
    StructField("seenRound", IntegerType, nullable = false),
    StructField("hostBucket", IntegerType, nullable = false)))

  private[engine] def readSeen(spark: SparkSession, dirs: Seq[String]): DataFrame =
    readPinned(spark, seenSchema, dirs, partitioned = true)

  /** Frontier rows on disk: FrontierEntry columns + addedSeq (the round
    * that wrote the version; -1 for the seed init). A (urlHash, addedSeq)
    * pair identifies one immutable VERSION — the tombstone log removes
    * exact pairs.
    */
  private val frontierSchema = StructType(Encoders.product[FrontierEntry]
    .schema.fields :+ StructField("addedSeq", IntegerType, nullable = false))

  private val frontierCols: Seq[String] = frontierSchema.fieldNames.toSeq

  /** The membership key run of the frontier parquet `dir` of `rows` rows
    * (aux = addedSeq).
    */
  private def writeFrontierKeys(spark: SparkSession, dir: String, rows: Long,
      keyDir: String, numBuckets: Int): Unit =
    KeyLog.write(Fanout.narrow(spark.read.schema(frontierSchema).parquet(dir), rows)
      .select(col("hostBucket"), col("urlHash"), col("addedSeq").as("aux")),
      keyDir, numBuckets): Unit

  /** The host-policy dimension's rows. `host` is non-nullable, so the left
    * join infers no `isnotnull(host)` filter for the optimizer to evaluate
    * over the local relation, and the rows convert to the relation without
    * a generated encoder: two generated classes fewer per round.
    */
  private def policyFrame(spark: SparkSession, policies: Seq[HostPolicy]): DataFrame = {
    val schema = StructType(
      Encoders.product[HostPolicy].schema.fields.map(f =>
        if (f.name == "host") f.copy(nullable = false) else f))
    spark.createDataFrame(policies.map(p => Row(
      p.host, p.minIntervalMs, p.quotaPerRound, p.robotsDisallow)).asJava, schema)
  }

  /** LIVE frontier = union of add deltas minus tombstoned versions. The
    * tombstone filter is an executor-local exact pair probe — resolving the
    * delta log costs NO shuffle, NO join, just the scan. The add dirs are
    * unpartitioned, so ONE scan lists them all: its plan (and generated
    * code) does not change as the add log grows between compactions. The
    * add log holds the manifest's live and dead rows, which size the scan
    * ([[Fanout]]).
    */
  private[engine] def readFrontier(spark: SparkSession, m: Snapshot.Manifest): DataFrame = {
    val adds = Fanout.narrow(spark.read.schema(frontierSchema).parquet(m.frontierAddDirs: _*),
      m.frontierCount + m.frontierDeadCount)
    if (m.frontierRemDirs.isEmpty) adds
    else adds.where(!ProbeExpr.removedPair(ProbeExpr.RemovedCfg(m.frontierRemDirs))(
      col("hostBucket"), col("urlHash"), col("addedSeq")))
  }

  /** Per-round attempts rows, each dir partitioned by `ok` ([[readPinned]]):
    * `ok` comes back boolean (partition-prunable), and a round that
    * scheduled ZERO URLs (e.g. every frontier entry 429-deferred) reads as
    * an empty frame instead of throwing UNABLE_TO_INFER_SCHEMA mid-crawl.
    */
  private val attemptsSchema = Encoders.product[FetchResult].schema

  private[engine] def readAttempts(spark: SparkSession, dirs: Seq[String]): DataFrame =
    readPinned(spark, attemptsSchema, dirs, partitioned = true)

  /** The metrics table's columns, as the round tail writes them. */
  private val metricsSchema = Encoders.product[RoundMetrics].schema

  // ---- URL functions pinned to graft.core.Canon (same code as the oracle) ----
  private val canonCol = ProbeExpr.stringFn("canonicalize", Canon.canonicalize) _
  private val hostCol = ProbeExpr.stringFn("host_of", Canon.hostOf) _
  private val pathCol = ProbeExpr.stringFn("path_of", Canon.pathOf) _

  /** Distributed synthetic seed generator: the [[CorpusSpec.allSeeds]]
    * enumeration built ON THE EXECUTORS (range over hosts, pages expanded
    * per task) — a 10^6+-seed benchmark frontier never materializes as a
    * driver Seq or a task-serialized local collection. Produces exactly the
    * same rows as `spec.allSeeds`.
    */
  def synthSeeds(spark: SparkSession, spec: CorpusSpec): Dataset[Seed] = {
    import spark.implicits._
    val total = (0 until spec.numHosts).map(spec.pagesOf).sum.toDouble
    val sp = spec
    spark
      .range(0L, spec.numHosts.toLong, 1L,
        math.max(1, math.min(spec.numHosts, spark.sparkContext.defaultParallelism)))
      .flatMap { h =>
        val hi = h.toInt
        (0 until sp.pagesOf(hi)).iterator
          .map(p => Seed(s"seed-$hi-$p", sp.pageUrl(hi, p), 1.0 / total))
      }
  }

  /** Convenience overload for small, driver-held seed lists (CLI, tests).
    * At the 10^10-frontier design point seeds are a TABLE — use the
    * `Dataset[Seed]` overload (or [[synthSeeds]]) so the list never rides
    * inside task binaries.
    */
  def run(
      spark: SparkSession,
      spec: CorpusSpec,
      seeds: Seq[Seed],
      cfg: CrawlConfig,
      outDir: String): CrawlResult = {
    import spark.implicits._
    run(spark, spec, spark.createDataset(seeds), cfg, outDir)
  }

  /** Start a fresh crawl: initialize the snapshot log from the seed table
    * and loop rounds until budget/frontier/round exhaustion.
    */
  def run(
      spark: SparkSession,
      spec: CorpusSpec,
      seeds: Dataset[Seed],
      cfg: CrawlConfig,
      outDir: String): CrawlResult = {
    import spark.implicits._

    // a fresh run must not mix with a prior snapshot chain: stale manifests
    // would poison expiry/resume (commit ids restart at v0)
    require(Snapshot.latest(outDir).isEmpty,
      s"$outDir already contains a committed crawl snapshot; " +
        "resume it or use a fresh directory")

    // seed frontier with dedup (max priority, tie → min seedId per URL):
    // a min(struct) aggregate, not a window — partial aggregation combines
    // map-side, so the dedup is one shuffle of combined groups with no
    // per-partition sort
    val seedDf = seeds
      .withColumn("canonUrl", canonCol($"url"))
      .withColumn("urlHash", xxhash64($"canonUrl"))
    val frontier0 = seedDf
      .groupBy($"urlHash")
      .agg(min(struct(negate($"priority").as("negPriority"), $"seedId",
        $"url", $"canonUrl")).as("top"))
      .withColumn("host", hostCol($"top.canonUrl"))
      .select($"top.url".as("url"), $"top.canonUrl".as("canonUrl"), $"urlHash",
        $"host",
        pmod(xxhash64($"host"), lit(cfg.numBuckets)).cast("int").as("hostBucket"),
        lit(0).as("depth"), negate($"top.negPriority").as("priority"),
        $"top.seedId".as("seedId"),
        typedLit(Seq.empty[String]).as("path"), lit(0).as("attempt"),
        lit(0).as("notBeforeRound"), lit(-1).as("addedSeq"))

    val fDir = s"$outDir/frontier/a-init"
    val fkDir = s"$outDir/frontier_keys/a-init"
    val fCount = Telemetry.phase(spark.sparkContext, "init seedFrontier") {
      frontier0.write.mode("overwrite").parquet(fDir)
      val n = Fs.parquetRowCount(fDir)
      writeFrontierKeys(spark, fDir, n, fkDir, cfg.numBuckets)
      n
    }
    val m0 = Snapshot.Manifest(0, -1, -1, 0L,
      Vector(fDir), Vector(fkDir), Vector.empty,
      Vector.empty, Vector.empty, Vector.empty,
      Vector.empty, Vector.empty, fCount, 0L, 0L,
      done = fCount == 0, buckets = cfg.numBuckets)
    Snapshot.commit(outDir, m0)
    loop(spark, spec, cfg, outDir, m0)
  }

  /** Time-travel: open the crawl as of an older committed snapshot id —
    * every state pointer (frontier, seen, fetched, schedule, metrics)
    * is the one that was current at that commit (Iceberg snapshot-read
    * analog; ref analog: the TTL cache serving an older consistent view,
    * medcrawler/base.py:52-93).
    */
  def atSnapshot(outDir: String, snapshotId: Int): CrawlResult = {
    val m = Snapshot.read(outDir, snapshotId)
    CrawlResult(outDir, m.round + 1, m.totalScheduled, m)
  }

  /** Exact resume from the latest committed snapshot. */
  def resume(
      spark: SparkSession,
      spec: CorpusSpec,
      cfg: CrawlConfig,
      outDir: String): CrawlResult = {
    val m = Snapshot.latest(outDir).getOrElse(
      sys.error(s"no committed snapshot under $outDir"))
    // validate the layout BEFORE any round runs — an old layout failing
    // the mid-round invariant check would already have fetched a full
    // round's URLs before aborting (a fmt-2 layout's key runs have no
    // filter, and its seen filter lives in `bloom/` dirs)
    require(m.fmt >= Snapshot.Fmt,
      s"$outDir has manifest fmt=${m.fmt}, an unsupported layout (this " +
        s"build needs fmt=${Snapshot.Fmt})")
    // bucket-count parity: every sidecar probe computes hostBucket =
    // pmod(hash, cfg.numBuckets), so resuming with a different value than
    // the one the runs were written with silently misses every membership
    // probe (refetch storm + frontier duplicates)
    require(m.buckets == cfg.numBuckets,
      s"$outDir was committed with numBuckets=${m.buckets} but " +
        s"cfg.numBuckets=${cfg.numBuckets} — membership probes would " +
        "re-bucket and miss every stored key")
    loop(spark, spec, cfg, outDir, m)
  }

  private def loop(
      spark: SparkSession,
      spec: CorpusSpec,
      cfg: CrawlConfig,
      outDir: String,
      start: Snapshot.Manifest): CrawlResult = {
    var m = start
    while (!m.done && m.round + 1 < cfg.maxRounds) {
      val (next, compiled) = Telemetry.compiled(round(spark, spec, cfg, outDir, m))
      m = next
      Snapshot.commit(outDir, m)
      log.info(s"round ${m.round} committed (v${m.snapshotId}): " +
        s"scheduled=${m.totalScheduled} frontier=${m.frontierCount} " +
        s"seen=${m.seenCount} fetchedOk=${m.fetchedCount} done=${m.done} " +
        s"compiled=${compiled.classes} classes (${compiled.ms} ms)")
      Snapshot.expire(outDir, retain = 3)
    }
    CrawlResult(outDir, m.round + 1, m.totalScheduled, m)
  }

  /** One scheduling round: the Catalyst pipeline described in the class doc.
    * Reads only committed state from `m`, writes the next snapshot's files,
    * and returns the manifest for the driver to commit.
    * Runs under the local-mode task classloader ([[TaskLoader]]), so each
    * whole-stage class of the round is compiled and cached once, not once
    * for the compile check at planning time and once more for the tasks.
    */
  def round(
      spark: SparkSession,
      spec: CorpusSpec,
      cfg: CrawlConfig,
      outDir: String,
      m: Snapshot.Manifest): Snapshot.Manifest = {
    // the loader probe is a one-task job, once per session
    Telemetry.phase(spark.sparkContext, s"round ${m.round + 1} taskLoader")(
      TaskLoader.of(spark)): Unit
    TaskLoader.run(spark)(roundPlan(spark, spec, cfg, outDir, m))
  }

  private def roundPlan(
      spark: SparkSession,
      spec: CorpusSpec,
      cfg: CrawlConfig,
      outDir: String,
      m: Snapshot.Manifest): Snapshot.Manifest = {
    import spark.implicits._
    val r = m.round + 1
    // (a tail future labels itself inside its body: see Telemetry.phase)
    def ph[T](name: String)(f: => T): T =
      Telemetry.phase(spark.sparkContext, s"round $r $name")(f)
    // the round number as generated code sees it: a reference, not an
    // inlined literal, so every round compiles the same classes. Only the
    // two frontier `notBeforeRound` scan filters keep `lit(r)`, for parquet
    // row-group pruning.
    val thisRound = ProbeExpr.param(r)

    val frontier = readFrontier(spark, m)
    val eligible = frontier.where($"notBeforeRound" <= r)
    // rows deferred past this round are NEVER touched: not read into the
    // pipeline (parquet min/max row-group stats skip far-future backoff
    // bands), not rewritten — they simply stay in their add delta. Only the
    // 429 whole-host deferral path looks at them, and only for the limited
    // hosts' rows.
    lazy val timeDeferred = frontier.where($"notBeforeRound" > r)

    // NO round-start seen check: frontier ∩ live-seen = ∅ is an engine
    // INVARIANT (the oracle has none either, RefOracle.scala round loop).
    // Every URL enters the frontier through an exclusion point — seed init
    // of a fresh dir, or the expansion-time probe below — and leaves it the
    // round it is scheduled/blocked, which is exactly when it can enter
    // seen; a TTL-dead stamp can never come back to life (r only grows).
    // The seen set is therefore NEVER scanned or shuffled in a round
    // (the round-2 scale-killer): seen exclusion runs ONCE, at expansion,
    // as an executor-local probe of filtered exact KeyLog runs (P5 analog:
    // `if pmid not in old_item_ids`, medcrawler/pubmed.py:185-187).

    // ---- robots + politeness dimension (J2: broadcast hash join) ----
    // (its broadcast collects the rows in tasks sized like any reader's)
    val policyDf = Fanout.narrow(policyFrame(spark, spec.hostPolicies),
      spec.hostPolicies.size)
    val joined = eligible
      .join(broadcast(policyDf), Seq("host"), "left")
      .withColumn("minIntervalMs", coalesce($"minIntervalMs", lit(340)))
      .withColumn("quotaPerRound", coalesce($"quotaPerRound", lit(3)))
      .withColumn("robotsDisallow",
        coalesce($"robotsDisallow", array(lit("/private"))))
      .withColumn("urlPath", pathCol($"canonUrl"))
      .withColumn("blocked", ProbeExpr.anyPrefix($"robotsDisallow", $"urlPath"))

    // ---- per-host fetch quota (§2.5 window rank; ref batch caps 3/5) ----
    // Salted two-phase top-k: rank within (host, urlHash%S) and keep the
    // per-salt top-quota, then re-rank the survivors per host. A true
    // per-host top-quota row is always within its salt's top-quota, so the
    // result is IDENTICAL to a single per-host window — but no task ever
    // sorts more than 1/S of a mega-host (phase 1) or S×quota rows
    // (phase 2). A 10^8-candidate host would serialize one window task
    // under the naive plan; here it is bounded. Both phases rank EVERY
    // eligible row, so one checkpointed frame carries the whole decision:
    // robots-blocked rows rank in partitions of their own, and phase 2
    // spreads the non-survivors over the salt partitions again (their rank
    // there is never read), so the survivors' partition per host holds
    // exactly the rows the per-host window needs. Both phases run the SAME
    // window over the same row layout — partition (host, pb, ps), rank by
    // (priority desc, urlHash asc) — and phase 2 only rewrites the two key
    // columns in place (pb: not a phase-1 survivor, ps: its salt, -1 for
    // survivors), so both phases share one set of generated classes.
    val quotaSalt = 16
    val quota = Window.partitionBy($"host", $"pb", $"ps")
      .orderBy($"priority".desc, $"urlHash".asc)
    val survivor = !$"pb" && $"rk" <= $"quotaPerRound"
    // (an adaptive plan runs its exchanges when it is checkpointed)
    val checkpoint = ph("schedule")(joined
      .withColumn("pb", coalesce($"blocked", lit(true)))
      .withColumn("ps", pmod($"urlHash", lit(quotaSalt.toLong)))
      .withColumn("rk", row_number().over(quota))
      .withColumn("ps", when(survivor, lit(-1L)).otherwise($"ps"))
      .withColumn("pb", coalesce(!survivor, lit(true)))
      .drop("rk")
      .withColumn("rk", row_number().over(quota))
      // checkpointed, not cached: its readers scan rows, so none of
      // them compiles a columnar accessor or a batch-pruning predicate
      .localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK))
    // its readers narrowed like the frontier scan it ranks
    val decided = Fanout.narrow(checkpoint, m.frontierCount + m.frontierDeadCount)
    val kept = !$"pb" && $"rk" <= $"quotaPerRound"
    val quotaKept = decided.where(kept)

    // ---- global budget (L1): steady-state rounds skip the counting job
    // entirely — when the remaining budget covers the WHOLE frontier
    // (manifest row-count statistic, no job), truncation is impossible and
    // the scheduled count comes from the attempts-log parquet footers after
    // the fetch. Only rounds near budget exhaustion count the quota-kept
    // rows (a scalar count, O(1) driver memory; the round-1 design
    // collected O(hosts) rows).
    val remaining = math.max(0L, cfg.maxResults - m.totalScheduled)
    val keptCount =
      if (remaining >= m.frontierCount) -1L // sentinel: cannot truncate
      else ph("keptCount")(quotaKept.count())
    var truncatedSched: Option[DataFrame] = None
    val (sched, budgetRejected) =
      if (keptCount < 0L || keptCount <= remaining) (quotaKept, None)
      else {
        val s = quotaKept
          .orderBy($"priority".desc, $"host".asc, $"urlHash".asc)
          .limit(math.min(remaining, Int.MaxValue.toLong).toInt)
          .persist(StorageLevel.MEMORY_AND_DISK)
        truncatedSched = Some(s.toDF())
        (s.toDF(), Some(quotaKept.join(s.select("urlHash"), Seq("urlHash"), "left_anti")))
      }

    // ---- fetch (S1): salted hash repartition kills host skew (a mega-host
    // spreads over 16 salt values; no RangePartitioner sampling pass), then
    // the executor-side synthetic fetch runs in mapPartitions and lands in
    // ONE per-round attempts table — the fetch log: schedule + outcome +
    // payload. Everything downstream reads it back with `bytes` pruned away
    // by parquet column pruning, so the payload is serialized exactly once.
    // EXPLICIT partition count: the task rows are tiny (no payload yet), so
    // AQE would coalesce this exchange to ~1 partition and serialize the
    // expensive per-URL fetch — cost lives in the work, not the bytes.
    // An explicit repartition(N, cols) opts out of AQE coalescing. N is
    // sized by the round's rows ([[Fanout.fetch]]): the live frontier and
    // the remaining budget bound the schedule with no counting job. A wide
    // round gets 2x over-partitioning (per-URL fetch cost varies, png vs
    // jpeg and size, so 1 task per core lets the slowest task bound the
    // stage; finer tasks let the scheduler level the load); a round of a
    // few hundred URLs runs in one task instead of paying a task's fixed
    // cost (start-up, parquet writer) 2x cores times.
    val fetchParallelism = Fanout.fetch(spark, math.min(m.frontierCount, remaining))
    val attemptsDir = s"$outDir/attempts/r$r"
    // uncompressed: the payload column dominates the bytes and is already
    // PNG/JPEG-entropy-coded — snappy costs compress CPU in every fetch
    // task (plus decompress in the three pruned re-reads) for ~5% size.
    // partitionBy(ok): ok/fail row counts then come FREE from parquet
    // footers (no outcome-count job), and every downstream reader (seen
    // delta, retries, outlink expansion, fetched()) partition-prunes to
    // the half it needs.
    val tasks = sched
      .select($"canonUrl", $"urlHash", $"host", $"hostBucket", $"depth",
        $"priority", $"seedId", $"path", $"attempt", $"minIntervalMs")
      .as[FetchTask]
    // Wall-clock pacing mode (ref rate limiter, medcrawler/base.py:266-280):
    // a host's tasks must ALL land in one partition (no urlHash salt — the
    // pacer's per-host clock is partition-local), and sorting the partition
    // by a hash interleaves hosts so one host's politeness sleeps absorb the
    // other hosts' fetch work instead of serializing behind it.
    // The 429 answers' (host, Retry-After) pairs come back from the fetch
    // tasks themselves (a set: a re-executed task adds the same pairs
    // again), so the host deferral below needs no job of its own.
    val rateLimitedHosts = spark.sparkContext
      .collectionAccumulator[(String, Int)](s"ratelimited:$attemptsDir")
    def noteRateLimit(res: FetchResult): FetchResult = {
      if (res.failKind == "ratelimited") rateLimitedHosts.add((res.host, res.retryAfter))
      res
    }
    val fetchInput =
      if (cfg.paceWallClock)
        tasks.repartition(fetchParallelism, $"host")
          .sortWithinPartitions(pmod($"urlHash", lit(1 << 20)))
          .mapPartitions { it => Fetcher.paced(spec, it, r).map(noteRateLimit) }
      else
        tasks.repartition(fetchParallelism, $"host", pmod($"urlHash", lit(16)))
          .mapPartitions { it => it.map(t => noteRateLimit(Fetcher.fetchOne(spec, t, r))) }
    ph("fetchAndWrite")(fetchInput
      .write.mode("overwrite").option("compression", "uncompressed")
      .partitionBy("ok").parquet(attemptsDir))

    // every scheduled row lands in the attempts log exactly once, so the
    // footer row counts ARE the scheduled / fetched-ok counts (no job)
    val fetchedOkCount = Fs.parquetRowCount(s"$attemptsDir/ok=true")
    val schedCount = fetchedOkCount + Fs.parquetRowCount(s"$attemptsDir/ok=false")
    val results = Fanout.narrow(readAttempts(spark, Seq(attemptsDir)), schedCount)
    val okRes = results.where($"ok")
    val failRes = results.where(!$"ok")

    // ---- seen delta: fetched ok ∪ permanently-failed ∪ robots-blocked ----
    // "permanent" (404-analog) drops immediately; "transient" drops only
    // after maxRetries attempts; "ratelimited" NEVER drops here (no attempt
    // consumed — ref honors Retry-After instead of retry-burning,
    // medcrawler/base.py:296-301)
    // (one scan of both ok partitions: ok rows have an empty failKind; the
    // robots-blocked stamps ride with the tombstones below)
    val fetchStamps = results
      .where($"ok" || $"failKind" === "permanent" ||
        ($"failKind" === "transient" && $"attempt" + 1 >= cfg.maxRetries))
      .select($"urlHash", $"hostBucket", thisRound.as("seenRound"),
        lit(null).cast("int").as("aux"))
    val seenDir = s"$outDir/seen/r$r"

    // Re-adds, from one scan of the failed attempts. Both are NEW frontier
    // versions (addedSeq = r); their scheduled originals are tombstoned
    // this round.
    //  - transient: retry re-enqueue with exponential backoff (ref
    //    wait_chain, medcrawler/base.py:136-154);
    //  - ratelimited (429-analog): attempt counter UNCHANGED, deferred by
    //    the server-provided Retry-After analog.
    val transient = $"failKind" === "transient"
    val reAdds = failRes
      .where((transient && $"attempt" + 1 < cfg.maxRetries) ||
        $"failKind" === "ratelimited")
      .select($"canonUrl".as("url"), $"canonUrl", $"urlHash", $"host",
        $"hostBucket", $"depth", $"priority", $"seedId", $"path",
        when(transient, $"attempt" + 1).otherwise($"attempt").as("attempt"),
        when(transient, (thisRound +
            least(pow(lit(2.0), ($"attempt" + 1).cast("double")), lit(8.0)))
          .cast("int"))
          .otherwise(thisRound + $"retryAfter").as("notBeforeRound"),
        thisRound.as("addedSeq"))

    // ---- OPIC outlink expansion (UDTF analog: explode; A4 seen growth) ----
    // Cash is truncated to integer fixed-point BEFORE aggregation
    // ([[graft.core.Opic]]): `sum(long)` is exact, order-independent and
    // map-side-combinable, so a 10^6-in-link hub URL costs one partial-agg
    // counter per task — no per-child array buffer, no in-degree skew hazard
    val links = okRes
      .select($"urlHash".as("parentHash"), $"priority".as("pPriority"),
        $"depth".as("pDepth"), $"path".as("pPath"), $"seedId".as("pSeed"),
        $"canonUrl".as("parentCanon"), size($"outlinks").as("nRaw"),
        explode($"outlinks").as("rawLink"))
      .withColumn("cashFp",
        ($"pPriority" * lit(cfg.gamma) / $"nRaw" * lit(Opic.Scale)).cast("long"))
      .withColumn("childCanon", canonCol($"rawLink"))
      .withColumn("childHash", xxhash64($"childCanon"))

    // ONE link-level aggregation: priority = sum of per-link cash (equals
    // the per-parent-subtotal sum — link cash from one parent is constant);
    // representative parent (depth/path/seed donor) = max per-link cash,
    // tie → min parentHash. Both are map-side-combinable, so the expansion
    // costs one shuffle instead of two.
    // (childHash leads the row, so the map-side and the reduce-side sort
    // bind the same key and share their generated classes)
    val perChild = links
      .select($"childHash", $"cashFp", $"parentHash", $"pDepth", $"pSeed",
        $"pPath", $"parentCanon", $"childCanon")
      .groupBy($"childHash").agg(
      sum($"cashFp").as("priorityFp"),
      min(struct(negate($"cashFp").as("negCash"), $"parentHash".as("ph"),
        $"pDepth".as("pDepth"), $"pSeed".as("pSeed"), $"pPath".as("pPath"),
        $"parentCanon".as("parentCanon"))).as("rep"),
      min($"childCanon").as("canonUrl"))

    val newEntries = perChild
      .withColumn("host", hostCol($"canonUrl"))
      .select(
        $"canonUrl".as("url"), $"canonUrl", $"childHash".as("urlHash"),
        $"host",
        pmod(xxhash64($"host"), lit(cfg.numBuckets)).cast("int").as("hostBucket"),
        ($"rep.pDepth" + 1).as("depth"),
        ($"priorityFp".cast("double") / lit(Opic.Scale)).as("priority"),
        $"rep.pSeed".as("seedId"),
        concat($"rep.pPath", array($"rep.parentCanon")).as("path"),
        lit(0).as("attempt"), ProbeExpr.param(r + 1).as("notBeforeRound"),
        thisRound.as("addedSeq"))

    // new URLs: not seen and not already in the frontier. BOTH exclusions
    // are executor-local probes over committed state — the round-2 design
    // had an anti-join here whose excluded side was O(frontier + seen):
    //  - seen: each KeyLog run's filter, then its exact binary search,
    //    liveness pinned at the CURRENT round r (the oracle's isSeen(h, round));
    //  - frontier membership (the oracle's `frontier.contains`): some add
    //    run holds a version of this urlHash that no tombstone has killed,
    //    AS OF ROUND START — which is exactly right: every URL this round
    //    marks seen (fetched ok / exhausted / blocked) or re-adds (retry /
    //    rate-limit / host-deferral) was a live member at round start, so
    //    round-local exclusion is fully covered and no join is needed.
    // All three sidecars are TIERED-folded every round ([[tieredFold]]):
    // the probe is ≤ 2 binary searches (base run + small L1 run), plus ≤ 2
    // tiered tombstone runs for the member probe — tombstones that landed
    // on BASE versions between merges are only purged at the next merge,
    // so the probe must consult the tombstone sidecar to kill them (L1
    // versions have theirs dropped at fold time). frontierRemDirs also
    // filters the parquet add log in readFrontier; it resets at major
    // compaction.
    require(m.seenKeyDirs.size <= 2 &&
        m.frontierKeyDirs.nonEmpty && m.frontierKeyDirs.size <= 2 &&
        m.frontierRemDirs.size <= 2,
      s"key sidecars must be tiered-folded (seen=${m.seenKeyDirs.size} " +
        s"frontier=${m.frontierKeyDirs.size} " +
        s"rem=${m.frontierRemDirs.size}): unsupported layout")
    val notSeen =
      !ProbeExpr.seenLive(ProbeExpr.SeenCfg(m.seenKeyDirs, r,
        cfg.ttlRounds))($"hostBucket", $"urlHash")
    val notMember =
      !ProbeExpr.memberLive(ProbeExpr.MemberCfg(m.frontierKeyDirs,
        m.frontierRemDirs))($"hostBucket", $"urlHash")
    val fresh = newEntries.where(notSeen && notMember)

    // ---- frontier DELTA: the round writes O(round) bytes, never the
    // frontier. Adds = fresh ∪ retries ∪ rate-limited re-adds (all
    // addedSeq = r); tombstones = the exact versions that left (scheduled
    // ∪ robots-blocked). Unchanged rows (time-deferred, quota-rejected,
    // budget-rejected) are not touched at all — they stay in their add
    // delta (round-2 "What's wrong #2": the monolithic rewrite was a
    // 1000× write amplification at the 10^10-frontier design point).
    val addBase = reAdds.unionByName(fresh)
    // decided rows leaving the frontier: scheduled ∪ robots-blocked (one
    // scan, unless the budget cut the schedule short)
    val leaving = if (truncatedSched.isEmpty) kept || $"blocked" else $"blocked"

    // 429-analog WHOLE-HOST deferral: every frontier entry of a host that
    // was rate-limited this round is pushed past its Retry-After horizon
    // (tiny dimension: the fetch tasks report it, and the rows look their
    // host up in it — the build side a broadcast join would collect, but
    // with no join, so the plan is the same whatever the map holds). In
    // the delta log this touches ONLY the limited hosts' rows: their
    // staying versions (quota-rejected, budget-rejected, time-deferred)
    // are tombstoned and re-added with the clamped notBeforeRound; the
    // round's own add batch is clamped in place before it is written. Each
    // writer scans the staying rows itself: the time-deferred scan is
    // row-group-pruned and the rest is the checkpointed decision. Skipped
    // entirely when the corpus has no rate limiting so the steady-state
    // round plan stays minimal.
    val (adds, decidedLeaving, otherLeaving) =
      if (spec.rateLimitEvery <= 0) (addBase, leaving, truncatedSched.toSeq)
      else {
        // a host answers 429 with one Retry-After per round
        val until = rateLimitedHosts.value.asScala
          .map { case (host, retryAfter) => host -> (r + retryAfter) }.toMap
        val hostNotBefore =
          ProbeExpr.hostDeferral(ProbeExpr.DeferralCfg(until))($"host")
        val deferredNow = hostNotBefore > $"notBeforeRound"
        val rejectedNow = !$"blocked" && !kept && deferredNow
        val staying = (budgetRejected.toSeq :+ timeDeferred).map(_.where(deferredNow))
        val reAdded = (decided.where(rejectedNow) +: staying)
          .map(_.select(frontierCols.map(col): _*))
          .reduce(_ unionByName _)
          .withColumn("notBeforeRound", hostNotBefore)
          .withColumn("addedSeq", thisRound)
        val addAdj = addBase
          .withColumn("notBeforeRound",
            greatest($"notBeforeRound", coalesce(hostNotBefore, lit(0))))
          .select(frontierCols.map(col): _*)
        (addAdj.unionByName(reAdded), leaving || rejectedNow,
          truncatedSched.toSeq ++ staying)
      }
    // the round's seen stamps and tombstones, for ONE per-bucket sidecar
    // pass: a tombstone's aux is the exact version (addedSeq) it kills, and
    // a robots-blocked version is also stamped seen
    val roundRows = (decided.where(decidedLeaving)
        .withColumn("seenRound", when($"blocked", thisRound)) +:
      otherLeaving.map(_.withColumn("seenRound", lit(null).cast("int"))))
      .map(_.select($"urlHash", $"hostBucket", $"seenRound",
        $"addedSeq".as("aux")))
      .foldLeft(fetchStamps)(_ unionByName _)
    val addDir = s"$outDir/frontier/a$r"
    val addKeyDir = s"$outDir/frontier_keys/a$r"
    val remDir = s"$outDir/frontier_rem/r$r"

    // ---- round tail: INDEPENDENT output jobs (seen delta + sidecars and
    // tombstones, frontier adds, metrics) run as concurrent Spark actions —
    // they share the checkpointed decision (`decided`) and
    // the attempts parquet, so overlapping them collapses their wall time
    // to the slowest one. This near-constant tail is what limits N→4N
    // scaling on a single box (the fetch stage itself scales).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val tailContext: scala.concurrent.ExecutionContext =
      TaskLoader.executionContext(spark)

    // exact-probe sidecar of the seen delta: per-bucket sorted key runs,
    // TIERED-folded ([[tieredFold]]) — the delta lands in a small L1 run
    // (O(L1+delta) bytes/round), merged into the base run only at the
    // base/l1MergeDenom threshold, so a round never rewrites the key state.
    // The hot seen probe is ≤ 2 runs (base + L1), each a filter check and a
    // binary search; every run written carries the filter over its keys.
    val seenKeyDelta = s"$outDir/seen_keys/d$r"
    val seenKeyDir = s"$outDir/seen_keys/r$r"
    val seenKeyL1Dir = s"$outDir/seen_keys/l1-r$r"
    // compact the seen log every cfg.compactEvery deltas: linear growth
    // would make the per-round union (and file listing) quadratic --
    // the Iceberg-compaction analog; the manifest swaps N delta dirs for one.
    // A compacting round folds its delta straight into the compaction, so
    // it writes no delta dir or key run that the compaction would read once
    // or delete unread.
    val tombstones = spark.sparkContext.longAccumulator(s"tombstones:$remDir")
    // seen stamps older than this are TTL-dead from the next round on
    val oldestLiveStamp = if (cfg.ttlRounds > 0) r - cfg.ttlRounds + 1 else Int.MinValue
    def sidecars(keyDir: String, minLiveAux: Int) =
      RoundSidecars(keyDir, minLiveAux, remDir, tombstones)
    val seenF = Future(
      if (m.seenDirs.size + 1 >= cfg.compactEvery) ph("compactSeen") {
        val compactDir = s"$outDir/seen/compact-r$r"
        val compactKeyDir = s"$outDir/seen_keys/compact-r$r"
        // keep the NEWEST stamp per key: with a TTL a refetched URL may
        // appear in several deltas, and only the latest drives liveness.
        // The PARQUET log keeps every key ever stamped (the queryable
        // seen-set consumers and the oracle's seen set expect that); only
        // the probe-side sidecars drop stamps already TTL-dead (they can
        // never revive: rounds only grow), so the compacted runs' filters
        // forget them too. The bucket repartition clusters each key, so
        // [[RoundSidecars.merge]] keeps the newest stamp per key inside the
        // same pass.
        // (compactEvery ≥ 2, so a compacting round has a committed dir.)
        val n = writeSeen(
          Fanout.narrow(readSeen(spark, m.seenDirs), m.seenCount)
            .withColumn("aux", lit(null).cast("int"))
            .unionByName(roundRows),
          compactDir, cfg.numBuckets,
          sidecars(compactKeyDir, oldestLiveStamp))
        // seenCount between compactions is a cumulative STAMP count (with a
        // TTL a refetched URL stamps several deltas); compaction collapses
        // duplicates, so it re-baselines from the compacted footers — exact
        // distinct-key count, no job
        (Vector(compactDir), Vector(compactKeyDir), n)
      } else ph("writeSeen") {
        val n = writeSeen(roundRows, seenDir, cfg.numBuckets,
          sidecars(seenKeyDelta, Int.MinValue))
        // an empty delta (fully rate-limited round) never enters the
        // manifest
        val seenState =
          if (n == 0) {
            Fs.delete(seenDir)
            (m.seenDirs, m.seenKeyDirs, m.seenCount)
          } else (m.seenDirs :+ seenDir, ph("foldSeenKeys")(
            tieredFold(spark, m.seenKeyDirs, Seq(seenKeyDelta), Nil,
              seenKeyDir, seenKeyL1Dir, cfg, keepMaxAuxPerHash = true,
              minLiveAux = oldestLiveStamp)),
            m.seenCount + n)
        Fs.delete(seenKeyDelta) // ephemeral: superseded by the fold
        seenState
      })
    // the add-dir count trigger of [[frontierCompactionDue]] fires on any
    // non-empty add delta: the compaction rebuilds the key runs from the
    // compacted frontier, so this round's add-key run would go unread
    val addLogWillCompact = addLogFull(cfg, m.frontierAddDirs.size + 1)
    val addsF = Future(ph("writeFrontierAdds") {
      adds.write.mode("overwrite").parquet(addDir)
      // row counts come from parquet footers (driver-side metadata read, no
      // Spark job) -- the same statistics an Iceberg manifest would carry
      val n = Fs.parquetRowCount(addDir)
      // membership sidecar from the just-written delta (pruned re-read —
      // cheaper than recomputing the fresh/retry pipeline)
      if (n > 0 && !addLogWillCompact)
        writeFrontierKeys(spark, addDir, n, addKeyDir, cfg.numBuckets)
      n
    })
    // frontier sidecar maintenance, tiered on BOTH sidecars: (1) the
    // round's tombstones tiered-fold into the tombstone sidecar (small L1
    // per round, base merge at the byte threshold) — a removal-heavy drain
    // phase (large backlog scheduled, no fresh discoveries: rm > 0, a = 0
    // every round, so the add-dir-COUNT trigger never fires; the
    // majority-dead trigger bounds the drain at O(log) compactions) would
    // otherwise rewrite the ever-growing accumulated run EVERY round,
    // O(backlog²) bytes over the drain; readFrontier and the member probe
    // touch ≤ 2 tombstone runs, and the sidecar resets at major
    // compaction; (2) the
    // add delta tiered-folds into the key sidecar likewise, with the
    // tombstone runs as drops — a size optimization: versions the drops
    // miss (they live in the BASE run until a merge) are killed by the
    // probe's tombstone-run check, never returned as members.
    val frontierKeyDir = s"$outDir/frontier_keys/r$r"
    val frontierKeyL1Dir = s"$outDir/frontier_keys/l1-r$r"
    val remFoldDir = s"$outDir/frontier_rem/f$r"
    val remFoldL1Dir = s"$outDir/frontier_rem/l1-r$r"
    val foldF = addsF.zip(seenF).map { case (a, _) =>
      val rm = tombstones.value.longValue // the seen pass wrote the run
      // same skip as the seen fold: a compacting round writes compact key
      // runs from the compacted frontier, so the per-round fold would be
      // orphaned. The compaction branch below takes this answer as is.
      val willCompact = frontierCompactionDue(cfg,
        m.frontierAddDirs.size + (if (a > 0) 1 else 0),
        m.frontierDeadCount + rm, m.frontierCount + a - rm)
      var keyDirs = m.frontierKeyDirs
      var remDirs = if (rm > 0) m.frontierRemDirs :+ remDir else m.frontierRemDirs
      if (!willCompact) {
        // tombstone fold first (the add merge takes the result as drops).
        if (rm > 0) ph("foldFrontierRems") {
          remDirs = tieredFold(spark, m.frontierRemDirs, Seq(remDir),
            Nil, remFoldDir, remFoldL1Dir, cfg, keepMaxAuxPerHash = false)
        }
        if (a > 0) ph("foldFrontierKeys") {
          // drops = the FULL accumulated tombstone sidecar, so a base merge
          // purges every dead version written since the last compaction
          keyDirs = tieredFold(spark, m.frontierKeyDirs, Seq(addKeyDir),
            remDirs, frontierKeyDir, frontierKeyL1Dir, cfg,
            keepMaxAuxPerHash = false)
        }
        // this round's raw tombstone run is ephemeral once folded (never
        // committed; older manifests reference only committed fold dirs).
        // rm == 0: the seen pass still mkdir'd an EMPTY remDir that no
        // manifest will ever reference — remove it or a zero-tombstone
        // round (e.g. whole-frontier backoff deferral) leaks one orphan dir
        // per round forever
        if (rm == 0 || !remDirs.contains(remDir)) Fs.delete(remDir)
      }
      if (a > 0) Fs.delete(addKeyDir) // ephemeral: superseded either way
      (a, rm, keyDirs, remDirs, willCompact)
    }
    // metrics (A2 analog + north-rule politeness-wait): fully distributed —
    // ONE per-host aggregate over the decided candidates and the round's
    // attempts, written without ever materializing O(hosts) rows on the
    // driver (web scale: 10^7+ hosts). Fetch-outcome hosts are always a
    // subset of eligible hosts, so the union adds no host; minIntervalMs is
    // one policy value per host (attempt rows carry null).
    val metricsDir = s"$outDir/metrics/r$r"
    val metricsF = Future(ph("metrics") {
      decided.select($"host", lit(1L).as("c"),
          when($"blocked", 1L).otherwise(0L).as("b"), $"minIntervalMs",
          lit(0L).as("o"), lit(0L).as("f"))
        .unionByName(results.select($"host", lit(0L).as("c"), lit(0L).as("b"),
          lit(null).cast("int").as("minIntervalMs"),
          when($"ok", 1L).otherwise(0L).as("o"),
          when(!$"ok", 1L).otherwise(0L).as("f")))
        .groupBy($"host").agg(sum($"c").as("candidates"),
          sum($"b").as("robotsBlocked"), max($"minIntervalMs").as("minIntervalMs"),
          sum($"o").as("fetchedOk"), sum($"f").as("failed"))
        .select(thisRound.as("round"), $"host", $"candidates",
          lit(0L).as("seenDropped"), $"robotsBlocked",
          ($"fetchedOk" + $"failed").as("scheduled"), $"fetchedOk", $"failed",
          ($"candidates" - $"robotsBlocked" - $"fetchedOk" - $"failed")
            .as("deferred"),
          (($"candidates" - $"robotsBlocked" - $"fetchedOk" - $"failed") *
            $"minIntervalMs".cast("long")).as("politenessWaitMs"))
        .write.mode("overwrite").parquet(metricsDir)
    })

    // every tail job has finished (failed or not) before the round returns
    // or throws: no sibling keeps writing state behind a failed round
    awaitAll(Seq(seenF, addsF, foldF, metricsF))
    val (newSeenDirs, newSeenKeyDirs, newSeenCount) =
      Await.result(seenF, Duration.Inf)
    val (addCount, remCount, foldKeyDirs, foldRemDirs, compactFrontier) =
      Await.result(foldF, Duration.Inf)

    // a local checkpoint keeps its blocks until they are released
    checkpoint.queryExecution.logical match {
      case l: LogicalRDD => org.apache.spark.graft.CheckpointBlocks.release(l.rdd)
      case _ =>
    }
    truncatedSched.foreach(_.unpersist())

    // frontier delta-log bookkeeping: append only non-empty dirs; LIVE
    // count is pure arithmetic (adds and tombstones are disjoint exact
    // versions). LSM major compaction every cfg.compactEvery add deltas
    // rewrites the live set once (amortized 1/compactEvery of the frontier
    // per round vs the round-2 design's 1× EVERY round) and clears the
    // tombstone log. foldF decided whether it is due (and skipped its folds).
    val grownAddDirs =
      if (addCount > 0) m.frontierAddDirs :+ addDir else m.frontierAddDirs
    val liveCount = m.frontierCount + addCount - remCount
    val deadCount = m.frontierDeadCount + remCount
    val (newAddDirs, newKeyDirs, newRemDirs, newFrontierCount, newDeadCount) =
      if (compactFrontier) ph("compactFrontier") {
        val compactDir = s"$outDir/frontier/compact-r$r"
        // foldF skipped every fold on a compacting round, so foldRemDirs is
        // the accumulated fold run plus this round's raw tombstone run —
        // exactly what readFrontier needs to resolve the full add log
        val mGrown = m.copy(frontierAddDirs = grownAddDirs,
          frontierKeyDirs = foldKeyDirs, frontierRemDirs = foldRemDirs,
          frontierCount = liveCount, frontierDeadCount = deadCount)
        // addedSeq values are PRESERVED: future tombstones reference them
        readFrontier(spark, mGrown)
          .write.mode("overwrite").parquet(compactDir)
        val compactCount = Fs.parquetRowCount(compactDir)
        val compactKeyDir = s"$outDir/frontier_keys/compact-r$r"
        writeFrontierKeys(spark, compactDir, compactCount, compactKeyDir, cfg.numBuckets)
        // this round's raw tombstone run was only needed by the compaction
        // read above and no manifest ever references it — drop it
        // unconditionally: with remCount == 0 the seen pass still made it
        Fs.delete(remDir)
        (Vector(compactDir), Vector(compactKeyDir), Vector.empty[String],
          compactCount, 0L)
      } else (grownAddDirs, foldKeyDirs, foldRemDirs, liveCount, deadCount)

    val totalScheduled = m.totalScheduled + schedCount
    Snapshot.Manifest(
      snapshotId = m.snapshotId + 1,
      parentId = m.snapshotId,
      round = r,
      totalScheduled = totalScheduled,
      frontierAddDirs = newAddDirs,
      frontierKeyDirs = newKeyDirs,
      frontierRemDirs = newRemDirs,
      seenDirs = newSeenDirs,
      seenKeyDirs = newSeenKeyDirs,
      fetchedDirs = if (fetchedOkCount > 0) m.fetchedDirs :+ attemptsDir else m.fetchedDirs,
      scheduleDirs = if (schedCount > 0) m.scheduleDirs :+ attemptsDir else m.scheduleDirs,
      metricsDirs = m.metricsDirs :+ metricsDir,
      frontierCount = newFrontierCount,
      frontierDeadCount = newDeadCount,
      seenCount = newSeenCount,
      fetchedCount = m.fetchedCount + fetchedOkCount,
      done = totalScheduled >= cfg.maxResults || newFrontierCount == 0L,
      buckets = cfg.numBuckets)
  }

  /** Wait for EVERY future, then rethrow the first failure in argument
    * order. `Await`ing them one by one would throw at the first failed one
    * while its siblings keep writing state after the caller has moved on.
    */
  private[engine] def awaitAll(fs: Seq[scala.concurrent.Future[Any]]): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.foreach(_.value.foreach(_.get))
  }

  /** Write the seen stamps of `rows` `(urlHash, hostBucket, seenRound,
    * aux)` as the hostBucket-partitioned parquet `dir` (one bucket per task,
    * so one file per bucket dir), newest stamp per key; the same tasks
    * write each bucket's sidecars ([[RoundSidecars]]). Returns the parquet
    * row count (footers, no job).
    */
  private def writeSeen(rows: DataFrame, dir: String, numBuckets: Int,
      sidecars: RoundSidecars): Long = {
    rows.select("urlHash", "hostBucket", "seenRound", "aux")
      .repartition(numBuckets, col("hostBucket"))
      .mapPartitions(sidecars.merge)(Encoders.row(seenSchema))
      .write.mode("overwrite").partitionBy("hostBucket").parquet(dir)
    sidecars.finish()
    Fs.parquetRowCount(dir)
  }

  /** Frontier major compaction is due when the ADD-delta-dir count reaches
    * cfg.compactEvery (tombstone dirs no longer push the trigger: they stay
    * folded to ≤ 1 run, so their read cost is flat between compactions) —
    * OR when the add log is majority-dead. The dir-count trigger alone has
    * a hole: a removal-only drain (large backlog scheduled down with no
    * fresh discoveries — addCount = 0 every round) never grows the add-dir
    * count, so the frontier scan would re-read the FULL dead add log every
    * round for the entire drain. deadRows > liveRows caps that: each
    * majority-dead compaction rewrites liveRows ≤ deadRows = tombstones
    * accumulated since the last compaction, so total rewrite work over a
    * crawl is ≤ 2× total tombstones — amortized O(1) per scheduled URL —
    * while the scanned add log stays < 2× live (above the
    * cfg.drainCompactMinDead floor: tiny dead sets scan for free and are
    * not worth a rewrite). Both counts are manifest arithmetic (no footer
    * read). Evaluated once per round, in the round tail's fold future; the
    * fold skip and the compaction branch both act on that one answer.
    * liveRows > 0: the dead trigger exists to keep
    * FUTURE frontier scans cheap, and a live count of 0 marks the crawl
    * done on this very commit — rewriting the whole add log into an empty
    * compact dir that nothing will ever read is pure terminal waste.
    */
  private def frontierCompactionDue(cfg: CrawlConfig, addDirCount: Int,
      deadRows: Long, liveRows: Long): Boolean =
    addLogFull(cfg, addDirCount) ||
      (liveRows > 0 && deadRows > liveRows &&
        deadRows >= cfg.drainCompactMinDead)

  /** The add-dir count trigger of [[frontierCompactionDue]], on its own:
    * the round tail skips the add-key run when it already fires.
    */
  private def addLogFull(cfg: CrawlConfig, addDirCount: Int): Boolean =
    addDirCount >= cfg.compactEvery

  /** Tiered (DRUM-style two-level) key-run fold — the per-round sidecar
    * maintenance that replaces r4's full-state rewrite (r4 verdict "What's
    * missing #1": folding base+delta into one run every round rewrites the
    * whole ~120 GB key state per wide round at the 10^10 design point).
    *
    * Each round folds its delta into a small L1 run (O(L1+delta) bytes);
    * L1 merges into the base run only when L1 ≥ base/cfg.l1MergeDenom
    * (byte sizes from a driver-side listing, no data read), so per-round
    * write amplification is bounded by state/l1MergeDenom while every
    * probe touches ≤ 2 runs — [[ProbeExpr]] configs already take dir
    * lists. `dropDirs` is a size optimization here, never correctness:
    * the member probe consults the folded tombstone run regardless.
    *
    * @return the new keyDirs vector: [base] after a merge, else [base, l1]
    */
  private def tieredFold(
      spark: SparkSession,
      keyDirs: Vector[String],
      deltaDirs: Seq[String],
      dropDirs: Seq[String],
      baseOut: String,
      l1Out: String,
      cfg: CrawlConfig,
      keepMaxAuxPerHash: Boolean,
      minLiveAux: Int = Int.MinValue): Vector[String] = {
    val base = keyDirs.headOption
    val l1 = keyDirs.lift(1)
    val l1Bytes = l1.map(Fs.dirBytes).getOrElse(0L) + deltaDirs.map(Fs.dirBytes).sum
    base match {
      case Some(b) if l1Bytes * cfg.l1MergeDenom < Fs.dirBytes(b) =>
        KeyLog.fold(spark, l1, deltaDirs, dropDirs, l1Out, cfg.numBuckets,
          keepMaxAuxPerHash, minLiveAux)
        Vector(b, l1Out)
      case _ => // no base yet, or L1 reached the merge threshold
        KeyLog.fold(spark, base, l1.toSeq ++ deltaDirs, dropDirs, baseOut,
          cfg.numBuckets, keepMaxAuxPerHash, minLiveAux)
        Vector(baseOut)
    }
  }
}

/** Executor-side synthetic fetcher (S1 analog: `_make_request`,
  * medcrawler/base.py:256-341). The one non-Catalyst step of a round — pure
  * side-effect-free deterministic I/O stand-in; failures are data, not
  * exceptions (ref: gather(return_exceptions=True), medcrawler/base.py:408).
  */
object Fetcher {
  def fetchOne(spec: CorpusSpec, t: CrawlEngine.FetchTask, round: Int,
      startAtMs: Long = 0L): FetchResult = {
    def fail(kind: String, retryAfter: Int) =
      FetchResult(t.canonUrl, t.canonUrl, t.urlHash, t.host, t.hostBucket,
        t.depth, t.priority, t.seedId, t.path, t.attempt, round, ok = false,
        kind, retryAfter, Array.emptyByteArray, 0, 0, "", "", 0L, Seq.empty,
        startAtMs)
    // 429-analog checked FIRST: a rate-limited server rejects the request
    // before the URL's own status is observable (no retry-attempt burn)
    val rl = SynthCorpus.rateLimitDefer(spec, t.host, round)
    if (rl > 0) fail("ratelimited", rl)
    else SynthCorpus.fetch(spec, t.canonUrl, t.attempt) match {
      case Some(img) =>
        FetchResult(t.canonUrl, t.canonUrl, t.urlHash, t.host, t.hostBucket,
          t.depth, t.priority, t.seedId, t.path, t.attempt, round, ok = true,
          "", 0, img.bytes, img.w, img.h, img.fmt, img.caption, img.phash,
          SynthCorpus.outlinks(spec, t.canonUrl), startAtMs)
      case None =>
        val kind =
          if (SynthCorpus.failAttempts(spec, t.canonUrl) >= SynthCorpus.PermanentFail)
            "permanent"
          else "transient"
        fail(kind, 0)
    }
  }

  /** Wall-clock-paced fetch of one partition: consecutive fetch STARTS
    * against the same host are spaced ≥ that host's minIntervalMs apart
    * (ref: `_rate_limit` sleeping to honor min_interval,
    * medcrawler/base.py:266-280). The per-host last-start clock is
    * partition-local — callers must route ALL of a host's tasks to one
    * partition. Timestamps come from the monotonic nanoTime clock, recorded
    * in FetchResult.fetchedAtMs so the spacing is auditable from the
    * attempts log.
    */
  def paced(spec: CorpusSpec, it: Iterator[CrawlEngine.FetchTask],
      round: Int): Iterator[FetchResult] = {
    val lastStartNs = new java.util.HashMap[String, Long]()
    it.map { t =>
      val prev = lastStartNs.getOrDefault(t.host, Long.MinValue)
      if (prev != Long.MinValue) {
        val target = prev + t.minIntervalMs * 1000000L
        var now = System.nanoTime()
        while (now < target) {
          Thread.sleep(math.max(1L, (target - now) / 1000000L))
          now = System.nanoTime()
        }
      }
      val start = System.nanoTime()
      lastStartNs.put(t.host, start)
      fetchOne(spec, t, round, start / 1000000L)
    }
  }
}
