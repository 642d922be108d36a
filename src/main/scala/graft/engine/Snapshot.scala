package graft.engine

import org.json4s.{DefaultFormats, Formats, JInt, JNothing, JObject}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Minimal Iceberg-style snapshot log over Parquet.
  *
  * No Iceberg jars exist in /opt/spark/jars (offline coursier), so the table
  * format is emulated with the same guarantees the north rule relies on:
  *   - atomic commit: data files are written first, then the manifest JSON is
  *     written to a temp file and renamed to `meta/v{N}.json` — readers only
  *     ever see fully-committed snapshots (Iceberg's metadata-swap commit);
  *   - parent chain: each manifest records its parent snapshot id;
  *   - exact resume: the manifest carries every state pointer a crawl round
  *     needs (frontier add/removal log, seen delta dirs + key sidecars,
  *     fetched/schedule/metrics delta dirs, round counter, scheduled-budget
  *     counter). The URL-seen filter is part of the seen key runs
  *     ([[KeyLog]] format 2), so it commits with them;
  *   - snapshot expiry: superseded state dirs older than `retain` commits
  *     are deleted (ref analog: oldest-first TTL cache eviction,
  *     medcrawler/base.py:82-86).
  *
  * All manifest I/O goes through the Hadoop `FileSystem` API ([[Fs]]) so the
  * log works against local disk, HDFS, or S3A unchanged.
  *
  * Ref analog of the whole log: the TTL result cache + incremental seen-set
  * accretion (medcrawler/base.py:52-93) — fetch-once semantics persisted.
  */
object Snapshot {

  /** @param frontierAddDirs append-only frontier ADD deltas (parquet,
    *                    FrontierEntry columns + addedSeq = writing round);
    *                    the live frontier = union of adds minus tombstones
    * @param frontierKeyDirs [[KeyLog]] membership runs over ALL the adds
    *                    (aux = addedSeq), tiered-folded: base + ≤ 1 L1 run
    * @param frontierRemDirs [[KeyLog]] tombstone runs — exact
    *                    (urlHash, addedSeq) versions removed; tiered-folded
    * @param seenDirs    queryable parquet seen deltas (hostBucket-partitioned)
    * @param seenKeyDirs [[KeyLog]] runs — the exact-probe sidecar over ALL
    *                    the seen deltas, tiered-folded: base + ≤ 1 L1 run
    * @param frontierCount LIVE frontier size (adds minus removals,
    *                    re-baselined exactly at compaction)
    * @param frontierDeadCount tombstoned rows still physically present in
    *                    the add log (every tombstone kills exactly one
    *                    add-log row; compaction clears both, so this is
    *                    Σ removals since the last frontier compaction).
    *                    Pure arithmetic — no footer read. Drives the
    *                    majority-dead compaction trigger
    *                    ([[CrawlEngine.frontierCompactionDue]]): a
    *                    removal-only drain never grows the add-DIR count,
    *                    so without this the frontier scan would re-read
    *                    the full dead add log every round for the whole
    *                    drain. 0 when absent (pre-field manifests)
    * @param seenCount   cumulative seen-stamp count between compactions (a TTL
    *                    refetch re-stamps the same URL); re-baselined to the
    *                    exact distinct-key count at each compaction
    * @param fmt         manifest layout format; [[CrawlEngine.resume]]
    *                    refuses a layout older than [[Snapshot.Fmt]]. A
    *                    manifest with no `fmt` field reads as 1
    * @param buckets     numBuckets the key sidecars were written with.
    *                    Probes compute hostBucket = pmod(hash, buckets), so
    *                    resuming with a DIFFERENT cfg.numBuckets silently
    *                    misses every membership probe (refetch storm,
    *                    frontier duplicates) — resume fails loudly on
    *                    mismatch instead. 0 only in a manifest older
    *                    than the field, whose `fmt` resume refuses
    */
  case class Manifest(
      snapshotId: Int,
      parentId: Int, // -1 for the first snapshot
      round: Int, // round that PRODUCED this snapshot (-1 = initial)
      totalScheduled: Long,
      frontierAddDirs: Vector[String],
      frontierKeyDirs: Vector[String],
      frontierRemDirs: Vector[String],
      seenDirs: Vector[String],
      seenKeyDirs: Vector[String],
      fetchedDirs: Vector[String],
      scheduleDirs: Vector[String],
      metricsDirs: Vector[String],
      frontierCount: Long,
      seenCount: Long,
      fetchedCount: Long,
      done: Boolean,
      fmt: Int = Snapshot.Fmt,
      buckets: Int = 0,
      frontierDeadCount: Long = 0L)

  /** Current manifest layout format (see [[Manifest.fmt]]): 3 since the
    * URL-seen filter moved from per-bucket `bloom/` files into the key runs.
    */
  val Fmt = 3

  private def metaDir(root: String): String = s"$root/meta"

  def commit(root: String, m: Manifest): Unit = {
    Fs.mkdirs(metaDir(root))
    Fs.writeAtomic(s"${metaDir(root)}/v${m.snapshotId}.json",
      toJson(m).getBytes("UTF-8"))
  }

  private def versions(root: String): Vector[Int] =
    Fs.list(metaDir(root))
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt
      }
      .sorted

  /** Latest committed snapshot, if any. Ignores torn .tmp files. */
  def latest(root: String): Option[Manifest] = {
    val vs = versions(root)
    if (vs.isEmpty) None else Some(read(root, vs.max))
  }

  def read(root: String, id: Int): Manifest =
    fromJson(new String(Fs.readAllBytes(s"${metaDir(root)}/v$id.json"), "UTF-8"))

  /** Expire snapshots older than `retain` generations, Iceberg-style:
    * delete their frontier dirs plus any seen-delta / key-run dirs no
    * longer referenced by a retained manifest. Like Iceberg's
    * expire_snapshots, time-travel to an expired snapshot is no longer
    * guaranteed (its state files may be gone if superseded by compaction);
    * the attempts/metrics DATA outputs are never touched. Key-run dirs share
    * unchanged bucket runs via hard links, so deleting a superseded dir only
    * unlinks.
    */
  def expire(root: String, retain: Int = 3): Unit = {
    val vs = versions(root)
    val retained = vs.takeRight(retain).map(read(root, _))
    val referenced: Set[String] = retained.flatMap(stateDirs).toSet
    vs.dropRight(retain).foreach { id =>
      stateDirs(read(root, id))
        .filterNot(referenced.contains)
        .foreach { d => if (Fs.exists(d)) Fs.delete(d) }
    }
  }

  /** Every state dir a manifest references that expiry may reclaim once
    * unreferenced (parquet DATA outputs — attempts, metrics — are kept).
    */
  private def stateDirs(m: Manifest): Vector[String] =
    m.frontierAddDirs ++ m.frontierKeyDirs ++ m.frontierRemDirs ++
      m.seenDirs ++ m.seenKeyDirs

  private implicit val formats: Formats = DefaultFormats

  def toJson(m: Manifest): String = Serialization.write(m)

  def fromJson(json: String): Manifest = {
    val v = JsonMethods.parse(json)
    // absent in the first layout: 1 lets resume refuse it
    val withFmt = if (v \ "fmt" == JNothing) v.merge(JObject("fmt" -> JInt(1))) else v
    withFmt.extract[Manifest]
  }
}
