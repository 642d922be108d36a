package graft.engine

/** Minimal Iceberg-style snapshot log over Parquet.
  *
  * No Iceberg jars exist in /opt/spark/jars (offline coursier), so the table
  * format is emulated with the same guarantees the north rule relies on:
  *   - atomic commit: data files are written first, then the manifest JSON is
  *     written to a temp file and renamed to `meta/v{N}.json` — readers only
  *     ever see fully-committed snapshots (Iceberg's metadata-swap commit);
  *   - parent chain: each manifest records its parent snapshot id;
  *   - exact resume: the manifest carries every state pointer a crawl round
  *     needs (frontier add/removal log, seen delta dirs + key sidecars, bloom
  *     sidecar, fetched/schedule/metrics delta dirs, round counter,
  *     scheduled-budget counter);
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
    *                    refuses a layout older than [[Snapshot.Fmt]]
    * @param buckets     numBuckets the key sidecars + bloom were written
    *                    with. Probes compute hostBucket = pmod(hash, buckets),
    *                    so resuming with a DIFFERENT cfg.numBuckets silently
    *                    misses every membership probe (refetch storm, frontier
    *                    duplicates) — resume fails loudly on mismatch instead.
    *                    0 = written by a pre-buckets build (unknown; resume
    *                    accepts and the next commit stamps it)
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
      bloomDir: String,
      frontierCount: Long,
      seenCount: Long,
      fetchedCount: Long,
      done: Boolean,
      fmt: Int = Snapshot.Fmt,
      buckets: Int = 0,
      frontierDeadCount: Long = 0L)

  /** Current manifest layout format (see [[Manifest.fmt]]). */
  val Fmt = 2

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
    * delete their frontier dirs plus any seen-delta / bloom dirs no longer
    * referenced by a retained manifest. Like Iceberg's expire_snapshots,
    * time-travel to an expired snapshot is no longer guaranteed (its state
    * files may be gone if superseded by compaction); the attempts/metrics
    * DATA outputs are never touched. Bloom dirs share unchanged bucket
    * files via hard links, so deleting a superseded dir only unlinks.
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
    Vector(m.bloomDir) ++ m.frontierAddDirs ++ m.frontierKeyDirs ++
      m.frontierRemDirs ++ m.seenDirs ++ m.seenKeyDirs

  // --- tiny hand-rolled JSON (flat schema, controlled strings) ---

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def arr(v: Vector[String]): String = v.map(q).mkString("[", ",", "]")

  def toJson(m: Manifest): String =
    s"""{"snapshotId":${m.snapshotId},"parentId":${m.parentId},"round":${m.round},
       |"totalScheduled":${m.totalScheduled},
       |"frontierAddDirs":${arr(m.frontierAddDirs)},
       |"frontierKeyDirs":${arr(m.frontierKeyDirs)},
       |"frontierRemDirs":${arr(m.frontierRemDirs)},
       |"seenDirs":${arr(m.seenDirs)},"seenKeyDirs":${arr(m.seenKeyDirs)},
       |"fetchedDirs":${arr(m.fetchedDirs)},
       |"scheduleDirs":${arr(m.scheduleDirs)},"metricsDirs":${arr(m.metricsDirs)},
       |"bloomDir":${q(m.bloomDir)},"frontierCount":${m.frontierCount},
       |"frontierDeadCount":${m.frontierDeadCount},
       |"seenCount":${m.seenCount},"fetchedCount":${m.fetchedCount},
       |"done":${m.done},"fmt":${m.fmt},"buckets":${m.buckets}}"""
      .stripMargin.replace("\n", "")

  def fromJson(json: String): Manifest = {
    // strings in this manifest are paths we wrote ourselves (no embedded
    // quotes), so a simple field scanner is sufficient and dependency-free
    def str(k: String): String = {
      val m = ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse(sys.error(s"manifest missing $k"))
    }
    def num(k: String): Long = {
      val m = ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(json)
      m.map(_.group(1).toLong).getOrElse(sys.error(s"manifest missing $k"))
    }
    def bool(k: String): Boolean =
      ("\"" + k + "\":(true|false)").r.findFirstMatchIn(json)
        .exists(_.group(1) == "true")
    def strArr(k: String): Vector[String] = {
      val m = ("\"" + k + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(json)
        .getOrElse(sys.error(s"manifest missing $k"))
      val body = m.group(1).trim
      if (body.isEmpty) Vector.empty
      else body.split(",").toVector.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
    Manifest(
      num("snapshotId").toInt, num("parentId").toInt, num("round").toInt,
      num("totalScheduled"), strArr("frontierAddDirs"),
      strArr("frontierKeyDirs"), strArr("frontierRemDirs"),
      strArr("seenDirs"), strArr("seenKeyDirs"),
      strArr("fetchedDirs"), strArr("scheduleDirs"), strArr("metricsDirs"),
      str("bloomDir"), num("frontierCount"), num("seenCount"),
      num("fetchedCount"), bool("done"),
      // absent in old manifests: 1 lets resume refuse the layout
      fmt = "\"fmt\":(-?\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(1),
      // absent in manifests written by pre-buckets builds (0 = unknown)
      buckets = "\"buckets\":(-?\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(0),
      // absent in older manifests: 0 resets the majority-dead trigger on
      // resume; at worst the first post-resume compaction waits for the
      // add-dir count the way every pre-field build did
      frontierDeadCount = "\"frontierDeadCount\":(-?\\d+)".r
        .findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L))
  }
}
