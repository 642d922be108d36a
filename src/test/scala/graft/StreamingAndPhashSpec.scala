package graft

import graft.operators.{ImageOps, RelationalOps, StreamingOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingAndPhashSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    Session.builder(4).appName("streaming-phash-spec").getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("streaming windowed agg ≡ batch windowed agg (same rows)") {
    // compare stringified rows: NTZ columns collect as LocalDateTime from
    // the streaming path and as Timestamp from the batch path (same instant)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => r.toSeq.map {
        case t: java.sql.Timestamp => t.toLocalDateTime.toString
        case t: java.time.LocalDateTime => t.toString
        case v => String.valueOf(v)
      }.mkString("|")).toSet
    val stream = rows(StreamingOps.streamEventWindow(spark, dir))
    val batch = rows(RelationalOps.qEventWindow(spark, dir))
    assert(stream == batch)
  }

  test("streaming windowed agg accumulates across MULTIPLE micro-batches") {
    // The static-input test above processes everything in one micro-batch;
    // here the events table is ingested in 3 chunks split by event_id (NOT
    // by time, so every chunk feeds rows into already-open windows) and the
    // final Complete-mode result must still equal the batch answer — the
    // cross-batch aggregation-state path is what's exercised. (Complete
    // mode keeps all window state; the watermark never evicts it.)
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("stream-inc").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val stream = spark.readStream.schema(ev.schema).parquet(src)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("bigint")).as("value_cents"))
    val q = agg.writeStream.format("memory").queryName("inc_win")
      .outputMode("complete").start()
    try {
      for (i <- 0 until 3) {
        ev.where(pmod($"event_id", lit(3)) === i)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      }
      assert(q.recentProgress.map(_.batchId).max >= 2,
        "ingest collapsed into fewer than 3 micro-batches")
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => r.toSeq.map {
        case t: java.sql.Timestamp => t.toLocalDateTime.toString
        case t: java.time.LocalDateTime => t.toString
        case v => String.valueOf(v)
      }.mkString("|")).toSet
    val streamed = rows(spark.table("inc_win")
      .select($"win.start".cast("timestamp_ntz").as("hour"), $"event_type",
        $"n", $"value_cents"))
    val batch = rows(RelationalOps.qEventWindow(spark, dir))
    assert(streamed == batch)
  }

  test("stream-static enrichment join ≡ batch join, accumulated across " +
      "multiple micro-batches") {
    // the dimension is static and re-planned per micro-batch; splitting the
    // stream side into 3 chunks exercises the cross-batch agg state over
    // the joined rows (DuckDB's independent 3-table oracle gates values)
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("stream-enrich").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // the operator's OWN dim + agg expressions (shared helpers — the test
    // cannot drift from what streamEnrich actually computes)
    val dim = StreamingOps.enrichDim(spark, dir)
    val stream = spark.readStream.schema(ev.schema).parquet(src)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = StreamingOps.enrichAgg(stream, dim)
    val q = agg.writeStream.format("memory").queryName("inc_enrich")
      .outputMode("complete").start()
    try {
      for (i <- 0 until 3) {
        ev.where(pmod($"event_id", lit(3)) === i)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      }
      assert(q.recentProgress.map(_.batchId).max >= 2,
        "ingest collapsed into fewer than 3 micro-batches")
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long)] =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val streamed = rows(spark.table("inc_enrich")
      .select($"n_name", $"event_type", $"n", $"value_cents"))
    val batch = rows(StreamingOps.enrichAgg(ev, dim)
      .select($"n_name", $"event_type", $"n", $"value_cents"))
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.map(_._1).size >= 2,
      "enrichment should span multiple nations")
  }

  test("streaming ingest dedup: duplicate micro-batches collapse to the " +
      "single-copy aggregate via cross-batch keyed state") {
    import spark.implicits._
    // drive the OPERATOR'S OWN ingest shape (shared helper) so the
    // micro-batch count assertion gates streamDedup, not a test copy
    val src = java.nio.file.Files.createTempDirectory("stream-dedup-spec")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val q = StreamingOps.dedupIngest(spark, dir, src)
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.map(_.batchId).max >= 1,
        "double ingest collapsed into one micro-batch")
    } finally q.stop()
    assert(spark.table("inc_dedup").count() == ev.count(),
      "cross-batch dedup state leaked duplicates (or dropped rows)")
    // and the operator itself ≡ the single-copy batch aggregate
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(StreamingOps.streamDedup(spark, dir))
    val batch = rows(ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("bigint")).as("value_cents")))
    assert(got == batch)
  }

  test("streaming sessionization: per-user event counts are conserved") {
    val sessions = StreamingOps.streamSessionize(spark, dir)
    val perUser = sessions.groupBy("user_id")
      .agg(sum("n_events").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val events = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perUser == events)
    // sessions are ordered: start <= end per session (NTZ → LocalDateTime)
    sessions.collect().foreach { r =>
      val s = r.getAs[java.time.LocalDateTime](3)
      val e = r.getAs[java.time.LocalDateTime](4)
      assert(!s.isAfter(e))
    }
  }

  test("phash near-dup: 10^5-scale low-entropy chunk bucket stays sub-quadratic " +
    "and lossless (judge r3 #2)") {
    import spark.implicits._
    // the aHash smooth-image pathology: EVERY hash shares chunk 0 (0x0000),
    // so the raw pigeonhole join would self-join one bucket of n rows —
    // n(n-1)/2 ≈ 2·10^8 candidate pairs. The capped multi-index split must
    // keep candidates near the secondary-collision expectation
    // (~3·17/65536 of the pair space ≈ 156k) and still find every true
    // hamming≤3 pair.
    val n = 20000
    val base = (0 until n).map { i =>
      val rng = new java.util.SplittableRandom(i * 7919L + 13L)
      (i.toLong, rng.nextLong() & 0xffffffffffff0000L) // chunk0 pinned to 0
    }
    // plant 50 true near-dup partners: j flips 1-3 bits of base(j)'s hash,
    // half inside the overfull chunk (partner leaves the big bucket — the
    // pair must be found via chunks 1..3), half in the other chunks (pair
    // stays inside the big bucket — the secondary multiprobe must find it)
    val planted = (0 until 50).map { j =>
      val rng = new java.util.SplittableRandom(j * 104729L + 7L)
      val flips = 1 + rng.nextInt(3)
      val lo = if (j % 2 == 0) 0 else 16 // chunk0 bits vs chunks 1..3 bits
      val hi = if (j % 2 == 0) 16 else 64
      var ph = base(j)._2
      (0 until flips).foreach(_ => ph ^= 1L << (lo + rng.nextInt(hi - lo)))
      (1000000L + j, ph)
    }
    val df = (base ++ planted).toDF("id", "ph")
    val cap = 2048
    val cands = ImageOps.phashCandidates(df, "id", "ph", bucketCap = cap)
      .persist()
    val cnt = cands.count()
    val naive = n.toLong * (n - 1) / 2
    assert(cnt < 1500000,
      s"candidate blowup: $cnt pairs from an overfull bucket (naive = $naive)")
    val found = ImageOps.phashNearDup(df, "id", "ph", maxDist = 3, bucketCap = cap)
      .select("img_a", "img_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.zipWithIndex.foreach { case ((pid, ph), j) =>
      val d = java.lang.Long.bitCount(ph ^ base(j)._2)
      if (d >= 1 && d <= 3) // repeated flips of one bit can cancel out
        assert(found.contains((base(j)._1, pid)),
          s"planted pair ($j, $pid) at hamming $d missed")
    }
    cands.unpersist(): Unit
  }

  test("img_phash_neardup (oracled twin) ≡ brute force over the documents table") {
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      // MUST mirror ImageOps.imgPhashNearDup's synthesis exactly, incl.
      // the % 1000000 group wrap that keeps the product below 2^63
      .selectExpr("doc_id",
        "((doc_id div 7) % 1000000) * 8796093025688L + (doc_id % 7) AS ph")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      a <- rows; b <- rows
      if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2)
      if h <= 3
    } yield (a._1, b._1, h)).toSet
    val got = ImageOps.imgPhashNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute, s"got=${got.size} brute=${brute.size}")
    assert(brute.nonEmpty, "synthetic phash groups must yield near-dup pairs")
  }

  test("curate_images ≡ an independent recomputation of the full funnel " +
      "(decode gate, size/aspect, union-find canonicals, per-host cap)") {
    import graft.core.{CorpusSpec, CrawlConfig}
    import graft.engine.CrawlEngine
    // independent reference: rerun the SAME deterministic crawl, then redo
    // every stage with plain JVM code (ImageIO, brute pairs, union-find,
    // sort) — no Spark operators shared with the implementation.
    // ttlRounds = 3 makes early fetches expire and refetch within the 10
    // rounds, so the newest-round-wins TTL dedup stage is really exercised
    val spec = CorpusSpec(numHosts = 5, pagesPerHost = 25)
    val cfg = CrawlConfig(maxResults = 60, maxRounds = 10, numBuckets = 8,
      ttlRounds = 3)
    val out = java.nio.file.Files.createTempDirectory("curate-ref").toString
    val res = CrawlEngine.run(spark, spec, spec.defaultSeeds(2), cfg, out)
    case class Img(id: String, host: String, w: Int, h: Int,
        phash: Long, priority: Double)
    val fetched = res.fetched(spark)
      .select("image_id", "bytes", "w", "h", "phash", "priority", "round")
      .collect()
    assert(fetched.map(_.getString(0)).distinct.length < fetched.length,
      "TTL config must produce refetched (duplicate-id) rows")
    val newest = fetched.groupBy(_.getString(0)).values
      .map(_.maxBy(_.getInt(6))).toArray
    val survivors = newest.flatMap { r =>
      val (id, bytes) = (r.getString(0), r.getAs[Array[Byte]](1))
      val (w, h, ph) = (r.getInt(2), r.getInt(3), r.getLong(4))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val decodeOk = img != null && img.getWidth == w && img.getHeight == h
      val phashOk = graft.core.SynthCorpus.phash64(bytes) == ph
      val sizeOk = w >= graft.operators.ImageOps.CurateMinEdge &&
        h >= graft.operators.ImageOps.CurateMinEdge &&
        math.max(w, h) <= math.min(w, h) * graft.operators.ImageOps.CurateMaxAspect
      if (decodeOk && phashOk && sizeOk)
        Some(Img(id, new java.net.URI(id).getHost, w, h, ph,
          r.getDouble(5)))
      else None
    }
    graft.engine.Fs.deleteLocalDir(new java.io.File(out))
    assert(survivors.length < newest.length,
      "size gate must prune (threshold sits inside the dim distribution)")
    // components over brute hamming<=3 pairs among survivors
    val pairs = for {
      a <- survivors.toSeq; b <- survivors.toSeq
      if a.id < b.id && java.lang.Long.bitCount(a.phash ^ b.phash) <= 3
    } yield (a.id, b.id)
    val comp = TestGraph.components(pairs)
    // keeper ⟺ component min (an unpaired id is its own trivial component)
    val canonical = survivors.filter(i => comp.getOrElse(i.id, i.id) == i.id)
    val expected = canonical.groupBy(_.host).toSeq.flatMap { case (h, is) =>
      is.sortBy(i => (-i.priority, i.id))
        .take(graft.operators.ImageOps.CurateHostCap)
        .zipWithIndex
        .map { case (i, k) => (i.id, h, i.w, i.h, i.phash, k + 1) }
    }.toSet
    val got = graft.operators.ImageOps.curateImagesOver(spark, spec, cfg)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getInt(5))).toSet
    assert(got == expected,
      s"funnel drifted: extra=${got -- expected}, missing=${expected -- got}")
    assert(pairs.nonEmpty, "near-dup stage must be exercised")
    assert(expected.size < canonical.length || canonical.length < survivors.length,
      "at least one late stage must prune")
  }

  test("img_phash_clusters matches an independent union-find over the " +
      "verified phash pair graph") {
    val pairs = ImageOps.imgPhashNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = TestGraph.canonicalClusters(pairs)
    val got = ImageOps.imgPhashClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == expected,
      s"clusters drifted: extra=${got -- expected}, missing=${expected -- got}")
    assert(expected.exists(_._3 >= 3), "no multi-node cluster among pairs")
  }

  test("phash pigeonhole bucketing finds EXACTLY the brute-force hamming<=3 pairs") {
    import spark.implicits._
    // derive a phash table from a small deterministic crawl
    val df = ImageOps.crawlSmoke(spark, dir).select($"image_id", $"phash")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    val brute = (for {
      a <- rows; b <- rows
      if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2)
      if h <= 3
    } yield (a._1, b._1, h)).toSet
    val lsh = ImageOps.phashNearDup(df, "image_id", "phash", maxDist = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(lsh == brute, s"lsh=${lsh.size} brute=${brute.size}")
    assert(brute.nonEmpty, "corpus should contain near-dup phashes")
  }
}
