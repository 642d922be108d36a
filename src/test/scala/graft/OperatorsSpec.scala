package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the driver-facing operators. Value-level
  * correctness is gated by the driver's DuckDB oracle compare (and was
  * verified against duckdb for every oracleSql entry); these tests pin the
  * invariants that survive data regeneration plus plan-shape properties
  * (pushdown, broadcast).
  */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    Session.builder(4).appName("operators-spec").getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** Shared reference helpers. Locale.ROOT on the lowercase: Spark's
    * `lower()` is locale-independent, so a platform-default-locale
    * String.toLowerCase (tr-TR dotless-ı!) would make the references
    * diverge from the engine on some hosts.
    */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** JVM mirror of TextOps.normTokens (the pinned tokenization). */
  private def refNormTokens(t: String): Array[String] =
    refNormText(t).split(" ", -1)

  /** JVM mirror of the normalization core (lowercase/collapse/trim). */
  private def refNormText(t: String): String =
    t.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim

  test("every query runs and the SQL-oracled ones return rows") {
    val emptyOk = Set("q_anti_join") // allowed to be empty at tiny SF
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!name.startsWith("crawl_")) { // crawl queries covered below
        val n = fn(spark, dir).count()
        assert(emptyOk.contains(name) || n > 0, s"$name returned 0 rows")
      }
    }
  }

  test("corpus_mixture matches an independent per-language reference " +
      "(exact interpolated percentiles + integer mixture weights)") {
    import spark.implicits._
    val byLang = spark.read.parquet(s"$dir/documents.parquet")
      .select($"lang", $"text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (l, rows) => l -> rows.map(_._2).sorted }
    // PERCENTILE_CONT: rank = p*(N-1), linear interpolation — computed
    // here from first principles, independent of both engines
    def pct(v: Array[Long], p: Double): Double = {
      val rank = p * (v.length - 1)
      val (lo, hi) = (math.floor(rank).toInt, math.ceil(rank).toInt)
      val x = v(lo) + (rank - lo) * (v(hi) - v(lo))
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val totalDocs = byLang.values.map(_.length.toLong).sum
    val nLangs = byLang.size.toLong
    val expected = byLang.map { case (l, v) =>
      (l, v.length.toLong, v.sum, pct(v, 0.5), pct(v, 0.9),
        (10000L * totalDocs) / (nLangs * v.length))
    }.toSet
    val got = graft.operators.TextOps.corpusMixture(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).toSet
    assert(got == expected,
      s"mixture drifted: extra=${got -- expected}, missing=${expected -- got}")
    assert(expected.size >= 2, "corpus should span multiple languages")
    // plan shape: the only join is the intentional one-row broadcast of
    // the grand totals (BroadcastNestedLoopJoin over O(#languages) rows);
    // no shuffle join, no partition-less window
    val plan = graft.operators.TextOps.corpusMixture(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"unexpected shuffle join:\n$plan")
    assert(!plan.contains("Window"), s"partition-less window crept back:\n$plan")
  }

  test("dedup_spans matches an independent rolling-window md5 reference; " +
      "cross-doc duplicated spans exist and unique docs score zero") {
    import spark.implicits._
    val W = 16
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0),
        refNormTokens(r.getString(1))))
      .filter(_._2.length >= W)
    val grams = docs.flatMap { case (id, w) =>
      (0 to w.length - W).map(i => (id, md5hex(w.slice(i, i + W).mkString(" "))))
    }
    val dup = grams.groupBy(_._2)
      .filter(_._2.map(_._1).distinct.length >= 2).keySet
    val expected = grams.groupBy(_._1).map { case (id, gs) =>
      val d = gs.count(g => dup(g._2)).toLong
      (id, gs.length.toLong, d, d * 10000 / gs.length)
    }.toSet
    val q = graft.operators.TextOps.dedupSpans(spark, dir)
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected,
      s"span profile drifted: extra=${got -- expected}, missing=${expected -- got}")
    // the dup test is min/max (combinable) — the plan must carry no
    // distinct-expand and no cartesian
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    assert(!plan.contains("Expand"), s"distinct-style expand crept in:\n$plan")
    assert(expected.exists(_._3 > 0), "no cross-doc duplicated span found")
    assert(expected.exists(_._3 == 0), "no span-unique doc found")
  }

  test("text_familiarity matches an independent unigram-count reference; " +
      "vocab joins by broadcast") {
    import spark.implicits._
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0),
        refNormTokens(r.getString(1))))
    val vocab = toks.flatMap(_._2).groupBy(identity)
      .map { case (t, o) => t -> o.length.toLong }
    val nCorpus = vocab.values.sum
    val expected = toks.map { case (id, w) =>
      val sumFreq = w.map(vocab).sum
      (id, w.length.toLong, sumFreq,
        sumFreq * 1000000L / (w.length * nCorpus))
    }.toSet
    val q = graft.operators.TextOps.textFamiliarity(spark, dir)
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected,
      s"familiarity drifted: extra=${got -- expected}, missing=${expected -- got}")
    // the score must actually separate documents (corpus statistic, not a
    // constant), and the vocab join must be a broadcast, not a sort-merge
    assert(expected.map(_._4).size > 1, "fam_ppm is degenerate")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("text_pii matches an independent java.util.regex reference " +
      "(counts + redacted digest) and plans as a pure projection") {
    import spark.implicits._
    import graft.operators.TextOps
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").collect().map { r =>
        val (id, text) = (r.getLong(0), r.getString(1))
        // independent injection: plain Scala string building, no SQL
        val ptext = text +
          (if (id % 3 == 0) s" contact user$id@example.com" else "") +
          (if (id % 5 == 0) f" call +1 415 555 ${id % 10000}%04d" else "") +
          (if (id % 7 == 0) s" from 10.0.${id % 256}.${id * 7 % 256}" else "")
        def count(re: String, in: String) =
          re.r.findAllMatchIn(in).length.toLong
        // sequential precedence, counts on the prior stage's output —
        // mirrors the operator's redactions-performed semantics
        val t1 = ptext.replaceAll(TextOps.PiiEmailRe, "<EMAIL>")
        val t2 = t1.replaceAll(TextOps.PiiIpv4Re, "<IP>")
        val ne = count(TextOps.PiiEmailRe, ptext)
        val ni = count(TextOps.PiiIpv4Re, t1)
        val np = count(TextOps.PiiPhoneRe, t2)
        val redacted = t2.replaceAll(TextOps.PiiPhoneRe, "<PHONE>")
        (id, ne, np, ni, ne + np + ni, md5hex(redacted))
      }.toSet
    val q = graft.operators.TextOps.textPii(spark, dir)
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getString(5))).toSet
    assert(got == expected,
      s"pii profile drifted: extra=${got -- expected}, missing=${expected -- got}")
    // the gate must bite: every class matched somewhere, and some doc is
    // PII-free (so redaction is not a constant rewrite)
    assert(expected.exists(_._2 > 0) && expected.exists(_._3 > 0) &&
      expected.exists(_._4 > 0), "an injected PII class never matched")
    assert(expected.exists(_._5 == 0), "no PII-free doc found")
    // scale shape: per-row projection only — no join, no aggregate
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"unexpected aggregate:\n$plan")
  }

  test("q_rollup: leaves, per-lang subtotals and the grand total are " +
      "mutually consistent and come from ONE Expand-fed aggregate") {
    import spark.implicits._
    val q = graft.operators.RelationalOps.qRollup(spark, dir)
    val rows = q.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val leaves = rows.filter(r => r._1 != "(all)" && r._2 != "(all)")
    val subs = rows.filter(r => r._1 != "(all)" && r._2 == "(all)")
    val grand = rows.filter(r => r._1 == "(all)" && r._2 == "(all)")
    assert(grand.length == 1 && leaves.nonEmpty && subs.nonEmpty)
    assert(leaves.map(_._3).sum == grand.head._3 &&
      subs.map(_._3).sum == grand.head._3, "doc counts inconsistent")
    assert(leaves.map(_._4).sum == grand.head._4 &&
      subs.map(_._4).sum == grand.head._4, "token totals inconsistent")
    subs.foreach { s =>
      assert(leaves.filter(_._1 == s._1).map(_._3).sum == s._3,
        s"subtotal for ${s._1} disagrees with its leaves")
    }
    // plan: one Expand feeding one aggregate — no union, no second scan
    // (AQE's toString repeats the tree as "== Initial Plan ==" — count
    // scans in the final section only)
    val plan = q.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("Expand"), s"rollup lost its Expand:\n$plan")
    assert(!finalPlan.contains("Union"), s"rollup planned as a union:\n$plan")
    assert(finalPlan.split("Scan parquet").length - 1 == 1,
      s"rollup scanned the table more than once:\n$plan")
  }

  test("decontaminate_bloom ≡ decontaminate exactly; the native bloom " +
      "prescreen prunes grams before the verify join") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(graft.operators.TextOps.decontaminate(spark, dir))
    val q = graft.operators.TextOps.decontaminateBloom(spark, dir)
    assert(rows(q) == exact,
      "bloom path drifted from the exact path (prefilter must not change results)")
    assert(exact.nonEmpty, "eval overlap exists in the corpus by construction")
    // plan: the native might_contain prescreen sits on the train side and
    // the verify join is still a broadcast — never a sort-merge join
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prescreen missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"verify join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("export_shards matches an independent shard/rank reference; the " +
      "assignment is stable under corpus growth and shards are non-empty") {
    import spark.implicits._
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id").collect().map(_.getLong(0))
    def assign(ids: Array[Long]): Map[Long, (Long, Long)] = {
      val keyed = ids.map(id => (id, md5hex(s"$id:shard1")))
      keyed.groupBy { case (_, k) => "0123456789abcdef".indexOf(k.head).toLong }
        .flatMap { case (shard, docs) =>
          docs.sortBy { case (id, k) => (k, id) }.zipWithIndex
            .map { case ((id, _), pos) => id -> (shard, pos.toLong) }
        }
    }
    val expected = assign(ids)
    val q = graft.operators.TextOps.exportShards(spark, dir)
    val got = q.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected, "shard assignment drifted from the reference")
    assert(got.values.map(_._1).toSet.size == 16, "a hex shard is empty")
    // growth stability: run the OPERATOR ITSELF on a half-corpus written
    // to a temp table — its shard ranks must not pairwise-reorder any
    // shard's survivors relative to the full-corpus run (so incremental
    // corpus growth never reshuffles an existing shard's relative order)
    val halfDir = java.nio.file.Files.createTempDirectory("shards-half").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" % 2 === 0)
      .write.mode("overwrite").parquet(s"$halfDir/documents.parquet")
    val half = graft.operators.TextOps.exportShards(spark, halfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(half.keySet == ids.filter(_ % 2 == 0).toSet)
    half.groupBy(_._2._1).foreach { case (shard, docs) =>
      val survivors = docs.toSeq.sortBy(_._2._2).map(_._1)
      survivors.foreach(id => assert(expected(id)._1 == shard,
        s"doc $id changed shard under corpus growth"))
      val before = survivors.sortBy(id => expected(id)._2)
      assert(survivors == before, "growth reordered a shard's survivors")
    }
    // plan shape: one shard-partitioned window, no join
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"missing shard window:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("every token-level oracle twin embeds the ONE pinned tokenization " +
      "fragment (drift guard for md5/count parity)") {
    import graft.operators.TextOps
    val tokenTwins = Map(
      "text_repetition" -> TextOps.textRepetitionSql,
      "decontaminate" -> TextOps.decontaminateSql,
      "dedup_spans" -> TextOps.dedupSpansSql,
      "text_familiarity" -> TextOps.textFamiliaritySql)
    tokenTwins.foreach { case (name, sql) =>
      assert(sql.contains(TextOps.NormTokensSqlFragment),
        s"$name twin drifted from the pinned tokenization")
    }
    // string-level twins embed the normalization CORE (no string_split);
    // dedup_exact is excluded by design — it hashes the RAW text
    val textTwins = Map(
      "text_fingerprint" -> TextOps.textFingerprintSql,
      "curate_corpus" -> TextOps.curateCorpusSql)
    textTwins.foreach { case (name, sql) =>
      assert(sql.contains(TextOps.NormTextSqlFragment),
        s"$name twin drifted from the pinned text normalization")
    }
  }

  test("oracleSql covers exactly the SQL-expressible queries") {
    val sqlFree = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(sqlFree ==
      Set("crawl_smoke", "crawl_phash_dedup", "crawl_curate_images"))
  }

  test("minhash LSH pairs are verified near-dups (jaccard >= 0.8, a < b)") {
    val rows = graft.operators.TextOps.dedupMinhashLsh(spark, dir).collect()
    assert(rows.nonEmpty, "corpus contains injected near-dups; none found")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.8)
    }
  }

  test("knn ranks are 1..5 per query, no self-matches") {
    val rows = graft.operators.VectorOps.embedKnn(spark, dir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 20)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to 5))
      rs.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    }
  }

  test("ann_lsh returns ranked top-3 per query from the LSH candidates") {
    val rows = graft.operators.VectorOps.embedAnnLsh(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(3) >= 1 && r.getInt(3) <= 3))
    rows.foreach(r => assert(r.getLong(0) != r.getLong(1)))
  }

  test("crawl_smoke: every fetched binary decodes to its typed metadata") {
    val rows = graft.operators.ImageOps.crawlSmoke(spark, dir).collect()
    assert(rows.size > 30)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("decode_ok"), s"decode failed: ${r.getString(0)}")
      assert(r.getAs[Boolean]("phash_ok"), s"phash drifted: ${r.getString(0)}")
      assert(r.getAs[Boolean]("resize_ok"),
        s"8x8 resize did not re-decode to 8x8: ${r.getString(0)}")
    }
  }

  test("crawl_phash_dedup flags only pairs within hamming <= 3") {
    val rows = graft.operators.ImageOps.crawlPhashDedup(spark, dir).collect()
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("plan shape: count query pushes the date filter into the parquet scan") {
    val plan = graft.operators.RelationalOps.qCountPushdown(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$plan")
  }

  test("plan shape: dimension join broadcasts the small side") {
    val plan = graft.operators.RelationalOps.qBroadcastJoin(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("plan shape: q1_agg scan is pruned to the referenced columns") {
    val plan = graft.operators.RelationalOps.q1Agg(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("l_returnflag") && !plan.contains("l_orderkey"),
      s"column pruning failed:\n$plan")
  }

  test("plan shape: LSH similarity paths contain no cross join") {
    Seq(
      "embed_neardup" -> graft.operators.VectorOps.embedNearDup(spark, dir),
      "embed_ann_lsh" -> graft.operators.VectorOps.embedAnnLsh(spark, dir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a cross join:\n$plan")
    }
  }

  test("plan shape: IVF assignment is a 1-row broadcast, candidates an equi-join") {
    // both quantizer regimes: flat (default cap) and ACTIVE two-level.
    // kCap=10 is the embed_ann_ivf_2l driver query's cap (active
    // two-level); kCap=8 is the DEGENERATE 1-cell/1-super resonance that
    // driver query deliberately avoids — plan shape must hold even in the
    // degenerate regime. The ONLY
    // nested-loop join allowed is the broadcast of the single centroid-array
    // row (assignment fold input); vector-vs-vector work must never be a
    // cross join in either regime.
    for (kCap <- Seq(graft.operators.VectorOps.IvfKCap, 10, 8)) {
      val plan = graft.operators.VectorOps.embedAnnIvf(spark, dir, kCap)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"embed_ann_ivf (kCap=$kCap) plan contains a cartesian product:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"embed_ann_ivf (kCap=$kCap) candidate stage is not an equi-join:\n$plan")
    }
  }

  test("plan shape: q_recent date_sub bound is pushed into the scan") {
    val plan = graft.operators.RelationalOps.qRecent(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"date filter not pushed:\n$plan")
  }

  test("sample_stratified matches an independent md5 reference exactly; " +
      "plan is a scan-level filter (no agg, no join)") {
    // the sampling decision is a pure function of doc_id — recompute it
    // here with java MessageDigest and require EXACT set equality, so any
    // drift in hash salt, threshold, or stratum routing fails loudly
    def hex8(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, lang) =>
      val thresh = if (lang == "en") "4ccccccc" else "e6666666"
      if (hex8(s"$id:strat1") < thresh) {
        val tag = if (hex8(s"$id:split1") < "0ccccccc") "heldout" else "train"
        Some((id, lang, if (lang == "en") 3000L else 9000L, tag))
      } else None
    }.toSet
    val df = graft.operators.TextOps.sampleStratified(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(3), r.getString(4))).toSet
    assert(got == expected,
      s"sample drifted from the md5 reference: extra=${got -- expected}, " +
        s"missing=${expected -- got}")
    // both strata are populated and the skewed stratum is actually
    // downsampled relative to the others
    val keptEn = got.count(_._2 == "en").toDouble /
      docs.count(_._2 == "en").max(1)
    val keptRest = got.count(_._2 != "en").toDouble /
      docs.count(_._2 != "en").max(1)
    assert(keptEn < keptRest, s"en kept $keptEn >= rest kept $keptRest")
    // scale shape: pure scan→filter→project; the only exchange allowed is
    // the presentation sort's range partitioning
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"sampler plan is not a scan-level filter:\n$plan")
  }

  test("decontaminate matches an independent 8-gram-set reference; " +
      "eval side broadcasts") {
    // recompute the token-8-gram overlap in plain Scala and require exact
    // (doc, eval, count) equality
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def gramSet(t: String): Set[String] = {
      val w = refNormTokens(t)
      if (w.length < 8) Set.empty
      else (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")).toSet
    }
    val sets = texts.map { case (id, t) => (id, gramSet(t)) }
    val evalSets = sets.filter(_._1 % 10 == 0)
    val expected = (for {
      (tid, tg) <- sets if tid % 10 != 0
      (eid, eg) <- evalSets
      shared = (tg & eg).size if shared > 0
    } yield (tid, eid, shared.toLong)).toSet
    assert(expected.nonEmpty, "corpus has no cross-eval 8-gram overlap")
    val df = graft.operators.TextOps.decontaminate(spark, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"overlap drifted: extra=${got -- expected}, missing=${expected -- got}")
    // scale shape: the (small) eval gram set must broadcast; the training
    // side must never sort-merge or cartesian against it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"training side shuffled into the join:\n$plan")
  }

  test("curate_corpus composition matches an independent reference of all " +
      "five stages; anti-join broadcasts") {
    def hex8(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"${b & 0xff}%02x").mkString
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        refNormText(r.getString(3))))
    def toks(norm: String) = norm.split(" ", -1)
    def grams(norm: String): Set[String] = {
      val w = toks(norm)
      if (w.length < 8) Set.empty
      else (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")).toSet
    }
    // stage 2: token-set fingerprint keepers over the FULL corpus
    val keeper = rows.groupBy { case (_, _, _, n) =>
      md5hex(toks(n).distinct.sorted.mkString(" "))
    }.values.map(_.map(_._1).min).toSet
    // stage 4: contaminated training docs
    val evalG = rows.filter(_._1 % 10 == 0).flatMap(r => grams(r._4)).toSet
    val contaminated = rows.filter(_._1 % 10 != 0)
      .filter(r => grams(r._4).exists(evalG)).map(_._1).toSet
    val expected = rows.flatMap { case (id, lang, src, norm) =>
      val nTok = toks(norm).length.toLong
      val keepThresh = if (lang == "en") "4ccccccc" else "e6666666"
      if (id % 10 != 0 && keeper(id) && nTok >= 40 && !contaminated(id) &&
          hex8(s"$id:strat1") < keepThresh) {
        val tag = if (hex8(s"$id:split1") < "0ccccccc") "heldout" else "train"
        Some((id, lang, src, tag, nTok))
      } else None
    }.toSet
    assert(expected.nonEmpty)
    val df = graft.operators.TextOps.curateCorpus(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(got == expected,
      s"curation drifted: extra=${got -- expected}, missing=${expected -- got}")
    // scale shape: contamination anti-join and gram probe both broadcast;
    // no cartesian anywhere; exactly one window (the dedup fingerprint)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("Window"), s"dedup window missing:\n$plan")
  }

  test("text_repetition matches an independent trigram reference; " +
      "plan is a pure scan projection") {
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        refNormText(r.getString(1))))
    val expected = texts.flatMap { case (id, norm) =>
      val w = norm.split(" ", -1)
      if (w.length < 3) None
      else {
        val total = (w.length - 2).toLong
        val uniq = (0 to w.length - 3)
          .map(i => w.slice(i, i + 3).mkString(" ")).distinct.size.toLong
        Some((id, total, uniq, total - uniq, (total - uniq) * 10000 / total))
      }
    }.toSet
    val df = graft.operators.TextOps.textRepetition(spark, dir)
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected,
      s"repetition drifted: extra=${got -- expected}, missing=${expected -- got}")
    assert(expected.exists(_._4 > 0), "corpus has no self-repeating doc")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"repetition profile is not a scan-level projection:\n$plan")
  }

  test("neardup_clusters matches an independent union-find over the " +
      "verified pair graph; multi-hop components are exercised") {
    // reference: union-find over the pairs emitted by the (already
    // DuckDB-hash-matched) LSH operator
    val pairs = graft.operators.TextOps.dedupMinhashLsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = TestGraph.canonicalClusters(pairs)
    val got = graft.operators.TextOps.neardupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == expected,
      s"clusters drifted: extra=${got -- expected}, missing=${expected -- got}")
    // a component of size >= 3 forces label propagation past one hop, so the
    // iterative fixpoint (not just the seed join) is what's being verified
    assert(expected.exists(_._3 >= 3), "no multi-hop component in corpus")
    assert(expected.count(_._4) == expected.map(_._2).size,
      "one canonical per cluster")
  }

  test("connectedComponents converges on a planted deep chain and enforces " +
      "its iteration bound") {
    import spark.implicits._
    // chain 100..124 (diameter 24, labels must walk the full length), a
    // star at 200, and an isolated pair — worst case for hash-min, the
    // shape the LSH corpus can't produce
    val chain = (100L until 124L).map(i => (i, i + 1))
    val star = (1L to 5L).map(i => (200L, 200L + i))
    val pairEdges = (chain ++ star ++ Seq((300L, 301L))).toDF("a", "b")
    val got = graft.operators.GraphOps.connectedComponents(pairEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      (100L to 124L).map(n => (n, 100L)).toSet ++
        (200L to 205L).map(n => (n, 200L)).toSet ++
        Set((300L, 300L), (301L, 300L))
    assert(got == expected,
      s"planted components drifted: extra=${got -- expected}, missing=${expected -- got}")
    // the bound is a real guard: a diameter-24 chain cannot converge in 3
    val e = intercept[IllegalStateException] {
      graft.operators.GraphOps.connectedComponents(pairEdges, maxIters = 3)
    }
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("connectedComponents restores the caller's job description when it " +
      "throws") {
    import spark.implicits._
    val sc = spark.sparkContext
    val chain = (1L until 5L).map(i => (i, i + 1)).toDF("a", "b")
    sc.setJobDescription("caller: outer job")
    try {
      intercept[IllegalStateException] {
        graft.operators.GraphOps.connectedComponents(chain, maxIters = 2)
      }
      assert(sc.getLocalProperty("spark.job.description") == "caller: outer job")
    } finally sc.setJobDescription(null)
  }

  test("text_quality rounds ties like its DuckDB twin (round x * 1e6 on the " +
      "binary value)") {
    import spark.implicits._
    // (tokens, chars) pairs whose quality is a decimal tie at 6 places:
    // 0.5046875, 0.2509375 and 0.5096875 are stored just below the tie, so
    // DuckDB rounds them down; the expected values are DuckDB's output
    val ties = Seq((40, 234, 0.504687), (8, 34, 0.250937), (16, 125, 0.509687))
    val docs = ties.zipWithIndex.map { case ((nTok, nChars, _), id) =>
      val letters = nChars - (nTok - 1)
      val text = (0 until nTok)
        .map(i => "z" * (letters / nTok + (if (i < letters % nTok) 1 else 0)))
        .mkString(" ")
      assert(text.length == nChars)
      (id.toLong, text)
    }
    val tmp = java.nio.file.Files.createTempDirectory("text-quality").toString
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextOps.textQuality(spark, tmp)
      .select("n_tokens", "n_chars_c", "quality").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))).toSeq
    assert(got == ties)
    graft.engine.Fs.delete(tmp)
  }
}
