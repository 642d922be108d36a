package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data text pipeline operators over the `documents`
  * table: exact dedup, n-gram fingerprint dedup, MinHash+LSH near-dup,
  * SimHash, token stats, quality scoring, language-ID heuristic, document
  * fingerprinting, within-doc repetition profiling, deterministic
  * stratified sampling + split tagging, benchmark decontamination, and the
  * end-to-end curation composition. Every operator has a DuckDB-oracle twin
  * built from the SAME hash primitives (md5 hex strings, lexicographic
  * mins, integer `div` ratios), so results are bit-comparable across
  * engines.
  *
  * Scale notes: all of these are shuffle-once groupBy/join pipelines on
  * key+small-signature columns. MinHash bands shuffle 32-byte digests, not
  * documents; the candidate join is an equi-join on (band, bandHash) — the
  * standard way to keep near-dup detection linear-ish at 100 TB.
  */
object TextOps {

  private def docs(dir: String)(implicit s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Pinned normalization shared by every token-level operator: lowercase,
    * collapse whitespace runs, trim, split on single spaces. ORACLE-PARITY
    * CRITICAL — this column and the `NormTokensSqlFragment` DuckDB mirror
    * must stay byte-equivalent: every md5 window/fingerprint hash and every
    * token count in the twins depends on both sides producing the same
    * token sequence (a drift-guard test pins the fragment into each twin).
    */
  private def normTokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(trim(regexp_replace(lower(c), "\\s+", " ")), " ")

  /** DuckDB mirror of the normalization CORE (lowercase, collapse
    * whitespace, trim) over a column named `text` — the fragment the
    * string-level twins (dedup_exact, curate_corpus) embed directly.
    */
  val NormTextSqlFragment: String =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** DuckDB mirror of [[normTokens]] over a column named `text`. */
  val NormTokensSqlFragment: String =
    s"string_split($NormTextSqlFragment, ' ')"

  /** Exact dedup via content hash: one row per distinct text, keeper =
    * min(doc_id) (hash-groupBy; map-side combine; no full-text shuffle
    * beyond the digest).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    docs(dir)
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_dups"))
      .orderBy($"fp")
  }

  val dedupExactSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Character-5-gram set fingerprint: docs whose shingle SETS are identical
    * share a fingerprint (order-insensitive near-exact dedup).
    */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    docs(dir)
      .where(length($"text") >= 5)
      .withColumn("fp", md5(array_join(array_sort(array_distinct(
        expr("transform(sequence(0, length(text)-5), i -> substring(text, i+1, 5))"))),
        "\u0001")))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_dups"))
      .orderBy($"fp")
  }

  val dedupNgramSql: String =
    """SELECT fp, min(doc_id) AS keeper, count(*) AS n_dups FROM (
      | SELECT doc_id, md5(list_aggregate(list_sort(list_distinct(
      |   [text[i:i+4] FOR i IN generate_series(1, length(text)-4)])), 'string_agg', chr(1))) AS fp
      | FROM documents WHERE length(text) >= 5)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Word-3-gram shingle sets per doc (shared by minhash + verification). */
  private def shingles(dir: String)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    docs(dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .where(size($"ws") >= 3)
      .select($"doc_id", array_distinct(expr(
        "transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
        .as("sh"))
  }

  /** MinHash + LSH near-duplicate pairs over word-3-gram shingles.
    *
    * Signature: 8 minhashes h_i = lexicographic min over shingles of
    * md5("i|" + shingle) (a hex string is a perfectly good uniform hash with
    * a total order, and it is engine-portable). 4 bands × 2 rows; candidate
    * pairs share any band; candidates are verified with EXACT jaccard ≥ 0.8
    * (LSH prunes candidates, the verify join is authoritative — same
    * prefilter-vs-exact split as the crawl engine's Bloom + anti-join).
    *
    * Shuffle economy: the SIGNATURE stays md5-hex (portable to the DuckDB
    * twin), but the band self-join key is compressed to one xxhash64 long of
    * (band, h_2b, h_2b+1) — equal md5 bands hash equal, so the candidate set
    * is unchanged (an 2^-64 cross-band collision could only ADD a candidate,
    * which the exact-jaccard verify then adjudicates) while the join
    * exchanges 8-byte keys instead of 32-char strings.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    lshPairs(dir).orderBy($"doc_a", $"doc_b")
  }

  /** Verified LSH near-dup pairs, unordered — shared by `dedupMinhashLsh`
    * (which just sorts it) and `neardupClusters` (which consumes it as the
    * edge list of the duplicate graph).
    */
  private def lshPairs(dir: String)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    // sh is consumed 3x (signature build + both sides of the verify join)
    // and bands 2x (candidate self-join): persist so the shingle build runs
    // once, not four times (persistOnce: a repeated invocation in the same
    // session reuses the cache entry without the CacheManager warning)
    val sh = GraphOps.persistOnce(shingles(dir))
    // The whole 8-minhash signature folds per doc as array_min over the
    // hashed shingle array — a narrow projection (no explode row inflation,
    // no groupBy), same zero-shuffle shape as the SimHash signature.
    val minCols = (0 until 8).map(i =>
      array_min(transform($"sh", x => md5(concat(lit(s"$i|"), x)))).as(s"h$i"))
    val mh = sh.select(($"doc_id" +: minCols): _*)
    val bandCols = (0 until 4).map(b =>
      xxhash64(lit(b), col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as(s"b$b"))
    val bands = GraphOps.persistOnce(mh
      .select($"doc_id", explode(array(bandCols: _*)).as("bh")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sa")), Seq("doc_a"))
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sb")), Seq("doc_b"))
      .withColumn("jac", round(
        size(array_intersect($"sa", $"sb")).cast("double") /
          size(array_union($"sa", $"sb")), 6))
      .where($"jac" >= 0.8)
      .select($"doc_a", $"doc_b", $"jac")
  }

  /** Shared DuckDB CTE chain ending in the verified `pairs` relation —
    * reused verbatim by the pair query and the cluster query so the two
    * oracles can never drift apart.
    */
  private val lshPairCtes: String =
    """tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]
      |   FOR i IN generate_series(1, len(ws)-2)]) AS sh FROM tok WHERE len(ws) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |mh AS (SELECT doc_id,
      |  min(md5('0|'||s)) AS h0, min(md5('1|'||s)) AS h1,
      |  min(md5('2|'||s)) AS h2, min(md5('3|'||s)) AS h3,
      |  min(md5('4|'||s)) AS h4, min(md5('5|'||s)) AS h5,
      |  min(md5('6|'||s)) AS h6, min(md5('7|'||s)) AS h7
      | FROM ex GROUP BY doc_id),
      |bands AS (
      | SELECT doc_id, 0 AS band, md5(h0||'|'||h1) AS bh FROM mh
      | UNION ALL SELECT doc_id, 1, md5(h2||'|'||h3) FROM mh
      | UNION ALL SELECT doc_id, 2, md5(h4||'|'||h5) FROM mh
      | UNION ALL SELECT doc_id, 3, md5(h6||'|'||h7) FROM mh),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      | FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      |pairs AS (SELECT c.doc_a, c.doc_b,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac
      |FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
      |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.8)""".stripMargin

  val dedupMinhashLshSql: String =
    s"WITH $lshPairCtes\nSELECT doc_a, doc_b, jac FROM pairs ORDER BY doc_a, doc_b"

  /** Near-dup cluster canonicalization: connected components over the
    * verified LSH pair graph, one canonical keeper per duplicate cluster.
    * Pairs alone don't dedup a corpus — near-duplicate is not transitive, so
    * pipelines (CCNet, RefinedWeb, Dolma) union the pair graph into
    * components and keep one representative per component. Output: every
    * clustered doc with its component label (= min doc_id in the component),
    * the component size, and `is_canonical` marking the keeper.
    *
    * Scale shape: see [[GraphOps.connectedComponents]] — the component
    * machinery (and the shape of the `embed_neardup_clusters` twin over
    * embeddings) lives there.
    */
  def neardupClusters(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    GraphOps.canonicalClusters(lshPairs(dir).select($"doc_a", $"doc_b"), "doc_id")
  }

  /** DuckDB twin: the SAME pair CTEs through the shared component
    * skeleton ([[GraphOps.componentsSql]]).
    */
  val neardupClustersSql: String =
    GraphOps.componentsSql(lshPairCtes, "pairs", "doc_a", "doc_b", "doc_id")

  /** 32-bit SimHash over distinct tokens: per-bit weighted vote of md5 token
    * hashes (bit j extracted from hex nibble j/4).
    *
    * The WHOLE signature folds inside one higher-order expression per doc:
    * tokens → md5 → per-token ±1 bit-vote vector → zip_with sum → sign
    * bits. No explode, no groupBy, no shuffle — a pure narrow projection
    * (the round-1 plan inflated 32 rows per token before its first
    * aggregate; the votes are integer sums, so the per-doc sequential fold
    * is exactly the same result).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    docs(dir)
      .select($"doc_id", expr(
        """aggregate(
          |  transform(array_distinct(split(text, ' ')), t -> md5(t)),
          |  array_repeat(0L, 32),
          |  (acc, h) -> zip_with(acc,
          |    transform(sequence(0, 31), j ->
          |      pmod(shiftright(instr('0123456789abcdef',
          |        substring(h, 1 + cast(j/4 as int), 1)) - 1, pmod(j, 4)), 2)
          |      * 2 - 1),
          |    (a, v) -> a + v))""".stripMargin).as("votes"))
      .select($"doc_id", expr(
        """aggregate(
          |  zip_with(votes, sequence(0, 31),
          |    (v, j) -> IF(v > 0, shiftleft(1L, j), 0L)),
          |  0L, (acc, x) -> acc + x)""".stripMargin)
        .cast("bigint").as("simhash"))
      .orderBy($"doc_id")
  }

  val dedupSimhashSql: String =
    """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS t FROM documents),
      |h AS (SELECT doc_id, md5(t) AS h FROM tok),
      |bits AS (SELECT doc_id, j,
      |  ((strpos('0123456789abcdef', substr(h, 1 + (j//4), 1)) - 1) >> (j%4)) % 2 AS bit
      | FROM h, (SELECT unnest(generate_series(0,31)) AS j)),
      |v AS (SELECT doc_id, j, sum(2*bit - 1) AS v FROM bits GROUP BY 1,2)
      |SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      |FROM v GROUP BY 1 ORDER BY 1""".stripMargin

  /** BPE-ish subword pattern: consonant-prefixed vowel runs (syllable-like
    * chunks, e.g. "table" → [ta, ble], "query" → [que, ry]) with a bare
    * consonant-run fallback — a deterministic stand-in for a learned BPE
    * merge table, identical under Java regex and RE2 (simple character
    * classes, greedy, leftmost-first alternation).
    */
  private val SubtokenRe = "[bcdfghjklmnpqrstvwxz]*[aeiouy]+|[bcdfghjklmnpqrstvwxz]+"

  /** Token counting: whitespace tokens, type-token ratio, and a BPE-ish
    * regex subword count (the token-budget estimator a training pipeline
    * runs over every document).
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    docs(dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("bigint").as("n_tokens"),
        size(array_distinct(split($"text", " "))).cast("bigint").as("n_distinct"),
        size(regexp_extract_all($"text", lit(SubtokenRe), lit(0)))
          .cast("bigint").as("n_subtokens"))
      .withColumn("ttr", round($"n_distinct".cast("double") / $"n_tokens", 6))
      .orderBy($"doc_id")
  }

  val textTokensSql: String =
    s"""SELECT doc_id,
       | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       | CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
       | CAST(len(regexp_extract_all(text, '$SubtokenRe')) AS BIGINT) AS n_subtokens,
       | round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
       |   / len(string_split(text,' ')), 6) AS ttr
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Stopword list for the quality score: high-frequency function words
    * across the corpus' four languages (includes the langid marker words so
    * every language's documents get a non-degenerate ratio).
    */
  private val Stopwords = Seq("the", "a", "of", "and", "in", "to", "is",
    "der", "le", "el")

  /** Quality scoring: length, token count, mean token length, stopword
    * ratio, and a bounded composite score (rational arithmetic only — no
    * transcendentals, so the oracle matches bit-for-bit). A real pipeline
    * thresholds on these columns to drop boilerplate/gibberish documents.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    docs(dir)
      .select($"doc_id", length($"text").cast("bigint").as("n_chars_c"),
        size(split($"text", " ")).cast("bigint").as("n_tokens"),
        expr(s"cast(size(filter(split(text, ' '), t -> t IN ($stopList))) as bigint)")
          .as("n_stop"))
      .withColumn("stop_ratio", round6($"n_stop".cast("double") / $"n_tokens"))
      .withColumn("avg_tok_len",
        round6(($"n_chars_c" - ($"n_tokens" - 1)).cast("double") / $"n_tokens"))
      .withColumn("quality", round6(
        least($"n_tokens".cast("double") / 100.0, lit(1.0)) * 0.5 +
          least((($"n_chars_c" - ($"n_tokens" - 1)).cast("double") / $"n_tokens") / 8.0,
            lit(1.0)) * 0.5))
      .orderBy($"doc_id")
  }

  /** DuckDB's `round(x, 6)` on a double: round the binary value `x * 1e6`
    * half away from zero, then divide. Spark's `round(x, 6)` rounds the
    * shortest decimal string of `x` half-up instead, so the two split on
    * ties: 40 tokens over 234 chars score 0.5046875, which Spark's form
    * gives as 0.504688 and DuckDB as 0.504687. Scale 0 is exact here: a
    * double prints as `n.5` only when it is exactly `n.5`.
    */
  private def round6(x: Column): Column = round(x * 1e6) / 1e6

  val textQualitySql: String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       | CAST(length(text) AS BIGINT) AS n_chars_c,
       | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       | CAST(len(list_filter(string_split(text,' '), t -> t IN ($stopList))) AS BIGINT) AS n_stop,
       | round(CAST(len(list_filter(string_split(text,' '), t -> t IN ($stopList))) AS DOUBLE)
       |   / len(string_split(text,' ')), 6) AS stop_ratio,
       | round(CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |   / len(string_split(text,' ')), 6) AS avg_tok_len,
       | round(least(CAST(len(string_split(text,' ')) AS DOUBLE)/100.0, 1.0)*0.5 +
       |   least((CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |     / len(string_split(text,' ')))/8.0, 1.0)*0.5, 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language-ID heuristic: marker-word occurrence counts via the
    * replace-length trick (portable across engines), argmax with pinned
    * tie order en > de > fr > es > unk.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def occ(marker: String) = expr(
      s"cast((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $marker ', ''))) / ${marker.length + 2} as bigint)")
    docs(dir)
      .select($"doc_id", $"lang",
        occ("the").as("occ_en"), occ("der").as("occ_de"),
        occ("le").as("occ_fr"), occ("el").as("occ_es"))
      .withColumn("lang_pred",
        when($"occ_en" > 0 && $"occ_en" >= $"occ_de" && $"occ_en" >= $"occ_fr" && $"occ_en" >= $"occ_es", "en")
          .when($"occ_de" > 0 && $"occ_de" >= $"occ_fr" && $"occ_de" >= $"occ_es", "de")
          .when($"occ_fr" > 0 && $"occ_fr" >= $"occ_es", "fr")
          .when($"occ_es" > 0, "es")
          .otherwise("unk"))
      .orderBy($"doc_id")
  }

  val textLangidSql: String = {
    def occ(m: String) =
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $m ', ''))) / ${m.length + 2} AS BIGINT)"
    s"""SELECT doc_id, lang,
       | ${occ("the")} AS occ_en, ${occ("der")} AS occ_de,
       | ${occ("le")} AS occ_fr, ${occ("el")} AS occ_es,
       | CASE
       |  WHEN ${occ("the")} > 0 AND ${occ("the")} >= ${occ("der")} AND ${occ("the")} >= ${occ("le")} AND ${occ("the")} >= ${occ("el")} THEN 'en'
       |  WHEN ${occ("der")} > 0 AND ${occ("der")} >= ${occ("le")} AND ${occ("der")} >= ${occ("el")} THEN 'de'
       |  WHEN ${occ("le")} > 0 AND ${occ("le")} >= ${occ("el")} THEN 'fr'
       |  WHEN ${occ("el")} > 0 THEN 'es'
       |  ELSE 'unk' END AS lang_pred
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    docs(dir)
      .select($"doc_id",
        md5(trim(regexp_replace(lower($"text"), "\\s+", " "))).as("fp"))
      .orderBy($"doc_id")
  }

  val textFingerprintSql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling + train/heldout split tagging — the
    * curation step that carves a balanced training mix out of a skewed
    * corpus (here: the over-represented language downsampled to 30%, the
    * rest kept at 90%; 5% of survivors tagged heldout).
    *
    * The sampling decision is a pure function of the ROW KEY, not of
    * position or randomness: keep iff the first 8 hex chars of
    * md5(doc_id ":strat1") sort below the stratum's threshold (lowercase
    * hex compares identically in Spark and DuckDB, so the twin is exact).
    * At 100 TB that is the only sampler that works: `rand()` changes under
    * task retry and partition reshape, TABLESAMPLE is per-split, but a
    * key-hash decision is reproducible across reruns, engines and
    * incremental corpus growth (new docs never flip old decisions). The
    * plan is a single scan-level filter + projection — whole-stage codegen,
    * zero shuffle, no driver state; `keep_rate_bp` (basis points, integer)
    * rides along so downstream loss-weighting can undo the skew exactly
    * (weight ∝ 10^4/keep_rate_bp) without float drift. The split hash uses
    * a DIFFERENT salt so membership in the sample and in heldout are
    * independent coins. The final orderBy is presentation-only (stable
    * dump), not part of the operator's scale cost.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // thresholds = floor(rate * 2^32) as 8-digit lowercase hex
    val keepHex = substring(md5(concat($"doc_id".cast("string"), lit(":strat1"))), 1, 8)
    val splitHex = substring(md5(concat($"doc_id".cast("string"), lit(":split1"))), 1, 8)
    docs(dir)
      .withColumn("keep_rate_bp",
        when($"lang" === "en", lit(3000L)).otherwise(lit(9000L)))
      .where(keepHex < when($"lang" === "en", lit("4ccccccc"))
        .otherwise(lit("e6666666")))
      .select($"doc_id", $"lang", $"source", $"keep_rate_bp",
        when(splitHex < "0ccccccc", lit("heldout")).otherwise(lit("train"))
          .as("split_tag"))
      .orderBy($"doc_id")
  }

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang, source,
      | CAST(CASE WHEN lang = 'en' THEN 3000 ELSE 9000 END AS BIGINT) AS keep_rate_bp,
      | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split1'), 1, 8)
      |        < '0ccccccc' THEN 'heldout' ELSE 'train' END AS split_tag
      |FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':strat1'), 1, 8)
      |  < CASE WHEN lang = 'en' THEN '4ccccccc' ELSE 'e6666666' END
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: flag training documents sharing a token
    * 8-gram with any held-out eval document (the GPT-3-style n-gram overlap
    * check, scaled down from 13-grams for the synthetic corpus' short
    * docs). Eval set = doc_id % 10 == 0 — in production a separate
    * benchmark table; the shape is identical.
    *
    * Scale shape: the eval side is SMALL by construction (benchmarks are
    * KBs, the training corpus is the 100 TB side), so its distinct grams
    * BROADCAST and the training corpus is scanned exactly once — each doc's
    * grams are generated AND deduped inside the row (array_distinct before
    * explode: per-doc set semantics with zero shuffle), probed against the
    * broadcast hash relation in place, and only the HITS (a vanishing
    * fraction) reach the pair-count shuffle. No sort-merge join, no
    * train-side distinct, no full-gram materialization. At real scale the
    * broadcast hash relation swaps for a Bloom prescreen of the eval grams
    * — CODED as [[decontaminateBloom]] (same oracle, result-identical);
    * the plan shape stays scan → probe → tiny aggregate.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val (evalGrams, trainGrams) = decontamSplit(spark, dir)
    trainGrams.join(broadcast(evalGrams), Seq("gram"))
      .groupBy($"doc_id", $"eval_id")
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy($"doc_id", $"eval_id")
  }

  /** (eval grams as `(eval_id, gram)`, train grams as `(doc_id, gram)`) —
    * the per-doc deduped token 8-grams AND the eval/train split, shared by
    * [[decontaminate]] and [[decontaminateBloom]] so neither the gram
    * derivation nor the eval-set definition can drift between the two
    * paths (both are load-bearing for the shared oracle).
    */
  private def decontamSplit(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val all = docs(dir)
      .select($"doc_id",
        normTokens($"text").as("w"))
      .where(size($"w") >= 8)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(0), size($"w") - 8),
          i => concat_ws(" ", slice($"w", i + 1, lit(8)))))).as("gram"))
    (all.where($"doc_id" % 10 === 0).withColumnRenamed("doc_id", "eval_id"),
      all.where($"doc_id" % 10 =!= 0))
  }

  /** [[decontaminate]]'s documented 100 TB swap, CODED: the eval gram set
    * folds into ONE compact Bloom filter (the engine's map-side-combined
    * `BloomBuildAgg` — the same native aggregate the crawl's URL-seen
    * prefilter uses), and every train gram is prescreened by Spark's native
    * codegen `might_contain` expression before anything joins. Only bloom
    * survivors (true hits + ~fpp of the rest) reach the exact broadcast
    * verify join, so the per-gram hot path never touches a hash relation
    * sized by the eval GRAM COUNT — at a 13-gram GPT-3-scale eval suite the
    * bloom is ~KBs/MBs where the exact gram relation is GBs. The verify
    * join keeps the RESULT exact (bloom false positives are filtered by the
    * equality join), so this query shares [[decontaminateSql]] verbatim as
    * its oracle — a leaked approximation would break the hash.
    *
    * The filter bytes ride as a plan literal (eval side is small by
    * construction); a deployment whose bloom outgrows plan-literal comfort
    * wires the same expression through a broadcast variable or scalar
    * subquery — probe and build stages unchanged.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graft.bridge
    val (evalGramsRaw, trainGrams) = decontamSplit(spark, dir)
    // the eval gram subtree feeds THREE jobs (count, bloom build, verify
    // broadcast) — checkpoint it once; lazy localCheckpoint, not persist,
    // per the ImageOps.scala rationale (no CacheManager entry to leak)
    val evalGrams = evalGramsRaw.localCheckpoint(false)
    val nEval = evalGrams.count() // eval side is KB-scale by construction
    val bloomBytes = evalGrams
      .agg(graft.engine.Bloom.bloomAgg(xxhash64($"gram"),
        math.max(nEval, 1024L), 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = bridge.toColumn(BloomFilterMightContain(
      bridge.toExpression(lit(bloomBytes)),
      bridge.toExpression(xxhash64($"gram"))))
    trainGrams.where(mightContain)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy($"doc_id", $"eval_id")
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy($"doc_id", $"eval_id")
  }

  /** Within-document repetition profile (Gopher-rule family): per doc, the
    * total vs distinct token-trigram counts and the duplicated-occurrence
    * share in integer basis points. High `rep_bp` marks boilerplate /
    * looping generations — the standard quality filter that CROSS-doc dedup
    * cannot catch (a unique document can still be 90% self-repetition).
    *
    * Scale shape: the whole profile is higher-order expressions inside the
    * row (sequence → transform → array_distinct), so the plan is one scan +
    * projection — zero shuffle, whole-stage codegen, trivially linear at
    * 100 TB. All outputs are integers (counts and a `div` ratio), so the
    * DuckDB twin is bit-exact.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    docs(dir)
      .select($"doc_id",
        normTokens($"text").as("w"))
      .where(size($"w") >= 3)
      .select($"doc_id",
        (size($"w") - 2).cast("long").as("trigram_total"),
        size(array_distinct(transform(sequence(lit(0), size($"w") - 3),
          i => concat_ws(" ", slice($"w", i + 1, lit(3))))))
          .cast("long").as("trigram_uniq"))
      .withColumn("trigram_dups", $"trigram_total" - $"trigram_uniq")
      .withColumn("rep_bp", expr("(trigram_dups * 10000) div trigram_total"))
      .orderBy($"doc_id")
  }

  val textRepetitionSql: String =
    """WITH norm AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(w) - 2 AS BIGINT) AS trigram_total,
      |    CAST(len(list_distinct(
      |      [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]))
      |      AS BIGINT) AS trigram_uniq
      |  FROM norm WHERE len(w) >= 3)
      |SELECT doc_id, trigram_total, trigram_uniq,
      |  trigram_total - trigram_uniq AS trigram_dups,
      |  ((trigram_total - trigram_uniq) * 10000) // trigram_total AS rep_bp
      |FROM g ORDER BY doc_id""".stripMargin

  /** End-to-end corpus curation — the capstone composition: the individual
    * training-data operators chained as ONE Catalyst plan, the query a user
    * actually runs to carve a training set out of a raw 100 TB corpus.
    * Conjunctive stages, all evaluated against the FULL corpus:
    *
    *  1. eval exclusion (doc_id % 10 == 0 is the held-out benchmark set);
    *  2. dedup keeper — token-SET fingerprint (md5 of the sorted distinct
    *     token list: order/ multiplicity-insensitive near-exact dedup),
    *     keeper = min(doc_id) per group via a window;
    *  3. quality gate — ≥ 40 normalized tokens (integer predicate: no
    *     float-boundary drift between engines);
    *  4. decontamination — drops docs sharing a token 8-gram with any eval
    *     doc ([[decontaminate]]'s broadcast-probe stage, reused as a
    *     broadcast LEFT ANTI);
    *  5. [[sampleStratified]]'s deterministic keep + split tagging.
    *
    * Scale shape: one corpus scan feeds both the fingerprint window and the
    * gram probe; the only all-rows shuffle is the dedup window on the
    * 16-byte fingerprint (dedup IS a shuffle — but of digests, never
    * documents); contamination hits and eval grams broadcast; every other
    * stage is a scan-level predicate. Catalyst fuses the whole thing — no
    * intermediate materialization between stages.
    */
  def curateCorpus(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = docs(dir).select($"doc_id", $"lang", $"source",
      trim(regexp_replace(lower($"text"), "\\s+", " ")).as("norm"))
    val fp = md5(concat_ws(" ", array_sort(array_distinct(split($"norm", " ")))))
    val withKeeper = base.withColumn("min_id",
      min($"doc_id").over(Window.partitionBy(fp)))
    val grams = base
      .select($"doc_id", split($"norm", " ").as("w"))
      .where(size($"w") >= 8)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(0), size($"w") - 8),
          i => concat_ws(" ", slice($"w", i + 1, lit(8)))))).as("gram"))
    val evalGrams = grams.where($"doc_id" % 10 === 0).select($"gram").distinct()
    val contaminated = grams.where($"doc_id" % 10 =!= 0)
      .join(broadcast(evalGrams), Seq("gram")).select($"doc_id").distinct()
    val keepHex = substring(md5(concat($"doc_id".cast("string"), lit(":strat1"))), 1, 8)
    val splitHex = substring(md5(concat($"doc_id".cast("string"), lit(":split1"))), 1, 8)
    withKeeper
      .where($"doc_id" % 10 =!= 0 && $"doc_id" === $"min_id")
      .where(size(split($"norm", " ")) >= 40)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .where(keepHex < when($"lang" === "en", lit("4ccccccc"))
        .otherwise(lit("e6666666")))
      .select($"doc_id", $"lang", $"source",
        when(splitHex < "0ccccccc", lit("heldout")).otherwise(lit("train"))
          .as("split_tag"),
        size(split($"norm", " ")).cast("long").as("n_tokens"))
      .orderBy($"doc_id")
  }

  val curateCorpusSql: String =
    """WITH base AS (
      |  SELECT doc_id, lang, source,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |keeper AS (
      |  SELECT *, min(doc_id) OVER (PARTITION BY
      |    md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' '))) AS min_id
      |  FROM base),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
      |  FROM (SELECT doc_id, string_split(norm, ' ') AS w FROM base) s,
      |       UNNEST(range(1, len(w) - 6)) AS t(i)
      |  WHERE len(w) >= 8),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id FROM grams t JOIN grams e USING (gram)
      |  WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0)
      |SELECT doc_id, lang, source,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split1'), 1, 8) < '0ccccccc'
      |    THEN 'heldout' ELSE 'train' END AS split_tag,
      |  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
      |FROM keeper
      |WHERE doc_id % 10 <> 0 AND doc_id = min_id
      |  AND len(string_split(norm, ' ')) >= 40
      |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      |  AND substring(md5(CAST(doc_id AS VARCHAR) || ':strat1'), 1, 8)
      |      < CASE WHEN lang = 'en' THEN '4ccccccc' ELSE 'e6666666' END
      |ORDER BY doc_id""".stripMargin

  val decontaminateSql: String =
    """WITH norm AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
      |  FROM norm, UNNEST(range(1, len(w) - 6)) AS t(i)
      |  WHERE len(w) >= 8)
      |SELECT t.doc_id, e.doc_id AS eval_id, count(*) AS shared_grams
      |FROM grams t JOIN grams e USING (gram)
      |WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Span width (whitespace tokens) for cross-document substring dedup —
    * the scaled-down analog of the ~50-BPE-token window of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better".
    */
  private val SpanW = 16

  /** Cross-document EXACT substring (span) dedup: for every document long
    * enough to hold a window (≥ [[SpanW]] tokens — shorter docs have no
    * spans and are omitted, like `text_repetition`'s ≥ 3 floor; join the
    * marking output back LEFT so they read as 0), how many of its
    * [[SpanW]]-token rolling windows also appear verbatim in at least one
    * OTHER document (duplicated boilerplate/templates that doc-level and
    * near-dup dedup both miss), as integer counts plus a basis-point
    * share. A removal pipeline drops or rewrites exactly those spans;
    * this operator is the marking stage.
    *
    * Scale shape — the canonical substring-dedup plan: one narrow scan
    * projection builds the rolling window hashes INSIDE the row (no token
    * explode), materialized ONCE (lazy localCheckpoint — the gram stream
    * feeds both the duplicate aggregate and the marking re-join, and
    * recomputing it would run the corpus scan + every window md5 twice;
    * same reclamation story as phashNearDup's `hashes`). The wide ops are
    * a groupBy on the span hash — fully map-side combinable because the
    * ≥ 2-distinct-docs test only needs min(doc_id) ≠ max(doc_id), never a
    * distinct count — and a hash re-join of the gram stream against the
    * duplicated subset. md5 hex keys here because the DuckDB twin must
    * derive byte-identical hashes; a 100 TB run swaps them for xxhash64
    * (8-byte shuffle keys, same plan) exactly as the MinHash band keys
    * already do.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val grams = docs(dir)
      .select($"doc_id",
        normTokens($"text").as("w"))
      .where(size($"w") >= SpanW)
      .select($"doc_id", explode(expr(
        s"transform(sequence(0, size(w) - $SpanW), i -> md5(concat_ws(' ', slice(w, i + 1, $SpanW))))"))
        .as("g"))
      .localCheckpoint(false)
    val dupG = grams.groupBy($"g")
      .agg(min($"doc_id").as("dmin"), max($"doc_id").as("dmax"))
      .where($"dmin" =!= $"dmax")
      .select($"g", lit(1L).as("isdup"))
    grams.join(dupG, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("total_spans"),
        sum(coalesce($"isdup", lit(0L))).as("dup_spans"))
      .withColumn("dup_bp", expr("(dup_spans * 10000) div total_spans"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin: identical normalization, identical md5-of-joined-window
    * hashes, identical ≥ 2-distinct-docs duplicate test, integer division.
    */
  val dedupSpansSql: String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, md5(array_to_string(w[i+1:i+$SpanW], ' ')) AS g
       |  FROM norm, UNNEST(range(0, len(w) - ${SpanW - 1})) t(i)
       |  WHERE len(w) >= $SpanW),
       |d AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id))
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS total_spans,
       |  CAST(count(*) FILTER (WHERE g IN (SELECT g FROM d)) AS BIGINT) AS dup_spans,
       |  (CAST(count(*) FILTER (WHERE g IN (SELECT g FROM d)) AS BIGINT) * 10000)
       |    // CAST(count(*) AS BIGINT) AS dup_bp
       |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus-statistical quality filter — the CCNet-family unigram-LM
    * proxy, integer-arithmetized: `fam_ppm` is the mean corpus frequency
    * of a document's tokens, in parts-per-million of the corpus token
    * count (exact integer division, so the oracle matches bit-for-bit —
    * the rank-free stand-in for the LM log-prob that real pipelines
    * threshold on). Documents of common fluent words score high;
    * rare-token/gibberish documents score low — complementary to
    * [[textQuality]]'s intra-document shape features because the signal
    * here is a CORPUS statistic.
    *
    * Scale shape: one token-keyed groupBy builds the unigram table
    * (map-side combinable), the occurrence stream re-joins it on the
    * token key — the optimizer/AQE picks broadcast when the vocabulary
    * fits (natural-language vocab is bounded; the plan test asserts the
    * broadcast at that scale) and falls back to a shuffled hash join on
    * the heavy-tailed token sets of a raw web corpus (URLs, numbers,
    * typos run the distinct-token count far past broadcast range) — then
    * one doc_id groupBy. The corpus total rides in as a one-row broadcast
    * exactly like the IVF centroid array. The ppm arithmetic runs in
    * decimal(38): `sum_freq · 10^6` overflows a 64-bit long once corpus
    * counts pass ~10^13 tokens (exactly the 100 TB design point), and
    * Spark would wrap where DuckDB errors — int128-family intermediates
    * keep the twins exact and identical to ~10^31.
    */
  def textFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val occ = docs(dir)
      .select($"doc_id",
        normTokens($"text").as("w"))
      .select($"doc_id", explode($"w").as("t"))
    val vocab = occ.groupBy($"t").agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum($"cnt").as("n_corpus"))
    occ.join(vocab, Seq("t"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"cnt").as("sum_freq"))
      .crossJoin(broadcast(tot))
      .withColumn("fam_ppm", expr(
        """cast((cast(sum_freq as decimal(38,0)) * 1000000) div
          |     (cast(n_tokens as decimal(38,0)) * cast(n_corpus as decimal(38,0)))
          |  as bigint)""".stripMargin))
      .select($"doc_id", $"n_tokens", $"sum_freq", $"fam_ppm")
      .orderBy($"doc_id")
  }

  /** DuckDB twin: identical normalization, unigram counts, and exact
    * integer ppm arithmetic (HUGEINT ≡ the engine's decimal(38) widening).
    */
  val textFamiliaritySql: String =
    """WITH norm AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |occ AS (SELECT doc_id, unnest(w) AS t FROM norm),
      |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY t),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_corpus FROM vocab),
      |doc AS (
      |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(sum(v.cnt) AS BIGINT) AS sum_freq
      |  FROM occ o JOIN vocab v USING (t) GROUP BY o.doc_id)
      |SELECT doc_id, n_tokens, sum_freq,
      |  CAST((CAST(sum_freq AS HUGEINT) * 1000000)
      |    // (CAST(n_tokens AS HUGEINT) * CAST(n_corpus AS HUGEINT)) AS BIGINT) AS fam_ppm
      |FROM doc, tot ORDER BY doc_id""".stripMargin

  /** Per-language corpus mixture statistics: doc count, total whitespace
    * tokens, exact interpolated p50/p90 token counts, and a deterministic
    * uniform-mixture resampling weight in integer basis points
    * (weight_bp = 10000 · total_docs / (n_langs · n_docs), integer div) —
    * the numbers a training pipeline needs to set per-language sampling
    * rates for data mixing (and the shape of any "how big is each slice"
    * corpus report).
    *
    * Scale shape: one narrow scan projection (lang + per-row token count),
    * then a groupBy on the low-cardinality language key. `percentile` is
    * exact via a per-group value→count map, so aggregate state is
    * O(distinct token counts per language) — bounded (token counts, not
    * tokens) even at 100 TB; a corpus with an unbounded value domain would
    * swap in `approx_percentile`, same plan. The grand totals ride in as
    * a one-row broadcast over the O(#languages) aggregate output — never
    * a corpus-wide window.
    */
  def corpusMixture(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val byLang = docs(dir)
      .select($"lang", size(split($"text", " ")).cast("bigint").as("n_tokens"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 6).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 6).as("p90_tokens"))
    // grand totals as a one-row broadcast (the textFamiliarity/IVF
    // pattern) rather than a partition-less window — same values, no
    // single-partition WindowExec in the plan
    val tot = byLang.agg(sum($"n_docs").as("all_docs"),
      count(lit(1)).as("n_langs"))
    byLang.crossJoin(broadcast(tot))
      .withColumn("weight_bp",
        expr("cast((10000 * all_docs) div (n_langs * n_docs) as bigint)"))
      .select($"lang", $"n_docs", $"total_tokens", $"p50_tokens",
        $"p90_tokens", $"weight_bp")
      .orderBy($"lang")
  }

  /** DuckDB twin: `quantile_cont` is the same PERCENTILE_CONT interpolation
    * (rank = p·(N−1), linear between floor/ceil) as Spark's exact
    * `percentile`; the weight is pure integer arithmetic on both sides.
    */
  val corpusMixtureSql: String =
    """WITH g AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
      |    round(quantile_cont(len(string_split(text,' ')), 0.5), 6) AS p50_tokens,
      |    round(quantile_cont(len(string_split(text,' ')), 0.9), 6) AS p90_tokens
      |  FROM documents GROUP BY lang)
      |SELECT lang, n_docs, total_tokens, p50_tokens, p90_tokens,
      |  CAST((10000 * sum(n_docs) OVER ()) // ((count(*) OVER ()) * n_docs) AS BIGINT) AS weight_bp
      |FROM g ORDER BY lang""".stripMargin

  /** Deterministic training-export sharding: every document gets a stable
    * pseudo-random global order (shuffle key = md5(doc_id:shard1)) and a
    * fixed shard — the last stage of a training-data pipeline, where the
    * curated corpus is written as N shuffled shards for dataloaders.
    * shard_id = the first hex digit of the shuffle key (16 uniform shards
    * at test scale; production uses k hex digits for 16^k shards ≈ 1 GB
    * each — same recipe, and `instr` on the hex alphabet keeps the bucket
    * arithmetic engine-portable where a hex→int conv is not). `pos` is the
    * 0-based rank within the shard by (shuffle key, doc_id).
    *
    * Why key-hash, not rand()/repartition(shuffle): reproducible under
    * task retry, partition reshape, engine change, and incremental corpus
    * growth — re-exporting after appending documents never reorders an
    * existing shard prefix pair-wise (new keys interleave deterministically).
    *
    * Scale shape: one scan-level projection, then a window partitioned by
    * shard_id ordered by the key — exactly the repartition + local sort the
    * shard WRITER needs anyway (`write.partitionBy(shard_id)` consumes this
    * plan with no extra exchange). No driver state; shard sizes are
    * corpus/N by hash uniformity, so no shard skews. The trailing orderBy
    * is presentation-only (the driver's deterministic oracle dump, like
    * [[sampleStratified]]'s) — a production export drops it and pays only
    * the window's exchange.
    */
  def exportShards(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val skey = md5(concat($"doc_id".cast("string"), lit(":shard1")))
    docs(dir)
      .select($"doc_id", skey.as("skey"))
      .withColumn("shard_id",
        (instr(lit("0123456789abcdef"), substring($"skey", 1, 1)) - 1)
          .cast("bigint"))
      .withColumn("pos",
        (row_number().over(
          Window.partitionBy($"shard_id").orderBy($"skey", $"doc_id")) - 1)
          .cast("bigint"))
      .select($"doc_id", $"shard_id", $"pos")
      .orderBy($"shard_id", $"pos")
  }

  /** DuckDB twin: same md5 shuffle key, same hex-alphabet `strpos` bucket,
    * same (key, doc_id) rank.
    */
  val exportShardsSql: String =
    """WITH k AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shard1') AS skey
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, skey,
      |    CAST(strpos('0123456789abcdef', substring(skey, 1, 1)) - 1 AS BIGINT)
      |      AS shard_id
      |  FROM k)
      |SELECT doc_id, shard_id,
      |  CAST(row_number() OVER (PARTITION BY shard_id ORDER BY skey, doc_id) - 1
      |    AS BIGINT) AS pos
      |FROM sh ORDER BY shard_id, pos""".stripMargin

  /** PII patterns for [[textPii]] — deliberately restricted to the regex
    * subset where Java (Spark) and RE2 (DuckDB) agree exactly: character
    * classes, counted repetition, `\b`, greedy leftmost-first matching; no
    * backreferences, no lookaround (RE2 has neither). Both engines scan
    * the same text with the same pattern, so counts and replacement sites
    * are bit-identical.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  /** Valid-octet IPv4 (0–255 per field, no leading-zero requirement). One
    * documented laxity shared with production scrubbers: a dotted run
    * longer than four octets ("10.20.30.40.50") redacts its four-octet
    * prefix — excluding it needs lookahead, which RE2 lacks.
    */
  val PiiIpv4Re = s"\\b$Octet(\\.$Octet){3}\\b"
  val PiiPhoneRe = "\\+1 \\d{3} \\d{3} \\d{4}"

  /** PII detection + redaction — the scrub stage every public-web training
    * pipeline runs before release (C4 strips lines by blocklist; the
    * RefinedWeb/FineWeb lineage regex-redacts emails / phone numbers / IP
    * addresses in place). Per document: REDACTION counts per PII class,
    * the total, and the md5 of the redacted text. Redaction is sequential
    * with precedence email → IPv4 → phone, and each class is counted on
    * the text AFTER the higher-precedence classes redacted — so the counts
    * are exactly the substitutions performed, and an overlap (an IP inside
    * an email's host part) is attributed once, to the winning class, never
    * double-counted.
    *
    * The synthetic corpus carries no PII, so the query derives its input
    * deterministically: doc_id-keyed email / phone / IPv4 fragments are
    * appended to `text` by ARITHMETIC shared with the DuckDB twin (the
    * MediaOps recipe: the twin regenerates the same payload, so a hash
    * match proves the regex scan + redaction, not the generator). On a
    * real corpus the operator is the same projection applied to the raw
    * text column.
    *
    * Scale shape: pure per-row projection — one scan, zero shuffle,
    * whole-stage codegen; linear at 100 TB and embarrassingly partition-
    * parallel. Redacted text leaves the stage as a 16-byte digest, never
    * a second copy of the corpus.
    */
  def textPii(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val ptext = concat(
      $"text",
      when(pmod($"doc_id", lit(3)) === 0,
        concat(lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod($"doc_id", lit(5)) === 0,
        concat(lit(" call +1 415 555 "),
          lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod($"doc_id", lit(7)) === 0,
        concat(lit(" from 10.0."), pmod($"doc_id", lit(256)).cast("string"),
          lit("."), pmod($"doc_id" * 7, lit(256)).cast("string")))
        .otherwise(lit("")))
    docs(dir)
      .select($"doc_id", ptext.as("ptext"))
      // sequential precedence: each stage's count runs on the PREVIOUS
      // stage's output, so counts ≡ substitutions performed
      .withColumn("t1", regexp_replace($"ptext", PiiEmailRe, "<EMAIL>"))
      .withColumn("t2", regexp_replace($"t1", PiiIpv4Re, "<IP>"))
      .select($"doc_id",
        regexp_count($"ptext", lit(PiiEmailRe)).cast("bigint").as("n_email"),
        regexp_count($"t2", lit(PiiPhoneRe)).cast("bigint").as("n_phone"),
        regexp_count($"t1", lit(PiiIpv4Re)).cast("bigint").as("n_ipv4"),
        md5(regexp_replace($"t2", PiiPhoneRe, "<PHONE>")).as("redacted_md5"))
      .withColumn("pii_total", $"n_email" + $"n_phone" + $"n_ipv4")
      .select($"doc_id", $"n_email", $"n_phone", $"n_ipv4", $"pii_total",
        $"redacted_md5")
      .orderBy($"doc_id")
  }

  /** DuckDB twin: same arithmetic injection, the patterns INTERPOLATED
    * from the engine's constants (they cannot drift), same sequential
    * email → IP → phone stages with counts on the prior stage's output
    * ('g' flag — Spark replaces all by default).
    */
  val textPiiSql: String =
    s"""WITH p AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 3 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0
      |         THEN ' call +1 415 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
      |         ELSE '' END AS ptext
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, ptext,
      |    regexp_replace(ptext, '$PiiEmailRe', '<EMAIL>', 'g') AS t1
      |  FROM p),
      |st2 AS (
      |  SELECT doc_id, ptext, t1,
      |    regexp_replace(t1, '$PiiIpv4Re', '<IP>', 'g') AS t2
      |  FROM st),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(ptext, '$PiiEmailRe')) AS BIGINT) AS n_email,
      |    CAST(len(regexp_extract_all(t2, '$PiiPhoneRe')) AS BIGINT) AS n_phone,
      |    CAST(len(regexp_extract_all(t1, '$PiiIpv4Re')) AS BIGINT) AS n_ipv4,
      |    md5(regexp_replace(t2, '$PiiPhoneRe', '<PHONE>', 'g')) AS redacted_md5
      |  FROM st2)
      |SELECT doc_id, n_email, n_phone, n_ipv4,
      |  n_email + n_phone + n_ipv4 AS pii_total, redacted_md5
      |FROM c ORDER BY doc_id""".stripMargin
}
