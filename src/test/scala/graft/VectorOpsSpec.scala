package graft

import graft.operators.{VectorExpr, VectorOps}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall gates for the LSH-based similarity operators: the scale-path
  * (equi-join candidate generation) results are checked against brute-force
  * truth computed inline. Precision is 1 by construction (exact-cosine
  * verify); recall is the probabilistic part, so it is MEASURED here, not
  * assumed. Corpus: /root/testdata/sf0.01 embeddings (500 × 64-dim random
  * near-orthogonal vectors — LSH's worst case; clustered real embeddings
  * prune harder at the same recall).
  */
class VectorOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    Session.builder(4).appName("vector-ops-spec").getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  test("embed_neardup: LSH pairs ⊆ brute-force truth with recall ≥ 0.9") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(VectorOps.embedNearDupBrute(spark, dir))
    val lsh = pairs(VectorOps.embedNearDup(spark, dir))
    assert(truth.nonEmpty)
    assert(lsh.subsetOf(truth), "LSH returned a pair below the threshold")
    val recall = lsh.size.toDouble / truth.size
    info(f"embed_neardup recall = $recall%.3f (${lsh.size}/${truth.size})")
    assert(recall >= 0.9, f"recall $recall%.3f < 0.9")
  }

  test("embed_ann_lsh: recall@3 vs exact KNN ≥ 0.85") {
    import spark.implicits._
    // exact top-3 truth by brute force over the same query set (vec_id < 50)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding".as("ce"))
    val sim = expr(
      """round(aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)),
        | cast(0 as double), (acc, v) -> acc + v)
        | / (sqrt(aggregate(qe, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))
        |  * sqrt(aggregate(ce, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))), 6)"""
        .stripMargin)
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id".asc)
    val truth = q.crossJoin(c).where($"query_id" =!= $"neighbor_id")
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(w)).where($"rank" <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = VectorOps.embedAnnLsh(spark, dir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = (truth & ann).size.toDouble / truth.size
    val n = e.count()
    val frac = VectorOps.annCandidates(spark, dir).count().toDouble / (50.0 * (n - 1))
    info(f"embed_ann_lsh recall@3 = $recall%.3f, candidate fraction = $frac%.3f " +
      "(random near-orthogonal corpus: LSH's worst case, fraction is " +
      "necessarily high at small N)")
    assert(recall >= 0.85, f"recall $recall%.3f < 0.85")
  }

  /** 256-cluster × 50-member corpus (within-cluster cosine ~0.9) — the
    * regime indexed ANN exists for. Written once, shared by the LSH and IVF
    * clustered gates.
    */
  private lazy val clusteredDir: String = {
    import spark.implicits._
    val members = 50
    val cdir = java.nio.file.Files.createTempDirectory("ann-clustered").toString
    spark.range(clusteredN).map { id =>
      val cluster = id / members
      val crng = new java.util.SplittableRandom(1000003L * (cluster + 1))
      val center = Array.fill(64)(crng.nextDouble() * 2 - 1)
      val mrng = new java.util.SplittableRandom(7L * id + 13)
      val v = center.map(c => (c + 0.5 * (mrng.nextDouble() * 2 - 1)).toFloat)
      (id, v, cluster.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$cdir/embeddings.parquet")
    cdir
  }
  private val clusteredN = 12800

  /** Independent re-statements of the engine's cosine rounding and IVF
    * sampling hash, shared by the two-level reference test and the
    * empty-super fallback test — one place to keep in lockstep with
    * VectorOps if the scale-6 rounding or the mix constants ever change.
    */
  private def refCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def refIvfHash(id: Long): Long =
    ((id % 1048576) * 2654435761L + (id / 1048576) * 2246822519L) % 4294967296L

  /** Brute-force top-3 truth over the query set (vec_id < 50). */
  private def knnTruth(dir: String): Set[(Long, Long)] = {
    import spark.implicits._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding".as("ce"))
    val sim = expr(
      """round(aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)),
        | cast(0 as double), (acc, v) -> acc + v)
        | / (sqrt(aggregate(qe, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))
        |  * sqrt(aggregate(ce, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))), 6)"""
        .stripMargin)
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id".asc)
    q.crossJoin(c).where($"query_id" =!= $"neighbor_id")
      .withColumn("sim", sim)
      .withColumn("rank", row_number().over(w)).where($"rank" <= 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("embed_neardup on clustered embeddings: candidate fraction < 10% at " +
    "within-cluster recall ≥ 0.9") {
    // The r4 verdict's last quadratic-at-scale stage: fixed 4-bit codes made
    // |bucket| ≈ N/16. With nearDupBits ~ log2(N/4) the candidate stage must
    // probe a SMALL fraction of the pair space on the clustered corpus while
    // 1-bit multiprobe holds recall. Truth here = same-cluster pairs at
    // sim ≥ 0.4 (a label equi-join, cheap) — a lower bound on full recall
    // since cross-cluster near-dups are vanishingly rare on this corpus.
    import spark.implicits._
    val e = spark.read.parquet(s"$clusteredDir/embeddings.parquet")
    val simExpr = expr(
      """round(aggregate(zip_with(ea, eb, (x, y) -> cast(x as double) * cast(y as double)),
        | cast(0 as double), (acc, v) -> acc + v)
        | / (sqrt(aggregate(ea, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))
        |  * sqrt(aggregate(eb, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))), 6)"""
        .stripMargin)
    val truth = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
      .withColumn("sim", simExpr).where($"sim" >= 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size > 100000, s"degenerate clustered truth: ${truth.size}")
    val found = VectorOps.embedNearDup(spark, clusteredDir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    val pairSpace = clusteredN.toDouble * (clusteredN - 1) / 2.0
    val frac = VectorOps.nearDupCandidates(spark, clusteredDir).count() / pairSpace
    info(f"clustered embed_neardup within-cluster recall = $recall%.3f, " +
      f"candidate fraction = $frac%.3f")
    assert(recall >= 0.9, f"within-cluster recall $recall%.3f < 0.9")
    assert(frac < 0.10,
      f"candidate fraction $frac%.3f >= 0.10 — the code length is not pruning")
  }

  test("embed_ann_lsh on clustered embeddings: fraction < 10% at recall ≥ 0.85") {
    // The adaptive code length (annBits ~ log2 N) keeps bucket occupancy
    // bounded, so the candidate stage probes a SMALL fraction of the pair
    // space while multiprobe holds recall.
    val truth = knnTruth(clusteredDir)
    val ann = VectorOps.embedAnnLsh(spark, clusteredDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & ann).size.toDouble / truth.size
    val frac = VectorOps.annCandidates(spark, clusteredDir).count().toDouble /
      (50.0 * (clusteredN - 1))
    info(f"clustered ann_lsh recall@3 = $recall%.3f, candidate fraction = $frac%.3f")
    assert(recall >= 0.85, f"recall $recall%.3f < 0.85")
    assert(frac < 0.10, f"candidate fraction $frac%.3f >= 0.10 — LSH is not pruning")
  }

  test("embed_ann_ivf on clustered embeddings: fraction < 10% at recall ≥ 0.85") {
    // The IVF decomposition on the same corpus: √(N/4) sampled-centroid
    // cells, nprobe=4. Neighbors are cluster-mates, cluster-mates assign to
    // the same cell, and the query's probe list contains it.
    val truth = knnTruth(clusteredDir)
    val ann = VectorOps.embedAnnIvf(spark, clusteredDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & ann).size.toDouble / truth.size
    val frac = VectorOps.annIvfCandidates(spark, clusteredDir).count().toDouble /
      (50.0 * (clusteredN - 1))
    info(f"clustered ann_ivf recall@3 = $recall%.3f, candidate fraction = $frac%.3f")
    assert(recall >= 0.85, f"recall $recall%.3f < 0.85")
    assert(frac < 0.10, f"candidate fraction $frac%.3f >= 0.10 — IVF is not pruning")
  }

  test("two-level IVF at the cap: engine output matches an independent " +
    "reference of the two-level definition") {
    // K hits IvfKCap only at N ≥ 4·K² ≈ 6.7·10^7 rows — out of unit-test
    // range — so the cap is PARAMETERIZED: at kCap=10 the sf0.01 corpus
    // (N=500, uncapped K=11) activates the same two-level code path the
    // production cap activates at scale (kCap=10 picked because its strides
    // sample a healthy 15-cell/5-super split; some steps resonate with the
    // multiplicative hash on dense small ids — e.g. step 62 ≡ the
    // multiplier's mod — and collapse the sample). Reference: an
    // independent plain-Scala implementation of the definition (hash-stride
    // cells, coarser-stride supers, cell→super argmax, vector→super→cell
    // assignment, flat query probes, exact-cosine top-3), row-for-row.
    import spark.implicits._
    val kCap = 10
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val n = rows.length
    val k = VectorOps.ivfK(n, kCap)
    assert(k == kCap, s"cap not hit: k=$k — corpus too small for the test")
    val step = math.max(1L, n.toLong / k)
    val k1 = VectorOps.ivfK1(k)
    val step2 = step * math.max(1L, k.toLong / k1)
    val cents = rows.filter { case (id, _) => refIvfHash(id) % step == 0 }
    val sups = rows.filter { case (id, _) => refIvfHash(id) % step2 == 0 }
    assert(sups.nonEmpty && sups.length < cents.length,
      s"degenerate two-level split: ${cents.length} cells / ${sups.length} supers")
    def argmax(v: Array[Float], cs: Seq[(Long, Array[Float])]): Long =
      cs.map { case (cid, cv) => (-refCos(v, cv), cid) }.min._2
    val sidOf = cents.map { case (cid, cv) => cid -> argmax(cv, sups) }.toMap
    def cellOf(v: Array[Float]): Long = {
      val vs = argmax(v, sups)
      argmax(v, cents.filter { case (cid, _) => sidOf(cid) == vs || cid == vs })
    }
    val cellByVec = rows.map { case (id, v) => id -> cellOf(v) }.toMap
    val expected = rows.filter(_._1 < 50).flatMap { case (q, qv) =>
      val probed = cents.map { case (cid, cv) => (-refCos(qv, cv), cid) }
        .sorted.take(VectorOps.AnnIvfProbe).map(_._2).toSet
      rows.filter { case (c, _) => c != q && probed(cellByVec(c)) }
        .map { case (c, cv) => (-refCos(qv, cv), c) }.sorted.take(3).zipWithIndex
        .map { case ((ns, c), i) => (q, c, -ns, i + 1) }
    }.toSet
    val engine = VectorOps.embedAnnIvf(spark, dir, kCap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(expected.nonEmpty)
    assert(engine == expected,
      s"two-level mismatch: engine-only=${(engine -- expected).take(5)} " +
        s"ref-only=${(expected -- engine).take(5)}")
  }

  test("two-level IVF: empty super-sample falls back to supers = cells " +
    "(no silent empty result)") {
    // ids are NOT assumed dense, and a stride can resonate with the
    // multiplicative hash so that the coarser step2 sub-sample is EMPTY
    // while the cell sample is healthy. Without the fallback, argmax over
    // zero supers NULLs every assignment and the query returns ZERO rows
    // with no error — and the SQL twin degenerates identically, so the
    // oracle hash-match could never catch it. Construction: n=40 ids from
    // 0..49 with h%20==0 holders {0,12,24} excluded → cells = {26,38}
    // (h%10==0) and supers = ∅ (h%20==0). With nprobe=4 ≥ K=2 every cell
    // is probed, so the correct fallback result is EXACT top-3 KNN over
    // the 40 vectors — an independent reference needing no IVF code.
    import spark.implicits._
    val kCap = 4
    val ids = (0L until 50L).filter(id => refIvfHash(id) % 20 != 0).take(40).toVector
    assert(ids.size == 40 && ids.count(id => refIvfHash(id) % 10 == 0) == 2)
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").limit(40).collect().map(_.getSeq[Float](1).toArray)
    val rows = ids.zip(embs)
    val tdir = java.nio.file.Files.createTempDirectory("ivf-nosup").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tdir/embeddings.parquet")
    val expected = rows.flatMap { case (q, qv) =>
      rows.filter(_._1 != q).map { case (c, cv) => (-refCos(qv, cv), c) }
        .sorted.take(3).zipWithIndex
        .map { case ((ns, c), i) => (q, c, -ns, i + 1) }
    }.toSet
    val engine = VectorOps.embedAnnIvf(spark, tdir, kCap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(engine.nonEmpty, "empty super sample silently emptied the result")
    assert(engine == expected,
      s"fallback mismatch: engine-only=${(engine -- expected).take(5)} " +
        s"ref-only=${(expected -- engine).take(5)}")
    graft.engine.Fs.delete(tdir)
  }

  test("embed_ann_ivf on a tiny table (n < 16): degenerate quantizer still " +
    "answers, matching the SQL twin's domain") {
    // the step = max(1, n/k) clamp must make ANY n a valid quantizer — the
    // DuckDB twin handles all n via GREATEST, and an operator must share
    // its oracle's domain (r4 review: a require(n >= 16) split them)
    import spark.implicits._
    val tiny = java.nio.file.Files.createTempDirectory("ivf-tiny").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .where($"vec_id" < 10)
      .write.mode("overwrite").parquet(s"$tiny/embeddings.parquet")
    val out = VectorOps.embedAnnIvf(spark, tiny)
      .select("query_id", "neighbor_id", "rank").collect()
    assert(out.nonEmpty, "tiny-n IVF returned nothing")
    assert(out.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 3))
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    graft.engine.Fs.delete(tiny)
  }

  test("embed_neardup_clusters matches an independent union-find over the " +
      "verified cosine pair graph") {
    val pairs = VectorOps.embedNearDup(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = TestGraph.canonicalClusters(pairs)
    val got = VectorOps.embedNearDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == expected,
      s"clusters drifted: extra=${got -- expected}, missing=${expected -- got}")
    assert(expected.exists(_._3 >= 3), "no multi-hop component among pairs")
  }

  test("dot / norm2 kernels match the aggregate(zip_with) folds bit for bit, " +
      "codegen and interpreted") {
    import org.apache.spark.sql.types._
    val rng = new java.util.SplittableRandom(7)
    def vec(n: Int): Seq[java.lang.Float] =
      Seq.fill(n)(java.lang.Float.valueOf((rng.nextDouble() * 2 - 1).toFloat))
    val cases = Seq(
      "length 64" -> (vec(64), vec(64)),
      "length 3" -> (vec(3), vec(3)),
      "unequal lengths" -> (vec(3), vec(4)),
      "null element" -> (vec(2) :+ null, vec(3)),
      "empty" -> (Seq.empty, Seq.empty),
      "null array" -> (null, vec(3)))
    val arr = ArrayType(FloatType, containsNull = true)
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("a", arr), StructField("b", arr)))
    // an RDD-backed frame: a local relation would be evaluated by the
    // optimizer, in neither mode under test
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      cases.map { case (n, (a, b)) => Row(n, a, b) }, 1), schema)
    val folds = Seq(
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), " +
        "cast(0 as double), (acc, v) -> acc + v)"),
      expr("aggregate(a, cast(0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double))"))
    val kernels = Seq(VectorExpr.dot(col("a"), col("b")), VectorExpr.norm2(col("a")))
    def bits(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    val modes = Seq("codegen" -> ("CODEGEN_ONLY", "true"),
      "interpreted" -> ("NO_CODEGEN", "false"))
    for ((mode, (factory, wholeStage)) <- modes) {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val rows = df.select((col("name") +: folds) ++ kernels: _*).collect()
        assert(rows.length == cases.size)
        for (r <- rows) {
          val name = r.getString(0)
          assert(bits(r, 3) == bits(r, 1), s"dot, $name, $mode")
          assert(bits(r, 4) == bits(r, 2), s"norm2, $name, $mode")
        }
        val byName = rows.map(r => r.getString(0) -> r).toMap
        assert(!byName("length 64").isNullAt(3) && !byName("length 3").isNullAt(4))
        assert(byName("unequal lengths").isNullAt(3) && byName("null element").isNullAt(4))
        assert(byName("empty").getDouble(3) == 0.0 && byName("null array").isNullAt(3))
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }
}
