package graft.operators

import graft.core.{TaskLoader, Telemetry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph primitives shared by the dedup operators. */
object GraphOps {

  /** persist() only when the identical plan is not already cached: these
    * query builders run repeatedly in one session (bench passes, the pair
    * query next to its clusters variant), and a second persist() of the
    * same plan spams "CacheManager: Asked to cache already cached data"
    * warnings. The cache entry is reused either way — this keeps the logs
    * honest without changing what is cached.
    */
  private[operators] def persistOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    else df

  /** Hash-min connected components over an undirected pair list (two
    * columns of any orderable id type — long doc/vec ids, string URLs).
    * Returns one row per node with `lbl` = min node id in its component.
    *
    * Scale shape: iterative hash-min label propagation — per iteration one
    * equi-join of the edge list against the current labels plus a min
    * aggregate, all on 8-byte longs; edges are materialized once (lazy
    * localCheckpoint) and reused, labels are `localCheckpoint`ed so the
    * plan never accretes lineage across iterations. Converges in
    * O(component diameter) iterations —
    * tiny in practice because near-dup components are dense blobs of mutual
    * near-dups, not long chains; a corpus with adversarial chain-shaped
    * components would swap this loop for the two-phase large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), which is O(log²N) rounds on the same join-shaped per-round
    * plan. The edge list is |near-dup pairs|, orders of magnitude under
    * corpus size, so each round's shuffle is small even at 100 TB of
    * documents.
    *
    * Runs under the local-mode task classloader ([[TaskLoader]]): the pair
    * checkpoint (and the pair builders it triggers), the label init and
    * every iteration compile each whole-stage class into one codegen-cache
    * entry instead of two, so a warm pass finds its classes cached.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val s = pairs.sparkSession
    // the loader probe is a one-task job, once per session
    Telemetry.phase(s.sparkContext, "cc: taskLoader")(TaskLoader.of(s)): Unit
    TaskLoader.run(s)(propagate(pairs, maxIters))
  }

  private def propagate(pairs: DataFrame, maxIters: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val Seq(a, b) = pairs.columns.toSeq
    // Materialize the VERIFIED PAIR GRAPH once (lazy localCheckpoint),
    // BEFORE the direction-doubling union: the union's two branches are
    // separate subtrees, so an unmaterialized pairs plan would run the
    // whole candidate+verify pipeline twice. NOT persist(): a persist()
    // here wraps the pair pipeline (itself an adaptive plan) in an
    // InMemoryRelation whose early consumers re-executed the pipeline
    // instead of reading cached batches — measured at sf0.1,
    // img_phash_clusters burned 26-39 s task-CPU with ~8-17 s inside the
    // first propagate stage alone; with checkpointed RDD blocks the same
    // query is ~5 s CPU. Edges stay a cheap projection over the
    // checkpointed 16-byte rows; blocks are reclaimed by the
    // ContextCleaner once the RDD is unreferenced (same reclamation story
    // as phashNearDup's `hashes`). Under AQE the checkpoint call itself
    // runs the pair plan's exchanges, so they carry the "cc: pairs" label.
    val sc = s.sparkContext
    val p0 = Telemetry.phase(sc, "cc: pairs")(pairs.localCheckpoint(false))
    val edges = p0
      .union(p0.select(col(b), col(a)))
      .toDF("src", "dst")
    var labels = Telemetry.phase(sc, "cc: init labels (materialize edges)") {
      edges.select($"src".as("node")).distinct()
        .select($"node", $"node".as("lbl"))
        .localCheckpoint()
    }
    // maxIters >= component diameter suffices; fixpoint is guaranteed
    // (labels decrease monotonically over a finite order)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select($"node".as("dst"), $"lbl".as("nlbl")), Seq("dst"))
        .groupBy($"src")
        .agg(min($"nlbl").as("nmin"))
        .select($"src".as("node"), $"nmin")
      // the checkpointed pass carries BOTH the updated label and a changed
      // flag (nmin < lbl ⇔ the old "next.lbl < old.lbl" test), so
      // convergence detection is a limit-1 scan of the already-materialized
      // checkpoint blocks instead of a join + full recompute per round —
      // one fewer shuffle job per iteration across all three clustering
      // queries (guide §2.4: remove shuffles outright)
      val next = Telemetry.phase(sc, s"cc: iter $iter propagate") {
        labels.join(nbrMin, Seq("node"), "left")
          .select($"node", least($"lbl", coalesce($"nmin", $"lbl")).as("lbl"),
            (coalesce($"nmin", $"lbl") < $"lbl").as("chg"))
          .localCheckpoint()
      }
      converged = Telemetry.phase(sc, s"cc: iter $iter converge check")(
        next.where($"chg").limit(1).count() == 0L)
      labels = next.select($"node", $"lbl")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint in $maxIters rounds — component " +
          "diameter exceeds the propagation bound; use star-contraction")
    labels
  }

  /** Project component labels into the cluster-canonicalization output
    * shape shared by `neardup_clusters` and `embed_neardup_clusters`:
    * (id, cluster_id = component min, cluster_size, is_canonical).
    */
  def canonicalClusters(pairs: DataFrame, idName: String): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select($"node".as(idName), $"lbl".as("cluster_id"),
        $"cluster_size", ($"node" === $"lbl").as("is_canonical"))
      .orderBy($"cluster_id", col(idName))
  }

  /** DuckDB twin skeleton shared by ALL cluster oracles (text, embedding,
    * image): given a chain of pair CTEs ending in relation `pairRel` with
    * id columns (aCol, bCol), compute components via a recursive
    * min-label-reachability CTE (the recursive UNION dedups states, so it
    * terminates at the transitive closure) and project the
    * [[canonicalClusters]] output shape. One skeleton, three call sites —
    * a fix to the component SQL cannot drift between the oracles.
    */
  def componentsSql(pairCtes: String, pairRel: String,
      aCol: String, bCol: String, idName: String): String =
    s"""WITH RECURSIVE $pairCtes,
       |edges AS (SELECT $aCol AS src, $bCol AS dst FROM $pairRel
       |          UNION ALL SELECT $bCol, $aCol FROM $pairRel),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM edges e JOIN reach r ON e.src = r.node),
       |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
       |SELECT c.node AS $idName, c.cluster_id, s.cluster_size,
       |       c.node = c.cluster_id AS is_canonical
       |FROM comp c JOIN sz s USING (cluster_id)
       |ORDER BY cluster_id, $idName""".stripMargin
}
