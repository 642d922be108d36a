package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Shared scan-side helpers for the operator library. */
object ScanOps {

  /** Parallelism floor for COMPUTE-bound operators (guide §2.5: "one huge
    * unsplittable file → repartition immediately after the read", mirrored
    * here for the opposite degenerate case — a scan so small it yields
    * fewer splits than cores). The bench corpus is a single small parquet
    * file per table, so scan-rooted pipelines otherwise run their whole
    * per-row stage in ONE task while the remaining cores idle (measured:
    * video_frames wall ≈ cpu ≈ 2.9 s at 32c before the floor). The
    * round-robin repartition shuffles only the projected input columns
    * and is a NO-OP whenever the scan already splits at least
    * `defaultParallelism` ways — i.e. on any real-scale input the extra
    * exchange disappears and predicate pushdown is untouched. Core count
    * comes from the session (`defaultParallelism`), never a constant.
    *
    * APPLY ONLY TO GENUINELY COMPUTE-BOUND STAGES (≳ 1 ms real work per
    * row). Measured on the bench box: fanning a ~0.2 s-of-work text/embed
    * stage out to 32 tasks INFLATED total task-CPU 15–50× (per-task fixed
    * overhead + this virtualized box's wide-concurrency penalty — the same
    * effect the crawl bench records as cpu_overhead_ratio_32c_over_4c
    * ≈ 1.37) and made wall WORSE under load; the repro is
    * `src/test/scala/graft/FloorDebug.scala` at commit `3481656`.
    * video_frames (~1 ms/row of codec work) gains 4× wall; the gram/token
    * pipelines lose — so they stay unfloored.
    */
  private[operators] def parallelismFloor(df: DataFrame): DataFrame = {
    val floor = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df) < floor) df.repartition(floor) else df
  }

  /** The split count of `df`'s file scan, read from its physical plan: no
    * deserializer, no throwaway plan, no job. `df` must be a file scan
    * with narrow operators on top; anything else is rejected, since a
    * plan with an exchange has no single split count to read.
    */
  private def scanSplits(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    require(scans.size == 1 && plan.collectFirst { case e: Exchange => e }.isEmpty,
      s"parallelismFloor takes one file scan without exchanges:\n$plan")
    scans.head.inputRDD.getNumPartitions
  }
}
