package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How many tasks a crawl round's stage opens: sized by the rows the stage
  * carries, not by the cores (Hyper Dimension Shuffle, VLDB 2019, bounds
  * repartition fan-out by the data the same way).
  *
  * A task has a fixed cost whatever its rows: start-up, a Hadoop
  * `Configuration` copy, a parquet reader or writer. A steady crawl_deep
  * round of 90–190 URLs does 10–30 ms of fetch work, so fanning it out to
  * every core paid that fixed cost dozens of times for nothing. The row
  * counts come from statistics the engine already holds (manifest counts,
  * parquet footers), never from a counting job, so sizing adds no job and
  * no compile to a round.
  */
private[graft] object Fanout {

  /** Rows a task carries before the rule opens another. Set from
    * measurement on a 4-core VM: each task a steady crawl_deep round no
    * longer opens saved 10–17 ms of task-CPU, and a fetched URL costs
    * 80–160 µs of codec work at the benchmark's image sizes, so 1024 rows
    * keep the fixed cost near a tenth of a fetch task's work. It is also
    * the largest power of two at which `graft.Bench`'s 1200-host round
    * (120000 frontier rows, 40 or 100 scheduled per host) keeps its full
    * fan-out at 32 cores.
    */
  private val PerTask = 1024L

  /** `ceil(rows / PerTask)`, rounded up to a power of two, clamped to
    * `[1, cap]`. Powers of two keep the distinct partition counts few: a
    * hash exchange's count is a literal in its generated partition-id
    * projection, so every distinct count is a class of its own.
    */
  def partitions(rows: Long, cap: Int): Int = {
    val need = math.max(1L, rows / PerTask + (if (rows % PerTask > 0) 1 else 0))
    if (need >= cap) math.max(1, cap)
    else {
      val pow = java.lang.Long.highestOneBit(need)
      math.min(if (pow == need) pow else pow << 1, cap.toLong).toInt
    }
  }

  /** The fetch's task count: twice the cores at most (per-URL fetch cost
    * varies, so finer tasks let the scheduler level the load).
    */
  def fetch(spark: SparkSession, rows: Long): Int =
    partitions(rows, 2 * spark.sparkContext.defaultParallelism)

  /** `df` (at most `rows` rows) read by as many tasks as the rule allows,
    * one per core at most: `df` unchanged when the rule allows every core
    * (a large input keeps one task per file split), else `df.coalesce(n)`.
    * `coalesce` adds no exchange and no generated class; a single
    * partition also lets the planner drop the exchanges that one partition
    * already satisfies.
    */
  def narrow(df: DataFrame, rows: Long): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val n = partitions(rows, cores)
    if (n >= cores) df else df.coalesce(n)
  }
}
