package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Conditional scan fan-out (optimization guide §2.5 "input skew: one huge
  * unsplittable file … repartition immediately after the read", §6 input
  * split sizing).
  *
  * A small parquet fixture is a single row group, i.e. ONE scan split, so
  * every map-heavy stage rooted at the scan (tokenize → explode → partial
  * aggregate, codec passes, signature hashing) serializes on one task while
  * the other cores idle — and a `pinned`/localCheckpoint downstream FREEZES
  * that 1-partition layout for every consumer. At production scale the same
  * scan has thousands of row-group splits and needs nothing.
  *
  * `fan` therefore repartitions ONLY when the physical scan provides fewer
  * partitions than the session's parallelism — data-adaptive, not a
  * local-mode constant: on a 100 TB input the condition is false and the
  * plan contains no exchange at all. The key must be a deterministic column
  * (hash partitioning is retry-safe; round-robin repartition of a re-read
  * source is not, SPARK-38388). Callers place it where the shuffled bytes
  * are small (ids + text, never payloads/signatures).
  */
object Spread {
  /** Fan `df` out to the session's parallelism by hash of `key` when its
    * scan provides fewer partitions than that.
    *
    * CONTRACT: call only on a frame rooted directly at a scan (or another
    * already-materialized source); `fan` fails fast otherwise (see
    * [[scanRooted]]). Probing the partition count requires
    * physically planning `df` once on the driver, and the count read is the
    * PRE-AQE one — both fine for a scan root (planning a scan is cheap and
    * its split count is final), but a mid-pipeline fan would pay a full
    * plan-and-discard and read a pre-coalesce number that AQE then changes.
    * `toRdd` (the internal-row RDD) rather than `df.rdd` avoids planning a
    * second, throwaway deserializer projection just to count partitions.
    *
    * `minBytes` > 0 additionally requires the frame's Catalyst size
    * estimate to reach that floor before fanning: the repartition ships
    * every byte once, so on a small under-split input (the KB-scale bench
    * fixture is ONE split) the exchange costs more than the unlocked
    * parallelism earns — measured at sf0.1 for the LM family: fanning the
    * 0.5 MB single-split scan took q_text_lmscore 0.53 -> 0.91 s, while at
    * sf100 the same fan on the 560 MB / 5-split scan is the difference
    * between 5 and 32 cores doing the digest work. Callers whose per-row
    * work is extreme enough to win even at KB scale (Unigram.encode's
    * Viterbi DP) pass 0. The fan-on/fan-off A/B behind these rules is in
    * OPTIMIZATION_r17.md and OPTIMIZATION_r18.md.
    */
  def fan(df: DataFrame, key: Column, minBytes: Long = 0L): DataFrame = {
    require(scanRooted(df.queryExecution.optimizedPlan),
      s"Spread.fan needs a frame rooted at a scan, got:\n${df.queryExecution.optimizedPlan}")
    if (minBytes > 0) {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est < minBytes) return df
    }
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val scanParts = df.queryExecution.toRdd.getNumPartitions
    if (scanParts < cores) df.repartition(cores, key) else df
  }

  /** True when `plan` is only projections and filters (plus the
    * `Tables.chaos` map-partitions wrapper) over a scan, a checkpointed or
    * cached frame, or a local relation.
    */
  private def scanRooted(plan: LogicalPlan): Boolean = plan match {
    case _: LogicalRelation | _: LogicalRDD | _: InMemoryRelation | _: LocalRelation => true
    case _: Project | _: Filter | _: SerializeFromObject | _: MapPartitions |
        _: DeserializeToObject => scanRooted(plan.children.head)
    case _ => false
  }
}
