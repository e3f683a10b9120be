package graft.api

import org.apache.spark.sql.DataFrame

/** Measured-size broadcast gating for frames that were just eagerly
  * localCheckpointed (optimization-round machinery, guide §2.4/§3.1).
  *
  * A localCheckpoint's LogicalRDD reports plan-derived statistics, not
  * the materialized size, so the planner routinely sort-merge-joins
  * frames that are actually a few KB. The block manager already knows
  * the real size — the blocks were just written — so reading it costs
  * ZERO jobs, and a broadcast hint gated on that measurement never
  * risks broadcasting something big: unknown or oversized frames simply
  * keep the shuffle plan (fail-safe in the scale direction).
  */
private[graft] object FrameStats {

  /** Byte ceiling for measured-size broadcast hints. 32 MiB is
    * workload-independent: well under the 8 GB broadcast cap and any sane
    * executor memory.
    */
  val broadcastGateBytes: Long = 32L << 20

  /** Measured bytes of an eagerly localCheckpointed frame, from the
    * block manager's storage info. The frame may sit under projections;
    * the LogicalRDD is found by leaf scan. Unknown shapes report
    * Long.MaxValue so every gate fails closed. Sizes are SizeEstimator
    * JVM-object sizes (an overestimate of data bytes), which only makes
    * gates more conservative.
    */
  def checkpointedBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.flatMap { id =>
      df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == id)
        .map(i => i.memSize + i.diskSize)
    }.getOrElse(Long.MaxValue)

  /** Broadcast-hint `df` when `bytes` clears the gate. Safe
    * unconditionally: a hint never changes results, and a join shape
    * that cannot serve it ignores it.
    */
  def broadcastIfSmall(df: DataFrame, bytes: Long): DataFrame =
    if (bytes <= broadcastGateBytes)
      df.hint("broadcast")
    else df

  /** Gate an already-checkpointed frame on its own measured size. */
  def broadcastIfSmall(df: DataFrame): DataFrame =
    broadcastIfSmall(df, checkpointedBytes(df))
}
