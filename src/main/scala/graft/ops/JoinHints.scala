package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast-hint rule every query-set-sized build side shares:
  * hint ONLY when Catalyst's own size estimate fits the session's
  * broadcast threshold. An unconditional `broadcast(...)` on a frame
  * that grows with the corpus or query set overrides both the planner's
  * and AQE's size checks, so an externally grown input (a 100× query
  * batch, a mass takedown's tombstone set) would be collected onto the
  * driver regardless (first seen on the IVF probe re-join). Under the
  * gate, small inputs keep
  * their broadcast plan (and their oracle-pinned results and
  * plan-shape pins) byte-for-byte, while a grown frame is left
  * un-hinted for the planner/AQE to place by measured size.
  *
  * Constant-bounded frames (1-row stats, k centroids, capped literals)
  * keep their unconditional hints — the gate is for frames whose row
  * count scales with an input.
  *
  * `knownFraction`: Catalyst's size-ONLY estimator propagates a
  * Filter's CHILD size unchanged (no CBO selectivity), so a
  * stride-filtered query frame is estimated at the full table's bytes
  * — the gate would drop the hint at exactly the corpus sizes where
  * broadcasting 1/stride of the table is still right, and on the
  * NON-EQUI similarity joins the un-hinted fallback is a cartesian
  * product, not a shuffle join. Callers whose filter guarantees a
  * structural fraction (`vec_id % stride === 0` keeps exactly
  * 1/stride of the rows) pass it, and the gate prices the estimate by
  * it; everything else keeps the conservative 1.0. */
object JoinHints {
  def broadcastIfSmall(df: DataFrame, knownFraction: Double = 1.0): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble * knownFraction
    if (thr > 0 && est <= thr.toDouble) broadcast(df) else df
  }
}
