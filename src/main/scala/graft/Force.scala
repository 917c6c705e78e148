package graft

import org.apache.spark.sql.DataFrame

/** Full-plan execution forcing for the measurement tools (Bench,
  * ScaleLadder, StageProfile --summary, Scratch).
  *
  * `df.count()` is NOT a valid way to measure an operator: Catalyst
  * re-optimizes the counting plan, and anything the row count does not
  * depend on is eliminated. Column pruning is the mild case; the sharp
  * one is outer-join elimination over distinct keys — e.g. qc_profile
  * right-joins its aggregate (distinct by construction: the join key is
  * the groupBy key) onto a 6-row column skeleton, so `count()` proves
  * the answer is 6 from the skeleton alone and SKIPS THE ENTIRE SCAN +
  * AGGREGATION (measured: 0.15 s / 0 input bytes under count() vs
  * 2.8 s / 100 MB scanned under collect() at the sf4 ladder rung —
  * caught in round 11 when the ladder reported a 6 M-row profile at
  * 46 task-milliseconds).
  *
  * `queryExecution.toRdd.count()` executes the DataFrame's OWN
  * physical plan — every output column, no counting-specific
  * re-optimization — and counts InternalRows per partition without
  * moving them to the driver (safe for the 95 M-row pair frames where
  * `collect()` would OOM). That is the work a sink writing the result
  * would pay, minus the sink itself.
  */
object Force {
  /** Execute `df`'s full plan; returns the row count. */
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
