package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Presentation ordering for results that are SMALL BY CONSTRUCTION.
  *
  * A global `orderBy` plans a range exchange: one sampling job over the
  * child to pick bounds, one shuffle stage, one sorted read — for a query
  * whose result is a handful of rows that is 2-3 AQE stage-jobs of pure
  * overhead, and on tiny-result queries the per-job scheduling floor is
  * most of the wall clock (guide §2.4: "an `orderBy` used only to make
  * output deterministic" is an exchange to remove). Folding the result to
  * one partition (narrow `coalesce` — no shuffle) and sorting inside it
  * produces the SAME rows in the SAME total order with zero exchanges.
  *
  * Only use where the row count is bounded by construction — a fixed group
  * count, a top-k, a driver-bounded traversal — never on data-sized
  * results (a single-partition sort of a corpus-sized result would
  * serialize it at 100 TB; those keep the distributed `orderBy`). The
  * bound also means the single sort task is trivially small at any scale.
  */
object Ordered {
  def small(df: DataFrame)(cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** [[small]] when `source`, the frame `df` is derived from, is a
    * driver-local relation — a graph operator's small-regime result (see
    * the `GraphOps` scale notes) — and a global `orderBy` otherwise, where
    * the same operator's result may be data-sized. The regime that
    * produced `source` decides, so one query sorts both ways correctly.
    */
  def byRegime(source: DataFrame)(df: DataFrame)(cols: Column*): DataFrame =
    if (source.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      small(df)(cols: _*)
    else df.orderBy(cols: _*)
}
