package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval joins (reference `TableIntervalJoin`,
  * `expr/ir/TableIR.scala:2264`; lowering `LowerTableIR.scala:1591`).
  *
  * `pointInInterval` broadcasts the interval table and lets Catalyst run a
  * BroadcastNestedLoopJoin with the range predicate. Right for the common
  * annotation case (interval tables are small: gene lists, target panels).
  * At 100 TB of points this is still a single narrow pass — each point
  * partition probes the broadcast intervals; no shuffle of the big side.
  */
object IntervalJoin {

  /** Inner join: one output row per (point row, containing interval).
    * Interval semantics: [lo, hi) — start inclusive, end exclusive
    * (the reference's default interval). */
  def pointInInterval(points: DataFrame, point: Column,
      intervals: DataFrame, lo: Column, hi: Column): DataFrame =
    points.join(broadcast(intervals), point >= lo && point < hi, "inner")
}
