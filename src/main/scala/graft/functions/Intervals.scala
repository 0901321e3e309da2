package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interval value helpers over the
  * `struct(start, end, includes_start, includes_end)` encoding
  * (reference `TInterval`, `types/virtual/TInterval.scala`; expression
  * surface `functions/IntervalFunctions.scala` — interval(), contains,
  * overlaps, is_empty). Pure codegen'd Column expressions for any
  * ordered point type; the interval JOINS live in
  * `operators/IntervalJoin` (broadcast point-in-interval). */
object Intervals {

  def interval(start: Column, end: Column,
      includesStart: Column = lit(true),
      includesEnd: Column = lit(false)): Column =
    struct(start.as("start"), end.as("end"),
      includesStart.as("includes_start"), includesEnd.as("includes_end"))

  def start(i: Column): Column = i("start")
  def end(i: Column): Column = i("end")
  def includesStart(i: Column): Column = i("includes_start")
  def includesEnd(i: Column): Column = i("includes_end")

  /** Empty iff no point can satisfy both bounds. */
  def isEmpty(i: Column): Column =
    (i("start") > i("end")) ||
      (i("start") === i("end") &&
        !(i("includes_start") && i("includes_end")))

  def contains(i: Column, p: Column): Column =
    when(i("includes_start"), p >= i("start"))
      .otherwise(p > i("start")) &&
      when(i("includes_end"), p <= i("end")).otherwise(p < i("end"))

  /** True when the intervals share at least one point. */
  def overlaps(a: Column, b: Column): Column = {
    val aBeforeB =
      (a("end") < b("start")) ||
        (a("end") === b("start") &&
          !(a("includes_end") && b("includes_start")))
    val bBeforeA =
      (b("end") < a("start")) ||
        (b("end") === a("start") &&
          !(b("includes_end") && a("includes_start")))
    !isEmpty(a) && !isEmpty(b) && !aBeforeB && !bBeforeA
  }
}
