package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** The driver-state bound of every fit that pulls an aggregate (a
  * vocabulary, a word table, a histogram) to the driver. Every refusal
  * reads `<op>: more than <max> <what> (<knob> bound) — <hint>`.
  */
object Bounded {

  /** Refuse a count the caller already holds when it is over `max`. */
  def check(n: Long, max: Long, op: String, what: String, knob: String,
      hint: String): Unit =
    require(n <= max, s"$op: more than $max $what ($knob bound) — $hint")

  /** `df`'s rows in `collect()` order, in one action that holds at most
    * one row past the bound: `df.limit(max × per + 1).collect()`, refused
    * when that last row comes back. (A bounded count before the collect
    * would hold the same bound at two to four more jobs.)
    * `per` > 1 bounds units of up to `per` rows each, e.g. distinct grams
    * over (gram, class) rows: past `max × per` rows there are more than
    * `max` units, and below it `units` counts them. A product past
    * `Int.MaxValue − 1`, one `limit`'s reach, is refused.
    */
  def pull(df: DataFrame, max: Int, op: String, what: String, knob: String,
      hint: String, per: Int = 1,
      units: Array[Row] => Int = _.length): Array[Row] = {
    val rows = max.toLong * per
    require(per >= 1 && rows <= Int.MaxValue - 1L,
      s"$op: $knob $max × $per rows is past one pull's ${Int.MaxValue - 1L} rows")
    val out = df.limit(rows.toInt + 1).collect()
    check(if (out.length > rows) max + 1L else units(out), max, op, what, knob, hint)
    out
  }
}
