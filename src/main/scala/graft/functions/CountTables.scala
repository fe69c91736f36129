package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pieces every table-valued counter is built from. Such a counter's
  * state is a count table, (window[, shard], key) → n, plus a per-window
  * finish step: the `value_quantile` counter picks one value from its
  * value histogram, `heavy_hitters` ranks its member counts, and the
  * `Temporal` percentile/hitter/CMS faces do the same over cents, users
  * and sketch cells. The two-phase topology ships each (window, shard)'s
  * table as one sorted array ([[collectPartials]]) and merges the arrays
  * by re-summing their entries ([[resumPartials]]), which is associative
  * and commutative like count's sum and the ACD sketch union. The batch,
  * two-phase and streaming faces of `Counters`, `StreamingCounters` and
  * `Temporal` all build on these, so none of them can drift from another.
  *
  * The counter's quantile ([[quantilePick]], the smallest v with
  * cum·10⁶ ≥ ppm·n, i.e. rank ⌈n·p⌉) is not [[Quantiles.fromHistogram]]'s
  * (rank ⌊(n−1)·p⌋ + 1): at n = 10, p = 0.95 they pick the 10th and the
  * 9th value. Each keeps its own callers.
  */
object CountTables {

  /** The top `k` rows of `counts` per `part`, ranked by `count` descending
    * with ties broken by `member` ascending (so a string member ranks
    * "10" before "9", a long one 9 before 10); adds the rank as a long
    * column `rank`. The rank window runs over the aggregated table, never
    * over raw rows.
    */
  def topK(counts: DataFrame, part: Seq[Column], count: String, member: String,
           k: Int): DataFrame =
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(part: _*).orderBy(col(count).desc, col(member).asc)).cast("long"))
      .where(col("rank") <= k)

  /** The counter quantile of a value histogram with columns `__v` and
    * `__cnt`: per `part`, the smallest `__v` whose cumulative count
    * reaches `ppm` parts per million of the total, as column `value`.
    * All comparisons are integer; `__v` passes through untouched, so any
    * orderable value type works.
    */
  def quantilePick(hist: DataFrame, part: Seq[Column], ppm: Long): DataFrame =
    hist
      .withColumn("__cum", sum(col("__cnt")).over(
        Window.partitionBy(part: _*).orderBy(col("__v"))))
      .withColumn("__tot", sum(col("__cnt")).over(Window.partitionBy(part: _*)))
      .where(col("__cum") * lit(1000000L) >= lit(ppm) * col("__tot"))
      .groupBy(part: _*)
      .agg(min(col("__v")).as("value"))

  /** Phase 1 of the two-phase topology: a count table keyed by `window`
    * and `shard_id` collapsed to one row per (window, shard), whose column
    * `state` is the sorted array of `fields` structs over the table's rows.
    */
  def collectPartials(counts: DataFrame, fields: Seq[Column], state: String): DataFrame =
    counts.groupBy(col("window"), col("shard_id"))
      .agg(sort_array(collect_list(struct(fields: _*))).as(state))

  /** Phase 2: the arrays of column `state` exploded to one row `h` per
    * entry, with `window` beside it, and re-summed: `h.n` summed as `n`
    * per `keys`, expressions over `window` and `h`.
    */
  def resumPartials(partial: DataFrame, state: String, keys: Seq[Column], n: String): DataFrame =
    partial
      .select(col("window"), explode(col(state)).as("h"))
      .groupBy(keys: _*)
      .agg(sum(col("h.n")).as(n))
}
