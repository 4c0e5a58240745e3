package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Frames

/** Skew mitigation helpers.
  *
  * AQE's skew-join splitting (enabled session-wide) covers skewed JOINS;
  * what it cannot fix is a skewed groupBy whose aggregate has no
  * map-side combine — collect_list/collect_set ship every row of a hot
  * key to one reducer. The helpers here split each key across
  * `buckets` salt partitions, aggregate per (key, salt), then merge the
  * per-salt results — the hot key's rows spread over `buckets` reducers
  * and the final merge handles `buckets` pre-chunked arrays per key.
  *
  * (Counts/sums don't need this: Spark's hash aggregate already
  * partial-combines them map-side — see TextOps.ngramFrequencies.)
  */
object Skew {

  /** collect_list(valueCol) per key, salted two-stage. Element order is
    * not guaranteed (it never is for collect_list across partitions).
    *
    * The salt is the SOURCE partition id, not a hash of the value (r4
    * advice: value-hash salting spreads a hot key over at most
    * |distinct values| reducers — a hot key whose rows share one value
    * still lands on a single reducer). Every input partition's chunk of
    * a hot key goes to its own reducer, which is exactly the map-side
    * pre-chunking a combinable aggregate would do.
    */
  def saltedCollectList(df: DataFrame, key: String, valueCol: String,
      buckets: Int = 16): DataFrame =
    df.groupBy(col(key), pmod(spark_partition_id().cast("long"), lit(buckets)).as("__salt"))
      .agg(collect_list(col(valueCol)).as("__part"))
      .groupBy(col(key))
      .agg(flatten(collect_list(col("__part"))).as(s"${valueCol}s"))

  /** count_distinct per key without shipping a hot key's rows to one
    * reducer: distinct (key, value) pairs first (hash-partitioned by the
    * PAIR, so a hot key spreads), then a combinable count per key.
    */
  def skewSafeCountDistinct(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.select(col(key), col(valueCol)).distinct()
      .groupBy(col(key))
      .agg(count(lit(1)).as(s"n_distinct_$valueCol"))

  /** Distributed inclusive prefix scan — the one global rank / running
    * sum in graft (Blelloch's scan-then-add-offsets, "Prefix Sums and
    * Their Applications", 1990). Returns `df`'s columns plus `out`, the
    * running sum of `value` within `group` in `order` (`lit(1L)` gives
    * the 1-based rank, `row_number()`'s values), and `s"${out}_total"`,
    * the group's whole sum (its row count, for a rank). `group = Nil`
    * scans the whole frame. `order` must be total within a group (break
    * ties with an id column): the running sum uses a ROWS frame.
    *
    * Never a data-sized single-task sort: a plain grouped window
    * hash-exchanges on the group key, so a group holding half the corpus
    * (or, with no group, the whole corpus) sorts inside ONE task.
    * Instead range-partition by (group, order) so every task holds a
    * contiguous slice of the global order, scan locally within (task,
    * group), and add the carry-in of the preceding tasks from a
    * broadcast offset table of one row per (task, group) present —
    * ≤ P + G rows, so its window partitions are ≤ P rows (the whole
    * P-row table for `group = Nil`), bounded by task count, never data.
    * The group total comes from the same window spec, so it adds no
    * exchange. Range boundaries move only partition sizes, never the
    * order, so the result is exact at any partition count.
    *
    * The range sampler is not deterministic across recomputes, so both
    * passes read one frozen partitioning: the range-partitioned scan is
    * cached and the result materialized ([[Frames.materializeOver]]) —
    * a caller's tail runs lazily over the stored scan. Group keys match
    * null-safely, so a null group is scanned like any other.
    */
  def prefixScan(df: DataFrame, group: Seq[String], order: Seq[Column],
      value: Column, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(order.nonEmpty, "prefixScan needs an order")
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val keys = "_pid" +: group
    Frames.materializeOver(df.repartitionByRange(parts, group.map(col) ++ order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_v", value)
      .withColumn("_lsum", sum("_v").over(Window.partitionBy(keys.map(col): _*)
        .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)))) { scanned =>
      val w = Window.partitionBy(group.map(col): _*).orderBy("_pid")
      val offsets = scanned.groupBy(keys.map(col): _*).agg(sum("_v").as("_n"))
        .select(keys.map(k => col(k).as(s"_o$k")) ++ Seq(
          coalesce(sum("_n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)).as("_off"),
          sum("_n").over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as(s"${out}_total")): _*)
      scanned.join(broadcast(offsets),
          keys.map(k => col(k) <=> col(s"_o$k")).reduce(_ && _))
        .withColumn(out, col("_off") + col("_lsum"))
        .drop(Seq("_pid", "_v", "_lsum", "_off") ++ keys.map(k => s"_o$k"): _*)
    }
  }

  /** SQL `NTILE(n)` of a 1-based `rank` in a group of `size` rows, as
    * BIGINT: the first `size % n` tiles hold one row more, Spark's and
    * DuckDB's own distribution. Over a [[prefixScan]] rank and its
    * `_total`, it equals `ntile(n) OVER (PARTITION BY group ORDER BY
    * order)` without that window's per-group single-task sort.
    */
  def ntile(n: Int, rank: Column, size: Column): Column = {
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    val base = div(size, lit(n.toLong))
    val head = (size % n) * (base + 1) // rows in the larger first tiles
    when(rank <= head, div(rank - 1, base + 1) + 1)
      .otherwise(size % n + div(rank - head - 1, base) + 1)
      .cast("long")
  }
}
