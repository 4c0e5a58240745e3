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

  /** Per-group dense rank (`row_number() OVER (PARTITION BY group ORDER
    * BY order)`) WITHOUT a per-group single-task sort — the skew killer:
    * a plain grouped window hash-exchanges on the group key, so a group
    * holding half the corpus (the dominant language, the hot tenant)
    * sorts entirely inside ONE task. This is the distributed prefix-sum
    * shape already proven by Dedup.sortedNeighborhood's rankBy and
    * q_pack/q_shuffle: range-partition by (group, order) so every task
    * gets a contiguous slice of the global order, rank locally within
    * (task, group), then add per-(task, group) offsets computed from a
    * tiny P+G-row count frame (broadcast). Output = input columns +
    * `rankCol` (1-based per group), values identical to the grouped
    * window's for a total `orderCols` (ties must be broken — include an
    * id column, same contract as every rank surface here).
    *
    * Each window below partitions by the RANGE-partition id, so its
    * exchange spreads a hot group across as many tasks as the range
    * partitioner gave it — bounded by partition size, never group size.
    */
  def groupedRank(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], rankCol: String = "rnk"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty && orderCols.nonEmpty)
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val sortKeys = (groupCols ++ orderCols).map(col)
    Frames.materializeOver(df.repartitionByRange(parts, sortKeys: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", row_number().over(
        Window.partitionBy(("_pid" +: groupCols).map(col): _*)
          .orderBy(orderCols.map(col): _*)))) { local =>
      // ≤ P + |groups-spanning-a-boundary| rows: each range partition holds
      // a contiguous (group, order) slice, so a group appears in ≥2 rows
      // here only when it crosses a partition boundary
      val offsets = local.groupBy(("_pid" +: groupCols).map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .withColumn("_off", coalesce(
          sum("_n").over(Window.partitionBy(groupCols.map(col): _*)
            .orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(("_pid" +: groupCols).map(col) :+ col("_off"): _*)
      local.join(broadcast(offsets), "_pid" +: groupCols)
        .withColumn(rankCol, (col("_off") + col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    }
  }
}
