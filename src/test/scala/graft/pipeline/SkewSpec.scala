package graft.pipeline

import graft.SparkSpec
import graft.util.Frames
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  private def storedRddIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("prefixScan equals the grouped ROWS window at 1, 4 and 32 shuffle partitions") {
    import spark.implicits._
    // 1000 rows, 90% in "hot": at 4 and 32 partitions the hot group spans
    // range-partition boundaries, so its offsets carry across tasks
    val skewed = (0 until 1000).map { i =>
      (i.toLong, if (i % 10 != 0) "hot" else s"g${i % 7}", (i * 37 % 101).toLong)
    }.toDF("id", "g", "x").repartition(5)
    // repeated values (5 distinct) broken by id, plus a null group
    val valued = (0 until 300).map { i =>
      (i.toLong, if (i % 50 == 0) null else s"g${i % 3}", i % 5)
    }.toDF("id", "g", "v").repartition(3)
    val inputs: Seq[(String, DataFrame, Seq[String], Seq[Column], Column)] = Seq(
      ("ungrouped count", skewed, Nil, Seq(col("x"), col("id")), lit(1L)),
      ("grouped count, one group ~90%", skewed, Seq("g"), Seq(col("x").desc, col("id")), lit(1L)),
      ("grouped sum(value), repeated values, id ties", valued, Seq("g"),
        Seq(col("v"), col("id")), col("v")),
      ("single row", Seq((7L, "a", 3)).toDF("id", "g", "v"), Seq("g"),
        Seq(col("id")), col("v")),
      ("empty frame", valued.filter(col("id") < 0), Nil, Seq(col("id")), col("v")))
    val failures = Seq.newBuilder[String]
    try for (parts <- Seq(1, 4, 32); (name, df, group, order, value) <- inputs) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val pre = storedRddIds
      val got = Skew.prefixScan(df, group, order, value, "s")
      val w = Window.partitionBy(group.map(col): _*).orderBy(order: _*)
      val want = df
        .withColumn("s", sum(value).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("s_total", sum(value).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      val cols = (df.columns :+ "s" :+ "s_total").map(col).toSeq
      val (g, r) = (got.select(cols: _*), want.select(cols: _*))
      val label = s"$name @ $parts partitions"
      if (sortedRowsOf(g) != sortedRowsOf(r)) failures += s"$label: rows differ from the window"
      if (g.schema.map(_.dataType) != r.schema.map(_.dataType)) failures += s"$label: types differ"
      // the cached range-partitioned input is dropped asynchronously
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while ((storedRddIds -- pre).size > 1 && System.nanoTime < deadline) Thread.sleep(50)
      val stored = (storedRddIds -- pre).size
      if (stored > 1) failures += s"$label: $stored new stored RDDs, at most its result allowed"
      Frames.release(got)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert(failures.result().isEmpty, failures.result().mkString("; "))
  }
}
