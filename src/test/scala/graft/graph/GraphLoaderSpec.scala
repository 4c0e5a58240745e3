package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphLoaderSpec extends SparkSpec {

  test("derived snapshots are keyed on the derivation: same plan one path, changed plan a new one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-derived").toString
    (1L to 20L).map(i => (i, i % 4)).toDF("k", "v").write.parquet(s"$dir/src.parquet")
    // a distinct name per run, so no snapshot of an earlier run is reused
    val name = s"probe_${System.nanoTime}"
    def snapshotDir(df: DataFrame): Set[String] =
      df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).toSet
    def derive(s: org.apache.spark.sql.SparkSession, extraFilter: Boolean): DataFrame = {
      val d = GraphLoader.table(s, dir, "src").select(col("k"), (col("v") * 10).as("w"))
      GraphLoader.derivedSnapshot(s, dir, name, "src")(
        if (extraFilter) d.filter(col("w") > 0) else d)
    }
    val first = derive(spark, extraFilter = false)
    // a second session builds the same derivation with fresh exprIds
    val again = derive(spark.newSession(), extraFilter = false)
    val changed = derive(spark, extraFilter = true)
    try {
      assert(snapshotDir(first).size == 1)
      assert(snapshotDir(again) == snapshotDir(first), "same derivation, different snapshot")
      assert(snapshotDir(changed) != snapshotDir(first), "changed derivation reused a snapshot")
      assert(first.count() == 20L)
      assert(changed.count() == 15L && changed.filter(col("w") === 0).isEmpty,
        "changed derivation returned the old rows")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      (snapshotDir(first) ++ snapshotDir(changed) + dir).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
  }
}
