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
    val firstDir = snapshotDir(first)
    // read before the changed derivation supersedes (deletes) the snapshot
    val firstRows = first.count()
    val changed = derive(spark, extraFilter = true)
    try {
      assert(firstDir.size == 1)
      assert(snapshotDir(again) == firstDir, "same derivation, different snapshot")
      assert(snapshotDir(changed) != firstDir, "changed derivation reused a snapshot")
      assert(firstRows == 20L)
      assert(changed.count() == 15L && changed.filter(col("w") === 0).isEmpty,
        "changed derivation returned the old rows")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      (firstDir ++ snapshotDir(changed) + dir).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
  }

  test("a new derivation deletes the superseded snapshot of its corpus, not another corpus's") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val name = s"probe_${System.nanoTime}"
    val dirs = Seq("a", "b").map { tag =>
      val d = java.nio.file.Files.createTempDirectory(s"graft-derived-$tag").toString
      (1L to 20L).map(i => (i, i % 4)).toDF("k", "v").write.parquet(s"$d/src.parquet")
      d
    }
    def derive(dir: String, minK: Long): Long =
      GraphLoader.derivedSnapshot(spark, dir, name, "src")(
        GraphLoader.table(spark, dir, "src").filter(col("k") > minK)).count()
    val root = new Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_derived")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapshots: Seq[Path] =
      fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith(s"${name}_")).toSeq
    try {
      assert(derive(dirs(0), 0L) == 20L && derive(dirs(0), 5L) == 15L)
      assert(snapshots.size == 1, s"two derivations of one corpus: $snapshots")
      assert(derive(dirs(1), 0L) == 20L)
      assert(snapshots.size == 2, s"two corpora keep one snapshot each: $snapshots")
      // the surviving snapshot of the first corpus is its latest derivation
      assert(derive(dirs(0), 5L) == 15L && snapshots.size == 2)
    } finally (snapshots ++ dirs.map(new Path(_))).foreach(fs.delete(_, true))
  }
}
