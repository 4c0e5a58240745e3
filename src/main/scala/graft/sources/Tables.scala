package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph

/** Import/export + catalog surface (reference analog: the CLI
  * import/export/info commands, /root/reference/src/cli.ts, and the
  * backup tooling, src/backup.ts). Re-expressed as DataFrame readers/
  * writers so they inherit Spark's distributed IO (splittable reads,
  * partitioned writes, any Hadoop-compatible filesystem).
  */
object Tables {

  // ---- CSV ----

  def readCsv(spark: SparkSession, path: String,
      header: Boolean = true, inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  // ---- JSON lines ----

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  // ---- ORC (columnar interchange beyond parquet) ----

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  // ---- bucketed tables (co-located joins) ----

  /** Write a frame as a bucketed+sorted managed table. Two tables
    * bucketed by their join key into the SAME bucket count join with NO
    * shuffle on either side (SortMergeJoin reads buckets directly) —
    * the pre-partitioning story for repeated 100 TB fact-fact joins
    * where per-query exchanges would dominate. Verified by
    * SourcesSpec's no-Exchange plan assertion.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Join two bucketed tables on their bucket key (exchange-free when
    * bucket layouts match).
    */
  def joinBucketed(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  // ---- hive-partitioned layout (partition pruning) ----

  /** Write a frame hive-partitioned by `partCols` (one directory per
    * distinct value combination). Reading back with a filter on a
    * partition column prunes whole directories at PLANNING time — the
    * scan's `PartitionFilters` never opens a data file in a pruned
    * partition, turning a corpus-wide read into a per-language (or
    * per-date, per-source) read. This is the directory-layout lever for
    * 100 TB corpora; SourcesSpec pins the pruned-scan plan.
    */
  def writePartitioned(df: DataFrame, path: String, partCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // ---- catalog report (cli `info` analog) ----

  /** One row per node label and edge class: kind, name, row count, and
    * the schema rendered as DDL. Forces every frame — a whole-catalog op
    * by definition. Counts run as CONCURRENT Spark jobs (scala Futures
    * over the shared scheduler): a serial per-frame loop would leave the
    * cluster idle between frames, turning an 18-frame catalog into 18
    * latency-bound round trips. Frames that are row-preserving
    * projections of one parquet table skip the job entirely and count
    * from footer metadata ([[metadataRowCount]]) — at scale the catalog
    * is then metadata-bound, not a full re-scan of every table.
    */
  def catalogReport(g: PropertyGraph, spark: SparkSession): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def rowsOf(df: DataFrame): Long =
      metadataRowCount(df).getOrElse(df.count())
    val tasks =
      g.labels.map { l => () =>
        val df = g.nodeFrame(l)
        ("node", l, rowsOf(df), df.schema.toDDL)
      } ++ g.edgeClasses.map { et => () =>
        val df = g.edgeFrame(et)
        ("edge", s"${et.relType}(${et.srcLabel}->${et.dstLabel})", rowsOf(df), df.schema.toDDL)
      }
    val rows = Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    rows.toDF("kind", "name", "rows", "schema")
      .orderBy("kind", "name")
  }

  /** Exact row count from parquet footer metadata, when it is provably
    * equal to `df.count()`: the plan must be only row-preserving
    * Projects over ONE parquet relation — no Filter / Join / Aggregate
    * / Generate (those fall back to a real count). Footers are
    * driver-side KB reads (row-group stats), so the count is O(files)
    * metadata I/O instead of a cluster scan — parquet guarantees the
    * block row counts are exact, not estimates. Writes can't stale
    * this: written graphs hold transformed frames whose plans no
    * longer match the pattern.
    *
    * Walks the ANALYZED plan (r15): it sees through a cache —
    * cache substitution happens later in query planning, so a cached
    * parquet frame (the snapshotted RELATED_TO derivation) still
    * footer-counts. That is sound because the relation's file listing
    * is fixed at read time and parquet files are immutable; caching
    * changes where EXECUTION reads from, not how many rows exist.
    */
  def metadataRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import scala.jdk.CollectionConverters._
    def walk(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(exprs, child) if exprs.forall(_.deterministic) => walk(child)
      case SubqueryAlias(_, child) => walk(child)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          Some(fs)
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.analyzed).map { fs =>
      val conf = df.sparkSession.sessionState.newHadoopConf()
      fs.location.inputFiles.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      }.sum
    }
  }
}
