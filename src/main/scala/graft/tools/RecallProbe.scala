package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc probe: LSH, IVF, and int8 quantized-rerank recall@10 on an
  * arbitrary corpus dir (notably the 10x rehearsal corpus), so the
  * recall contract is measured at a non-toy scale. Prints one JSON
  * line.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf10x")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .appName("graft-recall-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = graft.util.Frames.materialize(graft.pipeline.Ann.cosineTopK(e, qids, k = 10))
    val lsh = graft.pipeline.Ann.recallAt(exact,
      graft.pipeline.Ann.lshTopK(e, qids, k = 10)).head()
    val ivf = graft.pipeline.Ann.recallAt(exact,
      graft.pipeline.Ann.ivfTopK(e, qids, k = 10)).head()
    val int8 = graft.pipeline.Ann.recallAt(exact,
      graft.pipeline.Ann.int8TopK(e, qids, k = 10)).head()
    val pq = graft.pipeline.Ann.recallAt(exact,
      graft.pipeline.Ann.pqTopK(e, qids, k = 10)).head()
    println(s"""{"dir":"$dir","n":${e.count()},""" +
      s""""lsh_recall":${lsh.getDouble(3)},"lsh_hits":${lsh.getLong(1)},""" +
      s""""ivf_recall":${ivf.getDouble(3)},"ivf_hits":${ivf.getLong(1)},""" +
      s""""int8_recall":${int8.getDouble(3)},"int8_hits":${int8.getLong(1)},""" +
      s""""pq_recall":${pq.getDouble(3)},"pq_hits":${pq.getLong(1)}}""")
    spark.stop()
  }
}
