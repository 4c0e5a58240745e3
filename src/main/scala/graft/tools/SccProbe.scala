package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times SCC over the q_scc derived graph twice: the default hybrid
  * (trim + bounded local-Tarjan finish) and the distributed-forced path
  * (maxLocalEdges=0), so the distributed rounds — which a corpus-sized
  * graph WOULD exercise — carry measured evidence even though the bench
  * fixture finishes locally. Prints one JSON line.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.SccProbe
  */
object SccProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    def chainOf(part: DataFrame): DataFrame = {
      val w = Window.partitionBy("ok").orderBy("pk")
      part.withColumn("np", lead("pk", 1).over(w))
        .filter(col("np").isNotNull)
        .select(col("pk").as("u"), col("np").as("v"))
    }
    val cyc = li.filter(col("ok") % 50 === 0).distinct()
    val pth = li.filter(col("ok") % 50 === 1).distinct()
    val closing = cyc.groupBy("ok")
      .agg(max("pk").as("u"), min("pk").as("v"))
      .filter(col("u") =!= col("v")).select("u", "v")
    val edges = graft.util.Frames.cache(
      chainOf(cyc).unionByName(closing).unionByName(chainOf(pth)))
    val nEdges = edges.count()

    def time(mle: Long): (Double, Long) = {
      val t0 = System.nanoTime
      val n = graft.algos.Algos
        .stronglyConnectedComponents(edges, src = "u", dst = "v",
          maxLocalEdges = mle)
        .count()
      ((System.nanoTime - t0) / 1e9, n)
    }
    val (tHybrid, n1) = time(1L << 20)
    val (tDist, n2) = time(0L)
    require(n1 == n2, s"row-count mismatch hybrid=$n1 dist=$n2")
    println(f"""{"edges":$nEdges,"nodes":$n1,"hybrid_sec":$tHybrid%.2f,"distributed_sec":$tDist%.2f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
