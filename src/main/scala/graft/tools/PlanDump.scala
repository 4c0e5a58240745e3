package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization-round evidence tool: writes `.explain("formatted")` for
  * named SparkEntry queries to plans/<tag>/<query>_<suffix>.txt so plan
  * claims in OPTIMIZATION_*.md are checkable without running Spark.
  *
  * Checkpoint-backed queries (the iterative algos, dsir, pack) return a
  * LogicalRDD scan — their real plans belong to the actions they run
  * while the query frame is CONSTRUCTED. A QueryExecutionListener
  * captures those and appends them (capped) after the main plan.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  * (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val maxSubPlans = sys.env.getOrElse("SPARK_GRAFT_PLANDUMP_MAX", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // r21 advice: exit nonzero when any requested plan dump fails, so
    // automation consuming plans/<tag> can't silently miss evidence files
    var nFailed = 0
    for (n <- names) {
      System.err.println(s"[plandump] $n")
      val subPlans =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          if (subPlans.size < maxSubPlans)
            subPlans.add((funcName, qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      try {
        spark.listenerManager.register(listener)
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Thread.sleep(2000) // async listener delivery
        val sb = new StringBuilder
        sb.append(s"== $n ($suffix) — query frame plan ==\n").append(txt)
        val it = subPlans.iterator()
        var i = 0
        while (it.hasNext) {
          val (fn, p) = it.next(); i += 1
          sb.append(s"\n\n== construction-time action $i ($fn) ==\n").append(p)
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), sb.toString)
      } catch {
        case e: Throwable =>
          nFailed += 1
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      } finally {
        spark.listenerManager.unregister(listener)
        graft.SparkEntry.resetSession(spark)
      }
    }
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[plandump] $nFailed of ${names.length} failed")
      sys.exit(1)
    }
  }
}
