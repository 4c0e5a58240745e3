package graft.algos

import graft.SparkSpec
import org.apache.spark.sql.graftshim.GraftShims

/** Pins the r16 storage-hygiene contract for iterative algos.
  *
  * Background (measured via a storage probe): `Dataset.unpersist()` on a
  * `localCheckpoint`-ed frame is a silent no-op — the CacheManager has no
  * entry for its LogicalRDD plan, and the checkpoint RDD's raw-row blocks
  * are only reclaimed by ContextCleaner GC. So a loop that "unpersists"
  * its previous iteration actually accumulates every iteration's blocks
  * for the life of the query; at 10× data under machine load this
  * surfaced as a flaky `localCheckpoint` INTERNAL_ERROR in the bench.
  * `GraftShims.releaseCheckpoint` frees the backing RDD directly, and
  * `graft.util.Frames.release` calls it on dead frames.
  */
class ReleaseSpec extends SparkSpec {

  private def storedRddIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def awaitGone(ids: Set[Int], label: String): Unit = {
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while ((storedRddIds & ids).nonEmpty && System.nanoTime < deadline)
      Thread.sleep(50)
    assert((storedRddIds & ids).isEmpty, s"$label: blocks still stored")
  }

  test("Dataset.unpersist on a checkpointed frame is a no-op; releaseCheckpoint frees it") {
    val before = storedRddIds
    val ck = spark.range(0, 10000).toDF("id").localCheckpoint(true)
    val mine = storedRddIds -- before
    assert(mine.nonEmpty, "eager localCheckpoint should store blocks")
    ck.unpersist(blocking = true)
    assert((storedRddIds & mine) == mine,
      "Dataset.unpersist must NOT free checkpoint blocks (the documented no-op this spec pins)")
    GraftShims.releaseCheckpoint(ck)
    awaitGone(mine, "releaseCheckpoint")
  }

  test("releaseCheckpoint is a safe no-op on plans that are not checkpoint roots") {
    val df = spark.range(0, 100).toDF("id").selectExpr("id * 2 as x")
    GraftShims.releaseCheckpoint(df) // no LogicalRDD root: must not throw
    assert(df.count() == 100)
  }

  test("repeated checkpoints carry real-size statistics, not chain-multiplied estimates") {
    import org.apache.spark.sql.functions.col
    // Dataset.localCheckpoint copies the ORIGIN plan's size estimate onto
    // the result; join estimation multiplies children, so a checkpoint-
    // per-step loop grows the recorded sizeInBytes ~cubically PER STEP —
    // after ~15 steps the BigInt has millions of bits and stats visits
    // hang the driver (measured on SCC's coloring loop in r16).
    // localCheckpointRealStats stamps the actual stored size instead.
    var df = GraftShims.localCheckpointRealStats(spark.range(0, 1000).toDF("id"))
    for (_ <- 1 to 10) {
      val step = df.join(df.select(col("id").as("id2")), col("id") === col("id2"))
        .select("id")
      val next = GraftShims.localCheckpointRealStats(step)
      GraftShims.releaseCheckpoint(df)
      df = next
    }
    val size = df.queryExecution.analyzed.stats.sizeInBytes
    assert(size.bitLength < 64,
      s"stats must stay at real block size; got a ${size.bitLength}-bit estimate")
    assert(df.count() == 1000)
    GraftShims.releaseCheckpoint(df)
  }

  test("a lazy frame over a released checkpoint fails loudly, never returns rows") {
    import org.apache.spark.sql.functions.col
    // the Frames.release caller contract: a checkpointed RDD has no
    // lineage, so a dependent planned before the release but run after
    // it must fail with the missing block, not recompute or go empty
    val parent = graft.util.Frames.materialize(spark.range(0, 1000).toDF("id"))
    val ck = parent.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    // the blocks themselves, not the status listener's view of them
    def blocksOf: Seq[org.apache.spark.storage.BlockId] =
      org.apache.spark.SparkEnv.get.blockManager
        .getMatchingBlockIds(_.asRDDId.exists(_.rddId == ck)).toSeq
    assert(blocksOf.nonEmpty, "materialize should store checkpoint blocks")
    val dependent = parent.select((col("id") * 2).as("x")).filter(col("x") % 3 === 0)
    graft.util.Frames.release(parent)
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (blocksOf.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(blocksOf.isEmpty, "Frames.release: checkpoint blocks still stored")
    var rows: Array[org.apache.spark.sql.Row] = null
    val err = intercept[org.apache.spark.SparkException] { rows = dependent.collect() }
    assert(rows == null, "no rows may come back from a lost checkpoint")
    assert(err.getMessage.contains(s"rdd_${ck}_") && err.getMessage.contains("not found"),
      s"the error must name the missing checkpoint block: ${err.getMessage}")
  }

  test("iterative algos release their per-iteration frames (bounded residual storage)") {
    import spark.implicits._
    // a 64-node path graph forces multiple star-contraction rounds and a
    // multi-level BFS — before the r16 fix each round leaked one
    // checkpoint RDD (~1 per iteration, >6 here)
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("_src", "_dst")
    val before = storedRddIds
    Algos.connectedComponents(edges).count()
    Algos.shortestPaths(edges, source = 0L, maxDepth = 70).count()
    Algos.pageRank(edges, iterations = 6).count()
    val leaked = (storedRddIds -- before).size
    // live residuals: each algo's RETURNED frame (+ kCore-style final
    // frames) may stay stored; per-iteration frames must not
    assert(leaked <= 4, s"expected bounded residual storage, found $leaked new stored RDDs")
    // the loops on the shared checkpoint cadence, one at a time: each may
    // leave only its returned frame stored
    val weighted = (0L until 63L).map(i => (i, i + 1, 1L + i % 3))
      .toDF("_src", "_dst", "_w")
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    // k = 3 drops node 9 in round 1 (a cached, odd round) and converges
    // in round 2: the early exit must still release the input frame
    val oddExit = (k5 :+ ((4L, 9L))).toDF("_src", "_dst")
    // ...while this one's last peel is round 2, a checkpointed round
    val evenExit = (k5 ++ Seq((4L, 9L), (9L, 10L), (9L, 11L))).toDF("_src", "_dst")
    // every walk reaches the sink 2 by step 2: the walks stop at the
    // checkpointed step 4, whose frame is empty
    val sinkChain = Seq((0L, 1L), (1L, 2L)).toDF("_src", "_dst")
    // strongly connected pieces with tails, so the distributed SCC path
    // (maxLocalEdges = 0) runs trim peels and coloring rounds
    val cyclic = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (6L, 7L), (8L, 1L)).toDF("_src", "_dst")
    val cascade = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("_src", "_dst")
    // (name, run, stored RDDs it may leave, jobs it started before the
    // loops moved onto Frames.loop/Rounds — the same-work bound). Every
    // run may leave only its result stored; a lazy result over several
    // stored frames keeps each of them.
    case class Run(name: String, run: () => org.apache.spark.sql.DataFrame,
        maxLeft: Int, jobsBefore: Int)
    Seq(
      Run("pageRankWeighted", () => Algos.pageRankWeighted(weighted, iterations = 5), 1, 51),
      Run("personalizedPageRank",
        () => Algos.personalizedPageRank(edges, Seq(0L, 5L), iterations = 5), 1, 49),
      Run("labelPropagation", () => Algos.labelPropagation(edges, iterations = 5), 1, 28),
      Run("weightedShortestPaths",
        () => Algos.weightedShortestPaths(weighted, source = 0L, rounds = 5), 1, 23),
      Run("hits", () => Algos.hits(edges, iterations = 3), 1, 45),
      Run("louvain", () => Algos.louvain(edges, rounds = 3), 1, 35),
      Run("louvainWeighted", () => Algos.louvainWeighted(weighted, rounds = 3), 1, 38),
      Run("kCore", () => Algos.kCore(edges, k = 2, rounds = 5), 1, 59),
      Run("kCore odd-round exit", () => Algos.kCore(oddExit, k = 3), 1, 22),
      Run("kCore even-round exit", () => Algos.kCore(evenExit, k = 3), 1, 31),
      Run("deterministicWalks",
        () => Algos.deterministicWalks(edges, nStarts = 4, steps = 5, walksPerStart = 2), 1, 25),
      Run("deterministicWalks sink exit",
        () => Algos.deterministicWalks(sinkChain, nStarts = 3, steps = 8), 1, 21),
      Run("node2vecWalks", () => Algos.node2vecWalks(edges, nStarts = 4, steps = 5), 1, 30),
      Run("shortestPaths", () => Algos.shortestPaths(edges, source = 0L, maxDepth = 8), 1, 46),
      Run("hopHistogram", () => Algos.hopHistogram(edges, Seq(0L, 5L), maxDepth = 8), 1, 55),
      Run("betweennessSampled",
        () => Algos.betweennessSampled(edges, Seq(0L, 5L), maxDepth = 6), 1, 64),
      Run("hyperBall", () => Algos.hyperBall(edges, rounds = 3), 1, 22),
      Run("connectedComponents", () => Algos.connectedComponents(edges), 1, 99),
      // the lazy result unions every finished piece (doneParts), each its
      // own checkpoint: two of them here hold rows; every trim-peel and
      // coloring frame is freed (8 stored RDDs before the peel's port)
      Run("stronglyConnectedComponents distributed",
        () => Algos.stronglyConnectedComponents(cyclic, maxLocalEdges = 0L), 2, 108),
      // the lazy result reads both loop frames (decided and undecided)
      Run("maximalIndependentSet", () => Algos.maximalIndependentSet(edges, rounds = 4), 2, 28),
      Run("kTruss", () => Algos.kTruss(cascade, support = 2, rounds = 5), 1, 28),
      Run("louvainLevels", () => Algos.louvainLevels(edges), 1, 65)
    ).foreach { r =>
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      val pre = storedRddIds
      spark.sparkContext.addSparkListener(listener)
      try r.run().count()
      finally {
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val left = (storedRddIds -- pre).size
      assert(left <= r.maxLeft,
        s"${r.name}: expected at most ${r.maxLeft} stored RDDs, found $left")
      assert(jobs.get <= r.jobsBefore,
        s"${r.name}: started ${jobs.get} jobs, more than the ${r.jobsBefore} before")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
