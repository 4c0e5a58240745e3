package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.storage.StorageLevel

/** The one storage policy for graft's frames: every checkpoint, cache
  * and release in the library goes through here (a source-audit spec
  * keeps it that way), so the choice of mechanism is made once.
  *
  * [[materialize]] cuts lineage with an eager localCheckpoint — the
  * single-cluster analog of checkpoint-to-HDFS (swap for `checkpoint()`
  * with a checkpoint dir on a real cluster). There is NO Dataset-level
  * persist in front of it: the checkpoint blocks ARE the stored copy.
  * The old `persist().localCheckpoint(true)` shape stored every frame
  * TWICE (a columnar cache entry nothing ever read again, plus the
  * checkpoint's raw-row blocks) and the cache entry was unreleasable
  * (its plan reference is lost inside the helper) — measured as the
  * storage accumulation behind a 10×-under-load localCheckpoint
  * INTERNAL_ERROR in r16. The cache DID however reset the checkpoint's
  * copied statistics to the real materialized size; without that reset,
  * per-step size estimates of a checkpoint-per-round loop chain-multiply
  * exponentially (a measured driver-CPU hang) — so the checkpoint goes
  * through [[GraftShims.localCheckpointRealStats]], which stamps the
  * actual stored block size onto the result's plan instead. Every
  * materialized frame carries those real-size statistics.
  *
  * [[cache]] keeps lineage — for frames one derivation away from an
  * already-checkpointed parent, where an eager checkpoint would only add
  * a write-out job per round (the checkpoint cadence is an iterative
  * loop's dominant fixed cost at small per-round data), and for a
  * shared input that several subtrees of ONE action read
  * ([[materializeOver]]).
  *
  * Release contract: [[release]] frees a frame's storage NOW, both
  * shapes — a cached frame's CacheManager entry and a materialized
  * frame's checkpoint RDD blocks, which `Dataset.unpersist` silently does
  * NOT touch (the loop-hygiene no-op found in r16). A checkpointed RDD
  * has no lineage, so only release a frame whose every live consumer has
  * already been forced into storage; a lazy plan still reading a
  * released checkpoint fails with a missing-block error, never a wrong
  * answer.
  */
object Frames {

  /** Cut lineage and store `df` eagerly, with real-size statistics. */
  def materialize(df: DataFrame): DataFrame =
    GraftShims.localCheckpointRealStats(df)

  /** Store `df` on first use WITHOUT cutting lineage. */
  def cache(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Drop cache entries only: a materialized frame's checkpoint blocks
    * stay, for when a lazy successor may still recompute from them. */
  def uncache(dfs: DataFrame*): Unit = dfs.foreach(_.unpersist())

  /** Free cache entries and checkpoint blocks (see the caller contract
    * above). */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.unpersist()
    GraftShims.releaseCheckpoint(df)
  }

  /** Cache `shared`, materialize `f(shared)`, and only then drop the
    * cache — the shape for an input that several subtrees of one result
    * read: it computes once, and no cache entry outlives the call. */
  def materializeOver(shared: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val c = cache(shared)
    try materialize(f(c)) finally uncache(c)
  }

  /** Free every cache entry and stored RDD of `spark`'s context now
    * (ContextCleaner would only free checkpoint blocks at some future
    * GC). Memoized frames over them must be dropped by the caller. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** The checkpoint cadence of a loop's carried frame `cur`, starting
    * from the checkpointed `start`. Round `i` [[materialize]]s when
    * `i % every == 0 || i == last` and [[cache]]s otherwise, so lineage
    * never spans more than `every` rounds while the eager write-out jobs
    * (the per-round fixed cost at small data) fall `every`-fold. The
    * release rule lives here only: the caches pending since the last
    * checkpoint are unpersisted, and the superseded checkpoint released,
    * only AFTER the new checkpoint is stored — they are the recompute
    * path of everything in between.
    */
  final class Rounds(start: DataFrame, every: Int, last: Int) {
    private var live = start
    private var lastMat = start
    private var pending: List[DataFrame] = Nil

    def cur: DataFrame = live

    def step(i: Int, next: DataFrame): DataFrame = {
      if (i % every == 0 || i == last) checkpoint(next)
      else { live = cache(next); pending = live :: pending }
      live
    }

    /** Checkpoint a pending cache — for loops that exit before `last`. */
    def flush(): Unit = if (pending.nonEmpty) checkpoint(live)

    private def checkpoint(next: DataFrame): Unit = {
      live = materialize(next)
      uncache(pending: _*)
      pending = Nil
      release(lastMat)
      lastMat = live
    }
  }
}
