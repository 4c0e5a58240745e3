package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
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
  *
  * Iterative loops: [[loop]] is the one superstep scope — it stores and
  * counts a loop's input, runs the loop on a session clamped to that
  * size, and frees what it stored; [[Rounds]] carries each loop frame
  * across rounds and decides when each superseded frame is freed.
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

  /** The checkpoint RDD a [[materialize]]d frame (or its rebinding to
    * another session) is rooted at; None for any other frame. */
  private def checkpointOf(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd.id)
      case _ => None
    }

  /** The scope of one iterative loop, handed to [[loop]]'s body. `input`
    * is the stored loop input under the CALLER's session (for set-up
    * work that must run at the caller's parallelism), `rows` its row
    * count; [[in]] rebinds a frame to the loop's clamped session and
    * [[keep]] stores a frame for the whole loop. */
  final class Loop private[Frames] (parent: SparkSession, session: SparkSession,
      val input: DataFrame, val rows: Long) {
    private var kept = List.empty[DataFrame]

    /** Rebind `df` to the clamped loop session (plan-only, free). */
    def in(df: DataFrame): DataFrame = GraftShims.retarget(df, session)

    /** [[materialize]] `df`; it is released when the loop closes. */
    def keep(df: DataFrame): DataFrame = {
      val m = materialize(df)
      kept ::= m
      m
    }

    private[Frames] def close(result: DataFrame): DataFrame = {
      release(kept: _*)
      kept = Nil
      GraftShims.retarget(result, parent)
    }
  }

  /** Runs one iterative loop over `input` — the one superstep scope
    * every graph loop shares:
    *  1. stores `input` — [[materialize]]s it unless it already is a
    *     checkpoint, in which case the caller keeps owning it;
    *  2. counts it with `rows` (default `count()`: one job on the stored
    *     frame) and clamps spark.sql.shuffle.partitions to ~128k input
    *     rows per task, never above the session default;
    *  3. runs `body` with the input rebound to a pooled clamped CLONE of
    *     the session, so every loop shuffle plans at the clamp while the
    *     caller's session conf never changes (a concurrent query on it
    *     never sees the clamp);
    *  4. releases the [[Loop.keep]] frames, and the input if step 1
    *     stored it and the loop did not return the input itself — so a
    *     result must be stored on its own, never a lazy plan over them;
    *  5. hands the result back under the caller's session.
    * The clamp: 32 tasks over KB-sized loop frames is pure task-launch
    * overhead that multiplies by the round count (measured on SCC),
    * while 1.2M-edge PageRank at sf0.1 regressed at 5 partitions. Every
    * action of the loop must run inside `body`. Pooled clones snapshot
    * the parent's other confs when first created for a clamp value;
    * later parent conf changes do not reach them.
    */
  def loop(input: DataFrame, rows: DataFrame => Long = _.count())(
      body: (Loop, DataFrame) => DataFrame): DataFrame = {
    val owned = checkpointOf(input).isEmpty
    val stored = if (owned) materialize(input) else input
    val n = rows(stored)
    val spark = input.sparkSession
    val clamp = math.max(4L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toLong, n / 131072L + 1L))
    val sc = new Loop(spark, GraftShims.clampedSession(
      spark, "spark.sql.shuffle.partitions", clamp.toString), stored, n)
    val out = sc.close(body(sc, sc.in(stored)))
    if (owned && checkpointOf(out) != checkpointOf(stored)) release(stored)
    out
  }

  /** The frames of one loop-carried value across rounds: which round
    * checkpoints, which caches, and when each superseded frame dies.
    *
    * Cadence: round `i` [[materialize]]s when `i % every == 0 || i ==
    * last` ([[checkpoints]]) and [[cache]]s otherwise, so lineage never
    * spans more than `every` rounds while the eager write-out jobs (the
    * per-round fixed cost at small data) fall `every`-fold. `start` (the
    * round-0 frame, or null when there is none) must already be stored;
    * the Rounds owns it from then on.
    *
    * Release: the caches pending since the last checkpoint are
    * unpersisted, and the checkpoint `back` checkpoints before the new
    * one released, only AFTER the new checkpoint is stored — they are the
    * recompute path of everything in between. `back = 2` keeps the
    * previous checkpoint alive for a round whose lazy side frame reads
    * both (kTruss's deleted set). With `retain`, nothing is freed before
    * [[close]]: [[history]] holds every round frame, cached or
    * checkpointed, for a result built over all of them (BFS levels, walk
    * steps). [[scratch]] frames — per-round side frames such as a cached
    * star graph or a BFS frontier — are released right after the NEXT
    * [[step]] has stored its frame. [[done]] leaves only `cur` stored
    * (the loop's result); [[close]] releases everything.
    */
  final class Rounds(start: DataFrame, every: Int = 1, last: Int = Int.MaxValue,
      back: Int = 1, retain: Boolean = false) {
    private var live = start
    private var held = Option(start).toVector
    private var pending: List[DataFrame] = Nil
    private var side: List[DataFrame] = Nil

    def cur: DataFrame = live

    /** The stored round frames, oldest first (every round with `retain`). */
    def history: Seq[DataFrame] = held

    def checkpoints(i: Int): Boolean = i % every == 0 || i == last

    def step(i: Int, next: DataFrame): DataFrame = {
      if (checkpoints(i)) checkpoint(next)
      else {
        live = cache(next)
        if (retain) held :+= live else pending ::= live
      }
      release(side: _*)
      side = Nil
      live
    }

    /** Released right after the next [[step]] stores its frame. */
    def scratch(df: DataFrame): DataFrame = { side ::= df; df }

    /** Checkpoint a pending cache (a loop that exits before `last`),
      * release every frame but `cur`, and return `cur`. */
    def done(): DataFrame = {
      if (pending.nonEmpty) checkpoint(live)
      release(side ++ held.filterNot(_ eq live): _*)
      side = Nil
      held = held.filter(_ eq live)
      live
    }

    /** Release every frame this Rounds holds, `cur` included. */
    def close(): Unit = {
      uncache(pending: _*)
      release(side ++ held: _*)
      pending = Nil; side = Nil; held = Vector.empty
    }

    private def checkpoint(next: DataFrame): Unit = {
      live = materialize(next)
      held :+= live
      if (!retain) {
        uncache(pending: _*)
        pending = Nil
        val (dead, kept) = held.splitAt(held.length - back)
        release(dead: _*)
        held = kept
      }
    }
  }
}
