package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.util.Frames

/** Structured Streaming over the events table: ingest, windowed
  * aggregation with watermarks, sessionization, and micro-batch graph
  * updates.
  *
  * No reference analog (the reference is a single-node store); this is
  * the Spark-native continuous-ingest surface the build brief asks for.
  * Every transform is defined on an unbounded DataFrame and works
  * identically in batch mode (Spark's unified semantics), which is how
  * the deterministic parts are oracle-tested.
  */
object EventStreams {

  /** events.parquet schema with `ts` as a proper timestamp. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  final case class SessionState(startMs: Long, endMs: Long, n: Long, total: Double)

  /** File-based streaming ingest of event parquet drops. */
  def readEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** FileStreamSource needs a directory basePath. The driver testdata
    * keeps events as a single FILE `<dir>/events.parquet` (selected with
    * a pathGlobFilter on the parent), but Spark-written datasets (the
    * 10× rehearsal) have a DIRECTORY `<dir>/events.parquet/part-*` whose
    * leaf files the same glob does NOT match — the stream then silently
    * reads zero files (the r11 10× run's only failure). Pick per layout.
    */
  /** Streaming events read with `ts` already normalized to TimestampType
    * (µs), whatever the file's physical unit — the batch-inferred type
    * drives both the stream schema and the conversion.
    */
  /** ts physical-type probe memo: every stream drain was paying a batch
    * parquet footer read (~0.1-0.2s, measured r22 via the per-batch
    * durationMs probe) just to learn whether `ts` is INT64-nanos or
    * TIMESTAMP-micros. The type is a pure function of the FILE, so it
    * is keyed by (resolved path, length, modification time) —
    * self-invalidating when the file changes; never caches results. */
  private val tsTypeCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long), org.apache.spark.sql.types.DataType]

  private def eventsRawStream(spark: SparkSession, eventsDir: String,
      glob: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$eventsDir/$glob")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve the glob (fs.exists is a LITERAL check — a wildcard glob
    // would fail it and fall back to the whole multi-table dataset dir,
    // inferring the wrong schema); infer from the first matched file and
    // only fall back to eventsDir when nothing matches
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val (batchPath, key) =
      if (matched.nonEmpty) {
        val st = matched.head
        (st.getPath.toString,
          (st.getPath.toString, st.getLen, st.getModificationTime))
      } else (eventsDir, (eventsDir, -1L, -1L))
    val tsType = tsTypeCache.getOrElseUpdate(key,
      spark.read.parquet(batchPath).schema("ts").dataType)
    val raw = rawFileStream(spark, eventsDir, glob, rawEventSchema(tsType))
    raw.withColumn("ts", graft.graph.GraphLoader.normalizeTs(tsType, "ts"))
  }

  private def rawFileStream(spark: SparkSession, dir: String,
      glob: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$glob")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val base = spark.readStream.schema(schema)
    // when the glob resolves to DIRECTORIES (Spark-written datasets:
    // <dir>/events.parquet/part-*), stream the glob as the source path —
    // pathGlobFilter matches LEAF FILE names and would see zero files
    if (matched.nonEmpty && matched.forall(_.isDirectory)) base.parquet(p.toString)
    else base.option("pathGlobFilter", glob).parquet(dir)
  }

  /** Tumbling (or sliding, when `slide` is set) windowed event counts with
    * a watermark for state eviction. Works on bounded frames too.
    */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
      slide: Option[String] = None, watermark: String = "30 minutes"): DataFrame = {
    val w = slide match {
      case Some(s) => org.apache.spark.sql.functions.window(col("ts"), window, s)
      case None => org.apache.spark.sql.functions.window(col("ts"), window)
    }
    events.withWatermark("ts", watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("event_type"), col("cnt"), col("total_value"))
  }

  /** Batch sessionization: events of one user belong to one session while
    * consecutive gaps stay <= gap. Pure window functions — deterministic,
    * SQL-replayable (the batch oracle for the streaming variant below).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (col("ts").cast(LongType) - col("prev_ts").cast(LongType)) * 1000 > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .drop("session_seq")
  }

  /** Streaming sessionization via flatMapGroupsWithState: one state entry
    * per user; a session closes (and is emitted) when a later event
    * arrives past the gap, or on event-time timeout. Custom state is the
    * piece Spark's built-in session_window can also express — kept
    * explicit here to demonstrate arbitrary per-key state (SURVEY §2.7).
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, new Timestamp(s.startMs), new Timestamp(s.endMs),
          s.n, s.total))
      }
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val closed = Seq.newBuilder[Session]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.endMs <= gapMs =>
            cur = Some(SessionState(s.startMs, math.max(s.endMs, t), s.n + 1, s.total + e.value))
          case Some(s) =>
            closed += Session(userId, new Timestamp(s.startMs), new Timestamp(s.endMs),
              s.n, s.total)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        if (state.getCurrentWatermarkMs() > 0)
          state.setTimeoutTimestamp(s.endMs + gapMs)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Raw schema of the driver's events parquet. `ts`'s physical layout has
    * varied across testdata generations — INT64 TIMESTAMP(NANOS) surfaced
    * as long under nanosAsLong, TIMESTAMP_NTZ micros, or a Spark-written
    * TIMESTAMP — and a file stream needs the schema UP FRONT, so we
    * batch-infer it once from the same path and splice the inferred ts
    * type in. Declaring the wrong type doesn't fail loudly: a LongType
    * over micros reads raw micros, which a nanos→micros `div 1000` then
    * silently collapses to 1970-era millis (r12's driver data flip caught
    * exactly this).
    */
  private def rawEventSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Runs `body` with spark.sql.shuffle.partitions sized to the bounded
    * stream's input bytes (~64 MB per partition, clamped to [4, session
    * default]), restoring the session value afterwards. Stateful
    * streaming operators instantiate one state store per shuffle
    * partition per micro-batch (a stream-stream join keeps TWO per
    * partition); draining a bounded fixture at a cluster-sized default
    * pays that fixed cost on near-empty stores — the r14 iterative-loop
    * lesson applied to streams. Callers create fresh checkpoints per
    * invocation, so the partition count recorded in the checkpoint
    * never conflicts with a prior run's.
    *
    * The clamp lives on a CLONED session (isolated SQLConf; shared
    * SparkContext, cache and registered functions), never on the
    * caller's: the body receives the clone as its argument — call sites
    * bind it to the name `spark`, shadowing the caller's session, so
    * every reference inside the drain (readStream, memory-sink table,
    * verify joins) targets the clone — and the drained result is
    * rebound to the caller's session on the way out. A concurrent
    * unrelated query on the caller's session never sees the clamp (the
    * r15 ConfScope caveat, solved the same way as
    * [[graft.algos.Algos]]'s loop scopes).
    *
    * Caveat (pooled clones): the clamped clone snapshots the parent's
    * OTHER confs at its creation for a given clamp value; parent conf
    * changes made later do NOT propagate into an already-pooled clone.
    */
  private[streaming] def withStreamParts(spark: SparkSession, dir: String,
      glob: String)(body: SparkSession => DataFrame): DataFrame = {
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    val p = new org.apache.hadoop.fs.Path(s"$dir/$glob")
    val bytes =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case _: java.io.IOException => Long.MaxValue }
    // pooled conf-immutable clamped clone (see GraftShims.clampedSession:
    // a fresh clone per drain pays per-session warm-up on every call).
    // NOTE (r22, measured and REVERTED): lowering the floor 4 → 2 (two
    // fewer state-store instances per stateful op) made the 31-query
    // tier 1.11-1.29× WORSE control-normalized across two interleaved
    // A/B rounds — addBatch (the per-batch compute, 0.3-0.7s of each
    // ~1s drain) loses more from the halved parallelism than the saved
    // state stores return. The floor stays 4.
    val drain = org.apache.spark.sql.graftshim.GraftShims.clampedSession(
      spark, "spark.sql.shuffle.partitions",
      math.max(4L, math.min(orig.toLong, bytes / (64L << 20) + 1L)).toString)
    org.apache.spark.sql.graftshim.GraftShims.retarget(body(drain), spark)
  }

  /** Run `stream` into the memory sink `queryName` with one availableNow
    * trigger, which drains the bounded input fully, and return the sink
    * table.
    */
  private def drain(spark: SparkSession, stream: Dataset[_], queryName: String,
      mode: OutputMode): DataFrame = {
    stream.writeStream.format("memory").queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.table(queryName)
  }

  /** The windowed-count pipeline executed THROUGH Structured Streaming:
    * file-stream ingest of the events parquet (availableNow trigger) →
    * watermark + tumbling windowedCounts → complete-mode memory sink.
    * Drains the bounded input fully before returning the result table, so
    * the output is deterministic and equals the batch twin — the same
    * DuckDB oracle gates both.
    */
  def windowedCountsStreamed(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      queryName: String = "q_stream_window"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val ev = raw  // ts already normalized by eventsRawStream
    drain(spark, windowedCounts(ev, window = "1 hour"), queryName, OutputMode.Complete)
    }

  /** Streaming stateful exact-dedup: file-stream ingest (availableNow)
    * → `dropDuplicates` on the key columns → append-mode memory sink,
    * drained fully. First-arrival-wins on the keys; emitting KEYS ONLY
    * keeps the result deterministic (equal to batch DISTINCT — the
    * oracle), independent of file/batch arrival order.
    *
    * State contract, 100 TB framing: exact streaming dedup necessarily
    * holds one state row per distinct key — bounded by key cardinality,
    * not stream length (keys here are 8+small bytes; a digest column is
    * the right key for document streams, same digests-not-bodies
    * discipline as [[graft.pipeline.Dedup.exact]]). When the dedup
    * horizon can be bounded in event time, swap in
    * `dropDuplicatesWithinWatermark` to make Spark EVICT state at the
    * watermark — the TTL variant trades cross-horizon dups for bounded
    * state; the gate pins the exact variant.
    */
  def streamingDedup(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      keys: Seq[String] = Seq("user_id", "event_type"),
      queryName: String = "q_stream_dedup"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = raw
      .dropDuplicates(keys)
      .select(keys.map(col): _*)
    drain(spark, stream, queryName, OutputMode.Append).orderBy(keys.map(col): _*)
    }

  /** Streaming dedup with a watermark TTL — the bounded-state variant
    * [[streamingDedup]]'s Scaladoc promised: `dropDuplicatesWithinWatermark`
    * holds one state row per key only until the event-time watermark
    * passes the key's horizon, so on a truly UNBOUNDED key stream
    * (fresh document digests forever) state is bounded by the key
    * ARRIVAL RATE × horizon, not by total key cardinality — the same
    * rotation trade [[streamingBloomRotated]] makes for bits. The
    * trade is explicit: a key recurring AFTER its state evicted is
    * emitted again (spec pins exactly this), so downstream consumers
    * get at-least-once distinct keys per horizon rather than global
    * distinct. Equality with batch DISTINCT (the gate oracle) holds
    * whenever every duplicate pair arrives within the horizon — on the
    * gate corpus the horizon (365 days) covers the whole table, and
    * AvailableNow with no maxFilesPerTrigger processes all files in
    * one batch anyway (the [[streamingBloomRotated]] late-data
    * contract applies verbatim to multi-drop feeds).
    */
  def streamingDedupTtl(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      keys: Seq[String] = Seq("user_id", "event_type"),
      horizon: String = "365 days",
      queryName: String = "q_stream_dedup_ttl"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = raw
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keys)
      .select(keys.map(col): _*)
    drain(spark, stream, queryName, OutputMode.Append).orderBy(keys.map(col): _*)
    }

  /** Streaming heavy hitters: per-group top-k keys by exact count over
    * an event stream — the live "top users / top queries / top domains"
    * panel every ingestion pipeline keeps. ONE streaming aggregation
    * (map-side-combined counts per (group, key), complete-mode memory
    * sink) drained with availableNow, then the top-k slice ranks the
    * drained state table — exactly how a dashboard queries a streaming
    * state store; rank itself can't run inside the streaming plan (no
    * window functions over streams) and shouldn't: the state IS the
    * sketch, the slice is a view of it.
    *
    * State contract, 100 TB framing: exact counts hold one state row
    * per distinct (group, key) — bounded by key cardinality (user ids
    * here), not stream length. For unbounded key spaces (URLs, n-grams)
    * swap the exact agg for the bounded-heap approx pass
    * ([[graft.pipeline.TextOps.ngramFrequenciesApprox]]'s shape) per
    * trigger window. Counts are integers and ties break on key, so the
    * drained result equals the batch GROUP BY — one oracle gates both.
    */
  def streamingTopK(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", k: Int = 5,
      queryName: String = "q_stream_topk"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = raw
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    topKSlice(drain(spark, stream, queryName, OutputMode.Complete), k)
    }

  /** Input/output rows of [[streamingTopKApprox]]'s bounded-state pass. */
  final case class HHRow(grp: String, key: Long)
  final case class HHState(grp: String, bucket: Int, version: Long,
    key: Long, cnt: Long)

  /** Streaming heavy hitters with BOUNDED state on an UNBOUNDED key
    * space — the documented swap-in for [[streamingTopK]], whose exact
    * per-key counts grow with key cardinality. Space-saving / Misra-
    * Gries summaries (Metwally et al. 2005) keyed by (group, hash
    * bucket): each of the B buckets owns a disjoint key slice and keeps
    * AT MOST `capacity` (key, count) entries FOREVER — when a new key
    * hits a full summary it inherits the minimum count (evicting that
    * key), the classic overestimate-never-underestimate trade. State is
    * ≤ B·capacity rows per group regardless of how many distinct keys
    * the stream carries (spec-pinned with a MemoryStream feeding ×10
    * more keys than capacity).
    *
    * Exactness contract, same shape as every sketch gate here: while
    * distinct keys per bucket ≤ capacity nothing ever evicts, summaries
    * hold EXACT counts whatever the arrival/batch order, and the
    * drained top-k equals the batch GROUP BY — the q_stream_topk oracle
    * gates this operator at a capacity that is non-binding on the gate
    * corpus (the q_mine rule). Beyond capacity the answer degrades
    * gracefully (counts only overestimate, by ≤ the evicted minimum)
    * instead of the state growing.
    *
    * Each trigger emits the group's full summary stamped with a
    * monotone version (its total count); the drain keeps each bucket's
    * LAST emission — append-mode memory sinks accumulate every trigger,
    * and "latest wins" is exactly how a dashboard reads a state store.
    */
  def streamingTopKApprox(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", k: Int = 5,
      buckets: Int = 16, capacity: Int = 2048,
      queryName: String = "q_stream_topk_approx"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    import spark.implicits._
    require(buckets >= 1 && capacity >= 1)
    val raw = eventsRawStream(spark, eventsDir, glob)
    val rows = raw.select(col("event_type").as("grp"),
      col("user_id").as("key")).as[HHRow]
    // latest emission per (grp, bucket) = the drained state table
    val drained = Frames.materialize(drain(spark,
      topKApproxSummaries(rows, buckets, capacity), queryName, OutputMode.Append))
    val latest = drained.groupBy("grp", "bucket")
      .agg(max(col("version")).as("version"))
    val stateTable = drained.join(latest, Seq("grp", "bucket", "version"))
      .select(col("grp").as("event_type"), col("key").as("user_id"),
        col("cnt"))
    topKSlice(stateTable, k)
    }

  /** Input/state rows of [[streamingPrioritySample]]. */
  final case class PsRow(doc_id: Long, w: Long, priority: Double)
  final case class PsState(bucket: Int, version: Long, doc_id: Long,
    w: Long, priority: Double)

  /** Priority sampling ON THE STREAM — the weighted-without-replacement
    * sampler's streaming twin ([[graft.pipeline.TextOps
    * .prioritySample]] semantics): priorities are DETERMINISTIC hash
    * functions of the id (w·2⁵²/u, zero RNG state), so "the k+1 highest
    * priorities" is a pure set property — maintained by per-bucket
    * bounded heaps (flatMapGroupsWithState, ≤ k+1 state rows per bucket
    * FOREVER) whose drained union contains the global top-(k+1)
    * whatever the arrival order (at most k+1 global winners can live in
    * one bucket). The drain reassembles rank/τ/ŵ over ≤ B·(k+1) rows
    * exactly as the batch operator does, so the result is bit-equal to
    * batch and the q_wsample oracle gates the streamed run.
    */
  def streamingPrioritySample(spark: SparkSession, docsDir: String,
      glob: String = "documents.parquet", k: Int = 100, buckets: Int = 8,
      queryName: String = "q_stream_wsample"): DataFrame =
    withStreamParts(spark, docsDir, glob) { spark =>
    import spark.implicits._
    require(k >= 1 && buckets >= 1)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = rawFileStream(spark, docsDir, glob, schema)
    val u = lit(1L) + shiftright(graft.pipeline.TextOps.md5Hash60(
      concat(lit("ps:"), col("doc_id").cast(StringType))), 8)
    val rows = docs.filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars").cast(LongType).as("w"),
        ((col("n_chars").cast(DoubleType) * lit(4503599627370496.0)) /
          u.cast(DoubleType)).as("priority")).as[PsRow]
    def update(bucket: Int, it: Iterator[PsRow],
        state: GroupState[(Long, Seq[PsRow])]): Iterator[PsState] = {
      val (n0, heap0) = state.getOption.getOrElse((0L, Seq.empty[PsRow]))
      val batch = it.toSeq
      val heap = (heap0 ++ batch)
        .sortBy(r => (-r.priority, r.doc_id)).take(k + 1)
      val n = n0 + batch.size
      state.update((n, heap))
      heap.iterator.map(r => PsState(bucket, n, r.doc_id, r.w, r.priority))
    }
    val stream = rows
      .groupByKey(r => (r.doc_id % buckets).toInt)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
    val drained = Frames.materialize(drain(spark, stream, queryName, OutputMode.Append))
    val latest = drained.groupBy("bucket").agg(max(col("version")).as("version"))
    val pool = drained.join(latest, Seq("bucket", "version"))
      .select("doc_id", "w", "priority")
    // identical assembly to the batch operator, over ≤ B·(k+1) rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("priority").desc, col("doc_id"))
    val top = pool.orderBy(col("priority").desc, col("doc_id")).limit(k + 1)
      .withColumn("rnk", row_number().over(w).cast(LongType))
    val tau = top.agg(coalesce(
      min(when(col("rnk") === (k + 1).toLong, col("priority"))),
      lit(0.0)).as("t"))
    top.filter(col("rnk") <= k).crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w"), col("rnk"),
        greatest(col("w").cast(DoubleType), col("t")).as("w_hat"))
      .orderBy("rnk")
    }

  /** The bounded-state pass of [[streamingTopKApprox]], exposed for
    * MemoryStream specs: per-(group, bucket) space-saving summaries of
    * ≤ `capacity` entries, each trigger re-emitting the group's summary
    * stamped with its monotone total count as `version`.
    */
  def topKApproxSummaries(rows: Dataset[HHRow], buckets: Int,
      capacity: Int): Dataset[HHState] = {
    val spark = rows.sparkSession
    import spark.implicits._
    def update(gk: (String, Int), it: Iterator[HHRow],
        state: GroupState[Map[Long, Long]]): Iterator[HHState] = {
      var m = state.getOption.getOrElse(Map.empty[Long, Long])
      // exact counts within the batch first, then ONE deterministic
      // merge sweep (ascending key): while the summary never fills, the
      // result is batch-order-independent — the gate's exact regime
      val batch = scala.collection.mutable.Map.empty[Long, Long]
      it.foreach(r => batch.update(r.key, batch.getOrElse(r.key, 0L) + 1L))
      batch.toSeq.sortBy(_._1).foreach { case (key, c) =>
        m.get(key) match {
          case Some(prev) => m = m.updated(key, prev + c)
          case None if m.size < capacity => m = m.updated(key, c)
          case None =>
            val (mk, mc) = m.minBy { case (kk, cc) => (cc, kk) }
            m = (m - mk).updated(key, mc + c) // count inheritance
        }
      }
      state.update(m)
      val version = m.valuesIterator.sum
      m.iterator.map { case (key, cnt) =>
        HHState(gk._1, gk._2, version, key, cnt)
      }
    }
    rows.groupByKey(r => (r.grp, (r.key % buckets).toInt))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Ordered-funnel analysis: for an ordered step sequence (e.g.
    * view → click → purchase), each user's earliest completion time of
    * step i STRICTLY AFTER their step i−1 time — the product-analytics
    * conversion primitive. One aggregation per step, each keyed by
    * user_id (co-partitioned: every join and groupBy shares the one
    * hash partitioning, so Spark plans a single exchange chain, no
    * re-shuffle per step). Emits one row per user who completed step 1,
    * with per-step epoch-micro times (null = never reached) and the
    * depth reached — all integers, exactly replayable.
    */
  def funnelBatch(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val byUser = events.select(col("user_id"), col("event_type"), col("ts"))
    // step 1: unconditional earliest
    var acc = byUser.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      val next = byUser.filter(col("event_type") === s)
        .select(col("user_id"), col("ts").as("_ts"))
      // conditional min, NOT a filter: a user whose step-i events all
      // precede t(i-1) must keep their row with t(i) = null, and a null
      // t(i-1) nulls the comparison so the cascade stays null
      acc = acc.join(next, Seq("user_id"), "left")
        .groupBy((col("user_id") +: (1 to i).map(j => col(s"t$j"))): _*)
        .agg(min(when(col("_ts") > col(prev), col("_ts"))).as(cur))
    }
    val depth = steps.indices.map(i => when(col(s"t${i + 1}").isNotNull, 1L)
      .otherwise(0L)).reduce(_ + _)
    acc.select(
      (col("user_id") +:
        steps.indices.map(i => unix_micros(col(s"t${i + 1}")).as(s"t${i + 1}_us"))) :+
        depth.as("depth"): _*)
      .orderBy("user_id")
  }

  final case class FunnelEv(user_id: Long, step: Int, us: Long)
  /** [[FunnelEv]] plus the raw timestamp: the event-time-timeout
    * checker requires the WATERMARKED column itself to reach the
    * stateful operator's input, so the TTL variant carries `ts`
    * alongside the epoch-micros the state machine works in. */
  final case class FunnelEvT(user_id: Long, step: Int, us: Long,
      ts: java.sql.Timestamp)
  final case class FunnelOut(user_id: Long, version: Long, t1_us: Long,
      t2_us: Long, t3_us: Long, depth: Long)

  /** Ordered funnel ON THE STREAM — [[funnelBatch]]'s incremental twin
    * (completing the batch/stream pairing the funnel tier lacked): one
    * `flatMapGroupsWithState` per user holds the per-step event-time
    * SETS and re-derives the strict-after chain (t1 = min step-1 time,
    * t2 = min step-2 time > t1, t3 = min step-3 time > t2) on every
    * batch, emitting the user's current row stamped with a monotone
    * version; the drain keeps each user's latest version. Keeping the
    * full per-step sets is CORRECTNESS, not laziness: a late-arriving
    * earlier step-1 event lowers t1 and can re-qualify step-2 times
    * that were below the old chain (spec pins exactly this), so no
    * time below the current chain may be discarded — state per user is
    * bounded by their funnel-event count (the sessionizeStream class;
    * [[streamingFunnelTtl]] is the horizon-capped variant when a
    * product can bound the chain window). Order-
    * insensitive by construction, so the drained result equals
    * [[funnelBatch]] whatever the batch arrangement, and the q_funnel
    * oracle gates the streamed run verbatim.
    */
  def streamingFunnel(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      steps: Seq[String] = Seq("view", "click", "purchase"),
      queryName: String = "q_stream_funnel"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    import spark.implicits._
    require(steps.length == 3, "the streaming funnel is specialized to 3 steps")
    val raw = eventsRawStream(spark, eventsDir, glob)
    val rows = raw.select(col("user_id"),
        when(col("event_type") === steps(0), 0)
          .when(col("event_type") === steps(1), 1)
          .when(col("event_type") === steps(2), 2).as("step"),
        unix_micros(col("ts")).as("us"))
      .filter(col("step").isNotNull)
      .as[FunnelEv]
    val stream = rows.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(funnelUpdate)
    val drained = Frames.materialize(drain(spark, stream, queryName, OutputMode.Append))
    val latest = drained.groupBy("user_id").agg(max(col("version")).as("version"))
    drained.join(latest, Seq("user_id", "version"))
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        col("depth"))
      .orderBy("user_id")
    }

  /** Merge an already-sorted-distinct state seq with a batch of new
    * times: O(|state| + |batch| log |batch|) per batch instead of the
    * old full-history re-sort (the r18 verdict's compounding-cost
    * note) — the state invariant (sorted, distinct) is maintained
    * across batches, only the batch's own times ever see a sort.
    */
  private def mergeSorted(s0: Seq[Long], add: Seq[Long]): Seq[Long] =
    if (add.isEmpty) s0
    else {
      val x = s0.iterator.buffered
      val y = add.distinct.sorted.iterator.buffered
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (x.hasNext && y.hasNext) {
        if (x.head < y.head) out += x.next()
        else if (x.head > y.head) out += y.next()
        else { out += x.next(); y.next() }
      }
      while (x.hasNext) out += x.next()
      while (y.hasNext) out += y.next()
      out.toSeq
    }

  /** The shared per-user funnel transition: merge the batch into the
    * sorted per-step sets, evict times below `floorUs` (Long.MinValue
    * = no horizon, the exact variant), re-derive the strict-after
    * chain, emit the versioned row. Empty-after-eviction state is
    * REMOVED (only reachable on the TTL path).
    */
  private def funnelCore(user: Long, batch: Seq[FunnelEv],
      state: GroupState[(Long, Seq[Long], Seq[Long], Seq[Long])],
      floorUs: Long, vFloor: Long = 0L): Iterator[FunnelOut] = {
    val (v0, a0, b0, c0) = state.getOption
      .getOrElse((0L, Seq.empty[Long], Seq.empty[Long], Seq.empty[Long]))
    def upd(s0: Seq[Long], step: Int): Seq[Long] = {
      val m = mergeSorted(s0, batch.collect { case e if e.step == step => e.us })
      if (floorUs == Long.MinValue) m else m.dropWhile(_ < floorUs)
    }
    val a = upd(a0, 0)
    val b = upd(b0, 1)
    val c = upd(c0, 2)
    if (a.isEmpty && b.isEmpty && c.isEmpty) {
      if (state.exists) state.remove()
      Iterator.empty
    } else {
      // vFloor (TTL path: the watermark in µs — data-derived, so still
      // deterministic) keeps versions monotone ACROSS state lifetimes:
      // a user whose state timed out restarts the counter, and without
      // the floor their fresh v=1 row would tie their original v=1 row
      // in the drain's latest-version join
      val v = math.max(v0 + 1, vFloor)
      state.update((v, a, b, c))
      val t1 = a.headOption
      val t2 = t1.flatMap(x => b.find(_ > x))
      val t3 = t2.flatMap(x => c.find(_ > x))
      if (t1.isEmpty) Iterator.empty
      else Iterator(FunnelOut(user, v, t1.getOrElse(-1L), t2.getOrElse(-1L),
        t3.getOrElse(-1L), Seq(t1, t2, t3).count(_.isDefined).toLong))
    }
  }

  /** The per-user state transition of [[streamingFunnel]], exposed for
    * MemoryStream specs. */
  private[streaming] def funnelUpdate(user: Long, it: Iterator[FunnelEv],
      state: GroupState[(Long, Seq[Long], Seq[Long], Seq[Long])]): Iterator[FunnelOut] =
    funnelCore(user, it.toSeq, state, Long.MinValue)

  /** [[funnelUpdate]] with the event-time horizon: step times below the
    * current watermark are evicted before the chain re-derives, and a
    * user whose every retained time ages out has their state REMOVED
    * via event-time timeout (one horizon past their newest retained
    * step), so state is bounded by in-horizon activity, not history.
    */
  private[streaming] def funnelUpdateTtl(horizonMs: Long)(user: Long,
      it: Iterator[FunnelEvT],
      state: GroupState[(Long, Seq[Long], Seq[Long], Seq[Long])]): Iterator[FunnelOut] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // the watermark already lags max event time by the horizon, so
      // the eviction floor IS the watermark (0 before the first batch
      // completes — nothing evicts on a single AvailableNow drain)
      val floorUs = state.getCurrentWatermarkMs() * 1000L
      // drop late arrivals below the floor too: deterministic whatever
      // the engine's own late-row filtering for this operator
      val out = funnelCore(user,
        it.filter(_.us >= floorUs)
          .map(e => FunnelEv(e.user_id, e.step, e.us)).toSeq,
        state, floorUs, vFloor = floorUs)
      if (state.exists) {
        val (_, a, b, c) = state.get
        // retained times are >= the watermark, so this is always ahead
        // of it (the setTimeoutTimestamp precondition)
        val maxMs = math.max(a.lastOption.getOrElse(Long.MinValue),
          math.max(b.lastOption.getOrElse(Long.MinValue),
            c.lastOption.getOrElse(Long.MinValue))) / 1000L
        state.setTimeoutTimestamp(maxMs + horizonMs)
      }
      out
    }

  /** [[streamingFunnel]] with a watermark-TTL horizon — the r18
    * verdict's missing #1, the [[streamingDedupTtl]] trade applied to
    * the funnel's per-step sets: a watermark on `ts` evicts step times
    * older than `horizonDays` below the max seen event time, and users
    * with no retained step inside the horizon drop their state row
    * entirely (event-time timeout), so state is bounded by in-horizon
    * funnel activity — arrival rate × horizon — not by user history on
    * an unbounded stream. The divergence contract, stated the
    * q_stream_dedup_ttl way: chains whose qualifying step times all
    * fall inside the horizon are EXACT (equal to [[funnelBatch]], the
    * gate oracle — on the gate corpus the 365-day horizon covers the
    * whole table and the single AvailableNow batch drains before any
    * watermark advances); a chain whose early steps age out re-derives
    * from the retained suffix only, so t1 can move forward and depth
    * can shrink relative to the unbounded exact variant (spec pins
    * exactly this, plus the state-row removal).
    */
  def streamingFunnelTtl(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      steps: Seq[String] = Seq("view", "click", "purchase"),
      horizonDays: Int = 365,
      queryName: String = "q_stream_funnel_ttl"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    import spark.implicits._
    require(steps.length == 3, "the streaming funnel is specialized to 3 steps")
    val raw = eventsRawStream(spark, eventsDir, glob)
    val rows = raw.withWatermark("ts", s"$horizonDays days")
      .select(col("user_id"),
        when(col("event_type") === steps(0), 0)
          .when(col("event_type") === steps(1), 1)
          .when(col("event_type") === steps(2), 2).as("step"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .filter(col("step").isNotNull)
      .as[FunnelEvT]
    val stream = rows.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        funnelUpdateTtl(horizonDays.toLong * 86400000L))
    val drained = Frames.materialize(drain(spark, stream, queryName, OutputMode.Append))
    val latest = drained.groupBy("user_id").agg(max(col("version")).as("version"))
    drained.join(latest, Seq("user_id", "version"))
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        col("depth"))
      .orderBy("user_id")
    }

  /** Rolling active users ON THE STREAM — [[graft.operators.Olap.activeUsers]]'s
    * incremental twin: one streaming `dropDuplicates(uday, user_id)`
    * holds the distinct (day, user) pair set as its state — the SAME
    * reduction the batch operator starts from, so the drained pairs
    * feed the identical DAU/WAU rollup and the batch oracle gates the
    * stream verbatim. State is |users × active days| rows — bounded by
    * the pair cardinality, not the event count. `horizon` (r19, the
    * r18 verdict's missing #2) is the q_stream_dedup_ttl trade wired
    * in rather than described: an event-time watermark +
    * `dropDuplicatesWithinWatermark` evicts a (day, user) pair's state
    * once the watermark passes its horizon, bounding state at
    * |users × days-in-horizon| on an unbounded stream; a pair
    * recurring after eviction re-emits (at-least-once per horizon), so
    * the TTL drain dedups the pair frame before the rollup — equality
    * with batch holds whenever each day's events span less than the
    * horizon (the gate corpus trivially, single AvailableNow batch).
    * Day arithmetic in integer offsets from 2024-01-01, no dates on
    * the hashed surface.
    */
  def streamingActiveUsers(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", windowDays: Int = 7,
      horizon: Option[String] = None,
      queryName: String = "q_stream_active"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val uday = datediff(to_date(col("ts")), lit("2024-01-01"))
      .cast(LongType).as("uday")
    val deduped = horizon match {
      case Some(h) => raw
        .withWatermark("ts", h)
        .select(uday, col("user_id"), col("ts"))
        .dropDuplicatesWithinWatermark("uday", "user_id")
        .select(col("uday"), col("user_id"))
      case None => raw
        .select(uday, col("user_id"))
        .dropDuplicates("uday", "user_id")
    }
    val pairs = Frames.materialize(drain(spark, deduped, queryName, OutputMode.Append))
    graft.operators.Olap.activeUsersFromPairs(
      if (horizon.isDefined) pairs.distinct() else pairs, windowDays)
    }

  /** First-order Markov transition matrix over per-user event
    * sequences: count and permille of (event_type → next event_type)
    * adjacencies, the "what do users do next" dashboard surface and
    * the raw material of sequence-model sanity checks on event
    * corpora. Adjacency comes from one `lead` over (user_id | ts,
    * event_id) — an order-dependent per-user scan, which is the
    * SEMANTICS (audited window site; the sessionize contract applies:
    * one user's history is one task) — then two tiny grouped counts;
    * the output is |event types|² rows max, never data-sized. Permille
    * is exact integer division (the house rule — no float ratios on
    * the hashed surface). Returns (from_type, to_type, cnt, permille)
    * with permille relative to the from_type row marginal.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val cnt = pairs.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))
    val tot = cnt.groupBy("from_type")
      .agg(sum(col("cnt")).cast(LongType).as("tot"))
    cnt.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("cnt"),
        expr("CAST((1000 * cnt) DIV tot AS BIGINT)").as("permille"))
      .orderBy("from_type", "to_type")
  }

  /** Frequent 3-step SESSION PATHS — the product-analytics "common
    * journeys" surface [[transitionMatrix]]'s first-order counts can't
    * see: sessionize by the same inactivity gap as [[sessionizeBatch]]
    * (lag + running sum of boundary flags), then count every 3
    * CONSECUTIVE events inside one session as a path string. One
    * per-user ordered window (the audited sessionize contract — the
    * scan IS the semantics) feeding a grouped count; output is
    * path-vocabulary-sized, thresholded by `minCount` rather than
    * top-k so ties can't make the surface nondeterministic. Returns
    * (path, cnt) with cnt ≥ minCount, ordered by path.
    */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 30,
      minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val withSess = events.select(col("user_id"), col("event_type"),
        col("ts"), col("event_id"))
      .withColumn("new_sess",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          > gapUs, 1L).otherwise(lit(0L)))
      .withColumn("sess", sum(col("new_sess")).over(w))
    val paths = withSess
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("s2", lead(col("sess"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .withColumn("s3", lead(col("sess"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull &&
        col("s2") === col("sess") && col("s3") === col("sess"))
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
    paths.groupBy("path").agg(count(lit(1)).cast(LongType).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy("path")
  }

  /** HyperLogLog ON THE STREAM: the sketch's row-local cell projection
    * ([[graft.pipeline.Sketches.hllCells]]) runs per arriving event and
    * ONE streaming `groupBy(grp, bucket).max(rho)` aggregation holds the
    * live register table as its complete-mode state — bounded at m rows
    * per group FOREVER, the whole point of sketching a stream (exact
    * streaming distinct-count state grows with cardinality; this never
    * does). Drained with availableNow; max is order-insensitive, so the
    * drained registers equal the batch sketch bit-for-bit and the batch
    * oracle gates the streamed run. Returns the register table.
    */
  def streamingHll(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", valueCol: String = "event_id",
      groupCol: String = "event_type", p: Int = 8,
      queryName: String = "q_stream_hll"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = graft.pipeline.Sketches.hllCells(raw, valueCol, groupCol, p)
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rho")).as("register"))
    drain(spark, stream, queryName, OutputMode.Complete)
    }

  /** Bloom filter ON THE STREAM — the membership sketch's streaming
    * twin: every arriving event's k bit positions are computed
    * ROW-LOCALLY ([[graft.pipeline.Sketches.bloomCells]]) and ONE
    * streaming `dropDuplicates("pos")` holds the live bit SET as its
    * state — bounded at m rows FOREVER regardless of stream length
    * (exact streaming membership state grows with key cardinality).
    * Append mode: a position row is emitted exactly when its bit first
    * flips on, so the drained sink IS the bit set, bit-for-bit equal to
    * the batch [[graft.pipeline.Sketches.bloomBits]] over the same rows
    * (set union is order-insensitive) — the batch oracle gates the
    * streamed run. `m` must be fixed BEFORE the stream starts: size it
    * from expected cardinality ([[graft.pipeline.Sketches.bloomSize]]);
    * a growing stream saturates any fixed filter, so production rotates
    * filters per window/shard and ORs them (union = plain UNION here).
    */
  def streamingBloomBits(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", keyCol: String = "user_id",
      m: Long = 4096L, k: Int = 5,
      queryName: String = "q_stream_bloom"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = graft.pipeline.Sketches.bloomCells(raw, keyCol, m, k)
      .dropDuplicates("pos")
    // materialize OUT of the memory sink: the probe joins the bit set
    // twice (probe-positions left-join + presence join) and MemoryPlan
    // views fail Catalyst's conflicting-reference dedup under self-join
    Frames.materialize(drain(spark, stream, queryName, OutputMode.Append))
    }

  /** ROTATED streaming Bloom filters — the production answer to "a
    * fixed filter saturates on an unbounded stream" ([[
    * streamingBloomBits]]'s documented caveat, now code): every event's
    * k bit positions are tagged with its event-time WINDOW (daily
    * here), one streaming `dropDuplicates(win, pos)` holds the per-
    * window bit sets, and the watermark on `win` lets Spark EVICT
    * closed windows' state — so live state is bounded by m·(windows
    * inside the watermark), not by stream length OR key cardinality
    * growth. Per-window filters OR (union) into any coarser horizon on
    * demand. A fixed per-window m is sound precisely BECAUSE rotation
    * bounds each window's key count — the global auto-sizing rule
    * applies to the horizon, not the window. Returns (day, n_bits) —
    * per-window set-bit counts, deterministic (set-ness is order-
    * insensitive), so a batch per-day distinct replay gates the run.
    *
    * Late-data contract (r17 ADVICE): eviction is a real TRADE — once
    * the watermark passes a window, that window's late bits are
    * DROPPED, so "equals the batch distinct replay" is guaranteed only
    * when ingestion is event-time-ordered across microbatches (or, as
    * on the gate, AvailableNow with no maxFilesPerTrigger processes
    * everything in ONE batch, so the watermark never advances mid-run).
    * A multi-drop production feed with out-of-order days must either
    * drop files in event-time order or widen the watermark to its
    * actual disorder horizon; bits already evicted are gone by design —
    * that IS the state bound.
    */
  def streamingBloomRotated(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", keyCol: String = "user_id",
      m: Long = 4096L, k: Int = 5,
      queryName: String = "q_stream_bloom_rotate"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = raw
      .withColumn("win", date_trunc("day", col("ts")))
      .withWatermark("win", "1 day")
      .select(col("win"),
        explode(graft.pipeline.Sketches.bloomPositions(
          col(keyCol), m, k)).as("pos"))
      .dropDuplicates("win", "pos")
    drain(spark, stream, queryName, OutputMode.Append)
      .groupBy(date_format(col("win"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast(LongType).as("n_bits"))
      .orderBy("day")
    }

  /** Count-min sketch ON THE STREAM — the frequency sketch's streaming
    * twin, completing the set (HLL, quantile, Bloom, CMS each have
    * one): the row-local d-cell projection
    * ([[graft.pipeline.Sketches.cmsCells]]) runs per arriving event
    * and ONE complete-mode count holds the live d×w counter table as
    * its state — bounded FOREVER; counts are order-insensitive, so the
    * drained table equals the batch sketch cell-for-cell and the batch
    * q_cms oracle gates the streamed run. Returns (r, bucket, cnt).
    */
  def streamingCms(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", keyCol: String = "user_id",
      d: Int = 4, w: Int = 256,
      queryName: String = "q_stream_cms"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = graft.pipeline.Sketches.cmsCells(raw, keyCol, d, w)
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))
    // materialize OUT of the memory sink: the estimate probe left-joins
    // the counter table, which a MemoryPlan view can't serve reliably
    Frames.materialize(drain(spark, stream, queryName, OutputMode.Complete))
    }

  /** Chi-square source drift ON THE STREAM —
    * [[graft.pipeline.TextOps.sourceDrift]]'s incremental twin, the
    * live "did this crawl slice shift the mixture" monitor: ONE
    * streaming (source, category) count in complete mode is the whole
    * state (≤ |sources × categories| rows forever — grid-sized, never
    * corpus-sized), drained into the SAME χ² cell assembly as the
    * batch operator, so counts being order-insensitive makes the
    * result equal batch exactly and the batch q_drift oracle gates
    * the streamed run verbatim.
    */
  def streamingSourceDrift(spark: SparkSession, docsDir: String,
      glob: String = "documents.parquet",
      queryName: String = "q_stream_drift"): DataFrame =
    withStreamParts(spark, docsDir, glob) { spark =>
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = rawFileStream(spark, docsDir, glob, schema)
    val stream = docs
      .groupBy(col("source").as("src"), col("lang").as("cat"))
      .agg(count(lit(1)).cast(LongType).as("o"))
    graft.pipeline.TextOps.sourceDriftFromCounts(
      Frames.materialize(drain(spark, stream, queryName, OutputMode.Complete)))
    }

  /** Cohort retention ON THE STREAM: the retention matrix's sufficient
    * state is just the distinct (user, day) activity set — a row-local
    * projection per arriving event + ONE streaming
    * `dropDuplicates(user_id, day)` in append mode (a row emits exactly
    * when a user's first event of a day arrives). The drained sink
    * feeds the SAME cohort/cells assembly as the batch operator
    * ([[graft.operators.Olap.retention]] semantics), and set-ness is
    * order-insensitive, so the result equals the batch matrix exactly
    * and the batch oracle gates the streamed run. State is bounded by
    * |users|·|observed days| — the matrix's own input size; on a
    * truly unbounded stream you watermark `day` and age cohorts out.
    */
  def streamingRetention(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", eventType: String = "purchase",
      epochDay: String = "2024-01-01",
      queryName: String = "q_stream_retention"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = raw.filter(col("event_type") === eventType)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit(epochDay).cast("date"))
          .cast(LongType).as("day"))
      .dropDuplicates("user_id", "day")
    // materialized: the cohort assembly self-joins the activity set
    // (cohort min + cells + sizes), which a MemoryPlan view can't serve
    val act = Frames.materialize(drain(spark, stream, queryName, OutputMode.Append))
    val cohort = act.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy("cohort_day")
      .agg(count(lit(1)).cast(LongType).as("cohort_size"))
    val cells = act.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).cast(LongType).as("n_active"))
    cells.join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("offset_days"), col("cohort_size"),
        col("n_active"),
        expr("CAST((1000 * n_active) DIV cohort_size AS BIGINT)").as("permille"))
      .orderBy("cohort_day", "offset_days")
    }

  /** Integer-3σ anomaly counts ON THE STREAM: the detector's sufficient
    * statistics (n, Σx, Σx² in exact DECIMAL) accumulate as ONE
    * complete-mode streaming aggregation — one state row per group
    * FOREVER, and decimal sums are exact and order-insensitive, so the
    * drained stats equal the batch pass bit-for-bit. The flagging scan
    * then runs batch-side against the stored events with the drained
    * stats broadcast — the lambda-architecture shape: cheap always-on
    * stats on the stream, point-in-time flagging on demand — and the
    * batch q_anomaly oracle gates the whole thing.
    */
  def streamingAnomaly(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      queryName: String = "q_stream_anomaly"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val raw = eventsRawStream(spark, eventsDir, glob)
    val stream = raw
      .select(col("event_type"),
        round(col("value") * lit(1000)).cast(LongType).as("vm"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("vm").cast(d38)).cast(d38).as("s1"),
        sum((col("vm").cast(d38) * col("vm").cast(d38)).cast(d38)).cast(d38)
          .as("s2"))
    val st = Frames.materialize(drain(spark, stream, queryName, OutputMode.Complete))
    val ev = graft.graph.GraphLoader.table(spark, eventsDir, "events")
    val v = ev.select(col("event_type"), col("event_id"),
      round(col("value") * lit(1000)).cast(LongType).as("vm"))
    val lhs = (col("n").cast(d38) * col("vm").cast(d38) - col("s1")).cast(d38)
    val rhs = (col("n").cast(d38) * col("s2") - col("s1") * col("s1")).cast(d38)
    v.join(broadcast(st), Seq("event_type"))
      .withColumn("is_out",
        when((lhs * lhs).cast(d38) > (lit(9).cast(d38) * rhs).cast(d38), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        sum(col("is_out")).cast(LongType).as("n_outliers"),
        min(when(col("is_out") === 1L, col("event_id"))).cast(LongType)
          .as("first_outlier_id"))
      .orderBy("event_type")
    }

  /** Quantile sketch ON THE STREAM — [[streamingHll]]'s sibling for the
    * 4th sketch: the row-local log2-bucket projection
    * ([[graft.pipeline.Sketches.qhistCells]]) runs per arriving event
    * and ONE streaming `groupBy(grp, bucket).count()` holds the live
    * histogram as its complete-mode state — ≤ 64 rows per group
    * FOREVER (exact streaming quantile state grows with value
    * cardinality; this never does). Count is order-insensitive, so the
    * drained histogram equals the batch sketch exactly and the batch
    * oracle gates the streamed run. Returns (grp, bucket, cnt); feed
    * [[graft.pipeline.Sketches.qsketchFromHist]] for quantiles.
    */
  def streamingQuantileHist(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet",
      queryName: String = "q_stream_qsketch"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val vals = raw.select(col("event_type").as("g"),
      floor(col("value")).cast("long").as("v"))
    val stream = graft.pipeline.Sketches.qhistCells(vals, "v", "g")
      .groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    // materialize OUT of the memory sink: qsketchFromHist self-joins the
    // histogram (union with its own '__all__' rollup), and a MemoryPlan
    // view fails Catalyst's conflicting-reference dedup under that shape
    Frames.materialize(drain(spark, stream, queryName, OutputMode.Complete))
    }

  /** Rank-and-slice view over a drained (event_type, user_id, cnt)
    * state table — deterministic ties on user_id. */
  def topKSlice(counts: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("cnt").desc, col("user_id"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("event_type"), col("user_id"),
        col("cnt").cast("long").as("cnt"), col("rank"))
      .orderBy("event_type", "rank")
  }

  /** Streaming MinHash NEAR-duplicate detection over a document stream —
    * the incremental-corpus-ingest twin of
    * [[graft.pipeline.Dedup.minhashLsh]]: every arriving document's
    * MinHash band keys are computed ROW-LOCALLY on the stream (sig_i =
    * min over shingle hashes of xxhash64(h, i) — the same values the
    * batch groupBy-min produces, but stateless), and ONE streaming
    * aggregation accumulates the docs seen per (band, bucket). After the
    * drain, colliding buckets become candidate pairs, verified by EXACT
    * Jaccard over the shingle-hash sets, and each document is flagged
    * against its lowest-id match — an order-independent "is this a
    * near-duplicate of an earlier document" verdict, so the result
    * equals the batch answer and one DuckDB oracle gates both.
    *
    * State contract, 100 TB framing: the gate variant drains the
    * bucket aggregation in Complete mode over a bounded fixture. The
    * production continuous-ingest shape is [[nearDupCandidateStream]]:
    * flatMapGroupsWithState keyed by (band, bucket), state = the
    * bucket's doc-id set, emitting only the NEW candidate pairs each
    * micro-batch (append mode) — same total state as batch banding
    * (one entry per doc per band, the irreducible LSH index), but
    * incremental emission so downstream exact-verify work is
    * per-batch-sized. The row-local signature kernel is what makes
    * either variant possible: no per-doc aggregation ever shuffles the
    * stream.
    */
  def streamingNearDup(spark: SparkSession, docsDir: String,
      glob: String = "documents.parquet", k: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 8, threshold: Double = 0.8,
      queryName: String = "q_stream_neardup"): DataFrame =
    withStreamParts(spark, docsDir, glob) { spark =>
    graft.functions.VectorExprs.register(spark)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val numHashes = bands * rowsPerBand
    val docs = rawFileStream(spark, docsDir, glob, schema)
    // Row-local native signature kernel (one JIT loop; the HOF
    // formulation measured 43s at sf0.1 — numHashes × shingles
    // interpreted lambda calls per row). The Fence between the sig
    // projection and the band lambdas stops CollapseProject from
    // inlining the kernel into every per-band slice (16 re-evals/row —
    // the same pushdown hazard the repetition kernel hit).
    val withSig = graft.util.Fence(docs
      // >= k tokens ⟺ at least one shingle (checked WITHOUT building
      // shingles, so the kernel below stays the only shingle pass)
      .filter(size(graft.pipeline.TextOps.tokens(col("text"))) >= k)
      .select(col("doc_id"), graft.functions.VectorExprs.minhashSig(
        graft.pipeline.Dedup.shingleHashes(col("text"), k),
        lit(numHashes)).as("sig")))
    val stream = withSig
      .select(col("doc_id"),
        posexplode(graft.pipeline.Dedup.bandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(collect_set(col("doc_id")).as("docs"))
    val candidates = drain(spark, stream, queryName, OutputMode.Complete)
      .filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("id_a"), col("docs"))
      .select(col("id_a"), explode(col("docs")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val batch = spark.read.parquet(s"$docsDir/$glob")
    val batchSh = batch
      .select(col("doc_id"),
        graft.pipeline.Dedup.shingleHashes(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val verified = graft.pipeline.Dedup
      .verifyJaccardHashes(candidates, batchSh, threshold, "doc_id")
    val flags = verified.groupBy(col("id_b").as("doc_id"))
      .agg(min("id_a").as("fm"))
    batch.select("doc_id").join(flags, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("fm").isNotNull.as("is_dup"),
        coalesce(col("fm"), lit(-1L)).as("first_match"))
      .orderBy("doc_id")
    }

  final case class BandRow(doc_id: Long, band: Int, bucket: Long)
  final case class CandPair(id_a: Long, id_b: Long)

  /** Production continuous-ingest candidate generator for streaming
    * near-dup ([[streamingNearDup]]'s state contract): keyed by
    * (band, bucket), state = the doc ids seen in the bucket, each
    * micro-batch emits exactly the candidate pairs with at least one
    * NEW endpoint (append mode, no timeout — an LSH index does not
    * expire; bound it with a watermark-keyed variant when the dedup
    * horizon is bounded). Candidates over any prefix of the stream
    * equal batch banding over the same docs, so the downstream
    * exact-Jaccard verify gives the same verdicts — but the verify is
    * fed per-batch-sized increments instead of a full-corpus join.
    */
  def nearDupCandidateStream(rows: Dataset[BandRow]): Dataset[CandPair] = {
    val spark = rows.sparkSession
    import spark.implicits._
    def update(key: (Int, Long), it: Iterator[BandRow],
        state: GroupState[Seq[Long]]): Iterator[CandPair] = {
      val seen = state.getOption.getOrElse(Seq.empty)
      val seenSet = seen.toSet
      val fresh = it.map(_.doc_id).toSeq.distinct.filterNot(seenSet).sorted
      if (fresh.isEmpty) return Iterator.empty
      state.update(seen ++ fresh)
      val out = Seq.newBuilder[CandPair]
      // new × old
      for (n <- fresh; o <- seen)
        out += (if (n < o) CandPair(n, o) else CandPair(o, n))
      // new × new (fresh is sorted ascending)
      var i = 0
      while (i < fresh.length) {
        var j = i + 1
        while (j < fresh.length) { out += CandPair(fresh(i), fresh(j)); j += 1 }
        i += 1
      }
      out.result().iterator
    }
    rows.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Sessionization executed THROUGH Structured Streaming, built-in
    * `session_window` flavor: file-stream ingest (availableNow) →
    * session-window aggregation → complete-mode memory sink, drained
    * fully so the result equals [[sessionizeBatch]] and the same DuckDB
    * oracle gates both. (The custom-state flavor, [[sessionizeStream]],
    * stays append-mode + timeout and is spec'd with MemoryStream.)
    *
    * Boundary parity: the batch twin compares SECOND-TRUNCATED epochs
    * and merges on `diff <= gap`. Spark's session merge is ALSO
    * inclusive (an event starting exactly at the previous session's end
    * joins it — verified empirically on an 1801s-apart pair), so running
    * the window over `date_trunc('second', ts)` with the same gap makes
    * the grouping identical; the emitted bounds aggregate the raw µs
    * timestamps, so output values match the batch twin exactly.
    */
  def sessionizeWindowStreamed(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", gapMinutes: Int = 30,
      queryName: String = "q_stream_sessionize"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val raw = eventsRawStream(spark, eventsDir, glob)
    val ev = raw  // ts already normalized by eventsRawStream
      .withColumn("tss", date_trunc("second", col("ts")))
    val stream = ev
      .groupBy(session_window(col("tss"), s"${gapMinutes * 60} seconds"),
        col("user_id"))
      .agg(min("ts").as("min_ts"), max("ts").as("max_ts"),
        count(lit(1)).as("n_events"), sum("value").as("total_value"))
    drain(spark, stream, queryName, OutputMode.Complete).select(
      col("user_id"),
      unix_micros(col("min_ts")).as("session_start"),
      unix_micros(col("max_ts")).as("session_end"),
      col("n_events"),
      col("total_value"))
    }

  /** End-to-end streaming-graph-update cycle for the correctness gate:
    * file-stream ingest of the events parquet (availableNow) →
    * [[streamingEdgeAppend]] foreachBatch writes of TRIGGERED edges →
    * read the appended edge frame back. Edge and checkpoint dirs are
    * wiped first so every invocation replays the full bounded input
    * (append mode + a surviving checkpoint would otherwise skip it).
    */
  def edgeAppendRun(spark: SparkSession, eventsDir: String,
      edgeDir: String, checkpointDir: String,
      glob: String = "events.parquet"): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq(edgeDir, checkpointDir).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    val ev = eventsRawStream(spark, eventsDir, glob)
    streamingEdgeAppend(ev, edgeDir, checkpointDir).awaitTermination()
    spark.read.parquet(edgeDir)
  }

  /** Micro-batch streaming graph updates: append each batch's
    * (user)-[:TRIGGERED]->(event) edges to a parquet edge dir that
    * [[graft.graph.PropertyGraph]] snapshot loading can pick up
    * (foreachBatch — exactly-once per epoch with checkpointing).
    */
  private val rawDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Train/val/test split assignment executed THROUGH Structured
    * Streaming: file-stream ingest of the documents parquet
    * (availableNow) → the same scan-side md5-permille assignment as
    * [[graft.pipeline.TextOps.hashSplit]] → append-mode memory sink,
    * drained fully. Because the assignment is a pure per-row hash (no
    * state, no watermark), a document ingested in ANY micro-batch, in
    * any order, on any engine lands in the same split — which is the
    * entire point of hash-splitting a continuously-ingested corpus.
    * The q_split batch oracle gates this twin unchanged.
    */
  def streamingSplit(spark: SparkSession, docsDir: String,
      glob: String = "documents.parquet",
      testPermille: Int = 80, valPermille: Int = 100,
      queryName: String = "q_stream_split"): DataFrame = {
    val raw = rawFileStream(spark, docsDir, glob, rawDocSchema)
    val stream = graft.pipeline.TextOps
      .hashSplit(raw, testPermille, valPermille)
      .select("doc_id", "split")
    drain(spark, stream, queryName, OutputMode.Append).orderBy("doc_id")
  }

  /** STREAM-STATIC enrichment join: file-stream ingest of events
    * (availableNow) → broadcast inner join to a static dimension frame →
    * append-mode memory sink. The canonical ingest-enrichment shape: the
    * dimension is bounded (customers × nations), so Spark re-plans it as
    * a broadcast hash join inside every micro-batch — NO streaming
    * state, no watermark, no shuffle of the stream side; each batch is
    * embarrassingly parallel at any stream volume. Stateless per-row
    * semantics make the drained output equal to the batch join, so the
    * batch oracle gates it directly.
    */
  def enrichStreamed(spark: SparkSession, eventsDir: String, dim: DataFrame,
      dimKey: String, glob: String = "events.parquet",
      queryName: String = "q_stream_enrich"): DataFrame = {
    val ev = eventsRawStream(spark, eventsDir, glob)
    val joined = ev.join(broadcast(dim), col("user_id") === col(dimKey))
      .drop(dimKey)
    drain(spark, joined, queryName, OutputMode.Append).orderBy("event_id")
  }

  /** Watermarked STREAM-STREAM interval join — the remaining core
    * Structured Streaming primitive: every non-error event inner-joins
    * the same user's error events from the preceding `windowMinutes`.
    * Both sides carry a watermark and the join condition bounds each
    * side's event time relative to the other, which is exactly what lets
    * Spark EVICT join state at the watermark — per-key state is bounded
    * by the interval width, not the stream length (the 100 TB contract
    * for stream-stream joins). Inner join + bounded input (availableNow)
    * makes the drained output deterministic, so the batch interval-join
    * oracle gates it directly.
    */
  def intervalJoinStreamed(spark: SparkSession, eventsDir: String,
      glob: String = "events.parquet", windowMinutes: Int = 30,
      queryName: String = "q_stream_join"): DataFrame =
    withStreamParts(spark, eventsDir, glob) { spark =>
    val wm = s"$windowMinutes minutes"
    val left = eventsRawStream(spark, eventsDir, glob)
      .filter(col("event_type") =!= "error")
      .select(col("event_id"), col("user_id").as("l_uid"), col("ts").as("lts"))
      .withWatermark("lts", wm)
    val right = eventsRawStream(spark, eventsDir, glob)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("r_uid"), col("ts").as("rts"))
      .withWatermark("rts", wm)
    val joined = left.join(right,
      col("l_uid") === col("r_uid") &&
        col("rts") <= col("lts") &&
        col("rts") >= col("lts") - expr(s"INTERVAL $windowMinutes MINUTES"))
    val stream = joined
      .select(col("event_id"), col("l_uid").as("user_id"),
        unix_micros(col("lts")).as("t_us"), unix_micros(col("rts")).as("err_us"))
    drain(spark, stream, queryName, OutputMode.Append).orderBy("event_id", "err_us")
    }

  def streamingEdgeAppend(events: DataFrame, edgeDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(
          col("user_id").as(graft.graph.PropertyGraph.SRC),
          col("event_id").as(graft.graph.PropertyGraph.DST),
          col("ts"), col("event_type"),
          xxhash64(lit("TRIGGERED"), col("user_id"), col("event_id")).as(
            graft.graph.PropertyGraph.EID))
          .write.mode("append").parquet(edgeDir)
        ()
      }
      .start()
}
