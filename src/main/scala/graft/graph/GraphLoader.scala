package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import graft.util.Frames

/** Builds the test-corpus property graph from the TPC-H-ish parquet star
  * schema (see /root/repo/SURVEY.md §3).
  *
  * Mirrors the reference benchmark's graph shape (User-TRIGGERED->Event,
  * Item RELATED_TO Item; reference: benchmark/src/queries.ts) over the
  * richer TPC-H entities. All table reads are lazy memoized thunks — a
  * query forces only the tables its pattern touches, and the built graph
  * is cached per (session, dir) so repeated queries share schema
  * inference and the persisted derived-edge frame.
  */
object GraphLoader {
  import PropertyGraph.{ID, SRC, DST, EID}

  /** `events.ts` is parquet INT64 TIMESTAMP(NANOS); Spark 4 only reads it
    * with spark.sql.legacy.parquet.nanosAsLong=true (else
    * PARQUET_TYPE_ILLEGAL at schema inference). Callers building sessions
    * must set it; this re-asserts it for ad-hoc sessions.
    */
  def lenient(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    lenient(spark).read.parquet(s"$dir/$name.parquet")

  /** events with `ts` normalized to TimestampType (µs precision) across
    * every physical layout the corpus has shipped in: INT64
    * TIMESTAMP(NANOS) surfaced as long under nanosAsLong (pre-r12
    * testdata), TIMESTAMP_NTZ micros (r12 testdata — cast under the UTC
    * session, so wall time = instant), or a plain TIMESTAMP (Spark-written
    * rehearsal data). Callers never see the physical unit.
    */
  def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.withColumn("ts", normalizeTs(raw.schema("ts").dataType, "ts"))
  }

  /** The layout-aware ts conversion, shared with the streaming readers.
    * Takes the column NAME because the nanos branch needs `div` (integer
    * division) — Column./(Long) is DOUBLE division, whose 53-bit mantissa
    * rounds epoch-micros up by 1µs for 2024-era nanos.
    */
  def normalizeTs(physical: org.apache.spark.sql.types.DataType,
      name: String): Column = physical.typeName match {
    case "long" | "bigint"  => timestamp_micros(expr(s"$name div 1000"))
    case "timestamp_ntz"    => col(name).cast("timestamp")
    case _                  => col(name)
  }

  /** Derived Part->Part co-occurrence edges: two parts appearing in the
    * same order, directed by key order (acyclic by construction — keeps
    * var-length traversals finite and mirrors the reference benchmark's
    * RELATED_TO). Snapshotted to parquet on first derivation per corpus
    * and derivation signature ([[derivedSnapshot]]) and memory-cached per
    * session: a derived shuffle-heavy frame must compute once per CORPUS,
    * not once per session — and the parquet form makes fresh-session
    * catalog counts footer-bound.
    *
    * Scale note: per-order pair blowup is quadratic in order size; TPC-H
    * orders are ≤7 lines, and real deployments should cap per-group size
    * before pairing (enforced via maxPerGroup).
    */
  def relatedToEdges(li: DataFrame, maxPerGroup: Int = 50): DataFrame = {
    val pairs = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val capped = pairs
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("ok").orderBy("pk")))
      .filter(col("__rn") <= maxPerGroup)
      .drop("__rn")
    val a = capped.select(col("ok"), col("pk").as("p1"))
    val b = capped.select(col("ok").as("ok2"), col("pk").as("p2"))
    a.join(b, col("ok") === col("ok2") && col("p1") < col("p2"))
      .select(col("p1").as(SRC), col("p2").as(DST)).distinct()
      .withColumn(EID, xxhash64(lit("RELATED_TO"), col(SRC), col(DST)))
  }

  private val cache = TrieMap.empty[(SparkSession, String), PropertyGraph]
  private val derivedWriteLock = new Object

  /** Content of a source table's files (names + sizes + mtimes) — part
    * of the derived-frame snapshot key so a changed corpus can never
    * serve a stale derivation.
    */
  private def sourceFiles(spark: SparkSession, dir: String, table: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.getFileStatus(p) match {
      case s if s.isDirectory => fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
      case s => Seq(s)
    }
    parts.map(s => s"${s.getPath.getName}|${s.getLen}|${s.getModificationTime}")
  }

  /** Identity of a derivation — keys the snapshot so a changed
    * derivation can never serve a stale one: its canonicalized analyzed
    * plan (canonicalization strips session-specific exprIds, and also
    * alias names, hence the output schema too).
    */
  private def derivationSignature(df: DataFrame): Seq[String] =
    Seq(df.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, maxFields = Int.MaxValue), df.schema.json)

  private def md5Hex(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Materializes a derived frame as a parquet snapshot under the
    * session warehouse dir (write-once per key, below), and reads
    * it back so the frame is a plain parquet relation.
    *
    * Why (r14 verdict item 5): the RELATED_TO derivation is a
    * window + self-join over lineitem, and every FRESH session paid it
    * before the first traversal — q_catalog's 9.9x at 10x was exactly
    * this scan. The same applies (smaller) to every DISTINCT-built
    * frame: User nodes (distinct over events) and SUPPLIES edges
    * (distinct over lineitem). Snapshotted, a fresh session's catalog
    * row-counts the frame from parquet FOOTER metadata
    * ([[graft.sources.Tables.metadataRowCount]]) without any job, and
    * the first traversal scans two columns of pre-derived parquet
    * instead of re-deriving. At 100 TB this is the standard "derive
    * once, checkpoint to storage" pattern for expensive derived views.
    *
    * The key is `<name>_<corpus dir hash>_<signature>`, the signature
    * hashing the files of the `source` table and the derivation's own
    * identity ([[derivationSignature]]), so neither a changed source nor
    * a changed derivation can serve a stale snapshot. A new snapshot
    * supersedes its siblings — same name, same corpus dir — and the
    * write deletes them, so a long-lived warehouse keeps one snapshot
    * per name and corpus. Keying needs the derivation's analyzed plan,
    * which also fixes the snapshot's schema: the read-back takes it
    * instead of inferring it from a footer.
    */
  private[graph] def derivedSnapshot(spark: SparkSession, dir: String, name: String,
      source: String)(derive: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val df = derive
    val root = new Path(s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_derived")
    val family = s"${name}_${md5Hex(Seq(dir))}_"
    val path = s"$root/$family" +
      md5Hex(sourceFiles(spark, dir, source) ++ derivationSignature(df))
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    derivedWriteLock.synchronized {
      if (!fs.exists(new Path(path, "_SUCCESS"))) {
        df.write.mode("overwrite").parquet(path)
        fs.listStatus(root).map(_.getPath)
          .filter(s => s.getName.startsWith(family) && s.getName != p.getName)
          .foreach(fs.delete(_, true))
      }
    }
    spark.read.schema(df.schema).parquet(path)
  }

  /** Cached per (session, dir): repeated queries in one session reuse the
    * same lazy frames (one schema inference per table per session) and
    * the persisted RELATED_TO derivation.
    */
  def load(spark: SparkSession, dir: String): PropertyGraph =
    cache.getOrElseUpdate((spark, dir), build(lenient(spark), dir))

  /** Drops the memoized graphs for a session. Pair with
    * `cacheManager.clearCache()` when resetting session state (bench
    * isolation): after a global uncache the memoized RELATED_TO frame
    * would silently recompute per use, so force a rebuild instead.
    */
  def invalidate(spark: SparkSession): Unit =
    cache.keys.filter(_._1 eq spark).foreach(cache.remove)

  private def build(spark: SparkSession, dir: String): PropertyGraph = {
    // memoized raw-table thunks: one spark.read per table per graph
    val tableCache = TrieMap.empty[String, DataFrame]
    def t(name: String): DataFrame = tableCache.getOrElseUpdate(name,
      if (name == "events") eventsTable(spark, dir) else table(spark, dir, name))

    def eid(relType: String, cols: Column*) =
      xxhash64((lit(relType) +: cols): _*)

    val nodes: Map[String, () => DataFrame] = Map(
      "Region" -> (() => t("region").withColumn(ID, col("r_regionkey").cast("long"))),
      "Nation" -> (() => t("nation").withColumn(ID, col("n_nationkey").cast("long"))),
      "Customer" -> (() => t("customer").withColumn(ID, col("c_custkey").cast("long"))),
      "Supplier" -> (() => t("supplier").withColumn(ID, col("s_suppkey").cast("long"))),
      "Part" -> (() => t("part").withColumn(ID, col("p_partkey").cast("long"))),
      "Order" -> (() => t("orders").withColumn(ID, col("o_orderkey").cast("long"))),
      "User" -> (() => derivedSnapshot(spark, dir, "user_nodes", "events")(
        t("events").select(col("user_id").cast("long").as(ID)).distinct()
          .withColumn("user_id", col(ID)))),
      "Event" -> (() => t("events").withColumn(ID, col("event_id").cast("long"))),
      "Document" -> (() => t("documents").withColumn(ID, col("doc_id").cast("long"))),
      "Embedding" -> (() => t("embeddings").withColumn(ID, col("vec_id").cast("long")))
    )

    val edges: Map[EdgeType, () => DataFrame] = Map(
      EdgeType("IN_REGION", "Nation", "Region") -> (() =>
        t("nation").select(col("n_nationkey").cast("long").as(SRC),
          col("n_regionkey").cast("long").as(DST))
          .withColumn(EID, eid("IN_REGION", col(SRC), col(DST)))),
      EdgeType("IN_NATION", "Customer", "Nation") -> (() =>
        t("customer").select(col("c_custkey").cast("long").as(SRC),
          col("c_nationkey").cast("long").as(DST))
          .withColumn(EID, eid("IN_NATION_C", col(SRC), col(DST)))),
      EdgeType("IN_NATION", "Supplier", "Nation") -> (() =>
        t("supplier").select(col("s_suppkey").cast("long").as(SRC),
          col("s_nationkey").cast("long").as(DST))
          .withColumn(EID, eid("IN_NATION_S", col(SRC), col(DST)))),
      EdgeType("PLACED", "Customer", "Order") -> (() =>
        t("orders").select(col("o_custkey").cast("long").as(SRC),
          col("o_orderkey").cast("long").as(DST), col("o_totalprice"),
          col("o_orderdate"), col("o_orderstatus"), col("o_orderpriority"))
          .withColumn(EID, eid("PLACED", col(SRC), col(DST)))),
      EdgeType("CONTAINS", "Order", "Part") -> (() =>
        t("lineitem").select(
          col("l_orderkey").cast("long").as(SRC),
          col("l_partkey").cast("long").as(DST),
          col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
          .withColumn(EID, eid("CONTAINS", col(SRC), col("l_linenumber")))),
      EdgeType("SUPPLIES", "Supplier", "Part") -> (() =>
        derivedSnapshot(spark, dir, "supplies", "lineitem")(
          t("lineitem").select(col("l_suppkey").cast("long").as(SRC),
            col("l_partkey").cast("long").as(DST)).distinct()
            .withColumn(EID, eid("SUPPLIES", col(SRC), col(DST))))),
      EdgeType("TRIGGERED", "User", "Event") -> (() =>
        t("events").select(col("user_id").cast("long").as(SRC),
          col("event_id").cast("long").as(DST), col("ts"), col("event_type"))
          .withColumn(EID, eid("TRIGGERED", col(SRC), col(DST)))),
      EdgeType("RELATED_TO", "Part", "Part") -> (() =>
        Frames.cache(derivedSnapshot(spark, dir, "related_to", "lineitem")(
          relatedToEdges(t("lineitem")))))
    )

    PropertyGraph.lazily(nodes, edges,
      smallLabels = Set("Region", "Nation", "Supplier"),
      smallTypes = Set("IN_REGION", "IN_NATION"))
  }
}
