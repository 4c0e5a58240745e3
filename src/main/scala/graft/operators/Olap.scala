package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.util.Frames

/** Relational OLAP surface the reference's dashboard queries lean on
  * (reference: benchmark/src/queries.ts aggregation tier + the
  * translator's GROUP BY lowering, translator.ts) — re-expressed as
  * plain Catalyst aggregations so cube/pivot/cohort shapes come out of
  * the same engine as the graph queries, with every gate surface kept
  * integer/decimal per SURVEY §2.6's cross-engine rule.
  *
  * Scale notes (100 TB): every operator here is one or two hash
  * aggregations with map-side partials — no windows over the full
  * corpus, no driver collects, no data-dependent fan-out. Cohort
  * retention's per-user reduction shrinks events to ≤ |users| rows
  * before the cells aggregation; rollup/pivot emit a bounded number of
  * groups (grouping-set multiplier × category cardinalities).
  */
object Olap {

  /** Day-granularity cohort retention over an event log — the classic
    * product-analytics matrix: users cohorted by their FIRST qualifying
    * event day, each later active day counted into (cohort_day,
    * offset_days), with cohort size and integer-permille retention.
    *
    * Two keyed aggregations: (user → first day, distinct active days)
    * then (cohort, offset → count). The events table never carries its
    * payload past the first projection; the user reduction is the only
    * user-keyed shuffle and the cells aggregation reuses its output
    * (≤ |users| × |days| rows — at 100 TB the matrix is still tiny
    * because offsets are bounded by the observation window).
    *
    * Permille is `(1000·n) DIV size` — integer division, exact in any
    * engine (SURVEY §2.6: no float aggregate on the hashed surface).
    */
  def retention(events: DataFrame, eventType: String,
      epochDay: String = "2024-01-01"): DataFrame = {
    val act = events.filter(col("event_type") === eventType)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit(epochDay).cast("date"))
          .cast(LongType).as("day"))
      .distinct()
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

  /** ROLLUP revenue summary — the grouping-sets member of the surface:
    * per (returnflag, linestatus), per returnflag, and grand total in
    * ONE pass (Catalyst expands the rollup inside a single hash
    * aggregate; no re-scan per level). Money goes on the wire as exact
    * integer cents (`round(price·100)` of the SAME parquet double is
    * deterministic in any engine; summing raw doubles would be
    * order-dependent), quantities as BIGINT.
    */
  def rollupSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(LongType).as("qty"),
        round(col("l_extendedprice") * lit(100)).cast(LongType).as("cents"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).cast(LongType).as("n_rows"),
        sum(col("qty")).cast(LongType).as("sum_qty"),
        sum(col("cents")).cast(LongType).as("sum_price_cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n_rows"), col("sum_qty"), col("sum_price_cents"))
      .orderBy("gid", "returnflag", "linestatus")

  /** Status × priority crosstab via the native `pivot` with an EXPLICIT
    * value list — the implicit form runs a distinct-values job first
    * and caps at spark.sql.pivotMaxValues; pinning the list keeps the
    * plan a single hash aggregate at any scale. Output columns renamed
    * to stable identifiers so the oracle's conditional-aggregation
    * replay matches by name.
    */
  def pivotCounts(orders: DataFrame): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val names = Seq("p_urgent", "p_high", "p_medium", "p_notspec", "p_low")
    val piv = orders.groupBy(col("o_orderstatus").as("status"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
    val renamed = prios.zip(names).foldLeft(piv) { case (df, (v, n)) =>
      df.withColumnRenamed(v, n)
    }
    renamed.select(col("status") +:
      names.map(n => coalesce(col(n), lit(0L)).cast(LongType).as(n)): _*)
      .withColumn("total", names.map(col).reduce(_ + _))
      .orderBy("status")
  }

  /** Rolling active users — DAU + trailing-window WAU per day, the
    * dashboard pair next to [[cohortRetention]]: distinct users per
    * day, and distinct users over the trailing `windowDays` days.
    * Days are INTEGER offsets from 2024-01-01 (the cohortRetention
    * idiom — no date values on the hashed surface). The event log
    * reduces to distinct (user, day) FIRST (pair-keyed — a hot day
    * spreads on the pair hash), so the trailing-window join fans out
    * |users·days| × windowDays at most, with the ≤|days|-row day list
    * broadcast; counts after the reduction are plain `count(*)` per
    * day (already distinct), never a countDistinct over raw events.
    * Returns (day, dau, wau) ascending.
    */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame =
    activeUsersFromPairs(
      events.select(
        datediff(to_date(col("ts")), lit("2024-01-01")).cast(LongType).as("uday"),
        col("user_id"))
        .distinct(),
      windowDays)

  /** The DAU/WAU rollup over an ALREADY-DISTINCT (uday, user_id) pair
    * frame — shared by the batch operator and the streaming twin
    * (whose stateful dedup produces exactly this frame when drained).
    */
  private[graft] def activeUsersFromPairs(ud: DataFrame,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1)
    val days = ud.select(col("uday").as("day")).distinct()
    val dau = ud.groupBy(col("uday").as("day"))
      .agg(count(lit(1)).cast(LongType).as("dau"))
    val wau = ud.join(broadcast(days),
        col("uday") <= col("day") &&
          col("uday") >= col("day") - lit(windowDays.toLong - 1L))
      .select(col("day"), col("user_id")).distinct()
      .groupBy("day").agg(count(lit(1)).cast(LongType).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  /** Per-type inter-arrival statistics: consecutive gaps of each
    * (user, type) event sequence in epoch MICROS (integers end to end),
    * aggregated per type — n, sum, min, max, and the exact median.
    * The lag window partitions by (user_id, event_type): per-user
    * sequences are short, so the sort is many small runs, never a
    * corpus-wide order. Median uses `percentile` (exact, interpolated);
    * both halves of an even-count interpolation are ≤ 2^53 micros so
    * (a+b)/2 is exactly rounded and engine-portable.
    */
  def interArrival(events: DataFrame): DataFrame = {
    // ordered by (us, event_id): unix_micros is monotone in ts, so the
    // lag sequence (and the oracle's ORDER BY ts, event_id) is identical
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("us", "event_id")
    events
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).as("delta"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("delta")).cast(LongType).as("sum_us"),
        min(col("delta")).cast(LongType).as("min_us"),
        max(col("delta")).cast(LongType).as("max_us"),
        round(expr("percentile(delta, 0.5)"), 1).as("median_us"))
      .orderBy("event_type")
  }

  /** Piecewise aggregate approximation (Keogh & Pazzani 2001) — the
    * time-series downsampling primitive: each user's 30-day value
    * series reduced to fixed 8-day segments with integer mean
    * (`sum DIV n`). ONE hash aggregation on (user, segment) — the
    * representation you compute once at corpus scale so similarity
    * search runs over 4-segment sketches instead of raw series.
    */
  def paa(events: DataFrame, segmentDays: Int = 8,
      epochDay: String = "2024-01-01"): DataFrame =
    events
      .select(col("user_id"),
        expr(s"CAST(datediff(CAST(ts AS DATE), DATE '$epochDay') AS BIGINT) DIV $segmentDays")
          .as("segment"),
        round(col("value") * lit(1000)).cast(LongType).as("vm"))
      .groupBy("user_id", "segment")
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("vm")).cast(LongType).as("sum_vm"))
      .withColumn("paa_milli", expr("CAST(sum_vm DIV n AS BIGINT)"))
      .orderBy("user_id", "segment")

  /** 2D skyline (Pareto frontier; Börzsönyi et al. 2001): the points
    * not dominated on (minimize x, maximize y) — here cheapest-price /
    * highest-quantity line items. Spark-first shape: dominance in 2D
    * collapses to a sort + running max, NOT the quadratic NOT-EXISTS
    * self-join — first reduce to max(y) per distinct x (one hash
    * aggregation, the only data-sized pass), then one running-max
    * window over the AGGREGATED frame keeps x whose y beats every
    * cheaper x. The window's global order runs over |distinct x| rows,
    * not corpus rows; at extreme x-cardinality, pre-filter with
    * per-partition local skylines (dominated points stay dominated).
    * All-integer surface (cents, quantity).
    */
  def skyline(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = lineitem
      .select(round(col("l_extendedprice") * lit(100)).cast(LongType)
          .as("price_cents"),
        col("l_quantity").cast(LongType).as("qty"))
      .groupBy("price_cents").agg(max(col("qty")).as("qty"))
    // per-partition local-skyline pre-filter: range-partition by price so
    // each task holds a contiguous price slice, drop points dominated
    // WITHIN their slice (dominated points stay dominated globally, and
    // each slice's running max is always attained by a survivor, so the
    // global running max over survivors equals the one over all points).
    // The global window below then orders ≤ (frontier-per-partition)
    // rows, not |distinct price| — safe on continuous-valued columns.
    val parts = lineitem.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val local = agg.repartitionByRange(parts, col("price_cents"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lmax", max(col("qty")).over(
        Window.partitionBy("_pid").orderBy("price_cents")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("_lmax").isNull || col("qty") > col("_lmax"))
      .select("price_cents", "qty")
    val w = Window.orderBy("price_cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    local
      .withColumn("prevmax", max(col("qty")).over(w))
      .filter(col("prevmax").isNull || col("qty") > col("prevmax"))
      .select(col("price_cents"), col("qty"))
      .orderBy("price_cents")
  }

  /** Per-group decile bands — the NTILE ranking surface: documents cut
    * into 10 equal-count bands per language with a fully deterministic
    * order (value, id), then per-band count/min/max. Integer surface.
    *
    * NOT a grouped `ntile` window: that hash-exchanges on the group key,
    * so at corpus scale the dominant language (realistically half the
    * corpus) sorts inside ONE task — the single-partition-window shape
    * this repo engineered around everywhere else. Instead the per-group
    * rank and group size come from [[graft.pipeline.Skew.prefixScan]]
    * and the tile from [[graft.pipeline.Skew.ntile]] — SQL NTILE's exact
    * integer arithmetic, identical values to `ntile(10) OVER (PARTITION
    * BY lang ORDER BY n_chars, doc_id)`, which is what the oracle replays.
    */
  def decileBands(docs: DataFrame): DataFrame = {
    import graft.pipeline.Skew
    Skew.prefixScan(docs.select(col("lang"), col("doc_id"), col("n_chars")),
        Seq("lang"), Seq(col("n_chars"), col("doc_id")), lit(1L), "rnk")
      .withColumn("decile", Skew.ntile(10, col("rnk"), col("rnk_total")))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).cast(LongType).as("n"),
        min(col("n_chars")).cast(LongType).as("min_chars"),
        max(col("n_chars")).cast(LongType).as("max_chars"))
      .orderBy("lang", "decile")
  }

  /** Trailing moving aggregates per user sequence — the ROWS-frame
    * window surface (every other window here is an unbounded or lag
    * frame): 3-row trailing sum/count over each user's event sequence
    * in milli-units, with the moving average as integer division
    * (`(1000·sum) DIV n` — positive operands, so floor and truncate
    * agree on every engine). Partitioned by user: many short sorted
    * runs, one hash exchange, never a corpus-wide order.
    */
  def movingAggregates(events: DataFrame, frame: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-(frame - 1), 0)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * lit(1000)).cast(LongType).as("vm"))
      .withColumn("mov_sum3", sum(col("vm")).over(w).cast(LongType))
      .withColumn("mov_n", count(lit(1)).over(w).cast(LongType))
      .select(col("user_id"), col("event_id"), col("vm"),
        col("mov_sum3"), col("mov_n"),
        expr("CAST((1000 * mov_sum3) DIV mov_n AS BIGINT)").as("mov_avg_milli"))
      .orderBy("user_id", "event_id")
  }

  /** Frequent triple itemsets over order baskets (Agrawal & Srikant's
    * a-priori, 1994) — the market-basket tier above pair co-occurrence:
    * all (x < y < z) part triples bought together in ≥ minSupport
    * orders. The Spark shape (r18 rebuild — the r17 late-prune finding)
    * applies the a-priori property at EVERY level before the expansion
    * it licenses:
    *  - L1: baskets semi-join to frequent ITEMS before any pair is
    *    enumerated — a hot basket of 10⁵ singleton items contributes
    *    ZERO pairs instead of ~10¹⁰ (spec-pinned);
    *  - L2: the (ok, x, y) pair frame is built ONCE (checkpointed, so
    *    the suite's most expensive self-join no longer runs twice — the
    *    r17 ADVICE item), aggregated for pair support, then semi-joined
    *    through the frequent-pair set EXPLICITLY before the third-leg
    *    join — only (x, y)-frequent pairs ever fan out to a third item
    *    (the optimizer can push that first semi below the 3-way join
    *    only for (x, y); (x, z)/(y, z) structurally must stay above);
    *  - the remaining two sub-pair semis then cut candidates before the
    *    support aggregation.
    * The ORACLE is the definition itself (direct triple join + HAVING —
    * algorithm-independent, the q_skyline pattern): a-priori provably
    * drops nothing above threshold, and the gate proves the two
    * formulations equal. Returns (x, y, z, support) top-N by
    * (support DESC, x, y, z).
    */
  def frequentTriples(lineitem: DataFrame, minSupport: Long = 3,
      topN: Int = 50, item: Column = col("l_partkey")): DataFrame = {
    require(minSupport >= 1 && topN >= 1)
    val (b, fp, freq2) = frequentTriplesPairs(lineitem, minSupport, item)
    fp.as("p").join(b.as("c"),
        col("p.ok") === col("c.ok") && col("p.y") < col("c.pk"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("c.pk").as("z"))
      .join(freq2.select(col("x"), col("y").as("z")), Seq("x", "z"), "left_semi")
      .join(freq2.select(col("x").as("y"), col("y").as("z")), Seq("y", "z"), "left_semi")
      .groupBy("x", "y", "z")
      .agg(count(lit(1)).cast(LongType).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(desc("support"), col("x"), col("y"), col("z"))
      .limit(topN)
  }

  /** The pruned stages of [[frequentTriples]], exposed package-private so
    * the hot-basket spec can COUNT what survives each cut: (frequent-item
    * baskets (ok, pk), freq2-pruned pair rows (ok, x, y), frequent pairs
    * (x, y)). Both the basket frame and the raw pair frame are
    * checkpointed: `b` feeds three join legs and `pairRows` feeds both
    * the support aggregation and the expansion, so each computes once
    * (the checkpoint blocks live for the session — the prefixScan
    * contract for operators that return lazy frames).
    */
  private[graft] def frequentTriplesPairs(lineitem: DataFrame,
      minSupport: Long, item: Column): (DataFrame, DataFrame, DataFrame) = {
    val b0 = lineitem.select(col("l_orderkey").as("ok"),
      item.as("pk")).distinct()
    val freq1 = b0.groupBy("pk").agg(count(lit(1)).as("c1"))
      .filter(col("c1") >= minSupport).select("pk")
    val b = Frames.materialize(
      b0.join(freq1, Seq("pk"), "left_semi").select("ok", "pk"))
    val pairRows = Frames.materialize(
      b.as("a").join(b.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.ok").as("ok"), col("a.pk").as("x"),
          col("b.pk").as("y")))
    val freq2 = pairRows.groupBy("x", "y").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minSupport).select("x", "y")
    (b, pairRows.join(freq2, Seq("x", "y"), "left_semi"), freq2)
  }

  /** Exact integer-arithmetic 3σ outlier detection per group — the
    * anomaly-count member of the quality battery. The float-free trick:
    * flag x iff (n·x − Σx)² > 9·(n·Σx² − (Σx)²), the |x−μ| > 3σ test
    * cross-multiplied into DECIMAL(38,0) integer arithmetic, so there
    * is NO mean, NO variance, NO sqrt on any engine — a summation-order
    * -dependent float aggregate on the hashed surface is the exact bug
    * class that shipped q_perplexity red in r15 (SURVEY §2.6).
    * Values quantize to milli-units first (round(v·1000) of the same
    * parquet double — deterministic everywhere).
    *
    * One stats aggregation + one broadcast-joined scan: stats is one
    * row per group, so the flagging pass is map-side at any corpus
    * size. DECIMAL(38,0) holds the cross-multiplied products up to
    * n·Σx² < 10³⁸ — beyond that (≫ 10¹⁵ rows/group at these
    * magnitudes), pre-center per partition or drop to 128-bit sums.
    */
  def anomaly(events: DataFrame): DataFrame = {
    val d38 = DecimalType(38, 0)
    val v = events.select(col("event_type"), col("event_id"),
      round(col("value") * lit(1000)).cast(LongType).as("vm"))
    val st = v.groupBy("event_type").agg(
      count(lit(1)).cast(LongType).as("n"),
      sum(col("vm").cast(d38)).cast(d38).as("s1"),
      sum((col("vm").cast(d38) * col("vm").cast(d38)).cast(d38)).cast(d38).as("s2"))
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
}
