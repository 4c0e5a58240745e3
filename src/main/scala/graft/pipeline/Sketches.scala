package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Frames

/** Cardinality sketches for corpus-scale statistics.
  *
  * Spark's own `approx_count_distinct` is an HLL++ whose register
  * layout is engine-private: it can't be replayed by another engine,
  * persisted as data, or merged outside Spark. This is a from-scratch
  * HyperLogLog (Flajolet et al. 2007) whose ENTIRE state is a plain
  * `(group, bucket, register)` DataFrame:
  *
  *  - engine-portable: the hash is the md5-prefix-60 leaf
  *    ([[TextOps.md5Hash60]]) and every derivation is integer
  *    arithmetic, so a DuckDB oracle replays registers AND estimate
  *    bit-for-bit (`q_hll` hashes them);
  *  - mergeable: registers from disjoint shards/groups merge with a
  *    plain `groupBy(bucket).agg(max(register))` — the sketch can be
  *    computed per source/day/shard at scan time (one map-side-combined
  *    aggregation of m rows per group), stored as a tiny table, and
  *    rolled up later without touching the raw data — the property that
  *    matters at 100 TB, where re-scanning for every distinct-count is
  *    the thing sketches exist to avoid.
  *
  * Geometric variable: ρ = (trailing zeros of the 60−p suffix bits) + 1,
  * the Flajolet–Martin/PCSA convention — P(ρ=k) = 2^−k, identical in
  * law to HLL's leading-zero rank but expressible on ANY SQL engine as
  * `bit_count((v & -v) - 1) + 1` with no loops. The estimator keeps the
  * classic α_m·m²/Z form with Z carried as an EXACT integer:
  * Z = Σ 2^(−M_j) = (Σ 2^(C−M_j)) / 2^C with C = 61−p, so the hashed
  * surface has one double division total (transcendental-free, the
  * SURVEY §2.6 rule).
  */
object Sketches {

  /** Per-group HLL register table: (group, bucket, register), only
    * occupied buckets present (absent bucket = register 0). One
    * map-side-combined shuffle of ≤ m rows per group.
    */
  def hllRegisters(df: DataFrame, valueCol: String, groupCol: String,
      p: Int = 8): DataFrame =
    hllCells(df, valueCol, groupCol, p)
      .groupBy("grp", "bucket")
      .agg(max("rho").as("register"))

  /** The ROW-LOCAL half of [[hllRegisters]]: (grp, bucket, rho) per
    * input row, no aggregation — so the same projection runs on a
    * STREAM, where `groupBy(grp, bucket).max(rho)` becomes a streaming
    * aggregation whose complete-mode state IS the live register table
    * (bounded at m rows per group forever, the sketch contract).
    */
  def hllCells(df: DataFrame, valueCol: String, groupCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p in [4,16], got $p")
    val m = 1 << p
    val c = 60 - p + 1 // rho for an all-zero suffix
    val h = TextOps.md5Hash60(col(valueCol).cast(StringType))
    val rest = shiftright(h, p)
    val rho = when(rest === 0L, lit(c)).otherwise(
      call_function("bit_count", rest.bitwiseAND(negate(rest)) - 1) + 1)
    df.select(
      col(groupCol).as("grp"),
      h.bitwiseAND(lit((m - 1).toLong)).as("bucket"),
      rho.cast(IntegerType).as("rho"))
  }

  /** Merge register tables (max per bucket) under a new group label —
    * the shard/day/source rollup. */
  def hllMerge(regs: DataFrame, label: String): DataFrame =
    regs.groupBy(col("bucket"))
      .agg(max(col("register")).as("register"))
      .select(lit(label).as("grp"), col("bucket"), col("register"))

  /** One summary row per group from a register table: occupancy stats,
    * the exact integer Z numerator, and the α_m·m²/Z estimate (3 dp,
    * one double division — replayable). `p` must match the table.
    *
    * PRECONDITION (documented, not corrected): this is the RAW HLL
    * estimator with NO small-range (linear-counting) branch — groups
    * whose true cardinality is well below m are biased high. The classic
    * correction (n_zero > 0 → m·ln(m/n_zero)) is a transcendental the
    * hashed cross-engine surface bans (SURVEY §2.6), so callers that
    * need accuracy below ~2.5·m should either raise p until n ≫ m per
    * group, or read n_zero from this surface and apply the log branch
    * OUTSIDE the pinned columns. The q_hll gate corpus satisfies n ≫ m.
    */
  def hllEstimate(regs: DataFrame, p: Int = 8): DataFrame = {
    val m = 1 << p
    val c = 60 - p + 1
    // alpha_m * m^2 * 2^C; the only inexact step is 0.7213/(1+1.079/m)
    // (the /m and *2^k factors are exact IEEE scalings)
    val k = 0.7213 / (1.0 + 1.079 / m.toDouble) * m.toDouble * m.toDouble *
      java.lang.Math.scalb(1.0, c)
    val g = regs.groupBy("grp").agg(
      count(lit(1)).as("n_present"),
      sum(col("register").cast(LongType)).cast(LongType).as("sum_reg"),
      sum(call_function("shiftleft", lit(1L), lit(c) - col("register")))
        .cast(LongType).as("z_present"))
    g.select(
      col("grp"),
      lit(m.toLong).as("m"),
      (lit(m.toLong) - col("n_present")).cast(LongType).as("n_zero"),
      col("sum_reg"),
      (col("z_present") +
        (lit(m.toLong) - col("n_present")) * lit(1L << c)).as("z_num"))
      .withColumn("est",
        round(lit(k) / col("z_num").cast(DoubleType), 3))
  }

  // ---- count-min sketch (q_cms) ----

  /** Count-min sketch table (Cormode & Muthukrishnan 2005): d rows × w
    * counters as a plain (r, bucket, cnt) DataFrame — ≤ d·w rows total
    * regardless of input size. One pass: each input key explodes to its
    * d (row, bucket) cells and ONE map-side-combined aggregation sums
    * them (per-partition partial state is capped at d·w cells, so the
    * shuffle carries sketch-sized — not data-sized — rows). Integer
    * counts end to end; mergeable across shards/days by summing cell-
    * wise, the same store-tiny-merge-later contract as [[hllRegisters]].
    * Point estimate = min over the d cells — never an underestimate.
    */
  def cmsSketch(df: DataFrame, keyCol: String, d: Int = 4,
      w: Int = 256): DataFrame =
    cmsCells(df, keyCol, d, w)
      .groupBy("r", "bucket")
      .agg(count(lit(1)).cast(LongType).as("cnt"))

  /** Row-local CMS cell projection — d (r, bucket) rows per key, BEFORE
    * the count aggregation. The streaming twin runs this per arriving
    * row and lets one complete-mode count hold the live counter table
    * ([[graft.streaming.EventStreams.streamingCms]]); the batch
    * [[cmsSketch]] is this + a batch count.
    */
  def cmsCells(df: DataFrame, keyCol: String, d: Int = 4,
      w: Int = 256): DataFrame = {
    require(d >= 1 && d <= 16 && (w & (w - 1)) == 0, s"d in [1,16], w a power of 2")
    val cells = array((0 until d).map { r =>
      TextOps.md5Hash60(concat(lit(s"cms$r:"), col(keyCol).cast(StringType)))
        .bitwiseAND(lit((w - 1).toLong))
    }: _*)
    df.select(posexplode(cells).as(Seq("r", "bucket")))
  }

  /** Point-frequency estimates for a probe-key frame: min over the d
    * cells (absent cell = 0). The probe side is tiny by construction —
    * the cell joins broadcast. */
  def cmsEstimate(cms: DataFrame, probes: DataFrame, keyCol: String,
      d: Int = 4, w: Int = 256): DataFrame = {
    val cells = array((0 until d).map { r =>
      TextOps.md5Hash60(concat(lit(s"cms$r:"), col(keyCol).cast(StringType)))
        .bitwiseAND(lit((w - 1).toLong))
    }: _*)
    probes.select(col(keyCol), posexplode(cells).as(Seq("r", "bucket")))
      .join(cms, Seq("r", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  // ---- Bloom filter (q_bloom) ----

  /** Bloom-filter bit set (Bloom 1970) as a plain DataFrame of set bit
    * positions — ≤ m rows. k positions per key from the md5-prefix-60
    * leaf with per-hash salts; mergeable across shards by UNION
    * (bitwise OR). The corpus-scale use is scan-side decontamination /
    * membership: build the filter over a benchmark's keys, broadcast m
    * bits to a 100 TB scan, and drop rows without any join. `m` is
    * DATA-SIZED — use [[bloomSize]] (the auto-sizing rule: a fixed m
    * saturates to FPR→1 as n grows).
    */
  def bloomBits(df: DataFrame, keyCol: String, m: Long,
      k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 16 && m >= 64, s"k in [1,16], m >= 64")
    df.select(explode(bloomPositions(col(keyCol), m, k)).as("pos")).distinct()
  }

  /** Bits for n keys at ~16 bits/key (FPR ≈ 0.0014 at k=5), floor 4096.
    * Plain integer arithmetic so any engine replays the size. */
  def bloomSize(nKeys: Long): Long = math.max(4096L, 16L * nKeys)

  private[graft] def bloomPositions(key: Column, m: Long, k: Int): Column =
    array((0 until k).map { i =>
      pmod(TextOps.md5Hash60(concat(lit(s"bf$i:"), key.cast(StringType))),
        lit(m))
    }: _*)

  /** Row-local Bloom position projection — one (pos) row per key×hash,
    * BEFORE the distinct. The streaming twin runs this per arriving row
    * and lets a streaming `dropDuplicates("pos")` hold the live bit set
    * as its state (bounded at m rows FOREVER — [[graft.streaming
    * .EventStreams.streamingBloomBits]]); the batch [[bloomBits]] is
    * this + a batch distinct.
    */
  def bloomCells(df: DataFrame, keyCol: String, m: Long, k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 16 && m >= 64, s"k in [1,16], m >= 64")
    df.select(explode(bloomPositions(col(keyCol), m, k)).as("pos"))
  }

  /** Membership test: hit iff ALL k positions are set. No false
    * negatives by construction; false positives bounded by the
    * (1−e^(−kn/m))^k envelope. Returns (key, hit). */
  def bloomProbe(bits: DataFrame, probes: DataFrame, keyCol: String,
      m: Long, k: Int = 5): DataFrame = {
    probes.select(col(keyCol),
      explode(bloomPositions(col(keyCol), m, k)).as("pos"))
      .join(bits.withColumn("set", lit(1L)), Seq("pos"), "left")
      .groupBy(keyCol)
      .agg((sum(coalesce(col("set"), lit(0L))) === lit(k.toLong))
        .cast(LongType).as("hit"))
  }

  // ---- log2-histogram quantile sketch (q_qsketch) ----

  /** Power-of-two histogram cell per row: bucket = bit length of the
    * value (0 for v ≤ 0), i.e. the [2^(b−1), 2^b) decade — computed as
    * `length(bin(v))`, pure integer/string ops ANY engine replays
    * exactly (no log2: a transcendental at a power-of-two boundary is
    * exactly the ulp flip the SURVEY §2.6 rule bans). Row-local like
    * [[hllCells]], so the same projection runs on a stream.
    */
  def qhistCells(df: DataFrame, valueCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol).cast(StringType).as("grp"),
      when(col(valueCol) <= 0, lit(0))
        .otherwise(length(bin(col(valueCol).cast(LongType))))
        .cast(IntegerType).as("bucket"))

  /** Per-group log2 histogram: (grp, bucket, cnt), ≤ 64 rows per group
    * regardless of input size — ONE map-side-combined aggregation whose
    * shuffle carries sketch-sized rows. Order-insensitive state (counts
    * sum), so distributed merge order can't change it — the property
    * that lets the hashed surface pin it exactly, where a KLL/t-digest's
    * compaction order could not be replayed cross-engine.
    */
  def qhistSketch(df: DataFrame, valueCol: String, groupCol: String): DataFrame =
    qhistCells(df, valueCol, groupCol)
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).cast(LongType).as("cnt"))

  /** Merge histograms (cell-wise sum) under a new group label — the
    * shard/day/source rollup, same contract as [[hllMerge]]. */
  def qhistMerge(hist: DataFrame, label: String): DataFrame =
    hist.groupBy("bucket").agg(sum(col("cnt")).cast(LongType).as("cnt"))
      .select(lit(label).as("grp"), col("bucket"), col("cnt"))

  /** Quantile estimates from a histogram: for each permille target φ,
    * rank r = ⌈φ·n⌉ lands in the first bucket whose cumulative count
    * reaches r; the estimate interpolates WITHIN the bucket assuming
    * uniform occupancy — all in integer arithmetic (shift, multiply,
    * floor-div), so the estimate is a pinnable exact value with relative
    * error bounded by the bucket width (≤ 2×, tighter under
    * interpolation). Returns (grp, phi, n, bucket, est, r).
    */
  def qhistQuantiles(hist: DataFrame, permilles: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = hist.sparkSession
    import spark.implicits._
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 999))
    // the label is the percent (pm/10): two targets in the same decile
    // (990 and 995) would collide to one phi key and silently merge rows
    // in the (grp, phi) joins downstream — reject rather than mislabel
    require(permilles.map(_ / 10).distinct.size == permilles.size,
      s"permille targets must map to distinct percent labels, got $permilles")
    val phis = broadcast(
      permilles.map(pm => (s"p${pm / 10}", pm)).toDF("phi", "pm"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("grp").orderBy("bucket")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("grp")))
    val tgt = cum.select("grp", "n").distinct()
      .crossJoin(phis)
      .withColumn("r", expr("(n * pm + 999) div 1000"))
    val pick = tgt.join(cum.select("grp", "bucket", "cum"), Seq("grp"))
      .filter(col("cum") >= col("r"))
      .groupBy("grp", "phi", "n", "r")
      .agg(min(col("bucket")).as("bucket"))
    pick.join(cum.select("grp", "bucket", "cnt", "cum"), Seq("grp", "bucket"))
      .withColumn("lo", when(col("bucket") === 0, lit(0L))
        .otherwise(call_function("shiftleft", lit(1L), col("bucket") - 1)))
      .withColumn("width", when(col("bucket") === 0, lit(1L)).otherwise(col("lo")))
      .select(col("grp"), col("phi"), col("n").cast(LongType).as("n"),
        col("bucket").cast(LongType).as("bucket"),
        expr("lo + ((r - (cum - cnt) - 1) * width) div cnt")
          .cast(LongType).as("est"),
        col("r").cast(LongType).as("r"))
  }

  /** q_qsketch surface: per-group quantile estimates (p50/p90/p99 by
    * default) + a '__all__' row merged FROM the per-group histograms
    * (mergeability exercised on the hashed surface, the [[hllSummary]]
    * pattern), joined with the EXACT rank-r value per group for the
    * error pin — `within_2x` pins the sketch's error contract, and est
    * itself is pinned full-value (deterministic: order-insensitive
    * integer state). The exact side is the verify baseline only; at
    * corpus scale you keep just the ≤64-rows-per-group histogram.
    */
  def qsketchSummary(df: DataFrame, valueCol: String, groupCol: String,
      permilles: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    val base = df.select(col(groupCol).cast(StringType).as("grp"),
      col(valueCol).cast(LongType).as("v"))
    // force the (tiny) summary, then release the shared histogram — a
    // lazily returned frame would pin the cache entry until LRU eviction
    Frames.materializeOver(qhistSketch(base, "v", "grp"))(
      qsketchFromHist(_, base, permilles))
  }

  /** Assemble the q_qsketch surface from a PREBUILT per-group histogram
    * (batch-computed or drained from a stream's complete-mode state) +
    * the raw (grp, v) base used only for the exact-rank error pin. */
  def qsketchFromHist(hg: DataFrame, base: DataFrame,
      permilles: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = hg.unionByName(qhistMerge(hg, "__all__"))
    val q = qhistQuantiles(hist, permilles)
    val d2 = base.unionByName(base.select(lit("__all__").as("grp"), col("v")))
    val vcum = d2.groupBy("grp", "v")
      .agg(count(lit(1)).cast(LongType).as("c"))
      .withColumn("vc", sum(col("c")).over(
        Window.partitionBy("grp").orderBy("v")))
    val exact = q.select("grp", "phi", "r").join(vcum, Seq("grp"))
      .filter(col("vc") >= col("r"))
      .groupBy("grp", "phi")
      .agg(min(col("v")).cast(LongType).as("exact"))
    q.join(exact, Seq("grp", "phi"))
      .select(col("grp"), col("phi"), col("n"), col("bucket"), col("est"),
        col("exact"),
        (col("est") <= lit(2L) * col("exact") &&
          col("exact") <= lit(2L) * col("est"))
          .cast(LongType).as("within_2x"))
      .orderBy("grp", "phi")
  }

  /** q_hll surface: per-group sketch summaries + a '__all__' row merged
    * FROM the per-group register tables (mergeability on the hashed
    * surface), joined with exact distinct counts for the error pin.
    *
    * Cost attribution (the r17 q_hll drift question, measured at 10x
    * with a stage-decomposed isolated probe): the summary is TWO
    * data-sized passes — the register scan (md5 per row, ~4.9s at 10x,
    * the honest portability cost of the sketch) and the exact-count
    * error pin (~4s at 10x), which is VERIFY-ONLY — at corpus scale
    * you keep just the ≤m-rows-per-group register table and never run
    * the pin. Probe traps recorded: a bare `exact.count()` measures
    * 0.4s because the optimizer PRUNES the countDistinct under count();
    * the real pin cost only shows inside the value-producing join. A
    * distinct-(grp, value)-pair rewrite of the pin was measured SLOWER
    * (~6.5s — caching 22M pair rows costs more than the second
    * countDistinct scan saves), so the two-scan shape stays. Given the
    * two passes, ~1.7-2.2s at sf0.1 is this operator's floor; r16's
    * 0.78s artifact entry was the outlier, not r17's 1.73s.
    */
  def hllSummary(df: DataFrame, valueCol: String, groupCol: String,
      p: Int = 8): DataFrame = {
    val exact = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(valueCol)).cast(LongType).as("n_exact"))
      .unionByName(df.select(lit("__all__").as("grp"),
        col(valueCol)).groupBy("grp")
        .agg(countDistinct(col(valueCol)).cast(LongType).as("n_exact")))
    // force the (one row per group) summary, then release the shared
    // register table — a lazy return would pin the cache entry forever
    Frames.materializeOver(hllRegisters(df, valueCol, groupCol, p)) { regs =>
      // force the cache BEFORE the register table fans out: the summary
      // reads regs through two subtrees (per-group ∪ merged) of ONE
      // action, and a lazy persist lets the concurrent scans race cache
      // population and compute the data-sized scan twice
      regs.count()
      val all = hllMerge(regs, "__all__")
      hllEstimate(regs.unionByName(all), p).join(exact, "grp")
        .select(col("grp"), col("m"), col("n_exact"), col("n_zero"),
          col("sum_reg"), col("z_num"), col("est"),
          (abs(col("est") - col("n_exact")) <=
            lit(0.1) * col("n_exact").cast(DoubleType))
            .cast(LongType).as("within_10pct"))
        .orderBy("grp")
    }
  }

  // ---- KMV / theta sketch (q_kmv) ----

  /** K-minimum-values sketch per set (Bar-Yossef et al. 2002; the theta
    * sketch of Dasgupta et al. 2016): the k smallest distinct 52-bit
    * md5 hashes of each set's members — ≤ k rows per set, mergeable by
    * "union then re-take k smallest" (associative), engine-portable
    * like [[hllRegisters]] (hash + ORDER BY + LIMIT, nothing else).
    * Unlike HLL this sketch supports INTERSECTION estimates, the reason
    * to carry both: distinct-users-doing-A∩B at corpus scale without a
    * pairwise exact join. The 52-bit leaf (md5Hash60 >> 8) keeps every
    * hash exactly representable as a double should an engine cast it.
    *
    * Distributed shape: the distinct pre-aggregation shrinks input to
    * one row per (set, distinct key); then the sketch's OWN merge law
    * ("union then re-take k smallest", associative) licenses a
    * per-partition pre-prune — local k-min per (set, source partition)
    * first, so the per-set rank window never sees more than k·P rows.
    * Without the pre-prune a 10⁹-member set (the whole reason the
    * sketch exists) sorts ALL its distinct members inside one task; with
    * it both windows are bounded by partition size / k·P respectively,
    * and the output is identical.
    */
  def kmvMins(df: DataFrame, keyCol: String, setCol: String,
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 16, "k >= 16")
    val h = df.select(col(setCol).cast(StringType).as("s"),
      shiftright(TextOps.md5Hash60(
        concat(lit("kmv:"), col(keyCol).cast(StringType))), 8).as("h"))
      .distinct()
    // local k-min per (set, partition): the window partitions by the
    // SOURCE partition id too, so its exchange spreads a hot set across
    // as many tasks as the distinct left it on — bounded by partition
    // size, never set size
    val pruned = h.withColumn("_pid", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("s", "_pid").orderBy("h")))
      .filter(col("_lrk") <= k)
      .select("s", "h")
    val w = Window.partitionBy("s").orderBy("h")
    pruned.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("s", "h")
  }

  /** q_kmv surface: theta-sketch set algebra (∩, ∪, A∖B) over two
    * sets' KMV sketches — ONE row, all-integer. Union sketch = k
    * smallest of the merged k-mins; θ = its max; every estimate is an
    * integer floor-division `cnt·2^52 DIV θ` (n ≤ k keeps the
    * numerator well inside BIGINT). Exact counts ride along as the
    * error pin — verify-side only; at corpus scale you keep just the
    * two ≤k-row sketches. The set math runs on ≤ 2k rows total, so the
    * global-order windows here are sketch-sized, never data-sized.
    *
    * Perf attribution (the r17 "q_kmv 16x at 10x" flag): an isolated
    * warm probe measures this operator at 1.7-2.7s on the 10x corpus
    * (~2-4x the sf0.1 cost for 10x data — the two data-sized distincts,
    * sketch + exact pin, both pair-hash-spread). The in-suite 12s was
    * cumulative multi-query JVM pressure, the q_triangles class, not a
    * plan defect. The eager sk.count() below also pins the sketch to
    * compute once before it fans into the union-theta and membership
    * subtrees of one action.
    */
  def kmvIntersectSummary(df: DataFrame, keyCol: String, setCol: String,
      setA: String, setB: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val two = df.filter(col(setCol).isin(setA, setB))
    // force the 1-row surface, then free the sketch
    Frames.materializeOver(kmvMins(two, keyCol, setCol, k)) { sk =>
      // eager force — the sketch feeds both the union-theta and the
      // membership subtrees of one action (the q_hll lazy-persist race)
      sk.count()
      val uni = sk.select("h").distinct()
        .withColumn("rk", row_number().over(Window.orderBy("h")))
        .filter(col("rk") <= k)
      val theta = uni.agg(max(col("h")).as("theta"),
        count(lit(1)).cast(LongType).as("k_u"))
      val membership = sk
        .groupBy("h")
        .agg(count(lit(1)).as("c"),
          sum(when(col("s") === setA, 1L).otherwise(0L)).as("inA"))
        .crossJoin(broadcast(theta))
        .filter(col("h") < col("theta"))
        .agg(sum(when(col("c") === 2, 1L).otherwise(0L)).cast(LongType)
            .as("n_inter"),
          sum(when(col("c") === 1 && col("inA") === 1, 1L).otherwise(0L))
            .cast(LongType).as("n_a_not_b"))
      val keys = two.select(col(setCol).cast(StringType).as("s"),
        col(keyCol).cast(StringType).as("key")).distinct()
      val exact = keys.groupBy("key")
        .agg(count(lit(1)).as("c"),
          sum(when(col("s") === setA, 1L).otherwise(0L)).as("inA"))
        .agg(count(lit(1)).cast(LongType).as("exact_union"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).cast(LongType)
            .as("exact_inter"),
          sum(when(col("c") === 1 && col("inA") === 1, 1L).otherwise(0L))
            .cast(LongType).as("exact_a_not_b"))
      // 4503599627370496 = 2^52, the hash-domain size
      theta.crossJoin(membership).crossJoin(exact)
        .select(col("theta"), col("k_u"), col("n_inter"), col("n_a_not_b"),
          expr("CAST((n_inter * 4503599627370496) DIV theta AS BIGINT)")
            .as("est_inter"),
          expr("CAST(((k_u - 1) * 4503599627370496) DIV theta AS BIGINT)")
            .as("est_union"),
          expr("CAST((n_a_not_b * 4503599627370496) DIV theta AS BIGINT)")
            .as("est_a_not_b"),
          col("exact_inter"), col("exact_union"), col("exact_a_not_b"))
    }
  }
}
