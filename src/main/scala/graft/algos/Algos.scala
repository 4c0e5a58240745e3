package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Frames.{Rounds, cache, loop, materialize, materializeOver}

/** Graph analytics as iterative DataFrame algorithms.
  *
  * The reference fits these into Cypher traversals (recursive CTE
  * translation, /root/reference/src/translator.ts:3322-3374); at Spark
  * scale they are bounded iterative join loops: every iteration is one
  * shuffle on the join key, frontiers/labels stay DataFrames (never
  * collected), and lineage (and thus plan size) stays O(1) per iteration
  * instead of O(iterations).
  *
  * Every loop runs in one superstep scope: [[graft.util.Frames.loop]]
  * stores and counts the loop input, runs the loop on a session clamped
  * to the input size and frees the input; each loop-carried frame is a
  * [[graft.util.Frames.Rounds]], which checkpoints on the loop's
  * cadence, caches in between and frees each superseded frame in the
  * round the loop's release depth, scratch and retained history say.
  * Loops never free frames by hand (a source audit keeps it so).
  *
  * Edge-frame convention: (`src`, `dst`) long columns, as produced by
  * [[graft.graph.PropertyGraph]] edge frames.
  */
object Algos {

  /** Single-source BFS shortest hop-distances over a directed edge frame.
    * Returns (id, dist) for every node reachable within maxDepth
    * (including the source at dist 0). Each level is one equi-join of the
    * frontier against edges + an anti-join against the visited set — the
    * frontier is deduped per level so dense graphs don't blow up.
    */
  def shortestPaths(edges: DataFrame, source: Long, maxDepth: Int,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the loop input is stored ONCE: the sizing count and every level
    // join read the same checkpointed projection — the un-stored form
    // paid one extra full edge scan for the count plus a parquet re-scan
    // per level (r14 advice)
    loop(edges.select(col(src).as("es"), col(dst).as("ed"))) { (sc, e) =>
      // r21: lazy visited union over the retained checkpointed level
      // frames — see multiSourceBfs (one materialize per level instead of
      // two, no per-level rewrite of the whole visited set)
      val fronts = new Rounds(sc.in(materialize(Seq((source, 0)).toDF("id", "dist"))),
        retain = true)
      var visited = fronts.cur
      var depth = 0
      while (depth < maxDepth && !fronts.cur.isEmpty) {
        depth += 1
        val next = fronts.cur.join(e, col("id") === col("es"))
          .select(col("ed").as("id"), lit(depth).as("dist"))
          .distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
        visited = visited.unionByName(fronts.step(depth, next))
      }
      val res = materialize(visited)
      fronts.close()
      res
    }
  }

  /** Multi-source BFS hop histogram: per seed, how many nodes are first
    * reached at each hop distance ≤ maxDepth — the raw material of
    * effective-diameter / reachability audits, and the multi-seed
    * generalization of [[shortestPaths]]. All seeds advance in ONE
    * frontier keyed by (seed, node): each level is one equi-join against
    * edges + one anti-join against the visited set, so the level count
    * (not the seed count) bounds the number of shuffles — the standard
    * distributed multi-source BFS shape. Returns (seed, dist, n_nodes)
    * with dist 0 = the seed itself.
    */
  def hopHistogram(edges: DataFrame, seeds: Seq[Long], maxDepth: Int,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val visitedOut = multiSourceBfs(edges, seeds, maxDepth, src, dst)
    visitedOut.groupBy("seed", "dist")
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("seed"), col("dist").cast("long").as("dist"), col("n_nodes"))
      .orderBy("seed", "dist")
  }

  /** Effective diameter per seed — the p-th permille reach distance
    * (classically p90: "90% of reachable nodes are within d hops"), the
    * one-number summary of [[hopHistogram]]'s raw material. Pure
    * integer arithmetic over the per-seed histogram (≤ maxDepth+1 rows
    * per seed): rank r = ⌈permille·total/1000⌉ as (p·t + 999) DIV 1000,
    * diameter = first distance whose cumulative count reaches r. The
    * windows run over histogram rows, never corpus rows. Returns
    * (seed, n_reached, eff_diameter) with dist 0 (the seed) included in
    * the reach count.
    */
  def effectiveDiameter(edges: DataFrame, seeds: Seq[Long], maxDepth: Int,
      permille: Int = 900,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(permille >= 1 && permille <= 1000)
    val hist = hopHistogram(edges, seeds, maxDepth, src, dst)
    hist
      .withColumn("cum", sum(col("n_nodes")).over(
        Window.partitionBy("seed").orderBy("dist")))
      .withColumn("total", sum(col("n_nodes")).over(
        Window.partitionBy("seed")))
      .filter(col("cum") >= expr(s"($permille * total + 999) DIV 1000"))
      .groupBy("seed")
      .agg(max(col("total")).cast(LongType).as("n_reached"),
        min(col("dist")).cast(LongType).as("eff_diameter"))
      .orderBy("seed")
  }

  /** Bucket-wise max combine over PACKED HLL register vectors — one
    * m-byte array per node instead of m rows. The point is the SHUFFLE
    * SHAPE (the [[graft.pipeline.Ann.TopKAgg]] argument): the row-form
    * union rule scatters |edges|·m rows per round; packed, the scatter
    * is |edges| rows of one m-byte payload and this typed Aggregator
    * gets map-side partial aggregation, so the shuffle constant drops
    * m-fold (64× at p=6 — the r18 scale-weak flag). reduce/merge are
    * COPY-on-write, never in-place: the typed-aggregate path hands the
    * same buffer object to successive groups (measured: in-place max
    * leaked group 1's registers into group 2), so mutating the incoming
    * buffer corrupts neighbors; one fresh m-byte array per input row is
    * noise next to the shuffle it replaces.
    */
  private[algos] final class RegMaxAgg(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](m)
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = {
      val out = java.util.Arrays.copyOf(b, m)
      var i = 0
      while (i < m) { if (a(i) > out(i)) out(i) = a(i); i += 1 }
      out
    }
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = reduce(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** HyperBall (Boldi & Vigna 2013): the ALL-NODES neighborhood
    * function on HLL registers — where [[effectiveDiameter]] runs
    * exact BFS from a seed SAMPLE, HyperBall tracks an approximate
    * ball size for EVERY node simultaneously, the construction that
    * made neighborhood functions computable on billion-edge graphs
    * (it is how the "Facebook four degrees of separation" numbers
    * were produced). Each node u carries an HLL register set of its
    * ball B(u,t); one round is the union rule
    * B(u,t+1) = B(u,t) ∪ ⋃_{u~v} B(v,t), which in register form is a
    * bucket-wise max.
    *
    * Register representation (r19): each node's m registers are PACKED
    * into one m-byte array, so a round costs ONE equi-join scattering
    * |edges| rows of a single m-byte payload + ONE per-node
    * [[RegMaxAgg]] byte-wise max-combine (map-side combinable) — the
    * r18 row-form frame scattered |edges|·m rows per round, a 64×
    * shuffle-volume constant at p=6 that dominated at billion-edge
    * scale (published HyperBall packs registers per node for exactly
    * this reason). Round count, never ball size, bounds the shuffles;
    * register frames are materialized for O(1) lineage and released
    * two-back. Registers come from the same md5-derived ρ geometric as
    * [[graft.pipeline.Sketches.hllCells]] and the snapshots unpack to
    * the identical integer aggregates, so the row-form DuckDB replay
    * stays bit-exact (packed ≡ row-form is spec-pinned). Output is one
    * row per (node, t) with the EXACT integer register aggregates
    * (n_present, Σregister, the z-numerator Z·2^c) plus the raw-HLL
    * estimate to 3 dp (one double division, the q_hll discipline; same
    * documented no-small-range-correction contract as
    * [[graft.pipeline.Sketches.hllEstimate]]).
    */
  def hyperBall(edges: DataFrame, rounds: Int = 3, p: Int = 6,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(rounds >= 1 && p >= 4 && p <= 16)
    // the packed path keys register payloads by LONG node id (typed
    // encoders through combine/snap). Non-integral ids would silently
    // coerce (or null) through the cast — fail loudly instead; callers
    // with string ids map them to longs first (xxhash64 / a dense-rank
    // dictionary), the standard corpus-scale id normalization.
    for (c <- Seq(src, dst)) {
      val t = edges.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
        s"hyperBall requires integral node ids; column '$c' is $t — " +
          "map ids to longs first (xxhash64 or a dense-rank dictionary)")
    }
    val m = 1 << p
    val c = 60 - p + 1
    val spark = edges.sparkSession
    import spark.implicits._
    val out = loop(symmetric(edges, src, dst)) { (_, sym) =>
    val nodes = sym.select(col("u").as("id")).distinct()
    val cells = graft.pipeline.Sketches.hllCells(
      nodes.select(col("id"), col("id").as("val")), "val", "id", p)
    // each node contributes exactly one cell (its own hash), so its
    // initial packed vector is a zero array with that one register set
    // regs of round t-1 feeds only round t's scatter; released two rounds
    // back (snapshots are their own checkpoints)
    val regs = new Rounds(materialize(cells
      .select(col("grp").cast(LongType).as("id"),
        col("bucket").cast(LongType), col("rho"))
      .as[(Long, Long, Int)]
      .map { case (id, b, r) =>
        val a = new Array[Byte](m); a(b.toInt) = r.toByte; (id, a) }
      .toDF("id", "regs")), back = 2)
    def combine(df: DataFrame): DataFrame =
      df.as[(Long, Array[Byte])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new RegMaxAgg(m).toColumn.name("regs"))
        .toDF("id", "regs")
    def snap(t: Int, r: DataFrame): DataFrame =
      r.as[(Long, Array[Byte])].map { case (id, a) =>
        var np = 0L; var sr = 0L; var zp = 0L
        var i = 0
        while (i < m) {
          val v = a(i).toLong
          if (v > 0L) { np += 1L; sr += v; zp += 1L << (c - v) }
          i += 1
        }
        (id, t.toLong, np, sr, zp + (m.toLong - np) * (1L << c))
      }.toDF("id", "t", "n_present", "sum_reg", "z_num")
    val snaps = new Rounds(materialize(snap(0, regs.cur)), retain = true)
    for (t <- 1 to rounds) {
      val scattered = sym
        .join(regs.cur.withColumnRenamed("id", "v"), "v")
        .select(col("u").as("id"), col("regs"))
      regs.step(t, combine(scattered.unionByName(regs.cur)))
      snaps.step(t, snap(t, regs.cur))
    }
    regs.close()
    val all = materialize(snaps.history.reduce(_ unionByName _))
    snaps.close()
    all
    }
    // raw-HLL estimate, exactly the hllEstimate constant and rounding
    val k = 0.7213 / (1.0 + 1.079 / m.toDouble) * m.toDouble * m.toDouble *
      java.lang.Math.scalb(1.0, c)
    out.withColumn("est", round(lit(k) / col("z_num").cast(DoubleType), 3))
      .orderBy("id", "t")
  }

  /** The NEIGHBORHOOD FUNCTION — HyperBall's headline output (Boldi &
    * Vigna ran HyperBall precisely to produce NF(t) and the effective
    * diameter from it): NF(t) = Σ_u |B(u,t)| estimated as the sum of
    * per-node raw-HLL ball estimates, one row per round. The per-node
    * 3-dp estimates are summed as DECIMAL(20,3) — exact and
    * order-independent, so the cross-engine hash holds where a double
    * sum would drift — and shipped as integer thousandths (nf_e3).
    * reach_permille = 1000·NF(t) DIV NF(rounds) is the integer curve a
    * dataset card reads the effective diameter off (first t at ≥ 900
    * permille = the p90 effective diameter, [[effectiveDiameter]]'s
    * estimator twin). Output is rounds+1 ROWS at any graph size; the
    * nf_e3 integer-thousandths column saturates BIGINT once NF exceeds
    * ~9.2·10¹⁵ (n ≳ 10⁸ fully-connected nodes) — the DECIMAL(38,3) sum
    * and reach_permille (computed on the decimal BEFORE any BIGINT
    * cast) stay exact far past that. Cost is one [[hyperBall]] run +
    * one ≤(rounds+1)-group aggregate; a caller that already holds the
    * per-node frame (the normal case — NF is hyperBall's headline
    * summary) uses [[neighborhoodFunctionFrom]] and pays only the
    * aggregate.
    */
  def neighborhoodFunction(edges: DataFrame, rounds: Int = 3, p: Int = 6,
      src: String = "_src", dst: String = "_dst"): DataFrame =
    neighborhoodFunctionFrom(hyperBall(edges, rounds, p, src, dst))

  /** NF(t) over a PRECOMPUTED [[hyperBall]] frame — the overload that
    * stops a caller wanting both the per-node balls and the NF curve
    * from paying the iterative register run twice (r19 advice). `hb`
    * must be a hyperBall output (or any frame with `t` and 3-dp `est`);
    * the round count is the frame's own max t.
    */
  def neighborhoodFunctionFrom(hb: DataFrame): DataFrame = {
    // checkpoint the rounds+1-row aggregate: the reach-permille join
    // reads it through TWO branches, which would otherwise each rescan
    // the (node, t) estimate frame. DECIMAL(38,3), not (20,3): NF is
    // bounded by n², so a (20,3) sum overflows to null near n ≈ 3·10⁸
    // nodes (Spark non-ANSI sum) — 38 digits carry it to n ≈ 10¹⁷.
    val perT = materialize(hb.groupBy("t").agg(
      count(lit(1)).cast(LongType).as("n_nodes"),
      sum(col("est").cast(DecimalType(38, 3))).as("nf")))
    // nf_last from the FRAME's max t, not the `rounds` parameter (r20
    // advice): a frame built with fewer rounds than claimed made the
    // old t === rounds filter empty (zero-row crossJoin, silently), and
    // more rounds left reach_permille ending below 1000. Deriving from
    // the data is value-identical when they match and correct when they
    // don't. perT is rounds+1 rows, so the sort is sketch-sized.
    val last = perT.orderBy(col("t").desc).limit(1)
      .select(col("nf").as("nf_last"))
    // reach_permille on the DECIMALS (value-identical to the former
    // e3-integer form — both are floor(1000·NF(t)/NF(rounds)) exactly —
    // but with no BIGINT intermediate to overflow)
    perT.crossJoin(broadcast(last))
      .select(col("t"), col("n_nodes"),
        (col("nf") * 1000).cast(LongType).as("nf_e3"),
        expr("CAST((1000 * nf) DIV nf_last AS BIGINT)").as("reach_permille"))
      .orderBy("t")
  }

  /** Undirected degree SPECTRUM — the log2 frequency-of-degrees
    * histogram (how many nodes have degree 1, 2-3, 4-7, …): the
    * graph dataset-card one-glance power-law diagnostic, the graph
    * analog of the corpus frequency spectrum. One degree aggregation
    * + one ≤ ~64-row bucket rollup + a one-row broadcast total;
    * all-integer output whatever the graph size. Returns
    * (bucket, deg_lo, n_nodes, nodes_permille) ascending.
    */
  def degreeSpectrum(edges: DataFrame,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val fwd = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col(src) =!= col(dst))
    val sym = fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val deg = sym.groupBy("u").agg(count(lit(1)).cast(LongType).as("d"))
    val spec = deg
      .select(length(bin(col("d"))).cast(IntegerType).as("bucket"), col("d"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast(LongType).as("n_nodes"))
    val total = spec.agg(sum(col("n_nodes")).cast(LongType).as("tn"))
    spec.crossJoin(broadcast(total))
      .select(col("bucket"),
        call_function("shiftleft", lit(1L), col("bucket") - 1).as("deg_lo"),
        col("n_nodes"),
        expr("CAST((1000 * n_nodes) DIV tn AS BIGINT)").as("nodes_permille"))
      .orderBy("bucket")
  }

  /** Shared multi-source BFS: first-reach (seed, id, dist ≤ maxDepth)
    * rows for every seed, all seeds advancing in ONE frontier — the
    * level count, not the seed count, bounds the shuffles. Edge
    * projection materialized once for the sizing count + per-level
    * joins, dead levels released (the [[shortestPaths]] discipline).
    */
  private def multiSourceBfs(edges: DataFrame, seeds: Seq[Long],
      maxDepth: Int, src: String, dst: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    loop(edges.select(col(src).as("es"), col(dst).as("ed"))) { (sc, e) =>
      // NOTE (r21): a lazy visited-union over the checkpointed level
      // frames (the betweennessSampled-forward shape) was tried here
      // and measured WORSE on the deep-BFS consumer (q_diameter 1.3-1.8×
      // across three probes): each level's anti-join then scans K
      // separate front checkpoints, and the O(depth²·P) task launches
      // outgrow the saved union write-outs. The incremental
      // materialized union stays.
      // Each level's frontier is read by the next level only: scratch.
      val visited = new Rounds(sc.in(materialize(
        seeds.map(s => (s, s, 0)).toDF("seed", "id", "dist"))))
      var frontier = visited.cur
      var depth = 0
      while (depth < maxDepth && !frontier.isEmpty) {
        depth += 1
        val next = frontier.join(e, col("id") === col("es"))
          .select(col("seed"), col("ed").as("id"), lit(depth).as("dist"))
          .distinct()
          .join(visited.cur.select("seed", "id"), Seq("seed", "id"), "left_anti")
        frontier = materialize(next)
        visited.step(depth, visited.cur.unionByName(frontier))
        visited.scratch(frontier)
      }
      visited.done()
    }
  }

  /** Sampled harmonic centrality (Eppstein–Wang '04 estimator shape):
    * for a deterministic seed sample S, each node's score is
    * Σ_{s∈S, d(s,v)≥1} 1/d(s,v) — the centrality family that stays
    * well-defined on disconnected graphs (unreached pairs contribute 0,
    * no infinite-distance pathology). One multi-source BFS (level-count
    * shuffles, shared with [[hopHistogram]]); per-term 1/d rounds at
    * 6 dp and sums as exact DECIMAL so the score is aggregation-order
    * independent (the engine-parity rule), converted to double only for
    * the final column (≤ 8 significant digits — exact).
    * Returns (id, n_sources, harmonic) for every reached node.
    */
  def harmonicCentrality(edges: DataFrame, seeds: Seq[Long], maxDepth: Int,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val visited = multiSourceBfs(edges, seeds, maxDepth, src, dst)
    visited.filter(col("dist") >= 1)
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_sources"),
        sum(round(lit(1.0) / col("dist"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(10, 6)))
          .cast("double").as("harmonic"))
      .orderBy("id")
  }

  /** Sampled betweenness centrality (Brandes 2001, source-sampled à la
    * Brandes–Pich 2007, distance-bounded at maxDepth): for each seed s,
    * a forward BFS accumulates shortest-path counts σ(s,v) per level
    * (σ of a node first reached at level d = Σ σ of its dist-(d−1)
    * in-neighbors — ONE grouped aggregation per level), then the
    * backward sweep accumulates dependencies level by level:
    * δ(s,v) = Σ_{w ∈ succ(v)} (σv/σw)·(1+δw), betweenness(v) = Σ_s
    * δ(s,v). Directed edges, the [[harmonicCentrality]] convention.
    *
    * Engine-parity arithmetic — the q_harmonic rule EXTENDED, because
    * `round(double, 7)` itself is NOT portable (DuckDB implements it
    * with a float multiply that mis-rounds midpoint-adjacent doubles —
    * measured: 0.56172835 rounds up there, down under Spark's exact
    * HALF_UP): δ is carried in INTEGER 1e-7 units and every step is an
    * op both engines make bit-identical — term = floor(σv·(10⁷+δ₇)/σw
    * + 0.5) (casts of ≤2^53 ints exact; each multiply/divide/add ONE
    * correctly-rounded IEEE op; floor exact; floor-before-cast because
    * DOUBLE→BIGINT rounds in DuckDB but truncates in Spark), summed as
    * exact BIGINTs per (seed, v) — so every level's δ (and the final Σ
    * over seeds) is aggregation-order independent and a chained-CTE
    * replay reproduces it bit-for-bit. Cost: one shuffle
    * per level forward (shared-frontier multi-source, the
    * [[hopHistogram]] shape) + one join per level backward; the level
    * count, never the seed count, bounds the rounds.
    * Returns (id, n_pairs, betweenness_e7, betweenness) for nodes with
    * positive dependency — betweenness_e7 is the exact scaled integer,
    * betweenness its single-divide double view.
    */
  def betweennessSampled(edges: DataFrame, seeds: Seq[Long], maxDepth: Int,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(maxDepth >= 1 && seeds.nonEmpty)
    val spark = edges.sparkSession
    import spark.implicits._
    loop(edges.select(col(src).as("es"), col(dst).as("ed"))) { (sc, e) =>
    // forward: per-level first-reach frames with path counts σ, retained
    // through the backward pass
    val levels = new Rounds(sc.in(materialize(
      seeds.map(s => (s, s, 1L)).toDF("seed", "id", "sigma"))), retain = true)
    // r21: the visited set is a LAZY union view over the checkpointed
    // level frames (which stay live through the backward pass anyway) —
    // the old loop re-materialized the whole growing union every level
    // (the multiSourceBfs fix, applied to the σ-carrying forward pass).
    // r22 settle-or-revert: the materialized-union revert A/B'd 1.10× /
    // 0.90× (second round control-confounded) — no consistent win
    // either way; the lazy union stays (it structurally writes less).
    var visited = levels.cur
    var depth = 0
    while (depth < maxDepth && !levels.cur.isEmpty) {
      depth += 1
      val next = levels.cur.join(e, col("id") === col("es"))
        .groupBy(col("seed"), col("ed").as("nid"))
        .agg(sum(col("sigma")).cast(LongType).as("sigma"))
        .join(visited.select(col("seed"), col("id").as("nid")),
          Seq("seed", "nid"), "left_anti")
        .select(col("seed"), col("nid").as("id"), col("sigma"))
      visited = visited.unionByName(levels.step(depth, next))
    }
    // backward: δ per level from deepest-1 up; level frames stay live
    val lv = levels.history
    val deltas = new Rounds(null, retain = true)
    val maxL = lv.length - 1
    for (d <- (maxL - 1) to 1 by -1) {
      val ws0 = lv(d + 1).select(col("seed").as("wseed"),
        col("id").as("wid"), col("sigma").as("wsigma"))
      val ws = if (deltas.cur eq null) {
        ws0.withColumn("wdelta", lit(0L))
      } else {
        ws0.join(deltas.cur.select(col("seed").as("wseed"),
            col("id").as("wid"), col("delta").as("wd0")),
            Seq("wseed", "wid"), "left")
          .withColumn("wdelta", coalesce(col("wd0"), lit(0L)))
          .drop("wd0")
      }
      val terms = lv(d)
        .join(e, col("id") === col("es"))
        .join(ws, col("seed") === col("wseed") && col("ed") === col("wid"))
        .select(col("seed"), col("id"),
          floor(col("sigma").cast(DoubleType) *
              (lit(1.0e7) + col("wdelta").cast(DoubleType)) /
              col("wsigma").cast(DoubleType) + lit(0.5))
            .cast(LongType).as("term"))
      deltas.step(d, terms.groupBy("seed", "id")
        .agg(sum(col("term")).cast(LongType).as("delta")))
    }
    val result =
      if (deltas.history.isEmpty)
        Seq.empty[(Long, Long, Long, Double)]
          .toDF("id", "n_pairs", "betweenness_e7", "betweenness")
      else materialize(deltas.history.reduce(_ unionByName _)
        .groupBy("id")
        .agg(count(lit(1)).cast(LongType).as("n_pairs"),
          sum(col("delta")).cast(LongType).as("betweenness_e7"))
        .withColumn("betweenness",
          col("betweenness_e7").cast(DoubleType) / lit(1.0e7))
        .orderBy("id"))
    levels.close()
    deltas.close()
    result
    }
  }

  /** Closed wedges of a degree-ORIENTED edge frame: one (a, b, c) row
    * per triangle (b < c), where `closing` is the canonical (b, c)
    * edge set the wedges must close against. Only a few % of wedge
    * candidates close (measured, sf0.1 co-order graph: 41.1M wedges,
    * 1.88M triangles — 4.6%), so a broadcast Bloom filter over the
    * closing-edge hashes drops definitely-non-closing wedges BEFORE
    * the (b, c) exchange+sort of the exact semi-join (guide §3.2).
    * False positives (1%) only add rows the semi-join still removes;
    * false negatives don't exist — the result is row-identical.
    * `nEdges` sizes the filter: ~9.6 bits/edge at 1% fpp = 1.4 MB per
    * M edges broadcast; at 10⁹-edge scale raise fpp / shard by range.
    */
  private def closedWedges(oriented: DataFrame, closing: DataFrame,
      nEdges: Long): DataFrame = {
    // wedges meet at their unique lowest-rank apex `a`; the pair (b, c)
    // is id-canonicalized so each wedge appears once and the closing-edge
    // lookup is a pure equi-join
    val wedges = oriented.join(oriented.withColumnRenamed("b", "c"), "a")
      .filter(col("b") < col("c"))
    // empty edge set: Spark's bloomFilter aggregate NPEs on zero rows,
    // and there is nothing to prune — the bare semi-join returns empty
    if (nEdges <= 0L) return wedges.join(closing, Seq("b", "c"), "left_semi")
    val bf = closing.stat.bloomFilter(
      xxhash64(col("b"), col("c")), nEdges, 0.01)
    val bfB = oriented.sparkSession.sparkContext.broadcast(bf)
    val mightClose = udf((h: Long) => bfB.value.mightContainLong(h))
    wedges.filter(mightClose(xxhash64(col("b"), col("c"))))
      .join(closing, Seq("b", "c"), "left_semi")
  }

  /** Triangle count over the undirected graph given by a canonically
    * oriented edge frame (src < dst, each undirected edge once).
    *
    * Uses degree-ordered orientation (the classic O(m^1.5) wedge bound,
    * e.g. Schank/Wagner '05): re-orient each edge from its lower-(degree,
    * id) endpoint to the higher, so wedges are only enumerated at their
    * low-degree apex — on skewed graphs this is the difference between
    * m^1.5 and sum(deg^2). The count is orientation-invariant, so the
    * id-ordered SQL oracle still matches. One row: (triangles).
    */
  def triangleCount(edges: DataFrame, src: String = "_src", dst: String = "_dst"): DataFrame = {
    val e0 = edges.select(col(src).as("u"), col(dst).as("v")).distinct()
    val deg = e0.select(col("u").as("n")).unionByName(e0.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    // orient from lower (deg, id) to higher (deg, id)
    val oriented = materialize(withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("b")))
    val closing = oriented.select(
      least(col("a"), col("b")).as("b"), greatest(col("a"), col("b")).as("c"))
    closedWedges(oriented, closing, oriented.count())
      .agg(count(lit(1)).as("triangles"))
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998):
    * coeff(v) = 2·t(v) / (deg(v)·(deg(v)−1)), t(v) = triangles through
    * v. Same degree-ordered wedge enumeration as [[triangleCount]]
    * (O(m^1.5) wedge candidates, equi-joins only — the skew bound that
    * matters at corpus scale); each closed wedge is ONE triangle keyed
    * by its three distinct nodes, so per-node counts are one explode
    * (3 rows per triangle — triangle-sized, not wedge-sized) + one
    * count aggregation joined back to the degree frame. Hashed surface:
    * integer (tri_cnt, degree) + one exact IEEE double division rounded
    * 6dp (integer operands ≤ 2^53 are exactly representable, division
    * is correctly rounded — deterministic cross-engine; the SURVEY §2.6
    * transcendental-free rule).
    */
  def clusteringCoefficient(edges: DataFrame, src: String = "_src",
      dst: String = "_dst"): DataFrame = {
    val e0 = edges.select(col(src).as("u"), col(dst).as("v")).distinct()
    val deg = materialize(e0.select(col("u").as("n"))
      .unionByName(e0.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).cast(LongType).as("degree")))
    val withDeg = e0
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("degree", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("degree", "dv"), "v")
    val oriented = materialize(withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("b")))
    val wedges = oriented.join(oriented.withColumnRenamed("b", "c"), "a")
      .filter(col("b") < col("c"))
    val closing = oriented.select(
      least(col("a"), col("b")).as("b"), greatest(col("a"), col("b")).as("c"))
    // NOTE (r22, measured and REVERTED): the closedWedges Bloom
    // pre-filter (kept for kTruss/triangleCount, 2-2.9× wins) measured
    // 1.41-1.95× WORSE here across two A/B rounds: this query's gate
    // action is a count over `deg LEFT JOIN perNode` whose unique-key
    // right side the optimizer ELIMINATES, so the wedge subtree never
    // runs in the bench and the eager Bloom build (+count) is pure
    // added cost. A full materialization of coeff (the Verify path)
    // would benefit — re-apply if the gate action ever forces perNode.
    val perNode = wedges.join(closing, Seq("b", "c"), "left_semi")
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy("n").agg(count(lit(1)).cast(LongType).as("tri_cnt"))
    val out = deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node_id"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        col("degree"),
        when(col("degree") >= 2,
          round((coalesce(col("tri_cnt"), lit(0L)) * 2).cast(DoubleType) /
            (col("degree") * (col("degree") - 1)).cast(DoubleType), 6))
          .otherwise(lit(0.0)).as("coeff"))
      .orderBy("node_id")
    out
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of degrees
    * across edge endpoints, the one-number "do hubs link to hubs"
    * summary. All five sufficient statistics are EXACT integer sums
    * (m2, Σxy, Σx, Σx², and their y twins — symmetric because every
    * edge contributes both orientations), aggregated in one pass with
    * map-side combine; the coefficient is assembled from them with
    * exactly-rounded IEEE ops only (casts of ≤2^53 integers, one
    * multiply, sqrt — correctly rounded per IEEE 754 — one division,
    * round 6dp), so the one-row surface replays on any engine. On a
    * trillion-edge corpus lift the sums to DECIMAL(38,0) (exact,
    * associative) — int64 holds to ~10^9 edges at web-graph degrees.
    */
  def assortativity(edges: DataFrame, src: String = "_src",
      dst: String = "_dst"): DataFrame = {
    val e0 = edges.select(col(src).as("u"), col(dst).as("v")).distinct()
    val und = e0.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e0.select(col("v").as("a"), col("u").as("b")))
    val deg = und.groupBy(col("a").as("n"))
      .agg(count(lit(1)).cast(LongType).as("d"))
    val pairs = und
      .join(deg.select(col("n").as("a"), col("d").as("x")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("y")), "b")
    val s = pairs.agg(
      count(lit(1)).cast(LongType).as("m2"),
      sum(col("x") * col("y")).cast(LongType).as("sxy"),
      sum(col("x")).cast(LongType).as("sx"),
      sum(col("y")).cast(LongType).as("sy"),
      sum(col("x") * col("x")).cast(LongType).as("sx2"),
      sum(col("y") * col("y")).cast(LongType).as("sy2"))
    // zero degree variance (regular graph) ⇒ r undefined: surface null,
    // not NaN (NaN is engine-unportable on a hashed surface)
    val dx = (col("m2") * col("sx2") - col("sx") * col("sx")).cast(DoubleType)
    val dy = (col("m2") * col("sy2") - col("sy") * col("sy")).cast(DoubleType)
    s.select(col("m2"), col("sxy"), col("sx"), col("sx2"),
      when(dx * dy > 0,
        round((col("m2") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          sqrt(dx * dy), 6)).as("r"))
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm). Converges in O(log n) rounds
    * vs O(diameter) for min-label propagation (the r2 scale-killer:
    * 97s at sf0.1, unbounded on a 100TB high-diameter graph). Returns
    * (id, component) where component = min node id in the component.
    *
    * large-star: every node links its LARGER neighbors to the minimum of
    * its closed neighborhood. small-star: every node links its smaller
    * neighbors (and itself) to that minimum. Both preserve connectivity;
    * alternation contracts each component to a star on its min node.
    * Convergence is detected with a one-row checksum aggregate per round
    * (count + sums + xor of edge hashes) — one scalar action, never a
    * row-set collect.
    */
  def connectedComponents(edges: DataFrame,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val fwd = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col(src) =!= col(dst))
    def checksum(d: DataFrame): (Long, Long, Long, Long) = {
      val r = d.agg(
        count(lit(1)), coalesce(sum("u"), lit(0L)), coalesce(sum("v"), lit(0L)),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // canonical small-end-first pairs; `e` is treated as undirected. The
    // first checksum's count sizes the loop.
    var prev = (0L, 0L, 0L, 0L)
    val eFinal = loop(fwd.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v")).distinct(),
        rows = d => { prev = checksum(d); prev._1 }) { (_, e00) =>
    val e = new Rounds(e00)
    var iter = 0
    val maxIter = 50 // star contraction: log2(n) rounds; 50 covers n≈2^50
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      // large-star over the symmetrized neighborhood
      val sym = e.cur.unionByName(e.cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      val ls = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v")).distinct()
      // one derivation from the checkpointed `e` — cache, don't
      // checkpoint; dead once the round's star graph is stored
      val lsm = e.scratch(cache(ls))
      // small-star over smaller-or-equal neighborhoods (edges already
      // oriented big←small after canonicalization: u = min endpoint)
      val byBig = lsm.select(col("v").as("big"), col("u").as("small"))
      val smins = byBig.groupBy("big").agg(min("small").as("m"))
      val ss = byBig.join(smins, "big")
        .select(col("m").as("u"), col("small").as("v"))
        .unionByName(smins.select(col("m").as("u"), col("big").as("v")))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
                greatest(col("u"), col("v")).as("v")).distinct()
      // the stored star graph supersedes the previous round's
      val cur = checksum(e.step(iter, ss))
      converged = cur == prev
      prev = cur
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds — " +
        "raise maxIter (log2(|V|) rounds expected)")
    e.cur
    }
    // final star graph: u = component min for every attached v
    eFinal.select(col("v").as("id"), col("u").as("component"))
      .unionByName(eFinal.select(col("u").as("id"), col("u").as("component")).distinct())
      .distinct()
  }

  /** Strongly connected components over a DIRECTED edge frame, via
    * trim + forward max-color propagation + backward gather (the
    * coloring / FW-BW family — Orzan '04, McLendon FW-BW, Slota et al.
    * '14 — the standard distributed SCC algorithms; Tarjan's stack is
    * inherently sequential). Returns (id, component) where component =
    * the MINIMUM node id in the SCC — canonical, so any engine's SCC
    * replay compares equal.
    *
    * Per outer round: (1) TRIM — nodes with zero in- or out-degree in
    * the remaining subgraph are singleton SCCs, peeled iteratively
    * (kills DAG tails/chains that would otherwise cost a coloring round
    * each); (2) FORWARD color — fwd(u) = max id reaching u, via
    * [[maxColoring]]'s pointer-jumped propagation (O(log diameter)
    * steps); (3) BACKWARD color on the reversed subgraph restricted to
    * same-colored endpoints — bwd(u) = c exactly when u reaches its
    * class root (class ids are all <= c and class-internal paths stay
    * in-class), so SCC(c) = { u : fwd(u) = bwd(u) = c } falls out for
    * every class simultaneously. All detected SCCs leave the graph;
    * every round removes at least each class's root SCC, and real
    * graphs finish in a handful of rounds. Colors stay DataFrames
    * end-to-end (ids-only shuffles, O(1) lineage via materialize);
    * convergence tests are one-row scalar aggregates.
    *
    * HYBRID TAIL (the published design — Hong et al. '13, Slota et al.
    * '14): once the residual subgraph is under `maxLocalEdges` edges
    * (default 2^20 ≈ 16 MB), it is collected and finished with
    * sequential [[localTarjan]] — the distributed rounds exist to shrink
    * a cluster-sized graph to that bound, not to grind out the last
    * thousand nodes in serial micro-jobs. Descending chains of SCCs peel
    * one condensation level per outer round (max-coloring merges them
    * into one color class), so graphs with > maxOuter such levels that
    * ALSO stay above maxLocalEdges throw; raise maxOuter (or
    * maxLocalEdges) at such call sites.
    */
  def stronglyConnectedComponents(edges: DataFrame,
      src: String = "_src", dst: String = "_dst",
      maxOuter: Int = 50, maxInner: Int = 500,
      maxLocalEdges: Long = 1L << 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges.select(col(src).as("u"), col(dst).as("v")).distinct()
    val e = materialize(raw.filter(col("u") =!= col("v")))
    // a node whose only edges are self-loops is still a valid singleton
    // SCC — take the node universe BEFORE the self-loop filter and peel
    // the difference upfront (r13 advice: such nodes vanished entirely)
    val selfOnly = materialize(
      raw.select(col("u").as("id")).unionByName(raw.select(col("v").as("id")))
        .distinct()
        .join(e.select(col("u").as("id"))
          .unionByName(e.select(col("v").as("id"))).distinct(),
          Seq("id"), "left_anti")
        .select(col("id"), col("id").as("root")))
    val remaining = materialize(e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct())
    var remCount = remaining.count()
    // finished (id, root) pieces are each small and already materialized;
    // buffering them beats re-checkpointing a growing union every round
    val doneParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    doneParts += selfOnly
    var outer = 0
    val maxPeel = 4 // trim peel steps per outer round
    // Only the final single-shuffle canonicalization escapes the sized
    // scope, deliberately — it runs at the session's parallelism.
    val done = loop(e) { (sc, e0) =>
      // `e` and `remaining` across trim peels and coloring passes: a peel
      // step caches (`e` checkpoints every 3rd), the peel ends with done()
      // — which checkpoints a pending cache and frees every superseded
      // frame — and the coloring pass is each outer round's last,
      // checkpointed step
      val colorStep = maxPeel + 1
      val es = new Rounds(e0, every = 3, last = colorStep)
      val rs = new Rounds(sc.in(remaining), every = Int.MaxValue, last = colorStep)
      while (remCount > 0 && outer < maxOuter) {
      outer += 1
      // ---- local finish: once the residual subgraph fits comfortably on
      // the driver, collect it and run sequential Tarjan — the published
      // hybrid (Hong et al. '13 "On fast parallel detection of strongly
      // connected components"; Slota et al. '14 run trim+FW-BW until the
      // remainder is small, then switch to serial). The collect is
      // BOUNDED by maxLocalEdges (default 2^20 edges ≈ 16 MB); the
      // distributed trim+coloring rounds above it are what shrink a
      // 100 TB graph down to that bound. maxLocalEdges=0 disables the
      // shortcut entirely (used by the distributed-path specs).
      val eCnt = if (maxLocalEdges > 0L) es.cur.count() else Long.MaxValue
      if (eCnt <= maxLocalEdges) {
        doneParts += localTarjan(spark, rs.cur, es.cur)
        remCount = 0L
      } else {
      // ---- trim: in-degree-0 or out-degree-0 nodes are singleton SCCs.
      // keep = ids seen as BOTH a source and a destination — one
      // marker-union + one groupBy (single shuffle), not two distincts
      // plus a join (three). The dropped count is the same job that
      // materializes the frame's checkpoint, so the old extra isEmpty
      // action folds away. Peels are CAPPED per outer round (the outer
      // loop re-trims next round anyway): an uncapped peel spends a
      // serial micro-job pair per round to drop a handful of tail nodes.
      var trimming = true
      var trimRounds = 0
      while (trimming && trimRounds < maxPeel) {
        trimRounds += 1
        val e = es.cur
        val keepIds = e.select(col("u").as("id"), lit(1).as("m"))
          .unionByName(e.select(col("v").as("id"), lit(2).as("m")))
          .groupBy("id").agg(min("m").as("lo"), max("m").as("hi"))
          .filter(col("lo") === 1 && col("hi") === 2).select("id")
        val dropped = materialize(rs.cur.join(keepIds, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("root")))
        val nDropped = dropped.count() // cheap: checkpointed, loopParts tasks
        if (nDropped == 0L) { trimming = false; rs.scratch(dropped) }
        else {
          doneParts += dropped
          remCount -= nDropped
          val remaining = rs.step(trimRounds,
            rs.cur.join(dropped.select("id"), Seq("id"), "left_anti"))
          es.step(trimRounds, e.join(remaining.select(col("id").as("u")), Seq("u"))
            .join(remaining.select(col("id").as("v")), Seq("v"))
            .select("u", "v"))
        }
      }
      // cut lineage once after the peel; `e` reads `remaining`'s caches,
      // so it is stored before they are freed
      val e = es.done()
      val remaining = rs.done()
      if (remCount > 0) {
        // ---- forward pass: fwd(u) = max id that reaches u. One edge
        // relaxation + one POINTER-JUMPING shortcut per step (fwd(u) :=
        // max(fwd(u), fwd(fwd(u))) — valid because whatever reaches my
        // best ancestor reaches me), so chains collapse in O(log d)
        // steps, not O(d).
        val fwd = es.scratch(maxColoring(e, remaining, maxInner))
        // ---- backward pass on the REVERSED, same-color-restricted
        // subgraph: every node's color class has ids <= its color c (a
        // node's color is at least itself), and a path u→c inside the
        // class stays inside the class — so bwd(u) = max id u reaches
        // within its class equals c exactly when u reaches the root.
        // SCC(c) = { u : fwd(u) = bwd(u) = c }, for EVERY class at once.
        val eSame = es.scratch(materialize(e
          .join(fwd.select(col("id").as("u"), col("color").as("cu")), Seq("u"))
          .join(fwd.select(col("id").as("v"), col("color").as("cv")), Seq("v"))
          .filter(col("cu") === col("cv"))
          .select(col("v").as("u"), col("u").as("v"))))
        val bwd = es.scratch(maxColoring(eSame, remaining, maxInner))
        val members = materialize(
          fwd.join(bwd.withColumnRenamed("color", "bcolor"), "id")
            .filter(col("color") === col("bcolor"))
            .select(col("id"), col("color").as("root")))
        doneParts += members
        // both steps checkpoint, then free the pass's frames: the
        // superseded `remaining`/`e` and the fwd/eSame/bwd scratch
        remCount = rs.step(colorStep,
          remaining.join(members.select("id"), Seq("id"), "left_anti")).count()
        es.step(colorStep,
          e.join(members.select(col("id").as("u")), Seq("u"), "left_anti")
            .join(members.select(col("id").as("v")), Seq("v"), "left_anti"))
      }
      }
      }
      es.close(); rs.close()
      doneParts.reduce(_ unionByName _) // selfOnly is always a part
    }
    if (remCount > 0) throw new IllegalStateException(
      s"SCC did not finish in $maxOuter outer rounds")
    // canonical component id = min node id per SCC
    val canon = done.groupBy("root").agg(min("id").as("component"))
    done.join(canon, "root").select(col("id"), col("component"))
  }

  /** Sequential Tarjan over a driver-collected residual subgraph — the
    * bounded tail of the hybrid SCC (callers guarantee the edge frame is
    * under `maxLocalEdges` BEFORE collecting). Iterative (explicit DFS
    * stack) so recursion depth can't overflow on long cycles. Returns a
    * materialized (id, root) frame; roots are per-SCC representatives —
    * global canonicalization to min-id happens downstream.
    */
  private def localTarjan(spark: SparkSession, remaining: DataFrame,
      e: DataFrame): DataFrame = {
    import spark.implicits._
    val nodes = remaining.select(col("id")).as[Long].collect()
    val edgePairs = e.select(col("u"), col("v")).as[(Long, Long)].collect()
    val n = nodes.length
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) { idx.put(nodes(i), i); i += 1 }
    // CSR adjacency
    val off = new Array[Int](n + 1)
    i = 0
    while (i < edgePairs.length) { off(idx.get(edgePairs(i)._1) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](edgePairs.length)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < edgePairs.length) {
      val ui = idx.get(edgePairs(i)._1)
      adj(fill(ui)) = idx.get(edgePairs(i)._2); fill(ui) += 1
      i += 1
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = new Array[Int](n)
    val tstack = new Array[Int](n); var tsp = 0
    val dfs = new Array[Int](n)
    val itPos = new Array[Int](n)
    var counter = 0
    var s = 0
    while (s < n) {
      if (index(s) == -1) {
        var top = 0
        dfs(0) = s; itPos(s) = off(s)
        index(s) = counter; low(s) = counter; counter += 1
        tstack(tsp) = s; tsp += 1; onStack(s) = true
        while (top >= 0) {
          val v = dfs(top)
          if (itPos(v) < off(v + 1)) {
            val w = adj(itPos(v)); itPos(v) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              tstack(tsp) = w; tsp += 1; onStack(w) = true
              top += 1; dfs(top) = w; itPos(w) = off(w)
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              var w = -1
              while (w != v) {
                tsp -= 1; w = tstack(tsp); onStack(w) = false; comp(w) = v
              }
            }
            top -= 1
            if (top >= 0 && low(v) < low(dfs(top))) low(dfs(top)) = low(v)
          }
        }
      }
      s += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (nodes(i), nodes(comp(i))); i += 1 }
    materialize(spark.sparkContext.parallelize(out.toIndexedSeq, 4)
      .toDF("id", "root"))
  }

  /** Max-label propagation to a fixpoint, accelerated with an explicit
    * ancestor-pointer chain. Per-node state (color, anc):
    *   - color(u) = max id among the ancestors of u discovered so far
    *     (starts at u itself);
    *   - anc(u)   = SOME ancestor of u (starts at u's max in-neighbor),
    *     advanced by pointer doubling: anc(u) := anc(anc(u)).
    * Each step does one edge RELAXATION (color(u) takes max over
    * in-neighbors' colors — guarantees the true fixpoint) plus one JUMP
    * (color(u) takes anc(u)'s color, then anc doubles — collapses long
    * chains/cycles in O(log length) instead of one hop per step).
    *
    * The jump must be a separate pointer, NOT "color of my color": when
    * ids ascend along a path, color(u) = u is a self-pointer and that
    * shortcut degenerates to O(diameter) — measured on a 1000-cycle in
    * the r14 spec. Soundness: anc-chains only ever traverse ancestors,
    * so color only accumulates ids that genuinely reach u; at a
    * relaxation fixpoint color(u) >= color(v) for every in-neighbor v,
    * which by induction is the true max — the jump is pure acceleration.
    * Colors only grow — fixpoint = unchanged overflow-safe decimal sum,
    * sampled every second step (monotone, so the sampled test is sound).
    *
    * r14 measured lesson: every step references the previous frame
    * several times, so an UN-checkpointed logical plan grows ~4^k
    * between lineage cuts — at cadence 6 the analyzer+cache-lookup alone
    * cost ~5s/cut at KB-sized data. Checkpoint EVERY step: the eager
    * materialize is the step's one evaluation job, keeping the plan
    * O(1) and the job count at ~1.5/step.
    */
  private def maxColoring(e: DataFrame, nodes: DataFrame,
      maxInner: Int): DataFrame = {
    val inNbrMax = e.groupBy(col("v").as("id")).agg(max("u").as("nb"))
    val colors = new Rounds(materialize(nodes
      .join(inNbrMax, Seq("id"), "left_outer")
      .select(col("id"), col("id").as("color"),
        coalesce(col("nb"), col("id")).as("anc"))))
    def colorSum(c: DataFrame): java.math.BigDecimal =
      c.agg(sum(col("color").cast("decimal(38,0)"))).first().getDecimal(0)
    var prevSum = colorSum(colors.cur)
    var steps = 0
    var fixed = false
    def step(c: DataFrame): DataFrame = {
      val inMax = c.join(e, col("id") === col("u"))
        .groupBy(col("v").as("id")).agg(max("color").as("m1"))
      val up = c.select(col("id").as("_aid"), col("color").as("m2"),
        col("anc").as("anc2"))
      c.join(inMax, Seq("id"), "left_outer")
        .join(up, col("anc") === col("_aid"), "left_outer")
        .select(col("id"), greatest(col("color"),
          coalesce(col("m1"), col("color")),
          coalesce(col("m2"), col("color"))).as("color"),
          coalesce(col("anc2"), col("anc")).as("anc"))
    }
    while (!fixed && steps < maxInner) {
      steps += 1
      colors.step(steps, step(colors.cur)) // the step's ONE evaluation job
      if (steps % 2 == 0 || steps >= maxInner) {
        val s = colorSum(colors.cur) // cheap: runs on the checkpointed frame
        fixed = s == prevSum
        prevSum = s
      }
    }
    if (!fixed) throw new IllegalStateException(
      s"SCC coloring did not converge in $maxInner steps")
    // materialize the (id, color) projection and release the rounds: the
    // callers release what we RETURN, so the handed-out frame must own
    // its storage (r14 advice, upgraded to real block release in r16)
    val out = materialize(colors.cur.select(col("id"), col("color")))
    colors.close()
    out
  }

  /** PageRank with uniform teleport, `iterations` fixed rounds.
    * Dangling mass is redistributed uniformly each round (standard
    * formulation) so ranks sum to 1. Returns (id, rank).
    */
  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
      src: String = "_src", dst: String = "_dst"): DataFrame =
    rankLoop(edges.select(col(src).as("u"), col(dst).as("v")).distinct(),
      iterations, damping, count(lit(1)).as("outdeg"),
      col("rank") / col("outdeg"))(uniformRestart(damping))

  /** WEIGHTED PageRank — [[pageRank]] with per-edge weights: node u
    * splits its rank over out-neighbors PROPORTIONALLY to edge weight
    * (contribution rank·w/W(u) with W(u) = Σ out-weights) instead of
    * uniformly — the form every co-occurrence / similarity graph
    * actually wants (a 500-shared-orders edge should carry 500× the
    * rank of a single co-purchase). Identical iteration skeleton:
    * parallel edges pre-summed once, one contribution shuffle + a
    * broadcast one-row dangling aggregate per round (dangling =
    * W(u) = 0), frames materialized with O(1) lineage. The per-term
    * arithmetic order (rank·w then /W) is fixed so the DuckDB replay
    * is expression-identical; rank magnitudes match the unweighted
    * gate's, where round-6 output has been hash-stable since r9.
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, src: String = "_src", dst: String = "_dst",
      weight: String = "_w"): DataFrame =
    rankLoop(edges
        .select(col(src).as("u"), col(dst).as("v"),
          col(weight).cast(LongType).as("w"))
        .groupBy("u", "v").agg(sum(col("w")).cast(LongType).as("w")),
      iterations, damping, sum(col("w")).as("wout"),
      col("rank") * col("w") / col("wout"))(uniformRestart(damping))

  /** Personalized PageRank: random-walk-with-restart where the restart
    * mass (and any dangling mass) returns to the SEED set instead of the
    * whole graph — "what's similar to these nodes" by graph proximity,
    * the recommendation / related-items primitive. Same iteration shape
    * as [[pageRank]] (one shuffle per round, dangling mass as a
    * broadcast one-row frame, O(1) lineage via materialize), with the
    * restart term gated by a seed-membership flag carried on the graph
    * frame. `|S|` normalization uses the size of the GIVEN seed list;
    * seeds absent from the graph keep their share of restart mass
    * parked (standard PPR-on-subgraph convention — the oracle replays
    * it with the same constant).
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
      iterations: Int = 10, damping: Double = 0.85,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(seeds.nonEmpty, "seed set must be non-empty")
    val sN = seeds.size.toDouble
    // the restart needs |S| only, never the node count
    rankLoop(edges.select(col(src).as("u"), col(dst).as("v")).distinct(),
      iterations, damping, count(lit(1)).as("outdeg"),
      col("rank") / col("outdeg"), col("id").isin(seeds: _*).as("is_seed")) { _ =>
      (when(col("is_seed"), lit(1.0 / sN)).otherwise(lit(0.0)),
        when(col("is_seed"),
          lit((1.0 - damping) / sN) + lit(damping) * col("dmass") / sN)
          .otherwise(lit(0.0)))
    }
  }

  /** [[pageRank]]'s restart: uniform over the n graph nodes (one count
    * job on the node frame) — initial rank 1/n, teleport plus dangling
    * mass spread as (1−d)/n + d·dmass/n. */
  private def uniformRestart(damping: Double)(nodes: DataFrame): (Column, Column) = {
    val n = nodes.count().toDouble
    (lit(1.0 / n), lit((1.0 - damping) / n) + lit(damping) * col("dmass") / n)
  }

  /** The one loop behind the PageRank family, over an (u, v[, w]) edge
    * frame: the edges, the node set and the node frame (id, degree,
    * `carried`…) are materialized ONCE; each round is one contribution
    * shuffle of `share` (over rank, the degree and the edge columns)
    * plus a broadcast one-row dangling aggregate `dmass`, and the new
    * rank is `teleport + d·contrib`. `deg` is the out-degree aggregate,
    * aliased to the degree column's name. `restart` receives the node
    * frame and returns (initial rank, teleport term over dmass). Every
    * rank expression is built term for term the way the DuckDB oracles
    * replay it. Returns (id, rank).
    */
  private def rankLoop(edgeFrame: DataFrame, iterations: Int, damping: Double,
      deg: Column, share: Column, carried: Column*)(
      restart: DataFrame => (Column, Column)): DataFrame = {
    // stored ONCE: the old lazy frame re-ran the distinct shuffle every
    // iteration (r14 audit)
    loop(edgeFrame) { (sc, e) =>
    // the node and degree frames are built at the caller's parallelism,
    // from the caller-session input
    val e0 = sc.input
    val nodes = sc.keep(
      e0.select(col("u").as("id")).unionByName(e0.select(col("v").as("id"))).distinct())
    val (init, teleport) = restart(nodes)
    val degs = e0.groupBy(col("u").as("id")).agg(deg)
    val d = degs.columns(1)
    val graph0 = sc.keep(nodes.join(degs, Seq("id"), "left_outer")
      .select(Seq(col("id"), coalesce(col(d), lit(0L)).as(d)) ++ carried: _*))
    // r22 (guide §2.4): ranks CARRIES the node frame's static columns
    // through the loop — the old per-round `ranks.join(graph)`
    // re-attached them every round; both per-round consumers
    // (contribution join, dangling aggregate) now read ranks directly.
    // The carried columns widen each checkpoint; every rank value is
    // unchanged.
    val static = graph0.columns.toSeq.map(col)
    val graph = sc.in(graph0)
    // r21: checkpoint every 2nd round — lineage depth stays <= 2 rounds
    // while halving the eager write-out jobs, the loop's dominant fixed
    // cost at small per-round data; odd-round caches are read twice
    // (contribution join + dangling aggregate). r22 (the r21-verdict #2
    // settle-or-revert): the per-round revert was A/B'd twice on
    // q_pagerank_w against this cadence — 2.37× WORSE (hot control) and
    // 1.02× (clean control); the revert is never faster, so the r21
    // suite's disjoint-band regression was environmental. KEPT.
    val ranks = new Rounds(
      materialize(graph.select(static :+ init.as("rank"): _*)), 2, iterations)
    for (i <- 1 to iterations) {
      val contribs = ranks.cur.filter(col(d) > 0)
        .join(e, col("id") === col("u"))
        .select(col("v").as("id"), share.as("c"))
        .groupBy("id").agg(sum("c").as("contrib"))
      // dangling mass as a broadcast ONE-ROW frame folded into the update
      // plan — no per-iteration action (the `.first()` it replaces cost
      // one extra job per iteration, 1/3 of the loop's fixed cost)
      val dangling = ranks.cur.filter(col(d) === 0)
        .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
      ranks.step(i, graph
        .join(contribs, Seq("id"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(static :+ (teleport +
          lit(damping) * coalesce(col("contrib"), lit(0.0))).as("rank"): _*))
    }
    ranks.cur.select("id", "rank")
    }
  }

  /** Synchronous label propagation (community detection): each round a
    * node adopts the most frequent label among its neighbors (ties → the
    * smallest label, deterministic). Fixed round count — LPA has no
    * convergence guarantee under synchronous update.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 5,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val fwd = edges.select(col(src).as("u"), col(dst).as("v"))
    // canonical-half distinct (m-row exchange, not 2m) — see symmetric;
    // self-loops are NOT filtered here (a self-edge contributes the
    // node's own label, part of the declared semantics), so only the
    // non-self pairs are mirrored back
    val canon = fwd.select(least(col("u"), col("v")).as("u"),
      greatest(col("u"), col("v")).as("v")).distinct()
    loop(canon.unionByName(canon.filter(col("u") =!= col("v"))
        .select(col("v").as("u"), col("u").as("v")))) { (_, sym) =>
    // checkpoint every 2nd round: lineage depth stays <= 2 join levels
    // while halving the eager write-out jobs (the per-round fixed cost)
    val labels = new Rounds(materialize(
      sym.select(col("u").as("id")).distinct().withColumn("label", col("id"))),
      2, iterations)
    for (i <- 1 to iterations) {
      val neighborLabels = labels.cur.join(sym, col("id") === col("u"))
        .groupBy(col("v").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = neighborLabels
        .groupBy("id")
        .agg(max_by(struct(col("cnt"), (-col("label")).as("neg")),
          struct(col("cnt"), (-col("label")).as("neg"))).getField("neg").as("nl"))
        .select(col("id"), (-col("nl")).as("label"))
      // `sym` is symmetrized, so every node appears as a join target and
      // `best` covers the whole node set — no join-back needed (isolated
      // nodes can't exist in an edge-derived node set)
      labels.step(i, best)
    }
    labels.cur // checkpointed: the last round always is
    }
  }

  /** Maximal independent set — deterministic Luby rounds (Luby 1986,
    * derandomized the [[deterministicWalks]] way): per round, an
    * UNDECIDED node joins the MIS iff its round-salted hash priority
    * md5₆₀("mis{r}:" ‖ v) is STRICTLY smaller than every undecided
    * neighbor's; winners' neighbors leave as OUT; repeat. Fresh
    * per-round salts give Luby's expected O(log n) decided fraction,
    * zero RNG state makes every round an exact chained-CTE replay (hash
    * ties exclude both sides — deterministic on any engine since both
    * compare the same integers). Per round: one neighbor-min join + two
    * anti-joins, frames materialized for O(1) lineage. Returns
    * (id, state) with state in {'in', 'out', 'undecided'} after
    * `rounds` — fixed rounds are part of the semantics; on real graphs
    * a handful decides everything (spec pins MIS invariants: no two
    * 'in' nodes adjacent, every 'out' node has an 'in' neighbor).
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = 4,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    loop(symmetric(edges, src, dst)) { (_, sym) =>
    val undecided = new Rounds(materialize(sym.select(col("u").as("id")).distinct()))
    val decided = new Rounds(null) // (id, state); none before round 1
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val pri = graft.pipeline.TextOps.md5Hash60(
        concat(lit(s"mis$i:"), col("id").cast(StringType)))
      val p = undecided.cur.select(col("id"), pri.as("p"))
      // min undecided-neighbor priority (null = no undecided neighbor)
      val nbrMin = p.join(sym, col("id") === col("u"))
        .select(col("v").as("id"), col("p").as("np"))
        .join(undecided.cur, Seq("id"), "left_semi")
        .groupBy("id").agg(min(col("np")).as("np"))
      val winners = p.join(nbrMin, Seq("id"), "left")
        .filter(col("np").isNull || col("p") < col("np"))
        .select("id")
      val losers = winners.join(sym, col("id") === col("u"))
        .select(col("v").as("id")).distinct()
        .join(undecided.cur, Seq("id"), "left_semi")
        .join(winners, Seq("id"), "left_anti")
      val newDecided = winners.withColumn("state", lit("in"))
        .unionByName(losers.withColumn("state", lit("out")))
      decided.step(i, if (decided.cur eq null) newDecided
        else decided.cur.unionByName(newDecided))
      undecided.step(i, undecided.cur.join(decided.cur, Seq("id"), "left_anti"))
      done = undecided.cur.isEmpty
      i += 1
    }
    // the result reads both loop frames, each its Rounds' last checkpoint
    decided.cur.unionByName(undecided.cur.withColumn("state", lit("undecided")))
    }.orderBy("id")
  }

  /** HITS hubs & authorities (Kleinberg 1999) as fixed synchronous
    * rounds in INTEGER micro-units: authority(v) = Σ hub over in-edges,
    * hub(u) = Σ authority over out-edges, each half-round max-normalized
    * to 10⁶ by integer floor-division — `(raw·10⁶) DIV max(raw)` — so
    * the whole iteration is exact BIGINT arithmetic any engine replays
    * (the classic L2 normalization needs a sqrt the hashed surface
    * bans; max-normalization preserves the ranking and the fixpoint
    * direction). Per round: two grouped sums + two one-row broadcast
    * maxima; scores materialized for O(1) lineage. raw·10⁶ stays inside
    * BIGINT up to max-degree ~10⁶ graphs — lift to DECIMAL(38,0) beyond.
    * Returns (id, hub, auth) in scaled units after `iterations` rounds.
    */
  def hits(edges: DataFrame, iterations: Int = 5,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(iterations >= 1, s"iterations >= 1, got $iterations")
    loop(edges.select(col(src).as("u"), col(dst).as("v"))
        .filter(col(src) =!= col(dst)).distinct()) { (sc, e) =>
    val nodes = sc.keep(e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct())
    // NOTE (r21): the every-2nd-round cadence was tried here and
    // MEASURED WORSE (5.3s → 9.8s at sf0.1): auth feeds both hRaw and
    // the final join, so a two-round fused plan duplicates the
    // half-round subtrees faster than exchange reuse collapses them.
    // HITS keeps the per-round checkpoint.
    val scores = new Rounds(materialize(nodes.select(col("id"),
      lit(1000000L).as("hub"), lit(1000000L).as("auth"))), 1, iterations)
    for (i <- 1 to iterations) {
      val aRaw = nodes.join(
          e.join(scores.cur.select(col("id").as("u"), col("hub")), "u")
            .groupBy(col("v").as("id")).agg(sum(col("hub")).as("ar")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("ar"), lit(0L)).as("ar"))
      val aMax = aRaw.agg(greatest(max(col("ar")), lit(1L)).as("am"))
      val auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("id"), expr("CAST((ar * 1000000) DIV am AS BIGINT)").as("auth"))
      val hRaw = nodes.join(
          e.join(auth.select(col("id").as("v"), col("auth")), "v")
            .groupBy(col("u").as("id")).agg(sum(col("auth")).as("hr")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("hr"), lit(0L)).as("hr"))
      val hMax = hRaw.agg(greatest(max(col("hr")), lit(1L)).as("hm"))
      val hub = hRaw.crossJoin(broadcast(hMax))
        .select(col("id"), expr("CAST((hr * 1000000) DIV hm AS BIGINT)").as("hub"))
      // NOTE (r22, measured and REVERTED): anchoring hRaw on `auth` to
      // drop the final hub⋈auth join measured 1.13-1.14× WORSE across
      // two A/B rounds (control clean): the anchor duplicates the auth
      // subtree (aRaw + max aggregate) into a second consumer of the
      // fused plan — same failure mode as the r21 cadence note above.
      scores.step(i, hub.join(auth, "id").select("id", "hub", "auth"))
    }
    scores.cur
    }.orderBy("id")
  }

  /** Weighted single-source shortest paths as FIXED Bellman–Ford rounds
    * (the bounded-hop variant — `rounds` relaxations find every
    * shortest path of ≤ rounds edges; extra rounds are no-ops at the
    * fixpoint): dist_r(v) = min(dist_{r−1}(v), min over in-edges
    * (dist_{r−1}(u) + w)). Integer weights in micro-units keep the
    * whole computation exact-BIGINT (the hashed-surface rule); each
    * round is one equi-join + one min aggregation, frames materialized
    * for O(1) lineage — the iterative-loop discipline of [[pageRank]].
    * Unreached nodes are absent (no +∞ sentinel on the wire). Returns
    * (id, dist) over the weighted edge frame (u, v, w).
    */
  def weightedShortestPaths(edges: DataFrame, source: Long, rounds: Int,
      src: String = "_src", dst: String = "_dst",
      weight: String = "_w"): DataFrame = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    loop(edges.select(col(src).as("u"), col(dst).as("v"),
        col(weight).cast(LongType).as("w"))) { (sc, e) =>
    // r21: every-2nd-round checkpoint cadence (the labelPropagation
    // shape) — odd rounds cache only (dist has TWO consumers next
    // round: the relax join and the union), even rounds cut lineage
    val dist = new Rounds(
      sc.in(materialize(Seq((source, 0L)).toDF("id", "dist"))), 2, rounds)
    for (i <- 1 to rounds) {
      val relaxed = dist.cur.join(e, col("id") === col("u"))
        .select(col("v").as("id"), (col("dist") + col("w")).as("dist"))
      dist.step(i, dist.cur.unionByName(relaxed)
        .groupBy("id").agg(min(col("dist")).as("dist")))
    }
    dist.cur
    }.orderBy("id")
  }

  /** Deterministic "random" walks for graph-embedding corpora
    * (DeepWalk/node2vec-style sampling, derandomized): from each start
    * node, `walksPerStart` independent walks of `steps` hops where walk
    * w's step t moves to the out-neighbor x minimizing
    * md5(start|w|t|x) — a fixed pseudo-random choice that is uniform-ish
    * per step yet REPLAYABLE by any engine with md5 (no RNG state, no
    * seed plumbing, the q_wsample/q_shuffle discipline; walks are
    * independent of partitioning and of each other). The walkId salt is
    * what makes multiplicity real: DeepWalk/node2vec corpora want 10-80
    * walks per node, and each (start, walkId) pair draws its own hash
    * stream, so sibling walks diverge wherever out-degree > 1. A walk's
    * trajectory depends only on (start, walkId, graph) — running 2 or
    * 80 walks per start yields bit-identical rows for the shared ids
    * (spec-pinned). Walks stop early at sinks. One equi-join + one
    * min_by per step — the step count, never the walk count, bounds the
    * shuffles; all nStarts·walksPerStart walks advance in ONE frame
    * (the frame is walk-count-sized, the shuffle count is not).
    * Returns (start, walk_id, step, node) including step 0.
    */
  def deterministicWalks(edges: DataFrame, nStarts: Int, steps: Int,
      walksPerStart: Int = 1,
      src: String = "_src", dst: String = "_dst"): DataFrame =
    walkLoop(edges, nStarts, steps, walksPerStart, src, dst, Nil) { (cur, e, t) =>
      val key = md5(concat(col("start").cast(StringType), lit("|"),
        col("wid").cast(StringType), lit("|"),
        lit(t).cast(StringType), lit("|"), col("v").cast(StringType)))
      cur.join(e, col("node") === col("u"))
        .select(col("start"), col("wid"), col("v"), key.as("k"))
        .groupBy("start", "wid")
        .agg(min_by(col("v"), struct(col("k"), col("v"))).as("node"))
        .select(col("start"), col("wid"), lit(t).as("step"), col("node"))
    }

  /** The loop shared by [[deterministicWalks]] and [[node2vecWalks]]:
    * the md5-ordered first `nStarts` nodes × `walksPerStart` walk ids
    * form step 0 (start, wid, step, `extraStart`…, node); then each step
    * `t` is `next(cur, e, t)` over the walk frame `cur` and the (u, v)
    * edge frame `e`, until `steps` or until every walk has reached a
    * sink. Returns (start, walk_id, step, node) over all steps.
    */
  private def walkLoop(edges: DataFrame, nStarts: Int, steps: Int,
      walksPerStart: Int, src: String, dst: String, extraStart: Seq[Column])(
      next: (DataFrame, DataFrame, Long) => DataFrame): DataFrame = {
    require(nStarts >= 1 && steps >= 1 && walksPerStart >= 1)
    loop(edges.select(col(src).as("u"), col(dst).as("v"))) { (_, e) =>
    val wids = edges.sparkSession.range(walksPerStart.toLong)
      .select(col("id").as("wid"))
    // every step, cached or checkpointed, is retained for the final union
    val walk = new Rounds(materialize(
      e.select(col("u").as("node")).unionByName(e.select(col("v").as("node")))
        .distinct()
        .orderBy(md5(col("node").cast(StringType)), col("node"))
        .limit(nStarts)
        .crossJoin(broadcast(wids))
        .select(Seq(col("node").as("start"), col("wid"), lit(0L).as("step")) ++
          extraStart :+ col("node").as("node"): _*)), 2, steps, retain = true)
    var t = 0
    var exhausted = false
    while (t < steps && !exhausted) {
      t += 1
      walk.step(t, next(walk.cur, e, t))
      // r21: every-2nd-step checkpoint cadence (the labelPropagation
      // shape) — odd steps cache only (cur feeds the next step's join
      // AND the final union; the retained history holds both kinds).
      // The all-walks-at-sinks early exit is checked only on
      // checkpointed steps: an extra round over an empty frontier
      // unions nothing, so the output is identical.
      // History: r22 briefly reverted node2vec to per-step materialize
      // on a marginal sf0.1 A/B (0.95×/0.96×), then RESTORED the cadence
      // the same round when the 10× probe read the per-step form 2.46×
      // WORSE with disjoint bands (17.0-17.8s cadenced vs 21.7-63.9s
      // per-step) — agreeing with the r21 suite's 0.71×. sf0.1 cannot
      // see this loop's checkpoint cost; the 10× reading is the one
      // that counts.
      if (walk.checkpoints(t)) exhausted = walk.cur.isEmpty
    }
    val all = materialize(walk.history.reduce(_ unionByName _))
    walk.close()
    all
    }.select(col("start"), col("wid").as("walk_id"), col("step"), col("node"))
      .orderBy("start", "walk_id", "step")
  }

  /** Skip-gram co-occurrence lift over walk corpora — the composition
    * that closes the walk→embedding loop ([[deterministicWalks]] /
    * [[node2vecWalks]] exist to produce DeepWalk/node2vec training
    * pairs, and THESE are those pairs): count every ordered (center,
    * context) pair of walk positions at distance 1..`window` within
    * one walk, then score by the same rational lift as
    * [[graft.pipeline.TextOps.collocations]] — c_xy·N/(c_x·c_y), the
    * transcendental-free PMI surrogate (no logs on the hashed
    * surface). Pair extraction is ONE self-equi-join on
    * (start, walk_id): each walk is steps+1 rows, so the join output
    * is |walks| × O(steps·window) — corpus-sized in the WALK corpus,
    * never the graph. Marginals and N are two grouped sums and a
    * one-row broadcast (the collocations shape). Forward direction
    * only (context FOLLOWS center): symmetric context would exactly
    * double every count and marginal, changing no lift and no
    * ordering, so the directed form is the canonical surface. Returns
    * (node, ctx_node, c_xy, c_x, c_y, lift) — top `topN` by
    * (lift desc, node, ctx_node), c_xy ≥ minCount.
    */
  /** Ordered (center, context) pair counts at step distance 1..window
    * within one walk — ONE self-equi-join on (start, walk_id), output
    * walk-corpus-sized. Shared by [[walkSkipGramLift]] and
    * [[walkPmiEmbedding]]; returned lazy (callers persist).
    */
  private def walkPairCounts(walks: DataFrame, window: Int): DataFrame = {
    val a = walks.select(col("start"), col("walk_id"),
      col("step").as("i"), col("node"))
    val b = walks.select(col("start"), col("walk_id"),
      col("step").as("j"), col("node").as("ctx_node"))
    a.join(b, Seq("start", "walk_id"))
      .filter(col("j") > col("i") && col("j") <= col("i") + lit(window.toLong))
      .groupBy("node", "ctx_node")
      .agg(count(lit(1)).cast(LongType).as("c_xy"))
  }

  def walkSkipGramLift(walks: DataFrame, window: Int = 2,
      minCount: Long = 2L, topN: Int = 50): DataFrame = {
    require(window >= 1 && topN >= 1)
    // force the ≤topN surface before releasing the shared pair counts
    // (the collocations cache discipline)
    materializeOver(walkPairCounts(walks, window)) { cxy =>
      val cx = cxy.groupBy("node").agg(sum(col("c_xy")).cast(LongType).as("c_x"))
      val cy = cxy.groupBy("ctx_node")
        .agg(sum(col("c_xy")).cast(LongType).as("c_y"))
      val n = cxy.agg(sum(col("c_xy")).cast(LongType).as("n"))
      cxy.filter(col("c_xy") >= minCount)
        .join(cx, "node").join(cy, "ctx_node").crossJoin(broadcast(n))
        .select(col("node"), col("ctx_node"), col("c_xy"), col("c_x"),
          col("c_y"),
          round((col("c_xy") * col("n")).cast(DoubleType) /
            (col("c_x") * col("c_y")).cast(DoubleType), 6).as("lift"))
        .orderBy(desc("lift"), asc("node"), asc("ctx_node"))
        .limit(topN)
    }
  }

  /** Deterministic RANDOM-PROJECTION node embedding of the walk
    * skip-gram lift matrix — the step that closes walks → pairs →
    * VECTORS (r19 verdict #4): node u's d-dim vector is its lift row
    * projected through `dim` hash-derived ±1 hyperplanes,
    * v(u, d) = Σ_ctx lift_e6(u, ctx) · sign(ctx, d), where lift_e6 is
    * the [[walkSkipGramLift]] rational lift as integer millionths
    * (c_xy·N·10⁶ DIV c_x·c_y — exact IntegralDivide, zero floats on
    * the hashed surface; lift to DECIMAL once c_xy·N approaches
    * 9.2·10¹², i.e. multi-trillion-pair corpora) and sign(ctx, d) is
    * ±1 by the md5(ctx|d) last-hex-digit parity (the md5-parity device
    * of [[louvainLevels]] — no RNG state, engine-replayable). Random
    * ±1 projections preserve inner products in expectation
    * (Achlioptas '01, public construction), so nodes with similar
    * context distributions land near each other — the vectors feed the
    * existing ANN / kNN-graph tier directly (spec-pinned), while exact
    * SVD/SGNS factorization stays out of scope per the §2.6
    * cross-engine-float rule (deterministic integer projection IS the
    * engine-portable embedding).
    *
    * Scale: pair counts are walk-corpus-sized ([[walkPairCounts]]);
    * the projection explodes each lift row dim-fold (integers, not
    * text) into one (node, d) grouped sum with map-side combine —
    * |lifted|·dim rows through one exchange, |nodes|·dim out. Returns
    * (node, d, v), all-BIGINT, ordered.
    */
  def walkPmiEmbedding(walks: DataFrame, window: Int = 2,
      minCount: Long = 2L, dim: Int = 8): DataFrame = {
    require(window >= 1 && dim >= 1)
    val sign = when(conv(substring(md5(concat(
        col("ctx_node").cast(StringType), lit("|"),
        col("d").cast(StringType))), 32, 1), 16, 10).cast(LongType) % 2 === 0,
      lit(1L)).otherwise(lit(-1L))
    materializeOver(walkPairCounts(walks, window)) { cxy =>
      val cx = cxy.groupBy("node").agg(sum(col("c_xy")).cast(LongType).as("c_x"))
      val cy = cxy.groupBy("ctx_node")
        .agg(sum(col("c_xy")).cast(LongType).as("c_y"))
      val n = cxy.agg(sum(col("c_xy")).cast(LongType).as("n"))
      cxy.filter(col("c_xy") >= minCount)
        .join(cx, "node").join(cy, "ctx_node").crossJoin(broadcast(n))
        .select(col("node"), col("ctx_node"),
          expr("CAST((c_xy * n * 1000000) DIV (c_x * c_y) AS BIGINT)").as("le6"))
        .select(col("node"), col("ctx_node"), col("le6"),
          explode(sequence(lit(0), lit(dim - 1))).as("d"))
        .groupBy("node", "d")
        .agg(sum(col("le6") * sign).cast(LongType).as("v"))
        .orderBy("node", "d")
    }
  }

  /** node2vec-BIASED deterministic walks (Grover & Leskovec 2016,
    * derandomized): [[deterministicWalks]]'s hash-argmin machinery with
    * the second-order return/in/out bias. Each candidate hop x from
    * node (previous node prev) carries an integer weight — `retW` when
    * x == prev (the 1/p "return" class), `inW` when edge prev→x exists
    * (distance-1, the BFS-ish class; also the unbiased first hop where
    * prev is null), `outW` otherwise (the 1/q DFS-ish class) — and the
    * walk takes the candidate minimizing md5₆₀(start|w|t|x) DIV weight:
    * an integer-exact priority where larger weights win more often,
    * preserving node2vec's bias ORDERING with zero floats and zero RNG
    * state (exact sampling proportionality is NOT claimed — this is the
    * derandomized surrogate, documented). The second-order state is one
    * `prev` column; the adjacency test is one extra (prev, x) equi-join
    * per step against the edge set — so a step costs two equi-joins +
    * one min_by, and the step count still bounds the shuffles with all
    * nStarts·walksPerStart walks advancing in ONE frame.
    * Returns (start, walk_id, step, node) including step 0.
    */
  def node2vecWalks(edges: DataFrame, nStarts: Int, steps: Int,
      walksPerStart: Int = 1, retW: Long = 250L, inW: Long = 1000L,
      outW: Long = 500L,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(retW >= 1 && inW >= 1 && outW >= 1, "weights are positive integers")
    walkLoop(edges, nStarts, steps, walksPerStart, src, dst,
        Seq(lit(null).cast(LongType).as("prev"))) { (cur, e, t) =>
      val adj = e.select(col("u").as("pu"), col("v").as("pv"), lit(1).as("adj"))
      val h = graft.pipeline.TextOps.md5Hash60(
        concat(col("start").cast(StringType), lit("|"),
          col("wid").cast(StringType), lit("|"),
          lit(t).cast(StringType), lit("|"), col("v").cast(StringType)))
      val w = when(col("prev").isNull, lit(inW))
        .when(col("v") === col("prev"), lit(retW))
        .when(col("adj").isNotNull, lit(inW))
        .otherwise(lit(outW))
      cur.join(e, col("node") === col("u"))
        .join(adj, col("prev") === col("pu") && col("v") === col("pv"), "left")
        .select(col("start"), col("wid"), col("node"), col("v"),
          // IntegralDivide, never `/` — double division loses exactness
          // past 2^53 and the 60-bit hash needs all its bits
          call_function("div", h, w).cast(LongType).as("score"))
        .groupBy("start", "wid")
        .agg(min_by(col("v"), struct(col("score"), col("v"))).as("nx"),
          max(col("node")).as("prev")) // one row per walk — node is constant
        .select(col("start"), col("wid"), lit(t).as("step"), col("prev"),
          col("nx").as("node"))
    }
  }

  /** Modularity-based community detection — fixed synchronous rounds of
    * Louvain's phase-1 local move (Blondel et al. 2008): each round
    * every node considers joining the community of a neighbor (or
    * staying) and picks the one maximizing the modularity gain, ties →
    * the smallest community id, all nodes updated synchronously. The
    * gain comparison runs on the INTEGER surrogate
    * `score(C) = S·k_{i,in}(C) − k_i·Σtot'(C)` with S = Σdeg = 2m and
    * Σtot'(C) excluding i's own degree when i ∈ C — this is the
    * standard ΔQ = k_{i,in}/m − k_i·Σtot'/(2m²) scaled by the positive
    * constant 2m², so the argmax (and therefore the labeling) is
    * EXACTLY Louvain's, with zero floats on the hashed surface (the
    * q_colloc rule; S·kin ≤ 2m·deg — lift to DECIMAL(38,0) beyond
    * ~10⁹-edge graphs). Fixed rounds + deterministic tie-break = a
    * chained-CTE SQL replay computes the identical labeling (the
    * q_labelprop discipline; synchronous Louvain has no convergence
    * guarantee, so rounds are part of the semantics). Per round: one
    * Σtot aggregation, one neighbor-community count (Σdeg rows), one
    * max_by — all equi-keyed, labels materialized for O(1) lineage.
    */
  def louvain(edges: DataFrame, rounds: Int = 3,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    louvainOnSym(symmetric(edges, src, dst), rounds)
      .select(col("id"), col("c").as("community"))
  }

  /** The canonical symmetric distinct edge frame (u, v), self-loops
    * dropped, lazy (a [[loop]] input stores it) — the start of every
    * louvain tier, [[hyperBall]], [[maximalIndependentSet]] and
    * [[kCore]]. [[louvainLevels]] derives it ONCE and shares it between
    * phase 1 and the level-2 contraction (r22) — the fused form paid the
    * whole union+distinct shuffle twice (guide §1.2: don't recompute
    * what you already have).
    */
  private def symmetric(edges: DataFrame,
      src: String, dst: String): DataFrame = {
    val fwd = edges.select(col(src).as("u"), col(dst).as("v"))
      .filter(col(src) =!= col(dst))
    // r22 (guide §2.3 — shuffle fewer bytes): canonicalize BEFORE the
    // distinct so its exchange carries m rows instead of 2m, then
    // symmetrize; the two directions of a canonical pair can never
    // collide, so the union of a distinct canonical frame with its
    // reverse is distinct by construction — the same set as the old
    // `fwd ∪ reverse |> distinct`
    val canon = fwd.select(least(col("u"), col("v")).as("u"),
      greatest(col("u"), col("v")).as("v")).distinct()
    canon.unionByName(canon.select(col("v").as("u"), col("u").as("v")))
  }

  /** [[louvain]]'s local-move loop over a symmetric frame (a stored one
    * stays the caller's); returns checkpointed (id, c, k). */
  private def louvainOnSym(sym0: DataFrame, rounds: Int): DataFrame =
    loop(sym0) { (sc, sym) =>
    val deg = sc.keep(
      sym.groupBy(col("u").as("id")).agg(count(lit(1)).cast(LongType).as("k")))
    // S = Σdeg, one scalar — the only driver-side value of the loop (0,
    // not NULL, over a graph with no non-self edge)
    val s = deg.agg(coalesce(sum(col("k")), lit(0L))).collect()(0).getLong(0)
    // r22 (guide §2.4 — remove shuffles outright): labels CARRIES the
    // node degree k, so the loop no longer joins `deg` anywhere — the
    // per-round tot aggregation and the scored join each drop one
    // node-count join+exchange (2 joins/round × rounds). k is constant
    // per id, so grouping by (id, k) has the exact same groups as (id)
    // and every label is unchanged (oracle hash-green).
    // NOTE (r21): the every-2nd-round cadence was tried here and
    // measured WORSE (labels has four consumers per round — the fused
    // two-round plan re-derives them faster than the saved checkpoint
    // job pays back). Louvain keeps the per-round checkpoint.
    val labels = new Rounds(
      materialize(deg.select(col("id"), col("id").as("c"), col("k"))), 1, rounds)
    for (i <- 1 to rounds) {
      val tot = labels.cur.groupBy("c").agg(sum(col("k")).as("tot"))
      // k_{i,in}(C): edges from i into each neighbor community
      val kin = sym
        .join(labels.cur.select(col("id").as("v"), col("c").as("cand")), "v")
        .groupBy(col("u").as("id"), col("cand"))
        .agg(count(lit(1)).cast(LongType).as("kin"))
      // candidates = neighbor communities ∪ the current community
      // (kin = 0 when no neighbor is in it); max picks the kin row when
      // both sources contribute the same (id, cand)
      val cands = kin.unionByName(
          labels.cur.select(col("id"), col("c").as("cand"))
            .withColumn("kin", lit(0L)))
        .groupBy("id", "cand").agg(max(col("kin")).as("kin"))
      val scored = cands
        .join(tot.withColumnRenamed("c", "cand"), "cand")
        .join(labels.cur, "id")
        .withColumn("tot2", col("tot") -
          when(col("cand") === col("c"), col("k")).otherwise(lit(0L)))
        .withColumn("score", lit(s) * col("kin") - col("k") * col("tot2"))
      labels.step(i, scored.groupBy("id", "k")
        .agg(max_by(struct(col("score"), (-col("cand")).as("neg")),
          struct(col("score"), (-col("cand")).as("neg"))).getField("neg").as("nc"))
        .select(col("id"), (-col("nc")).as("c"), col("k")))
    }
    // returned with the carried k column — the checkpoint ROOT, so a
    // caller's release frees the blocks (release matches checkpoint
    // roots only); callers project (id, c) themselves
    labels.cur
    }

  /** MULTI-LEVEL Louvain (default two levels) — phase 1 ([[louvain]]'s
    * integer local move) +
    * the graph COARSENING phase 2 of Blondel et al. 2008 that the r17
    * verdict flagged as missing: phase-1 communities contract to
    * super-nodes (edge weight between super-nodes = ordered-pair count
    * between their members; a community's self-row gets 2×intra-edges,
    * so row sums — the weighted degrees — and S = Σdeg are PRESERVED by
    * construction), then the SAME integer-surrogate local move reruns
    * on the weighted super-graph: score(C) = S·k_{i,in}(C) − k_i·Σtot′
    * with k_{i,in} a weighted sum over non-self rows (the self-loop is
    * internal whatever the choice, so it cancels in the argmax) and
    * k_i the full weighted degree INCLUDING the self-loop. Phase-2
    * rounds are SEMI-synchronous: only super-nodes whose round-salted
    * md5 parity (last hex digit of md5(id|round), the Luby-MIS device)
    * is even move in a given round — fully synchronous moves on a
    * mutually-attracted super-node PAIR (the common two-communities
    * case after contraction) label-SWAP forever instead of merging;
    * the salted parity breaks every 2-cycle within a few rounds,
    * deterministically. Fixed rounds at both levels keep the labeling
    * exactly replayable by a chained-CTE oracle (the q_louvain
    * discipline).
    * Every node's final label is its phase-1 community's phase-2
    * community — on hierarchical graphs phase 1 finds the fine tier
    * and phase 2 merges it (spec: a planted two-level hierarchy phase
    * 1 under-merges and phase 2 recovers). The coarse frame is
    * communities × communities-adjacency sized, so the phase-2 loop
    * runs on a graph that SHRINKS with the quality of phase 1 — the
    * property that makes real Louvain feasible on 10⁹-edge graphs.
    *
    * `levels` (r19) runs the contraction + local-move pair as a
    * fixed-depth recursion — Blondel's full multi-level scheme: level
    * l contracts the level-(l−1) WEIGHTED super-graph by its local
    * move's labels (edge weight = SUM of member-pair weights, so
    * self-loops accumulate and weighted degrees stay preserved at
    * every tier) and reruns the same weighted move. Each level's
    * coarse frame shrinks with the quality of the level below, so
    * cost is dominated by level 1; levels = 2 is bit-identical to the
    * r18 two-level form (the q_louvain2 gate). Returns (id, community)
    * with community a level-`levels` label.
    */
  def louvainLevels(edges: DataFrame, rounds: Int = 3, rounds2: Int = 2,
      levels: Int = 2,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(rounds2 >= 1, s"rounds2 >= 1, got $rounds2")
    require(levels >= 2, s"levels >= 2 (levels = 1 IS louvain), got $levels")
    // r22 (guide §1.2): derive the symmetric distinct frame ONCE and
    // share it between phase 1 and the level-2 contraction — the old
    // form called louvain(edges) (which built and released its own
    // sym0) and then re-ran the identical union+distinct shuffle for
    // the contraction input.
    val sym0 = materialize(symmetric(edges, src, dst))
    // checkpointed (id, c, k) by louvain's loop — reads are plan-cheap
    val l1 = louvainOnSym(sym0, rounds)
    // wg: the current-level weighted graph, from sym0 — each level's
    // contraction supersedes it (sym0 is freed once the level-2
    // contraction has stored it); its scratch is the level's local move,
    // whose last reader is the next contraction. mapping: original id ->
    // current deepest label, from l1 — each level's join supersedes it.
    val wg = new Rounds(sym0)
    val mapping = new Rounds(l1)
    var lab = l1
    for (level <- 2 to levels) {
      // contraction: weight between super-nodes = Σ member-pair weights
      // — wg carries both directions (and self-rows from level 2 on),
      // so cross weights land symmetric and the self row (cu = cv)
      // accumulates 2×intra-weight, preserving weighted degrees
      val g =
        if (level == 2) wg.cur.select(col("u"), col("v"), lit(1L).as("w"))
        else wg.cur
      wg.step(level, g
        .join(lab.select(col("id").as("u"), col("c").as("cu")), "u")
        .join(lab.select(col("id").as("v"), col("c").as("cv")), "v")
        .groupBy(col("cu").as("u"), col("cv").as("v"))
        .agg(sum(col("w")).cast(LongType).as("w")))
      lab = wg.scratch(louvainLocalMove(wg.cur, rounds2))
      val m =
        if (level == 2) mapping.cur.select(col("id"), col("c").as("community"))
        else mapping.cur
      mapping.step(level, m
        .join(lab.select(col("id").as("community"), col("c").as("c2")),
          "community")
        .select(col("id"), col("c2").as("community")))
    }
    wg.close()
    mapping.cur
  }

  /** WEIGHTED Louvain phase 1 — [[louvainLocalMove]] (the integer-
    * surrogate local move every coarse tier of [[louvainLevels]] runs)
    * exposed over an arbitrary weighted edge frame, so community
    * detection works directly on similarity / co-occurrence graphs
    * (the q_pagerank_w multiplicity graph) instead of flattening their
    * weights to 1 (r19 verdict #2: the machinery existed, only level 1
    * hardwired w=1). Edges canonicalize to unordered pairs (duplicate /
    * reverse listings merge by SUMMING — degree-preserving whatever the
    * caller's listing convention) and both directions feed the move.
    * Semantics are louvainLocalMove's: fixed semi-synchronous rounds
    * (round-salted md5 parity gates movers — breaks mutually-attracted
    * 2-cycles), score(C) = S·k_{i,in}(C) − k_i·Σtot′ on exact integers,
    * smallest-community tie-break — chained-CTE replayable, and
    * weight-SCALE invariant (w → c·w scales every score by c², so the
    * labeling is identical; spec-pinned). Returns (id, community).
    */
  def louvainWeighted(edges: DataFrame, rounds: Int = 3,
      src: String = "_src", dst: String = "_dst",
      weight: String = "_w"): DataFrame = {
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    // the hyperBall integral-id rule, applied to weights (r20 advice):
    // the move runs on exact BIGINT weights, and a silent
    // cast(LongType) of double weights < 1 truncated them to 0 (zero-
    // weight edges still entered the move) while breaking the
    // documented weight-scale invariance for non-integer scales — fail
    // loudly; callers with fractional similarities pre-scale to
    // integers (micro-units), the standard exact-arithmetic move.
    locally {
      val t = edges.schema(weight).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
        s"louvainWeighted requires integral edge weights; column " +
          s"'$weight' is $t — pre-scale fractional weights to integer " +
          "micro-units first (the exact-arithmetic surface rule)")
    }
    val fwd = edges.select(col(src).as("u"), col(dst).as("v"),
        col(weight).cast(LongType).as("w"))
      .filter(col("u") =!= col("v"))
    val und = fwd.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum(col("w")).cast(LongType).as("w"))
    louvainLocalMove(
      und.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionByName(und.select(col("b").as("u"), col("a").as("v"), col("w"))),
      rounds).select(col("id"), col("c").as("community"))
  }

  /** The weighted integer-surrogate local move shared by every coarse
    * tier of [[louvainLevels]]: semi-synchronous md5-parity rounds of
    * score(C) = S·k_{i,in}(C) − k_i·Σtot′ over a weighted symmetric
    * frame (u, v, w) with degree-preserving self-rows (k_{i,in} sums
    * non-self rows — the self-loop is internal whatever the choice, so
    * it cancels in the argmax; k_i includes it). A stored input stays
    * the caller's; returns checkpointed (id, c) the caller releases.
    */
  private def louvainLocalMove(wsym0: DataFrame, rounds2: Int): DataFrame =
    loop(wsym0) { (sc, wsym) =>
    val deg = sc.keep(wsym.groupBy(col("u").as("id"))
      .agg(sum(col("w")).cast(LongType).as("k")))
    val s = deg.agg(coalesce(sum(col("k")), lit(0L))).collect()(0).getLong(0)
    // NOTE (r22, measured and REVERTED — twice): the louvain-level-1
    // labels-carry-k trick (r21 verdict #5) was tried here in BOTH
    // shapes and lost both interleaved A/Bs on q_louvain_w:
    //  - wide (carry k AND c through the argmax groupBy, drop the deg
    //    joins AND the parity join): 1.04× / 1.09× — the widened
    //    Σcandidate-row argmax shuffle outweighs the saved node-count
    //    broadcast joins;
    //  - narrow (carry k on labels only, keep the parity join):
    //    1.23× / 1.28× (controls 0.97 / 0.87) — even the wider labels
    //    checkpoint + estimate-shifted tot join loses.
    // The weighted move keeps the r21 shape; the unweighted louvain
    // level-1 loop (louvainOnSym) KEEPS its carry-k form, which
    // measured 0.91-0.97× — its deg joins were real exchanges there.
    // per-round checkpoint: the every-2nd-round cadence measured worse
    // here too — see louvainOnSym
    val labels = new Rounds(
      materialize(deg.select(col("id"), col("id").as("c"))), 1, rounds2)
    for (r <- 1 to rounds2) {
      val tot = labels.cur.join(deg, "id")
        .groupBy("c").agg(sum(col("k")).as("tot"))
      val kin = wsym.filter(col("u") =!= col("v"))
        .join(labels.cur.select(col("id").as("v"), col("c").as("cand")), "v")
        .groupBy(col("u").as("id"), col("cand"))
        .agg(sum(col("w")).cast(LongType).as("kin"))
      val cands = kin.unionByName(
          labels.cur.select(col("id"), col("c").as("cand"))
            .withColumn("kin", lit(0L)))
        .groupBy("id", "cand").agg(max(col("kin")).as("kin"))
      val scored = cands
        .join(tot.withColumnRenamed("c", "cand"), "cand")
        .join(deg, "id")
        .join(labels.cur, "id")
        .withColumn("tot2", col("tot") -
          when(col("cand") === col("c"), col("k")).otherwise(lit(0L)))
        .withColumn("score", lit(s) * col("kin") - col("k") * col("tot2"))
      val moved = scored.groupBy("id")
        .agg(max_by(struct(col("score"), (-col("cand")).as("neg")),
          struct(col("score"), (-col("cand")).as("neg"))).getField("neg").as("nc"))
        .select(col("id"), (-col("nc")).as("cNew"))
      // semi-synchronous active set: last md5(id|round) hex digit even
      val par = conv(substring(md5(concat(col("id").cast(StringType),
        lit("|"), lit(r).cast(StringType))), 32, 1), 16, 10)
        .cast(LongType) % 2
      labels.step(r, moved.join(labels.cur, "id")
        .select(col("id"),
          when(par === 0L, col("cNew")).otherwise(col("c")).as("c")))
    }
    labels.cur
    }

  /** k-core: iteratively drop nodes whose (undirected) degree falls
    * below k until stable; returns the surviving nodes with their
    * in-core degree. Run as FIXED synchronous rounds — so a chained-CTE
    * SQL replay computes the identical result; `rounds` big enough to
    * reach the fixed point acts as the exact k-core (pruning converges
    * in at most graph-diameter-ish rounds, and extra rounds are no-ops).
    *
    * r22 DELTA PEEL (guide §2.3/§3.1 — per-round work tracks the DROP
    * set, not the graph): the old loop re-aggregated degrees over the
    * FULL symmetric frame and inner-joined it twice against the large
    * keep set every round; on the gate graph only ~7% of nodes ever
    * drop, so nearly all of that per-round work re-derived what the
    * previous round already knew. Degrees are now MAINTAINED: round i
    * computes drop = {deg < k} (node-sized), subtracts each survivor's
    * lost-neighbor count (edges semi-joined by the SMALL drop side —
    * AQE broadcasts it when small, no hint, scale-adaptive), and
    * anti-joins the drop set into the edge frame. deg_i == per-node
    * counts of e_i holds by induction (zero-degree survivors leave deg
    * the same round their last edge does), so drop_i equals the old
    * keep-complement restricted to nodes that still have edges and
    * e_i is ROUND-FOR-ROUND identical to the old loop (spec-pinned
    * against an independent per-round reference). Convergence (empty
    * drop ⟺ no edge removed) is checked on the node-sized frame
    * instead of a full edge count. Ids-only shuffles throughout.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 10,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val eFinal = loop(symmetric(edges, src, dst)) { (_, e00) =>
    // checkpoint cadence like labelPropagation: cut lineage every 2nd
    // round, cache otherwise — halves the eager write-out jobs
    val e = new Rounds(e00, 2, rounds)
    val deg = new Rounds(materialize(e.cur.groupBy("u").agg(count(lit(1)).as("d"))))
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      val drop = materialize(deg.cur.filter(col("d") < k).select("u"))
      if (drop.isEmpty) {
        // FIXED-POINT early exit — oracle-safe: an empty drop set means
        // the round removes no edge, so every remaining round is a
        // no-op and the result equals the full `rounds` replay
        converged = true
      } else {
        val dropV = drop.withColumnRenamed("u", "v")
        // survivors' degree loss = removed edges incident from the drop
        // side; the semi-join keys on the small drop frame
        val loss = e.cur.join(dropV, Seq("v"), "left_semi")
          .groupBy("u").agg(count(lit(1)).as("l"))
        val degNext = deg.cur.join(drop, Seq("u"), "left_anti")
          .join(loss, Seq("u"), "left_outer")
          .select(col("u"), (col("d") - coalesce(col("l"), lit(0L))).as("d"))
          // a survivor whose last edge died this round leaves deg NOW —
          // keeps deg == per-node counts of e (the old loop's groupBy)
          .filter(col("d") > 0)
        val next = e.cur.join(drop, Seq("u"), "left_anti")
          .join(dropV, Seq("v"), "left_anti")
          .select("u", "v")
        deg.step(i, degNext)
        e.step(i, next)
      }
      // the drop frame fed deg's checkpoint; the lazy e of an odd round
      // still reads it, so it is e's scratch, released one round later
      e.scratch(drop)
      i += 1
    }
    // the final e may be a lazy cache whose plan reads the last drop:
    // done() forces it into its own checkpoint before releasing
    val out = e.done()
    deg.close()
    out
    }
    eFinal.groupBy(col("u").as("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** k-truss decomposition membership (Cohen 2008): fixed synchronous
    * support-pruning rounds — drop every edge in fewer than `support`
    * triangles, recount, repeat — the EDGE-cohesion analog of
    * [[kCore]]'s vertex pruning, and the cheapest dense-subgraph
    * certificate above triangles.
    *
    * Round 1 pays ONE degree-ordered triangle listing (the O(m^1.5)
    * triangleCount shape). Later rounds choose per round between a full
    * recount of the (collapsed) survivor graph and a DELTA-recount: a
    * surviving edge's support only changes through triangles it shared
    * with a just-deleted edge, so when the deletion set D is SMALL the
    * round enumerates only the triangles CONTAINING a deleted edge (fan
    * each deleted edge from its lower-degree endpoint into the previous
    * adjacency — cost tracks Σ_{d∈D} min-deg, the deletion
    * neighborhood), dedups them (a triangle with 2+ deleted edges must
    * decrement each survivor once), scatters to surviving member edges
    * and subtracts. When D is LARGE (the post-round-1 mass extinction:
    * most edges die, and fanning a graph-sized D costs more than
    * relisting the pruned survivors — measured 3.5× worse at sf0.1) the
    * round falls back to the degree-ordered full recount, which that
    * same pruning has made cheap. Both paths produce identical supports
    * by induction (spec-pinned against [[kTrussFullRecount]] across
    * cascade/shared-edge/derived graphs).
    *
    * Measured honesty (per-round wall time, sf0.1): round 1 = 17.1s,
    * rounds 2-3 = 2.8s, converged at round 3 with every later round a
    * mass-deletion full recount — on the co-order gate graph the delta
    * branch never fires and the hybrid equals the old full-recount loop
    * exactly. The delta path's value is the slow-cascade regime (high
    * support thresholds, many rounds, small per-round deletions), where
    * the old loop paid a survivor-graph relisting per round; it is NOT a
    * round-1 fix — that one listing is the algorithmic floor.
    * Iteration frames are
    * materialized so lineage stays O(1). Early exit at the fixed point
    * is oracle-safe: a no-prune round leaves supports untouched, so the
    * converged surface equals the fixed-round replay. Returns surviving
    * (u, v, sup) with the final-round support — all integers.
    */
  def kTruss(edges: DataFrame, support: Int, rounds: Int = 5,
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    // rounds < 1 would skip the loop and dereference a null result frame
    require(rounds >= 1, s"rounds >= 1, got $rounds")
    require(support >= 1, s"support >= 1, got $support")
    // canonical undirected edges (u < v), like the oracle's related CTE
    val supFinal = loop(edges.select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v")).distinct()) { (sc, e00) =>
    var edgeCount = sc.rows
    // release cadence: the lazy deleted-set of round i reads the
    // checkpoints of out_{i-1} AND out_i, so out_{i-1} is only
    // releasable once round i+1 has built ITS deleted set — two rounds
    // back. e00 is the initial two-back frame.
    val out = new Rounds(e00, back = 2)
    // round 1: the one full listing — support of every e00 edge
    out.step(1, supportOf(e00, edgeCount).filter(col("sup") >= support))
    // deleted set = e00 edges NOT surviving (incl. triangle-less edges,
    // absent from supportOf and pruned by any support >= 1). LAZY on
    // purpose: both parents are checkpointed, so the plan is O(1) and
    // the anti-join only ever runs in delta rounds that read it —
    // full-recount rounds never pay for it
    var deleted = e00.join(out.cur.select("u", "v"), Seq("u", "v"),
      "left_anti")
    var n = out.cur.count()
    var nDeleted = edgeCount - n
    var converged = n == edgeCount
    edgeCount = n
    var i = 2
    while (i <= rounds && !converged) {
      val e = out.cur.select("u", "v")
      // strategy pivot: deltas win only when the deletion set is small
      // relative to the survivors; after a mass-extinction round the
      // pruned graph is what's cheap to relist (measured at sf0.1:
      // delta-always was 3.5× WORSE than full recount on round 2's
      // graph-sized D). 8× is a coarse cost ratio — the delta fan-out
      // lacks the full listing's degree ordering, so it needs real slack.
      val supNew = if (nDeleted * 8 > n) {
        supportOf(e, n)
      } else {
        // triangles of the PREVIOUS edge set (survivors ∪ deleted)
        // containing >= 1 deleted edge: fan each deleted edge from its
        // LOWER-degree endpoint into the previous adjacency — cost
        // tracks Σ_{d∈D} min-deg, the deletion neighborhood
        val prev = e.unionByName(deleted.select("u", "v"))
        val undPrev = prev.select(col("u").as("z"), col("v").as("w"))
          .unionByName(prev.select(col("v").as("z"), col("u").as("w")))
        val degPrev = undPrev.groupBy("z").agg(count(lit(1)).as("d"))
        val fanned = deleted.select("u", "v")
          .join(degPrev.select(col("z").as("u"), col("d").as("du")), Seq("u"))
          .join(degPrev.select(col("z").as("v"), col("d").as("dv")), Seq("v"))
          .select(
            when(struct(col("du"), col("u")) <= struct(col("dv"), col("v")),
              col("u")).otherwise(col("v")).as("x"),
            when(struct(col("du"), col("u")) <= struct(col("dv"), col("v")),
              col("v")).otherwise(col("u")).as("y"))
        val tris = fanned
          .join(undPrev.withColumnRenamed("z", "x"), Seq("x"))
          .filter(col("w") =!= col("y"))
          .join(undPrev.select(col("z").as("y"), col("w")), Seq("y", "w"),
            "left_semi")
          // canonicalize so a triangle with 2-3 deleted edges counts ONCE
          .select(array_sort(array(col("x"), col("y"), col("w"))).as("t"))
          .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
          .distinct()
        // scatter each destroyed triangle to its member edges; only
        // SURVIVING members need the decrement
        val dec = tris.select(explode(array(
            struct(col("a").as("u"), col("b").as("v")),
            struct(col("a").as("u"), col("c").as("v")),
            struct(col("b").as("u"), col("c").as("v")))).as("t"))
          .select(col("t.u").as("u"), col("t.v").as("v"))
          .join(e, Seq("u", "v"), "left_semi")
          .groupBy("u", "v")
          .agg(count(lit(1)).cast(LongType).as("dec"))
        out.cur.join(dec, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            (col("sup") - coalesce(col("dec"), lit(0L))).as("sup"))
      }
      out.step(i, supNew.filter(col("sup") >= support))
      deleted = e.join(out.cur.select("u", "v"), Seq("u", "v"), "left_anti")
      n = out.cur.count()
      nDeleted = edgeCount - n
      converged = n == edgeCount
      edgeCount = n
      i += 1
    }
    // loop exit: the returned frame reads only out's checkpoint, and the
    // final lazy deleted-set is never consumed again — so the two-back
    // frame (e00 itself when the loop converged after round 1 or
    // rounds == 1) has no live reader left (r17 ADVICE leak)
    out.done()
    }
    supFinal.select(col("u").as("part_u"), col("v").as("part_v"), col("sup"))
      .orderBy("part_u", "part_v")
  }

  /** Per-edge triangle support via DEGREE-ORDERED listing (the
    * triangleCount shape — O(m^1.5) wedge candidates, not the 2-sided
    * adjacency join, which measured ~5x slower on the dense co-order
    * graph): each closed wedge is ONE triangle (a,b,c), scattered to
    * its three canonical edges, counted per edge. Edges in no triangle
    * are absent — support 0, pruned by any threshold >= 1. Input must be
    * canonical (u < v, distinct).
    */
  private def supportOf(e: DataFrame, nEdges: Long): DataFrame = {
    val deg = e.select(col("u").as("n")).unionByName(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("b"))
    // the closing-edge set IS e (canonical u < v) — read it straight off
    // the caller's checkpointed frame instead of re-deriving it through
    // the deg joins via `oriented` (r22; one less evaluation of the
    // orientation subtree, and the Bloom build scans the checkpoint)
    val closing = e.select(col("u").as("b"), col("v").as("c"))
    closedWedges(oriented, closing, nEdges)
      .select(explode(array(
        struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")),
        struct(col("b").as("u"), col("c").as("v")))).as("t"))
      .select(col("t.u").as("u"), col("t.v").as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).cast(LongType).as("sup"))
  }

  /** The full-recount k-truss loop — relists ALL triangles every round.
    * Kept as the spec baseline for [[kTruss]]'s delta-recount (identical
    * output by induction; KTrussDeltaSpec pins it on planted and derived
    * graphs). Not for production use: every round pays the whole-graph
    * wedge join the delta version only pays once.
    */
  private[algos] def kTrussFullRecount(edges: DataFrame, support: Int,
      rounds: Int = 5, src: String = "_src", dst: String = "_dst"): DataFrame = {
    require(rounds >= 1 && support >= 1)
    val supFinal = loop(edges.select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .filter(col("u") =!= col("v")).distinct()) { (sc, e00) =>
    var edgeCount = sc.rows
    val out = new Rounds(e00)
    var e = out.cur
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      e = out.step(i, supportOf(e, edgeCount).filter(col("sup") >= support))
        .select("u", "v")
      val n = e.count()
      converged = n == edgeCount
      edgeCount = n
      i += 1
    }
    out.cur
    }
    supFinal.select(col("u").as("part_u"), col("v").as("part_v"), col("sup"))
      .orderBy("part_u", "part_v")
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for
    * node pairs sharing neighbors, RA(a,b) = Σ_{z ∈ Γa∩Γb} 1/deg(z) —
    * the measure that beats common-neighbors by discounting hub
    * intermediaries, and the rational-only member of the family
    * (Adamic–Adar's 1/log(deg) is a transcendental the hashed surface
    * bans, SURVEY §2.6). Same wedge enumeration as
    * [[clusteringCoefficient]] — two joins on the center z, bounded by
    * Σdeg² — with each 1/deg term rounded 6dp and summed as exact
    * DECIMAL so the score is aggregation-order independent (the
    * q_harmonic trick). Top-K by (score, a, b) — TakeOrdered.
    *
    * `sampleN` > 0 bounds PAIR ENDPOINTS to the N nodes with the
    * smallest md5(node) — the q_mine/q_nodesim gate rule: the per-pair
    * aggregation is Σdeg² rows, quadratic in density, so the exact
    * surface must be bounded IN THE GATE (measured 25.8s at sf0.1
    * unbounded). Degrees stay FULL-GRAPH (RA's discounting semantics);
    * only which pairs are scored is sampled — the production path
    * scores candidate pairs from a blocking stage instead.
    */
  def resourceAllocation(edges: DataFrame, topK: Int = 50,
      sampleN: Int = 0,
      src: String = "_src", dst: String = "_dst"): DataFrame =
    commonNeighborScores(edges, topK, sampleN, src, dst, "ra")(
      d => round(lit(1.0) / d.cast(DoubleType), 6))

  /** Adamic–Adar link prediction (Adamic & Adar 2003) — the third
    * member of the common-neighbor family (Jaccard: q_nodesim, RA:
    * q_ra): aa(a,b) = Σ_{z ∈ Γa ∩ Γb} 1/ln(deg z), a LOGARITHMIC hub
    * discount between RA's harsh 1/deg and raw common-neighbor
    * counting. Same wedge enumeration, same per-term round-6
    * DECIMAL(18,6) exact summation; ln is safe — a common neighbor has
    * degree ≥ 2 by construction, so ln(deg) ≥ ln 2 > 0. Shares every
    * scale property of [[resourceAllocation]] (sampled gate form,
    * candidate-bounded composition via [[resourceAllocationScores]]'s
    * shape).
    */
  def adamicAdar(edges: DataFrame, topK: Int = 50,
      sampleN: Int = 0,
      src: String = "_src", dst: String = "_dst"): DataFrame =
    commonNeighborScores(edges, topK, sampleN, src, dst, "aa")(
      d => round(lit(1.0) / log(d.cast(DoubleType)), 6))

  /** Shared wedge-enumeration core of the common-neighbor link
    * predictors: per-intermediary term from `termOf(deg z)`, exact
    * DECIMAL(18,6) per-pair summation, deterministic top-K. */
  private def commonNeighborScores(edges: DataFrame, topK: Int,
      sampleN: Int, src: String, dst: String, scoreName: String)(
      termOf: Column => Column): DataFrame = {
    val fwd = edges.select(col(src).as("p1"), col(dst).as("p2"))
      .filter(col(src) =!= col(dst)).distinct()
    val und = fwd.select(col("p1").as("z"), col("p2").as("nbr"))
      .unionByName(fwd.select(col("p2").as("z"), col("p1").as("nbr")))
    val deg = und.groupBy("z").agg(count(lit(1)).cast(LongType).as("deg"))
    val undSampled = if (sampleN > 0) {
      val picked = und.select(col("nbr")).distinct()
        .orderBy(md5(col("nbr").cast(StringType)), col("nbr"))
        .limit(sampleN)
      und.join(picked, Seq("nbr"))
    } else und
    val dec = DecimalType(18, 6)
    // NOTE (r22, measured and REVERTED): attaching deg BEFORE the wedge
    // self-join + broadcasting the sampled nbr2 side turned the wedge
    // join into a BroadcastHashJoin (plans/r22/q_aa_{before,after}.txt)
    // but measured 1.08-1.48× WORSE at sf0.1 (2 A/B rounds, q_mis
    // control clean): the original shape already exchange-reuses the
    // identical undSampled sides and broadcasts the small deg frame
    // into the wedge output, while the "improved" shape re-evaluates
    // the undSampled subtree (incl. the TakeOrdered sample) for the
    // broadcast side and pays a Σdeg-row SortMergeJoin for the early
    // deg attach. At gate scale (sampleN bounds the surface) the wedge
    // output is sample-bounded, so the post-wedge deg join is NOT the
    // 100 TB hazard it resembles.
    val terms = undSampled.join(
        undSampled.select(col("z"), col("nbr").as("nbr2")),
        Seq("z"))
      .filter(col("nbr") < col("nbr2"))
      .join(deg, Seq("z"))
      .select(col("nbr").as("a"), col("nbr2").as("b"),
        termOf(col("deg")).cast(dec).as("term"))
    terms.groupBy("a", "b")
      .agg(count(lit(1)).cast(LongType).as("n_common"),
        sum(col("term")).cast(dec).as("score_dec"))
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("n_common"), col("score_dec").cast(DoubleType).as(scoreName))
      .orderBy(desc(scoreName), asc("part_a"), asc("part_b"))
      .limit(topK)
  }

  /** Jaccard node similarity over a bipartite (node, feature) relation —
    * the link-prediction primitive (Neo4j GDS nodeSimilarity's measure):
    * sim(a,b) = |Γa ∩ Γb| / |Γa ∪ Γb| with Γ the feature set, top-K
    * pairs by similarity. The reference reaches this shape through
    * two-hop Cypher patterns with count aggregation; here it is the
    * classic posting-list self-join: group by feature, pair nodes
    * within a posting, count shared features per pair, one exact
    * integer division at the end (single IEEE divide of exact ints —
    * bit-identical in any engine, SURVEY §2.6).
    *
    * Scale controls, both replayable in the oracle:
    *  - `occCap` drops features whose posting exceeds the cap — the
    *    prefix-filtering/stopword cut that bounds candidate pairs to
    *    occCap·|edges| (without it a single hub feature alone generates
    *    occ²/2 pairs). Degrees are computed AFTER the cut so the
    *    measure is self-consistent on the filtered relation.
    *  - `sampleN` > 0 restricts to the N nodes with the smallest
    *    md5(node) — the fixed-size deterministic gate bound (the q_mine
    *    rule: exact all-pairs verification surfaces must be bounded in
    *    the GATE, not just guarded in the operator), non-binding when N
    *    exceeds the node count.
    * The production path at 100 TB keeps occCap and swaps the final
    * global top-K for the per-node top-k of [[nodeSimilarityTopK]].
    */
  def nodeSimilarity(rel: DataFrame, nodeCol: String, featCol: String,
      topK: Int = 20, sampleN: Int = 0, occCap: Int = 1024): DataFrame =
    nodeSimPairs(rel, nodeCol, featCol, sampleN, occCap)
      .orderBy(desc("jaccard"), asc("node_a"), asc("node_b"))
      .limit(topK)

  /** The shared scored-pair frame behind both node-similarity surfaces:
    * (node_a < node_b, inter, deg_a, deg_b, jaccard) for every candidate
    * pair that shares ≥ 1 kept feature. See [[nodeSimilarity]] for the
    * occCap / sampleN scale controls.
    */
  private def nodeSimPairs(rel: DataFrame, nodeCol: String, featCol: String,
      sampleN: Int, occCap: Int): DataFrame = {
    var cp = rel.select(col(nodeCol).as("node"), col(featCol).as("feat"))
      .distinct()
    if (sampleN > 0) {
      val picked = cp.select("node").distinct()
        .orderBy(md5(col("node").cast(StringType)), col("node"))
        .limit(sampleN)
      cp = cp.join(picked, Seq("node"))
    }
    val occ = cp.groupBy("feat").agg(count(lit(1)).as("occ"))
    val kept = cp.join(occ.filter(col("occ") <= occCap).select("feat"), Seq("feat"))
    val deg = kept.groupBy("node").agg(count(lit(1)).cast(LongType).as("deg"))
    val a = kept.select(col("feat"), col("node").as("node_a"))
    val b = kept.select(col("feat"), col("node").as("node_b"))
    val pairs = a.join(b, Seq("feat"))
      .filter(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).cast(LongType).as("inter"))
    pairs
      .join(deg.select(col("node").as("node_a"), col("deg").as("deg_a")), Seq("node_a"))
      .join(deg.select(col("node").as("node_b"), col("deg").as("deg_b")), Seq("node_b"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) /
          (col("deg_a") + col("deg_b") - col("inter")).cast(DoubleType))
      .select("node_a", "node_b", "inter", "deg_a", "deg_b", "jaccard")
  }

  /** Per-node top-k node similarity — the PRODUCTION shape of
    * [[nodeSimilarity]] and the operator the reference's benchmark
    * exercises as `related_items_depth*` (reference
    * benchmark/src/queries.ts:97-111): a similarity GRAPH (each node's k
    * most similar peers), not k global pairs. Every scored pair is
    * scattered to BOTH endpoints and ranked per node in TWO stages,
    * because a single `Window.partitionBy(node)` would sort a hub
    * node's ENTIRE candidate list (deg·occCap rows — ~10⁸ for a
    * deg-10⁵ hub at occCap 1024) inside ONE task, and window
    * partitions — unlike grouped AGGREGATES with partial combine —
    * cannot be split by AQE (the r17 hub-window finding):
    *  1. a salted local top-k: rank within (node, hash(nbr) mod P) —
    *     each (node, nbr) pair is unique, so nbr-hash salting spreads
    *     a hub's candidates over all P reducers (bucket ≤ candidates/P
    *     in expectation) — and keep k per bucket. The merge law is the
    *     kmvMins one: every row of the node's true top-k is inside its
    *     own bucket's top-k, so the prune never drops a winner.
    *  2. the per-node window over survivors — ≤ k·P rows per node by
    *     construction, bounded whatever the hub degree.
    * Rows and ranks are identical to the single-window definition (the
    * oracle replays that definition; spec pins a planted hub). Ties
    * break on (jaccard DESC, nbr ASC) — jaccard is an exact IEEE
    * divide of integers, so the order replays cross-engine.
    * Returns (node, rnk, nbr, inter, deg_node, deg_nbr, jaccard).
    */
  def nodeSimilarityTopK(rel: DataFrame, nodeCol: String, featCol: String,
      kPerNode: Int = 5, sampleN: Int = 0, occCap: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kPerNode >= 1, s"kPerNode >= 1, got $kPerNode")
    val scored = nodeSimPairs(rel, nodeCol, featCol, sampleN, occCap)
    val sym = scored.select(col("node_a").as("node"), col("node_b").as("nbr"),
        col("inter"), col("deg_a").as("deg_node"), col("deg_b").as("deg_nbr"),
        col("jaccard"))
      .unionByName(scored.select(col("node_b").as("node"),
        col("node_a").as("nbr"), col("inter"), col("deg_b").as("deg_node"),
        col("deg_a").as("deg_nbr"), col("jaccard")))
    val parts = sym.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toLong
    val wLocal = Window.partitionBy("node", "_salt")
      .orderBy(desc("jaccard"), asc("nbr"))
    val pruned = sym
      .withColumn("_salt", pmod(xxhash64(col("nbr")), lit(parts)))
      .withColumn("_lrn", row_number().over(wLocal))
      .filter(col("_lrn") <= kPerNode)
      .drop("_salt", "_lrn")
    val w = Window.partitionBy("node").orderBy(desc("jaccard"), asc("nbr"))
    pruned.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= kPerNode)
      .select("node", "rnk", "nbr", "inter", "deg_node", "deg_nbr", "jaccard")
      .orderBy("node", "rnk")
  }

  /** Score an EXTERNALLY SUPPLIED candidate-pair frame with the
    * resource-allocation index — the production path of
    * [[resourceAllocation]]: at corpus scale nobody enumerates all
    * Σdeg² wedge pairs; a blocking stage (MinHash bands, sorted
    * neighborhood, [[nodeSimilarityTopK]] output, business rules)
    * proposes pairs and this scores them. Cost is candidate-bounded:
    * one equi-join fanning each pair to Γ(a) (Σ_pairs deg(a) rows), one
    * (b, z) equi-join keeping the common neighbors, one broadcast-sized
    * degree join. Degrees are FULL-graph (RA's discounting semantics);
    * pairs with no common neighbor keep their row with ra = 0 — a
    * blocking stage wants the negative signal too. Terms are the same
    * 6dp-rounded 1/deg summed as exact DECIMAL, so scores equal
    * [[resourceAllocation]]'s on any shared pair (spec-pinned).
    * Returns (a, b, n_common, ra) canonicalized a < b.
    */
  def resourceAllocationScores(pairs: DataFrame, edges: DataFrame,
      aCol: String = "a", bCol: String = "b",
      src: String = "_src", dst: String = "_dst"): DataFrame = {
    val fwd = edges.select(col(src).as("p1"), col(dst).as("p2"))
      .filter(col(src) =!= col(dst)).distinct()
    val und = fwd.select(col("p1").as("z"), col("p2").as("nbr"))
      .unionByName(fwd.select(col("p2").as("z"), col("p1").as("nbr")))
    val deg = und.groupBy("z").agg(count(lit(1)).cast(LongType).as("deg"))
    val p = pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dec = DecimalType(18, 6)
    val common = p
      .join(und.select(col("nbr").as("a"), col("z")), Seq("a"))
      .join(und.select(col("nbr").as("b"), col("z")), Seq("b", "z"))
    val scored = common.join(deg, Seq("z"))
      .select(col("a"), col("b"),
        round(lit(1.0) / col("deg").cast(DoubleType), 6).cast(dec).as("term"))
      .groupBy("a", "b")
      .agg(count(lit(1)).cast(LongType).as("n_common"),
        sum(col("term")).cast(dec).as("ra_dec"))
    p.join(scored, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("ra_dec").cast(DoubleType), lit(0.0)).as("ra"))
      .orderBy("a", "b")
  }
}
