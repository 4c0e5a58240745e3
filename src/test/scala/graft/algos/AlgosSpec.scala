package graft.algos

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct, min}

class AlgosSpec extends SparkSpec {

  private def edgesOf(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toSeq.toDF("_src", "_dst")
  }

  test("shortestPaths BFS on a path + branch graph") {
    // 1->2->3->4, 1->5, 5->4: dist(4) = min(3, 2) = 2
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 5L, 5L -> 4L)
    val got = Algos.shortestPaths(e, source = 1L, maxDepth = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 5L -> 1, 3L -> 2, 4L -> 2))
  }

  test("shortestPaths respects maxDepth") {
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val got = Algos.shortestPaths(e, source = 1L, maxDepth = 2)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("hopHistogram counts first-reach nodes per seed and level") {
    // 1->2->3->4 chain plus 5->3 shortcut; seeds 1 and 5
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 3L)
    val got = Algos.hopHistogram(e, seeds = Seq(1L, 5L), maxDepth = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 0L) -> 1L, (1L, 1L) -> 1L, (1L, 2L) -> 1L, (1L, 3L) -> 1L,
      (5L, 0L) -> 1L, (5L, 1L) -> 1L, (5L, 2L) -> 1L))
  }

  test("harmonicCentrality sums 1/d over reaching seeds, skips unreached") {
    // 1->2->3->4 chain plus 5->3 shortcut; seeds 1 and 5
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 3L)
    val got = Algos.harmonicCentrality(e, seeds = Seq(1L, 5L), maxDepth = 3)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_sources"), r.getAs[Double]("harmonic")))).toMap
    // node 2: only seed 1 at d=1; node 3: seed 1 at d=2 + seed 5 at d=1;
    // node 4: seed 1 at d=3 + seed 5 at d=2; seeds themselves unreached
    assert(got.keySet == Set(2L, 3L, 4L))
    assert(got(2L) == ((1L, 1.0)))
    assert(got(3L) == ((2L, 1.5)))
    assert(got(4L) == ((2L, 0.333333 + 0.5)))
  }

  test("triangleCount on canonically ordered edges") {
    // triangles: (1,2,3) and (1,3,4); non-triangle edge 2->5
    val e = edgesOf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 1L -> 4L, 2L -> 5L)
    val got = Algos.triangleCount(e).collect()(0).getLong(0)
    assert(got == 2L)
  }

  test("connectedComponents labels each component with its min id") {
    // components {1,2,3}, {10,11}, chain + isolated pair
    val e = edgesOf(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val got = Algos.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("stronglyConnectedComponents: cycles, bridge, tails, determinism") {
    // 0→1, cycle {1,2,3}, bridge 3→5, cycle {5,6}, tail 6→7:
    // SCCs {0} {1,2,3} {5,6} {7} — direction matters (CC would merge all)
    val e = edgesOf(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 1L,
      3L -> 5L, 5L -> 6L, 6L -> 5L, 6L -> 7L)
    val got = Algos.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // partitioning-independent: same result on a repartitioned frame
    val re = Algos.stronglyConnectedComponents(e.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
    // adversarial descending path (worst case for pure coloring): the
    // trim phase must peel it without one outer round per node
    val path = edgesOf(9L -> 8L, 8L -> 7L, 7L -> 6L, 6L -> 5L)
    val p = Algos.stronglyConnectedComponents(path, maxOuter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == Map(9L -> 9L, 8L -> 8L, 7L -> 7L, 6L -> 6L, 5L -> 5L))
  }

  test("SCC distributed path matches local Tarjan and handles self-loops") {
    // same graph, plus a self-loop-only node 42 (must surface as a
    // singleton — r13 advice: it used to vanish) and a self-loop on a
    // cycle member (must not change its SCC)
    val e = edgesOf(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 2L,
      3L -> 5L, 5L -> 6L, 6L -> 5L, 6L -> 7L, 42L -> 42L)
    val expect = Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 42L -> 42L)
    val local = Algos.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expect)
    val dist = Algos.stronglyConnectedComponents(e, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
  }

  test("SCC distributed path: 1000-node cycle converges in O(log n) steps") {
    import spark.implicits._
    // one giant cycle — pointer-jumped coloring must collapse it without
    // O(n) propagation rounds (maxInner 40 ≈ 2·log2(1000) headroom)
    val n = 1000L
    val e = spark.range(n).select(col("id").as("_src"),
      ((col("id") + 1) % n).as("_dst"))
    val got = Algos.stronglyConnectedComponents(
      e, maxLocalEdges = 0L, maxInner = 40)
    assert(got.select(countDistinct(col("component"))).first().getLong(0) == 1L)
    assert(got.count() == n)
    assert(got.select(min(col("component"))).first().getLong(0) == 0L)
  }

  test("SCC distributed path: descending chain of 2-cycles peels per round") {
    import spark.implicits._
    // 2-cycles {2k, 2k+1} with c_k -> c_{k-1} (descending ids): max-
    // coloring merges the whole chain into one color class, so exactly
    // one condensation level peels per outer round — 12 levels need
    // maxOuter >= 12 (the documented bound; maxOuter default 50 holds)
    val levels = 12
    val cyc = (0 until levels).flatMap { k =>
      Seq((2L * k, 2L * k + 1), (2L * k + 1, 2L * k))
    }
    val down = (1 until levels).map { k => (2L * k, 2L * (k - 1)) }
    val e = (cyc ++ down).toDF("_src", "_dst")
    val got = Algos.stronglyConnectedComponents(e, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (0 until levels).flatMap { k =>
      Seq(2L * k -> 2L * k, (2L * k + 1) -> 2L * k)
    }.toMap
    assert(got == expect)
  }

  test("pageRank sums to 1 and favors the sink of a star") {
    // star: 1..4 all point at 5
    val e = edgesOf(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L)
    val ranks = Algos.pageRank(e, iterations = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    assert(ranks(5L) > ranks(1L) * 3)
    assert(Seq(1L, 2L, 3L, 4L).map(ranks).distinct.size == 1) // symmetry
  }

  test("personalizedPageRank concentrates mass near the seeds") {
    // two chains joined at the tail: 1->2->3->6, 4->5->6
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 6L, 4L -> 5L, 5L -> 6L)
    val ranks = Algos.personalizedPageRank(e, seeds = Seq(1L), iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // total mass conserved (6 is dangling, its mass returns to the seed)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
    // the seed outranks everything; mass decays along its chain
    assert(ranks(1L) > ranks(2L) && ranks(2L) > ranks(3L))
    // the off-seed chain receives nothing except through the shared sink
    assert(ranks(4L) == 0.0 && ranks(5L) == 0.0)
    assert(ranks(6L) > 0.0)
    // multi-seed: symmetric seeds get symmetric ranks
    val r2 = Algos.personalizedPageRank(e, seeds = Seq(1L, 4L), iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r2(2L) - r2(5L)) < 1e-9)
  }

  test("labelPropagation separates two cliques") {
    val clique1 = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L)
    val clique2 = Seq(10L -> 11L, 10L -> 12L, 11L -> 12L)
    val e = edgesOf(clique1 ++ clique2: _*)
    val got = Algos.labelPropagation(e, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got).size == 1)
    assert(Set(10L, 11L, 12L).map(got).size == 1)
    assert(got(1L) != got(10L))
  }

  test("maximalIndependentSet: invariants hold and everything decides on a small graph") {
    // two triangles joined by a bridge + a pendant
    val e = edgesOf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 4L -> 6L, 6L -> 7L)
    val got = Algos.maximalIndependentSet(e, rounds = 6).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("state")).toMap
    val edgeSet = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L))
    def adjacent(a: Long, b: Long) = edgeSet((a, b)) || edgeSet((b, a))
    val ins = got.filter(_._2 == "in").keys.toSeq
    // independence: no two MIS members adjacent
    for (a <- ins; b <- ins if a < b) assert(!adjacent(a, b), s"$a-$b both in")
    // maximality: every out node has an in neighbor
    got.filter(_._2 == "out").keys.foreach { o =>
      assert(ins.exists(i => adjacent(o, i)), s"$o out with no in neighbor")
    }
    // 6 rounds decide a 7-node graph completely
    assert(!got.values.exists(_ == "undecided"))
    assert(got.size == 7)
    // deterministic under repartition
    val again = Algos.maximalIndependentSet(e, rounds = 6).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("state")).toMap
    assert(again == got)
  }

  test("effectiveDiameter: known ranks on a directed path") {
    // path 1→2→...→10 from seed 1: 10 reached, p90 rank 9 → dist 8
    val e = edgesOf((1L to 9L).map(i => i -> (i + 1)): _*)
    val p90 = Algos.effectiveDiameter(e, seeds = Seq(1L), maxDepth = 9)
      .collect()(0)
    assert(p90.getAs[Long]("n_reached") == 10L)
    assert(p90.getAs[Long]("eff_diameter") == 8L)
    val p50 = Algos.effectiveDiameter(e, seeds = Seq(1L), maxDepth = 9,
      permille = 500).collect()(0)
    assert(p50.getAs[Long]("eff_diameter") == 4L) // rank 5 → dist 4
  }

  test("hits: directed star separates pure hubs from the pure authority") {
    // leaves 1..4 each point at center 9: leaves are hubs, 9 authority
    val e = edgesOf(1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 9L)
    val got = Algos.hits(e, iterations = 3).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("hub"), r.getAs[Long]("auth")))).toMap
    (1L to 4L).foreach { i => assert(got(i) == ((1000000L, 0L)), s"leaf $i") }
    assert(got(9L) == ((0L, 1000000L)))
  }

  test("weightedShortestPaths: relaxation beats the direct shortcut; rounds bound hops") {
    import spark.implicits._
    val e = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L))
      .toDF("_src", "_dst", "_w")
    val d6 = Algos.weightedShortestPaths(e, source = 1L, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dist")).toMap
    assert(d6 == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    // one round only reaches direct edges
    val d1 = Algos.weightedShortestPaths(e, source = 1L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("dist")).toMap
    assert(d1 == Map(1L -> 0L, 2L -> 10L, 3L -> 25L))
  }

  test("deterministicWalks: every hop is an edge, walks stop at sinks, layout-invariant") {
    val e = edgesOf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L)
    val edgeSet = Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = Algos.deterministicWalks(e, nStarts = 5, steps = 6).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("step"),
        r.getAs[Long]("node")))
    val byStart = got.groupBy(_._1)
    byStart.foreach { case (s, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(path.head == s, "step 0 is the start")
      path.sliding(2).foreach {
        case Array(a, b) => assert(edgeSet((a, b)), s"($a,$b) not an edge")
        case _ => ()
      }
      // node 5 is a sink: any walk reaching it stops there
      if (path.contains(5L)) assert(path.last == 5L)
    }
    val again = Algos.deterministicWalks(e.repartition(7), nStarts = 5,
      steps = 6).collect().map(r => (r.getAs[Long]("start"),
        r.getAs[Long]("step"), r.getAs[Long]("node")))
    assert(again.sorted.toSeq == got.sorted.toSeq)
  }

  test("deterministicWalks: sibling walks are independent and diverge on branches") {
    // star-ish branching graph: every node has out-degree >= 2 for the
    // first hops, so the walkId salt has room to pick differently
    val e = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 5L, 2L -> 6L,
      3L -> 5L, 3L -> 7L, 4L -> 6L, 4L -> 7L, 5L -> 1L, 6L -> 1L, 7L -> 1L)
    def run(wps: Int) = Algos.deterministicWalks(e, nStarts = 7, steps = 5,
      walksPerStart = wps).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("walk_id"),
        r.getAs[Long]("step"), r.getAs[Long]("node")))
    val w4 = run(4)
    // (start, walk_id, step) is a key — one node per walk-step
    assert(w4.map(t => (t._1, t._2, t._3)).distinct.length == w4.length)
    // a walk depends only on (start, walkId): the wid<2 slice of the
    // 4-walk run is bit-identical to the 2-walk run
    val w2 = run(2)
    assert(w4.filter(_._2 < 2).sorted.toSeq == w2.sorted.toSeq)
    // multiplicity is real: at least one start's sibling walks diverge
    val trajectories = w4.groupBy(t => (t._1, t._2)).toSeq
      .map { case ((s, _), rows) => (s, rows.sortBy(_._3).map(_._4).toVector) }
    val perStart = trajectories.groupBy(_._1).map { case (s, ts) =>
      s -> ts.map(_._2).toSet.size }
    assert(perStart.values.exists(_ > 1),
      "every sibling walk identical - walkId salt not reaching the hash")
  }

  test("node2vecWalks: hops are edges, extreme return weight forces backtracking") {
    // bidirectional triangle + tail so "return" is always available
    val e = edgesOf(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 3L -> 1L,
      1L -> 3L, 1L -> 4L, 4L -> 1L, 4L -> 5L, 5L -> 4L)
    val edgeSet = Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 3L), (1L, 4L), (4L, 1L), (4L, 5L), (5L, 4L))
    val got = Algos.node2vecWalks(e, nStarts = 5, steps = 6, walksPerStart = 2)
      .collect().map(r => (r.getAs[Long]("start"), r.getAs[Long]("walk_id"),
        r.getAs[Long]("step"), r.getAs[Long]("node")))
    got.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      val path = rows.sortBy(_._3).map(_._4)
      path.sliding(2).foreach {
        case Array(a, b) => assert(edgeSet((a, b)), s"($a,$b) not an edge")
        case _ => ()
      }
    }
    // retW >> in/out: from step 2 on the walk must return to prev
    val back = Algos.node2vecWalks(e, nStarts = 5, steps = 5,
        retW = 1000000L, inW = 1L, outW = 1L)
      .collect().map(r => (r.getAs[Long]("start"), r.getAs[Long]("step"),
        r.getAs[Long]("node")))
    back.groupBy(_._1).foreach { case (s, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      (2 until path.length).foreach { i =>
        assert(path(i) == path(i - 2),
          s"start $s must oscillate under extreme return weight: ${path.toSeq}")
      }
    }
    // layout invariance
    val again = Algos.node2vecWalks(e.repartition(7), nStarts = 5, steps = 6,
      walksPerStart = 2).collect().map(r => (r.getAs[Long]("start"),
        r.getAs[Long]("walk_id"), r.getAs[Long]("step"), r.getAs[Long]("node")))
    assert(again.sorted.toSeq == got.sorted.toSeq)
  }

  test("hyperBall: balls never cross components") {
    // two disjoint triangles: after any number of rounds each node's
    // registers are its own component's register set, never the union
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 1L,
      10L -> 11L, 11L -> 12L, 12L -> 10L)
    val hb = Algos.hyperBall(e, rounds = 3, p = 4).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("t"),
        r.getAs[Long]("n_present"), r.getAs[Long]("sum_reg"),
        r.getAs[Long]("z_num")))
    val fin = hb.filter(_._2 == 3L)
    val compA = fin.filter(_._1 < 10L).map(t => (t._3, t._4, t._5)).distinct
    val compB = fin.filter(_._1 >= 10L).map(t => (t._3, t._4, t._5)).distinct
    assert(compA.length == 1 && compB.length == 1,
      "each component must converge to ONE register snapshot")
    assert(compA.head != compB.head,
      "disjoint components must not share register state")
  }

  test("adamicAdar: exact 1/ln(deg) terms; hub discount is gentler than RA") {
    // z1 connects (1,2) with deg 2; z2 is a hub connecting (1,2) too
    val e = edgesOf(10L -> 1L, 10L -> 2L, 20L -> 1L, 20L -> 2L,
      20L -> 3L, 20L -> 4L, 20L -> 5L)
    val aa = Algos.adamicAdar(e).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Double]("aa")))).toMap
    val t2 = BigDecimal(1.0 / math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val t5 = BigDecimal(1.0 / math.log(5.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(aa((1L, 2L))._1 == 2L)
    assert(aa((1L, 2L))._2 == (t2 + t5).toDouble)
    // RA discounts the hub harder: 1/5 < 1/ln(5)
    val ra = Algos.resourceAllocation(e).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        r.getAs[Double]("ra")).toMap
    assert(ra((1L, 2L)) < aa((1L, 2L))._2)
  }

  test("pageRankWeighted: mass sums to 1; heavy edge pulls rank; uniform weights equal pageRank") {
    import spark.implicits._
    // 1 feeds 2 (weight 9) and 3 (weight 1); 2 and 3 feed back to 1
    val we = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("_src", "_dst", "_w")
    val r = Algos.pageRankWeighted(we, iterations = 10).collect()
      .map(row => row.getAs[Long]("id") -> row.getAs[Double]("rank")).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(2L) > r(3L), s"nine-fold edge weight must pull rank: $r")
    // all-equal weights reduce EXACTLY to the unweighted operator
    val uni = Seq((1L, 2L, 7L), (2L, 3L, 7L), (3L, 1L, 7L), (1L, 3L, 7L))
      .toDF("_src", "_dst", "_w")
    val w10 = Algos.pageRankWeighted(uni, iterations = 10).collect()
      .map(row => row.getAs[Long]("id") -> row.getAs[Double]("rank")).toMap
    val u10 = Algos.pageRank(uni.select(col("_src"), col("_dst")),
        iterations = 10).collect()
      .map(row => row.getAs[Long]("id") -> row.getAs[Double]("rank")).toMap
    w10.foreach { case (id, v) =>
      assert(math.abs(v - u10(id)) < 1e-12, s"uniform weights diverge at $id") }
  }

  test("degreeSpectrum: hand-computed log2 degree buckets") {
    // star: center degree 4 (bucket 3), leaves degree 1 (bucket 1)
    val e = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L)
    val got = Algos.degreeSpectrum(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, 1L, 4L, 800L), (3, 4L, 1L, 200L)))
  }

  test("hyperBall: balls grow to the component; final registers equal the whole set") {
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L) // path, diameter 4
    val hb = Algos.hyperBall(e, rounds = 4, p = 4).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("t"),
        r.getAs[Long]("n_present"), r.getAs[Long]("sum_reg"),
        r.getAs[Long]("z_num")))
    assert(hb.length == 5 * 5, "one row per (node, t)")
    // t=0: each ball is {self} -> exactly one occupied register
    assert(hb.filter(_._2 == 0L).forall(_._3 == 1L))
    // registers only grow -> z_num is non-increasing in t per node
    hb.groupBy(_._1).foreach { case (id, rows) =>
      val z = rows.sortBy(_._2).map(_._5).toSeq
      assert(z.sliding(2).forall(w => w.length < 2 || w(1) <= w(0)),
        s"z_num must be monotone for node $id: $z")
    }
    // after diameter rounds every ball = the whole component, so every
    // node's final snapshot is THE SAME register multiset
    val fin = hb.filter(_._2 == 4L).map(t => (t._3, t._4, t._5)).distinct
    assert(fin.length == 1, s"final balls must coincide: ${fin.toSeq}")
    // and the union rule is partitioning-invariant
    val again = Algos.hyperBall(e.repartition(7), rounds = 4, p = 4).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("t"),
        r.getAs[Long]("n_present"), r.getAs[Long]("sum_reg"),
        r.getAs[Long]("z_num")))
    assert(again.sorted.toSeq == hb.sorted.toSeq)
  }

  test("walkSkipGramLift: in-walk window pairs only, forward direction, exact lift") {
    import spark.implicits._
    // walk (1,0): 1>2>3>4 ; walk (9,0): 1>2>9 ; walk (1,1): 5>6 —
    // the last shares walk (1,0)'s start, so any cross-walk leak
    // between them (e.g. a 4->5 pair) would surface
    val walks = Seq(
      (1L, 0L, 0L, 1L), (1L, 0L, 1L, 2L), (1L, 0L, 2L, 3L), (1L, 0L, 3L, 4L),
      (9L, 0L, 0L, 1L), (9L, 0L, 1L, 2L), (9L, 0L, 2L, 9L),
      (1L, 1L, 0L, 5L), (1L, 1L, 1L, 6L)
    ).toDF("start", "walk_id", "step", "node")
    val got = Algos.walkSkipGramLift(walks, window = 2, minCount = 1L,
        topN = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // window-2 forward pairs: (1,2)x2, (1,3), (2,3), (2,4), (3,4),
    // (1,9), (2,9), (5,6); N=9 — (1,4) is distance 3, (4,5)/(9,5)
    // would cross walks: all absent
    val want = Seq(
      (5L, 6L, 1L, 1L, 1L, 9.0),
      (3L, 4L, 1L, 1L, 2L, 4.5),
      (1L, 2L, 2L, 4L, 2L, 2.25),
      (2L, 3L, 1L, 3L, 2L, 1.5),
      (2L, 4L, 1L, 3L, 2L, 1.5),
      (2L, 9L, 1L, 3L, 2L, 1.5),
      (1L, 3L, 1L, 4L, 2L, 1.125),
      (1L, 9L, 1L, 4L, 2L, 1.125))
    assert(got.toSeq == want, s"got ${got.toSeq}")
    // minCount prunes the singletons; topN truncates deterministically
    val pruned = Algos.walkSkipGramLift(walks, window = 2, minCount = 2L,
      topN = 100).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq == Seq((1L, 2L)))
  }

  test("hyperBall: packed registers equal the row-form union rule exactly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    // re-derive the (node, bucket, register) ROW-form loop the packed
    // RegMaxAgg replaced in r19 and pin full snapshot equality
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 1L,
      2L -> 6L, 6L -> 7L)
    val p = 4; val m = 1 << p; val c = 60 - p + 1; val rounds = 3
    val fwd = e.select(col("_src").as("u"), col("_dst").as("v"))
      .filter(col("_src") =!= col("_dst"))
    val sym = fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val nodes = sym.select(col("u").as("id")).distinct()
    var regs = graft.pipeline.Sketches.hllCells(
        nodes.select(col("id"), col("id").as("val")), "val", "id", p)
      .groupBy(col("grp").as("id"), col("bucket"))
      .agg(max(col("rho")).as("register"))
    def snap(t: Int, r: DataFrame): DataFrame =
      r.groupBy("id").agg(
        count(lit(1)).cast(LongType).as("n_present"),
        sum(col("register").cast(LongType)).cast(LongType).as("sum_reg"),
        sum(call_function("shiftleft", lit(1L), lit(c) - col("register")))
          .cast(LongType).as("z_present"))
        .select(col("id"), lit(t.toLong).as("t"), col("n_present"),
          col("sum_reg"),
          (col("z_present") + (lit(m.toLong) - col("n_present")) *
            lit(1L << c)).as("z_num"))
    var expected = snap(0, regs)
    for (t <- 1 to rounds) {
      val scattered = sym
        .join(regs.withColumnRenamed("id", "v"), "v")
        .select(col("u").as("id"), col("bucket"), col("register"))
      regs = scattered.unionByName(regs)
        .groupBy("id", "bucket").agg(max(col("register")).as("register"))
      expected = expected.unionByName(snap(t, regs))
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[Long]("t"), r.getAs[Long]("n_present"),
        r.getAs[Long]("sum_reg"), r.getAs[Long]("z_num"))
    val want = expected.collect().map(key).sorted.toSeq
    val got = Algos.hyperBall(e, rounds, p).collect().map(key).sorted.toSeq
    assert(got == want, "packed register snapshots must equal the row form")
  }

  test("neighborhoodFunction: monotone NF curve, constant node count, final reach 1000") {
    val e = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L) // path, diameter 4
    val rounds = 4
    val nf = Algos.neighborhoodFunction(e, rounds, p = 4).collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("nf_e3"), r.getAs[Long]("reach_permille")))
    assert(nf.length == rounds + 1, "one row per round incl. t=0")
    assert(nf.map(_._1).toSeq == (0L to rounds.toLong))
    assert(nf.forall(_._2 == 5L), s"node count must be constant: ${nf.toSeq}")
    // balls only grow -> NF and the reach permille are non-decreasing
    assert(nf.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    assert(nf.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    assert(nf.last._4 == 1000L, "final round defines the reach baseline")
    // NF equals the DECIMAL sum of the per-node hyperBall estimates
    val est = Algos.hyperBall(e, rounds, p = 4).collect()
      .map(r => r.getAs[Long]("t") ->
        BigDecimal(r.getAs[Double]("est")).setScale(3, BigDecimal.RoundingMode.HALF_UP))
    est.groupBy(_._1).foreach { case (t, xs) =>
      val want = (xs.map(_._2).sum * 1000).toLongExact
      assert(nf.find(_._1 == t).get._3 == want, s"NF diverges at t=$t")
    }
    // the precomputed-frame overload (r20) is value-identical to the
    // edges form — the API a caller holding both surfaces uses to pay
    // the iterative register run once
    val viaFrame = Algos
      .neighborhoodFunctionFrom(Algos.hyperBall(e, rounds, p = 4))
      .collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("nf_e3"), r.getAs[Long]("reach_permille")))
    assert(viaFrame.toSeq == nf.toSeq,
      "neighborhoodFunctionFrom diverges from the edges form")
  }

  test("betweennessSampled: exact Brandes dependencies on path and diamond") {
    // path 1→2→3→4 from seed 1: δ(2) = 2, δ(3) = 1, 4 absent (δ = 0)
    val path = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val p = Algos.betweennessSampled(path, seeds = Seq(1L), maxDepth = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("betweenness_e7"), r.getAs[Double]("betweenness")))).toMap
    assert(p(2L) == ((20000000L, 2.0)))
    assert(p(3L) == ((10000000L, 1.0)))
    assert(!p.contains(4L) && !p.contains(1L))
    // diamond 1→{2,3}→4: σ(4) = 2, δ(2) = δ(3) = 1/2
    val diamond = edgesOf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val d = Algos.betweennessSampled(diamond, seeds = Seq(1L), maxDepth = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("betweenness_e7")).toMap
    assert(d(2L) == 5000000L && d(3L) == 5000000L)
    // two seeds add: from 2, path contributes δ(3) = 1
    val p2 = Algos.betweennessSampled(path, seeds = Seq(1L, 2L), maxDepth = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("betweenness_e7")))).toMap
    assert(p2(3L) == ((2L, 20000000L))) // 1 from each seed
    // partitioning-invariant (integer-unit sums are order-free)
    val again = Algos.betweennessSampled(path.repartition(7),
      seeds = Seq(1L, 2L), maxDepth = 4).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("betweenness_e7")))).toMap
    assert(again == p2)
  }

  test("louvain separates two planted cliques joined by a bridge") {
    // K5 on 1..5, K5 on 11..15, one bridge 5-11
    val cliqueA = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield i -> j
    val cliqueB = for (i <- 11L to 15L; j <- (i + 1) to 15L) yield i -> j
    val e = edgesOf((cliqueA ++ cliqueB :+ (5L -> 11L)): _*)
    val got = Algos.louvain(e, rounds = 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("community")).toMap
    val a = (1L to 5L).map(got)
    val b = (11L to 15L).map(got)
    assert(a.distinct.size == 1, s"clique A split: $a")
    assert(b.distinct.size == 1, s"clique B split: $b")
    assert(a.head != b.head, "cliques merged")
    // deterministic under repartition
    val again = Algos.louvain(e, rounds = 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("community")).toMap
    assert(again == got)
  }

  test("kCore keeps the clique and prunes the pendant chain transitively") {
    // 4-clique (degree 3 each) with a pendant chain 4-5-6: node 5 has
    // degree 2 only while 6 survives, so 3-core pruning must cascade
    val clique = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val chain = Seq(4L -> 5L, 5L -> 6L)
    val got = Algos.kCore(edgesOf(clique ++ chain: _*), k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), "chain nodes cascade out")
    assert(got.values.toSet == Set(3L), "in-core degree is 3 for all clique members")
    // k above the clique degree empties the graph
    assert(Algos.kCore(edgesOf(clique: _*), k = 4, rounds = 5).count() == 0)
  }

  test("canonical-half symmetrize is orientation/duplicate/self-loop-insensitive") {
    // the r22 sym construction (canonicalize -> distinct -> mirror) must
    // treat (a,b), (b,a), duplicates and self-loops exactly like the old
    // `fwd ∪ reverse |> distinct`: same result from a messy orientation
    // as from the clean canonical input
    val clean = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L,
      5L -> 5L)
    val messy = Seq(2L -> 1L, 1L -> 2L, 3L -> 2L, 3L -> 4L, 4L -> 1L,
      1L -> 3L, 3L -> 1L, 5L -> 5L, 5L -> 5L)
    def lp(pairs: Seq[(Long, Long)]) =
      Algos.labelPropagation(edgesOf(pairs: _*), iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp(messy) == lp(clean))
    def mis(pairs: Seq[(Long, Long)]) =
      Algos.maximalIndependentSet(edgesOf(pairs: _*), rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mis(messy) == mis(clean))
  }

  test("kCore delta peel equals the per-round synchronous reference") {
    // independent Scala reference of the FIXED-ROUND semantics: symmetrize
    // distinct self-loop-free edges; each round keep = {deg >= k}, edges
    // survive iff both endpoints kept; early exit on an unchanged round
    def ref(pairs: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      var e = pairs.filter(p => p._1 != p._2)
        .flatMap(p => Seq(p, p.swap)).distinct.toSet
      var i = 1
      var converged = false
      while (i <= rounds && !converged) {
        val deg = e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
        val keep = deg.collect { case (u, d) if d >= k => u }.toSet
        val next = e.filter(p => keep(p._1) && keep(p._2))
        converged = next == e
        e = next
        i += 1
      }
      e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    }
    def run(pairs: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
      Algos.kCore(edgesOf(pairs: _*), k = k, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // multi-round cascade: 4-clique + pendant chain (3 peel rounds)
    val cascade = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L)
    for (k <- 1 to 4; r <- 1 to 4)
      assert(run(cascade, k, r) == ref(cascade, k, r),
        s"cascade mismatch at k=$k rounds=$r")
    // duplicate + reversed + self-loop input edges must canonicalize away
    val messy = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 1L,
      3L -> 3L, 3L -> 4L)
    for (k <- 1 to 3)
      assert(run(messy, k, 5) == ref(messy, k, 5), s"messy mismatch at k=$k")
    // mass-drop round: star graph, the center survives round 1 with every
    // leaf gone — its degree must fall to 0 and leave the frame
    val star = (2L to 9L).map(1L -> _)
    for (k <- 2 to 3)
      assert(run(star, k, 5) == ref(star, k, 5), s"star mismatch at k=$k")
    // empty graph and k above max degree
    assert(run(Seq(1L -> 1L), 2, 5) == Map.empty)
    assert(run(cascade, 5, 10) == ref(cascade, 5, 10))
  }

  test("loop scope clamps an ISOLATED clone — the caller's session conf is untouched mid-loop") {
    val default = spark.conf.get("spark.sql.shuffle.partitions")
    var clampSeen = ""
    val out = graft.util.Frames.loop(spark.range(10).toDF("x")) { (sc, in) =>
      // mid-loop, a concurrent query planned on the CALLER's session
      // sees the default partition count — the r15 ConfScope caveat
      assert(spark.conf.get("spark.sql.shuffle.partitions") == default)
      // the loop-bound frame plans on the clone, at the clamp
      assert(in.sparkSession ne spark)
      assert(sc.in(spark.range(1).toDF("y")).sparkSession eq in.sparkSession)
      assert(sc.rows == 10L)
      clampSeen = in.sparkSession.conf.get("spark.sql.shuffle.partitions")
      in
    }
    // handing a result back rebinds to the caller's session; a loop that
    // returns its own input keeps that stored frame
    assert(out.sparkSession eq spark)
    assert(out.count() == 10L)
    assert(clampSeen == "4", s"expected floor clamp 4, got $clampSeen")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == default)
  }

  test("clusteringCoefficient: known values on triangle + pendant") {
    // triangle (1,2,3) with pendant edge 3->4
    val e = edgesOf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    val got = Algos.clusteringCoefficient(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((1L, 2L, 1.0)))
    assert(got(2L) == ((1L, 2L, 1.0)))
    assert(got(3L) == ((1L, 3L, 0.333333))) // 2*1/(3*2), rounded 6dp
    assert(got(4L) == ((0L, 1L, 0.0)))
  }

  test("assortativity: star graph is perfectly disassortative; regular graph is null") {
    // star: every edge pairs the deg-3 hub with a deg-1 leaf -> r = -1
    val star = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L)
    val r = Algos.assortativity(star).collect()(0)
    assert(r.getAs[Double]("r") == -1.0)
    assert(r.getAs[Long]("m2") == 6L)
    // 4-cycle: all degrees equal -> zero variance -> r is null, not NaN
    val cyc = edgesOf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    assert(Algos.assortativity(cyc).collect()(0).isNullAt(4))
  }

  test("clusteringCoefficient per-node counts sum to 3x triangleCount") {
    val e = edgesOf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 1L -> 4L, 2L -> 5L)
    val total = Algos.triangleCount(e).collect()(0).getLong(0)
    val perNode = Algos.clusteringCoefficient(e)
      .agg(org.apache.spark.sql.functions.sum("tri_cnt")).collect()(0).getLong(0)
    assert(perNode == 3L * total, s"per-node sum $perNode vs 3x$total")
  }

  test("kTruss: keeps the clique, prunes the pendant chain transitively") {
    // K4 on {1,2,3,4} (every edge in 2 triangles) + chain 4-5-6.
    // support>=2: chain edges die round 1; K4 survives untouched.
    val e = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 4L -> 5L, 5L -> 6L)
    val got = Algos.kTruss(e, support = 2, rounds = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("sup")).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(got.values.forall(_ == 2L), s"K4 edges all have support 2: $got")
    // cascade: triangle hanging off the clique by one edge dies too
    // (its edges have support 1 once the bridge's triangles are gone)
    val e2 = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 4L -> 5L, 4L -> 6L, 5L -> 6L)
    val got2 = Algos.kTruss(e2, support = 2, rounds = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
  }

  test("kTruss delta-recount equals the full recount, round for round") {
    // shapes that exercise the delta paths: a cascade (deletions in
    // round 2+), a triangle with TWO deleted edges (the dedup-once
    // case), and the derived co-order graph at sf0.001
    import spark.implicits._
    def check(e: org.apache.spark.sql.DataFrame, support: Int,
        rounds: Int): Unit = {
      val d = Algos.kTruss(e, support, rounds).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val f = Algos.kTrussFullRecount(e, support, rounds).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
      assert(d == f, s"delta != full at support=$support rounds=$rounds")
    }
    // K4 + pendant triangle off node 4 (cascades across rounds)
    val cascade = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L,
      2L -> 4L, 3L -> 4L, 4L -> 5L, 4L -> 6L, 5L -> 6L)
    check(cascade, support = 2, rounds = 5)
    check(cascade, support = 1, rounds = 5)
    check(cascade, support = 3, rounds = 5) // everything eventually dies
    // two K4s sharing an edge — deleting shared-edge triangles hits a
    // triangle whose OTHER two edges survive
    val shared = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 3L -> 5L, 3L -> 6L, 4L -> 5L, 4L -> 6L, 5L -> 6L)
    check(shared, support = 2, rounds = 5)
    check(shared, support = 3, rounds = 5)
    // the real derived graph (q_ktruss's input) at spec scale
    val rel = graph.edgeFrame(graft.graph.EdgeType("RELATED_TO", "Part", "Part"))
    check(rel, support = 3, rounds = 3)
  }

  test("triangle listing with the Bloom wedge pre-filter equals the " +
      "plain semi-join surface (r22: false positives pruned, no " +
      "false negatives)") {
    // The r22 closedWedges Bloom pre-filter (kTruss/triangleCount) must
    // be row-invisible: compare the derived co-order graph's triangle
    // count and per-edge supports against the spec-baseline full
    // recount (which exercises the SAME closedWedges) AND against a
    // DataFrame-only recount of triangles via the clusteringCoefficient
    // identity sum(tri_cnt) == 3 * triangles (cc does NOT use the
    // Bloom — an independent wedge surface).
    val rel = graph.edgeFrame(graft.graph.EdgeType("RELATED_TO", "Part", "Part"))
    val tri = Algos.triangleCount(rel).collect()(0).getLong(0)
    val ccSum = Algos.clusteringCoefficient(rel)
      .agg(org.apache.spark.sql.functions.sum(col("tri_cnt"))).collect()(0).getLong(0)
    assert(ccSum == 3 * tri,
      s"Bloom-filtered listing lost/added triangles: cc=$ccSum tri=$tri")
    // tiny planted graph: exact value
    val e = edgesOf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    assert(Algos.triangleCount(e).collect()(0).getLong(0) == 1L)
  }

  test("resourceAllocation: RA discounts hub intermediaries") {
    // star center 1 connects 2,3,4 (deg 3); leaf pair (5,6) share only
    // the deg-2 node 7: RA(5,6)=1/2 beats RA(2,3)=1/3 through the hub
    val e = edgesOf(1L -> 2L, 1L -> 3L, 1L -> 4L, 7L -> 5L, 7L -> 6L)
    val got = Algos.resourceAllocation(e, topK = 10).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Double]("ra")))).toMap
    assert(got((5L, 6L)) == ((1L, 0.5)))
    assert(got((2L, 3L)) == ((1L, 0.333333)))
    assert(got((2L, 4L)) == ((1L, 0.333333)))
    assert(got((3L, 4L)) == ((1L, 0.333333)))
    // top-1 is the low-degree wedge
    val top = Algos.resourceAllocation(e, topK = 1).collect()(0)
    assert(top.getAs[Long]("part_a") == 5L && top.getAs[Long]("part_b") == 6L)
  }

  test("nodeSimilarity: exact jaccard on known feature sets") {
    import spark.implicits._
    // A={1,2,3}, B={2,3,4}, C={1,2,3}, D={9}
    val rel = Seq(
      ("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 2L), ("B", 3L), ("B", 4L),
      ("C", 1L), ("C", 2L), ("C", 3L),
      ("D", 9L)).toDF("n", "f")
    val got = Algos.nodeSimilarity(rel, "n", "f", topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(5)))).toMap
    assert(got(("A", "C")) == ((3L, 1.0)))          // identical sets
    assert(got(("A", "B")) == ((2L, 0.5)))          // 2 shared of 4
    assert(got(("B", "C")) == ((2L, 0.5)))
    assert(!got.contains(("A", "D")))               // nothing shared
    assert(got.size == 3)
  }

  test("nodeSimilarity: occCap drops hub features; sampleN bounds nodes") {
    import spark.implicits._
    // feature 100 is a hub touching everyone; cap 2 must drop it
    val rel = (1 to 6).map(i => (s"n$i", 100L)) ++
      Seq(("n1", 1L), ("n2", 1L))
    val got = Algos.nodeSimilarity(rel.toDF("n", "f"), "n", "f",
      topK = 10, occCap = 2).collect()
    assert(got.length == 1) // only the (n1,n2) pair via feature 1
    assert(got(0).getString(0) == "n1" && got(0).getString(1) == "n2")
    assert(got(0).getLong(2) == 1L && got(0).getDouble(5) == 1.0)
    // sample of 2 nodes leaves at most one pair
    val s2 = Algos.nodeSimilarity(rel.toDF("n", "f"), "n", "f",
      topK = 10, sampleN = 2).collect()
    assert(s2.length <= 1)
  }

  test("nodeSimilarityTopK: per-node k bound, scores equal the pair surface") {
    import spark.implicits._
    val rel = Seq(
      ("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 2L), ("B", 3L), ("B", 4L),
      ("C", 1L), ("C", 2L), ("C", 3L),
      ("D", 3L), ("D", 9L)).toDF("n", "f")
    val topk = Algos.nodeSimilarityTopK(rel, "n", "f", kPerNode = 2).collect()
    // per-node bound holds
    topk.groupBy(_.getString(0)).foreach { case (n, rows) =>
      assert(rows.length <= 2, s"$n has ${rows.length} rows")
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ==
        (1L to rows.length).toSeq)
      // ranked by (jaccard desc, nbr asc)
      val ord = rows.sortBy(_.getAs[Long]("rnk"))
        .map(r => (-r.getAs[Double]("jaccard"), r.getAs[String]("nbr")))
      assert(ord.sorted.toSeq == ord.toSeq)
    }
    // A's best neighbor is its identical twin C (jaccard 1.0), then B
    val a = topk.filter(_.getString(0) == "A").sortBy(_.getAs[Long]("rnk"))
    assert(a.map(_.getAs[String]("nbr")).toSeq == Seq("C", "B"))
    assert(a.head.getAs[Double]("jaccard") == 1.0)
    // every (node, nbr, jaccard) matches the global pair surface
    val pairs = Algos.nodeSimilarity(rel, "n", "f", topK = 100).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    topk.foreach { r =>
      val (x, y) = (r.getString(0), r.getAs[String]("nbr"))
      val key = if (x < y) (x, y) else (y, x)
      assert(pairs(key) == r.getAs[Double]("jaccard"))
    }
    // partitioning-invariant (the window rank must not depend on layout)
    val again = Algos.nodeSimilarityTopK(rel.repartition(7), "n", "f",
      kPerNode = 2).collect()
    assert(again.map(_.toSeq).sortBy(_.mkString("|")).toSeq ==
      topk.map(_.toSeq).sortBy(_.mkString("|")).toSeq)
  }

  test("louvainLevels: phase 2 recovers a planted two-level hierarchy phase 1 under-merges") {
    import spark.implicits._
    def k4(base: Long): Seq[(Long, Long)] =
      (for (i <- 0 until 4; j <- i + 1 until 4)
        yield (base + i, base + j)).toSeq
    // four super-clusters (bases 1/11/21/31), each two K4 cliques tied
    // by two bridges, weak links chaining the super-clusters. Total
    // edge mass matters: merging two bridged K4s is modularity-POSITIVE
    // only when S = 2m exceeds k_C·tot' / kin = 14·15/2 = 105 (here
    // S = 118) — with fewer super-clusters phase 2 must correctly
    // refuse to merge, which is a different (untested) property.
    val bases = Seq(1L, 11L, 21L, 31L)
    val edges = (
      bases.flatMap(b => k4(b) ++ k4(b + 4) ++
        Seq((b + 3, b + 4), (b + 2, b + 5))) ++
      bases.sliding(2).collect { case Seq(x, y) => (x + 7, y) }.toSeq
    ).toDF("_src", "_dst")
    val p1 = Algos.louvain(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p2 = Algos.louvainLevels(edges, rounds = 3, rounds2 = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1.keySet == p2.keySet)
    // phase 1 under-merges: the per-clique tier (> 4 communities)
    assert(p1.values.toSet.size > 4,
      s"phase 1 found ${p1.values.toSet.size} communities")
    // the final labeling is a COARSENING of phase 1: every phase-1
    // community maps to exactly one phase-2 label
    p1.groupBy(_._2).foreach { case (c1, members) =>
      assert(members.keys.map(p2).toSet.size == 1,
        s"phase-1 community $c1 split by phase 2")
    }
    // phase 2 recovers the four planted super-clusters exactly
    val labelsPerCluster = bases.map(b => (b to b + 7).map(p2).toSet)
    labelsPerCluster.zip(bases).foreach { case (ls, b) =>
      assert(ls.size == 1, s"super-cluster at $b split: $ls")
    }
    assert(labelsPerCluster.flatten.toSet.size == 4,
      "weak links must not merge super-clusters")
    // and fewer communities than phase 1 (it really merged)
    assert(p2.values.toSet.size < p1.values.toSet.size)
  }

  test("louvainLevels levels=3: recursion recovers a planted three-tier hierarchy") {
    import spark.implicits._
    def k6(base: Long): Seq[(Long, Long)] =
      (for (i <- 0 until 6; j <- i + 1 until 6)
        yield (base + i, base + j)).toSeq
    // tier 1: K6 cliques. tier 2: sibling K6s tied by 9 bridges (4
    // super-clusters of 12 nodes at bases 1/101/201/301; S·9 > k_α·k_β
    // makes the sibling merge positive at level 2). tier 3: the A-B
    // and C-D super-cluster PAIRS coupled by 28 cross links spread
    // EVENLY (7 per K6-pair, strictly under the 9-bridge sibling
    // pull) — a K6 inside its merged super-cluster always prefers
    // staying (σ_stay = S·9 − k·k_sib beats every cross option), so
    // level 2 structurally cannot move the whole cluster, while the
    // THIRD contraction's single super-node clears S·28 > k_A·k_B —
    // the reachability gap coarsening exists to close. One weak B-C
    // link must never merge.
    val bases = Seq(1L, 101L, 201L, 301L)
    def superCluster(b: Long): Seq[(Long, Long)] =
      k6(b) ++ k6(b + 6) ++
        (0 until 6).map(i => (b + i, b + 6 + i)) ++
        Seq((b, b + 7L), (b + 1, b + 8L), (b + 2, b + 9L))
    val sevenPairs =
      Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L), (0L, 1L))
    def cross(a: Long, b: Long): Seq[(Long, Long)] =
      for (sk <- Seq(0L, 6L); dk <- Seq(0L, 6L); (i, j) <- sevenPairs)
        yield (a + sk + i, b + dk + j)
    val edges = (bases.flatMap(superCluster) ++
      cross(1L, 101L) ++ cross(201L, 301L) ++
      Seq((101L + 11L, 201L))).toDF("_src", "_dst")
    val l2 = Algos.louvainLevels(edges, rounds = 3, rounds2 = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val l3 = Algos.louvainLevels(edges, rounds = 3, rounds2 = 4, levels = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2.keySet == l3.keySet)
    // level 3 is a COARSENING of level 2
    l2.groupBy(_._2).foreach { case (c2, members) =>
      assert(members.keys.map(l3).toSet.size == 1,
        s"level-2 community $c2 split by level 3")
    }
    def nodesOf(b: Long): Seq[Long] = (b until b + 12L)
    // level 2 resolves the four super-clusters but NOT the tier-3 pairs
    bases.foreach { b =>
      assert(nodesOf(b).map(l2).toSet.size == 1, s"super-cluster $b split at level 2")
    }
    assert(l2.values.toSet.size == 4, s"level 2 must find 4 communities: $l2")
    // level 3 merges exactly the planted pairs: {A,B} and {C,D}
    val ab = (nodesOf(1L) ++ nodesOf(101L)).map(l3).toSet
    val cd = (nodesOf(201L) ++ nodesOf(301L)).map(l3).toSet
    assert(ab.size == 1, s"A-B pair split at level 3: $ab")
    assert(cd.size == 1, s"C-D pair split at level 3: $cd")
    assert(ab != cd, "the weak B-C link must not merge the tier-3 groups")
    // levels=2 is the default: bit-identical to the two-arg form
    val l2again = Algos.louvainLevels(edges, rounds = 3, rounds2 = 4,
      levels = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2again == l2)
  }

  test("louvainWeighted rejects non-integral weight columns (r21: silent " +
      "cast(Long) truncated fractional weights to 0)") {
    import spark.implicits._
    val frac = Seq((1L, 2L, 0.4), (2L, 3L, 0.9)).toDF("_src", "_dst", "_w")
    val e = intercept[IllegalArgumentException] {
      Algos.louvainWeighted(frac, rounds = 1)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // integer types stay accepted
    val ints = Seq((1L, 2L, 4), (2L, 3L, 9)).toDF("_src", "_dst", "_w")
    assert(Algos.louvainWeighted(ints, rounds = 1).count() == 3)
  }

  test("neighborhoodFunctionFrom derives nf_last from the frame's max t " +
      "(r21: a rounds mismatch no longer yields zero rows / a curve not ending at 1000)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("_src", "_dst")
    val hb = Algos.hyperBall(e, rounds = 2, p = 4)
    // the round count comes from the frame alone: a t === rounds filter
    // on a caller-given count returned an empty nf_last on a mismatch
    val out = Algos.neighborhoodFunctionFrom(hb).collect()
    assert(out.length == 3, s"expected rounds+1 = 3 rows, got ${out.length}")
    assert(out.last.getAs[Long]("reach_permille") == 1000L,
      "the curve must end at 1000 permille at the frame's own max t")
  }

  test("louvainWeighted: weights separate communities a flat topology cannot") {
    import spark.implicits._
    // complete graph on 8 nodes — the TOPOLOGY is fully symmetric, so
    // only the weights carry the structure: intra-weight 100 inside
    // {1..4} and {5..8}, cross-weight 1. An unweighted move cannot
    // prefer any partition here; the weighted move must plant-recover.
    val nodes = (1L to 8L).toSeq
    val edges = (for (i <- nodes; j <- nodes if i < j)
      yield (i, j, if ((i <= 4) == (j <= 4)) 100L else 1L))
      .toDF("_src", "_dst", "_w")
    val got = Algos.louvainWeighted(edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == nodes.toSet)
    assert((1L to 4L).map(got).toSet.size == 1, s"group A split: $got")
    assert((5L to 8L).map(got).toSet.size == 1, s"group B split: $got")
    assert(got(1L) != got(5L), s"planted groups merged: $got")

    // weight-SCALE invariance: w -> 7w scales every integer score by
    // 49, preserving argmax, tie-breaks, and the md5 parity — the
    // labeling must be bit-identical
    val scaled = Algos.louvainWeighted(
        edges.select(col("_src"), col("_dst"),
          org.apache.spark.sql.functions.expr("_w * 7").as("_w")),
        rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scaled == got, "weight scaling changed the labeling")

    // listing-convention invariance: the same multigraph listed as a
    // reversed copy + a forward copy with split weights canonicalizes
    // (least/greatest + sum) to the identical symmetric frame
    val split = edges
      .select(col("_dst").as("_src"), col("_src").as("_dst"),
        org.apache.spark.sql.functions.expr("_w DIV 2").as("_w"))
      .unionByName(edges.select(col("_src"), col("_dst"),
        org.apache.spark.sql.functions.expr("_w - (_w DIV 2)").as("_w")))
      .filter(col("_w") > 0)
    val relisted = Algos.louvainWeighted(split, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(relisted == got, "edge-listing convention changed the labeling")
  }

  test("walkPmiEmbedding: identical-context nodes coincide; vectors feed the ANN tier") {
    import spark.implicits._
    // hand-built walk corpus (start, walk_id, step, node): nodes 10
    // and 11 see IDENTICAL forward contexts (100 then 101) with equal
    // counts, node 12 sees different ones — the projection must map
    // 10 and 11 to the SAME integer vector (lift rows equal ⇒ every
    // hyperplane sum equal) and 12 elsewhere
    val walks = Seq(
      (1L, 0L, 0L, 10L), (1L, 0L, 1L, 100L), (1L, 0L, 2L, 101L),
      (2L, 0L, 0L, 11L), (2L, 0L, 1L, 100L), (2L, 0L, 2L, 101L),
      (3L, 0L, 0L, 12L), (3L, 0L, 1L, 200L), (3L, 0L, 2L, 201L)
    ).toDF("start", "walk_id", "step", "node")
    def vecsOf(df: DataFrame): Map[Long, Seq[Long]] =
      Algos.walkPmiEmbedding(df, window = 2, minCount = 1L, dim = 8)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (n, rs) => n -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val vecs = vecsOf(walks)
    assert(vecs(10L) == vecs(11L), s"identical-context vectors diverge: $vecs")
    assert(vecs(10L) != vecs(12L), s"distinct-context vectors coincide: $vecs")
    assert(vecs(10L).exists(_ != 0L), "projection degenerated to zero")
    // integer sums are partitioning-invariant (a float projection
    // would not be — the reason the surface is exact BIGINT)
    assert(vecsOf(walks.repartition(7)) == vecs)
    // the vectors feed the existing ANN tier: nearest neighbor of 10
    // is its context-twin 11 at cosine 1
    val emb = vecs.toSeq
      .map { case (n, v) => (n, v.map(_.toFloat).toArray) }
      .toDF("vec_id", "embedding")
    val nn1 = graft.pipeline.Ann.cosineTopK(emb, queryIds = Seq(10L), k = 1)
      .collect().head
    assert(nn1.getLong(1) == 11L, s"nearest neighbor of 10 not its twin: $nn1")
  }

  test("nodeSimilarityTopK: planted hub equals the single-window definition") {
    import spark.implicits._
    // hub H shares feature 0 with 200 spokes (deg·occCap-style fan-out:
    // H's candidate list is ALL 200 spokes) plus per-spoke features
    // making jaccards distinct-ish; the salted two-stage prune must
    // return exactly what one global per-node window would.
    val rows = Seq.newBuilder[(String, Long)]
    rows += (("H", 0L)); rows += (("H", 1L)); rows += (("H", 2L))
    (0 until 200).foreach { i =>
      val n = f"s$i%03d"
      rows += ((n, 0L))                       // shared with the hub
      rows += ((n, 1000L + i))                // private feature
      if (i % 3 == 0) rows += ((n, 1L))       // some share a 2nd hub feat
      if (i % 7 == 0) rows += ((n, 2L))
    }
    val rel = rows.result().toDF("n", "f")
    val got = Algos.nodeSimilarityTopK(rel, "n", "f", kPerNode = 4)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // reference: the plain single-window rank over the same pair surface
    val pairs = Algos.nodeSimilarity(rel, "n", "f", topK = Int.MaxValue)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("inter"),
        r.getAs[Long]("deg_a"), r.getAs[Long]("deg_b"),
        r.getAs[Double]("jaccard")))
    val sym = pairs.flatMap { case (a, b, i, da, db, j) =>
      Seq((a, b, i, da, db, j), (b, a, i, db, da, j)) }
    val want = sym.groupBy(_._1).toSeq.flatMap { case (n, cs) =>
      cs.sortBy(c => (-c._6, c._2)).take(4).zipWithIndex.map {
        case ((_, nbr, i, dn, dnb, j), rk) =>
          Seq[Any](n, (rk + 1).toLong, nbr, i, dn, dnb, j) }
    }.sortBy(_.mkString("|"))
    assert(got == want)
    // the hub's candidate list really was hub-sized (prune had work to do)
    assert(pairs.count(p => p._1 == "H" || p._2 == "H") == 200)
  }

  test("resourceAllocationScores equals resourceAllocation on shared pairs; zero-common pairs keep ra 0") {
    import spark.implicits._
    // hub h touches everyone; x,y also share low-degree z; w isolated-ish
    val edges = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), // hub 10
      (1L, 20L), (2L, 20L),                       // low-degree 20
      (5L, 6L)).toDF("_src", "_dst")
    val exact = Algos.resourceAllocation(edges, topK = 100).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Double]("ra")))).toMap
    val cand = exact.keys.toSeq.toDF("a", "b")
      .unionByName(Seq((5L, 1L)).toDF("a", "b")) // no common neighbor
    val scored = Algos.resourceAllocationScores(cand, edges).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Double]("ra")))).toMap
    exact.foreach { case (k, v) =>
      assert(scored(k) == v, s"pair $k: ${scored(k)} != $v")
    }
    // the planted no-common-neighbor candidate keeps its row with ra 0
    assert(scored((1L, 5L)) == ((0L, 0.0)))
    // and the candidate frame canonicalizes order (5,1) -> (1,5)
    assert(!scored.contains((5L, 1L)))
  }

  test("edge inputs: every iterative entry point returns on an empty and a self-loop-only edge frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("_src", "_dst", "_w")
    val selfLoops = Seq((1L, 1L, 1L), (2L, 2L, 1L)).toDF("_src", "_dst", "_w")
    // (name, run, rows on the empty frame, rows on the self-loop frame).
    // Self-loops count as edges for the PageRank family, label
    // propagation, the walks and SCC (node universe); the other loops drop
    // them. The Louvain family once threw here: S = Σdeg summed NULL.
    val none = Seq.empty[String]
    val walked = Seq("(1,0,0,1)", "(1,0,1,1)", "(1,0,2,1)", "(1,0,3,1)",
      "(2,0,0,2)", "(2,0,1,2)", "(2,0,2,2)", "(2,0,3,2)")
    val entries = Seq[(String, DataFrame => DataFrame, Seq[String], Seq[String])](
      ("pageRank", Algos.pageRank(_, iterations = 3), none, Seq("(1,0.5)", "(2,0.5)")),
      ("pageRankWeighted", Algos.pageRankWeighted(_, iterations = 3), none,
        Seq("(1,0.5)", "(2,0.5)")),
      ("personalizedPageRank", Algos.personalizedPageRank(_, Seq(1L), iterations = 3),
        none, Seq("(1,1.0)", "(2,0.0)")),
      ("labelPropagation", Algos.labelPropagation(_, iterations = 3), none,
        Seq("(1,1)", "(2,2)")),
      ("hits", Algos.hits(_, iterations = 3), none, none),
      ("weightedShortestPaths", Algos.weightedShortestPaths(_, source = 1L, rounds = 3),
        Seq("(1,0)"), Seq("(1,0)")),
      ("shortestPaths", Algos.shortestPaths(_, source = 1L, maxDepth = 3),
        Seq("(1,0)"), Seq("(1,0)")),
      ("hopHistogram", Algos.hopHistogram(_, Seq(1L), maxDepth = 3),
        Seq("(1,0,1)"), Seq("(1,0,1)")),
      ("harmonicCentrality", Algos.harmonicCentrality(_, Seq(1L), maxDepth = 3), none, none),
      ("betweennessSampled", Algos.betweennessSampled(_, Seq(1L), maxDepth = 3), none, none),
      ("hyperBall", Algos.hyperBall(_, rounds = 2), none, none),
      ("connectedComponents", Algos.connectedComponents(_), none, none),
      ("stronglyConnectedComponents", Algos.stronglyConnectedComponents(_), none,
        Seq("(1,1)", "(2,2)")),
      ("stronglyConnectedComponents distributed",
        Algos.stronglyConnectedComponents(_, maxLocalEdges = 0L), none,
        Seq("(1,1)", "(2,2)")),
      ("maximalIndependentSet", Algos.maximalIndependentSet(_, rounds = 2), none, none),
      ("kCore", Algos.kCore(_, k = 1, rounds = 3), none, none),
      ("kTruss", Algos.kTruss(_, support = 1, rounds = 3), none, none),
      ("deterministicWalks", Algos.deterministicWalks(_, nStarts = 2, steps = 3), none, walked),
      ("node2vecWalks", Algos.node2vecWalks(_, nStarts = 2, steps = 3), none, walked),
      ("louvain", Algos.louvain(_, rounds = 2), none, none),
      ("louvainLevels", Algos.louvainLevels(_), none, none),
      ("louvainWeighted", Algos.louvainWeighted(_, rounds = 2), none, none))
    val wrong = for {
      (name, run, onEmpty, onSelfLoops) <- entries
      (input, frame, want) <- Seq(("empty", empty, onEmpty), ("self-loops", selfLoops, onSelfLoops))
      got = scala.util.Try(run(frame).collect().map(_.mkString("(", ",", ")")).sorted.toSeq)
      if got != scala.util.Success(want)
    } yield s"$name on $input: $got"
    assert(wrong.isEmpty, wrong.mkString("; "))
  }
}
