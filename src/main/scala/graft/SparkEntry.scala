package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.graph.GraphLoader
import graft.util.Frames

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §4
  * (oracle strategy). Every query entry compiles a Cypher-style graph
  * pattern over the TPC-H-ish graph (SURVEY §3) and has DuckDB oracle
  * SQL over the raw tables unless marked rows-only.
  */
object SparkEntry {

  /** Cypher/Spark divergence guard: run everything in non-ANSI mode so
    * out-of-range list access and malformed casts yield null (Cypher
    * semantics) instead of throwing (Spark 4 ANSI default).
    */
  private def lenient(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.ansi.enabled", "false")
    s
  }

  private def g(s: SparkSession, dir: String) = GraphLoader.load(lenient(s), dir)

  private val dec = DecimalType(18, 2)

  /** Per-process scratch root for the round-trip/streaming gate queries.
    * A FIXED /tmp path would let two concurrent Verify/Bench runs on one
    * machine clobber each other's files mid-read; a fresh temp dir per
    * JVM keeps runs isolated (results never depend on the path).
    */
  private lazy val scratchBase: String =
    java.nio.file.Files.createTempDirectory("graft_gate_").toString
  private def scratch(name: String): String = s"$scratchBase/$name"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_region_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- point lookup (ref benchmark: lookup_user_by_id) ----
    "q_lookup" -> ((s, dir) => {
      g(s, dir).matchPattern("(c:Customer {c_custkey: 42})")
        .select(col("c.c_name").as("c_name"), col("c.c_acctbal").as("c_acctbal"))
    }),

    // ---- 1-hop pattern + aggregation (ref: user_item_counts) ----
    "q_placed_agg" -> ((s, dir) => {
      g(s, dir).matchPattern("(c:Customer)-[:PLACED]->(o:Order)")
        .groupBy(col("c._id").as("c_custkey"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(col("o.o_totalprice").cast(dec)).cast("double").as("total_spend"))
        .orderBy("c_custkey")
    }),

    // ---- 3-hop chain + aggregation (flagship) ----
    "q_region_revenue" -> ((s, dir) => {
      g(s, dir).matchPattern(
        "(r:Region)<-[:IN_REGION]-(n:Nation)<-[:IN_NATION]-(c:Customer)-[:PLACED]->(o:Order)")
        .groupBy(col("r.r_name").as("r_name"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(col("o.o_totalprice").cast(dec)).cast("double").as("revenue"))
        .orderBy("r_name")
    }),

    // ---- var-length traversal (ref: related_items_depth2) ----
    "q_varlength" -> ((s, dir) => {
      g(s, dir).matchPattern("(p:Part {p_partkey: 1})-[:RELATED_TO*1..2]->(q:Part)")
        .select(col("q._id").as("p_partkey")).distinct()
        .orderBy("p_partkey")
    }),

    // ---- OPTIONAL MATCH (left outer) ----
    "q_optional" -> ((s, dir) => {
      val gr = g(s, dir)
      val base = gr.matchPattern("(c:Customer)")
      gr.optionalMatch(base, "(c:Customer)-[:PLACED]->(o:Order)")
        .groupBy(col("c.c_mktsegment").as("c_mktsegment"))
        .agg(count(col("o._id")).as("order_cnt"),
          countDistinct(col("c._id")).as("customer_cnt"))
        .orderBy("c_mktsegment")
    }),

    // ---- pattern + groupBy on edge-typed events (ref: event_type_counts) ----
    "q_event_types" -> ((s, dir) => {
      g(s, dir).matchPattern("(u:User)-[:TRIGGERED]->(e:Event)")
        .groupBy(col("e.event_type").as("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("event_type"))
    }),

    // ================================================================
    // Cypher STRING front-end (graft.cypher) — every query below runs
    // from a query string (reference: benchmark/src/queries.ts analogs).
    // ================================================================

    "q_str_lookup" -> ((s, dir) => {
      g(s, dir).cypher(
        "MATCH (c:Customer {c_custkey: 42}) RETURN c.c_name AS c_name, c.c_acctbal AS c_acctbal")
    }),

    "q_str_where" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer) WHERE c.c_acctbal > 9000 AND c.c_mktsegment = 'BUILDING'
           RETURN c.c_custkey AS c_custkey, c.c_name AS c_name ORDER BY c_custkey""")
    }),

    "q_str_strpred" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer) WHERE c.c_name ENDS WITH '1' AND c.c_name CONTAINS '00'
           RETURN c.c_name AS c_name ORDER BY c_name""")
    }),

    "q_str_regex" -> ((s, dir) => {
      g(s, dir).cypher(
        "MATCH (n:Nation) WHERE n.n_name =~ 'NATION_1\\\\d' RETURN n.n_name AS n_name ORDER BY n_name")
    }),

    "q_str_in" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
           WHERE n.n_name IN ['NATION_1', 'NATION_7', 'NATION_19']
           RETURN n.n_name AS n_name, count(c) AS cnt ORDER BY n_name""")
    }),

    "q_str_with_agg" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WITH c, count(o) AS order_cnt WHERE order_cnt >= 3
           RETURN c.c_custkey AS c_custkey, order_cnt ORDER BY c_custkey""")
    }),

    // ref benchmark: user_item_counts top-k (benchmark/src/queries.ts:66-72)
    "q_topk_users" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (u:User)-[:TRIGGERED]->(e:Event)
           RETURN u.user_id AS user_id, count(e) AS cnt
           ORDER BY cnt DESC, user_id LIMIT 10""")
    }),

    "q_str_optional" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
           RETURN c.c_mktsegment AS seg, count(o) AS order_cnt ORDER BY seg""")
    }),

    "q_str_union" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (n:Nation) RETURN n.n_name AS name
           UNION MATCH (r:Region) RETURN r.r_name AS name""")
        .orderBy("name")
    }),

    "q_str_reltype_alt" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[r:PLACED|IN_NATION]->(x)
           RETURN type(r) AS t, count(*) AS cnt ORDER BY t""")
    }),

    "q_str_unwind" -> ((s, dir) => {
      g(s, dir).cypher(
        "UNWIND [1, 2, 3, 4, 5] AS x RETURN x, x * x AS sq ORDER BY x")
    }),

    "q_str_case" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)
           RETURN CASE WHEN c.c_acctbal < 0 THEN 'neg'
                       WHEN c.c_acctbal < 5000 THEN 'mid'
                       ELSE 'high' END AS band, count(*) AS cnt
           ORDER BY band""")
    }),

    "q_str_exists" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer) WHERE NOT (c)-[:PLACED]->(:Order)
           RETURN count(*) AS cnt""")
    }),

    "q_str_skip_limit" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (u:User)-[:TRIGGERED]->(e:Event)
           RETURN e.event_type AS event_type, count(*) AS cnt
           ORDER BY cnt DESC, event_type SKIP 1 LIMIT 3""")
    }),

    "q_str_distinct" -> ((s, dir) => {
      g(s, dir).cypher(
        "MATCH (c:Customer) RETURN DISTINCT c.c_mktsegment AS seg ORDER BY seg")
    }),

    "q_str_temporal" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[p:PLACED]->(o:Order)
           RETURN p.o_orderdate.year AS yr, count(*) AS cnt ORDER BY yr""")
    }),

    // startNode()/endNode() return full node structs (project a property
    // through each) — reference parity, previously ids-only
    "q_str_startnode" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[r:PLACED]->(o:Order) WHERE o.o_orderkey < 100
           RETURN startNode(r).c_name AS c_name, endNode(r).o_orderkey AS o_orderkey
           ORDER BY o_orderkey""")
    }),

    // graph functions: id()/type()/labels() over a matched rel
    "q_str_graphfns" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (n:Nation)-[r:IN_REGION]->(m:Region)
           RETURN id(n) AS nid, type(r) AS rel_type,
                  labels(n)[0] AS label, id(m) AS rid
           ORDER BY nid""")
    }),

    // list functions: range/indexing/slicing/head/last/comprehension/
    // reduce — constant-valued so DuckDB replays them literally
    "q_str_listfns" -> ((s, dir) => {
      g(s, dir).cypher(
        """UNWIND range(1, 5) AS x
           WITH collect(x) AS xs
           RETURN size(xs) AS n, head(xs) AS h, last(xs) AS l,
                  xs[1] AS second, size(xs[1..3]) AS slice_len,
                  size([y IN xs WHERE y > 2 | y * 10]) AS comp_n,
                  reduce(acc = 0, y IN xs | acc + y) AS total""")
    }),

    // CALL db.labels() — catalog procedure under the gate
    "q_str_call_labels" -> ((s, dir) => {
      g(s, dir).cypher(
        "CALL db.labels() YIELD label RETURN label ORDER BY label")
    }),

    "q_str_call_reltypes" -> ((s, dir) => {
      g(s, dir).cypher(
        """CALL db.relationshipTypes() YIELD relationshipType
           RETURN relationshipType ORDER BY relationshipType""")
    }),

    // pattern comprehension: correlated collect per nation, reduced to
    // size() so the gate output stays scalar
    "q_str_patcomp" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (n:Nation)
           RETURN n.n_name AS n_name,
                  size([(c:Customer)-[:IN_NATION]->(n) | c.c_custkey]) AS n_cust
           ORDER BY n_name""")
    }),

    // duration() values (ISO strings, reference representation), date +
    // duration arithmetic, and duration.inDays — dates stringified so
    // both engines hash the same canonical form
    // percentile aggregates: cont (exact interpolation) + disc (exact
    // nearest-rank) per nation over customer balances
    "q_str_percentile" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
           RETURN n.n_name AS n_name,
                  round(percentileCont(c.c_acctbal, 0.5), 4) AS p50_cont,
                  percentileDisc(c.c_acctbal, 0.5) AS p50_disc,
                  percentileDisc(c.c_acctbal, 0.9) AS p90_disc
           ORDER BY n_name""")
    }),

    "q_str_duration" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (o:Order) WHERE o.o_orderkey < 100
           RETURN o.o_orderkey AS o_orderkey,
                  toString(date(o.o_orderdate) + duration({months: 1, days: 30})) AS due,
                  duration.inDays(o.o_orderdate, date('1998-01-01')) AS age,
                  duration({days: 2, hours: 3}) AS dur_iso
           ORDER BY o_orderkey""")
    }),

    "q_str_funcs" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (n:Nation)
           RETURN toLower(n.n_name) AS lname, size(n.n_name) AS len,
                  substring(n.n_name, 0, 3) AS pre3, n.n_regionkey % 2 AS parity
           ORDER BY lname""")
    }),

    // parameterized query: scalar + list params flow through WHERE
    "q_str_params" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
           WHERE c.c_acctbal > $min AND n.n_name IN $nations
           RETURN n.n_name AS n_name, count(*) AS cnt ORDER BY n_name""",
        Map("min" -> 5000.0,
            "nations" -> Seq("NATION_1", "NATION_7", "NATION_19")))
    }),

    // map projection (computed entry) → struct, then field access on the
    // projected struct after WITH
    "q_str_mapproj" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH (n:Nation)
           WITH n{.n_name, rk: n.n_regionkey * 10} AS m
           RETURN m.n_name AS n_name, m.rk AS rk ORDER BY n_name""")
    }),

    // named path: full entity structs from nodes(p), hop count length(p)
    "q_str_namedpath" -> ((s, dir) => {
      g(s, dir).cypher(
        """MATCH p = (n:Nation)-[:IN_REGION]->(r:Region)
           RETURN nodes(p)[0].n_name AS n_name, nodes(p)[1].r_name AS r_name,
                  length(p) AS len, size(relationships(p)) AS n_rels
           ORDER BY n_name""")
    }),

    // ================================================================
    // Cypher WRITE clauses under the gate (reference benchmark category
    // E, benchmark/src/queries.ts:120-148): each entry applies the write
    // to the loaded graph (immutable snapshot transform) and returns
    // deterministic post-write rows; the oracle replays the transform in
    // SQL over the raw tables.
    // ================================================================

    // CREATE literal node + CREATE edge between MATCH-bound endpoints
    "q_write_create" -> ((s, dir) => {
      val (g2, _) = g(s, dir).cypherWrite(
        "CREATE (r:Region {_id: 99, r_name: 'REGION_NEW'})")
      val (g3, _) = g2.cypherWrite(
        "MATCH (n:Nation {n_nationkey: 0}), (r:Region {_id: 99}) CREATE (n)-[:IN_REGION]->(r)")
      g3.cypher(
        """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
           RETURN r.r_name AS r_name, count(*) AS n_nations ORDER BY r_name""")
    }),

    // SET with a self-referencing expression on a filtered MATCH
    "q_write_set" -> ((s, dir) => {
      val (g2, _) = g(s, dir).cypherWrite(
        "MATCH (c:Customer) WHERE c.c_acctbal > 9000 SET c.c_bonus = c.c_acctbal * 0.1")
      g2.cypher(
        """MATCH (c:Customer) WHERE c.c_bonus IS NOT NULL
           RETURN c.c_custkey AS c_custkey, c.c_bonus AS bonus ORDER BY c_custkey""")
    }),

    // SET on relationship properties from the string front-end: the MATCH
    // pins r to the PLACED edge class; updates join on the eid frame
    "q_write_set_edge" -> ((s, dir) => {
      val (g2, _) = g(s, dir).cypherWrite(
        """MATCH (c:Customer)-[r:PLACED]->(o:Order) WHERE r.o_totalprice > 300000
           SET r.big = true, r.rebate = r.o_totalprice * 0.01""")
      g2.cypher(
        """MATCH (c:Customer)-[r:PLACED]->(o:Order) WHERE r.big
           RETURN c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey,
                  r.rebate AS rebate ORDER BY o_orderkey""")
    }),

    // MERGE applied twice: row count stays +1 and ON MATCH overwrites
    // the ON CREATE marker — idempotency under the hash gate
    "q_write_merge_idempotent" -> ((s, dir) => {
      val q = """MERGE (r:Region {_id: 77, r_name: 'REGION_NEW'})
                 ON CREATE SET r.src = 'created' ON MATCH SET r.src = 'matched'"""
      val (g2, _) = g(s, dir).cypherWrite(q)
      val (g3, _) = g2.cypherWrite(q)
      g3.cypher(
        """MATCH (r:Region)
           RETURN r.r_name AS r_name, coalesce(r.src, 'base') AS src ORDER BY r_name""")
    }),

    // DETACH DELETE cascades the node's PLACED edges
    "q_write_delete" -> ((s, dir) => {
      val (g2, _) = g(s, dir).cypherWrite(
        "MATCH (c:Customer) WHERE c.c_acctbal < 0 DETACH DELETE c")
      g2.cypher(
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           RETURN c.c_mktsegment AS seg, count(*) AS cnt ORDER BY seg""")
    }),

    // REMOVE n.prop nulls the property on matched rows only
    "q_write_remove" -> ((s, dir) => {
      val (g2, _) = g(s, dir).cypherWrite(
        "MATCH (c:Customer) WHERE c.c_acctbal < 0 REMOVE c.c_mktsegment")
      g2.cypher(
        """MATCH (c:Customer)
           RETURN c.c_custkey AS c_custkey, c.c_mktsegment IS NULL AS seg_removed
           ORDER BY c_custkey""")
    }),

    // SET n += map merges literal and self-referencing expression values
    "q_write_set_map" -> ((s, dir) => {
      val (g2, _) = g(s, dir).cypherWrite(
        """MATCH (n:Nation) WHERE n.n_regionkey = 2
           SET n += {audited: true, score: n.n_nationkey * 2}""")
      g2.cypher(
        """MATCH (n:Nation) WHERE n.audited
           RETURN n.n_name AS n_name, n.score AS score ORDER BY n_name""")
    }),

    // multi-label shim end-to-end: SET n:L1:L2, non-detaching REMOVE of a
    // secondary, CREATE (x:A:B), labels() and the n:Label predicate
    "q_write_label" -> ((s, dir) => {
      val (g1, _) = g(s, dir).cypherWrite(
        "MATCH (n:Nation) WHERE n.n_regionkey = 0 SET n:Tagged:Africa")
      val (g2, _) = g1.cypherWrite(
        "MATCH (n:Nation) WHERE n.n_name = 'ALGERIA' REMOVE n:Tagged")
      val (g3, _) = g2.cypherWrite("CREATE (x:Landmark:Poi {name: 'giza'})")
      g3.cypher(
        "MATCH (n:Nation) WHERE n:Africa RETURN n.n_name AS name, labels(n) AS labels")
        .unionByName(g3.cypher(
          "MATCH (m:Landmark) RETURN m.name AS name, labels(m) AS labels"))
        // array columns ship as sorted joined strings per SURVEY §4 —
        // the driver's pandas comparator can't sort raw array cells
        .select(col("name"),
          array_join(sort_array(col("labels")), ",").as("labels"))
        .orderBy("name")
    }),

    // ================================================================
    // LLM-data-pipeline operators (graft.pipeline) over documents /
    // embeddings — first-class per the build brief.
    // ================================================================

    "q_tokens" -> ((s, dir) =>
      pipeline.TextOps.tokenStats(docs(s, dir))),

    // Unicode/text normalization (ftfy/Dolma cleanup pass). The driver
    // corpus is clean ASCII, so the gate PLANTS every noise class the
    // normalizer handles (decomposed combining marks, NBSP, zero-width,
    // BOM, control char, typographic punctuation) — identically here and
    // in the oracle, the multimodal planted-corpus pattern — then hashes
    // the cleaned text itself.
    "q_normalize" -> ((s, dir) =>
      pipeline.TextOps.normalizeText(plantNoisyText(docs(s, dir)))),

    // Count-min sketch of per-user event frequencies: d*w integer
    // counters, probes = 20 present + 5 absent ids; est >= exact always
    "q_cms" -> ((s, dir) => {
      val ss = lenient(s)
      import ss.implicits._
      val ev = GraphLoader.table(ss, dir, "events")
      val cms = pipeline.Sketches.cmsSketch(ev, "user_id")
      val probes = ((1L to 20L) ++ (9991L to 9995L)).toDF("user_id")
      val est = pipeline.Sketches.cmsEstimate(cms, probes, "user_id")
      val exact = ev.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("exact"))
      est.join(exact, Seq("user_id"), "left")
        .select(col("user_id"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"),
          (col("est") >= coalesce(col("exact"), lit(0L)))
            .cast("long").as("over_ok"))
        .orderBy("user_id")
    }),

    // Bloom-filter membership summary: filter built over the distinct
    // ordering customers (m auto-sized from the key count), probed with
    // EVERY customer; hashed surface = integer hit/FP/bit counts
    "q_bloom" -> ((s, dir) => {
      val ss = lenient(s)
      val keys = GraphLoader.table(ss, dir, "orders")
        .select(col("o_custkey").as("ckey")).distinct()
      val nKeys = keys.count()
      val m = pipeline.Sketches.bloomSize(nKeys)
      val bits = pipeline.Sketches.bloomBits(keys, "ckey", m)
      val nBits = bits.count()
      // probes: every customer (all present) + 1000 synthetic absent
      // keys so the false-positive path is actually exercised
      val probes = GraphLoader.table(ss, dir, "customer")
        .select(col("c_custkey").as("ckey"))
        .unionByName(ss.range(1000001L, 1001001L).select(col("id").as("ckey")))
      val flagged = pipeline.Sketches.bloomProbe(bits, probes, "ckey", m)
        .join(keys.withColumn("present", lit(1L)), Seq("ckey"), "left")
        .select(col("hit"), coalesce(col("present"), lit(0L)).as("present"))
      flagged.agg(
        lit(m).as("m"),
        lit(nKeys).as("n_keys"),
        lit(nBits).as("n_bits_set"),
        count(lit(1)).cast("long").as("n_probes"),
        sum(col("present")).cast("long").as("n_present"),
        sum(col("hit")).cast("long").as("n_hits"),
        sum(when(col("hit") === 1L && col("present") === 0L, 1L)
          .otherwise(0L)).cast("long").as("n_false_pos"),
        (sum(col("present") * (lit(1L) - col("hit"))) === 0L)
          .cast("long").as("no_false_neg"))
    }),

    // Engine-portable mergeable HyperLogLog: per-returnflag order-key
    // sketches + a '__all__' row merged FROM the per-group register
    // tables; registers, exact integer Z, and the one-division estimate
    // all on the hashed surface
    "q_hll" -> ((s, dir) =>
      pipeline.Sketches.hllSummary(
        GraphLoader.table(lenient(s), dir, "lineitem"),
        "l_orderkey", "l_returnflag")),

    // log2-histogram quantile sketch: per-language + merged-from-parts
    // '__all__' doc-length quantiles, integer interpolation, exact
    // rank value joined as the error pin (est pinned full-value — the
    // sketch state is order-insensitive counts, so distributed merge
    // order can't move it)
    "q_qsketch" -> ((s, dir) =>
      pipeline.Sketches.qsketchSummary(docs(s, dir), "n_chars", "lang")),

    // Okapi BM25 top-k retrieval for a static query-term set — fully
    // row-local tf/dl, one single-row corpus-stats broadcast, top-k as
    // TakeOrderedAndProject
    "q_bm25" -> ((s, dir) =>
      pipeline.TextOps.bm25(docs(s, dir), bm25Terms)),

    // DSIR importance weighting + top-20% selection (Xie '23): hashed-
    // unigram LMs over a deterministic target/raw hash-split, row-local
    // decimal scoring through a one-row broadcast map
    "q_dsir" -> ((s, dir) =>
      pipeline.TextOps.dsirSelect(docs(s, dir))),

    "q_quality" -> ((s, dir) =>
      pipeline.TextOps.quality(docs(s, dir))),

    "q_langid" -> ((s, dir) =>
      pipeline.TextOps.langId(docs(s, dir))),

    // CCNet perplexity filter (Wenzek '20): per-language stupid-backoff
    // bigram LM trained on the TRAIN hash-split, every doc scored by
    // mean log-prob, languages cut into head/middle/tail tertiles
    "q_perplexity" -> ((s, dir) =>
      pipeline.TextOps.perplexity(docs(s, dir))),

    // Gopher repetition filters (Rae et al. 2021 Table A1)
    "q_repetition" -> ((s, dir) =>
      pipeline.TextOps.repetition(docs(s, dir))),

    // corpus-frequency commonness (CCNet-style two-pass scoring)
    "q_commonness" -> ((s, dir) =>
      pipeline.TextOps.commonness(docs(s, dir))),

    // C4/Gopher heuristic filter battery (word/line-shape signals +
    // published keep thresholds) — the cheap first gate of a pipeline
    "q_heuristics" -> ((s, dir) =>
      pipeline.TextOps.heuristicFilters(docs(s, dir))),

    // per-language dataset-card summary (one partial-combining agg)
    "q_corpus_stats" -> ((s, dir) =>
      pipeline.TextOps.corpusStats(docs(s, dir))),

    // RefinedWeb-style corpus-wide line dedup (boilerplate removal)
    "q_line_dedup" -> ((s, dir) =>
      pipeline.TextOps.lineDedup(docs(s, dir))),

    // per-source quota cap (domain-dominance guard, absolute not rate)
    "q_source_cap" -> ((s, dir) =>
      pipeline.TextOps.sourceCap(docs(s, dir), maxDocs = 10)),

    // positional duplicate-span coverage (exact-substring dedup family)
    "q_span_coverage" -> ((s, dir) =>
      pipeline.TextOps.duplicateSpanCoverage(docs(s, dir))),

    // exact-substring duplicate REMOVAL (Lee et al. 2022 cut): merged
    // duplicate spans >= 16 tokens dropped, cleaned text emitted
    "q_dedup_substr" -> ((s, dir) =>
      pipeline.TextOps.removeDuplicateSpans(docs(s, dir))),

    // contamination depth: span coverage against the doc 0-49 "eval set"
    // (same split as q_decontaminate's binary flag)
    "q_decontaminate_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      pipeline.TextOps.contaminationSpanCoverage(
        d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
    }),

    // three pipeline stages composed under one gate: near-dup grouping
    // keeps canonical reps -> Gopher repetition filter keeps quality
    // docs -> survivors pack into token-budget shards. The pruning
    // joins carry ids only; keep-lists scale WITH the corpus, so no
    // broadcast hint — AQE picks per actual size.
    "q_pipeline_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      val reps = pipeline.Dedup.dupGroupsFromPairs(d, dupPairs(s, dir))
        .filter(!col("is_dup")).select("doc_id")
      val keep = pipeline.TextOps.repetition(d)
        .filter(col("keep")).select("doc_id")
      // materialize the filtered corpus once: packByBudget's range
      // repartition SAMPLES its input in a separate job, which would
      // re-execute the whole dedup+filter chain a second time (real
      // pipelines persist between stages at scale for the same reason).
      // Checkpoint ONLY (id, n_tokens) — the packing plan never needs
      // the text column, and checkpointing it re-wrote the surviving
      // corpus bytes every run (r14: ~half of q_pipeline_e2e's cost)
      val survivors = Frames.materialize(d
        .select(col("doc_id"), size(pipeline.TextOps.tokens(col("text")))
          .cast("long").as("n_tokens"))
        .join(reps, "doc_id").join(keep, "doc_id"))
      pipeline.TextOps.packByBudgetFromCounts(survivors, budgetTokens = 2048)
    }),

    // rows-only oracle (xxhash64 winnowing not expressible in DuckDB)
    "q_fingerprint" -> ((s, dir) =>
      pipeline.TextOps.fingerprints(docs(s, dir))
        .select(col("doc_id"), col("n_fingerprints"),
          array_join(col("fingerprint"), ",").as("fingerprint"))),

    // engine-portable twin (md5-60-bit leaf hash) — same ordered
    // shingling + native SlidingMin kernel + distinct, but with a leaf
    // hash DuckDB can replay, so the oracle DERIVES every fingerprint
    // value (the xxhash64 kernel entry above stays the benched path)
    "q_fingerprint_md5" -> ((s, dir) =>
      pipeline.TextOps.fingerprintsPortable(docs(s, dir))),

    // corpus bigram frequencies, top 100 (vocabulary statistics)
    "q_ngram_freq" -> ((s, dir) =>
      pipeline.TextOps.ngramFrequencies(docs(s, dir), n = 2, topN = 100)),

    // r15: heavy-hitters variant — per-partition candidate pruning, the
    // count-1 tail never shuffles; same oracle as the exact form (exact
    // counts, candidate recall pinned by spec + the Zipf head)
    "q_ngram_approx" -> ((s, dir) =>
      pipeline.TextOps.ngramFrequenciesApprox(docs(s, dir), n = 2, topN = 100)),

    // PMI collocations as rational lift (no log — transcendental-free
    // hashed surface): top-50 bigrams by c_xy*N/(c_x*c_y), min count 5
    "q_colloc" -> ((s, dir) =>
      pipeline.TextOps.collocations(docs(s, dir))),

    // context-length chunking: 64-token windows, 16-token overlap
    "q_chunk" -> ((s, dir) =>
      pipeline.TextOps.chunk(docs(s, dir), chunkTokens = 64, overlapTokens = 16)),

    // token-budget packing via distributed prefix sum
    "q_pack" -> ((s, dir) =>
      pipeline.TextOps.packByBudget(docs(s, dir), budgetTokens = 2048)),

    // materialized shards: per-shard payload bounded by the budget, so
    // reducers stay capped at any corpus size (more shards, not bigger)
    "q_pack_shards" -> ((s, dir) =>
      pipeline.TextOps.packShards(docs(s, dir), budgetTokens = 2048)),

    // deterministic md5-hash sampling (~10% of documents)
    "q_sample" -> ((s, dir) =>
      pipeline.TextOps.hashSample(docs(s, dir), permille = 100)
        .select("doc_id").orderBy("doc_id")),

    // PII masking + per-doc counts (RE2-portable patterns)
    "q_redact" -> ((s, dir) =>
      pipeline.TextOps.redact(docs(s, dir))),

    // deterministic train/val/test split — the oracle hash-checks the
    // ENTIRE per-document assignment (80‰ test / 100‰ val here so all
    // three buckets are populated at sf0.01)
    "q_split" -> ((s, dir) =>
      pipeline.TextOps.hashSplit(docs(s, dir),
        testPermille = 80, valPermille = 100)
        .select("doc_id", "split").orderBy("doc_id")),

    // stratified sampling composed with language ID: keep 300‰ of
    // detected-English docs, 50‰ of everything else
    "q_sample_stratified" -> ((s, dir) =>
      pipeline.TextOps.hashSampleStratified(
        pipeline.TextOps.langId(docs(s, dir)), "lang_pred",
        Map("en" -> 300), defaultPermille = 50)
        .select("doc_id", "lang_pred").orderBy("doc_id")),

    // mixture auto-balancing: every source downsampled to the smallest
    // one's size via integer-exact per-stratum keep rates
    "q_mix" -> ((s, dir) =>
      pipeline.TextOps.balanceMixture(docs(s, dir), "source")),

    // temperature-flattened mixture (tau=0.5: targets sqrt(cnt*min) per
    // source — between q_mix's equal floor and the raw distribution)
    "q_mix_temp" -> ((s, dir) =>
      pipeline.TextOps.balanceMixtureTemperature(docs(s, dir), "source")),

    // fixed-size deterministic sample (TakeOrderedAndProject, no global
    // sort) with prefix-stable pick ranks
    "q_sample_n" -> ((s, dir) =>
      pipeline.TextOps.hashSampleN(docs(s, dir), n = 50)),

    // weighted sampling without replacement (priority sampling): 52-bit
    // hash priorities (exactly-rounded IEEE division both engines),
    // top-k via TakeOrderedAndProject, per-item max(w, tau) estimator
    "q_wsample" -> ((s, dir) =>
      pipeline.TextOps.prioritySample(docs(s, dir), k = 100)),

    // priority sampling ON THE STREAM: deterministic hash priorities
    // make the top-(k+1) a pure set property — per-bucket bounded heaps
    // (≤ k+1 state rows per bucket forever), drained union re-ranked
    // exactly like batch, bit-equal result, q_wsample's oracle verbatim
    "q_stream_wsample" -> ((s, dir) =>
      streaming.EventStreams.streamingPrioritySample(lenient(s), dir)),

    // deterministic seeded global shuffle — materialized training order
    // via the distributed prefix sum (no single-partition window)
    "q_shuffle" -> ((s, dir) =>
      pipeline.TextOps.globalShuffle(docs(s, dir), seed = "ep0:")),

    // cross-document duplicate n-gram fraction (Lee et al. 2022 signal)
    "q_crossdoc" -> ((s, dir) =>
      pipeline.TextOps.crossDocNgrams(docs(s, dir), n = 5)),

    // top-3 distinctive terms per doc (tf/df, the linear-idf member of
    // the tf-idf family — log-idf would hash-diverge in the last ulp)
    "q_tfidf" -> ((s, dir) =>
      pipeline.TextOps.distinctiveTerms(docs(s, dir), topK = 3)),

    // inverted index via skew-safe salted collect (hot terms pre-chunked
    // across reducers), sorted postings for determinism
    "q_postings" -> ((s, dir) =>
      pipeline.TextOps.invertedIndex(docs(s, dir))),

    // salted two-stage collect (skew-safe non-combinable aggregate),
    // stringified sorted for a deterministic oracle comparison
    "q_skew_collect" -> ((s, dir) => {
      val ev = GraphLoader.table(lenient(s), dir, "events")
        .select(col("user_id"), col("event_type"))
      pipeline.Skew.saltedCollectList(ev, "user_id", "event_type", buckets = 8)
        .select(col("user_id"),
          array_join(array_sort(col("event_types")), ",").as("events_sorted"))
        .orderBy("user_id")
    }),

    // distributed backward as-of join (union + per-key merge window, one
    // shuffle — never a range cross-join): every event gets the user's
    // most recent error at-or-before it, timestamps as epoch micros
    "q_asof" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("t_us"), col("value"))
      operators.Temporal.asofJoin(
          ev.select("event_id", "user_id", "t_us"), errs,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "t_us",
          rightCols = Seq("value"))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("asof_time").as("err_t_us"), col("asof_value").as("err_value"),
          (col("t_us") - col("asof_time")).as("gap_us"))
        .orderBy("event_id")
    }),

    // forward as-of join (same one-shuffle merge shape, window looks
    // FORWARD): every event gets the user's next error at-or-after it
    "q_asof_fwd" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("t_us"), col("value"))
      operators.Temporal.asofJoinForward(
          ev.select("event_id", "user_id", "t_us"), errs,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "t_us",
          rightCols = Seq("value"))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("asof_time").as("err_t_us"), col("asof_value").as("err_value"),
          (col("asof_time") - col("t_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // bucketized point-in-interval range join (equi-join on time
    // buckets, never BroadcastNestedLoop): every event joined into the
    // session interval that contains it
    "q_range" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
      val sessions = streaming.EventStreams.sessionizeBatch(ev, gapMinutes = 30)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start"),
          unix_micros(col("session_end")).as("session_end"),
          col("n_events"))
      val points = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"))
      operators.Temporal.rangeJoin(points, sessions,
          keys = Seq("user_id"), pointCol = "t_us",
          startCol = "session_start", endCol = "session_end",
          bucketWidth = 1800L * 1000000L)
        .select("event_id", "user_id", "t_us",
          "session_start", "n_events")
        .orderBy("event_id")
    }),

    "q_dedup_exact" -> ((s, dir) =>
      pipeline.Dedup.exact(docs(s, dir))),

    "q_dedup_jaccard" -> ((s, dir) => dupPairs(s, dir)),

    // sorted-neighborhood blocking (merge/purge): two complementary
    // sort-key passes, w-row neighborhood, exact-Jaccard verify on
    // candidates only; distributed prefix-sum ranks, bucketed window
    // join — on this corpus the two passes recover the FULL jaccard
    // pair set, so the gate doubles as a standing recall pin
    "q_snb" -> ((s, dir) =>
      pipeline.Dedup.sortedNeighborhood(docs(s, dir))),

    // near-dup pairs → connected components → canonical keep-list
    "q_dedup_groups" -> ((s, dir) =>
      pipeline.Dedup.dupGroupsFromPairs(docs(s, dir), dupPairs(s, dir))),

    // benchmark decontamination: docs 0-49 act as the eval set, the rest
    // as the training corpus; flag corpus docs sharing any 8-gram
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      pipeline.Dedup.contamination(
        d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50), n = 8)
    }),

    // rows-only oracles (hash-based signatures not expressible in DuckDB)
    "q_dedup_minhash" -> ((s, dir) =>
      pipeline.Dedup.minhashLsh(docs(s, dir))),

    "q_dedup_simhash" -> ((s, dir) =>
      pipeline.Dedup.simhash(docs(s, dir))),

    // engine-portable twin (md5-60-bit leaf hash) — the same bit-majority
    // / pigeonhole-block / hamming-verify pipeline, but with a leaf hash
    // DuckDB can replay, so the oracle DERIVES the full expected output
    // (the xxhash64 kernel entry above stays the benched scale path)
    "q_dedup_simhash_md5" -> ((s, dir) =>
      pipeline.Dedup.simhashPortable(docs(s, dir))),

    // r20 perceptual-hash image near-dup — the dedup × multimodal
    // intersection: plant formula-gray 36×32 PNGs (doc_id DIV 3
    // families + a dHash-invisible brightness shift), REAL decode +
    // 9×8 block-mean dHash, then the SimHash pigeonhole block-bucket
    // join + hamming verify; the oracle re-derives every hash from the
    // planting formulas (PNG lossless ⇒ block means = planted values)
    "q_dedup_phash" -> ((s, dir) => phashPairs(s, dir)),

    // the actionable media keep-list: phash pairs → connected
    // components → min-id canonical rep per image (the q_dedup_groups
    // composition over the media tier — dupGroupsFromPairs is
    // pair-source-agnostic by design). Shares the memoized pair frame
    // with q_dedup_phash (r21: the dupPairs discipline — decode+dHash
    // is the dominant cost of both, and a real pipeline materializes
    // the pair relation once; previously this entry re-decoded the
    // whole image corpus to recompute pairs q_dedup_phash already built)
    "q_dedup_phash_groups" -> ((s, dir) =>
      pipeline.Dedup.dupGroupsFromPairs(docs(s, dir), phashPairs(s, dir))),

    "q_dedup_embed" -> ((s, dir) =>
      pipeline.Dedup.embedDupsExact(embs(s, dir)).orderBy("a_id", "b_id")),

    // Shares the exact all-pairs oracle: hyperplane buckets are pure
    // hashing (no RNG), so the candidate set is fixed per dataset, and
    // auto-sized planes give recall 1.0 on this corpus (verified: 0
    // missed / 0 extra vs embedDupsExact) — the shared oracle is a
    // standing recall pin, same pattern as q_dedup_minhash.
    "q_dedup_embed_lsh" -> ((s, dir) =>
      pipeline.Dedup.embedDupsLsh(embs(s, dir)).orderBy("a_id", "b_id")),

    "q_ann_cosine" -> ((s, dir) =>
      pipeline.Ann.cosineTopK(embs(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // margin-based cross-set mining (Artetxe-Schwenk ratio margin):
    // labels 0-4 mined against labels 5-9, best match per left vector,
    // 6dp-rounded cosines + decimal k-NN means so the margin replays.
    // Each side is bounded to a FIXED-SIZE md5-ordered sample (the
    // q_knn_graph precedent) so the exact all-pairs verify baseline
    // costs the same at 1x and 1000x corpus size; non-binding at the
    // sf0.01 gate scale (254/246 vectors per side). Full-corpus mining
    // routes through lshTopK/ivfTopK candidates per minePairs' scaladoc.
    "q_mine" -> ((s, dir) => {
      val e = embs(s, dir)
      def side(pred: org.apache.spark.sql.Column) = {
        val hkey = md5(col("vec_id").cast("string"))
        e.filter(pred).withColumn("_hkey", hkey)
          .orderBy(col("_hkey"), col("vec_id")).limit(1000).drop("_hkey")
      }
      pipeline.Ann.minePairs(side(col("label") < 5), side(col("label") >= 5))
    }),

    // rows-only oracle (hyperplane hashing not expressible in DuckDB)
    "q_ann_lsh" -> ((s, dir) =>
      pipeline.Ann.lshTopK(embs(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // rows-only oracle (k-means cells not expressible in DuckDB)
    "q_ann_ivf" -> ((s, dir) =>
      pipeline.Ann.ivfTopK(embs(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // deterministic corpus k-means (topic/mixture primitive): md5-order
    // seeds + fixed-round Lloyd replay, every distance/mean rounded —
    // hash-derivable end-to-end, unlike the ML-lib KMeans inside IVF
    "q_cluster" -> ((s, dir) =>
      pipeline.Ann.kmeansCluster(embs(s, dir), k = 8, rounds = 3)),

    // SemDeDup: within-cluster exact cosine dups, components, keep the
    // farthest-from-centroid member per group
    "q_semdedup" -> ((s, dir) =>
      pipeline.Dedup.semDedup(embs(s, dir))),

    // numeric recall gate for the LSH path: hash-constructed buckets are
    // fully deterministic, so recall@10 vs the exact answer is a fixed
    // value per dataset — the oracle pins it (regression pin: a bucketing
    // change that degrades recall flips this red)
    "q_ann_lsh_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      pipeline.Ann.recallAt(
        pipeline.Ann.cosineTopK(e, qids, k = 10),
        pipeline.Ann.lshTopK(e, qids, k = 10))
    }),

    // numeric recall gate for the IVF path. Unlike LSH the centroids
    // come from k-means (seeded, but float-sum order varies with
    // partitioning), so the pin is the DECADE-FLOORED recall — stable
    // under ±1-hit perturbations (measured 38/50 = 0.76 at sf0.01,
    // identical across local[3] and local[8]) while still flipping red
    // if cell probing degrades materially.
    "q_ann_ivf_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      pipeline.Ann.recallAt(
          pipeline.Ann.cosineTopK(e, qids, k = 10),
          pipeline.Ann.ivfTopK(e, qids, k = 10))
        .select(col("n_queries"), col("n_total"),
          (floor(col("recall") * 10) / 10.0).as("recall_floor"))
    }),

    // per-dimension symmetric int8 quantization: integer codes are
    // bit-identical cross-engine, max reconstruction error is
    // order-independent — fully derived by the oracle
    "q_quantize" -> ((s, dir) =>
      pipeline.Ann.quantizeInt8(embs(s, dir))),

    // full-value recall pin for brute-force search over the quantized
    // corpus (codes are integers, dequantize is one fixed expression —
    // deterministic, unlike IVF's float-sum centroids)
    "q_ann_int8_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      pipeline.Ann.recallAt(
        pipeline.Ann.cosineTopK(e, qids, k = 10),
        pipeline.Ann.int8TopK(e, qids, k = 10))
    }),

    // product quantization (Jégou '11): 64-bit PQ codes (m=16 × 4-bit)
    // + ADC scan + exact re-rank. Replay-exact Lloyd codebooks (round-6
    // means, md5 seeds) make the recall a FULL-VALUE pin like int8 —
    // measured 44/50 = 0.88 at sf0.01, stable across partitionings
    "q_ann_pq_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      pipeline.Ann.recallAt(
        pipeline.Ann.cosineTopK(e, qids, k = 10),
        pipeline.Ann.pqTopK(e, qids, k = 10))
    }),

    // exact kNN graph over a FIXED-SIZE deterministic hash sample — the
    // similarity-graph construction step; the cap (not a fraction)
    // bounds the Θ(n²) node set at any corpus size
    "q_knn_graph" -> ((s, dir) =>
      pipeline.Ann.knnGraph(embs(s, dir), k = 5, maxNodes = 200)),

    // r15: REAL codec — plant genuine PNG/JPEG bytes, hand-rolled
    // header parse + ImageIO pixel decode; full-value oracle (the plant
    // formulas are SQL, px_near=1 gates that decode recovered them)
    "q_multimodal" -> ((s, dir) =>
      pipeline.Multimodal.summary(docs(s, dir))),

    // the metadata tier alone: container-header parse, no pixel decode
    "q_multimodal_meta" -> ((s, dir) =>
      pipeline.Multimodal.metaSummary(docs(s, dir))),

    // the lossless-decode tier: PNG per-channel means, pinned exactly
    "q_multimodal_pixels" -> ((s, dir) =>
      pipeline.Multimodal.pixelSummary(docs(s, dir))),

    // r20 deterministic BPE: fixed max-count pair merges (ties
    // lexicographic) over the (word, freq) vocabulary table — the
    // merge table itself, then per-doc token counts under the learned
    // subword vocab (the currency real training budgets use); the
    // oracle replays every merge round including the greedy
    // double-separator application
    // r21: both entries read ONE memoized training run (bpeTrained —
    // the hbMemo pay-once discipline flagged by the r20 verdict #5:
    // previously each entry retrained the same 8-merge table)
    "q_bpe_vocab" -> ((s, dir) =>
      pipeline.TextOps.bpeMergesFromTrained(s, bpeTrained(s, dir))),

    "q_bpe_tokens" -> ((s, dir) =>
      pipeline.TextOps.bpeTokenCountsFromTrained(docs(s, dir), bpeTrained(s, dir))),

    // vocabulary frequency-of-frequencies spectrum (the Zipf /
    // Good-Turing dataset-card diagnostic): log2-bucketed type and
    // token counts with integer permille type shares
    "q_freq_spectrum" -> ((s, dir) =>
      pipeline.TextOps.frequencySpectrum(docs(s, dir))),

    // r18 AUDIO tier: plant genuine JDK-encoded 16-bit PCM WAVs, then
    // hand-rolled RIFF chunk-walk metadata + exact sample extraction;
    // all-integer amplitude stats (sum, sum-of-squares, peak) — WAV is
    // lossless, so the whole surface gates full-value exact
    "q_multimodal_audio" -> ((s, dir) =>
      pipeline.Multimodal.audioSummary(docs(s, dir))),

    // r19 VIDEO tier: plant minimal spec-conformant MP4s (the JDK has
    // no muxer — honesty contract on VideoCodec), then a GENERIC
    // ISO-BMFF box walk: movie timescale/duration, track count, coded
    // dimensions, video/audio codec fourccs; metadata is lossless so
    // the surface gates full-value exact
    "q_multimodal_video" -> ((s, dir) =>
      pipeline.Multimodal.videoSummary(docs(s, dir))),

    // ================================================================
    // Sources tier under the gate: CSV / JSON / graph-snapshot
    // round-trips — write to a scratch dir, read back, aggregate; the
    // oracle aggregates the original table, so any round-trip loss
    // breaks the hash.
    // ================================================================
    "q_csv_roundtrip" -> ((s, dir) => {
      val tmp = scratch("csv")
      sources.Tables.writeCsv(
        GraphLoader.table(lenient(s), dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), tmp)
      sources.Tables.readCsv(s, tmp)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("bal"))
        .orderBy("seg")
    }),

    "q_json_roundtrip" -> ((s, dir) => {
      val tmp = scratch("json")
      sources.Tables.writeJson(
        GraphLoader.table(lenient(s), dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey"), tmp)
      sources.Tables.readJson(s, tmp)
        .groupBy(col("n_regionkey").cast("long").as("rk"))
        .agg(count(lit(1)).as("cnt"), min("n_name").as("first_name"))
        .orderBy("rk")
    }),

    "q_orc_roundtrip" -> ((s, dir) => {
      val tmp = scratch("orc")
      sources.Tables.writeOrc(
        GraphLoader.table(lenient(s), dir, "supplier")
          .select("s_suppkey", "s_nationkey", "s_acctbal"), tmp)
      sources.Tables.readOrc(s, tmp)
        .groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("s_acctbal").cast(dec)).cast("double").as("bal"))
        .orderBy("nk")
    }),

    // hive-partitioned write + pruned read-back: only the lang='en'
    // directory's files are opened (PartitionFilters, pinned by
    // SourcesSpec) — the per-language-read layout lever at corpus scale
    "q_partition_prune" -> ((s, dir) => {
      val tmp = scratch("part_docs")
      sources.Tables.writePartitioned(
        GraphLoader.table(lenient(s), dir, "documents")
          .select("doc_id", "source", "n_chars", "lang"), tmp, "lang")
      sources.Tables.readPartitioned(s, tmp)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("source")
    }),

    "q_snapshot_roundtrip" -> ((s, dir) => {
      val tmp = scratch("snap")
      val gr = g(s, dir)
      graph.PropertyGraph(
        Map("Region" -> gr.nodeFrame("Region"), "Nation" -> gr.nodeFrame("Nation")),
        Map(graph.EdgeType("IN_REGION", "Nation", "Region") ->
          gr.edgeFrame(graph.EdgeType("IN_REGION", "Nation", "Region")))).save(tmp)
      val back = graph.PropertyGraph.load(s, tmp)
      back.cypher(
        """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
           RETURN r.r_name AS r_name, count(*) AS n_nations ORDER BY r_name""")
    }),

    // whole-catalog report (CLI `info` analog): one row per node label
    // and edge class with its row count — forces every frame
    "q_catalog" -> ((s, dir) =>
      sources.Tables.catalogReport(g(s, dir), lenient(s))
        .select("kind", "name", "rows")),

    // ================================================================
    // Streaming tier under the gate: batch sessionization — the
    // deterministic batch twin of the flatMapGroupsWithState stream
    // (Spark's unified batch/stream semantics make them one definition).
    // Timestamps exported as epoch micros (exact longs on both engines).
    // ================================================================
    // sliding windows (1h window, 30m slide): every event lands in two
    // windows; the oracle replays via the two 30-minute-floor starts
    "q_window_sliding" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
      streaming.EventStreams.windowedCounts(ev, window = "1 hour",
        slide = Some("30 minutes"))
        .select(
          unix_micros(col("window_start")).as("window_start"),
          col("event_type"), col("cnt"))
        .orderBy("window_start", "event_type")
    }),

    // tumbling-window counts (same definition the watermarked stream
    // runs); window bounds exported as epoch micros
    "q_window_agg" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
      streaming.EventStreams.windowedCounts(ev, window = "1 hour")
        .select(
          unix_micros(col("window_start")).as("window_start"),
          unix_micros(col("window_end")).as("window_end"),
          col("event_type"), col("cnt"),
          round(col("total_value"), 3).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // the SAME pipeline executed through Structured Streaming: file-stream
    // ingest (availableNow) → watermarked windowed agg → complete-mode
    // memory sink; gated by the identical oracle as q_window_agg
    "q_stream_window_agg" -> ((s, dir) => {
      streaming.EventStreams
        .windowedCountsStreamed(lenient(s), dir, glob = "events.parquet")
        .select(
          unix_micros(col("window_start")).as("window_start"),
          unix_micros(col("window_end")).as("window_end"),
          col("event_type"), col("cnt"),
          round(col("total_value"), 3).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    "q_stream_sessionize" -> ((s, dir) => {
      streaming.EventStreams
        .sessionizeWindowStreamed(lenient(s), dir, glob = "events.parquet")
        .withColumn("total_value", round(col("total_value"), 3))
        .orderBy("user_id", "session_start")
    }),

    // streaming stateful exact-dedup: first-arrival-wins per key, keys
    // only so the drained result equals batch DISTINCT
    "q_stream_dedup" -> ((s, dir) =>
      streaming.EventStreams.streamingDedup(lenient(s), dir)),

    // watermark-TTL streaming dedup (dropDuplicatesWithinWatermark):
    // state evicts once the event-time watermark passes a key's
    // horizon — bounded by arrival-rate×horizon on unbounded keys;
    // equals batch DISTINCT while every dup pair fits the horizon
    // (365d covers the gate corpus)
    "q_stream_dedup_ttl" -> ((s, dir) =>
      streaming.EventStreams.streamingDedupTtl(lenient(s), dir)),

    // streaming MinHash near-dup: row-local band keys on the stream, one
    // bucket aggregation, exact-Jaccard verify against earlier docs
    "q_stream_neardup" -> ((s, dir) =>
      streaming.EventStreams.streamingNearDup(lenient(s), dir)),

    // ordered-funnel analysis (view -> click -> purchase): per-user
    // earliest step times with strict-after chaining, depth reached;
    // null step times coalesce to -1 (integers-only hashed surface)
    "q_funnel" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
      streaming.EventStreams.funnelBatch(ev, Seq("view", "click", "purchase"))
        .select(col("user_id"),
          coalesce(col("t1_us"), lit(-1L)).as("t1_us"),
          coalesce(col("t2_us"), lit(-1L)).as("t2_us"),
          coalesce(col("t3_us"), lit(-1L)).as("t3_us"),
          col("depth"))
        .orderBy("user_id")
    }),

    // funnel ON THE STREAM: per-user flatMapGroupsWithState holds the
    // per-step time sets, re-derives the strict-after chain each batch
    // (order-insensitive — late step-1 events re-qualify step-2 times),
    // drained latest-version rows equal funnelBatch → q_funnel oracle
    "q_stream_funnel" -> ((s, dir) =>
      streaming.EventStreams.streamingFunnel(lenient(s), dir)),

    // funnel on the stream WITH a watermark-TTL horizon: step times
    // below the watermark evict, horizon-idle users drop their state
    // row (event-time timeout) — state bounds at in-horizon activity;
    // chains inside the horizon are exact, so the 365-day horizon
    // (covers the gate corpus, single AvailableNow batch) shares the
    // q_funnel oracle verbatim
    "q_stream_funnel_ttl" -> ((s, dir) =>
      streaming.EventStreams.streamingFunnelTtl(lenient(s), dir)),

    // first-order Markov transition matrix: (event_type -> next) counts
    // from one lead over (user_id | ts, event_id) + permille of the
    // from-type marginal (integer division; output |types|^2 max)
    "q_transitions" -> ((s, dir) =>
      streaming.EventStreams.transitionMatrix(
        GraphLoader.eventsTable(lenient(s), dir))),

    // frequent 3-step session journeys: daily-gap sessionization (the
    // gate corpus is time-sparse — 30-min sessions rarely hold 3
    // events), count of consecutive in-session event triples, minCount
    // threshold (not top-k) so ties can't make the surface
    // nondeterministic
    "q_paths" -> ((s, dir) =>
      streaming.EventStreams.sessionPaths(
        GraphLoader.eventsTable(lenient(s), dir),
        gapMinutes = 1440, minCount = 2L)),

    // rolling active users: DAU + trailing-7-day WAU per integer day
    // offset — distinct (user, day) reduction first, broadcast day list
    "q_active_users" -> ((s, dir) =>
      operators.Olap.activeUsers(GraphLoader.eventsTable(lenient(s), dir))),

    // active users ON THE STREAM: stateful dropDuplicates holds the
    // (day, user) pair set — the batch reduction as streaming state —
    // so the drained rollup equals batch and shares its oracle
    "q_stream_active" -> ((s, dir) =>
      streaming.EventStreams.streamingActiveUsers(lenient(s), dir)),

    // active users on the stream WITH day eviction: watermark +
    // dropDuplicatesWithinWatermark bounds state at |users ×
    // days-in-horizon| (pairs recur at-least-once per horizon; the
    // drain dedups before the rollup) — equal to batch within the
    // horizon, so it shares the q_active_users oracle
    "q_stream_active_ttl" -> ((s, dir) =>
      streaming.EventStreams.streamingActiveUsers(lenient(s), dir,
        horizon = Some("365 days"), queryName = "q_stream_active_ttl")),

    // funnel CONVERSION RATES: the q_funnel per-user surface reduced
    // to the dashboard numbers — users reaching each step, permille vs
    // step 1 and vs the previous step (integer division; step 1 = 1000)
    "q_funnel_rates" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
      val f = streaming.EventStreams.funnelBatch(ev,
        Seq("view", "click", "purchase"))
      f.agg(count(col("t1_us")).cast("long").as("n1"),
          count(col("t2_us")).cast("long").as("n2"),
          count(col("t3_us")).cast("long").as("n3"))
        .selectExpr(
          "stack(3, 1L, 'view', n1, n1, n1, 2L, 'click', n2, n1, n1, 3L, 'purchase', n3, n1, n2) AS (step, event_type, n_users, n_first, n_prev)")
        .select(col("step"), col("event_type"), col("n_users"),
          expr("CAST((1000 * n_users) DIV n_first AS BIGINT)").as("vs_first_permille"),
          expr("CAST((1000 * n_users) DIV n_prev AS BIGINT)").as("vs_prev_permille"))
        .orderBy("step")
    }),

    // maximal independent set: deterministic Luby rounds with per-round
    // md5 priorities — the distributed symmetry-breaking classic; state
    // in {in, out, undecided} after 4 fixed rounds, chained-CTE replay
    "q_mis" -> ((s, dir) =>
      algos.Algos.maximalIndependentSet(relatedTo(s, dir), rounds = 4)
        .select(col("id").as("p_partkey"), col("state"))),

    // frequent triple itemsets (a-priori) over part-CATEGORY baskets
    // (pk % 97 — raw part-id triples trend to support 1 as the catalog
    // scales, an empty surface; categories repeat at every SF), support
    // >= 3; oracle = the direct definition (triple join + HAVING),
    // proving the pruned formulation equal
    "q_itemsets" -> ((s, dir) =>
      operators.Olap.frequentTriples(
        GraphLoader.table(lenient(s), dir, "lineitem"), minSupport = 3,
        item = pmod(col("l_partkey"), lit(97)))),

    // vocabulary growth / type-token stats per source: tokens, types,
    // hapax legomena + integer-permille ratios (dataset-card tier)
    "q_vocab" -> ((s, dir) =>
      pipeline.TextOps.vocabGrowth(docs(s, dir))),

    // streaming heavy hitters: complete-mode exact counts per
    // (event_type, user), top-k slice over the drained state table;
    // integer counts + key tie-break = equal to the batch GROUP BY
    "q_stream_topk" -> ((s, dir) =>
      streaming.EventStreams.streamingTopK(lenient(s), dir)),

    // BOUNDED-state heavy hitters on an unbounded key space: per-bucket
    // space-saving summaries (≤ 16×2048 state rows FOREVER) via
    // flatMapGroupsWithState; capacity is non-binding on the gate corpus
    // (distinct users per bucket ≪ 2048 — the q_mine rule), so the
    // drained top-k equals the exact batch GROUP BY and the
    // q_stream_topk oracle gates the approx operator too
    "q_stream_topk_approx" -> ((s, dir) =>
      streaming.EventStreams.streamingTopKApprox(lenient(s), dir)),

    // HLL on the stream: one streaming max-aggregation holds the live
    // register table (m rows per group forever); max is order-
    // insensitive so the drained state equals the batch sketch and the
    // batch-replay oracle gates the streamed run
    "q_stream_hll" -> ((s, dir) => {
      val ss = lenient(s)
      val regs = streaming.EventStreams.streamingHll(ss, dir)
      val est = pipeline.Sketches.hllEstimate(regs)
      val exact = GraphLoader.table(ss, dir, "events")
        .groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("event_id")).cast("long").as("n_exact"))
      est.join(exact, "grp")
        .select(col("grp"), col("m"), col("n_exact"), col("n_zero"),
          col("sum_reg"), col("z_num"), col("est"),
          (abs(col("est") - col("n_exact")) <=
            lit(0.2) * col("n_exact").cast("double"))
            .cast("long").as("within_20pct"))
        .orderBy("grp")
    }),

    // quantile sketch on the stream: live ≤64-rows-per-group histogram
    // as complete-mode count state, drained and assembled into the same
    // surface as the batch q_qsketch (order-insensitive counts — the
    // drained state equals the batch sketch exactly, so the batch
    // oracle gates the streamed run); exact pin from the batch table
    "q_stream_qsketch" -> ((s, dir) => {
      val ss = lenient(s)
      val hg = streaming.EventStreams.streamingQuantileHist(ss, dir)
      val base = GraphLoader.table(ss, dir, "events")
        .select(col("event_type").cast("string").as("grp"),
          floor(col("value")).cast("long").as("v"))
      pipeline.Sketches.qsketchFromHist(hg, base)
    }),

    // watermarked stream-stream interval join: non-error events joined
    // to the same user's errors from the trailing 30 minutes
    "q_stream_join" -> ((s, dir) =>
      streaming.EventStreams.intervalJoinStreamed(lenient(s), dir)),

    // stream-static enrichment: streamed events broadcast-joined to the
    // customer→nation dimension inside each micro-batch (no state, no
    // watermark); stateless, so the batch-join oracle gates it directly
    "q_stream_enrich" -> ((s, dir) => {
      val ss = lenient(s)
      val cust = GraphLoader.table(ss, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val nat = GraphLoader.table(ss, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val dim = cust.join(nat, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          col("n_name").as("nation"))
      streaming.EventStreams.enrichStreamed(ss, dir, dim, "c_custkey")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("segment"), col("nation"))
        .orderBy("event_id")
    }),

    // train/val/test assignment through Structured Streaming ingest —
    // stateless per-row hash, so any micro-batch order lands every doc
    // in the same split; gated by the q_split batch oracle unchanged
    "q_stream_split" -> ((s, dir) =>
      streaming.EventStreams.streamingSplit(lenient(s), dir)),

    // streaming graph updates: foreachBatch appends TRIGGERED edges to a
    // parquet edge dir; the appended frame aggregates to the same counts
    // as the source events (exactly-once per epoch)
    "q_stream_graph_update" -> ((s, dir) => {
      streaming.EventStreams.edgeAppendRun(lenient(s), dir,
          edgeDir = scratch("stream_edges"),
          checkpointDir = scratch("stream_ckpt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col(graph.PropertyGraph.EID)).as("n_edges"))
        .orderBy("event_type")
    }),

    "q_sessionize" -> ((s, dir) => {
      val ev = GraphLoader.eventsTable(lenient(s), dir)
      streaming.EventStreams.sessionizeBatch(ev, gapMinutes = 30)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start"),
          unix_micros(col("session_end")).as("session_end"),
          col("n_events"),
          round(col("total_value"), 3).as("total_value"))
        .orderBy("user_id", "session_start")
    }),

    // ================================================================
    // Graph analytics (graft.algos) over the RELATED_TO part graph
    // (reference analog: recursive-CTE traversals, translator.ts).
    // ================================================================

    "q_degree" -> ((s, dir) =>
      g(s, dir).degreesFor("Customer")
        .select(col("_id").as("id"), col("outDegree"), col("inDegree"), col("degree"))
        .orderBy("id")),

    // ref benchmark: items_owned_by_multiple analog
    "q_coowned" -> ((s, dir) =>
      g(s, dir).cypher(
        """MATCH (o:Order)-[:CONTAINS]->(p:Part)
           WITH p, count(DISTINCT o) AS order_cnt WHERE order_cnt >= 5
           RETURN p.p_partkey AS p_partkey, order_cnt ORDER BY p_partkey""")),

    "q_triangles" -> ((s, dir) =>
      algos.Algos.triangleCount(relatedTo(s, dir))),

    // per-node local clustering coefficient over the same co-order
    // graph: integer (tri_cnt, degree) + one exact double division
    "q_clustcoeff" -> ((s, dir) =>
      algos.Algos.clusteringCoefficient(relatedTo(s, dir))),

    // degree assortativity: exact integer sufficient statistics + an
    // exactly-rounded IEEE assembly (one-row surface)
    "q_assort" -> ((s, dir) =>
      algos.Algos.assortativity(relatedTo(s, dir))),

    "q_shortestpath" -> ((s, dir) =>
      algos.Algos.shortestPaths(relatedTo(s, dir), source = 1L, maxDepth = 4)
        .select(col("id").as("p_partkey"), col("dist").cast("long").as("dist"))
        .orderBy("p_partkey")),

    // multi-source BFS hop histogram (effective-diameter raw material)
    "q_hop_histogram" -> ((s, dir) =>
      algos.Algos.hopHistogram(relatedTo(s, dir),
        seeds = Seq(1L, 2L, 3L), maxDepth = 3)),

    // effective diameter (p90 reach distance) per seed — integer rank
    // arithmetic over the per-seed hop histogram
    "q_diameter" -> ((s, dir) =>
      algos.Algos.effectiveDiameter(relatedTo(s, dir),
        seeds = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L), maxDepth = 4)),

    // sampled harmonic centrality (Eppstein-Wang estimator shape): one
    // multi-source BFS from a fixed 8-seed sample, per-term 1/d rounded
    // 6dp and summed as exact DECIMAL (order-independent)
    "q_harmonic" -> ((s, dir) =>
      algos.Algos.harmonicCentrality(relatedTo(s, dir),
        seeds = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L), maxDepth = 4)
        .withColumnRenamed("id", "p_partkey")),

    // HITS hubs & authorities: 5 fixed synchronous rounds, integer
    // micro-unit scores with (raw*1e6) DIV max normalization — exact
    // BIGINT arithmetic end to end, chained-CTE replay
    "q_hits" -> ((s, dir) =>
      algos.Algos.hits(relatedTo(s, dir), iterations = 5)
        .select(col("id").as("p_partkey"), col("hub"), col("auth"))),

    // weighted SSSP (bounded Bellman-Ford, 6 relaxation rounds) over
    // the co-order graph with integer micro-cost weights 1e6 DIV
    // multiplicity — more shared orders = cheaper hop; all-BIGINT
    "q_sssp" -> ((s, dir) => {
      val li = GraphLoader.table(lenient(s), dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val w = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("_src"), col("b.pk").as("_dst"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("_w", expr("CAST(1000000 DIV cnt AS BIGINT)"))
      algos.Algos.weightedShortestPaths(w, source = 1L, rounds = 6)
        .select(col("id").as("p_partkey"), col("dist").as("dist_us"))
        .orderBy("p_partkey")
    }),

    // deterministic random walks (derandomized DeepWalk sampling):
    // 64 md5-picked starts × 4 walks each × 8 steps, walk w's step t
    // the out-neighbor minimizing md5(start|w|t|x) — zero RNG state,
    // engine-replayable, sibling walks diverge via the walkId salt
    // r21: q_walks / q_walk_pmi / q_pmi_embed all consume the IDENTICAL
    // (64, 8, 4) walk corpus — one memoized run (the dupPairs
    // discipline; a real embedding pipeline materializes its walk
    // corpus once and derives pairs/lift/vectors from it)
    "q_walks" -> ((s, dir) => walks684(s, dir)),

    // node2vec-biased walks: return/in/out classes weighted 250/1000/500
    // (p=4, q=2 in permille), hop = argmin of hash60 DIV weight —
    // integer-exact second-order bias, chained-CTE replay
    "q_walks_n2v" -> ((s, dir) =>
      algos.Algos.node2vecWalks(relatedTo(s, dir),
        nStarts = 64, steps = 6, walksPerStart = 2)),

    // skip-gram PMI over the walk corpus — the walk->embedding loop
    // closed: (center, context) pairs at step distance 1..2 inside the
    // q_walks corpus, scored by the q_colloc rational lift; the oracle
    // re-derives the pairs from the walk oracle's own CTE chain
    "q_walk_pmi" -> ((s, dir) =>
      algos.Algos.walkSkipGramLift(walks684(s, dir),
        window = 2, minCount = 2L, topN = 50)),

    // r20: the walk corpus factorized to node VECTORS — deterministic
    // ±1 random projection (md5-parity hyperplanes) of the integer
    // lift matrix, all-BIGINT (node, d, v) rows; the oracle re-derives
    // pairs, lift millionths, and the projection from the walk
    // oracle's own CTE chain
    "q_pmi_embed" -> ((s, dir) =>
      algos.Algos.walkPmiEmbedding(walks684(s, dir),
        window = 2, minCount = 2L, dim = 8)),

    // sampled betweenness (Brandes over the 8-seed fixed sample,
    // distance-bounded at 4): forward σ per level, backward δ per level
    // with round-7dp terms summed as exact DECIMAL — chained-CTE replay
    "q_betweenness" -> ((s, dir) =>
      algos.Algos.betweennessSampled(relatedTo(s, dir),
          seeds = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L), maxDepth = 4)
        .withColumnRenamed("id", "p_partkey")),

    "q_concomp" -> ((s, dir) =>
      algos.Algos.connectedComponents(relatedTo(s, dir))
        .select(col("id").as("p_partkey"), col("component"))
        .orderBy("p_partkey")),

    // strongly connected components over a DIRECTED derived graph:
    // per-order part cycles (1-in-50 orders) + path-only chains (the
    // next 1-in-50) — trim + coloring + backward gather; component ids
    // are canonical (min member), so the transitive-closure oracle
    // replays the answer with no knowledge of the algorithm
    "q_scc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = GraphLoader.table(lenient(s), dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      def chainOf(part: DataFrame): DataFrame = {
        val w = Window.partitionBy("ok").orderBy("pk")
        part.withColumn("np", lead("pk", 1).over(w))
          .filter(col("np").isNotNull)
          .select(col("pk").as("u"), col("np").as("v"))
      }
      val cyc = li.filter(col("ok") % 50 === 0).distinct()
      val pth = li.filter(col("ok") % 50 === 1).distinct()
      val closing = cyc.groupBy("ok")
        .agg(max("pk").as("u"), min("pk").as("v"))
        .filter(col("u") =!= col("v")).select("u", "v")
      val edges = chainOf(cyc).unionByName(closing).unionByName(chainOf(pth))
      val comp = algos.Algos.stronglyConnectedComponents(edges, src = "u", dst = "v")
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("scc_size"))
      comp.join(sizes, "component")
        .select(col("id").as("p_partkey"), col("component").as("scc"),
          col("scc_size"))
        .orderBy("p_partkey")
    }),

    // DuckDB 10-iteration chained-CTE oracle; ranks rounded to 6 dp so
    // summation-order float noise (Spark partial aggs vs DuckDB) vanishes
    "q_pagerank" -> ((s, dir) =>
      algos.Algos.pageRank(relatedTo(s, dir), iterations = 10)
        .select(col("id").as("p_partkey"), round(col("rank"), 6).as("rank"))
        .orderBy("p_partkey")),

    // WEIGHTED PageRank over the co-order multiplicity graph: rank
    // splits proportionally to shared-order counts (rank*w/W(u));
    // 10-round chained-CTE replay with the weighted contribution term
    "q_pagerank_w" -> ((s, dir) => {
      val li = GraphLoader.table(lenient(s), dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val w = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("_src"), col("b.pk").as("_dst"))
        .agg(count(lit(1)).cast("long").as("_w"))
      algos.Algos.pageRankWeighted(w, iterations = 10)
        .select(col("id").as("p_partkey"), round(col("rank"), 6).as("rank"))
        .orderBy("p_partkey")
    }),

    // personalized PageRank: restart + dangling mass return to the seed
    // set — "related to these parts" by graph proximity
    "q_ppr" -> ((s, dir) =>
      algos.Algos.personalizedPageRank(relatedTo(s, dir),
          seeds = Seq(1L, 2L, 3L), iterations = 10)
        .select(col("id").as("p_partkey"), round(col("rank"), 6).as("rank"))
        .orderBy("p_partkey")),

    // DuckDB 5-iteration chained-CTE oracle (fixed synchronous rounds,
    // deterministic smallest-label tie-break — exactly the Spark rule)
    "q_labelprop" -> ((s, dir) =>
      algos.Algos.labelPropagation(relatedTo(s, dir), iterations = 5)
        .select(col("id").as("p_partkey"), col("label"))
        .orderBy("p_partkey")),

    // Louvain phase-1 community detection: 3 fixed synchronous local-
    // move rounds, integer modularity-gain surrogate S·kin − k·Σtot'
    // (ΔQ scaled by 2m² — zero floats), smallest-community tie-break;
    // chained-CTE oracle replays the identical labeling
    "q_louvain" -> ((s, dir) =>
      algos.Algos.louvain(relatedTo(s, dir), rounds = 3)
        .select(col("id").as("p_partkey"), col("community"))
        .orderBy("p_partkey")),

    // WEIGHTED Louvain over the co-order multiplicity graph (the
    // q_pagerank_w edge derivation): community detection that SEES the
    // shared-order counts instead of flattening them to 1 — the
    // semi-synchronous integer local move louvainLevels runs on coarse
    // tiers, exposed at level 1; chained-CTE oracle replays the
    // weighted move including the md5-parity mover gate
    "q_louvain_w" -> ((s, dir) => {
      val li = GraphLoader.table(lenient(s), dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val w = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("_src"), col("b.pk").as("_dst"))
        .agg(count(lit(1)).cast("long").as("_w"))
      algos.Algos.louvainWeighted(w, rounds = 3)
        .select(col("id").as("p_partkey"), col("community"))
        .orderBy("p_partkey")
    }),

    // TWO-LEVEL Louvain (phase 1 + Blondel '08 phase-2 coarsening):
    // phase-1 communities contract to a weighted super-graph (self-loop
    // = 2×intra-edges, degrees preserved), then the same integer local
    // move reruns semi-synchronously (round-salted md5 parity gates
    // movers, breaking super-node swap 2-cycles); chained-CTE oracle
    // replays BOTH levels including the contraction
    "q_louvain2" -> ((s, dir) =>
      algos.Algos.louvainLevels(relatedTo(s, dir), rounds = 3, rounds2 = 2)
        .select(col("id").as("p_partkey"), col("community"))
        .orderBy("p_partkey")),

    // k-core via fixed synchronous pruning rounds (chained-CTE oracle)
    "q_kcore" -> ((s, dir) =>
      algos.Algos.kCore(relatedTo(s, dir), k = 80, rounds = 10)
        .select(col("id").as("p_partkey"), col("core_degree"))
        .orderBy("p_partkey")),

    // undirected degree spectrum: log2 frequency-of-degrees histogram,
    // the graph dataset-card power-law diagnostic — all-integer
    "q_degree_spectrum" -> ((s, dir) =>
      algos.Algos.degreeSpectrum(relatedTo(s, dir))),

    // HyperBall (Boldi-Vigna '13): every node's ball size per radius on
    // HLL registers — one scatter-join + one (node,bucket) max-combine
    // per round; exact integer register aggregates + the raw-HLL
    // estimate, replayed bit-for-bit by the chained-CTE oracle
    "q_hyperball" -> ((s, dir) =>
      hyperBall3(s, dir)
        .select(col("id").as("p_partkey"), col("t"), col("n_present"),
          col("sum_reg"), col("z_num"), col("est"))
        .orderBy("p_partkey", "t")),

    // the neighborhood function NF(t) — HyperBall's headline summary
    // (what the construction exists to produce): per-round DECIMAL
    // sums of the ball estimates as integer thousandths + the reach
    // permille a dataset card reads the effective diameter off;
    // rounds+1 rows at any graph size. Reads the SAME memoized
    // hyperBall frame as q_hyperball (neighborhoodFunctionFrom), so
    // the family pays the iterative register run once per session —
    // in the bench, steady runs measure the NF aggregate itself
    "q_hyperball_nf" -> ((s, dir) =>
      algos.Algos.neighborhoodFunctionFrom(hyperBall3(s, dir))),

    // ================================================================
    // Relational OLAP surface (graft.operators.Olap) + KMV sketch +
    // node similarity — r16 batch 3.
    // ================================================================

    // day-granularity purchase-cohort retention matrix; all-integer
    // surface (permille = integer division)
    "q_retention" -> ((s, dir) =>
      operators.Olap.retention(
        GraphLoader.eventsTable(lenient(s), dir), "purchase")),

    // ROLLUP revenue summary in one pass: (flag,status) cells +
    // per-flag subtotals + grand total; money as exact integer cents
    "q_cube" -> ((s, dir) =>
      operators.Olap.rollupSummary(GraphLoader.table(lenient(s), dir, "lineitem"))),

    // status × priority crosstab via native pivot with a pinned value
    // list (no distinct-values pre-job)
    "q_pivot" -> ((s, dir) =>
      operators.Olap.pivotCounts(GraphLoader.table(lenient(s), dir, "orders"))),

    // per-type inter-arrival stats over (user,type) event sequences;
    // epoch-micro integers end to end, exact interpolated median
    "q_interarrival" -> ((s, dir) =>
      operators.Olap.interArrival(GraphLoader.eventsTable(lenient(s), dir))),

    // exact integer-arithmetic 3σ outlier counts: the |x−μ|>3σ test
    // cross-multiplied into DECIMAL(38,0) — no mean/variance/sqrt on
    // the hashed surface
    "q_anomaly" -> ((s, dir) =>
      operators.Olap.anomaly(GraphLoader.eventsTable(lenient(s), dir))),

    // per-source distributional drift: chi-square of each source's
    // language mix vs the corpus expectation, cross-multiplied integer
    // cells + floor(x*1e6 + 0.5) quantization (the portable rounding)
    "q_drift" -> ((s, dir) =>
      pipeline.TextOps.sourceDrift(docs(s, dir))),

    // drift ON THE STREAM: one complete-mode (source, lang) count is
    // the whole state (grid-sized forever); the drained counts feed the
    // same chi-square cell grid, so the batch oracle gates the stream
    "q_stream_drift" -> ((s, dir) =>
      streaming.EventStreams.streamingSourceDrift(lenient(s), dir)),

    // Jaccard node similarity (link prediction) over the customer—part
    // purchase relation: md5-sampled node set (the q_mine gate bound),
    // hub-capped postings, top-20 pairs; jaccard = one exact IEEE
    // divide of integers
    "q_nodesim" -> ((s, dir) => {
      val ss = lenient(s)
      val cp = GraphLoader.table(ss, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(GraphLoader.table(ss, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      algos.Algos.nodeSimilarity(cp, "o_custkey", "l_partkey",
          topK = 20, sampleN = 1024, occCap = 1024)
        .select(col("node_a").as("cust_a"), col("node_b").as("cust_b"),
          col("inter"), col("deg_a"), col("deg_b"), col("jaccard"))
    }),

    // per-node top-k node similarity — the PRODUCTION shape (the
    // reference's related_items_* pattern: a similarity graph, not 20
    // global pairs): every scored pair scattered to both endpoints,
    // ranked in a per-node window over pair partials (bounded by
    // deg·occCap per node); same md5-sampled gate bound as q_nodesim
    "q_nodesim_topk" -> ((s, dir) => {
      val ss = lenient(s)
      val cp = GraphLoader.table(ss, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(GraphLoader.table(ss, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      algos.Algos.nodeSimilarityTopK(cp, "o_custkey", "l_partkey",
          kPerNode = 3, sampleN = 1024, occCap = 1024)
        .select(col("node").as("cust"), col("rnk"), col("nbr").as("cust_nbr"),
          col("inter"), col("jaccard"))
    }),

    // KMV/theta-sketch intersection: distinct users doing click ∩
    // purchase from two 64-hash sketches; θ, counts and floor-div
    // estimates all integers, exact counts ride along as the error pin
    "q_kmv" -> ((s, dir) =>
      pipeline.Sketches.kmvIntersectSummary(
        GraphLoader.eventsTable(lenient(s), dir),
        "user_id", "event_type", "click", "purchase")),

    // k-truss membership (support >= 10, 5 synchronous rounds) over the
    // RELATED_TO co-order graph — the edge-cohesion analog of q_kcore;
    // the round-5 (u, v, support) surface is all-integer
    "q_ktruss" -> ((s, dir) =>
      algos.Algos.kTruss(relatedTo(s, dir), support = 10, rounds = 5)),

    // piecewise aggregate approximation: per-user 8-day segments with
    // integer mean — the time-series downsampling representation
    "q_paa" -> ((s, dir) =>
      operators.Olap.paa(GraphLoader.eventsTable(lenient(s), dir))),

    // 2D skyline (Pareto frontier): cheapest-price / highest-quantity
    // line items — per-price max aggregation + ONE running-max window
    // over the aggregated frame (never a quadratic dominance self-join)
    "q_skyline" -> ((s, dir) =>
      operators.Olap.skyline(GraphLoader.table(lenient(s), dir, "lineitem"))),

    // NTILE decile bands of doc length per language — deterministic
    // (value, id) order, per-band integer count/min/max
    "q_ntile" -> ((s, dir) =>
      operators.Olap.decileBands(docs(s, dir))),

    // resource-allocation link prediction over the RELATED_TO co-order
    // graph: wedge enumeration + 6dp-rounded 1/deg terms summed as
    // exact DECIMAL (order-independent), top-50 pairs; pair endpoints
    // bounded to a fixed 512-node md5 sample (full-graph degrees) —
    // the Σdeg² pair surface must be gate-bounded (q_mine rule)
    "q_ra" -> ((s, dir) =>
      algos.Algos.resourceAllocation(relatedTo(s, dir), sampleN = 512)),

    // Adamic-Adar link prediction: same wedge enumeration with the
    // logarithmic hub discount 1/ln(deg z) — completes the common-
    // neighbor family (Jaccard, RA, AA)
    "q_aa" -> ((s, dir) =>
      algos.Algos.adamicAdar(relatedTo(s, dir), sampleN = 512)),

    // RA scoring of an EXTERNALLY SUPPLIED candidate set — the
    // production path (blocking stage proposes, RA scores): candidates
    // here are the RELATED_TO edges whose endpoints both fall in a
    // fixed 256-node md5 sample (bounded by construction, the q_mine
    // rule); degrees stay full-graph, zero-common pairs keep ra = 0
    "q_ra_cand" -> ((s, dir) => {
      val edges = relatedTo(s, dir)
      val picked = edges.select(col("_src").as("n"))
        .unionByName(edges.select(col("_dst").as("n")))
        .distinct()
        .orderBy(md5(col("n").cast("string")), col("n"))
        .limit(256)
      val cand = edges
        .join(picked.withColumnRenamed("n", "_src"), Seq("_src"))
        .join(picked.withColumnRenamed("n", "_dst"), Seq("_dst"))
        .select(col("_src").as("a"), col("_dst").as("b"))
      algos.Algos.resourceAllocationScores(cand, edges)
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("n_common"), col("ra"))
    }),

    // ROTATED streaming Bloom: per-day bit sets keyed (window, pos)
    // with watermark eviction of closed windows — bounded live state on
    // an unbounded stream, per-window filters OR into any horizon
    "q_stream_bloom_rotate" -> ((s, dir) =>
      streaming.EventStreams.streamingBloomRotated(lenient(s), dir)),

    // CMS on the stream: row-local d-cell projection + ONE complete-
    // mode count holds the live d×w counter table; counts are order-
    // insensitive so the drained state equals the batch sketch and the
    // q_cms-shaped oracle gates it (same probes, same exact join)
    "q_stream_cms" -> ((s, dir) => {
      val ss = lenient(s)
      import ss.implicits._
      val cms = streaming.EventStreams.streamingCms(ss, dir)
      val ev = GraphLoader.table(ss, dir, "events")
      val probes = ((1L to 20L) ++ (9991L to 9995L)).toDF("user_id")
      val est = pipeline.Sketches.cmsEstimate(cms, probes, "user_id")
      val exact = ev.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("exact"))
      est.join(exact, Seq("user_id"), "left")
        .select(col("user_id"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"),
          (col("est") >= coalesce(col("exact"), lit(0L)))
            .cast("long").as("over_ok"))
        .orderBy("user_id")
    }),

    // trailing 3-row moving sum/avg per user sequence — the ROWS-frame
    // window surface; integer milli-units, avg as integer division
    "q_moving" -> ((s, dir) =>
      operators.Olap.movingAggregates(GraphLoader.eventsTable(lenient(s), dir))),

    // cohort retention on the stream: ONE streaming dropDuplicates
    // holds the distinct (user, day) activity set (the matrix's
    // sufficient state); set-ness is order-insensitive so the batch
    // q_retention oracle gates the streamed run verbatim
    "q_stream_retention" -> ((s, dir) =>
      streaming.EventStreams.streamingRetention(lenient(s), dir)),

    // integer-3σ anomaly stats on the stream: (n, Σx, Σx²) as exact
    // DECIMAL complete-mode state (one row per type forever), drained
    // and broadcast into the batch flagging scan; exact sums are
    // order-insensitive so the batch q_anomaly oracle gates it
    "q_stream_anomaly" -> ((s, dir) =>
      streaming.EventStreams.streamingAnomaly(lenient(s), dir)),

    // Bloom filter on the stream: row-local position cells + ONE
    // streaming dropDuplicates holds the live bit set (≤ m rows
    // forever); set union is order-insensitive so the drained sink
    // equals the batch filter and the q_bloom-shaped oracle gates it
    "q_stream_bloom" -> ((s, dir) => {
      val ss = lenient(s)
      val ev = GraphLoader.table(ss, dir, "events")
      val nKeys = ev.select("user_id").distinct().count()
      val m = pipeline.Sketches.bloomSize(nKeys)
      val bits = streaming.EventStreams.streamingBloomBits(ss, dir, m = m)
      val nBits = bits.count()
      val keys = ev.select(col("user_id").as("ckey")).distinct()
      val probes = keys
        .unionByName(ss.range(1000001L, 1001001L).select(col("id").as("ckey")))
      val flagged = pipeline.Sketches.bloomProbe(bits, probes, "ckey", m)
        .join(keys.withColumn("present", lit(1L)), Seq("ckey"), "left")
        .select(col("hit"), coalesce(col("present"), lit(0L)).as("present"))
      flagged.agg(
        lit(m).as("m"),
        lit(nKeys).as("n_keys"),
        lit(nBits).as("n_bits_set"),
        count(lit(1)).cast("long").as("n_probes"),
        sum(col("present")).cast("long").as("n_present"),
        sum(col("hit")).cast("long").as("n_hits"),
        sum(when(col("hit") === 1L && col("present") === 0L, 1L)
          .otherwise(0L)).cast("long").as("n_false_pos"),
        (sum(col("present") * (lit(1L) - col("hit"))) === 0L)
          .cast("long").as("no_false_neg"))
    })
  )

  private def relatedTo(s: SparkSession, dir: String): DataFrame =
    g(s, dir).edgeFrame(graph.EdgeType("RELATED_TO", "Part", "Part"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    GraphLoader.table(lenient(s), dir, "documents")

  /** Static BM25 query-term set (q_bm25) — shared by the Spark query and
    * the generated oracle so both sides always score the same terms. */
  private val bm25Terms = Seq("spark", "query", "filter", "join", "stream")

  /** Deterministic noise injection for q_normalize: a BOM prefix, every
    * 'e' gains a combining acute (U+0301 — NFC composes it), '. ' gains
    * an NBSP, every 'a' gains a zero-width space, and a suffix carries a
    * control char, em-dash, curly quotes and an ellipsis. The oracle
    * replays the identical replace chain with chr() so both engines
    * clean the SAME noisy corpus. */
  private def plantNoisyText(docsDf: DataFrame): DataFrame =
    docsDf.withColumn("text",
      concat(
        lit("\uFEFF"),
        call_function("replace",
          call_function("replace",
            call_function("replace", col("text"), lit("e"), lit("e\u0301")),
            lit(". "), lit(".\u00A0 ")),
          lit("a"), lit("a\u200B")),
        lit(" \u0007\u2014 \u2018fin\u2019\u2026")))

  /** DuckDB replay of [[pipeline.TextOps.bm25]] at its defaults (k1=1.2,
    * b=0.75, topK=20), generated from [[bm25Terms]]. The SQL mirrors the
    * Spark dag operation-for-operation — INCLUDING constant construction
    * (`k1+1` as `1.2 + 1.0`, `1-b` as `1.0 - 0.75`) so every IEEE double
    * intermediate is bit-identical; idf's ln rounds at 7dp and the
    * per-term contributions sum as exact DECIMAL (the q_perplexity rule).
    */
  private def bm25Oracle: String = {
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ws, w -> w = '$t')) AS tf$i"
    }.mkString(",\n             ")
    val dfCols = bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(",\n             ")
    def contrib(i: Int) =
      s"""CASE WHEN tf$i > 0 THEN CAST(round(
             round(ln(1.0 + (CAST(n_docs - df$i AS DOUBLE) + 0.5)
                 / (CAST(df$i AS DOUBLE) + 0.5)), 7)
             * ((CAST(tf$i AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
               / (CAST(tf$i AS DOUBLE) + CAST(1.2 AS DOUBLE)
                  * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                    + CAST(0.75 AS DOUBLE)
                      * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))))
             , 7) AS DECIMAL(18,7)) ELSE CAST(0 AS DECIMAL(18,7)) END"""
    val nTerms = bm25Terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
           FROM documents),
         base AS (
           SELECT doc_id, len(ws) AS dl,
             $tfCols
           FROM toks),
         stats AS (
           SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
             $dfCols
           FROM base),
         scored AS (
           SELECT doc_id,
             CAST($nTerms AS BIGINT) AS n_terms,
             round(CAST(${bm25Terms.indices.map(contrib).mkString("\n               + ")} AS DOUBLE), 6) AS score
           FROM base, stats)
         SELECT doc_id, n_terms, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS "rank"
         FROM scored WHERE n_terms > 0
         QUALIFY "rank" <= 20 ORDER BY "rank""""
  }

  /** A pay-once memo of one derived value per (session, dir, data
    * generation), the generation being `table`'s fingerprint. A lookup
    * first evicts the superseded generations of its (session, dir), so
    * their checkpoint-backed frames don't accumulate for the
    * process life; `drop` forgets a session (the bench reset hook).
    * Each memo family keeps its own map, so evicting one family's
    * generations never drops another's.
    */
  private final class Memo[V](table: String) {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), V]

    def apply(s: SparkSession, dir: String)(make: => V): V = {
      val fp = tableFingerprint(s, dir, table)
      cache.keys
        .filter(k => k._1 == s && k._2 == dir && k._3 != fp)
        .foreach(cache.remove)
      cache.getOrElseUpdate((s, dir, fp), make)
    }

    def drop(s: SparkSession): Unit = cache.keys.filter(_._1 == s).foreach(cache.remove)
  }

  /** Fingerprint of a table's files (name, length, mtime): part of the
    * memo keys, so regenerating testdata in place invalidates memoized
    * derived frames instead of returning stale ones (sessions that never
    * hit the bench reset hook get correctness, not staleness).
    */
  private def tableFingerprint(s: SparkSession, dir: String,
      table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val statuses =
      if (!fs.exists(p)) Seq.empty
      else if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
      else Seq(fs.getFileStatus(p))
    statuses.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** Verified near-dup pairs (complete prefix-filtered Jaccard join),
    * computed ONCE per (session, dir) and shared by q_dedup_jaccard,
    * q_dedup_groups, and the q_pipeline_e2e composition — candidate
    * generation + verify is the dominant cost of all three, and a real
    * pipeline materializes the pair relation once for exactly this
    * reason. jaccardPrefix already materializes its result (through
    * graft.util.Frames), so the memo hands every consumer the same
    * stored frame.
    */
  private val pairsMemo = new Memo[DataFrame]("documents")

  private def dupPairs(s: SparkSession, dir: String): DataFrame =
    pairsMemo(s, dir)(pipeline.Dedup.jaccardPrefix(docs(s, dir)))

  /** Memoized perceptual-hash near-dup pairs (decode + dHash + pigeonhole
    * verify), shared by q_dedup_phash and q_dedup_phash_groups — the
    * dupPairs discipline: the image decode is the dominant cost of both
    * queries, phash already materializes its result, and a real media
    * pipeline materializes the pair relation once for exactly this reason.
    */
  private val phashPairsMemo = new Memo[DataFrame]("documents")

  private def phashPairs(s: SparkSession, dir: String): DataFrame =
    phashPairsMemo(s, dir)(
      pipeline.Dedup.phash(pipeline.Multimodal.plantedPhashTable(docs(s, dir))))

  /** Memoized deterministic-walk corpus at the gate parameters
    * (nStarts=64, steps=8, walksPerStart=4), shared by q_walks,
    * q_walk_pmi and q_pmi_embed — the walk corpus is the shared input
    * of the whole walk→embedding family, and each entry previously
    * re-ran the identical 8-step frontier loop. Checkpoint-backed by
    * deterministicWalks' own loop.
    */
  private val walksMemo = new Memo[DataFrame]("lineitem")

  private def walks684(s: SparkSession, dir: String): DataFrame =
    walksMemo(s, dir)(algos.Algos.deterministicWalks(relatedTo(s, dir),
      nStarts = 64, steps = 8, walksPerStart = 4))

  /** Memoized BPE training run at the gate parameters (merges=8), shared
    * by q_bpe_vocab and q_bpe_tokens — one trained merge table + final
    * vocabulary frame per (session, dir, data generation); the r20
    * verdict #5 pay-once ask. The vocabulary frame is checkpoint-backed
    * by bpeTrain's own loop.
    */
  private val bpeMemo =
    new Memo[(Seq[(Int, String, String, Long)], DataFrame)]("documents")

  private def bpeTrained(s: SparkSession,
      dir: String): (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMemo(s, dir)(pipeline.TextOps.bpeTrainArtifacts(docs(s, dir), merges = 8))

  /** Memoized HyperBall frame at the gate parameters (rounds=3, p=6),
    * shared by q_hyperball and q_hyperball_nf — NF is hyperBall's
    * headline summary, and a caller wanting both should pay the
    * iterative register run ONCE (r19 verdict #3; the dupPairs
    * discipline: fingerprint-keyed, reset-hook-invalidated, the frame
    * itself is checkpoint-backed by hyperBall's own loop).
    */
  private val hbMemo = new Memo[DataFrame]("lineitem")

  private def hyperBall3(s: SparkSession, dir: String): DataFrame =
    hbMemo(s, dir)(algos.Algos.hyperBall(relatedTo(s, dir), rounds = 3, p = 6))

  /** Drop this session's memoized derived frames (near-dup pairs,
    * hyperBall registers, walks, BPE). The bench harness unpersists
    * every RDD between queries — which frees the memoized frames'
    * checkpoint blocks and would leave dangling plans — so its reset
    * hook must call this alongside GraphLoader.invalidate
    * ([[resetSession]] does both).
    */
  def invalidatePairs(s: SparkSession): Unit =
    Seq(pairsMemo, phashPairsMemo, walksMemo, bpeMemo, hbMemo).foreach(_.drop(s))

  /** Return `s` to a clean state between measured queries: drop the
    * memoized graph and derived frames, then free every cache entry and
    * stored RDD ([[Frames.releaseAll]]). */
  def resetSession(s: SparkSession): Unit = {
    GraphLoader.invalidate(s)
    invalidatePairs(s)
    Frames.releaseAll(s)
  }
  private def embs(s: SparkSession, dir: String): DataFrame =
    GraphLoader.table(lenient(s), dir, "embeddings")

  /** The RELATED_TO edge derivation shared by the graph-analytics
    * oracles (canonical small<large part pairs co-occurring in an order).
    */
  /** Deterministic-Luby MIS replay mirroring
    * [[algos.Algos.maximalIndependentSet]]: per round, salted md5
    * priorities over the undecided set, winners strictly below every
    * undecided neighbor, neighbors of winners out.
    */
  private def misOracle(rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      val u = s"u${r - 1}"
      s"""p$r AS MATERIALIZED (
           SELECT id, CAST(('0x' || substring(md5('mis$r:' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS p
           FROM $u),
         nm$r AS MATERIALIZED (
           SELECT s.v AS id, min(p.p) AS np
           FROM p$r p JOIN sym s ON s.u = p.id
           JOIN $u x ON x.id = s.v
           GROUP BY s.v),
         win$r AS MATERIALIZED (
           SELECT p.id FROM p$r p LEFT JOIN nm$r n ON n.id = p.id
           WHERE n.np IS NULL OR p.p < n.np),
         lose$r AS MATERIALIZED (
           SELECT DISTINCT s.v AS id
           FROM win$r w JOIN sym s ON s.u = w.id
           JOIN $u x ON x.id = s.v
           WHERE s.v NOT IN (SELECT id FROM win$r)),
         u$r AS MATERIALIZED (
           SELECT id FROM $u
           WHERE id NOT IN (SELECT id FROM win$r)
             AND id NOT IN (SELECT id FROM lose$r))"""
    }.mkString(",\n")
    val ins = (1 to rounds).map(r => s"SELECT id, 'in' AS state FROM win$r")
      .mkString("\n           UNION ALL ")
    val outs = (1 to rounds).map(r => s"SELECT id, 'out' AS state FROM lose$r")
      .mkString("\n           UNION ALL ")
    s"""WITH $relatedSql,
       sym AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM related
               UNION ALL SELECT p2, p1 FROM related),
       u0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym),
       $iters
       SELECT id AS p_partkey, state FROM (
         $ins
         UNION ALL $outs
         UNION ALL SELECT id, 'undecided' AS state FROM u$rounds)
       ORDER BY p_partkey"""
  }

  /** Fixed-round HITS replay mirroring [[algos.Algos.hits]]: per round,
    * authority = in-edge hub sums then (raw·10⁶) DIV max, hub = out-edge
    * authority sums then the same normalization — exact BIGINTs.
    */
  private def hitsOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { r =>
      val p = s"s${r - 1}"
      s"""ar$r AS MATERIALIZED (
           SELECT n.id, CAST(coalesce(sum(p.hub), 0) AS BIGINT) AS ar
           FROM nodes n LEFT JOIN related e ON e.p2 = n.id
           LEFT JOIN $p p ON p.id = e.p1
           GROUP BY n.id),
         am$r AS (SELECT greatest(max(ar), 1) AS am FROM ar$r),
         a$r AS MATERIALIZED (
           SELECT id, CAST((ar * 1000000) // am AS BIGINT) AS auth
           FROM ar$r, am$r),
         hr$r AS MATERIALIZED (
           SELECT n.id, CAST(coalesce(sum(p.auth), 0) AS BIGINT) AS hr
           FROM nodes n LEFT JOIN related e ON e.p1 = n.id
           LEFT JOIN a$r p ON p.id = e.p2
           GROUP BY n.id),
         hm$r AS (SELECT greatest(max(hr), 1) AS hm FROM hr$r),
         s$r AS MATERIALIZED (
           SELECT h.id, CAST((h.hr * 1000000) // m.hm AS BIGINT) AS hub, a.auth
           FROM hr$r h JOIN a$r a USING (id) CROSS JOIN hm$r m)"""
    }.mkString(",\n")
    s"""WITH $relatedSql,
       nodes AS MATERIALIZED (SELECT p1 AS id FROM related
               UNION SELECT p2 FROM related),
       s0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS hub,
               CAST(1000000 AS BIGINT) AS auth FROM nodes),
       $iters
       SELECT id AS p_partkey, hub, auth FROM s$iterations ORDER BY p_partkey"""
  }

  /** Bounded Bellman–Ford replay mirroring
    * [[algos.Algos.weightedShortestPaths]] over co-order micro-cost
    * weights: per round, keep each node's min of (previous dist, every
    * in-edge relaxation) — all BIGINTs.
    */
  private def ssspOracle(source: Long, rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      val p = s"d${r - 1}"
      s"""d$r AS MATERIALIZED (
           SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT id, dist FROM $p
             UNION ALL
             SELECT r.v AS id, d.dist + r.w AS dist
             FROM $p d JOIN rel r ON r.u = d.id)
           GROUP BY id)"""
    }.mkString(",\n")
    s"""WITH rel AS MATERIALIZED (
         SELECT a.l_partkey AS u, b.l_partkey AS v,
           CAST(1000000 // count(*) AS BIGINT) AS w
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2),
       d0 AS (SELECT CAST($source AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
       $iters
       SELECT id AS p_partkey, dist AS dist_us FROM d$rounds ORDER BY p_partkey"""
  }

  /** Deterministic-walk replay mirroring
    * [[algos.Algos.deterministicWalks]]: per step t, walk w takes the
    * out-neighbor x minimizing (md5(start|w|t|x), x) via a per-(start,
    * walk) rank — the walkId-salted hash stream that makes sibling
    * walks diverge.
    */
  private def walksCtes(nStarts: Int, steps: Int, walksPerStart: Int): String = {
    val iters = (1 to steps).map { t =>
      val p = s"w${t - 1}"
      s"""w$t AS MATERIALIZED (
           SELECT start, walk_id, CAST($t AS BIGINT) AS step, node FROM (
             SELECT c.start, c.walk_id, r.p2 AS node,
               row_number() OVER (PARTITION BY c.start, c.walk_id
                 ORDER BY md5(CAST(c.start AS VARCHAR) || '|' ||
                   CAST(c.walk_id AS VARCHAR) || '|' || '$t' || '|' ||
                   CAST(r.p2 AS VARCHAR)), r.p2) AS rn
             FROM $p c JOIN related r ON r.p1 = c.node)
           WHERE rn = 1)"""
    }.mkString(",\n")
    val unions = (0 to steps).map(t => s"SELECT * FROM w$t").mkString("\n         UNION ALL ")
    s"""$relatedSql,
       nodes AS MATERIALIZED (SELECT p1 AS n FROM related
               UNION SELECT p2 FROM related),
       wids AS MATERIALIZED (
         SELECT CAST(range AS BIGINT) AS walk_id FROM range($walksPerStart)),
       starts AS MATERIALIZED (
         SELECT n AS start FROM nodes
         ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT $nStarts),
       w0 AS MATERIALIZED (
         SELECT start, walk_id, CAST(0 AS BIGINT) AS step, start AS node
         FROM starts CROSS JOIN wids),
       $iters,
       walk AS MATERIALIZED (
         SELECT start, walk_id, step, node FROM (
           $unions))"""
  }

  private def walksOracle(nStarts: Int, steps: Int, walksPerStart: Int): String =
    s"""WITH ${walksCtes(nStarts, steps, walksPerStart)}
       SELECT start, walk_id, step, node FROM walk
       ORDER BY start, walk_id, step"""

  /** Skip-gram lift replay mirroring [[algos.Algos.walkSkipGramLift]]:
    * the SAME walk CTE chain as [[walksOracle]] (the pairs are
    * re-derived from the oracle's own walks, not from Spark's), then
    * ordered in-walk pairs at step distance 1..window, grouped counts,
    * marginals, and the rational lift.
    */
  private def walkPmiOracle(nStarts: Int, steps: Int, walksPerStart: Int,
      window: Int, minCount: Long, topN: Int): String =
    s"""WITH ${walksCtes(nStarts, steps, walksPerStart)},
       pairs AS MATERIALIZED (
         SELECT a.node AS node, b.node AS ctx_node
         FROM walk a JOIN walk b
           ON a.start = b.start AND a.walk_id = b.walk_id
          AND b.step > a.step AND b.step <= a.step + $window),
       cxy AS MATERIALIZED (
         SELECT node, ctx_node, CAST(count(*) AS BIGINT) AS c_xy
         FROM pairs GROUP BY 1, 2),
       cx AS (SELECT node, CAST(sum(c_xy) AS BIGINT) AS c_x
              FROM cxy GROUP BY 1),
       cy AS (SELECT ctx_node, CAST(sum(c_xy) AS BIGINT) AS c_y
              FROM cxy GROUP BY 1),
       nn AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cxy)
       SELECT cxy.node, cxy.ctx_node, cxy.c_xy, cx.c_x, cy.c_y,
         round(CAST(cxy.c_xy * nn.n AS DOUBLE) /
           CAST(cx.c_x * cy.c_y AS DOUBLE), 6) AS lift
       FROM cxy
       JOIN cx ON cx.node = cxy.node
       JOIN cy ON cy.ctx_node = cxy.ctx_node
       CROSS JOIN nn
       WHERE cxy.c_xy >= $minCount
       ORDER BY lift DESC, cxy.node, cxy.ctx_node LIMIT $topN"""

  /** Random-projection embedding replay mirroring
    * [[algos.Algos.walkPmiEmbedding]]: the SAME walk CTE chain, pair
    * counts and marginals as [[walkPmiOracle]], integer lift
    * millionths (floor-div), then the md5(ctx|d)-parity ±1 projection
    * summed per (node, d).
    */
  private def walkPmiEmbedOracle(nStarts: Int, steps: Int,
      walksPerStart: Int, window: Int, minCount: Long, dim: Int): String =
    s"""WITH ${walksCtes(nStarts, steps, walksPerStart)},
       pairs AS MATERIALIZED (
         SELECT a.node AS node, b.node AS ctx_node
         FROM walk a JOIN walk b
           ON a.start = b.start AND a.walk_id = b.walk_id
          AND b.step > a.step AND b.step <= a.step + $window),
       cxy AS MATERIALIZED (
         SELECT node, ctx_node, CAST(count(*) AS BIGINT) AS c_xy
         FROM pairs GROUP BY 1, 2),
       cx AS (SELECT node, CAST(sum(c_xy) AS BIGINT) AS c_x
              FROM cxy GROUP BY 1),
       cy AS (SELECT ctx_node, CAST(sum(c_xy) AS BIGINT) AS c_y
              FROM cxy GROUP BY 1),
       nn AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cxy),
       lifted AS MATERIALIZED (
         SELECT cxy.node, cxy.ctx_node,
           CAST((cxy.c_xy * nn.n * 1000000) // (cx.c_x * cy.c_y) AS BIGINT) AS le6
         FROM cxy
         JOIN cx ON cx.node = cxy.node
         JOIN cy ON cy.ctx_node = cxy.ctx_node
         CROSS JOIN nn
         WHERE cxy.c_xy >= $minCount)
       SELECT l.node, CAST(rd.range AS INTEGER) AS d,
         CAST(sum(l.le6 * (CASE WHEN CAST(('0x' || substring(md5(
             CAST(l.ctx_node AS VARCHAR) || '|' || CAST(rd.range AS VARCHAR)),
             32, 1)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS v
       FROM lifted l CROSS JOIN range($dim) rd
       GROUP BY 1, 2
       ORDER BY node, d"""

  /** BPE training replay mirroring [[pipeline.TextOps.bpeTrain]]: the
    * (word, freq) vocab, char symbol sequences as double-U+001F-joined
    * strings, and per round — pair counts, the (cnt DESC, l, r) argmax,
    * and the single-replace greedy merge application (the
    * half-boundary-consuming pattern that aligns matches to symbol
    * boundaries; see bpeTrain's scaladoc).
    */
  private def bpeCtes(merges: Int): String = {
    val sep = "chr(31)"
    val sep2 = "repeat(chr(31), 2)"
    val iters = (1 to merges).map { m =>
      val p = s"bw${m - 1}"
      s"""bp$m AS MATERIALIZED (
           SELECT pr[1] AS l, pr[2] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
           FROM (
             SELECT freq, unnest(list_transform(range(1, len(syms)),
               i -> [syms[i], syms[i+1]])) AS pr
             FROM (SELECT freq, list_filter(string_split(s, $sep2),
                     x -> x <> '') AS syms FROM $p))
           GROUP BY 1, 2),
         bm$m AS MATERIALIZED (
           SELECT l, r2, cnt FROM bp$m ORDER BY cnt DESC, l, r2 LIMIT 1),
         bw$m AS MATERIALIZED (
           SELECT word, freq, replace(s,
             (SELECT $sep || l || $sep2 || r2 || $sep FROM bm$m),
             (SELECT $sep || l || r2 || $sep FROM bm$m)) AS s
           FROM $p)"""
    }.mkString(",\n")
    s"""btoks AS (
         SELECT unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           w -> w <> '')) AS word
         FROM documents),
       bwords AS MATERIALIZED (
         SELECT word, CAST(count(*) AS BIGINT) AS freq FROM btoks
         WHERE word NOT LIKE '%' || chr(31) || '%' GROUP BY word),
       bw0 AS MATERIALIZED (
         SELECT word, freq,
           $sep2 || array_to_string(list_transform(range(1, len(word) + 1),
             i -> word[i:i]), $sep2) || $sep2 AS s
         FROM bwords),
       $iters"""
  }

  private def bpeVocabOracle(merges: Int): String = {
    val rows = (1 to merges).map(m =>
      s"""SELECT CAST($m AS INTEGER) AS mrank, l AS lhs, r2 AS rhs,
            l || r2 AS merged, cnt AS pair_count FROM bm$m""")
      .mkString("\n         UNION ALL ")
    s"""WITH ${bpeCtes(merges)}
       SELECT * FROM ($rows) ORDER BY mrank"""
  }

  private def bpeTokensOracle(merges: Int): String =
    s"""WITH ${bpeCtes(merges)},
       pieces AS (
         SELECT word, CAST(len(list_filter(string_split(s,
           repeat(chr(31), 2)), x -> x <> '')) AS BIGINT) AS n_pieces_w
         FROM bw$merges),
       dw AS (
         SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           w -> w <> '')) AS word
         FROM documents)
       SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(p.n_pieces_w) AS BIGINT) AS n_pieces
       FROM dw JOIN pieces p USING (word)
       GROUP BY dw.doc_id ORDER BY dw.doc_id"""

  /** Strict-after funnel chain: per-user earliest step times with each
    * step conditioned on being after the previous, null → -1, epoch
    * micros — shared by the batch (q_funnel) and streamed
    * (q_stream_funnel) gates since the streamed state machine is
    * order-insensitive.
    */
  private val funnelOracleSql: String =
    """WITH s1 AS (
         SELECT user_id, min(ts) AS t1 FROM events
         WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (
         SELECT s1.user_id, s1.t1,
           min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
         FROM s1 LEFT JOIN events e
           ON e.user_id = s1.user_id AND e.event_type = 'click'
         GROUP BY s1.user_id, s1.t1),
       s3 AS (
         SELECT s2.user_id, s2.t1, s2.t2,
           min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
         FROM s2 LEFT JOIN events e
           ON e.user_id = s2.user_id AND e.event_type = 'purchase'
         GROUP BY s2.user_id, s2.t1, s2.t2)
       SELECT user_id,
         CAST(coalesce(epoch_us(t1), -1) AS BIGINT) AS t1_us,
         CAST(coalesce(epoch_us(t2), -1) AS BIGINT) AS t2_us,
         CAST(coalesce(epoch_us(t3), -1) AS BIGINT) AS t3_us,
         CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
       FROM s3 ORDER BY user_id"""

  /** node2vec-biased walk replay mirroring [[algos.Algos.node2vecWalks]]:
    * per step, candidates from the related frame, weight by return/in/
    * out class (prev NULL → in), priority = 60-bit md5 hash `//` weight
    * (DuckDB floor-div == Spark IntegralDivide for non-negatives),
    * smallest (priority, x) wins.
    */
  private def n2vWalksOracle(nStarts: Int, steps: Int, walksPerStart: Int,
      retW: Long, inW: Long, outW: Long): String = {
    val iters = (1 to steps).map { t =>
      val p = s"v${t - 1}"
      s"""v$t AS MATERIALIZED (
           SELECT start, walk_id, CAST($t AS BIGINT) AS step,
             node AS prev, x AS node FROM (
             SELECT c.start, c.walk_id, c.node, c.x,
               row_number() OVER (PARTITION BY c.start, c.walk_id
                 ORDER BY c.h // (CASE WHEN c.prev IS NULL THEN $inW
                                       WHEN c.x = c.prev THEN $retW
                                       WHEN a.p1 IS NOT NULL THEN $inW
                                       ELSE $outW END), c.x) AS rn
             FROM (
               SELECT w.start, w.walk_id, w.prev, w.node, r.p2 AS x,
                 CAST(('0x' || substring(md5(CAST(w.start AS VARCHAR) || '|' ||
                   CAST(w.walk_id AS VARCHAR) || '|' || '$t' || '|' ||
                   CAST(r.p2 AS VARCHAR)), 1, 15)) AS BIGINT) AS h
               FROM $p w JOIN related r ON r.p1 = w.node) c
             LEFT JOIN related a ON a.p1 = c.prev AND a.p2 = c.x)
           WHERE rn = 1)"""
    }.mkString(",\n")
    val unions = (0 to steps).map(t => s"SELECT start, walk_id, step, node FROM v$t")
      .mkString("\n         UNION ALL ")
    s"""WITH $relatedSql,
       nodes AS MATERIALIZED (SELECT p1 AS n FROM related
               UNION SELECT p2 FROM related),
       wids AS MATERIALIZED (
         SELECT CAST(range AS BIGINT) AS walk_id FROM range($walksPerStart)),
       starts AS MATERIALIZED (
         SELECT n AS start FROM nodes
         ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT $nStarts),
       v0 AS MATERIALIZED (
         SELECT start, walk_id, CAST(0 AS BIGINT) AS step,
           CAST(NULL AS BIGINT) AS prev, start AS node
         FROM starts CROSS JOIN wids),
       $iters
       SELECT start, walk_id, step, node FROM (
         $unions)
       ORDER BY start, walk_id, step"""
  }

  /** Sampled-Brandes betweenness replay mirroring
    * [[algos.Algos.betweennessSampled]] at maxDepth 4: forward levels
    * l0..l4 with path counts (first-reach via anti-join against the
    * previous visited union), backward dependencies dep3..dep1 with the
    * identical floor(x·10⁷ + 0.5) integer-unit term arithmetic summed
    * as exact BIGINTs (floor, not round: DuckDB's round(double, n)
    * float-multiplies and mis-rounds midpoint-adjacent doubles).
    */
  private def betweennessOracle(seeds: Seq[Long]): String = {
    val fwd = (1 to 4).map { d =>
      val vis =
        if (d == 1) "l0"
        else s"(SELECT s, id FROM vis${d - 1})"
      val visNext =
        if (d < 4)
          s""",
         vis$d AS MATERIALIZED (
           SELECT s, id FROM ${if (d == 1) "l0" else s"vis${d - 1}"}
           UNION ALL SELECT s, id FROM l$d)"""
        else ""
      s"""l$d AS MATERIALIZED (
           SELECT f.s, r.p2 AS id, CAST(sum(f.sigma) AS BIGINT) AS sigma
           FROM l${d - 1} f JOIN related r ON r.p1 = f.id
           LEFT JOIN $vis v ON v.s = f.s AND v.id = r.p2
           WHERE v.id IS NULL
           GROUP BY 1, 2)$visNext"""
    }.mkString(",\n")
    val bwd = (3 to 1 by -1).map { d =>
      val deltaExpr =
        if (d == 3) "CAST(0 AS DOUBLE)"
        else s"CAST(coalesce(dd.delta, 0) AS DOUBLE)"
      val depJoin =
        if (d == 3) ""
        else s"LEFT JOIN dep${d + 1} dd ON dd.s = w.s AND dd.id = w.id"
      s"""dep$d AS MATERIALIZED (
           SELECT v.s, v.id,
             CAST(sum(CAST(floor(CAST(v.sigma AS DOUBLE) *
               (CAST(10000000 AS DOUBLE) + $deltaExpr) /
               CAST(w.sigma AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS delta
           FROM l$d v JOIN related r ON r.p1 = v.id
           JOIN l${d + 1} w ON w.s = v.s AND w.id = r.p2
           $depJoin
           GROUP BY 1, 2)"""
    }.mkString(",\n")
    s"""WITH $relatedSql,
       seeds AS (SELECT CAST(unnest([${seeds.mkString(", ")}]) AS BIGINT) AS s),
       l0 AS MATERIALIZED (SELECT s, s AS id, CAST(1 AS BIGINT) AS sigma FROM seeds),
       $fwd,
       $bwd,
       alldep AS (SELECT * FROM dep1 UNION ALL SELECT * FROM dep2
                  UNION ALL SELECT * FROM dep3)
       SELECT id AS p_partkey, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(delta) AS BIGINT) AS betweenness_e7,
         CAST(CAST(sum(delta) AS BIGINT) AS DOUBLE) /
           CAST(10000000 AS DOUBLE) AS betweenness
       FROM alldep GROUP BY id ORDER BY p_partkey"""
  }

  private val relatedSql =
    """related AS MATERIALIZED (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""

  /** Fixed-iteration PageRank replay: 10 chained CTEs mirroring
    * [[algos.Algos.pageRank]] term by term (uniform teleport, dangling
    * mass redistributed per round, damping cast to DOUBLE so DuckDB does
    * not fall into DECIMAL arithmetic).
    */
  private def pageRankOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val p = s"r${i - 1}"
      // MATERIALIZED: DuckDB inlines plain CTEs, so 10 chained rounds
      // would re-expand the lineitem self-join exponentially (and run
      // out of file handles re-opening the parquet)
      s"""r$i AS MATERIALIZED (
         SELECT d.id,
           (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM params)
           + CAST(0.85 AS DOUBLE) * (SELECT coalesce(sum(r.rank), 0)
               FROM $p r JOIN deg dd ON dd.id = r.id WHERE dd.outdeg = 0)
             / (SELECT n FROM params)
           + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, 0) AS rank
         FROM deg d LEFT JOIN (
           SELECT rel.p2 AS id, sum(r.rank / dd.outdeg) AS contrib
           FROM $p r JOIN deg dd ON dd.id = r.id AND dd.outdeg > 0
           JOIN related rel ON rel.p1 = r.id
           GROUP BY rel.p2) c ON c.id = d.id)"""
    }.mkString(",\n")
    s"""WITH $relatedSql,
       nodes AS MATERIALIZED (SELECT DISTINCT x AS id FROM
         (SELECT p1 AS x FROM related UNION ALL SELECT p2 FROM related)),
       deg AS MATERIALIZED (SELECT id, coalesce(dd.cnt, 0) AS outdeg FROM nodes
         LEFT JOIN (SELECT p1, count(*) AS cnt FROM related GROUP BY 1) dd
           ON dd.p1 = id),
       params AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
       $iters
       SELECT id AS p_partkey, round(rank, 6) AS rank
       FROM r$iterations ORDER BY p_partkey"""
  }

  /** Chi-square drift replay shared by the batch (q_drift) and
    * streamed (q_stream_drift) gates — complete-mode counts are
    * order-insensitive, so both reduce to the same (src, cat, o)
    * frame.
    */
  private val driftOracleSql: String =
    """WITH o AS (
         SELECT source AS src, lang AS cat, CAST(count(*) AS BIGINT) AS o
         FROM documents GROUP BY 1, 2),
       ns AS (SELECT src, CAST(sum(o) AS BIGINT) AS ns FROM o GROUP BY 1),
       nc AS (SELECT cat, CAST(sum(o) AS BIGINT) AS nc FROM o GROUP BY 1),
       t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
       cells AS (
         SELECT s.src, c.cat, s.ns, c.nc, coalesce(o.o, 0) AS o, t.n
         FROM ns s CROSS JOIN nc c
         LEFT JOIN o ON o.src = s.src AND o.cat = c.cat
         CROSS JOIN t),
       term AS (
         SELECT src, ns,
           CAST(floor(CAST(dd * dd AS DOUBLE) /
             CAST(CAST(n AS HUGEINT) * ns * nc AS DOUBLE) *
             CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cell_e6
         FROM (SELECT src, ns,
             CAST(CAST(o AS DECIMAL(18,0)) * n -
                  CAST(ns AS DECIMAL(18,0)) * nc AS DECIMAL(18,0)) AS dd,
             n, nc
           FROM cells))
       SELECT src, CAST(max(ns) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(cell_e6) AS BIGINT) AS chi2_e6,
         CAST(CAST(sum(cell_e6) AS BIGINT) AS DOUBLE) /
           CAST(1000000 AS DOUBLE) AS chi2
       FROM term GROUP BY src ORDER BY src"""

  /** DAU/WAU replay shared by the batch (q_active_users) and streamed
    * (q_stream_active) gates — the streamed pair dedup is
    * order-insensitive, so both reduce to the same distinct
    * (user, day) frame.
    */
  private val activeUsersOracleSql: String =
    """WITH ud AS (
         SELECT DISTINCT
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS uday,
           user_id
         FROM events),
       days AS (SELECT DISTINCT uday AS day FROM ud),
       dau AS (SELECT uday AS day, CAST(count(*) AS BIGINT) AS dau
               FROM ud GROUP BY 1),
       wau AS (
         SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
         FROM days d JOIN ud u
           ON u.uday <= d.day AND u.uday >= d.day - 6
         GROUP BY 1)
       SELECT dau.day, dau.dau, wau.wau
       FROM dau JOIN wau USING (day) ORDER BY day"""

  /** Weighted-PageRank replay mirroring [[algos.Algos.pageRankWeighted]]
    * term by term: weighted out-degree W(u), contribution
    * rank·w/W(u) in the same expression order, dangling = W(u) = 0.
    */
  private def pageRankWeightedOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val p = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         SELECT d.id,
           (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM params)
           + CAST(0.85 AS DOUBLE) * (SELECT coalesce(sum(r.rank), 0)
               FROM $p r JOIN wdeg dd ON dd.id = r.id WHERE dd.wout = 0)
             / (SELECT n FROM params)
           + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, 0) AS rank
         FROM wdeg d LEFT JOIN (
           SELECT rel.p2 AS id, sum(r.rank * rel.w / dd.wout) AS contrib
           FROM $p r JOIN wdeg dd ON dd.id = r.id AND dd.wout > 0
           JOIN wrel rel ON rel.p1 = r.id
           GROUP BY rel.p2) c ON c.id = d.id)"""
    }.mkString(",\n")
    s"""WITH wrel AS MATERIALIZED (
         SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(count(*) AS BIGINT) AS w
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2),
       nodes AS MATERIALIZED (SELECT DISTINCT x AS id FROM
         (SELECT p1 AS x FROM wrel UNION ALL SELECT p2 FROM wrel)),
       wdeg AS MATERIALIZED (SELECT id, coalesce(s.wout, 0) AS wout FROM nodes
         LEFT JOIN (SELECT p1, CAST(sum(w) AS BIGINT) AS wout
                    FROM wrel GROUP BY 1) s ON s.p1 = id),
       params AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
       $iters
       SELECT id AS p_partkey, round(rank, 6) AS rank
       FROM r$iterations ORDER BY p_partkey"""
  }

  /** Fixed-iteration personalized-PageRank replay mirroring
    * [[algos.Algos.personalizedPageRank]] term by term: restart and
    * dangling mass go to the seed set only, |S| is the CONSTANT size of
    * the given seed list (absent seeds park their share).
    */
  private def pprOracle(iterations: Int, seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val sN = s"${seeds.size}.0"
    val iters = (1 to iterations).map { i =>
      val p = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         SELECT d.id,
           CASE WHEN d.id IN ($seedList) THEN
             (1 - CAST(0.85 AS DOUBLE)) / $sN
             + CAST(0.85 AS DOUBLE) * (SELECT coalesce(sum(r.rank), 0)
                 FROM $p r JOIN deg dd ON dd.id = r.id WHERE dd.outdeg = 0)
               / $sN
           ELSE 0 END
           + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, 0) AS rank
         FROM deg d LEFT JOIN (
           SELECT rel.p2 AS id, sum(r.rank / dd.outdeg) AS contrib
           FROM $p r JOIN deg dd ON dd.id = r.id AND dd.outdeg > 0
           JOIN related rel ON rel.p1 = r.id
           GROUP BY rel.p2) c ON c.id = d.id)"""
    }.mkString(",\n")
    s"""WITH $relatedSql,
       nodes AS MATERIALIZED (SELECT DISTINCT x AS id FROM
         (SELECT p1 AS x FROM related UNION ALL SELECT p2 FROM related)),
       deg AS MATERIALIZED (SELECT id, coalesce(dd.cnt, 0) AS outdeg FROM nodes
         LEFT JOIN (SELECT p1, count(*) AS cnt FROM related GROUP BY 1) dd
           ON dd.p1 = id),
       r0 AS MATERIALIZED (
         SELECT id, CASE WHEN id IN ($seedList) THEN 1.0 / $sN ELSE 0 END AS rank
         FROM nodes),
       $iters
       SELECT id AS p_partkey, round(rank, 6) AS rank
       FROM r$iterations ORDER BY p_partkey"""
  }

  /** Fixed-iteration synchronous LPA replay mirroring
    * [[algos.Algos.labelPropagation]]: per round each node takes the most
    * frequent neighbor label, ties to the smallest label.
    */
  /** Fixed-round Louvain phase-1 replay mirroring [[algos.Algos
    * .louvain]]: per round — community degree totals, neighbor-community
    * edge counts, the integer gain surrogate S·kin − k·Σtot' (Σtot'
    * excluding the node's own degree inside its current community), and
    * the (score DESC, cand ASC) argmax. All integers; AS MATERIALIZED so
    * DuckDB doesn't inline the chain exponentially.
    */
  /** Phase-1 local-move CTE chain shared by the q_louvain and
    * q_louvain2 oracles: fixed synchronous rounds of the integer
    * surrogate S·kin − k·Σtot′ with smallest-community tie-break.
    */
  private def louvainPhase1Ctes(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      val p = s"lab${i - 1}"
      s"""tot$i AS MATERIALIZED (
           SELECT l.c, CAST(sum(d.k) AS BIGINT) AS tot
           FROM $p l JOIN deg d ON d.id = l.id GROUP BY l.c),
         kin$i AS MATERIALIZED (
           SELECT e.u AS id, l.c AS cand, CAST(count(*) AS BIGINT) AS kin
           FROM sym e JOIN $p l ON l.id = e.v GROUP BY 1, 2),
         cand$i AS MATERIALIZED (
           SELECT id, cand, max(kin) AS kin FROM (
             SELECT id, cand, kin FROM kin$i
             UNION ALL SELECT id, c AS cand, 0 FROM $p) GROUP BY 1, 2),
         sc$i AS MATERIALIZED (
           SELECT c.id, c.cand,
             s.s * c.kin - d.k * (t.tot -
               CASE WHEN c.cand = l.c THEN d.k ELSE 0 END) AS score
           FROM cand$i c
           JOIN tot$i t ON t.c = c.cand
           JOIN deg d ON d.id = c.id
           JOIN $p l ON l.id = c.id
           CROSS JOIN s),
         lab$i AS MATERIALIZED (
           SELECT id, cand AS c FROM (
             SELECT id, cand,
               row_number() OVER (PARTITION BY id ORDER BY score DESC, cand) AS rn
             FROM sc$i) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""sym AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM related
               UNION ALL SELECT p2, p1 FROM related),
       deg AS MATERIALIZED (
         SELECT u AS id, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY u),
       s AS (SELECT CAST(sum(k) AS BIGINT) AS s FROM deg),
       lab0 AS MATERIALIZED (SELECT id, id AS c FROM deg),
       $iters"""
  }

  private def louvainOracle(rounds: Int): String =
    s"""WITH $relatedSql,
       ${louvainPhase1Ctes(rounds)}
       SELECT id AS p_partkey, CAST(c AS BIGINT) AS community
       FROM lab$rounds ORDER BY p_partkey"""

  /** Two-level replay mirroring [[algos.Algos.louvainLevels]]: the
    * phase-1 chain, the ordered-pair contraction to a weighted
    * super-graph (self rows carry 2×intra-edges so degrees and S are
    * preserved), then `rounds2` WEIGHTED local-move rounds where only
    * super-nodes with even last-md5-hex-digit parity of md5(id|round)
    * move (the Scala semi-synchronous rule). kin sums non-self weights;
    * k is the full weighted degree including the self-loop.
    */
  /** The WEIGHTED semi-synchronous local-move iteration chain
    * (mirroring [[algos.Algos.louvainLocalMove]]) over pre-defined CTEs
    * `wsym` (u, v, w symmetric), `wdeg`, `ws`, `vlab0` — shared by the
    * q_louvain2 (coarse tier) and q_louvain_w (weighted level 1)
    * oracles.
    */
  private def weightedMoveCtes(rounds2: Int): String =
    (1 to rounds2).map { i =>
      val p = s"vlab${i - 1}"
      s"""vtot$i AS MATERIALIZED (
           SELECT l.c, CAST(sum(d.k) AS BIGINT) AS tot
           FROM $p l JOIN wdeg d ON d.id = l.id GROUP BY l.c),
         vkin$i AS MATERIALIZED (
           SELECT e.u AS id, l.c AS cand, CAST(sum(e.w) AS BIGINT) AS kin
           FROM wsym e JOIN $p l ON l.id = e.v
           WHERE e.u <> e.v GROUP BY 1, 2),
         vcand$i AS MATERIALIZED (
           SELECT id, cand, max(kin) AS kin FROM (
             SELECT id, cand, kin FROM vkin$i
             UNION ALL SELECT id, c AS cand, 0 FROM $p) GROUP BY 1, 2),
         vsc$i AS MATERIALIZED (
           SELECT c.id, c.cand,
             w.s * c.kin - d.k * (t.tot -
               CASE WHEN c.cand = l.c THEN d.k ELSE 0 END) AS score
           FROM vcand$i c
           JOIN vtot$i t ON t.c = c.cand
           JOIN wdeg d ON d.id = c.id
           JOIN $p l ON l.id = c.id
           CROSS JOIN ws w),
         vlab$i AS MATERIALIZED (
           SELECT m.id,
             CASE WHEN CAST(concat('0x', substr(md5(
                 CAST(m.id AS VARCHAR) || '|' || '$i'), 32, 1)) AS BIGINT)
                 % 2 = 0
               THEN m.cn ELSE l.c END AS c
           FROM (SELECT id, cand AS cn FROM (
             SELECT id, cand,
               row_number() OVER (PARTITION BY id ORDER BY score DESC, cand) AS rn
             FROM vsc$i) WHERE rn = 1) m
           JOIN $p l ON l.id = m.id)"""
    }.mkString(",\n")

  private def louvainLevelsOracle(rounds: Int, rounds2: Int): String =
    s"""WITH $relatedSql,
       ${louvainPhase1Ctes(rounds)},
       wsym AS MATERIALIZED (
         SELECT lu.c AS u, lv.c AS v, CAST(count(*) AS BIGINT) AS w
         FROM sym e
         JOIN lab$rounds lu ON lu.id = e.u
         JOIN lab$rounds lv ON lv.id = e.v
         GROUP BY 1, 2),
       wdeg AS MATERIALIZED (
         SELECT u AS id, CAST(sum(w) AS BIGINT) AS k FROM wsym GROUP BY u),
       ws AS (SELECT CAST(sum(k) AS BIGINT) AS s FROM wdeg),
       vlab0 AS MATERIALIZED (SELECT id, id AS c FROM wdeg),
       ${weightedMoveCtes(rounds2)}
       SELECT l1.id AS p_partkey, CAST(v.c AS BIGINT) AS community
       FROM lab$rounds l1 JOIN vlab$rounds2 v ON v.id = l1.c
       ORDER BY p_partkey"""

  /** Weighted-Louvain replay mirroring [[algos.Algos.louvainWeighted]]
    * over the co-order multiplicity graph (the q_pagerank_w edge
    * derivation): symmetrized weighted pairs, then the SAME
    * semi-synchronous weighted local-move chain as the q_louvain2
    * coarse tier (shared [[weightedMoveCtes]]).
    */
  private def louvainWeightedOracle(rounds: Int): String =
    s"""WITH wrel AS MATERIALIZED (
         SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(count(*) AS BIGINT) AS w
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2),
       wsym AS MATERIALIZED (
         SELECT p1 AS u, p2 AS v, w FROM wrel
         UNION ALL SELECT p2 AS u, p1 AS v, w FROM wrel),
       wdeg AS MATERIALIZED (
         SELECT u AS id, CAST(sum(w) AS BIGINT) AS k FROM wsym GROUP BY u),
       ws AS (SELECT CAST(sum(k) AS BIGINT) AS s FROM wdeg),
       vlab0 AS MATERIALIZED (SELECT id, id AS c FROM wdeg),
       ${weightedMoveCtes(rounds)}
       SELECT id AS p_partkey, CAST(c AS BIGINT) AS community
       FROM vlab$rounds ORDER BY p_partkey"""

  /** HyperBall replay mirroring [[algos.Algos.hyperBall]] at p=6
    * (m=64, ρ ceiling c=55): md5-derived registers, per-round
    * scatter + bucket-wise max, exact integer snapshots per (node, t),
    * and the same α·m²·2^c / z_num estimate (round 3dp — the q_hll
    * precedent; m is a power of two so the constant is bit-identical
    * whatever the multiply order).
    */
  private def hyperballCtes(rounds: Int): String = {
    val iters = (1 to rounds).map { t =>
      val pr = s"hb${t - 1}"
      s"""hb$t AS MATERIALIZED (
           SELECT id, bucket, max(register) AS register FROM (
             SELECT s.u AS id, r.bucket, r.register
             FROM sym s JOIN $pr r ON r.id = s.v
             UNION ALL SELECT id, bucket, register FROM $pr)
           GROUP BY 1, 2)"""
    }.mkString(",\n")
    val snaps = (0 to rounds).map { t =>
      s"""SELECT id, CAST($t AS BIGINT) AS t,
            CAST(count(*) AS BIGINT) AS n_present,
            CAST(sum(register) AS BIGINT) AS sum_reg,
            CAST(sum(CAST(1 AS BIGINT) << (55 - register))
              + (64 - count(*)) * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS z_num
          FROM hb$t GROUP BY id"""
    }.mkString("\n         UNION ALL ")
    s"""$relatedSql,
       sym AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM related
               UNION ALL SELECT p2, p1 FROM related),
       nodes AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym),
       cells AS (
         SELECT id, h & 63 AS bucket,
           CASE WHEN (h >> 6) = 0 THEN 55
                ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1 END AS rho
         FROM (SELECT id,
                 CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
               FROM nodes)),
       hb0 AS MATERIALIZED (
         SELECT id, bucket, max(rho) AS register FROM cells GROUP BY 1, 2),
       $iters,
       snaps AS ($snaps),
       hbout AS MATERIALIZED (
         SELECT id, t, n_present, sum_reg, z_num,
           round((CAST(0.7213 AS DOUBLE)
               / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE)))
             * CAST(4096.0 AS DOUBLE) * CAST(36028797018963968.0 AS DOUBLE)
             / CAST(z_num AS DOUBLE), 3) AS est
         FROM snaps)"""
  }

  private def hyperballOracle(rounds: Int): String =
    s"""WITH ${hyperballCtes(rounds)}
       SELECT id AS p_partkey, t, n_present, sum_reg, z_num, est
       FROM hbout ORDER BY p_partkey, t"""

  /** Neighborhood-function replay mirroring
    * [[algos.Algos.neighborhoodFunction]]: the SAME register chain as
    * [[hyperballOracle]] (shared hyperballCtes), per-round DECIMAL
    * sums of the per-node estimates (exact, order-independent),
    * integer thousandths + reach permille.
    */
  private def hyperballNfOracle(rounds: Int): String =
    s"""WITH ${hyperballCtes(rounds)},
       perT AS (
         SELECT t, CAST(count(*) AS BIGINT) AS n_nodes,
           sum(CAST(est AS DECIMAL(20,3))) AS nf
         FROM hbout GROUP BY t),
       lastT AS (
         SELECT CAST(nf * 1000 AS BIGINT) AS nf_last_e3 FROM perT
         WHERE t = $rounds)
       SELECT perT.t, perT.n_nodes,
         CAST(perT.nf * 1000 AS BIGINT) AS nf_e3,
         CAST((1000 * CAST(perT.nf * 1000 AS BIGINT)) // lastT.nf_last_e3
           AS BIGINT) AS reach_permille
       FROM perT CROSS JOIN lastT ORDER BY perT.t"""

  private def labelPropOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      val p = s"l${i - 1}"
      s"""n$i AS MATERIALIZED (
           SELECT s.v AS id, l.label, count(*) AS cnt
           FROM $p l JOIN sym s ON s.u = l.id GROUP BY s.v, l.label),
         l$i AS MATERIALIZED (
           SELECT id, min(label) AS label FROM (
             SELECT id, label, rank() OVER (PARTITION BY id ORDER BY cnt DESC) AS rk
             FROM n$i)
           WHERE rk = 1 GROUP BY id)"""
    }.mkString(",\n")
    s"""WITH $relatedSql,
       sym AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM related
               UNION SELECT p2, p1 FROM related),
       l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM sym),
       $iters
       SELECT id AS p_partkey, CAST(label AS BIGINT) AS label
       FROM l$iterations ORDER BY p_partkey"""
  }

  /** Fixed-round k-core replay mirroring [[algos.Algos.kCore]]: each
    * round keeps nodes with in-subgraph degree >= k, then edges with
    * both endpoints kept.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      val p = s"e${i - 1}"
      s"""k$i AS MATERIALIZED (
           SELECT u FROM $p GROUP BY u HAVING count(*) >= $k),
         e$i AS MATERIALIZED (
           SELECT e.u, e.v FROM $p e
           JOIN k$i a ON a.u = e.u JOIN k$i b ON b.u = e.v)"""
    }.mkString(",\n")
    s"""WITH $relatedSql,
       e0 AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM related
             UNION SELECT p2, p1 FROM related),
       $iters
       SELECT u AS p_partkey, count(*) AS core_degree
       FROM e$rounds GROUP BY u ORDER BY p_partkey"""
  }

  /** Complete 3-gram Jaccard similarity self-join (j >= 0.8) — shared by
    * q_dedup_jaccard (prefix filtering is 100%-recall by construction)
    * and q_dedup_minhash (the exact-verify stage guarantees precision and
    * 16×8-band recall at j>=0.8 is >99.9%, so its output equals the
    * complete join; the shared oracle doubles as a standing recall gate).
    */
  private val jaccardPairsOracle: String =
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
       s AS (
         SELECT doc_id,
           list_distinct(list_transform(range(1, len(toks) - 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
         FROM t WHERE len(toks) >= 3),
       e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       p AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id)
       SELECT p.id_a, p.id_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
           len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
       FROM p JOIN s sa ON sa.doc_id = p.id_a JOIN s sb ON sb.doc_id = p.id_b
       WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
           len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8
       ORDER BY id_a, id_b"""

  /** Complete cosine all-pairs join (sim >= 0.45) — shared by
    * q_dedup_embed (the exact baseline) and q_dedup_embed_lsh (whose
    * hash-deterministic buckets + exact verify recover every pair on
    * this corpus, making the shared oracle a standing recall pin).
    */
  private val embedPairsOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                    list_cosine_similarity(a.v, b.v) AS c
             FROM e a JOIN e b ON a.vec_id < b.vec_id)
       SELECT a_id, b_id, round(c, 6) AS sim FROM s
       WHERE c >= CAST(0.45 AS DOUBLE) ORDER BY a_id, b_id"""

  /** Blind near-dup grouping derivation (pairs via complete shingle
    * join, components via recursive CTE, min-id representative) —
    * shared by q_dedup_groups and the q_pipeline_e2e composition.
    */
  /** Shared CTE chain deriving the planted dHash near-dup PAIRS from
    * the phash planting formulas (see Multimodal.plantPhashBase) —
    * consumed by the q_dedup_phash and q_dedup_phash_groups oracles.
    */
  private val phashCtes: String =
    """cells AS MATERIALIZED (
         SELECT d.doc_id, rx.range AS gx, ry.range AS gy,
           ((((d.doc_id // 3) * 31 + rx.range * 53 + ry.range * 29
              + (d.doc_id // 3) * rx.range * 7
              + rx.range * ry.range * 13
              + rx.range * rx.range * 41) % 200)
            + (d.doc_id % 3) * 20) AS v
         FROM documents d CROSS JOIN range(9) rx CROSS JOIN range(8) ry),
       dbits AS MATERIALIZED (
         SELECT a.doc_id, a.gy * 8 + a.gx AS b,
           CASE WHEN a.v > c.v THEN 1 ELSE 0 END AS bit
         FROM cells a JOIN cells c
           ON c.doc_id = a.doc_id AND c.gy = a.gy AND c.gx = a.gx + 1),
       sig AS MATERIALIZED (
         SELECT doc_id, list(bit ORDER BY b) AS bits
         FROM dbits GROUP BY doc_id),
       blk AS MATERIALIZED (
         SELECT doc_id, rb.range AS blk,
           list_reduce(bits[rb.range * 16 + 1 : rb.range * 16 + 16],
             (acc, x) -> acc * 2 + x) AS key
         FROM sig CROSS JOIN range(4) rb),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM blk a JOIN blk b
           ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id),
       phash_pairs AS MATERIALIZED (
         SELECT id_a, id_b,
           CAST(list_sum(list_transform(range(1, 65),
             i -> CASE WHEN sa.bits[i] <> sb.bits[i] THEN 1 ELSE 0 END))
             AS BIGINT) AS hamming
         FROM cand JOIN sig sa ON sa.doc_id = id_a
                   JOIN sig sb ON sb.doc_id = id_b
         WHERE list_sum(list_transform(range(1, 65),
             i -> CASE WHEN sa.bits[i] <> sb.bits[i] THEN 1 ELSE 0 END)) <= 3)"""

  private val dupGroupsOracle: String =
    """WITH RECURSIVE t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
       s AS (
         SELECT doc_id,
           list_distinct(list_transform(range(1, len(toks) - 1),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
         FROM t WHERE len(toks) >= 3),
       e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       p AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id),
       dup AS (
         SELECT p.id_a, p.id_b
         FROM p JOIN s sa ON sa.doc_id = p.id_a JOIN s sb ON sb.doc_id = p.id_b
         WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8),
       sym AS (SELECT id_a AS u, id_b AS v FROM dup
               UNION SELECT id_b, id_a FROM dup),
       comp(k, c) AS (
         SELECT u AS k, u AS c FROM (SELECT DISTINCT u FROM sym)
         UNION
         SELECT s2.v, comp.c FROM comp JOIN sym s2 ON s2.u = comp.k WHERE comp.c < s2.v)
       SELECT d.doc_id, coalesce(m.c, d.doc_id) AS rep_id,
              d.doc_id <> coalesce(m.c, d.doc_id) AS is_dup
       FROM documents d LEFT JOIN
         (SELECT k, min(c) AS c FROM comp GROUP BY k) m ON m.k = d.doc_id
       ORDER BY d.doc_id"""

  /** Full derivation of the Gopher repetition filters: the same
    * (n=0, line) + (n, gram) bag as the Spark side, but grouped by the
    * gram STRINGS (the Spark shuffle carries xxhash64 keys — counts
    * agree under the collision-free-64-bit argument shared with the
    * jaccard family). Generated: the 9 n-gram branches differ only in n.
    */
  private val repetitionOracle: String = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    def gramBranch(n: Int): String = {
      val parts = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
      s"""SELECT doc_id, char_len, $n AS n,
            unnest(list_transform(range(1, len(toks) - ${n - 2}),
              i -> concat_ws(' ', $parts))) AS g
          FROM d WHERE len(toks) >= $n"""
    }
    val topAggs = topNs.map(n =>
      s"max(CASE WHEN n = $n THEN c * glen END) AS t$n").mkString(", ")
    val dupAggs = dupNs.map(n =>
      s"sum(CASE WHEN n = $n AND c > 1 THEN c * glen END) AS d$n").mkString(", ")
    def charFrac(num: String, alias: String) =
      s"""CASE WHEN char_len > 0
          THEN least(CAST(1.0 AS DOUBLE),
                     CAST(coalesce($num, 0) AS DOUBLE) / char_len)
          ELSE 0.0 END AS $alias"""
    val topFracs = topNs.map(n => charFrac(s"t$n", s"top${n}_frac")).mkString(", ")
    val dupFracs = dupNs.map(n => charFrac(s"d$n", s"dup${n}_frac")).mkString(", ")
    val keep = (Seq("dup_line_frac <= CAST(0.30 AS DOUBLE)",
      "top2_frac <= CAST(0.20 AS DOUBLE)", "top3_frac <= CAST(0.18 AS DOUBLE)",
      "top4_frac <= CAST(0.16 AS DOUBLE)") ++
      dupNs.zip(Seq("0.15", "0.14", "0.13", "0.12", "0.11", "0.10")).map {
        case (n, th) => s"dup${n}_frac <= CAST($th AS DOUBLE)"
      }).mkString(" AND ")
    s"""WITH d AS (
          SELECT doc_id, text, CAST(length(trim(text)) AS BIGINT) AS char_len,
                 regexp_split_to_array(trim(text), '\\s+') AS toks
          FROM documents),
        u AS (
          SELECT doc_id, char_len, 0 AS n, unnest(string_split(text, chr(10))) AS g
          FROM d
          ${(topNs ++ dupNs).map(n => "UNION ALL " + gramBranch(n)).mkString("\n          ")}),
        c AS (
          SELECT doc_id, n, g, count(*) AS c, len(g) AS glen,
                 any_value(char_len) AS char_len
          FROM u GROUP BY doc_id, n, g),
        a AS (
          SELECT doc_id, any_value(char_len) AS char_len,
            sum(CASE WHEN n = 0 THEN c END) AS n_lines,
            count(CASE WHEN n = 0 THEN 1 END) AS d_lines,
            sum(CASE WHEN n = 0 THEN c * glen END) AS line_chars,
            sum(CASE WHEN n = 0 AND c > 1 THEN c * glen END) AS dup_line_chars,
            $topAggs, $dupAggs
          FROM c GROUP BY doc_id),
        f AS (
          SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
            CASE WHEN n_lines > 0
              THEN CAST(n_lines - d_lines AS DOUBLE) / n_lines ELSE 0.0 END
              AS dup_line_frac,
            CASE WHEN line_chars > 0
              THEN CAST(coalesce(dup_line_chars, 0) AS DOUBLE) / line_chars
              ELSE 0.0 END AS dup_line_char_frac,
            $topFracs, $dupFracs
          FROM a)
        SELECT f.*, ($keep) AS keep FROM f ORDER BY doc_id"""
  }

  /** DuckDB-equivalent SQL per query (driver correctness gate). */
  /** Shared k-means replay CTE chain (seed pick, 3 assignment rounds,
    * 6-decimal rounding at every step) — ends at `a3(vec_id, cell, d2)`.
    * Used by the q_cluster oracle (fixed k via `SELECT 8 AS k`) and by
    * q_semdedup (auto-sized k: the SQL mirror of Dedup.semDedupK).
    * `kSelect` is a one-row SELECT producing column `k`.
    */
  private def kmeansAssignCtes(kSelect: String): String =
    s"""e AS MATERIALIZED (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pos AS MATERIALIZED (
           SELECT unnest(range(1, (SELECT len(v) FROM e LIMIT 1) + 1)) AS p),
         kk AS MATERIALIZED ($kSelect),
         c0 AS MATERIALIZED (
           SELECT rn - 1 AS cell, v FROM (
             SELECT vec_id, v,
               row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
             FROM e)
           WHERE rn <= (SELECT k FROM kk)),
         d1 AS MATERIALIZED (
           SELECT e.vec_id, c.cell,
             round(list_sum(list_transform(range(1, len(e.v) + 1),
               i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))), 6) AS d2
           FROM e CROSS JOIN c0 c),
         a1 AS MATERIALIZED (
           SELECT vec_id, cell, d2 FROM (
             SELECT vec_id, cell, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
             FROM d1) WHERE rk = 1),
         m1 AS MATERIALIZED (
           SELECT a.cell, p.p, round(avg(e.v[p.p]), 6) AS m
           FROM a1 a JOIN e USING (vec_id) CROSS JOIN pos p
           GROUP BY a.cell, p.p),
         c1 AS MATERIALIZED (
           SELECT c.cell, COALESCE(g.v, c.v) AS v FROM c0 c LEFT JOIN (
             SELECT cell, list(m ORDER BY p) AS v FROM m1 GROUP BY cell) g
             USING (cell)),
         d2s AS MATERIALIZED (
           SELECT e.vec_id, c.cell,
             round(list_sum(list_transform(range(1, len(e.v) + 1),
               i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))), 6) AS d2
           FROM e CROSS JOIN c1 c),
         a2 AS MATERIALIZED (
           SELECT vec_id, cell, d2 FROM (
             SELECT vec_id, cell, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
             FROM d2s) WHERE rk = 1),
         m2 AS MATERIALIZED (
           SELECT a.cell, p.p, round(avg(e.v[p.p]), 6) AS m
           FROM a2 a JOIN e USING (vec_id) CROSS JOIN pos p
           GROUP BY a.cell, p.p),
         c2 AS MATERIALIZED (
           SELECT c.cell, COALESCE(g.v, c.v) AS v FROM c1 c LEFT JOIN (
             SELECT cell, list(m ORDER BY p) AS v FROM m2 GROUP BY cell) g
             USING (cell)),
         d3 AS MATERIALIZED (
           SELECT e.vec_id, c.cell,
             round(list_sum(list_transform(range(1, len(e.v) + 1),
               i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))), 6) AS d2
           FROM e CROSS JOIN c2 c),
         a3 AS MATERIALIZED (
           SELECT vec_id, cell, d2 FROM (
             SELECT vec_id, cell, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
             FROM d3) WHERE rk = 1)"""

  def oracleSql: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracle(10),
    "q_pagerank_w" -> pageRankWeightedOracle(10),
    "q_ppr" -> pprOracle(10, Seq(1L, 2L, 3L)),
    "q_labelprop" -> labelPropOracle(5),
    "q_louvain" -> louvainOracle(3),
    "q_louvain_w" -> louvainWeightedOracle(3),
    "q_louvain2" -> louvainLevelsOracle(3, 2),
    "q_hyperball" -> hyperballOracle(3),
    "q_hyperball_nf" -> hyperballNfOracle(3),
    // degree-spectrum replay: undirected degrees over the related frame,
    // bit-length log2 buckets, integer permille of node share
    "q_degree_spectrum" ->
      """WITH related AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         sym AS (SELECT p1 AS u, p2 AS v FROM related
                 UNION ALL SELECT p2, p1 FROM related),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
         spec AS (
           SELECT CAST(length(bin(d)) AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_nodes
           FROM deg GROUP BY 1),
         tn AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS t FROM spec)
         SELECT bucket,
           CAST(CAST(1 AS BIGINT) << (bucket - 1) AS BIGINT) AS deg_lo,
           n_nodes,
           CAST((1000 * n_nodes) // tn.t AS BIGINT) AS nodes_permille
         FROM spec CROSS JOIN tn ORDER BY bucket""",
    // active-users replay: distinct (user, integer day offset) pairs,
    // per-day count + trailing-7-day distinct count
    "q_active_users" -> activeUsersOracleSql,
    // the streamed pair-set dedup is order-insensitive, so the batch
    // active-users oracle gates the stream verbatim
    "q_stream_active" -> activeUsersOracleSql,
    // the TTL variant equals batch while each pair's duplicates fall
    // inside the 365-day horizon (the whole gate corpus, one batch)
    "q_stream_active_ttl" -> activeUsersOracleSql,
    "q_betweenness" -> betweennessOracle(Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L)),
    "q_hits" -> hitsOracle(5),
    "q_mis" -> misOracle(4),
    // funnel-rates replay: the q_funnel chain reduced to per-step user
    // counts + integer permilles (step 1 is its own baseline, 1000)
    "q_funnel_rates" ->
      """WITH s1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT s1.user_id, s1.t1,
             min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
           FROM s1 LEFT JOIN events e
             ON e.user_id = s1.user_id AND e.event_type = 'click'
           GROUP BY s1.user_id, s1.t1),
         s3 AS (
           SELECT s2.user_id, s2.t1, s2.t2,
             min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
           FROM s2 LEFT JOIN events e
             ON e.user_id = s2.user_id AND e.event_type = 'purchase'
           GROUP BY s2.user_id, s2.t1, s2.t2),
         agg AS (
           SELECT CAST(count(t1) AS BIGINT) AS n1,
                  CAST(count(t2) AS BIGINT) AS n2,
                  CAST(count(t3) AS BIGINT) AS n3 FROM s3)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
             n1 AS n_users,
             CAST((1000 * n1) // n1 AS BIGINT) AS vs_first_permille,
             CAST((1000 * n1) // n1 AS BIGINT) AS vs_prev_permille
           FROM agg
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'click', n2,
             CAST((1000 * n2) // n1 AS BIGINT),
             CAST((1000 * n2) // n1 AS BIGINT)
           FROM agg
           UNION ALL
           SELECT CAST(3 AS BIGINT), 'purchase', n3,
             CAST((1000 * n3) // n1 AS BIGINT),
             CAST((1000 * n3) // n2 AS BIGINT)
           FROM agg)
         ORDER BY step""",
    // frequent-triples replay: the DEFINITION (direct triple join +
    // HAVING) — algorithm-independent; a-priori pruning provably drops
    // nothing above threshold, the gate proves the formulations equal
    "q_itemsets" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey % 97 AS pk FROM lineitem),
         t AS (
           SELECT a.pk AS x, b2.pk AS y, c.pk AS z,
             CAST(count(*) AS BIGINT) AS support
           FROM b a JOIN b b2 ON b2.ok = a.ok AND a.pk < b2.pk
                    JOIN b c ON c.ok = b2.ok AND b2.pk < c.pk
           GROUP BY 1, 2, 3 HAVING count(*) >= 3)
         SELECT x, y, z, support FROM t
         ORDER BY support DESC, x, y, z LIMIT 50""",
    // full BPE-training replay: every merge round re-derived (pair
    // counts, argmax, greedy application), so a tie-break or
    // application-order defect on either engine breaks the hash
    "q_bpe_vocab" -> bpeVocabOracle(8),
    "q_bpe_tokens" -> bpeTokensOracle(8),
    // vocab-growth replay: same whitespace tokens (q_tokens form), same
    // (src, token) counts, integer-permille ratios
    "q_vocab" ->
      """WITH tok AS (
           SELECT source AS src,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents),
         counts AS (
           SELECT src, tok, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE tok <> '' GROUP BY 1, 2)
         SELECT src, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((1000 * count(*)) // sum(c) AS BIGINT) AS ttr_permille,
           CAST((1000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS hapax_permille
         FROM counts GROUP BY src ORDER BY src""",
    // effective-diameter replay: q_harmonic's recursive first-reach walk
    // (dist 0 kept), per-seed cumulative histogram, integer ceil-rank
    "q_diameter" ->
      """WITH RECURSIVE related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         walk(s, k, d) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT unnest([1, 2, 3, 5, 8, 13, 21, 34]) AS s)
           UNION
           SELECT w.s, r.p2, w.d + 1
           FROM walk w JOIN related r ON r.p1 = w.k WHERE w.d < 4),
         firstreach AS (
           SELECT s, k, min(d) AS d FROM walk GROUP BY s, k),
         hist AS (
           SELECT s, d, CAST(count(*) AS BIGINT) AS n
           FROM firstreach GROUP BY 1, 2),
         cum AS (
           SELECT s, d,
             CAST(sum(n) OVER (PARTITION BY s ORDER BY d) AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY s) AS BIGINT) AS total
           FROM hist)
         SELECT s AS seed, CAST(max(total) AS BIGINT) AS n_reached,
           CAST(min(d) AS BIGINT) AS eff_diameter
         FROM cum WHERE cum >= (900 * total + 999) // 1000
         GROUP BY s ORDER BY seed""",
    "q_sssp" -> ssspOracle(1L, 6),
    "q_walks" -> walksOracle(64, 8, 4),
    "q_walk_pmi" -> walkPmiOracle(64, 8, 4, window = 2, minCount = 2L,
      topN = 50),
    "q_pmi_embed" -> walkPmiEmbedOracle(64, 8, 4, window = 2,
      minCount = 2L, dim = 8),
    "q_walks_n2v" -> n2vWalksOracle(64, 6, 2, 250L, 1000L, 500L),
    // chi-square drift replay: same cross-multiplied integer cells over
    // the full source × category grid (O = 0 cells included), same
    // floor(x*1e6 + 0.5) quantization, BIGINT sums
    "q_drift" -> driftOracleSql,
    // the streamed complete-mode counts are order-insensitive, so the
    // batch drift oracle gates the streamed run verbatim
    "q_stream_drift" -> driftOracleSql,
    "q_kcore" -> kCoreOracle(80, 10),
    "q_lookup" ->
      "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = 42",
    "q_placed_agg" ->
      """SELECT c_custkey, count(*) AS order_cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
         FROM customer JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_region_revenue" ->
      """SELECT r_name, count(*) AS order_cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         GROUP BY r_name ORDER BY r_name""",
    "q_varlength" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         hop1 AS (SELECT p2 AS k FROM related WHERE p1 = 1),
         hop2 AS (SELECT r.p2 AS k FROM hop1 JOIN related r ON r.p1 = hop1.k)
         SELECT DISTINCT k AS p_partkey
         FROM (SELECT k FROM hop1 UNION ALL SELECT k FROM hop2)
         ORDER BY p_partkey""",
    "q_optional" ->
      """SELECT c_mktsegment, count(o_orderkey) AS order_cnt,
         count(DISTINCT c_custkey) AS customer_cnt
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_event_types" ->
      """SELECT event_type, count(*) AS cnt FROM events
         GROUP BY event_type ORDER BY cnt DESC, event_type""",
    "q_str_lookup" ->
      "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = 42",
    "q_str_where" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_acctbal > 9000 AND c_mktsegment = 'BUILDING' ORDER BY c_custkey""",
    "q_str_strpred" ->
      """SELECT c_name FROM customer
         WHERE c_name LIKE '%1' AND c_name LIKE '%00%' ORDER BY c_name""",
    "q_str_regex" ->
      """SELECT n_name FROM nation
         WHERE regexp_full_match(n_name, 'NATION_1\d') ORDER BY n_name""",
    "q_str_in" ->
      """SELECT n_name, count(*) AS cnt
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name IN ('NATION_1', 'NATION_7', 'NATION_19')
         GROUP BY n_name ORDER BY n_name""",
    "q_str_with_agg" ->
      """SELECT o_custkey AS c_custkey, count(*) AS order_cnt FROM orders
         GROUP BY o_custkey HAVING count(*) >= 3 ORDER BY c_custkey""",
    "q_topk_users" ->
      """SELECT user_id, count(*) AS cnt FROM events
         GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 10""",
    "q_str_optional" ->
      """SELECT c_mktsegment AS seg, count(o_orderkey) AS order_cnt
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY seg""",
    "q_str_union" ->
      """SELECT name FROM (
           SELECT n_name AS name FROM nation
           UNION SELECT r_name AS name FROM region) ORDER BY name""",
    "q_str_reltype_alt" ->
      """SELECT t, cnt FROM (
           SELECT 'IN_NATION' AS t, count(*) AS cnt FROM customer
           UNION ALL SELECT 'PLACED' AS t, count(*) AS cnt FROM orders)
         ORDER BY t""",
    "q_str_unwind" ->
      """SELECT CAST(x AS BIGINT) AS x, CAST(x * x AS BIGINT) AS sq
         FROM (SELECT unnest([1, 2, 3, 4, 5]) AS x) ORDER BY x""",
    "q_str_case" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
                     WHEN c_acctbal < 5000 THEN 'mid'
                     ELSE 'high' END AS band, count(*) AS cnt
         FROM customer GROUP BY 1 ORDER BY band""",
    "q_str_exists" ->
      """SELECT count(*) AS cnt FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_str_skip_limit" ->
      """SELECT event_type, count(*) AS cnt FROM events
         GROUP BY event_type ORDER BY cnt DESC, event_type LIMIT 3 OFFSET 1""",
    "q_str_distinct" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer ORDER BY seg",
    "q_str_graphfns" ->
      """SELECT n_nationkey AS nid, 'IN_REGION' AS rel_type,
         'Nation' AS label, CAST(n_regionkey AS BIGINT) AS rid
         FROM nation ORDER BY nid""",
    "q_str_listfns" ->
      """SELECT CAST(5 AS INTEGER) AS n, CAST(1 AS BIGINT) AS h,
         CAST(5 AS BIGINT) AS l, CAST(2 AS BIGINT) AS second,
         CAST(2 AS INTEGER) AS slice_len, CAST(3 AS INTEGER) AS comp_n,
         CAST(15 AS BIGINT) AS total""",
    "q_str_call_labels" ->
      """SELECT unnest(['Customer','Document','Embedding','Event','Nation',
                        'Order','Part','Region','Supplier','User']) AS label
         ORDER BY label""",
    "q_str_call_reltypes" ->
      """SELECT unnest(['CONTAINS','IN_NATION','IN_REGION','PLACED',
                        'RELATED_TO','SUPPLIES','TRIGGERED']) AS relationshipType
         ORDER BY relationshipType""",
    "q_str_patcomp" ->
      """SELECT n_name, coalesce(cnt, 0) AS n_cust
         FROM nation LEFT JOIN
           (SELECT c_nationkey, count(*) AS cnt FROM customer GROUP BY 1) c
           ON c_nationkey = n_nationkey
         ORDER BY n_name""",
    "q_str_duration" ->
      """SELECT o_orderkey,
         CAST(CAST(o_orderdate + INTERVAL 1 MONTH + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS due,
         'P' || date_diff('day', o_orderdate, DATE '1998-01-01') || 'D' AS age,
         'P2DT3H' AS dur_iso
         FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""",
    "q_str_startnode" ->
      """SELECT c_name, o_orderkey
         FROM customer JOIN orders ON o_custkey = c_custkey
         WHERE o_orderkey < 100 ORDER BY o_orderkey""",
    "q_str_funcs" ->
      """SELECT lower(n_name) AS lname, CAST(length(n_name) AS BIGINT) AS len,
         substring(n_name, 1, 3) AS pre3, n_regionkey % 2 AS parity
         FROM nation ORDER BY lname""",
    "q_str_temporal" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, count(*) AS cnt
         FROM orders GROUP BY 1 ORDER BY yr""",
    "q_write_create" ->
      """WITH reg AS (SELECT r_regionkey, r_name FROM region
                      UNION ALL SELECT 99, 'REGION_NEW'),
              memb AS (SELECT n_nationkey, n_regionkey FROM nation
                       UNION ALL SELECT 0, 99)
         SELECT r_name, count(*) AS n_nations
         FROM reg JOIN memb ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_write_set" ->
      """SELECT c_custkey, c_acctbal * 0.1 AS bonus FROM customer
         WHERE c_acctbal > 9000 ORDER BY c_custkey""",
    "q_write_set_edge" ->
      """SELECT c_custkey, o_orderkey, o_totalprice * 0.01 AS rebate
         FROM customer JOIN orders ON o_custkey = c_custkey
         WHERE o_totalprice > 300000 ORDER BY o_orderkey""",
    "q_write_merge_idempotent" ->
      """SELECT r_name, src FROM (
           SELECT r_name, 'base' AS src FROM region
           UNION ALL SELECT 'REGION_NEW' AS r_name, 'matched' AS src)
         ORDER BY r_name""",
    "q_write_delete" ->
      """SELECT c_mktsegment AS seg, count(*) AS cnt
         FROM customer JOIN orders ON o_custkey = c_custkey
         WHERE c_acctbal >= 0 GROUP BY c_mktsegment ORDER BY seg""",
    "q_str_params" ->
      """SELECT n_name, count(*) AS cnt
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_acctbal > 5000 AND n_name IN ('NATION_1','NATION_7','NATION_19')
         GROUP BY n_name ORDER BY n_name""",
    "q_str_mapproj" ->
      """SELECT n_name, CAST(n_regionkey * 10 AS BIGINT) AS rk
         FROM nation ORDER BY n_name""",
    "q_str_namedpath" ->
      """SELECT n_name, r_name, CAST(1 AS BIGINT) AS len,
         CAST(1 AS INTEGER) AS n_rels
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_name""",
    "q_write_remove" ->
      """SELECT c_custkey, c_acctbal < 0 AS seg_removed
         FROM customer ORDER BY c_custkey""",
    "q_write_set_map" ->
      """SELECT n_name, CAST(n_nationkey * 2 AS BIGINT) AS score
         FROM nation WHERE n_regionkey = 2 ORDER BY n_name""",
    "q_write_label" ->
      """SELECT name, labels FROM (
           SELECT n_name AS name,
             CASE WHEN n_name = 'ALGERIA' THEN 'Africa,Nation'
                  ELSE 'Africa,Nation,Tagged' END AS labels
           FROM nation WHERE n_regionkey = 0
           UNION ALL
           SELECT 'giza' AS name, 'Landmark,Poi' AS labels
         ) ORDER BY name""",
    "q_catalog" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
         SELECT kind, name, "rows" FROM (
           SELECT 'node' AS kind, 'Customer' AS name, (SELECT count(*) FROM customer) AS "rows"
           UNION ALL SELECT 'node', 'Document', (SELECT count(*) FROM documents)
           UNION ALL SELECT 'node', 'Embedding', (SELECT count(*) FROM embeddings)
           UNION ALL SELECT 'node', 'Event', (SELECT count(*) FROM events)
           UNION ALL SELECT 'node', 'Nation', (SELECT count(*) FROM nation)
           UNION ALL SELECT 'node', 'Order', (SELECT count(*) FROM orders)
           UNION ALL SELECT 'node', 'Part', (SELECT count(*) FROM part)
           UNION ALL SELECT 'node', 'Region', (SELECT count(*) FROM region)
           UNION ALL SELECT 'node', 'Supplier', (SELECT count(*) FROM supplier)
           UNION ALL SELECT 'node', 'User', (SELECT count(DISTINCT user_id) FROM events)
           UNION ALL SELECT 'edge', 'CONTAINS(Order->Part)', (SELECT count(*) FROM lineitem)
           UNION ALL SELECT 'edge', 'IN_NATION(Customer->Nation)', (SELECT count(*) FROM customer)
           UNION ALL SELECT 'edge', 'IN_NATION(Supplier->Nation)', (SELECT count(*) FROM supplier)
           UNION ALL SELECT 'edge', 'IN_REGION(Nation->Region)', (SELECT count(*) FROM nation)
           UNION ALL SELECT 'edge', 'PLACED(Customer->Order)', (SELECT count(*) FROM orders)
           UNION ALL SELECT 'edge', 'RELATED_TO(Part->Part)', (SELECT count(*) FROM related)
           UNION ALL SELECT 'edge', 'SUPPLIES(Supplier->Part)',
             (SELECT count(*) FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem))
           UNION ALL SELECT 'edge', 'TRIGGERED(User->Event)', (SELECT count(*) FROM events))
         ORDER BY kind, name""",
    "q_stream_graph_update" ->
      """SELECT event_type, count(*) AS cnt, count(*) AS n_edges
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens_ws,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_lex,
         CAST(length(text) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",
    // Normalization replay: same plant chain (chr() for every injected
    // codepoint), nfc_normalize = java.text.Normalizer NFC (both UAX #15),
    // same RE2/Java-compatible character classes, same translate/replace
    // fold, 'g' flags because DuckDB replaces first-match by default
    "q_normalize" ->
      """WITH planted AS (
           SELECT doc_id,
             chr(65279) || replace(replace(replace(text,
                 'e', 'e' || chr(769)),
                 '. ', '.' || chr(160) || ' '),
                 'a', 'a' || chr(8203))
               || ' ' || chr(7) || chr(8212) || ' ' || chr(8216) || 'fin'
               || chr(8217) || chr(8230) AS t
           FROM documents),
         cleaned AS (
           SELECT doc_id, t,
             trim(regexp_replace(
               replace(
                 translate(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(nfc_normalize(t),
                         '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                       '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                     '[\x{00A0}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]', ' ', 'g'),
                   chr(8216) || chr(8217) || chr(8220) || chr(8221) || chr(8211) || chr(8212),
                   '''''""--'),
                 chr(8230), '...'),
               '[ \t]{2,}', ' ', 'g')) AS text_norm
           FROM planted)
         SELECT doc_id, text_norm,
           CAST(length(t) AS BIGINT) AS chars_raw,
           CAST(length(text_norm) AS BIGINT) AS chars_norm,
           CAST(CASE WHEN t <> text_norm THEN 1 ELSE 0 END AS BIGINT) AS changed
         FROM cleaned ORDER BY doc_id""",
    // CMS replay: same salted md5 cells ('cms<r>:<key>' & 255), same
    // grouped counts, min over the d cells with absent = 0
    "q_cms" ->
      """WITH cms AS (
           SELECT i.r,
             CAST(('0x' || substring(md5('cms' || CAST(i.r AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) & 255 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM events e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) i
           GROUP BY 1, 2),
         probes AS (
           SELECT unnest([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,
                          9991,9992,9993,9994,9995]) AS user_id),
         pcells AS (
           SELECT p.user_id, i.r,
             CAST(('0x' || substring(md5('cms' || CAST(i.r AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)), 1, 15)) AS BIGINT) & 255 AS bucket
           FROM probes p CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) i),
         est AS (
           SELECT pc.user_id, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
           FROM pcells pc LEFT JOIN cms c ON c.r = pc.r AND c.bucket = pc.bucket
           GROUP BY pc.user_id),
         exact AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS exact FROM events GROUP BY user_id)
         SELECT e.user_id, e.est, CAST(coalesce(x.exact, 0) AS BIGINT) AS exact,
           CAST(CASE WHEN e.est >= coalesce(x.exact, 0) THEN 1 ELSE 0 END AS BIGINT) AS over_ok
         FROM est e LEFT JOIN exact x USING (user_id) ORDER BY user_id""",
    // Bloom replay: same salted md5 positions ('bf<i>:<key>' % m), m
    // auto-sized as greatest(4096, 16 * n_keys) on both engines
    "q_bloom" ->
      """WITH keys AS (SELECT DISTINCT o_custkey AS ckey FROM orders),
         params AS (SELECT greatest(4096, 16 * count(*)) AS m,
                           CAST(count(*) AS BIGINT) AS n_keys FROM keys),
         probes AS (
           SELECT c_custkey AS ckey FROM customer
           UNION ALL SELECT CAST(unnest(range(1000001, 1001001)) AS BIGINT)),
         bits AS (
           SELECT DISTINCT CAST(('0x' || substring(md5('bf' || CAST(i.i AS VARCHAR) || ':' || CAST(k.ckey AS VARCHAR)), 1, 15)) AS BIGINT) % (SELECT m FROM params) AS pos
           FROM keys k CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS i) i),
         pb AS (
           SELECT p.ckey,
             CAST(('0x' || substring(md5('bf' || CAST(i.i AS VARCHAR) || ':' || CAST(p.ckey AS VARCHAR)), 1, 15)) AS BIGINT) % (SELECT m FROM params) AS pos
           FROM probes p CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS i) i),
         hits AS (
           SELECT pb.ckey, CASE WHEN count(b.pos) = 5 THEN 1 ELSE 0 END AS hit
           FROM pb LEFT JOIN bits b ON b.pos = pb.pos GROUP BY pb.ckey),
         flag AS (
           SELECT h.ckey, h.hit, CASE WHEN k.ckey IS NOT NULL THEN 1 ELSE 0 END AS present
           FROM hits h LEFT JOIN keys k ON k.ckey = h.ckey)
         SELECT (SELECT CAST(m AS BIGINT) FROM params) AS m,
           (SELECT n_keys FROM params) AS n_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(present) AS BIGINT) AS n_present,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN hit = 1 AND present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(CASE WHEN sum(present * (1 - hit)) = 0 THEN 1 ELSE 0 END AS BIGINT) AS no_false_neg
         FROM flag""",
    // streaming Bloom replay: the BATCH filter over the same rows — set
    // union is order-insensitive so the drained stream state equals it
    // bit-for-bit; same salted positions, same greatest(4096,16n) size
    // rotated-Bloom replay: per-day distinct positions — set-ness is
    // order-insensitive, so the drained append sink equals the batch
    "q_stream_bloom_rotate" ->
      """WITH cells AS (
           SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(('0x' || substring(md5('bf' || CAST(i.i AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS pos
           FROM events e CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS i) i)
         SELECT day, CAST(count(DISTINCT pos) AS BIGINT) AS n_bits
         FROM cells GROUP BY day ORDER BY day""",
    "q_stream_bloom" ->
      """WITH keys AS (SELECT DISTINCT user_id AS ckey FROM events),
         params AS (SELECT greatest(4096, 16 * count(*)) AS m,
                           CAST(count(*) AS BIGINT) AS n_keys FROM keys),
         probes AS (
           SELECT ckey FROM keys
           UNION ALL SELECT CAST(unnest(range(1000001, 1001001)) AS BIGINT)),
         bits AS (
           SELECT DISTINCT CAST(('0x' || substring(md5('bf' || CAST(i.i AS VARCHAR) || ':' || CAST(k.ckey AS VARCHAR)), 1, 15)) AS BIGINT) % (SELECT m FROM params) AS pos
           FROM keys k CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS i) i),
         pb AS (
           SELECT p.ckey,
             CAST(('0x' || substring(md5('bf' || CAST(i.i AS VARCHAR) || ':' || CAST(p.ckey AS VARCHAR)), 1, 15)) AS BIGINT) % (SELECT m FROM params) AS pos
           FROM probes p CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS i) i),
         hits AS (
           SELECT pb.ckey, CASE WHEN count(b.pos) = 5 THEN 1 ELSE 0 END AS hit
           FROM pb LEFT JOIN bits b ON b.pos = pb.pos GROUP BY pb.ckey),
         flag AS (
           SELECT h.ckey, h.hit, CASE WHEN k.ckey IS NOT NULL THEN 1 ELSE 0 END AS present
           FROM hits h LEFT JOIN keys k ON k.ckey = h.ckey)
         SELECT (SELECT CAST(m AS BIGINT) FROM params) AS m,
           (SELECT n_keys FROM params) AS n_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(present) AS BIGINT) AS n_present,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN hit = 1 AND present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(CASE WHEN sum(present * (1 - hit)) = 0 THEN 1 ELSE 0 END AS BIGINT) AS no_false_neg
         FROM flag""",
    // KMV/theta replay: same 'kmv:'-salted 52-bit hash leaf, per-set
    // k-min via rank, union re-min, integer floor-div estimates
    // (2^52 numerators stay inside BIGINT at k = 64)
    "q_kmv" ->
      """WITH h AS (
           SELECT DISTINCT event_type AS s,
             CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) >> 8 AS h
           FROM events WHERE event_type IN ('click', 'purchase')),
         km AS (SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rk FROM h),
         sk AS (SELECT s, h FROM km WHERE rk <= 64),
         uni AS (SELECT h, row_number() OVER (ORDER BY h) AS rk
                 FROM (SELECT DISTINCT h FROM sk)),
         theta AS (SELECT max(h) AS theta, CAST(count(*) AS BIGINT) AS k_u
                   FROM uni WHERE rk <= 64),
         mem AS (
           SELECT CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
                  CAST(sum(CASE WHEN c = 1 AND ina = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_not_b
           FROM (SELECT h, count(*) AS c,
                   sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END) AS ina
                 FROM sk GROUP BY h) g, theta t
           WHERE g.h < t.theta),
         ex AS (
           SELECT CAST(count(*) AS BIGINT) AS exact_union,
                  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter,
                  CAST(sum(CASE WHEN c = 1 AND ina = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_a_not_b
           FROM (SELECT user_id, count(DISTINCT event_type) AS c,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ina
                 FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1))
         SELECT t.theta, t.k_u, m.n_inter, m.n_a_not_b,
           CAST((m.n_inter * (CAST(1 AS BIGINT) << 52)) // t.theta AS BIGINT) AS est_inter,
           CAST(((t.k_u - 1) * (CAST(1 AS BIGINT) << 52)) // t.theta AS BIGINT) AS est_union,
           CAST((m.n_a_not_b * (CAST(1 AS BIGINT) << 52)) // t.theta AS BIGINT) AS est_a_not_b,
           e.exact_inter, e.exact_union, e.exact_a_not_b
         FROM theta t, mem m, ex e""",
    // cohort retention replay: integer day buckets from the same fixed
    // epoch, distinct (user, day) activity, permille = floor division
    "q_retention" ->
      """WITH act AS (
           SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
           FROM events WHERE event_type = 'purchase'),
         cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1),
         cells AS (
           SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
                  CAST(count(*) AS BIGINT) AS n_active
           FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2),
         sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
                   FROM cohort GROUP BY 1)
         SELECT c.cohort_day, c.offset_days, s.cohort_size, c.n_active,
           CAST((1000 * c.n_active) // s.cohort_size AS BIGINT) AS permille
         FROM cells c JOIN sizes s USING (cohort_day)
         ORDER BY cohort_day, offset_days""",
    // ROLLUP replay: DuckDB's ROLLUP emits the same grouping sets;
    // gid reconstructed as grouping(flag)*2 + grouping(status) (Spark's
    // grouping_id bit order); money summed as exact integer cents
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, returnflag, linestatus""",
    // pivot replay: conditional aggregation per pinned priority value
    "q_pivot" ->
      """SELECT o_orderstatus AS status,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low,
           CAST(count(*) AS BIGINT) AS total
         FROM orders GROUP BY 1 ORDER BY 1""",
    // inter-arrival replay: same (user,type) lag over epoch micros,
    // quantile_cont = Spark's exact interpolated percentile ((a+b)/2 of
    // ≤ 2^53 integers is exactly rounded on both engines)
    "q_interarrival" ->
      """WITH seq AS (
           SELECT event_type, user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
           FROM events),
         d AS (SELECT event_type, us - prev AS delta FROM seq WHERE prev IS NOT NULL)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(delta) AS BIGINT) AS sum_us,
           CAST(min(delta) AS BIGINT) AS min_us,
           CAST(max(delta) AS BIGINT) AS max_us,
           round(quantile_cont(CAST(delta AS DOUBLE), 0.5), 1) AS median_us
         FROM d GROUP BY 1 ORDER BY 1""",
    // anomaly replay: identical cross-multiplied integer 3σ test in
    // DECIMAL(38,0) — no mean, no variance, no sqrt on either engine
    "q_anomaly" ->
      """WITH v AS (
           SELECT event_type, event_id, CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
         st AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vm) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(vm AS DECIMAL(38,0)) * vm) AS DECIMAL(38,0)) AS s2
           FROM v GROUP BY 1),
         fl AS (
           SELECT v.event_type, v.event_id,
             CASE WHEN (st.n * v.vm - st.s1) * (st.n * v.vm - st.s1)
                       > 9 * (st.n * st.s2 - st.s1 * st.s1) THEN 1 ELSE 0 END AS is_out
           FROM v JOIN st USING (event_type))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(is_out) AS BIGINT) AS n_outliers,
           CAST(min(CASE WHEN is_out = 1 THEN event_id END) AS BIGINT) AS first_outlier_id
         FROM fl GROUP BY 1 ORDER BY 1""",
    // k-truss replay: 5 materialized synchronous rounds, each one wedge
    // join + support filter — identical pruning rule, identical final
    // surface (the fixed-round twin of the Spark loop's early exit)
    "q_ktruss" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e0 AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM related),
         und1 AS MATERIALIZED (SELECT u AS z, v AS n FROM e0 UNION ALL SELECT v, u FROM e0),
         sup1 AS MATERIALIZED (
           SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
           FROM e0 e JOIN und1 x ON x.z = e.u JOIN und1 y ON y.z = e.v AND y.n = x.n
           GROUP BY e.u, e.v),
         e1 AS MATERIALIZED (SELECT u, v FROM sup1 WHERE sup >= 10),
         und2 AS MATERIALIZED (SELECT u AS z, v AS n FROM e1 UNION ALL SELECT v, u FROM e1),
         sup2 AS MATERIALIZED (
           SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
           FROM e1 e JOIN und2 x ON x.z = e.u JOIN und2 y ON y.z = e.v AND y.n = x.n
           GROUP BY e.u, e.v),
         e2 AS MATERIALIZED (SELECT u, v FROM sup2 WHERE sup >= 10),
         und3 AS MATERIALIZED (SELECT u AS z, v AS n FROM e2 UNION ALL SELECT v, u FROM e2),
         sup3 AS MATERIALIZED (
           SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
           FROM e2 e JOIN und3 x ON x.z = e.u JOIN und3 y ON y.z = e.v AND y.n = x.n
           GROUP BY e.u, e.v),
         e3 AS MATERIALIZED (SELECT u, v FROM sup3 WHERE sup >= 10),
         und4 AS MATERIALIZED (SELECT u AS z, v AS n FROM e3 UNION ALL SELECT v, u FROM e3),
         sup4 AS MATERIALIZED (
           SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
           FROM e3 e JOIN und4 x ON x.z = e.u JOIN und4 y ON y.z = e.v AND y.n = x.n
           GROUP BY e.u, e.v),
         e4 AS MATERIALIZED (SELECT u, v FROM sup4 WHERE sup >= 10),
         und5 AS MATERIALIZED (SELECT u AS z, v AS n FROM e4 UNION ALL SELECT v, u FROM e4),
         sup5 AS MATERIALIZED (
           SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
           FROM e4 e JOIN und5 x ON x.z = e.u JOIN und5 y ON y.z = e.v AND y.n = x.n
           GROUP BY e.u, e.v)
         SELECT u AS part_u, v AS part_v, sup
         FROM sup5 WHERE sup >= 10 ORDER BY part_u, part_v""",
    // PAA replay: same integer day-bucket segments, integer mean
    "q_paa" ->
      """WITH v AS (
           SELECT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) // 8 AS segment,
             CAST(round(value * 1000) AS BIGINT) AS vm
           FROM events)
         SELECT user_id, segment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vm) AS BIGINT) AS sum_vm,
           CAST(sum(vm) // count(*) AS BIGINT) AS paa_milli
         FROM v GROUP BY 1, 2 ORDER BY 1, 2""",
    // skyline replay: dominance NOT-EXISTS over distinct points — an
    // ALGORITHM-INDEPENDENT definition (the Spark side is sort+cummax);
    // equality of the two formulations is the correctness claim
    "q_skyline" ->
      """WITH pts AS (
           SELECT DISTINCT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                           CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem)
         SELECT p.price_cents, p.qty FROM pts p
         WHERE NOT EXISTS (
           SELECT 1 FROM pts o
           WHERE o.price_cents <= p.price_cents AND o.qty >= p.qty
             AND (o.price_cents < p.price_cents OR o.qty > p.qty))
         ORDER BY price_cents""",
    // ntile replay: identical deterministic (value, id) order
    "q_ntile" ->
      """WITH t AS (
           SELECT lang, n_chars,
             ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
           FROM documents)
         SELECT lang, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
         FROM t GROUP BY 1, 2 ORDER BY 1, 2""",
    // resource-allocation replay: same wedge enumeration, same
    // 6dp-rounded 1/deg terms summed as exact DECIMAL (the q_harmonic
    // order-independence trick), same (ra, a, b) top-50
    "q_ra" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         und AS (SELECT p1 AS z, p2 AS nbr FROM related UNION ALL SELECT p2, p1 FROM related),
         deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         picked AS (
           SELECT nbr FROM (SELECT DISTINCT nbr FROM und)
           ORDER BY md5(CAST(nbr AS VARCHAR)), nbr LIMIT 512),
         us AS (SELECT u.* FROM und u JOIN picked USING (nbr)),
         terms AS (
           SELECT u.nbr AS a, w.nbr AS b,
             CAST(round(CAST(1.0 AS DOUBLE) / CAST(d.deg AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
           FROM us u JOIN us w ON w.z = u.z AND u.nbr < w.nbr
           JOIN deg d ON d.z = u.z),
         sc AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(term) AS DECIMAL(18,6)) AS ra
           FROM terms GROUP BY 1, 2)
         SELECT a AS part_a, b AS part_b, n_common, CAST(ra AS DOUBLE) AS ra
         FROM sc ORDER BY ra DESC, part_a, part_b LIMIT 50""",
    // Adamic-Adar: the q_ra replay with the logarithmic hub discount
    // 1/ln(deg) (deg >= 2 for any common neighbor, so ln > 0)
    "q_aa" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         und AS (SELECT p1 AS z, p2 AS nbr FROM related UNION ALL SELECT p2, p1 FROM related),
         deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         picked AS (
           SELECT nbr FROM (SELECT DISTINCT nbr FROM und)
           ORDER BY md5(CAST(nbr AS VARCHAR)), nbr LIMIT 512),
         us AS (SELECT u.* FROM und u JOIN picked USING (nbr)),
         terms AS (
           SELECT u.nbr AS a, w.nbr AS b,
             CAST(round(CAST(1.0 AS DOUBLE) / ln(CAST(d.deg AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
           FROM us u JOIN us w ON w.z = u.z AND u.nbr < w.nbr
           JOIN deg d ON d.z = u.z),
         sc AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(term) AS DECIMAL(18,6)) AS aa
           FROM terms GROUP BY 1, 2)
         SELECT a AS part_a, b AS part_b, n_common, CAST(aa AS DOUBLE) AS aa
         FROM sc ORDER BY aa DESC, part_a, part_b LIMIT 50""",
    // streaming CMS replay: drained complete-mode counts equal the
    // batch sketch, so the q_cms oracle applies verbatim
    "q_stream_cms" ->
      """WITH cms AS (
           SELECT i.r,
             CAST(('0x' || substring(md5('cms' || CAST(i.r AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) & 255 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM events e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) i
           GROUP BY 1, 2),
         probes AS (
           SELECT unnest([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,
                          9991,9992,9993,9994,9995]) AS user_id),
         pcells AS (
           SELECT p.user_id, i.r,
             CAST(('0x' || substring(md5('cms' || CAST(i.r AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)), 1, 15)) AS BIGINT) & 255 AS bucket
           FROM probes p CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) i),
         est AS (
           SELECT pc.user_id, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
           FROM pcells pc LEFT JOIN cms c ON c.r = pc.r AND c.bucket = pc.bucket
           GROUP BY pc.user_id),
         exact AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS exact FROM events GROUP BY user_id)
         SELECT e.user_id, e.est, CAST(coalesce(x.exact, 0) AS BIGINT) AS exact,
           CAST(CASE WHEN e.est >= coalesce(x.exact, 0) THEN 1 ELSE 0 END AS BIGINT) AS over_ok
         FROM est e LEFT JOIN exact x USING (user_id) ORDER BY user_id""",
    // moving-window replay: identical ROWS frame; positive operands so
    // DuckDB's floor-div and Spark's DIV agree
    "q_moving" ->
      """WITH v AS (
           SELECT user_id, event_id, ts, CAST(round(value * 1000) AS BIGINT) AS vm
           FROM events),
         m AS (
           SELECT user_id, event_id, vm,
             CAST(sum(vm) OVER w AS BIGINT) AS mov_sum3,
             CAST(count(*) OVER w AS BIGINT) AS mov_n
           FROM v
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, vm, mov_sum3, mov_n,
           CAST((1000 * mov_sum3) // mov_n AS BIGINT) AS mov_avg_milli
         FROM m ORDER BY user_id, event_id""",
    // streaming retention replay: the drained distinct (user, day) set
    // equals the batch projection, so the batch oracle applies verbatim
    "q_stream_retention" ->
      """WITH act AS (
           SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
           FROM events WHERE event_type = 'purchase'),
         cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1),
         cells AS (
           SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
                  CAST(count(*) AS BIGINT) AS n_active
           FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2),
         sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
                   FROM cohort GROUP BY 1)
         SELECT c.cohort_day, c.offset_days, s.cohort_size, c.n_active,
           CAST((1000 * c.n_active) // s.cohort_size AS BIGINT) AS permille
         FROM cells c JOIN sizes s USING (cohort_day)
         ORDER BY cohort_day, offset_days""",
    // streaming anomaly replay: drained exact decimal sums equal the
    // batch pass, so the batch oracle applies verbatim
    "q_stream_anomaly" ->
      """WITH v AS (
           SELECT event_type, event_id, CAST(round(value * 1000) AS BIGINT) AS vm FROM events),
         st AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vm) AS DECIMAL(38,0)) AS s1,
             CAST(sum(CAST(vm AS DECIMAL(38,0)) * vm) AS DECIMAL(38,0)) AS s2
           FROM v GROUP BY 1),
         fl AS (
           SELECT v.event_type, v.event_id,
             CASE WHEN (st.n * v.vm - st.s1) * (st.n * v.vm - st.s1)
                       > 9 * (st.n * st.s2 - st.s1 * st.s1) THEN 1 ELSE 0 END AS is_out
           FROM v JOIN st USING (event_type))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(is_out) AS BIGINT) AS n_outliers,
           CAST(min(CASE WHEN is_out = 1 THEN event_id END) AS BIGINT) AS first_outlier_id
         FROM fl GROUP BY 1 ORDER BY 1""",
    // node-similarity replay: same md5-ordered 1024-node sample, same
    // occupancy cap, posting-list self-join, one exact IEEE divide
    "q_nodesim" ->
      """WITH cp0 AS (
           SELECT DISTINCT o.o_custkey AS node, l.l_partkey AS feat
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         picked AS (
           SELECT node FROM (SELECT DISTINCT node FROM cp0)
           ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 1024),
         cp1 AS (SELECT cp0.* FROM cp0 JOIN picked USING (node)),
         occ AS (SELECT feat, count(*) AS occ FROM cp1 GROUP BY 1),
         cp AS (SELECT cp1.* FROM cp1 JOIN occ USING (feat) WHERE occ.occ <= 1024),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM cp GROUP BY 1),
         pairs AS (
           SELECT a.node AS cust_a, b.node AS cust_b, CAST(count(*) AS BIGINT) AS inter
           FROM cp a JOIN cp b ON a.feat = b.feat AND a.node < b.node
           GROUP BY 1, 2),
         sim AS (
           SELECT p.cust_a, p.cust_b, p.inter, da.deg AS deg_a, db.deg AS deg_b,
             CAST(p.inter AS DOUBLE) / CAST(da.deg + db.deg - p.inter AS DOUBLE) AS jaccard
           FROM pairs p JOIN deg da ON da.node = p.cust_a
                        JOIN deg db ON db.node = p.cust_b)
         SELECT * FROM sim ORDER BY jaccard DESC, cust_a, cust_b LIMIT 20""",
    // per-node top-k replay: the q_nodesim pair CTE WITHOUT the global
    // limit, scattered to both endpoints, ranked per node on
    // (jaccard DESC, nbr) — jaccard is one exact IEEE divide, so the
    // rank order replays bit-for-bit
    "q_nodesim_topk" ->
      """WITH cp0 AS (
           SELECT DISTINCT o.o_custkey AS node, l.l_partkey AS feat
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         picked AS (
           SELECT node FROM (SELECT DISTINCT node FROM cp0)
           ORDER BY md5(CAST(node AS VARCHAR)), node LIMIT 1024),
         cp1 AS (SELECT cp0.* FROM cp0 JOIN picked USING (node)),
         occ AS (SELECT feat, count(*) AS occ FROM cp1 GROUP BY 1),
         cp AS (SELECT cp1.* FROM cp1 JOIN occ USING (feat) WHERE occ.occ <= 1024),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM cp GROUP BY 1),
         pairs AS (
           SELECT a.node AS node_a, b.node AS node_b, CAST(count(*) AS BIGINT) AS inter
           FROM cp a JOIN cp b ON a.feat = b.feat AND a.node < b.node
           GROUP BY 1, 2),
         sim AS (
           SELECT p.node_a, p.node_b, p.inter,
             CAST(p.inter AS DOUBLE) / CAST(da.deg + db.deg - p.inter AS DOUBLE) AS jaccard
           FROM pairs p JOIN deg da ON da.node = p.node_a
                        JOIN deg db ON db.node = p.node_b),
         sym AS (
           SELECT node_a AS cust, node_b AS cust_nbr, inter, jaccard FROM sim
           UNION ALL
           SELECT node_b, node_a, inter, jaccard FROM sim),
         rk AS (
           SELECT cust, cust_nbr, inter, jaccard,
             CAST(row_number() OVER (PARTITION BY cust
               ORDER BY jaccard DESC, cust_nbr) AS BIGINT) AS rnk
           FROM sym)
         SELECT cust, rnk, cust_nbr, inter, jaccard
         FROM rk WHERE rnk <= 3 ORDER BY cust, rnk""",
    // RA candidate-scoring replay: candidates = related edges inside the
    // 256-node md5 sample; same full-graph degrees, same 6dp decimal
    // terms; zero-common candidates keep ra = 0 via the left join
    "q_ra_cand" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         und AS (SELECT p1 AS z, p2 AS nbr FROM related UNION ALL SELECT p2, p1 FROM related),
         deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         picked AS (
           SELECT nbr AS n FROM (SELECT DISTINCT nbr FROM und)
           ORDER BY md5(CAST(nbr AS VARCHAR)), nbr LIMIT 256),
         cand AS (
           SELECT r.p1 AS a, r.p2 AS b FROM related r
           JOIN picked x ON x.n = r.p1 JOIN picked y ON y.n = r.p2),
         terms AS (
           SELECT c.a, c.b,
             CAST(round(CAST(1.0 AS DOUBLE) / CAST(d.deg AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
           FROM cand c JOIN und u ON u.nbr = c.a
                       JOIN und w ON w.nbr = c.b AND w.z = u.z
                       JOIN deg d ON d.z = u.z),
         sc AS (
           SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(term) AS DECIMAL(18,6)) AS ra
           FROM terms GROUP BY 1, 2)
         SELECT c.a AS part_a, c.b AS part_b,
           CAST(coalesce(s.n_common, 0) AS BIGINT) AS n_common,
           CAST(coalesce(s.ra, 0) AS DOUBLE) AS ra
         FROM cand c LEFT JOIN sc s ON s.a = c.a AND s.b = c.b
         ORDER BY part_a, part_b""",
    // HLL replay: same md5-prefix-60 hash, same trailing-zero rank
    // (bit_count((v & -v) - 1) + 1), same integer Z numerator; the one
    // double division writes every literal CAST AS DOUBLE (DuckDB parses
    // bare decimals as DECIMAL) and the *2^k factors are exact scalings
    "q_hll" ->
      """WITH vals AS (
           SELECT l_returnflag AS grp,
             CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM lineitem),
         rr AS (
           SELECT grp, h & 255 AS bucket,
             CASE WHEN (h >> 8) = 0 THEN 53
                  ELSE bit_count(((h >> 8) & -(h >> 8)) - 1) + 1 END AS rho
           FROM vals),
         regs AS (
           SELECT grp, bucket, max(rho) AS register FROM rr GROUP BY grp, bucket),
         allregs AS (
           SELECT '__all__' AS grp, bucket, max(register) AS register
           FROM regs GROUP BY bucket),
         summary AS (
           SELECT grp,
             CAST(count(*) AS BIGINT) AS n_present,
             CAST(sum(register) AS BIGINT) AS sum_reg,
             CAST(sum(CAST(1 AS BIGINT) << (53 - register)) AS BIGINT) AS z_present
           FROM (SELECT * FROM regs UNION ALL SELECT * FROM allregs) u GROUP BY grp),
         exact AS (
           SELECT l_returnflag AS grp, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
           FROM lineitem GROUP BY 1
           UNION ALL
           SELECT '__all__', CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem),
         fin AS (
           SELECT s.grp, CAST(256 AS BIGINT) AS m, e.n_exact,
             CAST(256 - s.n_present AS BIGINT) AS n_zero, s.sum_reg,
             CAST(s.z_present + (256 - s.n_present) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS z_num
           FROM summary s JOIN exact e USING (grp))
         SELECT grp, m, n_exact, n_zero, sum_reg, z_num,
           round((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
             * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
             / CAST(z_num AS DOUBLE), 3) AS est,
           CAST(CASE WHEN abs(est - CAST(n_exact AS DOUBLE))
                <= CAST(0.1 AS DOUBLE) * CAST(n_exact AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS within_10pct
         FROM fin ORDER BY grp""",
    // log2-histogram quantile replay: bucket = length(bin(v)) (pure
    // integer/string bit length — no log2), merged '__all__' summed
    // from the per-group histograms, integer floor-div interpolation,
    // exact rank value via a value-cumsum window
    "q_qsketch" ->
      """WITH d AS (SELECT lang AS grp, n_chars AS v FROM documents),
         cells AS (SELECT grp, CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS bucket FROM d),
         hg AS (SELECT grp, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
         hist AS (SELECT grp, bucket, CAST(cnt AS BIGINT) AS cnt FROM hg
                  UNION ALL
                  SELECT '__all__' AS grp, bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM hg GROUP BY 2),
         cum AS (SELECT grp, bucket, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
                   sum(cnt) OVER (PARTITION BY grp) AS n
                 FROM hist),
         phis AS (SELECT * FROM (VALUES ('p50', 500), ('p90', 900), ('p99', 990)) AS t(phi, pm)),
         grps AS (SELECT DISTINCT grp, n FROM cum),
         tgt AS (SELECT grp, phi, pm, n, (n * pm + 999) // 1000 AS r FROM grps, phis),
         pick AS (SELECT t.grp AS grp, t.phi AS phi, t.n AS n, t.r AS r, min(c.bucket) AS b
                  FROM tgt t JOIN cum c ON c.grp = t.grp AND c.cum >= t.r
                  GROUP BY 1, 2, 3, 4),
         est AS (SELECT p.grp AS grp, p.phi AS phi, p.n AS n, p.r AS r, p.b AS b,
                   CASE WHEN p.b = 0 THEN 0 ELSE (CAST(1 AS BIGINT) << (p.b - 1)) END AS lo,
                   c.cnt AS cnt, c.cum AS cum
                 FROM pick p JOIN cum c ON c.grp = p.grp AND c.bucket = p.b),
         q AS (SELECT grp, phi, n, b AS bucket,
                 CAST(lo + ((r - (cum - cnt) - 1) * (CASE WHEN b = 0 THEN 1 ELSE lo END)) // cnt AS BIGINT) AS est
               FROM est),
         d2 AS (SELECT grp, v FROM d UNION ALL SELECT '__all__', v FROM d),
         vals AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM d2 GROUP BY 1, 2),
         vcum AS (SELECT grp, v, sum(c) OVER (PARTITION BY grp ORDER BY v) AS vc FROM vals),
         ex AS (SELECT t.grp AS grp, t.phi AS phi, CAST(min(v) AS BIGINT) AS exact
                FROM tgt t JOIN vcum ON vcum.grp = t.grp AND vcum.vc >= t.r GROUP BY 1, 2)
         SELECT q.grp AS grp, q.phi AS phi, CAST(q.n AS BIGINT) AS n,
           CAST(q.bucket AS BIGINT) AS bucket, q.est AS est, ex.exact AS exact,
           CAST(CASE WHEN q.est <= 2 * ex.exact AND ex.exact <= 2 * q.est THEN 1 ELSE 0 END AS BIGINT) AS within_2x
         FROM q JOIN ex ON ex.grp = q.grp AND ex.phi = q.phi
         ORDER BY grp, phi""",
    "q_bm25" -> bm25Oracle,
    // DSIR replay: same md5 hash-split and bucket hash, same smoothed
    // log-ratio dag (ln of exact integer counts, 7dp round, DECIMAL sum),
    // same exact integer ceil-division for the selection size
    "q_dsir" ->
      """WITH toks AS (
           SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
             CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 < 200 AS is_target
           FROM documents),
         tok AS (
           SELECT is_target,
             CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 512 AS b
           FROM (SELECT is_target, unnest(ws) AS w FROM toks)),
         counts AS (
           SELECT b,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc,
             sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS rc
           FROM tok GROUP BY b),
         wtab AS (
           SELECT b, CAST(round(ln(
               ((CAST(tc AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 512.0)) /
               ((CAST(rc AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 512.0))), 7)
             AS DECIMAL(18,7)) AS w7
           FROM counts, (SELECT sum(tc) AS tt, sum(rc) AS tr FROM counts)),
         scored AS (
           SELECT r.doc_id, CAST(len(r.ws) AS BIGINT) AS n_toks, sum(w.w7) AS wsum
           FROM (SELECT doc_id, ws, unnest(ws) AS w FROM toks WHERE NOT is_target) r
           JOIN wtab w
             ON CAST(('0x' || substring(md5(r.w), 1, 8)) AS BIGINT) % 512 = w.b
           GROUP BY r.doc_id, len(r.ws)),
         fin AS (
           SELECT doc_id, n_toks,
             round(CAST(wsum AS DOUBLE) / n_toks, 6) AS avg_w
           FROM scored)
         SELECT doc_id, n_toks, avg_w,
           CAST(row_number() OVER (ORDER BY avg_w DESC, doc_id) AS BIGINT) AS "rank"
         FROM fin, (SELECT count(*) AS n_raw FROM fin) s
         QUALIFY "rank" <= (s.n_raw * 20 + 99) // 100
         ORDER BY "rank"""",
    "q_quality" ->
      """WITH t AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
           FROM documents)
         SELECT doc_id,
           CAST(nc AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(punct AS DOUBLE) / nc AS punct_ratio,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','was'))) AS DOUBLE) / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
           (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * (1.0 - CAST(punct AS DOUBLE) / nc) AS quality_score
         FROM t ORDER BY doc_id""",
    // dataset-card summary: every column re-derived from the raw table;
    // the share window runs over the tiny per-lang agg frame
    "q_corpus_stats" ->
      """WITH s AS (
           SELECT lang, count(*) AS n_docs,
             sum(CAST(length(text) AS BIGINT)) AS total_chars,
             min(CAST(length(text) AS BIGINT)) AS min_chars,
             max(CAST(length(text) AS BIGINT)) AS max_chars,
             sum(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS total_tokens,
             count(DISTINCT source) AS n_sources
           FROM documents GROUP BY lang)
         SELECT lang, n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(total_chars AS DOUBLE) / n_docs AS mean_chars,
           min_chars, max_chars,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(total_tokens AS DOUBLE) / n_docs AS mean_tokens,
           n_sources,
           CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS doc_share
         FROM s ORDER BY lang""",
    // C4/Gopher battery fully derived: same tokenization as q_quality,
    // lines split on \n; none of the regex alternations contain a
    // prefix-overlapping pair, so Java (leftmost-first) and RE2
    // (leftmost-longest) count identical matches
    "q_heuristics" ->
      """WITH t AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             string_split(text, chr(10)) AS ln,
             text
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(len(ln) AS BIGINT) AS n_lines,
             CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS mean_word_len,
             CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE) / len(toks) AS symbol_word_ratio,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(toks) AS alpha_word_ratio,
             CAST(len(list_filter(ln, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE) / len(ln) AS bullet_line_frac,
             CAST(len(list_filter(ln, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(ln) AS ellipsis_line_frac,
             CAST(len(list_filter(ln, l -> regexp_matches(l, '[.!?"]\s*$'))) AS DOUBLE) / len(ln) AS terminal_line_frac,
             CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_sentences
           FROM t)
         SELECT *,
           (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3 AND alpha_word_ratio >= 0.8) AS gopher_keep,
           (n_sentences >= 3 AND terminal_line_frac >= 0.5) AS c4_keep
         FROM m ORDER BY doc_id""",
    "q_langid" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         h AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','was'))) AS BIGINT) AS en_hits,
             CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS BIGINT) AS de_hits,
             CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','dans','que','pour'))) AS BIGINT) AS fr_hits,
             CAST(len(list_filter(toks, x -> x IN ('el','los','y','es','en','se','del','las','por','con'))) AS BIGINT) AS es_hits,
             CAST(len(list_filter(toks, x -> x IN ('的','是','在','了','不','我','有','他','这','中'))) AS BIGINT) AS zh_hits
           FROM t)
         SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
           CASE WHEN greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) = 0 THEN 'und'
                WHEN en_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'en'
                WHEN de_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'de'
                WHEN fr_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'fr'
                WHEN es_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'es'
                ELSE 'zh' END AS lang_pred
         FROM h ORDER BY doc_id""",
    "q_skew_collect" ->
      """SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS events_sorted
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_ngram_freq" ->
      """WITH t AS (
           SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         g AS (
           SELECT unnest(list_transform(range(1, greatest(len(toks) - 0, 1)),
             i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
           FROM t WHERE len(toks) >= 2)
         SELECT gram, count(*) AS cnt FROM g
         GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""",
    // PMI-lift replay: same bigram table; marginals and N summed from
    // it; two exact integer products + one IEEE division, round 6dp
    "q_colloc" ->
      """WITH t AS (
           SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         g AS (
           SELECT unnest(list_transform(range(1, greatest(len(toks) - 0, 1)),
             i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
           FROM t WHERE len(toks) >= 2),
         bg AS (SELECT gram, CAST(count(*) AS BIGINT) AS c_xy FROM g GROUP BY 1),
         sp AS (SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2, c_xy FROM bg),
         mx AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM sp GROUP BY 1),
         my AS (SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM sp GROUP BY 1),
         nn AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM sp)
         SELECT sp.w1 AS w1, sp.w2 AS w2, sp.c_xy AS c_xy, mx.c_x AS c_x, my.c_y AS c_y,
           round(CAST(sp.c_xy * nn.n AS DOUBLE) / CAST(mx.c_x * my.c_y AS DOUBLE), 6) AS lift
         FROM sp, nn
         JOIN mx ON mx.w1 = sp.w1
         JOIN my ON my.w2 = sp.w2
         WHERE sp.c_xy >= 5
         ORDER BY lift DESC, w1, w2 LIMIT 50""",
    // the approx heavy-hitters path must reproduce the exact answer on
    // the gate corpus — same oracle as q_ngram_freq by design
    "q_ngram_approx" ->
      """WITH t AS (
           SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         g AS (
           SELECT unnest(list_transform(range(1, greatest(len(toks) - 0, 1)),
             i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
           FROM t WHERE len(toks) >= 2)
         SELECT gram, count(*) AS cnt FROM g
         GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""",
    // chunking fully derived: same \s+ token boundaries, 64-token
    // windows at stride 48, list-slice + concat_ws chunk strings
    "q_chunk" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         c AS (
           SELECT doc_id, toks, len(toks) AS n,
             greatest(1, CAST(ceil(CAST(greatest(len(toks) - 16, 1) AS DOUBLE) / 48) AS INT)) AS nc
           FROM t),
         x AS (SELECT doc_id, toks, n, unnest(generate_series(0, nc - 1)) AS ci FROM c)
         SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
                CAST(ci * 48 AS BIGINT) AS start_tok,
                CAST(least(64, n - ci * 48) AS BIGINT) AS n_tok,
                array_to_string(toks[ci*48 + 1 : ci*48 + least(64, n - ci*48)], ' ') AS chunk_text
         FROM x ORDER BY doc_id, chunk_id""",
    "q_pack" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         p AS (
           SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
           FROM t)
         SELECT doc_id, n_tokens, CAST(prefix // 2048 AS BIGINT) AS shard,
           CAST(prefix - min(prefix) OVER (PARTITION BY prefix // 2048)
             AS BIGINT) AS offset_in_shard
         FROM p ORDER BY doc_id""",
    "q_pack_shards" ->
      """WITH t AS (
           SELECT doc_id, text,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         p AS (
           SELECT doc_id, text, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
           FROM t)
         SELECT CAST(prefix // 2048 AS BIGINT) AS shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           string_agg(text, ' ' ORDER BY n_tokens DESC, doc_id) AS shard_text
         FROM p GROUP BY 1 ORDER BY shard""",
    "q_sample" ->
      """SELECT doc_id FROM documents
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 < 100
         ORDER BY doc_id""",
    "q_split" ->
      """SELECT doc_id,
           CASE WHEN hv < 80 THEN 'test'
                WHEN hv < 180 THEN 'val'
                ELSE 'train' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000 AS hv
               FROM documents)
         ORDER BY doc_id""",
    "q_sample_stratified" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         h AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','was'))) AS BIGINT) AS en_hits,
             CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS BIGINT) AS de_hits,
             CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','dans','que','pour'))) AS BIGINT) AS fr_hits,
             CAST(len(list_filter(toks, x -> x IN ('el','los','y','es','en','se','del','las','por','con'))) AS BIGINT) AS es_hits,
             CAST(len(list_filter(toks, x -> x IN ('的','是','在','了','不','我','有','他','这','中'))) AS BIGINT) AS zh_hits
           FROM t),
         lang AS (
           SELECT doc_id,
             CASE WHEN greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) = 0 THEN 'und'
                  WHEN en_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'en'
                  WHEN de_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'de'
                  WHEN fr_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'fr'
                  WHEN es_hits = greatest(en_hits,de_hits,fr_hits,es_hits,zh_hits) THEN 'es'
                  ELSE 'zh' END AS lang_pred
           FROM h)
         SELECT doc_id, lang_pred FROM lang
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 < CASE WHEN lang_pred = 'en' THEN 300 ELSE 50 END
         ORDER BY doc_id""",
    "q_mix" ->
      """WITH c AS (SELECT source, count(*) AS strat_cnt FROM documents GROUP BY source),
         r AS (SELECT source,
                 (1000 * min(strat_cnt) OVER ()) // strat_cnt AS keep_permille
               FROM c)
         SELECT d.doc_id, d.source, r.keep_permille
         FROM documents d JOIN r USING (source)
         WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 < r.keep_permille
         ORDER BY d.doc_id""",
    "q_mix_temp" ->
      """WITH c AS (SELECT source, count(*) AS strat_cnt FROM documents GROUP BY source),
         r AS (SELECT source,
                 least(1000, (1000 * CAST(round(sqrt(strat_cnt * (min(strat_cnt) OVER ()))) AS BIGINT))
                   // strat_cnt) AS keep_permille
               FROM c)
         SELECT d.doc_id, d.source, r.keep_permille
         FROM documents d JOIN r USING (source)
         WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 < r.keep_permille
         ORDER BY d.doc_id""",
    "q_shuffle" ->
      """SELECT doc_id,
           row_number() OVER (ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
             AS pos
         FROM documents ORDER BY doc_id""",
    "q_sample_n" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hkey FROM documents),
         r AS (SELECT doc_id,
                 row_number() OVER (ORDER BY hkey, doc_id) - 1 AS pick_rank
               FROM h)
         SELECT doc_id, pick_rank FROM r WHERE pick_rank < 50 ORDER BY doc_id""",
    // priority-sampling replay: same 52-bit md5 leaf (prefix-60 >> 8,
    // +1), same exactly-rounded double priority, tau = (k+1)-th via the
    // one-row min-over-rank aggregate (0 when the corpus is <= k)
    "q_wsample" ->
      """WITH d AS (SELECT doc_id, n_chars AS w,
             1 + (CAST(('0x' || substring(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) >> 8) AS u
           FROM documents WHERE n_chars > 0),
         p AS (SELECT doc_id, w, u,
             (CAST(w AS DOUBLE) * CAST(4503599627370496.0 AS DOUBLE)) / CAST(u AS DOUBLE) AS priority
           FROM d),
         r AS (SELECT doc_id, w, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rnk FROM p),
         tau AS (SELECT coalesce(min(CASE WHEN rnk = 101 THEN priority END), CAST(0.0 AS DOUBLE)) AS t FROM r)
         SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(rnk AS BIGINT) AS rnk,
           greatest(CAST(w AS DOUBLE), tau.t) AS w_hat
         FROM r, tau WHERE rnk <= 100 ORDER BY rnk""",
    // streaming priority sample equals the batch sampler bit-for-bit
    // (deterministic hash priorities; bounded-heap union preserves the
    // global top-(k+1)), so the batch oracle applies verbatim
    "q_stream_wsample" ->
      """WITH d AS (SELECT doc_id, n_chars AS w,
             1 + (CAST(('0x' || substring(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) >> 8) AS u
           FROM documents WHERE n_chars > 0),
         p AS (SELECT doc_id, w, u,
             (CAST(w AS DOUBLE) * CAST(4503599627370496.0 AS DOUBLE)) / CAST(u AS DOUBLE) AS priority
           FROM d),
         r AS (SELECT doc_id, w, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rnk FROM p),
         tau AS (SELECT coalesce(min(CASE WHEN rnk = 101 THEN priority END), CAST(0.0 AS DOUBLE)) AS t FROM r)
         SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(rnk AS BIGINT) AS rnk,
           greatest(CAST(w AS DOUBLE), tau.t) AS w_hat
         FROM r, tau WHERE rnk <= 100 ORDER BY rnk""",
    "q_knn_graph" ->
      """WITH ranked AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
           FROM embeddings),
         e AS (SELECT vec_id, v FROM ranked WHERE rn <= 200),
         s AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
                 list_cosine_similarity(a.v, b.v) AS sim
               FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT src_id, dst_id,
                 row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, dst_id) AS rnk
               FROM s)
         SELECT src_id, dst_id, CAST(rnk AS BIGINT) AS "rank"
         FROM r WHERE rnk <= 5 ORDER BY src_id, rnk""",
    // the q_split batch oracle verbatim — the streaming twin must land
    // every document in the identical split
    "q_stream_split" ->
      """SELECT doc_id,
           CASE WHEN hv < 80 THEN 'test'
                WHEN hv < 180 THEN 'val'
                ELSE 'train' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000 AS hv
               FROM documents)
         ORDER BY doc_id""",
    // same collision-free-64-bit argument as q_commonness: Spark groups
    // grams by xxhash64, the oracle by the gram strings themselves
    "q_crossdoc" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         s AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 3),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))) AS sh
           FROM t WHERE len(toks) >= 5),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         f AS (SELECT g, count(*) AS ndocs FROM e GROUP BY g),
         a AS (SELECT e.doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
               FROM e JOIN f USING (g) GROUP BY e.doc_id)
         SELECT doc_id, n_grams, n_shared,
           CAST(n_shared AS DOUBLE) / n_grams AS shared_frac
         FROM a ORDER BY doc_id""",
    "q_postings" ->
      """WITH p AS (
           SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS term,
             doc_id
           FROM documents)
         SELECT term, count(*) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM p GROUP BY term ORDER BY term""",
    "q_tfidf" ->
      """WITH e AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rnk
               FROM tf JOIN df USING (term))
         SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS "rank"
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q_redact" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
           '\b[0-9][0-9()\- ]{5,}[0-9]\b', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",
    // backward as-of semantics replayed relationally: right side deduped
    // to max(value) per (user, micro-ts), correlated max picks the match
    "q_asof" ->
      """WITH r AS (
           SELECT user_id, epoch_us(ts) AS rt, max(value) AS err_value
           FROM events WHERE event_type = 'error'
           GROUP BY user_id, epoch_us(ts)),
         l AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
         m AS (
           SELECT l.event_id, l.user_id, l.t_us,
             (SELECT max(r.rt) FROM r
              WHERE r.user_id = l.user_id AND r.rt <= l.t_us) AS err_t_us
           FROM l)
         SELECT m.event_id, m.user_id, m.t_us, m.err_t_us,
           r.err_value, m.t_us - m.err_t_us AS gap_us
         FROM m LEFT JOIN r
           ON r.user_id = m.user_id AND r.rt = m.err_t_us
         ORDER BY m.event_id""",
    // forward as-of semantics replayed relationally: correlated MIN over
    // right rows at-or-after each left timestamp
    "q_asof_fwd" ->
      """WITH r AS (
           SELECT user_id, epoch_us(ts) AS rt, max(value) AS err_value
           FROM events WHERE event_type = 'error'
           GROUP BY user_id, epoch_us(ts)),
         l AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
         m AS (
           SELECT l.event_id, l.user_id, l.t_us,
             (SELECT min(r.rt) FROM r
              WHERE r.user_id = l.user_id AND r.rt >= l.t_us) AS err_t_us
           FROM l)
         SELECT m.event_id, m.user_id, m.t_us, m.err_t_us,
           r.err_value, m.err_t_us - m.t_us AS gap_us
         FROM m LEFT JOIN r
           ON r.user_id = m.user_id AND r.rt = m.err_t_us
         ORDER BY m.event_id""",
    // the sessionize oracle's sessions re-joined to their events by
    // BETWEEN — the relational ground truth for the bucketized join
    "q_range" ->
      """WITH w AS (
           SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
             OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
           FROM w),
         g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM f),
         sess AS (
           SELECT user_id, epoch_us(min(ts)) AS session_start,
                  epoch_us(max(ts)) AS session_end,
                  count(*) AS n_events
           FROM g GROUP BY user_id, session_seq)
         SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
                s.session_start, s.n_events
         FROM events e JOIN sess s ON s.user_id = e.user_id
           AND epoch_us(e.ts) BETWEEN s.session_start AND s.session_end
         ORDER BY e.event_id""",
    "q_dedup_exact" ->
      """WITH k AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h FROM documents),
         g AS (SELECT h, min(doc_id) AS rep_id, count(*) AS group_size FROM k GROUP BY h)
         SELECT k.doc_id, g.rep_id, k.doc_id <> g.rep_id AS is_dup, g.group_size
         FROM k JOIN g ON k.h = g.h ORDER BY k.doc_id""",
    // Prefix filtering (r5) is COMPLETE — every pair with J >= t is
    // found — so the oracle computes the TRUE similarity join with no
    // knowledge of the candidate scheme: candidates = docs sharing any
    // shingle (a necessary condition for J > 0).
    "q_dedup_jaccard" -> jaccardPairsOracle,
    // sorted-neighborhood replay: both rank passes as row_number
    // windows (binary string order matches Spark's UTF8 comparison on
    // this ASCII corpus), same w=4 neighborhood, same trigram Jaccard
    "q_snb" ->
      """WITH rk1 AS (SELECT doc_id,
             row_number() OVER (ORDER BY lang, n_chars, doc_id) AS rnk FROM documents),
         rk2 AS (SELECT doc_id,
             row_number() OVER (ORDER BY substring(trim(lower(text)), 1, 20), doc_id) AS rnk
           FROM documents),
         cand AS (
           SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b
           FROM rk1 a JOIN rk1 b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4
           UNION
           SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
           FROM rk2 a JOIN rk2 b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4),
         t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         s AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
           FROM t WHERE len(toks) >= 3)
         SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
         FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b
         WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8
         ORDER BY id_a, id_b""",
    "q_repetition" -> repetitionOracle,
    // CCNet perplexity: the oracle re-trains the same stupid-backoff
    // bigram LM on the train hash-split and replays the scoring. Every
    // per-token log-prob is log of an exact integer ratio rounded to 7
    // decimals (ln agrees to ~1 ulp cross-engine; the round absorbs it),
    // summed as exact DECIMAL(18,7) so aggregation order can't move it
    // (a float avg flipped the 6dp boundary in r15), one double division
    // for the mean (round 6), exp(-mean) to 3, tertile ties by doc_id
    "q_perplexity" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS hv
           FROM documents),
         bi AS (
           SELECT doc_id, lang, hv,
             unnest(ws[1:len(ws)-1]) AS w1,
             unnest(ws[2:len(ws)]) AS w2
           FROM toks WHERE len(ws) >= 2),
         uc AS (
           SELECT lang, w, count(*) AS c_uni FROM (
             SELECT lang, unnest(ws) AS w FROM toks WHERE hv >= 200)
           GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(c_uni) AS DOUBLE) AS t FROM uc GROUP BY 1),
         bc AS (
           SELECT lang, w1, w2, count(*) AS c_big
           FROM bi WHERE hv >= 200 GROUP BY 1, 2, 3),
         sc AS (
           SELECT bi.doc_id, bi.lang,
             round(CASE WHEN bc.c_big IS NOT NULL
               THEN ln(CAST(bc.c_big AS DOUBLE) / CAST(u1.c_uni AS DOUBLE))
               ELSE ln(0.4 * coalesce(CAST(u2.c_uni AS DOUBLE), 0.5) / tot.t)
             END, 7) AS logp
           FROM bi
           LEFT JOIN bc ON bi.lang = bc.lang AND bi.w1 = bc.w1 AND bi.w2 = bc.w2
           LEFT JOIN uc u1 ON bi.lang = u1.lang AND bi.w1 = u1.w
           LEFT JOIN uc u2 ON bi.lang = u2.lang AND bi.w2 = u2.w
           JOIN tot ON bi.lang = tot.lang),
         agg AS (
           SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(CAST(sum(CAST(logp AS DECIMAL(18,7))) AS DOUBLE)
               / count(*), 6) AS avg_logp
           FROM sc GROUP BY 1, 2),
         fin AS (
           SELECT doc_id, lang, n_bigrams, avg_logp,
             round(exp(-avg_logp), 3) AS ppl
           FROM agg)
         SELECT doc_id, lang, n_bigrams, avg_logp, ppl,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         FROM fin ORDER BY doc_id""",
    // span coverage: the oracle re-derives grams as strings (Spark
    // groups xxhash64 keys) and replays the same interval-union window
    "q_span_coverage" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos,
             unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                 toks[i+4], toks[i+5], toks[i+6], toks[i+7]))) AS gram
           FROM t WHERE len(toks) >= 8),
         c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
         s AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram) WHERE cnt >= 2),
         sw AS (
           SELECT doc_id, pos,
             max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           FROM s),
         cv AS (
           SELECT doc_id,
             sum(greatest(0, pos + 8 - greatest(pos, coalesce(prev_end, 0))))
               AS covered
           FROM sw GROUP BY doc_id),
         base AS (
           SELECT doc_id,
             CASE WHEN length(trim(text)) > 0
               THEN len(regexp_split_to_array(trim(text), '\s+'))
               ELSE 0 END AS n_tokens
           FROM documents)
         SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(cv.covered, 0) AS BIGINT) AS covered_tokens,
           CASE WHEN b.n_tokens > 0
             THEN CAST(coalesce(cv.covered, 0) AS DOUBLE) / b.n_tokens
             ELSE 0.0 END AS coverage_frac
         FROM base b LEFT JOIN cv USING (doc_id)
         ORDER BY doc_id""",
    // exact-substring removal: same gram/island derivation with string
    // grams, then the cut + position-ordered reconstruction
    "q_dedup_substr" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos,
             unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                 toks[i+4], toks[i+5], toks[i+6], toks[i+7]))) AS gram
           FROM t WHERE len(toks) >= 8),
         c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         s AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)),
         sw AS (
           SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
           FROM s),
         i2 AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM sw),
         sp AS (SELECT doc_id, isl, min(pos) AS sp_s, max(pos) + 8 AS sp_e
                FROM i2 GROUP BY doc_id, isl
                HAVING max(pos) + 8 - min(pos) >= 16),
         tp AS (SELECT doc_id, unnest(range(0, len(toks))) AS p,
                  unnest(toks) AS tok FROM t),
         kp AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
                WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tp.doc_id
                  AND tp.p >= sp.sp_s AND tp.p < sp.sp_e)),
         k AS (SELECT doc_id, count(*) AS kept,
                 string_agg(tok, ' ' ORDER BY p) AS kept_text
               FROM kp GROUP BY doc_id),
         ns AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(k.kept, 0) AS BIGINT) AS removed_tokens,
           CAST(coalesce(ns.n_spans, 0) AS BIGINT) AS n_spans,
           coalesce(k.kept_text, '') AS kept_text
         FROM t LEFT JOIN k USING (doc_id) LEFT JOIN ns USING (doc_id)
         ORDER BY doc_id""",

    // contamination depth: identical sweep, but spans count only when
    // the gram appears in the doc<50 benchmark split
    "q_decontaminate_spans" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents),
         g0 AS (
           SELECT doc_id,
             unnest(range(0, greatest(len(toks) - 7, 0))) AS pos,
             unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                 toks[i+4], toks[i+5], toks[i+6], toks[i+7]))) AS gram
           FROM t WHERE len(toks) >= 8),
         bench AS (SELECT DISTINCT gram FROM g0 WHERE doc_id < 50),
         s AS (
           SELECT g.doc_id, g.pos FROM g0 g
           JOIN bench USING (gram) WHERE g.doc_id >= 50),
         sw AS (
           SELECT doc_id, pos,
             max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           FROM s),
         cv AS (
           SELECT doc_id,
             sum(greatest(0, pos + 8 - greatest(pos, coalesce(prev_end, 0))))
               AS covered
           FROM sw GROUP BY doc_id),
         base AS (
           SELECT doc_id,
             CASE WHEN length(trim(text)) > 0
               THEN len(regexp_split_to_array(trim(text), '\s+'))
               ELSE 0 END AS n_tokens
           FROM documents WHERE doc_id >= 50)
         SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(cv.covered, 0) AS BIGINT) AS covered_tokens,
           CASE WHEN b.n_tokens > 0
             THEN CAST(coalesce(cv.covered, 0) AS DOUBLE) / b.n_tokens
             ELSE 0.0 END AS coverage_frac
         FROM base b LEFT JOIN cv USING (doc_id)
         ORDER BY doc_id""",
    // per-source cap: md5 rank within source is derivable on both engines
    "q_source_cap" ->
      """SELECT doc_id, source, src_rank, src_rank <= 10 AS keep FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat(source, '|', CAST(doc_id AS VARCHAR))),
                        doc_id) AS BIGINT) AS src_rank
           FROM documents)
         ORDER BY doc_id""",
    // corpus-wide line dedup: every line hashes to the portable 60-bit
    // md5 prefix on both engines, so the oracle derives the canonical
    // site (first position in the lowest doc id) and the cleaned text
    "q_line_dedup" ->
      """WITH l0 AS (
           SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents),
         l AS (
           SELECT doc_id,
                  unnest(range(1, len(parts) + 1)) AS pos,
                  trim(unnest(parts)) AS line
           FROM l0),
         f AS (
           SELECT doc_id, pos, line,
                  CAST(concat('0x', substr(md5(line), 1, 15)) AS BIGINT) AS h
           FROM l WHERE length(line) > 0),
         k AS (
           SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           FROM f),
         a AS (
           SELECT doc_id, count(*) AS n_lines,
                  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
                  string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos)
                    AS clean_text
           FROM k GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(a.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN a USING (doc_id)
         ORDER BY doc_id""",
    // corpus token counts joined back per token occurrence; Spark
    // groups by xxhash64(token), the oracle by the token itself —
    // counts agree under the collision-free-64-bit argument
    "q_commonness" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS w FROM d),
         f AS (SELECT w, count(*) AS cnt FROM e GROUP BY w),
         j AS (SELECT e.doc_id, f.cnt FROM e JOIN f USING (w)),
         a AS (
           SELECT doc_id, count(*) AS n_tokens, sum(cnt) AS sum_cnt,
             min(cnt) AS min_token_count, max(cnt) AS max_token_count,
             sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS rare_count
           FROM j GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           CAST(sum_cnt AS DOUBLE) / n_tokens AS mean_token_count,
           min_token_count, max_token_count,
           CAST(rare_count AS DOUBLE) / n_tokens AS rare_ratio
         FROM a ORDER BY doc_id""",
    // Full derivation of the portable (md5-60-bit) SimHash twin: same
    // shingling as the jaccard oracle, md5-prefix hash, per-bit majority
    // over 60 bits, 4 pigeonhole block keys (15 bits each, MSB-first
    // fold), candidates sharing any block, hamming <= 3 verify.
    "q_dedup_simhash_md5" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         s AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
           FROM t WHERE len(toks) >= 3),
         e AS (
           SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
           FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
         bc AS (
           SELECT doc_id, b, sum((h >> b) & 1) AS c1, count(*) AS n
           FROM e CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
         sig AS (
           SELECT doc_id,
             list(CASE WHEN c1 * 2 > n THEN 1 ELSE 0 END ORDER BY b) AS bits
           FROM bc GROUP BY doc_id),
         blk AS (
           SELECT doc_id, blk,
             list_reduce(bits[blk * 15 + 1 : blk * 15 + 15],
               (acc, x) -> acc * 2 + x) AS key
           FROM sig CROSS JOIN range(4) r(blk)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM blk a JOIN blk b
             ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           CAST(list_sum(list_transform(range(1, 61),
             i -> CASE WHEN sa.bits[i] <> sb.bits[i] THEN 1 ELSE 0 END))
             AS BIGINT) AS hamming
         FROM cand JOIN sig sa ON sa.doc_id = id_a
                   JOIN sig sb ON sb.doc_id = id_b
         WHERE list_sum(list_transform(range(1, 61),
             i -> CASE WHEN sa.bits[i] <> sb.bits[i] THEN 1 ELSE 0 END)) <= 3
         ORDER BY id_a, id_b""",
    // Full derivation of the perceptual-hash near-dup pairs: the
    // planted 9×8 grid values from the doc_id formulas (the uniform
    // brightness shift is carried but cancels in every neighbor
    // comparison — the invariance the operator exists for), dHash bits
    // at index gy*8+gx, width-16 pigeonhole blocks, hamming verify —
    // mirroring Dedup.phash over Multimodal.plantedPhashTable.
    "q_dedup_phash" ->
      s"""WITH $phashCtes
         SELECT id_a, id_b, hamming FROM phash_pairs
         ORDER BY id_a, id_b""",
    // pairs → connected components → min-id canonical keep-list — the
    // media analog of q_dedup_groups (same recursive-CTE clustering)
    "q_dedup_phash_groups" ->
      s"""WITH RECURSIVE $phashCtes,
         psym AS (SELECT id_a AS u, id_b AS v FROM phash_pairs
                  UNION SELECT id_b, id_a FROM phash_pairs),
         pcomp(k, c) AS (
           SELECT u AS k, u AS c FROM (SELECT DISTINCT u FROM psym)
           UNION
           SELECT s2.v, pcomp.c FROM pcomp JOIN psym s2 ON s2.u = pcomp.k
           WHERE pcomp.c < s2.v)
         SELECT d.doc_id, coalesce(m.c, d.doc_id) AS rep_id,
                d.doc_id <> coalesce(m.c, d.doc_id) AS is_dup
         FROM documents d LEFT JOIN
           (SELECT k, min(c) AS c FROM pcomp GROUP BY k) m ON m.k = d.doc_id
         ORDER BY d.doc_id""",
    // Full derivation of the portable winnowing twin: ORDERED (bag)
    // 3-gram shingles, md5-prefix-60-bit hash, min of each width-4
    // sliding window, distinct minima exploded to rows.
    "q_fingerprint_md5" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         s AS (
           SELECT doc_id,
             list_transform(range(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS sh
           FROM t WHERE len(toks) >= 3),
         h AS (
           SELECT doc_id,
             list_transform(sh,
               g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS hs
           FROM s WHERE len(sh) >= 4),
         m AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 2),
               i -> list_min(hs[i : i + 3]))) AS fps
           FROM h)
         SELECT doc_id, fp
         FROM (SELECT doc_id, unnest(fps) AS fp FROM m)
         ORDER BY doc_id, fp""",
    // Same complete-Jaccard oracle for the MinHash+LSH path: at b=16,r=8
    // band recall at j>=0.8 is >99.9% and the exact-Jaccard verify stage
    // guarantees precision, so the LSH output EQUALS the complete join on
    // this corpus — the shared oracle doubles as a standing recall gate
    // (any missed pair flips it red; PipelineSpec pins the same equality
    // at sf0.001).
    "q_dedup_minhash" -> jaccardPairsOracle,
    // distinct-shared-8-gram counts match the hashed-gram counts under
    // the same collision-free-hash argument as q_dedup_jaccard
    "q_decontaminate" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         g AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 6),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                              toks[i+4], toks[i+5], toks[i+6], toks[i+7]))) AS sh
           FROM t WHERE len(toks) >= 8),
         bench AS (SELECT DISTINCT unnest(sh) AS ng FROM g WHERE doc_id < 50),
         corp AS (SELECT doc_id, unnest(sh) AS ng FROM g WHERE doc_id >= 50),
         hits AS (
           SELECT corp.doc_id, count(*) AS n_hits
           FROM corp JOIN bench ON corp.ng = bench.ng GROUP BY corp.doc_id)
         SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         WHERE d.doc_id >= 50 ORDER BY d.doc_id""",
    // the oracle recomputes pairs blind (same as q_dedup_jaccard), then
    // clusters them with a recursive CTE and keeps min-id per component
    "q_dedup_groups" -> dupGroupsOracle,
    // three library stages chained under ONE gate entry — near-dup
    // grouping keeps canonical reps, Gopher filters keep quality docs,
    // survivors pack into token-budget shards; the oracle nests the
    // per-stage oracles as subqueries, so any stage regressing breaks
    // the composition hash too
    "q_pipeline_e2e" ->
      s"""WITH surv AS (
           SELECT d.doc_id, d.text
           FROM documents d
           JOIN ($dupGroupsOracle) g ON g.doc_id = d.doc_id AND NOT g.is_dup
           JOIN ($repetitionOracle) r ON r.doc_id = d.doc_id AND r.keep),
         t AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           FROM surv),
         p AS (
           SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
           FROM t)
         SELECT doc_id, n_tokens, CAST(prefix // 2048 AS BIGINT) AS shard,
           CAST(prefix - min(prefix) OVER (PARTITION BY prefix // 2048)
             AS BIGINT) AS offset_in_shard
         FROM p ORDER BY doc_id""",
    // exact complete cosine join — the oracle recomputes it blind
    "q_dedup_embed" -> embedPairsOracle,
    // same complete all-pairs oracle — see the queries-side comment:
    // hash-deterministic buckets + exact verify make LSH output equal
    // the exact join on this corpus, so the oracle doubles as a
    // standing recall pin
    "q_dedup_embed_lsh" -> embedPairsOracle,
    "q_ann_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
         s AS (SELECT qid AS query_id, e.vec_id AS neighbor_id,
                      list_cosine_similarity(qv, v) AS sim
               FROM q JOIN e ON e.vec_id <> qid),
         r AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
               FROM s)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank"
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""",
    // mining replay: 6dp-rounded cosines, decimal k-NN means / fixed k,
    // one double division rounded 6dp, ties on ids; each side bounded by
    // the md5-ordered fixed-size sample (non-binding at gate scale)
    "q_mine" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                row_number() OVER (PARTITION BY (label >= 5)
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM embeddings),
         a AS (SELECT vec_id AS a_id, v FROM e WHERE label < 5 AND rn <= 1000),
         b AS (SELECT vec_id AS b_id, v FROM e WHERE label >= 5 AND rn <= 1000),
         s AS (SELECT a_id, b_id, round(list_cosine_similarity(a.v, b.v), 6) AS cos6 FROM a, b),
         r AS (SELECT a_id, b_id, cos6,
                 row_number() OVER (PARTITION BY a_id ORDER BY cos6 DESC, b_id) AS ra,
                 row_number() OVER (PARTITION BY b_id ORDER BY cos6 DESC, a_id) AS rb
               FROM s),
         ma AS (SELECT a_id, CAST(sum(CAST(cos6 AS DECIMAL(10,6))) AS DOUBLE) / 4 AS mean_a
                FROM r WHERE ra <= 4 GROUP BY a_id),
         mb AS (SELECT b_id, CAST(sum(CAST(cos6 AS DECIMAL(10,6))) AS DOUBLE) / 4 AS mean_b
                FROM r WHERE rb <= 4 GROUP BY b_id),
         g AS (SELECT r.a_id, r.b_id, r.cos6,
                 round(r.cos6 / ((ma.mean_a + mb.mean_b) / CAST(2.0 AS DOUBLE)), 6) AS margin
               FROM r JOIN ma USING (a_id) JOIN mb USING (b_id)),
         best AS (SELECT a_id, b_id, cos6, margin,
                 row_number() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rk FROM g)
         SELECT a_id, b_id, cos6 AS sim, margin FROM best
         WHERE rk = 1 AND margin >= CAST(1.0 AS DOUBLE) ORDER BY a_id""",
    // full fixed-round k-means replay: md5-order seeds, 3 assignment
    // passes / 2 centroid updates, 6-dp rounding on every distance and
    // mean (so cross-engine double noise can't flip an argmin), ties to
    // the lowest cell, empty cells keep their centroid
    "q_cluster" ->
      s"""WITH ${kmeansAssignCtes("SELECT 8 AS k")}
         SELECT vec_id, CAST(cell AS BIGINT) AS cluster, d2 AS dist2
         FROM a3 ORDER BY vec_id""",

    // SemDeDup: the SAME k-means replay (shared CTE chain, k auto-sized
    // from corpus size — the SQL mirror of Dedup.semDedupK) + exact
    // within-cluster cosine pairs (6dp-rounded before the threshold so
    // an ulp of cross-engine dot noise can't flip pair membership) +
    // recursive-CTE components + the farthest-from-centroid keep rule
    // (max d2, ties to lower id)
    "q_semdedup" ->
      s"""WITH RECURSIVE ${kmeansAssignCtes(
        "SELECT greatest(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) AS k FROM e")},
         pr AS (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b
           FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.vec_id < y.vec_id
           JOIN e ea ON ea.vec_id = x.vec_id
           JOIN e eb ON eb.vec_id = y.vec_id
           WHERE round(list_cosine_similarity(ea.v, eb.v), 6)
             >= CAST(0.45 AS DOUBLE)),
         sym AS (SELECT id_a AS u, id_b AS v FROM pr
                 UNION SELECT id_b, id_a FROM pr),
         comp(kk, c) AS (
           SELECT u AS kk, u AS c FROM (SELECT DISTINCT u FROM sym)
           UNION
           SELECT s2.v, comp.c FROM comp JOIN sym s2 ON s2.u = comp.kk
           WHERE comp.c < s2.v),
         mm AS (SELECT kk, min(c) AS c FROM comp GROUP BY kk),
         rr AS (
           SELECT a3.vec_id, a3.cell, a3.d2,
             coalesce(mm.c, a3.vec_id) AS rep_id
           FROM a3 LEFT JOIN mm ON mm.kk = a3.vec_id)
         SELECT vec_id, CAST(cell AS BIGINT) AS cluster, rep_id,
           row_number() OVER (PARTITION BY rep_id
             ORDER BY d2 DESC, vec_id) = 1 AS keep
         FROM rr ORDER BY vec_id""",
    // regression PIN, not a derivation: the LSH construction is pure
    // hashing (no RNG state), so recall@10 vs the exact answer is a fixed
    // value per dataset — measured 49/50 at sf0.01; a bucketing change
    // that degrades recall flips this red
    "q_ann_lsh_recall" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(50 AS BIGINT) AS n_hits,
         CAST(50 AS BIGINT) AS n_total,
         CAST(50 AS DOUBLE) / CAST(50 AS DOUBLE) AS recall""",
    // int8 quantization fully derived: per-dim absmax scales, one fixed
    // IEEE expression shape for codes (bit-identical), max (not sum)
    // reconstruction error so no summation-order noise
    "q_quantize" ->
      """WITH e AS MATERIALIZED (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pos AS MATERIALIZED (
           SELECT t.i AS p, max(abs(v[t.i])) AS scale
           FROM e, unnest(range(1, len(v) + 1)) AS t(i)
           GROUP BY t.i),
         sc AS MATERIALIZED (SELECT list(scale ORDER BY p) AS s FROM pos),
         q AS (
           SELECT vec_id,
             list_transform(range(1, len(v) + 1), i ->
               CASE WHEN s[i] = 0 THEN 0
                    ELSE GREATEST(-127, LEAST(127, CAST(floor(v[i] / s[i] * 127 + 0.5) AS BIGINT)))
               END) AS codes,
             v, s
           FROM e CROSS JOIN sc)
         SELECT vec_id,
           array_to_string(codes, ',') AS codes,
           list_max(list_transform(range(1, len(v) + 1), i ->
             abs(v[i] - codes[i] * s[i] / 127.0))) AS max_abs_err
         FROM q ORDER BY vec_id""",
    // full-value PIN (like q_ann_lsh_recall): quantized-search recall is
    // deterministic — integer codes + one fixed dequantize expression
    "q_ann_int8_recall" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(50 AS BIGINT) AS n_hits,
         CAST(50 AS BIGINT) AS n_total,
         CAST(50 AS DOUBLE) / CAST(50 AS DOUBLE) AS recall""",
    // full-value pin: PQ codebooks are replay-exact (round-6 Lloyd,
    // md5 seeds), codes/ADC/re-rank deterministic — measured 44/50
    "q_ann_pq_recall" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(44 AS BIGINT) AS n_hits,
         CAST(50 AS BIGINT) AS n_total,
         CAST(44 AS DOUBLE) / CAST(50 AS DOUBLE) AS recall""",
    // decade-floored pin (k-means centroids aren't bit-stable across
    // partitionings the way LSH hashing is): measured 38/50 = 0.76,
    // floor 0.7 — tolerant to ±1-hit drift, red on material degradation
    "q_ann_ivf_recall" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(50 AS BIGINT) AS n_total,
         CAST(0.7 AS DOUBLE) AS recall_floor""",
    "q_csv_roundtrip" ->
      """SELECT c_mktsegment AS seg, count(*) AS cnt,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
         FROM customer GROUP BY 1 ORDER BY seg""",
    "q_json_roundtrip" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, count(*) AS cnt,
         min(n_name) AS first_name
         FROM nation GROUP BY 1 ORDER BY rk""",
    "q_orc_roundtrip" ->
      """SELECT s_nationkey AS nk, count(*) AS cnt,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
         FROM supplier GROUP BY 1 ORDER BY nk""",
    // the pruned partitioned read-back equals a filtered scan of the
    // source table
    "q_partition_prune" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents WHERE lang = 'en'
         GROUP BY source ORDER BY source""",
    "q_snapshot_roundtrip" ->
      """SELECT r_name, count(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_window_sliding" ->
      """WITH floors AS (
           SELECT event_type,
             to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS w1
           FROM events),
         expanded AS (
           SELECT event_type, unnest([w1, w1 - INTERVAL 30 MINUTE]) AS ws
           FROM floors)
         SELECT epoch_us(ws) AS window_start, event_type, count(*) AS cnt
         FROM expanded GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q_str_percentile" ->
      """WITH ranked AS (
           SELECT n_name, c_acctbal,
             row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal) AS rk,
             count(*) OVER (PARTITION BY n_name) AS n
           FROM customer JOIN nation ON c_nationkey = n_nationkey)
         SELECT n_name,
           round(quantile_cont(c_acctbal, 0.5), 4) AS p50_cont,
           min(CASE WHEN rk >= ceil(0.5 * n) THEN c_acctbal END) AS p50_disc,
           min(CASE WHEN rk >= ceil(0.9 * n) THEN c_acctbal END) AS p90_disc
         FROM ranked GROUP BY n_name ORDER BY n_name""",
    "q_window_agg" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start,
              epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end,
              event_type, count(*) AS cnt, round(sum(value), 3) AS total_value
         FROM events
         GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",
    // identical result to q_window_agg — the streaming run must converge
    // to the batch aggregation once the bounded input is drained
    "q_stream_window_agg" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start,
              epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end,
              event_type, count(*) AS cnt, round(sum(value), 3) AS total_value
         FROM events
         GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",
    // keys-only output makes the streamed dropDuplicates deterministic
    // and equal to batch DISTINCT regardless of arrival order
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // TTL dedup == batch DISTINCT while the horizon (365d) covers every
    // duplicate pair's gap, which it does on the whole gate corpus
    "q_stream_dedup_ttl" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // funnel replay: per-step conditional min with strict-after chain,
    // null -> -1, all epoch-micro integers
    "q_funnel" -> funnelOracleSql,
    // the streamed funnel is order-insensitive (per-step time SETS +
    // chain re-derivation), so the batch funnel oracle gates it verbatim
    "q_stream_funnel" -> funnelOracleSql,
    // the TTL funnel equals batch while every chain fits the 365-day
    // horizon (the whole gate corpus, one AvailableNow batch — the
    // watermark never advances mid-drain)
    "q_stream_funnel_ttl" -> funnelOracleSql,
    // session-path replay: lag-flag + running-sum sessionization (ROWS
    // frame == Spark's RANGE default because (ts, event_id) is unique),
    // two leads gated to the same session, grouped path counts
    "q_paths" ->
      """WITH b AS (
           SELECT user_id, event_type, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)) > 86400000000
               THEN 1 ELSE 0 END AS new_sess
           FROM events),
         se AS (
           SELECT user_id, event_type, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sess
           FROM b),
         p AS (
           SELECT event_type AS e1, sess,
             lead(event_type, 1) OVER w AS e2, lead(sess, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS e3, lead(sess, 2) OVER w AS s3
           FROM se WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS cnt
         FROM p
         WHERE e2 IS NOT NULL AND e3 IS NOT NULL AND s2 = sess AND s3 = sess
         GROUP BY 1 HAVING count(*) >= 2 ORDER BY path""",
    // frequency-spectrum replay: same tokenization as q_vocab, log2
    // bucket = bit length of the count (the q_stream_qsketch idiom)
    "q_freq_spectrum" ->
      """WITH tok AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM documents),
         counts AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE tok <> '' GROUP BY 1),
         spec AS (
           SELECT CAST(length(bin(c)) AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c) AS BIGINT) AS n_tokens
           FROM counts GROUP BY 1),
         tt AS (SELECT CAST(sum(n_types) AS BIGINT) AS t FROM spec)
         SELECT bucket,
           CAST(CAST(1 AS BIGINT) << (bucket - 1) AS BIGINT) AS freq_lo,
           n_types, n_tokens,
           CAST((1000 * n_types) // tt.t AS BIGINT) AS types_permille
         FROM spec CROSS JOIN tt ORDER BY bucket""",
    // transition-matrix replay: one lead over (user_id | ts, event_id),
    // grouped counts, integer permille of the from-type marginal
    "q_transitions" ->
      """WITH p AS (
           SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (
           SELECT event_type AS from_type, to_type,
             CAST(count(*) AS BIGINT) AS cnt
           FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot
               FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.cnt,
           CAST((1000 * c.cnt) // t.tot AS BIGINT) AS permille
         FROM c JOIN t USING (from_type)
         ORDER BY from_type, to_type""",
    // streamed HLL == batch HLL (max is order-insensitive): same
    // replay as q_hll but over per-type event ids, 20pct pin (SE 6.5%)
    // streamed-histogram quantile replay: same log2-bucket leaf as
    // q_qsketch but over floor(value) per event_type — floor (not CAST:
    // DuckDB rounds, Spark truncates) keeps the leaf integer-identical
    "q_stream_qsketch" ->
      """WITH d AS (SELECT event_type AS grp, CAST(floor(value) AS BIGINT) AS v FROM events),
         cells AS (SELECT grp, CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS bucket FROM d),
         hg AS (SELECT grp, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
         hist AS (SELECT grp, bucket, CAST(cnt AS BIGINT) AS cnt FROM hg
                  UNION ALL
                  SELECT '__all__' AS grp, bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM hg GROUP BY 2),
         cum AS (SELECT grp, bucket, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
                   sum(cnt) OVER (PARTITION BY grp) AS n
                 FROM hist),
         phis AS (SELECT * FROM (VALUES ('p50', 500), ('p90', 900), ('p99', 990)) AS t(phi, pm)),
         grps AS (SELECT DISTINCT grp, n FROM cum),
         tgt AS (SELECT grp, phi, pm, n, (n * pm + 999) // 1000 AS r FROM grps, phis),
         pick AS (SELECT t.grp AS grp, t.phi AS phi, t.n AS n, t.r AS r, min(c.bucket) AS b
                  FROM tgt t JOIN cum c ON c.grp = t.grp AND c.cum >= t.r
                  GROUP BY 1, 2, 3, 4),
         est AS (SELECT p.grp AS grp, p.phi AS phi, p.n AS n, p.r AS r, p.b AS b,
                   CASE WHEN p.b = 0 THEN 0 ELSE (CAST(1 AS BIGINT) << (p.b - 1)) END AS lo,
                   c.cnt AS cnt, c.cum AS cum
                 FROM pick p JOIN cum c ON c.grp = p.grp AND c.bucket = p.b),
         q AS (SELECT grp, phi, n, b AS bucket,
                 CAST(lo + ((r - (cum - cnt) - 1) * (CASE WHEN b = 0 THEN 1 ELSE lo END)) // cnt AS BIGINT) AS est
               FROM est),
         d2 AS (SELECT grp, v FROM d UNION ALL SELECT '__all__', v FROM d),
         vals2 AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM d2 GROUP BY 1, 2),
         vcum AS (SELECT grp, v, sum(c) OVER (PARTITION BY grp ORDER BY v) AS vc FROM vals2),
         ex AS (SELECT t.grp AS grp, t.phi AS phi, CAST(min(v) AS BIGINT) AS exact
                FROM tgt t JOIN vcum ON vcum.grp = t.grp AND vcum.vc >= t.r GROUP BY 1, 2)
         SELECT q.grp AS grp, q.phi AS phi, CAST(q.n AS BIGINT) AS n,
           CAST(q.bucket AS BIGINT) AS bucket, q.est AS est, ex.exact AS exact,
           CAST(CASE WHEN q.est <= 2 * ex.exact AND ex.exact <= 2 * q.est THEN 1 ELSE 0 END AS BIGINT) AS within_2x
         FROM q JOIN ex ON ex.grp = q.grp AND ex.phi = q.phi
         ORDER BY grp, phi""",
    "q_stream_hll" ->
      """WITH vals AS (
           SELECT event_type AS grp,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM events),
         rr AS (
           SELECT grp, h & 255 AS bucket,
             CASE WHEN (h >> 8) = 0 THEN 53
                  ELSE bit_count(((h >> 8) & -(h >> 8)) - 1) + 1 END AS rho
           FROM vals),
         regs AS (
           SELECT grp, bucket, max(rho) AS register FROM rr GROUP BY grp, bucket),
         summary AS (
           SELECT grp,
             CAST(count(*) AS BIGINT) AS n_present,
             CAST(sum(register) AS BIGINT) AS sum_reg,
             CAST(sum(CAST(1 AS BIGINT) << (53 - register)) AS BIGINT) AS z_present
           FROM regs GROUP BY grp),
         exact AS (
           SELECT event_type AS grp, CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
           FROM events GROUP BY 1),
         fin AS (
           SELECT s.grp, CAST(256 AS BIGINT) AS m, e.n_exact,
             CAST(256 - s.n_present AS BIGINT) AS n_zero, s.sum_reg,
             CAST(s.z_present + (256 - s.n_present) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS z_num
           FROM summary s JOIN exact e USING (grp))
         SELECT grp, m, n_exact, n_zero, sum_reg, z_num,
           round((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
             * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
             / CAST(z_num AS DOUBLE), 3) AS est,
           CAST(CASE WHEN abs(est - CAST(n_exact AS DOUBLE))
                <= CAST(0.2 AS DOUBLE) * CAST(n_exact AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS within_20pct
         FROM fin ORDER BY grp""",
    "q_stream_topk" ->
      """SELECT event_type, user_id, cnt, "rank" FROM (
           SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY count(*) DESC, user_id) AS BIGINT) AS "rank"
           FROM events GROUP BY event_type, user_id) t
         WHERE "rank" <= 5 ORDER BY event_type, "rank"""",
    // the approx operator's capacity is non-binding at gate SF, so its
    // summaries hold exact counts and the exact-top-k oracle applies
    "q_stream_topk_approx" ->
      """SELECT event_type, user_id, cnt, "rank" FROM (
           SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY count(*) DESC, user_id) AS BIGINT) AS "rank"
           FROM events GROUP BY event_type, user_id) t
         WHERE "rank" <= 5 ORDER BY event_type, "rank"""",
    // streaming near-dup equals the order-independent batch answer:
    // exact Jaccard >= 0.8 pairs (banding recall is 1.0 on the gate
    // corpus, pinned by the hash-green q_dedup_minhash twin), each doc
    // flagged against its lowest-id match
    "q_stream_neardup" ->
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
           FROM t WHERE len(toks) >= 3),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         p AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id),
         v AS (
           SELECT p.id_a, p.id_b
           FROM p JOIN s sa ON sa.doc_id = p.id_a
                JOIN s sb ON sb.doc_id = p.id_b
           WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8),
         f AS (SELECT id_b AS doc_id, min(id_a) AS fm FROM v GROUP BY id_b)
         SELECT d.doc_id, f.fm IS NOT NULL AS is_dup,
           CAST(coalesce(f.fm, -1) AS BIGINT) AS first_match
         FROM documents d LEFT JOIN f USING (doc_id)
         ORDER BY d.doc_id""",
    // the batch interval join replays the streamed inner join exactly
    // (bounded input, no late data): same user, error in the trailing
    // 30 minutes inclusive on both ends
    "q_stream_join" ->
      """SELECT e.event_id, e.user_id,
           epoch_us(e.ts) AS t_us, epoch_us(x.ts) AS err_us
         FROM events e JOIN events x
           ON x.user_id = e.user_id AND x.event_type = 'error'
          AND e.event_type <> 'error'
          AND x.ts <= e.ts AND x.ts >= e.ts - INTERVAL 30 MINUTE
         ORDER BY e.event_id, err_us""",
    // stateless enrichment: the streamed broadcast join equals the
    // batch join row-for-row on bounded input
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment AS segment, n.n_name AS nation
         FROM events e
         JOIN customer c ON c.c_custkey = e.user_id
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         ORDER BY e.event_id""",
    // same sessionization oracle gates the batch twin and the
    // session_window Structured Streaming run (see q_stream_window_agg)
    "q_stream_sessionize" ->
      """WITH w AS (
           SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
             OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
           FROM w),
         g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM f)
         SELECT user_id, epoch_us(min(ts)) AS session_start,
                epoch_us(max(ts)) AS session_end,
                count(*) AS n_events, round(sum(value), 3) AS total_value
         FROM g GROUP BY user_id, session_seq
         ORDER BY user_id, session_start""",
    "q_sessionize" ->
      """WITH w AS (
           SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
             OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
           FROM w),
         g AS (
           SELECT *, sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM f)
         SELECT user_id, epoch_us(min(ts)) AS session_start,
                epoch_us(max(ts)) AS session_end,
                count(*) AS n_events, round(sum(value), 3) AS total_value
         FROM g GROUP BY user_id, session_seq
         ORDER BY user_id, session_start""",
    "q_multimodal" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS width,
         CAST(16 + (doc_id % 3) * 8 AS INTEGER) AS height,
         CAST(3 AS INTEGER) AS channels,
         CAST(1 AS INTEGER) AS px_near
         FROM documents ORDER BY media_id""",
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS width,
         CAST(16 + (doc_id % 3) * 8 AS INTEGER) AS height,
         CAST(3 AS INTEGER) AS channels
         FROM documents ORDER BY media_id""",
    "q_multimodal_pixels" ->
      """SELECT doc_id AS media_id,
         round(((doc_id * 37) % 256 + (doc_id * 101) % 256) / 2.0, 4) AS mean_r,
         round(((doc_id * 59) % 256 + (doc_id * 127) % 256) / 2.0, 4) AS mean_g,
         round(((doc_id * 83) % 256 + (doc_id * 151) % 256) / 2.0, 4) AS mean_b
         FROM documents WHERE doc_id % 2 = 0 ORDER BY media_id""",
    // audio replay: the planted sawtooth ((id*131 + k*7) % 65536) -
    // 32768 over interleaved sample index k, exact integer sums
    "q_multimodal_audio" ->
      """WITH p AS (
           SELECT CAST(doc_id AS BIGINT) AS media_id,
             CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
             CAST(1 + (doc_id % 2) AS INTEGER) AS channels,
             CAST(200 + (doc_id % 5) * 100 AS BIGINT) AS n_frames
           FROM documents),
         ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1200)),
         s AS (
           SELECT p.media_id,
             ((p.media_id * 131 + ks.k * 7) % 65536) - 32768 AS v
           FROM p JOIN ks ON ks.k < p.n_frames * p.channels)
         SELECT p.media_id, p.sample_rate, p.channels,
           CAST(16 AS INTEGER) AS bits, p.n_frames,
           CAST(p.n_frames * 1000 // p.sample_rate AS BIGINT) AS duration_ms,
           CAST(sum(s.v) AS BIGINT) AS sum_v,
           CAST(sum(s.v * s.v) AS BIGINT) AS sum_sq,
           CAST(max(abs(s.v)) AS BIGINT) AS peak
         FROM p JOIN s ON s.media_id = p.media_id
         GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY p.media_id""",
    // video replay: the planted MP4 container fields are pure formulas
    // over doc_id — the box walk must recover each exactly
    "q_multimodal_video" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(600 + (doc_id % 5) * 300 AS BIGINT) AS timescale,
           CAST(2000 + (doc_id % 7) * 500 AS BIGINT) AS duration_ts,
           CAST((2000 + (doc_id % 7) * 500) * 1000
             // (600 + (doc_id % 5) * 300) AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
           CAST(320 + (doc_id % 4) * 16 AS INTEGER) AS width,
           CAST(240 + (doc_id % 3) * 16 AS INTEGER) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END AS video_codec,
           CASE WHEN doc_id % 3 = 0 THEN 'mp4a' ELSE '' END AS audio_codec
         FROM documents ORDER BY media_id""",
    "q_degree" ->
      """SELECT c_custkey AS id, CAST(1 + coalesce(o.cnt, 0) AS BIGINT) AS outDegree,
         CAST(0 AS BIGINT) AS inDegree, CAST(1 + coalesce(o.cnt, 0) AS BIGINT) AS degree
         FROM customer LEFT JOIN
           (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
           ON o_custkey = c_custkey
         ORDER BY id""",
    "q_coowned" ->
      """SELECT l_partkey AS p_partkey, count(DISTINCT l_orderkey) AS order_cnt
         FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_orderkey) >= 5
         ORDER BY p_partkey""",
    "q_triangles" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
         SELECT CAST(count(*) AS BIGINT) AS triangles
         FROM related e1
         JOIN related e2 ON e2.p1 = e1.p2
         JOIN related e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2""",
    // clustering-coefficient replay: wedge-at-apex form (orientation-
    // free) — per-node counts equal the Spark side's degree-ordered
    // triangle explode; one exact integer double division, round 6dp
    "q_clustcoeff" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         und AS (SELECT p1 AS a, p2 AS b FROM related UNION ALL SELECT p2, p1 FROM related),
         deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY 1),
         tri AS (SELECT u.a AS v, CAST(count(*) AS BIGINT) AS tri_cnt
                 FROM und u JOIN und w ON w.a = u.a AND u.b < w.b
                 JOIN related e ON e.p1 = u.b AND e.p2 = w.b
                 GROUP BY 1)
         SELECT d.v AS node_id, coalesce(t.tri_cnt, 0) AS tri_cnt, d.degree AS degree,
           CASE WHEN d.degree >= 2
             THEN round(CAST(2 * coalesce(t.tri_cnt, 0) AS DOUBLE)
                        / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
             ELSE CAST(0.0 AS DOUBLE) END AS coeff
         FROM deg d LEFT JOIN tri t ON t.v = d.v
         ORDER BY node_id""",
    // assortativity replay: identical integer sufficient statistics,
    // identical IEEE assembly expression (casts, one product, sqrt,
    // one division, round 6)
    "q_assort" ->
      """WITH related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         und AS (SELECT p1 AS a, p2 AS b FROM related UNION ALL SELECT p2, p1 FROM related),
         deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
         pairs AS (SELECT da.d AS x, db.d AS y FROM und
                   JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
         s AS (SELECT CAST(count(*) AS BIGINT) AS m2,
                 CAST(sum(x*y) AS BIGINT) AS sxy,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x*x) AS BIGINT) AS sx2, CAST(sum(y*y) AS BIGINT) AS sy2
               FROM pairs)
         SELECT m2, sxy, sx, sx2,
           round(CAST(m2 * sxy - sx * sy AS DOUBLE) /
             sqrt(CAST(m2 * sx2 - sx * sx AS DOUBLE) * CAST(m2 * sy2 - sy * sy AS DOUBLE)), 6) AS r
         FROM s""",
    "q_shortestpath" ->
      """WITH RECURSIVE related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         walk(k, d) AS (
           SELECT CAST(1 AS BIGINT) AS k, 0 AS d
           UNION
           SELECT r.p2, w.d + 1 FROM walk w JOIN related r ON r.p1 = w.k WHERE w.d < 4)
         SELECT k AS p_partkey, CAST(min(d) AS BIGINT) AS dist
         FROM walk GROUP BY k ORDER BY p_partkey""",
    // per-seed min hop distance via one recursive walk from 3 seeds,
    // then first-reach counts per (seed, dist)
    "q_hop_histogram" ->
      """WITH RECURSIVE related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         walk(s, k, d) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT unnest([1, 2, 3]) AS s)
           UNION
           SELECT w.s, r.p2, w.d + 1
           FROM walk w JOIN related r ON r.p1 = w.k WHERE w.d < 3),
         firstreach AS (
           SELECT s, k, min(d) AS d FROM walk GROUP BY s, k)
         SELECT s AS seed, CAST(d AS BIGINT) AS dist,
           count(*) AS n_nodes
         FROM firstreach GROUP BY s, d ORDER BY seed, dist""",
    // harmonic replay: same directed walk as q_hop_histogram from the
    // 8-seed sample, first-reach min(d), then sum of 6dp-rounded 1/d as
    // exact DECIMAL -> double (the aggregation-order-independent rule)
    "q_harmonic" ->
      """WITH RECURSIVE related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         walk(s, k, d) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT unnest([1, 2, 3, 5, 8, 13, 21, 34]) AS s)
           UNION
           SELECT w.s, r.p2, w.d + 1
           FROM walk w JOIN related r ON r.p1 = w.k WHERE w.d < 4),
         firstreach AS (
           SELECT s, k, min(d) AS d FROM walk GROUP BY s, k)
         SELECT k AS p_partkey, CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / d, 6) AS DECIMAL(10,6))) AS DOUBLE) AS harmonic
         FROM firstreach WHERE d >= 1 GROUP BY k ORDER BY p_partkey""",
    "q_concomp" ->
      """WITH RECURSIVE related AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         sym AS (SELECT p1 AS u, p2 AS v FROM related
                 UNION SELECT p2, p1 FROM related),
         comp(k, c) AS (
           SELECT u AS k, u AS c FROM (SELECT DISTINCT u FROM sym)
           UNION
           SELECT s.v, comp.c FROM comp JOIN sym s ON s.u = comp.k WHERE comp.c < s.v)
         SELECT k AS p_partkey, CAST(min(c) AS BIGINT) AS component
         FROM comp GROUP BY k ORDER BY p_partkey""",
    // SCC ground truth with no knowledge of the algorithm: transitive
    // closure over the same derived directed edges, then component =
    // min over the mutually-reachable set (self included)
    "q_scc" ->
      """WITH RECURSIVE
         cyc AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                 FROM lineitem WHERE l_orderkey % 50 = 0),
         pth AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                 FROM lineitem WHERE l_orderkey % 50 = 1),
         chain1 AS (SELECT pk AS u, lead(pk) OVER (PARTITION BY ok ORDER BY pk) AS v FROM cyc),
         closing AS (SELECT max(pk) AS u, min(pk) AS v FROM cyc
                     GROUP BY ok HAVING max(pk) <> min(pk)),
         chain2 AS (SELECT pk AS u, lead(pk) OVER (PARTITION BY ok ORDER BY pk) AS v FROM pth),
         edges AS (SELECT u, v FROM chain1 WHERE v IS NOT NULL
                   UNION SELECT u, v FROM closing
                   UNION SELECT u, v FROM chain2 WHERE v IS NOT NULL),
         reach(a, b) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b),
         nodes AS (SELECT u AS id FROM edges UNION SELECT v FROM edges),
         mutual AS (
           SELECT r1.a AS id, r1.b AS other
           FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
         comp AS (
           SELECT n.id, least(n.id, coalesce(min(m.other), n.id)) AS scc
           FROM nodes n LEFT JOIN mutual m ON m.id = n.id GROUP BY n.id),
         sizes AS (SELECT scc, count(*) AS scc_size FROM comp GROUP BY scc)
         SELECT comp.id AS p_partkey, CAST(comp.scc AS BIGINT) AS scc,
           sizes.scc_size
         FROM comp JOIN sizes USING (scc) ORDER BY p_partkey"""
  )
}
