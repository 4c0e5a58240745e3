package graft.cypher

import graft.SparkSpec

/** openCypher TCK-style semantics pinning: null ternary logic, CASE,
  * list indexing/slicing. Scenario shapes follow the public openCypher
  * TCK (tck/features/expressions — the reference vendors the same suite,
  * /root/reference/test/tck/README.md); values here are asserted against
  * Cypher semantics, with divergences from Spark defaults called out.
  *
  * Divergence list (vs openCypher TCK, kept current):
  *  - `null = null` IS NULL only in non-ANSI mode (SparkEntry sets it).
  *  - startNode()/endNode() return ids when the rel is out of scope.
  */
class TckSemanticsSpec extends SparkSpec {

  private def scalar(expr: String): Any = {
    val r = graph.cypher(s"RETURN $expr AS x").collect()(0)
    if (r.isNullAt(0)) null else r.get(0)
  }

  // ---- null ternary logic (TCK: expressions/null) ----

  test("null comparisons are null") {
    assert(scalar("null = null") == null)
    assert(scalar("null <> null") == null)
    assert(scalar("1 = null") == null)
    assert(scalar("1 < null") == null)
    assert(scalar("null >= null") == null)
  }

  test("three-valued AND/OR/XOR/NOT") {
    assert(scalar("null AND false") == false)
    assert(scalar("null AND true") == null)
    assert(scalar("null AND null") == null)
    assert(scalar("null OR true") == true)
    assert(scalar("null OR false") == null)
    assert(scalar("null OR null") == null)
    assert(scalar("null XOR true") == null)
    assert(scalar("NOT null") == null)
  }

  test("null propagates through arithmetic and functions") {
    assert(scalar("1 + null") == null)
    assert(scalar("null * 2") == null)
    assert(scalar("size(null)") == null)
    assert(scalar("toUpper(null)") == null)
    assert(scalar("toLower(null)") == null)
    assert(scalar("'a' + null") == null)
    assert(scalar("abs(null)") == null)
  }

  test("null string predicates are null") {
    assert(scalar("'abc' STARTS WITH null") == null)
    assert(scalar("null ENDS WITH 'c'") == null)
    assert(scalar("null CONTAINS 'b'") == null)
  }

  test("IN with nulls (TCK: expressions/list IN)") {
    assert(scalar("1 IN [1, null]") == true)
    assert(scalar("5 IN [1, null]") == null)
    assert(scalar("5 IN [1, 2]") == false)
    assert(scalar("null IN []") == false)
  }

  test("IS NULL / coalesce") {
    assert(scalar("null IS NULL") == true)
    assert(scalar("null IS NOT NULL") == false)
    assert(scalar("1 IS NULL") == false)
    assert(scalar("coalesce(null, 1)") == 1L)
    assert(scalar("coalesce(null, null)") == null)
  }

  // ---- CASE (TCK: expressions/conditional) ----

  test("simple CASE compares with equality; null subject falls to ELSE") {
    assert(scalar("CASE 1 WHEN 1 THEN 'a' ELSE 'b' END") == "a")
    assert(scalar("CASE 2 WHEN 1 THEN 'a' ELSE 'b' END") == "b")
    // null = null is null, so WHEN null never matches
    assert(scalar("CASE null WHEN null THEN 'a' ELSE 'b' END") == "b")
  }

  test("searched CASE: no match and no ELSE yields null") {
    assert(scalar("CASE WHEN false THEN 1 END") == null)
    assert(scalar("CASE WHEN 1 > 2 THEN 'x' WHEN 2 > 1 THEN 'y' END") == "y")
    assert(scalar("CASE WHEN null THEN 'x' ELSE 'y' END") == "y")
  }

  // ---- list indexing and slicing (TCK: expressions/list) ----

  test("list indexing: zero-based, negative from end, out-of-range null") {
    assert(scalar("[1, 2, 3][0]") == 1L)
    assert(scalar("[1, 2, 3][2]") == 3L)
    assert(scalar("[1, 2, 3][-1]") == 3L)
    assert(scalar("[1, 2, 3][-3]") == 1L)
    assert(scalar("[1, 2, 3][5]") == null)
    assert(scalar("[1, 2, 3][-5]") == null)
    assert(scalar("[1, 2, 3][null]") == null)
  }

  test("list slicing: half-open, clamped, negative endpoints") {
    def lst(e: String): Seq[Long] = {
      val r = graph.cypher(s"RETURN $e AS x").collect()(0)
      r.getSeq[Long](0)
    }
    assert(lst("[1, 2, 3][0..2]") == Seq(1L, 2L))
    assert(lst("[1, 2, 3][1..]") == Seq(2L, 3L))
    assert(lst("[1, 2, 3][..2]") == Seq(1L, 2L))
    assert(lst("[1, 2, 3][0..5]") == Seq(1L, 2L, 3L))
    assert(lst("[1, 2, 3][-2..]") == Seq(2L, 3L))
    assert(lst("[1, 2, 3][..-1]") == Seq(1L, 2L))
    assert(lst("[1, 2, 3][2..1]") == Seq.empty)
    assert(lst("[1, 2, 3][3..]") == Seq.empty)
  }

  test("size/head/last/tail/reverse on lists and edge cases") {
    assert(scalar("size([1, 2, 3])") == 3)
    assert(scalar("size([])") == 0)
    assert(scalar("head([1, 2, 3])") == 1L)
    assert(scalar("last([1, 2, 3])") == 3L)
    assert(scalar("head([])") == null)
    assert(scalar("range(1, 3)") == Seq(1L, 2L, 3L))
    assert(scalar("range(1, 10, 3)") == Seq(1L, 4L, 7L, 10L))
  }

  test("list comprehension + quantifiers over nulls") {
    assert(scalar("[x IN [1, 2, 3] WHERE x > 1 | x * 10]") == Seq(20L, 30L))
    assert(scalar("all(x IN [1, 2] WHERE x > 0)") == true)
    assert(scalar("any(x IN [1, 2] WHERE x > 1)") == true)
    assert(scalar("none(x IN [1, 2] WHERE x > 5)") == true)
    assert(scalar("single(x IN [1, 2] WHERE x = 1)") == true)
    assert(scalar("reduce(acc = 0, x IN [1, 2, 3] | acc + x)") == 6L)
  }

  test("percentileDisc is exact nearest-rank; percentileCont interpolates") {
    def agg(e: String): Any =
      graph.cypher(s"UNWIND [10, 20, 30, 40] AS x RETURN $e AS p").collect()(0).get(0)
    assert(agg("percentileDisc(x, 0.5)") == 20L)   // ceil(0.5*4) = 2nd
    assert(agg("percentileDisc(x, 0.51)") == 30L)  // ceil(2.04) = 3rd
    assert(agg("percentileDisc(x, 1.0)") == 40L)
    assert(agg("percentileCont(x, 0.5)") == 25.0)
  }

  // ---- OPTIONAL MATCH (TCK: clauses/match OptionalMatch) ----

  test("leading OPTIONAL MATCH with no matches yields one null row") {
    val none = graph.cypher(
      "OPTIONAL MATCH (n:Nation) WHERE n.n_nationkey < 0 RETURN n.n_name AS name")
    val rows = none.collect()
    assert(rows.length == 1 && rows(0).isNullAt(0))
    // and with matches it behaves like MATCH
    val some = graph.cypher(
      "OPTIONAL MATCH (n:Nation) WHERE n.n_nationkey < 3 RETURN n.n_name AS name")
    assert(some.count() == 3)
  }

  test("temporal component accessors (full reference surface)") {
    def comp(e: String): Any =
      graph.cypher(s"UNWIND [1] AS one RETURN $e AS x").collect()(0).get(0)
    assert(comp("date('1996-03-15').quarter") == 1L)
    assert(comp("date('1996-03-15').week") == 11L)
    assert(comp("date('1996-03-15').dayOfYear") == 75L)
    assert(comp("date('1996-03-15').decade") == 199L)
    assert(comp("date('1996-03-15').century") == 19L)
    assert(comp("date('1996-03-15').millennium") == 1L)
    assert(comp("date('1996-01-01').weekYear") == 1996L)
    assert(comp("date('1995-12-31').weekYear") == 1995L)
    assert(comp("datetime('1996-03-15 10:20:30.123').millisecond") == 123L)
    assert(comp("datetime('1996-03-15 10:20:30.123').microsecond") == 123000L)
    assert(comp("datetime('1996-03-15 00:00:00').epochSeconds") == 826848000L)
  }

  // ---- type coercion edges (non-ANSI mode, Cypher-style) ----

  test("ORDER BY treats null as the largest value (last ASC, first DESC)") {
    val asc = graph.cypher(
      """UNWIND [3, null, 1, 2] AS x RETURN x ORDER BY x""").collect()
    assert(asc.take(3).map(_.get(0)).toSeq == Seq(1L, 2L, 3L) && asc(3).isNullAt(0))
    val desc = graph.cypher(
      """UNWIND [3, null, 1, 2] AS x RETURN x ORDER BY x DESC""").collect()
    assert(desc(0).isNullAt(0) && desc.drop(1).map(_.get(0)).toSeq == Seq(3L, 2L, 1L))
  }

  test("string function edge cases") {
    assert(scalar("substring('hello', 1, 3)") == "ell")
    assert(scalar("substring('hello', 0)") == "hello")
    assert(scalar("left('hello', 2)") == "he")
    assert(scalar("right('hello', 2)") == "lo")
    assert(scalar("replace('aaa', 'a', 'b')") == "bbb")
    assert(scalar("trim('  x  ')") == "x")
    assert(scalar("reverse('abc')") == "cba")
    assert(scalar("split('a,b,c', ',')") == Seq("a", "b", "c"))
    assert(scalar("toString(42)") == "42")
    assert(scalar("toString(true)") == "true")
    assert(scalar("size('')") == 0L)
    assert(scalar("substring('ab', 5)") == "")
  }

  test("bad casts yield null, not errors") {
    assert(scalar("toInteger('abc')") == null)
    assert(scalar("toFloat('xyz')") == null)
    assert(scalar("toInteger('42')") == 42L)
    assert(scalar("toFloat('4.2')") == 4.2)
  }

  test("comparability: numeric cross-type works, incomparable is null") {
    assert(scalar("1 = 1.0") == true)
    assert(scalar("1 < 1.5") == true)
    assert(scalar("2 >= 2.0") == true)
    // string vs number: incomparable → null (non-ANSI coercion nulls)
    assert(scalar("1 < 'a'") == null)
    assert(scalar("'abc' < 'abd'") == true)
    assert(scalar("'a' = 1") == null)
    assert(scalar("true = true") == true)
  }

  test("integer division truncates; ^ is double; % sign follows dividend") {
    assert(scalar("7 / 2") == 3L)
    assert(scalar("-7 / 2") == -3L)
    assert(scalar("7.0 / 2") == 3.5)
    assert(scalar("2 ^ 10") == 1024.0)
    assert(scalar("7 % 3") == 1L)
    assert(scalar("-7 % 3") == -1L)
  }

  // ---- entity identity across labels (TCK: clauses/match, with, optional) ----

  test("a variable carried into a later pattern keeps its label: ids are only unique per label") {
    import spark.implicits._
    import graft.graph.{EdgeType, PropertyGraph}
    // Person 1 and City 1 share the node id 1; every shape must count
    // exactly the two LIVES_IN matches, never City 1 as Person 1
    val g = PropertyGraph(
      Map("Person" -> Seq((1L, "ann"), (2L, "bob")).toDF("_id", "name"),
        "City" -> Seq((1L, "oslo"), (5L, "rome")).toDF("_id", "cname")),
      Map(EdgeType("LIVES_IN", "Person", "City") ->
        Seq((1L, 1L, 100L), (2L, 5L, 101L)).toDF("_src", "_dst", "_eid")))
    def count(q: String): Long = g.cypher(q).collect()(0).getLong(0)
    val shapes: Seq[(String, () => Long)] = Seq(
      "MATCH .. WITH .. MATCH" -> (() =>
        count("MATCH (n) WITH n MATCH (n)-[:LIVES_IN]->(c) RETURN count(*)")),
      "MATCH .. MATCH" -> (() =>
        count("MATCH (n) MATCH (n)-[:LIVES_IN]->(c) RETURN count(*)")),
      "WHERE pattern predicate" -> (() =>
        count("MATCH (n) WHERE (n)-[:LIVES_IN]->() RETURN count(*)")),
      "pattern comprehension" -> (() =>
        count("MATCH (n) RETURN sum(size([(n)-[:LIVES_IN]->(c) | c.cname]))")),
      "OPTIONAL MATCH" -> (() =>
        count("MATCH (n) OPTIONAL MATCH (n)-[:LIVES_IN]->(c) RETURN count(c)")),
      "fluent optionalMatch" -> (() =>
        g.optionalMatch(g.matchPattern("(n)"), "(n)-[:LIVES_IN]->(c)")
          .selectExpr("count(c)").collect()(0).getLong(0)),
      // controls: one pattern binds both ends; a rebound relationship
      // already compared its whole value
      "single MATCH" -> (() => count("MATCH (n)-[:LIVES_IN]->(c) RETURN count(*)")),
      "relationship rebinding" -> (() =>
        count("MATCH ()-[r:LIVES_IN]->() WITH r MATCH (a)-[r]->(b) RETURN count(*)")))
    val wrong = shapes.map { case (name, run) => name -> run() }.filter(_._2 != 2L)
    assert(wrong.isEmpty, s"shapes that miscount (want 2 each): $wrong")
  }

  // ---- MERGE on properties (TCK: clauses/merge) ----

  test("MERGE on a property map matches the loaded node; a second MERGE changes nothing") {
    import org.apache.spark.sql.functions.col
    // model: the corpus row itself, read straight from parquet
    val loaded = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") === 42L).collect()
    assert(loaded.length == 1)
    val q = "MERGE (c:Customer {c_custkey: 42}) ON MATCH SET c.hit = true"
    val before = graph.nodeFrame("Customer").count()
    val (g2, _) = graph.cypherWrite(q)
    val customers = g2.nodeFrame("Customer")
    assert(customers.count() == before, "MERGE on c_custkey must not create a node")
    val hits = customers.filter(col("hit") === true).collect()
    assert(hits.length == 1, s"want one matched row, got ${hits.length}")
    assert(hits(0).getAs[Long]("_id") == 42L)
    loaded(0).schema.fieldNames.foreach { f =>
      assert(hits(0).getAs[Any](f) == loaded(0).getAs[Any](f), s"column $f changed")
    }
    val (g3, _) = g2.cypherWrite(q)
    assert(sortedRowsOf(g3.nodeFrame("Customer")) == sortedRowsOf(customers),
      "a second identical MERGE must change nothing")
  }
}
