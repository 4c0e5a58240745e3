package graft.cypher

import org.scalatest.funsuite.AnyFunSuite
import Ast._

class CypherParserSpec extends AnyFunSuite {

  test("point lookup with props and RETURN aliases") {
    val q = CypherParser.parse(
      "MATCH (c:Customer {c_custkey: 42}) RETURN c.c_name AS name, c.c_acctbal AS bal")
    val Seq(MatchClause(paths, false, None, _), ReturnClause(p)) = q.parts.head.clauses
    assert(paths.head.nodes.head.label.contains("Customer"))
    assert(paths.head.nodes.head.props == Seq("c_custkey" -> 42L))
    assert(p.items.map(_.name) == Seq("name", "bal"))
    assert(p.items.head.expr == Prop(Var("c"), "c_name"))
  }

  test("WHERE expression surface") {
    val q = CypherParser.parse(
      """MATCH (c:Customer) WHERE c.c_acctbal > 100 AND NOT c.c_name CONTAINS 'x'
         OR c.c_mktsegment IN ['A', 'B'] RETURN c""")
    val MatchClause(_, _, Some(w), _) = q.parts.head.clauses.head
    // OR binds loosest
    val Bin("OR", l, r) = w
    assert(r == Bin("IN", Prop(Var("c"), "c_mktsegment"), ListLit(Seq(Lit("A"), Lit("B")))))
    val Bin("AND", cmp, Not(contains)) = l
    assert(cmp == Bin(">", Prop(Var("c"), "c_acctbal"), Lit(100L)))
    assert(contains == Bin("CONTAINS", Prop(Var("c"), "c_name"), Lit("x")))
  }

  test("string predicates and regex") {
    val q = CypherParser.parse(
      "MATCH (c) WHERE c.a STARTS WITH 'p' AND c.b ENDS WITH 'q' AND c.d =~ '.*z' RETURN c")
    val MatchClause(_, _, Some(Bin("AND", Bin("AND", s, e), rx)), _) = q.parts.head.clauses.head
    assert(s == Bin("STARTS", Prop(Var("c"), "a"), Lit("p")))
    assert(e == Bin("ENDS", Prop(Var("c"), "b"), Lit("q")))
    assert(rx == Bin("=~", Prop(Var("c"), "d"), Lit(".*z")))
  }

  test("IS NULL / IS NOT NULL") {
    val q = CypherParser.parse("MATCH (c) WHERE c.x IS NULL AND c.y IS NOT NULL RETURN c")
    val MatchClause(_, _, Some(Bin("AND", IsNull(_, false), IsNull(_, true))), _) =
      q.parts.head.clauses.head
  }

  test("var-length and directions") {
    val q = CypherParser.parse(
      "MATCH (a)-[:R*2..4]->(b)<-[s:S]-(c)-[t]-(d) RETURN a")
    val MatchClause(paths, _, _, _) = q.parts.head.clauses.head
    val rels = paths.head.rels
    assert(rels(0).relType.contains("R") && rels(0).isVarLength &&
      rels(0).minHops == 2 && rels(0).maxHops.contains(4) && rels(0).dir == Out)
    assert(rels(1).name == "s" && rels(1).dir == In)
    assert(rels(2).name == "t" && rels(2).dir == Undirected)
  }

  test("WITH aggregation + WHERE + ORDER BY + LIMIT") {
    val q = CypherParser.parse(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
         WITH c, count(o) AS cnt WHERE cnt > 2
         RETURN c.c_name AS name, cnt ORDER BY cnt DESC, name SKIP 1 LIMIT 5""")
    val Seq(_, WithClause(wp), ReturnClause(rp)) = q.parts.head.clauses
    assert(wp.items.map(_.name) == Seq("c", "cnt"))
    assert(wp.where.contains(Bin(">", Var("cnt"), Lit(2L))))
    assert(rp.orderBy.size == 2 && !rp.orderBy.head.asc && rp.orderBy(1).asc)
    assert(rp.skip.contains(Lit(1L)) && rp.limit.contains(Lit(5L)))
  }

  test("UNWIND, UNION, CASE, comprehension, reduce, quantifier") {
    val q1 = CypherParser.parse("UNWIND [1,2,3] AS x RETURN x")
    assert(q1.parts.head.clauses.head == UnwindClause(
      ListLit(Seq(Lit(1L), Lit(2L), Lit(3L))), "x"))

    val q2 = CypherParser.parse("RETURN 1 AS x UNION ALL RETURN 2 AS x")
    assert(q2.parts.size == 2 && q2.unionAll == Seq(true))

    val q3 = CypherParser.parse(
      "RETURN CASE WHEN 1 > 2 THEN 'a' ELSE 'b' END AS r")
    val ReturnClause(p3) = q3.parts.head.clauses.head
    assert(p3.items.head.expr.isInstanceOf[CaseExpr])

    val q4 = CypherParser.parse("RETURN [x IN [1,2,3] WHERE x > 1 | x * 2] AS l")
    val ReturnClause(p4) = q4.parts.head.clauses.head
    val Comprehension("x", _, Some(_), Some(_)) = p4.items.head.expr

    val q5 = CypherParser.parse("RETURN reduce(acc = 0, x IN [1,2] | acc + x) AS s")
    val ReturnClause(p5) = q5.parts.head.clauses.head
    assert(p5.items.head.expr.isInstanceOf[ReduceExpr])

    val q6 = CypherParser.parse("RETURN all(x IN [1,2] WHERE x > 0) AS a")
    val ReturnClause(p6) = q6.parts.head.clauses.head
    assert(p6.items.head.expr == Quantifier("all",
      "x", ListLit(Seq(Lit(1L), Lit(2L))), Bin(">", Var("x"), Lit(0L))))
  }

  test("pattern predicate in WHERE") {
    val q = CypherParser.parse(
      "MATCH (c:Customer) WHERE (c)-[:PLACED]->(:Order) AND c.c_acctbal > 0 RETURN c")
    val MatchClause(_, _, Some(Bin("AND", pp: PatternPred, _)), _) = q.parts.head.clauses.head
    assert(pp.paths.head.rels.head.relType.contains("PLACED"))
  }

  test("exists(pattern) and NOT pattern") {
    val q = CypherParser.parse(
      "MATCH (c:Customer) WHERE NOT (c)-[:PLACED]->(:Order) RETURN c")
    val MatchClause(_, _, Some(Not(_: PatternPred)), _) = q.parts.head.clauses.head

    val q2 = CypherParser.parse(
      "MATCH (c:Customer) WHERE exists((c)-[:PLACED]->(:Order)) RETURN c")
    val MatchClause(_, _, Some(_: PatternPred), _) = q2.parts.head.clauses.head
  }

  test("arithmetic precedence and slicing") {
    val q = CypherParser.parse("RETURN 1 + 2 * 3 ^ 2 AS x, [1,2,3][0] AS h, [1,2,3][1..3] AS s")
    val ReturnClause(p) = q.parts.head.clauses.head
    assert(p.items(0).expr == Bin("+", Lit(1L),
      Bin("*", Lit(2L), Bin("^", Lit(3L), Lit(2L)))))
    assert(p.items(1).expr == Index(ListLit(Seq(Lit(1L), Lit(2L), Lit(3L))), Lit(0L)))
    assert(p.items(2).expr == Slice(ListLit(Seq(Lit(1L), Lit(2L), Lit(3L))),
      Some(Lit(1L)), Some(Lit(3L))))
  }

  test("count(*) and DISTINCT aggregates") {
    val q = CypherParser.parse(
      "MATCH (c) RETURN count(*) AS n, count(DISTINCT c.x) AS d")
    val ReturnClause(p) = q.parts.head.clauses.last
    assert(p.items(0).expr == Func("count", Seq(Star)))
    assert(p.items(1).expr == Func("count", Seq(Prop(Var("c"), "x")), distinct = true))
  }

  test("CALL db.labels YIELD") {
    val q = CypherParser.parse("CALL db.labels() YIELD label RETURN label ORDER BY label")
    val CallClause(proc, yields, where) = q.parts.head.clauses.head
    assert(proc == "db.labels" && yields == Seq("label") && where.isEmpty)
    val CallClause(_, _, where2) = CypherParser.parse(
      "CALL db.labels() YIELD label WHERE label <> 'X' RETURN label")
      .parts.head.clauses.head
    assert(where2.nonEmpty)
  }

  test("pattern grammar: parsePattern ASTs, and malformed patterns throw") {
    def n(name: String, label: String = null, props: Seq[(String, Any)] = Nil,
        secondary: Seq[String] = Nil) =
      NodePat(name, name.startsWith("__anon"), Option(label), props, secondary)
    def r(name: String, relType: String, dir: Dir, minHops: Int = 1,
        maxHops: Option[Int] = Some(1), isVarLength: Boolean = false) =
      RelPat(name, name.startsWith("__anon"), Option(relType), Nil, dir,
        minHops, maxHops, isVarLength)
    def p(nodes: NodePat*)(rels: RelPat*) = PathPat(nodes.toVector, rels.toVector)
    def ab(rel: RelPat) = Vector(p(n("a"), n("b"))(rel))
    val cases = Seq(
      // the PropertyGraph.matchPattern / optionalMatch strings in SparkEntry
      "(c:Customer {c_custkey: 42})" -> Vector(p(n("c", "Customer", Seq("c_custkey" -> 42L)))()),
      "(c:Customer)-[:PLACED]->(o:Order)" ->
        Vector(p(n("c", "Customer"), n("o", "Order"))(r("__anon1", "PLACED", Out))),
      "(r:Region)<-[:IN_REGION]-(n:Nation)<-[:IN_NATION]-(c:Customer)-[:PLACED]->(o:Order)" ->
        Vector(p(n("r", "Region"), n("n", "Nation"), n("c", "Customer"), n("o", "Order"))(
          r("__anon1", "IN_REGION", In), r("__anon2", "IN_NATION", In),
          r("__anon3", "PLACED", Out))),
      "(p:Part {p_partkey: 1})-[:RELATED_TO*1..2]->(q:Part)" ->
        Vector(p(n("p", "Part", Seq("p_partkey" -> 1L)), n("q", "Part"))(
          r("__anon1", "RELATED_TO", Out, 1, Some(2), isVarLength = true))),
      "(c:Customer)" -> Vector(p(n("c", "Customer"))()),
      "(u:User)-[:TRIGGERED]->(e:Event)" ->
        Vector(p(n("u", "User"), n("e", "Event"))(r("__anon1", "TRIGGERED", Out))),
      // the test call sites
      "(n:Nation)<-[:IN_NATION*1..1]-(c:Customer)" ->
        Vector(p(n("n", "Nation"), n("c", "Customer"))(
          r("__anon1", "IN_NATION", In, 1, Some(1), isVarLength = true))),
      // bare arrows
      "(a)<-->(b)" -> ab(r("__anon1", null, Undirected)),
      "(a)--(b)" -> ab(r("__anon1", null, Undirected)),
      "(a)-->(b)" -> ab(r("__anon1", null, Out)),
      "(a)<--(b)" -> ab(r("__anon1", null, In)),
      // type alternation, pipe-joined
      "(a)-[:A|B]->(b)" -> ab(r("__anon1", "A|B", Out)),
      "(a)-[t:A|:B]->(b)" -> ab(r("t", "A|B", Out)),
      // hop ranges
      "(a)-[*]->(b)" -> ab(r("__anon1", null, Out, 1, None, isVarLength = true)),
      "(a)-[*2]->(b)" -> ab(r("__anon1", null, Out, 2, Some(2), isVarLength = true)),
      "(a)-[*..3]->(b)" -> ab(r("__anon1", null, Out, 1, Some(3), isVarLength = true)),
      "(a)-[*2..]->(b)" -> ab(r("__anon1", null, Out, 2, None, isVarLength = true)),
      // secondary labels
      "(n:X:Y:Z)" -> Vector(p(n("n", "X", secondary = Seq("Y", "Z")))()),
      // literal value types
      """(n {s: 'it\'s', d: "dq", i: -3, f: 1.5, t: true, z: null, no: FALSE})""" ->
        Vector(p(n("n", props = Seq("s" -> "it's", "d" -> "dq", "i" -> -3L,
          "f" -> 1.5, "t" -> true, "z" -> null, "no" -> false)))()),
      // several paths; every variable anonymous
      "(a)-[:R]->(b), (b)-[:S]->(c)" -> Vector(
        p(n("a"), n("b"))(r("__anon1", "R", Out)),
        p(n("b"), n("c"))(r("__anon2", "S", Out))),
      "()-[]->()" -> Vector(p(n("__anon1"), n("__anon3"))(r("__anon2", null, Out))))
    // case-class equality is cooperative on numbers (42 == 42L), so the
    // property value classes are compared separately
    def valueTypes(ps: Vector[PathPat]) =
      (ps.flatMap(_.nodes).flatMap(_.props) ++ ps.flatMap(_.rels).flatMap(_.props))
        .map { case (k, v) => k -> Option(v).map(_.getClass) }
    cases.foreach { case (s, want) =>
      val got = CypherParser.parsePattern(s)
      assert(got == want, s)
      assert(valueTypes(got) == valueTypes(want), s)
    }
    Seq("(a", "(a)-[:R]->(b) extra", "(a)-[:R->(b)").foreach { s =>
      intercept[IllegalArgumentException](CypherParser.parsePattern(s))
    }
  }
}
