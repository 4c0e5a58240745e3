package graft.cypher

import graft.SparkSpec
import graft.graph.{GraphLoader, PropertyGraph}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftShims

/** Prepared Cypher reads under codegen-only execution: a generated class
  * janino rejects fails the query instead of falling back to interpreted
  * evaluation, so every [[org.apache.spark.sql.graftshim.ParamLiteral]]
  * shape below is proven to compile. Each answer of the prepared plan
  * (a cache hit from the second value on) equals a fresh compile on a new
  * snapshot of the same frames.
  */
class PreparedReadSpec extends SparkSpec {

  private lazy val strict: SparkSession = {
    val s = GraftShims.cloneSession(spark)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }
  private lazy val g: PropertyGraph = GraphLoader.load(strict, sfDir)

  /** A new snapshot of `g`'s frames: same data, empty plan cache. */
  private def fresh(): PropertyGraph = PropertyGraph(g.nodes, g.edges, g.smallLabels, g.smallTypes)

  private def onStrict[T](body: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(strict)
    try body finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  private def keys(label: String, c: String, n: Int = 3): Seq[Any] =
    g.nodeFrame(label).select(c).distinct().orderBy(c).limit(n).collect().map(_.get(0)).toSeq

  /** `q` over each parameter map: the prepared answer equals a fresh
    * compile's, and every call after the first is a cache hit (it keeps
    * the first call's output attributes; a compile mints new ids). */
  private def agrees(q: String, ps: Seq[Map[String, Any]]): Unit = onStrict {
    val output = g.cypher(q, ps.head).queryExecution.analyzed.output
    ps.foreach { p =>
      val df = g.cypher(q, p)
      assert(df.queryExecution.analyzed.output == output, s"$q with $p is not a cache hit")
      assert(sortedRowsOf(df) == sortedRowsOf(fresh().cypher(q, p)), s"$q with $p")
    }
  }

  test("the six cypher_read shapes: prepared answers equal fresh compiles under codegen only") {
    val cust = keys("Customer", "c_custkey").map(k => Map[String, Any]("key" -> k))
    val part = keys("Part", "p_partkey").map(k => Map[String, Any]("key" -> k))
    val types = keys("Event", "event_type").map(t => Map[String, Any]("type" -> t))
    assert(cust.size == 3 && part.size == 3 && types.size == 3)
    Seq(
      "MATCH (c:Customer {c_custkey: $key}) " +
        "RETURN c.c_name AS name, c.c_acctbal AS acctbal, c.c_mktsegment AS segment" -> cust,
      "MATCH (c:Customer {c_custkey: $key})-[:PLACED]->(o:Order) " +
        "RETURN count(o) AS orders, sum(o.o_totalprice) AS total" -> cust,
      "MATCH (c:Customer {c_custkey: $key})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) " +
        "RETURN p.p_brand AS brand, count(*) AS lines, sum(p.p_retailprice) AS retail " +
        "ORDER BY lines DESC, brand LIMIT 5" -> cust,
      "MATCH (r:Region)<-[:IN_REGION]-(n:Nation)<-[:IN_NATION]-(c:Customer)" +
        "-[:PLACED]->(o:Order) WHERE o.o_totalprice > $minPrice " +
        "RETURN r.r_name AS region, count(*) AS orders, sum(o.o_totalprice) AS revenue " +
        "ORDER BY region" -> Seq(1000.0, 100000.0, 250000.0).map(v => Map[String, Any]("minPrice" -> v)),
      "MATCH (p:Part {p_partkey: $key})-[:RELATED_TO*1..3]->(q:Part) " +
        "RETURN count(DISTINCT q.p_partkey) AS reach" -> part,
      "MATCH (u:User)-[:TRIGGERED]->(e:Event {event_type: $type}) " +
        "RETURN u.user_id AS uid, count(*) AS n ORDER BY n DESC, uid LIMIT 5" -> types
    ).foreach { case (q, ps) => agrees(q, ps) }
  }

  test("Long, Double, String and Boolean parameters in WHERE, RETURN and pattern maps") {
    val segs = keys("Customer", "c_mktsegment")
    val ps = Seq((1L, 0.0, true), (2L, 5000.0, false), (7L, -999.5, true)).zip(segs).map {
      case ((k, bal, flag), seg) =>
        Map[String, Any]("k" -> k, "bal" -> bal, "flag" -> flag, "seg" -> seg)
    }
    agrees("MATCH (c:Customer {c_mktsegment: $seg}) WHERE c.c_acctbal > $bal " +
      "AND (c.c_custkey > $k) = $flag " +
      "RETURN count(*) AS n, $k + 1 AS k1, $bal * 2 AS b2, $seg AS s, NOT $flag AS f", ps)
    agrees("MATCH (o:Order)<-[:PLACED]-(c:Customer {c_custkey: $k}) WHERE $flag " +
      "RETURN c.c_custkey AS k, o.o_totalprice > $bal AS big", ps)
  }

  test("duration parameters: prepared date and datetime arithmetic") {
    agrees("RETURN toString(date('2024-01-31') + duration({days: $d})) AS x",
      Seq(1L, 30L, -400L).map(d => Map[String, Any]("d" -> d)))
    agrees("RETURN toString(datetime('2024-01-31T10:00:00') + duration({hours: $h})) AS x",
      Seq(1.5, 1000.0, -0.25).map(h => Map[String, Any]("h" -> h)))
  }

  test("a prepared lookup with a new key is a cache hit and compiles no new class") {
    val q = "MATCH (c:Customer {c_custkey: $key}) RETURN c.c_name AS name, c.c_acctbal AS acctbal"
    val Seq(k1, k2) = keys("Customer", "c_custkey", 2)
    onStrict {
      val first = g.cypher(q, Map("key" -> k1))
      first.collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = g.cypher(q, Map("key" -> k2))
      val rows = second.collect()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
      assert(rows.length == 1)
      // a fresh compile would mint new attribute ids
      assert(second.queryExecution.analyzed.output == first.queryExecution.analyzed.output)
    }
  }

  test("SET self-references inside list literals and indexes compile under codegen only") {
    onStrict {
      import strict.implicits._
      val tiny = PropertyGraph(
        Map("Person" -> Seq((1L, "ann", 30L), (2L, "bob", 40L)).toDF("_id", "name", "age")),
        Map.empty[graft.graph.EdgeType, org.apache.spark.sql.DataFrame])
      val (g2, _) = tiny.cypherWrite("MATCH (n:Person) SET n.pair = [n.age, 1]")
      assert(g2.nodeFrame("Person").orderBy("_id").collect()
        .map(_.getAs[scala.collection.Seq[Long]]("pair").toList).toList ==
        Seq(Seq(30L, 1L), Seq(40L, 1L)))
      val (g3, _) = tiny.cypherWrite("MATCH (n:Person) SET n.first = [n.age, 1][0]")
      assert(g3.nodeFrame("Person").orderBy("_id").select(col("first")).collect().map(_.getLong(0)).toSeq ==
        Seq(30L, 40L))
    }
  }
}
