package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphWriteSpec extends SparkSpec {

  private def tinyGraph() = {
    import spark.implicits._
    val people = Seq((1L, "ann", 30L), (2L, "bob", 40L)).toDF("_id", "name", "age")
    val knows = Seq((1L, 2L, 100L)).toDF("_src", "_dst", "_eid")
    PropertyGraph(
      Map("Person" -> people),
      Map(EdgeType("KNOWS", "Person", "Person") -> knows))
  }

  test("addNodes appends; mergeNodes dedupes by id") {
    // mergeNodesWith with no assignments: an incoming row whose _id is
    // stored is dropped, the stored row kept
    import spark.implicits._
    val g = tinyGraph()
    val more = Seq((3L, "cyd", 20L), (1L, "dup", 99L)).toDF("_id", "name", "age")
    assert(g.addNodes("Person", more).nodeFrame("Person").count() == 4)
    val merged = g.mergeNodesWith("Person", more).nodeFrame("Person")
    assert(merged.count() == 3)
    // existing row wins on merge
    assert(merged.filter(col("_id") === 1L).select("name").head().getString(0) == "ann")
  }

  test("mergeNodesWith applies ON CREATE and ON MATCH assignments") {
    import spark.implicits._
    val g = tinyGraph()
    val incoming = Seq((1L, "ann2", 31L), (5L, "eve", 25L)).toDF("_id", "name", "age")
    val out = g.mergeNodesWith("Person", incoming,
      onCreate = Map("created" -> lit(true)),
      onMatch = Map("matched" -> lit(true), "age" -> (col("age") + 1))
    ).nodeFrame("Person")
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("matched") && byId(1L).getAs[Long]("age") == 31L)
    assert(byId(1L).getAs[Any]("created") == null)
    assert(byId(5L).getAs[Boolean]("created") && byId(5L).getAs[Any]("matched") == null)
    assert(byId(2L).getAs[Any]("matched") == null)
  }

  test("setNodeProps / setEdgeProps update matching rows only") {
    // setNodePropsForIds / setEdgePropsForIds over the ids a condition
    // selects: only those rows change
    val g = tinyGraph()
    val g2 = g.setNodePropsForIds("Person",
      g.nodeFrame("Person").filter(col("name") === "ann").select("_id"), Map("age" -> lit(31L)))
    val ages = g2.nodeFrame("Person").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ages == Map(1L -> 31L, 2L -> 40L))
    val et = EdgeType("KNOWS", "Person", "Person")
    val g3 = g.setEdgePropsForIds(et,
      g.edgeFrame(et).filter(col("_eid") === 100L).select("_eid"), Map("since" -> lit(2020L)))
    assert(g3.edgeFrame(et).select("since").head().getLong(0) == 2020L)
  }

  test("plain DELETE refuses attached nodes; DETACH DELETE cascades") {
    val g = tinyGraph()
    def ids(cond: org.apache.spark.sql.Column) =
      g.nodeFrame("Person").filter(cond).select("_id")
    val err = intercept[IllegalStateException] {
      g.deleteNodesByIds("Person", ids(col("_id") === 1L))
    }
    assert(err.getMessage.contains("DETACH"))
    val g2 = g.detachDeleteNodesByIds("Person", ids(col("_id") === 1L))
    assert(g2.nodeFrame("Person").count() == 1)
    assert(g2.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 0)
    // unattached node deletes fine
    val g3 = g.deleteNodesByIds("Person", ids(col("_id") === 2L && lit(false)))
    assert(g3.nodeFrame("Person").count() == 2)
  }

  test("addEdges derives distinct EIDs for parallel edges") {
    import spark.implicits._
    val g = tinyGraph()
    val et = EdgeType("KNOWS", "Person", "Person")
    val parallel = Seq((1L, 2L), (1L, 2L)).toDF("_src", "_dst")
    val out = g.addEdges(et, parallel).edgeFrame(et)
    assert(out.count() == 3)
    assert(out.select("_eid").distinct().count() == 3)
  }

  test("removeLabel drops the label and incident edge classes") {
    val g = tinyGraph().removeLabel("Person")
    assert(g.labels.isEmpty && g.edgeClasses.isEmpty)
  }

  test("cypherWrite: CREATE node and edge between matched endpoints") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite("CREATE (c:Person {_id: 7, name: 'gil', age: 22})")
    assert(g2.nodeFrame("Person").count() == 3)
    val (g3, _) = g2.cypherWrite(
      """MATCH (a:Person {name: 'gil'}), (b:Person {name: 'bob'})
         CREATE (a)-[:KNOWS {since: 2024}]->(b)""")
    val e = g3.edgeFrame(EdgeType("KNOWS", "Person", "Person"))
    assert(e.count() == 2)
    assert(e.filter(col("since") === 2024).count() == 1)
  }

  test("cypherWrite: MERGE is idempotent and runs ON CREATE/ON MATCH") {
    val g = tinyGraph()
    val q = """MERGE (p:Person {_id: 9, name: 'hal', age: 50})
               ON CREATE SET p.visits = 1
               ON MATCH SET p.age = p.age + 1"""
    val (g2, _) = g.cypherWrite(q)
    assert(g2.nodeFrame("Person").count() == 3)
    assert(g2.nodeFrame("Person").filter(col("_id") === 9)
      .select("visits").head().getLong(0) == 1L)
    val (g3, _) = g2.cypherWrite(q)
    assert(g3.nodeFrame("Person").count() == 3)
    assert(g3.nodeFrame("Person").filter(col("_id") === 9)
      .select("age").head().getLong(0) == 51L)
  }

  test("cypherWrite: SET, REMOVE, DELETE, DETACH DELETE") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      "MATCH (p:Person) WHERE p.name = 'ann' SET p.age = p.age * 2")
    assert(g2.nodeFrame("Person").filter(col("name") === "ann")
      .select("age").head().getLong(0) == 60L)
    val (g3, _) = g2.cypherWrite("MATCH (p:Person {name: 'ann'}) REMOVE p.age")
    assert(g3.nodeFrame("Person").filter(col("name") === "ann")
      .select("age").head().isNullAt(0))
    val (g4, _) = g3.cypherWrite("MATCH (p:Person {name: 'ann'}) DETACH DELETE p")
    assert(g4.nodeFrame("Person").count() == 1)
    assert(g4.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 0)
    val err = intercept[IllegalStateException] {
      g.cypherWrite("MATCH (p:Person {name: 'ann'}) DELETE p")
    }
    assert(err.getMessage.contains("DETACH"))
  }

  test("cypherWrite: SET with parenthesized target (n).prop") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      "MATCH (p:Person) WHERE p.name = 'ann' SET (p).age = 99")
    assert(g2.nodeFrame("Person").filter(col("name") === "ann")
      .select("age").head().getLong(0) == 99L)
  }

  test("cypherWrite: SET n = {map} replaces all properties; = {} clears") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      "MATCH (p:Person {name: 'ann'}) SET p = {name: 'ann', city: 'Oslo'}")
    val row = g2.nodeFrame("Person").filter(col("name") === "ann").head()
    assert(row.getAs[String]("city") == "Oslo")
    assert(row.isNullAt(row.fieldIndex("age"))) // replaced, not merged
    // untouched rows keep their props
    assert(!g2.nodeFrame("Person").filter(col("name") === "bob")
      .head().isNullAt(g2.nodeFrame("Person").columns.indexOf("age")))
    val (g3, _) = g2.cypherWrite("MATCH (p:Person {name: 'ann'}) SET p = {}")
    val cleared = g3.nodeFrame("Person").filter(col("_id") === row.getAs[Long]("_id"))
    assert(cleared.head().isNullAt(cleared.columns.indexOf("name")))
  }

  test("cypherWrite: undirected CREATE rel is rejected") {
    // (SET n:Label is now SUPPORTED via the multi-label shim —
    // see MultiLabelSpec)
    val g = tinyGraph()
    val e1 = intercept[RuntimeException] {
      g.cypherWrite(
        "MATCH (a:Person {name: 'ann'}), (b:Person {name: 'bob'}) CREATE (a)-[:KNOWS]-(b)")
    }
    assert(e1.getMessage.contains("directed"))
  }

  test("cypherWrite: SET += map merge") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      "MATCH (p:Person {name: 'ann'}) SET p += {age: 33, city: 'oslo'}")
    val row = g2.nodeFrame("Person").filter(col("name") === "ann").head()
    assert(row.getAs[Long]("age") == 33L)
    assert(row.getAs[String]("city") == "oslo")
    val bob = g2.nodeFrame("Person").filter(col("name") === "bob").head()
    assert(bob.getAs[Long]("age") == 40L && bob.getAs[Any]("city") == null)
  }

  test("cypherWrite: SET and REMOVE on relationship properties") {
    import spark.implicits._
    val people = Seq((1L, "ann"), (2L, "bob"), (3L, "cyd")).toDF("_id", "name")
    val knows = Seq((1L, 2L, 100L, 5L), (2L, 3L, 101L, 7L))
      .toDF("_src", "_dst", "_eid", "weight")
    val g = PropertyGraph(
      Map("Person" -> people),
      Map(EdgeType("KNOWS", "Person", "Person") -> knows))
    val et = EdgeType("KNOWS", "Person", "Person")
    // self-referencing expression, filtered MATCH: only one edge updated
    val (g2, _) = g.cypherWrite(
      "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE r.weight > 6 SET r.weight = r.weight * 10")
    assert(g2.edgeFrame(et).collect().map(r =>
      r.getAs[Long]("_eid") -> r.getAs[Long]("weight")).toMap ==
      Map(100L -> 5L, 101L -> 70L))
    // r += map adds new columns on matched rows only
    val (g3, _) = g2.cypherWrite(
      "MATCH (a:Person {name: 'ann'})-[r:KNOWS]->(b:Person) SET r += {kind: 'friend', weight: 1}")
    val rows = g3.edgeFrame(et).collect().map(r =>
      r.getAs[Long]("_eid") -> ((r.getAs[Long]("weight"), r.getAs[String]("kind")))).toMap
    assert(rows == Map(100L -> ((1L, "friend")), 101L -> ((70L, null))))
    // REMOVE r.prop nulls matched rows
    val (g4, _) = g3.cypherWrite(
      "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE r.kind = 'friend' REMOVE r.weight")
    assert(g4.edgeFrame(et).filter(col("_eid") === 100L).head().getAs[Any]("weight") == null)
    assert(g4.edgeFrame(et).filter(col("_eid") === 101L).head().getAs[Long]("weight") == 70L)
  }

  test("cypherWrite: DELETE relationship variable") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite("MATCH (a:Person)-[r:KNOWS]->(b:Person) DELETE r")
    assert(g2.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 0)
    assert(g2.nodeFrame("Person").count() == 2)
  }

  test("cypherWrite: edge MERGE dedupes by (src, dst)") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      """MATCH (a:Person {name: 'ann'}), (b:Person {name: 'bob'})
         MERGE (a)-[:KNOWS]->(b)""")
    assert(g2.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 1)
  }

  test("cypherWrite: CREATE from UNWIND rows with expression props") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      """UNWIND [10, 11, 12] AS x
         CREATE (p:Person {_id: x, name: 'p' + toString(x), age: x * 2})""")
    val people = g2.nodeFrame("Person")
    assert(people.count() == 5)
    val p11 = people.filter(col("_id") === 11L).head()
    assert(p11.getAs[String]("name") == "p11" && p11.getAs[Long]("age") == 22L)
    // per-row CREATE of edges between a bound node and per-row nodes
    val (g3, _) = g.cypherWrite(
      """MATCH (a:Person {name: 'ann'}) UNWIND [20, 21] AS x
         CREATE (a)-[:KNOWS]->(q:Person {_id: x, name: toString(x)})""")
    assert(g3.nodeFrame("Person").count() == 4)
    assert(g3.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 3)
  }

  test("cypherWrite: CREATE is per-row bag semantics (no content collapse)") {
    val g = tinyGraph()
    // N rows with identical props -> N nodes (openCypher; r4 advice fix)
    val (g2, _) = g.cypherWrite(
      "UNWIND [1, 2, 3] AS x CREATE (p:Person {name: 'clone'})")
    assert(g2.nodeFrame("Person").count() == 5)
    assert(g2.nodeFrame("Person").filter(col("name") === "clone")
      .select("_id").distinct().count() == 3)
    // identical statements in sequence keep minting fresh nodes
    val (g3, _) = g2.cypherWrite("CREATE (p:Person {name: 'solo'})")
    val (g4, _) = g3.cypherWrite("CREATE (p:Person {name: 'solo'})")
    assert(g4.nodeFrame("Person").filter(col("name") === "solo").count() == 2)
    // two identical patterns in ONE clause are two nodes
    val (g5, _) = g.cypherWrite("CREATE (a:Person {name: 't'}), (b:Person {name: 't'})")
    assert(g5.nodeFrame("Person").filter(col("name") === "t")
      .select("_id").distinct().count() == 2)
    // parallel edges: one edge per CREATE, distinct EIDs
    val et = EdgeType("KNOWS", "Person", "Person")
    val mk = "MATCH (a:Person {name: 'ann'}), (b:Person {name: 'bob'}) CREATE (a)-[:KNOWS]->(b)"
    val (g6, _) = g.cypherWrite(mk)
    val (g7, _) = g6.cypherWrite(mk)
    assert(g7.edgeFrame(et).count() == 3)
    assert(g7.edgeFrame(et).select("_eid").distinct().count() == 3)
  }

  test("cypherWrite: general MERGE path creates missing nodes and edge once") {
    val g = tinyGraph()
    val q = """MERGE (a:Person {_id: 50, name: 'new1'})-[:KNOWS]->(b:Person {_id: 51, name: 'new2'})"""
    val (g2, _) = g.cypherWrite(q)
    val (g3, _) = g2.cypherWrite(q) // idempotent
    assert(g3.nodeFrame("Person").count() == 4)
    assert(g3.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 2)
    // merging a path whose endpoints exist adds only the edge
    val (g4, _) = g3.cypherWrite(
      "MERGE (a:Person {_id: 2, name: 'bob', age: 40})-[:KNOWS]->(b:Person {_id: 1, name: 'ann', age: 30})")
    assert(g4.nodeFrame("Person").count() == 4)
    assert(g4.edgeFrame(EdgeType("KNOWS", "Person", "Person")).count() == 3)
  }

  test("cypherWrite: MERGE per UNWIND row (batch upsert)") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      """UNWIND [1, 2, 3] AS k MERGE (p:Person {_id: k})
         ON CREATE SET p.name = 'made' ON MATCH SET p.age = 99""")
    val people = g2.nodeFrame("Person").collect().map(r => r.getLong(0) -> r).toMap
    assert(people.size == 3)
    assert(people(1L).getAs[Long]("age") == 99L) // matched
    assert(people(3L).getAs[String]("name") == "made") // created
  }

  test("cypherWrite: REMOVE n:Label drops matched rows from the label") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      "MATCH (p:Person) WHERE p.age > 35 REMOVE p:Person")
    assert(g2.nodeFrame("Person").count() == 1)
    assert(g2.nodeFrame("Person").head().getAs[String]("name") == "ann")
    // mixed prop + label items in one clause
    val (g3, _) = g.cypherWrite(
      "MATCH (p:Person {name: 'bob'}) REMOVE p.age, p:Person")
    assert(g3.nodeFrame("Person").count() == 1)
  }

  test("cypherWrite: CREATE variable reused across paths in one clause") {
    // reference shape: (a) defined in path 1, referenced bare in path 2
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      """CREATE (a:Person {name: 'hub'})-[:KNOWS]->(b:Person {name: 'x'}),
               (a)-[:KNOWS]->(c:Person {name: 'y'})""")
    assert(g2.nodeFrame("Person").filter(col("name").isin("hub", "x", "y")).count() == 3)
    val hub = g2.nodeFrame("Person").filter(col("name") === "hub")
      .head().getAs[Long]("_id")
    val et = EdgeType("KNOWS", "Person", "Person")
    assert(g2.edgeFrame(et).filter(col("_src") === hub).count() == 2,
      "both edges share the ONE node created for a")
  }

  test("cypherWrite: RETURN a node created in the same query") {
    val g = tinyGraph()
    val (g2, ret) = g.cypherWrite(
      """MATCH (p:Person {name: 'ann'})
         CREATE (p)-[:KNOWS]->(t:Person {name: 'new', age: 1})
         RETURN t.name AS name, t.age AS age""")
    val r = ret.get.collect()(0)
    assert(r.getString(0) == "new" && r.getAs[Long](1) == 1L)
    assert(g2.nodeFrame("Person").filter(col("name") === "new").count() == 1)
    // the returned id matches the persisted node's id
    val rid = g.cypherWrite(
      """MATCH (p:Person {name: 'ann'})
         CREATE (p)-[:KNOWS]->(t:Person {name: 'n2'}) RETURN id(t) AS i""")
      ._2.get.collect()(0).getLong(0)
    assert(rid != 0L)
  }

  test("cypherWrite: MERGE with one bound endpoint creates or reuses the target") {
    val g = tinyGraph()
    val q = """MATCH (p:Person {name: 'ann'})
               MERGE (p)-[:SPEAKS]->(l:Language {code: 'en'})
               ON CREATE SET l.level = 'native'"""
    val (g2, _) = g.cypherWrite(q)
    val (g3, _) = g2.cypherWrite(q)
    val et = EdgeType("SPEAKS", "Person", "Language")
    assert(g3.nodeFrame("Language").count() == 1, "second MERGE reuses the node")
    assert(g3.edgeFrame(et).count() == 1, "second MERGE reuses the edge")
    assert(g3.nodeFrame("Language").head().getAs[String]("level") == "native")
  }

  test("cypherWrite: RETURN a MERGEd node sees ON CREATE SET properties") {
    val g = tinyGraph()
    val (_, ret) = g.cypherWrite(
      """MERGE (t:Topic {name: 'graphs'}) ON CREATE SET t.created = true
         RETURN t.name AS name, t.created AS created""")
    val r = ret.get.collect()(0)
    assert(r.getString(0) == "graphs" && r.getBoolean(1))
    // MERGE with one bound endpoint binds the unbound var for RETURN
    val (_, ret2) = g.cypherWrite(
      """MATCH (p:Person {name: 'ann'})
         MERGE (p)-[:SPEAKS]->(l:Language {code: 'fr'})
         RETURN p.name AS pn, l.code AS lc""")
    val r2 = ret2.get.collect()(0)
    assert(r2.getString(0) == "ann" && r2.getString(1) == "fr")
  }

  test("unlabeled-match writes expand over every label") {
    import spark.implicits._
    val cities = Seq((1L, "oslo")).toDF("_id", "city")
    val g = PropertyGraph(
      Map("Person" -> Seq((1L, "ann", 30L), (2L, "bob", 40L)).toDF("_id", "name", "age"),
        "City" -> cities),
      Map(EdgeType("KNOWS", "Person", "Person") ->
        Seq((1L, 2L, 100L)).toDF("_src", "_dst", "_eid")))
    // SET over everything: both frames get the new property
    val (g2, _) = g.cypherWrite("MATCH (n) SET n.audit = 1")
    assert(g2.nodeFrame("Person").filter(col("audit") === 1).count() == 2)
    assert(g2.nodeFrame("City").filter(col("audit") === 1).count() == 1)
    // WHERE on a prop only one label carries: missing prop matches nothing
    val (g3, _) = g.cypherWrite("MATCH (n) WHERE n.age > 35 SET n.senior = true")
    assert(g3.nodeFrame("Person").filter(col("senior")).count() == 1)
    // no matched row is a City, so City's frame is not written at all
    assert(!g3.nodeFrame("City").columns.contains("senior"))
    // non-aggregate RETURN unions across labels (one row per matched node)
    val (_, ret) = g.cypherWrite("MATCH (n) SET n.audit = 2 RETURN id(n) AS i")
    assert(ret.get.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 1L, 2L))
    // DETACH DELETE everything
    val (g4, _) = g.cypherWrite("MATCH (n) DETACH DELETE n")
    assert(g4.labels.forall(l => g4.nodeFrame(l).isEmpty))
    // decomposable aggregate RETURN re-aggregates the per-label partials
    // globally (reference shape: MATCH (n) DETACH DELETE n RETURN count(n))
    val (g5, ret5) = g.cypherWrite("MATCH (n) DETACH DELETE n RETURN count(n) AS c")
    assert(ret5.get.collect()(0).getLong(0) == 3L)
    assert(g5.labels.forall(l => g5.nodeFrame(l).isEmpty))
    val (_, ret6) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN count(n) AS c, max(id(n)) AS m")
    val r6 = ret6.get.collect()(0)
    assert(r6.getLong(0) == 3L && r6.getLong(1) == 2L)
  }

  test("non-decomposable aggregates over unlabeled-match writes aggregate globally") {
    import spark.implicits._
    val g = PropertyGraph(
      Map("Person" -> Seq((1L, "ann", 30L), (2L, "bob", 40L)).toDF("_id", "name", "age"),
        "City" -> Seq((1L, "oslo")).toDF("_id", "city")),
      Map(EdgeType("KNOWS", "Person", "Person") ->
        Seq((1L, 2L, 100L)).toDF("_src", "_dst", "_eid")))
    // avg over the union of all labels, not per label
    // (ids: Person 1,2 + City 1 → avg = 4/3)
    val (g2, ret) = g.cypherWrite(
      "MATCH (n) DETACH DELETE n RETURN avg(id(n)) AS a, count(n) AS c")
    val r = ret.get.collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0 / 3) < 1e-9 && r.getLong(1) == 3L)
    assert(g2.labels.forall(l => g2.nodeFrame(l).isEmpty))
    // collect over the union rows
    val (_, retC) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN collect(id(n)) AS xs")
    assert(retC.get.collect()(0).getSeq[Long](0).sorted == Seq(1L, 1L, 2L))
    // DISTINCT aggregate: ids {1,1,2} → 2 distinct
    val (_, retD) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN count(DISTINCT id(n)) AS d")
    assert(retD.get.collect()(0).getLong(0) == 2L)
    // grouped aggregate with ORDER BY + LIMIT applies post-union
    val (_, retG) = g.cypherWrite(
      """MATCH (n) SET n.x = 1
         RETURN id(n) AS i, count(n) AS c ORDER BY c DESC, i LIMIT 1""")
    val rg = retG.get.collect()
    assert(rg.length == 1 && rg(0).getLong(0) == 1L && rg(0).getLong(1) == 2L)
    // percentile over the union
    val (_, retP) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN percentileCont(id(n), 0.5) AS p")
    assert(math.abs(retP.get.collect()(0).getDouble(0) - 1.0) < 1e-9)
    // non-aggregate DISTINCT dedups across labels, and LIMIT is global
    val (_, retR) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN DISTINCT id(n) AS i")
    assert(retR.get.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val (_, retL) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN id(n) AS i ORDER BY i LIMIT 2")
    assert(retL.get.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L))
    // ORDER BY over an unprojected expression lifts a hidden sort column
    val (_, retO) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN id(n) AS i ORDER BY -id(n) LIMIT 1")
    assert(retO.get.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(retO.get.columns.toSeq == Seq("i"), "hidden sort column must not leak")
    // aggregates nested inside expressions evaluate over the global
    // aggregation (r13: the last rejected shape)
    val (_, retE) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN count(n) + 1 AS c")
    assert(retE.get.collect()(0).getLong(0) == 4L)
    val (_, retE2) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN avg(id(n)) * 3.0 AS a, sum(id(n)) + count(n) AS s")
    val re2 = retE2.get.collect()(0)
    assert(math.abs(re2.getDouble(0) - 4.0) < 1e-9 && re2.getLong(1) == 7L)
    // scalar function over an aggregate, and agg in CASE
    val (_, retE3) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN toString(count(n)) AS t, " +
        "CASE WHEN count(n) > 2 THEN 'many' ELSE 'few' END AS sz")
    val re3 = retE3.get.collect()(0)
    assert(re3.getString(0) == "3" && re3.getString(1) == "many")
    // implicit grouping: non-aggregate items are the grouping keys over
    // the union (r14: the last rejecting family). Property key that only
    // one label carries groups the other labels under NULL.
    val (_, retG1) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN n.name AS k, count(n) AS c")
    val g1rows = retG1.get.collect()
      .map(r => Option(r.getString(0)).getOrElse("-") -> r.getLong(1)).toMap
    assert(g1rows == Map("ann" -> 1L, "bob" -> 1L, "-" -> 1L))
    // a key expression reused INSIDE an aggregating item resolves to the
    // same lifted grouping column
    val (_, retG2) = g.cypherWrite(
      "MATCH (n) SET n.x = 1 RETURN id(n) AS i, id(n) + count(n) AS b")
    val g2rows = retG2.get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2rows == Map(1L -> 3L, 2L -> 3L)) // id 1 twice: 1+2, id 2 once: 2+1
    // a NON-key row expression mixed with an aggregate stays an error
    // (openCypher rejects it; the reference's SQLite translation would
    // return an arbitrary row's value)
    intercept[Exception](
      g.cypherWrite("MATCH (n) SET n.x = 1 RETURN id(n) + count(n) AS b")
        ._2.get.collect())
  }

  test("cypherWrite: SET self-references inside list literals and indexes") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite("MATCH (n:Person) SET n.pair = [n.age, 1]")
    val pairs = g2.nodeFrame("Person").collect()
      .map(r => r.getAs[Long]("_id") -> r.getAs[Seq[Long]]("pair")).toMap
    assert(pairs == Map(1L -> Seq(30L, 1L), 2L -> Seq(40L, 1L)))
    val (g3, _) = g.cypherWrite("MATCH (n:Person) SET n.first = [n.age, 1][0]")
    val firsts = g3.nodeFrame("Person").collect()
      .map(r => r.getAs[Long]("_id") -> r.getAs[Long]("first")).toMap
    assert(firsts == Map(1L -> 30L, 2L -> 40L))
  }

  test("unlabeled-match write RETURN lifts an aggregate nested in a list") {
    import spark.implicits._
    val g = PropertyGraph(
      Map("Person" -> Seq((1L, "ann"), (2L, "bob")).toDF("_id", "name"),
        "City" -> Seq((1L, "oslo")).toDF("_id", "city")),
      Map.empty[EdgeType, org.apache.spark.sql.DataFrame])
    val (_, ret) = g.cypherWrite("MATCH (n) SET n.x = 1 RETURN [count(n)] AS c")
    assert(ret.get.collect().map(_.getSeq[Long](0)).toSeq == Seq(Seq(3L)))
  }

  test("cypherWrite: MERGE between bound endpoints over repeated rows makes one edge") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite(
      """MATCH (a:Person {name: 'bob'}), (b:Person {name: 'ann'})
         UNWIND [1, 2] AS x MERGE (a)-[:KNOWS]->(b)""")
    val e = g2.edgeFrame(EdgeType("KNOWS", "Person", "Person"))
    assert(e.count() == 2, "the stored 1->2 edge plus ONE new 2->1 edge")
    assert(e.filter(col("_src") === 2L && col("_dst") === 1L).count() == 1)
  }

  test("cypherWrite: MERGE on properties matches the stored node") {
    val g = tinyGraph()
    val (g2, _) = g.cypherWrite("MERGE (p:Person {name: 'ann'}) ON MATCH SET p.seen = true")
    val people = g2.nodeFrame("Person").collect()
      .map(r => r.getAs[Long]("_id") -> Option(r.getAs[Any]("seen"))).toMap
    assert(people == Map(1L -> Some(true), 2L -> None),
      s"MERGE must match ann (_id 1), not mint a new node: $people")
  }

  test("cypherWrite: MERGE ON CREATE / ON MATCH SET may change a pattern property") {
    val g = tinyGraph()
    val (g2, ret) = g.cypherWrite("MERGE (n:L {k: 1}) ON CREATE SET n.k = 2 RETURN n.k AS k")
    assert(ret.get.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(g2.nodeFrame("L").collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
    val (g3, ret2) = g.cypherWrite(
      "MERGE (p:Person {name: 'ann'}) ON MATCH SET p.name = 'anna' RETURN id(p) AS i, p.name AS n")
    assert(ret2.get.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(1L -> "anna"))
    assert(g3.nodeFrame("Person").count() == 2)
    // the relationship path: the edge joins the node the SET changed
    val (g4, _) = g.cypherWrite(
      "MERGE (a:A {k: 1})-[:T]->(b:B {k: 1}) ON CREATE SET a.k = 2")
    val a = g4.nodeFrame("A").collect()
    assert(a.map(_.getAs[Long]("k")).toSeq == Seq(2L))
    val t = g4.edgeFrame(EdgeType("T", "A", "B")).collect()
    assert(t.map(r => r.getAs[Long]("_src") -> r.getAs[Long]("_dst")).toSeq ==
      Seq(a.head.getAs[Long]("_id") -> g4.nodeFrame("B").head().getAs[Long]("_id")))
  }

  test("cypherWrite: relationship MERGE rejects an unbound endpoint with no properties") {
    import spark.implicits._
    val g = tinyGraph().addNodes("Language", Seq((1L, "en"), (2L, "fr")).toDF("_id", "code"))
    val err = intercept[RuntimeException] {
      g.cypherWrite(
        """MATCH (p:Person {name: 'ann'}) MERGE (p)-[r:SPEAKS]->(:Language) RETURN r""")
    }
    assert(err.getMessage.contains("no properties"), err.getMessage)
    // a node MERGE with no properties matches every node of its label
    val (g2, ret) = g.cypherWrite("MERGE (l:Language) RETURN l.code AS c")
    assert(ret.get.collect().map(_.getString(0)).sorted.toSeq == Seq("en", "fr"))
    assert(g2.nodeFrame("Language").count() == 2)
  }

  /** Person {1, 2} + City {1}: ids collide across labels. */
  private def twoLabelGraph() = {
    import spark.implicits._
    PropertyGraph(
      Map("Person" -> Seq((1L, "ann", 30L), (2L, "bob", 40L)).toDF("_id", "name", "age"),
        "City" -> Seq((1L, "oslo")).toDF("_id", "city")),
      Map(EdgeType("KNOWS", "Person", "Person") ->
        Seq((1L, 2L, 100L)).toDF("_src", "_dst", "_eid")))
  }

  test("cypherWrite: RETURN after SET / REMOVE sees the written values") {
    val (_, ret) = tinyGraph().cypherWrite("MATCH (n:Person) SET n.age = 99 RETURN n.age AS a")
    assert(ret.get.collect().map(_.getLong(0)).toSeq == Seq(99L, 99L))
    val (_, ret2) = twoLabelGraph().cypherWrite("MATCH (n) SET n.age = 99 RETURN n.age AS a")
    assert(ret2.get.collect().map(_.getLong(0)).toSeq == Seq(99L, 99L, 99L))
    val (_, ret3) = tinyGraph().cypherWrite(
      "MATCH (n:Person) REMOVE n.age RETURN n.name AS m, n.age AS a ORDER BY m")
    assert(ret3.get.collect().map(r => r.getString(0) -> r.isNullAt(1)).toSeq ==
      Seq("ann" -> true, "bob" -> true))
    // a later SET reads the earlier SET's value; a relationship rebinds too
    val (g4, ret4) = tinyGraph().cypherWrite(
      """MATCH (a:Person)-[r:KNOWS]->(b:Person) SET a.x = 1, r.w = 5
         SET a.y = a.x + 1 RETURN a.y AS y, r.w AS w""")
    assert(ret4.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq == Seq(2L -> 5L))
    assert(g4.nodeFrame("Person").filter(col("y") === 2L).count() == 1)
  }

  test("cypherWrite: SET with a map projection or a bare reference of its own target") {
    val (g2, _) = tinyGraph().cypherWrite("MATCH (n:Person) SET n.s = n{.name}")
    val s = g2.nodeFrame("Person").select("_id", "s.name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s == Map(1L -> "ann", 2L -> "bob"))
    val (g3, _) = tinyGraph().cypherWrite(
      "MATCH (n:Person) SET n.t = n{.age, .nope, tag: n.name + '!'}, n.i = id(n)")
    val t = g3.nodeFrame("Person").select("_id", "t.age", "t.nope", "t.tag", "i").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.isNullAt(2), r.getString(3), r.getLong(4))).toMap
    assert(t == Map(1L -> ((30L, true, "ann!", 1L)), 2L -> ((40L, true, "bob!", 2L))))
  }

  test("cypherWrite: a repeated MERGE does not find the node its first run created and changed") {
    val q = "MERGE (n:L {k: 1}) ON CREATE SET n.k = 2"
    val (g2, _) = tinyGraph().cypherWrite(q)
    val (g3, _) = g2.cypherWrite(q)
    assert(g3.nodeFrame("L").collect().map(_.getAs[Long]("k")).toSeq == Seq(2L, 2L))
    assert(g3.nodeFrame("L").select("_id").distinct().count() == 2)
    // the rows of one statement still merge into one node
    val (g4, _) = tinyGraph().cypherWrite("UNWIND [1, 2, 3] AS x MERGE (n:L {k: 1})")
    assert(g4.nodeFrame("L").count() == 1)
  }

  test("cypherWrite: unlabeled write targets need no re-run per label") {
    val g = twoLabelGraph()
    // two unlabeled targets in one SET
    val (g2, _) = g.cypherWrite("MATCH (a)-[:KNOWS]->(b) SET a.x = 1, b.y = 2")
    val p = g2.nodeFrame("Person").collect().map(r =>
      r.getAs[Long]("_id") -> (Option(r.getAs[Any]("x")), Option(r.getAs[Any]("y")))).toMap
    assert(p == Map(1L -> ((Some(1L), None)), 2L -> ((None, Some(2L)))))
    val city = g2.nodeFrame("City")
    assert(Seq("x", "y").forall(c => !city.columns.contains(c) || city.filter(col(c).isNotNull).isEmpty))
    // an unlabeled CREATE endpoint, with and without a SET before it:
    // exactly one T edge, from Person 1 (not City 1)
    Seq("MATCH (n) WHERE n.name = 'ann' SET n.v = 1 CREATE (n)-[:T]->(:X {q: 1})",
        "MATCH (n) WHERE n.name = 'ann' CREATE (n)-[:T]->(:X {q: 1})").foreach { q =>
      val (g3, _) = g.cypherWrite(q)
      val edges = g3.edgeTypesFor(Some("T"), None, None).flatMap(et =>
        g3.edgeFrame(et).collect().map(r => et.srcLabel -> r.getAs[Long]("_src")))
      assert(edges == Seq("Person" -> 1L), s"$q: $edges")
    }
    // unlabeled REMOVE of a secondary and of a primary label
    val (g4, _) = g.cypherWrite("MATCH (n) WHERE n.name = 'ann' SET n:Admin")
    val (g5, _) = g4.cypherWrite("MATCH (n) REMOVE n:Admin")
    assert(g5.cypher("MATCH (n:Admin) RETURN n").count() == 0)
    assert(g5.nodeFrame("Person").count() == 2)
    val (g6, _) = g.cypherWrite("MATCH (n) WHERE n.city = 'oslo' REMOVE n:City")
    assert(g6.nodeFrame("City").count() == 0 && g6.nodeFrame("Person").count() == 2)
    assert(g6.cypher("MATCH (n) RETURN count(n) AS c").head().getLong(0) == 3L)
    // RETURN of the written unlabeled variable: padded structs
    val (_, ret) = g.cypherWrite("MATCH (n) SET n.x = 1 RETURN n")
    val rows = ret.get.select("n._id", "n._label", "n.x").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(r => (r._2, r._1)).toSeq
    assert(rows == Seq((1L, "City", 1L), (1L, "Person", 1L), (2L, "Person", 1L)))
  }

  test("cypherWrite: an unlabeled write touches only the labels its rows carry") {
    val g = twoLabelGraph()
    val (g2, _) = g.cypherWrite("MATCH (a)-[:KNOWS]->(b) SET a.x = 1")
    assert(!g2.nodeFrame("City").columns.contains("x"))
    assert(g2.cypher("MATCH (c:City) RETURN keys(c) AS k").head().getSeq[String](0) == Seq("city"))
    val (g3, _) = g.cypherWrite("MATCH (n) WHERE n.name = 'ann' CREATE (n)-[:T]->(:X {q: 1})")
    assert(g3.edgeTypesFor(Some("T"), None, None) == Seq(EdgeType("T", "Person", "X")))
  }

  test("snapshot save/load round-trips a written graph") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-write-snap").toString
    val (g2, _) = tinyGraph().cypherWrite(
      "CREATE (c:Person {_id: 7, name: 'gil', age: 22})")
    g2.save(tmp)
    val back = PropertyGraph.load(spark, tmp)
    assert(back.nodeFrame("Person").count() == 3)
  }
}
