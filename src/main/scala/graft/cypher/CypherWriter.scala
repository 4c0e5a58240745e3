package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Ast._
import CypherCompiler.Ctx
import graft.graph.{EdgeType, PatternMatcher, PropertyGraph}
import graft.graph.PropertyGraph.{DST, EID, ID, LABEL, LABELS, SRC}
import graft.util.Frames

/** Executes Cypher WRITE queries (CREATE / MERGE / SET / REMOVE / DELETE /
  * DETACH DELETE, mixed with read clauses) against a [[PropertyGraph]],
  * returning the new immutable graph snapshot plus the optional RETURN
  * result.
  *
  * Reference analog: the write-clause translation in
  * /root/reference/src/translator.ts (CREATE/MERGE/SET/DELETE into SQLite
  * DML). Spark-first divergence: writes are snapshot transforms — MATCH
  * bindings flow into id FRAMES that join against label frames; nothing is
  * collected to the driver. Read clauses, WITH and RETURN compile through
  * [[CypherCompiler]].
  *
  * Supported subset (documented; the rest raises):
  *  - CREATE of literal node patterns, and of edges between variables
  *    bound by a preceding MATCH (`MATCH (a),(b) CREATE (a)-[:T]->(b)`).
  *  - MERGE of a node pattern, or of a single-relationship path whose
  *    endpoints are bound variables or node patterns with a property
  *    map (+ ON CREATE / ON MATCH SET on the pattern's unbound nodes;
  *    they may change a pattern property). An unbound node
  *    matches the stored nodes of its label equal to the pattern's
  *    property map, or to its `_id` when the pattern gives one; rows
  *    with no match create a node.
  *  - SET / REMOVE of node properties and labels; SET / REMOVE of
  *    relationship properties when the MATCH pins the rel variable to one
  *    edge class (type + endpoint labels).
  *  - DELETE / DETACH DELETE of node variables; DELETE of relationship
  *    variables when the edge class is unambiguous.
  *
  * Bound nodes: every write finds the frame of a bound node through
  * [[homes]] — the variable's static label, else each row's `_label`
  * (reference: translator.ts SET/DELETE are label-agnostic over one node
  * table), so `MATCH (n) SET n.x = 1` writes every label's frame in one
  * pass.
  *
  * SET values evaluate over the target's frame row: `n.p` reads column
  * `p` (null when the frame lacks it), and a bare `n` or a map projection
  * `n{...}` is the row as a struct (frame columns plus `_label`). After a
  * SET or REMOVE the written variables are rebound to the post-write
  * frames ([[rebind]]), so a later clause and RETURN see the new values;
  * a REMOVE that edits a node's labels does not rebind it (removing its
  * primary label moves it to another frame).
  */
final class CypherWriter(g0: PropertyGraph, spark: SparkSession,
    params: Map[String, Any] = Map.empty) {

  /** Internal per-row uid column used while minting CREATE node ids. */
  private val ROW_UID = "__row_uid"
  /** Internal per-row column holding an unbound MERGE node's id. */
  private val MERGE_ID = "__merge_id"

  def run(query: String): (PropertyGraph, Option[DataFrame]) = {
    val q = CypherParser.parse(query)
    require(q.parts.size == 1, "write queries cannot use UNION")
    runPart(q.parts.head)
  }

  private def runPart(part: SingleQuery): (PropertyGraph, Option[DataFrame]) = {
    var graph = g0
    def compiler = new CypherCompiler(graph, spark, params)
    var ctx: Option[Ctx] = None
    // edge classes bound to rel variables by the MATCHes seen so far
    var relClasses = Map.empty[String, EdgeType]
    var returned: Option[DataFrame] = None
    // rebinds what a SET / REMOVE wrote when a later clause reads it
    def rebound(i: Int, vars: Seq[String]): Option[Ctx] =
      if (i == part.clauses.size - 1) ctx
      else ctx.map(rebind(graph, _, vars, relClasses))

    part.clauses.zipWithIndex.foreach {
      case (MatchClause(paths, optional, where, _), _) =>
        ctx = Some(compiler.applyMatch(ctx, paths, optional, where))
        relClasses = relClasses ++ boundRelClasses(graph, paths,
          ctx.map(_.labels).getOrElse(Map.empty))
      case (UnwindClause(list, alias), _) =>
        ctx = Some(compiler.applyUnwind(ctx, list, alias))
      case (WithClause(p), _) =>
        val c = compiler
        ctx = Some(Ctx(c.applyProjection(ctx, p), c.keptLabels(ctx, p),
          ctx.exists(_.staticallyEmpty)))
      // a statically-empty context (MATCH over an unsatisfiable label
      // set) makes every write a no-op — reference parity: writes over an
      // empty match succeed and do nothing.
      case (CreateClause(_) | MergeClause(_, _, _) | SetClause(_) |
           RemoveClause(_) | DeleteClause(_, _), _)
          if ctx.exists(_.staticallyEmpty) => ()
      case (CreateClause(paths), _) =>
        val (g2, ctx2) = applyCreate(graph, ctx, paths)
        graph = g2; ctx = ctx2
      case (MergeClause(path, onCreate, onMatch), _) =>
        val (g2, ctx2) = applyMerge(graph, ctx, path, onCreate, onMatch)
        graph = g2; ctx = ctx2
      case (SetClause(items), i) =>
        graph = applySet(graph, ctxOrFail(ctx), items, relClasses)
        ctx = rebound(i, items.map(_._1).collect { case Prop(Var(v), _) => v; case Var(v) => v })
      case (RemoveClause(items), i) =>
        val (labelItems, propItems) = items.partition(_.isInstanceOf[LabelPred])
        val c = ctxOrFail(ctx)
        graph = applySet(graph, c, propItems.map(p => p -> Lit(null)), relClasses)
        // REMOVE n:Label — two cases under the multi-label shim:
        //  * removing the PRIMARY label: NON-detaching demotion — the
        //    node moves to its first remaining label's frame (or the
        //    unlabeled sentinel when none remain) and incident edge
        //    classes are retyped for the moved ids (reference:
        //    db.ts:47-69, labels are an array and the node survives).
        //  * removing a SECONDARY label: non-detaching `_labels` edit —
        //    the node survives (reference: translator.ts:1149-1156,
        //    REMOVE drops one entry from the label array). Removing a
        //    label the node doesn't carry is a no-op (reference parity).
        labelItems.foreach { case LabelPred(v, label) =>
          graph = homes(graph, c, v).foldLeft(graph) { case (acc, (l, on)) =>
            val ids = idsAt(c, v, on)
            if (l == label) acc.demotePrimaryLabel(l, ids)
            else if (acc.nodeFrame(l).columns.contains(LABELS))
              acc.setNodePropsForIds(l, ids, Map(LABELS -> array_remove(col(LABELS), label)))
            else acc // the frame has no secondary labels at all
          }
        case other => sys.error(s"unsupported REMOVE item: $other")
        }
        // a node whose labels this REMOVE edits keeps its binding: a
        // primary-label REMOVE moves it out of the frame it is keyed in
        val relabeled = labelItems.collect { case LabelPred(v, _) => v }.toSet
        ctx = rebound(i, propItems.collect { case Prop(Var(v), _) if !relabeled(v) => v })
      case (DeleteClause(vars, detach), _) =>
        graph = applyDelete(graph, ctxOrFail(ctx), vars, detach, relClasses)
      case (ReturnClause(p), _) =>
        returned = Some(compiler.applyProjection(ctx, p))
      case (other, _) => sys.error(s"unsupported clause in write query: $other")
    }
    (graph, returned)
  }

  private def ctxOrFail(ctx: Option[Ctx]): Ctx =
    ctx.getOrElse(sys.error("SET/REMOVE/DELETE requires a preceding MATCH"))

  /** The one bound-node rule of every write: the frames that hold the
    * node bound to `v`, each with the condition its rows meet. A
    * statically-labeled `v` lives in its label's frame on every row (no
    * condition); otherwise each label some row of `ctx` carries holds the
    * rows whose struct has `_label = l` — ids are only unique per label,
    * so the condition also keeps City 1 from being taken for Person 1, and
    * a frame no row lives in is not written (no null column, no empty
    * edge class).
    */
  private def homes(g: PropertyGraph, ctx: Ctx, v: String): Seq[(String, Option[Column])] =
    ctx.labels.get(v) match {
      case Some(l) => Seq(l -> None)
      case None =>
        require(PatternMatcher.identity(ctx.df, v).exists(_.size == 2),
          s"write target $v is not a bound node")
        val carried = rowLabels.getOrElseUpdate((ctx.df, v),
          ctx.df.select(col(s"$v.$LABEL")).distinct().collect().map(_.getString(0)).toSet)
        g.labels.filter(carried).map(l => l -> Some(col(s"$v.$LABEL") === l))
    }

  /** The labels the rows of a scope carry for a variable, per (scope
    * frame, variable): one distinct job, shared by a write and the
    * rebind after it. */
  private val rowLabels =
    scala.collection.mutable.Map.empty[(DataFrame, String), Set[String]]

  /** The ids of the `v` nodes on the rows of `ctx` that meet `on`. */
  private def idsAt(ctx: Ctx, v: String, on: Option[Column]): DataFrame =
    on.fold(ctx.df)(ctx.df.filter).select(col(s"$v.$ID"))

  /** Rebinds `vars` of `ctx` to their rows in the post-write frames of `g`,
    * keyed on their identity — a node on `(_id, _label)` over the frames
    * [[homes]] finds it in, a relationship on `_eid` — so later clauses
    * read the written values. Each variable keeps its column position.
    */
  private def rebind(g: PropertyGraph, ctx: Ctx, vars: Seq[String],
      relClasses: Map[String, EdgeType]): Ctx =
    vars.distinct.foldLeft(ctx) { (c, v) =>
      val old = s"__old_$v"
      val (frames, key) = relClasses.get(v) match {
        case Some(et) => (Seq(g.edgeFrame(et) -> et.relType), Seq(col(s"$old.$EID") -> EID))
        case None => (homes(g, c, v).map { case (l, _) => g.nodeFrame(l) -> l },
          Seq(col(s"$old.$ID") -> ID, col(s"$old.$LABEL") -> LABEL))
      }
      if (frames.isEmpty) c
      else c.copy(df = bindEntity(c.df.withColumnRenamed(v, old), v, frames, key, "left_outer")
        .select(c.df.columns.map(col).toIndexedSeq: _*))
    }

  /** The one entity binder: bind `name` in `cur` to the entity rows of
    * `frames` (node labels or edge classes, each with its `_label` tag)
    * that equal each row on every (row value, frame column) pair of `on`
    * — `_label` keys on the tag. A merged node binds on its `_id`, a
    * created or merged relationship on (src, dst), a rebound entity on
    * its identity ([[rebind]]), so a following RETURN/SET sees every
    * property of the POST-write frame (reference shape: MERGE (u {...})
    * ... RETURN u). Several frames are padded to one struct type and
    * unioned. MERGE also looks up its stored nodes through here, with
    * `how` = left_outer. Parallel-edge caveat (documented): a
    * relationship binds every edge of its class between the pair, not
    * only the property-matching one.
    */
  private def bindEntity(cur: DataFrame, name: String, frames: Seq[(DataFrame, String)],
      on: Seq[(Column, String)], how: String = "inner"): DataFrame = {
    val (vs, ks) = on.indices.map(i => (s"__bv_$i", s"__bk_$i")).unzip
    val parts = frames.map { case (frame, tag) => frame.select(
      struct((frame.columns.map(col) :+ lit(tag).as(LABEL)).toIndexedSeq: _*).as(name) +:
        on.zip(ks).map { case ((_, c), k) => (if (c == LABEL) lit(tag) else col(c)).as(k) }: _*)
    }
    val entity =
      if (parts.size == 1) parts.head
      else parts.zip(PatternMatcher.padStructs(parts.map(p => name -> p.schema(name).dataType)))
        .map { case (p, padded) => p.withColumn(name, padded) }.reduce(_ unionByName _)
    on.zip(vs).foldLeft(cur) { case (d, ((v, _), n)) => d.withColumn(n, v) }
      .join(entity, vs.zip(ks).map { case (v, k) => col(v) === col(k) }
        .reduceOption(_ && _).getOrElse(lit(true)), how)
      .drop(vs ++ ks: _*)
  }

  /** Each edge class a `relType` relationship writes between endpoints
    * given as (label, id column, row condition): one per pair of endpoint
    * frames, with the condition its rows meet.
    */
  private def edgeClasses(relType: String, src: Seq[(String, Column, Option[Column])],
      dst: Seq[(String, Column, Option[Column])]): Seq[(EdgeType, Column, Column, Option[Column])] =
    for ((sl, sid, sOn) <- src; (dl, did, dOn) <- dst)
      yield (EdgeType(relType, sl, dl), sid, did, (sOn ++ dOn).reduceOption(_ && _))

  /** Binds relationship variable `name` on each row of `df` to the edge of
    * its class (from [[edgeClasses]]) between the row's endpoints.
    */
  private def bindRel(df: DataFrame, name: String, g: PropertyGraph,
      classes: Seq[(EdgeType, Column, Column, Option[Column])]): DataFrame =
    classes.map { case (et, sid, did, on) =>
      bindEntity(on.fold(df)(df.filter), name, Seq(g.edgeFrame(et) -> et.relType),
        Seq(sid -> SRC, did -> DST))
    }.reduce(_ unionByName _)

  /** rel var -> unique EdgeType, when type + endpoint labels pin it down. */
  private def boundRelClasses(g: PropertyGraph, paths: Vector[PathPat],
      labels: Map[String, String]): Map[String, EdgeType] =
    (for {
      p <- paths
      i <- p.rels.indices
      r = p.rels(i) if !r.anonymous && !r.isVarLength
      (sv, dv) = if (r.dir == Out) (p.nodes(i).name, p.nodes(i + 1).name)
                 else (p.nodes(i + 1).name, p.nodes(i).name)
      ets = g.edgeTypesFor(r.relType, labels.get(sv), labels.get(dv))
      if ets.size == 1
    } yield r.name -> ets.head).toMap

  // ------------------------------------------------------------------
  // CREATE
  // ------------------------------------------------------------------

  private def litCol(v: Any): Column = v match {
    case null => lit(null)
    case Param(n) => lit(params.getOrElse(n, sys.error(s"missing parameter $$$n")))
    case other => lit(other)
  }

  /** Property value → Column: literals/params directly; full expressions
    * (per-row values from UNWIND/MATCH rows) compile against `frame`.
    */
  private def propCol(v: Any, frame: DataFrame): Column = v match {
    case p: Param => litCol(p)
    case e: Expr => new CypherCompiler(g0, spark, params).compileExpr(frame, e)
    case other => litCol(other)
  }

  /** Deterministic id for a created/merged node: the `_id` property when
    * given, else a hash of the label + property values.
    *
    * CREATE additionally passes `rowUid` (a per-row unique value) and
    * `nonce` (the graph's writeEpoch + the pattern's position in the
    * clause): openCypher CREATE is per-ROW bag semantics — `UNWIND
    * range(1,3) CREATE (:N {tag:'a'})` makes 3 nodes — so identical-prop
    * rows must mint distinct ids, and a later identical statement must
    * not collide with ids minted earlier (r4 advice: content-hash +
    * distinct silently collapsed cardinality). MERGE passes the
    * writeEpoch only: the rows of one statement that create the same
    * pattern mint one node, while it finds stored nodes on the pattern's
    * `_id` or property map ([[withMergeId]]), never on a hash a previous
    * statement minted.
    */
  private def nodeIdOf(label: String, props: Seq[(String, Any)],
      frame: DataFrame, rowUid: Option[Column] = None,
      nonce: Seq[Column] = Nil): Column =
    props.collectFirst { case (ID, v) => propCol(v, frame).cast("long") }
      .getOrElse(xxhash64(
        (lit(label) +: (rowUid.toSeq ++ nonce) ++:
          props.sortBy(_._1).map(p => propCol(p._2, frame))): _*))

  /** The one entity-row builder of CREATE and MERGE: `_id`, the
    * pattern's other properties, and the `_labels` array when the
    * pattern names secondary labels (multi-label shim: `CREATE (n:A:B:C)`
    * stores A as the frame and [B, C] in `_labels`; reference: label
    * arrays, db.ts:47-69).
    */
  private def entityCols(label: String, n: NodePat, idCol: Column,
      frame: DataFrame): Seq[Column] = {
    val sec = secondaryOf(n, label)
    (idCol.as(ID) +: n.props.filterNot(_._1 == ID).map { case (k, v) => propCol(v, frame).as(k) }) ++
      (if (sec.nonEmpty) Seq(array(sec.map(lit): _*).as(LABELS)) else Nil)
  }

  private def secondaryOf(n: NodePat, label: String): Seq[String] =
    n.secondary.distinct.filterNot(_ == label)

  private def applyCreate(g: PropertyGraph, ctx: Option[Ctx],
      paths: Vector[PathPat]): (PropertyGraph, Option[Ctx]) = {
    var out = g
    // 1. nodes not bound by a previous MATCH — created once per current
    // row (UNWIND/MATCH cardinality: bag semantics, one node PER ROW)
    val boundVars = ctx.map(_.df.columns.toSet).getOrElse(Set.empty)
    val base = ctx.map(_.df).getOrElse(spark.range(1).toDF())
    // a variable may appear in several paths of ONE CREATE — defined with
    // a label once, referenced bare in later paths (reference shape:
    // CREATE (a:P {..})-[:X]->(b:P {..}), (a)-[:Y]->(c:C {..})) — so
    // dedupe by name, merging the labeled occurrence in
    val newPatsAll = paths.flatMap(_.nodes).filterNot(n => boundVars(n.name))
    val byName = scala.collection.mutable.LinkedHashMap[String, NodePat]()
    newPatsAll.foreach { n =>
      byName.get(n.name) match {
        case None => byName(n.name) = n
        case Some(prev) =>
          require(prev.label.isEmpty || n.label.isEmpty || prev.label == n.label,
            s"CREATE variable ${n.name} labeled twice differently")
          require(prev.props.isEmpty || n.props.isEmpty,
            s"CREATE variable ${n.name} carries a property map in two patterns")
          byName(n.name) = prev.copy(
            label = prev.label.orElse(n.label),
            props = if (prev.props.nonEmpty) prev.props else n.props,
            secondary = (prev.secondary ++ n.secondary).distinct)
      }
    }
    val newPats = byName.values.toVector
    val needUid = newPats.exists(!_.props.exists(_._1 == ID))
    // Per-row uid for id minting, frozen by an eager materialize so the
    // node select and the edge select (two evaluations) agree.
    val rowFrame =
      if (needUid) Frames.materialize(base.withColumn(ROW_UID, monotonically_increasing_id()))
      else base
    val newNodeIds = scala.collection.mutable.Map[String, (String, Column)]()
    newPats.zipWithIndex.foreach { case (n, pi) =>
      // label-less CREATE goes to the sentinel frame (reference: generic
      // node table allows unlabeled nodes; labels() presents them as [])
      val label = n.label.getOrElse(PropertyGraph.UNLABELED)
      // nonce = (writeEpoch, pattern position): two node patterns with
      // identical props in ONE clause are distinct nodes, and so are
      // identical CREATEs in successive statements.
      val idCol = nodeIdOf(label, n.props, rowFrame,
        rowUid = if (n.props.exists(_._1 == ID)) None else Some(col(ROW_UID)),
        nonce = Seq(lit(g.writeEpoch), lit(pi)))
      // distinct() only collapses rows that are STILL identical after id
      // minting — i.e. explicit-_id duplicates (content addressing is the
      // user's opt-in); uid-minted rows are one node per row.
      val row = rowFrame.select(entityCols(label, n, idCol, rowFrame): _*).distinct()
      out = out.addNodes(label, row).registerSecondaryLabels(label, secondaryOf(n, label).toSet)
      newNodeIds(n.name) = (label, idCol)
    }
    // 2. edges — endpoints either MATCH-bound (per-row, in the frames
    // [[homes]] finds) or just created
    val namedRels = Seq.newBuilder[(String, Seq[(EdgeType, Column, Column, Option[Column])])]
    for (p <- paths; i <- p.rels.indices) {
      val r = p.rels(i)
      val (sv, dv) = if (r.dir == Out) (p.nodes(i), p.nodes(i + 1))
                     else (p.nodes(i + 1), p.nodes(i))
      val relType = r.relType.getOrElse(sys.error("CREATE edge needs a type"))
      if (relType.contains("|"))
        sys.error(s"CREATE cannot use a type alternation: [:$relType]")
      if (r.dir != Out && r.dir != In)
        sys.error("CREATE requires a directed relationship") // reference parity
      def endpoint(n: NodePat): Seq[(String, Column, Option[Column])] =
        if (boundVars(n.name))
          homes(g, ctx.get, n.name).map { case (l, on) => (l, col(s"${n.name}.$ID"), on) }
        else { val (l, idc) = newNodeIds(n.name); Seq((l, idc, None)) }
      val classes = edgeClasses(relType, endpoint(sv), endpoint(dv))
      // No distinct(): CREATE makes one edge PER ROW (parallel edges get
      // distinct EIDs from mintEids' per-(src,dst) row numbering).
      classes.foreach { case (et, sidCol, didCol, on) =>
        out = out.addEdges(et, on.fold(rowFrame)(rowFrame.filter).select(
          (sidCol.cast("long").as(SRC) +: didCol.cast("long").as(DST) +:
            r.props.map { case (k, v) => propCol(v, rowFrame).as(k) }): _*))
      }
      if (!r.anonymous) namedRels += (r.name -> classes)
    }
    // 3. bind created NODE vars into the context as entity structs so
    // later clauses see them (reference shape: CREATE (...)->(t:Topic)
    // RETURN t); named REL vars bind by joining the post-create edge
    // frame on (src, dst) — see [[bindEntity]].
    val named = newPats.filterNot(_.anonymous)
    val rels = namedRels.result()
    val newCtx =
      if (named.isEmpty && rels.isEmpty) ctx
      else {
        var df2 = rowFrame
        named.foreach { n =>
          val (label, idc) = newNodeIds(n.name)
          df2 = df2.withColumn(n.name, struct(
            entityCols(label, n, idc, rowFrame) :+ lit(label).as(LABEL): _*))
        }
        rels.foreach { case (rn, classes) => df2 = bindRel(df2, rn, out, classes) }
        df2 = df2.drop(ROW_UID)
        // no prior context: only the created vars are in scope (the
        // internal seed frame's column must not leak)
        if (ctx.isEmpty)
          df2 = df2.select((named.map(_.name) ++ rels.map(_._1)).map(col): _*)
        val labels2 = ctx.map(_.labels).getOrElse(Map.empty) ++
          named.map(n => n.name -> newNodeIds(n.name)._1)
        Some(Ctx(df2, labels2, ctx.exists(_.staticallyEmpty)))
      }
    (out, newCtx)
  }

  // ------------------------------------------------------------------
  // MERGE
  // ------------------------------------------------------------------

  /** MERGE of a node or a single-relationship path, one path for every
    * shape. Each endpoint resolves to (variable, label): a variable bound
    * by an earlier clause keeps its row; an unbound node pattern gets
    * each row's node id ([[withMergeId]]), is merged on that id
    * ([[mergeNode]]) and is bound to the post-merge frame on it
    * (anonymous ones under their parser-minted name, so their `_id` is in
    * reach). The id is decided before any write, so an ON CREATE / ON
    * MATCH SET that changes a pattern property cannot lose the row. The
    * relationship, if any, then merges between the endpoint ids — one
    * edge per distinct (src, dst, props) row — and binds on (src, dst).
    *
    * Divergence (documented): openCypher matches the WHOLE pattern
    * atomically; here each unbound node merges on its own, so a fresh
    * path reuses existing endpoint nodes and only the edge is created,
    * and an endpoint pattern equal to several stored nodes gets one edge
    * to each. An unbound endpoint with no properties would equal every
    * node of its label, so a relationship MERGE rejects it. ON CREATE /
    * ON MATCH SET apply per unbound node variable.
    */
  private def applyMerge(g: PropertyGraph, ctx: Option[Ctx], path: PathPat,
      onCreate: Seq[(Expr, Expr)], onMatch: Seq[(Expr, Expr)]): (PropertyGraph, Option[Ctx]) = {
    require(path.rels.size <= 1, "MERGE supports single-relationship paths")
    val boundVars = ctx.map(_.df.columns.toSet).getOrElse(Set.empty)
    val rowFrame = ctx.map(_.df).getOrElse(spark.range(1).toDF())
    val unbound = path.nodes.filterNot(n => boundVars(n.name))
    (onCreate ++ onMatch).foreach {
      case (Prop(Var(v), _), _) if unbound.exists(_.name == v) => ()
      case (target, _) => sys.error(s"unsupported MERGE SET target: $target — " +
        "ON CREATE / ON MATCH SET writes an unbound node of the pattern; use a separate SET clause")
    }
    if (path.rels.nonEmpty) unbound.find(_.props.isEmpty).foreach { n =>
      sys.error(s"MERGE relationship endpoint (${if (n.anonymous) "" else n.name}" +
        s"${n.label.map(":" + _).getOrElse("")}) has no properties, so it would match " +
        "every node of its label — bind it with MATCH or give it a property map")
    }
    var out = g
    var df = rowFrame
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, (NodePat, String)]
    val ends = path.nodes.map { n =>
      val idc = col(s"${n.name}.$ID")
      if (boundVars(n.name)) homes(out, ctx.get, n.name).map { case (l, on) => (l, idc, on) }
      else Seq((merged.getOrElseUpdate(n.name, {
        val l = n.label.getOrElse(sys.error("MERGE node needs a label"))
        df = withMergeId(out, n, l, df)
        out = mergeNode(out, n, l, onCreate, onMatch, df)
        df = bindEntity(df, n.name, Seq(out.nodeFrame(l) -> l), Seq(col(MERGE_ID) -> ID)).drop(MERGE_ID)
        (n, l)
      })._2, idc, None))
    }
    path.rels.headOption.foreach { r =>
      val relType = r.relType.getOrElse(sys.error("MERGE edge needs a type"))
      val Seq(src, dst) = if (r.dir == Out) ends else ends.reverse
      val classes = edgeClasses(relType, src, dst)
      classes.foreach { case (et, sid, did, on) =>
        out = out.mergeEdges(et, on.fold(df)(df.filter).select((sid.as(SRC) +: did.as(DST) +:
          r.props.map { case (k, v) => propCol(v, rowFrame).as(k) }): _*).distinct())
      }
      if (!r.anonymous) df = bindRel(df, r.name, out, classes)
    }
    val named = merged.values.collect { case (n, l) if !n.anonymous => n.name -> l }.toSeq
    val newVars = named.map(_._1) ++ path.rels.filterNot(_.anonymous).map(_.name)
    if (newVars.isEmpty) (out, ctx)
    else {
      // no prior context: only the merged vars are in scope (the internal
      // seed frame's column must not leak into RETURN *)
      val kept = if (ctx.isEmpty) df.select(newVars.map(col): _*)
        else df.drop(merged.values.collect { case (n, _) if n.anonymous => n.name }.toSeq: _*)
      (out, Some(Ctx(kept, ctx.map(_.labels).getOrElse(Map.empty) ++ named)))
    }
  }

  /** Adds each row's id for the unbound MERGE node `n` as [[MERGE_ID]],
    * the one identity rule of MERGE: the pattern's `_id` when it gives
    * one; else the `_id` of every stored `label` node equal to the
    * pattern's property map (a property the frame lacks matches nothing,
    * PatternMatcher's property-map rule; a row equal to several stored
    * nodes yields one row per node); else the content hash of
    * [[nodeIdOf]] salted with the graph's writeEpoch, which names the node
    * the merge creates. The salt keeps a later identical MERGE from
    * finding, by id, a node this one created and an ON CREATE SET then
    * changed.
    */
  private def withMergeId(g: PropertyGraph, n: NodePat, label: String,
      df: DataFrame): DataFrame = {
    val minted = nodeIdOf(label, n.props, df, nonce = Seq(lit(g.writeEpoch)))
    val stored = Some(label).filter(g.hasLabel).map(g.nodeFrame)
      .filter(f => n.props.forall(p => f.columns.contains(p._1)))
    stored match {
      case Some(f) if !n.props.exists(_._1 == ID) =>
        bindEntity(df, MERGE_ID, Seq(f.select((ID +: n.props.map(_._1)).distinct.map(col): _*) -> label),
          n.props.map { case (k, v) => propCol(v, df) -> k }, "left_outer")
          .withColumn(MERGE_ID, coalesce(col(s"$MERGE_ID.$ID"), minted))
      case _ => df.withColumn(MERGE_ID, minted)
    }
  }

  /** Merge one node pattern per row of `rowFrame` (content-deduped) on
    * the ids [[withMergeId]] put in it: rows whose id is stored take `n`'s
    * ON MATCH SET items, the others are created with its ON CREATE SET
    * items.
    */
  private def mergeNode(g: PropertyGraph, n: NodePat, label: String,
      onCreate: Seq[(Expr, Expr)], onMatch: Seq[(Expr, Expr)],
      rowFrame: DataFrame): PropertyGraph = {
    def assigns(items: Seq[(Expr, Expr)]): Map[String, Column] = items.collect {
      case (Prop(Var(v), k), value) if v == n.name => k -> compileValueOverFrame(value, n.name)
    }.toMap
    val row = rowFrame.select(entityCols(label, n, col(MERGE_ID), rowFrame): _*).distinct()
    g.mergeNodesWith(label, row, assigns(onCreate), assigns(onMatch))
      .registerSecondaryLabels(label, secondaryOf(n, label).toSet)
  }

  // ------------------------------------------------------------------
  // SET / REMOVE / DELETE
  // ------------------------------------------------------------------

  /** Rewrites references to the SET target `v` so the value evaluates
    * over `v`'s frame row: `v.prop` becomes the bare column `prop`. When
    * the frame is known (`frame` = its `_label` tag and columns), a
    * property it lacks reads as literal null (Cypher: missing property is
    * null — `SET n.x = n.x + 1` on x-less nodes sets null, it does not
    * error), and a bare `v` or a map projection `v{...}` becomes the row
    * as a map: the frame columns plus `_label`, or the projected keys.
    */
  private def rewriteSelfRefs(e: Expr, v: String,
      frame: Option[(String, Seq[String])]): Expr = {
    val cols = frame.map(_._2)
    e.transform {
      case Prop(Var(`v`), key) =>
        if (cols.forall(_.contains(key))) Var(key) else Lit(null)
      case Var(`v`) if frame.nonEmpty =>
        MapLit(cols.get.map(c => c -> Var(c)) :+ (LABEL -> Lit(frame.get._1)))
      case MapProj(`v`, props, entries, star) if frame.nonEmpty =>
        val items = ((if (star) cols.get.filterNot(_.startsWith("_")) else Nil) ++ props)
          .map(k => k -> Prop(Var(v), k)) ++ entries
        rewriteSelfRefs(MapLit(items.map(_._1).distinct
          .map(k => k -> items.findLast(_._1 == k).get._2)), v, frame)
    }
  }

  private def compileValueOverFrame(value: Expr, v: String,
      frame: Option[(String, Seq[String])] = None): Column = {
    val rewritten = rewriteSelfRefs(value, v, frame)
    // Var(key) resolves as a column of the label frame when the returned
    // Column is applied by set*Props; the frame passed here is only used
    // for (unneeded) type probes
    new CypherCompiler(g0, spark, params).compileExpr(spark.range(0).toDF(), rewritten)
  }

  private val internalCols = Set(ID, EID, SRC, DST, LABEL, "_hops", "_eids", LABELS)

  /** The labels `SET v:A:B` adds to a node whose frame is `primary`. */
  private def addedLabels(value: Expr, primary: String): Seq[String] = value match {
    case Func("__set_labels", ls, _) => ls.map {
      case Lit(s: String) => s
      case other => sys.error(s"unexpected SET-label item: $other")
    }.filterNot(_ == primary)
    case _ => Nil
  }

  /** The assignments of one SET item on target `v`, whose frame `frame` is
    * tagged `tag` (node label or relationship type).
    */
  private def assignments(target: Expr, value: Expr, v: String, frame: DataFrame,
      tag: String): Map[String, Column] = {
    def compile(e: Expr) = compileValueOverFrame(e, v, Some(tag -> frame.columns.toSeq))
    (target, value) match {
      case (Prop(_, key), _) => Map(key -> compile(value))
      // SET n:Label1:Label2 — multi-label shim: append to the `_labels`
      // array (distinct, declaration order preserved); the primary label
      // is implicit and never duplicated in. Reference:
      // translator.ts:921-933 (SET-labels over label arrays).
      case (_, Func("__set_labels", _, _)) =>
        require(!frame.columns.contains(EID), s"SET $v:... — a relationship has no labels")
        val adds = addedLabels(value, tag)
        if (adds.isEmpty) Map.empty
        else {
          val addArr = array(adds.map(lit): _*)
          Map(LABELS -> (if (frame.columns.contains(LABELS))
            array_distinct(concat(coalesce(col(LABELS), array().cast("array<string>")), addArr))
          else addArr))
        }
      // SET n = {map} — replace ALL properties: every existing prop not in
      // the map goes to null, map keys assign (reference: translator.ts
      // SET map replacement; `SET n = {}` clears)
      case (_, Func("__set_replace", Seq(MapLit(kvs)), _)) =>
        frame.columns.filterNot(internalCols).map(_ -> lit(null)).toMap ++
          kvs.map { case (k, e) => k -> compile(e) }
      case (_, Func("__set_replace", Seq(m), _)) =>
        sys.error(s"SET $v = expects a map literal, got $m")
      // SET n += {k: v, ...} — per-key map merge
      case (_, MapLit(kvs)) => kvs.map { case (k, e) => k -> compile(e) }.toMap
      case _ => sys.error(s"unsupported SET target: $target")
    }
  }

  /** SET: a rel variable pinned to one edge class by the MATCH updates on
    * its eid frame (reference: translator.ts SET translation covers rel
    * updates alongside node updates); a node variable updates each frame
    * [[homes]] finds it in.
    */
  private def applySet(g: PropertyGraph, ctx: Ctx,
      items: Seq[(Expr, Expr)],
      relClasses: Map[String, EdgeType]): PropertyGraph =
    items.foldLeft(g) { case (acc, (target, value)) =>
      val v = target match {
        case Prop(Var(v), _) => v
        case Var(v) => v
        case other => sys.error(s"unsupported SET target: $other")
      }
      relClasses.get(v) match {
        case Some(et) =>
          acc.setEdgePropsForIds(et, ctx.df.select(col(s"$v.$EID")),
            assignments(target, value, v, acc.edgeFrame(et), et.relType))
        case None => homes(acc, ctx, v).foldLeft(acc) { case (a, (l, on)) =>
          val assigns = assignments(target, value, v, a.nodeFrame(l), l)
          if (assigns.isEmpty) a
          else a.setNodePropsForIds(l, idsAt(ctx, v, on), assigns)
            .registerSecondaryLabels(l, addedLabels(value, l).toSet)
        }
      }
    }

  private def applyDelete(g: PropertyGraph, ctx: Ctx, vars: Seq[String],
      detach: Boolean, relClasses: Map[String, EdgeType]): PropertyGraph =
    vars.foldLeft(g) { (acc, v) =>
      relClasses.get(v) match {
        case Some(et) =>
          val eids = ctx.df.select(col(s"$v.$EID").as(EID)).distinct()
          acc.deleteEdgesByIds(et, eids)
        case None => homes(acc, ctx, v).foldLeft(acc) { case (a, (l, on)) =>
          if (detach) a.detachDeleteNodesByIds(l, idsAt(ctx, v, on))
          else a.deleteNodesByIds(l, idsAt(ctx, v, on))
        }
      }
    }
}
