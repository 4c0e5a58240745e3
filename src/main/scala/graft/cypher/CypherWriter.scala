package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Ast._
import CypherCompiler.Ctx
import graft.graph.{EdgeType, PropertyGraph}
import graft.graph.PropertyGraph.{DST, EID, ID, LABELS, SRC}
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
  * collected to the driver.
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
  *    with no match create a node with a content-hash id.
  *  - SET/REMOVE on node properties: `SET n.p = expr` where expr uses
  *    n's own properties and literals; and on relationship properties
  *    (`SET r.p = expr`, `SET r += map`) when the MATCH pins the rel
  *    variable to one edge class (type + endpoint labels).
  *  - DELETE / DETACH DELETE of node variables; DELETE of relationship
  *    variables when the edge class is unambiguous.
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

  /** Writes through an UNLABELED match (`MATCH (n) SET n.x = 1`): the
    * write clauses resolve labels statically (per-label ids are not
    * globally unique, so one cross-frame id join could touch wrong
    * rows), so the query expands to one run per candidate label with
    * the variable's NodePat pinned — the write-side analog of the read
    * compiler's union-over-label-assignments, threading the graph
    * snapshot through the runs (frames are disjoint, so order is
    * unobservable). RETURN parts union by name; heterogeneous entity
    * structs across labels reject naturally in the union. Reference:
    * unlabeled writes update every matching node (translator.ts SET/
    * DELETE translation is label-agnostic over the generic node table).
    *
    * Aggregating / DISTINCT / ORDER BY / SKIP / LIMIT RETURNs cannot
    * simply union per-label projections (an aggregate would collapse
    * per label, a LIMIT would apply per label). Those shapes are
    * answered by SPLITTING the projection: each per-label run returns
    * the raw grouping keys and aggregate ARGUMENTS (row-wise, so the
    * per-label compile stays trivial), the rows union across labels,
    * and the original aggregation + DISTINCT + ORDER BY/SKIP/LIMIT
    * apply ONCE over the union — the reference's single-nodes-table
    * aggregation (translator.ts), re-expressed. Spark's hash aggregate
    * still partial-aggregates the union map-side, so count/sum/min/max
    * keep the same scale shape the old per-label-partials path had,
    * while avg/collect/stdev/percentiles/DISTINCT aggregates are now
    * answered exactly. Aggregates nested inside expressions
    * (`RETURN count(n)+1`, r13) and implicit grouping — non-aggregate
    * items as grouping keys, including a key expression reused inside
    * an aggregating item (`RETURN n.y, n.y + count(*)`, r14) — are both
    * answered; no write-RETURN shape rejects by design anymore. The one
    * deliberate error left: a NON-key row expression mixed with an
    * aggregate (`RETURN id(n) + count(n)` with no id(n) item), which
    * openCypher itself rejects and the reference's SQLite translation
    * answers with an arbitrary row's value.
    */
  private def runPart(part: SingleQuery): (PropertyGraph, Option[DataFrame]) =
    unlabeledWriteTarget(part) match {
      case Some((ci, pi, ni)) =>
        val retIdx = part.clauses.indexWhere {
          case ReturnClause(p) =>
            p.items.exists(it => CypherParser.containsAgg(it.expr)) ||
              p.distinct || p.orderBy.nonEmpty || p.skip.nonEmpty ||
              p.limit.nonEmpty
          case _ => false
        }
        // (per-label pre-projection, global post-union projection)
        val split: Option[(Projection, Projection)] =
          if (retIdx < 0) None
          else {
            val p = part.clauses(retIdx).asInstanceOf[ReturnClause].p
            if (p.items.exists(_.expr == Star)) sys.error(
              "RETURN * with DISTINCT/aggregates/ORDER BY/SKIP/LIMIT over " +
                "an unlabeled write match is unsupported — label the " +
                "matched variable or list the columns")
            def isConst(e: Expr): Boolean = e match {
              case Lit(_) | Param(_) => true
              case Neg(x) => isConst(x)
              case _ => false
            }
            val pre = scala.collection.mutable.Buffer.empty[Item]
            var liftN = 0
            // Rewrite an aggregating item for the split: every aggregate
            // call's arguments lift into per-label pre-columns; the
            // expression AROUND the aggregates (count(n)+1, avg(x)*2,
            // sum(a)/sum(b), toFloat(count(n))...) survives verbatim and
            // evaluates once over the global aggregation — the read
            // compiler accepts aggregates nested in expressions natively.
            // Cypher implicit grouping: the non-aggregate ITEMS are the
            // grouping keys, and a copy of a key expression appearing
            // INSIDE an aggregating item (`RETURN n.y, n.y + count(*)`)
            // must resolve to the same lifted key column over the union
            // — maximal key-equal subtrees map to their __uk columns. A
            // non-key row subtree mixed with an aggregate (`RETURN
            // id(n) + count(n)` with no id(n) item) stays an error
            // (openCypher rejects it; the reference's SQLite translation
            // returns an arbitrary row's value for it): it errors
            // downstream when the variable fails to resolve over the
            // union frame.
            val keyCol: Map[Expr, String] = p.items.zipWithIndex.collect {
              case (it, i) if !CypherParser.containsAgg(it.expr) &&
                  !isConst(it.expr) =>
                it.expr -> s"__uk_$i"
            }.toMap
            def liftAgg(i: Int): PartialFunction[Expr, Expr] = {
              case k if keyCol.contains(k) => Var(keyCol(k))
              case Func(fn, args, dist) if CypherParser.isAggFunc(fn) =>
                val gargs = args.map {
                  // count(*): count a constant over the union rows
                  case Star => Lit(1L)
                  case a if isConst(a) => a
                  // plain count only needs a null indicator — lifting
                  // it (not the value) keeps `count(n)` workable when
                  // the entity structs are heterogeneous across labels
                  case a if fn.equalsIgnoreCase("count") && !dist =>
                    val nm = s"__ua_${i}_$liftN"; liftN += 1
                    pre += Item(CaseExpr(None,
                      Seq((IsNull(a, negated = true), Lit(1L))), None),
                      Some(nm), nm)
                    Var(nm)
                  case a =>
                    val nm = s"__ua_${i}_$liftN"; liftN += 1
                    pre += Item(a, Some(nm), nm)
                    Var(nm)
                }
                Func(fn, gargs, dist)
            }
            val globalItems = p.items.zipWithIndex.map { case (it, i) =>
              it.expr match {
                case e if !CypherParser.containsAgg(e) =>
                  val nm = s"__uk_$i"
                  pre += Item(e, Some(nm), nm)
                  Item(Var(nm), Some(it.name), it.name)
                case e =>
                  Item(e.transform(liftAgg(i)), Some(it.name), it.name)
              }
            }
            // ORDER BY over an expression that is not one of the output
            // items (legal in Cypher without DISTINCT/aggregates) rides
            // along as a hidden lifted column
            val itemKeys = p.items.map(_.name).toSet ++ p.items.map(_.text)
            val hasAgg = p.items.exists(it => CypherParser.containsAgg(it.expr))
            val globalSorts = p.orderBy.zipWithIndex.map { case (s, k) =>
              val covered = s.expr match {
                case Var(n) => itemKeys(n)
                case _ => itemKeys(s.text)
              }
              if (covered || hasAgg || p.distinct) s
              else {
                val nm = s"__os_$k"
                pre += Item(s.expr, Some(nm), nm)
                SortItem(Var(nm), s.asc, nm)
              }
            }
            Some((
              Projection(pre.toSeq, distinct = false, Nil, None, None, p.where),
              Projection(globalItems, p.distinct, globalSorts, p.skip,
                p.limit, None)))
          }
        var cur = g0
        val rets = scala.collection.mutable.Buffer.empty[DataFrame]
        g0.labels.foreach { l =>
          val m = part.clauses(ci).asInstanceOf[MatchClause]
          val path = m.paths(pi)
          val pinned = path.copy(nodes =
            path.nodes.updated(ni, path.nodes(ni).copy(label = Some(l))))
          val clauses0 = part.clauses.updated(ci,
            m.copy(paths = m.paths.updated(pi, pinned)))
          val clauses = split match {
            case Some((preP, _)) =>
              clauses0.updated(retIdx, ReturnClause(preP))
            case None => clauses0
          }
          val (g2, r) = new CypherWriter(cur, spark, params)
            .runPart(SingleQuery(clauses))
          cur = g2
          r.foreach(rets += _)
        }
        val ret =
          if (rets.isEmpty) None
          else {
            val u = rets.reduce(_.unionByName(_, allowMissingColumns = true))
            split match {
              case Some((_, globalP)) =>
                Some(new CypherCompiler(cur, spark, params)
                  .applyProjection(Some(Ctx(u, Map.empty)), globalP))
              case None => Some(u)
            }
          }
        (cur, ret)
      case None => runResolved(part)
    }

  /** First (clause, path, node) position binding an unlabeled,
    * non-anonymous variable that a later write clause targets.
    */
  private def unlabeledWriteTarget(part: SingleQuery): Option[(Int, Int, Int)] = {
    val written: Set[String] = part.clauses.flatMap {
      case SetClause(items) => items.flatMap {
        case (Prop(Var(v), _), _) => Seq(v)
        case (Var(v), _) => Seq(v)
        case _ => Nil
      }
      case RemoveClause(items) => items.flatMap {
        case Prop(Var(v), _) => Seq(v)
        case LabelPred(v, _) => Seq(v)
        case _ => Nil
      }
      case DeleteClause(vars, _) => vars
      case _ => Nil
    }.toSet
    part.clauses.zipWithIndex.flatMap {
      case (m: MatchClause, ci) =>
        for {
          (p, pi) <- m.paths.zipWithIndex
          (n, ni) <- p.nodes.zipWithIndex
          if !n.anonymous && n.allLabels.isEmpty && written(n.name)
        } yield (ci, pi, ni)
      case _ => Nil
    }.headOption
  }

  private def runResolved(part: SingleQuery): (PropertyGraph, Option[DataFrame]) = {
    var graph = g0
    def compiler = new CypherCompiler(graph, spark, params)
    var ctx: Option[Ctx] = None
    // edge classes bound to rel variables by the MATCHes seen so far
    var relClasses = Map.empty[String, EdgeType]
    var returned: Option[DataFrame] = None

    part.clauses.foreach {
      case MatchClause(paths, optional, where, _) =>
        ctx = Some(compiler.applyMatch(ctx, paths, optional, where))
        relClasses = relClasses ++ boundRelClasses(graph, paths,
          ctx.map(_.labels).getOrElse(Map.empty))
      case UnwindClause(list, alias) =>
        ctx = Some(compiler.applyUnwind(ctx, list, alias))
      case WithClause(p) =>
        val c = compiler
        ctx = Some(Ctx(c.applyProjection(ctx, p), c.keptLabels(ctx, p),
          ctx.exists(_.staticallyEmpty)))
      // a statically-empty context (MATCH over an unsatisfiable label
      // set) makes every write a no-op — reference parity: writes over an
      // empty match succeed and do nothing. Guarded here because the
      // writes below resolve labels STATICALLY and would otherwise error
      // on a frame that provably matches nothing.
      case CreateClause(_) | MergeClause(_, _, _) | SetClause(_) |
           RemoveClause(_) | DeleteClause(_, _)
          if ctx.exists(_.staticallyEmpty) => ()
      case CreateClause(paths) =>
        val (g2, ctx2) = applyCreate(graph, ctx, paths)
        graph = g2; ctx = ctx2
      case MergeClause(path, onCreate, onMatch) =>
        val (g2, ctx2) = applyMerge(graph, ctx, path, onCreate, onMatch)
        graph = g2; ctx = ctx2
      case SetClause(items) =>
        graph = applySet(graph, ctxOrFail(ctx), items, relClasses)
      case RemoveClause(items) =>
        val (labelItems, propItems) = items.partition(_.isInstanceOf[LabelPred])
        graph = applySet(graph, ctxOrFail(ctx), propItems.map(p => p -> Lit(null)),
          relClasses)
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
          val c = ctxOrFail(ctx)
          val primary = c.labels.getOrElse(v,
            sys.error(s"REMOVE $v:$label: $v has no statically-known label"))
          val ids = c.df.select(col(s"$v.${graft.graph.PropertyGraph.ID}"))
          if (primary == label) graph = graph.demotePrimaryLabel(label, ids)
          else if (graph.nodeFrame(primary).columns.contains(LABELS))
            graph = graph.setNodePropsForIds(primary, ids,
              Map(LABELS -> array_remove(col(LABELS), label)))
          // else: the frame has no secondary labels at all — no-op
        case other => sys.error(s"unsupported REMOVE item: $other")
        }
      case DeleteClause(vars, detach) =>
        graph = applyDelete(graph, ctxOrFail(ctx), vars, detach, relClasses)
      case ReturnClause(p) =>
        returned = Some(compiler.applyProjection(ctx, p))
      case other => sys.error(s"unsupported clause in write query: $other")
    }
    (graph, returned)
  }

  private def ctxOrFail(ctx: Option[Ctx]): Ctx =
    ctx.getOrElse(sys.error("SET/REMOVE/DELETE requires a preceding MATCH"))

  /** The one entity binder: bind `name` in `cur` to the entity rows of
    * `frame` (a node label or an edge class, tagged `tag`) that equal each
    * row on every (row value, frame column) pair of `on` — a merged node
    * on its `_id`, a created or merged relationship on (src, dst) — so a
    * following RETURN/SET sees every property of the POST-write frame,
    * ON CREATE / ON MATCH SET results included (reference shape: MERGE
    * (u {...}) ... RETURN u). MERGE also looks up its stored nodes
    * through here, with `how` = left_outer. Parallel-edge caveat
    * (documented): a relationship binds every edge of its class between
    * the pair, not only the property-matching one.
    */
  private def bindEntity(cur: DataFrame, name: String, frame: DataFrame,
      tag: String, on: Seq[(Column, String)], how: String = "inner"): DataFrame = {
    val (vs, ks) = on.indices.map(i => (s"__bv_$i", s"__bk_$i")).unzip
    val entity = frame.select(
      struct((frame.columns.map(col) :+ lit(tag).as(PropertyGraph.LABEL)).toIndexedSeq: _*)
        .as(name) +: on.zip(ks).map { case ((_, c), k) => col(c).as(k) }: _*)
    on.zip(vs).foldLeft(cur) { case (d, ((v, _), n)) => d.withColumn(n, v) }
      .join(entity, vs.zip(ks).map { case (v, k) => col(v) === col(k) }
        .reduceOption(_ && _).getOrElse(lit(true)), how)
      .drop(vs ++ ks: _*)
  }

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
    * distinct silently collapsed cardinality). MERGE passes neither: a
    * node it creates is content-addressed, while it finds stored nodes
    * on the pattern's `_id` or property map ([[withMergeId]]).
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
    // 2. edges — endpoints either MATCH-bound (per-row) or just created
    val namedRels = Seq.newBuilder[(String, EdgeType, Column, Column)]
    for (p <- paths; i <- p.rels.indices) {
      val r = p.rels(i)
      val (sv, dv) = if (r.dir == Out) (p.nodes(i), p.nodes(i + 1))
                     else (p.nodes(i + 1), p.nodes(i))
      val relType = r.relType.getOrElse(sys.error("CREATE edge needs a type"))
      if (relType.contains("|"))
        sys.error(s"CREATE cannot use a type alternation: [:$relType]")
      if (r.dir != Out && r.dir != In)
        sys.error("CREATE requires a directed relationship") // reference parity
      def endpoint(n: NodePat): (String, Column) =
        if (boundVars(n.name))
          (ctx.get.labels.getOrElse(n.name,
            sys.error(s"CREATE edge endpoint ${n.name} has unknown label")), col(s"${n.name}.$ID"))
        else newNodeIds(n.name)
      val (sl, sidCol) = endpoint(sv)
      val (dl, didCol) = endpoint(dv)
      // No distinct(): CREATE makes one edge PER ROW (parallel edges get
      // distinct EIDs from mintEids' per-(src,dst) row numbering).
      val edgeRow = rowFrame.select(
        (sidCol.cast("long").as(SRC) +: didCol.cast("long").as(DST) +:
          r.props.map { case (k, v) => propCol(v, rowFrame).as(k) }): _*)
      val et = EdgeType(relType, sl, dl)
      out = out.addEdges(et, edgeRow)
      if (!r.anonymous) namedRels += ((r.name, et, sidCol, didCol))
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
            entityCols(label, n, idc, rowFrame) :+ lit(label).as(PropertyGraph.LABEL): _*))
        }
        rels.foreach { case (rn, et, sidCol, didCol) =>
          df2 = bindEntity(df2, rn, out.edgeFrame(et), et.relType,
            Seq(sidCol -> SRC, didCol -> DST))
        }
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
      val label =
        if (boundVars(n.name)) ctx.get.labels.getOrElse(n.name,
          sys.error(s"MERGE endpoint ${n.name} has unknown label"))
        else merged.getOrElseUpdate(n.name, {
          val l = n.label.getOrElse(sys.error("MERGE node needs a label"))
          df = withMergeId(out, n, l, df)
          out = mergeNode(out, n, l, onCreate, onMatch, df)
          df = bindEntity(df, n.name, out.nodeFrame(l), l, Seq(col(MERGE_ID) -> ID)).drop(MERGE_ID)
          (n, l)
        })._2
      n.name -> label
    }
    path.rels.headOption.foreach { r =>
      val relType = r.relType.getOrElse(sys.error("MERGE edge needs a type"))
      val Seq((sv, sl), (dv, dl)) = if (r.dir == Out) ends else ends.reverse
      val et = EdgeType(relType, sl, dl)
      val (sid, did) = (col(s"$sv.$ID"), col(s"$dv.$ID"))
      out = out.mergeEdges(et, df.select((sid.as(SRC) +: did.as(DST) +:
        r.props.map { case (k, v) => propCol(v, rowFrame).as(k) }): _*).distinct())
      if (!r.anonymous) df = bindEntity(df, r.name, out.edgeFrame(et), relType,
        Seq(sid -> SRC, did -> DST))
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
    * [[nodeIdOf]], which names the node the merge creates.
    */
  private def withMergeId(g: PropertyGraph, n: NodePat, label: String,
      df: DataFrame): DataFrame = {
    val minted = nodeIdOf(label, n.props, df)
    val stored = Some(label).filter(g.hasLabel).map(g.nodeFrame)
      .filter(f => n.props.forall(p => f.columns.contains(p._1)))
    stored match {
      case Some(f) if !n.props.exists(_._1 == ID) =>
        bindEntity(df, MERGE_ID, f.select((ID +: n.props.map(_._1)).distinct.map(col): _*), label,
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

  /** Rewrite `v.prop` references to bare frame columns so the value expr
    * can be evaluated against the label frame itself. When `frameCols` is
    * known, a self-reference to a property the frame does NOT have
    * becomes literal null (Cypher: missing property reads as null — `SET
    * n.x = n.x + 1` on x-less nodes sets null, it does not error).
    */
  private def rewriteSelfRefs(e: Expr, v: String,
      frameCols: Option[Set[String]] = None): Expr =
    e.transform { case Prop(Var(`v`), key) =>
      if (frameCols.forall(_.contains(key))) Var(key) else Lit(null)
    }

  private def compileValueOverFrame(value: Expr, v: String,
      frameCols: Option[Set[String]] = None): Column = {
    val rewritten = rewriteSelfRefs(value, v, frameCols)
    // Var(key) resolves as a column of the label frame when the returned
    // Column is applied by set*Props; the frame passed here is only used
    // for (unneeded) type probes
    new CypherCompiler(g0, spark, params).compileExpr(spark.range(0).toDF(), rewritten)
  }

  private val internalCols = Set(ID, EID, SRC, DST, "_label", "_hops", "_eids", LABELS)

  private def applySet(g: PropertyGraph, ctx: Ctx,
      items: Seq[(Expr, Expr)],
      relClasses: Map[String, EdgeType] = Map.empty): PropertyGraph =
    items.foldLeft(g) {
      // SET n:Label1:Label2 — multi-label shim: append to the `_labels`
      // array (distinct, declaration order preserved); the primary label
      // is implicit and never duplicated in. Reference:
      // translator.ts:921-933 (SET-labels over label arrays).
      case (acc, (Var(v), Func("__set_labels", labelLits, _))) =>
        val label = ctx.labels.getOrElse(v,
          sys.error(s"SET $v:... has no statically-known label"))
        val adds = labelLits.map {
          case Lit(s: String) => s
          case other => sys.error(s"unexpected SET-label item: $other")
        }.filterNot(_ == label)
        if (adds.isEmpty) acc
        else {
          val ids = ctx.df.select(col(s"$v.$ID"))
          val addArr = array(adds.map(lit): _*)
          val newVal =
            if (acc.nodeFrame(label).columns.contains(LABELS))
              array_distinct(concat(
                coalesce(col(LABELS), array().cast("array<string>")), addArr))
            else addArr
          acc.setNodePropsForIds(label, ids, Map(LABELS -> newVal))
            .registerSecondaryLabels(label, adds.toSet)
        }
      // SET r.prop = expr — rel variable pinned to one edge class by the
      // MATCH (type + endpoint labels); updates join on the eid frame
      // (reference: translator.ts SET translation covers rel updates
      // alongside node updates)
      case (acc, (Prop(Var(v), key), value)) if relClasses.contains(v) =>
        val eids = ctx.df.select(col(s"$v.$EID"))
        acc.setEdgePropsForIds(relClasses(v), eids,
          Map(key -> compileValueOverFrame(value, v,
            Some(acc.edgeFrame(relClasses(v)).columns.toSet))))
      // SET r = {map} / SET n = {map} — replace ALL properties: every
      // existing prop not in the map goes to null, map keys assign
      // (reference: translator.ts SET map replacement; `SET n = {}`
      // clears)
      case (acc, (Var(v), Func("__set_replace", Seq(m), _))) =>
        val kvs = m match {
          case MapLit(items) => items
          case other => sys.error(s"SET $v = expects a map literal, got $other")
        }
        val newProps = kvs.map { case (k, e) => k -> compileValueOverFrame(e, v) }.toMap
        relClasses.get(v) match {
          case Some(et) =>
            val eids = ctx.df.select(col(s"$v.$EID"))
            val existing = acc.edgeFrame(et).columns.filterNot(internalCols).toSeq
            acc.setEdgePropsForIds(et, eids,
              existing.map(k => k -> lit(null)).toMap ++ newProps)
          case None =>
            val label = ctx.labels.getOrElse(v,
              sys.error(s"SET target $v has no statically-known label"))
            val ids = ctx.df.select(col(s"$v.$ID"))
            val existing = acc.nodeFrame(label).columns.filterNot(internalCols).toSeq
            acc.setNodePropsForIds(label, ids,
              existing.map(k => k -> lit(null)).toMap ++ newProps)
        }
      // SET r += {k: v, ...}
      case (acc, (Var(v), MapLit(kvs))) if relClasses.contains(v) =>
        val eids = ctx.df.select(col(s"$v.$EID"))
        acc.setEdgePropsForIds(relClasses(v), eids,
          kvs.map { case (k, e) => k -> compileValueOverFrame(e, v) }.toMap)
      case (acc, (Prop(Var(v), key), value)) =>
        val label = ctx.labels.getOrElse(v,
          sys.error(s"SET target $v has no statically-known label"))
        val ids = ctx.df.select(col(s"$v.$ID"))
        acc.setNodePropsForIds(label, ids, Map(key -> compileValueOverFrame(value, v,
          Some(acc.nodeFrame(label).columns.toSet))))
      // SET n += {k: v, ...} — per-key map merge
      case (acc, (Var(v), MapLit(kvs))) =>
        val label = ctx.labels.getOrElse(v,
          sys.error(s"SET target $v has no statically-known label"))
        val ids = ctx.df.select(col(s"$v.$ID"))
        acc.setNodePropsForIds(label, ids,
          kvs.map { case (k, e) => k -> compileValueOverFrame(e, v) }.toMap)
      case (_, other) => sys.error(s"unsupported SET target: $other")
    }

  private def applyDelete(g: PropertyGraph, ctx: Ctx, vars: Seq[String],
      detach: Boolean, relClasses: Map[String, EdgeType]): PropertyGraph =
    vars.foldLeft(g) { (acc, v) =>
      relClasses.get(v) match {
        case Some(et) =>
          val eids = ctx.df.select(col(s"$v.$EID").as(EID)).distinct()
          acc.deleteEdgesByIds(et, eids)
        case None =>
          val label = ctx.labels.getOrElse(v,
            sys.error(s"DELETE target $v has no statically-known label"))
          val ids = ctx.df.select(col(s"$v.$ID"))
          if (detach) acc.detachDeleteNodesByIds(label, ids)
          else acc.deleteNodesByIds(label, ids)
      }
    }
}
