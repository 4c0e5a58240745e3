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
  *  - MERGE of a single literal node pattern (+ ON CREATE / ON MATCH SET)
  *    and of edges between bound variables.
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
            def liftAgg(e: Expr, i: Int): Expr = e match {
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
              case Bin(op, l, r) => Bin(op, liftAgg(l, i), liftAgg(r, i))
              case Not(x) => Not(liftAgg(x, i))
              case Neg(x) => Neg(liftAgg(x, i))
              case IsNull(x, neg) => IsNull(liftAgg(x, i), neg)
              case Func(fn, args, d) => Func(fn, args.map(liftAgg(_, i)), d)
              case CaseExpr(sel, ws, o) => CaseExpr(sel.map(liftAgg(_, i)),
                ws.map { case (a, b) => (liftAgg(a, i), liftAgg(b, i)) },
                o.map(liftAgg(_, i)))
              case other => other
            }
            val globalItems = p.items.zipWithIndex.map { case (it, i) =>
              it.expr match {
                case e if !CypherParser.containsAgg(e) =>
                  val nm = s"__uk_$i"
                  pre += Item(e, Some(nm), nm)
                  Item(Var(nm), Some(it.name), it.name)
                case e =>
                  Item(liftAgg(e, i), Some(it.name), it.name)
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

  /** Bind a created/merged rel variable by joining the POST-write edge
    * frame on (src, dst) — so `CREATE/MERGE (a)-[r:T]->(b) RETURN r /
    * type(r) / r.prop` sees the relationship (reference shape).
    * Parallel-edge caveat (documented): matches every edge of the class
    * between the pair, not only the property-matching one.
    */
  private def bindMergedRel(out: PropertyGraph, cur: DataFrame, relName: String,
      et: EdgeType, srcId: Column, dstId: Column): DataFrame = {
    val ef = out.edgeFrame(et)
    val entity = ef.select(
      struct((ef.columns.map(col) :+
        lit(et.relType).as(PropertyGraph.LABEL)).toIndexedSeq: _*).as(relName),
      col(SRC).as("__mr_src"), col(DST).as("__mr_dst"))
    cur.withColumn("__mr_s", srcId.cast("long"))
      .withColumn("__mr_d", dstId.cast("long"))
      .join(entity, col("__mr_s") === col("__mr_src") && col("__mr_d") === col("__mr_dst"))
      .drop("__mr_s", "__mr_d", "__mr_src", "__mr_dst")
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
    * distinct silently collapsed cardinality). MERGE passes neither:
    * content addressing IS its match-per-row semantics.
    */
  private def nodeIdOf(label: String, props: Seq[(String, Any)],
      frame: DataFrame, rowUid: Option[Column] = None,
      nonce: Seq[Column] = Nil): Column =
    props.collectFirst { case (ID, v) => propCol(v, frame).cast("long") }
      .getOrElse(xxhash64(
        (lit(label) +: (rowUid.toSeq ++ nonce) ++:
          props.sortBy(_._1).map(p => propCol(p._2, frame))): _*))

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
      // multi-label shim: `CREATE (n:A:B:C)` stores A as the frame and
      // [B, C] in the _labels array (reference: label arrays, db.ts:47-69)
      val sec = n.secondary.distinct.filterNot(_ == label)
      val cols = (idCol.as(ID) +:
        n.props.filterNot(_._1 == ID).map { case (k, v) => propCol(v, rowFrame).as(k) }) ++
        (if (sec.nonEmpty) Seq(array(sec.map(lit): _*).as(LABELS)) else Nil)
      // distinct() only collapses rows that are STILL identical after id
      // minting — i.e. explicit-_id duplicates (content addressing is the
      // user's opt-in); uid-minted rows are one node per row.
      val row = rowFrame.select(cols: _*).distinct()
      out = out.addNodes(label, row).registerSecondaryLabels(label, sec.toSet)
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
      def endpoint(n: NodePat): (String, Column, Boolean) =
        if (boundVars(n.name)) {
          val label = ctx.get.labels.getOrElse(n.name,
            sys.error(s"CREATE edge endpoint ${n.name} has unknown label"))
          (label, col(s"${n.name}.$ID"), true)
        } else {
          val (label, idc) = newNodeIds(n.name)
          (label, idc, false)
        }
      val (sl, sidCol, _) = endpoint(sv)
      val (dl, didCol, _) = endpoint(dv)
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
    // frame on (src, dst) — see [[bindMergedRel]].
    val named = newPats.filterNot(_.anonymous)
    val rels = namedRels.result()
    val newCtx =
      if (named.isEmpty && rels.isEmpty) ctx
      else {
        var df2 = rowFrame
        named.foreach { n =>
          val (label, idc) = newNodeIds(n.name)
          val sec = n.secondary.distinct.filterNot(_ == label)
          val fields = (idc.cast("long").as(ID) +:
            n.props.filterNot(_._1 == ID)
              .map { case (k, v) => propCol(v, rowFrame).as(k) }) ++
            (if (sec.nonEmpty) Seq(array(sec.map(lit): _*).as(LABELS)) else Nil) :+
            lit(label).as(PropertyGraph.LABEL)
          df2 = df2.withColumn(n.name, struct(fields: _*))
        }
        rels.foreach { case (rn, et, sidCol, didCol) =>
          df2 = bindMergedRel(out, df2, rn, et, sidCol, didCol)
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

  /** Bind a merged node var into the context as a full entity struct by
    * joining the POST-merge label frame on the per-row minted id — so a
    * following RETURN/SET sees every property, including ON CREATE /
    * ON MATCH SET results (reference shape: MERGE (u {...}) ... RETURN u).
    */
  private def bindMerged(out: PropertyGraph, cur: DataFrame,
      n: NodePat, label: String, idCol: Column): DataFrame = {
    if (n.anonymous) return cur
    val frame = out.nodeFrame(label)
    val entity = frame.select(
      struct((frame.columns.map(col) :+
        lit(label).as(graft.graph.PropertyGraph.LABEL)).toIndexedSeq: _*).as(n.name),
      col(ID).as("__merge_jid"))
    cur.withColumn("__merge_id", idCol.cast("long"))
      .join(entity, col("__merge_id") === col("__merge_jid"))
      .drop("__merge_id", "__merge_jid")
  }

  private def applyMerge(g: PropertyGraph, ctx: Option[Ctx], path: PathPat,
      onCreate: Seq[(Expr, Expr)], onMatch: Seq[(Expr, Expr)]): (PropertyGraph, Option[Ctx]) = {
    val boundVars = ctx.map(_.df.columns.toSet).getOrElse(Set.empty)
    val rowFrame = ctx.map(_.df).getOrElse(spark.range(1).toDF())
    // post-merge context assembly: thread (graph, df, bindings) and
    // restrict to named entities when there was no prior context (the
    // internal seed column must not leak into RETURN *)
    def ctxOf(out: PropertyGraph, df: DataFrame,
        binds: Seq[(String, String)], extraKeep: Seq[String] = Nil): Option[Ctx] = {
      val named = binds.filter(_._1.nonEmpty)
      val df2 =
        if (ctx.isEmpty) df.select((named.map(_._1) ++ extraKeep).map(col): _*)
        else df
      Some(Ctx(df2, ctx.map(_.labels).getOrElse(Map.empty) ++ named))
    }


    def mergeNode(gr: PropertyGraph, n: NodePat,
        oc: Seq[(Expr, Expr)], om: Seq[(Expr, Expr)]): PropertyGraph = {
      val label = n.label.getOrElse(sys.error("MERGE node needs a label"))
      val idCol = nodeIdOf(label, n.props, rowFrame)
      val sec = n.secondary.distinct.filterNot(_ == label)
      val cols = (idCol.as(ID) +:
        n.props.filterNot(_._1 == ID).map { case (k, v) => propCol(v, rowFrame).as(k) }) ++
        (if (sec.nonEmpty) Seq(array(sec.map(lit): _*).as(LABELS)) else Nil)
      val row = rowFrame.select(cols: _*).distinct()
      def assigns(items: Seq[(Expr, Expr)]): Map[String, Column] =
        items.map {
          case (Prop(Var(v), key), value) if v == n.name =>
            key -> compileValueOverFrame(value, n.name)
          case other => sys.error(s"unsupported MERGE SET target: $other")
        }.toMap
      gr.mergeNodesWith(label, row, assigns(oc), assigns(om))
        .registerSecondaryLabels(label, sec.toSet)
    }

    def setsFor(n: NodePat, items: Seq[(Expr, Expr)]) = items.filter {
      case (Prop(Var(v), _), _) => v == n.name
      case _ => false
    }

    if (path.rels.isEmpty) {
      // single node MERGE — one candidate row per current row (UNWIND /
      // MATCH cardinality), content-deduped
      val n = path.nodes.head
      val out = mergeNode(g, n, onCreate, onMatch)
      val label = n.label.getOrElse(sys.error("MERGE node needs a label"))
      if (n.anonymous) (out, ctx)
      else (out, ctxOf(out,
        bindMerged(out, rowFrame, n, label, nodeIdOf(label, n.props, rowFrame)),
        Seq(n.name -> label)))
    } else {
      require(path.rels.size == 1, "MERGE supports single-relationship paths")
      val r = path.rels.head
      val (sv, dv) = if (r.dir == Out) (path.nodes(0), path.nodes(1))
                     else (path.nodes(1), path.nodes(0))
      val relType = r.relType.getOrElse(sys.error("MERGE edge needs a type"))
      if (path.nodes.forall(n => boundVars(n.name))) {
        // edge MERGE between two bound variables
        val labels = ctx.get.labels
        val et = EdgeType(relType, labels(sv.name), labels(dv.name))
        val rows = ctx.get.df.select(
          (col(s"${sv.name}.$ID").as(SRC) +: col(s"${dv.name}.$ID").as(DST) +:
            r.props.map { case (k, v) => propCol(v, ctx.get.df).as(k) }): _*)
        val out = g.mergeEdges(et, rows)
        if (r.anonymous) (out, ctx)
        else (out, Some(Ctx(
          bindMergedRel(out, ctx.get.df, r.name, et,
            col(s"${sv.name}.$ID"), col(s"${dv.name}.$ID")),
          ctx.get.labels, ctx.get.staticallyEmpty)))
      } else if (path.nodes.exists(n => boundVars(n.name))) {
        // ONE endpoint bound (reference shape: MATCH (u) MERGE
        // (u)-[:T]->(l:L {props})): merge the unbound node per row
        // (content-addressed — reuses an existing node with those props,
        // same decomposition divergence as the all-unbound branch), then
        // merge edges between the bound ids and the merged node ids
        val (bound, unbound) = if (boundVars(sv.name)) (sv, dv) else (dv, sv)
        (onCreate ++ onMatch).foreach {
          case (Prop(Var(v), _), _) if v == bound.name => sys.error(
            s"MERGE ... SET on the already-bound endpoint $v is unsupported — use a separate SET clause")
          case _ => ()
        }
        val out = mergeNode(g, unbound, setsFor(unbound, onCreate), setsFor(unbound, onMatch))
        val uLabel = unbound.label.getOrElse(sys.error("MERGE endpoint needs a label"))
        val bLabel = ctx.get.labels.getOrElse(bound.name,
          sys.error(s"MERGE endpoint ${bound.name} has unknown label"))
        val uid = nodeIdOf(uLabel, unbound.props, rowFrame)
        val bid = col(s"${bound.name}.$ID")
        val (et, srcCol, dstCol) =
          if (bound eq sv) (EdgeType(relType, bLabel, uLabel), bid, uid)
          else (EdgeType(relType, uLabel, bLabel), uid, bid)
        val rows = rowFrame.select(
          (srcCol.cast("long").as(SRC) +: dstCol.cast("long").as(DST) +:
            r.props.map { case (k, v) => propCol(v, rowFrame).as(k) }): _*)
          .distinct()
        val out2 = out.mergeEdges(et, rows)
        var df2 = if (unbound.anonymous) rowFrame
          else bindMerged(out2, rowFrame, unbound, uLabel, uid)
        if (!r.anonymous) df2 = bindMergedRel(out2, df2, r.name, et, srcCol, dstCol)
        if (unbound.anonymous && r.anonymous) (out2, ctx)
        else (out2, ctxOf(out2, df2,
          Seq(unbound).filterNot(_.anonymous).map(n => n.name -> uLabel),
          if (r.anonymous) Nil else Seq(r.name)))
      } else {
        // general MERGE path with unbound endpoints: decomposed as
        // merge(src) → merge(dst) → merge(edge). Divergence (documented):
        // openCypher matches the WHOLE pattern atomically — a pre-existing
        // node pair without the edge gets only the edge created here,
        // which openCypher would also do; but a fresh pattern creates
        // nodes even when an identical edge exists elsewhere. ON CREATE /
        // ON MATCH SET apply per-endpoint-variable.
        var out = g
        out = mergeNode(out, sv, setsFor(sv, onCreate), setsFor(sv, onMatch))
        out = mergeNode(out, dv, setsFor(dv, onCreate), setsFor(dv, onMatch))
        val et = EdgeType(relType,
          sv.label.getOrElse(sys.error("MERGE endpoint needs a label")),
          dv.label.getOrElse(sys.error("MERGE endpoint needs a label")))
        val sid = nodeIdOf(et.srcLabel, sv.props, rowFrame)
        val did = nodeIdOf(et.dstLabel, dv.props, rowFrame)
        val rows = rowFrame.select(
          (sid.cast("long").as(SRC) +: did.cast("long").as(DST) +:
            r.props.map { case (k, v) => propCol(v, rowFrame).as(k) }): _*)
          .distinct()
        var df2 = rowFrame
        val binds = Seq(sv -> et.srcLabel, dv -> et.dstLabel)
          .filterNot(_._1.anonymous)
        df2 = binds.foldLeft(df2) { case (d, (n, l)) =>
          bindMerged(out, d, n, l, nodeIdOf(l, n.props, rowFrame))
        }
        val out2 = out.mergeEdges(et, rows)
        if (!r.anonymous) df2 = bindMergedRel(out2, df2, r.name, et, sid, did)
        if (binds.isEmpty && r.anonymous) (out2, ctx)
        else (out2, ctxOf(out2, df2, binds.map { case (n, l) => n.name -> l },
          if (r.anonymous) Nil else Seq(r.name)))
      }
    }
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
      frameCols: Option[Set[String]] = None): Expr = e match {
    case Prop(Var(`v`), key) =>
      if (frameCols.forall(_.contains(key))) Var(key) else Lit(null)
    case Bin(op, l, r) => Bin(op, rewriteSelfRefs(l, v, frameCols), rewriteSelfRefs(r, v, frameCols))
    case Not(x) => Not(rewriteSelfRefs(x, v, frameCols))
    case Neg(x) => Neg(rewriteSelfRefs(x, v, frameCols))
    case IsNull(x, n) => IsNull(rewriteSelfRefs(x, v, frameCols), n)
    case Func(n, args, d) => Func(n, args.map(rewriteSelfRefs(_, v, frameCols)), d)
    case CaseExpr(s, ws, o) => CaseExpr(s.map(rewriteSelfRefs(_, v, frameCols)),
      ws.map { case (a, b) => (rewriteSelfRefs(a, v, frameCols), rewriteSelfRefs(b, v, frameCols)) },
      o.map(rewriteSelfRefs(_, v, frameCols)))
    case other => other
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
