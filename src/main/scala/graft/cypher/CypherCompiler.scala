package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.ParamLiteral
import Ast._
import graft.functions.CypherFunctions
import graft.graph.{PatternMatcher, PropertyGraph}
import graft.graph.PatternMatcher.{bindScope, identity, padStructs, scopeKey}
import graft.graph.PropertyGraph.LABEL

/** Compiles a parsed Cypher query to a Catalyst plan over a
  * [[PropertyGraph]].
  *
  * Reference analog: /root/reference/src/translator.ts (AST → SQLite SQL)
  * + /root/reference/src/executor.ts (aggregation/null semantics) —
  * re-expressed as a declarative DataFrame pipeline so Catalyst owns join
  * ordering, pushdown, and codegen:
  *
  *  - MATCH      → [[PatternMatcher]] join plans; consecutive MATCHes join
  *                 on shared variables' identities (inner / left-outer for
  *                 OPTIONAL, [[PatternMatcher.bindScope]]), so Catalyst
  *                 still sees one join tree.
  *  - WHERE      → `Column` predicate pushed into the join (pattern
  *                 predicates become semi/anti joins).
  *  - WITH/RETURN→ projections; implicit Cypher grouping (any aggregate in
  *                 the item list groups by the non-aggregated items).
  *  - UNWIND     → `explode`.
  *  - UNION [ALL]→ `unionByName` (+ distinct).
  *
  * Scalar state (WITH aliases, UNWIND vars) lives as flat columns next to
  * node/edge struct columns in one DataFrame — no driver-side row
  * shuttling anywhere.
  */
final class CypherCompiler(g: PropertyGraph, spark: SparkSession,
    params: Map[String, Any] = Map.empty) {
  import CypherCompiler.Ctx

  // any compile path (including CypherWriter's embedded use) may emit
  // graft_* session functions
  graft.functions.VectorExprs.register(spark)

  /** path var -> (node vars, rel patterns) bound by MATCH p = ... */
  private var pathBindings = Map.empty[String, (Seq[String], Seq[RelPat])]

  /** rel var -> (source node var, target node var) for directed,
    * fixed-length rels: startNode()/endNode() compile to the endpoint's
    * already-bound node STRUCT column — a pure attribute reference, no
    * join (reference returns full nodes, executor.ts startNode handling).
    */
  private var relEndpoints = Map.empty[String, (String, String)]

  private val pm = new PatternMatcher(g)

  /** Statically-known element types of in-scope lambda variables
    * (comprehension/quantifier/reduce bindings). Lambda parameter columns
    * can't be resolved against `df`, so type-dependent functions (size on
    * string vs list) consult this instead — set around each lambda-body
    * compile, keyed by the bound variable name.
    */
  private var lambdaTypes: Map[String, DataType] = Map.empty

  private def withLambdaType[T](v: String, t: Option[DataType])(body: => T): T =
    t match {
      case Some(tt) =>
        val saved = lambdaTypes
        lambdaTypes += (v -> tt)
        try body finally lambdaTypes = saved
      case None => body
    }

  /** Set when a parameter's value, not just its type, shaped the plan
    * being compiled: SKIP/LIMIT counts ([[litInt]]), a `round` precision
    * (`argLit`), and null, list or array values. Such a plan is not
    * prepared ([[compileQuery]]); nor is one whose analysis read a value
    * ([[ParamLiteral.Scope.preparable]]). */
  private var valueBound = false

  /** The [[ParamLiteral]] scope of this compile's parameters. */
  private val paramScope = new ParamLiteral.Scope

  def run(query: String): DataFrame = compileQuery(CypherParser.parse(query))

  /** Compile `q` once per graph snapshot, then re-bind parameter values.
    *
    * Every scalar `$param` compiles to a
    * [[org.apache.spark.sql.graftshim.ParamLiteral]]: a Catalyst literal
    * that keeps its parameter's name and whose generated code loads the
    * value instead of inlining it. So a compiled plan is the same for
    * every value of its parameters: the snapshot's prepared-plan cache
    * ([[CypherCompiler.PreparedPlans]], LRU, at most
    * [[CypherCompiler.MaxPrepared]] plans) keeps the analyzed plan, and a
    * later call with new values only re-binds them into it and wraps it
    * in a Dataset — no DataFrame construction and no re-analysis of each
    * step — while whole-stage codegen reuses the classes it compiled for
    * the first value.
    *
    * The key is the session, the parsed query, each parameter's Catalyst
    * type, and the confs analysis reads: session time zone, ANSI mode and
    * case sensitivity. Never cached: plans a parameter's VALUE shaped
    * (SKIP/LIMIT counts, a `round` precision, null, list and array
    * values, and plans whose analysis read a value, such as an integer
    * compared with a decimal property), and writes (`cypherWrite` does
    * not compile through here).
    */
  def compileQuery(q: Query): DataFrame = {
    val conf = spark.sessionState.conf
    val key = CypherCompiler.PlanKey(spark, q,
      params.map { case (k, v) => k -> ParamLiteral.scalar(v).map(_.dataType) },
      conf.sessionLocalTimeZone, conf.ansiEnabled, conf.caseSensitiveAnalysis)
    g.preparedPlans.get(key) match {
      case Some(p) => ParamLiteral.bind(p.session, p.plan, params, p.scope)
      case None =>
        val parts = q.parts.map(compileSingle)
        val df =
          if (parts.size == 1) parts.head
          else {
            val unioned = parts.reduce(_ unionByName _)
            // openCypher forbids mixing UNION and UNION ALL; a plain UNION
            // dedupes the whole result
            if (q.unionAll.contains(false)) unioned.distinct() else unioned
          }
        val analyzed = df.queryExecution.analyzed
        if (!valueBound && paramScope.preparable(analyzed))
          g.preparedPlans.put(key, CypherCompiler.Prepared(analyzed, df.sparkSession,
            paramScope.id))
        df
    }
  }

  private def compileSingle(sq: SingleQuery): DataFrame = {
    var ctx: Option[Ctx] = None
    sq.clauses.foreach {
      case MatchClause(paths, optional, where, pathVars) =>
        pathVars.foreach { case (pv, idx) =>
          val pat = paths(idx)
          pathBindings += pv -> (pat.nodes.map(_.name), pat.rels)
        }
        paths.foreach { p =>
          p.rels.indices.foreach { i =>
            val r = p.rels(i)
            if (!r.isVarLength) r.dir match {
              case Out =>
                relEndpoints += r.name -> (p.nodes(i).name, p.nodes(i + 1).name)
              case In =>
                relEndpoints += r.name -> (p.nodes(i + 1).name, p.nodes(i).name)
              case _ => // undirected: per-row orientation, fall back to ids
            }
          }
        }
        ctx = Some(applyMatch(ctx, paths, optional, where))
      case UnwindClause(list, alias) =>
        ctx = Some(applyUnwind(ctx, list, alias))
      case CallClause(proc, yields, where) =>
        ctx = Some(applyCall(ctx, proc, yields, where))
      case WithClause(p) =>
        ctx = Some(Ctx(applyProjection(ctx, p), keptLabels(ctx, p),
          ctx.exists(_.staticallyEmpty)))
      case ReturnClause(p) =>
        ctx = Some(Ctx(applyProjection(ctx, p), Map.empty))
    }
    ctx.getOrElse(sys.error("query has no clauses")).df
  }

  /** Labels that survive a projection: items that are bare `v AS a`. */
  private[cypher] def keptLabels(ctx: Option[Ctx], p: Projection): Map[String, String] =
    ctx.map { c =>
      p.items.flatMap { it =>
        it.expr match {
          case Var(v) => c.labels.get(v).map(it.name -> _)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  // ------------------------------------------------------------------
  // MATCH
  // ------------------------------------------------------------------

  /** Substitute `$param` values into pattern property maps (a scalar as
    * its [[paramLit]] Column); reject non-literal property expressions
    * (those are CREATE/MERGE-only — in MATCH they belong in WHERE).
    */
  private def resolveParams(paths: Vector[PathPat]): Vector[PathPat] = {
    def resolve(kv: (String, Any)): (String, Any) = kv match {
      case (k, Param(nm)) => k -> paramLit(nm)
      case (k, e: Expr) => sys.error(
        s"MATCH pattern property '$k' must be a literal or parameter " +
        s"(got expression $e — use WHERE, or CREATE/MERGE for per-row values)")
      case kv => kv
    }
    paths.map { p =>
      p.copy(
        nodes = p.nodes.map(n => n.copy(props = n.props.map(resolve))),
        rels = p.rels.map(r => r.copy(props = r.props.map(resolve))))
    }
  }

  /** var -> the FRAME label it statically resolves to. A pattern label is
    * usually its own frame, but under the multi-label shim it may resolve
    * to a different frame carrying it as a secondary — and to SEVERAL
    * frames, in which case the variable has no static frame and is left
    * out (reads don't need it; writes then fail with their honest
    * "no statically-known label" error).
    */
  private def declaredLabels(paths: Vector[PathPat]): Map[String, String] =
    paths.flatMap(_.nodes).filter(_.allLabels.nonEmpty).groupBy(_.name)
      .flatMap { case (v, ns) =>
        g.frameCandidates(ns.flatMap(_.allLabels).toSet) match {
          case Seq(one) => Some(v -> one)
          case _ => None
        }
      }

  private[cypher] def applyMatch(ctx: Option[Ctx], paths0: Vector[PathPat],
      optional: Boolean, where: Option[Expr]): Ctx = {
    val paths = resolveParams(paths0)
    val baseLabels = ctx.map(_.labels).getOrElse(Map.empty)
    val patVars = paths.flatMap(_.nodes).map(_.name).toSet
    val known = baseLabels.filter { case (v, _) => patVars(v) }
    val newLabels = baseLabels ++ declaredLabels(paths)

    val (plainWhere, patternPreds) = splitWhere(where)

    // a label set no frame satisfies → provably zero rows (see Ctx doc)
    val deadMatch = !optional && paths.flatMap(_.nodes)
      .exists(n => n.allLabels.nonEmpty &&
        !known.contains(n.name) && g.frameCandidates(n.allLabels).isEmpty)

    // anonymous variables inside a named-path pattern stay observable
    // (nodes(p)/relationships(p)/length(p)) — keep their columns
    val pathPats = pathBindings.values.toSet
    val keepAnon = paths.filter(p =>
        pathPats.contains((p.nodes.map(_.name), p.rels)))
      .flatMap(p => p.nodes.map(_.name) ++ p.rels.map(_.name)).toSet
    val patDF = pm.compilePaths(paths, known, keepAnon)

    val whereOn = plainWhere.map(w => (d: DataFrame) => compileExpr(d, w))
    ctx match {
      // leading OPTIONAL MATCH: openCypher yields ONE all-null row when
      // nothing matches — left-outer from a single-row frame, with the
      // WHERE folded into the join condition (filtering after the join
      // would wrongly drop the null row)
      case None if optional =>
        val one = spark.range(1).select(lit(1).as("__opt_one"))
        val matched = applyPatternPreds(patDF, patternPreds, newLabels)
        Ctx(bindScope(one, matched, "left_outer", whereOn).drop("__opt_one"), newLabels)
      case None =>
        var df = patDF
        df = applyPatternPreds(df, patternPreds, newLabels)
        plainWhere.foreach(w => df = df.filter(compileExpr(df, w)))
        Ctx(df, newLabels, deadMatch)
      case Some(c) =>
        val joined = bindScope(c.df, patDF, if (optional) "left_outer" else "inner", whereOn)
        Ctx(applyPatternPreds(joined, patternPreds, newLabels), newLabels,
          c.staticallyEmpty || deadMatch)
    }
  }

  /** Split a WHERE into plain predicate conjuncts and pattern predicates
    * (which compile to semi/anti joins, reference analog:
    * translator.ts EXISTS subquery translation).
    */
  private def splitWhere(where: Option[Expr]): (Option[Expr], Seq[(PatternPred, Boolean)]) = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    where match {
      case None => (None, Seq.empty)
      case Some(w) =>
        val cs = conjuncts(w)
        val pats = cs.collect {
          case p: PatternPred => (p, false)
          case Not(p: PatternPred) => (p, true)
        }
        val plain = cs.filter {
          case _: PatternPred | Not(_: PatternPred) => false
          case _ => true
        }
        (plain.reduceOption(Bin("AND", _, _)), pats)
    }
  }

  /** Pattern predicate in WHERE → left-semi (or left-anti when negated)
    * join on the variables shared with the current scope.
    */
  private def applyPatternPreds(df: DataFrame,
      preds: Seq[(PatternPred, Boolean)], labels: Map[String, String]): DataFrame =
    preds.foldLeft(df) { case (d, (PatternPred(paths, _), negated)) =>
      val patVars = paths.flatMap(_.nodes).map(_.name).toSet
      val known = labels.filter { case (v, _) => patVars(v) }
      val sub = pm.compilePaths(paths, known)
      require(sub.columns.exists(d.columns.contains),
        "pattern predicate shares no variables with the query")
      bindScope(d, sub, if (negated) "left_anti" else "left_semi")
    }

  // ------------------------------------------------------------------
  // UNWIND / CALL
  // ------------------------------------------------------------------

  private[cypher] def applyUnwind(ctx: Option[Ctx], list: Expr, alias: String): Ctx = {
    // TCK: UNWIND null yields no rows — a VOID literal can't feed
    // explode, so type it as an (empty) array first
    def listCol(df: DataFrame): Column = list match {
      case Lit(null) => lit(null).cast("array<bigint>")
      case _ =>
        val c = compileExpr(df, list)
        // a missing property resolves to a VOID null — same no-rows rule
        if (dtypeOf(df, c).contains(NullType)) c.cast("array<bigint>") else c
    }
    ctx match {
      case Some(c) =>
        Ctx(c.df.withColumn(alias, explode(listCol(c.df))), c.labels - alias,
          c.staticallyEmpty)
      case None =>
        val base = spark.range(1).toDF()
        Ctx(base.select(explode(listCol(base)).as(alias)), Map.empty)
    }
  }

  private[cypher] def applyCall(ctx: Option[Ctx], proc: String, yields: Seq[String],
      where: Option[Expr] = None): Ctx = {
    val df0 = proc.toLowerCase match {
      case "db.labels" =>
        val out = g.labelsDF(spark)
        yields.headOption.map(y => out.withColumnRenamed("label", y)).getOrElse(out)
      case "db.relationshiptypes" =>
        val out = g.relationshipTypesDF(spark)
        yields.headOption.map(y => out.withColumnRenamed("relationshipType", y)).getOrElse(out)
      case other => sys.error(s"Unknown procedure: $other")
    }
    val df = where.map(w => df0.filter(compileExpr(df0, w).cast(BooleanType)))
      .getOrElse(df0)
    ctx match {
      case Some(c) => Ctx(c.df.crossJoin(df), c.labels, c.staticallyEmpty)
      case None => Ctx(df, Map.empty)
    }
  }

  // ------------------------------------------------------------------
  // WITH / RETURN projections
  // ------------------------------------------------------------------

  private var pcCounter = 0

  /** Attach one pattern comprehension's collected list as a temp column:
    * compile the pattern seeded by the bound vars' labels, apply its
    * WHERE, collect_list the projection grouped by the shared variables,
    * left-join back, and null → [] (openCypher: no matches is an empty
    * list). One aggregation + one join per comprehension — no per-row
    * subqueries.
    */
  private def attachPatternComp(c: Ctx, pc: PatternComp): (Ctx, String) = {
    pcCounter += 1
    val tmp = s"__pc$pcCounter"
    val patVars = pc.path.nodes.map(_.name).toSet
    val known = c.labels.filter { case (v, _) => patVars(v) }
    val sub0 = pm.compilePaths(Vector(pc.path), known)
    val shared = c.df.columns.toSet.intersect(patVars).toSeq.sorted
    require(shared.nonEmpty, "pattern comprehension must use a bound variable")
    val sub = pc.where.map(w => sub0.filter(compileExpr(sub0, w))).getOrElse(sub0)
    val grouped = sub.groupBy(shared.map(v => scopeKey(sub, v)): _*)
      .agg(collect_list(compileExpr(sub, pc.proj)).as(tmp))
    val joined = bindScope(c.df, grouped, "left_outer")
    val listT = joined.schema(tmp).dataType
    (Ctx(joined.withColumn(tmp, coalesce(col(tmp), array().cast(listT))), c.labels), tmp)
  }

  private[cypher] def applyProjection(ctx: Option[Ctx], p: Projection): DataFrame = {
    // pattern-comprehension pre-pass: each one joins its collected list
    // onto the frame and is replaced by a temp-column reference
    // internal-prefixed seed column so RETURN * can't expand over it
    var curCtx = ctx.getOrElse(
      Ctx(spark.range(1).select(col("id").as("__seed")), Map.empty))
    val extractComps: PartialFunction[Expr, Expr] = { case pc: PatternComp =>
      val (nc, name) = attachPatternComp(curCtx, pc)
      curCtx = nc
      Var(name)
    }
    val preItems = p.items.map(it => it.copy(expr = it.expr.transform(extractComps)))
    val base = curCtx.df
    // RETURN * — expand to every visible column; with no variables in
    // scope it is a syntax error (openCypher TCK)
    val items = preItems.flatMap {
      case Item(Star, _, _) =>
        val visible = base.columns.filterNot(_.startsWith("__")).toSeq
        if (visible.isEmpty) sys.error("RETURN * is not allowed when there are no variables in scope")
        visible.map(c => Item(Var(c), None, c))
      case it => Seq(it)
    }
    // openCypher rejects duplicate output names, explicit or implicit
    // (reference: translator duplicate-alias validation)
    val dups = items.groupBy(_.name).collect { case (n, is) if is.size > 1 => n }
    if (dups.nonEmpty) sys.error(
      s"duplicate column name(s) in RETURN/WITH: ${dups.mkString(", ")}")

    val hasAgg = items.exists(it => CypherParser.containsAgg(it.expr))

    var projected: DataFrame = null
    var sortable: DataFrame = null // frame to compile ORDER BY/WHERE against
    var needFinalSelect = false

    if (hasAgg) {
      val (aggItems0, groupItems) = items.partition(it => CypherParser.containsAgg(it.expr))
      // Entity group items hash-partition on their identity
      // (PatternMatcher.identity), not the whole property struct (r5
      // verdict: full-node-payload exchange on aggregation keys); the
      // payload is re-attached with first() so at most one struct per
      // group per partition crosses the exchange (map-side combined)
      // instead of one per input row.
      val plans = groupItems.zipWithIndex.map { case (it, i) =>
        it.expr match {
          case Var(n) if identity(base, n).isDefined =>
            val keys = identity(base, n).get.zipWithIndex.map {
              case (k, j) => k.as(s"__gk_${i}_$j")
            }
            (keys, Some(first(col(n)).as(it.name)))
          case e => (Seq(compileExpr(base, e).as(it.name)), None)
        }
      }
      val groupCols = plans.flatMap(_._1)
      // percentileDisc WITHOUT collect_list: exact nearest-rank (Neo4j
      // semantics — the ceil(p·n)-th smallest actual element) via two
      // staged window passes over the PRE-aggregation frame: rank rows
      // per group (nulls last), count non-nulls per group, then project
      // the row whose rank hits the target as a group-constant column
      // and reduce it with max() in the aggregation. Windows sort with
      // spill-capable external sorters, so group size is disk-bounded —
      // unlike collect_list's in-memory array (the last unbounded-group-
      // memory contract in the function library, carried since r5).
      val rawKeys: Seq[Column] = groupItems.flatMap { it =>
        it.expr match {
          case Var(n) if identity(base, n).isDefined => identity(base, n).get
          case e => Seq(compileExpr(base, e))
        }
      }
      var base2 = base
      var discN = 0
      def attachDisc(v: Expr, pp: Expr): Expr = {
        import org.apache.spark.sql.expressions.Window
        val tag = s"__pdisc_$discN"; discN += 1
        val vCol = compileExpr(base2, v)
        val pCol = compileExpr(base2, pp)
        val wAll = Window.partitionBy(rawKeys: _*)
        val wOrd = wAll.orderBy(vCol.asc_nulls_last)
        base2 = base2
          .withColumn(s"${tag}_rn", row_number().over(wOrd))
          .withColumn(s"${tag}_n", count(vCol).over(wAll))
        val target = greatest(ceil(col(s"${tag}_n") * pCol), lit(1))
        base2 = base2.withColumn(tag,
          max(when(col(s"${tag}_rn") === target, compileExpr(base2, v))).over(wAll))
        Func("max", Seq(Var(tag)))
      }
      val rewriteDisc: PartialFunction[Expr, Expr] = {
        case Func(n, Seq(v, pp), _) if n.toLowerCase == "percentiledisc" =>
          attachDisc(v, pp)
      }
      val aggItems = aggItems0.map(it => it.copy(expr = it.expr.transform(rewriteDisc)))
      val aggCols = plans.flatMap(_._2) ++
        aggItems.map(it => compileExpr(base2, it.expr).as(it.name))
      projected =
        if (groupCols.isEmpty) base2.groupBy().agg(aggCols.head, aggCols.tail: _*)
        else base2.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
      // restore declared item order (backticks: unaliased items like
      // `u.id` are literal column names, not struct field paths)
      projected = projected.select(items.map(it => qcol(it.name)): _*)
      sortable = projected
    } else if (p.distinct) {
      projected = base.select(items.map(it => compileExpr(base, it.expr).as(it.name)): _*)
        .distinct()
      sortable = projected
    } else {
      // keep originals alongside aliases so ORDER BY can reference
      // un-projected variables (legal in Cypher without DISTINCT/agg)
      sortable = items.foldLeft(base)((d, it) =>
        d.withColumn(it.name, compileExpr(d, it.expr)))
      projected = sortable
      needFinalSelect = true
    }

    // WHERE must survive into the ORDER BY branch: apply it to `sortable`
    // itself (r2 advice: orderBy used to restart from the unfiltered
    // frame, silently dropping the filter when both were present).
    p.where.foreach { w =>
      sortable = sortable.filter(compileExpr(sortable, w))
    }
    var out = sortable
    if (p.orderBy.nonEmpty) {
      val frame = sortable
      val sortCols = p.orderBy.map { s =>
        val c = s.expr match {
          case Var(n) if frame.columns.contains(n) => col(n)
          case e if frame.columns.contains(s.text) => qcol(s.text)
          case e => compileExpr(frame, e)
        }
        // Neo4j/openCypher: null is the LARGEST value — last under ASC,
        // first under DESC (reference parity; Spark's default would put
        // nulls first on ASC)
        if (s.asc) c.asc_nulls_last else c.desc_nulls_first
      }
      out = frame.orderBy(sortCols: _*)
    }
    p.skip.foreach(s => out = out.offset(litInt(s)))
    p.limit.foreach(l => out = out.limit(litInt(l)))
    if (needFinalSelect) out = out.select(items.map(it => qcol(it.name)): _*)
    out
  }

  /** Column reference treating the whole name as literal (dots included). */
  private def qcol(name: String): Column = col(s"`$name`")

  private def litInt(e: Expr): Int = e match {
    case Lit(v: Long) => v.toInt
    case Lit(v: Int) => v
    case Param(n) =>
      valueBound = true
      params.getOrElse(n, sys.error(s"missing parameter $$$n")).toString.toInt
    case _ => sys.error(s"SKIP/LIMIT must be an integer literal, got $e")
  }

  /** Literal Column for a parameter value: a scalar is a
    * [[ParamLiteral]]; null and homogeneous seqs are inlined and mark the
    * plan [[valueBound]]. */
  private def paramLit(n: String): Column = {
    val v = params.getOrElse(n, sys.error(s"missing parameter $$$n"))
    paramScope.column(n, v).getOrElse {
      valueBound = true
      v match {
        case null => lit(null)
        case xs: Seq[_] => array(xs.map(x => lit(x)): _*)
        case xs: Array[_] => array(xs.toSeq.map(x => lit(x)): _*)
        case other => lit(other)
      }
    }
  }

  /** Syntactically a duration-valued expression: a duration()/duration.*
    * call, or a +/- combination of two of them (temporal ± duration is a
    * temporal, so mixed operands don't qualify).
    */
  private def isDurationExpr(e: Expr): Boolean = e match {
    case Func(fn, _, _) => fn.toLowerCase == "duration" || fn.toLowerCase.startsWith("duration.")
    case Bin("+" | "-", l, r) => isDurationExpr(l) && isDurationExpr(r)
    case _ => false
  }

  // ------------------------------------------------------------------
  // expressions
  // ------------------------------------------------------------------

  private def dtypeOf(df: DataFrame, c: Column): Option[DataType] =
    scala.util.Try(df.select(c).schema.head.dataType).toOption

  private def isIntegral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Array of the named entity struct columns, padded to one element
    * type ([[PatternMatcher.padStructs]], applied per row). */
  private def harmonizedStructArray(df: DataFrame, vars: Seq[String]): Column = {
    val types = vars.map(v => v -> df.schema(v).dataType)
    types.collectFirst { case (v, t) if !t.isInstanceOf[StructType] =>
      sys.error(s"path variable $v is not an entity struct ($t)") }
    array(padStructs(types): _*)
  }

  def compileExpr(df: DataFrame, e: Expr, env: Map[String, Column] = Map.empty): Column = {
    def go(e: Expr): Column = compileExpr(df, e, env)
    def dt(c: Column): Option[DataType] = if (env.isEmpty) dtypeOf(df, c) else None

    e match {
      case Star => sys.error("* only allowed inside count(*)")
      case Lit(null) => lit(null)
      case Lit(v) => lit(v)
      case Param(n) => paramLit(n)
      // path functions over a named path. Fixed-length paths return FULL
      // node/relationship structs (reference analog: executor path values
      // carry whole entities); heterogeneous label schemas are padded to
      // the union of fields (PatternMatcher.padStructs). Var-length
      // segments materialize only endpoint ids (_eids/_hops) — there the
      // id-array form remains (documented divergence: intermediate
      // entities of a *min..max segment are not re-joined).
      case Func(fn, Seq(Var(p)), _)
          if pathBindings.contains(p) && Set("nodes", "relationships", "length")(fn.toLowerCase) =>
        val (nodeVars, rels) = pathBindings(p)
        val hasVarLen = rels.exists(_.isVarLength)
        val inScope = (vs: Seq[String]) => vs.forall(df.columns.contains)
        fn.toLowerCase match {
          case "nodes" =>
            if (!hasVarLen && inScope(nodeVars)) harmonizedStructArray(df, nodeVars)
            else array(nodeVars.map(v => col(s"$v._id")): _*)
          case "relationships" =>
            if (!hasVarLen && inScope(rels.map(_.name)))
              harmonizedStructArray(df, rels.map(_.name))
            else {
              val parts = rels.map { r =>
                if (r.isVarLength) col(s"${r.name}._eids")
                else array(col(s"${r.name}._eid"))
              }
              if (parts.isEmpty) array().cast(ArrayType(LongType))
              else flatten(array(parts: _*))
            }
          case "length" =>
            rels.map { r =>
              if (r.isVarLength) col(s"${r.name}._hops")
              else lit(1L)
            }.reduceOption(_ + _).getOrElse(lit(0L))
        }
      // startNode(r)/endNode(r) → the endpoint node's struct column when
      // the rel was bound directed in this query and the endpoint is
      // still in scope; otherwise falls through to the id-returning form
      case Func(fn, Seq(Var(rv)), _)
          if Set("startnode", "endnode")(fn.toLowerCase) &&
             relEndpoints.get(rv).exists { case (s, t) =>
               df.columns.contains(if (fn.toLowerCase == "startnode") s else t) } =>
        val (s, t) = relEndpoints(rv)
        col(if (fn.toLowerCase == "startnode") s else t)
      // Same shape but the endpoint variable was projected away (e.g. by
      // a WITH): error instead of silently degrading to the id-returning
      // fallback — the same expression must not change result type with
      // projection context (r4 advice).
      case Func(fn, Seq(Var(rv)), _)
          if Set("startnode", "endnode")(fn.toLowerCase) &&
             relEndpoints.contains(rv) && df.columns.contains(rv) =>
        val (s, t) = relEndpoints(rv)
        val want = if (fn.toLowerCase == "startnode") s else t
        sys.error(s"$fn($rv): endpoint variable '$want' is no longer in scope — " +
          s"carry it through the WITH (openCypher returns the full node, not an id)")
      // date/datetime from a component map (reference translator.ts:
      // 6430-6520): calendar {year,month,day}, ISO week
      // {year,week,dayOfWeek}, ordinal {year,ordinalDay}, quarter
      // {year,quarter,dayOfQuarter}, or a projection base {date: d};
      // datetime adds {hour,minute,second,millisecond,microsecond}
      case Func(fn, Seq(MapLit(kvs)), _)
          if Set("date", "datetime", "localdatetime")(fn.toLowerCase) &&
             kvs.nonEmpty =>
        val m = kvs.map { case (k, v) => k.toLowerCase -> go(v) }.toMap
        def geti(k: String, d: Int): Column =
          m.get(k).map(_.cast(IntegerType)).getOrElse(lit(d))
        val datePart: Column =
          if (m.contains("week")) {
            // ISO week date: week 1 always contains Jan 4; weekday() is
            // 0=Mon so jan4 - weekday(jan4) is that week's Monday
            val jan4 = make_date(geti("year", 1970), lit(1), lit(4))
            val week1Mon = date_sub(jan4, weekday(jan4))
            date_add(week1Mon,
              (geti("week", 1) - 1) * 7 + (geti("dayofweek", 1) - 1))
          } else if (m.contains("ordinalday")) {
            date_add(make_date(geti("year", 1970), lit(1), lit(1)),
              geti("ordinalday", 1) - 1)
          } else if (m.contains("quarter")) {
            date_add(make_date(geti("year", 1970),
              (geti("quarter", 1) - 1) * 3 + 1, lit(1)),
              geti("dayofquarter", 1) - 1)
          } else if (m.contains("date")) {
            m("date").cast(DateType)
          } else {
            make_date(geti("year", 1970), geti("month", 1), geti("day", 1))
          }
        if (fn.toLowerCase == "date") datePart
        else timestamp_micros(
          unix_micros(datePart.cast(TimestampType)) +
            (geti("hour", 0).cast(LongType) * 3600L +
             geti("minute", 0).cast(LongType) * 60L +
             geti("second", 0).cast(LongType)) * 1000000L +
            geti("millisecond", 0).cast(LongType) * 1000L +
            geti("microsecond", 0).cast(LongType))

      // time-of-day from a component map — TIME values are HH:mm:ss
      // strings (documented divergence, same as the reference's storage)
      case Func(fn, Seq(MapLit(kvs)), _)
          if Set("time", "localtime")(fn.toLowerCase) && kvs.nonEmpty =>
        val m = kvs.map { case (k, v) => k.toLowerCase -> go(v) }.toMap
        def geti(k: String): Column =
          m.get(k).map(_.cast(IntegerType)).getOrElse(lit(0))
        format_string("%02d:%02d:%02d", geti("hour"), geti("minute"), geti("second"))

      // date.truncate('month', d) family (reference translator.ts:9224):
      // Spark date_trunc shares Neo4j's units incl. ISO 'week'
      case Func(fn, args, _)
          if Set("date.truncate", "datetime.truncate",
                 "localdatetime.truncate")(fn.toLowerCase) && args.nonEmpty =>
        val unit = args.head match {
          case Lit(s: String) => s
          case other => sys.error(s"truncate unit must be a string literal, got $other")
        }
        val tc = go(args(1))
        val trunc = date_trunc(unit, tc.cast(TimestampType))
        if (fn.toLowerCase == "date.truncate") trunc.cast(DateType) else trunc

      // clock variants: realtime/statement/transaction are one value in a
      // Spark batch plan (current_* is already fixed per query)
      case Func(fn, Seq(), _)
          if fn.toLowerCase.matches(
            "(date|datetime|localdatetime|time|localtime)\\.(realtime|statement|transaction)") =>
        fn.toLowerCase.split("\\.")(0) match {
          case "date" => current_date()
          case "time" | "localtime" => date_format(current_timestamp(), "HH:mm:ss")
          case _ => current_timestamp()
        }

      // duration value: its ISO 8601 string (the reference's duration
      // representation, executor.ts:4115), written from a component map
      // by CypherFunctions.durationFromComponents (reference
      // translator.ts:8524-8705); any other argument passes through as an
      // ISO string (null propagates)
      case Func(fn, Seq(arg), _) if fn.toLowerCase == "duration" =>
        arg match {
          case MapLit(kvs) =>
            CypherFunctions.durationFromComponents(
              kvs.map { case (k, v) => k.toLowerCase -> go(v) }.toMap)
          case other => go(other)
        }
      // Heterogeneous list literals ride Spark's non-ANSI coercion:
      // [1, 'two'] becomes a STRING array (['1', 'two']) — a documented
      // divergence from the reference's untyped JS arrays (SURVEY §6;
      // values coerce instead of keeping per-element types). Mixes with
      // no common type ([1, 'a', true]) fail at analysis.
      case ListLit(items) => array(items.map(go): _*)
      case MapLit(items) => struct(items.map { case (k, v) => go(v).as(k) }: _*)
      // bare `RETURN p` of a named path: a struct of the same values
      // nodes()/relationships()/length() expose (reference returns a path
      // object with those components)
      case Var(p) if pathBindings.contains(p) && !env.contains(p) &&
          !df.columns.contains(p) =>
        struct(
          go(Func("nodes", Seq(Var(p)))).as("nodes"),
          go(Func("relationships", Seq(Var(p)))).as("relationships"),
          go(Func("length", Seq(Var(p)))).as("length"))

      case Var(n) => env.getOrElse(n, col(n))
      case Prop(b, key) =>
        val bc = go(b)
        dt(bc) match {
          case Some(st: StructType) =>
            if (st.fieldNames.contains(key)) bc.getField(key)
            else lit(null) // Cypher: missing property is null
          case Some(DateType) | Some(TimestampType) | Some(TimestampNTZType) =>
            CypherFunctions.temporalComponent(bc, key).getOrElse(lit(null))
          case Some(_: MapType) => element_at(bc, key)
          // string values: duration accessors (durations ARE ISO strings,
          // like the reference) and temporal accessors on date strings;
          // any other key is a missing property → null
          case Some(StringType) =>
            CypherFunctions.durationComponent(bc, key)
              .orElse(CypherFunctions.temporalComponent(bc, key))
              .getOrElse(lit(null))
          case _ => bc.getField(key)
        }

      case Func(name, args, distinct) =>
        val lname = name.toLowerCase
        if (CypherFunctions.isAggregate(lname)) {
          val star = args.contains(Star)
          // count over an entity counts its identity, never the property
          // payload: _id/_eid is null iff the struct is null, so plain
          // count needs one id column; DISTINCT distinct-hashes the
          // multi-column identity (count_distinct(_id, _label)).
          val cols =
            if (star) Seq.empty
            else if (lname == "count") args.flatMap {
              case Var(n) if !env.contains(n) && identity(df, n).isDefined =>
                if (distinct) identity(df, n).get
                else identity(df, n).get.take(1)
              case a => Seq(go(a))
            }
            else args.map(go)
          CypherFunctions.aggregate(lname, cols, distinct, star)
        } else {
          val cols = args.map(go)
          def argType(i: Int): Option[DataType] =
            if (i < cols.size) dt(cols(i)).orElse(args(i) match {
              case Var(n) => lambdaTypes.get(n)
              case _ => None
            })
            else None
          // a parameter's value shapes the plan: not prepared
          def argLit(i: Int): Option[Any] =
            if (i < args.size) args(i) match {
              case Lit(v) => Some(v)
              case Neg(Lit(v: Long)) => Some(-v)
              case Param(n) =>
                valueBound = true
                Some(params.getOrElse(n, sys.error(s"missing parameter $$$n")))
              case _ => None
            }
            else None
          CypherFunctions.scalar(lname, cols, argType, argLit)
        }

      // duration ± duration, temporal ± duration, and duration + temporal
      // (duration on the LEFT) — chosen by syntax, so each would
      // otherwise fall into string concat silently
      case Bin(op @ ("+" | "-"), l, r) if isDurationExpr(r) =>
        val sign = if (op == "+") 1 else -1
        if (isDurationExpr(l)) CypherFunctions.addDurations(go(l), go(r), sign)
        else {
          val lc = go(l)
          CypherFunctions.addDuration(lc, dt(lc), go(r), sign)
        }
      case Bin("+", l, r) if isDurationExpr(l) =>
        val rc = go(r)
        CypherFunctions.addDuration(rc, dt(rc), go(l), 1)

      // duration ordering: lexicographic string comparison would order
      // "P10D" before "P2D" — compare total magnitude instead
      case Bin(op, l, r) if Set("<", "<=", ">", ">=")(op) &&
          (isDurationExpr(l) || isDurationExpr(r)) =>
        val lm = CypherFunctions.durationTotalMicros(go(l))
        val rm = CypherFunctions.durationTotalMicros(go(r))
        op match {
          case "<" => lm < rm
          case "<=" => lm <= rm
          case ">" => lm > rm
          case _ => lm >= rm
        }

      // map equality: Cypher maps compare by key set + per-key values;
      // Spark compares structs positionally ignoring field names, so
      // {a:1} = {b:1} would wrongly be true. Canonicalize both literal
      // maps to sorted key order and short-circuit mismatched key sets.
      case Bin(op @ ("=" | "<>"), l: MapLit, r: MapLit) =>
        def canon(e: Expr): Expr = e match {
          case MapLit(kvs) => MapLit(kvs.map { case (k, v) => k -> canon(v) }.sortBy(_._1))
          case ListLit(items) => ListLit(items.map(canon))
          case other => other
        }
        val (lm, rm) = (canon(l).asInstanceOf[MapLit], canon(r).asInstanceOf[MapLit])
        if (lm.items.map(_._1) != rm.items.map(_._1)) lit(op == "<>")
        else if (op == "=") go(lm) === go(rm)
        else go(lm) =!= go(rm)

      case Bin(op, l, r) =>
        val lc = go(l)
        lazy val rc = go(r)
        op match {
          case "+" =>
            // type-adaptive at analysis time (string/list/element/number)
            // — works inside HOF lambdas where dt() can't see a type
            graft.functions.VectorExprs.plus(lc, rc)
          case "-" => lc - rc
          case "*" => lc * rc
          case "/" =>
            (dt(lc), dt(rc)) match {
              case (Some(a), Some(b)) if isIntegral(a) && isIntegral(b) =>
                (lc / rc).cast(LongType) // Cypher integer division truncates
              case _ => lc / rc
            }
          case "%" => lc % rc
          case "^" => pow(lc.cast(DoubleType), rc.cast(DoubleType))
          case "=" => lc === rc
          case "<>" => lc =!= rc
          case "<" => lc < rc
          case "<=" => lc <= rc
          case ">" => lc > rc
          case ">=" => lc >= rc
          case "AND" => lc && rc
          case "OR" => lc || rc
          case "XOR" => lc =!= rc
          case "IN" =>
            r match {
              // TCK: `x IN []` is false for ANY x, including null
              case ListLit(Seq()) => lit(false)
              // TCK: `x IN null` is null (array_contains on a VOID
              // literal would fail analysis)
              case Lit(null) => lit(null).cast(BooleanType)
              case ListLit(items) if items.forall(_.isInstanceOf[Lit]) =>
                lc.isin(items.collect { case Lit(v) => v }: _*)
              case _ => array_contains(rc, lc)
            }
          case "STARTS" => lc.startsWith(rc)
          case "ENDS" => lc.endsWith(rc)
          case "CONTAINS" => lc.contains(rc)
          case "=~" =>
            // Cypher =~ matches the ENTIRE string (reference:
            // executor.ts regex handling); Spark rlike is a partial match
            r match {
              case Lit(s: String) => lc.rlike(s"^(?:$s)$$")
              case _ => regexp_like(lc, concat(lit("^(?:"), rc, lit(")$")))
            }
          case other => sys.error(s"Unknown operator: $other")
        }

      case Not(x) => !go(x)
      case Neg(x) => -go(x)
      case IsNull(x, negated) => if (negated) go(x).isNotNull else go(x).isNull
      case LabelPred(v, label) =>
        val ent = env.getOrElse(v, col(v))
        val primary = ent.getField(LABEL) === lit(label)
        // multi-label shim: also true when the label is in the entity's
        // `_labels` array (field exists only on frames that saw
        // SET n:Label / CREATE (n:A:B) — schema-gated to keep plain
        // graphs' plans untouched)
        dt(ent) match {
          case Some(st: StructType) if st.fieldNames.contains(PropertyGraph.LABELS) =>
            primary ||
              coalesce(array_contains(ent.getField(PropertyGraph.LABELS), lit(label)), lit(false))
          case _ => primary
        }

      case CaseExpr(subject, whens, otherwise) =>
        val subj = subject.map(go)
        // cast conditions to boolean: a literal-null condition is VOID in
        // Catalyst and fails analysis; null-as-false matches Cypher
        val first = whens.head
        val firstCond =
          subj.map(_ === go(first._1)).getOrElse(go(first._1)).cast(BooleanType)
        val start = when(firstCond, go(first._2))
        val chained = whens.tail.foldLeft(start) { case (acc, (w, t)) =>
          val cond = subj.map(_ === go(w)).getOrElse(go(w)).cast(BooleanType)
          acc.when(cond, go(t))
        }
        otherwise.map(o => chained.otherwise(go(o))).getOrElse(chained)

      // Peephole: nodes(p)[k] / relationships(p)[k] with a literal index
      // on a fixed-length in-scope path reads the k-th entity struct
      // column directly — no per-row array materialization, and it dodges
      // a Spark whole-stage-codegen defect (janino "not an rvalue") in
      // the CreateArray(structs) → GetArrayItem → GetStructField chain
      // that otherwise drops the projection to interpreter mode. Field
      // access on the bare struct equals access on the padded array
      // element: a field the entity lacks resolves to null either way
      // (see the StructType case under Index below).
      case Index(Func(fn0, Seq(Var(p)), _), Lit(i: Long))
          if pathBindings.contains(p) &&
             Set("nodes", "relationships")(fn0.toLowerCase) &&
             !pathBindings(p)._2.exists(_.isVarLength) && {
               val (nv, rl) = pathBindings(p)
               val vars = if (fn0.toLowerCase == "nodes") nv else rl.map(_.name)
               vars.forall(df.columns.contains)
             } =>
        val (nv, rl) = pathBindings(p)
        val vars = if (fn0.toLowerCase == "nodes") nv else rl.map(_.name)
        val k = if (i >= 0) i.toInt else vars.size + i.toInt
        if (k >= 0 && k < vars.size) col(vars(k)) else lit(null)

      case Index(b, idx) =>
        val bc = go(b)
        idx match {
          case Lit(s: String) =>
            dt(bc) match {
              case Some(_: MapType) => element_at(bc, s)
              // Cypher: accessing a missing map key is null, not an error
              case Some(st: StructType) if !st.fieldNames.contains(s) => lit(null)
              case _ => bc.getField(s)
            }
          // a literal index n >= 0 is getItem (0-based): the optimizer
          // folds it over a list literal, where element_at's non-nullable
          // result generates code janino rejects (it assigns an undeclared
          // isNull) — Spark then falls back to interpreted evaluation
          case Lit(i: Long) =>
            if (i >= 0) bc.getItem(i.toInt) else element_at(bc, i.toInt)
          case dyn =>
            val ic = go(dyn)
            element_at(bc, when(ic >= 0, ic + 1).otherwise(ic).cast(IntegerType))
        }

      case Slice(b, from, to) =>
        val bc = go(b)
        val n = size(bc)
        def norm(c: Column): Column = when(c < 0, n + c).otherwise(c)
        val f = from.map(x => norm(go(x))).getOrElse(lit(0))
        val t = to.map(x => norm(go(x))).getOrElse(n.cast(LongType))
        slice(bc, (f + 1).cast(IntegerType),
          greatest(t - f, lit(0)).cast(IntegerType))

      // TCK: comprehensions/quantifiers/reduce over a null list are null
      // (a VOID literal can't feed the higher-order functions)
      case Comprehension(_, Lit(null), _, _) => lit(null)
      case Quantifier(_, _, Lit(null), _) => lit(null).cast(BooleanType)
      case ReduceExpr(_, _, _, Lit(null), _) => lit(null)

      case Comprehension(v, listE, whereE, projE) =>
        val listC = go(listE)
        // a null-typed list (e.g. a missing property) folds to null —
        // same Cypher rule as the literal-null case above, and a VOID
        // column can't feed the higher-order functions
        val listT = dtypeOf(df, listC)
        if (listT.contains(NullType)) lit(null)
        else {
          val elemT = listT.collect { case ArrayType(et, _) => et }
          withLambdaType(v, elemT) {
            val afterWhere = whereE match {
              case Some(w) => filter(listC, x => compileExpr(df, w, env + (v -> x)))
              case None => listC
            }
            projE match {
              case Some(pr) => transform(afterWhere, x => compileExpr(df, pr, env + (v -> x)))
              case None => afterWhere
            }
          }
        }

      case Quantifier(kind, v, listE, whereE) =>
        val listC = go(listE)
        val listT = dtypeOf(df, listC)
        if (listT.contains(NullType)) lit(null).cast(BooleanType)
        else withLambdaType(v, listT.collect { case ArrayType(et, _) => et }) {
          def pred(x: Column) = compileExpr(df, whereE, env + (v -> x))
          kind match {
            case "all" => forall(listC, pred _)
            case "any" => exists(listC, pred _)
            case "none" => !exists(listC, pred _)
            case "single" => size(filter(listC, pred _)) === 1
          }
        }

      case ReduceExpr(acc, init, v, listE, projE) =>
        val listC = go(listE)
        val listT = dtypeOf(df, listC)
        if (listT.contains(NullType)) lit(null)
        else withLambdaType(v, listT.collect { case ArrayType(et, _) => et }) {
          aggregate(listC, go(init),
            (a, x) => compileExpr(df, projE, env + (acc -> a) + (v -> x)))
        }

      // map projection: struct of selected props / computed entries;
      // later entries override earlier ones, `.*` expands non-internal
      // fields, missing props are null (Cypher semantics)
      case MapProj(v, props, entries, star) =>
        val base = env.getOrElse(v, col(v))
        val fieldNames = dt(base) match {
          case Some(st: StructType) => st.fieldNames.toSeq
          case _ => Seq.empty[String]
        }
        val ordered = scala.collection.mutable.LinkedHashMap[String, Column]()
        if (star)
          fieldNames.filterNot(_.startsWith("_")).foreach(f => ordered(f) = base.getField(f))
        props.foreach(p =>
          ordered(p) = if (fieldNames.contains(p)) base.getField(p) else lit(null))
        entries.foreach { case (k, ex) => ordered(k) = go(ex) }
        require(ordered.nonEmpty, s"map projection $v{} selects nothing")
        // Cypher: u{.name} is NULL when u is null (e.g. from OPTIONAL
        // MATCH), not a struct of null fields (r4 advice).
        when(base.isNull, lit(null))
          .otherwise(struct(ordered.map { case (k, c) => c.as(k) }.toSeq: _*))

      case _: PatternComp =>
        sys.error("pattern comprehensions are only supported in WITH/RETURN items")

      case p: PatternPred =>
        sys.error("pattern predicates are only supported as top-level WHERE conjuncts")
    }
  }
}

object CypherCompiler {
  /** Clause-pipeline state: the bound-variables frame plus node variables
    * with a statically-known single label (seeds [[PatternMatcher]] label
    * inference across clauses).
    */
  /** `staticallyEmpty`: a non-optional MATCH in this context required a
    * label combination NO frame can satisfy — the frame is provably
    * zero-row at compile time. The writer uses this to turn
    * SET/DELETE/CREATE-edge over such contexts into no-ops (reference
    * parity: writes over an empty match succeed and do nothing) instead
    * of failing its static label resolution.
    */
  final case class Ctx(df: DataFrame, labels: Map[String, String],
      staticallyEmpty: Boolean = false)

  /** Plans a snapshot's [[PreparedPlans]] keeps, least recently used
    * evicted first. */
  private[graft] val MaxPrepared = 64

  /** What a prepared plan depends on besides the snapshot
    * ([[CypherCompiler.compileQuery]]): a parameter's type is None when
    * its value is not a scalar. */
  private[graft] final case class PlanKey(session: SparkSession, query: Query,
      paramTypes: Map[String, Option[DataType]], timeZone: String, ansi: Boolean,
      caseSensitive: Boolean)

  /** A prepared read: the analyzed plan, the session its Dataset ran on,
    * and the [[ParamLiteral]] scope of its parameters. */
  private[graft] final case class Prepared(plan: LogicalPlan, session: SparkSession, scope: Long)

  /** One graph snapshot's prepared read plans, per [[PlanKey]]. */
  private[graft] final class PreparedPlans {
    private val lru = new java.util.LinkedHashMap[PlanKey, Prepared](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[PlanKey, Prepared]): Boolean =
        size() > MaxPrepared
    }
    def get(k: PlanKey): Option[Prepared] = synchronized(Option(lru.get(k)))
    def put(k: PlanKey, v: Prepared): Unit = synchronized(lru.put(k, v))
  }
}
