package graft.cypher

/** Cypher query AST (graph patterns, clauses, expressions).
  *
  * Reference analog: the clause/expression AST in
  * /root/reference/src/parser.ts:7-180 (interfaces `CypherQuery`,
  * `MatchClause`, `Expression`, ...). Re-expressed as Scala case classes.
  * The pattern types are shared by every entry point: Cypher strings and
  * [[graft.graph.PropertyGraph.matchPattern]] pattern strings are both
  * parsed by [[CypherParser]] and compiled by
  * [[graft.graph.PatternMatcher]].
  */
object Ast {

  sealed trait Dir
  case object Out extends Dir        // -[]->
  case object In extends Dir         // <-[]-
  case object Undirected extends Dir // -[]-

  /** `label` is the PRIMARY label (the frame the node lives in when
    * created); `secondary` are additional labels from a `:A:B:C` chain —
    * the multi-label shim (see [[graft.graph.PropertyGraph.LABELS]]). In
    * MATCH position every listed label must hold (primary OR registered
    * secondary of the candidate frame).
    *
    * Property values are literals, or the [[Param]]/[[Expr]] the parser
    * leaves for the compiler to resolve.
    */
  final case class NodePat(name: String, anonymous: Boolean,
      label: Option[String], props: Seq[(String, Any)],
      secondary: Seq[String] = Seq.empty) {
    /** Every label this pattern requires. */
    def allLabels: Set[String] = label.toSet ++ secondary
  }

  final case class RelPat(name: String, anonymous: Boolean,
      relType: Option[String], props: Seq[(String, Any)], dir: Dir,
      minHops: Int, maxHops: Option[Int], isVarLength: Boolean)

  /** nodes.size == rels.size + 1 */
  final case class PathPat(nodes: Vector[NodePat], rels: Vector[RelPat])

  /** An expression tree. Every rewrite and search over it goes through
    * [[mapChildren]] / [[children]], so a new node kind is walked
    * everywhere once it is listed here. Pattern subqueries
    * ([[PatternPred]], [[PatternComp]]) are leaves: their inner
    * expressions are scoped to the pattern.
    */
  sealed trait Expr {
    /** This node with `f` applied to each direct child expression. */
    def mapChildren(f: Expr => Expr): Expr = this match {
      case ListLit(xs) => ListLit(xs.map(f))
      case MapLit(kvs) => MapLit(kvs.map { case (k, v) => k -> f(v) })
      case Prop(b, k) => Prop(f(b), k)
      case Func(n, args, d) => Func(n, args.map(f), d)
      case Bin(op, l, r) => Bin(op, f(l), f(r))
      case Not(x) => Not(f(x))
      case Neg(x) => Neg(f(x))
      case IsNull(x, n) => IsNull(f(x), n)
      case CaseExpr(s, ws, o) =>
        CaseExpr(s.map(f), ws.map { case (a, b) => (f(a), f(b)) }, o.map(f))
      case Index(b, i) => Index(f(b), f(i))
      case Slice(b, lo, hi) => Slice(f(b), lo.map(f), hi.map(f))
      case Comprehension(v, l, w, p) => Comprehension(v, f(l), w.map(f), p.map(f))
      case Quantifier(k, v, l, w) => Quantifier(k, v, f(l), f(w))
      case ReduceExpr(a, init, v, l, p) => ReduceExpr(a, f(init), v, f(l), f(p))
      case MapProj(v, ps, es, s) => MapProj(v, ps, es.map { case (k, x) => k -> f(x) }, s)
      case leaf => leaf
    }

    /** The direct child expressions, in [[mapChildren]] order. */
    def children: Seq[Expr] = {
      val out = Seq.newBuilder[Expr]
      mapChildren { c => out += c; c }
      out.result()
    }

    /** Top-down rewrite: `pf` replaces the nodes it is defined at (their
      * subtrees are not visited); every other node is rebuilt over its
      * rewritten children.
      */
    def transform(pf: PartialFunction[Expr, Expr]): Expr =
      pf.applyOrElse(this, (e: Expr) => e.mapChildren(_.transform(pf)))
  }

  /** `*` inside count(*). */
  case object Star extends Expr
  final case class Lit(v: Any) extends Expr
  /** `$name` — resolved from the params map at compile time. */
  final case class Param(name: String) extends Expr
  final case class ListLit(items: Seq[Expr]) extends Expr
  final case class MapLit(items: Seq[(String, Expr)]) extends Expr
  final case class Var(name: String) extends Expr
  final case class Prop(base: Expr, key: String) extends Expr
  final case class Func(name: String, args: Seq[Expr], distinct: Boolean = false) extends Expr
  /** op ∈ + - * / % ^ = <> < <= > >= AND OR XOR IN STARTS ENDS CONTAINS =~ */
  final case class Bin(op: String, l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  final case class CaseExpr(subject: Option[Expr], whens: Seq[(Expr, Expr)],
      otherwise: Option[Expr]) extends Expr
  final case class Index(base: Expr, idx: Expr) extends Expr
  final case class Slice(base: Expr, from: Option[Expr], to: Option[Expr]) extends Expr
  /** `[x IN list WHERE p | e]` */
  final case class Comprehension(v: String, list: Expr, where: Option[Expr],
      proj: Option[Expr]) extends Expr
  /** all / any / none / single `(x IN list WHERE p)` */
  final case class Quantifier(kind: String, v: String, list: Expr, where: Expr) extends Expr
  /** `reduce(acc = init, x IN list | e)` */
  final case class ReduceExpr(acc: String, init: Expr, v: String, list: Expr,
      proj: Expr) extends Expr
  /** `exists((a)-[:T]->(b))` / bare pattern predicate in WHERE → semi/anti join. */
  final case class PatternPred(paths: Vector[PathPat], negated: Boolean) extends Expr
  /** `[(u)-[:T]->(i) WHERE p | e]` — correlated collect over a pattern
    * (reference: parser.ts:3163-3266). Compiles to groupBy + collect_list
    * joined back on the bound variables. */
  final case class PatternComp(path: PathPat, where: Option[Expr], proj: Expr) extends Expr
  /** `u{.name, .*, total: expr}` map projection (reference: parser.ts:3231). */
  final case class MapProj(v: String, props: Seq[String],
      entries: Seq[(String, Expr)], star: Boolean) extends Expr
  /** label predicate `n:Label` in WHERE. */
  final case class LabelPred(v: String, label: String) extends Expr

  final case class Item(expr: Expr, alias: Option[String], text: String) {
    def name: String = alias.getOrElse(text)
  }
  final case class SortItem(expr: Expr, asc: Boolean, text: String)
  final case class Projection(items: Seq[Item], distinct: Boolean,
      orderBy: Seq[SortItem], skip: Option[Expr], limit: Option[Expr],
      where: Option[Expr])

  sealed trait Clause
  final case class MatchClause(paths: Vector[PathPat], optional: Boolean,
      where: Option[Expr],
      /** path variable -> index into `paths` (`MATCH p = (a)-->(b)`). */
      pathVars: Map[String, Int] = Map.empty) extends Clause
  final case class WithClause(p: Projection) extends Clause
  final case class UnwindClause(list: Expr, alias: String) extends Clause
  /** CALL db.labels() YIELD label — catalog procedures only. */
  final case class CallClause(procedure: String, yields: Seq[String],
      where: Option[Expr] = None) extends Clause
  final case class ReturnClause(p: Projection) extends Clause

  // ---- write clauses (compiled by CypherWriter) ----
  final case class CreateClause(paths: Vector[PathPat]) extends Clause
  /** items are (Prop(Var(v), key) -> value). */
  final case class MergeClause(path: PathPat, onCreate: Seq[(Expr, Expr)],
      onMatch: Seq[(Expr, Expr)]) extends Clause
  final case class SetClause(items: Seq[(Expr, Expr)]) extends Clause
  final case class DeleteClause(vars: Seq[String], detach: Boolean) extends Clause
  /** items are Prop(Var(v), key). */
  final case class RemoveClause(items: Seq[Expr]) extends Clause

  final case class SingleQuery(clauses: Seq[Clause])
  /** parts.size == unionAll.size + 1; unionAll(i) is true for UNION ALL. */
  final case class Query(parts: Seq[SingleQuery], unionAll: Seq[Boolean])
}
