package graft.cypher

import Lexer._
import Ast._

/** Recursive-descent Cypher parser (read-query subset).
  *
  * Reference analog: /root/reference/src/parser.ts — clause loop around
  * parser.ts:190-382, expression precedence chain around
  * parser.ts:2920-3220 (orExpression → xorExpression → andExpression →
  * notExpression → comparison → addSub → mulDiv → power → unary →
  * postfix → atom), CASE at parser.ts:3078, list comprehensions at
  * parser.ts:3220. Grammar is the public openCypher grammar; the
  * implementation below is original.
  *
  * Supported clauses: MATCH / OPTIONAL MATCH (+WHERE), WITH (+WHERE),
  * UNWIND, RETURN, ORDER BY / SKIP / LIMIT, UNION [ALL],
  * CALL db.labels()/db.relationshipTypes() YIELD.
  */
object CypherParser {

  def parse(query: String): Query = new P(Lexer.lex(query), query).parseQuery()

  /** Parse a bare pattern — comma-separated paths and nothing after them
    * (the [[graft.graph.PropertyGraph.matchPattern]] entry point).
    */
  def parsePattern(pattern: String): Vector[PathPat] =
    new P(Lexer.lex(pattern), pattern).parsePattern()

  private val aggNames = Set("count", "sum", "avg", "min", "max", "collect",
    "stdev", "stdevp", "percentilecont", "percentiledisc")

  /** Is this function name itself an aggregate? */
  def isAggFunc(name: String): Boolean = aggNames(name.toLowerCase)

  /** Does the expression contain an aggregate call (at any depth)? */
  def containsAgg(e: Expr): Boolean = e match {
    case Func(n, _, _) if isAggFunc(n) => true
    case _ => e.children.exists(containsAgg)
  }

  private final class P(ts: Vector[Token], src: String) {
    private var i = 0
    private var anonCount = 0

    private def cur: Token = ts(i)
    private def ahead(k: Int): Token = ts(math.min(i + k, ts.length - 1))
    private def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"Cypher parse error at ${cur.pos} ('${cur.text}'): $msg in: $src")

    private def isKw(s: String): Boolean = cur.is(s) && cur.kind == TIdent
    private def tryTok(s: String): Boolean = if (cur.is(s)) { i += 1; true } else false
    private def expect(s: String): Unit = if (!tryTok(s)) fail(s"expected '$s'")
    private def ident(): String = {
      if (cur.kind != TIdent) fail("expected identifier")
      val t = cur.text; i += 1; t
    }
    private def fresh(): String = { anonCount += 1; s"__anon$anonCount" }

    // ---- query / clauses ------------------------------------------------

    def parseQuery(): Query = {
      val parts = Vector.newBuilder[SingleQuery]
      val alls = Vector.newBuilder[Boolean]
      parts += singleQuery()
      while (tryTok("UNION")) {
        alls += tryTok("ALL")
        parts += singleQuery()
      }
      if (cur.kind != TEof) fail("trailing input")
      Query(parts.result(), alls.result())
    }

    def parsePattern(): Vector[PathPat] = {
      val ps = paths()
      if (cur.kind != TEof) fail("trailing input")
      ps
    }

    private def singleQuery(): SingleQuery = {
      val clauses = Vector.newBuilder[Clause]
      var done = false
      while (!done) {
        if (isKw("MATCH")) { i += 1; clauses += matchClause(optional = false) }
        else if (isKw("OPTIONAL")) {
          i += 1; expect("MATCH"); clauses += matchClause(optional = true)
        }
        else if (isKw("WITH")) { i += 1; clauses += WithClause(projection(withWhere = true)) }
        else if (isKw("UNWIND")) {
          i += 1
          val e = expr()
          expect("AS")
          clauses += UnwindClause(e, ident())
        }
        else if (isKw("CALL")) { i += 1; clauses += callClause() }
        else if (isKw("CREATE")) {
          i += 1
          clauses += CreateClause(paths())
        }
        else if (isKw("MERGE")) {
          i += 1
          val p = path()
          var onCreate: Seq[(Expr, Expr)] = Seq.empty
          var onMatch: Seq[(Expr, Expr)] = Seq.empty
          var more = true
          while (more && isKw("ON")) {
            i += 1
            if (tryTok("CREATE")) { expect("SET"); onCreate = onCreate ++ setItems() }
            else if (tryTok("MATCH")) { expect("SET"); onMatch = onMatch ++ setItems() }
            else more = false
          }
          clauses += MergeClause(p, onCreate, onMatch)
        }
        else if (isKw("SET")) { i += 1; clauses += SetClause(setItems()) }
        else if (isKw("DETACH")) {
          i += 1; expect("DELETE")
          clauses += DeleteClause(varList(), detach = true)
        }
        else if (isKw("DELETE")) { i += 1; clauses += DeleteClause(varList(), detach = false) }
        else if (isKw("REMOVE")) {
          i += 1
          // item: `v.prop` (null the property) or `v:Label` (remove the
          // matched rows from that label)
          def removeItem(): Expr = {
            val v = ident()
            if (tryTok(":")) LabelPred(v, ident())
            else { expect("."); Prop(Var(v), ident()) }
          }
          val items = Vector.newBuilder[Expr]
          items += removeItem()
          while (tryTok(",")) items += removeItem()
          clauses += RemoveClause(items.result())
        }
        else if (isKw("RETURN")) {
          i += 1; clauses += ReturnClause(projection(withWhere = false)); done = true
        }
        else done = true
      }
      SingleQuery(clauses.result())
    }

    private def setItems(): Seq[(Expr, Expr)] = {
      val items = Vector.newBuilder[(Expr, Expr)]
      def one(): Unit = {
        // `(n).prop` parenthesized target, reference parity
        val v =
          if (tryTok("(")) { val n = ident(); expect(")"); n }
          else ident()
        if (tryTok("+=")) items += (Var(v): Expr) -> expr() // map merge
        else if (tryTok(":")) {
          // SET n:Label1:Label2 — multi-label shim: labels beyond the
          // node's primary go into its `_labels` array (reference:
          // translator.ts:921-933 SET-labels over label arrays).
          // Marker Func consumed by CypherWriter.applySet.
          val ls = Vector.newBuilder[Expr]
          ls += Lit(ident())
          while (tryTok(":")) ls += Lit(ident())
          items += (Var(v): Expr) -> Func("__set_labels", ls.result())
        } else if (tryTok("=")) {
          // SET n = {map} — REPLACE all properties (reference: SET map
          // assignment); marker Func consumed by CypherWriter.applySet
          items += (Var(v): Expr) -> Func("__set_replace", Seq(expr()))
        } else {
          expect(".")
          val target = Prop(Var(v), ident())
          expect("=")
          items += (target: Expr) -> expr()
        }
      }
      one()
      while (tryTok(",")) one()
      items.result()
    }

    /** `v.prop` (or `(v).prop`, reference parity) target of SET/REMOVE. */
    private def postfixVar(): Expr = {
      val v =
        if (tryTok("(")) { val n = ident(); expect(")"); n }
        else ident()
      expect(".")
      Prop(Var(v), ident())
    }

    private def varList(): Seq[String] = {
      val vs = Vector.newBuilder[String]
      vs += ident()
      while (tryTok(",")) vs += ident()
      vs.result()
    }

    private def matchClause(optional: Boolean): MatchClause = {
      val paths = Vector.newBuilder[PathPat]
      val pathVars = Map.newBuilder[String, Int]
      var idx = 0
      def one(): Unit = {
        // `p = (a)-->(b)` named path
        if (cur.kind == TIdent && ahead(1).is("=") && ahead(1).kind == TPunct) {
          pathVars += (ident() -> idx)
          expect("=")
        }
        paths += path()
        idx += 1
      }
      one()
      while (tryTok(",")) one()
      val where = if (tryTok("WHERE")) Some(expr()) else None
      MatchClause(paths.result(), optional, where, pathVars.result())
    }

    private def callClause(): CallClause = {
      // CALL db.labels() [YIELD label] — dotted procedure name
      val sb = new StringBuilder(ident())
      while (tryTok(".")) { sb.append('.').append(ident()) }
      expect("("); expect(")")
      val yields = Vector.newBuilder[String]
      var where: Option[Expr] = None
      if (tryTok("YIELD")) {
        yields += ident()
        while (tryTok(",")) yields += ident()
        // CALL … YIELD col WHERE pred — filter on the yielded columns
        if (tryTok("WHERE")) where = Some(expr())
      }
      CallClause(sb.toString, yields.result(), where)
    }

    private def projection(withWhere: Boolean): Projection = {
      val distinct = tryTok("DISTINCT")
      val items = Vector.newBuilder[Item]
      items += item()
      while (tryTok(",")) items += item()
      val order = Vector.newBuilder[SortItem]
      if (isKw("ORDER")) {
        i += 1; expect("BY")
        order += sortItem()
        while (tryTok(",")) order += sortItem()
      }
      val skip = if (tryTok("SKIP")) Some(expr()) else None
      val limit = if (tryTok("LIMIT")) Some(expr()) else None
      val where = if (withWhere && tryTok("WHERE")) Some(expr()) else None
      Projection(items.result(), distinct, order.result(), skip, limit, where)
    }

    private def item(): Item = {
      val start = cur.pos
      if (cur.is("*") && cur.kind == TPunct) { i += 1; return Item(Star, None, "*") }
      val e = expr()
      val end = if (i > 0) ts(i - 1).pos + ts(i - 1).text.length else start
      val text = src.substring(start, math.min(end, src.length)).trim
      val alias = if (tryTok("AS")) Some(ident()) else None
      Item(e, alias, text)
    }

    private def sortItem(): SortItem = {
      val start = cur.pos
      val e = expr()
      val end = if (i > 0) ts(i - 1).pos + ts(i - 1).text.length else start
      val text = src.substring(start, math.min(end, src.length)).trim
      val asc =
        if (tryTok("DESC") || tryTok("DESCENDING")) false
        else { tryTok("ASC"); tryTok("ASCENDING"); true }
      SortItem(e, asc, text)
    }

    // ---- patterns -------------------------------------------------------
    //
    //   paths := path (',' path)*
    //   path  := node (rel node)*
    //   node  := '(' [var] [':' label (':' label)*] [props] ')'
    //   rel   := ('-' | '<-') ['[' [var] [':' type ('|' [':'] type)*]
    //            ['*' hops] [props] ']'] ('-' | '->')
    //   hops  := INT ['..' [INT]] | '..' INT | (empty = 1..)

    private def paths(): Vector[PathPat] = {
      val ps = Vector.newBuilder[PathPat]
      ps += path()
      while (tryTok(",")) ps += path()
      ps.result()
    }

    private def path(): PathPat = {
      val ns = Vector.newBuilder[NodePat]
      val rs = Vector.newBuilder[RelPat]
      ns += nodePat()
      while (cur.is("-") || cur.is("<")) {
        rs += relPat()
        ns += nodePat()
      }
      PathPat(ns.result(), rs.result())
    }

    private def nodePat(): NodePat = {
      expect("(")
      val name = if (cur.kind == TIdent && !cur.is(")") ) Some(ident()) else None
      val label = if (tryTok(":")) Some(ident()) else None
      // `:A:B:C` — first label is primary, the rest are secondaries
      // (multi-label shim, see PropertyGraph.LABELS)
      val secondary = Vector.newBuilder[String]
      while (label.isDefined && cur.is(":") && cur.kind == TPunct) { i += 1; secondary += ident() }
      val ps = propMap()
      expect(")")
      name match {
        case Some(n) => NodePat(n, anonymous = false, label, ps, secondary.result())
        case None => NodePat(fresh(), anonymous = true, label, ps, secondary.result())
      }
    }

    private def relPat(): RelPat = {
      val leftArrow = if (tryTok("<")) { expect("-"); true } else { expect("-"); false }
      var name: Option[String] = None
      var relType: Option[String] = None
      var ps: Seq[(String, Any)] = Seq.empty
      var minH = 1
      var maxH: Option[Int] = Some(1)
      var isVar = false
      if (tryTok("[")) {
        if (cur.kind == TIdent) name = Some(ident())
        // `:A|B` or `:A|:B` alternation, kept as one pipe-joined string,
        // expanded by PropertyGraph.edgeTypesFor
        relType = if (tryTok(":")) {
          val types = Vector.newBuilder[String]
          types += ident()
          while (tryTok("|")) { tryTok(":"); types += ident() }
          Some(types.result().mkString("|"))
        } else None
        if (tryTok("*")) {
          isVar = true
          if (cur.kind == TInt) {
            minH = cur.text.toInt; i += 1
            maxH = Some(minH)
            if (tryTok("..")) {
              maxH = if (cur.kind == TInt) { val v = cur.text.toInt; i += 1; Some(v) } else None
            }
          } else if (tryTok("..")) {
            minH = 1
            maxH = if (cur.kind == TInt) { val v = cur.text.toInt; i += 1; Some(v) } else None
          } else { minH = 1; maxH = None }
        }
        ps = propMap()
        expect("]")
      }
      expect("-")
      val rightArrow = tryTok(">")
      val dir: Dir =
        // `<-->` matches either direction (reference parity)
        if (leftArrow && rightArrow) Undirected
        else if (leftArrow) In
        else if (rightArrow) Out
        else Undirected
      RelPat(name.getOrElse(fresh()), name.isEmpty, relType, ps, dir, minH, maxH, isVar)
    }

    /** Pattern property maps: literals and parameters everywhere; full
      * expressions are carried through for CREATE/MERGE (per-row values
      * from UNWIND/MATCH rows) and rejected at compile time for MATCH
      * (where expressions belong in WHERE — the reference's fast path
      * has the same restriction).
      */
    private def propMap(): Seq[(String, Any)] = {
      if (!tryTok("{")) return Seq.empty
      val buf = Vector.newBuilder[(String, Any)]
      if (!tryTok("}")) {
        var done = false
        while (!done) {
          val k = ident()
          expect(":")
          val v = expr() match {
            case Lit(x) => x
            case Neg(Lit(x: Long)) => -x
            case Neg(Lit(x: Double)) => -x
            case p: Param => p // resolved against the params map at compile
            case other => other // Expr — write clauses compile it per row
          }
          buf += (k -> v)
          if (!tryTok(",")) { expect("}"); done = true }
        }
      }
      buf.result()
    }

    // ---- expressions ----------------------------------------------------

    def expr(): Expr = orExpr()

    private def orExpr(): Expr = {
      var e = xorExpr()
      while (tryTok("OR")) e = Bin("OR", e, xorExpr())
      e
    }
    private def xorExpr(): Expr = {
      var e = andExpr()
      while (tryTok("XOR")) e = Bin("XOR", e, andExpr())
      e
    }
    private def andExpr(): Expr = {
      var e = notExpr()
      while (tryTok("AND")) e = Bin("AND", e, notExpr())
      e
    }
    private def notExpr(): Expr =
      if (tryTok("NOT")) Not(notExpr()) else comparison()

    private def comparison(): Expr = {
      var e = addExpr()
      var result: Expr = e
      var chained = false
      var continue = true
      while (continue) {
        if (cur.kind == TPunct && Set("=", "<>", "!=", "<", "<=", ">", ">=")(cur.text)) {
          val op = if (cur.text == "!=") "<>" else cur.text
          i += 1
          val r = addExpr()
          val cmp = Bin(op, e, r)
          result = if (chained) Bin("AND", result, cmp) else cmp
          chained = true
          e = r
        } else if (isKw("IS")) {
          i += 1
          val negated = tryTok("NOT")
          expect("NULL")
          result = IsNull(e, negated)
          continue = false
        } else if (isKw("IN")) {
          i += 1
          result = Bin("IN", e, addExpr())
          continue = false
        } else if (isKw("STARTS")) {
          i += 1; expect("WITH")
          result = Bin("STARTS", e, addExpr()); continue = false
        } else if (isKw("ENDS")) {
          i += 1; expect("WITH")
          result = Bin("ENDS", e, addExpr()); continue = false
        } else if (isKw("CONTAINS")) {
          i += 1
          result = Bin("CONTAINS", e, addExpr()); continue = false
        } else if (cur.is("=~")) {
          i += 1
          result = Bin("=~", e, addExpr()); continue = false
        } else if (isKw("NOT") && ahead(1).is("IN")) {
          i += 2
          result = Not(Bin("IN", e, addExpr())); continue = false
        } else continue = false
      }
      result
    }

    private def addExpr(): Expr = {
      var e = mulExpr()
      var continue = true
      while (continue) {
        if (cur.is("+") && cur.kind == TPunct) { i += 1; e = Bin("+", e, mulExpr()) }
        else if (cur.is("-") && cur.kind == TPunct) { i += 1; e = Bin("-", e, mulExpr()) }
        else continue = false
      }
      e
    }
    private def mulExpr(): Expr = {
      var e = unary()
      var continue = true
      while (continue) {
        if (cur.is("*") && cur.kind == TPunct) { i += 1; e = Bin("*", e, unary()) }
        else if (cur.is("/") && cur.kind == TPunct) { i += 1; e = Bin("/", e, unary()) }
        else if (cur.is("%") && cur.kind == TPunct) { i += 1; e = Bin("%", e, unary()) }
        else continue = false
      }
      e
    }
    // Cypher precedence: `^` binds TIGHTER than unary minus (TCK:
    // expressions/mathematical — `-2^2` is -(2^2) = -4), and `^` is
    // right-associative with a unary-capable right operand (`2^-1`).
    private def unary(): Expr =
      if (cur.is("-") && cur.kind == TPunct) { i += 1; Neg(unary()) }
      else if (cur.is("+") && cur.kind == TPunct) { i += 1; unary() }
      else powExpr()
    private def powExpr(): Expr = {
      val e = postfix()
      if (cur.is("^") && cur.kind == TPunct) { i += 1; Bin("^", e, unary()) } // right-assoc
      else e
    }

    private def postfix(): Expr = {
      var e = atom()
      var continue = true
      while (continue) {
        if (cur.is(".") && cur.kind == TPunct) { i += 1; e = Prop(e, ident()) }
        // namespaced function call: `duration.between(a, b)` parses as
        // Prop(Var(duration), between) followed by '(' — rewrite to a
        // dotted Func (reference analog: parser.ts:2671 namespaced names)
        else if (cur.is("(") && cur.kind == TPunct &&
                 (e match { case Prop(Var(_), _) => true; case _ => false })) {
          val Prop(Var(ns), fn) = e: @unchecked
          i += 1
          val args = Vector.newBuilder[Expr]
          if (!tryTok(")")) {
            args += expr()
            while (tryTok(",")) args += expr()
            expect(")")
          }
          e = Func(s"$ns.$fn", args.result(), distinct = false)
        }
        // map projection: u{.name, .*, total: expr}
        else if (cur.is("{") && cur.kind == TPunct &&
                 (e match { case Var(_) => true; case _ => false })) {
          val Var(v) = e: @unchecked
          i += 1
          var star = false
          val props = Vector.newBuilder[String]
          val entries = Vector.newBuilder[(String, Expr)]
          if (!tryTok("}")) {
            var done = false
            while (!done) {
              if (tryTok(".")) {
                if (tryTok("*")) star = true else props += ident()
              } else {
                val k = ident(); expect(":")
                entries += (k -> expr())
              }
              if (!tryTok(",")) { expect("}"); done = true }
            }
          }
          e = MapProj(v, props.result(), entries.result(), star)
        }
        else if (cur.is("[") && cur.kind == TPunct) {
          i += 1
          if (tryTok("..")) { // [..to]
            val to = if (cur.is("]")) None else Some(expr())
            expect("]")
            e = Slice(e, None, to)
          } else {
            val first = expr()
            if (tryTok("..")) {
              val to = if (cur.is("]")) None else Some(expr())
              expect("]")
              e = Slice(e, Some(first), to)
            } else { expect("]"); e = Index(e, first) }
          }
        } else continue = false
      }
      e
    }

    /** Is the token stream at a pattern start `(...)-[` / `(...)-->` etc.?
      * Distinguishes pattern predicates in WHERE from parenthesized exprs:
      * scan to the matching ')' and check the next token starts a rel.
      */
    private def looksLikePattern(): Boolean = {
      if (!cur.is("(")) return false
      var d = 0
      var j = i
      while (j < ts.length && !(d == 1 && ts(j).is(")"))) {
        if (ts(j).is("(")) d += 1
        else if (ts(j).is(")")) d -= 1
        j += 1
      }
      if (j >= ts.length) return false
      val nxt = ts(math.min(j + 1, ts.length - 1))
      nxt.is("-") || nxt.is("<")
    }

    private def atom(): Expr = {
      val t = cur
      t.kind match {
        case TInt => i += 1; Lit(t.text.toLong)
        case TFloat => i += 1; Lit(t.text.toDouble)
        case TStr => i += 1; Lit(t.text)
        case TPunct if t.text == "$" => i += 1; Param(ident())
        case TPunct if t.text == "(" =>
          if (looksLikePattern()) PatternPred(Vector(path()), negated = false)
          else { i += 1; val e = expr(); expect(")"); e }
        case TPunct if t.text == "[" =>
          i += 1
          // pattern comprehension: [(u)-[:T]->(i) WHERE p | e]
          if (cur.is("(") && looksLikePattern()) {
            val p = path()
            val w = if (tryTok("WHERE")) Some(expr()) else None
            expect("|")
            val proj = expr()
            expect("]")
            PatternComp(p, w, proj)
          }
          // list comprehension: [x IN list ...] — bare ident followed by IN
          else if (cur.kind == TIdent && ahead(1).is("IN") &&
              !Set("true", "false", "null").contains(cur.text.toLowerCase)) {
            val v = ident()
            expect("IN")
            val list = expr()
            val where = if (tryTok("WHERE")) Some(expr()) else None
            val proj = if (tryTok("|")) Some(expr()) else None
            expect("]")
            Comprehension(v, list, where, proj)
          } else {
            val items = Vector.newBuilder[Expr]
            if (!tryTok("]")) {
              items += expr()
              while (tryTok(",")) items += expr()
              expect("]")
            }
            ListLit(items.result())
          }
        case TPunct if t.text == "{" =>
          i += 1
          val items = Vector.newBuilder[(String, Expr)]
          if (!tryTok("}")) {
            var done = false
            while (!done) {
              val k = ident(); expect(":")
              items += (k -> expr())
              if (!tryTok(",")) { expect("}"); done = true }
            }
          }
          MapLit(items.result())
        case TIdent =>
          val lower = t.text.toLowerCase
          lower match {
            case "true" => i += 1; Lit(true)
            case "false" => i += 1; Lit(false)
            case "null" => i += 1; Lit(null)
            case "case" => i += 1; caseExpr()
            case "not" => i += 1; Not(notExpr())
            case "all" | "any" | "none" | "single" if ahead(1).is("(") =>
              i += 2
              val v = ident(); expect("IN")
              val list = expr(); expect("WHERE")
              val w = expr(); expect(")")
              Quantifier(lower, v, list, w)
            case "reduce" if ahead(1).is("(") =>
              i += 2
              val acc = ident(); expect("=")
              val init = expr(); expect(",")
              val v = ident(); expect("IN")
              val list = expr(); expect("|")
              val proj = expr(); expect(")")
              ReduceExpr(acc, init, v, list, proj)
            case "exists" if ahead(1).is("(") && {
              // exists(pattern) vs exists(n.prop)
              val save = i; i += 2
              val isPat = cur.is("(")
              i = save; isPat
            } =>
              i += 2
              val p = path()
              expect(")")
              PatternPred(Vector(p), negated = false)
            case _ if ahead(1).is("(") =>
              val name = ident()
              expect("(")
              val distinct = tryTok("DISTINCT")
              val args = Vector.newBuilder[Expr]
              if (!tryTok(")")) {
                if (cur.is("*") && cur.kind == TPunct) { i += 1; args += Star }
                else args += expr()
                while (tryTok(",")) args += expr()
                expect(")")
              }
              Func(name, args.result(), distinct)
            case _ =>
              val name = ident()
              // label predicate n:Label in WHERE position
              if (cur.is(":") && cur.kind == TPunct && ahead(1).kind == TIdent) {
                i += 1
                LabelPred(name, ident())
              } else Var(name)
          }
        case _ => fail("unexpected token")
      }
    }

    private def caseExpr(): Expr = {
      val subject = if (!isKw("WHEN")) Some(expr()) else None
      val whens = Vector.newBuilder[(Expr, Expr)]
      while (tryTok("WHEN")) {
        val w = expr()
        expect("THEN")
        whens += (w -> expr())
      }
      val otherwise = if (tryTok("ELSE")) Some(expr()) else None
      expect("END")
      CaseExpr(subject, whens.result(), otherwise)
    }
  }
}
