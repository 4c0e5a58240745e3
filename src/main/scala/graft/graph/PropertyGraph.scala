package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** A relationship class: directed edges of one type between two node labels.
  *
  * Reference analog: rows of the generic `edges(id, type, source_id,
  * target_id, properties)` table (reference: src/db.ts:54-62). Spark-first
  * divergence: each (type, srcLabel, dstLabel) triple is its own typed
  * DataFrame so parquet scans prune columns and push down filters — a
  * generic JSON-properties table would defeat Catalyst at 100 TB.
  */
final case class EdgeType(relType: String, srcLabel: String, dstLabel: String)

object PropertyGraph {
  /** Reserved column names inside node / edge frames. */
  val ID = "_id"    // node identity (long), unique within its label
  val SRC = "_src"  // edge source node id
  val DST = "_dst"  // edge target node id
  val EID = "_eid"  // edge identity (long), unique within its EdgeType
  val LABEL = "_label" // injected into match structs: node label / rel type
  /** Secondary-labels column (array<string>): the multi-label shim.
    * Nodes live in ONE per-label frame (their primary label — what makes
    * parquet pruning work at 100 TB); additional labels from
    * `CREATE (n:A:B)` / `SET n:Label` are stored here and consulted by
    * `labels(n)`, `n:Label` predicates, and MATCH label resolution.
    * Reference analog: label ARRAYS in db.ts:47-69.
    */
  val LABELS = "_labels"
  /** Sentinel frame label for nodes created WITHOUT a label
    * (`CREATE ()-[:R]->()` — the reference's generic node table allows
    * them). They match unlabeled patterns like any frame; `labels(n)`
    * filters the sentinel out so they present as label-less.
    */
  val UNLABELED = "_Unlabeled"

  /** Build a graph whose table frames are materialized lazily on first
    * access (memoized). A query touching only Customer/Order never opens
    * (or schema-infers) the other tables — at 100 TB, file listing alone
    * for an untouched table is real cost, and one unreadable table must
    * not sink unrelated queries.
    */
  def lazily(
      nodeThunks: Map[String, () => DataFrame],
      edgeThunks: Map[EdgeType, () => DataFrame],
      smallLabels: Set[String] = Set.empty,
      smallTypes: Set[String] = Set.empty,
      secondaryLabels: Map[String, Set[String]] = Map.empty): PropertyGraph =
    new PropertyGraph(nodeThunks, edgeThunks, smallLabels, smallTypes,
      secondaryLabels = secondaryLabels)

  /** Strict construction from already-materialized frames. */
  def apply(nodes: Map[String, DataFrame], edges: Map[EdgeType, DataFrame],
      smallLabels: Set[String] = Set.empty, smallTypes: Set[String] = Set.empty): PropertyGraph =
    lazily(nodes.map { case (k, v) => k -> (() => v) },
      edges.map { case (k, v) => k -> (() => v) }, smallLabels, smallTypes)

  /** Load a graph snapshot previously written by [[PropertyGraph#save]].
    * Directory names are escaped by save (see [[dirEncode]]) so labels /
    * relTypes containing the `__` delimiter round-trip.
    */
  def load(spark: SparkSession, path: String): PropertyGraph = {
    import org.apache.hadoop.fs.Path
    val hfs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def list(sub: String): Seq[String] = {
      val d = new Path(s"$path/$sub")
      if (!hfs.exists(d)) Seq.empty
      else hfs.listStatus(d).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
    }
    val nodeThunks = list("nodes").map { enc =>
      dirDecode(enc) -> (() => spark.read.parquet(s"$path/nodes/$enc"))
    }.toMap
    val edgeThunks = list("edges").map { enc =>
      val Array(t, s, d) = enc.split("__", 3).map(dirDecode)
      EdgeType(t, s, d) -> (() => spark.read.parquet(s"$path/edges/$enc"))
    }.toMap
    // secondary-label catalog (tiny JSON, written by save): lets MATCH
    // resolve secondary labels without forcing every frame's schema
    val secFile = new Path(s"$path/secondary_labels.json")
    val secondary: Map[String, Set[String]] =
      if (!hfs.exists(secFile)) Map.empty
      else {
        val in = hfs.open(secFile)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        parseSecondaryJson(txt)
      }
    lazily(nodeThunks, edgeThunks, secondaryLabels = secondary)
  }

  /** Minimal parser/writer for the secondary-label catalog: a flat JSON
    * object {"frameLabel": ["Sec1", "Sec2"], ...}. Labels are
    * identifier-like (the Cypher parsers only produce ident tokens), so
    * escaping beyond quote/backslash is not needed.
    */
  private[graph] def parseSecondaryJson(txt: String): Map[String, Set[String]] = {
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*\[([^\]]*)\]""".r
    val str = """"((?:[^"\\]|\\.)*)"""".r
    def unesc(s: String): String = s.replace("\\\"", "\"").replace("\\\\", "\\")
    entry.findAllMatchIn(txt).map { m =>
      unesc(m.group(1)) -> str.findAllMatchIn(m.group(2)).map(x => unesc(x.group(1))).toSet
    }.toMap
  }

  private[graph] def renderSecondaryJson(m: Map[String, Set[String]]): String = {
    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    m.toSeq.sortBy(_._1).map { case (k, vs) =>
      s""""${esc(k)}": [${vs.toSeq.sorted.map(v => s""""${esc(v)}"""").mkString(", ")}]"""
    }.mkString("{", ", ", "}")
  }

  /** Escape a label/relType for use as a snapshot directory component:
    * '%' -> %25, '_' -> %5f (so the '__' join delimiter can't occur),
    * '/' -> %2f. Reversible via [[dirDecode]].
    */
  private[graph] def dirEncode(s: String): String =
    s.flatMap {
      case '%' => "%25"
      case '_' => "%5f"
      case '/' => "%2f"
      case c => c.toString
    }

  private[graph] def dirDecode(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(s(i)); i += 1 }
    }
    sb.toString
  }
}

/** Immutable property graph over DataFrames.
  *
  * Frames are held as memoized thunks: `nodeFrame`/`edgeFrame` force (and
  * cache) only the requested table, so per-query cost scales with the
  * tables the pattern touches, not the catalog size. All mutation APIs
  * (Cypher CREATE/MERGE/SET/REMOVE/DELETE analogs) return a NEW graph —
  * Spark-idiomatic snapshots, not in-place writes.
  *
  * `smallLabels` / `smallTypes` mark frames that stay broadcast-joinable
  * at the target scale (dimension tables); the pattern compiler attaches
  * `broadcast()` hints to them.
  */
final class PropertyGraph private (
    nodeThunks: Map[String, () => DataFrame],
    edgeThunks: Map[EdgeType, () => DataFrame],
    val smallLabels: Set[String],
    val smallTypes: Set[String],
    /** Bumped on every structural write (copyWith). Used as a
      * deterministic nonce when minting node ids / edge ids, so two
      * identical CREATE statements applied in sequence mint DIFFERENT
      * ids (openCypher bag semantics) while the same write sequence
      * stays reproducible run-to-run.
      */
    val writeEpoch: Int = 0,
    /** frame label -> secondary labels POSSIBLY present in that frame
      * (see [[PropertyGraph.LABELS]]). Maintained conservatively by the
      * write API (CREATE/SET/MERGE register; REMOVE never shrinks — a
      * stale entry costs one zero-row filter branch, a missing entry
      * would be a wrong answer). Kept driver-side so MATCH label
      * resolution never forces frame schemas.
      */
    val secondaryLabels: Map[String, Set[String]] = Map.empty) {

  import PropertyGraph._

  private val nodeCache = TrieMap.empty[String, DataFrame]
  private val edgeCache = TrieMap.empty[EdgeType, DataFrame]
  /** This snapshot's prepared Cypher read plans ([[cypher]]). */
  private[graft] val preparedPlans = new graft.cypher.CypherCompiler.PreparedPlans

  // ---- catalog (reference: CALL db.labels() / db.relationshipTypes(),
  //      src/translator.ts:4398-4412) ----

  def labels: Seq[String] = nodeThunks.keys.toSeq.sorted
  /** All labels a node can carry: frame labels + registered secondaries
    * (reference: db.labels() lists every label in the label arrays).
    */
  def allLabels: Seq[String] =
    (nodeThunks.keys ++ secondaryLabels.values.flatten)
      .toSeq.distinct.filterNot(_ == UNLABELED).sorted
  def relationshipTypes: Seq[String] = edgeThunks.keys.map(_.relType).toSeq.distinct.sorted
  /** Edge classes without forcing any frame. */
  def edgeClasses: Seq[EdgeType] =
    edgeThunks.keys.toSeq.sortBy(et => (et.relType, et.srcLabel, et.dstLabel))

  def labelsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allLabels.toDF("label")
  }
  def relationshipTypesDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    relationshipTypes.toDF("relationshipType")
  }

  def hasLabel(label: String): Boolean = nodeThunks.contains(label)

  /** Frames that can hold a node carrying EVERY label in `required`: the
    * frame's own label counts, and so do its registered secondaries.
    * Empty `required` = no constraint = every frame. Driver-side only —
    * O(catalog), never touches data or schemas.
    */
  def frameCandidates(required: Set[String]): Seq[String] =
    labels.filter { f =>
      required.forall(r => r == f || secondaryLabels.getOrElse(f, Set.empty)(r))
    }

  /** Record that `secondary` labels may now appear in `frameLabel`'s
    * [[PropertyGraph.LABELS]] column (called by the write paths). Not a
    * structural write: no epoch bump, caches preserved.
    */
  def registerSecondaryLabels(frameLabel: String, secondary: Set[String]): PropertyGraph = {
    if (secondary.isEmpty) return this
    new PropertyGraph(nodeThunks, edgeThunks, smallLabels, smallTypes, writeEpoch,
      secondaryLabels + (frameLabel ->
        (secondaryLabels.getOrElse(frameLabel, Set.empty) ++ secondary)))
  }

  def nodeFrame(label: String): DataFrame =
    nodeCache.getOrElseUpdate(label, nodeThunks.getOrElse(label,
      sys.error(s"Unknown node label: $label (have: ${labels.mkString(",")})"))())

  def edgeFrame(et: EdgeType): DataFrame =
    edgeCache.getOrElseUpdate(et, edgeThunks.getOrElse(et,
      sys.error(s"Unknown edge type: $et"))())

  /** Strict views (force all frames) — for whole-graph ops only. */
  def nodes: Map[String, DataFrame] = nodeThunks.keys.map(l => l -> nodeFrame(l)).toMap
  def edges: Map[EdgeType, DataFrame] = edgeThunks.keys.map(et => et -> edgeFrame(et)).toMap

  /** All edge classes compatible with an optional type name and optional
    * endpoint labels (used by the pattern compiler for label inference —
    * unlabeled Cypher nodes match every consistent label).
    */
  /** `relType` may carry a `|` alternation (`"A|B"`, from `[:A|B]`
    * patterns — reference analog: parser.ts pipe-separated edge types):
    * an edge class matches when its type is any alternative.
    */
  def edgeTypesFor(relType: Option[String], srcLabel: Option[String],
      dstLabel: Option[String]): Seq[EdgeType] =
    edgeClasses.filter { et =>
      relType.forall(_.split('|').contains(et.relType)) &&
      srcLabel.forall(_ == et.srcLabel) &&
      dstLabel.forall(_ == et.dstLabel)
    }

  // ---- pattern matching ----

  /** Compile a Cypher MATCH pattern (comma-separated paths) to a DataFrame
    * with one struct column per pattern variable. See [[PatternMatcher]].
    * Property values must be literals: `{k: $p}` or `{k: a.x}` throws
    * IllegalArgumentException naming `k` (`cypher(query, params)` takes parameters).
    */
  def matchPattern(pattern: String, known: Map[String, String] = Map.empty): DataFrame =
    new PatternMatcher(this).compile(pattern, known)

  /** Cypher OPTIONAL MATCH: left-outer join a compiled pattern onto `base`
    * on the shared variables' identities ([[PatternMatcher.bindScope]]).
    * Unmatched rows keep nulls for the optional pattern's variables.
    */
  def optionalMatch(base: DataFrame, pattern: String,
      known: Map[String, String] = Map.empty): DataFrame =
    new PatternMatcher(this).optional(base, pattern, known)

  /** Execute a Cypher query string against this graph (read subset:
    * MATCH / OPTIONAL MATCH / WHERE / WITH / UNWIND / RETURN / ORDER BY /
    * SKIP / LIMIT / UNION / CALL db.*). See [[graft.cypher.CypherCompiler]].
    */
  def cypher(query: String): DataFrame =
    new graft.cypher.CypherCompiler(this, SparkSession.active).run(query)

  /** Cypher with `$param` bindings (scalars and lists).
    *
    * Reads are prepared: this snapshot compiles each parameterized read
    * once and re-binds new parameter values into the analyzed plan
    * ([[graft.cypher.CypherCompiler.compileQuery]]). The cache key is the
    * session, the parsed query, each parameter's Catalyst type, and the
    * session's time zone, ANSI mode and case sensitivity. Scalar
    * parameters compile to
    * [[org.apache.spark.sql.graftshim.ParamLiteral]]s, literals whose
    * generated code loads the value rather than inlining it, so a new
    * value neither re-analyzes the plan nor makes janino compile new
    * classes. Plans a value shaped (SKIP/LIMIT counts, a `round`
    * precision, null, list and array values, and plans whose analysis read a value, such
    * as an integer compared with a decimal property) are never cached,
    * nor are writes
    * ([[cypherWrite]]); a write returns a new snapshot with an empty cache.
    */
  def cypher(query: String, params: Map[String, Any]): DataFrame =
    new graft.cypher.CypherCompiler(this, SparkSession.active, params).run(query)

  /** Execute a Cypher WRITE query (CREATE/MERGE/SET/REMOVE/DELETE, mixed
    * with read clauses); returns the new graph snapshot and the optional
    * RETURN result. See [[graft.cypher.CypherWriter]].
    */
  def cypherWrite(query: String): (PropertyGraph, Option[DataFrame]) =
    new graft.cypher.CypherWriter(this, SparkSession.active).run(query)

  /** Cypher write with `$param` bindings. */
  def cypherWrite(query: String, params: Map[String, Any]): (PropertyGraph, Option[DataFrame]) =
    new graft.cypher.CypherWriter(this, SparkSession.active, params).run(query)

  // ---- degrees (Cypher: size((n)-[]->()) etc.) ----

  /** (label, _id, outDegree, inDegree, degree) across all edge types. */
  def degrees(spark: SparkSession): DataFrame = degreesOf(None)

  /** Degrees restricted to one node label — forces only the edge classes
    * incident to that label (at 100 TB, scanning unrelated edge tables
    * for a single-label degree view is real cost).
    */
  def degreesFor(label: String): DataFrame = degreesOf(Some(label))

  private def degreesOf(label: Option[String]): DataFrame = {
    val ets = edgeClasses.filter(et =>
      label.forall(l => et.srcLabel == l || et.dstLabel == l))
    val outs = ets.filter(et => label.forall(_ == et.srcLabel)).map { et =>
      edgeFrame(et).select(lit(et.srcLabel).as("label"), col(SRC).as(ID),
        lit(1L).as("out_d"), lit(0L).as("in_d"))
    }
    val ins = ets.filter(et => label.forall(_ == et.dstLabel)).map { et =>
      edgeFrame(et).select(lit(et.dstLabel).as("label"), col(DST).as(ID),
        lit(0L).as("out_d"), lit(1L).as("in_d"))
    }
    require(outs.nonEmpty || ins.nonEmpty, s"no edge classes touch $label")
    (outs ++ ins).reduce(_ unionByName _)
      .groupBy("label", ID)
      .agg(sum("out_d").as("outDegree"), sum("in_d").as("inDegree"),
        (sum("out_d") + sum("in_d")).as("degree"))
  }

  // ---- writes: Cypher CREATE / MERGE / SET / REMOVE / DELETE analogs.
  //      (reference: translator.ts CREATE/MERGE/SET/DELETE/REMOVE clause
  //      translation; here immutable snapshot transforms.) ----

  private def copyWith(n: Map[String, () => DataFrame] = nodeThunks,
      e: Map[EdgeType, () => DataFrame] = edgeThunks): PropertyGraph =
    new PropertyGraph(n, e, smallLabels, smallTypes, writeEpoch + 1, secondaryLabels)

  private def thunk(df: DataFrame): () => DataFrame = () => df

  /** CREATE (:Label {...}) — append nodes; `df` must carry ID. */
  def addNodes(label: String, df: DataFrame): PropertyGraph = {
    require(df.columns.contains(ID), s"addNodes($label): frame must have $ID")
    val merged = if (hasLabel(label))
      nodeFrame(label).unionByName(df, allowMissingColumns = true)
    else df
    copyWith(n = nodeThunks + (label -> thunk(merged)))
  }

  /** MERGE with Cypher's ON CREATE SET / ON MATCH SET, keyed on ID: the
    * stored rows whose ID an incoming row carries take `onMatch` (and
    * keep their values otherwise); the other incoming rows are inserted
    * with `onCreate` applied.
    */
  def mergeNodesWith(label: String, df: DataFrame,
      onCreate: Map[String, Column] = Map.empty,
      onMatch: Map[String, Column] = Map.empty): PropertyGraph = {
    def created(d: DataFrame) = onCreate.foldLeft(d) { case (d, (k, v)) => d.withColumn(k, v) }
    if (!hasLabel(label)) return copyWith(n = nodeThunks + (label -> thunk(created(df))))
    val old = nodeFrame(label)
    val news = df.join(old.select(ID), Seq(ID), "left_anti")
    copyWith(n = nodeThunks + (label -> thunk(
      assign(old, idFrame(df.select(ID)), onMatch).unionByName(created(news), allowMissingColumns = true))))
  }

  /** The one SET rule: rows of `frame` equal to a row of the distinct
    * `keys` frame on all of its columns take `assigns`; the other rows
    * keep their values (null in a new column).
    */
  private def assign(frame: DataFrame, keys: DataFrame,
      assigns: Map[String, Column]): DataFrame =
    if (assigns.isEmpty) frame
    else {
      val marked = frame.join(keys.withColumn("__m", lit(true)), keys.columns.toSeq, "left_outer")
      val hit = coalesce(col("__m"), lit(false))
      assigns.foldLeft(marked) { case (d, (k, v)) =>
        d.withColumn(k, if (d.columns.contains(k)) when(hit, v).otherwise(col(k)) else when(hit, v))
      }.drop("__m")
    }

  /** An id frame's first column as distinct `key` values: every `*ByIds`
    * and `*ForIds` method takes its ids through here.
    */
  private def idFrame(ids: DataFrame, key: String = ID): DataFrame =
    ids.select(col(ids.columns.head).as(key)).distinct()

  /** SET for rows whose ID appears in `ids` (the Cypher string compiler's
    * entry: MATCH bindings arrive as an id frame, joined — never
    * collected to the driver).
    */
  def setNodePropsForIds(label: String, ids: DataFrame,
      assigns: Map[String, Column]): PropertyGraph =
    copyWith(n = nodeThunks + (label -> thunk(assign(nodeFrame(label), idFrame(ids), assigns))))

  /** Edge SET for rows whose EID appears in `eids` (MATCH-bound rel
    * variables arrive as an eid frame, joined against the edge class).
    */
  def setEdgePropsForIds(et: EdgeType, eids: DataFrame,
      assigns: Map[String, Column]): PropertyGraph =
    copyWith(e = edgeThunks + (et -> thunk(assign(edgeFrame(et), idFrame(eids, EID), assigns))))

  /** REMOVE the whole label (all its nodes) + incident edge classes. */
  def removeLabel(label: String): PropertyGraph = {
    require(hasLabel(label), s"unknown label $label")
    copyWith(
      n = nodeThunks - label,
      e = edgeThunks.filter { case (et, _) =>
        et.srcLabel != label && et.dstLabel != label
      })
  }

  /** REMOVE of a node's PRIMARY label WITHOUT detaching (reference
    * db.ts:47-69: labels are an array; removing one keeps the node with
    * its remaining labels). Per-label frame storage makes this a MOVE,
    * not an in-place array edit: each matched row leaves `from`'s frame
    * and takes up residency under its first remaining secondary label —
    * or the unlabeled sentinel frame when none remain — and every edge
    * class typed against `from` is retyped to the destination label for
    * the moved ids (the edges themselves survive, reference parity).
    *
    * All work is id-keyed semi/anti joins plus driver-side loops over
    * the catalog-sized target-label set (derived from the DATA — a row
    * whose first remaining label isn't in the secondary-label registry
    * still moves there, instead of silently vanishing behind a
    * registry gap). Per-label ids are minted content-hashed 64-bit, so
    * a moved id already present in a destination frame would be a hash
    * collision; the merge GUARDS against it (a silent duplicate-id
    * frame corrupts every downstream join) and fails loudly instead.
    */
  def demotePrimaryLabel(from: String, ids: DataFrame): PropertyGraph = {
    val idDf = idFrame(ids)
    val frame = nodeFrame(from)
    val hasLabels = frame.columns.contains(LABELS)
    val moved = frame.join(idDf, Seq(ID))
    val remainder = frame.join(idDf, Seq(ID), "left_anti")
    val firstLbl =
      if (hasLabels)
        when(size(col(LABELS)) > 0, element_at(col(LABELS), 1))
          .otherwise(lit(UNLABELED))
      else lit(UNLABELED)
    val tagged = moved.withColumn("__to", firstLbl)
    val fromSecondaries = secondaryLabels.getOrElse(from, Set.empty)
    // registry targets ∪ targets the rows actually take (the registry is
    // conservative and can lag a SET n:Label on a frame without LABELS
    // bookkeeping — the data is the truth)
    val dataTargets =
      tagged.select("__to").distinct().collect().map(_.getString(0))
    val targets = (fromSecondaries + UNLABELED ++ dataTargets).toSeq.sorted
    var g = copyWith(n = nodeThunks + (from -> thunk(remainder)))
    targets.foreach { s =>
      var rows = tagged.filter(col("__to") === s).drop("__to")
      if (hasLabels)
        rows = rows.withColumn(LABELS,
          when(size(col(LABELS)) > 0, array_remove(col(LABELS), s))
            .otherwise(col(LABELS)))
      // don't mint an empty frame (a new catalog label) for a registry
      // target no row actually takes
      if (g.hasLabel(s) || !rows.isEmpty) {
        if (g.hasLabel(s)) {
          val clash = g.nodeFrame(s)
            .join(rows.select(ID), Seq(ID), "left_semi").count()
          if (clash > 0) sys.error(
            s"demotePrimaryLabel: $clash id(s) moving from '$from' " +
              s"already exist in destination frame '$s' — content-hash " +
              "id collision; refusing to build a duplicate-id frame")
        }
        g = g.addNodes(s, rows)
        g = g.registerSecondaryLabels(s, fromSecondaries - s)
        g = g.retypeEdgesFor(from, s, rows.select(ID))
      }
    }
    g
  }

  /** Retype the incident edge classes of ids moving from label `from` to
    * label `to` (see [[demotePrimaryLabel]]): two passes (src then dst)
    * over the live class list, so an edge whose BOTH endpoints move is
    * carried through intermediate classes correctly.
    */
  private def retypeEdgesFor(from: String, to: String,
      moveIds: DataFrame): PropertyGraph = {
    val idDf = idFrame(moveIds)
    Seq(SRC, DST).foldLeft(this) { (g, side) =>
      g.incident(from).filter(_._2.contains(side)).foldLeft(g) { case (g, (et, _)) =>
        val newEt = if (side == SRC) et.copy(srcLabel = to) else et.copy(dstLabel = to)
        val e = g.edgeFrame(et)
        g.retypeOne(et, byEndpoint(e, side, idDf, "left_anti"), newEt,
          byEndpoint(e, side, idDf, "left_semi"))
      }
    }
  }

  /** One class split for [[retypeEdgesFor]] — runs on the OWNING instance
    * because constructor params aren't members across instances.
    */
  private def retypeOne(oldEt: EdgeType, keep: DataFrame,
      newEt: EdgeType, mv: DataFrame): PropertyGraph = {
    val mvMerged =
      if (edgeThunks.contains(newEt))
        edgeFrame(newEt).unionByName(mv, allowMissingColumns = true)
      else mv
    copyWith(e = edgeThunks + (oldEt -> thunk(keep)) + (newEt -> thunk(mvMerged)))
  }

  /** The edge classes incident to `label`, each with the endpoint
    * columns (SRC, DST or both) that hold its ids — the one incident-edge
    * scan behind the plain-DELETE check, the DETACH cascade and the
    * primary-label retype.
    */
  private def incident(label: String): Seq[(EdgeType, Seq[String])] =
    edgeClasses.map { et =>
      et -> Seq(SRC -> et.srcLabel, DST -> et.dstLabel).collect { case (c, `label`) => c }
    }.filter(_._2.nonEmpty)

  /** Edges `e` joined (`how`) on endpoint column `side` against `idDf`. */
  private def byEndpoint(e: DataFrame, side: String, idDf: DataFrame,
      how: String): DataFrame =
    e.join(idDf.withColumnRenamed(ID, side), Seq(side), how)

  /** DETACH DELETE for an id frame: the nodes and every incident edge. */
  def detachDeleteNodesByIds(label: String, ids: DataFrame): PropertyGraph = {
    val idDf = idFrame(ids)
    copyWith(
      n = nodeThunks + (label -> thunk(nodeFrame(label).join(idDf, Seq(ID), "left_anti"))),
      e = edgeThunks ++ incident(label).map { case (et, sides) =>
        et -> thunk(sides.foldLeft(edgeFrame(et))(byEndpoint(_, _, idDf, "left_anti")))
      })
  }

  /** Plain DELETE for an id frame: Cypher errors when a deleted node
    * still has relationships (reference: translator.ts DELETE
    * translation). The check is an eager action at call time.
    */
  def deleteNodesByIds(label: String, ids: DataFrame): PropertyGraph = {
    val idDf = idFrame(ids)
    val attached = incident(label).exists { case (et, sides) =>
      sides.exists(side => !byEndpoint(edgeFrame(et), side, idDf, "left_semi").isEmpty)
    }
    if (attached) throw new IllegalStateException(
      s"Cannot DELETE nodes of :$label that still have relationships; use DETACH DELETE")
    copyWith(n = nodeThunks +
      (label -> thunk(nodeFrame(label).join(idDf, Seq(ID), "left_anti"))))
  }

  /** Derive a deterministic EID for a new-edge batch: hash of (relType,
    * src, dst, per-pair sequence number). The sequence comes from a
    * row_number window ordered by the batch's orderable columns, so the
    * same logical batch always mints the same ids — r2 advice: the
    * previous monotonically_increasing_id() input made EIDs change
    * between re-evaluations of the lazy plan (AQE / task retries), which
    * could break deleteEdgesByIds anti-joins and trail-mode uniqueness.
    */
  private def mintEids(relType: String, df: DataFrame): DataFrame =
    if (df.columns.contains(EID)) df
    else {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.MapType
      val orderCols = df.schema.fields.collect {
        case f if !f.dataType.isInstanceOf[MapType] => col(f.name)
      }.toSeq
      val w = Window.partitionBy(col(SRC), col(DST)).orderBy(orderCols: _*)
      // writeEpoch in the hash: a later statement appending an identical
      // (src, dst, rownum) row must not collide with an existing EID.
      df.withColumn(EID,
        xxhash64(lit(relType), lit(writeEpoch), col(SRC), col(DST), row_number().over(w)))
    }

  /** CREATE ()-[:T]->() — append edges; `df` must carry SRC and DST.
    * When EID is absent one is minted deterministically (see [[mintEids]])
    * so parallel edges between the same pair stay distinct (EID must be
    * unique within its EdgeType — callers supplying their own EID are
    * responsible for that).
    */
  def addEdges(et: EdgeType, df: DataFrame): PropertyGraph = {
    require(df.columns.contains(SRC) && df.columns.contains(DST),
      s"addEdges($et): frame must have $SRC and $DST")
    val withEid = mintEids(et.relType, df)
    val merged = if (edgeThunks.contains(et))
      edgeFrame(et).unionByName(withEid, allowMissingColumns = true)
    else withEid
    copyWith(e = edgeThunks + (et -> thunk(merged)))
  }

  /** MERGE ()-[:T]->() — insert (src,dst) pairs not already present. */
  def mergeEdges(et: EdgeType, df: DataFrame): PropertyGraph = {
    val withEid = mintEids(et.relType, df)
    val merged = if (edgeThunks.contains(et)) {
      val old = edgeFrame(et)
      old.unionByName(withEid.join(old.select(SRC, DST), Seq(SRC, DST), "left_anti"),
        allowMissingColumns = true)
    } else withEid
    copyWith(e = edgeThunks + (et -> thunk(merged)))
  }

  /** DELETE edges whose EID appears in `eids` (string-compiler entry). */
  def deleteEdgesByIds(et: EdgeType, eids: DataFrame): PropertyGraph =
    copyWith(e = edgeThunks +
      (et -> thunk(edgeFrame(et).join(idFrame(eids, EID), Seq(EID), "left_anti"))))

  // ---- snapshot persistence (reference: backup.ts save/restore) ----

  def save(path: String): Unit = {
    nodes.foreach { case (label, df) =>
      df.write.mode("overwrite").parquet(s"$path/nodes/${dirEncode(label)}")
    }
    edges.foreach { case (et, df) =>
      val enc = Seq(et.relType, et.srcLabel, et.dstLabel).map(dirEncode).mkString("__")
      df.write.mode("overwrite").parquet(s"$path/edges/$enc")
    }
    if (secondaryLabels.nonEmpty) {
      import org.apache.hadoop.fs.Path
      val spark = SparkSession.active
      val p = new Path(s"$path/secondary_labels.json")
      val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = hfs.create(p, true)
      try out.write(renderSecondaryJson(secondaryLabels).getBytes("UTF-8"))
      finally out.close()
    }
  }
}
