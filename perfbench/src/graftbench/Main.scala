package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.cypher.{CypherCompiler, CypherParser}
import graft.graph.{EdgeType, GraphLoader, PropertyGraph}
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: sets the session up, then runs a closed loop
  * of operations read from an ops file (one JSON object per line, made by
  * `perfbench/run.py` from the seed) and writes every answer and timing to
  * the output directory. It prints nothing the harness parses; checking
  * and metrics are the harness's job. The run is fixed work: it executes
  * every operation of the file once, in order. The first `warmup` of them
  * are JIT warm-up, recorded but excluded from the samples.
  *
  *   Main run --workload W --data DIR --ops FILE --out DIR
  *            --trace 0|1 --warmup N --cores N
  *   Main oracles FILE       (dumps the batch jobs' DuckDB oracle SQL)
  *
  * Untraced, an operation is exactly the public call a user makes
  * (`cypher(q, params).collect()`, `cypherWrite`, or a batch job's
  * `graft.SparkEntry.queries` entry plus `collect()`). Traced, the same
  * work is split into parse / compile / write / build / action spans,
  * Spark work is attributed per phase by a context-level listener, and
  * each operation is repeated once untraced (order alternating) to
  * measure the tracing overhead.
  */
object Main {
  private[graftbench] val json = new ObjectMapper()
  private[graftbench] val relatedTo = EdgeType("RELATED_TO", "Part", "Part")
  private[graftbench] val supplies = EdgeType("SUPPLIES", "Supplier", "Part")

  final case class Conf(workload: String, data: String, ops: String, out: String,
      trace: Boolean, warmup: Int, cores: Int)

  /** The batch jobs: their `graft.SparkEntry.queries` entries, whose
    * answers `perfbench/expected.json` holds oracle hashes for. */
  val batchQueries = Map("pagerank" -> "q_pagerank", "kcore" -> "q_kcore",
    "components" -> "q_concomp", "labelprop" -> "q_labelprop",
    "dedup" -> "q_dedup_minhash")

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("oracles") => dumpOracles(argv(1))
    case Some("run") =>
      val kv = argv.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
      val conf = Conf(kv("workload"), kv("data"), kv("ops"), kv("out"),
        kv("trace") == "1", kv("warmup").toInt, kv("cores").toInt)
      new Runner(conf).run()
      sys.exit(0)
    case _ =>
      System.err.println("usage: Main run --workload W ... | Main oracles FILE")
      sys.exit(2)
  }

  /** The DuckDB oracles `graft.SparkEntry` keeps for the batch jobs. */
  private def dumpOracles(file: String): Unit = {
    val names = batchQueries.values.filter(_ != "q_concomp")
    val m = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap.asJava
    json.writerWithDefaultPrettyPrinter().writeValue(new File(file), m)
  }

  /** Row values as plain JSON values (numbers keep full precision). */
  def toJson(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(toJson).asJava
    case s: scala.collection.Seq[_] => s.map(toJson).asJava
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(k) -> toJson(x) }.asJava
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float => toJson(f.toDouble)
    case b: java.math.BigDecimal => b.doubleValue()
    case t: java.sql.Timestamp => t.toString
    case t: java.sql.Date => t.toString
    case t: java.time.temporal.Temporal => t.toString
    case x => x
  }

  def params(n: JsonNode): Map[String, Any] =
    if (n == null) Map.empty
    else n.fields().asScala.map(e => e.getKey -> value(e.getValue)).toMap

  private def value(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isArray) n.elements().asScala.map(value).toSeq
    else if (n.isNull) null
    else n.asText()

  private object Plans extends AdaptiveSparkPlanHelper

  /** Catalyst phase times and final-plan shape of an executed frame. */
  def catalyst(df: DataFrame): Map[String, Long] = {
    val qe = df.queryExecution
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"),
      "plan_nodes" -> Plans.collect(plan) { case p => p }.size.toLong,
      "exchanges" -> Plans.collect(plan) { case e: Exchange => e }.size.toLong)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after the last collection of each heap pool. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

final class Runner(c: Main.Conf) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var base: PropertyGraph = _
  private var graph: PropertyGraph = _

  private final case class Span(name: String, start: Long, end: Long, parent: String, op: String)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Per traced operation: phase durations and catalyst figures. */
  private val times = mutable.LinkedHashMap.empty[String, Long]
  private val cat = mutable.LinkedHashMap.empty[String, Long]
  private var traceOn = false
  private var opId: String = null

  private def now = System.nanoTime()

  /** Runs `body` as one traced phase of the current operation (phases do
    * not nest: each one clears the phase marker when it ends, after the
    * listener bus has delivered the phase's block updates). */
  private def phase[T](name: String)(body: => T): T = {
    if (!traceOn) return body
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseKey, name)
    tracer.current = (opId, name)
    val t0 = now
    try body
    finally {
      val t1 = now
      spans += Span(name, t0, t1, "op", opId)
      times(name) = times.getOrElse(name, 0L) + (t1 - t0)
      PerfbenchAccess.drainListeners(sc)
      tracer.current = null
      sc.setLocalProperty(Tracer.PhaseKey, null)
    }
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(c.out, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(c.out, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The set-up, counted from JVM start: session up, graph loaded, derived
    * snapshots built into an empty warehouse (and RELATED_TO persisted, as
    * a first traversal would). */
  private def setup(): Map[String, Double] = {
    def ms = System.nanoTime() / 1e6
    // wall-clock offset so the set-up counts from JVM start
    val t0 = ms - (System.currentTimeMillis() - jvmStartMs)
    spark = newSession()
    tracer = new Tracer(c.trace)
    spark.sparkContext.addSparkListener(tracer)
    val t1 = ms
    base = GraphLoader.load(spark, c.data)
    val t2 = ms
    base.nodeFrame("User").count()
    base.edgeFrame(supplies).count()
    base.edgeFrame(relatedTo).count()
    val t3 = ms
    graph = base
    Map("setup_ms" -> (t3 - t0), "session_ms" -> (t1 - t0),
      "load_ms" -> (t2 - t1), "derive_ms" -> (t3 - t2))
  }

  /** Session-state reset between batch jobs, through public calls only. */
  private def resetSessionState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    GraphLoader.invalidate(spark)
    graft.SparkEntry.invalidatePairs(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** A read: returns (columns, rows). */
  private def read(g: PropertyGraph, q: String, p: Map[String, Any]): AnyRef = {
    val df =
      if (!traceOn) g.cypher(q, p)
      else {
        val ast = phase("parse")(CypherParser.parse(q))
        phase("compile")(new CypherCompiler(g, spark, p).compileQuery(ast))
      }
    answer(df)
  }

  /** The final action: collects `df` and returns (columns, rows). */
  private def answer(df: DataFrame): AnyRef = {
    val out = phase("action")(df.collect())
    if (traceOn) {
      catalyst(df).foreach { case (k, v) => cat(k) = cat.getOrElse(k, 0L) + v }
      cat("result_rows") = cat.getOrElse("result_rows", 0L) + out.length
    }
    Map("cols" -> df.columns.toSeq.asJava,
      "rows" -> out.toSeq.map(r => toJson(r)).asJava).asJava
  }

  /** Executes one operation; returns its answer for the harness to check. */
  private def execute(op: JsonNode): AnyRef = c.workload match {
    case "cypher_read" => read(graph, op.get("q").asText(), params(op.get("params")))
    case "cypher_write" =>
      val g0 = if (op.get("restart").asBoolean()) base else graph
      val (g1, _) = phase("write")(g0.cypherWrite(op.get("q").asText(), params(op.get("params"))))
      graph = g1
      op.get("reads").elements().asScala.map { r =>
        read(g1, r.get("q").asText(), params(r.get("params")))
      }.toSeq.asJava
    case "analytics_batch" =>
      val job = graft.SparkEntry.queries(batchQueries(op.get("cls").asText()))
      answer(phase("build")(job(spark, c.data)))
  }

  /** Runs one operation: (latency ms, GC ms during it, answer or error). */
  private def timed(op: JsonNode, traced: Boolean): (Double, Long, Either[String, AnyRef]) = {
    val sc = spark.sparkContext
    traceOn = traced
    opId = op.get("id").asText()
    sc.setLocalProperty(Tracer.OpKey, if (traced) opId else null)
    val gc0 = gcMs
    val t0 = now
    val res =
      try Right(execute(op))
      catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(500)) }
    val t1 = now
    sc.setLocalProperty(Tracer.OpKey, null)
    if (traced) spans += Span("op", t0, t1, null, opId)
    traceOn = false
    ((t1 - t0) / 1e6, gcMs - gc0, res)
  }

  def run(): Unit = {
    new File(c.out).mkdirs()
    val setupTimes = setup()
    val ops = scala.io.Source.fromFile(c.ops, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map(json.readTree).toVector
    val results = new PrintWriter(new File(c.out, "results.jsonl"), "UTF-8")
    val traceOut = if (c.trace) new PrintWriter(new File(c.out, "trace_ops.jsonl"), "UTF-8") else null
    val gc0 = gcMs
    var measuredMs = 0.0
    for ((op, i) <- ops.zipWithIndex) {
      val warm = i < c.warmup
      val traced = c.trace && !warm
      times.clear(); cat.clear()
      // batch jobs start from a clean session, outside the timed span
      def fresh(): Unit = if (c.workload == "analytics_batch") resetSessionState()
      // traced runs repeat each measured operation untraced, alternating
      // which goes first, for trace.overhead_ratio; both start from the
      // same snapshot and the traced one's result is kept
      val before = graph
      def twinRun(): Double = {
        val after = graph
        graph = before
        fresh()
        try timed(op, traced = false)._1 finally graph = after
      }
      val twinFirst = traced && i % 2 == 1
      val twin0 = if (twinFirst) Some(twinRun()) else None
      graph = before
      fresh()
      val (lat, gc, res) = timed(op, traced)
      val twin = twin0.orElse(if (traced) Some(twinRun()) else None)
      val rec = mutable.LinkedHashMap[String, Any](
        "id" -> op.get("id").asLong(), "cls" -> op.get("cls").asText(),
        "warm" -> warm, "lat_ms" -> lat)
      res match {
        case Right(a) => rec("answer") = a
        case Left(err) => rec("error") = err
      }
      results.println(json.writeValueAsString(rec.asJava))
      if (traced) {
        PerfbenchAccess.drainListeners(spark.sparkContext)
        val tr = mutable.LinkedHashMap[String, Any](
          "id" -> op.get("id").asLong(), "cls" -> op.get("cls").asText(),
          "lat_ms" -> lat, "twin_ms" -> twin.get, "gc_ms" -> gc,
          "phase_ms" -> times.map { case (k, v) => k -> v / 1e6 }.asJava,
          "catalyst" -> cat.asJava,
          "counters" -> tracer.counters(opId).map { case (k, v) => k -> v.toMap.asJava }.asJava)
        Option(op.get("depth")).foreach(d => tr("chain_depth") = d.asLong())
        traceOut.println(json.writeValueAsString(tr.asJava))
      }
      if (!warm) measuredMs += lat
    }
    results.close()
    if (traceOut != null) traceOut.close()
    if (c.trace) {
      val sp = new PrintWriter(new File(c.out, "spans.jsonl"), "UTF-8")
      spans.foreach { s =>
        sp.println(json.writeValueAsString(Map("name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op).asJava))
      }
      sp.close()
    }
    PerfbenchAccess.drainListeners(spark.sparkContext)
    val summary = Map[String, Any](
      "setup" -> setupTimes.asJava,
      "measure_s" -> measuredMs / 1000, "warm_ops" -> math.min(c.warmup, ops.size),
      "measured_ops" -> math.max(0, ops.size - c.warmup),
      "stored_peak_bytes" -> tracer.peakStoredBytes,
      "gc_ms" -> (gcMs - gc0), "heap_after_gc_mb" -> heapAfterGcMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> c.cores)
    json.writerWithDefaultPrettyPrinter().writeValue(new File(c.out, "summary.json"), summary.asJava)
    spark.stop()
  }
}
