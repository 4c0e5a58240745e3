package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Failures are reported
  * honestly: an "errors" object per failed query and a nonzero exit —
  * never a timing that silently measures crash latency.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Partition policy, MEASURED at the 10× rehearsal (three strategies
    // on identical data): fixed 32 = cores won — 128 fixed partitions
    // taxed iterative algos with 128-task rounds on KB shuffles (kcore
    // 29.8s→109.8s), and size-first AQE coalescing (parallelismFirst=
    // false, 64m advisory — the cluster-production setting) serialized
    // the tens-of-MB 10× shuffles to 1-2 tasks (concomp 11s→54s). At
    // local[32] the shuffles are ≤GB, so keeping all cores busy
    // dominates task sizing; what actually broke the first 91-query 10×
    // run was cumulative multi-query JVM pressure, fixed with heap, not
    // partitions. The env knob stays for scale experiments.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    // r3/r4 verdicts: single-run timings moved ±5× with zero code change —
    // run each query N times (default 5), DISCARD the first run (cold-JVM /
    // page-cache warm-up) when we have ≥3, and report the MEDIAN of the
    // rest. Min/max go to the JSON files only, never stdout (r4: the long
    // stdout line overflowed the driver's 2000-char tail window →
    // "parsed": null).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])

    // r10 postmortem: a 17.7% total "regression" (3 queries >2.5×) turned
    // out to be background load — the whole round (build, tests, gate,
    // bench) ran in one 498 s window, and nothing in the output could
    // attribute it. Record the 1-minute OS load average at start/end and
    // a run-to-run noise statistic so an anomalous round self-diagnoses.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg

    val timings = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        System.err.println(s"[bench] running $name")
        // r5 verdict: running 61 queries × 5 in one JVM accumulates cached
        // frames, checkpoint RDD blocks (freed only by ContextCleaner GC)
        // and heap pressure — late-alphabet queries paid for earlier ones
        // (q_dedup_simhash reported 17.9s in-suite vs 1.0s isolated). Reset
        // session state BETWEEN QUERIES so per-query medians are
        // attributable; a query's own runs still share its caches (run 1
        // is the discarded warm-up that rebuilds them).
        SparkEntry.resetSession(spark)
        System.gc()
        val ts = scala.collection.mutable.ArrayBuffer[Double]()
        var failed = false
        var i = 0
        while (i < runs && !failed) {
          // r21 verdict #1 (metric honesty): memoized derived frames
          // (jaccard pairs, phash pairs, BPE artifacts, walk corpus,
          // hyperBall registers) are invalidated between a query's OWN
          // runs too, so the steady-run median measures the operator
          // again instead of a count over an already-checkpointed memo
          // (q_dedup_phash read 0.04s where its real cost is ~3.9s).
          // The memo feature itself is unchanged for real sessions; this
          // only stops the bench from timing a cache hit. Affected
          // entries (medians rise vs r21 by construction): q_dedup_phash,
          // q_dedup_phash_groups, q_bpe_vocab, q_bpe_tokens, q_walks,
          // q_walk_pmi, q_pmi_embed, q_hyperball, q_hyperball_nf, and the
          // older dupPairs family (q_dedup_jaccard, q_dedup_groups, ...).
          SparkEntry.invalidatePairs(spark)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            ts += (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              failed = true
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
          }
          i += 1
        }
        if (!failed) timings(name) = ts.toSeq
      }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // 3 decimals keeps the stdout line compact (a raw Double prints 17+
    // chars); full precision isn't meaningful given the measured spread.
    def r3dec(v: Double): Double = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Warm-up discard: with ≥3 recorded runs, drop the first.
    val steady = timings.map { case (k, v) => k -> (if (v.size >= 3) v.tail else v) }
    val med = steady.map { case (k, v) => k -> r3dec(median(v)) }
    // stdout medians at 2 decimals: the driver reads a ~2000-char tail
    // window, and at 78 queries the 3-decimal line is within ~180 chars
    // of overflowing (r4 incident). Files below keep full precision.
    def r2dec(v: Double): Double = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qs = med.map { case (k, v) => s""""${esc(k)}":${r2dec(v)}""" }.mkString("{", ",", "}")
    val qmin = steady.map { case (k, v) => s""""${esc(k)}":${r3dec(v.min)}""" }.mkString("{", ",", "}")
    val qmax = steady.map { case (k, v) => s""""${esc(k)}":${r3dec(v.max)}""" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = r3dec(med.values.sum)
    // noise = median over queries of (max-min)/median within each query's
    // steady runs — one compact number: ~0.1-0.3 on a quiet machine;
    // sustained background load inflates it with the timings it pollutes.
    val noise = r2dec(median(steady.collect {
      case (k, v) if v.nonEmpty && med(k) > 0 => (v.max - v.min) / med(k)
    }.toSeq match { case Nil => Seq(0.0); case s => s }))
    val loadEnd = loadAvg
    // Compact line for stdout (driver tail window is ~2000 chars): medians
    // only. The files below carry min/max for spread analysis.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"noise":$noise,"queries":$qs,"errors":$errJson,"sf":"${esc(sfDir)}"}"""
    val qs3 = med.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    // run-1 (cold-JVM warm-up) series, kept alongside the medians so both
    // cold and steady cost are in the artifact (r21 verdict #1 "Done").
    val qcold = timings.map { case (k, v) => s""""${esc(k)}":${r3dec(v.head)}""" }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"noise":$noise,"load_start":${r2dec(loadStart)},"load_end":${r2dec(loadEnd)},"queries":$qs3,"queries_min":$qmin,"queries_max":$qmax,"queries_cold":$qcold,"errors":$errJson,"sf":"${esc(sfDir)}"}"""
    println(line)
    // r21 verdict #2 (handshake robustness): the per-query stdout line is
    // ~4.2KB at 206 queries; the driver parsed it in r21 but r11-r20 all
    // came back "parsed": null once the line outgrew ~2KB. Emit a SECOND,
    // compact summary line LAST so any tail-window (~2000 chars) parser
    // always finds one complete JSON object carrying total/noise/errors.
    // metric is "bench_summary" (not "total") so a parser that keys on
    // "metric":"total" still sees exactly one such line, same as r21.
    // Per-query stays in the full line above and bench_out.json/BENCH_OUT.json.
    val summaryLine = s"""{"metric":"bench_summary","value":$total,"unit":"sec","runs":$runs,"noise":$noise,"n_queries":${med.size},"queries_file":"bench_out.json","errors":$errJson,"sf":"${esc(sfDir)}"}"""
    println(summaryLine)
    // r2 verdict: the driver saw this line only through sbt's "[info] "
    // logger prefix and parsed nothing. Persist the JSON to files too
    // (cwd = sbt base dir for forked runs) so the handshake cannot miss.
    // r20: SUBSET runs (SPARK_GRAFT_BENCH_ONLY set) write to
    // bench_subset.json instead — a single-query probe must never
    // clobber the committed full-suite artifact (it did, twice).
    val outFiles =
      if (only.nonEmpty) Seq("bench_subset.json")
      else Seq("bench_out.json", "BENCH_OUT.json")
    for (p <- outFiles) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), fullLine + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] write $p failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
