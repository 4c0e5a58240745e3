package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Frames

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * All operators are pure Column expressions (codegen'd, no UDFs) over a
  * documents frame `(doc_id, text, ...)` — they scale linearly with a
  * parquet scan and never shuffle by themselves. Metric definitions are
  * chosen to be expressible identically in ANSI SQL so the DuckDB oracle
  * can replay them (integer-ratio divisions are IEEE-exact on both sides).
  */
object TextOps {

  /** Whitespace-normalized lowercase text (exact-dedup canonical form). */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish lexical tokens: word pieces OR single non-space symbols. */
  val lexPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  // ---- token counting (q_tokens) ----

  /** doc_id, ws token count, regex lexeme count, char count. */
  def tokenStats(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val t = col(text)
    docs.select(
      col(id),
      size(tokens(t)).cast(LongType).as("n_tokens_ws"),
      size(call_function("regexp_extract_all", t, lit(lexPattern), lit(0)))
        .cast(LongType).as("n_tokens_lex"),
      length(t).cast(LongType).as("n_chars"))
      .orderBy(id)
  }

  // ---- unicode/text normalization (q_normalize) ----

  /** Canonical text cleanup — the ftfy/Dolma-style normalization pass
    * every web-scraped training corpus runs before anything else:
    *
    *  1. Unicode NFC composition (native [[graft.functions.VectorExprs.NfcNormalize]]
    *     kernel — zero-copy quick-check fast path for already-clean text);
    *  2. strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM);
    *  3. strip C0/C1-adjacent control characters, keeping `\n` and `\t`;
    *  4. map exotic spaces (NBSP, figure/narrow space, en-quads…) to ASCII
    *     space;
    *  5. fold typographic punctuation to ASCII (curly quotes, en/em dash,
    *     ellipsis);
    *  6. collapse space/tab runs and trim.
    *
    * Entirely row-local Column expressions inside one codegen'd
    * projection — scales with the parquet scan, zero shuffles. Every step
    * is replayed verbatim by the DuckDB oracle (`nfc_normalize` +
    * RE2 character classes + the same translate/replace chain), so the
    * cleaned text itself is on the hashed surface.
    */
  def normalizeText(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val raw = col(text)
    val cleaned = normalizeTextCol(raw)
    docs.select(
      col(id),
      cleaned.as("text_norm"),
      length(raw).cast(LongType).as("chars_raw"),
      length(cleaned).cast(LongType).as("chars_norm"),
      (raw =!= cleaned).cast(LongType).as("changed"))
      .orderBy(id)
  }

  /** The normalization chain of [[normalizeText]] as a reusable Column. */
  def normalizeTextCol(raw: Column): Column = {
    val composed = graft.functions.VectorExprs.nfc(raw)
    val noZw = regexp_replace(composed, "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    val noCtl = regexp_replace(noZw, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    val asciiSp = regexp_replace(noCtl, "[\\x{00A0}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]", " ")
    // ‘ ’ “ ” – — -> ' ' " " - - ; … -> ...
    val asciiPunct = regexp_replace(
      translate(asciiSp, "\u2018\u2019\u201C\u201D\u2013\u2014", "''\"\"--"),
      "\u2026", "...")
    trim(regexp_replace(asciiPunct, "[ \\t]{2,}", " "))
  }

  // ---- context-length chunking (q_chunk) ----

  /** Split long documents into fixed-token-window chunks with overlap —
    * the context-length preprocessing step for training/embedding
    * pipelines (each chunk ≤ `chunkTokens` whitespace tokens; successive
    * chunks share `overlapTokens`, so chunk c starts at token
    * c·(chunkTokens−overlapTokens)). The final chunk may be short; a
    * document shorter than one window is its own single chunk; chunking
    * is per-document (row-local: one posexplode over computed offsets,
    * NO shuffle — the output orderBy is the only exchange).
    *
    * Deterministic and engine-replayable: token boundaries are the same
    * `\s+` split as [[tokens]]; the oracle re-derives every chunk string
    * with generate_series + list slicing.
    */
  def chunk(docs: DataFrame, chunkTokens: Int = 256, overlapTokens: Int = 64,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      s"need chunkTokens > overlapTokens >= 0, got $chunkTokens/$overlapTokens")
    val stride = chunkTokens - overlapTokens
    val toks = tokens(col(text))
    // number of chunks: ceil(max(1, n - overlap) / stride)
    val n = size(toks)
    val nChunks = greatest(lit(1),
      ceil((greatest(n - lit(overlapTokens), lit(1))).cast(DoubleType) / stride)
        .cast(IntegerType))
    docs
      .select(col(id), toks.as("_toks"), n.as("_n"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("_ci", "_c")))
      .select(col(id), col("_c").cast(LongType).as("chunk_id"),
        (col("_c") * stride).cast(LongType).as("start_tok"),
        least(lit(chunkTokens), col("_n") - col("_c") * stride)
          .cast(LongType).as("n_tok"),
        array_join(slice(col("_toks"), col("_c") * stride + 1,
          least(lit(chunkTokens), col("_n") - col("_c") * stride)), " ")
          .as("chunk_text"))
      .orderBy(id, "chunk_id")
  }

  // ---- vocabulary / n-gram statistics (q_ngram_freq) ----

  /** Corpus-wide top-N n-gram frequencies (n=1 → vocabulary counts).
    * explode → groupBy count is the scale shape: Spark's hash aggregate
    * partial-combines per partition BEFORE the shuffle, so the exchange
    * carries one row per distinct n-gram per partition — Zipf-head terms
    * are pre-collapsed map-side, no manual salting needed for a count.
    * Deterministic top-N: ties broken by the gram itself.
    */
  /** The per-document n-gram array of the exact vocabulary pass — the
    * native [[graft.functions.VectorExprs.NGramJoin]] kernel (r15: the
    * composed transform/slice/array_join form allocated per gram and
    * was ~90% of the scan cost; byte-identical output).
    */
  private def gramsCol(docs: DataFrame, n: Int, text: String): Column = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    graft.functions.VectorExprs.ngramJoin(tokens(lower(col(text))), lit(n))
  }

  def ngramFrequencies(docs: DataFrame, n: Int = 1, topN: Int = 100,
      text: String = "text"): DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    docs.select(explode(gramsCol(docs, n, text)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("gram"))
      .limit(topN)
  }

  /** Approximate heavy-hitters top-N n-grams — the 100 TB default next
    * to the exact, oracle-gated [[ngramFrequencies]].
    *
    * The exact form is shuffle-shaped right (map-side combine absorbs
    * the Zipf head) but its exchange still carries one row per distinct
    * gram per partition, and on a web corpus the count-1 TAIL is most
    * of the distinct grams — the r14 10x audit measured 15.3x on
    * exactly that (BENCH_10x q_ngram_freq). Global exact top-100 pays a
    * corpus-distinct-sized shuffle for an output of 100 rows.
    *
    * Two passes, classic candidate-set heavy hitters:
    *  - pass 1, NO shuffle: per-partition exact counts in a local hash
    *    map (the explode and the count run inside one stage), keeping
    *    only each partition's top-(topN x overselect) grams in a
    *    bounded heap. The tail never leaves the partition.
    *  - pass 2, tiny shuffles: merge the per-partition heaps with a
    *    depth-2 treeAggregate that SUMS candidate counts and re-trims
    *    to topN x overselect at every merge — the driver receives
    *    O(sqrt(partitions)) size-m partials, not partitions x m, and
    *    the final candidate set is bounded by m REGARDLESS of partition
    *    count (a 100k-partition corpus ships the same ~m strings) —
    *    then broadcast it back as a semi-join filter and recount ONLY
    *    candidate grams exactly. The broadcast is destroyed once the
    *    (topN-row) result is materialized.
    *
    * Returned counts are therefore EXACT; the approximation is solely
    * in candidate recall — a true top-N gram is missed only if it
    * falls below topN x overselect by PARTIAL-SUMMED count at some
    * merge step (summed counts rank strictly better than the single-
    * partition counts they replace), which a Zipfian gram distribution
    * makes vanishingly unlikely (spec pins approx == exact on the gate
    * corpus; q_ngram_approx carries the SAME DuckDB oracle as
    * q_ngram_freq).
    *
    * Per-partition memory is O(distinct grams of one partition) — the
    * same order the exact form's partial hash aggregate already holds;
    * size partitions for the aggregate and this holds too.
    */
  def ngramFrequenciesApprox(docs: DataFrame, n: Int = 1, topN: Int = 100,
      text: String = "text", overselect: Int = 8): DataFrame = {
    require(n >= 1 && topN >= 1 && overselect >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val m = topN * overselect
    val nn = n
    // both passes run over the TOKEN arrays and assemble gram strings in
    // plain JVM code: the Catalyst transform/slice/concat_ws gram
    // builder allocates per gram and measures as ~90% of the EXACT
    // path's local cost (5.1s of 5.1s at sf0.1, aggregation nearly
    // free on top) — a two-scan variant through that expression would
    // pay it twice. Identical token split + separator, so counts equal
    // the exact path's for every gram.
    def gramIter(gs: Seq[String]): Iterator[String] =
      if (gs == null || gs.length < nn) Iterator.empty
      else if (nn == 1) gs.iterator
      else {
        val arr = gs.toArray
        (0 to arr.length - nn).iterator.map { i =>
          val sb = new java.lang.StringBuilder(arr(i))
          var j = 1
          while (j < nn) { sb.append(' ').append(arr(i + j)); j += 1 }
          sb.toString
        }
      }
    val tokRows = docs.select(tokens(lower(col(text))).as("toks")).as[Seq[String]]
    // bounded heap trim: keep the best m by (count desc, gram asc) —
    // the queue dequeues the WORST under this ordering, so it evicts
    // correctly
    def trim(counts: scala.collection.mutable.HashMap[String, Long])
        : Array[(String, Long)] = {
      val ord = Ordering.by[(Long, String), (Long, String)] { case (c, g) => (-c, g) }
      val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String)](ord)
      counts.foreach { case (g, c) =>
        heap.enqueue((c, g))
        if (heap.size > m) heap.dequeue()
      }
      heap.iterator.map { case (c, g) => (g, c) }.toArray
    }
    def mergeTrim(a: Array[(String, Long)], b: Array[(String, Long)])
        : Array[(String, Long)] = {
      val mp = scala.collection.mutable.HashMap.empty[String, Long]
      a.foreach { case (g, c) => mp.update(g, mp.getOrElse(g, 0L) + c) }
      b.foreach { case (g, c) => mp.update(g, mp.getOrElse(g, 0L) + c) }
      trim(mp)
    }
    // pass 1, no shuffle: per-partition exact counts trimmed to m, then
    // a depth-2 treeAggregate merges heaps count-summing and re-trims —
    // executor-side combines cap the driver hop at O(sqrt(P)) size-m
    // partials and the final candidate set at m total
    val candidates: Array[String] = tokRows.rdd.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(gs => gramIter(gs).foreach(g =>
        counts.update(g, counts.getOrElse(g, 0L) + 1L)))
      Iterator.single(trim(counts))
    }.treeAggregate(Array.empty[(String, Long)])(mergeTrim, mergeTrim, depth = 2)
      .map(_._1)
    val candSet = spark.sparkContext.broadcast(candidates.toSet)
    // pass 2: exact recount restricted to candidates — the exchange
    // carries at most |candidates| rows per partition; the tail never
    // leaves its partition in either pass. Materialize the (<= topN
    // rows) result so the candidate broadcast can be destroyed.
    val out = Frames.materialize(tokRows.mapPartitions { it =>
      val cs = candSet.value
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(gs => gramIter(gs).foreach(g =>
        if (cs.contains(g)) counts.update(g, counts.getOrElse(g, 0L) + 1L)))
      counts.iterator
    }.toDF("gram", "cnt_p")
      .groupBy("gram").agg(sum("cnt_p").as("cnt"))
      .orderBy(desc("cnt"), asc("gram"))
      .limit(topN))
    candSet.destroy()
    out
  }

  /** Bigram collocations ranked by LIFT = p(x,y)/(p(x)p(y)) — the
    * exponential of pointwise mutual information (Church & Hanks 1990),
    * the phrase-mining / tokenizer-vocab primitive, WITHOUT the log:
    * ordering by PMI is ordering by the rational c_xy·N/(c_x·c_y), and
    * with every factor an exact integer ≤ 2^53 the two products and one
    * IEEE division are deterministic cross-engine (round 6dp; the
    * SURVEY §2.6 transcendental-free rule — the log form would
    * hash-diverge in the last ulp). Marginals c_x/c_y and N derive from
    * the bigram table itself, so one gram count feeds everything; the
    * `minCount` floor is the standard PMI rare-pair guard. At corpus
    * scale the count-1 bigram tail dominates the exchange — route the
    * candidate set through [[ngramFrequenciesApprox]]'s bounded heaps
    * or a [[Sketches.cmsSketch]] ≥ minCount prefilter first, then exact
    * recount (counts here are small enough that c_xy·N can also
    * overflow 2^53 on a trillion-token corpus: lift the products to
    * DECIMAL(38,0) there — exact, associative).
    */
  def collocations(docs: DataFrame, minCount: Long = 5, topN: Int = 50,
      text: String = "text"): DataFrame = {
    val bg = docs.select(explode(gramsCol(docs, 2, text)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).cast(LongType).as("c_xy"))
    // force the ≤topN surface, then release the shared bigram split — a
    // lazy return would pin the data-sized cache entry until LRU eviction
    Frames.materializeOver(bg.select(
      element_at(split(col("gram"), " "), 1).as("w1"),
      element_at(split(col("gram"), " "), 2).as("w2"),
      col("c_xy"))) { sp =>
      val mx = sp.groupBy("w1").agg(sum(col("c_xy")).cast(LongType).as("c_x"))
      val my = sp.groupBy("w2").agg(sum(col("c_xy")).cast(LongType).as("c_y"))
      val n = sp.agg(sum(col("c_xy")).cast(LongType).as("n"))
      sp.filter(col("c_xy") >= minCount)
        .join(mx, "w1").join(my, "w2").crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          round((col("c_xy") * col("n")).cast(DoubleType) /
            (col("c_x") * col("c_y")).cast(DoubleType), 6).as("lift"))
        .orderBy(desc("lift"), asc("w1"), asc("w2"))
        .limit(topN)
    }
  }

  // ---- quality scoring (q_quality) ----

  /** English stopwords (tiny public list) used for the stopword ratio. */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in",
    "is", "that", "it", "was")

  /** Length / punctuation / stopword / repetition heuristics.
    * `quality_score = distinct_ratio * (1 - punct_ratio)` — a cheap,
    * deterministic proxy for boilerplate/repetition filtering.
    */
  def quality(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val t = col(text)
    val toks = tokens(t)
    val nTok = size(toks)
    val nChars = length(t)
    val punct = length(regexp_replace(t, "[^.!?,;:]", ""))
    // native hash-set probe per token (the HOF filter+isin form runs
    // |words| interpreted comparisons per token)
    val stops = graft.functions.VectorExprs.countIn(toks, enStopwords)
    val distinctToks = size(array_distinct(toks))
    docs.select(
      col(id),
      nChars.cast(LongType).as("n_chars"),
      nTok.cast(LongType).as("n_tokens"),
      (punct.cast(DoubleType) / nChars).as("punct_ratio"),
      (stops.cast(DoubleType) / nTok).as("stopword_ratio"),
      (distinctToks.cast(DoubleType) / nTok).as("distinct_ratio"),
      ((distinctToks.cast(DoubleType) / nTok) *
        (lit(1.0) - punct.cast(DoubleType) / nChars)).as("quality_score"))
      .orderBy(id)
  }

  // ---- language ID (q_langid) ----

  /** Tiny public stopword profiles per language; hit-count argmax with a
    * deterministic tie-break (profile order) and 'und' when nothing hits.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "y", "es", "en", "se", "del", "las", "por", "con"),
    "zh" -> Seq("的", "是", "在", "了", "不", "我", "有", "他", "这", "中"))

  def langId(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val toks = tokens(lower(col(text)))
    // one native hash-set probe per token per profile (the HOF form runs
    // |profile| interpreted comparisons per token per profile)
    val hitCols = langProfiles.map { case (lang, words) =>
      lang -> graft.functions.VectorExprs.countIn(toks, words)
    }
    // strict argmax in profile order, kept LINEAR in expression size: a
    // when-chain fold doubles the best-so-far subtree at every step, so
    // once CollapseProject inlines lang_pred into a downstream predicate
    // (q_sample_stratified filters on it) each probe is re-evaluated
    // O(2^|profiles|) times. greatest() over (hits, -idx) structs embeds
    // each probe once; ties on hits pick the larger -idx = the EARLIER
    // profile, and a (0, 1) sentinel outranks all-zero rows so 'und'
    // falls out of the same lookup with no second reference to `best`.
    val langArr = array(("und" +: langProfiles.map(_._1)).map(lit): _*)
    val best = greatest(
      struct(lit(0L).as("h"), lit(1).as("ni")) +:
        hitCols.zipWithIndex.map { case ((_, hits), i) =>
          struct(hits.as("h"), lit(-i).as("ni"))
        }: _*)
    docs.select(
      col(id) +:
      hitCols.map { case (lang, hits) => hits.as(s"${lang}_hits") } :+
      element_at(langArr, lit(2) - best.getField("ni")).as("lang_pred"): _*)
      .orderBy(id)
  }

  // ---- document fingerprinting: winnowing (q_fingerprint) ----

  /** Ordered (non-distinct) k-token shingle hashes — position matters for
    * winnowing windows. Native kernel, values identical to xxhash64 over
    * the space-joined shingle strings.
    */
  def orderedShingleHashes(text: Column, k: Int): Column =
    graft.functions.VectorExprs.shingleHashes(tokens(text), lit(k))

  /** Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03 — public
    * algorithm): hash all k-token shingles, take the min hash of each
    * sliding window of `w` shingles, keep the distinct minima. Emitted as
    * a sorted array for deterministic comparison.
    *
    * Shape (r4 rewrite): the sliding-window minima come from the native
    * O(n) monotonic-deque expression [[graft.functions.VectorExprs.SlidingMin]]
    * computed IN PLACE during the scan projection — zero shuffle. The
    * previous shape (posexplode → exchange by doc id → window min →
    * re-group) shuffled one row per shingle; a per-window HOF lambda
    * would be interpreted O(n·w). Same results, one narrow stage.
    */
  def fingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .select(col(id), orderedShingleHashes(col(text), k).as("sh"))
      .filter(size(col("sh")) >= w)
      .select(col(id),
        array_sort(array_distinct(
          graft.functions.VectorExprs.slidingMin(col("sh"), lit(w)))).as("fingerprint"))
      .withColumn("n_fingerprints", size(col("fingerprint")).cast(LongType))
      .orderBy(id)
  }

  // ---- repetition filters (q_repetition) ----

  /** Gopher-style repetition quality filters (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", Table A1 — public
    * construction): per document,
    *  - `dup_line_frac`: fraction of lines that repeat an earlier line;
    *  - `dup_line_char_frac`: fraction of line characters inside
    *    repeated lines;
    *  - `top{2,3,4}_frac`: characters covered by the occurrences of the
    *    MOST frequent word n-gram, over total characters;
    *  - `dup{5..10}_frac`: characters covered by occurrences of ALL
    *    repeated word n-grams, over total characters (occurrence-
    *    weighted: overlapping occurrences each count — the interval-
    *    union variant is not SQL-replayable, divergence documented);
    *  - `keep`: the published Gopher thresholds (dup_line <= 0.30,
    *    top2/3/4 <= 0.20/0.18/0.16, dup5..10 <= 0.15..0.10).
    *
    * Shape: ZERO shuffles — every signal is a within-document
    * aggregate, so the whole computation runs in one row-local native
    * kernel pass ([[graft.functions.VectorExprs.RepStats]]: per-doc
    * gram hash maps, xxhash64 gram identity). The r4–r13 formulation
    * exploded ~9×|tokens| (hash, len) rows through two hash
    * aggregations keyed on the doc id — a corpus-sized exchange that
    * moved data BETWEEN executors to count duplicates WITHIN rows
    * (r14 audit: ~8s of q_pipeline_e2e's 11s at sf0.1). The DuckDB
    * oracle still groups by the gram strings themselves and must agree
    * under the collision-free-64-bit argument shared with the jaccard
    * family. Everything integer until the final per-doc divisions.
    */
  def repetition(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val t = col(text)
    val rs = graft.functions.VectorExprs.repStats(tokens(t), split(t, "\n"),
      typedLit(topNs.toArray), typedLit(dupNs.toArray))
    val topCols = topNs.zipWithIndex.map { case (n, i) =>
      rs.getField("tops").getItem(i).as(s"_top$n") }
    val dupCols = dupNs.zipWithIndex.map { case (n, i) =>
      rs.getField("dups").getItem(i).as(s"_dup$n") }
    // The kernel evaluates exactly ONCE per row: all field extractions
    // happen in ONE projection (whole-stage-codegen ProjectExec
    // subexpression-eliminates the identical kernel subtrees), and the
    // flat result is sealed behind an optimizer fence. Without the
    // fence, predicate pushdown's alias substitution (which has no
    // expression-cost guard) rewrites a caller's `.filter(col("keep"))`
    // into a conjunction whose EVERY threshold term embeds its own copy
    // of the kernel call — and WSCG FilterExec generates conjuncts
    // independently (no cross-conjunct subexpression elimination), so
    // the kernel ran ~11x per row (measured r15: q_pipeline_e2e 2.5s ->
    // 9.9s the moment RepStats became codegen-able and the filter moved
    // into WSCG; the old CodegenFallback path kept the filter outside
    // WSCG where Predicate.create DOES subexpression-eliminate). The
    // fenced row is 12 longs — the text column is long gone — so the
    // fence's per-row cost is noise. The null-drop sits ABOVE the fence
    // (GetStructField of a null kernel result is null), so it tests an
    // attribute instead of substituting a second kernel call.
    val aggd = graft.util.Fence(docs
      .select(Seq(col(id), length(trim(t)).cast(LongType).as("char_len"),
        rs.getField("n_lines").as("n_lines"),
        rs.getField("d_lines").as("d_lines"),
        rs.getField("line_chars").as("line_chars"),
        rs.getField("dup_line_chars").as("dup_line_chars")) ++
        topCols ++ dupCols: _*))
      // null text produced no exploded rows in the old shape — keep
      // dropping those documents
      .filter(col("n_lines").isNotNull)
    // capped at 1.0: occurrence-weighted coverage can exceed the char
    // count when occurrences overlap (the interval-union variant that
    // cannot is not SQL-replayable — divergence documented above)
    def frac(num: Column, den: Column): Column =
      when(den > 0,
        least(lit(1.0), coalesce(num, lit(0L)).cast(DoubleType) / den))
        .otherwise(lit(0.0))
    val fracCols = Seq(
      col(id),
      col("n_lines"),
      frac(col("n_lines") - col("d_lines"), col("n_lines"))
        .as("dup_line_frac"),
      frac(col("dup_line_chars"), col("line_chars"))
        .as("dup_line_char_frac")) ++
      topNs.map(n => frac(col(s"_top$n"), col("char_len")).as(s"top${n}_frac")) ++
      dupNs.map(n => frac(col(s"_dup$n"), col("char_len")).as(s"dup${n}_frac"))
    val withFracs = aggd.select(fracCols: _*)
    val thresholds = Seq("dup_line_frac" -> 0.30,
      "top2_frac" -> 0.20, "top3_frac" -> 0.18, "top4_frac" -> 0.16,
      "dup5_frac" -> 0.15, "dup6_frac" -> 0.14, "dup7_frac" -> 0.13,
      "dup8_frac" -> 0.12, "dup9_frac" -> 0.11, "dup10_frac" -> 0.10)
    withFracs
      .withColumn("keep", thresholds.map { case (c, th) => col(c) <= th }
        .reduce(_ && _))
      .orderBy(id)
  }

  // ---- corpus-frequency commonness (q_commonness) ----

  /** Corpus-frequency commonness score per document — the two-pass
    * shape CCNet-style filters use (corpus statistics → per-doc score;
    * Wenzek et al. 2020 filter on LM perplexity, we score on corpus
    * token frequency): pass 1 counts every token's corpus occurrences,
    * pass 2 joins the counts back to each document's tokens and rolls
    * up mean/min/max corpus count and the rare-token ratio
    * (corpus count <= rareMaxCount). All metrics are integer ratios
    * with ONE final division — IEEE-exact on any engine, so the oracle
    * derives them (no transcendentals: a log-perplexity variant would
    * hash-diverge in the last ulp between libm and the JVM).
    *
    * Scale: tokens travel as xxhash64 keys (8 bytes; collision-free-
    * 64-bit argument as everywhere), both aggregations partial-combine
    * map-side, and the count join-back is an equi-join on longs that
    * AQE broadcasts when the vocabulary is small.
    */
  def commonness(docs: DataFrame, rareMaxCount: Long = 2,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val e = docs.select(col(id), explode(tokens(col(text))).as("w"))
      .select(col(id), xxhash64(col("w")).as("h"))
    val f = e.groupBy("h").agg(count(lit(1)).as("cnt"))
    e.join(f, "h")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        sum("cnt").as("sum_cnt"),
        min("cnt").as("min_token_count"),
        max("cnt").as("max_token_count"),
        sum(when(col("cnt") <= rareMaxCount, 1L).otherwise(0L))
          .as("rare_count"))
      .select(col(id), col("n_tokens"),
        (col("sum_cnt").cast(DoubleType) / col("n_tokens"))
          .as("mean_token_count"),
        col("min_token_count"), col("max_token_count"),
        (col("rare_count").cast(DoubleType) / col("n_tokens"))
          .as("rare_ratio"))
      .orderBy(id)
  }

  // ---- corpus summary statistics (q_corpus_stats) ----

  /** Per-stratum dataset-card report: document counts, char/token totals
    * and means, source diversity, and each stratum's share of the corpus
    * — the summary table a training-data release ships alongside the
    * shards.
    *
    * Scale shape: ONE partial-combining hash aggregate over scan-side
    * expressions (token counts computed per row, never exploded); the
    * wire carries one agg-state row per (stratum, partition). The
    * corpus-share window runs over the AGGREGATED frame — its row count
    * is the stratum cardinality (bounded, e.g. #languages), so the
    * no-partition window is a constant-size reduction, not a corpus
    * funnel.
    */
  /** Vocabulary-growth statistics per source — the Heaps'-law /
    * type-token dataset-card tier: token count, distinct-type count,
    * hapax legomena (types occurring ONCE in that source — the
    * vocabulary frontier, and the classic OCR-noise / boilerplate
    * signal), with type-token and hapax ratios as integer permilles.
    * One (source, token)-keyed count (hash-partitioned by the PAIR, so
    * a hot source spreads — the skewSafeCountDistinct shape) + one
    * per-source rollup of the tiny type table. All-integer surface.
    */
  def vocabGrowth(docs: DataFrame, sourceCol: String = "source",
      text: String = "text"): DataFrame = {
    val tok = docs.select(col(sourceCol).as("src"),
      explode(tokens(col(text))).as("tok"))
      .filter(col("tok") =!= "")
    val counts = tok.groupBy("src", "tok")
      .agg(count(lit(1)).cast(LongType).as("c"))
    counts.groupBy("src")
      .agg(sum(col("c")).cast(LongType).as("n_tokens"),
        count(lit(1)).cast(LongType).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast(LongType)
          .as("n_hapax"))
      .select(col("src"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("CAST((1000 * n_types) DIV n_tokens AS BIGINT)").as("ttr_permille"),
        expr("CAST((1000 * n_hapax) DIV n_types AS BIGINT)").as("hapax_permille"))
      .orderBy("src")
  }

  /** Token frequency-of-frequencies SPECTRUM — the Zipf / Good–Turing
    * diagnostic of a corpus vocabulary (how many types occur once,
    * 2-3×, 4-7×, …): the dataset-card plot that shows at a glance
    * whether a corpus is hapax-heavy crawl noise or template-heavy
    * boilerplate. Frequencies land in log2 buckets (bit length of the
    * count — the q_qsketch idiom, so the output is ≤ ~60 rows whatever
    * the corpus size) with types-per-bucket, tokens-per-bucket, and an
    * integer permille share of types. Two grouped counts + a one-row
    * broadcast total; every hashed column an exact integer. Returns
    * (bucket, freq_lo, n_types, n_tokens, types_permille) ascending.
    */
  def frequencySpectrum(docs: DataFrame, text: String = "text"): DataFrame = {
    val tok = docs.select(explode(tokens(col(text))).as("tok"))
      .filter(col("tok") =!= "")
    val counts = tok.groupBy("tok").agg(count(lit(1)).cast(LongType).as("c"))
    val spec = counts
      .select(length(bin(col("c"))).cast(IntegerType).as("bucket"), col("c"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast(LongType).as("n_types"),
        sum(col("c")).cast(LongType).as("n_tokens"))
    val total = spec.agg(sum(col("n_types")).cast(LongType).as("tt"))
    spec.crossJoin(broadcast(total))
      .select(col("bucket"),
        call_function("shiftleft", lit(1L), col("bucket") - 1).as("freq_lo"),
        col("n_types"), col("n_tokens"),
        expr("CAST((1000 * n_types) DIV tt AS BIGINT)").as("types_permille"))
      .orderBy("bucket")
  }

  /** Per-source distributional drift — Pearson's chi-square statistic of
    * each source's category mix (language by default) against the
    * corpus-wide expectation: χ²(s) = Σ_c (O_sc − E_sc)²/E_sc with
    * E_sc = N_s·N_c/N — the data-pipeline monitor for "did this crawl
    * slice / new dump shift the mixture", and the classic contamination
    * smoke test. Includes O = 0 cells (a source MISSING a category is
    * drift too): the cell grid is the (sources × categories) cross join
    * of two tiny aggregates, never a data-sized frame.
    *
    * Engine-parity arithmetic: the cell term is cross-multiplied to
    * (O·N − N_s·N_c)²/(N·N_s·N_c) — numerator an exact DECIMAL(18,0)
    * squared into 37 digits, denominator an exact DECIMAL(38,0) (NOT
    * BIGINT: n·ns·nc crosses 2⁶³ at ~2M docs with a dominant source ×
    * category, where non-ANSI Spark would wrap silently while DuckDB
    * errors — the r17 ADVICE divergence; the oracle mirrors with
    * HUGEINT) — evaluated as casts + one divide + the
    * floor(x·10⁶ + 0.5) integer-unit quantization (every step one
    * correctly-rounded IEEE op — the q_betweenness rule:
    * round(double, n) itself is NOT engine-portable), then summed per
    * source as exact BIGINTs. Returns
    * (source, n_docs, n_cells, chi2_e6, chi2) ordered by source.
    */
  def sourceDrift(docs: DataFrame, sourceCol: String = "source",
      catCol: String = "lang"): DataFrame =
    sourceDriftFromCounts(
      docs.groupBy(col(sourceCol).as("src"), col(catCol).as("cat"))
        .agg(count(lit(1)).cast(LongType).as("o")))

  /** The χ² cell grid over an ALREADY-AGGREGATED (src, cat, o) count
    * frame — shared by the batch operator and the streaming twin
    * (whose complete-mode count state drains to exactly this frame).
    */
  private[graft] def sourceDriftFromCounts(o: DataFrame): DataFrame = {
    val d18 = DecimalType(18, 0)
    val ns = o.groupBy("src").agg(sum(col("o")).cast(LongType).as("ns"))
    val nc = o.groupBy("cat").agg(sum(col("o")).cast(LongType).as("nc"))
    val n = o.agg(sum(col("o")).cast(LongType).as("n"))
    val diff = (col("o").cast(d18) * col("n") -
      col("ns").cast(d18) * col("nc")).cast(d18)
    val cells = ns.crossJoin(nc)
      .join(o, Seq("src", "cat"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("cell_e6", floor(
        (diff * diff).cast(DoubleType) /
          (col("n").cast(d18) * col("ns").cast(d18) * col("nc").cast(d18))
            .cast(DecimalType(38, 0)).cast(DoubleType) *
          lit(1.0e6) + lit(0.5)).cast(LongType))
    cells.groupBy("src")
      .agg(max(col("ns")).as("n_docs"),
        count(lit(1)).cast(LongType).as("n_cells"),
        sum(col("cell_e6")).cast(LongType).as("chi2_e6"))
      .withColumn("chi2", col("chi2_e6").cast(DoubleType) / lit(1.0e6))
      .orderBy("src")
  }

  def corpusStats(docs: DataFrame, stratCol: String = "lang",
      id: String = "doc_id", text: String = "text",
      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = col(text)
    val perStrat = docs
      .select(col(stratCol), length(t).cast(LongType).as("nc"),
        size(tokens(t)).cast(LongType).as("nt"), col(sourceCol))
      .groupBy(col(stratCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("nc").as("total_chars"),
        min("nc").as("min_chars"),
        max("nc").as("max_chars"),
        sum("nt").as("total_tokens"),
        countDistinct(col(sourceCol)).as("n_sources"))
    perStrat
      .select(col(stratCol), col("n_docs"), col("total_chars"),
        (col("total_chars").cast(DoubleType) / col("n_docs")).as("mean_chars"),
        col("min_chars"), col("max_chars"), col("total_tokens"),
        (col("total_tokens").cast(DoubleType) / col("n_docs")).as("mean_tokens"),
        col("n_sources"),
        (col("n_docs").cast(DoubleType) /
          sum("n_docs").over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .as("doc_share"))
      .orderBy(stratCol)
  }

  /** md5-prefix 60-bit hash — the engine-portable leaf hash shared by
    * the *Portable twins: 15 hex chars keep the value positive in a
    * signed BIGINT on any engine, so a DuckDB oracle can DERIVE twin
    * outputs instead of a rows-only check.
    */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** Engine-portable winnowing twin: identical pipeline to
    * [[fingerprints]] — same ordered shingling, same native O(n)
    * SlidingMin kernel, same distinct step — with the leaf hash swapped
    * from the xxhash64 kernel to [[md5Hash60]], and the fingerprint SET
    * exploded to scalar rows (arrays hash engine-dependently in the
    * gate). The xxhash64 entry stays the benched scale path: md5 over
    * materialized shingle strings costs an interpreted HOF per doc,
    * fine at gate scale.
    */
  def fingerprintsPortable(docs: DataFrame, k: Int = 3, w: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    // native kernel (one eval per row); VectorExprsSpec pins
    // bit-equality with the md5Hash60-over-shingleStrings HOF form
    docs
      .select(col(id), graft.functions.VectorExprs
        .shingleMd5(tokens(col(text)), lit(k)).as("sh"))
      .filter(size(col("sh")) >= w)
      .select(col(id), explode(array_distinct(
        graft.functions.VectorExprs.slidingMin(col("sh"), lit(w)))).as("fp"))
      .orderBy(id, "fp")
  }

  // ---- token-budget packing (q_pack) ----

  /** Assigns each document to a token-budget shard by contiguous fill in
    * (n_tokens DESC, id ASC) order: shard = floor(prefix-sum-before-doc /
    * budget). The deterministic global order makes shards reproducible
    * and SQL-replayable.
    *
    * Scale shape: the token prefix sum is [[Skew.prefixScan]], never a
    * global window (which would funnel the whole corpus through ONE
    * partition); the shard columns run lazily over its stored scan.
    */
  def packByBudget(docs: DataFrame, budgetTokens: Long,
      id: String = "doc_id", text: String = "text"): DataFrame =
    packByBudgetFromCounts(
      docs.select(col(id), size(tokens(col(text))).cast(LongType).as("n_tokens")),
      budgetTokens, id)

  /** [[packByBudget]] over PRE-COMPUTED token counts (`id`, n_tokens) —
    * for compositions that filter a corpus first: the packing plan only
    * ever needs ids and counts, so callers can checkpoint a KB-sized
    * count frame between stages instead of re-materializing the text
    * column (r14: q_pipeline_e2e checkpointed the full text corpus just
    * to count tokens afterwards).
    */
  def packByBudgetFromCounts(withTok: DataFrame, budgetTokens: Long,
      id: String = "doc_id"): DataFrame =
    Skew.prefixScan(withTok, Nil, Seq(desc("n_tokens"), col(id)),
        col("n_tokens"), "_incl")
      .withColumn("_prefix", col("_incl") - col("n_tokens"))
      .withColumn("shard", expr(s"_prefix div ${budgetTokens}L"))
      // where the doc's tokens start inside its shard's token stream —
      // the writer-side cursor that makes the assignment directly
      // consumable (docs are not split, so a shard's first doc is NOT
      // at a budget multiple: subtract the shard's first prefix, a
      // bounded per-shard window)
      .withColumn("offset_in_shard",
        col("_prefix") - min("_prefix").over(
          org.apache.spark.sql.expressions.Window.partitionBy("shard")))
      .select(col(id), col("n_tokens"), col("shard"), col("offset_in_shard"))
      .orderBy(id)

  /** Materializes the packed shards [[packByBudget]] assigns: one row
    * per shard with the member docs' text concatenated in fill order
    * ((tokens desc, id) — exactly the assignment order, so offsets from
    * packByBudget index into this text) — the terminal step that turns
    * a packing PLAN into training-ready sequences.
    *
    * Scale: the shuffle is keyed by shard id, and a shard's payload is
    * BOUNDED BY THE BUDGET (≈budget tokens by construction), so the
    * per-reducer state is capped no matter the corpus size — packing
    * 100 TB makes more shards, not bigger ones. collect_list over
    * (order key, text) structs then array_sort gives deterministic
    * in-shard order without a second window.
    */
  def packShards(docs: DataFrame, budgetTokens: Long,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val assign = packByBudget(docs, budgetTokens, id, text)
    docs.select(col(id), col(text))
      .join(assign, id)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(
            (-col("n_tokens")).as("negTok"), col(id).cast(LongType).as("tid"),
            col(text).as("t")))),
          s => s.getField("t")), " ").as("shard_text"))
      .orderBy("shard")
  }

  // ---- PII redaction (q_redact) ----

  /** Masks common PII shapes — emails, 7+-digit phone-like number runs,
    * dotted-quad IPs — with fixed tokens, and reports per-doc match
    * counts. Pure scan-side regexp_replace chains (codegen'd, no
    * shuffle); patterns stay in the RE2-compatible subset so the SQL
    * oracle replays them verbatim.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\b[0-9][0-9()\\- ]{5,}[0-9]\\b"

  def redact(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val t = col(text)
    def hits(re: String) =
      size(call_function("regexp_extract_all", t, lit(re), lit(0))).cast(LongType)
    val masked =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, emailRe, "<EMAIL>"),
          ipRe, "<IP>"),
        phoneRe, "<PHONE>")
    docs.select(
      col(id),
      hits(emailRe).as("n_emails"),
      hits(ipRe).as("n_ips"),
      masked.as("redacted"))
      .orderBy(id)
  }

  // ---- deterministic hash sampling (q_sample) ----

  /** Keeps a deterministic `permille`/1000 fraction of rows by an
    * md5-prefix hash of the id — reproducible across engines and runs
    * (unlike rand()-based sampling), uniform, and pure scan-side: no
    * shuffle, pushdown-friendly, exactly replayable in SQL. Salt with a
    * label to draw independent samples.
    */
  def hashSample(docs: DataFrame, permille: Int, salt: String = "",
      id: String = "doc_id"): DataFrame = {
    val h = conv(substring(md5(concat(lit(salt), col(id).cast(StringType))), 1, 8),
      16, 10).cast(LongType)
    docs.filter(h % 1000L < permille.toLong)
  }

  /** Deterministic train/val/test split assignment — the hash-bucket
    * three-way split a training pipeline performs before packing.
    * Buckets are disjoint md5-permille ranges over the document id, so
    * the SAME document lands in the SAME split on any engine, cluster
    * size, or rerun, independent of row order and partitioning — the
    * property that keeps held-out sets uncontaminated when the corpus
    * is rebuilt. Scan-side: one hash per row, no shuffle; salt to draw
    * a fresh fold (k-fold = k salts).
    */
  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): weighted
    * sampling WITHOUT replacement with per-item subset-sum estimators —
    * the "sample documents proportional to quality/length, but keep
    * totals unbiased" primitive. Item priority = w·2^52/u with u a
    * deterministic 52-bit hash in [1, 2^52] (the md5-prefix leaf
    * truncated to 52 bits so BOTH the cast-to-double and the one
    * division are exactly-rounded IEEE ops — bit-identical on any
    * engine, no RNG state anywhere); the sample is the k highest
    * priorities and each kept item carries ŵ = max(w, τ) with τ the
    * (k+1)-th priority — E[Σŵ] = Σw (the paper's estimator), so
    * downstream token/byte budgeting over the sample stays honest.
    * Selection compiles to TakeOrderedAndProject (per-partition top
    * k+1, driver merge) — never a global sort; the rank window runs
    * over k+1 rows only.
    */
  def prioritySample(docs: DataFrame, k: Int = 100,
      weight: String = "n_chars", id: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k >= 1")
    val u = lit(1L) +
      shiftright(md5Hash60(concat(lit("ps:"), col(id).cast(StringType))), 8)
    val p = docs.filter(col(weight) > 0)
      .select(col(id), col(weight).cast(LongType).as("w"),
        ((col(weight).cast(DoubleType) * lit(4503599627370496.0)) /
          u.cast(DoubleType)).as("priority"))
    val top = p.orderBy(col("priority").desc, col(id)).limit(k + 1)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("priority").desc, col(id))).cast(LongType))
    // τ = 0 when the corpus has ≤ k items (sample = everything, ŵ = w —
    // the estimator is exact there); one-row aggregate so the broadcast
    // never empties the result
    val tau = top.agg(coalesce(
      min(when(col("rnk") === (k + 1).toLong, col("priority"))),
      lit(0.0)).as("t"))
    top.filter(col("rnk") <= k).crossJoin(broadcast(tau))
      .select(col(id), col("w"), col("rnk"),
        greatest(col("w").cast(DoubleType), col("t")).as("w_hat"))
      .orderBy("rnk")
  }

  def hashSplit(docs: DataFrame, testPermille: Int = 10,
      valPermille: Int = 10, salt: String = "",
      id: String = "doc_id"): DataFrame = {
    require(testPermille + valPermille <= 1000, "permilles exceed 1000")
    val h = conv(substring(md5(concat(lit(salt), col(id).cast(StringType))), 1, 8),
      16, 10).cast(LongType) % 1000L
    docs.withColumn("split",
      when(h < testPermille.toLong, "test")
        .when(h < (testPermille + valPermille).toLong, "val")
        .otherwise("train"))
  }

  /** Deterministic FIXED-SIZE sample: exactly `n` rows (fewer only when
    * the corpus is smaller), chosen as the n smallest md5(salt, id)
    * hashes — a reproducible "give me 10k eval docs" draw, stable under
    * reruns, engine changes, and corpus repartitioning, and cheap:
    * hash-order LIMIT compiles to TakeOrderedAndProject (per-partition
    * top-n, driver merges P×n rows — never a global sort). `pick_rank`
    * (0-based hash order) makes any prefix of the sample itself a valid
    * smaller sample. Permille sampling ([[hashSample]]) can't promise an
    * exact count; this can't promise a scan-side filter — complementary
    * tools.
    */
  def hashSampleN(docs: DataFrame, n: Int, salt: String = "",
      id: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hkey = md5(concat(lit(salt), col(id).cast(StringType)))
    docs.select(col(id), hkey.as("hkey"))
      .orderBy(col("hkey"), col(id))
      .limit(n)
      .withColumn("pick_rank", (row_number().over(
        Window.orderBy(col("hkey"), col(id))) - 1).cast(LongType))
      .select(col(id), col("pick_rank"))
      .orderBy(id)
  }

  /** Per-stratum deterministic sampling: each row's keep-permille comes
    * from its stratum column (e.g. detected language), so mixture
    * weights are enforced exactly and reproducibly — the downsample-
    * the-head / keep-the-tail move of corpus balancing. Same md5-prefix
    * hash as [[hashSample]]: scan-side, engine-portable, no shuffle.
    */
  def hashSampleStratified(docs: DataFrame, stratCol: String,
      permilles: Map[String, Int], defaultPermille: Int,
      salt: String = "", id: String = "doc_id"): DataFrame = {
    val h = conv(substring(md5(concat(lit(salt), col(id).cast(StringType))), 1, 8),
      16, 10).cast(LongType)
    val p = permilles.foldLeft(lit(defaultPermille.toLong)) {
      case (acc, (k, v)) => when(col(stratCol) === k, lit(v.toLong)).otherwise(acc)
    }
    docs.filter(h % 1000L < p)
  }

  // ---- mixture auto-balancing (q_mix) ----

  /** Downsamples every stratum to (approximately) the size of the
    * SMALLEST one: keep-permille for stratum s is
    * `(1000 * min_count) div count_s` — integer division, so the rate
    * is exact on any engine — then rows pass the same md5-permille
    * filter as [[hashSample]]. This is the self-tuning form of
    * [[hashSampleStratified]]: no hand-chosen rates, the corpus's own
    * histogram decides, and a rebuilt corpus reproduces the identical
    * per-document decision.
    *
    * Scale: pass 1 is a tiny partial-combining count per stratum
    * (|strata| rows); the rate table joins back by stratum key and is
    * broadcast; the filter itself is scan-side. No wide shuffle at any
    * corpus size.
    */
  def balanceMixture(docs: DataFrame, stratCol: String,
      salt: String = "", id: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(stratCol).agg(count(lit(1)).as("strat_cnt"))
    val rates = counts
      .withColumn("min_cnt", min("strat_cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col(stratCol),
        expr("(1000 * min_cnt) div strat_cnt").as("keep_permille"))
    val h = conv(substring(md5(concat(lit(salt), col(id).cast(StringType))), 1, 8),
      16, 10).cast(LongType)
    docs.join(broadcast(rates), stratCol)
      .filter(h % 1000L < col("keep_permille"))
      .select(col(id), col(stratCol), col("keep_permille"))
      .orderBy(id)
  }

  /** Temperature-flattened mixture (the multilingual-sampling standard —
    * Conneau & Lample '19, XLM-R: sample source s with probability ∝
    * p_s^tau, flattening dominant sources without collapsing to equal
    * sizes): each source keeps a deterministic md5-hash rate targeting
    * count_s^tau · min_count^(1-tau) documents — tau=1 keeps everything,
    * tau=0 is [[balanceMixture]]'s equal-size floor, between them a
    * geometric interpolation. Same scan-side rate mechanism as
    * balanceMixture: a broadcast #sources-row rate table, no per-source
    * ranking window, skew-free at any corpus size.
    *
    * The gate runs tau=0.5, where the target is round(sqrt(count_s ·
    * min_count)): sqrt is IEEE correctly-rounded on every engine, so
    * the DuckDB oracle replays the rate table bit-exactly (pow is not
    * correctly-rounded and could flip a round() at the .5 boundary).
    */
  def balanceMixtureTemperature(docs: DataFrame, stratCol: String,
      tau: Double = 0.5, salt: String = "", id: String = "doc_id"): DataFrame = {
    require(tau >= 0.0 && tau <= 1.0, s"tau must be in [0,1], got $tau")
    val counts = docs.groupBy(stratCol).agg(count(lit(1)).as("strat_cnt"))
    val target =
      if (tau == 0.5) round(sqrt(col("strat_cnt") * col("min_cnt")))
      else round(pow(col("strat_cnt"), lit(tau)) * pow(col("min_cnt"), lit(1.0 - tau)))
    val rates = counts
      .withColumn("min_cnt", min("strat_cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("target", target.cast(LongType))
      .select(col(stratCol),
        least(lit(1000L), expr("(1000 * target) div strat_cnt"))
          .as("keep_permille"))
    val h = conv(substring(md5(concat(lit(salt), col(id).cast(StringType))), 1, 8),
      16, 10).cast(LongType)
    docs.join(broadcast(rates), stratCol)
      .filter(h % 1000L < col("keep_permille"))
      .select(col(id), col(stratCol), col("keep_permille"))
      .orderBy(id)
  }

  // ---- deterministic global shuffle (q_shuffle) ----

  /** Seeded, reproducible global corpus shuffle with MATERIALIZED
    * positions — the training-order randomization step: every document
    * gets the dense rank of md5(seed, id), so any engine, cluster size,
    * or rerun produces the identical order, and a different seed is a
    * fresh permutation (epoch reshuffle = new seed).
    *
    * Scale shape: the position is a [[Skew.prefixScan]] row count in
    * (hash, id) order, never a global `row_number()` window (which would
    * funnel the corpus through ONE partition).
    */
  def globalShuffle(docs: DataFrame, seed: String = "",
      id: String = "doc_id"): DataFrame = {
    val keyed = docs.select(col(id),
      md5(concat(lit(seed), col(id).cast(StringType))).as("hkey"))
    Skew.prefixScan(keyed, Nil, Seq(col("hkey"), col(id)), lit(1L), "rnk")
      .select(col(id), (col("rnk") - 1L).as("pos"))
      .orderBy(id)
  }

  // ---- cross-document duplicate n-gram fraction (q_crossdoc) ----

  /** Per document, the fraction of its DISTINCT word n-grams that also
    * appear in at least one OTHER document — the cross-document
    * duplication signal of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", public construction): high
    * `shared_frac` marks boilerplate / templated / near-copied text
    * that per-document repetition filters cannot see. Documents shorter
    * than n tokens are excluded (no n-grams to measure).
    *
    * Scale: grams travel as xxhash64 keys (8 bytes, collision-free-
    * 64-bit argument as everywhere — the oracle groups by the gram
    * STRINGS and must agree); grams are distinct per doc, so the
    * document-frequency aggregation is a plain partial-combining count;
    * one final integer-ratio division is IEEE-exact on any engine.
    */
  def crossDocNgrams(docs: DataFrame, n: Int = 5,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val sh = docs
      .select(col(id), Dedup.shingleHashes(col(text), n).as("sh"))
      .filter(size(col("sh")) >= 1)
      .select(col(id), explode(col("sh")).as("h"))
    val df = sh.groupBy("h").agg(count(lit(1)).as("ndocs"))
    sh.join(df, "h")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col(id), col("n_grams"), col("n_shared"),
        (col("n_shared").cast(DoubleType) / col("n_grams")).as("shared_frac"))
      .orderBy(id)
  }

  // ---- inverted index (q_postings) ----

  /** Inverted index: term → (document frequency, sorted posting list) —
    * the retrieval-side artifact a corpus pipeline emits for search,
    * contamination lookup, and duplicate triage.
    *
    * Skew is the whole problem at scale: a stop-word's posting list is
    * the corpus, and a plain `collect_list` groupBy ships every one of
    * its rows to ONE reducer. Shape here: distinct (term, doc) pairs
    * (hash-partitioned by the PAIR, so hot terms spread), then
    * [[Skew.saltedCollectList]] merges per-salt chunks — the hot term's
    * postings arrive pre-chunked across `buckets` reducers exactly like
    * a combinable aggregate. `maxDf` drops terms whose lists exceed the
    * cap (the standard stop-list move — a term in half the corpus is
    * useless for retrieval and unbounded on the wire); postings are
    * sorted so output is deterministic.
    */
  def invertedIndex(docs: DataFrame, maxDf: Long = 100000,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val pairs = docs
      .select(explode(tokens(col(text))).as("term"), col(id))
      .distinct()
    val dfCounts = pairs.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    Skew.saltedCollectList(pairs.join(dfCounts, "term"), "term", id)
      .join(dfCounts, "term")
      .select(col("term"), col("df"),
        array_join(array_sort(col(s"${id}s")), ",").as("postings"))
      .orderBy("term")
  }

  // ---- distinctive terms (q_tfidf) ----

  /** Top-k distinctive terms per document, ranked by term frequency
    * over document frequency (tf/df, the linear-idf member of the
    * tf-idf family) — keyword extraction for corpus exploration and
    * topic-mix audits. The LOG-idf variant ranks near-identically but
    * `ln` hash-diverges in the last ulp between libm and the JVM (see
    * [[commonness]]), so the score here is a single integer-ratio
    * division, IEEE-exact on any engine; ties break by term.
    *
    * Scale: tf is a partial-combining (doc, term) count; df aggregates
    * the tf frame again (vocabulary-sized, broadcast back by AQE); the
    * top-k window partitions by document — parallel, bounded state per
    * group. Term strings must travel once (they ARE the output), so
    * there is no hash-key trick to apply.
    */
  def distinctiveTerms(docs: DataFrame, topK: Int = 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(id), explode(tokens(col(text))).as("term"))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(id)).orderBy(
          (col("tf").cast(DoubleType) / col("df")).desc, col("term"))))
      .filter(col("rank") <= topK)
      .select(col(id), col("term"), col("tf"), col("df"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col(id), col("rank"))
  }

  // ---- duplicate-span coverage (q_span_coverage) ----

  /** Positional duplicate-SPAN coverage per document — the
    * span-granular member of the Lee et al. 2022 exact-substring dedup
    * family: for each document, the fraction of its token positions
    * covered by at least one word n-gram that occurs ≥2 times anywhere
    * in the corpus (other documents or elsewhere in the same one).
    * Unlike [[crossDocNgrams]] (distinct-gram fraction), overlapping
    * duplicated grams are merged as intervals, so the score reads as
    * "this much of the document's TEXT is duplicated material" — the
    * quantity exact-substring dedup thresholds on.
    *
    * Scale: grams travel as ordered xxhash64 positions (8-byte keys;
    * the oracle re-derives with gram strings under the standard
    * collision-free-64-bit argument); occurrence counting is a
    * partial-combining aggregate; the interval union is ONE window per
    * document (running max of span ends — linear, no self-join).
    */
  def duplicateSpanCoverage(docs: DataFrame, n: Int = 8,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val sh = gramPositions(docs, n, id, text)
    val cnt = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
    val shared = sh.join(cnt, "h").filter(col("cnt") >= 2)
    spanSweep(docs, shared, n, id, text)
  }

  /** Exact-substring duplicate REMOVAL — the cut member of the Lee et
    * al. 2022 family ("Deduplicating Training Data Makes Language
    * Models Better"): merge the corpus-duplicated n-gram intervals of
    * [[duplicateSpanCoverage]] into maximal spans per document, drop
    * every span of at least `minSpan` tokens, and emit the cleaned
    * text (remaining tokens in order, single-space joined) plus
    * removal stats. Spans below the threshold stay — short repeats
    * (idioms, boilerplate fragments) are normal language; long ones
    * are copied material.
    *
    * Scale: grams travel as 8-byte xxhash64 keys through ONE
    * partial-combining occurrence count; span building is one keyed
    * window per document over the (small) duplicated-position rows;
    * the cut itself is row-local — span lists ride a doc-keyed join
    * back onto the corpus frame and the token filter runs inside the
    * scan projection, so document text never shuffles.
    */
  def removeDuplicateSpans(docs: DataFrame, n: Int = 8, minSpan: Int = 16,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorExprs.register(docs.sparkSession)
    val sh = gramPositions(docs, n, id, text)
    val cnt = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
    val shared = sh.join(cnt, "h").filter(col("cnt") >= 2).select(col(id), col("pos"))
    val prev = Window.partitionBy(id).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy(id).orderBy("pos")
    val spans = shared
      .withColumn("brk", when(col("pos") >
        coalesce(max(col("pos") + n).over(prev), lit(-1L)), 1L).otherwise(0L))
      .withColumn("isl", sum("brk").over(run))
      .groupBy(col(id), col("isl"))
      .agg(min("pos").cast(LongType).as("s"),
        (max("pos") + n).cast(LongType).as("e"))
      .filter(col("e") - col("s") >= minSpan)
    val perDoc = spans.groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    docs
      .join(perDoc, Seq(id), "left_outer")
      .withColumn("__toks", tokens(col(text)))
      .withColumn("__spans", coalesce(col("spans"),
        array().cast("array<struct<s:long,e:long>>")))
      .withColumn("__kept", filter(col("__toks"), (_, i) =>
        !exists(col("__spans"), sp => i >= sp("s") && i < sp("e"))))
      .select(col(id),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast(LongType)
          .as("removed_tokens"),
        size(col("__spans")).cast(LongType).as("n_spans"),
        array_join(col("__kept"), " ").as("kept_text"))
      .orderBy(id)
  }

  /** Contamination DEPTH against a benchmark set: the span-coverage
    * sweep of [[duplicateSpanCoverage]], but a span counts only when its
    * n-gram appears in `benchmark` — so the score reads as "this
    * fraction of the document's text IS benchmark material", where
    * [[graft.pipeline.Dedup.contamination]] only flags that some gram
    * matched. The standard decision this feeds: drop the doc above a
    * threshold, keep-and-mask below it.
    *
    * Scale: the benchmark gram set is eval-sized — its distinct hashes
    * broadcast, so the corpus side is one scan + broadcast semi-join +
    * the per-document window; corpus text never shuffles.
    */
  def contaminationSpanCoverage(docs: DataFrame, benchmark: DataFrame,
      n: Int = 8, id: String = "doc_id", text: String = "text"): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val sh = gramPositions(docs, n, id, text)
    val benchGrams = gramPositions(benchmark, n, id, text)
      .select("h").distinct()
    val shared = sh.join(broadcast(benchGrams), Seq("h"), "left_semi")
    spanSweep(docs, shared, n, id, text)
  }

  /** (id, pos, h) for every word n-gram start, in token order. */
  private def gramPositions(docs: DataFrame, n: Int, id: String,
      text: String): DataFrame =
    docs
      .select(col(id), posexplode(graft.functions.VectorExprs
        .shingleHashes(tokens(col(text)), lit(n))))
      .select(col(id), col("pos"), col("col").as("h"))

  /** Interval-union sweep shared by the span-coverage operators: merge
    * the [pos, pos+n) spans of `sharedStarts` per document (one keyed
    * running-max window — linear, no self-join) and emit per-document
    * coverage over ALL docs.
    */
  private def spanSweep(docs: DataFrame, sharedStarts: DataFrame, n: Int,
      id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(id).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = sharedStarts
      .withColumn("prev_end", max(col("pos") + n).over(w))
      .withColumn("contrib", greatest(lit(0),
        col("pos") + n - greatest(col("pos"), coalesce(col("prev_end"), lit(0)))))
      .groupBy(col(id)).agg(sum("contrib").cast(LongType).as("covered_tokens"))
    docs
      .select(col(id),
        when(length(trim(col(text))) > 0, size(tokens(col(text))))
          .otherwise(0).cast(LongType).as("n_tokens"))
      .join(covered, Seq(id), "left_outer")
      .select(col(id), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast(DoubleType) / col("n_tokens"))
          .otherwise(0.0).as("coverage_frac"))
      .orderBy(id)
  }

  // ---- per-source quota capping (q_source_cap) ----

  /** Deterministic per-source quota: keep at most `maxDocs` documents
    * from each source (domain), chosen by md5 hash order — the standard
    * curation guard against any single domain dominating a crawl mix.
    * Differs from [[hashSampleStratified]] (per-stratum RATES) in being
    * an absolute cap: a source with fewer docs than the cap keeps all
    * of them, an over-represented one is cut to exactly `maxDocs`,
    * independent of corpus growth elsewhere. Hash order (not doc id)
    * means the kept subset of a source is stable as OTHER sources grow,
    * and adding new docs to a source displaces old picks only at the
    * hash boundary.
    *
    * Scale: `source` is skewed BY THE OPERATOR'S PROBLEM STATEMENT —
    * the over-represented mega-domain this cap exists to cut can be a
    * double-digit percent of a crawl, so a plain per-source window
    * would funnel it through one reducer. Instead the exact rank is a
    * distributed prefix sum ([[Skew.prefixScan]]'s shape, the hash
    * prefix standing in for its range partition): salt each source into
    * 256 hash-range buckets by the md5's leading byte, `row_number` within
    * (source, bucket) — the widest group is 1/256th of the worst domain —
    * then add the per-(source,bucket) running offsets from a tiny
    * aggregate (≤ 256 rows per DISTINCT source, broadcastable at any
    * corpus size). Ordering by (bucket, hash) equals ordering by hash because
    * the bucket IS the hash prefix, so the ranks — and the kept set —
    * are bit-identical to the single-window definition. Emits the keep
    * decision (not just survivors) so pipelines can audit what the cap
    * removed.
    */
  def sourceCap(docs: DataFrame, maxDocs: Long, id: String = "doc_id",
      source: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salted = docs
      .withColumn("__h", md5(concat_ws("|", col(source), col(id).cast(StringType))))
      .withColumn("__b", substring(col("__h"), 1, 2))
    val local = salted
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col(source), col("__b"))
          .orderBy(col("__h"), col(id))).cast(LongType))
    val offsets = salted.groupBy(col(source), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.partitionBy(col(source)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(source), col("__b"), col("__off"))
    local.join(broadcast(offsets), Seq(source, "__b"))
      .select(col(id), col(source),
        (col("__off") + col("__lr")).as("src_rank"),
        (col("__off") + col("__lr") <= maxDocs).as("keep"))
      .orderBy(id)
  }

  // ---- corpus line-level exact dedup (q_line_dedup) ----

  /** RefinedWeb/CCNet-style LINE-level exact dedup across the whole
    * corpus: every document's non-empty (trimmed) lines are hashed; each
    * distinct line is KEPT at exactly one canonical site — its first
    * position in the lowest doc id containing it — and dropped
    * everywhere else (within-doc repeats of the same line dedup by the
    * same rule). Per-document output: surviving-line counts and the
    * cleaned text, which is what removes nav bars / cookie banners /
    * boilerplate headers that per-document filters cannot see.
    *
    * Scale: lines travel the ownership aggregation as 60-bit md5 keys
    * (8 bytes; portable so the oracle can DERIVE every hash). The
    * canonical-site choice is `min(struct(doc, pos))` — a combinable
    * aggregate, so the corpus-wide hot lines (exactly the boilerplate
    * this operator exists for) partial-aggregate map-side instead of
    * converging on one reducer. Line STRINGS only travel the final
    * per-document reassembly shuffle, which is output-sized by
    * definition.
    */
  def lineDedup(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val lines = docs
      .select(col(id), posexplode(split(col(text), "\n")))
      .withColumn("line", trim(col("col")))
      .filter(length(col("line")) > 0)
      .select(col(id), col("pos"), col("line"),
        md5Hash60(col("line")).as("h"))
    val owner = lines.groupBy("h")
      .agg(min(struct(col(id), col("pos"))).as("site"))
    val marked = lines.join(owner, "h")
      .withColumn("kept",
        col(id) === col(s"site.$id") && col("pos") === col("site.pos"))
    val perDoc = marked.groupBy(col(id))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws("\n", sort_array(collect_list(
          when(col("kept"), struct(col("pos"), col("line")))))
          .getField("line")).as("clean_text"))
    docs.select(col(id)).join(perDoc, Seq(id), "left_outer")
      .select(col(id),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(id)
  }

  // ---- heuristic quality battery (q_heuristics) ----

  /** Document-level heuristic filter battery in the C4 (Raffel et al.
    * 2020 §2.2) / Gopher (Rae et al. 2021 Table A1) family — the cheap
    * first gate of a web-scale pipeline, distinct from [[quality]]'s
    * ratio scoring and [[repetition]]'s duplication signals:
    *
    *  - word shape: count, mean length, symbol-to-word ratio ("#" and
    *    "..."/"…" occurrences per word), fraction of words with ≥1
    *    alphabetic character;
    *  - line shape: bullet-start and ellipsis-end line fractions, plus
    *    C4's terminal-punctuation line fraction;
    *  - `gopher_keep`: the published Gopher thresholds (50 ≤ words ≤
    *    100k, 3 ≤ mean word length ≤ 10, symbol ratio ≤ 0.1, bullet
    *    lines ≤ 90%, ellipsis lines ≤ 30%, alpha words ≥ 80%);
    *  - `c4_keep`: ≥ 3 sentences (statement-terminator count) and ≥ 50%
    *    of lines ending in terminal punctuation.
    *
    * Every signal is one codegen'd expression over the text column —
    * zero shuffle beyond the gate's output ordering; at 100 TB this is
    * scan-bound and the keep flags prune the corpus before any
    * shuffle-bearing stage runs. Emits the signals, not just the
    * verdicts, so thresholds can be re-tuned without a re-scan.
    */
  def heuristicFilters(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val t = col(text)
    val toks = tokens(t)
    val nWords = size(toks).cast(LongType)
    val lines = split(t, "\n")
    val nLines = size(lines).cast(LongType)
    def lineFrac(pattern: String): Column =
      size(filter(lines, l => l.rlike(pattern))).cast(DoubleType) / nLines
    val meanWordLen =
      aggregate(toks, lit(0L), (acc, w) => acc + length(w))
        .cast(DoubleType) / nWords
    val symbolRatio =
      regexp_count(t, lit("#|\\.\\.\\.|…")).cast(DoubleType) / nWords
    val alphaRatio =
      size(filter(toks, w => w.rlike("[A-Za-z]"))).cast(DoubleType) / nWords
    val bulletFrac = lineFrac("^\\s*[-*•]")
    val ellipsisFrac = lineFrac("(\\.\\.\\.|…)\\s*$")
    val terminalFrac = lineFrac("[.!?\"]\\s*$")
    val nSentences = regexp_count(t, lit("[.!?]")).cast(LongType)
    docs.select(col(id),
        nWords.as("n_words"), nLines.as("n_lines"),
        meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_word_ratio"),
        alphaRatio.as("alpha_word_ratio"),
        bulletFrac.as("bullet_line_frac"),
        ellipsisFrac.as("ellipsis_line_frac"),
        terminalFrac.as("terminal_line_frac"),
        nSentences.as("n_sentences"))
      .withColumn("gopher_keep",
        col("n_words").between(50L, 100000L) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_word_ratio") <= 0.1 &&
        col("bullet_line_frac") <= 0.9 &&
        col("ellipsis_line_frac") <= 0.3 &&
        col("alpha_word_ratio") >= 0.8)
      .withColumn("c4_keep",
        col("n_sentences") >= 3L && col("terminal_line_frac") >= 0.5)
      .orderBy(id)
  }

  /** CCNet-style perplexity scoring + head/middle/tail bucketing (Wenzek
    * et al. 2020, LREC — the quality filter the LLaMA/CCNet data pipeline
    * runs after dedup). A per-language stupid-backoff bigram LM (Brants
    * et al. 2007, EMNLP) is trained on the corpus's own deterministic
    * TRAIN hash-split (so held-out docs genuinely hit the backoff path),
    * every document is scored by mean token log-probability, and each
    * language is cut into perplexity tertiles — CCNet's head/middle/tail.
    *
    * Model (all counts from train-split docs, keyed by language):
    *  - p(w2|w1) = c(w1 w2)/c(w1) when the bigram was seen in training;
    *  - else alpha · c(w2)/T  (stupid backoff to the unigram), with an
    *    unseen-word pseudo-count of 0.5 so OOV tokens stay finite.
    *
    * Determinism across engines: every per-token log-prob is a log of an
    * exact integer ratio (IEEE-identical on both sides; log agrees to
    * ~1 ulp) rounded to 7 decimals, then summed as DECIMAL(18,7) — exact
    * and associative, so Spark's partial-aggregation order cannot move
    * the sum (a plain double avg flipped the round(…,6) boundary at
    * sf0.01: -3.355158 vs DuckDB's sequential -3.355157). The mean is one
    * double division of that exact sum, rounded to 6; the perplexity
    * exp(-mean) rounds to 3; tertile ties break by doc_id — so the gate
    * hash-compares full values.
    *
    * Scale: token and bigram explosion is scan-side (row-local array
    * construction — no joins to build n-grams); the LM is three hash
    * aggregations with map-side combine (lang·vocab, lang·bigram-vocab,
    * lang totals — Zipf-bounded, far smaller than the corpus); scoring is
    * three shuffle joins on (lang, word) keys. At 100 TB the LM tables
    * get a frequency floor (count ≥ 2 prunes the Zipf tail that stupid
    * backoff barely weights anyway) — the scoring joins are unchanged.
    */
  def perplexity(docs: DataFrame, alpha: Double = 0.4,
      id: String = "doc_id", text: String = "text",
      lang: String = "lang"): DataFrame = {
    val toks = docs.select(col(id), col(lang).as("__lang"),
      split(lower(trim(col(text))), "\\s+").as("__ws"))
    val train = hashSplit(toks, 100, 100, id = id)
      .filter(col("split") === "train").drop("split")

    // LM counts — train split only, keyed by language
    val uni = train
      .select(col("__lang"), explode(col("__ws")).as("w"))
      .groupBy("__lang", "w").agg(count(lit(1)).as("c_uni"))
    val tot = uni.groupBy("__lang")
      .agg(sum("c_uni").cast(DoubleType).as("t_tokens"))
    // row-local bigram construction; callers MUST pre-filter size >= 2
    // (sequence(1, 0) would step DOWNWARD and index element_at(ws, 0))
    val bigrams: Column = transform(
      sequence(lit(1), size(col("__ws")) - 1),
      i => struct(element_at(col("__ws"), i).as("w1"),
        element_at(col("__ws"), i + 1).as("w2")))
    val big = train
      .filter(size(col("__ws")) >= 2)
      .select(col("__lang"), explode(bigrams).as("b"))
      .select(col("__lang"), col("b.w1"), col("b.w2"))
      .groupBy("__lang", "w1", "w2").agg(count(lit(1)).as("c_big"))

    // score EVERY doc (train and held-out) against the train LM
    val inst = toks
      .filter(size(col("__ws")) >= 2)
      .select(col(id), col("__lang"), explode(bigrams).as("b"))
      .select(col(id), col("__lang"), col("b.w1"), col("b.w2"))
    val logp = round(
      when(col("c_big").isNotNull,
        log(col("c_big").cast(DoubleType) / col("c_uni").cast(DoubleType)))
      .otherwise(
        log(lit(alpha) * coalesce(col("c_w2"), lit(0.5)) / col("t_tokens"))),
      7)
    val scored = inst
      .join(big, Seq("__lang", "w1", "w2"), "left_outer")
      .join(uni.withColumnRenamed("w", "w1"), Seq("__lang", "w1"), "left_outer")
      .join(uni.select(col("__lang"), col("w").as("w2"),
        col("c_uni").cast(DoubleType).as("c_w2")), Seq("__lang", "w2"), "left_outer")
      .join(broadcast(tot), Seq("__lang"))
      .groupBy(col(id), col("__lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(logp.cast(org.apache.spark.sql.types.DecimalType(18, 7)))
          .as("__logp_sum"))
      .withColumn("avg_logp",
        round(col("__logp_sum").cast(DoubleType) / col("n_bigrams"), 6))
      .drop("__logp_sum")
      .withColumn("ppl", round(exp(-col("avg_logp")), 3))

    // CCNet head/middle/tail: perplexity tertiles per language — ranked
    // by Skew.prefixScan, NOT a per-language ntile window (the q_ntile
    // rule, caught by the r18 window audit: a grouped window puts the
    // DOMINANT language's whole corpus slice in one task). Skew.ntile's
    // exact NTILE arithmetic gives the old window's values (spec-pinned),
    // so the oracle is unchanged.
    Skew.prefixScan(scored, Seq("__lang"), Seq(col("ppl"), col(id)), lit(1L), "rnk")
      .withColumn("__t", Skew.ntile(3, col("rnk"), col("rnk_total")))
      .select(col(id), col("__lang").as(lang), col("n_bigrams"),
        col("avg_logp"), col("ppl"),
        when(col("__t") === 1, "head").when(col("__t") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(id)
  }

  /** Okapi BM25 scored retrieval: top-k documents for a small static
    * query-term set (Robertson & Zaragoza 2009, the classic ranking
    * function behind Lucene/Elasticsearch defaults) — the retrieval
    * primitive a training pipeline uses for targeted corpus slicing and
    * eval-set mining.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale: the query-term set is tiny and static, so EVERYTHING is
    * row-local — per-term tf via `filter(ws, _ === t)` on the token array
    * (no explode, no token shuffle), doc length via `size(ws)`. Corpus
    * statistics (N, Σdl, per-term df) are ONE single-row aggregate,
    * broadcast back with a one-row crossJoin; the final top-k plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort). One
    * corpus scan + one scalar agg + one top-k — nothing grows with N but
    * the scan.
    *
    * Determinism across engines: per-term contributions are a fixed dag
    * of IEEE double ops from exact integers (the oracle replays constant
    * construction too, e.g. `k1+1` as `1.2 + 1.0`), idf's `ln` is rounded
    * to 7 decimals (cross-engine ulp absorbed, the q_perplexity rule),
    * the per-term product rounds to 7 and sums as exact DECIMAL (order-
    * free), ranking ties break by doc id.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 20,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 64,
      "bm25: query-term set must be small and static (row-local tf)")
    val ws = split(lower(trim(col(text))), "\\s+")
    val base = docs.select(
      (col(id) +: size(ws).cast(LongType).as("dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(ws, w => w === lit(t))).cast(LongType).as(s"__tf_$i")
        }): _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"__tf_$i") > 0L, 1L).otherwise(0L)).as(s"__df_$i"))): _*)

    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
    def idf7(i: Int): Column = round(log(lit(1.0) +
      ((col("n_docs") - col(s"__df_$i")).cast(DoubleType) + lit(0.5)) /
        (col(s"__df_$i").cast(DoubleType) + lit(0.5))), 7)
    def tfPart(i: Int): Column = {
      val tfd = col(s"__tf_$i").cast(DoubleType)
      (tfd * (lit(k1) + lit(1.0))) /
        (tfd + lit(k1) * ((lit(1.0) - lit(b)) +
          lit(b) * (col("dl").cast(DoubleType) / avgdl)))
    }
    val zero = lit(BigDecimal(0)).cast(DecimalType(18, 7))
    val contribs = queryTerms.indices.map { i =>
      when(col(s"__tf_$i") > 0L,
        round(idf7(i) * tfPart(i), 7).cast(DecimalType(18, 7)))
        .otherwise(zero)
    }
    val nTerms = queryTerms.indices
      .map(i => when(col(s"__tf_$i") > 0L, 1L).otherwise(0L))
      .reduce(_ + _)

    val scored = base.crossJoin(broadcast(stats))
      .select(col(id), nTerms.as("n_terms"),
        round(contribs.reduce(_ + _).cast(DoubleType), 6).as("score"))
      .filter(col("n_terms") > 0L)
    val topped = scored
      .orderBy(col("score").desc, col(id).asc).limit(topK)
    // rank assignment runs AFTER the top-k cut — the global window sees
    // ≤ topK rows, never the corpus
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(id).asc)
    topped.withColumn("rank", row_number().over(w).cast(LongType))
      .orderBy("rank")
  }

  /** DSIR importance weighting + top-share selection (Xie et al. 2023,
    * NeurIPS — Data Selection via Importance Resampling): score every
    * raw-pool document by how target-like its hashed-unigram distribution
    * is, w(d) = Σ_tokens ln(p_target(bucket)/p_raw(bucket)) with
    * add-one-smoothed bucket LMs, then keep the top `selectPct`% (the
    * paper's deterministic top-k selection variant). The target pool is
    * a deterministic md5 hash-split of the corpus, so held-out raw docs
    * are scored against a genuinely disjoint target distribution.
    *
    * Scale: both LMs live in ONE B-row table (B = `buckets`, constant):
    * a bucket-keyed count with map-side combine (shuffle ≤ partitions×B
    * rows), folded into a single one-row broadcast map. Scoring is then
    * row-local — each doc folds its own token array through the
    * broadcast map with a decimal `aggregate` HOF, so token-level data
    * NEVER shuffles and no doc-keyed exchange exists at all. Selection
    * count m = ceil(selectPct% · N_raw) derives from the data (corpus
    * auto-sizing rule); because m is data-derived (billions of rows at
    * 100 TB), selection is the [[Skew.prefixScan]] rank in (avg_w desc,
    * doc_id) order, whose `_total` is N_raw, filtered to rank ≤ m (a
    * Long) — never TakeOrderedAndProject (which merges per-partition
    * top-m heaps ON THE DRIVER) and never a partitionless rank window.
    *
    * Determinism: each per-token log-ratio is ln of a fixed IEEE dag
    * over exact integer counts, rounded to 7 decimals and summed as
    * exact DECIMAL (order-free, the q_perplexity rule); the mean is one
    * double division rounded to 6; m uses exact integer ceil-division;
    * ranking ties break by doc id.
    */
  def dsirSelect(docs: DataFrame, buckets: Int = 512,
      targetPermille: Int = 200, selectPct: Int = 20,
      id: String = "doc_id", text: String = "text",
      salt: String = "dsir:"): DataFrame = {
    val hv = conv(substring(md5(concat(lit(salt), col(id).cast(StringType))),
      1, 8), 16, 10).cast(LongType) % 1000
    def bucketOf(w: Column): Column =
      conv(substring(md5(w), 1, 8), 16, 10).cast(LongType) % buckets
    val base = docs.select(col(id),
      split(lower(trim(col(text))), "\\s+").as("__ws"),
      (hv < targetPermille).as("__is_target"))

    // one B-row LM table: target + raw bucket counts from a single pass
    val counts = base
      .select(col("__is_target"), explode(col("__ws")).as("w"))
      .select(col("__is_target"), bucketOf(col("w")).as("b"))
      .groupBy("b").agg(
        sum(when(col("__is_target"), 1L).otherwise(0L)).as("tc"),
        sum(when(col("__is_target"), 0L).otherwise(1L)).as("rc"))
    // corpus totals via a whole-frame window over the B-row counts (one
    // bounded single-partition pass) — a separate counts.agg would
    // re-evaluate the token-count aggregation a second time
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wtab = counts
      .withColumn("tt", sum("tc").over(wAll))
      .withColumn("tr", sum("rc").over(wAll))
      .select(col("b"),
        round(log(
          ((col("tc").cast(DoubleType) + lit(1.0)) /
            (col("tt").cast(DoubleType) + lit(buckets.toDouble))) /
          ((col("rc").cast(DoubleType) + lit(1.0)) /
            (col("tr").cast(DoubleType) + lit(buckets.toDouble)))), 7)
          .cast(DecimalType(18, 7)).as("w7"))
    // fold the B-row table into a one-row broadcast map — every bucket a
    // scoring-time token hashes to was seen at counting time (same corpus)
    val lm = wtab.agg(
      map_from_arrays(collect_list("b"), collect_list("w7")).as("__lm"))

    val zero = lit(BigDecimal(0)).cast(DecimalType(28, 7))
    val raw = base.filter(!col("__is_target"))
    val scored = raw.crossJoin(broadcast(lm))
      .select(col(id), size(col("__ws")).cast(LongType).as("n_toks"),
        aggregate(col("__ws"), zero, (acc, w) =>
          (acc + element_at(col("__lm"), bucketOf(w)))
            .cast(DecimalType(28, 7))).as("__wsum"))
      .withColumn("avg_w",
        round(col("__wsum").cast(DoubleType) / col("n_toks"), 6))

    // SELECTION (r20 verdict #1): m = ceil(selectPct% · N_raw) is
    // corpus-sized, so the old orderBy.limit(m) planned a
    // TakeOrderedAndProject whose per-partition heaps each held 20% of
    // the corpus and whose result merged ON THE DRIVER, followed by a
    // partitionless rank window in ONE task (and m.toInt wrapped past
    // ~10.7B raw docs). The rank is Skew.prefixScan's instead, filtered
    // to rank ≤ m — no driver merge, no single-task window, output stays
    // distributed. N_raw is the scan's `_total` (so m, exact integer
    // ceil-division, is a LONG) — no separate corpus-count job.
    Skew.prefixScan(scored.select(col(id), col("n_toks"), col("avg_w")), Nil,
        Seq(col("avg_w").desc, col(id).asc), lit(1L), "rank")
      .filter(col("rank") <=
        expr(s"CAST((rank_total * $selectPct + 99) DIV 100 AS BIGINT)"))
      .select(col(id), col("n_toks"), col("avg_w"), col("rank"))
      .orderBy("rank")
  }

  // ---- deterministic BPE vocabulary + subword token counting ----
  // (q_bpe_vocab / q_bpe_tokens — r19 verdict #6: real token budgets
  // are BPE-vocab counts, not whitespace lexemes)

  private val BpeSep = "\u001f"
  private val BpeSep2 = BpeSep + BpeSep

  /** Deterministic byte-pair-encoding trainer (Sennrich et al. 2016,
    * the standard public construction, derandomized trivially — BPE is
    * already deterministic given a tie rule): `merges` fixed rounds of
    * "count adjacent symbol pairs weighted by word frequency, merge
    * the max-count pair (ties → lexicographically smallest (left,
    * right))". Within-word merges only (whitespace words, lowercased,
    * no end-of-word marker — documented choice).
    *
    * Scale shape: everything after the first aggregate runs on the
    * (word, freq) VOCABULARY table, never the corpus — the classic BPE
    * trick; pair counting is one explode + map-side-combined sum per
    * round, and the argmax collects exactly ONE row per round (bounded
    * driver state, the louvain-S discipline). Round states are
    * materialized on a [[Frames.Rounds]] cadence of 1 so round r's jobs
    * don't replay rounds 1..r-1, and each superseded round is released.
    *
    * Symbol-sequence state is a DOUBLE-separator-joined string
    * ("␟␟c₁␟␟c₂␟␟…", U+001F): applying a merge is ONE literal
    * replace(s, "␟l␟␟r␟", "␟lr␟") — the half-of-each-double-boundary
    * consumption makes matches align to symbol boundaries exactly AND
    * leaves the neighbor boundary intact, so left-to-right
    * non-overlapping replacement equals BPE's greedy application rule
    * (e.g. rule (a,a) on "aaaa" → [aa][aa], on "aaa" → [aa][a]) while
    * being replayable by any engine's plain `replace` (no regex, no
    * lookahead). Words containing U+001F are excluded (cannot occur in
    * text corpora; keeps the encoding collision-free).
    *
    * Returns the merge seq (rank, left, right, count-at-selection) and
    * the final vocabulary frame (word, freq, s).
    */
  private[pipeline] def bpeTrain(docs: DataFrame, merges: Int,
      text: String): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(merges >= 1, s"merges >= 1, got $merges")
    val words0 = docs
      .select(explode(tokens(lower(col(text)))).as("word"))
      .filter(col("word") =!= "" && !col("word").contains(BpeSep))
      .groupBy("word").agg(count(lit(1)).cast(LongType).as("freq"))
    val vocab = new Frames.Rounds(Frames.materialize(words0
      .withColumn("s", concat(lit(BpeSep2),
        array_join(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          BpeSep2),
        lit(BpeSep2)))), 1, merges)
    val acc = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to merges) {
      val pairs = vocab.cur
        .select(col("freq"),
          filter(split(col("s"), BpeSep2), x => x =!= "").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> named_struct('l', element_at(syms, i), " +
            "'r', element_at(syms, i + 1)))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).cast(LongType).as("cnt"))
      val top = pairs.orderBy(desc("cnt"), asc("l"), asc("r")).limit(1).collect()
      require(top.nonEmpty,
        s"bpe: corpus exhausted after ${rank - 1} merges — lower `merges`")
      val (l, r, cnt) = (top(0).getString(0), top(0).getString(1),
        top(0).getLong(2))
      acc += ((rank, l, r, cnt))
      vocab.step(rank, vocab.cur.withColumn("s", call_function("replace", col("s"),
        lit(BpeSep + l + BpeSep2 + r + BpeSep),
        lit(BpeSep + l + r + BpeSep))))
    }
    (acc.result(), vocab.cur)
  }

  /** Train-once handle for compositions that want BOTH the merge table
    * and token counts (r21, the hbMemo / dupPairs pay-once discipline:
    * the two gate entries previously each retrained): the raw
    * (merge seq, final vocabulary frame) pair from one [[bpeTrain]]
    * run. The vocabulary frame is checkpoint-backed; the caller owns
    * its lifecycle.
    */
  def bpeTrainArtifacts(docs: DataFrame, merges: Int = 8,
      text: String = "text"): (Seq[(Int, String, String, Long)], DataFrame) =
    bpeTrain(docs, merges, text)

  /** [[bpeMerges]] from a pre-trained [[bpeTrainArtifacts]] pair — no
    * retrain, no vocabulary-frame release (the trainer's caller owns it). */
  def bpeMergesFromTrained(spark: org.apache.spark.sql.SparkSession,
      trained: (Seq[(Int, String, String, Long)], DataFrame)): DataFrame = {
    import spark.implicits._
    trained._1.map { case (rank, l, r, cnt) => (rank, l, r, l + r, cnt) }
      .toDF("mrank", "lhs", "rhs", "merged", "pair_count")
      .orderBy("mrank")
  }

  /** [[bpeTokenCounts]] from a pre-trained [[bpeTrainArtifacts]] pair. */
  def bpeTokenCountsFromTrained(docs: DataFrame,
      trained: (Seq[(Int, String, String, Long)], DataFrame),
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val pieces = trained._2.select(col("word"),
      size(filter(split(col("s"), BpeSep2), x => x =!= ""))
        .cast(LongType).as("n_pieces_w"))
    docs.select(col(id), explode(tokens(lower(col(text)))).as("word"))
      .filter(col("word") =!= "" && !col("word").contains(BpeSep))
      .join(pieces, "word")
      .groupBy(id)
      .agg(count(lit(1)).cast(LongType).as("n_words"),
        sum(col("n_pieces_w")).cast(LongType).as("n_pieces"))
      .orderBy(id)
  }

  /** The learned merge table: one row per round,
    * (mrank, lhs, rhs, merged, pair_count) in merge order. */
  def bpeMerges(docs: DataFrame, merges: Int = 8,
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val trained = bpeTrain(docs, merges, text)
    Frames.release(trained._2)
    bpeMergesFromTrained(spark, trained)
  }

  /** Per-document token counts UNDER the learned subword vocabulary —
    * the currency actual training budgets are denominated in: n_words
    * whitespace words, n_pieces BPE pieces after `merges` merges.
    * The word → piece-count map is vocabulary-sized, so the corpus
    * pass is one equi-join + one grouped sum.
    */
  def bpeTokenCounts(docs: DataFrame, merges: Int = 8,
      id: String = "doc_id", text: String = "text"): DataFrame =
    bpeTokenCountsFromTrained(docs, bpeTrain(docs, merges, text), id, text)
}
