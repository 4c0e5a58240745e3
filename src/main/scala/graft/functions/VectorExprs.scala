package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * Spark's higher-order functions (`aggregate(zip_with(...))`) run
  * INTERPRETED — one closure call per element per row. For ANN scoring
  * over a 100 TB corpus that is the whole inner loop, so dot/norm are
  * implemented as codegen'd expressions: a tight Java loop over the
  * ArrayData, summed left-to-right in double (bit-identical to the HOF
  * formulation, so the DuckDB oracle hashes are unchanged).
  *
  * Reference analog: the reference scores in native JS arrays
  * (executor.ts similarity helpers); the Spark-first equivalent of
  * "native loop" is a doGenCode expression, per the build brief's
  * extension ladder (Expression > UDF).
  */
object VectorExprs {

  private def elemGetter(t: DataType, arr: String, i: String): String =
    t match {
      case ArrayType(FloatType, _) => s"(double) $arr.getFloat($i)"
      case ArrayType(DoubleType, _) => s"$arr.getDouble($i)"
      case other => throw new IllegalArgumentException(
        s"vector expression needs array<float|double>, got $other")
    }

  private def elemAt(t: DataType, arr: ArrayData, i: Int): Double =
    t match {
      case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
      case ArrayType(DoubleType, _) => arr.getDouble(i)
      case other => throw new IllegalArgumentException(
        s"vector expression needs array<float|double>, got $other")
    }

  /** sum_i a[i]*b[i] in double, left-to-right. Null array → null;
    * element nulls are not expected (embedding columns).
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (aa, ba) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      val n = math.min(aa.numElements(), ba.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += elemAt(left.dataType, aa, i) * elemAt(right.dataType, ba, i)
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += ${elemGetter(left.dataType, a, i)} * ${elemGetter(right.dataType, b, i)};
        }
        ${ev.value} = $s;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** sqrt(sum_i a[i]^2) in double, left-to-right. */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_l2norm"

    override protected def nullSafeEval(a: Any): Any = {
      val aa = a.asInstanceOf[ArrayData]
      var s = 0.0
      var i = 0
      while (i < aa.numElements()) {
        val x = elemAt(child.dataType, aa, i)
        s += x * x
        i += 1
      }
      math.sqrt(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val x = ctx.freshName("x")
        s"""
        double $s = 0.0;
        for (int $i = 0; $i < $a.numElements(); $i++) {
          double $x = ${elemGetter(child.dataType, a, i)};
          $s += $x * $x;
        }
        ${ev.value} = java.lang.Math.sqrt($s);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): L2Norm =
      copy(child = newChild)
  }

  /** Minima of every `w`-wide sliding window over a long array — the
    * winnowing inner loop. O(n) monotonic-deque in both eval and
    * codegen. The alternative shapes both lose at scale: a HOF lambda
    * recomputes the slice min per window (interpreted, O(n·w)); the
    * explode → shuffle-by-doc → window-function form (used previously)
    * exchanges every (doc, pos, hash) row — this computes in place
    * during the scan projection, no shuffle at all.
    * Returns null for null input; n < w yields an empty array.
    */
  case class SlidingMin(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_sliding_min"

    override protected def nullSafeEval(a: Any, wv: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val w = wv.asInstanceOf[Int]
      val n = arr.numElements()
      if (w <= 0 || n < w) return ArrayData.toArrayData(Array.empty[Long])
      val out = new Array[Long](n - w + 1)
      val deque = new Array[Int](n)
      var head = 0; var tail = 0 // [head, tail) holds candidate indices
      var i = 0
      while (i < n) {
        val x = arr.getLong(i)
        while (tail > head && arr.getLong(deque(tail - 1)) >= x) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) out(i - w + 1) = arr.getLong(deque(head))
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, w) => {
        val n = ctx.freshName("n")
        val out = ctx.freshName("out")
        val deque = ctx.freshName("deque")
        val head = ctx.freshName("head")
        val tail = ctx.freshName("tail")
        val i = ctx.freshName("i")
        val x = ctx.freshName("x")
        s"""
        int $n = $a.numElements();
        if ($w <= 0 || $n < $w) {
          ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(new long[0]);
        } else {
          long[] $out = new long[$n - $w + 1];
          int[] $deque = new int[$n];
          int $head = 0; int $tail = 0;
          for (int $i = 0; $i < $n; $i++) {
            long $x = $a.getLong($i);
            while ($tail > $head && $a.getLong($deque[$tail - 1]) >= $x) $tail--;
            $deque[$tail++] = $i;
            if ($deque[$head] <= $i - $w) $head++;
            if ($i >= $w - 1) $out[$i - $w + 1] = $a.getLong($deque[$head]);
          }
          ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
        }
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SlidingMin =
      copy(left = newLeft, right = newRight)
  }

  /** xxhash64 of every k-token shingle (space-joined), ordered — the
    * shared inner kernel of minhash/simhash/jaccard dedup and winnowing.
    * The HOF formulation (`transform(sequence(...), i →
    * xxhash64(array_join(slice(toks, i+1, k), " ")))`) pays interpreter
    * dispatch per shingle per row; this is one JIT-compiled loop per row
    * behind a reference-object call (children stay codegen'd — the
    * shape of Spark's own regexp/json expressions). Hash values are
    * IDENTICAL to the HOF form: same space-joined string through
    * Spark's own XxHash64 (seed 42).
    */
  case class ShingleHashes(left: Expression, right: Expression)
      extends BinaryExpression {
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hashes"

    private val space = UTF8String.fromString(" ")

    override protected def nullSafeEval(t: Any, kv: Any): Any =
      compute(t.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

    /** Shared by eval and the generated code. */
    def compute(arr: ArrayData, k: Int): ArrayData = {
      val n = arr.numElements()
      val cnt = n - k + 1
      if (k <= 0 || cnt <= 0) return ArrayData.toArrayData(Array.empty[Long])
      val out = new Array[Long](cnt)
      val parts = new Array[UTF8String](k)
      var i = 0
      while (i < cnt) {
        var j = 0
        while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        val joined = UTF8String.concatWs(space, parts: _*)
        out(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(joined, StringType, 42L)
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftShingleHashes", this,
        classOf[ShingleHashes].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ShingleHashes =
      copy(left = newLeft, right = newRight)
  }

  /** Space-joined n-grams of a token array in one native pass — the
    * gram builder of the exact vocabulary path (r15). The composed
    * `transform(sequence(...), i -> array_join(slice(toks, i+1, n)))`
    * form allocates an array slice per gram and measured as ~90% of
    * q_ngram_freq's scan cost at sf0.1 (5.1s of 5.1s — the aggregation
    * on top was nearly free); this kernel reuses one UTF8String window
    * buffer and emits `concatWs` output directly. Gram strings are
    * byte-identical to the composed form, so the DuckDB oracle is
    * unchanged. k = 1 returns the token array as-is.
    */
  case class NGramJoin(left: Expression, right: Expression)
      extends BinaryExpression {
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_ngram_join"

    private val space = UTF8String.fromString(" ")

    override protected def nullSafeEval(t: Any, kv: Any): Any =
      compute(t.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

    /** Shared by eval and the generated code. */
    def compute(arr: ArrayData, k: Int): ArrayData = {
      if (k == 1) return arr
      val n = arr.numElements()
      val cnt = n - k + 1
      if (k <= 0 || cnt <= 0) return ArrayData.toArrayData(Array.empty[UTF8String])
      val out = new Array[UTF8String](cnt)
      val parts = new Array[UTF8String](k)
      var i = 0
      while (i < cnt) {
        var j = 0
        while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftNGramJoin", this, classOf[NGramJoin].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NGramJoin =
      copy(left = newLeft, right = newRight)
  }

  /** Count of array elements contained in a literal string set — the
    * stopword/profile-hit kernel for quality scoring and language ID.
    * `filter(toks, x => x.isin(words))` evaluates |words| interpreted
    * comparisons per token; this probes one prebuilt hash set per token
    * in a JIT loop. Right child must be a foldable array of strings.
    * Null array → null; null elements count as misses.
    */
  case class ArrayCountIn(left: Expression, right: Expression)
      extends BinaryExpression {
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_count_in"

    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      require(right.foldable, "graft_count_in needs a literal word set")
      val s = new java.util.HashSet[UTF8String]()
      val arr = right.eval(null).asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        s.add(arr.getUTF8String(i)); i += 1
      }
      s
    }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData])

    /** Shared by eval and the generated code (the word set is instance
      * state built from the foldable right child, so generated code
      * only passes the array).
      */
    def compute(arr: ArrayData): Long = {
      var cnt = 0L
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) cnt += 1
        i += 1
      }
      cnt
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftCountIn", this,
        classOf[ArrayCountIn].getName)
      nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArrayCountIn =
      copy(left = newLeft, right = newRight)
  }

  /** Random-hyperplane sign-bucket key over a float/double vector —
    * the LSH ANN corpus-side kernel. Bit-identical to the HOF
    * formulation in [[graft.pipeline.Ann]] (same seeded xxhash chain,
    * same left-to-right double summation), but one JIT loop per row
    * instead of planes × dims interpreted lambda calls.
    */
  case class HyperplaneKey(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hyperplane_key"

    import org.apache.spark.sql.catalyst.expressions.XxHash64Function

    override protected def nullSafeEval(v: Any, pv: Any, sv: Any): Any =
      compute(v.asInstanceOf[ArrayData], pv.asInstanceOf[Int], sv.asInstanceOf[Int])

    /** Shared by eval and the generated code. */
    def compute(vec: ArrayData, planes: Int, salt: Int): Long = {
      val n = vec.numElements()
      val isFloat = first.dataType match {
        case ArrayType(FloatType, _) => true
        case ArrayType(DoubleType, _) => false
        case other => throw new IllegalArgumentException(
          s"hyperplane key needs array<float|double>, got $other")
      }
      def hInt(v: Int, seed: Long): Long =
        XxHash64Function.hash(v, IntegerType, seed)
      var key = 0L
      var p = 0
      while (p < planes) {
        var s = 0.0
        val h2 = hInt(p, hInt(salt, 42L))
        var d = 0
        while (d < n) {
          val h3 = hInt(d, h2)
          val comp = (((h3 % 100000L) + 100000L) % 100000L).toDouble / 100000.0 - 0.5
          val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
          s += x * comp
          d += 1
        }
        key = key * 2 + (if (s >= 0) 1L else 0L)
        p += 1
      }
      key
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftHyperplaneKey", this,
        classOf[HyperplaneKey].getName)
      nullSafeCodeGen(ctx, ev,
        (v, p, s) => s"${ev.value} = $ref.compute($v, $p, $s);")
    }

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): HyperplaneKey =
      copy(first = f, second = s, third = t)
  }

  /** argmin over squared L2 to a fixed centroid matrix — IVF cell
    * assignment. The matrix rides along as ONE plan-external reference
    * object (r5 advice: the previous literal-per-cell formulation inlined
    * nCells×dim literals into the plan — fine at 16 cells, plan-bloat at
    * 1024×768). Ties break to the lower cell id; codegen is a flat
    * cells×dims loop.
    */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_nearest_centroid"
    // keep the matrix out of plan strings — explain() prints arity only
    override def stringArgs: Iterator[Any] =
      Iterator(child, s"nCells=${centroids.length}")

    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      var best = -1
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        val m = math.min(arr.numElements(), cent.length)
        var s = 0.0
        var i = 0
        while (i < m) {
          val d = elemAt(child.dataType, arr, i) - cent(i)
          s += d * d
          i += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      nullSafeCodeGen(ctx, ev, a => {
        val c = ctx.freshName("c")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        val m = ctx.freshName("m")
        val best = ctx.freshName("best")
        val bestD = ctx.freshName("bestD")
        val cent = ctx.freshName("cent")
        s"""
        int $best = -1;
        double $bestD = Double.MAX_VALUE;
        for (int $c = 0; $c < $cents.length; $c++) {
          double[] $cent = $cents[$c];
          int $m = java.lang.Math.min($a.numElements(), $cent.length);
          double $s = 0.0;
          for (int $i = 0; $i < $m; $i++) {
            double $d = (${elemGetter(child.dataType, a, i)}) - $cent[$i];
            $s += $d * $d;
          }
          if ($s < $bestD) { $bestD = $s; $best = $c; }
        }
        ${ev.value} = $best;
        """
      })
    }

    override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
      copy(child = newChild)
  }

  /** Row-local MinHash signature over a shingle-hash array: sig_i =
    * min over h of the seed-42 xxhash64 chain over (h: long, i: int) —
    * VALUE-IDENTICAL to the SQL formulation `min(xxhash64(h, i))` used
    * by [[graft.pipeline.Dedup.minhashSignatures]]'s explode+groupBy
    * shape, but computed in one JIT loop per row with no aggregation.
    * This is what a STREAMING minhash needs: the batch side can afford
    * an explode+groupBy per doc; a stream cannot shuffle per-doc state,
    * and the HOF formulation (`transform(sequence(...), i ->
    * array_min(transform(sh, h -> xxhash64(h, i))))`) measured 43s at
    * sf0.1 — numHashes × shingles interpreted lambda calls per row.
    */
  case class MinHashSig(left: Expression, right: Expression)
      extends BinaryExpression {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"

    override protected def nullSafeEval(a: Any, nv: Any): Any =
      compute(a.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

    /** Shared by eval and the generated code. */
    def compute(sh: ArrayData, numHashes: Int): ArrayData = {
      val n = sh.numElements()
      // first chain step depends only on the shingle — hoist it out of
      // the per-index loop (numHashes × n would recompute it)
      val h1 = new Array[Long](n)
      var j = 0
      while (j < n) {
        h1(j) = XxHash64Function.hash(sh.getLong(j), LongType, 42L); j += 1
      }
      val out = new Array[Long](numHashes)
      var i = 0
      while (i < numHashes) {
        var best = Long.MaxValue
        j = 0
        while (j < n) {
          val v = XxHash64Function.hash(i, IntegerType, h1(j))
          if (v < best) best = v
          j += 1
        }
        out(i) = best
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftMinHashSig", this,
        classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MinHashSig =
      copy(left = newLeft, right = newRight)
  }

  /** Row-local 64-bit SimHash (Charikar '02) bit array: bit b is 1 when
    * more than half the shingle hashes have bit b set — VALUE-IDENTICAL
    * to the explode+groupBy bit-counter formulation
    * ([[graft.pipeline.Dedup.simhashBitsFrameAgg]], kept as the spec
    * cross-check), computed in one JIT loop per row so the signature
    * never shuffles (the agg shape moved 65 longs per doc through an
    * exchange).
    */
  case class SimHashBits(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_simhash_bits"

    override protected def nullSafeEval(a: Any, nv: Any): Any =
      compute(a.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

    /** Shared by eval and the generated code. */
    def compute(sh: ArrayData, nbits: Int): ArrayData = {
      val n = sh.numElements()
      val cnt = new Array[Int](nbits)
      var j = 0
      while (j < n) {
        val h = sh.getLong(j)
        var b = 0
        while (b < nbits) {
          cnt(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        j += 1
      }
      val out = new Array[Int](nbits)
      var b = 0
      while (b < nbits) {
        out(b) = if (cnt(b) * 2 > n) 1 else 0
        b += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftSimHashBits", this,
        classOf[SimHashBits].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SimHashBits =
      copy(left = newLeft, right = newRight)
  }

  /** md5-prefix-60-bit hashes of every k-token shingle (space-joined,
    * ordered, non-distinct) — the native twin of
    * `conv(substring(md5(g), 1, 15), 16, 10)`: the first 15 hex chars
    * are bytes 0..6 plus the high nibble of byte 7 of the digest.
    * One eval per row replaces an interpreted HOF chain (md5 →
    * substring → conv per element) that cost ~7 s per md5-twin gate
    * query at sf0.1.
    */
  case class ShingleMd5(left: Expression, right: Expression)
      extends BinaryExpression {
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_md5"

    private val space = UTF8String.fromString(" ")
    // one digest per task thread, not one getInstance per ROW — the
    // expression object is shared across a partition's rows (and, under
    // codegen, referenced from the generated class)
    @transient private lazy val mdLocal =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))

    override protected def nullSafeEval(t: Any, kv: Any): Any =
      compute(t.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

    /** Shared by eval and the generated code. */
    def compute(arr: ArrayData, k: Int): ArrayData = {
      val n = arr.numElements()
      val cnt = n - k + 1
      if (k <= 0 || cnt <= 0) return ArrayData.toArrayData(Array.empty[Long])
      val md = mdLocal.get()
      val out = new Array[Long](cnt)
      val parts = new Array[UTF8String](k)
      var i = 0
      while (i < cnt) {
        var j = 0
        while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        md.reset()
        val d = md.digest(UTF8String.concatWs(space, parts: _*).getBytes)
        var v = 0L
        j = 0
        while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        out(i) = (v << 4) | ((d(7) >> 4) & 0xfL)
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftShingleMd5", this,
        classOf[ShingleMd5].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ShingleMd5 =
      copy(left = newLeft, right = newRight)
  }

  /** Unicode NFC composition (UAX #15) — the canonical-form step of text
    * normalization (q_normalize). Spark has no normalization builtin;
    * a codegen'd expression over `java.text.Normalizer` keeps the whole
    * cleanup pipeline inside one WholeStageCodegen projection. The
    * quick-check fast path returns the input UTF8String untouched
    * (zero-copy) for already-composed text — at corpus scale the vast
    * majority of documents — so the operator is scan-speed except on the
    * rows that actually need composing. DuckDB's `nfc_normalize`
    * implements the same UAX #15 algorithm, so the oracle replays this
    * exactly.
    */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfc"

    override protected def nullSafeEval(s: Any): Any =
      compute(s.asInstanceOf[UTF8String])

    /** Shared by eval and the generated code. */
    def compute(u: UTF8String): UTF8String = {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftNfc", this, classOf[NfcNormalize].getName)
      nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
    }

    override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
      copy(child = newChild)
  }

  /** Per-document Gopher repetition aggregates in ONE row-local pass.
    * The whole repetition computation groups by the document id at every
    * stage, so nothing about it needs a shuffle — the former
    * explode → groupBy(id,n,h) → groupBy(id) pipeline moved ~9×|tokens|
    * rows through two exchanges just to count within-row duplicates
    * (r14 audit: ~8s of q_pipeline_e2e's 11s at sf0.1; at corpus scale
    * it was the operator's only exchange, now zero).
    *
    * Children: (tokens array<string>, lines array<string>,
    * topNs array<int>, dupNs array<int>). Returns struct(n_lines,
    * d_lines, line_chars, dup_line_chars, tops array<long> aligned with
    * topNs, dups array<long> aligned with dupNs) — the same values the
    * shuffle formulation aggregated, same xxhash64(seed 42) gram
    * identity and first-occurrence glen, so results are bit-identical.
    * Per-row memory is O(distinct grams of ONE document) — the same
    * order the final per-doc reducer held before.
    */
  case class RepStats(children: Seq[Expression]) extends Expression {
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = StructType(Seq(
      StructField("n_lines", LongType, nullable = false),
      StructField("d_lines", LongType, nullable = false),
      StructField("line_chars", LongType, nullable = false),
      StructField("dup_line_chars", LongType, nullable = false),
      StructField("tops", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("dups", ArrayType(LongType, containsNull = false), nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "graft_rep_stats"
    private val space = UTF8String.fromString(" ")
    private def hashUtf8(s: UTF8String): Long =
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(s, StringType, 42L)

    // the gram-size lists configure the kernel, they aren't data — require
    // them constant so both execution paths evaluate them exactly once
    // (the old per-row re-eval of the literal arrays was avoidable work in
    // a once-per-document kernel; r14 advice)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (children.size != 4)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "graft_rep_stats expects (tokens, lines, topNs, dupNs)")
      else if (!children(2).foldable || !children(3).foldable)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "graft_rep_stats topNs/dupNs must be constant arrays")
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

    @transient private lazy val topNs: Array[Int] =
      children(2).eval(null).asInstanceOf[ArrayData].toIntArray()
    @transient private lazy val dupNs: Array[Int] =
      children(3).eval(null).asInstanceOf[ArrayData].toIntArray()

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val tv = children(0).eval(input)
      val lv = children(1).eval(input)
      if (tv == null || lv == null) null
      else compute(tv.asInstanceOf[ArrayData], lv.asInstanceOf[ArrayData])
    }

    /** Whole-stage codegen evaluates the two array children inline and
      * calls into this kernel via a reference object — the same shape as
      * Spark's own regexp/json expressions, whose heavy per-row state
      * (here: the per-document gram hash maps) lives behind one virtual
      * call rather than the interpreted-fallback path that re-evaluated
      * the whole child tree reflectively (r14 verdict item 6).
      */
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val t = children(0).genCode(ctx)
      val l = children(1).genCode(ctx)
      val ref = ctx.addReferenceObj("graftRepStats", this, classOf[RepStats].getName)
      val rowCls = classOf[org.apache.spark.sql.catalyst.InternalRow].getName
      ev.copy(code =
        code"""
          ${t.code}
          ${l.code}
          boolean ${ev.isNull} = ${t.isNull} || ${l.isNull};
          $rowCls ${ev.value} = null;
          if (!${ev.isNull}) {
            ${ev.value} = $ref.compute(${t.value}, ${l.value});
          }""")
    }

    /** The row-local kernel (shared by eval and the generated code). */
    def compute(toksArr: ArrayData,
        linesArr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
      // ---- lines (the n = 0 tier of the old bag)
      val nLinesTot = linesArr.numElements().toLong
      val lineMap = scala.collection.mutable.LongMap.empty[Array[Long]]
      var i = 0
      while (i < linesArr.numElements()) {
        val l = linesArr.getUTF8String(i)
        val h = hashUtf8(l)
        val e = lineMap.getOrNull(h)
        if (e == null) lineMap.update(h, Array(1L, l.numChars().toLong))
        else e(0) += 1L
        i += 1
      }
      var dLines = 0L; var lineChars = 0L; var dupLineChars = 0L
      lineMap.foreachValue { e =>
        dLines += 1L
        val cg = e(0) * e(1)
        lineChars += cg
        if (e(0) > 1L) dupLineChars += cg
      }
      // ---- word n-grams, one (max c*glen, sum dup c*glen) pair per n
      val n = toksArr.numElements()
      val toks = new Array[UTF8String](n)
      val lens = new Array[Int](n)
      i = 0
      while (i < n) {
        toks(i) = toksArr.getUTF8String(i); lens(i) = toks(i).numChars(); i += 1
      }
      def gramAgg(k: Int): (Long, Long) = {
        val cnt = n - k + 1
        if (k <= 0 || cnt <= 0) return (0L, 0L)
        val m = scala.collection.mutable.LongMap.empty[Array[Long]]
        var wlen = k - 1 // running char length of the window, O(1)/slide
        var j = 0
        while (j < k) { wlen += lens(j); j += 1 }
        val parts = new Array[UTF8String](k)
        var x = 0
        while (x < cnt) {
          var p = 0
          while (p < k) { parts(p) = toks(x + p); p += 1 }
          val h = hashUtf8(UTF8String.concatWs(space, parts: _*))
          val e = m.getOrNull(h)
          if (e == null) m.update(h, Array(1L, wlen.toLong)) else e(0) += 1L
          if (x + k < n) wlen += lens(x + k) - lens(x)
          x += 1
        }
        var mx = 0L; var dup = 0L
        m.foreachValue { e =>
          val cg = e(0) * e(1)
          if (cg > mx) mx = cg
          if (e(0) > 1L) dup += cg
        }
        (mx, dup)
      }
      val tops = new Array[Long](topNs.length)
      i = 0
      while (i < topNs.length) { tops(i) = gramAgg(topNs(i))._1; i += 1 }
      val dups = new Array[Long](dupNs.length)
      i = 0
      while (i < dupNs.length) { dups(i) = gramAgg(dupNs(i))._2; i += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](nLinesTot, dLines, lineChars, dupLineChars,
          ArrayData.toArrayData(tops), ArrayData.toArrayData(dups)))
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): RepStats =
      copy(children = newChildren)
  }

  /** graft's session functions, by name. */
  private val sessionFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "graft_l2norm" -> (exprs => L2Norm(exprs(0))),
    "graft_sliding_min" -> (exprs => SlidingMin(exprs(0), exprs(1))),
    "graft_shingle_hashes" -> (exprs => ShingleHashes(exprs(0), exprs(1))),
    "graft_rep_stats" -> (exprs => RepStats(exprs)),
    "graft_minhash_sig" -> (exprs => MinHashSig(exprs(0), exprs(1))),
    "graft_simhash_bits" -> (exprs => SimHashBits(exprs(0), exprs(1))),
    "graft_shingle_md5" -> (exprs => ShingleMd5(exprs(0), exprs(1))),
    "graft_nfc" -> (exprs => NfcNormalize(exprs(0))),
    "graft_ngram_join" -> (exprs => NGramJoin(exprs(0), exprs(1))),
    "graft_count_in" -> (exprs => ArrayCountIn(exprs(0), exprs(1))),
    "graft_hyperplane_key" -> (exprs => HyperplaneKey(exprs(0), exprs(1), exprs(2))),
    // the centroid literal is consumed HERE, at function-build time: the
    // resolved plan carries only the reference object, never the literal
    "graft_nearest_centroid" -> (exprs => NearestCentroid(exprs(0), literalMatrix(exprs(1)))),
    "graft_plus" -> (exprs => CypherPlus(exprs(0), exprs(1))))

  /** Register as session functions; `dot`/`l2norm` Columns below use
    * call_function so callers never touch catalyst internals. A no-op
    * when the session's registry already holds them (every Cypher
    * compile calls this, and a session clone copies the registry):
    * re-registering replaces each function and logs a warning per name.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!sessionFunctions.forall { case (n, _) => reg.functionExists(FunctionIdentifier(n)) })
      sessionFunctions.foreach { case (n, f) => reg.createOrReplaceTempFunction(n, f, "built-in") }
  }

  private def literalMatrix(e: Expression): Array[Array[Double]] = e match {
    case l: org.apache.spark.sql.catalyst.expressions.Literal =>
      val outer = l.value.asInstanceOf[ArrayData]
      Array.tabulate(outer.numElements())(i => outer.getArray(i).toDoubleArray())
    case other => throw new IllegalArgumentException(
      s"centroids must be a literal matrix, got $other")
  }

  def plus(a: Column, b: Column): Column = call_function("graft_plus", a, b)
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def l2norm(a: Column): Column = call_function("graft_l2norm", a)
  def slidingMin(a: Column, w: Column): Column =
    call_function("graft_sliding_min", a, w)
  def shingleHashes(tokens: Column, k: Column): Column =
    call_function("graft_shingle_hashes", tokens, k)
  def repStats(tokens: Column, lines: Column, topNs: Column,
      dupNs: Column): Column =
    call_function("graft_rep_stats", tokens, lines, topNs, dupNs)
  def minhashSig(sh: Column, numHashes: Column): Column =
    call_function("graft_minhash_sig", sh, numHashes)
  def simhashBits(sh: Column, nbits: Column): Column =
    call_function("graft_simhash_bits", sh, nbits)
  def shingleMd5(tokens: Column, k: Column): Column =
    call_function("graft_shingle_md5", tokens, k)
  def nfc(s: Column): Column = call_function("graft_nfc", s)
  def ngramJoin(tokens: Column, k: Column): Column =
    call_function("graft_ngram_join", tokens, k)
  def countIn(arr: Column, words: Seq[String]): Column =
    call_function("graft_count_in", arr,
      org.apache.spark.sql.functions.array(words.map(org.apache.spark.sql.functions.lit): _*))
  def hyperplaneKey(vec: Column, planes: Column, salt: Column): Column =
    call_function("graft_hyperplane_key", vec, planes, salt)
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    call_function("graft_nearest_centroid", vec,
      org.apache.spark.sql.functions.typedLit(centroids.map(_.toSeq).toSeq))
}
