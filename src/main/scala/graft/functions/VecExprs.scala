package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the vector hot paths.
  *
  * Why: composing these from built-ins produces expression trees with
  * thousands of nodes (64 dims x 64 planes as unrolled arithmetic), which
  * blow past the JIT/codegen method limits and fall back to interpreted
  * evaluation — measured 20s for 2000 rows at sf0.1. These expressions
  * generate a tight loop (delegating to compiled Scala via a codegen
  * reference object), keeping evaluation inside whole-stage codegen with
  * identical IEEE semantics (sequential left-associated sums — the exact
  * association order of the previous unrolled form AND of the DuckDB
  * oracle's list_sum, so hash parity is preserved bit for bit).
  */
object VecExprs {

  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  /** Sequential dot product of two double arrays. */
  case class ArrayDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected array<double> inputs, got ${left.dataType}, ${right.dataType}")

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    def compute(a: ArrayData, b: ArrayData): Double = {
      val x = a.toDoubleArray()
      val y = b.toDoubleArray()
      var s = 0.0
      var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dotExpr", this, classOf[ArrayDotProduct].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** L2-normalize a numeric array in ONE pass per stage: cast to double,
    * norm = sqrt of the sequential (left-associated) sum of squares,
    * output = element / norm. Bit-identical to the HOF formulation
    * `transform(v, x -> x / sqrt(aggregate(...)))` it replaces for every
    * nonzero vector — same cast-widen, same association order — and a
    * null ELEMENT nulls every output element (null norm), but codegen'd:
    * the HOF form evaluates interpreted with per-element lambda binding
    * AND re-evaluates the norm aggregate once per output element (64x64
    * boxed steps per 64-dim row — measured 6.2 s for a 4,000-row fit
    * stage at the 10x rehearsal; this loop: milliseconds).
    *
    * Zero-norm convention: a zero vector NORMALIZES TO ITSELF (divisor
    * clipped to 1 at exactly 0.0) — the sklearn `normalize` convention
    * and the same clip `Classify.fitCentroids` applies to centroids. The
    * HOF form instead THREW under ANSI (double div-by-zero), one bad
    * corpus row killing the job; and letting IEEE NaN through would rank
    * FIRST in a descending cosine top-k (NaN sorts greatest). Zero
    * cosine ranks last, which is what "no direction" means.
    */
  case class L2Normalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    // every numeric element type the HOF form's per-element cast accepted
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType |
                     ShortType | ByteType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected a numeric array, got $other")
    }
    @transient private lazy val elemType: DataType = child.dataType match {
      case ArrayType(et, _) => et
      case _                => DoubleType
    }

    override protected def nullSafeEval(a: Any): Any =
      compute(a.asInstanceOf[ArrayData])

    def compute(a: ArrayData): ArrayData = {
      val n = a.numElements()
      val x = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) // null element -> null norm -> all-null output
          return new GenericArrayData(new Array[Any](n))
        x(i) = elemType match {
          case DoubleType => a.getDouble(i)
          case FloatType  => a.getFloat(i).toDouble
          case LongType   => a.getLong(i).toDouble
          case IntegerType => a.getInt(i).toDouble
          case ShortType  => a.getShort(i).toDouble
          case _          => a.getByte(i).toDouble
        }
        i += 1
      }
      var s = 0.0
      i = 0
      while (i < n) { s += x(i) * x(i); i += 1 }
      val norm0 = math.sqrt(s)
      val norm = if (norm0 == 0.0) 1.0 else norm0
      val out = new Array[Any](n)
      i = 0
      while (i < n) { out(i) = x(i) / norm; i += 1 }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("l2nExpr", this, classOf[L2Normalize].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Normalized tokens in ONE codegen loop: lowercase (UTF8String
    * semantics, same as the `lower` built-in), then emit the maximal runs
    * of [a-z0-9] BYTES. Byte-level run splitting is exactly the
    * `filter(split(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")),
    * " "), len > 0)` chain it replaces: every non-alnum-ASCII byte —
    * including every byte of a multi-byte codepoint — is a separator in
    * both formulations, and tokens consist only of ASCII alnum bytes in
    * both. Replaces two regex passes + an interpreted HOF filter per
    * corpus scan (the tokenizer is under every text operator — BM25,
    * dedup shingles, DSIR grams, langid; measured 2.0 s/scan at the 10x
    * rehearsal before, ~0.6 s after).
    */
  case class AsciiTokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected string, got $other")
    }

    override protected def nullSafeEval(s: Any): Any =
      compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      import org.apache.spark.unsafe.types.UTF8String
      val b = s.toLowerCase.getBytes
      val out = new java.util.ArrayList[AnyRef]
      var i = 0
      var start = -1
      while (i <= b.length) {
        val alnum = i < b.length && {
          val c = b(i)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }
        if (alnum) { if (start < 0) start = i }
        else if (start >= 0) {
          out.add(UTF8String.fromBytes(b, start, i - start))
          start = -1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokExpr", this, classOf[AsciiTokens].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Multi-table hyperplane LSH bucket ids for a normalized double-array
    * vector: element t of the output is the sign-bucket of the vector under
    * plane family t (planes `t*planesPerTable .. (t+1)*planesPerTable-1`,
    * coefficients = graft.functions.Planes.coef — md5-derived, so the DuckDB
    * oracle reproduces each bucket exactly). Coefficients materialize once
    * per (dim) on first evaluation.
    */
  case class HyperplaneBuckets(child: Expression, nTables: Int,
                               planesPerTable: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected array<double> input, got ${child.dataType}")

    @transient private var coefs: Array[Double] = _
    @transient private var coefDim: Int = -1

    private def coefsFor(dim: Int): Array[Double] = {
      if (coefDim != dim) synchronized {
        if (coefDim != dim) {
          val nPlanes = nTables * planesPerTable
          val a = new Array[Double](nPlanes * dim)
          var p = 0
          while (p < nPlanes) {
            var i = 0
            while (i < dim) { a(p * dim + i) = Planes.coef(p, i); i += 1 }
            p += 1
          }
          coefs = a
          coefDim = dim
        }
      }
      coefs
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    def compute(arr: ArrayData): ArrayData = {
      val x = arr.toDoubleArray()
      val dim = x.length
      val cs = coefsFor(dim)
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var bkt = 0L
        var p = 0
        while (p < planesPerTable) {
          val plane = t * planesPerTable + p
          var proj = 0.0
          var i = 0
          val base = plane * dim
          while (i < dim) { proj += x(i) * cs(base + i); i += 1 }
          if (proj >= 0) bkt += (1L << p)
          p += 1
        }
        out(t) = bkt
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hpExpr", this, classOf[HyperplaneBuckets].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct word-n-gram shingle set of a string — the loop-compiled twin
    * of graft.functions.Text.shingleSet (normalize -> tokens -> n-windows,
    * texts shorter than n tokens yield one whole-text shingle; first-seen
    * order). The built-in HOF composition is interpreted per element and
    * dominated the jaccard dedup scan.
    */
  case class TokenShingles(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val out =
        if (toks.length - (n - 1) <= 0) Array(toks.mkString(" "))
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i + n <= toks.length) {
            seen.add(toks.slice(i, i + n).mkString(" "))
            i += 1
          }
          seen.toArray(new Array[String](seen.size()))
        }
      new GenericArrayData(out.map(
        org.apache.spark.unsafe.types.UTF8String.fromString(_)))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shExpr", this, classOf[TokenShingles].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** (w, prev) adjacent-token pairs of the normalized token stream — prev
    * is null for the first token. One tokenize pass inside whole-stage
    * codegen; the composed form (transform(sequence(1, size), i ->
    * struct(element_at ..., element_at ...))) is CodegenFallback and
    * re-walks the token array per element (NgramLm's scoring scan measured
    * 21 s -> ~1 s at sf0.1 switching to this expression). Empty/whitespace
    * text yields an empty array, so explode drops the doc (NgramLm
    * left-joins scores back).
    */
  case class TokenPairs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w", StringType, nullable = false),
      StructField("prev", StringType, nullable = true))), containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val out = new Array[Any](toks.length)
      var i = 0
      while (i < toks.length) {
        out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)),
            if (i == 0) null
            else org.apache.spark.unsafe.types.UTF8String.fromString(toks(i - 1))))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tpExpr", this, classOf[TokenPairs].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** md5 fingerprints of ALL n-token windows of the normalized token
    * stream, in position order (NOT distinct — unlike TokenShingles, the
    * consumer needs every window's position for span-coverage math).
    * Docs shorter than n yield an empty array. One tokenize pass, one md5
    * per window, inside whole-stage codegen.
    */
  case class TokenWindowHashes(child: Expression, n: Int)
      extends UnaryExpression {
    require(n > 0, s"need n > 0, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val count = math.max(0, toks.length - n + 1)
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < i + n) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(
          NgramVec.md5Hex(sb.toString))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("twhExpr", this, classOf[TokenWindowHashes].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Rebuild a document's normalized token stream with every token inside
    * one of the given n-token spans excised — the apply step of span
    * removal (`DupSpans.remove`, `Decontaminate.scrubSpans`): the
    * upstream aggregate collects only the removed WINDOW STARTS (one row
    * per window — NOT one per covered token: expanding coverage to
    * positions before the aggregate cost 71 s vs 10 s at the 10x
    * whole-corpus-duplicated rehearsal; the surviving ~130 MB shuffle is
    * the dup-hash aggregate's, window-count-linear by construction),
    * and this expression merges the [start, start+n)
    * intervals during ONE codegen scan. The merge walk over the sorted
    * start array is O(tokens + starts log starts) per row — no
    * corpus-token-level shuffle, no quadratic membership probes.
    * Out-of-range and duplicate starts are harmless; empty/fully-removed
    * docs yield "".
    */
  case class RemoveTokenSpans(left: Expression, right: Expression, n: Int)
      extends BinaryExpression {
    require(n > 0, s"need n > 0, got $n")
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (StringType, ArrayType(IntegerType, false)) =>
          TypeCheckResult.TypeCheckSuccess
        case (StringType, ArrayType(IntegerType, true)) =>
          // toIntArray would NPE on a null element at runtime inside
          // generated code — fail at analysis with a clear message instead
          TypeCheckResult.TypeCheckFailure(
            "start positions must be non-nullable array<int> " +
              "(a null element has no interval semantics)")
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expected (string, array<int>), got $l, $r")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        b.asInstanceOf[ArrayData])

    def compute(s: org.apache.spark.unsafe.types.UTF8String,
                rm: ArrayData): org.apache.spark.unsafe.types.UTF8String = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val starts = rm.toIntArray()
      java.util.Arrays.sort(starts)
      val sb = new java.lang.StringBuilder
      var i = 0
      var j = 0
      var coveredUntil = 0 // exclusive end of the merged coverage so far
      while (i < toks.length) {
        while (j < starts.length && starts(j) <= i) {
          val end = starts(j) + n
          if (end > coveredUntil) coveredUntil = end
          j += 1
        }
        if (i >= coveredUntil) {
          if (sb.length() > 0) sb.append(' ')
          sb.append(toks(i))
        }
        i += 1
      }
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("rtsExpr", this,
        classOf[RemoveTokenSpans].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Unicode NFC normalization (canonical composition) — the
    * encoding-repair stage of corpus cleaning: combining sequences
    * compose to their precomposed forms so byte-level dedup/fingerprints
    * see one representation per canonically-equal string. Both the JDK
    * (java.text.Normalizer) and the oracle's utf8proc implement the same
    * Unicode standard, so output is byte-identical cross-engine.
    */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        java.text.Normalizer.normalize(s.toString,
          java.text.Normalizer.Form.NFC))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nfcExpr", this, classOf[NfcNormalize].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Centered projection: out_j = sum_i (x_i - mean_i) * basis_j_i — the
    * per-row PCA transform (graft.operators.Embed), carrying the fitted
    * mean and k x d basis as reference objects (the NearestCells
    * discipline: model state rides the expression, the corpus scan stays
    * whole-stage codegen with zero shuffles). Input must be
    * array<double> of length d; null input -> null.
    */
  case class CenterProject(child: Expression, mean: Array[Double],
                           basis: Array[Array[Double]])
      extends UnaryExpression {
    require(basis.forall(_.length == mean.length),
      "basis rows must match mean dimension")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected array<double> input, got $other")
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    def compute(a: ArrayData): ArrayData = {
      val d = mean.length
      if (a.numElements() != d) throw new IllegalArgumentException(
        s"CenterProject: expected vector of length $d, got ${a.numElements()}")
      // parquet array schemas usually say containsNull=true even for dense
      // vectors, so nullability is checked per element at runtime: a silent
      // null-as-0.0 read would disagree with the fit path (Embed.fitPca),
      // which fails on the same data — fit and transform must see the same
      // vectors or neither should.
      var n = 0
      while (n < d) {
        if (a.isNullAt(n)) throw new IllegalArgumentException(
          s"CenterProject: null at component $n — filter or fill null " +
            "vector components before projecting")
        n += 1
      }
      val out = new Array[Any](basis.length)
      var j = 0
      while (j < basis.length) {
        val row = basis(j)
        var s = 0.0
        var i = 0
        while (i < d) {
          s += (a.getDouble(i) - mean(i)) * row(i)
          i += 1
        }
        out(j) = s
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cpExpr", this, classOf[CenterProject].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** BPE encoding of normalized text under an ordered merge list (see
    * graft.operators.Bpe): tokenize, split each word to characters, apply
    * the merges rank-by-rank with the shared greedy fold. The merge list
    * is model state carried as one reference object — bounded broadcast,
    * zero shuffles, one pass per row inside whole-stage codegen. Returns
    * the flattened subword array in document order; empty text -> empty
    * array.
    */
  case class BpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    // Word encodings memoize per thread: word frequencies are Zipfian, so
    // the greedy per-word merge fold — the hot loop — re-derives the same
    // subwords constantly. ThreadLocal keeps the cache safe under ANY
    // expression-instance sharing (task deserialization or codegen
    // reference reuse); access-ordered LRU bounds it at 64k words/thread.
    // Values are the FINAL UTF8String tokens so a hit skips re-encoding.
    @transient private lazy val memo =
      new ThreadLocal[java.util.LinkedHashMap[String, Array[org.apache.spark.unsafe.types.UTF8String]]] {
        override def initialValue() =
          new java.util.LinkedHashMap[String, Array[org.apache.spark.unsafe.types.UTF8String]](
            1024, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, Array[org.apache.spark.unsafe.types.UTF8String]]): Boolean =
              size() > 65536
          }
      }

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val cache = memo.get()
      val out = new scala.collection.mutable.ArrayBuffer[Any](toks.length * 2)
      var i = 0
      while (i < toks.length) {
        var syms = cache.get(toks(i))
        if (syms == null) {
          syms = BpeMerge.encodeWord(toks(i), merges)
            .map(org.apache.spark.unsafe.types.UTF8String.fromString)
          cache.put(toks(i), syms)
        }
        var j = 0
        while (j < syms.length) { out += syms(j); j += 1 }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeExpr", this, classOf[BpeEncode].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Map an array<string> of subword tokens to vocabulary ids
    * (array<int>): hash lookup against the FITTED vocabulary carried as
    * one reference object — O(1) per token, where a Catalyst map literal
    * would scan linearly per element. Tokens outside the vocabulary map
    * to -1, keeping out-of-alphabet symbols visible instead of silently
    * bucketing them (the caller decides the unk policy downstream).
    */
  case class TokenIds(child: Expression, vocab: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected array<string> input, got ${other.simpleString}")
    }

    @transient private lazy val idx: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](vocab.length * 2)
      var i = 0
      vocab.foreach { s =>
        if (!m.containsKey(s)) m.put(s, i)
        i += 1
      }
      m
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val s = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
        val v = if (s == null) null else idx.get(s.toString)
        out(i) = if (v == null) -1 else v.intValue()
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokenIdsExpr", this, classOf[TokenIds].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fixed-size token windows with overlap over the normalized token
    * stream — training-example construction (chunk long docs into
    * model-context-sized windows). Chunk i covers tokens
    * [i*stride, i*stride + size); the tail window may be shorter; a doc
    * shorter than `size` yields exactly one chunk; empty text yields an
    * empty array (explode drops the doc). One tokenize pass inside
    * whole-stage codegen. Chunk text is the SPACE-JOINED NORMALIZED
    * tokens (chunk boundaries are token positions, so the chunk body is
    * definitionally token-stream text, not raw-text offsets).
    */
  case class TokenChunks(child: Expression, size: Int, stride: Int)
      extends UnaryExpression {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("chunk_id", IntegerType, nullable = false),
      StructField("chunk_text", StringType, nullable = false),
      StructField("n_chunk_tokens", LongType, nullable = false))),
      containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val n = toks.length
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      // 1 + ceil(max(n - size, 0) / stride): every start < n, tail kept
      val count = 1 + math.max(0, (n - size + stride - 1) / stride)
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val from = i * stride
        val until = math.min(from + size, n)
        val sb = new java.lang.StringBuilder
        var j = from
        while (j < until) {
          if (j > from) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i,
            org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
            (until - from).toLong))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tcExpr", this, classOf[TokenChunks].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 32-bit SimHash of the normalized token stream — single pass over the
    * tokens with one md5 per token. Bit-identical to the composed built-in
    * form (32 separate `aggregate(transform(tokens, md5))` terms), which
    * re-evaluated the tokenize+md5 pipeline once PER BIT because
    * higher-order array functions are CodegenFallback: same definition,
    * 32x less hashing, and the loop stays inside whole-stage codegen.
    * Null input is handled by the wrapper (null -> 0, matching the
    * composed form's `when(null > 0,...).otherwise(0)` collapse).
    */
  case class Simhash32(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val votes = new Array[Int](32)
      var t = 0
      while (t < toks.length) {
        // pooled digest + raw bytes (NgramVec): hex digit i's parity is the
        // low bit of nibble i — high nibble of byte i/2 for even i, low for
        // odd — so no hex string or per-call MessageDigest is ever built
        val d = NgramVec.md5Bytes(toks(t))
        var i = 0
        while (i < 16) {
          // hex digit parity: odd nibble votes +1 for bit i, even -1
          if (((d(i) >> 4) & 1) == 1) votes(2 * i) += 1 else votes(2 * i) -= 1
          if ((d(i) & 1) == 1) votes(2 * i + 1) += 1 else votes(2 * i + 1) -= 1
          i += 1
        }
        t += 1
      }
      var fp = 0L
      var i = 0
      while (i < 32) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
      fp
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shExpr", this, classOf[Simhash32].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash — the scale fingerprint (Simhash32's 8-bit pigeonhole
    * blocks give corpus/256 bucket occupancy with quadratic in-bucket pair
    * generation; 64 bits split into 16-bit blocks keep occupancy near
    * corpus/65536). Definition stays md5-parity and oracle-reproducible:
    * bits 0..31 vote on the hex-digit parities of md5(token) (exactly
    * Simhash32), bits 32..63 on md5(token || "@") — '@' cannot occur in a
    * normalized token, so the two hash families are independent.
    */
  case class Simhash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val votes = new Array[Int](64)
      var t = 0
      while (t < toks.length) {
        // same raw-byte nibble-parity read as Simhash32 (see there)
        val d1 = NgramVec.md5Bytes(toks(t))
        val d2 = NgramVec.md5Bytes(toks(t) + "@")
        var i = 0
        while (i < 16) {
          if (((d1(i) >> 4) & 1) == 1) votes(2 * i) += 1 else votes(2 * i) -= 1
          if ((d1(i) & 1) == 1) votes(2 * i + 1) += 1 else votes(2 * i + 1) -= 1
          if (((d2(i) >> 4) & 1) == 1) votes(32 + 2 * i) += 1
          else votes(32 + 2 * i) -= 1
          if ((d2(i) & 1) == 1) votes(32 + 2 * i + 1) += 1
          else votes(32 + 2 * i + 1) -= 1
          i += 1
        }
        t += 1
      }
      var fp = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
      fp
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shExpr", this, classOf[Simhash64].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash signature in ONE pass over the shingle set: element k of the
    * output is min over shingles of md5(shingle + "#" + k) — the same
    * definition as Text.minhashSignature (lexicographic min over
    * fixed-width lowercase hex == numeric min, oracle-reproducible), but
    * computed in a flat loop instead of K separate aggregate expressions
    * over an exploded posting (which shuffled every (doc, shingle) row and
    * hashed through interpreted HOFs).
    */
  case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"expected array<string> shingles, got $dt")
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    /** UTF-8 bytes of each "#j" suffix, built once per expression. */
    @transient private lazy val suffixes: Array[Array[Byte]] =
      Array.tabulate(k)(j => s"#$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def compute(shingles: ArrayData): ArrayData = {
      val n = shingles.numElements()
      // empty shingle set -> null signature elements would break the
      // non-null contract; emit the empty array instead (no shingles, no
      // bands, doc never collides — same as the aggregate form which
      // produced no row for an empty posting)
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      // compare RAW digests (unsigned byte order == lowercase-hex string
      // order) and hex-encode only the k winners. The n*k digests run on
      // reused buffers: each shingle's UTF-8 bytes are written into `buf`
      // once, the "#j" suffix is appended in place behind them, every
      // digest lands in the one `dig` array, and it is copied into `mins`
      // only when it is a new minimum — no per-digest String or array.
      val md = NgramVec.md5()
      val dig = new Array[Byte](16)
      val mins = new Array[Byte](16 * k)
      var buf = new Array[Byte](64)
      var i = 0
      while (i < n) {
        val s = shingles.getUTF8String(i)
        val len = s.numBytes()
        // 12 bytes fit '#' plus any Int's decimal digits
        if (buf.length < len + 12) buf = new Array[Byte](2 * (len + 12))
        s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
        var j = 0
        while (j < k) {
          val suf = suffixes(j)
          System.arraycopy(suf, 0, buf, len, suf.length)
          md.update(buf, 0, len + suf.length)
          md.digest(dig, 0, 16)
          if (i == 0 || NgramVec.compareDigests(dig, 0, mins, 16 * j) < 0)
            System.arraycopy(dig, 0, mins, 16 * j, 16)
          j += 1
        }
        i += 1
      }
      new GenericArrayData(Array.tabulate[Any](k)(j =>
        org.apache.spark.unsafe.types.UTF8String.fromString(NgramVec.hex(mins, 16 * j))))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mhExpr", this, classOf[MinhashSig].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word n-gram repetition statistics in ONE pass over the text:
    * `struct(total, distinct, top)` counts of the normalized token
    * n-grams (total occurrences, distinct values, highest single-value
    * occurrence count). Feeds the Gopher-style repetition quality
    * signals (duplicate-token fraction, duplicate/top n-gram fractions)
    * used by training-data filters. A per-row open hashmap keeps the
    * cost O(tokens) — the compositional form (count each distinct
    * n-gram by re-scanning the n-gram list) is O(tokens^2) per row and
    * CodegenFallback; at 10k-token web documents that difference is the
    * whole game. Texts shorter than n tokens yield (0, 0, 0); the
    * fraction layer divides by greatest(total, 1) so they read as
    * "no repetition".
    */
  case class NgramRepStats(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("total", LongType, nullable = false),
      StructField("distinct", LongType, nullable = false),
      StructField("top", LongType, nullable = false)))
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")
      else if (n < 1) TypeCheckResult.TypeCheckFailure(
        s"n must be >= 1, got $n") // n=0 would fabricate counts from "" grams
      else TypeCheckResult.TypeCheckSuccess

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      val total = toks.length - (n - 1)
      if (total <= 0) InternalRow(0L, 0L, 0L)
      else {
        val counts = new java.util.HashMap[String, Int](total * 2)
        var top = 0
        var i = 0
        while (i + n <= toks.length) {
          val g = if (n == 1) toks(i) else toks.slice(i, i + n).mkString(" ")
          val c = counts.merge(g, 1, (a, b) => a + b)
          if (c > top) top = c
          i += 1
        }
        InternalRow(total.toLong, counts.size.toLong, top.toLong)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("rsExpr", this, classOf[NgramRepStats].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** True iff ANY element of an array<string> might be in the carried
    * Bloom filter — the scan-side kernel of `Decontaminate.flagBloom`.
    * The filter bytes ride ONCE as a codegen reference object (the
    * NearestCells pattern); per row this is a flat loop with early exit,
    * no join, no shuffle. One-sided error by construction: a contained
    * element always reports true (no false negatives), so the exact path
    * is a strict subset of what this flags.
    */
  case class AnyInBloom(child: Expression, bloomBits: Array[Byte])
      extends UnaryExpression {
    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBits))
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"expected array<string> input, got $dt")
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    def compute(arr: ArrayData): Boolean = {
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        // null elements (containsNull=true arrays) are skipped: a null gram
        // is in no benchmark, and getUTF8String would NPE on it
        if (!arr.isNullAt(i) &&
            bloom.mightContainString(arr.getUTF8String(i).toString)) return true
        i += 1
      }
      false
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("abExpr", this, classOf[AnyInBloom].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Ordered local pair generation over a sorted posting list (the inverted
    * index's per-shingle doc list): emits a struct (a, b) for every i < j
    * pair that survives the size-ratio prefilter
    * least(n_a,n_b) >= minJaccard * greatest(n_a,n_b) — jaccard(A,B) can
    * never exceed min/max of the set sizes, so dropped pairs cannot pass
    * the final threshold. Replaces a nested transform(slice(...)) chain:
    * higher-order functions are CodegenFallback AND allocate an
    * intermediate array per element; this is one flat loop inside
    * whole-stage codegen. Elements must be structs whose SECOND field is
    * the integer shingle count (the first is the doc id, any type).
    */
  case class PostingPairs(child: Expression, minJaccard: Double)
      extends UnaryExpression {
    private lazy val elemType = child.dataType match {
      case ArrayType(s: StructType, _) => s
      case dt => throw new IllegalArgumentException(s"expected array<struct>, got $dt")
    }
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("a", elemType, nullable = false),
        StructField("b", elemType, nullable = false))), containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(s: StructType, _)
        if s.fields.length >= 2 && s.fields(1).dataType == IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"expected array<struct<id, n: int>>, got $dt")
    }

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    def compute(docs: ArrayData): ArrayData = {
      val n = docs.numElements()
      val nFields = elemType.fields.length
      val rows = new Array[InternalRow](n)
      val counts = new Array[Int](n)
      var i = 0
      while (i < n) {
        // copy: ArrayData rows from an aggregation buffer may be reused
        rows(i) = docs.getStruct(i, nFields).copy()
        counts(i) = rows(i).getInt(1)
        i += 1
      }
      val out = new scala.collection.mutable.ArrayBuffer[Any](n)
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val (lo, hi) =
            if (counts(i) < counts(j)) (counts(i), counts(j))
            else (counts(j), counts(i))
          if (lo >= minJaccard * hi)
            out += InternalRow(rows(i), rows(j))
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ppExpr", this, classOf[PostingPairs].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hashed char-2-4-gram term-frequency vector — the loop-codegen twin of
    * `FuzzyJoin.tfArray` (normalize -> padded char 2-4-grams -> md5 bucket
    * -> counts), delegating to `NgramVec.tf`. The HOF form's lambda captures
    * the whole `padded` subtree (normalize regex included), so interpreted
    * evaluation re-runs the full-document regex once PER N-GRAM POSITION —
    * O(len^2) per value, harmless on 20-char keys and catastrophic on
    * document text (a fuzzy join on sf0.1 `documents.text` never finished
    * its warmup). Bit-identical counts (integers), pinned to the HOF form
    * in FuzzyJoinSpec.
    */
  case class NgramTf(child: Expression, nBuckets: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(NgramVec.tf(s.toString, nBuckets))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tfExpr", this, classOf[NgramTf].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** L2-normalized (tf * idf) over the hashed n-gram buckets — the fused
    * loop-codegen form of `FuzzyJoin.Fitted.vector`'s string block
    * (`l2Normalize(zip_with(tfArray, idf))`), delegating to
    * `NgramVec.tfidf`. Multiplication, the norm accumulation and the final
    * division all run in index order — the exact association order of the
    * HOF form and of the DuckDB oracle, so vectors are bit-identical.
    * `weights` is a Seq for case-class equality; nBuckets = weights.length.
    */
  case class NgramTfIdf(child: Expression, weights: Seq[Double])
      extends UnaryExpression {
    @transient private lazy val w: Array[Double] = weights.toArray
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData =
      new GenericArrayData(NgramVec.tfidf(s.toString, w, w.length))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tfidfExpr", this, classOf[NgramTfIdf].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Squared euclidean distance between two equal-length double arrays —
    * loop-codegen twin of `FuzzyJoin.dist2`'s
    * `aggregate(zip_with(a,b,(x,y)=>(x-y)^2), 0.0, +)`: the sum accumulates
    * left-associated in index order, bit-identical to the HOF fold and the
    * oracle's list_sum(list_zip). The HOF form is CodegenFallback and
    * re-interprets the lambda per element on every candidate pair — this
    * stays inside whole-stage codegen of the scoring join.
    */
  case class ArrayDist2(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected array<double> inputs, got ${left.dataType}, ${right.dataType}")

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    def compute(a: ArrayData, b: ArrayData): Double = {
      val x = a.toDoubleArray()
      val y = b.toDoubleArray()
      var s = 0.0
      var i = 0
      while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("d2Expr", this, classOf[ArrayDist2].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sequential dot product of an int8-quantized vector (array<tinyint>)
    * against a full-precision one (array<double>) — the asymmetric-
    * distance kernel of the SQ8 ANN postings: cosine ≈ scale/127 * this.
    * Left-associated index-order sum, bit-identical to the oracle's
    * list_sum(list_zip). Keeping the int8 side un-dequantized in storage
    * is the point — the expression widens per element on the fly.
    */
  case class ArrayDotBytes(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expected (array<tinyint>, array<double>), got $l, $r")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    def compute(a: ArrayData, b: ArrayData): Double = {
      val x = a.toByteArray()
      val y = b.toDoubleArray()
      var s = 0.0
      var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dbExpr", this, classOf[ArrayDotBytes].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** The `nProbe` nearest centroid ids for a vector — the IVF cell-probe
    * argmin as ONE loop expression. The compositional form (an array of
    * per-centroid `(round(dist2, 6), cid)` structs, sorted and sliced)
    * plans one literal + one ArrayDist2 subtree PER CENTROID: at the
    * auto-sized ~sqrt(corpus) cell counts a large corpus wants (hundreds
    * to tens of thousands), that tree falls out of whole-stage codegen
    * and the centroid table is re-shipped inside every task binary.
    * Here the centroid matrix rides ONCE as a reference object and the
    * scan is a tight two-level loop with an O(nProbe) insertion select.
    *
    * Semantics are pinned to the compositional form (KmeansExprSpec in
    * DedupSpec): per centroid d2 = left-associated (x-y)^2 sum rounded
    * half-up to 6 (BigDecimal.valueOf — exactly Spark's `round` on
    * DoubleType), order by (d2, cid) ascending.
    */
  case class NearestCells(child: Expression, cids: Seq[Int],
                          cents: Seq[Seq[Double]], nProbe: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (isDoubleArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected array<double> input, got ${child.dataType}")

    @transient private lazy val matrix: Array[Array[Double]] =
      cents.map(_.toArray).toArray
    @transient private lazy val ids: Array[Int] = cids.toArray

    override protected def nullSafeEval(v: Any): Any =
      new GenericArrayData(compute(v.asInstanceOf[ArrayData]))

    def compute(v: ArrayData): Array[Any] = {
      val x = v.toDoubleArray()
      val m = math.min(nProbe, matrix.length)
      val bestD = new Array[Double](m)
      val bestC = new Array[Int](m)
      var filled = 0
      var c = 0
      while (c < matrix.length) {
        val ctr = matrix(c)
        var s = 0.0
        var i = 0
        while (i < x.length) { val d = x(i) - ctr(i); s += d * d; i += 1 }
        val d2 = java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val cid = ids(c)
        // insertion select on (d2, cid): find slot, shift tail
        var pos = filled
        while (pos > 0 && (bestD(pos - 1) > d2 ||
            (bestD(pos - 1) == d2 && bestC(pos - 1) > cid))) pos -= 1
        if (pos < m) {
          val last = math.min(filled, m - 1)
          var j = last
          while (j > pos) { bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1); j -= 1 }
          bestD(pos) = d2
          bestC(pos) = cid
          if (filled < m) filled += 1
        }
        c += 1
      }
      val out = new Array[Any](filled)
      var k = 0
      while (k < filled) { out(k) = bestC(k); k += 1 }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ncExpr", this, classOf[NearestCells].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = new ${classOf[GenericArrayData].getName}($ref.compute($v));")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hashed word-bigram buckets in ONE pass over the text — the DSIR gram
    * hasher (operators/Dsir.scala). Semantics mirror `Dsir.buckets`
    * (Text.wordShingles(c, 2) + md5-first-8-hex mod B, whole-normalized-
    * text fallback under 2 tokens — no document is weightless) exactly;
    * the composed higher-order-function form is CodegenFallback and builds
    * a hex string per gram, this loop reads the raw digest bytes and stays
    * inside whole-stage codegen (pinned equivalent in DsirSpec).
    */
  case class GramBuckets(child: Expression, nBuckets: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    // first 8 md5 hex digits == first 4 digest bytes as unsigned 32-bit
    private def bucketOf(g: String): Long = {
      val d = NgramVec.md5Bytes(g)
      val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      u % nBuckets
    }

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      if (toks.length <= 1)
        new GenericArrayData(Array[Any](bucketOf(toks.mkString(" "))))
      else {
        val out = new Array[Any](toks.length - 1)
        var i = 0
        while (i < toks.length - 1) {
          out(i) = bucketOf(toks(i) + " " + toks(i + 1))
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("gbExpr", this, classOf[GramBuckets].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** DSIR log importance weight in micro-nats, ONE pass over the text:
    * Σ over hashed bigram grams of microRatios(bucket). `microRatios` are
    * the fitted 6-dp log-ratios in micro units (exact longs), so this
    * integer sum equals the composed DECIMAL(28,6) aggregate exactly —
    * order-free by construction, overflow-free in practice (|ratio| stays
    * well under 40 nats = 4e7 micro; 2^63 / 4e7 ≈ 2e11 grams per document
    * before a Long could wrap).
    */
  case class GramWeightMicro(child: Expression, microRatios: Array[Long])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"expected string input, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    private def bucketOf(g: String): Int = {
      val d = NgramVec.md5Bytes(g)
      val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (u % microRatios.length).toInt
    }

    def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
      val toks = NgramVec.normalize(s.toString).split(" ").filter(_.nonEmpty)
      if (toks.length <= 1) microRatios(bucketOf(toks.mkString(" ")))
      else {
        var acc = 0L
        var i = 0
        while (i < toks.length - 1) {
          acc += microRatios(bucketOf(toks(i) + " " + toks(i + 1)))
          i += 1
        }
        acc
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("gwExpr", this, classOf[GramWeightMicro].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column wrappers. */
  def asciiTokens(c: Column): Column =
    GraftBridge.column(AsciiTokens(GraftBridge.expression(
      c.cast(org.apache.spark.sql.types.StringType))))

  def l2normalize(v: Column): Column =
    GraftBridge.column(L2Normalize(GraftBridge.expression(v)))

  def arrayDot(a: Column, b: Column): Column =
    GraftBridge.column(ArrayDotProduct(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  def hyperplaneBuckets(vec: Column, nTables: Int, planesPerTable: Int): Column =
    GraftBridge.column(HyperplaneBuckets(GraftBridge.expression(vec),
      nTables, planesPerTable))

  def tokenShingles(c: Column, n: Int): Column =
    GraftBridge.column(TokenShingles(GraftBridge.expression(c), n))

  def tokenPairs(c: Column): Column =
    GraftBridge.column(TokenPairs(GraftBridge.expression(c)))

  def tokenChunks(c: Column, size: Int, stride: Int): Column =
    GraftBridge.column(TokenChunks(GraftBridge.expression(c), size, stride))

  def bpeEncode(c: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeEncode(GraftBridge.expression(c), merges))

  def tokenIds(c: Column, vocab: Seq[String]): Column =
    GraftBridge.column(TokenIds(GraftBridge.expression(c), vocab))

  def tokenWindowHashes(c: Column, n: Int): Column =
    GraftBridge.column(TokenWindowHashes(GraftBridge.expression(c), n))

  def removeTokenSpans(text: Column, starts: Column, n: Int): Column =
    GraftBridge.column(RemoveTokenSpans(GraftBridge.expression(text),
      GraftBridge.expression(starts), n))

  def centerProject(c: Column, mean: Array[Double],
                    basis: Array[Array[Double]]): Column =
    GraftBridge.column(CenterProject(GraftBridge.expression(c), mean, basis))

  def nfcNormalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  def simhash32(c: Column): Column =
    GraftBridge.column(Simhash32(GraftBridge.expression(c)))

  def simhash64(c: Column): Column =
    GraftBridge.column(Simhash64(GraftBridge.expression(c)))

  def postingPairs(docs: Column, minJaccard: Double): Column =
    GraftBridge.column(PostingPairs(GraftBridge.expression(docs), minJaccard))

  def minhashSig(shingles: Column, k: Int): Column =
    GraftBridge.column(MinhashSig(GraftBridge.expression(shingles), k))

  def ngramRepStats(c: Column, n: Int): Column =
    GraftBridge.column(NgramRepStats(GraftBridge.expression(c), n))

  def anyInBloom(c: Column, bloomBits: Array[Byte]): Column =
    GraftBridge.column(AnyInBloom(GraftBridge.expression(c), bloomBits))

  def ngramTf(c: Column, nBuckets: Int): Column =
    GraftBridge.column(NgramTf(GraftBridge.expression(c), nBuckets))

  def ngramTfIdf(c: Column, weights: Seq[Double]): Column =
    GraftBridge.column(NgramTfIdf(GraftBridge.expression(c), weights))

  def arrayDist2(a: Column, b: Column): Column =
    GraftBridge.column(ArrayDist2(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  def nearestCells(v: Column, cids: Seq[Int], cents: Seq[Seq[Double]],
                   nProbe: Int): Column =
    GraftBridge.column(NearestCells(GraftBridge.expression(v), cids, cents,
      nProbe))

  def arrayDotBytes(q: Column, v: Column): Column =
    GraftBridge.column(ArrayDotBytes(GraftBridge.expression(q),
      GraftBridge.expression(v)))

  def gramBuckets(c: Column, nBuckets: Int): Column =
    GraftBridge.column(GramBuckets(GraftBridge.expression(c), nBuckets))

  def gramWeightMicro(c: Column, microRatios: Array[Long]): Column =
    GraftBridge.column(GramWeightMicro(GraftBridge.expression(c), microRatios))
}
