package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the ANN hot path: dot product of two
  * array<double> columns with whole-stage-codegen support.
  *
  * Why not a UDF or `aggregate(zip_with(...))`: a Scala UDF breaks
  * codegen and pays serialization per row; the higher-order-function
  * fold interprets a lambda per element. This expression compiles to a
  * tight Java loop inside the generated code — the preference order the
  * engine follows everywhere (built-in > native Expression > UDF,
  * SURVEY §2.12).
  *
  * Summation is a sequential fold in index order — bit-identical to the
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)`
  * formulation it replaces, so DuckDB-oracle parity is unchanged.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  // A null array ELEMENT yields a null result even when both inputs are
  // non-null, so nullability must include element containsNull — the
  // BinaryExpression default (children only) both mis-advertises the
  // expression to the optimizer (isnull(vec_dot(..)) could fold to
  // false) and makes nullSafeCodeGen pin ev.isNull to the `false`
  // literal, turning the generated `isNull = true` into a Janino
  // "not an rvalue" compile failure + silent interpreted fallback.
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => true // unresolved: stay conservative
  })

  override def nullable: Boolean =
    left.nullable || right.nullable || elementsNullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
    }
  }

  // A null ELEMENT makes the whole dot product null — the same
  // propagation the aggregate(zip_with(...)) fold has, which makes the
  // VecDotNormRewrite optimizer rule semantics-exact.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  // The null-element exit accumulates into a LOCAL flag and folds it
  // into ev.isNull exactly once — and only when elements can actually
  // be null (nullable is then true, so ev.isNull is a real variable,
  // never the `false` literal, regardless of how codegen splits or
  // CSEs this block into helper methods).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val hasNullElem = ctx.freshName("hasNullElem")
      val elemCheck =
        if (elementsNullable)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { $hasNullElem = true; break; }"
        else ""
      val foldNull =
        if (elementsNullable) s"${ev.isNull} = $hasNullElem;" else ""
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |boolean $hasNullElem = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  $elemCheck
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |$foldNull
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** One-pass 32-bit SimHash over a token array, rendered as a '0'/'1'
  * string. Replaces the dataflow formulation (explode tokens × 32 hex
  * positions → majority vote → string_agg: 32× row blowup and two extra
  * shuffles) with a single per-row pass: md5 each token once, accumulate
  * 32 parity counters, emit the majority string. Bit definition is
  * IDENTICAL to the dataflow/oracle version: bit_j = majority over
  * tokens of (hexdigit_j(md5(token)) % 2), '1' when the vote sum >= 0.
  *
  * Uses interpreted eval (CodegenFallback): the md5-per-token loop
  * dominates, so codegen wouldn't change the profile; the 32× dataflow
  * blowup it removes is the win.
  */
case class Simhash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "simhash32"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash32 requires array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val digest = md.digest(arr.getUTF8String(i).getBytes)
        // digest byte k yields hex digits 2k (high nibble) and 2k+1 (low)
        var k = 0
        while (k < 16) {
          val b = digest(k) & 0xff
          votes(2 * k) += (if (((b >> 4) & 1) == 1) 1 else -1)
          votes(2 * k + 1) += (if ((b & 1) == 1) 1 else -1)
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Byte](32)
    var j = 0
    while (j < 32) {
      out(j) = if (votes(j) >= 0) '1'.toByte else '0'.toByte
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

/** 16-permutation MinHash signature (array<long>) over raw text — the
  * native form of [[graft.ops.DedupOps.minhashSigFromText]]'s
  * higher-order-function pipeline, bit-identical by construction:
  * tokenize on single spaces (regex-split semantics incl. empty
  * tokens), distinct, md5 once per distinct token, h1/h2 = the 52-bit
  * integers the SQL form reads as hex substrings 1–13 / 14–26 (here
  * taken directly from digest BYTES — high nibbles first — instead of
  * rendering hex text and re-parsing via conv), and
  * mh_i = min((h1 + i·h2) mod p) with p = [[graft.ops.DedupOps
  * .MinhashModPrime]] (Kirsch–Mitzenmacher; max pre-mod value < 2⁵⁶,
  * exact in int64 — the mod is what keeps the 16 minima independent,
  * see the constant's scaladoc). What it removes versus the HOF form:
  * the per-token hex
  * render + conv parse (×2), the named_struct array materialization,
  * and 16 interpreted array_min lambda passes over it.
  *
  * Output element count = [[perms]]; elements never null; result null
  * iff input null. Codegen is one static call — no generated-code null
  * hazards of the kind VecDot had.
  */
case class MinhashSig(child: Expression, perms: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires string input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    MinhashSig.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], perms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashSig.compute($c, $perms)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  // one digest instance per executor thread, reset per token — the
  // per-row getInstance() lookup is measurable at 50k+ rows/core
  private val localMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Static body shared by interpreted eval and generated code. Works
    * directly on the UTF-8 bytes: tokens are found by scanning for the
    * 0x20 delimiter (safe in UTF-8 — continuation bytes are >= 0x80),
    * deduped as zero-copy UTF8String views, and digested straight from
    * the backing array. Semantics match split(text, ' ') with regex
    * limit -1: empty tokens from doubled/leading/trailing spaces are
    * kept, and "" yields the single empty token. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String, perms: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val mins = Array.fill(perms)(Long.MaxValue)
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val md = localMd.get()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val tok = org.apache.spark.unsafe.types.UTF8String
          .fromBytes(bytes, start, i - start)
        if (seen.add(tok)) {
          md.reset()
          md.update(bytes, start, i - start)
          val d = md.digest()
          // hex chars 1..13 (1-based) = bytes 0..5 + HIGH nibble of byte 6
          var h1 = 0L
          var k = 0
          while (k < 6) { h1 = (h1 << 8) | (d(k) & 0xffL); k += 1 }
          h1 = (h1 << 4) | ((d(6) & 0xf0L) >>> 4)
          // hex chars 14..26 = LOW nibble of byte 6 + bytes 7..12
          var h2 = d(6) & 0x0fL
          k = 7
          while (k < 13) { h2 = (h2 << 8) | (d(k) & 0xffL); k += 1 }
          var p = 0
          var g = h1 // running h1 + p*h2, exact (max < 2^56); mod per perm
          while (p < perms) {
            val m = g % graft.ops.DedupOps.MinhashModPrime
            if (m < mins(p)) mins(p) = m
            g += h2
            p += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** Distinct 52-bit hashes of n-token shingles over raw text — the
  * native form of the Jaccard pipeline's shingle index (see
  * [[graft.ops.DedupOps]] `shingleArrays`), bit-identical to
  * `array_distinct(transform(sequence(0, size(t)-n), i ->
  * cast(conv(substring(md5(concat_ws(' ', slice(t, i+1, n))), 1, 13),
  * 16, 10) as bigint)))`: the md5 is STREAMED over the window's token
  * byte spans joined by single spaces (exactly the bytes concat_ws
  * renders, including empty tokens from doubled spaces), the 52-bit
  * value is read from the digest bytes, and first-occurrence order is
  * preserved — no per-shingle string build, hex render, or conv parse.
  * Fewer than n tokens yields an empty array (the callers filter those
  * rows; the HOF form's sequence() would error on them).
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes requires (string, int) inputs, got $other")
    }

  override def nullSafeEval(text: Any, n: Any): Any =
    ShingleHashes.compute(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, n) =>
      s"graft.functions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}

object ShingleHashes {
  private val localMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val Space = Array[Byte](' ')

  def compute(text: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token boundaries, split-on-single-space semantics (empty kept)
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        starts += start; ends += i
        start = i + 1
      }
      i += 1
    }
    val nTok = starts.length
    if (nTok < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val md = localMd.get()
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](nTok - n + 1)
    var w = 0
    while (w <= nTok - n) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(Space, 0, 1)
        md.update(bytes, starts(w + j), ends(w + j) - starts(w + j))
        j += 1
      }
      val d = md.digest()
      // 52 bits = hex chars 1..13: bytes 0..5 + high nibble of byte 6
      var h = 0L
      var k = 0
      while (k < 6) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      h = (h << 4) | ((d(6) & 0xf0L) >>> 4)
      if (seen.add(h)) out += h
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Distinct winnowing fingerprints over raw text — the native form of
  * [[graft.ops.DedupOps.dedupWinnow]]'s higher-order-function pipeline,
  * bit-identical by construction: POSITIONAL k-token shingle hashes
  * (52-bit md5 values, same streaming construction as
  * [[ShingleHashes]] but keeping duplicates — winnowing needs window
  * positions), sliding-window minima over w consecutive hashes
  * (monotonic-deque, O(n) total), then distinct in first-occurrence
  * order (array_distinct semantics). What it removes versus the HOF
  * form: the per-shingle string build + hex render + conv parse, and
  * the w-element array_min lambda per window. Fewer than k + w − 1
  * tokens yields an empty array (callers filter those rows).
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fps requires string input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowFps.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  private val localMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val Space = Array[Byte](' ')

  def compute(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token boundaries, split-on-single-space semantics (empty kept)
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        starts += start; ends += i
        start = i + 1
      }
      i += 1
    }
    val nTok = starts.length
    if (nTok < k + w - 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val md = localMd.get()
    val m = nTok - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(Space, 0, 1)
        md.update(bytes, starts(p + j), ends(p + j) - starts(p + j))
        j += 1
      }
      val d = md.digest()
      var h = 0L
      var b = 0
      while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hs(p) = (h << 4) | ((d(6) & 0xf0L) >>> 4)
      p += 1
    }
    // sliding-window minima via monotonic deque (indices, increasing h)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    var idx = 0
    while (idx < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(idx)) tail -= 1
      deque(tail) = idx; tail += 1
      if (deque(head) <= idx - w) head += 1
      if (idx >= w - 1) seen.add(hs(deque(head)))
      idx += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-document term frequencies as map<token, count> in ONE pass over
  * the UTF-8 bytes — the native form of the retrieval pipeline's
  * `transform(array_distinct(tk), x -> (x, size(filter(tk, y -> y =
  * x))))` idiom, which is O(distinct·length) per document in
  * interpreted lambdas (measured 0.76 s vs 0.46 s for even an
  * explode+groupBy at sf0.1 — and the groupBy form shuffles the whole
  * token table, which is exactly what the per-row discipline avoids at
  * 100 TB). Same split-on-single-space token semantics as the sibling
  * expressions; counts cover every occurrence, keys are distinct by
  * construction. Token keys are copied out of the (possibly reused)
  * input buffer once per DISTINCT token.
  */
case class TokenTf(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.MapType(
    org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.IntegerType, valueContainsNull = false)
  override def prettyName: String = "token_tf"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_tf requires string input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    TokenTf.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenTf.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenTf =
    copy(child = newChild)
}

object TokenTf {
  def compute(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.MapData = {
    val bytes = text.getBytes
    val n = bytes.length
    // LinkedHashMap: deterministic (first-occurrence) key order in the
    // emitted map — irrelevant to consumers that explode, but it keeps
    // results stable for direct display/tests
    val counts = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, Int]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val view = org.apache.spark.unsafe.types.UTF8String
          .fromBytes(bytes, start, i - start)
        val prev: Int = counts.getOrDefault(view, 0)
        if (prev == 0) {
          // copy once per distinct token: the input buffer may be reused
          counts.put(org.apache.spark.unsafe.types.UTF8String
            .fromBytes(java.util.Arrays.copyOfRange(bytes, start, i)), 1)
        } else counts.put(view, prev + 1)
        start = i + 1
      }
      i += 1
    }
    val keys = new Array[Any](counts.size)
    val vals = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey; vals(k) = e.getValue
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }
}

/** One-pass element frequencies over an `array<string>` — [[TokenTf]]'s
  * exact move for PRE-TOKENIZED input (n-grams, normalized tokens):
  * `array_tf(arr)` → map<element, count> built in a single hash pass per
  * row. Exists so per-document n-gram statistics (top bigram frequency,
  * the Gopher repetition signal) stay IN-ROW instead of paying an
  * explode + two shuffled aggregations + a corpus-sized join back — at
  * 100 TB that is the difference between a pure map stage and three
  * exchanges of every bigram occurrence. No separator trick: elements
  * are counted as opaque strings, so values containing any delimiter
  * are exact (a `concat_ws`-then-`token_tf` fold would conflate them).
  * Null elements are skipped (the callers' generated n-grams are never
  * null; documented for direct SQL users). Deterministic first-
  * occurrence key order, same as token_tf. */
case class ArrayTf(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.MapType(
    org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.IntegerType, valueContainsNull = false)
  override def prettyName: String = "array_tf"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_tf requires array<string> input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    ArrayTf.compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayTf.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ArrayTf =
    copy(child = newChild)
}

object ArrayTf {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.MapData = {
    val n = arr.numElements()
    val counts = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, Int]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getUTF8String(i)
        val prev: Int = counts.getOrDefault(v, 0)
        // copy once per distinct element: the backing buffer may be
        // reused by the caller between rows (the TokenTf discipline)
        if (prev == 0) counts.put(v.clone(), 1)
        else counts.put(v, prev + 1)
      }
      i += 1
    }
    val keys = new Array[Any](counts.size)
    val vals = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey; vals(k) = e.getValue
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }
}

/** BPE token normalization in ONE byte pass — the native form of
  * `regexp_replace(translate(t, '0123456789', 'qwertyuiop'), '[^a-z]', '')`
  * (digits transliterate to letters, every other non-a-z character
  * strips; multi-byte UTF-8 chars consist solely of bytes ≥ 0x80, so
  * byte-wise skipping strips them exactly like the char regex). The
  * regex pair costs two engine passes per token OCCURRENCE on the
  * corpus-sized tokenize/train paths; this is a single scan of the
  * bytes. [[BpeAtomize]] additionally wraps each surviving char as
  * `(c)` — the char-atomization `regexp_replace(w, '(.)', '($1)')`
  * fused in, so the corpus tokenize pays ONE byte pass for what was
  * three regex passes. Both are exact-output twins of the regex forms
  * (BpeSpec pins parity); the regex forms remain the extension-absent
  * fallback. */
case class BpeNorm(child: Expression, wrap: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = if (wrap) "bpe_atomize" else "bpe_norm"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    BpeNorm.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], wrap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeNorm.compute($c, $wrap)")

  override protected def withNewChildInternal(newChild: Expression): BpeNorm =
    copy(child = newChild)
}

/** Heavy-hitter item derivation in ONE digest pass — the native form
  * of the oracle-mirrored SQL
  * `u = pmod(cast(conv(substring(md5(concat(tk, ':', cast(doc_id as
  * string))), 1, 13), 16, 10) as bigint), 1024)` followed by
  * `if(u < 512, 'hot_' || (u div 64), 'rare_' || u)`: the md5 is
  * streamed over exactly the bytes the concat renders (token bytes,
  * one ':', the decimal doc id), the 52-bit value is read from the
  * digest bytes (hex chars 1..13 = bytes 0..5 + the high nibble of
  * byte 6, as [[ShingleHashes]]), and the item string comes from a
  * precomputed 1024-entry table. What it removes per token OCCURRENCE:
  * the concat allocation, the 32-char hex render, the substring, the
  * base-16 string parse (`conv`), the base-10 re-render + long cast,
  * and the conditional string concat — both heavy-hitter passes pay
  * this per occurrence (r20, VERDICT item 5). The SQL form remains the
  * extension-absent fallback; HhItemSpec pins bit parity. */
case class HhItem(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "hh_item"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hh_item requires (string, bigint) inputs, got $other")
    }

  override def nullSafeEval(tk: Any, docId: Any): Any =
    HhItem.compute(
      tk.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      docId.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, d) => s"graft.functions.HhItem.compute($t, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HhItem =
    copy(left = newLeft, right = newRight)
}

object HhItem {
  private val localMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val Colon = Array[Byte](':')
  // u is 0..1023, so every possible item string is precomputable:
  // u < 512 folds to hot_{u div 64}, the rest stay rare_{u}
  private val items: Array[org.apache.spark.unsafe.types.UTF8String] =
    (0 until 1024).map { u =>
      org.apache.spark.unsafe.types.UTF8String.fromString(
        if (u < 512) s"hot_${u / 64}" else s"rare_$u")
    }.toArray

  def compute(tk: org.apache.spark.unsafe.types.UTF8String, docId: Long)
      : org.apache.spark.unsafe.types.UTF8String = {
    val md = localMd.get()
    md.reset()
    md.update(tk.getBytes)
    md.update(Colon, 0, 1)
    md.update(java.lang.Long.toString(docId)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val d = md.digest()
    // 52 bits = hex chars 1..13: bytes 0..5 + high nibble of byte 6
    var h = 0L
    var k = 0
    while (k < 6) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h = (h << 4) | ((d(6) & 0xf0L) >>> 4)
    items((h % 1024L).toInt) // h >= 0 (52 bits), so % == pmod
  }
}

object BpeNorm {
  private val digitMap: Array[Byte] = "qwertyuiop".getBytes("US-ASCII")

  /** Byte length of the wrapped form of `kept` surviving characters,
    * each rendered as 3 bytes `(c)`. Computed as a Long: `3 * kept`
    * wraps in Int above ~715 M kept characters. */
  private[graft] def wrappedLength(kept: Int): Int = {
    val len = 3L * kept
    if (len > Int.MaxValue)
      throw new IllegalArgumentException(
        s"bpe output exceeds max array size: $len bytes for $kept kept characters")
    len.toInt
  }

  def compute(t: org.apache.spark.unsafe.types.UTF8String, wrap: Boolean)
      : org.apache.spark.unsafe.types.UTF8String = {
    val bytes = t.getBytes
    val n = bytes.length
    // 3*n overflows int for inputs over ~715 MB (ADVICE r19): the
    // expression is registered for arbitrary SQL input, so count the
    // kept characters first when the wrapped size could overflow
    val outLen =
      if (!wrap) n
      else if (n <= Int.MaxValue / 3) 3 * n
      else {
        var kept = 0
        var j = 0
        while (j < n) {
          val b = bytes(j)
          if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) kept += 1
          j += 1
        }
        wrappedLength(kept)
      }
    val out = new Array[Byte](outLen)
    var k = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val c: Byte =
        if (b >= 'a' && b <= 'z') b
        else if (b >= '0' && b <= '9') digitMap(b - '0')
        else 0
      if (c != 0) {
        if (wrap) {
          out(k) = '('; out(k + 1) = c; out(k + 2) = ')'; k += 3
        } else { out(k) = c; k += 1 }
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String
      .fromBytes(java.util.Arrays.copyOf(out, k))
  }
}

/** Optimizer rule: rewrite the built-in higher-order-function self-dot
  * pattern `aggregate(zip_with(v, v, (x,y) -> x*y), 0D, (a,x) -> a+x)`
  * into the codegen'd [[VecDot]] — users writing the idiomatic HOF form
  * (the norm computation) get the native expression for free.
  *
  * Gated on the two zipped arrays being semantically the SAME
  * expression: equal lengths are then guaranteed, and VecDot's
  * null-element propagation matches the fold's, so the rewrite is
  * exact. (For distinct arrays zip_with null-pads the shorter side,
  * which VecDot's min-length loop would not reproduce — not rewritten.)
  */
object VecDotNormRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(l, r,
          LambdaFunction(Multiply(mx: NamedLambdaVariable, my: NamedLambdaVariable, _),
            Seq(zx: NamedLambdaVariable, zy: NamedLambdaVariable), _)),
        Literal(0.0, DoubleType),
        LambdaFunction(Add(aa: NamedLambdaVariable, ax: NamedLambdaVariable, _),
          Seq(ma: NamedLambdaVariable, mb: NamedLambdaVariable), _),
        LambdaFunction(fv: NamedLambdaVariable, Seq(ff: NamedLambdaVariable), _))
      if l.semanticEquals(r)
        && Set(mx.exprId, my.exprId) == Set(zx.exprId, zy.exprId)
        && Set(aa.exprId, ax.exprId) == Set(ma.exprId, mb.exprId)
        && fv.exprId == ff.exprId
        && l.dataType.isInstanceOf[ArrayType]
        && l.dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
      VecDot(l, r)
  }
}

/** `graft_cms_estimate(sketch, item)` — point-query a serialized
  * count-min sketch (Spark's public `org.apache.spark.util.sketch
  * .CountMinSketch`, the binary the built-in `count_min_sketch`
  * aggregate emits) for an xxhash64-keyed item, returning the
  * estimated count as BIGINT.
  *
  * This is [[graft.ops.TextOps.textHeavyHittersCms]]'s screen half and
  * the third member of the mergeable-sketch family (MG counters,
  * bloom bitmap, CMS grid). The sketch argument must be a query-scoped
  * CONSTANT — a literal or (the intended shape) a scalar subquery over
  * the sketch aggregate, exactly `graft_might_contain`'s contract —
  * because the expression deserializes it ONCE per task into a lazy
  * field; a per-row sketch would silently query a stale grid, so
  * non-constant inputs are rejected at analysis. Codegen references
  * the deserialized sketch object directly (`addReferenceObj`), so the
  * per-row cost is the d≈⌈ln(1/δ)⌉ array probes and the expression
  * stays inside whole-stage codegen (CodegenGateSpec-compatible).
  *
  * CMS estimates only ever OVERCOUNT (each cell is a sum of true
  * counts) — the no-false-negatives direction the screen-then-confirm
  * exactness theorem needs. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_cms_estimate"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.LongType) =>
        if (left.foldable ||
            left.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
          TypeCheckResult.TypeCheckSuccess
        else
          TypeCheckResult.TypeCheckFailure(
            "graft_cms_estimate requires the sketch argument to be a " +
              "constant (literal or scalar subquery) — it is deserialized " +
              "once per task, not per row")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "graft_cms_estimate requires (binary sketch, bigint item), got " +
            s"${left.dataType} / ${right.dataType}")
    }
  }

  // Deserialized once per task (the expression is serialized to
  // executors with the lazy field unset; first eval materializes it
  // from the constant child — graft_might_contain's lifecycle).
  @transient private lazy val cms: org.apache.spark.util.sketch.CountMinSketch = {
    val bytes = left.eval(null)
    if (bytes == null) null
    else org.apache.spark.util.sketch.CountMinSketch.readFrom(
      bytes.asInstanceOf[Array[Byte]])
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    if (cms == null) null
    else {
      val v = right.eval(input)
      if (v == null) null
      else cms.estimateCount(java.lang.Long.valueOf(v.asInstanceOf[Long]))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen._
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    if (cms == null) {
      ev.copy(isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
    } else {
      val sk = ctx.addReferenceObj("cmsSketch", cms,
        classOf[org.apache.spark.util.sketch.CountMinSketch].getName)
      val itemEval = right.genCode(ctx)
      ev.copy(code = code"""
        ${itemEval.code}
        boolean ${ev.isNull} = ${itemEval.isNull};
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = $sk.estimateCount(
            (Object) java.lang.Long.valueOf(${itemEval.value}));
        }""")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/** `graft_bloom_hit(bloom, hashes)` — does a serialized bloom filter
  * (Spark's public `org.apache.spark.util.sketch.BloomFilter`, the
  * binary `graft_bloom_agg` emits) possibly contain ANY of a constant
  * list of xxhash64-keyed items?
  *
  * The constancy contract is the MIRROR of [[CmsEstimate]]'s /
  * `graft_might_contain`'s: there the SKETCH is the query-scoped
  * constant and the item varies per row; here the HASH LIST is the
  * constant (a point-lookup's probe values, evaluated once into a
  * `long[]`) and the bloom varies per row — the shape of a FILE-INDEX
  * prune, where each row carries one file's bloom and the query asks
  * "could any probe key live in this file?". Spark's own
  * `BloomFilterMightContain` rejects a non-constant bloom side at
  * analysis, which is exactly why this expression exists.
  *
  * Per-row cost is one `BloomFilter.readFrom` over the row's bytes
  * plus k probes per hash with early-true exit — acceptable because
  * the rows ARE files (an index scan is #files rows, not #records),
  * and deserialization is a wrap of the bitset, not a copy-and-rehash.
  * Blooms have no false negatives, so `false` proves no probe key is
  * in the file — the only direction a prune may rely on.
  *
  * Used by [[graft.sources.SnapshotLog.readWhereIn]]'s distributed
  * prune job through the programmatic bridge, so the snapshot log's
  * bloom index works without the session extension installed. */
case class BloomHit(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_hit"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType,
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_bloom_hit requires the hash list to be a constant " +
            "(the probe keys of one lookup) — it is evaluated once, " +
            "not per row")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "graft_bloom_hit requires (binary bloom, array<bigint> hashes), " +
            s"got ${left.dataType} / ${right.dataType}")
    }
  }

  // Evaluated once on the driver and shipped as a plain long[] (null
  // hash entries are dropped: a NULL probe key matches nothing, the
  // same no-row answer the residual filter gives it).
  @transient private lazy val hashes: Array[Long] = {
    val arr = right.eval(null)
    if (arr == null) Array.emptyLongArray
    else {
      val a = arr.asInstanceOf[ArrayData]
      (0 until a.numElements()).collect {
        case i if !a.isNullAt(i) => a.getLong(i)
      }.toArray
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bytes = left.eval(input)
    if (bytes == null) null
    else BloomHit.hit(bytes.asInstanceOf[Array[Byte]], hashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hs = ctx.addReferenceObj("bloomHitHashes", hashes, "long[]")
    nullSafeCodeGen(ctx, ev, (bloom, _) => {
      s"${ev.value} = graft.functions.BloomHit.hit($bloom, $hs);"
    })
  }

  // right is constant, so only the bloom's nullability matters — and
  // nullSafeCodeGen above only evaluates the left child
  override def nullable: Boolean = left.nullable

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomHit =
    copy(left = newLeft, right = newRight)
}

object BloomHit {
  /** The per-row kernel, also the codegen target (a static call keeps
    * the generated code one line and Janino-trivial). */
  def hit(bytes: Array[Byte], hashes: Array[Long]): Boolean = {
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    var i = 0
    while (i < hashes.length) {
      if (bf.mightContainLong(hashes(i))) return true
      i += 1
    }
    false
  }
}

/** Per-row deletion-vector membership against a DRIVER-COLLECTED mask
  * — the small-mask fast path of the snapshot log's merge-on-read
  * reads ([[graft.sources.SnapshotLog.deleteWhereInMOR]]). `left` is
  * the row's `_metadata.file_path`, `right` its `_metadata.row_index`;
  * the mask (file → SORTED deleted positions) rides in the expression
  * itself, so the masked read stays ONE codegen'd scan-filter pipeline
  * instead of a scan → broadcast-anti-join break — measured 3× on a
  * fully-masked 8M-row table (MorPlanProbe; the join's per-row
  * (string, long) key hashing was the cost, a binary search against a
  * cached per-file array is not). Delta evaluates its DV bitmaps
  * inside the reader for exactly this reason; this expression is that
  * idea at the plan level. Large masks keep the anti-join
  * ([[graft.sources.SnapshotLog]] picks by the sidecars' footer row
  * counts — deleted-position count, not file bytes): a mask too
  * big to ship with the plan is precisely the shape where the
  * broadcast join machinery earns its cost.
  *
  * True = the row IS deleted (callers filter on the negation). The
  * per-row kernel caches the last file's array — metadata file_path
  * is constant within a partition, so the map lookup happens once per
  * file in practice, and each row pays one equality check plus one
  * binary search. */
case class DvMaskHit(left: Expression, right: Expression,
    mask: Map[String, Array[Long]]) extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_dv_mask_hit"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_dv_mask_hit requires (string file_path, bigint row_index), " +
          s"got ${left.dataType} / ${right.dataType}")
    }
  }

  // UTF8String-keyed so the per-row lookup never converts the incoming
  // file_path; arrays are required sorted by the caller (binarySearch)
  @transient private lazy val utf8Mask: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]] = {
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    mask.foreach { case (f, ps) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(f), ps): Unit
    }
    m
  }

  @transient private lazy val kernel = new DvMaskHit.Kernel(utf8Mask)

  // STRUCTURAL equality over the mask: the case-class default compares
  // Array[Long] by reference, so two semantically identical masked
  // scans would never canonicalize equal — correctness-safe (inequality
  // is the safe direction) but it defeats exchange/subquery reuse for
  // self-joined masked reads. Compare per-file position arrays by
  // content; hash via a content digest so equals/hashCode stay
  // consistent (TreeNode's product hash would mix in the arrays'
  // identity hashes).
  override def equals(other: Any): Boolean = other match {
    case d: DvMaskHit =>
      left == d.left && right == d.right &&
        mask.keySet == d.mask.keySet &&
        mask.forall { case (f, ps) =>
          java.util.Arrays.equals(ps, d.mask(f)) }
    case _ => false
  }

  override def hashCode(): Int = {
    var h = left.hashCode() * 31 + right.hashCode()
    // order-independent fold over entries (Map iteration order varies)
    mask.foreach { case (f, ps) =>
      h ^= f.hashCode * 31 + java.util.Arrays.hashCode(ps)
    }
    h
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = left.eval(input)
    if (f == null) null
    else {
      val p = right.eval(input)
      if (p == null) null
      else kernel.hit(
        f.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        p.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("dvMaskKernel", kernel,
      "graft.functions.DvMaskHit.Kernel")
    nullSafeCodeGen(ctx, ev, (f, p) => {
      s"${ev.value} = $k.hit($f, $p);"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvMaskHit =
    copy(left = newLeft, right = newRight)
}

object DvMaskHit {
  /** The per-row kernel, also the codegen target. Stateful on purpose:
    * `lastFile`/`lastArr` cache the previous row's map resolution —
    * one kernel instance lives per task-thread (addReferenceObj gives
    * each generated class its own reference array), so the cache is
    * single-threaded by construction. */
  final class Kernel(map: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]])
      extends Serializable {
    private var lastFile: org.apache.spark.unsafe.types.UTF8String = _
    private var lastArr: Array[Long] = _
    def hit(f: org.apache.spark.unsafe.types.UTF8String, p: Long): Boolean = {
      if (lastFile == null || !lastFile.equals(f)) {
        lastFile = f.clone()
        lastArr = map.get(f)
      }
      lastArr != null && java.util.Arrays.binarySearch(lastArr, p) >= 0
    }
  }
}

/** Session extension registering the engine's native functions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[Simhash32].getName, "simhash32"),
      (children: Seq[Expression]) => Simhash32(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) =>
        MinhashSig(children.head, graft.ops.DedupOps.MinhashPerms)))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (children: Seq[Expression]) => WinnowFps(children.head,
        graft.ops.DedupOps.WinnowK, graft.ops.DedupOps.WinnowW)))
    ext.injectFunction((
      new FunctionIdentifier("token_tf"),
      new ExpressionInfo(classOf[TokenTf].getName, "token_tf"),
      (children: Seq[Expression]) => TokenTf(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("array_tf"),
      new ExpressionInfo(classOf[ArrayTf].getName, "array_tf"),
      (children: Seq[Expression]) => ArrayTf(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_norm"),
      new ExpressionInfo(classOf[BpeNorm].getName, "bpe_norm"),
      (children: Seq[Expression]) => BpeNorm(children.head, wrap = false)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_atomize"),
      new ExpressionInfo(classOf[BpeNorm].getName, "bpe_atomize"),
      (children: Seq[Expression]) => BpeNorm(children.head, wrap = true)))
    ext.injectFunction((
      new FunctionIdentifier("hh_item"),
      new ExpressionInfo(classOf[HhItem].getName, "hh_item"),
      (children: Seq[Expression]) => HhItem(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("mg_sketch"),
      new ExpressionInfo(classOf[MgSketch].getName, "mg_sketch"),
      (children: Seq[Expression]) => {
        // k is consumed at plan-build time (it sizes the sketch), so it
        // must be a foldable integer — validate here or the user gets an
        // opaque IndexOutOfBounds/ClassCast instead of an analysis error
        if (children.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`mg_sketch`", "expectedNum" -> "2",
              "actualNum" -> children.length.toString, "docroot" -> ""))
        val kExpr = children(1)
        val kVal = if (kExpr.foldable) kExpr.eval() else null
        kVal match {
          case n: Number => MgSketch(children(0), n.intValue())
          case _ =>
            throw new org.apache.spark.sql.AnalysisException(
              "NON_FOLDABLE_ARGUMENT",
              Map("funcName" -> "`mg_sketch`", "paramName" -> "`k`",
                "paramType" -> "\"INT\""))
        }
      }))
    // Spark's own bloom-filter expressions (the runtime-filter pair),
    // surfaced as SQL functions: the scale form of "broadcast a small
    // side's membership" when the small side outgrows a broadcast set.
    // graft_ prefix so a future Spark release registering them publicly
    // cannot collide.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, items) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, items)
        case Seq(c, items, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, items, bits)
        case _ =>
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`graft_bloom_agg`", "expectedNum" -> "1 to 3",
              "actualNum" -> children.length.toString, "docroot" -> ""))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`graft_might_contain`", "expectedNum" -> "2",
              "actualNum" -> children.length.toString, "docroot" -> ""))
        new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }))
    // the per-row-bloom mirror of graft_might_contain (file-index
    // prune shape); the snapshot log reaches it through the bridge,
    // this registration is for SQL users
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_hit"),
      new ExpressionInfo(classOf[BloomHit].getName, "graft_bloom_hit"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`graft_bloom_hit`", "expectedNum" -> "2",
              "actualNum" -> children.length.toString, "docroot" -> ""))
        BloomHit(children(0), children(1))
      }))
    // CMS point-estimate (the sketch AGGREGATE is Spark's built-in
    // `count_min_sketch`; only the query side needs a native function).
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`graft_cms_estimate`", "expectedNum" -> "2",
              "actualNum" -> children.length.toString, "docroot" -> ""))
        CmsEstimate(children(0), children(1))
      }))
    // the CHANGE DATA FEED as a SQL table function — Delta's
    // `table_changes` spelling adapted to path-addressed tables:
    //   SELECT * FROM snap_table_changes('/data/tables/t', 0, 5)
    // Arguments must be FOLDABLE (the feed's version range shapes the
    // PLAN — per-version reads union under op-provenance labels — so
    // it cannot depend on row values). Builds the same plan as
    // [[graft.sources.SnapshotLog.readChangeFeed]]; every feed
    // contract holds verbatim. Two worth restating at THIS surface
    // because they surprise SQL users:
    //  - MAINTENANCE REWRITES (optimize / zorder / compactDeletes)
    //    EMIT NOTHING: they restate identical content (Delta's
    //    dataChange=false, decided by op provenance), so a version in
    //    the asked range can legitimately contribute zero rows; any
    //    OTHER rewrite fails loudly naming diff().
    //  - TIME-bounded feeds are a separate surface
    //    (readChangeFeedByTime): bounds resolve against RECORDED
    //    commit timestamps, and clock skew that makes the in-window
    //    version set non-contiguous refuses loudly naming the
    //    version-bounded span — this TVF (version-bounded) is the
    //    refusal's suggested escape hatch.
    ext.injectTableFunction((
      new FunctionIdentifier("snap_table_changes"),
      new ExpressionInfo("graft.sources.SnapshotLog", "snap_table_changes"),
      (children: Seq[Expression]) => {
        if (children.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`snap_table_changes`", "expectedNum" -> "3",
              "actualNum" -> children.length.toString, "docroot" -> ""))
        def folded(i: Int, what: String): Any = {
          val e = children(i)
          if (!e.foldable) sys.error(
            s"snap_table_changes: $what must be a literal, got ${e.sql}")
          e.eval()
        }
        val dir = String.valueOf(folded(0, "tableDir"))
        val from = folded(1, "fromVersion").asInstanceOf[Number].longValue()
        val to = folded(2, "toVersion").asInstanceOf[Number].longValue()
        graft.sources.SnapshotLog.readChangeFeed(
          org.apache.spark.sql.SparkSession.active, dir, from, to)
          .queryExecution.logical
      }))
    // snap_table_changes_by_time(dir, fromTs, toTs) — the TIME-bounded
    // twin (readChangeFeedByTime: bounds resolve against RECORDED
    // commit-ts provenance; non-contiguous in-window version sets —
    // clock skew — refuse loudly naming the version-bounded form, and
    // ts-less pre-provenance versions refuse naming it too). Bounds
    // are timestamp/string literals; strings parse as SQL timestamps
    // in the session zone (UTC-pinned in this engine's sessions).
    ext.injectTableFunction((
      new FunctionIdentifier("snap_table_changes_by_time"),
      new ExpressionInfo("graft.sources.SnapshotLog",
        "snap_table_changes_by_time"),
      (children: Seq[Expression]) => {
        if (children.length != 3)
          throw new org.apache.spark.sql.AnalysisException(
            "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> "`snap_table_changes_by_time`",
              "expectedNum" -> "3",
              "actualNum" -> children.length.toString, "docroot" -> ""))
        def folded(i: Int, what: String): Any = {
          val e = children(i)
          if (!e.foldable) sys.error(
            s"snap_table_changes_by_time: $what must be a literal, " +
              s"got ${e.sql}")
          e.eval()
        }
        def instant(i: Int, what: String): java.time.Instant =
          folded(i, what) match {
            case micros: java.lang.Long =>
              // TimestampType literal: catalyst-internal epoch micros
              java.time.Instant.EPOCH.plus(micros,
                java.time.temporal.ChronoUnit.MICROS)
            case s: org.apache.spark.unsafe.types.UTF8String =>
              // string literal → SQL timestamp in the session zone
              val zone = java.time.ZoneId.of(org.apache.spark.sql
                .SparkSession.active.sessionState.conf.sessionLocalTimeZone)
              java.time.LocalDateTime.parse(s.toString.replace(' ', 'T'))
                .atZone(zone).toInstant
            case other => sys.error(
              s"snap_table_changes_by_time: $what must be a TIMESTAMP " +
                s"or timestamp string, got $other")
          }
        val dir = String.valueOf(folded(0, "tableDir"))
        graft.sources.SnapshotLog.readChangeFeedByTime(
          org.apache.spark.sql.SparkSession.active, dir,
          instant(1, "fromTs"), instant(2, "toTs"))
          .queryExecution.logical
      }))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => VecDotNormRewrite)
    ext.injectOptimizerRule(_ => graft.plans.AsOfWindowRewrite)
    // SQL DML on snapshot-catalog tables: DELETE/UPDATE/MERGE route to
    // the log's MOR verbs (INSERT needs no rule — the table's own V1
    // write bridge carries it). Post-hoc: the DML nodes survive
    // resolution untouched for non-row-level-operation tables, so one
    // pass over the fully-resolved plan sees their final shape.
    ext.injectPostHocResolutionRule(_ => graft.sources.SnapshotSqlDml)
  }
}
