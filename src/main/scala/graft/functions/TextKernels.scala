package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused native kernels for the row-wise text hot paths (r16 —
  * optimization round). Like the winnow kernels, each replaces a
  * higher-order-function expression tree (CodegenFallback in Spark 4:
  * interpreted per element, a struct or string allocation per step)
  * with one primitive loop per row producing exactly the same values —
  * TextKernelSpec pins every kernel against the declarative tree it
  * replaced, so the DuckDB oracle replays are untouched.
  */
private[functions] object TextKernels {

  private def hashStr(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Σ length(token) — `aggregate(toks, 0L, (a, t) => a + length(t))`:
    * character (not byte) lengths; a null element nulls the whole sum
    * (`a + length(null)` null-propagates and never recovers).
    */
  def tokLenSum(toks: ArrayData): Any = {
    val n = toks.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      sum += toks.getUTF8String(i).numChars()
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }

  /** Longest equal-run over a sorted view — the modeCount fold:
    * `aggregate(array_sort(arr), ("", 0, 0), ...)`. array_sort orders
    * ascending with nulls LAST; a null element never extends a run
    * (null === prev is null → run restarts at 1), so each null
    * contributes max(best, 1), exactly like any singleton.
    */
  private def modeOf(elems: Array[UTF8String], nNulls: Int): Long = {
    java.util.Arrays.sort(elems, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    var best = if (nNulls > 0) 1L else 0L
    var run = 0L
    var i = 0
    while (i < elems.length) {
      if (i > 0 && elems(i).equals(elems(i - 1))) run += 1L
      else run = 1L
      if (run > best) best = run
      i += 1
    }
    best
  }

  /** modeCount(arr) — most frequent element's count, 0 for empty. */
  def modeCount(arr: ArrayData): Long = {
    val n = arr.numElements()
    var nn = 0
    var i = 0
    while (i < n) { if (!arr.isNullAt(i)) nn += 1; i += 1 }
    val elems = new Array[UTF8String](nn)
    var j = 0
    i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { elems(j) = arr.getUTF8String(i); j += 1 }
      i += 1
    }
    modeOf(elems, n - nn)
  }

  /** modeCount(bigrams(toks)) — most frequent space-joined adjacent
    * token pair; a pair with a null member is a null bigram (`concat`
    * null-propagates); < 2 tokens → 0 (the empty-array fold).
    */
  def bigramModeCount(toks: ArrayData): Long = {
    val n = toks.numElements()
    if (n < 2) return 0L
    var nn = 0
    var i = 0
    while (i < n - 1) {
      if (!toks.isNullAt(i) && !toks.isNullAt(i + 1)) nn += 1
      i += 1
    }
    val elems = new Array[UTF8String](nn)
    var j = 0
    i = 0
    while (i < n - 1) {
      if (!toks.isNullAt(i) && !toks.isNullAt(i + 1)) {
        elems(j) = UTF8String.concat(toks.getUTF8String(i),
          TextKernels.space, toks.getUTF8String(i + 1))
        j += 1
      }
      i += 1
    }
    modeOf(elems, (n - 1) - nn)
  }

  private val space = UTF8String.fromString(" ")

  /** The span family's per-window 128-bit keys — windowOccs' tree:
    * th = xxhash64 per token (null token → the bare seed 42, like the
    * single-null-child builtin), then per window start s (1-based,
    * windows of w): h1 = xxhash64(th[s..s+w−1]) and
    * h2 = xxhash64(0x9E3779B97F4A7C15, th[s..s+w−1]) — the builtin's
    * left-to-right hashLong folding from seed 42. In window order
    * (posexplode consumes positions); fewer than w tokens → empty.
    */
  def windowKeys2(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(new Array[Any](0))
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (toks.isNullAt(i)) 42L else hashStr(toks.getUTF8String(i), 42L)
      i += 1
    }
    val out = new Array[Any](n - w + 1)
    var s = 0
    while (s <= n - w) {
      var h1 = 42L
      var h2 = XXH64.hashLong(-7046029254386353131L, 42L) // 0x9E3779B97F4A7C15
      var j = 0
      while (j < w) {
        h1 = XXH64.hashLong(th(s + j), h1)
        h2 = XXH64.hashLong(th(s + j), h2)
        j += 1
      }
      out(s) = new GenericInternalRow(Array[Any](h1, h2))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** The chunk family's distinct per-chunk 128-bit keys — chunkKeys'
    * tree: token hashes fold per fixed-stride chunk (starts 1, 1+n,
    * 1+2n, …; the final chunk truncates) under two salt accumulators
    * with `acc = xxhash64(acc, x)` chaining; distinct by first
    * occurrence (array_distinct).
    */
  def chunkKeys2(toks: ArrayData, cn: Int): ArrayData = {
    // chunk_keys2 is a registered session SQL function: a non-positive
    // stride from a bad literal must error, not hang the executor
    // thread (`s += cn` would never advance)
    require(cn >= 1, s"chunk_keys2 requires a positive chunk size, got $cn")
    val n = toks.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (toks.isNullAt(i)) 42L else hashStr(toks.getUTF8String(i), 42L)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    val seen = new scala.collection.mutable.HashSet[(Long, Long)]()
    var s = 0
    while (s < n) {
      var h1 = 1469598103934665603L
      var h2 = -7046029254386353131L
      val end = math.min(s + cn, n)
      var j = s
      while (j < end) {
        // xxhash64(acc, x): seed 42, fold acc then x
        h1 = XXH64.hashLong(th(j), XXH64.hashLong(h1, 42L))
        h2 = XXH64.hashLong(th(j), XXH64.hashLong(h2, 42L))
        j += 1
      }
      if (seen.add((h1, h2))) out += new GenericInternalRow(Array[Any](h1, h2))
      s += cn
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** In-order space-joined word n-grams (topNgrams' explode input):
    * window starts 1..len−n+1, concat_ws null-skip semantics; fewer
    * than n tokens → empty (the caller's size gate).
    */
  def gramStrings(toks: ArrayData, gn: Int): ArrayData = {
    val n = toks.numElements()
    if (n < gn) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - gn + 1)
    var s = 0
    while (s <= n - gn) {
      out(s) = joinWindow(toks, s, gn)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct space-joined word n-grams under the minhash windowing
    * (starts 0..max(len−n, 0) — one PARTIAL window when the document
    * is shorter than n, out-of-range lookups skipped like
    * try_element_at + concat_ws), distinct by first occurrence.
    */
  def gramStringsDistinct(toks: ArrayData, gn: Int): ArrayData = {
    val n = toks.numElements()
    val last = math.max(n - gn, 0)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val seen = new scala.collection.mutable.HashSet[UTF8String]()
    var s = 0
    while (s <= last) {
      val g = joinWindow(toks, s, math.min(gn, n - s))
      if (seen.add(g)) out += g
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def joinWindow(toks: ArrayData, start: Int, len: Int): UTF8String = {
    val parts = new Array[UTF8String](len)
    var j = 0
    while (j < len) {
      // null tokens stay null — concatWs skips them without a separator
      parts(j) = if (toks.isNullAt(start + j)) null
        else toks.getUTF8String(start + j)
      j += 1
    }
    UTF8String.concatWs(space, parts: _*)
  }

  /** The BPE symbol alphabet / span-family tokenization —
    * `filter(split(text, " ", -1), t => t != "")`: segments between
    * single spaces, empties dropped (runs of spaces and edges yield
    * nothing). One byte scan, token slices share the decoded buffer.
    */
  def bpeToks(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        if (i > start) out += UTF8String.fromBytes(bytes, start, i - start)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct space-joined FULL word n-grams in first-occurrence order —
    * the decontamination gram tree (`array_distinct` over the
    * element_at window transform, empty when the document is shorter
    * than n). Differs from [[gramStringsDistinct]] exactly there: no
    * partial window.
    */
  def gramStringsFull(toks: ArrayData, gn: Int): ArrayData = {
    val n = toks.numElements()
    if (n < gn) return new GenericArrayData(new Array[Any](0))
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val seen = new scala.collection.mutable.HashSet[UTF8String]()
    var s = 0
    while (s <= n - gn) {
      val g = joinWindow(toks, s, gn)
      if (seen.add(g)) out += g
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The RAG chunker's per-document chunk rows — ragChunkRows' tree:
    * starts 1, 1+stride, … ≤ max(min(n−(window−stride), n), 1); per
    * start a struct(start_tok, n_tok = |slice|, chunk_text = space-join
    * of the ≤ window tokens from start). The tree built two slices and
    * an interpreted concat_ws per chunk.
    */
  def ragChunks(toks: ArrayData, window: Int, stride: Int): ArrayData = {
    val n = toks.numElements()
    val last = math.max(math.min(n - (window - stride), n), 1)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var s = 1
    while (s <= last) {
      val len = math.max(math.min(window, n - s + 1), 0)
      out += new GenericInternalRow(Array[Any](s, len, joinWindow(toks, s - 1, len)))
      s += stride
    }
    new GenericArrayData(out.toArray)
  }

  /** The span-scrub rebuild — the kept-token filter + join tree in one
    * pass: tokens at 1-based positions covered by NO span survive;
    * n_kept counts survivors (null tokens included, like size(kept));
    * txt joins the non-null survivors (array_join's null-skip). Spans
    * are disjoint and non-null by construction (mergedSpans emits
    * ordered disjoint runs; collect_list never emits null elements) —
    * sorted defensively, then one pointer walk.
    */
  def scrubKeep(toks: ArrayData, spans: ArrayData): InternalRow = {
    val m = spans.numElements()
    val ss = new Array[Int](m)
    val es = new Array[Int](m)
    var i = 0
    while (i < m) {
      val r = spans.getStruct(i, 2)
      ss(i) = r.getInt(0)
      es(i) = r.getInt(1)
      i += 1
    }
    // insertion sort by span start (m is small: merged disjoint spans)
    i = 1
    while (i < m) {
      val (s0, e0) = (ss(i), es(i))
      var j = i - 1
      while (j >= 0 && ss(j) > s0) { ss(j + 1) = ss(j); es(j + 1) = es(j); j -= 1 }
      ss(j + 1) = s0; es(j + 1) = e0
      i += 1
    }
    val n = toks.numElements()
    val parts = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var nKept = 0
    var sp = 0
    var p = 1
    while (p <= n) {
      while (sp < m && es(sp) < p) sp += 1
      val covered = sp < m && ss(sp) <= p && p <= es(sp)
      if (!covered) {
        nKept += 1
        if (!toks.isNullAt(p - 1)) parts += toks.getUTF8String(p - 1)
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](nKept,
      UTF8String.concatWs(space, parts.toSeq: _*)))
  }
}

private[functions] trait TextArrayKernel extends BinaryExpression {
  def first: Expression
  def second: Expression
  override def left: Expression = first
  override def right: Expression = second
  override def nullable: Boolean = first.nullable || second.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, int), got $other")
    }
  protected def helperCall(e: String, k: String): String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, k) => s"${ev.value} = ${helperCall(e, k)};")
  protected val helper: String =
    TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
}

/** `tok_len_sum(toks)` — Σ length(token), null on any null token. */
case class TokLenSumExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(toks: Any): Any =
    TextKernels.tokLenSum(toks.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val tmp = ctx.freshName("lenSum")
    nullSafeCodeGen(ctx, ev, e =>
      s"""Object $tmp = ($helper).tokLenSum($e);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $tmp).longValue(); }""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): TokLenSumExpr =
    copy(child = newChild)
  override def prettyName: String = "tok_len_sum"
}

/** `mode_count(arr)` — the most frequent element's occurrence count. */
case class ModeCountExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(arr: Any): Any =
    TextKernels.modeCount(arr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, e => s"${ev.value} = ($helper).modeCount($e);")
  }
  override protected def withNewChildInternal(newChild: Expression): ModeCountExpr =
    copy(child = newChild)
  override def prettyName: String = "mode_count"
}

/** `bigram_mode_count(toks)` — mode_count over space-joined adjacent
  * token pairs, fused (no bigram string array materialized in the plan).
  */
case class BigramModeCountExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(arr: Any): Any =
    TextKernels.bigramModeCount(arr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, e => s"${ev.value} = ($helper).bigramModeCount($e);")
  }
  override protected def withNewChildInternal(newChild: Expression): BigramModeCountExpr =
    copy(child = newChild)
  override def prettyName: String = "bigram_mode_count"
}

/** `window_keys2(toks, w)` — per-window (h1, h2) span keys, in order. */
case class WindowKeys2Expr(first: Expression, second: Expression)
    extends TextArrayKernel {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(toks: Any, w: Any): Any =
    TextKernels.windowKeys2(toks.asInstanceOf[ArrayData], w.asInstanceOf[Int])
  override protected def helperCall(e: String, k: String): String =
    s"($helper).windowKeys2($e, $k)"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression): WindowKeys2Expr =
    copy(first = newFirst, second = newSecond)
  override def prettyName: String = "window_keys2"
}

/** `chunk_keys2(toks, n)` — distinct fixed-stride chunk (h1, h2) keys. */
case class ChunkKeys2Expr(first: Expression, second: Expression)
    extends TextArrayKernel {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(toks: Any, cn: Any): Any =
    TextKernels.chunkKeys2(toks.asInstanceOf[ArrayData], cn.asInstanceOf[Int])
  override protected def helperCall(e: String, k: String): String =
    s"($helper).chunkKeys2($e, $k)"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression): ChunkKeys2Expr =
    copy(first = newFirst, second = newSecond)
  override def prettyName: String = "chunk_keys2"
}

/** `gram_strings(toks, n)` — in-order space-joined n-grams. */
case class GramStringsExpr(first: Expression, second: Expression)
    extends TextArrayKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(toks: Any, gn: Any): Any =
    TextKernels.gramStrings(toks.asInstanceOf[ArrayData], gn.asInstanceOf[Int])
  override protected def helperCall(e: String, k: String): String =
    s"($helper).gramStrings($e, $k)"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression): GramStringsExpr =
    copy(first = newFirst, second = newSecond)
  override def prettyName: String = "gram_strings"
}

/** `gram_strings_distinct(toks, n)` — distinct n-grams under the
  * minhash windowing (partial window for short docs).
  */
case class GramStringsDistinctExpr(first: Expression, second: Expression)
    extends TextArrayKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(toks: Any, gn: Any): Any =
    TextKernels.gramStringsDistinct(toks.asInstanceOf[ArrayData],
      gn.asInstanceOf[Int])
  override protected def helperCall(e: String, k: String): String =
    s"($helper).gramStringsDistinct($e, $k)"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression): GramStringsDistinctExpr =
    copy(first = newFirst, second = newSecond)
  override def prettyName: String = "gram_strings_distinct"
}

/** `bpe_toks(text)` — non-empty single-space-split tokens: the fused
  * `filter(split(text, " ", -1), t => t != "")` of the BPE/span
  * tokenization.
  */
case class BpeToksExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(text: Any): Any =
    TextKernels.bpeToks(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, e => s"${ev.value} = ($helper).bpeToks($e);")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeToksExpr =
    copy(child = newChild)
  override def prettyName: String = "bpe_toks"
}

/** `gram_strings_full(toks, n)` — distinct FULL-window n-grams (empty
  * when the document is shorter than n), first-occurrence order.
  */
case class GramStringsFullExpr(first: Expression, second: Expression)
    extends TextArrayKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(toks: Any, gn: Any): Any =
    TextKernels.gramStringsFull(toks.asInstanceOf[ArrayData], gn.asInstanceOf[Int])
  override protected def helperCall(e: String, k: String): String =
    s"($helper).gramStringsFull($e, $k)"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression): GramStringsFullExpr =
    copy(first = newFirst, second = newSecond)
  override def prettyName: String = "gram_strings_full"
}

/** `rag_chunks_arr(toks, window, stride)` — the RAG chunker's
  * (start_tok, n_tok, chunk_text) struct array in one pass.
  */
case class RagChunksExpr(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType) =>
        (second, third) match {
          case (org.apache.spark.sql.catalyst.expressions.Literal(w: Int, _),
              org.apache.spark.sql.catalyst.expressions.Literal(s: Int, _))
              if w <= 0 || s <= 0 =>
            TypeCheckResult.TypeCheckFailure(
              s"$prettyName requires positive window and stride, got ($w, $s)")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, int, int), got $other")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start_tok", IntegerType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("chunk_text", StringType, nullable = false))),
    containsNull = false)
  override protected def nullSafeEval(toks: Any, w: Any, s: Any): Any = {
    val wi = w.asInstanceOf[Int]
    val si = s.asInstanceOf[Int]
    require(wi >= 1 && si >= 1,
      s"$prettyName requires positive window and stride, got ($wi, $si)")
    TextKernels.ragChunks(toks.asInstanceOf[ArrayData], wi, si)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (e, w, s) =>
      s"""if ($w < 1 || $s < 1) { throw new IllegalArgumentException(
         |  "rag_chunks_arr requires positive window and stride"); }
         |${ev.value} = ($helper).ragChunks($e, $w, $s);""".stripMargin)
  }
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): RagChunksExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "rag_chunks_arr"
}

/** `scrub_keep(toks, spans)` — the span-scrub rebuild: struct(n_kept,
  * txt) of tokens whose 1-based position no span [s, e] covers.
  */
case class ScrubKeepExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _),
          ArrayType(StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, IntegerType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<struct<int,int>>), " +
          s"got $other")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("n_kept", IntegerType, nullable = false),
    StructField("txt", StringType, nullable = false)))
  override protected def nullSafeEval(toks: Any, spans: Any): Any =
    TextKernels.scrubKeep(toks.asInstanceOf[ArrayData],
      spans.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (t, s) => s"${ev.value} = ($helper).scrubKeep($t, $s);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScrubKeepExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "scrub_keep"
}
