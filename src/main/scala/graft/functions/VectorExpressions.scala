package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native codegen'd dot product over `array<float>`/`array<double>`.
  *
  * The composable alternative (`aggregate(zip_with(a, b, _*_), 0d, _+_)`)
  * allocates an intermediate array and runs the lambda through the
  * interpreted higher-order-function path per row — off the whole-stage
  * codegen fast path. This expression generates a tight primitive loop
  * instead (preference order per SURVEY.md/§guide: native Expression >
  * UDF), which matters when the pair-join hot loops of the cosine
  * operators score millions of candidates. Summation order is the same
  * sequential ascending-index fold, so results are bit-identical to the
  * zip_with formulation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (ld, rd) = (isDouble(left), isDouble(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getA = if (isDouble(left)) "getDouble" else "getFloat"
    val getB = if (isDouble(right)) "getDouble" else "getFloat"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.$getA($i) * (double) $b.$getB($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Native codegen'd squared L2 distance over two `array<bigint>` — the
  * assignment kernel of the EXACT (quantized-integer) k-means fit:
  * embeddings quantize to 1e-7-unit longs, so Σ(xᵢ−cᵢ)² is pure int64
  * arithmetic — order-independent, overflow-checked by construction
  * (|x|,|c| ≤ ~1e8 quantized units and dim ≤ 4096 keeps the sum under
  * 2^63; see VectorOps.kmeansFitOver), and bit-identical to any engine
  * that evaluates the same integer expression — which is what lets the
  * k-means oracle be DuckDB-hash-exact instead of float-hash-defined.
  * Same tight-primitive-loop rationale as [[DotProduct]].
  */
case class LongL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongL2Sq =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_l2sq_long"
}

/** Native codegen'd 1e-7-unit quantizer over `array<float>`/`array<double>`
  * — the exact-arithmetic family's shared unit as one primitive loop:
  * `out[i] = (long)((double) x[i] * 1.0e7)` — the identical IEEE widen,
  * multiply and truncate-toward-zero the composable form
  * (`transform(e, x => (x.cast("double") * 1e7).cast("long"))`)
  * evaluates, but that form is a higher-order-function CodegenFallback
  * that drops its whole Project out of whole-stage codegen; this stays
  * inside. Bounds: exact for |x|·1e7 < 2^63 (embeddings are unit-scale;
  * the fit docs audit 1e8), no NaN/null elements in any embedding
  * column (null ARRAYS null out via the standard unary null semantics).
  */
case class QuantizeE7(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.sql}")
  }

  override def dataType: DataType = child.dataType match {
    // null elements map to null (transform semantics), so nullability
    // mirrors the input's
    case ArrayType(_, cn) =>
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = cn)
    case _ =>
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any =
    QuantizeE7.quantize(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = QuantizeE7.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = ($helper).quantize($x, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeE7 =
    copy(child = newChild)

  override def prettyName: String = "quantize_e7"
}

object QuantizeE7 {

  def quantize(x: ArrayData, isFloat: Boolean): ArrayData = {
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return quantizeWithNulls(x, isFloat)
      val d = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = (d * 1.0e7).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rare path: a null element maps to a null element, like the
    * `transform` form this kernel replaced — embeddings never carry
    * null entries, but the expression must not silently coin zeros.
    */
  private def quantizeWithNulls(x: ArrayData, isFloat: Boolean): ArrayData = {
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (x.isNullAt(i)) null
        else java.lang.Long.valueOf({
          val d = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
          (d * 1.0e7).toLong
        })
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native codegen'd PQ encoder over a quantized `array<bigint>` row:
  * for each of `subs` subspaces, the argmin sub-centroid id by EXACT
  * integer squared L2 against a FLATTENED literal codebook
  * (`flat[(s·codes + c)·subDim + i] = cents(s)(c)(i)`, with
  * `subDim = |xq|/subs` and `codes = |flat|/|xq|` derived per row).
  * Ties keep the LOWEST cid (strict `<` scan order) — identical to the
  * `(dist, cid)` ordered-struct argmin it replaces, so the DuckDB
  * replay (`QUALIFY row_number() OVER (... ORDER BY dist, cid) = 1`)
  * is unaffected. One helper call per row instead of subs·codes
  * separate [[LongL2Sq]]+struct expressions: the expression-form
  * encoder codegens ~128 independent slice+distance trees per row
  * (each re-reading the subvector), this is one fused primitive loop —
  * the hot pass of both the PQ fit and the exactsig compressed search.
  * Overflow bound is [[LongL2Sq]]'s own.
  */
case class PqCodesLong(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(first.dataType) && isLongArray(second.dataType) &&
        third.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, int), got " +
          s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override protected def nullSafeEval(x: Any, f: Any, s: Any): Any =
    PqCodesLong.codes(x.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData],
      s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = PqCodesLong.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (x, f, s) =>
      s"${ev.value} = ($helper).codes($x, $f, $s);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PqCodesLong =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "pq_codes_long"
}

object PqCodesLong {

  /** argmin codes, one per subspace; ties keep the lowest cid. */
  def codes(x: ArrayData, flat: ArrayData, subs: Int): ArrayData = {
    val dim = x.numElements()
    // empty row: every distance is the empty sum 0, so every subspace
    // ties at the lowest cid — the replaced argmin trees' output
    if (dim == 0) return new GenericArrayData(new Array[Int](subs))
    // null entries are unsupported (no embedding carries them and the
    // oracle's null propagation is engine-divergent): ONE pre-scan per
    // row refuses loudly, keeping the hot argmin loops branch-free
    // instead of silently coining a 0-weighted code
    requireNoNulls(x, "pq_codes_long")
    // shape mismatches refuse loudly (same posture as requireNoNulls):
    // silent integer division would compute codes at wrong offsets /
    // drop trailing dims for a row whose dim disagrees with the
    // literal codebook's assumed dim, or a dim not divisible by subs
    if (dim % subs != 0) {
      throw new IllegalArgumentException(
        s"pq_codes_long: embedding dim $dim is not divisible by " +
          s"subs=$subs — the PQ codebook's subspace split assumes it")
    }
    if (flat.numElements() % dim != 0) {
      throw new IllegalArgumentException(
        s"pq_codes_long: flattened codebook size ${flat.numElements()} " +
          s"is not a multiple of embedding dim $dim — codebook was fit " +
          "at a different dim than this row")
    }
    val subDim = dim / subs
    val nCodes = flat.numElements() / dim
    val out = new Array[Int](subs)
    var s = 0
    while (s < subs) {
      val base = s * subDim
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < nCodes) {
        val off = (s * nCodes + c) * subDim
        var d = 0L
        var i = 0
        while (i < subDim) {
          val t = x.getLong(base + i) - flat.getLong(off + i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  private[functions] def requireNoNulls(x: ArrayData, fn: String): Unit = {
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) {
        throw new IllegalArgumentException(
          s"$fn: null array element at position $i — quantized embeddings " +
            "must be null-free (filter null EMBEDDINGS upstream; a null " +
            "ELEMENT has no defined code)")
      }
      i += 1
    }
  }
}

/** Native codegen'd signed-projection coder over a quantized
  * `array<bigint>` row: for each of `tables` hash tables, code bit j is
  * the sign (strictly positive) of the EXACT integer projection onto
  * the literal ±1/0 hyperplane stored flattened at
  * `flat[(t·bits + j)·dim + i]` (with `dim = |xq|` and
  * `bits = |flat| / (tables·dim)` derived per row) — integer sums, so
  * order-independent and DuckDB-replayable like the expression form
  * ([[graft.operators.VectorOps.exactSigCodesCol]]'s former
  * `aggregate(zip_with(...))` trees) it replaces, but one fused
  * primitive loop inside whole-stage codegen instead of tables·bits
  * CodegenFallback HOF trees per row. Overflow: |xq| ≤ 1e8 quantized
  * units × dim ≤ 4096 × |w| ≤ 1 stays far under 2^63.
  */
case class SigCodesLong(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(first.dataType) && isLongArray(second.dataType) &&
        third.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, int), got " +
          s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override protected def nullSafeEval(x: Any, f: Any, t: Any): Any =
    SigCodesLong.codes(x.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData],
      t.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SigCodesLong.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (x, f, t) =>
      s"${ev.value} = ($helper).codes($x, $f, $t);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SigCodesLong =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "sig_codes_long"
}

object SigCodesLong {

  /** One signed-projection code per table; bit j set iff the exact
    * integer projection onto plane (t, j) is strictly positive.
    */
  def codes(x: ArrayData, flat: ArrayData, tables: Int): ArrayData = {
    val dim = x.numElements()
    // empty row: every projection is the empty sum (never > 0) — all
    // codes 0, the replaced zip_with-padded trees' output
    if (dim == 0) return new GenericArrayData(new Array[Int](tables))
    // null entries refuse loudly, hot loops stay branch-free — see
    // PqCodesLong.requireNoNulls
    PqCodesLong.requireNoNulls(x, "sig_codes_long")
    // a plane table fit at a different dim silently codes at wrong
    // offsets under integer division — refuse loudly instead
    if (flat.numElements() % (tables * dim) != 0) {
      throw new IllegalArgumentException(
        s"sig_codes_long: flattened plane table size " +
          s"${flat.numElements()} is not a multiple of tables=$tables " +
          s"× dim=$dim — planes were derived at a different dim than " +
          "this row")
    }
    val bits = flat.numElements() / (tables * dim)
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var code = 0
      var j = 0
      while (j < bits) {
        val off = (t * bits + j) * dim
        var s = 0L
        var i = 0
        while (i < dim) {
          s += x.getLong(i) * flat.getLong(off + i)
          i += 1
        }
        if (s > 0) code |= (1 << j)
        j += 1
      }
      out(t) = code
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Native codegen'd intersection size of two SORTED long arrays (merge
  * scan, no per-row hash set). Verification step of the exact-jaccard
  * near-dup join scores millions of candidate pairs whose token sets are
  * ~tens of elements: `size(array_intersect(a, b))` builds a hash set per
  * pair, this does ~|a|+|b| primitive compares inside whole-stage codegen.
  * Inputs MUST be sorted ascending (produced via `sort_array`).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

/** Native codegen'd range-shard lookup: the count of elements of a
  * SORTED `array<bigint>` boundary cut that are ≤ `fp` — i.e. the shard
  * id of `fp` under the cut, by binary search. Replaces the
  * fold-of-whens expression form in [[graft.operators.WinnowIndex]]'s
  * sharding (`Σ when(fp >= bound, 1)`), which builds an O(shards)-node
  * left-deep tree: fine at 64 shards, but a production-width cut
  * (hundreds to thousands of shards — SCALE.md's exact-dedup 512-shard
  * row) overflows Catalyst's recursive analysis/codegen on the
  * ~2·shards-node chain, and even when it survives, evaluation is
  * O(shards) per row vs O(log shards) here.
  * Bounds MUST be sorted non-decreasing (the manifest validation's
  * contract); duplicates are fine — upper-bound search counts them all,
  * exactly like the fold.
  */
case class RangeShard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.LongType,
          ArrayType(org.apache.spark.sql.types.LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      // refuse NULLABLE-element bounds at analysis (the refuse-loudly
      // convention): a null slot would read as 0 through the raw
      // getLong and silently corrupt the count, and a pre-scan would
      // cost O(shards) per row against the search's O(log shards) —
      // literal cuts (typedlit over Seq[Long]) are containsNull=false
      case (org.apache.spark.sql.types.LongType,
          ArrayType(org.apache.spark.sql.types.LongType, true)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a null-free bounds array " +
            "(array<bigint> with non-nullable elements) — a null " +
            "boundary has no defined rank")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, array<bigint>), " +
          s"got (${left.dataType.sql}, ${right.dataType.sql})")
    }

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(fp: Any, bounds: Any): Any =
    RangeShard.shard(fp.asInstanceOf[Long], bounds.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = RangeShard.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (fp, bounds) =>
      s"${ev.value} = ($helper).shard($fp, $bounds);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RangeShard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "range_shard"
}

object RangeShard {

  /** Upper-bound binary search: |{i : bounds(i) <= fp}|. */
  def shard(fp: Long, bounds: ArrayData): Int = {
    var lo = 0
    var hi = bounds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds.getLong(mid) <= fp) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Native codegen'd equal-position count of two `array<bigint>` columns
  * — the minhash signature-agreement kernel
  * ([[graft.operators.TextOps.minhashAgreement]]), evaluated once per
  * CANDIDATE PAIR in the LSH verification joins (millions of pairs on a
  * dup-heavy corpus), where the
  * `aggregate(zip_with(a, b, equal-vote), sum)` form it replaces is a
  * CodegenFallback per pair. Null entries vote NOT-equal (the
  * `when(x === y, 1).otherwise(0)` null semantics — null === anything
  * is null → 0, including null/null); positions beyond the shorter
  * array cannot be equal (zip_with's null padding votes 0 there too).
  */
case class EqCountLong(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) {
        c += 1
      }
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) {
         |    $c++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EqCountLong =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_eq_count"
}

/** Registration + column API for the graft native functions. */
object VectorFunctions {
  val dotName = "vec_dot"

  private val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProduct(a, b)
    case other =>
      throw new IllegalArgumentException(
        s"$dotName expects 2 arguments, got ${other.size}")
  }

  val intersectName = "sorted_intersect_count"

  private val intersectBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SortedIntersectCount(a, b)
    case other =>
      throw new IllegalArgumentException(
        s"$intersectName expects 2 arguments, got ${other.size}")
  }

  val l2sqLongName = "vec_l2sq_long"

  private val l2sqLongBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => LongL2Sq(a, b)
    case other =>
      throw new IllegalArgumentException(
        s"$l2sqLongName expects 2 arguments, got ${other.size}")
  }

  val quantizeE7Name = "quantize_e7"

  private val quantizeE7Builder: Seq[Expression] => Expression = {
    case Seq(x) => QuantizeE7(x)
    case other =>
      throw new IllegalArgumentException(
        s"$quantizeE7Name expects 1 argument, got ${other.size}")
  }

  val pqCodesName = "pq_codes_long"

  private val pqCodesBuilder: Seq[Expression] => Expression = {
    case Seq(x, f, s) => PqCodesLong(x, f, s)
    case other =>
      throw new IllegalArgumentException(
        s"$pqCodesName expects 3 arguments, got ${other.size}")
  }

  val sigCodesName = "sig_codes_long"

  private val sigCodesBuilder: Seq[Expression] => Expression = {
    case Seq(x, f, t) => SigCodesLong(x, f, t)
    case other =>
      throw new IllegalArgumentException(
        s"$sigCodesName expects 3 arguments, got ${other.size}")
  }

  val rangeShardName = "range_shard"

  private val rangeShardBuilder: Seq[Expression] => Expression = {
    case Seq(fp, bounds) => RangeShard(fp, bounds)
    case other =>
      throw new IllegalArgumentException(
        s"$rangeShardName expects 2 arguments, got ${other.size}")
  }

  val eqCountName = "vec_eq_count"

  private val eqCountBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => EqCountLong(a, b)
    case other =>
      throw new IllegalArgumentException(
        s"$eqCountName expects 2 arguments, got ${other.size}")
  }

  val xxMinSigName = "xx_min_sig"

  private val xxMinSigBuilder: Seq[Expression] => Expression = {
    case Seq(e, k) => XxMinSigExpr(e, k)
    case other =>
      throw new IllegalArgumentException(
        s"$xxMinSigName expects 2 arguments, got ${other.size}")
  }

  val md5MinSigName = "md5_min_sig"

  private val md5MinSigBuilder: Seq[Expression] => Expression = {
    case Seq(e, k) => Md5MinSigExpr(e, k)
    case other =>
      throw new IllegalArgumentException(
        s"$md5MinSigName expects 2 arguments, got ${other.size}")
  }

  val md5H60ArrayName = "md5_h60_array"

  private val md5H60ArrayBuilder: Seq[Expression] => Expression = {
    case Seq(e) => Md5H60ArrayExpr(e)
    case other =>
      throw new IllegalArgumentException(
        s"$md5H60ArrayName expects 1 argument, got ${other.size}")
  }

  val md5Gram60Name = "md5_gram60"

  private val md5Gram60Builder: Seq[Expression] => Expression = {
    case Seq(t, k) => Md5Gram60Expr(t, k)
    case other =>
      throw new IllegalArgumentException(
        s"$md5Gram60Name expects 2 arguments, got ${other.size}")
  }

  val xxGram64Name = "xx_gram64"

  private val xxGram64Builder: Seq[Expression] => Expression = {
    case Seq(t, k) => XxGram64Expr(t, k)
    case other =>
      throw new IllegalArgumentException(
        s"$xxGram64Name expects 2 arguments, got ${other.size}")
  }

  val winnowSelectName = "winnow_select"

  private val winnowSelectBuilder: Seq[Expression] => Expression = {
    case Seq(h, w) => WinnowSelectExpr(h, w)
    case other =>
      throw new IllegalArgumentException(
        s"$winnowSelectName expects 2 arguments, got ${other.size}")
  }

  val tokLenSumName = "tok_len_sum"

  private val tokLenSumBuilder: Seq[Expression] => Expression = {
    case Seq(t) => TokLenSumExpr(t)
    case other =>
      throw new IllegalArgumentException(
        s"$tokLenSumName expects 1 argument, got ${other.size}")
  }

  val modeCountName = "mode_count"

  private val modeCountBuilder: Seq[Expression] => Expression = {
    case Seq(a) => ModeCountExpr(a)
    case other =>
      throw new IllegalArgumentException(
        s"$modeCountName expects 1 argument, got ${other.size}")
  }

  val bigramModeCountName = "bigram_mode_count"

  private val bigramModeCountBuilder: Seq[Expression] => Expression = {
    case Seq(a) => BigramModeCountExpr(a)
    case other =>
      throw new IllegalArgumentException(
        s"$bigramModeCountName expects 1 argument, got ${other.size}")
  }

  val windowKeys2Name = "window_keys2"

  private val windowKeys2Builder: Seq[Expression] => Expression = {
    case Seq(t, w) => WindowKeys2Expr(t, w)
    case other =>
      throw new IllegalArgumentException(
        s"$windowKeys2Name expects 2 arguments, got ${other.size}")
  }

  val chunkKeys2Name = "chunk_keys2"

  private val chunkKeys2Builder: Seq[Expression] => Expression = {
    case Seq(t, n) => ChunkKeys2Expr(t, n)
    case other =>
      throw new IllegalArgumentException(
        s"$chunkKeys2Name expects 2 arguments, got ${other.size}")
  }

  val gramStringsName = "gram_strings"

  private val gramStringsBuilder: Seq[Expression] => Expression = {
    case Seq(t, n) => GramStringsExpr(t, n)
    case other =>
      throw new IllegalArgumentException(
        s"$gramStringsName expects 2 arguments, got ${other.size}")
  }

  val gramStringsDistinctName = "gram_strings_distinct"

  private val gramStringsDistinctBuilder: Seq[Expression] => Expression = {
    case Seq(t, n) => GramStringsDistinctExpr(t, n)
    case other =>
      throw new IllegalArgumentException(
        s"$gramStringsDistinctName expects 2 arguments, got ${other.size}")
  }

  val bpeToksName = "bpe_toks"

  private val bpeToksBuilder: Seq[Expression] => Expression = {
    case Seq(t) => BpeToksExpr(t)
    case other =>
      throw new IllegalArgumentException(
        s"$bpeToksName expects 1 argument, got ${other.size}")
  }

  val gramStringsFullName = "gram_strings_full"

  private val gramStringsFullBuilder: Seq[Expression] => Expression = {
    case Seq(t, n) => GramStringsFullExpr(t, n)
    case other =>
      throw new IllegalArgumentException(
        s"$gramStringsFullName expects 2 arguments, got ${other.size}")
  }

  val ragChunksName = "rag_chunks_arr"

  private val ragChunksBuilder: Seq[Expression] => Expression = {
    case Seq(t, w, s) => RagChunksExpr(t, w, s)
    case other =>
      throw new IllegalArgumentException(
        s"$ragChunksName expects 3 arguments, got ${other.size}")
  }

  val scrubKeepName = "scrub_keep"

  private val scrubKeepBuilder: Seq[Expression] => Expression = {
    case Seq(t, s) => ScrubKeepExpr(t, s)
    case other =>
      throw new IllegalArgumentException(
        s"$scrubKeepName expects 2 arguments, got ${other.size}")
  }

  val hashSetSortedName = "hash_set_sorted"

  private val hashSetSortedBuilder: Seq[Expression] => Expression = {
    case Seq(t) => HashSetSortedExpr(t)
    case other =>
      throw new IllegalArgumentException(
        s"$hashSetSortedName expects 1 argument, got ${other.size}")
  }

  val shingleSetSortedName = "shingle_set_sorted"

  private val shingleSetSortedBuilder: Seq[Expression] => Expression = {
    case Seq(t, n) => ShingleSetSortedExpr(t, n)
    case other =>
      throw new IllegalArgumentException(
        s"$shingleSetSortedName expects 2 arguments, got ${other.size}")
  }

  val setSketchName = "set_sketch"

  private val setSketchBuilder: Seq[Expression] => Expression = {
    case Seq(t) => SetSketchExpr(t)
    case other =>
      throw new IllegalArgumentException(
        s"$setSketchName expects 1 argument, got ${other.size}")
  }

  val sketchXorPopcntName = "sketch_xor_popcnt"

  private val sketchXorPopcntBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SketchXorPopcntExpr(a, b)
    case other =>
      throw new IllegalArgumentException(
        s"$sketchXorPopcntName expects 2 arguments, got ${other.size}")
  }

  val minhashName = "minhash_agg"

  private val minhashBuilder: Seq[Expression] => Expression = {
    case Seq(a) => MinHashAgg(a)
    case other =>
      throw new IllegalArgumentException(
        s"$minhashName expects 1 argument, got ${other.size}")
  }

  val jpegDimsName = "jpeg_dims"

  private val jpegDimsBuilder: Seq[Expression] => Expression = {
    case Seq(a) => JpegDimsExpr(a)
    case other =>
      throw new IllegalArgumentException(
        s"$jpegDimsName expects 1 argument, got ${other.size}")
  }

  val bmpPixelsName = "bmp_pixels"

  private val bmpPixelsBuilder: Seq[Expression] => Expression = {
    case Seq(a) => BmpPixelsExpr(a)
    case other =>
      throw new IllegalArgumentException(
        s"$bmpPixelsName expects 1 argument, got ${other.size}")
  }

  val wavSamplesName = "wav_samples"

  private val wavSamplesBuilder: Seq[Expression] => Expression = {
    case Seq(a) => WavSamplesExpr(a)
    case other =>
      throw new IllegalArgumentException(
        s"$wavSamplesName expects 1 argument, got ${other.size}")
  }

  val dhashName = "dhash64"

  private val dhashBuilder: Seq[Expression] => Expression = {
    case Seq(px, w, h, c) => DHash64Expr(px, w, h, c)
    case other =>
      throw new IllegalArgumentException(
        s"$dhashName expects 4 arguments, got ${other.size}")
  }

  val audioEnvHashName = "audio_env_hash64"

  private val audioEnvHashBuilder: Seq[Expression] => Expression = {
    case Seq(s) => AudioEnvHash64Expr(s)
    case other =>
      throw new IllegalArgumentException(
        s"$audioEnvHashName expects 1 argument, got ${other.size}")
  }

  val simhashName = "simhash64"

  private val simhashBuilder: Seq[Expression] => Expression = {
    case Seq(a) => SimHash64Expr(a)
    case other =>
      throw new IllegalArgumentException(
        s"$simhashName expects 1 argument, got ${other.size}")
  }

  val kmvName = "kmv_count_distinct"

  private val kmvBuilder: Seq[Expression] => Expression = {
    case Seq(a) => KmvAgg(a)
    case other =>
      throw new IllegalArgumentException(
        s"$kmvName expects 1 argument, got ${other.size}")
  }

  val kmvExactName = "kmv_count_distinct_exact"

  private[functions] val kmvExactBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(kv: Int,
        org.apache.spark.sql.types.IntegerType)) =>
      KmvAgg(a, kv, spaceBits = 60)
    case other =>
      throw new IllegalArgumentException(
        s"$kmvExactName expects (hash60 column, k int literal), got $other")
  }

  // the md5-oracle-tier state/merge faces (r13 — the KmvRoute rollup's
  // stored partials): same hash space and estimator family as
  // kmv_count_distinct_exact, so merge(state partials) ≡ the raw sketch
  val kmvStateExactName = "kmv_state_exact"

  private[functions] val kmvStateExactBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(kv: Int,
        org.apache.spark.sql.types.IntegerType)) =>
      KmvStateAgg(a, kv, spaceBits = 60)
    case other =>
      throw new IllegalArgumentException(
        s"$kmvStateExactName expects (hash60 column, k int literal), got $other")
  }

  val kmvMergeExactName = "kmv_merge_exact"

  private[functions] val kmvMergeExactBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(kv: Int,
        org.apache.spark.sql.types.IntegerType)) =>
      KmvMergeAgg(a, kv, spaceBits = 60)
    case other =>
      throw new IllegalArgumentException(
        s"$kmvMergeExactName expects (state array column, k int literal), got $other")
  }

  val qhistStateName = "qhist_state"

  private[functions] val qhistStateBuilder: Seq[Expression] => Expression = {
    case Seq(a) => QHistStateAgg(a)
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(g: Int,
        org.apache.spark.sql.types.IntegerType)) => QHistStateAgg(a, g)
    case other => throw new IllegalArgumentException(
      s"$qhistStateName expects (double value column[, grid-bits int " +
        s"literal]), got $other")
  }

  val qhistMergeStateName = "qhist_merge_state"

  private[functions] val qhistMergeStateBuilder: Seq[Expression] => Expression = {
    case Seq(a) => QHistMergeStateAgg(a)
    case other => throw new IllegalArgumentException(
      s"$qhistMergeStateName expects (state array column), got $other")
  }

  val qhistPercentilesName = "qhist_percentiles"

  private[functions] val qhistPercentilesBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(bpsCsv,
        org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.catalyst.expressions.Literal(bv: Int,
        org.apache.spark.sql.types.IntegerType)) =>
      QHistMergeAgg(a,
        bpsCsv.toString.split(',').toSeq.map(_.trim.toInt), bv)
    case other => throw new IllegalArgumentException(
      s"$qhistPercentilesName expects (state array column, " +
        s"'bp,bp,...' string literal, band budget int literal), got $other")
  }

  val bpeMergeName = "bpe_merge_step"

  private val bpeMergeBuilder: Seq[Expression] => Expression = {
    case Seq(a, l, r) => BpeMergeStepExpr(a, l, r)
    case other =>
      throw new IllegalArgumentException(
        s"$bpeMergeName expects 3 arguments, got ${other.size}")
  }

  val bpeMergeDeltaName = "bpe_merge_delta"

  private val bpeMergeDeltaBuilder: Seq[Expression] => Expression = {
    case Seq(a, l, r) => BpeMergeDeltaExpr(a, l, r)
    case other =>
      throw new IllegalArgumentException(
        s"$bpeMergeDeltaName expects 3 arguments, got ${other.size}")
  }

  /** Idempotently register on an existing session (the driver hands us its
    * own `SparkSession`, so extension-based injection alone isn't enough).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      dotName, dotBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      intersectName, intersectBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      l2sqLongName, l2sqLongBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      quantizeE7Name, quantizeE7Builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      pqCodesName, pqCodesBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      sigCodesName, sigCodesBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      eqCountName, eqCountBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      rangeShardName, rangeShardBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      md5MinSigName, md5MinSigBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      xxMinSigName, xxMinSigBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      md5H60ArrayName, md5H60ArrayBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      md5Gram60Name, md5Gram60Builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      xxGram64Name, xxGram64Builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      winnowSelectName, winnowSelectBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      tokLenSumName, tokLenSumBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      modeCountName, modeCountBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      bigramModeCountName, bigramModeCountBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      windowKeys2Name, windowKeys2Builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      chunkKeys2Name, chunkKeys2Builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      gramStringsName, gramStringsBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      gramStringsDistinctName, gramStringsDistinctBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      bpeToksName, bpeToksBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      gramStringsFullName, gramStringsFullBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      ragChunksName, ragChunksBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      scrubKeepName, scrubKeepBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      hashSetSortedName, hashSetSortedBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      shingleSetSortedName, shingleSetSortedBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      setSketchName, setSketchBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      sketchXorPopcntName, sketchXorPopcntBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      minhashName, minhashBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      jpegDimsName, jpegDimsBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      bmpPixelsName, bmpPixelsBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      wavSamplesName, wavSamplesBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      simhashName, simhashBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      dhashName, dhashBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      audioEnvHashName, audioEnvHashBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      bpeMergeName, bpeMergeBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      bpeMergeDeltaName, bpeMergeDeltaBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      kmvName, kmvBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      kmvExactName, kmvExactBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      kmvStateExactName, kmvStateExactBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      kmvMergeExactName, kmvMergeExactBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      qhistStateName, qhistStateBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      qhistMergeStateName, qhistMergeStateBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      qhistPercentilesName, qhistPercentilesBuilder, "scala_udf")
  }

  /** Column API: `dot(a, b)` once [[ensureRegistered]] has run. */
  def dot(a: Column, b: Column): Column = call_function(dotName, a, b)

  /** Column API: intersection size of two sorted `array<bigint>` columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function(intersectName, a, b)

  /** Column API: exact squared L2 over two `array<bigint>` columns. */
  def l2sqLong(a: Column, b: Column): Column =
    call_function(l2sqLongName, a, b)

  /** Column API: per-subspace PQ argmin codes of a quantized row against
    * a flattened literal codebook.
    */
  def pqCodesLong(xq: Column, flat: Column, subs: Column): Column =
    call_function(pqCodesName, xq, flat, subs)

  /** Column API: the exact-arithmetic family's 1e-7-unit quantizer. */
  def quantizeE7(e: Column): Column = call_function(quantizeE7Name, e)

  /** Column API: shard id of a bigint under a sorted literal boundary
    * cut (count of bounds ≤ fp, by binary search).
    */
  def rangeShard(fp: Column, bounds: Column): Column =
    call_function(rangeShardName, fp, bounds)

  /** Column API: per-table signed-projection codes of a quantized row
    * against a flattened literal plane set.
    */
  def sigCodesLong(xq: Column, flat: Column, tables: Column): Column =
    call_function(sigCodesName, xq, flat, tables)

  /** Column API: equal-position count of two `array<bigint>` columns. */
  def eqCountLong(a: Column, b: Column): Column =
    call_function(eqCountName, a, b)

  /** Column API: fused md5-tier minhash signature (k mins in one pass). */
  def md5MinSig(elems: Column, k: Column): Column =
    call_function(md5MinSigName, elems, k)

  /** Column API: fused xxhash64-tier minhash signature over a
    * `bigint` token-hash array.
    */
  def xxMinSig(ths: Column, k: Column): Column =
    call_function(xxMinSigName, ths, k)

  /** Column API: element-wise 60-bit md5 prefixes of a string array. */
  def md5H60Array(elems: Column): Column =
    call_function(md5H60ArrayName, elems)

  /** Column API: per-window 60-bit md5 gram hashes of a token array. */
  def md5Gram60(toks: Column, k: Column): Column =
    call_function(md5Gram60Name, toks, k)

  /** Column API: per-window xxhash64 gram hashes of a token array. */
  def xxGram64(toks: Column, k: Column): Column =
    call_function(xxGram64Name, toks, k)

  /** Column API: winnow window-min (p, v) selections over gram hashes. */
  def winnowSelect(hs: Column, w: Column): Column =
    call_function(winnowSelectName, hs, w)

  /** Column API: Σ length(token) over an `array<string>` column. */
  def tokLenSum(toks: Column): Column = call_function(tokLenSumName, toks)

  /** Column API: the most frequent element's count in a string array. */
  def modeCount(arr: Column): Column = call_function(modeCountName, arr)

  /** Column API: mode_count over space-joined adjacent token pairs. */
  def bigramModeCount(toks: Column): Column =
    call_function(bigramModeCountName, toks)

  /** Column API: per-window (h1, h2) span keys of a token array. */
  def windowKeys2(toks: Column, w: Column): Column =
    call_function(windowKeys2Name, toks, w)

  /** Column API: distinct fixed-stride chunk (h1, h2) keys. */
  def chunkKeys2(toks: Column, n: Column): Column =
    call_function(chunkKeys2Name, toks, n)

  /** Column API: in-order space-joined word n-grams. */
  def gramStrings(toks: Column, n: Column): Column =
    call_function(gramStringsName, toks, n)

  /** Column API: distinct word n-grams under the minhash windowing. */
  def gramStringsDistinct(toks: Column, n: Column): Column =
    call_function(gramStringsDistinctName, toks, n)

  /** Column API: non-empty single-space-split tokens of a string. */
  def bpeToks(text: Column): Column = call_function(bpeToksName, text)

  /** Column API: distinct FULL-window space-joined n-grams. */
  def gramStringsFull(toks: Column, n: Column): Column =
    call_function(gramStringsFullName, toks, n)

  /** Column API: the RAG chunker's (start_tok, n_tok, chunk_text) rows. */
  def ragChunksArr(toks: Column, window: Column, stride: Column): Column =
    call_function(ragChunksName, toks, window, stride)

  /** Column API: the span-scrub rebuild struct(n_kept, txt). */
  def scrubKeep(toks: Column, spans: Column): Column =
    call_function(scrubKeepName, toks, spans)

  /** Column API: sorted distinct xxhash64 token set of a string array. */
  def hashSetSorted(toks: Column): Column =
    call_function(hashSetSortedName, toks)

  /** Column API: sorted distinct word-n-gram shingle-hash set. */
  def shingleSetSorted(toks: Column, n: Column): Column =
    call_function(shingleSetSortedName, toks, n)

  /** Column API: 1024-bit membership bitmap of a long-hash set. */
  def setSketch(hs: Column): Column = call_function(setSketchName, hs)

  /** Column API: Hamming distance between two set sketches. */
  def sketchXorPopcnt(a: Column, b: Column): Column =
    call_function(sketchXorPopcntName, a, b)

  /** Column API: group-level minhash signature over a `bigint` hash column. */
  def minhashAgg(c: Column): Column = call_function(minhashName, c)

  /** Column API: `[width, height]` of a JPEG binary column, null if not JPEG. */
  def jpegDims(c: Column): Column = call_function(jpegDimsName, c)

  /** Column API: top-down RGB(A) pixel bytes of an uncompressed BMP, else null. */
  def bmpPixels(c: Column): Column = call_function(bmpPixelsName, c)

  /** Column API: normalized PCM sample frames of a WAV payload, else null. */
  def wavSamples(c: Column): Column = call_function(wavSamplesName, c)

  /** Column API: row-wise 64-bit simhash of an `array<bigint>` hash column. */
  def simhash64(c: Column): Column = call_function(simhashName, c)

  /** Column API: 64-bit perceptual dHash of decoded pixel bytes. */
  def dhash64(px: Column, w: Column, h: Column, c: Column): Column =
    call_function(dhashName, px, w, h, c)

  /** Column API: 64-bit energy-envelope hash of decoded PCM samples. */
  def audioEnvHash64(samples: Column): Column =
    call_function(audioEnvHashName, samples)

  /** Column API: one greedy LTR BPE merge round over an `array<string>`. */
  def bpeMergeStep(toks: Column, l: Column, r: Column): Column =
    call_function(bpeMergeName, toks, l, r)

  /** Column API: one BPE merge round fused with pair-count delta
    * extraction — struct<toks, deltas>.
    */
  def bpeMergeDelta(toks: Column, l: Column, r: Column): Column =
    call_function(bpeMergeDeltaName, toks, l, r)

  /** Column API: KMV approximate distinct count of a bigint hash column. */
  def kmvCountDistinct(c: Column): Column = call_function(kmvName, c)

  /** Column API: the md5-tier KMV sketch — exact-integer estimator over
    * the 60-bit [[graft.operators.TextOps.h60]] hash space, so the
    * estimate (not just the exact-regime count) is DuckDB-replayable.
    */
  def kmvCountDistinctExact(c: Column, k: Int): Column =
    call_function(kmvExactName, c, org.apache.spark.sql.functions.lit(k))

  /** Column API: the md5-tier KMV partial STATE (unsigned-ascending
    * array<bigint> of the k minima) — what the KmvRoute rollup stores.
    */
  def kmvStateExact(c: Column, k: Int): Column =
    call_function(kmvStateExactName, c, org.apache.spark.sql.functions.lit(k))

  /** Column API: merge stored md5-tier KMV states into the same
    * estimate the raw sketch computes.
    */
  def kmvMergeExact(c: Column, k: Int): Column =
    call_function(kmvMergeExactName, c, org.apache.spark.sql.functions.lit(k))

  /** Column API: the EXACT per-group value histogram partial state
    * (value-ascending array<struct<v,w>>) — what the QuantileRoute
    * rollup stores per (day, group).
    */
  def qhistState(c: Column): Column = call_function(qhistStateName, c)

  /** [[qhistState]] with the universe grid engaged: values quantize to
    * `g` significant mantissa bits at ingest ([[QHist.quantize]]) so an
    * unbounded-cardinality metric cannot silently grow per-group state
    * — state is bounded by occupied grid cells, value error ≤ 2^-g
    * relative. The routed faces only ever match the grid-free shape.
    */
  def qhistStateGrid(c: Column, g: Int): Column =
    call_function(qhistStateName, c, org.apache.spark.sql.functions.lit(g))

  /** Column API: merge stored histogram partials back into a state —
    * the incremental-maintenance re-fold.
    */
  def qhistMergeState(c: Column): Column =
    call_function(qhistMergeStateName, c)

  /** Column API: merge stored histogram partials and read the
    * deterministic band-compressed percentile estimates at `bps` basis
    * points with band budget `b` — order-invariant, DuckDB-replayable.
    */
  def qhistPercentiles(c: Column, bps: Seq[Int], b: Int): Column =
    call_function(qhistPercentilesName, c,
      org.apache.spark.sql.functions.lit(bps.mkString(",")),
      org.apache.spark.sql.functions.lit(b))
}

/** `SparkSessionExtensions` hook: `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` exposes the
  * native functions and the LTS routing rule to pure-SQL users too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.LtsRoute)
    ext.injectOptimizerRule(_ => graft.plans.CorpusRoute)
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.dotName),
        new ExpressionInfo(classOf[DotProduct].getName, null, VectorFunctions.dotName),
        (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.intersectName),
        new ExpressionInfo(classOf[SortedIntersectCount].getName, null,
          VectorFunctions.intersectName),
        (exprs: Seq[Expression]) => SortedIntersectCount(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.l2sqLongName),
        new ExpressionInfo(classOf[LongL2Sq].getName, null,
          VectorFunctions.l2sqLongName),
        (exprs: Seq[Expression]) => LongL2Sq(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.quantizeE7Name),
        new ExpressionInfo(classOf[QuantizeE7].getName, null,
          VectorFunctions.quantizeE7Name),
        (exprs: Seq[Expression]) => QuantizeE7(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.pqCodesName),
        new ExpressionInfo(classOf[PqCodesLong].getName, null,
          VectorFunctions.pqCodesName),
        (exprs: Seq[Expression]) => PqCodesLong(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.sigCodesName),
        new ExpressionInfo(classOf[SigCodesLong].getName, null,
          VectorFunctions.sigCodesName),
        (exprs: Seq[Expression]) => SigCodesLong(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.eqCountName),
        new ExpressionInfo(classOf[EqCountLong].getName, null,
          VectorFunctions.eqCountName),
        (exprs: Seq[Expression]) => EqCountLong(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.md5MinSigName),
        new ExpressionInfo(classOf[Md5MinSigExpr].getName, null,
          VectorFunctions.md5MinSigName),
        (exprs: Seq[Expression]) => Md5MinSigExpr(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.xxMinSigName),
        new ExpressionInfo(classOf[XxMinSigExpr].getName, null,
          VectorFunctions.xxMinSigName),
        (exprs: Seq[Expression]) => XxMinSigExpr(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.md5H60ArrayName),
        new ExpressionInfo(classOf[Md5H60ArrayExpr].getName, null,
          VectorFunctions.md5H60ArrayName),
        (exprs: Seq[Expression]) => Md5H60ArrayExpr(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.minhashName),
        new ExpressionInfo(classOf[MinHashAgg].getName, null,
          VectorFunctions.minhashName),
        (exprs: Seq[Expression]) => MinHashAgg(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.jpegDimsName),
        new ExpressionInfo(classOf[JpegDimsExpr].getName, null,
          VectorFunctions.jpegDimsName),
        (exprs: Seq[Expression]) => JpegDimsExpr(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.bmpPixelsName),
        new ExpressionInfo(classOf[BmpPixelsExpr].getName, null,
          VectorFunctions.bmpPixelsName),
        (exprs: Seq[Expression]) => BmpPixelsExpr(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.wavSamplesName),
        new ExpressionInfo(classOf[WavSamplesExpr].getName, null,
          VectorFunctions.wavSamplesName),
        (exprs: Seq[Expression]) => WavSamplesExpr(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.simhashName),
        new ExpressionInfo(classOf[SimHash64Expr].getName, null,
          VectorFunctions.simhashName),
        (exprs: Seq[Expression]) => SimHash64Expr(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.bpeMergeName),
        new ExpressionInfo(classOf[BpeMergeStepExpr].getName, null,
          VectorFunctions.bpeMergeName),
        (exprs: Seq[Expression]) => BpeMergeStepExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.bpeMergeDeltaName),
        new ExpressionInfo(classOf[BpeMergeDeltaExpr].getName, null,
          VectorFunctions.bpeMergeDeltaName),
        (exprs: Seq[Expression]) => BpeMergeDeltaExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.kmvName),
        new ExpressionInfo(classOf[KmvAgg].getName, null,
          VectorFunctions.kmvName),
        (exprs: Seq[Expression]) => KmvAgg(exprs(0))))
    ext.injectFunction(
      (FunctionIdentifier(VectorFunctions.kmvExactName),
        new ExpressionInfo(classOf[KmvAgg].getName, null,
          VectorFunctions.kmvExactName),
        // the ONE builder both registration paths share — duplicating
        // the pattern match here let the two silently drift
        VectorFunctions.kmvExactBuilder))
  }
}
