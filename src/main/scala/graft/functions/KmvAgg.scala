package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Shared K-minimum-values buffer mechanics for the three KMV aggregate
  * faces ([[KmvAgg]] raw→estimate, [[KmvStateAgg]] raw→state,
  * [[KmvMergeAgg]] state→estimate — r13, extracted when the
  * materialized-rollup route made partial states a stored value): ONE
  * definition of the unsigned order, the bounded admit rule, and the
  * exact-integer estimator, so the three faces can never drift — which
  * is precisely what makes `KmvMerge(per-day KmvState partials)` equal
  * `KmvAgg(raw rows)` bit-for-bit (top-k minima of a union = top-k of
  * the per-slice top-k unions; the estimator is a pure function of the
  * resulting set).
  */
private[graft] object Kmv {

  def requireParams(k: Int, spaceBits: Int): Unit = {
    require(k >= 16, s"kmv sketch needs k >= 16, got $k")
    require(spaceBits == 64 || spaceBits == 60,
      s"kmv hash space must be 64 (xxhash64) or 60 (md5 oracle tier), got $spaceBits")
    // the exact-integer 60-bit estimator below needs (k-1) * 2^53 to fit
    // in a signed long: k - 1 < 2^10
    require(spaceBits == 64 || k <= 1024,
      s"60-bit kmv tier supports k <= 1024, got $k")
  }

  /** TreeSet over the UNSIGNED order of the hash — KMV's "minimum" must
    * agree with the uniform mapping onto (0,1], and Long.compare would
    * put negative (= upper-half unsigned) hashes first.
    */
  def newSet(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](
      (a: java.lang.Long, b: java.lang.Long) =>
        java.lang.Long.compareUnsigned(a, b))

  /** Would `h` rank in the current top-k minima? ONE definition of the
    * bounded-admit compare — every face and the merge fold route
    * through it, so the unsigned-order subtlety cannot fork.
    */
  private def admits(buf: java.util.TreeSet[java.lang.Long], k: Int,
      h: Long): Boolean =
    buf.size < k || java.lang.Long.compareUnsigned(h, buf.last()) < 0

  /** Admit one hash if it would rank in the current top-k minima — past
    * warmup almost every row short-circuits on this compare.
    */
  def admit(buf: java.util.TreeSet[java.lang.Long], k: Int, h: Long): Unit =
    if (admits(buf, k, h)) {
      buf.add(h)
      if (buf.size > k) { buf.pollLast(); () }
    }

  /** Merge a second buffer in: b2 iterates ascending in the unsigned
    * order, so once one element fails the admit test, every later one
    * would too. The shared body of all three faces' `merge`.
    */
  def merge(b1: java.util.TreeSet[java.lang.Long], k: Int,
      b2: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    var done = false
    while (it.hasNext && !done) {
      val h = it.next()
      if (admits(b1, k, h)) {
        b1.add(h)
        if (b1.size > k) { b1.pollLast(); () }
      } else done = true
    }
    b1
  }

  /** The estimate: with fewer than `k` distinct hashes the set IS the
    * exact answer; past that the classic unbiased `(k-1)/u_k`, with the
    * 60-bit tier's EXACT-INTEGER form (every step a positive-long
    * multiply/shift/divide both engines floor identically, so driver
    * rows are hash-exact).
    */
  def estimate(buf: java.util.TreeSet[java.lang.Long], k: Int,
      spaceBits: Int): Long =
    if (buf.size < k) buf.size.toLong
    else if (spaceBits == 60) {
      // u_k ≈ ((h_k >> 7) + 1) / 2^53 over the h60 hash space
      ((k - 1).toLong * (1L << 53)) / ((buf.last() >> 7) + 1L)
    } else {
      val uk = (java.lang.Long.divideUnsigned(buf.last(), 1L << 11).toDouble + 1.0) /
        (1L << 53).toDouble
      math.round((k - 1).toDouble / uk)
    }

  def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.forEach(h => bb.putLong(h))
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = newSet()
    var i = 0
    while (i < n) { s.add(bb.getLong()); i += 1 }
    s
  }
}

/** K-minimum-values distinct-count sketch over a 64-bit element-hash
  * column — the [[MinHashAgg]] pattern pointed at cardinality instead of
  * similarity. Originally a measured altitude probe against Spark's
  * `approx_count_distinct` (HyperLogLog++; SCALE.md's "r6: sketch
  * altitude" row records the verdict, the built-in wins at the 64-bit
  * tier); the 60-bit md5 tier is the ORACLE face q_distinct_approx
  * serves — its exact-integer estimator is DuckDB-replayable, so the
  * driver hash-checks the whole sketch.
  *
  * Sketch: the `k` smallest DISTINCT hash values seen (a bounded
  * TreeSet — re-inserting a duplicate hash is a no-op, which is what
  * makes the estimator multiplicity-invariant like minhash). Relative
  * error concentrates around `1/sqrt(k-2)` (~3.2% at the default k=1024;
  * KmvAggSpec pins both regimes).
  *
  * Distribution shape is identical to [[MinHashAgg]]: `update` folds
  * into a bounded buffer, `merge` unions two buffers and re-trims, so
  * partial sketches combine map-side and the shuffle moves ≤ 8·k bytes
  * per (partition, group), never the elements.
  */
case class KmvAgg(child: Expression, k: Int = 1024, spaceBits: Int = 64,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  Kmv.requireParams(k, spaceBits)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint element-hash column, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    Kmv.newSet()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) Kmv.admit(buf, k, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] =
    Kmv.merge(b1, k, b2)

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    Kmv.estimate(buf, k, spaceBits)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    Kmv.serialize(buf)

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    Kmv.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)

  override def prettyName: String = "kmv_count_distinct"
}

/** [[KmvAgg]]'s PARTIAL STATE as a stored value (r13): the k smallest
  * distinct hashes, emitted as an unsigned-ASCENDING `array<bigint>` —
  * the merge-closed column a maintained rollup persists per grain (the
  * KmvRoute materialized view stores one per day). Same buffer, same
  * admit rule, no estimator: what lands on disk is exactly what
  * [[KmvMergeAgg]] re-folds.
  */
case class KmvStateAgg(child: Expression, k: Int = 1024, spaceBits: Int = 64,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  Kmv.requireParams(k, spaceBits)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint element-hash column, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    Kmv.newSet()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) Kmv.admit(buf, k, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] =
    Kmv.merge(b1, k, b2)

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    // TreeSet iterates in the unsigned order — the stored array is
    // ascending by construction, which is what lets KmvMergeAgg's fold
    // short-circuit
    val out = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    Kmv.serialize(buf)

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    Kmv.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvStateAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvStateAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KmvStateAgg =
    copy(child = newChild)

  override def prettyName: String = "kmv_state"
}

/** Re-aggregate stored KMV partial states (`array<bigint>`,
  * unsigned-ascending — [[KmvStateAgg]]'s output) into the SAME estimate
  * [[KmvAgg]] computes over raw rows (r13): the routed face of the
  * sketch. `KmvMergeAgg(states)` ≡ `KmvAgg(raw)` exactly, because the
  * union of per-slice top-k minima contains the global top-k and the
  * estimator is a pure function of that set — so a rollup-served
  * q_distinct_approx stays hash-exact against the raw-replay oracle
  * while reading #days rows instead of the corpus.
  */
case class KmvMergeAgg(child: Expression, k: Int = 1024, spaceBits: Int = 64,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  Kmv.requireParams(k, spaceBits)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> state column, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    Kmv.newSet()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      // plain element-wise fold: correct for ANY element order (admit is
      // order-invariant), so a hand-built state array works too; states
      // are ≤ k elements, so an ascending early-exit would save noise
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        // getLong on a null slot reads an undefined value (0) — a
        // hand-built array<bigint> with null elements would silently
        // admit a bogus minimum and skew the estimate; this family
        // refuses malformed state LOUDLY (review-found, r13 ADVICE)
        require(!arr.isNullAt(i),
          s"$prettyName: KMV state array holds a NULL element at $i — " +
            "malformed state; refusing to fold it into the estimate")
        Kmv.admit(buf, k, arr.getLong(i))
        i += 1
      }
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] =
    Kmv.merge(b1, k, b2)

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    Kmv.estimate(buf, k, spaceBits)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    Kmv.serialize(buf)

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    Kmv.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KmvMergeAgg =
    copy(child = newChild)

  override def prettyName: String = "kmv_merge"
}
