package graft.plans

import java.security.MessageDigest
import java.util.{Comparator, TreeSet => JTreeSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Mergeable KMV (k-minimum-values) distinct sketches — the
  * ORACLE-CHECKABLE member of the sketch tier. Where HLL's estimate is
  * only testable by determinism (rows-only), every piece of KMV is plain
  * order statistics over md5 values, so DuckDB can recompute sketch AND
  * estimate exactly: the sketch is the k smallest distinct md5 digests
  * of the group (`ORDER BY md5(v) LIMIT k`), and the estimator is
  * `floor((k-1) / u_k)` with `u_k` = the k-th smallest digest's first
  * 32 bits mapped to (0,1) — integer-derived doubles, one IEEE division,
  * floor (never round: round's half-up vs rint's half-even differ
  * between engines).
  *
  *  - [[KmvSketchAgg]]  (`kmv_sketch(col, k)`): string values → sketch
  *    (binary: big-endian k header + sorted distinct 16-byte digests);
  *  - [[KmvMergeAgg]]   (`kmv_merge(sketch)`): sketches → merged sketch
  *    (set-union truncated to the k smallest — associative/commutative,
  *    so merge-of-shards ≡ whole-corpus BYTE-FOR-BYTE);
  *  - [[KmvEstimate]]   (`kmv_estimate(sketch)`): sketch → BIGINT
  *    (exact size while the group holds < k distinct values — the
  *    sketch degrades gracefully into an exact distinct-set).
  *
  * Same storage contract as the HLL tier: sketches are VALUES a
  * per-shard job stores in a table and a later rollup merges without
  * re-reading raw data. ~16·k bytes per sketch; relative error
  * ≈ 1/√(k−2).
  *
  * Why not Spark's `theta_sketch_agg` / `theta_union_agg` /
  * `theta_intersection_agg`: DuckDB cannot recompute a theta sketch, so
  * q_kmv_distinct, q_kmv_overlap and q_kmv_diff would lose their
  * hash-for-hash oracle. This md5-based sketch keeps it, so it stays. */
object Kmv {

  val DigestLen = 16

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Unsigned lexicographic byte order — identical to the lowercase-hex
    * string order DuckDB's `ORDER BY md5(v)` uses. */
  val ByteOrder: Comparator[Array[Byte]] = new Comparator[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
  }

  final class Buffer(var k: Int) {
    val set = new JTreeSet[Array[Byte]](ByteOrder)
    def add(d: Array[Byte]): Unit = {
      if (set.size() < k) set.add(d)
      else if (ByteOrder.compare(d, set.last()) < 0) {
        if (set.add(d)) set.pollLast()
      }
    }
  }

  def hash(utf8Bytes: Array[Byte]): Array[Byte] = {
    val md = digest.get()
    md.reset()
    md.update(utf8Bytes)
    md.digest()
  }

  def serialize(b: Buffer): Array[Byte] = {
    val out = new Array[Byte](4 + b.set.size() * DigestLen)
    out(0) = (b.k >> 24).toByte; out(1) = (b.k >> 16).toByte
    out(2) = (b.k >> 8).toByte; out(3) = b.k.toByte
    var pos = 4
    val it = b.set.iterator()
    while (it.hasNext) { System.arraycopy(it.next(), 0, out, pos, DigestLen); pos += DigestLen }
    out
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val k = ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
      ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val b = new Buffer(k)
    var pos = 4
    while (pos < bytes.length) {
      b.add(java.util.Arrays.copyOfRange(bytes, pos, pos + DigestLen))
      pos += DigestLen
    }
    b
  }

  /** merge-of-shards ≡ whole-corpus: union of k-minimum sets truncated
    * to k IS the k-minimum set of the union. */
  def merge(a: Buffer, b: Buffer): Buffer = {
    require(a.k == 0 || b.k == 0 || a.k == b.k,
      s"cannot merge kmv sketches with different k (${a.k} vs ${b.k})")
    if (a.k == 0) return b
    val it = b.set.iterator()
    while (it.hasNext) a.add(it.next())
    a
  }

  /** floor((k-1)/u_k), or the exact size below capacity. Mirrored
    * verbatim by the SQL oracle (same first-32-bit u, same +0.5, same
    * floor). */
  def estimate(bytes: Array[Byte]): Long = {
    val b = deserialize(bytes)
    val n = b.set.size()
    // k == 0 is the degenerate sketch kmv_merge produces over a group
    // with zero non-null inputs — an empty set, so the exact count (0).
    if (b.k == 0 || n < b.k) return n.toLong
    val kth = b.set.last()
    val u32 = ((kth(0) & 0xffL) << 24) | ((kth(1) & 0xffL) << 16) |
      ((kth(2) & 0xffL) << 8) | (kth(3) & 0xffL)
    val u = (u32 + 0.5) / 4294967296.0
    math.floor((b.k - 1) / u).toLong
  }

  /** DuckDB fragment computing the SAME estimate for group rows `rel`
    * (columns: a hex digest column `h`, its per-group rank `rn`, the
    * per-group distinct count `n`) — kept textually next to
    * [[estimate]] so the two can only drift visibly. */
  def estimateSql(k: Int, hexU8: String => String): String =
    s"""CASE WHEN n < $k THEN n
       |     ELSE CAST(floor((${k - 1}) / ((${hexU8("kth")} + 0.5) / 4294967296.0))
       |               AS BIGINT) END""".stripMargin

  /** KMV set algebra on two same-k sketches: X = the k smallest hashes
    * of the UNION (a uniform sample of A ∪ B), m = members of X present
    * in BOTH sketches. Jaccard ≈ m/|X| (an exact integer quotient —
    * deterministic), intersection ≈ floor((m/|X|) · est(A∪B)). The
    * audience-overlap estimate without an exact join — and, like the
    * cardinality estimate, exactly reproducible in SQL. */
  def overlap(a: Array[Byte], b: Array[Byte]): (Long, Long, Double, Long) = {
    val ba = deserialize(a)
    val bb = deserialize(b)
    // A k == 0 sketch (merge over zero inputs) is an empty set and is
    // compatible with any k — same rule as [[merge]].
    require(ba.k == 0 || bb.k == 0 || ba.k == bb.k,
      s"kmv overlap needs equal k (${ba.k} vs ${bb.k})")
    val union = merge(deserialize(a), deserialize(b)) // fresh buffers
    var m = 0L
    val it = union.set.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (ba.set.contains(h) && bb.set.contains(h)) m += 1
    }
    val x = union.set.size().toLong
    val jac = if (x == 0) 0.0 else m.toDouble / x
    val estI = math.floor(jac * estimate(serialize(union))).toLong
    (m, x, jac, estI)
  }

  /** Theta-style set-difference/union decomposition on the SAME uniform
    * union sample X that [[overlap]] uses: m_only = members of X present
    * in A but NOT in B, |A \ B| ≈ (m_only/|X|) · est(A∪B), and
    * est(A∪B) is just [[estimate]] of the merged sketch. Exactly
    * reproducible in SQL, like the rest of the algebra. */
  def diff(a: Array[Byte], b: Array[Byte]): (Long, Long, Long, Long) = {
    val ba = deserialize(a)
    val bb = deserialize(b)
    require(ba.k == 0 || bb.k == 0 || ba.k == bb.k,
      s"kmv diff needs equal k (${ba.k} vs ${bb.k})")
    val union = merge(deserialize(a), deserialize(b)) // fresh buffers
    var mOnly = 0L
    val it = union.set.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (ba.set.contains(h) && !bb.set.contains(h)) mOnly += 1
    }
    val x = union.set.size().toLong
    val estU = estimate(serialize(union))
    val estD =
      if (x == 0) 0L
      else math.floor(mOnly.toDouble / x * estU).toLong
    (mOnly, x, estU, estD)
  }

  // monomorphic entry points for codegen (no tuple boxing in generated code)
  def overlapJaccard(a: Array[Byte], b: Array[Byte]): Double = overlap(a, b)._3
  def overlapIntersect(a: Array[Byte], b: Array[Byte]): Long = overlap(a, b)._4
  def overlapM(a: Array[Byte], b: Array[Byte]): Long = overlap(a, b)._1
  def overlapX(a: Array[Byte], b: Array[Byte]): Long = overlap(a, b)._2
  def overlapDiff(a: Array[Byte], b: Array[Byte]): Long = diff(a, b)._4
  def overlapUnion(a: Array[Byte], b: Array[Byte]): Long = diff(a, b)._3

  /** Column API. */
  def kmvSketch(c: Column, k: Int): Column =
    GraftBridge.column(
      KmvSketchAgg(GraftBridge.expression(c), k).toAggregateExpression())
  def kmvMerge(c: Column): Column =
    GraftBridge.column(
      KmvMergeAgg(GraftBridge.expression(c)).toAggregateExpression())
  def kmvEstimate(c: Column): Column =
    GraftBridge.column(KmvEstimate(GraftBridge.expression(c)))
  def kmvJaccard(a: Column, b: Column): Column =
    GraftBridge.column(KmvOverlap(GraftBridge.expression(a),
      GraftBridge.expression(b), 0))
  def kmvIntersect(a: Column, b: Column): Column =
    GraftBridge.column(KmvOverlap(GraftBridge.expression(a),
      GraftBridge.expression(b), 1))
  def kmvOverlapM(a: Column, b: Column): Column =
    GraftBridge.column(KmvOverlap(GraftBridge.expression(a),
      GraftBridge.expression(b), 2))
  def kmvOverlapX(a: Column, b: Column): Column =
    GraftBridge.column(KmvOverlap(GraftBridge.expression(a),
      GraftBridge.expression(b), 3))
  def kmvDiff(a: Column, b: Column): Column =
    GraftBridge.column(KmvOverlap(GraftBridge.expression(a),
      GraftBridge.expression(b), 4))
  def kmvUnion(a: Column, b: Column): Column =
    GraftBridge.column(KmvOverlap(GraftBridge.expression(a),
      GraftBridge.expression(b), 5))
}

/** string values → KMV sketch. The partial-aggregation path (map-side
  * k-min sets, shuffle of ≤ 16k+4 bytes per group, reduce-side union)
  * IS the sketch algebra. Input is STRING by contract: the digest must
  * be md5-of-the-rendered-value for the SQL oracle to reproduce it. */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Kmv.Buffer] with UnaryLike[Expression] {

  require(k >= 2, s"kmv_sketch needs k >= 2, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch expects a string column (md5-of-rendered-value is the " +
        s"oracle contract), got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Kmv.Buffer = new Kmv.Buffer(k)

  override def update(buffer: Kmv.Buffer, input: InternalRow): Kmv.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      buffer.add(Kmv.hash(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes))
    }
    buffer
  }

  override def merge(buffer: Kmv.Buffer, other: Kmv.Buffer): Kmv.Buffer =
    Kmv.merge(buffer, other)

  override def eval(buffer: Kmv.Buffer): Any = Kmv.serialize(buffer)

  override def serialize(buffer: Kmv.Buffer): Array[Byte] = Kmv.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): Kmv.Buffer = Kmv.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvSketchAgg =
    copy(child = c)
}

/** sketches → merged sketch (k adopted from the first non-empty input;
  * mixing k values is an error by construction). */
case class KmvMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Kmv.Buffer] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_merge expects a binary sketch column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Kmv.Buffer = new Kmv.Buffer(0)

  override def update(buffer: Kmv.Buffer, input: InternalRow): Kmv.Buffer = {
    val v = child.eval(input)
    if (v == null) buffer
    else Kmv.merge(buffer, Kmv.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buffer: Kmv.Buffer, other: Kmv.Buffer): Kmv.Buffer =
    Kmv.merge(buffer, other)

  override def eval(buffer: Kmv.Buffer): Any = Kmv.serialize(buffer)

  override def serialize(buffer: Kmv.Buffer): Array[Byte] = Kmv.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): Kmv.Buffer = Kmv.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_merge"

  override def withNewMutableAggBufferOffset(o: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvMergeAgg =
    copy(child = c)
}

/** (sketchA, sketchB) → overlap statistic (scalar, on stored sketches):
  * mode 0 = Jaccard estimate (DOUBLE, the exact quotient m/|X|),
  * mode 1 = intersection-cardinality estimate (BIGINT),
  * mode 2 = m (|X ∩ A ∩ B|, BIGINT), mode 3 = |X| (BIGINT),
  * mode 4 = set-difference |A \ B| estimate (BIGINT, theta-style),
  * mode 5 = union-cardinality estimate (BIGINT). */
case class KmvOverlap(left: Expression, right: Expression, mode: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(mode >= 0 && mode <= 5, s"mode must be 0..5, got $mode")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"kmv overlap expects two binary sketches, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = if (mode == 0) DoubleType else LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    Seq("kmv_jaccard", "kmv_intersect", "kmv_overlap_m", "kmv_overlap_x",
      "kmv_diff", "kmv_union")(mode)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ab = a.asInstanceOf[Array[Byte]]
    val bb = b.asInstanceOf[Array[Byte]]
    if (mode >= 4) {
      val (_, _, estU, estD) = Kmv.diff(ab, bb)
      if (mode == 4) estD else estU
    } else {
      val (m, x, jac, estI) = Kmv.overlap(ab, bb)
      mode match { case 0 => jac; case 1 => estI; case 2 => m; case 3 => x }
    }
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val fn = Seq("overlapJaccard", "overlapIntersect",
      "overlapM", "overlapX", "overlapDiff", "overlapUnion")(mode)
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.Kmv.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sketch → BIGINT distinct estimate (scalar — works on stored sketch
  * columns without aggregation). */
case class KmvEstimate(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_estimate expects a binary sketch column, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_estimate"

  override def nullSafeEval(v: Any): Any =
    Kmv.estimate(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Kmv.estimate($c)")

  override protected def withNewChildInternal(c: Expression): KmvEstimate =
    copy(child = c)
}
