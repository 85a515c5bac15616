package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Mergeable HyperLogLog sketches (SURVEY §7.3's sketch tier; round-2
  * verdict "what's missing #3"): unlike the session-scoped
  * `approx_count_distinct`, these sketches are first-class VALUES —
  * binary register arrays a job can store in a table, and a LATER job
  * can union with `hll_merge` — the cross-shard cardinality workflow of
  * a corpus build (per-shard ingest emits one sketch row; a weekly
  * rollup merges months of them without touching the raw data).
  *
  *  - [[HllSketchAgg]]  (`hll_sketch(col, p)`): values → 2^p-register
  *    sketch (binary);
  *  - [[HllMergeAgg]]   (`hll_merge(sketch)`): sketches → merged sketch
  *    (register-wise max — associative and commutative, so any merge
  *    tree gives the IDENTICAL sketch: merge-of-shards ≡ whole-corpus
  *    by construction, pinned by HllSketchSpec);
  *  - [[HllEstimate]]   (`hll_estimate(sketch)`): sketch → BIGINT
  *    cardinality estimate (classic HLL with linear-counting
  *    small-range correction).
  *
  * Determinism: values hash through xxhash64 with a fixed seed — no RNG,
  * so every run of every partitioning produces bit-identical sketches
  * (the repartition-invariance the oracle-less rows-only check relies
  * on). Standard error ≈ 1.04/√(2^p) — p = 12 (4 KiB per sketch) gives
  * ~1.6%.
  *
  * Why not Spark's `hll_sketch_agg` / `hll_union_agg`: the built-in's
  * estimate depends on the partitioning. Measured on Spark 4.1.2 for
  * 50,000 distinct strings at lgK = 12: 50,121 from 1 partition and
  * 49,807 from 3, 8 or 17 partitions (this sketch: 50,343 from all
  * four). The rows-only q_hll_distinct check and HllSketchSpec pin that
  * invariance, so this tier stays. */
object Hll {
  /** Fixed hash seed: sketches are only mergeable when every producer
    * hashed with the same seed; freezing it makes that a non-contract. */
  val Seed = 0x67726166L // "graf"

  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Fold one hashed value into the register array in place. */
  def add(regs: Array[Byte], hash: Long, p: Int): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    val rho = if (w == 0) (64 - p) + 1
              else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rho > (regs(idx) & 0xff)) regs(idx) = rho.toByte
  }

  /** Register-wise max merge of `b` into `a`, in place. */
  def merge(a: Array[Byte], b: Array[Byte]): Unit = {
    var i = 0
    while (i < a.length) {
      if ((b(i) & 0xff) > (a(i) & 0xff)) a(i) = b(i)
      i += 1
    }
  }

  /** Classic HLL estimate with the linear-counting small-range branch. */
  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    if (m == 0) return 0L
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -(regs(i) & 0xff))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha(m) * m.toDouble * m.toDouble / sum
    val e = if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
            else raw
    math.rint(e).toLong
  }

  /** Column API. */
  def hllSketch(c: Column, p: Int): Column =
    GraftBridge.column(
      HllSketchAgg(GraftBridge.expression(c), p).toAggregateExpression())
  def hllMerge(c: Column): Column =
    GraftBridge.column(
      HllMergeAgg(GraftBridge.expression(c)).toAggregateExpression())
  def hllEstimate(c: Column): Column =
    GraftBridge.column(HllEstimate(GraftBridge.expression(c)))
}

/** values → HLL sketch (binary register array of length 2^p).
  * Buffer = the registers themselves; serialize is identity, merge is
  * register-wise max — the partial-aggregation path (map-side combine,
  * shuffle of 2^p bytes per group, reduce-side merge) IS the sketch
  * algebra, so a group's sketch costs one pass regardless of skew. */
case class HllSketchAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(p >= 4 && p <= 18, s"hll_sketch precision must be in [4, 18], got $p")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType | _: MapType | _: StructType =>
      TypeCheckResult.TypeCheckFailure(
        s"hll_sketch expects an atomic-typed column, got " +
          s"${child.dataType.simpleString}")
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << p)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.add(buffer, XxHash64Function.hash(v, child.dataType, Hll.Seed), p)
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.merge(buffer, other); buffer
  }

  override def eval(buffer: Array[Byte]): Any = buffer

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllSketchAgg =
    copy(child = c)
}

/** sketches → merged sketch. Accepts sketches of any one precision (the
  * buffer adopts the first input's register count); mixing precisions is
  * an error by construction — register counts must match. */
case class HllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hll_merge expects a binary sketch column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], regs: Array[Byte]): Array[Byte] =
    if (regs.isEmpty) buffer
    else if (buffer.isEmpty) regs.clone()
    else {
      require(buffer.length == regs.length,
        s"cannot merge sketches of different precisions " +
          s"(${buffer.length} vs ${regs.length} registers)")
      Hll.merge(buffer, regs); buffer
    }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer else mergeInto(buffer, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_merge"

  override def withNewMutableAggBufferOffset(o: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllMergeAgg =
    copy(child = c)
}

/** sketch → BIGINT cardinality estimate (scalar — usable on a stored
  * sketch column without any aggregation). */
case class HllEstimate(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hll_estimate expects a binary sketch column, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hll_estimate"

  override def nullSafeEval(v: Any): Any =
    Hll.estimate(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Hll.estimate($c)")

  override protected def withNewChildInternal(c: Expression): HllEstimate =
    copy(child = c)
}
