package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable count-min sketches — point-frequency estimation over a
  * stream, the "how often did THIS token/url/user appear" companion to
  * the heavy-hitters tier (which answers "WHICH items are frequent").
  *
  *  - [[CmsSketchAgg]] (`cms_sketch(col, d, w)`): string stream → d×w
  *    counter grid (binary);
  *  - [[CmsMergeAgg]]  (`cms_merge(sk)`): element-wise counter sums;
  *  - [[CmsQuery]]     (`cms_query(sk, key)`): min over the key's d
  *    cells — BIGINT, ≥ the true count always, ≤ true + e·n/w with
  *    probability 1 − e^−d;
  *  - [[CmsTotal]]     (`cms_total(sk)`): stream length n.
  *
  * Unlike a frequent-items sketch, every cell is a PURE SUM: the sketch is
  * stream-order independent, so merge-of-shards ≡ whole-corpus
  * BYTE-FOR-BYTE under ANY partitioning (the HLL/KMV identity, with no
  * below-capacity caveat) — and since the row hashes are md5-derived,
  * DuckDB can replay the entire grid and the query is fully
  * ORACLE-CHECKED, collisions included: bucket(r, v) = first 32 bits of
  * md5(r || '|' || v) mod w; cell(r, b) = Σ count(v) over colliding v;
  * estimate = min over r. ~8·d·w bytes per sketch.
  *
  * Why not Spark's `count_min_sketch`: its rows hash with its own seeded
  * Murmur3 and its serialized form is opaque, so DuckDB cannot replay
  * the grid and q_cms_counts would lose its hash-for-hash oracle,
  * collisions included. The md5 bucket rule keeps it, so this tier
  * stays. */
object Cms {

  final class Buffer(var d: Int, var w: Int) {
    var n: Long = 0L
    var tbl: Array[Long] = new Array[Long](d * w)
  }

  /** Row-r bucket of a rendered value: first 32 bits (unsigned) of
    * md5("r|value") mod w — digit-for-digit what the SQL oracle
    * computes from the hex string. */
  def bucket(r: Int, utf8: Array[Byte], w: Int): Int = {
    val prefix = s"$r|".getBytes("UTF-8")
    val all = new Array[Byte](prefix.length + utf8.length)
    System.arraycopy(prefix, 0, all, 0, prefix.length)
    System.arraycopy(utf8, 0, all, prefix.length, utf8.length)
    val dig = Kmv.hash(all)
    val u32 = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
    (u32 % w).toInt
  }

  def insert(b: Buffer, utf8: Array[Byte]): Unit = {
    b.n += 1
    var r = 0
    while (r < b.d) {
      b.tbl(r * b.w + bucket(r, utf8, b.w)) += 1L
      r += 1
    }
  }

  /** Element-wise sum; a d=0 sketch (merge over zero inputs) is the
    * degenerate empty grid, compatible with any shape. */
  def merge(a: Buffer, b: Buffer): Buffer = {
    require(a.d == 0 || b.d == 0 || (a.d == b.d && a.w == b.w),
      s"cannot merge cms sketches of different shape " +
        s"(${a.d}x${a.w} vs ${b.d}x${b.w})")
    if (a.d == 0) { b.n += a.n; return b }
    // Symmetric guard: a 0x0 sketch can arrive on the RIGHT too — a
    // cms_merge partial stage emits one buffer per shuffle partition,
    // empty partitions included, and merge order is AQE/arrival-dependent.
    if (b.d == 0) { a.n += b.n; return a }
    a.n += b.n
    var i = 0
    while (i < a.tbl.length) { a.tbl(i) += b.tbl(i); i += 1 }
    a
  }

  def serialize(b: Buffer): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 4 + 8 + b.tbl.length * 8)
    out.putInt(b.d).putInt(b.w).putLong(b.n)
    var i = 0
    while (i < b.tbl.length) { out.putLong(b.tbl(i)); i += 1 }
    out.array()
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val b = new Buffer(in.getInt, in.getInt)
    b.n = in.getLong
    var i = 0
    while (i < b.tbl.length) { b.tbl(i) = in.getLong; i += 1 }
    b
  }

  /** min over the key's d cells; 0 on the degenerate empty sketch (the
    * exact count of anything in an empty stream). */
  def query(bytes: Array[Byte], key: UTF8String): Long = {
    val b = deserialize(bytes)
    if (b.d == 0) return 0L
    val utf8 = key.getBytes
    var est = Long.MaxValue
    var r = 0
    while (r < b.d) {
      val c = b.tbl(r * b.w + bucket(r, utf8, b.w))
      if (c < est) est = c
      r += 1
    }
    est
  }

  def total(bytes: Array[Byte]): Long = deserialize(bytes).n

  /** Column API. */
  def cmsSketch(c: Column, d: Int, w: Int): Column =
    GraftBridge.column(
      CmsSketchAgg(GraftBridge.expression(c), d, w).toAggregateExpression())
  def cmsMerge(c: Column): Column =
    GraftBridge.column(
      CmsMergeAgg(GraftBridge.expression(c)).toAggregateExpression())
  def cmsQuery(sk: Column, key: Column): Column =
    GraftBridge.column(
      CmsQuery(GraftBridge.expression(sk), GraftBridge.expression(key)))
  def cmsTotal(c: Column): Column =
    GraftBridge.column(CmsTotal(GraftBridge.expression(c)))
}

/** string values → count-min grid. */
case class CmsSketchAgg(
    child: Expression,
    d: Int,
    w: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Cms.Buffer] with UnaryLike[Expression] {

  require(d >= 1 && w >= 2, s"cms_sketch needs d >= 1, w >= 2, got ${d}x$w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects a string column (md5-of-rendered-value is the " +
        s"oracle contract), got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Cms.Buffer = new Cms.Buffer(d, w)

  override def update(buffer: Cms.Buffer, input: InternalRow): Cms.Buffer = {
    val v = child.eval(input)
    if (v != null) Cms.insert(buffer, v.asInstanceOf[UTF8String].getBytes)
    buffer
  }

  override def merge(buffer: Cms.Buffer, other: Cms.Buffer): Cms.Buffer =
    Cms.merge(buffer, other)

  override def eval(buffer: Cms.Buffer): Any = Cms.serialize(buffer)
  override def serialize(buffer: Cms.Buffer): Array[Byte] = Cms.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): Cms.Buffer = Cms.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsSketchAgg =
    copy(child = c)
}

/** sketches → merged sketch (shape adopted from the first non-empty). */
case class CmsMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Cms.Buffer] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_merge expects a binary sketch column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Cms.Buffer = new Cms.Buffer(0, 0)

  override def update(buffer: Cms.Buffer, input: InternalRow): Cms.Buffer = {
    val v = child.eval(input)
    if (v == null) buffer
    else Cms.merge(buffer, Cms.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buffer: Cms.Buffer, other: Cms.Buffer): Cms.Buffer =
    Cms.merge(buffer, other)

  override def eval(buffer: Cms.Buffer): Any = Cms.serialize(buffer)
  override def serialize(buffer: Cms.Buffer): Array[Byte] = Cms.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): Cms.Buffer = Cms.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_merge"

  override def withNewMutableAggBufferOffset(o: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsMergeAgg =
    copy(child = c)
}

/** (sketch, key) → BIGINT point-frequency estimate. */
case class CmsQuery(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_query expects (binary sketch, string key), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cms_query"

  override def nullSafeEval(sk: Any, key: Any): Any =
    Cms.query(sk.asInstanceOf[Array[Byte]], key.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.Cms.query($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sketch → BIGINT stream length n. */
case class CmsTotal(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_total expects a binary sketch column, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cms_total"

  override def nullSafeEval(v: Any): Any = Cms.total(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Cms.total($c)")

  override protected def withNewChildInternal(c: Expression): CmsTotal =
    copy(child = c)
}
