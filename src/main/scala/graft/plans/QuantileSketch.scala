package graft.plans

import java.util.{TreeMap => JTreeMap}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Mergeable quantile sketches via deterministic bottom-k row sampling —
  * the second ORACLE-CHECKABLE sketch (after [[Kmv]]). KLL/t-digest
  * style summaries are RNG- or merge-order-dependent; this sketch keeps
  * the rows whose key digests are the k smallest md5 values, which is a
  * uniform row sample that is
  *
  *  - deterministic: a pure function of the key set, no RNG;
  *  - mergeable EXACTLY: the bottom-k of a union is the truncated union
  *    of bottom-k sets, so merge-of-shards ≡ whole-corpus byte-for-byte
  *    (the KMV identity, carried over with a value payload per digest);
  *  - oracle-exact: DuckDB reproduces the sample (`ORDER BY md5(key)
  *    LIMIT k`) AND the estimate — the q-quantile is the sample's value
  *    at index floor(q·(m−1)), a selection, not an interpolation, so
  *    the reported double is a stored input value, hash-identical
  *    across engines.
  *
  * Error contract: a uniform sample of m rows puts the sample
  * q-quantile within O(1/√m) rank error of the true quantile —
  * cross-shard p50/p90/p99 without a global sort, the percentile
  * workflow a 100 TB telemetry pass runs. Exact below capacity: while
  * the group holds ≤ k rows the sample IS the group and quantiles are
  * exact.
  *
  *  - [[QSketchAgg]]      (`qsketch(key, value, k)`): rows → sketch;
  *  - [[QSketchMergeAgg]] (`qsketch_merge(sk)`): sketches → sketch;
  *  - [[QSketchQuantile]] (`qsketch_quantile(sk, q)`): sketch → DOUBLE;
  *  - [[QSketchN]] / [[QSketchM]]: rows seen / sample size.
  *
  * The key column is a unique row identifier rendered as STRING (the
  * md5-of-rendered-value oracle contract, as [[Kmv]]); a duplicate key
  * deterministically keeps the smaller value. ~24·k bytes per sketch.
  *
  * Why not Spark's `kll_sketch_agg_double` and its merge/quantile
  * functions: KLL compacts with random choices, so neither the sample
  * nor the quantile can be recomputed by DuckDB, and q_qtile_sketch
  * would lose its hash-for-hash oracle. This sketch keeps it, so it
  * stays. */
object QSketch {

  final class Buffer(var k: Int) {
    var n: Long = 0L // rows seen (not sample size)
    val map = new JTreeMap[Array[Byte], Double](Kmv.ByteOrder)
    def add(digest: Array[Byte], value: Double): Unit = {
      if (map.containsKey(digest)) {
        if (value < map.get(digest)) map.put(digest, value)
      } else if (map.size() < k) {
        map.put(digest, value)
      } else if (Kmv.ByteOrder.compare(digest, map.lastKey()) < 0) {
        map.put(digest, value)
        map.pollLastEntry()
      }
    }
  }

  def serialize(b: Buffer): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 8 + b.map.size() * (Kmv.DigestLen + 8))
    out.putInt(b.k)
    out.putLong(b.n)
    val it = b.map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.put(e.getKey)
      out.putDouble(e.getValue)
    }
    out.array()
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val b = new Buffer(in.getInt)
    b.n = in.getLong
    while (in.remaining() >= Kmv.DigestLen + 8) {
      val d = new Array[Byte](Kmv.DigestLen)
      in.get(d)
      b.add(d, in.getDouble)
    }
    b
  }

  /** merge-of-shards ≡ whole-corpus: k = 0 (a merge over zero non-null
    * inputs) is the degenerate empty sketch, compatible with any k. */
  def merge(a: Buffer, b: Buffer): Buffer = {
    require(a.k == 0 || b.k == 0 || a.k == b.k,
      s"cannot merge quantile sketches with different k (${a.k} vs ${b.k})")
    if (a.k == 0) { b.n += a.n; return b }
    a.n += b.n
    val it = b.map.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); a.add(e.getKey, e.getValue) }
    a
  }

  /** Sample q-quantile by selection: the value at index floor(q·(m−1))
    * of the sample sorted ascending. Null (boxed) on an empty sketch —
    * the degrade-don't-crash rule the KMV guards follow. */
  def quantile(bytes: Array[Byte], q: Double): java.lang.Double = {
    val b = deserialize(bytes)
    val m = b.map.size()
    if (m == 0) return null
    val qq = math.max(0.0, math.min(1.0, q))
    val values = new Array[Double](m)
    val it = b.map.values().iterator()
    var i = 0
    while (it.hasNext) { values(i) = it.next(); i += 1 }
    java.util.Arrays.sort(values)
    values(math.floor(qq * (m - 1)).toInt)
  }

  def nRows(bytes: Array[Byte]): Long = deserialize(bytes).n
  def mSample(bytes: Array[Byte]): Long = deserialize(bytes).map.size().toLong

  /** Column API. */
  def qSketch(key: Column, value: Column, k: Int): Column =
    GraftBridge.column(QSketchAgg(GraftBridge.expression(key),
      GraftBridge.expression(value), k).toAggregateExpression())
  def qSketchMerge(c: Column): Column =
    GraftBridge.column(
      QSketchMergeAgg(GraftBridge.expression(c)).toAggregateExpression())
  def qSketchQuantile(c: Column, q: Column): Column =
    GraftBridge.column(
      QSketchQuantile(GraftBridge.expression(c), GraftBridge.expression(q)))
  def qSketchN(c: Column): Column =
    GraftBridge.column(QSketchN(GraftBridge.expression(c), total = true))
  def qSketchM(c: Column): Column =
    GraftBridge.column(QSketchN(GraftBridge.expression(c), total = false))
}

/** (key, value) rows → quantile sketch. Skips rows where either side is
  * null (the oracle's `WHERE value IS NOT NULL` contract). */
case class QSketchAgg(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QSketch.Buffer] with BinaryLike[Expression] {

  require(k >= 2, s"qsketch needs k >= 2, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"qsketch expects (string key, double value), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def createAggregationBuffer(): QSketch.Buffer = new QSketch.Buffer(k)

  override def update(buffer: QSketch.Buffer, input: InternalRow): QSketch.Buffer = {
    val kv = left.eval(input)
    val vv = right.eval(input)
    if (kv != null && vv != null) {
      buffer.n += 1
      buffer.add(
        Kmv.hash(kv.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes),
        vv.asInstanceOf[Double])
    }
    buffer
  }

  override def merge(buffer: QSketch.Buffer, other: QSketch.Buffer): QSketch.Buffer =
    QSketch.merge(buffer, other)

  override def eval(buffer: QSketch.Buffer): Any = QSketch.serialize(buffer)

  override def serialize(buffer: QSketch.Buffer): Array[Byte] = QSketch.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): QSketch.Buffer = QSketch.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "qsketch"

  override def withNewMutableAggBufferOffset(o: Int): QSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QSketchAgg =
    copy(left = newLeft, right = newRight)
}

/** sketches → merged sketch (k adopted from the first non-empty input). */
case class QSketchMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QSketch.Buffer] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"qsketch_merge expects a binary sketch column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): QSketch.Buffer = new QSketch.Buffer(0)

  override def update(buffer: QSketch.Buffer, input: InternalRow): QSketch.Buffer = {
    val v = child.eval(input)
    if (v == null) buffer
    else QSketch.merge(buffer, QSketch.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buffer: QSketch.Buffer, other: QSketch.Buffer): QSketch.Buffer =
    QSketch.merge(buffer, other)

  override def eval(buffer: QSketch.Buffer): Any = QSketch.serialize(buffer)

  override def serialize(buffer: QSketch.Buffer): Array[Byte] = QSketch.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): QSketch.Buffer = QSketch.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "qsketch_merge"

  override def withNewMutableAggBufferOffset(o: Int): QSketchMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QSketchMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): QSketchMergeAgg =
    copy(child = c)
}

/** (sketch, q) → DOUBLE sample quantile (null on an empty sketch). */
case class QSketchQuantile(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"qsketch_quantile expects (binary sketch, double q), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "qsketch_quantile"

  override def nullSafeEval(sk: Any, q: Any): Any =
    QSketch.quantile(sk.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    // boxed-null return: route through nullSafeCodeGen with an isNull set
    nullSafeCodeGen(ctx, ev, (sk, q) => {
      val boxed = ctx.freshName("qv")
      s"""java.lang.Double $boxed = graft.plans.QSketch.quantile($sk, $q);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sketch → BIGINT: rows seen (`total = true`) or sample size. */
case class QSketchN(child: Expression, total: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary sketch column, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (total) "qsketch_n" else "qsketch_m"

  override def nullSafeEval(v: Any): Any =
    if (total) QSketch.nRows(v.asInstanceOf[Array[Byte]])
    else QSketch.mSample(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val fn = if (total) "nRows" else "mSample"
    defineCodeGen(ctx, ev, c => s"graft.plans.QSketch.$fn($c)")
  }

  override protected def withNewChildInternal(c: Expression): QSketchN =
    copy(child = c)
}
