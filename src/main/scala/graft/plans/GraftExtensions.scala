package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook registering the engine's native
  * expressions for SQL use:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).…
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * then e.g.
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM …
  *   SELECT minhashes(shingles, 8) FROM …
  *   SELECT hyperplane_bands(embedding, 16, 2) FROM …
  *
  * Literal-argument contract: `minhashes`/`hyperplane_bands` take their
  * k/planes/bandBits as integer literals (they parameterize the fused
  * loop, not per-row data).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
                     what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("minhashes"),
      new ExpressionInfo(classOf[MinHashes].getName, "minhashes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashes(children(0), intLit(children(1), "minhashes k"))))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordShingles(children(0), intLit(children(1), "word_shingles k"))))
    e.injectFunction((
      FunctionIdentifier("hyperplane_bands"),
      new ExpressionInfo(classOf[HyperplaneBands].getName, "hyperplane_bands"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HyperplaneBands(children(0),
          intLit(children(1), "hyperplane_bands planes"),
          intLit(children(2), "hyperplane_bands bandBits"))))
    e.injectFunction((
      FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[HllSketchAgg].getName, "hll_sketch"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HllSketchAgg(children(0), intLit(children(1), "hll_sketch p"))
          .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("hll_merge"),
      new ExpressionInfo(classOf[HllMergeAgg].getName, "hll_merge"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HllMergeAgg(children(0)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[HllEstimate].getName, "hll_estimate"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HllEstimate(children(0))))
    e.injectFunction((
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchAgg].getName, "kmv_sketch"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        KmvSketchAgg(children(0), intLit(children(1), "kmv_sketch k"))
          .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("kmv_merge"),
      new ExpressionInfo(classOf[KmvMergeAgg].getName, "kmv_merge"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        KmvMergeAgg(children(0)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(classOf[KmvEstimate].getName, "kmv_estimate"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        KmvEstimate(children(0))))
    e.injectFunction((
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsSketchAgg].getName, "cms_sketch"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CmsSketchAgg(children(0), intLit(children(1), "cms_sketch d"),
          intLit(children(2), "cms_sketch w")).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("cms_merge"),
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "cms_merge"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CmsMergeAgg(children(0)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("cms_query"),
      new ExpressionInfo(classOf[CmsQuery].getName, "cms_query"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CmsQuery(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("cms_total"),
      new ExpressionInfo(classOf[CmsTotal].getName, "cms_total"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CmsTotal(children(0))))
    e.injectFunction((
      FunctionIdentifier("qsketch"),
      new ExpressionInfo(classOf[QSketchAgg].getName, "qsketch"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QSketchAgg(children(0), children(1), intLit(children(2), "qsketch k"))
          .toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("qsketch_merge"),
      new ExpressionInfo(classOf[QSketchMergeAgg].getName, "qsketch_merge"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QSketchMergeAgg(children(0)).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("qsketch_quantile"),
      new ExpressionInfo(classOf[QSketchQuantile].getName, "qsketch_quantile"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QSketchQuantile(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("qsketch_n"),
      new ExpressionInfo(classOf[QSketchN].getName, "qsketch_n"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QSketchN(children(0), total = true)))
    e.injectFunction((
      FunctionIdentifier("qsketch_m"),
      new ExpressionInfo(classOf[QSketchN].getName, "qsketch_m"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        QSketchN(children(0), total = false)))
  }
}
