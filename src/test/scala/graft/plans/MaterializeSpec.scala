package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The conf-gated materialization dial (r20 verdict item 1): the default
  * executor-local path and the reliable-checkpoint path must produce the
  * same rows AND the same downstream plan shape (a lineage-truncated RDD
  * scan), so flipping `spark.graft.checkpoint.reliable` at cluster scale
  * changes fault tolerance, never results. */
class MaterializeSpec extends SparkSpec {

  private def probe() = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .groupBy(expr("id % 7").as("g")).agg(count(lit(1)).as("n"))
  }

  test("local path (default): rows survive, lineage is truncated") {
    spark.conf.unset(Materialize.ReliableConf)
    val out = Materialize.once(probe())
    assert(out.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      "materialized frame must serve from a scanned RDD, not the source plan")
    assert(out.count() == 7)
  }

  test("reliable without a dir fails fast with the conf names") {
    // a context-level dir cannot be unset once installed; only
    // meaningful when none is set (this test runs before the reliable
    // path installs one)
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Materialize.ReliableConf, "true")
      try {
        val e = intercept[IllegalStateException](Materialize.once(probe()))
        assert(e.getMessage.contains("spark.checkpoint.dir"))
      } finally spark.conf.unset(Materialize.ReliableConf)
    }
  }

  test("reliable path: identical rows, same truncated-scan shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      // the deployment's own dir: Spark's spark.checkpoint.dir at
      // context start, or setCheckpointDir — Materialize installs none
      spark.sparkContext.setCheckpointDir(dir)
      val local = {
        spark.conf.set(Materialize.ReliableConf, "false")
        Materialize.once(probe()).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      }
      spark.conf.set(Materialize.ReliableConf, "true")
      val reliable = Materialize.once(probe())
      assert(reliable.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
      val rel = reliable.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rel.toSeq == local.toSeq, "both regimes must emit identical rows")
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(walk.anyMatch(_.getFileName.toString.startsWith("rdd-")),
        "reliable path must checkpoint into the context's dir")
      finally walk.close()
    } finally {
      spark.conf.unset(Materialize.ReliableConf)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
