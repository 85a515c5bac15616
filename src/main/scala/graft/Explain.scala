package graft

/** Plan inspection tool: formatted physical plan + wall time for one or
  * more registered queries.
  *
  *   sbt "runMain graft.Explain <sfDir> <queryName> [queryName…]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local("graft-explain", Session.envCpus(32))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count() // full materialization
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
