package graft

/** Plan inspection tool: formatted physical plan + wall time for one or
  * more registered queries.
  *
  *   sbt "runMain graft.Explain <sfDir> <queryName> [queryName…]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val queries = if (args.length > 1) Harness.resolve(args.tail.toSeq) else Harness.all
    val spark = Session.local("graft-explain", Session.envCpus(32))
    queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      var rows = 0L
      Harness.attempt(spark, "explain", name) {
        rows = df.queryExecution.toRdd.count() // full materialization
      }.foreach(t => println(f"rows=$rows time=$t%.2fs"))
    }
    spark.stop()
  }
}
