package graft.pipeline

import graft.sources.{ConsoleSink, ParquetSink, Sources}

/** Runnable end-to-end demo of both Customer360 pipelines over the
  * reference sample data (console + parquet sinks, no warehouse needed):
  *
  *   sbt "runMain graft.pipeline.PipelineDemo /tmp/c360_out"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/c360_out")
    val spark = graft.Session.local("customer360")

    val sample = "/root/reference/data/log_content_sample"
    val search = "/root/reference/data/log_search/20220701"

    val aPaths = Sources.dayRange("20220401", "20220430").map(d => s"$sample/$d.json")
    println(s"=== pipeline A: ${aPaths.size} day files -> engagement profile")
    val profile = InteractionPipeline.build(spark, aPaths)
    ConsoleSink(10).write(profile, "interaction_data")
    ParquetSink(outDir).write(profile, "interaction_data")
    println(s"interaction_data rows: ${spark.read.parquet(s"$outDir/interaction_data").count()}")

    println("=== pipeline B: search logs -> behavior trends")
    val behavior = BehaviorPipeline.build(spark, Seq(search), Seq(search))
    ConsoleSink(10).write(behavior, "behavior_data")
    ParquetSink(outDir).write(behavior, "behavior_data")
    println(s"behavior_data rows: ${spark.read.parquet(s"$outDir/behavior_data").count()}")

    println("=== pipeline B via batch (remote-LLM-shaped) classifier")
    val behaviorBatch = BehaviorPipeline.build(spark, Seq(search), Seq(search),
      new graft.semantic.MockLlmClassifier())
    val agree = behaviorBatch.exceptAll(behavior).count() == 0 &&
      behavior.exceptAll(behaviorBatch).count() == 0
    println(s"batch-classified rows: ${behaviorBatch.count()}, " +
      s"agreeing with expression path (both directions): $agree")

    spark.stop()
  }
}
