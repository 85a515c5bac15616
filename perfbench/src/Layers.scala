package graft.perfbench

import scala.collection.mutable

/** Per-layer figures of the traced iterations, each reported as a mean
  * per traced iteration (prebuild figures: per set-up).
  *
  * Layers are the program's modules: `sources` (graft.sources + Tables
  * reads, the artifact catalog), `operators` (query and pipeline
  * construction), `plans` (planning and eager Materialize checkpoints),
  * `semantic` (keyword classification), `sinks` (writes), `exec`
  * (Spark execution) and `jvm`. A layer's time is the self time of its
  * spans: duration minus the part its child spans cover. */
final class LayerTotals {
  private var n = 0
  private var wallSum = 0.0
  private var jvm0: JvmClocks.Reading = _
  private var c0: Map[String, Double] = Map.empty
  private val jvm = mutable.Map("compiles" -> 0.0, "compile_s" -> 0.0, "jit_s" -> 0.0, "gc_s" -> 0.0)
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def begin(workloadCounters: Map[String, Double]): Unit = {
    jvm0 = JvmClocks.read()
    c0 = workloadCounters
  }

  def end(workloadCounters: Map[String, Double], wall: Double): Unit = {
    val j = JvmClocks.read()
    val compiles = j.compiles - jvm0.compiles
    jvm("compiles") += compiles
    jvm("compile_s") += compiles * j.compileMeanMs / 1000.0
    jvm("jit_s") += (j.jitMs - jvm0.jitMs) / 1000.0
    jvm("gc_s") += (j.gcMs - jvm0.gcMs) / 1000.0
    workloadCounters.foreach { case (k, v) => counters(k) += v - c0.getOrElse(k, 0.0) }
    n += 1
    wallSum += wall
  }

  def metrics(allSpans: Seq[Span], jobs: JobCounter, cores: Int, overheadS: Double,
              prebuildS: Double, trained: Int, adopted: Int): Seq[(String, Double, String)] = {
    val spans = allSpans.filter(_.kind != "prebuild") // set-up, not iterations
    val childTime = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => childTime(s.parent) += s.end - s.start)
    def self(s: Span) = (s.end - s.start - childTime(s.id)) / 1e9

    val time = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val count = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val all = new TaskTotals
    for (s <- spans) {
      time(s.kind) += self(s)
      val t = jobs.totalsOf(s.id.toString)
      all.tasks += t.tasks; all.taskNs += t.taskNs
      all.shuffleWrite += t.shuffleWrite; all.shuffleRead += t.shuffleRead
      all.spill += t.spill; all.failedTasks += t.failedTasks
      all.inputBytes += t.inputBytes
      s.kind match {
        case "exec" | "write" =>
          count("exec.jobs") += t.jobs; count("exec.stages") += t.stages
          count("exec.tasks") += t.tasks
          count("exec.single_task_stages") += t.singleTaskStages
          count("exec.task_wait_s") += t.taskWaitNs / 1e9
          if (s.kind == "write") count("sinks.output_bytes") += t.outputBytes
        case _ =>
          jobs.jobsOf(s.id.toString).foreach { j =>
            j.layer match {
              case "sources" => count("sources.construct_jobs") += 1
              case "plans" => count("plans.materialize_jobs") += 1
              case _ => count("operators.construct_jobs") += 1
            }
          }
      }
    }
    val it = math.max(1, n).toDouble
    val per = (v: Double) => v / it
    val taskS = all.taskNs / 1e9
    Seq(
      ("sources.construct_jobs", per(count("sources.construct_jobs")), "count"),
      ("sources.index_build_s", prebuildS, "s"),
      ("sources.index_trained", trained.toDouble, "count"),
      ("sources.index_adopted", adopted.toDouble, "count"),
      ("sources.input_bytes", per(all.inputBytes.toDouble), "bytes"),
      ("operators.construct_s", per(time("construct")), "s"),
      ("operators.construct_jobs", per(count("operators.construct_jobs")), "count"),
      ("plans.materialize_jobs", per(count("plans.materialize_jobs")), "count"),
      ("plans.plan_s", per(time("plan")), "s"),
      ("semantic.classify_calls", per(counters("classify_calls")), "count"),
      ("semantic.keywords", per(counters("keywords")), "count"),
      ("semantic.classify_s", per(counters("classify_s")), "s"),
      ("sinks.write_s", per(time("write")), "s"),
      ("sinks.output_bytes", per(count("sinks.output_bytes")), "bytes"),
      ("exec.exec_s", per(time("exec")), "s"),
      ("exec.jobs", per(count("exec.jobs")), "count"),
      ("exec.stages", per(count("exec.stages")), "count"),
      ("exec.tasks", per(count("exec.tasks")), "count"),
      ("exec.single_task_stages", per(count("exec.single_task_stages")), "count"),
      ("exec.task_wait_s", per(count("exec.task_wait_s")), "s"),
      ("exec.task_s", per(taskS), "s"),
      ("exec.core_util", if (wallSum > 0) taskS / (wallSum * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_bytes", per(all.shuffleWrite.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", per(all.shuffleRead.toDouble), "bytes"),
      ("exec.spill_bytes", per(all.spill.toDouble), "bytes"),
      ("exec.failed_tasks", per(all.failedTasks.toDouble), "count"),
      ("exec.codegen_compiles", per(jvm("compiles")), "count"),
      ("exec.codegen_compile_s", per(jvm("compile_s")), "s"),
      ("jvm.jit_s", per(jvm("jit_s")), "s"),
      ("jvm.gc_s", per(jvm("gc_s")), "s"),
      ("trace.op_gap_s", per(time("op")), "s"),
      ("trace.iteration_gap_s", per(time("iteration")), "s"),
      ("trace.overhead_s", overheadS, "s"),
      ("trace.spans", per(spans.size.toDouble), "count"))
  }
}
