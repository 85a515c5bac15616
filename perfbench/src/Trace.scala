package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `kind` is the layer boundary crossed
  * (iteration, op, construct, plan, exec, write, prebuild); `op` names
  * the query, pipeline or artifact the call belongs to. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      op: String, start: Long, end: Long)

/** Per-job facts gathered by [[JobCounter]]; `layer` comes from the
  * call site of the job's result stage. */
final case class JobFacts(group: String, layer: String)

/** Task-level totals of one span (or of a whole set of jobs). */
final class TaskTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var singleTaskStages = 0L
  var taskWaitNs = 0L; var taskNs = 0L; var shuffleWrite = 0L
  var shuffleRead = 0L; var spill = 0L; var failedTasks = 0L
  var inputBytes = 0L; var outputBytes = 0L
}

/** SparkListener the benchmark registers itself: counts jobs, stages,
  * tasks and bytes, and attributes each job to the span that submitted
  * it through the job group the tracer sets around every call. */
final class JobCounter(sourceFiles: Set[String]) extends SparkListener {
  private val jobs = TrieMap.empty[Int, JobFacts]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageSubmitted = TrieMap.empty[Int, Long]
  private val byGroup = TrieMap.empty[String, TaskTotals]
  private val events = new AtomicLong(0)
  private val openJobs = new AtomicLong(0)

  private def totals(group: String): TaskTotals =
    byGroup.getOrElseUpdate(group, new TaskTotals)

  /** Layer of a job, from the file in its result stage's call site
    * (`count at Materialize.scala:53`). */
  def layerOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("")
      .split(':').headOption.getOrElse("")
    if (file == "Materialize.scala") "plans"
    else if (file == "Tables.scala" || sourceFiles.contains(file)) "sources"
    else "operators"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet(); openJobs.incrementAndGet()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val result = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, JobFacts(group, layerOf(result)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    synchronized { val t = totals(group); t.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet(); openJobs.decrementAndGet()
  }

  private def groupOfStage(stageId: Int): String =
    stageJob.get(stageId).flatMap(jobs.get).map(_.group).getOrElse("")

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    val info = e.stageInfo
    stageSubmitted.put(info.stageId,
      info.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val info = e.stageInfo
    synchronized {
      val t = totals(groupOfStage(info.stageId))
      t.stages += 1
      if (info.numTasks == 1) t.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val info = e.taskInfo
    val m = e.taskMetrics
    synchronized {
      val t = totals(groupOfStage(e.stageId))
      t.tasks += 1
      val submitted = stageSubmitted.getOrElse(e.stageId, info.launchTime)
      t.taskWaitNs += math.max(0L, info.launchTime - submitted) * 1000000L
      t.taskNs += info.duration * 1000000L
      if (info.failed || info.killed) t.failedTasks += 1
      if (m != null) {
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Block until the listener bus has delivered every event of the jobs
    * run so far: no job open and no new event for 200 ms. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (openJobs.get() > 0 || events.get() != last)) {
      last = events.get()
      Thread.sleep(200)
    }
  }

  def jobsOf(group: String): Seq[JobFacts] =
    jobs.values.filter(_.group == group).toSeq

  def totalsOf(group: String): TaskTotals =
    byGroup.getOrElse(group, new TaskTotals)
}

/** Process-wide compile and GC clocks, read as deltas around the timed
  * iterations. */
object JvmClocks {
  private val compileHist = {
    // CodegenMetrics is Spark-internal in Scala but public in bytecode
    val c = Class.forName("org.apache.spark.metrics.source.CodegenMetrics")
    c.getMethod("METRIC_COMPILATION_TIME").invoke(null)
      .asInstanceOf[com.codahale.metrics.Histogram]
  }

  final case class Reading(compiles: Long, compileMeanMs: Double,
                           jitMs: Long, gcMs: Long)

  def read(): Reading = Reading(
    compileHist.getCount,
    compileHist.getSnapshot.getMean,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Times every call the benchmark makes into a layer. With tracing on it
  * also keeps a span per call in memory and tags the call's Spark jobs
  * with the span id (the job group), so the [[JobCounter]] can attribute
  * them; spans are written out once, when the run ends. */
final class Tracer {
  /** Context of the current session, whose jobs the tracer tags. */
  var sc: SparkContext = _
  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil

  /** Run `body` as one call of `kind`; returns its value and seconds. */
  def timed[T](kind: String, name: String, op: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(id.toString, s"$kind $op", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val v = body
        val t1 = System.nanoTime()
        spans += Span(id, parent, kind, name, op, t0, t1)
        (v, (t1 - t0) / 1e9)
      } catch { case e: Throwable =>
        spans += Span(id, parent, kind, name, op, t0, System.nanoTime())
        throw e
      } finally {
        stack = stack.tail
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(parent.toString, s"$kind $op", interruptOnCancel = false)
      }
    }
  }

  def apply[T](kind: String, name: String, op: String)(body: => T): T =
    timed(kind, name, op)(body)._1

  /** Write every span as one JSON line; `jobs` gives a span's job count
    * per layer. */
  def write(path: java.nio.file.Path, jobs: Long => Map[String, Int]): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      val js = jobs(s.id).toSeq.sorted.map { case (l, n) => s""""$l":$n""" }.mkString(",")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""")
        .append(s""""name":"${Json.esc(s.name)}","op":"${Json.esc(s.op)}",""")
        .append(s""""start_ns":${s.start},"end_ns":${s.end},"jobs":{$js}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
