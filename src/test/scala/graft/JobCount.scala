package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. Jobs are seen by a
  * `SparkListener`; a marker job submitted after the measured block
  * drains the (asynchronous) listener bus before counting. */
trait JobCount extends SparkSpec {

  private val Probe = "graft.spec.jobs"

  private object Jobs extends SparkListener {
    val seen = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(Probe))).getOrElse(""))
  }
  private lazy val listening = { spark.sparkContext.addSparkListener(Jobs); true }
  private val probes = new AtomicInteger(0)

  /** The result of `body` and the number of Spark jobs the calling
    * thread submits while it runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    assert(listening)
    val sc = spark.sparkContext
    val tag = s"${getClass.getSimpleName}_${probes.incrementAndGet()}"
    sc.setLocalProperty(Probe, tag)
    val out = try body finally sc.setLocalProperty(Probe, null)
    sc.setLocalProperty(Probe, s"$tag/end")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Probe, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!Jobs.seen.asScala.exists(_ == s"$tag/end")) {
      assert(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(10)
    }
    (out, Jobs.seen.asScala.count(_ == tag))
  }
}
