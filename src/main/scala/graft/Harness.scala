package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The code the driver mains (`Bench`, `Verify`, `ScaleSmoke`,
  * `Explain`) share: which queries a run covers, the catalog prebuild,
  * the timed attempt, scratch-dir drives and JSON. A per-query hook
  * (telemetry, job tags) attaches here once for all four. */
object Harness {

  type QueryFn = (SparkSession, String) => DataFrame

  private lazy val registry: Map[String, QueryFn] = SparkEntry.queries

  /** `names` with their builders, in the given order. Fails before any
    * work starts, naming every unknown query: a misspelled name must
    * not silently drop out of a run. */
  def resolve(names: Seq[String]): Seq[(String, QueryFn)] = {
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(n => n -> registry(n))
  }

  /** Every registered query, sorted by name. */
  def all: Seq[(String, QueryFn)] = resolve(registry.keys.toSeq.sorted)

  /** The `SPARK_GRAFT_ONLY` subset (a comma list of query names), or
    * None for the whole registry. A filtered run is diagnostic: it
    * must never overwrite a canonical artifact. */
  def only(spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Option[Seq[(String, QueryFn)]] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq)
      .filter(_.nonEmpty).map(resolve)

  /** One timed attempt: seconds, or None after a `[tag] name failed`
    * stderr line. Caches are cleared after either way, so attempts do
    * not pay for each other's memory pressure. */
  def attempt(spark: SparkSession, tag: String, name: String)(body: => Unit)
      : Option[Double] = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        Console.err.println(s"[$tag] $name failed: ${e.getMessage}"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    if (ok) Some(dt) else None
  }

  /** [[attempt]] over a query's construction and full materialization
    * (a bare `count()` lets Spark skip map-only projections). */
  def time(spark: SparkSession, tag: String, name: String, fn: QueryFn,
      sfDir: String): Option[Double] =
    attempt(spark, tag, name)(fn(spark, sfDir).queryExecution.toRdd.count())

  /** One [[graft.operators.IndexBuilds]] trigger's outcome: seconds
    * (None = failed) and whether it trained or adopted a manifest-valid
    * artifact from an earlier process (an adoption is a registration
    * replay, and counting it as training would understate a cold run). */
  final case class Build(name: String, sec: Option[Double], trained: Boolean)

  /** Build every catalog artifact once, each timed on its own, so the
    * queries after it measure serving cost. `force` ignores existing
    * manifests for these builds (a cold-build probe). */
  def prebuild(spark: SparkSession, sfDir: String, tag: String,
      force: Boolean = false): Seq[Build] = {
    if (force) sys.props("graft.catalog.rebuild") = "1"
    try graft.operators.IndexBuilds.all.map { case (name, fn) =>
      val b0 = graft.sources.IndexCatalog.buildCount.get()
      val sec = attempt(spark, tag, name)(fn(spark, sfDir))
      Build(name, sec, graft.sources.IndexCatalog.buildCount.get() > b0)
    } finally if (force) sys.props.remove("graft.catalog.rebuild")
  }

  /** A drive outside the timed query set: `body` gets a fresh scratch
    * directory, deleted afterwards. Returns (ok, seconds). */
  def drive(spark: SparkSession, tag: String, name: String)(body: String => Unit)
      : (Boolean, Double) = {
    val t0 = System.nanoTime()
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_$name").toString
    val ok =
      try attempt(spark, tag, s"$name drive")(body(dir)).isDefined
      finally {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    (ok, (System.nanoTime() - t0) / 1e9)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Compact JSON for Scala values: maps (use an ordered map where key
    * order matters), sequences, strings, numbers and booleans. */
  def json(value: Any): String = mapper.writeValueAsString(value)

  def parse(text: String): JsonNode = mapper.readTree(text)

  /** Seconds rounded to milliseconds, as every harness artifact records them. */
  def r3(v: Double): Double = math.rint(v * 1000) / 1000
}
