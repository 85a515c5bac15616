package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, LogicalQueryStage}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll

/** Whole-inventory plan hygiene. The shapes that silently turn into n²
  * work or one-task stages at scale are:
  *  - a nested-loop or cartesian join, and
  *  - a static `broadcast` hint (Spark attempts the exchange whatever the
  *    side measures, and fails at the broadcast cap instead of demoting
  *    to a sort-merge join).
  *
  * In a registered query each such site must have a side that is
  * bounded, either
  *  - statically: the side's logical subtree reaches only global
  *    aggregates, limits, `LocalRelation`s and `region`/`nation` scans;
  *    every other leaf (file scans, checkpointed `LogicalRDD`s, `Range`,
  *    cached relations) is denied by default; or
  *  - by measurement: the side has the same row count at sf0.001 and on
  *    a grown corpus ([[ScaleSmoke.deriveCorpus]]: sf0.01 with its
  *    documents and embeddings doubled, so both the TPC-H tables and the
  *    corpus grow — `documents` and `embeddings` alone have 500 rows at
  *    both sf0.001 and sf0.01). The doubling adds near-copies (the same
  *    text plus a replica token, the same vector with one component
  *    jittered), so a side whose size follows DISTINCT content — dedup
  *    clusters, keep-lists, cluster representatives — can measure the
  *    same at both scales and still be corpus-sized: a measured pass
  *    does not show such a side bounded.
  * A side that changes with the data inside a fixed domain may be
  * listed in [[rowBounds]] with a numeric row bound, checked at both
  * scales; nothing is exempt by name.
  *
  * The [[operators.IndexBuilds]] builders are held to the stricter
  * standard: no nested-loop join, no cartesian join and no static
  * broadcast hint at all. A `QueryExecutionListener` captures their
  * plans during a FORCED prebuild at sf0.001, after which the
  * artifact-backed queries plan from their artifacts. The listener sees
  * every Dataset action a builder runs; a plan a builder runs through
  * `.rdd` never reaches it.
  *
  * The window check walks every physical plan through AQE, subqueries
  * and cached relations. Planning a query still runs whatever its
  * construction runs. */
class PlanHygieneSpec extends SparkSpec with BeforeAndAfterAll {
  import PlanHygieneSpec._

  /** Queries whose flagged side changes with the data inside a fixed
    * domain: its row count must stay within the bound at both scales.
    * The corpus has 20 sources at every scale factor. */
  private val rowBounds = Map(
    // per-source epoch targets frame (CorpusQueries.epochTargets)
    "q_corpus_schedule" -> 20L,
    "q_corpus_schedule_served" -> 20L,
    "q_corpus_schedule_pareto_served" -> 20L,
    "q_corpus_draws_served" -> 20L,
    // salient query terms: 5 query docs × top-4 terms
    // (RetrievalQueries.hybridRanked)
    "q_hybrid_rrf" -> 20L,
    "q_retrieval_mrr" -> 20L)

  /** Schema-bounded TPC-H dims: 5 and 25 rows at every scale factor. */
  private val boundedTables = Set("region.parquet", "nation.parquet")

  private object Adaptive extends AdaptiveSparkPlanHelper

  /** `pf` over every physical node: through adaptive plans, query
    * stages, subqueries and the plans of cached relations. */
  private def physical[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    Adaptive.collectWithSubqueries(p)(pf) ++
      Adaptive.collectWithSubqueries(p) { case i: InMemoryTableScanExec =>
        i.relation.cachedPlan }.flatMap(physical(_)(pf))

  private def nestedLoops(p: SparkPlan): Seq[SparkPlan] = physical(p) {
    case j: BroadcastNestedLoopJoinExec => j
    case j: CartesianProductExec => j
  }

  private def broadcastHints(p: LogicalPlan): Seq[ResolvedHint] =
    p.collectWithSubqueries {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }

  /** WindowExecs with an empty partition spec: ONE task for the input. */
  private def unpartitionedWindows(df: DataFrame): Seq[SparkPlan] =
    physical(df.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
    }

  /** None if `p` is statically bounded, else the leaf that is not. */
  private def unbounded(p: LogicalPlan): Option[String] = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty => None
    case _: GlobalLimit | _: LocalLimit | _: LocalRelation => None
    case r: LogicalRelation => r.relation match {
      case f: HadoopFsRelation =>
        val names = f.location.rootPaths.map(_.getName)
        names.find(n => !boundedTables(n))
          .orElse(if (names.isEmpty) Some("file scan") else None)
      case other => Some(other.getClass.getSimpleName)
    }
    case _: LogicalRDD => Some("checkpointed LogicalRDD")
    case l: LogicalQueryStage => unbounded(l.logicalPlan)
    case leaf if leaf.children.isEmpty => Some(leaf.nodeName)
    case other => other.children.iterator.flatMap(unbounded).nextOption()
  }

  private def sites(df: DataFrame): Seq[Site] = sites(df.queryExecution)

  private def sites(qe: QueryExecution): Seq[Site] =
    nestedLoops(qe.executedPlan).map(j => j.logicalLink match {
      case Some(l: Join) => Site(j.nodeName, Seq(l.left, l.right))
      case _ => Site(j.nodeName, Nil)
    }) ++ broadcastHints(qe.analyzed).map(h => Site("broadcast hint", Seq(h.child)))

  private def rows(p: LogicalPlan): Long = spark.sessionState
    .executePlan(p.transform { case l: LogicalQueryStage => l.logicalPlan })
    .toRdd.count()

  /** Scratch directory for the grown corpus and its catalog, made on
    * first use and deleted after the suite. */
  private var scratch: Option[String] = None

  /** sf0.01 with the corpus doubled. */
  private lazy val grown: String = {
    val base = java.nio.file.Files.createTempDirectory("graft_hygiene").toString
    scratch = Some(base)
    ScaleSmoke.deriveCorpus(spark, sf0001.replace("sf0.001", "sf0.01"),
      s"$base/corpus", 2)
    s"$base/corpus"
  }

  /** `body` with the catalog rooted in the scratch directory, where the
    * grown corpus's artifacts live. */
  private def onGrown[T](body: => T): T = {
    val saved = sources.IndexCatalog.rootOverride
    sources.IndexCatalog.rootOverride = Some(grown.stripSuffix("corpus") + "catalog")
    try body finally sources.IndexCatalog.rootOverride = saved
  }

  override def afterAll(): Unit = {
    // forget the grown corpus's artifacts before their directory goes
    sources.IndexCatalog.resetProcessMemo()
    scratch.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    super.afterAll()
  }

  /** The rule over the sites of one query: `at0` planned at sf0.001,
    * `at1` (asked for only when some site has no statically bounded
    * side) the same sites on the grown corpus. */
  private def judge(name: String, at0: Seq[Site], at1: => Seq[Site]): Seq[Verdict] = {
    val static = at0.map(_.sides.map(unbounded))
    val open = at0.indices.filterNot(i => static(i).contains(None))
    lazy val grownSites = at1
    val measured: Map[Int, Seq[(Long, Long)]] =
      if (open.isEmpty || grownSites.map(_.kind) != at0.map(_.kind)) Map.empty
      else open.map(i =>
        i -> at0(i).sides.map(rows).zip(grownSites(i).sides.map(rows))).toMap
    val bound = rowBounds.get(name)
    at0.indices.map { i =>
      val s = at0(i)
      if (static(i).contains(None)) Verdict(s.kind, Some("static"), "")
      else measured.get(i) match {
        case None => Verdict(s.kind, None, s"sites differ on the grown corpus: " +
          s"${at0.map(_.kind).mkString(",")} vs ${grownSites.map(_.kind).mkString(",")}")
        case Some(pairs) =>
          val how =
            if (pairs.exists { case (a, b) => a == b }) Some("measured")
            else if (bound.exists(n => pairs.exists { case (a, b) => a <= n && b <= n }))
              Some("bound")
            else None
          val sides =
            if (s.sides.isEmpty) Seq("no logical join behind it")
            else s.sides.indices.map(j => s"side $j: ${static(i)(j).get}, rows " +
              s"${pairs(j)._1} at sf0.001 vs ${pairs(j)._2} grown")
          Verdict(s.kind, how, (sides ++ bound.map(n => s"bound $n")).mkString("; "))
      }
    }
  }

  /** [[judge]] over a frame: `small` is `frame` planned at sf0.001. */
  private def check(name: String, small: DataFrame,
      frame: String => DataFrame): Seq[Verdict] =
    judge(name, sites(small), sites(onGrown(frame(grown))))

  /** Appends the plans of every successful query; `drain` returns those
    * delivered before a marker query it runs, so callbacks (delivered
    * asynchronously, in order) are attributed to the work before it. */
  private class Capture extends QueryExecutionListener {
    private val seen = new LinkedBlockingQueue[QueryExecution]()
    private var n = 0
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.put(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def drain(s: SparkSession): Seq[QueryExecution] = {
      n += 1
      val marker = s"hygiene_drain_$n"
      s.range(1).toDF(marker).collect()
      val out = mutable.ListBuffer.empty[QueryExecution]
      var qe = seen.poll(120, TimeUnit.SECONDS)
      while (qe != null && qe.analyzed.output.map(_.name) != Seq(marker)) {
        out += qe
        qe = seen.poll(120, TimeUnit.SECONDS)
      }
      assert(qe != null, s"listener never delivered $marker")
      out.toList
    }
  }

  /** The forced prebuild at sf0.001 with the listener registered: every
    * artifact the queries read, the build outcomes and, per build, the
    * number of plans it ran and their sites. */
  private lazy val prebuilt: (Seq[Harness.Build], Map[String, (Int, Seq[Site])]) = {
    val cap = new Capture
    spark.listenerManager.register(cap)
    val plans = mutable.Map.empty[String, (Int, Seq[Site])]
    try {
      cap.drain(spark) // plans of earlier work
      val builds = Harness.prebuild(spark, sf0001, "hygiene", force = true,
        builds = operators.IndexBuilds.all.map { case (name, fn) =>
          name -> ((s: SparkSession, d: String) =>
            try fn(s, d) finally {
              val qes = cap.drain(s)
              plans(name) = (qes.size, qes.flatMap(sites))
            })
        })
      (builds, plans.toMap)
    } finally spark.listenerManager.unregister(cap)
  }

  /** Every registered query, planned after the prebuild: its site
    * verdicts and unpartitioned windows. */
  private lazy val sweep: Seq[(String, Seq[Verdict], Int)] = {
    prebuilt
    SparkEntry.all.map(_.name).sorted.map { name =>
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sf0001)
        (name, check(name, df, d => fn(spark, d)), unpartitionedWindows(df).size)
      } catch { case e: Exception =>
        (name, Seq(Verdict("plan", None, s"failed: ${e.getMessage}")), 0)
      } finally spark.catalog.clearCache() // some queries cache their inputs
    }
  }

  private lazy val queryVerdicts = sweep.map(q => q._1 -> q._2)

  /** Every site in a builder plan, in [[operators.IndexBuilds.all]]
    * order: any one is an offender. */
  private def builderSites(kinds: String => Boolean): Seq[String] =
    operators.IndexBuilds.all.flatMap { case (name, _) =>
      prebuilt._2(name)._2.filter(s => kinds(s.kind)).map { s =>
        val leaves = s.sides.map(p => unbounded(p).getOrElse("static"))
        s"$name ${s.kind} (sides: ${leaves.mkString(" | ")})"
      }
    }

  private def offenders(verdicts: Seq[(String, Seq[Verdict])],
      kinds: String => Boolean): Seq[String] =
    verdicts.flatMap { case (name, vs) =>
      vs.filter(v => kinds(v.kind) && v.how.isEmpty)
        .map(v => s"$name ${v.kind} (${v.detail})")
    }

  private val joinKinds = Set("BroadcastNestedLoopJoin", "CartesianProduct", "plan")

  /** "n sites: a static, b measured, c bound, d open" over `verdicts`. */
  private def tally(verdicts: Seq[(String, Seq[Verdict])]): String = {
    val vs = verdicts.flatMap(_._2)
    val by = vs.groupBy(_.how.getOrElse("open")).map { case (k, v) => k -> v.size }
    s"${verdicts.size} checked, ${vs.size} sites: " +
      Seq("static", "measured", "bound", "open").map(k => s"${by.getOrElse(k, 0)} $k")
        .mkString(", ")
  }

  test("no registered query plans a cartesian or nested-loop join") {
    assert(sweep.map(_._1) == SparkEntry.all.map(_.name).sorted,
      "the sweep must check every registered query")
    info(s"queries: ${tally(queryVerdicts)}")
    val bad = offenders(queryVerdicts, joinKinds)
    assert(bad.isEmpty, s"unbounded join sides in: ${bad.mkString("; ")}")
  }

  test("no registered query plans an unpartitioned window") {
    // A WindowExec with an empty partition spec funnels the whole input
    // through ONE task. A constant partition key can still be folded
    // away by AQE's runtime re-optimization — use a one-row aggregate
    // and a broadcast cross join instead.
    val bad = sweep.collect { case (name, _, n) if n > 0 => name }
    assert(bad.isEmpty, s"unpartitioned windows in: ${bad.mkString(", ")}")
  }

  test("no index-builder plan contains a cartesian or nested-loop join") {
    val (builds, plans) = prebuilt
    assert(builds.forall(b => b.sec.isDefined && b.trained),
      s"forced builds must all train: ${builds.filterNot(b => b.sec.isDefined && b.trained)}")
    val silent = operators.IndexBuilds.all.map(_._1).filter(n => plans(n)._1 == 0)
    assert(silent.isEmpty, s"no builder plan captured for: ${silent.mkString(", ")}")
    val bad = builderSites(joinKinds)
    assert(bad.isEmpty, s"nested-loop or cartesian joins in builders: ${bad.mkString("; ")}")
  }

  test("no registered query statically broadcasts an unbounded relation") {
    val bad = offenders(queryVerdicts, Set("broadcast hint"))
    assert(bad.isEmpty, s"static broadcast hints on unbounded sides in: ${bad.mkString("; ")}")
  }

  test("no builder plan broadcasts a corpus-sized base-table side") {
    // A hint is not advisory: Spark broadcasts the side whatever it
    // measures. Unhinted, AQE still broadcasts a side that measures small.
    val bad = builderSites(Set("broadcast hint"))
    assert(bad.isEmpty, s"static broadcast hints in builders: ${bad.mkString("; ")}")
  }

  test("every row bound names a query that needs it") {
    val needed = queryVerdicts
      .collect { case (name, vs) if vs.exists(_.how.contains("bound")) => name }
    assert(rowBounds.keySet == needed.toSet,
      s"listed ${rowBounds.keySet.toSeq.sorted}, needed ${needed.sorted}")
  }

  private def pin(frame: String => DataFrame) = check("pin", frame(sf0001), frame)
  private def docs(d: String) = Tables.documents(spark, d)
  private def vecs(d: String) = Tables.embeddings(spark, d)

  test("the rule flags a documents x documents cross join") {
    val v = pin(d => docs(d).select("doc_id").crossJoin(
      docs(d).select(col("doc_id").as("b"))))
    assert(v.nonEmpty && v.forall(_.how.isEmpty), v)
  }

  test("the rule flags a static broadcast hint on documents") {
    val v = pin(d => docs(d).join(broadcast(docs(d).select("doc_id")), "doc_id"))
    assert(v.exists(x => x.kind == "broadcast hint" && x.how.isEmpty), v)
  }

  test("a checkpointed side is not statically bounded") {
    val side = docs(sf0001).limit(5).localCheckpoint()
    assert(unbounded(side.queryExecution.optimizedPlan).contains("checkpointed LogicalRDD"))
  }

  test("a cross join onto a one-row global aggregate passes statically") {
    val v = pin(d => docs(d).crossJoin(docs(d).agg(max("n_chars").as("m"))))
    assert(v.nonEmpty && v.forall(_.how.contains("static")), v)
  }

  test("a vec_id < 10 query batch passes by measurement") {
    val v = pin(d => vecs(d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q")).crossJoin(vecs(d).select("vec_id")))
    assert(v.nonEmpty && v.forall(_.how.contains("measured")), v)
  }

  test("the window check sees an unpartitioned window") {
    val df = docs(sf0001).withColumn("r", row_number().over(Window.orderBy("doc_id")))
    assert(unpartitionedWindows(df).nonEmpty)
  }
}

object PlanHygieneSpec {

  /** A nested-loop or cartesian join, or a static broadcast hint, with
    * its logical inputs: any one bounded side bounds the site. */
  final case class Site(kind: String, sides: Seq[LogicalPlan])

  /** One site's outcome: how it is bounded ("static", "measured",
    * "bound"), or None with what the spec saw. */
  final case class Verdict(kind: String, how: Option[String], detail: String)
}
