package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Materialize.MaterializeOps

/** Trained IVF coarse quantizer: seeded Lloyd k-means over the
  * `embeddings` table, DataFrame-only (round-1's stand-in searched the
  * pre-labeled `label` column — a real corpus has no labels).
  *
  * Exactness across engines is the hard part: float means are
  * accumulation-order dependent, so a naive k-means would never
  * hash-match a DuckDB oracle. The whole TRAINING loop therefore runs in
  * integer space:
  *
  *  - quantize: x = round((e[dim] + 4.0) * 1000) as BIGINT — positive
  *    (|e| < 1 in this corpus; 4.0 is a wide guard), so integer division
  *    truncation == floor on both engines;
  *  - seed: cells 0..k-1 = the k smallest vec_ids' quantized vectors
  *    (deterministic, no RNG);
  *  - iterate (unrolled): assign each vector to the argmin squared-L2
  *    cell (ties → smallest cell id), recompute centroids as per-dim
  *    integer means — BIGINT sums are order-independent, so every engine
  *    derives bit-identical centroids;
  *  - the final SEARCH is exact cosine over the original float vectors,
  *    restricted to the query's trained cell.
  *
  * Scale shape: vectors live long-form (vec_id, dim, x) — assignment is
  * an unhinted equi-join against k·dim centroid rows (AQE broadcasts
  * them while they measure small) and centroid recompute is a
  * (cell, dim) hash-agg, both embarrassingly parallel; only the k seed
  * ids reach the driver. At 100 TB the same plan holds with k in the
  * thousands (centroid frame stays tiny).
  */
object IvfQuantizer {

  /** Long-form quantized vectors: (vec_id, dim, x). */
  private[operators] def vq(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"), col("dim"),
              expr("CAST(round((CAST(f AS DOUBLE) + 4.0) * 1000) AS BIGINT)").as("x"))

  /** Deterministic nearest-`n` cells per vector against a centroid frame
    * (cell, dim, cval): squared-L2 in BIGINT, ties to the smallest cell.
    * n = 1 is the training/assignment step; n > 1 is the multi-probe
    * search dial. */
  private[operators] def nearestCells(vqDf: DataFrame, cent: DataFrame, n: Int): DataFrame = {
    val d2 = (col("x") - col("cval")) * (col("x") - col("cval"))
    val byDist = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    vqDf.join(cent, Seq("dim"))
      .groupBy("vec_id", "cell").agg(sum(d2).as("dist"))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= n)
      .select("vec_id", "cell")
  }

  private def assign(vqDf: DataFrame, cent: DataFrame): DataFrame =
    nearestCells(vqDf, cent, 1)

  /** The same per-element quantization [[vq]] applies, as a SQL lambda
    * body over an element named `f`. */
  private val QuantF = "CAST(round((CAST(f AS DOUBLE) + 4.0) * 1000) AS BIGINT)"

  /** The whole centroid frame as ONE row: `cents` =
    * array of (cell, carr) structs ordered by cell, carr = the cell's
    * cvals ordered by dim. k·dim values total — metadata-sized. */
  private def centroidsRow(centroids: DataFrame): DataFrame =
    centroids.groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cval))), p -> p.cval)")
        .as("carr"))
      .agg(expr("array_sort(collect_list(struct(cell, carr)))").as("cents"))

  /** The `n` nearest trained cells per vector — MAP-ONLY array form
    * (vec_id, cell, dist), the serving-path twin of [[nearestCells]].
    *
    * [[nearestCells]] explodes every vector to dim grain (64× the
    * rows), multiplies by k through the centroid join, and needs a
    * (vec_id, cell) hash-agg plus a per-vec_id rank window — two
    * corpus-grain exchanges per call. Here the k·dim centroid frame is
    * folded into ONE row, attached as a scalar subquery
    * ([[graft.plans.OneRow]]), and the whole argmin runs inside a
    * single projection over the unexploded scan: quantize the vector
    * once, compute all k squared-L2 distances with zip_with/aggregate,
    * sort the k-element (dist, cell) array and slice the top n — zero
    * exchanges, zero joins (guide §2.4). Arithmetic is the identical
    * BIGINT algebra ([[QuantF]] per element, order-independent integer
    * sums) and array_sort on (dist, cell) structs is exactly the
    * window's `ORDER BY dist, cell` tie rule, so the output rows match
    * the long-form path bit for bit. Every vector must span the
    * centroid dims: zip_with would pad a short or long vector with
    * nulls, the distance would go null and the vector would silently
    * sort into cell 0, so a length mismatch raises
    * `IVF_DIM_MISMATCH` instead. */
  private[operators] def nearestCellsArr(v: DataFrame, centroids: DataFrame,
                                         n: Int): DataFrame =
    graft.plans.OneRow.attach(
        v.select(col("vec_id"), expr(s"transform(embedding, f -> $QuantF)").as("qx")),
        centroidsRow(centroids))
      .select(col("vec_id"), explode(expr(
        s"""slice(array_sort(transform(cents, c ->
           |  named_struct(
           |    'dist', IF(size(qx) = size(c.carr),
           |      aggregate(zip_with(qx, c.carr, (x, cv) -> (x - cv) * (x - cv)),
           |                CAST(0 AS BIGINT), (acc, d2) -> acc + d2),
           |      raise_error(format_string(
           |        'IVF_DIM_MISMATCH: vec_id %s has %d dims, cell %d has %d',
           |        CAST(vec_id AS STRING), size(qx), c.cell, size(c.carr)))),
           |    'cell', c.cell))), 1, $n)""".stripMargin)).as("dc"))
      .select(col("vec_id"), col("dc.cell").as("cell"), col("dc.dist").as("dist"))

  /** Assign arbitrary (vec_id, embedding) rows to their nearest trained
    * cell — the frozen-centroid assignment step a streaming ingest runs
    * per micro-batch (map-only against the one-row centroid subquery;
    * no training). Deterministic, so a streamed vector lands in exactly
    * the cell a batch rebuild would give it. */
  def assignVectors(v: DataFrame, centroids: DataFrame): DataFrame =
    nearestCellsArr(v, centroids, 1).select("vec_id", "cell")

  /** Assigned cell AND its squared-L2 distance per vector (vec_id,
    * cell, dist) — the outlier-gauge input: a vector far from EVERY
    * trained centroid is far from its nearest one, so the assigned
    * distance ranks noise candidates. Map-only ([[nearestCellsArr]]);
    * integer-space distances, oracle-replayable. */
  def assignedDistances(v: DataFrame, centroids: DataFrame): DataFrame =
    nearestCellsArr(v, centroids, 1)

  /** Trained state: final centroids (cell, dim, cval) and the quantized
    * long-form vectors (vec_id, dim, x), for assignment or multi-probe.
    * `quantized` is CACHED by [[train]]; the caller owns the lifecycle
    * and must `quantized.unpersist()` once the derived artifacts are
    * materialized ([[IvfIndex]] and [[assignments]] both do). */
  final case class Trained(centroids: DataFrame, quantized: DataFrame)

  /** Run `iters` Lloyd updates; returns the trained centroids. */
  def train(spark: SparkSession, dir: String, k: Int, iters: Int): Trained =
    trainVectors(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), k, iters)

  /** [[train]] over an arbitrary (vec_id, embedding) frame — the
    * retrain-lifecycle entry point ([[IvfLifecycle]] trains a new
    * centroid generation from the CURRENT corpus, wherever it lives:
    * the embeddings table, a streaming vector table, a filtered slice). */
  def trainVectors(vectors: DataFrame, k: Int, iters: Int): Trained = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select("vec_id", "embedding")
      .repartition(spark.sparkContext.defaultParallelism)
    val q = vq(v).cache() // reused by every assign + recompute step
    // cells 0..k-1 = the k smallest vec_ids in order. The frame is at
    // most k ids (post-limit), so index them on the driver instead of
    // with an unpartitioned row_number window; as a local relation the
    // seed frame carries its exact size, and the join broadcasts it
    // without a hint.
    val seeds = v.select("vec_id").orderBy("vec_id").limit(k)
      .as[Long].collect().sorted.toSeq.zipWithIndex
      .toDF("vec_id", "cell")
    var cent = q.join(seeds, Seq("vec_id"))
      .select(col("cell"), col("dim"), col("x").as("cval"))
    for (_ <- 0 until iters) {
      val a = assign(q, cent)
      // integer mean: BIGINT sum (order-independent) div count; all
      // values positive, so div truncation == floor on both engines.
      // Eager localCheckpoint: the centroid frame is k·dim rows — tiny —
      // and checkpointing it each round keeps the final search plan flat
      // instead of replaying the whole iterative lineage through one
      // deep DAG (the same bounded-lineage trick DedupResolve uses).
      cent = q.join(a, Seq("vec_id"))
        .groupBy("cell", "dim")
        .agg(expr("sum(x) div count(1)").as("cval"))
        .materializeOnce
    }
    Trained(cent, q)
  }

  /** The `n` nearest trained cells per vector (n = 1: home-cell
    * assignment; n > 1: multi-probe search — the standard IVF
    * recall/latency dial: candidates grow ~linearly with nprobe while
    * the scan stays cell-pruned). */
  def cellsOf(t: Trained, n: Int): DataFrame =
    nearestCells(t.quantized, t.centroids, n)

  /** Final (vec_id, cell) assignment after `iters` Lloyd updates —
    * ephemeral form: trains, eagerly materializes the assignment (flat
    * lineage), and releases the training cache before returning, so no
    * cached frame outlives the call. Production reads persist via
    * [[IvfIndex]] instead. */
  def assignments(spark: SparkSession, dir: String, k: Int, iters: Int): DataFrame = {
    val t = train(spark, dir, k, iters)
    val out = cellsOf(t, 1).materializeOnce
    t.quantized.unpersist()
    out
  }

  /** DuckDB oracle: the IDENTICAL training loop as unrolled CTEs. */
  def oracleCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              |vq AS (SELECT vec_id, i AS dim,
              |         CAST(round((e[i + 1] + 4.0) * 1000) AS BIGINT) AS x
              |       FROM v, (SELECT unnest(range(0, (SELECT max(len(e)) FROM v))) AS i)),
              |seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
              |          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT $k)),
              |c0 AS (SELECT s.cell, vq.dim, vq.x AS cval FROM vq JOIN seeds s USING (vec_id)),
              |""".stripMargin
    for (t <- 0 to iters) {
      sb ++= s"""d$t AS (SELECT vq.vec_id, c.cell,
                |         SUM((vq.x - c.cval) * (vq.x - c.cval)) AS dist
                |       FROM vq JOIN c$t c USING (dim) GROUP BY 1, 2),
                |a$t AS (SELECT vec_id, cell FROM (
                |         SELECT vec_id, cell,
                |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
                |         FROM d$t) WHERE rn = 1),
                |""".stripMargin
      if (t < iters)
        sb ++= s"""c${t + 1} AS (SELECT a.cell, vq.dim,
                  |         CAST(SUM(vq.x) AS BIGINT) // COUNT(*) AS cval
                  |       FROM vq JOIN a$t a USING (vec_id) GROUP BY 1, 2),
                  |""".stripMargin
    }
    sb ++= s"asn AS (SELECT vec_id, cell FROM a$iters)"
    sb.result()
  }
}

/** Persisted IVF index — the train-once / query-many lifecycle a 100 TB
  * deployment needs (round-2 verdict: `q_ann_ivf_probe2` re-trained the
  * quantizer `q_ann_ivf` had just trained). The first accessor call per
  * (application, corpus dir, k, iters) trains via [[IvfQuantizer.train]]
  * and stores two artifacts through [[graft.sources.IndexCatalog]]:
  *
  *  - `centroids` (cell, dim, cval): k·dim rows, plain parquet;
  *  - `assignments` (vec_id, cell): one row per corpus vector, stored as
  *    a metastore table BUCKETED on vec_id ([[graft.sources.BucketedTableSink]]) —
  *    the recurring assignments⋈embeddings join reads the index side with
  *    zero Exchange.
  *
  * Every later consumer — single-probe search, multi-probe search, a
  * second query in the same run — reads the stored tables; nothing
  * retrains. Multi-probe cell lists are NOT stored: they derive from the
  * tiny persisted centroid table with one map-only quantize pass
  * against the one-row centroid subquery, so any nprobe dial is served
  * by the same artifact. */
object IvfIndex {
  import graft.sources.{BucketedTableSink, IndexCatalog}

  private def key(d: String, k: Int, iters: Int) =
    s"ivf_${IndexCatalog.tag(d)}_k${k}_i$iters"

  /** Build (first caller only) and locate the artifact set. */
  private def ensure(s: SparkSession, d: String, k: Int, iters: Int): (String, String) = {
    val kk = key(d, k, iters)
    val asnTable = IndexCatalog.tableName(kk)
    val dir = IndexCatalog.ensure(s, kk, inputs = Seq(d),
        owners = Seq(IvfQuantizer.getClass, IvfIndex.getClass,
          graft.Tables.getClass, BucketedTableSink.getClass)) { dir =>
      val t = IvfQuantizer.train(s, d, k, iters)
      try {
        t.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
        IndexCatalog.persistBucketedTable(
          IvfQuantizer.cellsOf(t, 1), dir, asnTable, 8, Seq("vec_id"),
          idCols = Seq("vec_id"))
      } finally t.quantized.unpersist()
    }
    (dir, asnTable)
  }

  /** Trained centroids (cell, dim, cval) from the stored artifact. */
  def centroids(s: SparkSession, d: String, k: Int, iters: Int): DataFrame = {
    val (dir, _) = ensure(s, d, k, iters)
    IndexCatalog.read(s, dir, "centroids")
  }

  /** Home-cell assignment (vec_id, cell) from the stored bucketed table. */
  def assignments(s: SparkSession, d: String, k: Int, iters: Int): DataFrame = {
    val (_, asnTable) = ensure(s, d, k, iters)
    s.table(asnTable)
  }

  /** The `nprobe` nearest trained cells per vector, derived from the
    * persisted centroids (map-only against the one-row centroid
    * subquery — no training, no stored probe lists, no shuffle). */
  def cells(s: SparkSession, d: String, k: Int, iters: Int, nprobe: Int): DataFrame = {
    val v = Tables.embeddings(s, d).select("vec_id", "embedding")
    IvfQuantizer.nearestCellsArr(v, centroids(s, d, k, iters), nprobe)
      .select("vec_id", "cell")
  }
}
