package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Materialize.MaterializeOps

/** Product quantization on IVF residuals — the compression tier above
  * the int8 grid: each vector's residual against its coarse IVF
  * centroid splits into M subvectors, each subvector encodes as the id
  * of its nearest per-subspace codebook entry, and search runs ADC
  * (asymmetric distance computation): a per-query lookup table of
  * query-residual-to-codeword distances, then each candidate's distance
  * is M table lookups summed. Storage per vector drops from 64 floats
  * to M small codes; the corpus scan side of search never touches a
  * float.
  *
  * Exactness discipline (same as [[IvfQuantizer]]): codebook TRAINING
  * runs entirely in integer space. Residual r = x − cval + 8192 — the
  * shift keeps residuals positive, so BIGINT sums are order-independent
  * and truncating integer division equals floor on both engines (the
  * coarse quantizer's rule; negatives would make Spark's `div` — trunc
  * toward zero — disagree with DuckDB's `//` — floor). The shift
  * cancels in every distance: (a+s − (b+s))² = (a−b)². Seeding is the
  * same no-RNG rule (codes 0..C−1 = the C smallest vec_ids'
  * residuals); assignment ties break to the smallest code. ADC
  * distances are therefore exact BIGINTs and the whole tier —
  * codebooks, codes, search ranking — is oracle-checkable.
  *
  * Scale shape: codebooks are M·C·dsub rows (tiny; unhinted, AQE
  * broadcasts them); encoding is one equi-join + (vec_id, sub) hash-agg
  * over the long-form corpus; the ADC lookup table is |queries|·M·C rows (broadcast); the
  * per-candidate distance is an equi-join on (query, sub, code) + one
  * hash-agg. Only the C seed ids reach the driver; nothing joins corpus
  * against corpus. */
object PqQuantizer {

  /** Residual shift: keeps r positive (x and cval both live in
    * (3000, 5000) after [[IvfQuantizer.vq]]'s quantization). */
  val Shift = 8192

  /** Long-form coarse residuals with subspace coordinates:
    * (vec_id, sub, dim_in, r). */
  private[operators] def residuals(
      s: SparkSession, d: String, k: Int, iters: Int, dsub: Int): DataFrame = {
    val v = Tables.embeddings(s, d).select("vec_id", "embedding")
      .repartition(s.sparkContext.defaultParallelism)
    IvfQuantizer.vq(v)
      .join(IvfIndex.assignments(s, d, k, iters), Seq("vec_id"))
      .join(IvfIndex.centroids(s, d, k, iters), Seq("cell", "dim"))
      .select(col("vec_id"),
        expr(s"dim div $dsub").as("sub"),
        (col("dim") % dsub).as("dim_in"),
        (col("x") - col("cval") + Shift).as("r"))
  }

  /** Nearest codebook entry per (vec_id, sub): squared-L2 in BIGINT,
    * ties to the smallest code. */
  private[operators] def assignCodes(res: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = (col("r") - col("cval")) * (col("r") - col("cval"))
    val byDist = Window.partitionBy("vec_id", "sub")
      .orderBy(col("dist"), col("code"))
    res.join(cb, Seq("sub", "dim_in"))
      .groupBy("vec_id", "sub", "code").agg(sum(d2).as("dist"))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select("vec_id", "sub", "code")
  }

  /** Train per-subspace codebooks over the residuals: seed from the C
    * smallest vec_ids, run `pqIters` Lloyd updates — every subspace
    * trains in the SAME grouped plan (sub is just a key), not M
    * separate jobs. Returns (codebooks, cachedResiduals); the caller
    * owns the residual cache. */
  private[operators] def train(
      s: SparkSession, d: String, k: Int, iters: Int,
      dsub: Int, codes: Int, pqIters: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val res = residuals(s, d, k, iters, dsub).cache()
    // ≤ `codes` ids post-limit, indexed on the driver into a local
    // relation (same seeding as IvfQuantizer.train)
    val seeds = Tables.embeddings(s, d).select("vec_id")
      .orderBy("vec_id").limit(codes)
      .as[Long].collect().sorted.toSeq.zipWithIndex
      .toDF("vec_id", "code")
    var cb = res.join(seeds, Seq("vec_id"))
      .select(col("sub"), col("code"), col("dim_in"), col("r").as("cval"))
    for (_ <- 0 until pqIters) {
      val a = assignCodes(res, cb)
      // positive-integer mean: order-independent BIGINT sum, trunc==floor
      cb = res.join(a, Seq("vec_id", "sub"))
        .groupBy("sub", "code", "dim_in")
        .agg(expr("sum(r) div count(1)").as("cval"))
        .materializeOnce
    }
    (cb, res)
  }

  /** DuckDB oracle: coarse CTEs + the IDENTICAL residual/codebook/code
    * chain. Ends with `pcodes` (vec_id, sub, code) and `pc$pqIters`
    * (the final codebooks) and `cres` (the residuals) available. */
  def oracleCtes(k: Int, iters: Int, dsub: Int, codes: Int, pqIters: Int): String = {
    val sb = new StringBuilder
    sb ++= IvfQuantizer.oracleCtes(k, iters)
    sb ++= s""",
              |cres AS (SELECT vq.vec_id, vq.dim // $dsub AS sub, vq.dim % $dsub AS dim_in,
              |           vq.x - c.cval + $Shift AS r
              |         FROM vq JOIN asn USING (vec_id)
              |         JOIN c$iters c ON c.cell = asn.cell AND c.dim = vq.dim),
              |pseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
              |           FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT $codes)),
              |pc0 AS (SELECT cres.sub, s.code, cres.dim_in, cres.r AS cval
              |        FROM cres JOIN pseeds s USING (vec_id)),
              |""".stripMargin
    for (t <- 0 to pqIters) {
      sb ++= s"""pd$t AS (SELECT cres.vec_id, cres.sub, pc.code,
                |           SUM((cres.r - pc.cval) * (cres.r - pc.cval)) AS dist
                |         FROM cres JOIN pc$t pc
                |           ON pc.sub = cres.sub AND pc.dim_in = cres.dim_in
                |         GROUP BY 1, 2, 3),
                |pa$t AS (SELECT vec_id, sub, code FROM (
                |           SELECT vec_id, sub, code,
                |             row_number() OVER (PARTITION BY vec_id, sub
                |                                ORDER BY dist, code) AS rn
                |           FROM pd$t) WHERE rn = 1),
                |""".stripMargin
      if (t < pqIters)
        sb ++= s"""pc${t + 1} AS (SELECT cres.sub, a.code, cres.dim_in,
                  |           CAST(SUM(cres.r) AS BIGINT) // COUNT(*) AS cval
                  |         FROM cres JOIN pa$t a
                  |           ON a.vec_id = cres.vec_id AND a.sub = cres.sub
                  |         GROUP BY 1, 2, 3),
                  |""".stripMargin
    }
    sb ++= s"pcodes AS (SELECT vec_id, sub, code FROM pa$pqIters)"
    sb.result()
  }
}

/** Persisted IVF-PQ index on top of [[IvfIndex]] — codebooks (tiny
  * parquet) + per-vector codes (bucketed on vec_id, zero-Exchange on
  * the recurring candidate join). Trains once per (run, corpus, params)
  * and serves every ADC query from the stored tables; training is
  * deterministic, so artifact reads are result-identical to
  * recomputation (the oracle replays training). */
object PqIndex {
  import graft.sources.{BucketedTableSink, IndexCatalog}

  private def key(d: String, k: Int, iters: Int, dsub: Int, codes: Int, pqIters: Int) =
    s"pq_${IndexCatalog.tag(d)}_k${k}_i${iters}_d${dsub}_c${codes}_p$pqIters"

  private def ensure(s: SparkSession, d: String, k: Int, iters: Int,
                     dsub: Int, codes: Int, pqIters: Int): (String, String) = {
    val kk = key(d, k, iters, dsub, codes, pqIters)
    val codesTable = IndexCatalog.tableName(kk)
    val dir = IndexCatalog.ensure(s, kk, inputs = Seq(d),
        owners = Seq(PqQuantizer.getClass, PqIndex.getClass,
          IvfQuantizer.getClass, graft.Tables.getClass,
          BucketedTableSink.getClass)) { dir =>
      val (cb, res) = PqQuantizer.train(s, d, k, iters, dsub, codes, pqIters)
      try {
        cb.write.mode("overwrite").parquet(s"$dir/codebooks")
        IndexCatalog.persistBucketedTable(
          PqQuantizer.assignCodes(res, cb), dir, codesTable, 8, Seq("vec_id"),
          idCols = Seq("vec_id"))
      } finally res.unpersist()
    }
    (dir, codesTable)
  }

  /** Trained codebooks (sub, code, dim_in, cval) from the artifact. */
  def codebooks(s: SparkSession, d: String, k: Int, iters: Int,
                dsub: Int, codes: Int, pqIters: Int): DataFrame = {
    val (dir, _) = ensure(s, d, k, iters, dsub, codes, pqIters)
    IndexCatalog.read(s, dir, "codebooks")
  }

  /** Per-vector PQ codes (vec_id, sub, code) from the bucketed table. */
  def codes(s: SparkSession, d: String, k: Int, iters: Int,
            dsub: Int, codes0: Int, pqIters: Int): DataFrame = {
    val (_, codesTable) = ensure(s, d, k, iters, dsub, codes0, pqIters)
    s.table(codesTable)
  }
}
