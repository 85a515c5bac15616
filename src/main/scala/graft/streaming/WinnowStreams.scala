package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.operators.WinnowQueries
import graft.sources.{BucketedTableSink, UpsertBucketedSink}

/** Streaming winnowing — fingerprint-match-on-arrival, twin #15: each
  * micro-batch of documents is winnowed the moment it lands and matched
  * against the ACCUMULATED fingerprint index, so a mirrored/plagiarised
  * document links to every earlier carrier on arrival (the crawl-ingest
  * shape of MOSS).
  *
  * Winnowing's selection is STATELESS per document (the window slides
  * over the doc's own shingle hashes only), so streamed fingerprints
  * are BIT-IDENTICAL to `q_winnow_fingerprint`'s — there is nothing
  * corpus-sized to freeze, unlike the DSIR/boilerplate twins. What
  * accumulates is only the index:
  *
  *  - `fpDir`: (doc_id, fh) fingerprint index, partitioned by ingest
  *    batch — each document enters exactly once, on arrival;
  *  - `pairTable`: matched pairs (doc_a, doc_b, n_shared ≥ MatchMin),
  *    a keyed merge ([[UpsertBucketedSink]]).
  *
  * A pair's shared-fingerprint count is FULLY determined when its later
  * member arrives (both fingerprint sets are immutable), so the
  * on-arrival MatchMin verdict is final and stream ≡ batch EXACTLY on
  * any arrival order — below the bucket cap. The cap is evaluated
  * against the bucket size AT ARRIVAL: a bucket that only later grows
  * past [[WinnowQueries.WinnowMaxBucket]] keeps its early pairs where
  * the batch rebuild would drop the whole bucket — the same documented
  * divergence class as [[ResolutionStreams]]' hot-block contract (and
  * like there, absent below the cap).
  *
  * Replay safety: a re-applied micro-batch anti-joins its doc_ids out
  * of the base index, the pair write is a keyed merge, and the index
  * write overwrites its own `ingest_batch=<id>` partition — restart
  * recovery changes no table.
  *
  * Re-ingest (r11 advice, medium): a doc_id RE-FETCHED with new text in
  * a later batch supersedes its older fingerprint set — [[readFp]] keeps
  * only each doc's NEWEST ingest_batch (the BlobStreams.latest rule), so
  * matches never count the union of old+new fingerprints; and pairs the
  * superseded text produced are RETRACTED ([[purgeSupersededPairs]] —
  * a bucketed staging swap scoped to the re-ingested ids) before the
  * fresh text's pairs are merged, so the pair table reflects newest
  * text only. First-time ingests skip the purge entirely (the common
  * crawl case stays |delta|-proportional); a purge batch pays one
  * co-bucketed anti-join rewrite of the pair table. Same-batch
  * duplicate doc_ids collapse to one deterministic row (longest text,
  * then lexicographically greatest — the QualityStreams rule) before
  * fingerprinting, so a merged fingerprint set no batch run could
  * produce is impossible. */
object WinnowStreams {

  private def compactMarker(fpDir: String) = new Path(fpDir, "_COMPACT_COMMIT")
  private def compactStaging(fpDir: String) = new Path(fpDir, "_compact_staging")
  private def watermarkFile(fpDir: String) = new Path(fpDir, "_COMPACTED_THROUGH")

  /** Atomic small-file write: temp name, then rename — a crash mid-write
    * can never leave a half-written marker/watermark to wedge a rerun on
    * (round-12 advice item 4: `fs.create(marker)` + crash left an empty
    * marker whose `.toLong` threw while readFpRaw kept refusing the
    * index, unrecoverable without hand-deleting the marker). */
  private def writeAtomic(fs: org.apache.hadoop.fs.FileSystem,
                          p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"atomic rename $tmp -> $p failed")
  }

  /** The compaction watermark: the partition id the last completed
    * [[compactIndex]] collapsed the index into. A batch id at or below
    * it must NEVER be applied — its partition overwrite would replace
    * the single compacted partition (the whole corpus's newest
    * fingerprints) with just that batch's rows. */
  private[streaming] def compactedThrough(s: SparkSession,
                                          fpDir: String): Option[Long] = {
    val p = watermarkFile(fpDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Raw accumulated index WITH the ingest_batch partition column.
    * Refuses an index caught mid-compaction (commit marker present —
    * partitions may be partially deleted): rerun [[compactIndex]] to
    * complete the swap rather than silently serving a truncated set. */
  private def readFpRaw(s: SparkSession, fpDir: String): Option[DataFrame] = {
    val p = new Path(fpDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(!fs.exists(compactMarker(fpDir)),
      s"fingerprint index at $fpDir has an interrupted compaction — " +
        "rerun WinnowStreams.compactIndex to complete it")
    if (fs.exists(p) && fs.listStatus(p).nonEmpty) Some(s.read.parquet(fpDir))
    else None
  }

  /** Each doc's NEWEST ingested fingerprint set (superseding rule). */
  private def readFp(s: SparkSession, fpDir: String,
                     emptyLike: DataFrame): DataFrame =
    readFpRaw(s, fpDir) match {
      case Some(raw) =>
        raw.withColumn("nb",
            max("ingest_batch").over(Window.partitionBy("doc_id")))
          .filter(col("ingest_batch") === col("nb"))
          .select("doc_id", "fh")
      case None => emptyLike.select("doc_id", "fh").limit(0)
    }

  /** Incremental match plan: delta fingerprints against (stored ∪
    * delta), bucket-capped, canonical (min, max) orientation, shared
    * distinct-hash count thresholded at MatchMin. A delta–delta pair
    * arrives once from each side — the (pair, fh) distinct collapses
    * the duplicate before counting. */
  private[streaming] def incrementalMatchAgainst(
      delta: DataFrame, base: DataFrame): DataFrame = {
    val all = base.unionByName(delta)
    val ok = all.groupBy("fh").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= WinnowQueries.WinnowMaxBucket)
      .select("fh")
    val d = delta.select(col("fh"), col("doc_id").as("d_id"))
    val o = all.select(col("fh"), col("doc_id").as("o_id"))
    d.join(o, Seq("fh"))
      .join(ok, Seq("fh"))
      .filter(col("d_id") =!= col("o_id"))
      .select(least(col("d_id"), col("o_id")).as("doc_a"),
        greatest(col("d_id"), col("o_id")).as("doc_b"), col("fh"))
      .distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowQueries.MatchMin)
  }

  /** Retract every stored pair touching a re-ingested doc_id: its pairs
    * were derived from superseded text, and the fresh text's matches are
    * about to be recomputed against the full base — a keyed merge alone
    * would leave pairs the new text no longer supports (including pairs
    * that fell below MatchMin, which the merge would never see). One
    * co-bucketed anti-join + staging swap, the UpsertBucketedSink
    * discipline. */
  private[streaming] def purgeSupersededPairs(s: SparkSession,
      pairTable: String, ids: DataFrame, buckets: Int): Unit = {
    graft.sources.StagingSwap.recover(
      s, pairTable, pairTable + "_purge_staging")
    if (!s.catalog.tableExists(pairTable)) return
    val keep = s.table(pairTable)
      .join(broadcast(ids.select(col("doc_id").as("doc_a"))),
        Seq("doc_a"), "left_anti")
      .join(broadcast(ids.select(col("doc_id").as("doc_b"))),
        Seq("doc_b"), "left_anti")
      .select("doc_a", "doc_b", "n_shared")
    val staging = pairTable + "_purge_staging"
    BucketedTableSink(buckets, Seq("doc_a", "doc_b")).write(keep, staging)
    s.sql(s"DROP TABLE IF EXISTS $pairTable")
    s.sql(s"ALTER TABLE $staging RENAME TO $pairTable")
    s.catalog.refreshTable(pairTable)
    org.apache.spark.sql.SparkSession.getDefaultSession
      .filter(_ ne s)
      .filter(_.catalog.tableExists(pairTable))
      .foreach(_.catalog.refreshTable(pairTable))
  }

  /** One micro-batch application, exposed apart from the stream wiring
    * so tests can replay a batch directly. Expects document-shaped rows
    * (doc_id, text). */
  def processBatch(batch: DataFrame, batchId: Long, pairTable: String,
                   fpDir: String, buckets: Int = 8): Unit = {
    val s = batch.sparkSession
    // compaction safety (round-12 advice item 2): the watermark is the
    // ENFORCED form of compactIndex's stop-the-stream precondition — a
    // replayed/out-of-order batch at or below it would overwrite the
    // single compacted partition with its own rows, truncating the
    // served index to one batch. Fail loudly instead.
    compactedThrough(s, fpDir).foreach { w =>
      require(batchId > w,
        s"batch $batchId is at or below the compaction watermark $w of " +
          s"$fpDir — applying it would overwrite the compacted partition " +
          "(the corpus's entire newest fingerprint set) with one batch's " +
          "rows; compact only a stopped, fully-committed stream")
    }
    // a crash between a purge's DROP and RENAME leaves the accumulated
    // pair state under the staging name; adopt it before ANY batch kind
    // (the next batch need not be a re-ingest for recovery to matter)
    graft.sources.StagingSwap.recover(
      s, pairTable, pairTable + "_purge_staging")
    // same-batch re-fetch: one deterministic row per doc, so the
    // fingerprint set is always one a batch run could produce
    val one = Ledger.oneRowPerDoc(batch)
    val delta = WinnowQueries.fingerprintHashes(one)
    val deltaIds = one.select("doc_id")
    // replay-safety AND supersede: the current batch's doc_ids leave the
    // base slice entirely (their old fingerprints are dead); docs NOT in
    // this batch contribute their newest ingest only (readFp)
    val base = readFp(s, fpDir, delta)
      .join(deltaIds, Seq("doc_id"), "left_anti")
    // cross-batch re-ingest: ids already present under an OLDER batch
    // must have their stale pairs retracted before the merge. A replay
    // of a re-ingest batch RE-RUNS the purge (the superseded older
    // partition persists until compaction, so reIngested is non-empty
    // again) and then regenerates the identical pairs — idempotent in
    // result, at the cost of one pair-table rewrite per replay;
    // first-time ingests (the common crawl case) skip it entirely.
    val reIngested = readFpRaw(s, fpDir)
      .map(_.filter(col("ingest_batch") =!= batchId)
        .select("doc_id").distinct()
        .join(deltaIds, Seq("doc_id"), "left_semi"))
      .getOrElse(deltaIds.limit(0))
    if (!reIngested.isEmpty)
      purgeSupersededPairs(s, pairTable, reIngested, buckets)
    val pairs = incrementalMatchAgainst(delta, base)
    UpsertBucketedSink(buckets, Seq("doc_a", "doc_b"), "n_shared")
      .write(pairs, pairTable)
    // each document enters the stored index exactly once per batch: the
    // partition is keyed by batchId, so a replay rewrites it in place
    delta.write.mode("overwrite").parquet(s"$fpDir/ingest_batch=$batchId")
  }

  /** Compact the accumulated fingerprint index to newest-only rows in a
    * single partition keyed by the CURRENT MAX batch id — the
    * maintenance pass that keeps [[readFp]]'s newest-wins window from
    * re-scanning every superseded generation forever (the
    * Compaction.compact discipline at stream-state grain).
    *
    * PRECONDITION: the stream is stopped and its last batch has
    * COMMITTED to the checkpoint — recovery replay then only ever
    * re-applies a batch id ABOVE the compacted partition, so the
    * partition the compaction owns is never rewritten by a replay.
    * ENFORCED, not just documented (round-12 advice item 2): the
    * completed swap persists its partition id as a watermark
    * (`_COMPACTED_THROUGH`), and [[processBatch]] refuses any batch id
    * at or below it — a violated precondition fails loudly instead of
    * truncating the served index to one batch's rows.
    *
    * Crash safety is the repo's two-phase commit-marker discipline:
    * the complete newest-only row set is staged OUTSIDE the partition
    * tree (hidden dir — readers never see it), then the marker commits
    * the swap; only after the marker do partitions get deleted and the
    * staging renamed in. A crash anywhere leaves either (a) no marker —
    * the index untouched, a stale staging dir overwritten by the next
    * run — or (b) the marker present — [[readFpRaw]] refuses the
    * possibly-partial partition set LOUDLY and a rerun of this method
    * resumes the swap to completion (idempotent: already-renamed
    * staging is detected and only the leftover deletes re-run).
    *
    * Recompacting an already-compact index rewrites the same single
    * partition. */
  def compactIndex(s: SparkSession, fpDir: String): Unit = {
    val root = new Path(fpDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val staging = compactStaging(fpDir)
    val marker = compactMarker(fpDir)
    if (!fs.exists(marker)) {
      val raw = readFpRaw(s, fpDir).getOrElse(return)
      // partition discovery infers ingest_batch as int or long
      // depending on the values seen — widen explicitly
      val maxB = raw.agg(max(col("ingest_batch").cast("long")))
        .head().getLong(0)
      raw.withColumn("nb",
          max("ingest_batch").over(Window.partitionBy("doc_id")))
        .filter(col("ingest_batch") === col("nb"))
        .select("doc_id", "fh")
        .write.mode("overwrite").parquet(staging.toString)
      // the commit point: records the target partition id. Written
      // ATOMICALLY (temp + rename) — a half-written marker would wedge
      // every rerun on an unparsable commit record (advice item 4).
      writeAtomic(fs, marker, maxB.toString)
    }
    // completion (fresh run or crash resume): the marker guarantees the
    // staging held the COMPLETE newest set when written
    val maxB = {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong
      finally in.close()
    }
    val target = new Path(root, s"ingest_batch=$maxB")
    if (fs.exists(staging)) {
      fs.listStatus(root).foreach { st =>
        if (st.getPath.getName.startsWith("ingest_batch="))
          fs.delete(st.getPath, true)
      }
      fs.rename(staging, target)
    } else {
      // staging already renamed in (crash after the rename): only the
      // superseded partitions are left to delete
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("ingest_batch=") && st.getPath != target)
          fs.delete(st.getPath, true)
      }
    }
    // persist the watermark BEFORE releasing the read-blocking marker:
    // a crash in between re-runs this (idempotent) tail on the next
    // call, so no window exists where the index serves uncompacted-
    // looking state without replay protection (advice item 2)
    writeAtomic(fs, watermarkFile(fpDir), maxB.toString)
    fs.delete(marker, false)
  }

  /** Bounded top-k partners over the ACCUMULATED pair table — the
    * stream-side counterpart of `q_winnow_matches_topk`: the same rank
    * rule (shared count desc, partner id) over the stream's keyed-merge
    * pair state. A pair's n_shared is final on arrival, but a doc's
    * top-k is a VIEW — a later-arriving better partner displaces an
    * earlier one — so this is a read-time ranking over stored pairs,
    * never stored ranks; after full ingest it equals the batch top-k
    * exactly (spec-pinned). */
  def topkView(s: SparkSession, pairTable: String,
               k: Int = WinnowQueries.MatchTopK): DataFrame =
    WinnowQueries.topkOf(
      WinnowQueries.symOf(s.table(pairTable)
        .select("doc_a", "doc_b", "n_shared")), k)

  /** Continuous wiring: a stream of documents applied micro-batch by
    * micro-batch through [[processBatch]]. */
  def winnowMatchStream(docs: DataFrame, pairTable: String, fpDir: String,
                        buckets: Int = 8): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(batch, batchId, pairTable, fpDir, buckets)
      }
}
