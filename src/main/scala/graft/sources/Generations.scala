package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation-versioned parquet table — snapshot isolation and
  * time-travel reads without a transactional table format, the same
  * niche [[UpsertBucketedSink]]'s staging swap fills for merges:
  *
  *  - every write lands a COMPLETE new snapshot under `gen=<k>/`;
  *  - `_LATEST` is a one-line pointer file, replaced via write-to-temp
  *    + rename (near-atomic on HDFS/local; an object-store deployment
  *    swaps a metastore pointer instead — same lifecycle);
  *  - readers resolve the pointer at plan time, so an in-flight write
  *    never tears a running scan (it reads the OLD complete snapshot);
  *  - `read(gen = Some(k))` is time travel to any retained snapshot;
  *  - `vacuum(keep)` deletes old generations once downstream consumers
  *    have moved on — retention is the operator's contract, exactly as
  *    with VACUUM in transactional formats.
  *
  * Single-writer by contract (a nightly build or a foreachBatch sink);
  * two concurrent writers would race the pointer, last rename wins with
  * both snapshots intact on disk. */
object GenerationedTable {

  private def fs(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def pointer(dir: String) = new Path(dir, "_LATEST")

  /** Write `df` as the next generation and swing the pointer. Returns
    * the new generation number. */
  def write(df: DataFrame, dir: String): Int =
    writeAs(df, dir, generations(df.sparkSession, dir).lastOption.getOrElse(0) + 1)

  /** Write `df` under an EXPLICIT generation number (overwriting any
    * partial snapshot a crashed writer left there) and swing the
    * pointer. Lets a multi-table store commit sibling tables under one
    * externally-chosen generation instead of trusting two independent
    * counters to stay in lockstep (see [[GenerationStore]]). */
  def writeAs(df: DataFrame, dir: String, next: Int): Int = {
    val s = df.sparkSession
    val f = fs(s, dir)
    df.write.mode("overwrite").parquet(s"$dir/gen=$next")
    val tmp = new Path(dir, s"_LATEST.tmp")
    val out = f.create(tmp, true)
    out.write(next.toString.getBytes("UTF-8"))
    out.close()
    f.delete(pointer(dir), false)
    require(f.rename(tmp, pointer(dir)), s"cannot swing $dir/_LATEST")
    next
  }

  /** Retained generation numbers, ascending. */
  def generations(s: SparkSession, dir: String): Seq[Int] = {
    val f = fs(s, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toInt)
      .sorted
  }

  /** Latest generation per the pointer (None before any write). */
  def latest(s: SparkSession, dir: String): Option[Int] = {
    val f = fs(s, dir)
    if (!f.exists(pointer(dir))) return None
    val in = f.open(pointer(dir))
    // Read the stream fully — a single read() may return fewer bytes
    // than available (or -1 on a zero-length not-yet-flushed pointer);
    // an empty/unparseable pointer degrades to None, not a crash.
    val content =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val bytes = new Array[Byte](64)
        var n = in.read(bytes)
        while (n > 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
        buf.toString("UTF-8").trim
      } finally in.close()
    content.toIntOption
  }

  /** Read the latest snapshot, or time-travel to `gen`. */
  def read(s: SparkSession, dir: String, gen: Option[Int] = None): DataFrame = {
    val g = gen.orElse(latest(s, dir)).getOrElse(
      throw new IllegalStateException(s"$dir has no generations"))
    require(generations(s, dir).contains(g), s"generation $g not retained in $dir")
    s.read.parquet(s"$dir/gen=$g")
  }

  /** [[writeAs]], but the pointer NEVER swings backward: replaying an
    * already-applied micro-batch (streaming delete propagation,
    * [[graft.streaming.DeleteStreams]]) rewrites its old snapshot in
    * place — deterministic content, idempotent — while readers keep
    * resolving the newest committed generation. */
  def replayAs(df: DataFrame, dir: String, gen: Int): Int = {
    val s = df.sparkSession
    if (latest(s, dir).exists(_ > gen)) {
      df.write.mode("overwrite").parquet(s"$dir/gen=$gen")
      gen
    } else writeAs(df, dir, gen)
  }

  /** Delete all but the newest `keep` generations (never the pointed-at
    * one). Returns the deleted generation numbers. */
  def vacuum(s: SparkSession, dir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, "must keep at least one generation")
    val f = fs(s, dir)
    val gens = generations(s, dir)
    val current = latest(s, dir)
    val drop = gens.dropRight(keep).filterNot(current.contains(_))
    drop.foreach(g => f.delete(new Path(dir, s"gen=$g"), true))
    drop
  }
}

/** A store of sibling [[GenerationedTable]]s under `root` that commit
  * together under ONE generation number — the on-disk form of every
  * drift → retrain lifecycle's trained model ([[graft.operators
  * .IvfLifecycle]], [[graft.operators.BinaryLifecycle]],
  * [[graft.operators.DsirLifecycle]] and its text-tier peers). Each
  * table lives at `<root>/<table>/gen=<g>` with its own `_LATEST`.
  *
  * The commit rule, written once here:
  *  - the next generation is one past the highest retained generation
  *    of the `authority` table;
  *  - [[commit]] writes the `siblings` in their declared order, then
  *    the authority LAST, so the authority's `_LATEST` is the store's
  *    single commit point;
  *  - unpinned reads resolve ONLY the authority's pointer
  *    ([[committed]]). A crash before the authority write leaves orphan
  *    sibling generations whose own pointers already moved; no
  *    unpinned read reaches them (that would pair new siblings with the
  *    old authority — the mixed-generation state this rule forbids),
  *    and the next commit re-derives the same number from the unchanged
  *    authority and overwrites them;
  *  - a store without a committed authority is refused by name
  *    (`<root> has no trained generation`).
  *
  * Pinned reads (`gen = Some(g)`) reach any retained generation, so a
  * reader on `g` is undisturbed by later commits. Single-writer, like
  * [[GenerationedTable]]. */
final case class GenerationStore(root: String, authority: String,
                                 siblings: Seq[String]) {

  /** Every table in write order: the siblings, then the authority. */
  val tables: Seq[String] = siblings :+ authority

  /** The table's [[GenerationedTable]] directory. */
  def dir(table: String): String = {
    require(tables.contains(table),
      s"$root has no table '$table' (tables: ${tables.mkString(", ")})")
    s"$root/$table"
  }

  /** The committed generation: the authority's pointer. */
  def committed(s: SparkSession): Int =
    GenerationedTable.latest(s, dir(authority)).getOrElse(
      throw new IllegalStateException(s"$root has no trained generation"))

  /** `table` at the pinned generation, or at the committed one. */
  def read(s: SparkSession, table: String, gen: Option[Int] = None): DataFrame =
    GenerationedTable.read(s, dir(table), Some(gen.getOrElse(committed(s))))

  /** Commit the next generation and return its number. `frames` gets
    * that number and answers each table's frame; every table must have
    * one before anything is written. Each frame is built just before
    * its own write, in [[tables]] order, so a frame may depend on
    * driver-side results computed after the earlier writes. */
  def commit(s: SparkSession)(frames: Int => PartialFunction[String, DataFrame]): Int = {
    val next = GenerationedTable.generations(s, dir(authority))
      .lastOption.getOrElse(0) + 1
    val frame = frames(next)
    val missing = tables.filterNot(frame.isDefinedAt)
    require(missing.isEmpty, s"$root: no frame for ${missing.mkString(", ")}")
    tables.foreach(t => GenerationedTable.writeAs(frame(t), dir(t), next))
    next
  }
}
