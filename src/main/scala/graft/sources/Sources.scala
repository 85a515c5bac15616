package graft.sources

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** Multi-path sources for the Customer360 pipelines.
  *
  * The reference simulates multi-day sources with a driver loop of
  * per-day reads union'd together (ETL_customer_interaction.py:89-92,
  * ETL_customer_behavior.py:170-181) — 30 scans, 30 jobs, no partition
  * pruning. The engine reads all day paths in ONE DataFrameReader call:
  * one job, one scan stage, and a `log_date` column derived from the
  * file path so date predicates prune at the source.
  */
object Sources {

  private val dayFmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Inclusive day range as yyyyMMdd strings (replaces the reference's
    * driver-side pandas.date_range at ETL_customer_behavior.py:17-19). */
  def dayRange(from: String, to: String): Seq[String] = {
    val start = LocalDate.parse(from, dayFmt)
    val end = LocalDate.parse(to, dayFmt)
    start.datesUntil(end.plusDays(1)).iterator.asScala.map(_.format(dayFmt)).toSeq
  }

  /** Interaction logs (ES-export NDJSON): one read over all day files,
    * envelope unwrapped, `log_date` stamped from the file name (the
    * reference stamps it per-day in the loop — C8). Declared schema: no
    * inference pass. */
  def interactionLogs(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read
      .schema(Schemas.interactionLog)
      .json(paths: _*)
      .select(col("_source.*"), input_file_name().as("_file"))
      // anchored to the FILE NAME (.../yyyyMMdd.json) — an 8-digit run
      // in a parent directory must not win
      .withColumn("log_date",
        to_date(regexp_extract(col("_file"), "(\\d{8})[^/]*$", 1), "yyyyMMdd"))
      .drop("_file")

  /** Search logs (day-partitioned parquet dirs): one read over all day
    * dirs, `log_date` from the directory name. */
  def searchLogs(spark: SparkSession, dayDirs: Seq[String]): DataFrame =
    spark.read
      .schema(Schemas.searchLog)
      .parquet(dayDirs: _*)
      // anchored to the DAY DIRECTORY (.../yyyyMMdd/part-*.parquet) —
      // digit runs in part-file names or parent dirs must not win
      .withColumn("log_date",
        to_date(regexp_extract(input_file_name(), "(\\d{8})/[^/]*$", 1), "yyyyMMdd"))

  /** Corrupt-tolerant NDJSON ingest: PERMISSIVE parse with broken lines
    * CAPTURED in `_corrupt` instead of silently nulled or failing the
    * job — real crawl/export feeds always carry some torn lines.
    * Callers split clean rows from the quarantine (dead-letter) slice:
    *
    *   val raw = Sources.interactionLogsLenient(spark, paths).cache()
    *   val good = raw.filter(col("_corrupt").isNull).select(col("_source.*"))
    *   val bad  = raw.filter(col("_corrupt").isNotNull)
    *
    * (the cache is Spark's documented requirement for querying the
    * corrupt-record column; caller owns the lifecycle). */
  def interactionLogsLenient(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read
      .schema(Schemas.interactionLog
        .add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(paths: _*)

  /** Day-file CSV exports (the warehouse-dump shape: one RFC-4180 CSV
    * per day with a header row): one declared-schema read over all day
    * files — no inference pass, which at scale would cost a full extra
    * scan per job — with `log_date` stamped from the file name exactly
    * like [[interactionLogs]]. Quoted fields (embedded commas) parse per
    * RFC 4180 on both the Spark and DuckDB sides. */
  def csvExports(spark: SparkSession, paths: Seq[String],
                 schemaDdl: String): DataFrame =
    spark.read
      .schema(schemaDdl)
      .option("header", "true")
      .csv(paths: _*)
      .withColumn("log_date",
        to_date(regexp_extract(input_file_name(), "(\\d{8})[^/]*$", 1),
                "yyyyMMdd"))

  /** Parallel JDBC source — the read side of the warehouse round trip
    * ([[JdbcSink]] is the write side). `partition = (column, lo, hi,
    * n)` splits the pull into n range-bounded concurrent cursors on a
    * numeric column — the only shape that lifts a large table over
    * JDBC without serializing through one result set. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               user: String = "", password: String = "",
               driver: String = "org.apache.derby.jdbc.EmbeddedDriver",
               partition: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .option("driver", driver)
    partition.fold(r) { case (c, lo, hi, n) =>
      r.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** Schema-evolved warehouse read: generations of a day-partitioned
    * parquet table whose schema GREW over time (columns added, never
    * removed/retyped) read as one frame — old generations null-fill the
    * new columns. The footer-merge pass (`mergeSchema`) costs one extra
    * footer read per file at PLANNING time only; at 100 TB prefer
    * declaring the superset schema explicitly (pass `declared`) so
    * planning stays O(1) — both paths produce the same frame, and
    * SchemaEvolutionSpec proves it. */
  def readEvolved(spark: SparkSession, baseDir: String,
                  declared: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    declared match {
      case Some(schema) => spark.read.schema(schema).parquet(baseDir)
      case None => spark.read.option("mergeSchema", "true").parquet(baseDir)
    }
}
