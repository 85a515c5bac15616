package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.JobCount
import graft.schema.Schemas
import graft.sources.DayFiles.DayPathContractError

/** The day-file source contract: `log_date` (and pipeline B's month)
  * as partition values of a driver-listed [[DayFiles]] index. Dates
  * come from the day's name, paths are handled as `spark.read` handles
  * them, date predicates prune whole files, and building a source runs
  * no Spark job. */
class DayFilesSpec extends JobCount {
  import spark.implicits._

  private val fixture = "data/interactions/20220401.json"
  private lazy val root = Files.createTempDirectory("graft_day_files")

  /** An NDJSON interaction day file at `rel` below the spec's root,
    * `n` rows, contract ids prefixed with `tag`. */
  private def jsonDay(rel: String, n: Int, tag: String = "C"): String = {
    val lines = (0 until n).map { i =>
      s"""{"_index":"history","_type":"kplus","_id":"$i","_score":0,"_source":""" +
        s"""{"Contract":"$tag$i","Mac":"m","TotalDuration":$i,"AppName":"VOD"}}"""
    }
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** A search-log day directory written by Spark (part files, `_SUCCESS`
    * and `.crc` files), `n` rows. */
  private def searchDay(rel: String, n: Int): String = {
    val dir = root.resolve(rel).toString
    (0 until n).map(i => (s"u$i", s"kw$i")).toDF("user_id", "keyword")
      .select(Schemas.searchLog.map(f =>
        (if (f.name == "user_id" || f.name == "keyword") col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)): _*)
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def dates(df: DataFrame): Seq[String] =
    df.select(col("log_date").cast("string")).distinct().as[String].collect().sorted.toSeq

  private def partFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")) finally s.close()
  }

  test("log_date comes from the file name, even under an 8-digit parent directory") {
    val f = jsonDay("19991231/20220405.json", 4)
    val df = Sources.interactionLogs(spark, Seq(f))
    assert(df.columns.toSeq == Seq("Contract", "Mac", "TotalDuration", "AppName", "log_date"))
    assert(dates(df) == Seq("2022-04-05"))
    val csv = root.resolve("20010101/exports/20220403.csv")
    Files.createDirectories(csv.getParent)
    Files.writeString(csv, "contract,duration\nC1,5\nC2,7\n")
    val rows = Sources.csvExports(spark, Seq(csv.toString), "contract STRING, duration BIGINT")
    assert(rows.count() == 2 && dates(rows) == Seq("2022-04-03"))
  }

  test("in a day directory, digits in part-file names never win") {
    val dir = searchDay("days/20220601", 5)
    val part = partFiles(dir).head
    Files.move(part, part.resolveSibling("part-20221231-00000.snappy.parquet"))
    val df = Sources.searchLogs(spark, Seq(dir))
    assert(df.columns.toSeq == Schemas.searchLog.fieldNames.toSeq :+ "log_date")
    assert(df.count() == 5)
    assert(dates(df) == Seq("2022-06-01"))
  }

  test("a day path without a valid yyyyMMdd name fails at construction with DAY_PATH_CONTRACT") {
    for (rel <- Seq("undated/april.json", "impossible/20221340.json")) {
      val f = jsonDay(rel, 2)
      val e = intercept[DayPathContractError](Sources.interactionLogs(spark, Seq(f)))
      assert(e.getMessage.startsWith("DAY_PATH_CONTRACT: ") && e.getMessage.contains(f),
        e.getMessage)
    }
    val undatedDir = searchDay("undated/june", 2)
    val e = intercept[DayPathContractError](Sources.searchLogs(spark, Seq(undatedDir)))
    assert(e.getMessage.contains(undatedDir) && e.getMessage.contains("directory name"),
      e.getMessage)
    val impossible = searchDay("impossible/20220231", 2)
    intercept[DayPathContractError](Sources.searchMonths(spark, Seq("T6" -> Seq(impossible))))
  }

  test("a path listed twice is read twice; a missing path raises PATH_NOT_FOUND") {
    assert(Sources.interactionLogs(spark, Seq(fixture)).count() == 15)
    assert(Sources.interactionLogs(spark, Seq(fixture, fixture)).count() == 30)
    val missing = root.resolve("20220409.json").toString
    val e = intercept[AnalysisException](Sources.interactionLogs(spark, Seq(fixture, missing)))
    assert(e.getCondition == "PATH_NOT_FOUND" && e.getMessage.contains(missing), e.getMessage)
  }

  test("_SUCCESS, .crc and other hidden files in a day directory are skipped") {
    val dir = searchDay("hidden/20220602", 7)
    val names = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path].getFileName.toString)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names.mkString(", "))
    Files.writeString(Paths.get(dir, "_SUCCESS"), "not parquet")
    Files.writeString(Paths.get(dir, ".staging"), "not parquet")
    assert(Sources.searchLogs(spark, Seq(dir)).count() == 7)
  }

  test("no paths give an empty frame with the full schema") {
    val a = Sources.interactionLogs(spark, Nil)
    assert(a.columns.toSeq == Seq("Contract", "Mac", "TotalDuration", "AppName", "log_date"))
    assert(a.count() == 0)
    val b = Sources.searchMonths(spark, Seq("T6" -> Nil, "T7" -> Nil))
    assert(b.columns.toSeq == Schemas.searchLog.fieldNames.toSeq ++ Seq("log_date", "month"))
    assert(b.count() == 0)
    assert(Sources.csvExports(spark, Nil, "contract STRING, duration BIGINT").columns.toSeq ==
      Seq("contract", "duration", "log_date"))
  }

  test("a directory listed under both months gives its rows once per month") {
    val june = searchDay("months/20220603", 6)
    val july = searchDay("months/20220701", 4)
    val df = Sources.searchMonths(spark, Seq("T6" -> Seq(june), "T7" -> Seq(june, july)))
    val byMonth = df.groupBy("month", "log_date").count()
      .as[(String, java.sql.Date, Long)].collect()
      .map { case (m, d, n) => (m, d.toString, n) }.sorted.toSeq
    assert(byMonth == Seq(("T6", "2022-06-03", 6L), ("T7", "2022-06-03", 6L),
      ("T7", "2022-07-01", 4L)))
  }

  test("a log_date predicate is a partition filter and reads only the matching files") {
    val days = Seq("20220410", "20220411", "20220412").map(d => jsonDay(s"prune/$d.json", 10, d))
    val df = Sources.interactionLogs(spark, days).filter(col("log_date") >= "2022-04-11")
    val rows = df.collect()
    assert(rows.length == 20)
    val scan = df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.toString.contains("PartitionFilters: [isnotnull(log_date"), scan.toString)
    assert(scan.metrics("numFiles").value == 2)
    val read = df.select(input_file_name()).distinct().as[String].collect()
    assert(read.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted.toSeq ==
      Seq("20220411.json", "20220412.json"))
  }

  test("building each source runs no Spark job and starts no thread") {
    val june = searchDay("jobs/20220604", 3)
    val csv = Seq("data/csv/20220401.csv", "data/csv/20220402.csv")
    val (frames, jobs) = jobsDuring(Seq(
      Sources.interactionLogs(spark, Seq(fixture, "data/interactions/20220402.json")),
      Sources.searchLogs(spark, Seq(june)),
      Sources.searchMonths(spark, Seq("T6" -> Seq(june), "T7" -> Seq(june))),
      Sources.csvExports(spark, csv, "contract STRING, app_name STRING, duration BIGINT")))
    assert(jobs == 0)
    assert(frames.map(_.count()) == Seq(30L, 3L, 6L, 23L))
    // spark.read starts a path-check pool of one thread per path (up to
    // 40) for every read; the slack of 2 is for unrelated JVM threads
    val month = Sources.dayRange("20220401", "20220430").map(d => jsonDay(s"month/$d.json", 1))
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val before = threads.getTotalStartedThreadCount
    (1 to 3).foreach(_ => Sources.interactionLogs(spark, month))
    val started = threads.getTotalStartedThreadCount - before
    assert(started <= 2, s"$started threads started while building 3 reads of 30 day files")
  }
}
