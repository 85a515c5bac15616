package graft.sources

import java.io.FileNotFoundException
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, DateTimeParseException, ResolverStyle}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression,
  Predicate}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A fixed file index over day-named files or day directories: each
  * file is listed once on the driver, at construction, and served under
  * a partition row holding its `log_date` (and, for a tagged read, the
  * tag of the path group it was listed under), parsed once per file
  * from its path. Spark appends partition values to every row of a file
  * as constants, so no per-row date derivation is left in the plan, and
  * a predicate on a partition column skips whole files
  * (`PartitionFilters` in the scan).
  *
  * Listing keeps what `spark.read` does with the same paths: a path
  * given twice is read twice; a missing path fails with
  * `PATH_NOT_FOUND`; names starting with `_` or `.` (`_SUCCESS`,
  * `.crc` files) below a given path are skipped; subdirectories are
  * listed recursively; no paths give an empty frame with the full
  * schema. It runs no Spark job and starts no thread pool: one Hadoop
  * `listStatus` call per path (and per subdirectory). Spark's own
  * `InMemoryFileIndex` lists more than 32 root paths with a parallel
  * Spark job instead; over 365 local day directories this listing was
  * the faster one (ROADMAP), and the pipelines read 30 + 28 paths.
  *
  * A file whose path carries no valid `yyyyMMdd` day where `layout`
  * puts it fails the construction with [[DayPathContractError]]. The
  * listing is fixed: `refresh` does not list again, so a day file
  * added later is seen by a new read only. */
final class DayFiles private (spark: SparkSession, layout: DayFiles.Layout,
    tag: Option[String], groups: Seq[(String, Seq[String])]) extends FileIndex {

  override val partitionSchema: StructType = StructType(
    StructField("log_date", DateType) +: tag.map(StructField(_, StringType)).toSeq)

  /** One partition per listed file (a file listed twice is served
    * twice), and the qualified root paths. */
  private val (roots, partitions) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val perPath = for ((value, paths) <- groups; p <- paths) yield {
      val fs = new Path(p).getFileSystem(conf)
      val root = fs.makeQualified(new Path(p))
      root -> DayFiles.leafFiles(fs, root).map { st =>
        val day = layout.day(st.getPath.toString)
        val values = day +: tag.map(_ => UTF8String.fromString(value)).toSeq
        PartitionDirectory(InternalRow.fromSeq(values), Seq(FileStatusWithMetadata(st)))
      }
    }
    (perPath.map(_._1).distinct, perPath.flatMap(_._2))
  }

  private def files = partitions.flatMap(_.files)

  override def rootPaths: Seq[Path] = roots

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val names = partitionSchema.fieldNames.toSet
    val usable = partitionFilters.filter(_.references.map(_.name).toSet.subsetOf(names))
    if (usable.isEmpty) partitions
    else {
      val bound = Predicate.createInterpreted(usable.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      partitions.filter(p => bound.eval(p.values))
    }
  }

  override def inputFiles: Array[String] = files.map(_.getPath.toString).distinct.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum
}

object DayFiles {

  /** Where a file's day sits in its path. */
  final case class Layout(pattern: String, where: String) {
    private val regex = pattern.r

    /** The day of `file` as Spark's internal date (days since the
      * epoch). */
    def day(file: String): Int = {
      val digits = regex.findFirstMatchIn(file).map(_.group(1))
        .getOrElse(throw new DayPathContractError(file, where))
      try LocalDate.parse(digits, Day).toEpochDay.toInt
      catch { case _: DateTimeParseException => throw new DayPathContractError(file, where) }
    }
  }

  /** Day files: the day is the last 8-digit run of the file name, so an
    * 8-digit parent directory never wins. */
  val InFileName: Layout = Layout("""(\d{8})[^/]*$""", "file name")

  /** Day directories: the day is the name of the file's directory, so
    * digits in part-file names never win. */
  val InDirName: Layout = Layout("""(\d{8})/[^/]*$""", "directory name")

  private val Day = DateTimeFormatter.ofPattern("uuuuMMdd").withResolverStyle(ResolverStyle.STRICT)

  /** A day file whose path has no valid `yyyyMMdd` day where its
    * layout puts it. */
  final class DayPathContractError(val path: String, where: String)
      extends IllegalArgumentException(
        s"DAY_PATH_CONTRACT: $path has no valid yyyyMMdd day in its $where; " +
          "name the day file or directory with its day")

  /** `paths` read as `format` with `dataSchema`, plus `log_date`. */
  def read(spark: SparkSession, format: FileFormat, dataSchema: StructType, layout: Layout,
           paths: Seq[String], options: Map[String, String] = Map.empty): DataFrame =
    frame(spark, new DayFiles(spark, layout, None, Seq("" -> paths)), format, dataSchema, options)

  /** Every group's paths in one relation, plus `log_date` and a string
    * column `tag` holding the group's value: a path in two groups is
    * read once under each value. */
  def readTagged(spark: SparkSession, format: FileFormat, dataSchema: StructType,
                 layout: Layout, tag: String, groups: Seq[(String, Seq[String])],
                 options: Map[String, String] = Map.empty): DataFrame =
    frame(spark, new DayFiles(spark, layout, Some(tag), groups), format, dataSchema, options)

  private def frame(spark: SparkSession, index: DayFiles, format: FileFormat,
                    dataSchema: StructType, options: Map[String, String]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, dataSchema,
      None, format, options)(spark))

  /** The data files at or below `path`, as Spark's listing keeps them. */
  private def leafFiles(fs: FileSystem, path: Path): Seq[FileStatus] = {
    val statuses =
      try fs.listStatus(path).toSeq
      catch { case _: FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> path.toString)) }
    if (statuses.size == 1 && statuses.head.getPath == path && !statuses.head.isDirectory)
      statuses
    else statuses.filterNot { st =>
      val name = st.getPath.getName
      name.startsWith("_") || name.startsWith(".")
    }.flatMap(st => if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st))
  }
}
