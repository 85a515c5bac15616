package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.schema.Schemas
import graft.schema.Schemas.SchemaContractError

/** Uniform access to the driver-generated parquet tables
  * (`/root/testdata/sf{N}/<name>.parquet`, schemas in FIXTURES.md §B).
  *
  * One multi-path-capable read per table — never a per-day union loop
  * (the reference's accumulation anti-pattern at
  * ETL_customer_interaction.py:89-92 / ETL_customer_behavior.py:170-181).
  *
  * Every read carries the declared schema ([[Schemas.sf]]), so building
  * the DataFrame runs no Spark job (an inferred `read.parquet` runs one
  * schema-inference job per call). The first read of a table path in a
  * session checks the declared schema against one file's footer, read
  * on the driver; drift fails there with a [[SchemaContractError]]
  * instead of as wrong rows downstream. A `Schemas` edit cannot silently
  * change artifact bytes: it either matches the files (then the data
  * changed and the catalog's input fingerprint rebuilds) or fails here.
  */
object Tables {

  /** session → table path → the schema to read it with: the declared
    * one, with `events.ts` as the file holds it. Weak in the session, so
    * a stopped session's entries go with it. */
  private val checked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, StructType]]())

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val perSession = checked.computeIfAbsent(spark, _ => TrieMap.empty)
    val schema = perSession.getOrElseUpdate(path, footerContract(spark, name, path))
    spark.read.schema(schema).parquet(path)
  }

  /** Check one file's footer against the declared schema and return
    * the read schema. `events.ts` is the one closed-set column: NTZ
    * micros (declared), UTC-adjusted (`TimestampType`) or
    * TIMESTAMP(NANOS), which Spark's reader only accepts as long under
    * `spark.sql.legacy.parquet.nanosAsLong`. That conf is consulted when
    * the frame executes, not when it is built, so it is set on the
    * session here, and only for a file that holds nanos. */
  private def footerContract(spark: SparkSession, name: String, path: String): StructType = {
    val declared = Schemas.sf.getOrElse(name,
      throw new IllegalArgumentException(s"no declared schema for table '$name'"))
    val p = new Path(path)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(hadoopConf)
    val file =
      if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.getName).headOption
        .getOrElse(throw new SchemaContractError(name, path, Seq("no data file")))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hadoopConf))
    val footer = try reader.getFooter finally reader.close()
    // the same conversion schema inference applies, except that nanos
    // always surface as long, so they can be told apart below
    val sqlConf = spark.sessionState.conf.clone()
    sqlConf.setConfString(NanosAsLong, "true")
    val found = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, footer), new ParquetToSparkSchemaConverter(sqlConf))
    val fileSchema = footer.getFileMetaData.getSchema
    val nanos = fileSchema.containsField("ts") &&
      (fileSchema.getType(fileSchema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case a: TimestampLogicalTypeAnnotation => a.getUnit == TimeUnit.NANOS
        case _ => false
      })
    val tsKind =
      if (name != "events") None
      else found.find(_.name == "ts").map(_.dataType).collect {
        case LongType if nanos => LongType
        case TimestampType => TimestampType
      }
    val read = tsKind.fold(declared)(t => StructType(declared.map(f =>
      if (f.name == "ts") f.copy(dataType = t) else f)))
    val diffs = Schemas.drift(read, found)
    if (diffs.nonEmpty) throw new SchemaContractError(name, path, diffs)
    if (tsKind.contains(LongType)) spark.conf.set(NanosAsLong, "true")
    read
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** `events` with `ts` normalized to session-zone `TimestampType` at
    * microsecond precision, whichever of its three physical types the
    * data drop holds (the footer check records which):
    *  - TIMESTAMP(MICROS) without UTC adjustment, every shipped drop:
    *    Spark reads it as TIMESTAMP_NTZ, cast here — the identity on the
    *    stored micros because every graft session runs with
    *    `spark.sql.session.timeZone=UTC`;
    *  - UTC-adjusted TIMESTAMP: already `TimestampType`;
    *  - TIMESTAMP(NANOS): read as long nanos (the footer check set
    *    `spark.sql.legacy.parquet.nanosAsLong` on the session, and leaves
    *    it set, since the conf is read at execution) and floor-divided
    *    to micros, the same truncation DuckDB applies.
    * Downstream operators and oracles therefore see one dtype. */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(apply(s, d, "events"))

  /** The `events.ts` conversion of [[events]], over any frame (batch or
    * stream) read with the schema [[apply]] returns for `events`. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
