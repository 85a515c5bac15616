package graft.schema

import org.apache.spark.sql.types._

/** Explicit input schemas for the Customer360 pipelines (SURVEY.md §1).
  *
  * The reference infers everything at read time (JSON inference at
  * ETL_customer_interaction.py:64, parquet footer metadata) — at 100 TB
  * schema inference is an extra pass over the data and a determinism
  * hazard, so the engine declares both schemas and keeps inference only
  * as a parity-testing escape hatch.
  */
object Schemas {

  /** Interaction logs: Elasticsearch-export NDJSON, one object per line
    * (reference data/log_content_sample/20220401.json:1). Only `_source`
    * survives the first projection. */
  val interactionLog: StructType = StructType(Seq(
    StructField("_index", StringType),
    StructField("_type", StringType),
    StructField("_id", StringType),
    StructField("_score", LongType),
    StructField("_source", StructType(Seq(
      StructField("Contract", StringType),
      StructField("Mac", StringType),
      StructField("TotalDuration", LongType),
      StructField("AppName", StringType))))))

  /** Search logs: day-partitioned snappy parquet (reference
    * data/log_search/20220701 footer). `datetime` is stored as a string
    * in the source — kept as-is for parity (SURVEY §1.4). */
  val searchLog: StructType = StructType(Seq(
    StructField("eventID", StringType),
    StructField("datetime", StringType),
    StructField("user_id", StringType),
    StructField("keyword", StringType),
    StructField("category", StringType),
    StructField("proxy_isp", StringType),
    StructField("platform", StringType),
    StructField("networkType", StringType),
    StructField("action", StringType),
    StructField("userPlansMap", ArrayType(StringType))))

  /** The ten star-schema tables (`<sfDir>/<name>.parquet`, FIXTURES.md
    * §B), exactly as Spark infers them from the files every scale factor
    * ships: all columns nullable, INT32 keys and counts as `IntegerType`,
    * and `o_orderdate`, `l_shipdate` and `events.ts` stored as INT64
    * TIMESTAMP(MICROS) without UTC adjustment, hence `TimestampNTZType`.
    * [[graft.Tables]] reads with these and checks each table's footer
    * against them once per session. `events.ts` alone may also arrive
    * UTC-adjusted or as TIMESTAMP(NANOS) (see [[graft.Tables.events]]). */
  private def table(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  val sf: Map[String, StructType] = Map(
    "region" -> table("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> table("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> table("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> table("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> table("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> table("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> table("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> table("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> table("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** How a file's schema differs from the declared one, one entry per
    * column: missing, extra, or a different type (nullability aside —
    * Spark reads every file column as nullable). Empty when they agree. */
  def drift(declared: StructType, found: StructType): Seq[String] = {
    val have = found.fields.map(f => f.name -> f.dataType).toMap
    val want = declared.fieldNames.toSet
    declared.fields.toSeq.flatMap { f =>
      have.get(f.name) match {
        case None => Some(s"${f.name}: missing")
        case Some(t) if t.catalogString != f.dataType.catalogString =>
          Some(s"${f.name}: ${t.catalogString}, declared ${f.dataType.catalogString}")
        case _ => None
      }
    } ++ found.fields.toSeq.collect {
      case f if !want(f.name) => s"${f.name}: extra (${f.dataType.catalogString})"
    }
  }

  /** A data drop whose parquet schema is not the declared one: raised on
    * the first read of the table, naming each differing column. The fix
    * is the data, or `Schemas` itself when the change is intended. */
  final class SchemaContractError(val table: String, val path: String,
      val diffs: Seq[String])
      extends IllegalStateException(
        s"SCHEMA_CONTRACT: $table at $path differs from graft.schema.Schemas." +
          s"$table: ${diffs.mkString("; ")}")

  /** Typed façade for the interaction rows after envelope unwrap. */
  final case class InteractionLog(
      Contract: String, Mac: String, TotalDuration: Long, AppName: String)

  /** Typed façade for search-log rows (pipeline-relevant columns). */
  final case class SearchLog(
      eventID: String, datetime: String, user_id: String, keyword: String)

  /** Output row of the interaction pipeline (README.md:80-100 schema;
    * `Most Watched` carries a space in the warehouse table — preserved). */
  final case class EngagementRow(
      Contract: String,
      Total_Giai_Tri: Long, Total_Phim_Truyen: Long, Total_The_Thao: Long,
      Total_Thieu_Nhi: Long, Total_Truyen_Hinh: Long,
      Active: Long, `Most Watched`: String, Taste: String,
      Level_Activeness: String)

  /** Output row of the behavior pipeline (README.md:103-113 schema). */
  final case class BehaviorRow(
      user_id: String,
      most_search_T6: String, category_T6: String,
      most_search_T7: String, category_T7: String,
      Trending_Type: String, Category_Change: String)
}
