package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** A crafted fixture in the declared shape of sf table `name`
    * ([[graft.schema.Schemas.sf]]), as [[Tables]] requires: declared
    * columns the fixture does not set are typed nulls, the others are
    * cast to their declared type, in declared order. */
  implicit class SfTableOps(df: DataFrame) {
    def asSfTable(name: String): DataFrame =
      df.select(graft.schema.Schemas.sf(name).map { f =>
        (if (df.columns.contains(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)
      }: _*)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local("graft-test", cpus = 4)
}
