package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Generation-versioned tables: latest-read follows the pointer, time
  * travel reaches any retained snapshot, vacuum respects retention and
  * never deletes the pointed-at generation. Multi-table stores
  * ([[GenerationStore]]): one commit point, the authority's pointer. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/tmp/graft_generations_spec"

  private def cleanup(): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  test("writes version, reads follow the pointer, time travel works") {
    cleanup()
    assert(GenerationedTable.latest(spark, dir).isEmpty)
    val g1 = GenerationedTable.write(Seq((1L, "a")).toDF("k", "v"), dir)
    val g2 = GenerationedTable.write(Seq((1L, "a2"), (2L, "b")).toDF("k", "v"), dir)
    val g3 = GenerationedTable.write(Seq((3L, "c")).toDF("k", "v"), dir)
    assert((g1, g2, g3) == (1, 2, 3))
    assert(GenerationedTable.latest(spark, dir).contains(3))
    assert(GenerationedTable.read(spark, dir).as[(Long, String)]
      .collect().toSet == Set((3L, "c")))
    // time travel: every retained snapshot is intact
    assert(GenerationedTable.read(spark, dir, Some(1)).count() == 1)
    assert(GenerationedTable.read(spark, dir, Some(2))
      .orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a2"), (2L, "b")))
    cleanup()
  }

  test("writeAs commits under an explicit generation, overwriting a " +
       "crashed writer's partial snapshot") {
    cleanup()
    GenerationedTable.write(Seq((1L, "a")).toDF("k", "v"), dir)
    // a crashed writer left a partial gen=2 (no pointer swing)
    Seq((9L, "partial")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    val g = GenerationedTable.writeAs(Seq((2L, "b")).toDF("k", "v"), dir, 2)
    assert(g == 2 && GenerationedTable.latest(spark, dir).contains(2))
    assert(GenerationedTable.read(spark, dir).as[(Long, String)]
      .collect().toSet == Set((2L, "b")), "partial snapshot fully replaced")
    cleanup()
  }

  test("vacuum drops old generations but never the pointed-at one") {
    cleanup()
    (1 to 4).foreach(i =>
      GenerationedTable.write(Seq((i.toLong, s"v$i")).toDF("k", "v"), dir))
    val dropped = GenerationedTable.vacuum(spark, dir, keep = 2)
    assert(dropped == Seq(1, 2))
    assert(GenerationedTable.generations(spark, dir) == Seq(3, 4))
    assert(GenerationedTable.read(spark, dir).as[(Long, String)]
      .collect().toSet == Set((4L, "v4")))
    // a vacuumed generation refuses to read rather than scanning ghosts
    intercept[IllegalArgumentException] {
      GenerationedTable.read(spark, dir, Some(1))
    }
    // keep larger than history: nothing to drop
    assert(GenerationedTable.vacuum(spark, dir, keep = 10).isEmpty)
    cleanup()
  }

  test("an empty or garbage _LATEST pointer degrades to None, not a crash") {
    cleanup()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    // zero-length pointer (a writer crashed between create and write)
    fs.create(new org.apache.hadoop.fs.Path(dir, "_LATEST"), true).close()
    assert(GenerationedTable.latest(spark, dir).isEmpty)
    // unparseable pointer
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_LATEST"), true)
    out.write("not-a-number".getBytes("UTF-8")); out.close()
    assert(GenerationedTable.latest(spark, dir).isEmpty)
    cleanup()
  }

  test("a reader planned before a new write scans the old complete snapshot") {
    cleanup()
    GenerationedTable.write(spark.range(10).select(col("id")), dir)
    val reader = GenerationedTable.read(spark, dir) // resolves gen=1 now
    GenerationedTable.write(spark.range(99).select(col("id")), dir)
    assert(reader.count() == 10, "in-flight reader must keep its snapshot")
    assert(GenerationedTable.read(spark, dir).count() == 99)
    cleanup()
  }

  // ---------------------------------------------------- GenerationStore

  private def store = GenerationStore(dir, authority = "model",
    siblings = Seq("stats", "codes"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.as[Long].collect().toSet

  private def one(v: Long) = Seq(v).toDF("v")

  test("store: a commit lands the siblings under the new number, then " +
       "the authority") {
    cleanup()
    val seen = Seq.newBuilder[(String, Option[Int])]
    def frames(v: Long): Int => PartialFunction[String, org.apache.spark.sql.DataFrame] =
      _ => {
        case "stats" => one(v)
        case "codes" =>
          seen += "stats@codes" -> GenerationedTable.latest(spark, store.dir("stats"))
          one(v + 1)
        case "model" =>
          seen += "codes@model" -> GenerationedTable.latest(spark, store.dir("codes"))
          seen += "model@model" -> GenerationedTable.latest(spark, store.dir("model"))
          one(v + 2)
      }
    assert(store.commit(spark)(frames(10)) == 1)
    assert(store.commit(spark)(frames(20)) == 2)
    // each frame was built after the tables before it had landed the
    // new number, and before the authority's pointer moved
    assert(seen.result() == Seq(
      "stats@codes" -> Some(1), "codes@model" -> Some(1), "model@model" -> None,
      "stats@codes" -> Some(2), "codes@model" -> Some(2), "model@model" -> Some(1)))
    assert(store.committed(spark) == 2)
    assert(store.tables.map(t => rows(store.read(spark, t))) ==
      Seq(Set(20L), Set(21L), Set(22L)))
    assert(store.tables.map(t => rows(store.read(spark, t, Some(1)))) ==
      Seq(Set(10L), Set(11L), Set(12L)))
    // the on-disk layout: <root>/<table>/gen=<g>, one pointer per table
    assert(store.tables.forall(t =>
      GenerationedTable.generations(spark, s"$dir/$t") == Seq(1, 2)))
    // a commit missing a table's frame writes nothing
    intercept[IllegalArgumentException] {
      store.commit(spark)(_ => { case "stats" | "model" => one(0) })
    }
    assert(GenerationedTable.generations(spark, store.dir("stats")) == Seq(1, 2))
    cleanup()
  }

  test("store: a failure before the authority write leaves the committed " +
       "generation unchanged; the orphan sibling is readable only pinned") {
    cleanup()
    store.commit(spark)(_ => {
      case "stats" => one(1); case "codes" => one(2); case "model" => one(3)
    })
    intercept[IllegalStateException] {
      store.commit(spark)(_ => {
        case "stats" => one(7)
        case "codes" => one(8)
        case "model" => throw new IllegalStateException("trainer crashed")
      })
    }
    // the siblings' own pointers moved; the store's did not
    assert(GenerationedTable.latest(spark, store.dir("codes")).contains(2))
    assert(store.committed(spark) == 1)
    assert(rows(store.read(spark, "codes")) == Set(2L))
    assert(rows(store.read(spark, "codes", Some(2))) == Set(8L))
    // the next commit re-derives the same number and overwrites the orphan
    assert(store.commit(spark)(_ => {
      case "stats" => one(4); case "codes" => one(5); case "model" => one(6)
    }) == 2)
    assert(rows(store.read(spark, "codes")) == Set(5L))
    cleanup()
  }

  test("store: an empty store is refused by name; a pinned read of a " +
       "generation that is not retained fails") {
    cleanup()
    val e = intercept[IllegalStateException](store.read(spark, "codes"))
    assert(e.getMessage.contains(s"$dir has no trained generation"))
    intercept[IllegalStateException](store.committed(spark))
    store.commit(spark)(_ => {
      case "stats" => one(1); case "codes" => one(2); case "model" => one(3)
    })
    intercept[IllegalArgumentException](store.read(spark, "codes", Some(2)))
    // and a table the store does not declare
    intercept[IllegalArgumentException](store.read(spark, "centroids"))
    cleanup()
  }
}
