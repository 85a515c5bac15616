package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.ContentTypeMap
import graft.schema.Schemas
import graft.sources.Sources

/** Seeded generator of the Customer360 inputs: 30 daily interaction
  * NDJSON files (April) for pipeline A and 14 June + 14 July search-log
  * parquet day directories for pipeline B, in the declared
  * `Schemas.interactionLog` / `Schemas.searchLog` shapes.
  *
  * Every row is a pure function of (seed, source, day, index), so the
  * files, the [[Totals]] the conservation checks compare against and the
  * determinism self-check all come from the same rows. The inputs carry
  * the cases the pipelines must get right: hot contracts and users
  * (skewed keys), sentinel `Contract = "0"` rows, null contracts,
  * unmapped `AppName`s (including a wrong-case `kplus`), null keywords
  * and users, users that search two keywords equally often (tied top
  * keyword), and users seen in only one month. */
final class C360Inputs(seed: Long, val rowsPerDay: Int) extends Serializable {
  import C360Inputs._

  val contracts: Int = rowsPerDay * 2
  val users: Int = rowsPerDay * 3 / 2
  /** Users searching exactly two keywords twice each per month. */
  val tieUsers: Int = rowsPerDay / 20

  val aDays: Seq[String] = Sources.dayRange("20220401", "20220430")
  val bDays: Seq[String] =
    Sources.dayRange("20220601", "20220614") ++ Sources.dayRange("20220701", "20220714")

  private def rng(source: Int, day: Int, i: Int): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed, source), day), i))

  /** One interaction row: (Contract, Mac, TotalDuration, AppName, _id). */
  def interaction(day: Int, i: Int): (String, String, Long, String, String) = {
    val r = rng(1, day, i)
    val u = r.nextDouble()
    val contract =
      if (u < 0.01) "0"
      else if (u < 0.012) null
      else if (u < 0.10) "HOT" + pad(r.nextInt(HotKeys), 3)
      else "HN" + pad(r.nextInt(contracts), 7)
    val app =
      if (r.nextDouble() < 0.03) Unmapped(r.nextInt(Unmapped.length))
      else Apps(r.nextInt(Apps.length))
    val duration =
      if (r.nextDouble() < 0.05) r.nextLong(86401L) else r.nextLong(3600L)
    val mac = java.lang.Long.toHexString(r.nextLong(1L << 48) | (1L << 48)).substring(1)
    val id = java.lang.Long.toHexString(r.nextLong(Long.MaxValue))
    (contract, mac, duration, app, id)
  }

  def interactionJson(row: (String, String, Long, String, String)): String = {
    val (c, mac, d, app, id) = row
    val contract = if (c == null) "null" else "\"" + c + "\""
    s"""{"_index":"history","_type":"${app.toLowerCase(java.util.Locale.ROOT)}",""" +
      s""""_id":"$id","_score":0,"_source":{"Contract":$contract,"Mac":"$mac",""" +
      s""""TotalDuration":$d,"AppName":"$app"}}"""
  }

  /** Search rows of day `day` (0..27, June first): `rowsPerDay` random
    * rows plus, on each month's first day, the tie users' 2 x 2 searches. */
  def searchRowsOf(day: Int): Int = rowsPerDay + (if (day % 14 == 0) tieUsers * 4 else 0)

  /** The user of a search row: the first draws of its generator. */
  private def searchUser(day: Int, i: Int, r: SplittableRandom): String =
    if (i >= rowsPerDay) "TIE" + pad((i - rowsPerDay) / 4, 5)
    else {
      val u = r.nextDouble()
      // 70% of regular users search in both months, 15% in June only,
      // 15% in July only
      val both = users * 7 / 10
      val once = users * 15 / 100
      if (u < 0.005) null
      else if (u < 0.08) "HOTU" + pad(r.nextInt(HotKeys), 3)
      else {
        val x = r.nextInt(both + once)
        "U" + pad(if (x < both || day < 14) x else x + once, 7)
      }
    }

  def searchUserOf(day: Int, i: Int): String = searchUser(day, i, rng(2, day, i))

  /** One search row in `Schemas.searchLog` order. */
  def search(day: Int, i: Int): Row = {
    val r = rng(2, day, i)
    val user = searchUser(day, i, r)
    val shift = if (day < 14) 0 else 3
    val keyword =
      if (i >= rowsPerDay) { // tied pair: two keywords, two searches each
        val k = i - rowsPerDay
        Keywords((k / 4 * 7 + shift + (if (k % 2 == 0) 0 else 5)) % Keywords.length)
      } else if (r.nextDouble() < 0.05) null
      else Keywords(math.min(Keywords.length - 1,
        (Keywords.length * math.pow(r.nextDouble(), 2.0)).toInt))
    val date = bDays(day)
    val ts = s"${date.take(4)}-${date.slice(4, 6)}-${date.drop(6)} " +
      s"${pad(r.nextInt(24), 2)}:${pad(r.nextInt(60), 2)}:${pad(r.nextInt(60), 2)}.${pad(r.nextInt(100), 2)}"
    Row(java.lang.Long.toHexString(r.nextLong(Long.MaxValue)) + s"-$day-$i", ts, user, keyword,
      if (r.nextBoolean()) "enter" else "quit",
      Isps(r.nextInt(Isps.length)), Platforms(r.nextInt(Platforms.length)),
      if (r.nextBoolean()) "wifi" else "4g", "search",
      if (r.nextDouble() < 0.3) Seq("vip") else Seq.empty[String])
  }

  /** Digest of a fixed sample of rows from both sources, for the
    * determinism self-check. */
  def sampleDigest(): Long = {
    val crc = new java.util.zip.CRC32()
    for (d <- Seq(0, 17, 29); i <- 0 until 2000)
      crc.update(interactionJson(interaction(d, i)).getBytes(UTF_8))
    for (d <- Seq(0, 13, 14, 27); i <- (0 until 2000) ++ (rowsPerDay until searchRowsOf(d)))
      crc.update(search(d, i).mkString("|").getBytes(UTF_8))
    crc.getValue
  }

  /** Write the inputs under `dir` and return their paths and totals. */
  def write(spark: SparkSession, dir: Path): (Seq[String], Seq[String], Seq[String], Totals) = {
    val profile = mutable.HashSet.empty[String]
    val perType = mutable.LinkedHashMap(ContentTypeMap.ContentTypes.map(_ -> 0L): _*)
    val contractDays = mutable.HashSet.empty[(String, Int)]
    val aDir = Files.createDirectories(dir.resolve("log_content"))
    val aPaths = aDays.zipWithIndex.map { case (day, d) =>
      val p = aDir.resolve(s"$day.json")
      val w = Files.newBufferedWriter(p, UTF_8)
      try (0 until rowsPerDay).foreach { i =>
        val row = interaction(d, i)
        w.write(interactionJson(row)); w.write('\n')
        val (c, _, dur, app, _) = row
        ContentTypeMap.Mapping.get(app).foreach { t =>
          if (c != null && c != "0") {
            profile += c; perType(t) += dur; contractDays += ((c, d))
          }
        }
      } finally w.close()
      p.toString
    }

    val bDir = dir.resolve("log_search")
    val self = this
    val days = bDays
    val rows = spark.sparkContext
      .parallelize(0 until 28, 28)
      .flatMap(d => (0 until self.searchRowsOf(d)).iterator.map { i =>
        Row.fromSeq(self.search(d, i).toSeq :+ days(d))
      })
    spark.createDataFrame(rows, Schemas.searchLog.add("day", "string"))
      .write.partitionBy("day").parquet(bDir.toString)
    // one directory per day, named yyyyMMdd like the reference's layout
    val bPaths = bDays.map(day => Files.move(bDir.resolve(s"day=$day"), bDir.resolve(day)).toString)

    val june = mutable.HashSet.empty[String]
    val july = mutable.HashSet.empty[String]
    for (d <- 0 until 28; i <- 0 until searchRowsOf(d)) {
      val u = searchUserOf(d, i)
      if (u != null) (if (d < 14) june else july) += u
    }
    val totals = Totals(aDays.size.toLong * rowsPerDay,
      (0 until 28).map(searchRowsOf(_).toLong).sum,
      profile.size, perType.toSeq, contractDays.size,
      june.intersect(july).size, june.size, july.size)
    (aPaths, bPaths.take(14), bPaths.drop(14), totals)
  }
}

/** What the generated inputs hold, for the conservation checks. */
final case class Totals(
    aRows: Long, bRows: Long,
    profileContracts: Int, durationByType: Seq[(String, Long)],
    activeDays: Int, bothMonthUsers: Int, juneUsers: Int, julyUsers: Int)

object C360Inputs {
  val HotKeys = 20

  val Apps: Array[String] = ContentTypeMap.Mapping.keys.toArray.sorted
  val Unmapped: Array[String] = Array("kplus", "FIMS_TRAILER", "IPTV", "")

  /** Rule patterns joined with neutral words, plus a few that match no
    * rule: 485 keywords across every category and the fallback. */
  val Keywords: Array[String] = {
    val rules = graft.semantic.RuleClassifier.Rules.map(_._1.trim)
    val plain = Seq("trailer", "review", "tap 1", "full hd", "vietsub",
      "thuyết minh", "mới nhất", "2022", "live", "season 2")
    (for (a <- rules; b <- plain) yield s"$a $b").toArray ++
      Array("xyz", "abc 123", "đi tìm", "Nàng Dâu", "ONE PIECE")
  }

  val Isps = Array("viettel", "vnpt", "fpt", "mobifone")
  val Platforms = Array("android", "ios", "smarttv", "web")

  def pad(n: Int, width: Int): String = {
    val s = n.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }

  /** SplitMix64 finalizer: decorrelates (seed, source, day, index). */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
