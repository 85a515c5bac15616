package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.multimodal.Multimodal
import graft.plans.Materialize.MaterializeOps

/** Query surface for the multimodal plumbing. The decode stub is
  * deterministic arithmetic over an md5 digest, so even the
  * `mapPartitions` path gets a full DuckDB oracle — the plumbing
  * (binary column, partition-local decoder lifecycle, typed output
  * schema) is verified end to end. */
object MultimodalQueries {

  /** hex-digit value of md5-char `i` (1-based) in DuckDB SQL. */
  private def hex(i: Int) = s"(strpos('0123456789abcdef', h[$i]) - 1)"

  /** REAL image decode + resize through `javax.imageio` (JDK built-in —
    * no external codec libraries): each doc_id < 500 becomes a
    * deterministic synthetic PNG (single fill color, id-derived dims) in
    * one map stage, and a partition-local ImageIO pass decodes it back
    * and resizes to an 8-px-bounded thumbnail. Because PNG is lossless
    * and the synthetic image is closed-form, EVERY output column —
    * decoded dims, (0,0) pixel channels, actual thumbnail dims — is
    * exactly computable by the DuckDB oracle as integer arithmetic,
    * making the real codec path hash-verifiable. Encoded byte lengths /
    * digests are deliberately NOT output (PNG bytes are
    * encoder-version-dependent). */
  val imageIoRoundTrip = Q(
    "q_mm_imageio",
    """SELECT doc_id,
      |  CAST(16 + doc_id % 32 AS INTEGER) AS width,
      |  CAST(16 + doc_id % 24 AS INTEGER) AS height,
      |  CAST(((doc_id * 2654435761) % 16777216) // 65536 AS INTEGER) AS r,
      |  CAST((((doc_id * 2654435761) % 16777216) // 256) % 256 AS INTEGER) AS g,
      |  CAST(((doc_id * 2654435761) % 16777216) % 256 AS INTEGER) AS b,
      |  CAST(greatest(1, (16 + doc_id % 32) * 8 // greatest(16 + doc_id % 32, 16 + doc_id % 24)) AS INTEGER) AS thumb_w,
      |  CAST(greatest(1, (16 + doc_id % 24) * 8 // greatest(16 + doc_id % 32, 16 + doc_id % 24)) AS INTEGER) AS thumb_h
      |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        // encode AND decode inside the partition: the codec initializes
        // once per partition; no pixel data ever visits the driver
        ids.map { id =>
          graft.multimodal.ImageCodec.decodeRow(
            id, graft.multimodal.ImageCodec.syntheticPng(id), maxDim = 8)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** REAL image FEATURE extraction: doc_id < 500 → deterministic
    * gradient PNG ([[graft.multimodal.ImageCodec.syntheticGradientPng]]
    * — non-constant raster) → partition-local decode + a genuine w×h
    * pixel reduction (mean/min/max gray). The feature pass a multimodal
    * corpus build runs between decode and filtering — and because the
    * gradient is closed-form and PNG lossless, the oracle computes the
    * same reduction over an integer grid (`range(w) × range(h)`),
    * making the real pixel loop hash-verifiable end to end. */
  val imageFeatures = Q(
    "q_mm_img_features",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 32 AS INTEGER) AS width,
      |    CAST(16 + doc_id % 24 AS INTEGER) AS height
      |  FROM documents WHERE doc_id < 500
      |), px AS (
      |  SELECT doc_id, width, height,
      |    (doc_id + x.x + y.y) % 256 AS gray
      |  FROM g, unnest(range(0, width)) AS x(x), unnest(range(0, height)) AS y(y)
      |)
      |SELECT doc_id, width, height,
      |  CAST(sum(gray) * 1000 // (width * height) AS BIGINT) AS mean_gray_milli,
      |  CAST(min(gray) AS INTEGER) AS min_gray,
      |  CAST(max(gray) AS INTEGER) AS max_gray
      |FROM px GROUP BY doc_id, width, height
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        // encode AND decode inside the partition (the q_mm_imageio
        // lifecycle); the pixel reduction never leaves the task
        ids.map { id =>
          graft.multimodal.ImageCodec.featureRow(
            id, graft.multimodal.ImageCodec.syntheticGradientPng(id))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Perceptual-hash image dedup — the multimodal twin of the text
    * dedup family: each gradient PNG is decoded partition-locally and
    * average-hashed ([[graft.multimodal.ImageCodec.aHashRow]]: 8×8
    * block means, image-mean threshold, 64-bit signature), then exact
    * hash grouping marks the keeper per perceptual cluster. The hash is
    * brightness-invariant, so the non-wrapping linear-ramp images
    * collapse to geometry-only signatures and ids sharing (w, h) mod
    * geometry dedup together — real clusters, not singletons. Scale
    * shape: map-side decode+hash, one hash-agg, broadcast join-back —
    * the exact-dedup plan with a decoded-pixel key. The oracle replays
    * block means, threshold, and bit string over the closed-form grid
    * in pure integer arithmetic. */
  /** DuckDB replay of the aHash pipeline over the closed-form gradient
    * grid: block milli-means → image-mean threshold → 64-char bit
    * string, in pure integer arithmetic. Shared by the phash dedup and
    * the Hamming near-dup queries. */
  private[operators] def imgPhashCtesP(p: String) =
    s"""${p}g AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 32 AS INTEGER) AS w,
      |    CAST(16 + doc_id % 24 AS INTEGER) AS h
      |  FROM documents WHERE doc_id < 500
      |), ${p}px AS (
      |  SELECT doc_id, w, h, x.x, y.y, (doc_id + x.x + y.y) % 256 AS gray
      |  FROM ${p}g, unnest(range(0, w)) AS x(x), unnest(range(0, h)) AS y(y)
      |), ${p}cells AS (
      |  SELECT doc_id, (y * 8) // h AS cj, (x * 8) // w AS ci,
      |    CAST(sum(gray) * 1000 // count(*) AS BIGINT) AS cm
      |  FROM ${p}px GROUP BY doc_id, cj, ci
      |), ${p}thr AS (
      |  SELECT doc_id, CAST(sum(cm) // 64 AS BIGINT) AS t
      |  FROM ${p}cells GROUP BY doc_id
      |), ${p}hash AS (
      |  SELECT c.doc_id,
      |    string_agg(CASE WHEN cm > t THEN '1' ELSE '0' END, ''
      |               ORDER BY cj, ci) AS phash
      |  FROM ${p}cells c JOIN ${p}thr USING (doc_id) GROUP BY c.doc_id
      |)""".stripMargin

  private val imgPhashCtes = imgPhashCtesP("")

  /** The per-image aHash plan, decoded and hashed partition-locally —
    * the shape the builder materializes. */
  private[graft] def phashPlan(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          graft.multimodal.ImageCodec.aHashRow(
            id, graft.multimodal.ImageCodec.syntheticGradientPng(id))
        }
      }
      .toDF()
  }

  /** Per-image signatures persisted once per (run, corpus) — pixels are
    * touched exactly once, the batch twin of [[graft.streaming
    * .MultimodalStreams]]'s hash-on-arrival index; the phash dedup and
    * Hamming near-dup queries both serve from the stored frame. */
  private[graft] def phashFrame(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"img_phash_${IndexCatalog.tag(d)}",
                                  inputs = Seq(d),
                                  owners = Seq(MultimodalQueries.getClass,
                                    graft.multimodal.ImageCodec.getClass,
                                    graft.Tables.getClass)) { dir =>
      phashPlan(s, d).write.mode("overwrite").parquet(s"$dir/phash")
      IndexCatalog.declareIds("path", "phash", Seq("doc_id"))
    }
    IndexCatalog.read(s, dir, "phash")
  }

  /** Keeper election over a (doc_id, phash) signature frame: keep =
    * min doc_id per hash, with "" sentinel rows EXCLUDED — an
    * undecodable payload is audit-visible in the stored frame but
    * never joins a dedup cluster (two corrupt documents are not
    * duplicates of each other). Shared by the image and audio dedup
    * queries and the joint verdict, so the election rule cannot
    * drift between them. */
  private[operators] def hashKeepers(
      hashFrame: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val valid = hashFrame.filter(col("phash") =!= "")
    val mins = valid.groupBy("phash").agg(min("doc_id").as("m"))
    valid.join(mins, Seq("phash"))
      .select(col("doc_id"), col("phash"),
        (col("doc_id") === col("m")).as("keep"))
  }

  val imagePhash = Q(
    "q_mm_img_phash",
    s"""WITH $imgPhashCtes
      |SELECT doc_id, phash,
      |  doc_id = min(doc_id) OVER (PARTITION BY phash) AS keep
      |FROM hash ORDER BY doc_id""".stripMargin) { (s, d) =>
    hashKeepers(phashFrame(s, d)).orderBy("doc_id")
  }

  /** Near-duplicate IMAGE pairs: Hamming distance 1–3 between distinct
    * perceptual hashes, found by the pigeonhole band join the text
    * SimHash path uses — 4 bands of 16 bits, distance ≤ 3 guarantees
    * band agreement — never all-pairs. Candidates join over one
    * CLUSTER REPRESENTATIVE per distinct hash (min doc_id), so exact
    * dups (q_mm_img_phash's job) neither inflate the buckets nor
    * reappear as pairs; band buckets above the cap are excluded with
    * the [[graft.operators.DedupQueries]] discipline, replayed in the
    * oracle. At 100 TB: decode+hash map-side, distinct-hash reduce,
    * band-bucket shuffle bounded at cap² — the text near-dup plan with
    * a decoded-pixel signature. */
  val imageNearDup = Q(
    "q_mm_img_neardup",
    s"""WITH $imgPhashCtes,
      |reps AS (
      |  SELECT min(doc_id) AS doc_id, phash FROM hash GROUP BY phash
      |), bands AS (
      |  SELECT doc_id, b.b, substr(phash, b.b * 16 + 1, 16) AS bits
      |  FROM reps, unnest(range(0, 4)) AS b(b)
      |), okb AS (
      |  SELECT b, bits FROM bands GROUP BY b, bits
      |  HAVING count(*) <= 64
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT bands.* FROM bands JOIN okb USING (b, bits)) a
      |  JOIN (SELECT bands.* FROM bands JOIN okb USING (b, bits)) b
      |    ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(list_sum([CASE WHEN ha.phash[j] <> hb.phash[j] THEN 1 ELSE 0 END
      |                   for j in range(1, 65)]) AS BIGINT) AS hamming
      |  FROM cand
      |  JOIN reps ha ON ha.doc_id = doc_a
      |  JOIN reps hb ON hb.doc_id = doc_b
      |) WHERE hamming BETWEEN 1 AND 3
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    hammingNearDup(phashFrame(s, d))
  }

  /** Hamming-band pigeonhole near-dup join over any (doc_id, phash)
    * 64-bit signature frame — shared by the image and audio twins. One
    * representative per distinct hash (min doc_id) keeps exact dups out
    * of the buckets; 4 bands of 16 bits (distance ≤ 3 guarantees band
    * agreement); band buckets above 64 excluded with the
    * [[DedupQueries]] cap discipline; exact Hamming verify 1–3; ""
    * sentinels never enter. ONE banded frame (posexplode of the 4
    * substrings — codegen'd, no 4-way union re-planning the signature
    * stage per band) carries the full hash through, so candidate pairs
    * emerge with both signatures attached and no join-back to the hash
    * frame exists. */
  private def hammingNearDup(
      hashFrame: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the representative frame feeds the band explode, which itself
    // feeds three arms (bucket guard + both candidate sides) —
    // materialize it once; and decode the 64-char '0'/'1' signature to
    // two 32-bit longs HERE, before banding multiplies it 4×, so the
    // candidate shuffle/distinct carries 4 longs instead of two 64-char
    // strings and Hamming is two codegen bit_count(xor) terms instead
    // of 64 substring comparisons (the q_mm_contamination move; the
    // decode is injective on the fixed-width string, so groups and
    // distances are unchanged)
    val reps = hashFrame.filter(col("phash") =!= "")
      .groupBy("phash").agg(min("doc_id").as("doc_id"))
      .withColumn("h1", conv(substring(col("phash"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2", conv(substring(col("phash"), 33, 32), 2, 10).cast("long"))
      .materializeOnce
    val bands = reps.select(col("doc_id"), col("h1"), col("h2"),
      posexplode(array((0 until 4).map(b =>
        substring(col("phash"), b * 16 + 1, 16)): _*)).as(Seq("b", "bits")))
    val okb = bands.groupBy("b", "bits")
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= 64)
      .select("b", "bits")
    val bounded = bands.join(okb, Seq("b", "bits"))
    val cand = bounded
      .select(col("doc_id").as("doc_a"), col("h1").as("a1"),
        col("h2").as("a2"), col("b"), col("bits"))
      .join(bounded.select(col("doc_id").as("doc_b"), col("h1").as("b1"),
        col("h2").as("b2"), col("b"), col("bits")), Seq("b", "bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "a1", "a2", "b1", "b2")
      .distinct()
    cand
      .withColumn("hamming",
        (expr("bit_count(a1 ^ b1)") + expr("bit_count(a2 ^ b2)")).cast("long"))
      .filter(col("hamming").between(1L, 3L))
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** REAL audio decode through `javax.sound.sampled` (JDK built-in WAV
    * codec): doc_id < 500 → deterministic synthetic 16-bit PCM WAV →
    * partition-local header+stream decode. Lossless PCM makes every
    * output column — rate, channels, frames, floor-division duration,
    * the actual first decoded sample — closed-form for the oracle. */
  val wavRoundTrip = Q(
    "q_mm_wav",
    """SELECT doc_id,
      |  CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
      |  CAST(400 + (doc_id % 100) * 4 AS BIGINT) AS n_frames,
      |  CAST((400 + (doc_id % 100) * 4) * 1000
      |       // (8000 + (doc_id % 8) * 1000) AS BIGINT) AS duration_ms,
      |  CAST((doc_id * 31) % 65536 - 32768 AS INTEGER) AS first_sample
      |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          graft.multimodal.AudioCodec.decodeRow(
            id, graft.multimodal.AudioCodec.syntheticWav(id))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Video container metadata via a real RIFF/AVI header parser (frame
    * decode stays stubbed — the JDK ships no video codec; resolution /
    * frame count / fps / duration are what a corpus pass filters on).
    * Every output column is closed-form for the oracle. */
  val aviProbe = Q(
    "q_mm_avi",
    """SELECT doc_id,
      |  CAST(160 + (doc_id % 16) * 16 AS INTEGER) AS width,
      |  CAST(120 + (doc_id % 9) * 8 AS INTEGER) AS height,
      |  CAST(100 + (doc_id % 50) * 10 AS BIGINT) AS n_frames,
      |  CAST(1000000 // (33333 + (doc_id % 5) * 1000) AS BIGINT) AS fps,
      |  CAST((100 + (doc_id % 50) * 10) * (33333 + (doc_id % 5) * 1000)
      |       // 1000 AS BIGINT) AS duration_ms
      |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          graft.multimodal.VideoProbe.probeRow(
            id, graft.multimodal.VideoProbe.syntheticAvi(id))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** REAL video FRAME decode: MJPEG-AVI payloads (each `movi` chunk a
    * genuine ImageIO-encoded JPEG) frame-SAMPLED at stride 2 and decoded
    * through the JDK JPEG codec inside the partition — the every-k-th-
    * frame featurize pass a corpus build runs. JPEG is lossy in pixels
    * but lossless in geometry, so the per-frame outputs are closed-form
    * for the oracle; pixel fidelity is pinned by MjpegCodecSpec with the
    * tolerance a lossy codec demands. H.264/VP9 stay header-only
    * ([[graft.multimodal.VideoProbe]]) — the JDK ships no codec for
    * them. */
  val mjpegFrames = Q(
    "q_mm_mjpeg",
    """SELECT doc_id, frame_idx,
      |  CAST(16 + (doc_id % 8) * 4 AS INTEGER) AS width,
      |  CAST(12 + (doc_id % 5) * 4 AS INTEGER) AS height,
      |  true AS ok
      |FROM (
      |  SELECT doc_id,
      |    CAST(unnest(range(0, 2 + doc_id % 3)) AS INTEGER) AS frame_idx
      |  FROM documents WHERE doc_id < 500
      |) WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        // encode AND decode inside the partition (codec lifecycle rule)
        ids.flatMap { id =>
          graft.multimodal.MjpegCodec.frameRows(
            id, graft.multimodal.MjpegCodec.syntheticMjpegAvi(id), stride = 2)
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Per-frame signature PLAN out of the REAL animated-GIF decode
    * ([[graft.multimodal.GifCodec]]): doc_id < 500 → synthetic
    * multi-frame GIF through the JDK writer's sequence API → frame-
    * sampled (stride 2) read-back + per-frame aHash, all inside one
    * partition (codec lifecycle rule). What [[gifFrameTable]]
    * materializes. */
  private[graft] def gifFramePlan(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        // encode AND decode inside the partition (codec lifecycle rule)
        ids.flatMap { id =>
          graft.multimodal.GifCodec.frameRows(
            id, graft.multimodal.GifCodec.syntheticGif(id), stride = 2)
        }
      }
      .toDF()
  }

  /** Per-frame GIF signatures persisted once per (run, corpus) — the
    * [[phashFrame]] discipline: frames are decoded exactly once, and
    * both the frame query and the near-dup join serve from the stored
    * rows (the near-dup's banded self-join would otherwise re-run the
    * decode once per join side). */
  private[graft] def gifFrameTable(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"gif_phash_${IndexCatalog.tag(d)}",
                                  inputs = Seq(d),
                                  owners = Seq(MultimodalQueries.getClass,
                                    graft.multimodal.GifCodec.getClass,
                                    graft.multimodal.ImageCodec.getClass,
                                    graft.Tables.getClass)) { dir =>
      gifFramePlan(s, d).write.mode("overwrite").parquet(s"$dir/frames")
      IndexCatalog.declareIds("path", "frames", Seq("doc_id"))
    }
    IndexCatalog.read(s, dir, "frames")
  }

  /** REAL multi-frame GIF decode, frame-sampled at stride 2 — and
    * because GIF is palette-exact (lossless ≤256 colors), the oracle
    * pins not just frame GEOMETRY (the MJPEG bound) but the decoded
    * per-frame aHash ITSELF: frame i of doc id lights the first
    * `nb = 8 + (id+i) % 48` of the 64 aHash cells, so the hash is
    * exactly `'1'*nb || '0'*(64-nb)` ([[graft.multimodal.GifCodec]]
    * closed-form contract). A wrong pixel anywhere in the
    * encode→sequence→decode→hash chain flips a bit and hash-reds the
    * row. */
  val gifFrames = Q(
    "q_mm_gif_frames",
    """SELECT doc_id, frame_idx,
      |  CAST(16 + (doc_id % 8) * 4 AS INTEGER) AS width,
      |  CAST(12 + (doc_id % 5) * 4 AS INTEGER) AS height,
      |  repeat('1', CAST(8 + (doc_id + frame_idx) % 48 AS INTEGER)) ||
      |  repeat('0', CAST(56 - (doc_id + frame_idx) % 48 AS INTEGER)) AS ahash
      |FROM (
      |  SELECT doc_id,
      |    CAST(unnest(range(0, 2 + doc_id % 3)) AS INTEGER) AS frame_idx
      |  FROM documents WHERE doc_id < 500
      |) WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    gifFrameTable(s, d).orderBy("doc_id", "frame_idx")
  }

  /** Near-duplicate GIF FRAMES through the shared [[hammingNearDup]]
    * pigeonhole join — the signature id is frame-grain
    * (`doc_id*8 + frame_idx`; n ≤ 4 frames so no collision), and the
    * prefix-cell contract makes the expected pair set analytic:
    * Hamming(a, b) = |nb_a − nb_b|, so exactly the rep pairs within 3
    * bright-cell counts of each other survive the exact verify. Same
    * scale shape as the image/audio tiers: decode+hash map-side, one
    * rep per distinct hash, capped band buckets, never all-pairs. */
  val gifNearDup = Q(
    "q_mm_gif_neardup",
    """WITH gif AS (
      |  SELECT doc_id * 8 + frame_idx AS sid,
      |    8 + (doc_id + frame_idx) % 48 AS nb
      |  FROM (
      |    SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS frame_idx
      |    FROM documents WHERE doc_id < 500)
      |  WHERE frame_idx % 2 = 0
      |), hash AS (
      |  SELECT sid AS doc_id,
      |    repeat('1', CAST(nb AS INTEGER)) ||
      |    repeat('0', CAST(64 - nb AS INTEGER)) AS phash
      |  FROM gif
      |), reps AS (
      |  SELECT min(doc_id) AS doc_id, phash FROM hash GROUP BY phash
      |), bands AS (
      |  SELECT doc_id, b.b, substr(phash, b.b * 16 + 1, 16) AS bits
      |  FROM reps, unnest(range(0, 4)) AS b(b)
      |), okb AS (
      |  SELECT b, bits FROM bands GROUP BY b, bits
      |  HAVING count(*) <= 64
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT bands.* FROM bands JOIN okb USING (b, bits)) a
      |  JOIN (SELECT bands.* FROM bands JOIN okb USING (b, bits)) b
      |    ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(list_sum([CASE WHEN ha.phash[j] <> hb.phash[j] THEN 1 ELSE 0 END
      |                   for j in range(1, 65)]) AS BIGINT) AS hamming
      |  FROM cand
      |  JOIN reps ha ON ha.doc_id = doc_a
      |  JOIN reps hb ON hb.doc_id = doc_b
      |) WHERE hamming BETWEEN 1 AND 3
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    hammingNearDup(gifFrameTable(s, d)
      .select((col("doc_id") * 8 + col("frame_idx")).as("doc_id"),
        col("ahash").as("phash")))
  }

  val decodeMeta = Q(
    "q_mm_decode",
    s"""WITH m AS (SELECT doc_id, md5(text) AS h,
       |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len FROM documents)
       |SELECT doc_id, byte_len,
       |  CAST(64 + ((16 * ${hex(1)} + ${hex(2)}) % 192) * 10 AS INTEGER) AS width,
       |  CAST(64 + ((16 * ${hex(3)} + ${hex(4)}) % 108) * 10 AS INTEGER) AS height,
       |  h AS digest
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    Multimodal
      .decodeAll(s, Multimodal.withPayload(Tables.documents(s, d)))
      .toDF()
      .orderBy("doc_id")
  }

  /** Windowed audio features over the REAL decoded PCM stream: per
    * 256-sample window, count, energy (Σ s²), zero crossings, and peak
    * amplitude — the speech/music/silence gate a corpus pass runs
    * before expensive transcription. The boundary is the only
    * imperative part: `AudioCodec.samples` streams (index, sample)
    * pairs out of the `javax.sound.sampled` decode inside
    * `mapPartitions`; everything after — windowing, lag for sign
    * changes, the aggregates — is declarative and codegen'd. The WAVs
    * are the same deterministic synthetics as [[wavRoundTrip]], so the
    * oracle replays the generator formula (sample i = ((id·31 + i·7)
    * mod 65536) − 32768) while SPARK earns the values through the
    * codec; agreement proves the full decode round trip sample-exact,
    * not just header-exact. Zero-crossing convention: strict sign
    * product < 0 against the previous sample in the same window. */
  val wavFeatures = Q(
    "q_mm_wav_features",
    """WITH params AS (
      |  SELECT doc_id,
      |    (400 + (doc_id % 100) * 4) * (1 + doc_id % 2) AS total
      |  FROM documents WHERE doc_id < 500),
      |samp AS (
      |  SELECT doc_id, t.range AS idx,
      |    ((doc_id * 31 + t.range * 7) % 65536) - 32768 AS s
      |  FROM params, range(1600) t WHERE t.range < params.total),
      |w AS (
      |  SELECT doc_id, idx // 256 AS win, idx, s,
      |    lag(s) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
      |  FROM samp)
      |SELECT doc_id, CAST(win AS BIGINT) AS win,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(s * s) AS BIGINT) AS energy,
      |  CAST(sum(CASE WHEN idx % 256 <> 0 AND s * prev < 0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
      |  CAST(max(abs(s)) AS BIGINT) AS peak
      |FROM w GROUP BY 1, 2 ORDER BY doc_id, win""".stripMargin) { (s, d) =>
    import s.implicits._
    val samp = Tables.documents(s, d)
      .filter(col("doc_id") < 500)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          graft.multimodal.AudioCodec
            .samples(graft.multimodal.AudioCodec.syntheticWav(id))
            .map { case (i, smp) => (id, i, smp) }
        }
      }
      .toDF("doc_id", "idx", "s")
    val byIdx = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    samp
      .withColumn("prev", lag(col("s"), 1).over(byIdx))
      .withColumn("win", expr("idx DIV 256"))
      .groupBy("doc_id", "win")
      .agg(
        count(lit(1)).as("n_samples"),
        sum(col("s").cast("long") * col("s")).as("energy"),
        sum(when(col("idx") % 256 =!= 0 && col("s") * col("prev") < 0, 1L)
          .otherwise(0L)).as("zero_crossings"),
        max(abs(col("s"))).cast("long").as("peak"))
      .orderBy("doc_id", "win")
  }

  /** DuckDB replay of the audio fingerprint over the closed-form PCM
    * formula (the [[wavFeatures]] sample CTE): 64 equal-share windows →
    * milli-mean energies → stream-mean threshold → 64-char bit string,
    * pure integer arithmetic. Shared by the phash dedup and Hamming
    * near-dup queries. */
  private[operators] def wavPhashCtesP(p: String) =
    s"""${p}params AS (
      |  SELECT doc_id,
      |    (400 + (doc_id % 100) * 4) * (1 + doc_id % 2) AS total
      |  FROM documents WHERE doc_id < 500),
      |${p}samp AS (
      |  SELECT doc_id, total, t.range AS idx,
      |    ((doc_id * 31 + t.range * 7) % 65536) - 32768 AS s
      |  FROM ${p}params, range(1600) t WHERE t.range < ${p}params.total),
      |${p}wsum AS (
      |  SELECT doc_id, idx * 64 // total AS win,
      |    CAST(sum(s * s) * 1000 // count(*) AS BIGINT) AS v
      |  FROM ${p}samp GROUP BY doc_id, win),
      |${p}hash AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN v > thr THEN '1' ELSE '0' END, ''
      |               ORDER BY win) AS phash
      |  FROM (SELECT doc_id, win, v,
      |          CAST(sum(v) OVER (PARTITION BY doc_id) // 64 AS BIGINT) AS thr
      |        FROM ${p}wsum)
      |  GROUP BY doc_id
      |)""".stripMargin

  private val wavPhashCtes = wavPhashCtesP("")

  /** Per-audio fingerprints persisted once per (run, corpus) — PCM is
    * decoded exactly once ([[graft.multimodal.AudioCodec.phashRow]]);
    * the phash dedup and Hamming near-dup queries both serve from the
    * stored frame, the audio twin of [[phashFrame]]. */
  private[graft] def wavPhashFrame(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"wav_phash_${IndexCatalog.tag(d)}",
                                  inputs = Seq(d),
                                  owners = Seq(MultimodalQueries.getClass,
                                    graft.multimodal.AudioCodec.getClass,
                                    graft.Tables.getClass)) { dir =>
      import s.implicits._
      Tables.documents(s, d)
        .filter(col("doc_id") < 500)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            graft.multimodal.AudioCodec.phashRow(
              id, graft.multimodal.AudioCodec.syntheticWav(id))
          }
        }
        .toDF()
        .write.mode("overwrite").parquet(s"$dir/phash")
      IndexCatalog.declareIds("path", "phash", Seq("doc_id"))
    }
    IndexCatalog.read(s, dir, "phash")
  }

  /** Audio fingerprint dedup (round-9 verdict item 3 — closes the
    * image/audio modality asymmetry): keep = min doc_id per band-energy
    * signature, the exact decision rule of [[imagePhash]] with the PCM
    * fingerprint in place of the pixel aHash. The oracle replays
    * decode + windowing + hash closed-form, so agreement proves the
    * whole codec-to-signature path sample-exact. */
  val wavPhash = Q(
    "q_mm_wav_phash",
    s"""WITH $wavPhashCtes
      |SELECT doc_id, phash,
      |  doc_id = min(doc_id) OVER (PARTITION BY phash) AS keep
      |FROM hash ORDER BY doc_id""".stripMargin) { (s, d) =>
    hashKeepers(wavPhashFrame(s, d)).orderBy("doc_id")
  }

  /** Near-duplicate AUDIO pairs: Hamming distance 1–3 between distinct
    * fingerprints via the same pigeonhole band machinery as
    * [[imageNearDup]] (4 × 16-bit bands, capped buckets, one
    * representative per distinct hash). At 100 TB: decode+hash
    * map-side once into the artifact, distinct-hash reduce, band-bucket
    * shuffle bounded at cap² — never all-pairs audio comparison. */
  val wavNearDup = Q(
    "q_mm_wav_neardup",
    s"""WITH $wavPhashCtes,
      |reps AS (
      |  SELECT min(doc_id) AS doc_id, phash FROM hash GROUP BY phash
      |), bands AS (
      |  SELECT doc_id, b.b, substr(phash, b.b * 16 + 1, 16) AS bits
      |  FROM reps, unnest(range(0, 4)) AS b(b)
      |), okb AS (
      |  SELECT b, bits FROM bands GROUP BY b, bits
      |  HAVING count(*) <= 64
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT bands.* FROM bands JOIN okb USING (b, bits)) a
      |  JOIN (SELECT bands.* FROM bands JOIN okb USING (b, bits)) b
      |    ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(list_sum([CASE WHEN ha.phash[j] <> hb.phash[j] THEN 1 ELSE 0 END
      |                   for j in range(1, 65)]) AS BIGINT) AS hamming
      |  FROM cand
      |  JOIN reps ha ON ha.doc_id = doc_a
      |  JOIN reps hb ON hb.doc_id = doc_b
      |) WHERE hamming BETWEEN 1 AND 3
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    hammingNearDup(wavPhashFrame(s, d))
  }

  /** The JOINT multimodal dedup verdict — the multimodal twin of
    * `q_dedup_verdict`: for every document in the multimodal slice, the
    * final keep decision folding the text gate (MinHash-LSH connected
    * components), the image gate (perceptual-hash cluster keeper), the
    * audio gate (band-energy fingerprint keeper), and the VIDEO gate
    * (round-16 verdict item 7 — the GIF frame signatures joined the
    * contamination audit a round before the release verdict; now both
    * consume them): two animations are duplicates iff their sampled
    * frame-hash SEQUENCES are identical (frame-order-preserving concat
    * of per-frame aHashes — a doc-grain signature from the frame-grain
    * artifact), keeper = min doc_id per sequence. The cheapest failing
    * gate is attributed (text > image > video > audio precedence — the
    * order a staged pipeline evaluates them, pixel-derived gates
    * adjacent). A real release pipeline
    * runs exactly this fold: a document survives only if no modality
    * marks it a duplicate.
    *
    * Serving composes four PERSISTED artifacts ([[DedupQueries
    * .lshKeepList]], [[phashFrame]], [[wavPhashFrame]],
    * [[gifFrameTable]]) with plain doc_id equi-joins plus one
    * doc-grain hash-agg over the frame rows — nothing re-pairs,
    * nothing decodes; at 100 TB this is four artifact joins over the
    * slice, corpus-linear. The oracle replays all four signature
    * chains (LSH + recursive components, pixel aHash, PCM band-energy
    * hash, per-frame GIF aHash closed form) end to end. */
  val mmVerdict = Q(
    "q_mm_verdict",
    s"""WITH RECURSIVE ${DedupQueries.lshCtes},
      |${imgPhashCtesP("i")},
      |${wavPhashCtesP("w")},
      |${DedupQueries.ccWalkCtes("")},
      |tdrop AS (
      |  SELECT id FROM walk GROUP BY id HAVING id <> min(reach)
      |), ikeep AS (
      |  SELECT doc_id,
      |    doc_id = min(doc_id) OVER (PARTITION BY phash) AS k FROM ihash
      |), wkeep AS (
      |  SELECT doc_id,
      |    doc_id = min(doc_id) OVER (PARTITION BY phash) AS k FROM whash
      |), vfr AS (
      |  SELECT doc_id, frame_idx,
      |    repeat('1', CAST(8 + (doc_id + frame_idx) % 48 AS INTEGER)) ||
      |    repeat('0', CAST(56 - (doc_id + frame_idx) % 48 AS INTEGER)) AS ahash
      |  FROM (
      |    SELECT doc_id,
      |      CAST(unnest(range(0, 2 + doc_id % 3)) AS INTEGER) AS frame_idx
      |    FROM documents WHERE doc_id < 500)
      |  WHERE frame_idx % 2 = 0
      |), vsig AS (
      |  SELECT doc_id, string_agg(ahash, '|' ORDER BY frame_idx) AS vh
      |  FROM vfr GROUP BY doc_id
      |), vkeep AS (
      |  SELECT doc_id,
      |    doc_id = min(doc_id) OVER (PARTITION BY vh) AS k FROM vsig
      |)
      |SELECT d.doc_id,
      |  d.doc_id NOT IN (SELECT id FROM tdrop) AS text_keep,
      |  ik.k AS image_keep,
      |  wk.k AS audio_keep,
      |  vk.k AS video_keep,
      |  (d.doc_id NOT IN (SELECT id FROM tdrop)
      |    AND ik.k AND wk.k AND vk.k) AS keep,
      |  CASE WHEN d.doc_id IN (SELECT id FROM tdrop) THEN 'text'
      |       WHEN NOT ik.k THEN 'image'
      |       WHEN NOT vk.k THEN 'video'
      |       WHEN NOT wk.k THEN 'audio' ELSE 'kept' END AS dropped_by
      |FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
      |JOIN ikeep ik ON ik.doc_id = d.doc_id
      |JOIN wkeep wk ON wk.doc_id = d.doc_id
      |JOIN vkeep vk ON vk.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    // one shared election rule ([[hashKeepers]], sentinel-excluding);
    // a doc whose payload produced no valid signature cannot be a
    // duplicate of anything — its modality gate keeps it (left join +
    // coalesce true), leaving corrupt-payload policing to quality gates
    def keepOf(hashes: org.apache.spark.sql.DataFrame, name: String) =
      hashKeepers(hashes).select(col("doc_id"), col("keep").as(name))
    val tdrop = DedupQueries.lshKeepList(s, d).filter(!col("keep"))
      .select(col("doc_id"), lit(true).as("tdropped"))
    // doc-grain video signature: frame-order-preserving concat of the
    // artifact's per-frame hashes (array_sort on (frame_idx, ahash)
    // structs orders by the leading field)
    val vsig = gifFrameTable(s, d)
      .groupBy("doc_id")
      .agg(expr("""array_join(
                  |  transform(
                  |    array_sort(collect_list(struct(frame_idx, ahash))),
                  |    x -> x.ahash), '|')""".stripMargin).as("phash"))
    Tables.documents(s, d).filter(col("doc_id") < 500).select("doc_id")
      .join(tdrop, Seq("doc_id"), "left")
      .join(keepOf(phashFrame(s, d), "image_keep"), Seq("doc_id"), "left")
      .join(keepOf(wavPhashFrame(s, d), "audio_keep"), Seq("doc_id"), "left")
      .join(keepOf(vsig, "video_keep"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("tdropped").isNull.as("text_keep"),
        coalesce(col("image_keep"), lit(true)).as("image_keep"),
        coalesce(col("audio_keep"), lit(true)).as("audio_keep"),
        coalesce(col("video_keep"), lit(true)).as("video_keep"))
      .withColumn("keep",
        col("text_keep") && col("image_keep") && col("audio_keep") &&
          col("video_keep"))
      .withColumn("dropped_by",
        when(!col("text_keep"), "text")
          .when(!col("image_keep"), "image")
          .when(!col("video_keep"), "video")
          .when(!col("audio_keep"), "audio")
          .otherwise("kept"))
      .orderBy("doc_id")
  }
}
