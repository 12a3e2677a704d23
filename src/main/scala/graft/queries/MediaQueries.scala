package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Lake
import graft.ops.Multimodal

/** Round-7 multimodal additions beyond the q125–q128 image/audio/video
  * family: q230 difference-hash fingerprinting on real decoded pixels —
  * the gradient twin of q126's average hash. */
object MediaQueries {

  // --------------------------------------------------------------- q230
  /** 64-bit dHash per generated BMP (the q126 fixture: content keyed on
    * doc_id % 50, so each content class collapses to one hash) plus the
    * per-hash duplicate count. The oracle restates the 9×8 sampling, the
    * ⌊/3⌋ grayscale, and the lead()-neighbor compare in SQL — every step
    * integer. */
  private val q230 = Q(
    "q230_image_dhash",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val bmps = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 50
          val w = (8 + k % 9).toInt
          val h = (6 + k % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              rgb(i) = ((k + x + 2L * y) % 256).toByte
              rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.encodeBmp(Multimodal.DecodedImage(w, h, rgb)))
        })
        .toDF("doc_id", "media")
      Multimodal.imageDHash(bmps, "doc_id", "media").toDF()
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("dhash")))
        .orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 50 AS k,
          8 + (doc_id % 50) % 9 AS w, 6 + (doc_id % 50) % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 9 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 8)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      gray AS (
        SELECT doc_id, x, y,
          ((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid),
      bits AS (
        SELECT doc_id, x, y, g,
          lead(g) OVER (PARTITION BY doc_id, y ORDER BY x) AS gn
        FROM gray),
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN gn > g THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS dhash
        FROM bits WHERE x < 8
        GROUP BY doc_id)
      SELECT doc_id, dhash,
        COUNT(*) OVER (PARTITION BY dhash) AS dup_count
      FROM hashed ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q231
  /** Frame-level audio features from real PCM payloads (the q127 WAV
    * fixture, framed at 64 samples): per frame, exact peak / Σ|s| / Σs² —
    * the voice-activity / silence-gating primitive; energy thresholds
    * operate on these rows, never whole files. Oracle regenerates the
    * samples and groups by i // 64. */
  private val q231 = Q(
    "q231_audio_frame_stats",
    (s, dir) => {
      import s.implicits._
      val wavs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (200 + id % 100).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 17) % 2048) - 1024).toShort)
          (id, Multimodal.pcm16Wav(16000L, samples))
        })
        .toDF("doc_id", "media")
      Multimodal.pcmFrameStats(wavs, "doc_id", "media", frameSize = 64)
        .toDF().orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 200 + doc_id % 100 AS n
        FROM documents WHERE doc_id < 400),
      samp AS (
        SELECT doc_id, t.i // 64 AS f,
          (doc_id * 31 + t.i * 17) % 2048 - 1024 AS s
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i))
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        COUNT(*) AS n_samples,
        CAST(MAX(ABS(s)) AS BIGINT) AS peak,
        CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
        CAST(SUM(s * s) AS BIGINT) AS energy
      FROM samp GROUP BY doc_id, f ORDER BY doc_id, frame_idx""")
  )

  // --------------------------------------------------------------- q232
  /** Shot-boundary detection over real parsed video: the q128 container
    * walk at stride 1 on a fixture with a PLANTED scene cut (luma jumps
    * by 97 at frame 3; pixel values bounded under 256 so no modular wrap
    * muddies the means), then a per-video lag on the exact integer frame
    * means — a cut is |Δmean| > 40. The standard first pass of video
    * dedup/segmentation, expressed as frame stats + one bounded window. */
  private val q232 = Q(
    "q232_video_shot_cuts",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.{Window => W}
      val vids = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 5).toInt
          val h = (6 + id % 4).toInt
          val nFrames = (6 + id % 3).toInt
          val frames = (0 until nFrames).map { f =>
            val off = if (f < 3) 0L else 97L
            Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              (id % 50 + off + 3L * x + 5L * y).toByte
            }
          }
          (id, Multimodal.y4mMono(w, h, frames))
        })
        .toDF("doc_id", "media")
      val stats = Multimodal.y4mFrameStats(vids, "doc_id", "media", stride = 1)
        .toDF()
      val w = W.partitionBy("doc_id").orderBy("frame_idx")
      stats
        .withColumn("delta",
          col("mean_y") - coalesce(lag(col("mean_y"), 1).over(w),
            col("mean_y")))
        .withColumn("is_cut",
          when(abs(col("delta")) > 40, 1).otherwise(0).cast("int"))
        .select("doc_id", "frame_idx", "mean_y", "delta", "is_cut")
        .orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          6 + doc_id % 3 AS nf
        FROM documents WHERE doc_id < 300),
      frames AS (
        SELECT doc_id, w, h, t.f FROM ids,
          unnest(generate_series(0, nf - 1)) AS t(f)),
      px AS (
        SELECT doc_id, w, h, f,
          doc_id % 50 + (CASE WHEN f < 3 THEN 0 ELSE 97 END)
            + 3 * t1.x + 5 * t2.y AS v
        FROM frames,
          unnest(generate_series(0, w - 1)) AS t1(x),
          unnest(generate_series(0, h - 1)) AS t2(y)),
      fs AS (
        SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
          CAST(SUM(v) // (w * h) AS BIGINT) AS mean_y
        FROM px GROUP BY doc_id, f, w, h),
      d AS (
        SELECT doc_id, frame_idx, mean_y,
          mean_y - COALESCE(lag(mean_y, 1) OVER
            (PARTITION BY doc_id ORDER BY frame_idx), mean_y) AS delta
        FROM fs)
      SELECT doc_id, frame_idx, mean_y, delta,
        CAST(CASE WHEN ABS(delta) > 40 THEN 1 ELSE 0 END AS INTEGER)
          AS is_cut
      FROM d ORDER BY doc_id, frame_idx""")
  )

  // --------------------------------------------------------------- q267
  /** 64-bit Walsh–Hadamard spectral hash per generated BMP
    * ([[graft.ops.Multimodal.imageWHash]]) — the frequency-domain third
    * lens next to q126 aHash and q230 dHash, DCT-free so every
    * coefficient is an exact integer. The oracle unrolls the full 2-D
    * butterfly: the q126 sampling/grayscale chain, then six MATERIALIZED
    * stages of paired sums/differences (bits 1/2/4 across x, then across
    * y — each stage self-joins on the xor-partner cell), then the 64
    * sign bits row-major. A hash gate over an actual fast transform. */
  private val q267 = {
    val rowStage = (prev: String, cur: String, b: Int) => s"""
      $cur AS MATERIALIZED (
        SELECT a.doc_id, a.x, a.y,
          CASE WHEN a.x % ${2 * b} < $b THEN a.g + p.g ELSE p.g - a.g END AS g
        FROM $prev a JOIN $prev p
          ON a.doc_id = p.doc_id AND a.y = p.y AND p.x = xor(a.x, $b))"""
    val colStage = (prev: String, cur: String, b: Int) => s"""
      $cur AS MATERIALIZED (
        SELECT a.doc_id, a.x, a.y,
          CASE WHEN a.y % ${2 * b} < $b THEN a.g + p.g ELSE p.g - a.g END AS g
        FROM $prev a JOIN $prev p
          ON a.doc_id = p.doc_id AND a.x = p.x AND p.y = xor(a.y, $b))"""
    Q(
      "q267_image_whash",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val bmps = Lake(s, dir).documents
          .filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val k = id % 50
            val w = (8 + k % 9).toInt
            val h = (6 + k % 7).toInt
            val rgb = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val i = (y * w + x) * 3
                rgb(i) = ((k + x + 2L * y) % 256).toByte
                rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
                rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
                x += 1
              }
              y += 1
            }
            (id, Multimodal.encodeBmp(Multimodal.DecodedImage(w, h, rgb)))
          })
          .toDF("doc_id", "media")
        Multimodal.imageWHash(bmps, "doc_id", "media").toDF()
          .withColumn("dup_count",
            count(lit(1)).over(Window.partitionBy("whash")))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH ids AS (
        SELECT doc_id, doc_id % 50 AS k,
          8 + (doc_id % 50) % 9 AS w, 6 + (doc_id % 50) % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      s0 AS MATERIALIZED (
        SELECT doc_id, x, y,
          CAST(((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS BIGINT) AS g
        FROM grid),
      ${rowStage("s0", "s1", 1)},
      ${rowStage("s1", "s2", 2)},
      ${rowStage("s2", "s3", 4)},
      ${colStage("s3", "s4", 1)},
      ${colStage("s4", "s5", 2)},
      ${colStage("s5", "s6", 4)},
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > 0 THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS whash
        FROM s6 GROUP BY doc_id)
      SELECT doc_id, whash,
        COUNT(*) OVER (PARTITION BY whash) AS dup_count
      FROM hashed ORDER BY doc_id""")
    )
  }

  // --------------------------------------------------------------- q310
  /** REAL PNG pixels under the hash gate — the q125 trick applied to the
    * `javax.imageio` decode path: the same deterministic per-doc pixel
    * field as q125, but encoded as PNG ([[graft.ops.Multimodal.encodePng]],
    * the JDK writer) instead of BMP, then decoded back through
    * [[graft.ops.Multimodal.decodeImageIO]] inside the ordinary
    * imageFeatures chain. PNG is LOSSLESS, so the decoded pixels must be
    * bit-identical to the generative formula and the oracle can restate
    * the whole decode → 8×8 nearest-neighbor resample → exact channel
    * means pipeline arithmetically without ever seeing a byte — a hash
    * match proves the ImageIO path (sniff, header-capped read, sRGB
    * conversion to row-major RGB) byte-correct end-to-end. JPEG, whose
    * decode is not bit-specified across libraries, is gated by
    * MultimodalSpec property laws instead. */
  private val q310 = Q(
    "q310_png_features",
    (s, dir) => {
      import s.implicits._
      val pngs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 9).toInt
          val h = (6 + id % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              rgb(i) = ((id + x + 2L * y) % 256).toByte
              rgb(i + 1) = ((2L * id + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((id + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.encodePng(Multimodal.DecodedImage(w, h, rgb)))
        })
        .toDF("doc_id", "media")
      Multimodal.imageFeatures(pngs, "doc_id", "media", 8, 8)
        .toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, w, h, t1.x, t2.y
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      sampled AS (
        SELECT doc_id,
          (doc_id + (x * w) // 8 + 2 * ((y * h) // 8)) % 256 AS r,
          (2 * doc_id + 3 * ((x * w) // 8) + (y * h) // 8) % 256 AS g,
          (doc_id + 5 * ((x * w) // 8) + 7 * ((y * h) // 8)) % 256 AS b
        FROM grid)
      SELECT doc_id,
        CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        CAST(SUM(r) AS DOUBLE) / 64 AS mean_r,
        CAST(SUM(g) AS DOUBLE) / 64 AS mean_g,
        CAST(SUM(b) AS DOUBLE) / 64 AS mean_b
      FROM sampled GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q311
  /** Video demux under the hash gate — the q132 trick on the AVI
    * container: genuine RIFF/AVI archives (MJPG-declared `vids` stream,
    * `00dc` frame chunks with even-padding, counts and ASCII payloads
    * all functions of doc_id) demuxed by
    * [[graft.ops.Multimodal.frameSample]] at stride 2, emitting each
    * kept frame's exact size and content md5. The oracle rebuilds the
    * identical payload strings with repeat() and hashes them in SQL — a
    * hash match proves the chunk walk (header gate, LIST recursion,
    * even-pad stepping, stride) byte-for-byte. The frame payloads here
    * are deterministic strings rather than JPEGs because no SQL oracle
    * can restate a JPEG encoder; the pixel layer over real JPEG frames
    * is property-law-gated in MultimodalSpec (mjpegFrameStats). */
  private val q311 = Q(
    "q311_avi_frame_demux",
    (s, dir) => {
      import s.implicits._
      val avis = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val frames = (0 until (3 + id % 4).toInt).map { i =>
            val reps = (8 + (id + i) % 5).toInt
            (s"frame-$id-$i|" * reps).getBytes("US-ASCII")
          }
          (id, Multimodal.aviMjpeg(64, 48, frames))
        })
        .toDF("doc_id", "media")
      Multimodal.frameSample(avis, "doc_id", "media", stride = 2)
        .toDF()
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_bytes"),
          md5(col("frame")).as("content_md5"))
        .orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 3 + doc_id % 4 AS nf
        FROM documents WHERE doc_id < 300),
      frames AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS frame_idx,
          repeat('frame-' || CAST(doc_id AS VARCHAR) || '-'
            || CAST(t.i AS VARCHAR) || '|',
            CAST(8 + (doc_id + t.i) % 5 AS INT)) AS payload
        FROM ids, unnest(generate_series(0, nf - 1)) AS t(i)
        WHERE t.i % 2 = 0)
      SELECT doc_id, frame_idx,
        CAST(length(payload) AS BIGINT) AS n_bytes,
        md5(payload) AS content_md5
      FROM frames ORDER BY doc_id, frame_idx""")
  )

  // --------------------------------------------------------------- q314
  /** CROSS-CODEC image near-dup under the hash gate: the same content
    * class (pixels keyed on doc_id % 40) is delivered as 24-bit BMP for
    * even docs and PNG for odd docs, and the aHash fingerprint must
    * collapse every class to ONE hash regardless of delivery format —
    * the production image-dedup claim ("pixel-identical images dedupe
    * whatever container they arrived in") stated as an oracle gate. The
    * oracle computes the hash arithmetic once per doc and counts
    * duplicates per hash; it never knows formats exist, which is exactly
    * the point: a format-dependent pixel (one sRGB conversion slip, one
    * row-order bug in either codec path) splits a class into two hashes
    * and breaks dup_count for every member. */
  private val q314 = Q(
    "q314_cross_codec_ahash",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val imgs = Lake(s, dir).documents
        .filter(col("doc_id") < 500)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 40
          val w = (8 + k % 9).toInt
          val h = (6 + k % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              rgb(i) = ((k + x + 2L * y) % 256).toByte
              rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          val img = Multimodal.DecodedImage(w, h, rgb)
          val media =
            if (id % 2 == 0) Multimodal.encodeBmp(img)
            else Multimodal.encodePng(img)
          (id, media)
        })
        .toDF("doc_id", "media")
      Multimodal.imageAHash(imgs, "doc_id", "media").toDF()
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("ahash")))
        .orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 40 AS k,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 500),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      gray AS (
        SELECT doc_id, x, y,
          ((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid),
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM gray)
        GROUP BY doc_id)
      SELECT doc_id, ahash,
        COUNT(*) OVER (PARTITION BY ahash) AS dup_count
      FROM hashed ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q315
  /** Image near-dup SERVING end-to-end: bytes → aHash → 4×16-bit banded
    * Hamming join ([[graft.ops.Dedup.simhashPairs]] — a candidate pair
    * must agree on at least one band, so the join never goes all-pairs)
    * → exact Hamming verify ≤ 4. The fixture is the q314 mixed-codec
    * corpus (BMP even / PNG odd, content keyed on doc_id % 40) with a
    * planted NEAR-dup: docs divisible by 5 carry a +128 spike on the
    * red channel of source pixel (0,0), so their hash sits a few bits
    * from their classmates' — the banded join must surface both the
    * hamming-0 identical pairs and the spiked near pairs, across
    * codecs. The oracle rebuilds the hash arithmetic (spike included,
    * keyed on the sampled source coords), bands by substring, joins on
    * band equality and counts differing bit positions — the whole
    * serving path stated in SQL. */
  private val q315 = Q(
    "q315_image_neardup_pairs",
    (s, dir) => {
      import s.implicits._
      val imgs = Lake(s, dir).documents
        .filter(col("doc_id") < 500)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 40
          val spike = id % 5 == 0
          val w = (8 + k % 9).toInt
          val h = (6 + k % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              val rBase = (k + x + 2L * y) % 256
              rgb(i) =
                (if (spike && x == 0 && y == 0) (rBase + 128) % 256
                 else rBase).toByte
              rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          val img = Multimodal.DecodedImage(w, h, rgb)
          (id, if (id % 2 == 0) Multimodal.encodeBmp(img)
               else Multimodal.encodePng(img))
        })
        .toDF("doc_id", "media")
      val fp = Multimodal.imageAHash(imgs, "doc_id", "media").toDF()
        .select(col("doc_id") +: (0 until 4).map(b =>
          conv(substring(col("ahash"), b * 16 + 1, 16), 2, 10)
            .cast("long").as(s"b$b")): _*)
      graft.ops.Dedup.simhashPairs(fp, maxHamming = 4)
        .orderBy("doc_a", "doc_b")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 40 AS k,
          CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS spike,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 500),
      grid AS (
        SELECT doc_id, k, spike, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      gray AS (
        SELECT doc_id, x, y,
          ((CASE WHEN spike = 1 AND sx = 0 AND sy = 0
                 THEN ((k + sx + 2 * sy) % 256 + 128) % 256
                 ELSE (k + sx + 2 * sy) % 256 END)
            + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid),
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM gray)
        GROUP BY doc_id),
      bands AS (
        SELECT doc_id, ahash, b.bi,
               substr(ahash, b.bi * 16 + 1, 16) AS bv
        FROM hashed, unnest(generate_series(0, 3)) AS b(bi)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.ahash AS ha, b.ahash AS hb
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             CAST(len(list_filter(range(1, 65),
               i -> substr(ha, CAST(i AS INT), 1)
                 != substr(hb, CAST(i AS INT), 1))) AS BIGINT) AS hamming
      FROM cand
      WHERE len(list_filter(range(1, 65),
        i -> substr(ha, CAST(i AS INT), 1)
          != substr(hb, CAST(i AS INT), 1))) <= 4
      ORDER BY doc_a, doc_b""")
  )

  // --------------------------------------------------------------- q316
  /** Media similarity SERVING end-to-end on REAL pixels: bytes →
    * [[graft.ops.Multimodal.imageEmbedding]] (decode, 4×4 resample, 48
    * exact-integer dims) → [[graft.ops.Similarity.withNorm]] →
    * [[graft.ops.Similarity.bruteForceTopK]] — the full image-ANN chain
    * with zero stubs, across codecs (queries and corpus both mix BMP and
    * PNG delivery). Every embedding dimension is an integer 0–255, so
    * dots and squared norms are exact integers in doubles (fold order
    * irrelevant), the norms are single correctly-rounded sqrts, and the
    * cosine is one division — the oracle rebuilds the vectors from the
    * pixel formula and walks the identical arithmetic. Each query doc's
    * top-3 are its pixel-identical classmates (cos = 1, id tiebreak) —
    * the ANN result the dedup story depends on. */
  private val q316 = Q(
    "q316_image_ann_topk",
    (s, dir) => {
      import s.implicits._
      def imgFrame(base: org.apache.spark.sql.DataFrame) = {
        val imgs = base.select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val k = id % 40
            val w = (8 + k % 9).toInt
            val h = (6 + k % 7).toInt
            val rgb = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val i = (y * w + x) * 3
                rgb(i) = ((k + x + 2L * y) % 256).toByte
                rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
                rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
                x += 1
              }
              y += 1
            }
            val img = Multimodal.DecodedImage(w, h, rgb)
            (id, if (id % 2 == 0) Multimodal.encodeBmp(img)
                 else Multimodal.encodePng(img))
          })
          .toDF("doc_id", "media")
        graft.ops.Similarity.withNorm(
          Multimodal.imageEmbedding(imgs, "doc_id", "media", grid = 4)
            .toDF(), "doc_id", "embedding")
      }
      val docs = Lake(s, dir).documents
      val queries = imgFrame(docs.filter(col("doc_id") < 40))
      val corpus = imgFrame(
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 440))
      graft.ops.Similarity.bruteForceTopK(corpus, queries, k = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"), col("cos"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH qids AS (
        SELECT doc_id, doc_id % 40 AS k,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 40),
      cids AS (
        SELECT doc_id, doc_id % 40 AS k,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id >= 40 AND doc_id < 440),
      qcell AS (
        SELECT doc_id, t1.cx, t2.cy,
          (k + (cx * w) // 4 + 2 * ((cy * h) // 4)) % 256 AS r,
          (2 * k + 3 * ((cx * w) // 4) + (cy * h) // 4) % 256 AS g,
          (k + 5 * ((cx * w) // 4) + 7 * ((cy * h) // 4)) % 256 AS b
        FROM qids,
          unnest(generate_series(0, 3)) AS t1(cx),
          unnest(generate_series(0, 3)) AS t2(cy)),
      ccell AS (
        SELECT doc_id, t1.cx, t2.cy,
          (k + (cx * w) // 4 + 2 * ((cy * h) // 4)) % 256 AS r,
          (2 * k + 3 * ((cx * w) // 4) + (cy * h) // 4) % 256 AS g,
          (k + 5 * ((cx * w) // 4) + 7 * ((cy * h) // 4)) % 256 AS b
        FROM cids,
          unnest(generate_series(0, 3)) AS t1(cx),
          unnest(generate_series(0, 3)) AS t2(cy)),
      qn AS (SELECT doc_id, SUM(r*r + g*g + b*b) AS n2 FROM qcell GROUP BY doc_id),
      cn AS (SELECT doc_id, SUM(r*r + g*g + b*b) AS n2 FROM ccell GROUP BY doc_id),
      dots AS (
        SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
               SUM(q.r*c.r + q.g*c.g + q.b*c.b) AS dot
        FROM qcell q JOIN ccell c ON q.cx = c.cx AND q.cy = c.cy
        GROUP BY 1, 2),
      scored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) /
                 (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE)))
                 AS cos
        FROM dots
        JOIN qn ON query_id = qn.doc_id
        JOIN cn ON neighbor_id = cn.doc_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
               cos
        FROM scored)
      SELECT query_id, neighbor_id, rank, cos
      FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""")
  )

  // --------------------------------------------------------------- q317
  /** Audio near-dup fingerprinting on REAL PCM
    * ([[graft.ops.Multimodal.audioFingerprint]] — the aHash idea on the
    * energy envelope): genuine mono 16-bit WAVs whose samples are a
    * function of the content class (doc_id % 30), fingerprinted into 64
    * frame-energy bits, plus the per-fingerprint duplicate count. Docs
    * divisible by 7 carry a +900 spike on sample 0 — a click at the
    * head of the recording — which shifts only frame 0's mean and the
    * global threshold, so spiked docs land a few Hamming bits from
    * their classmates (the near-dup story) while unspiked classmates
    * collapse to ONE fingerprint (the exact-dup story). The oracle
    * regenerates the samples with generate_series and restates the
    * balanced framing (⌊i·64/n⌋), integer frame means, integer
    * threshold, and ordered bit concat in SQL. */
  private val q317 = Q(
    "q317_audio_fingerprint",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wavs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 30
          val n = (200 + k % 100).toInt
          val spike = id % 7 == 0
          val samples = Array.tabulate(n) { i =>
            val base = ((k * 31 + i * 17) % 2048) - 1024
            (if (spike && i == 0) base + 900 else base).toShort
          }
          (id, Multimodal.pcm16Wav(16000L, samples))
        })
        .toDF("doc_id", "media")
      Multimodal.audioFingerprint(wavs, "doc_id", "media").toDF()
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("afp")))
        .orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 30 AS k,
          200 + (doc_id % 30) % 100 AS n,
          CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS spike
        FROM documents WHERE doc_id < 400),
      samples AS (
        SELECT doc_id, t.i, (t.i * 64) // n AS f,
          abs((k * 31 + t.i * 17) % 2048 - 1024
            + CASE WHEN spike = 1 AND t.i = 0 THEN 900 ELSE 0 END) AS a
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i)),
      frames AS (
        SELECT doc_id, f, SUM(a) // COUNT(*) AS m
        FROM samples GROUP BY doc_id, f),
      thr AS (
        SELECT doc_id, SUM(m) // 64 AS t FROM frames GROUP BY doc_id),
      hashed AS (
        SELECT frames.doc_id,
          string_agg(CASE WHEN m > t THEN '1' ELSE '0' END, ''
                     ORDER BY f) AS afp
        FROM frames JOIN thr ON frames.doc_id = thr.doc_id
        GROUP BY frames.doc_id)
      SELECT doc_id, afp,
        COUNT(*) OVER (PARTITION BY afp) AS dup_count
      FROM hashed ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q330
  /** REAL FLAC decode under the hash gate
    * ([[graft.ops.Multimodal.flacEncode]] →
    * [[graft.ops.Multimodal.flacDecode]] inside
    * [[graft.ops.Multimodal.pcmStats]]): genuinely COMPRESSED mono
    * 16-bit FLAC blobs — fixed predictors chosen per frame, Rice-coded
    * residuals, CRC-8/CRC-16 verified, blockSize 64 so every doc spans
    * several frames with a short last one — decoded losslessly and
    * reduced to exact integer statistics. The oracle regenerates the
    * SAMPLES (construction truth): a hash match proves the whole codec
    * chain bit-exact, which is what "lossless" means. This is the gate
    * that moves the PCM family's honesty boundary past WAV — q127/q317/
    * q318/q319 all ride [[graft.ops.Multimodal.decodePcm16Mono]] now,
    * so the same operators accept either container unchanged. */
  private val q330 = Q(
    "q330_audio_flac_stats",
    (s, dir) => {
      import s.implicits._
      val flacs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 40
          val n = (180 + k % 90).toInt
          val samples = Array.tabulate(n)(i =>
            (((k * 37 + i * 23) % 3001) - 1500).toShort)
          (id, Multimodal.flacEncode(16000L, samples, blockSize = 64))
        })
        .toDF("doc_id", "media")
      Multimodal.pcmStats(flacs, "doc_id", "media").toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 40 AS k, 180 + (doc_id % 40) % 90 AS n
        FROM documents WHERE doc_id < 400),
      s AS (
        SELECT doc_id, n, (k * 37 + t.i * 23) % 3001 - 1500 AS v
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i))
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        CAST(MAX(abs(v)) AS BIGINT) AS peak,
        CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
        CAST(SUM(v * v) // n AS BIGINT) AS mean_sq
      FROM s GROUP BY doc_id, n ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q331
  /** Cross-codec audio fingerprint collapse — q317's exact fixture and
    * oracle, but the blobs are FLAC: the fingerprints (and therefore
    * the dup census) must be IDENTICAL to the WAV path's, because the
    * decode is lossless and [[graft.ops.Multimodal.audioFingerprint]]
    * routes both containers through the same
    * [[graft.ops.Multimodal.decodePcm16Mono]] normalization — the q314
    * format-blindness law, restated for audio. */
  private val q331 = Q(
    "q331_audio_fingerprint_flac",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val flacs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 30
          val n = (200 + k % 100).toInt
          val spike = id % 7 == 0
          val samples = Array.tabulate(n) { i =>
            val base = ((k * 31 + i * 17) % 2048) - 1024
            (if (spike && i == 0) base + 900 else base).toShort
          }
          (id, Multimodal.flacEncode(16000L, samples, blockSize = 96))
        })
        .toDF("doc_id", "media")
      Multimodal.audioFingerprint(flacs, "doc_id", "media").toDF()
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("afp")))
        .orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 30 AS k,
          200 + (doc_id % 30) % 100 AS n,
          CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS spike
        FROM documents WHERE doc_id < 400),
      samples AS (
        SELECT doc_id, t.i, (t.i * 64) // n AS f,
          abs((k * 31 + t.i * 17) % 2048 - 1024
            + CASE WHEN spike = 1 AND t.i = 0 THEN 900 ELSE 0 END) AS a
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i)),
      frames AS (
        SELECT doc_id, f, SUM(a) // COUNT(*) AS m
        FROM samples GROUP BY doc_id, f),
      thr AS (
        SELECT doc_id, SUM(m) // 64 AS t FROM frames GROUP BY doc_id),
      hashed AS (
        SELECT frames.doc_id,
          string_agg(CASE WHEN m > t THEN '1' ELSE '0' END, ''
                     ORDER BY f) AS afp
        FROM frames JOIN thr ON frames.doc_id = thr.doc_id
        GROUP BY frames.doc_id)
      SELECT doc_id, afp,
        COUNT(*) OVER (PARTITION BY afp) AS dup_count
      FROM hashed ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q318
  /** PCM length normalization under the hash gate
    * ([[graft.ops.Multimodal.pcmResample]] → [[graft.ops.Multimodal.pcmStats]]):
    * variable-length WAVs (150–229 samples, content keyed on
    * doc_id % 35) nearest-neighbor resampled to exactly 128 samples —
    * output sample j is source ⌊j·n/128⌋ — re-emitted as REAL WAV bytes
    * and walked by the exact-stats operator. The oracle regenerates the
    * source samples, applies the identical index mapping and aggregates
    * in SQL; a hash match proves decode → resample → re-encode → decode
    * byte-for-byte through two codec round trips. */
  private val q318 = Q(
    "q318_audio_resample",
    (s, dir) => {
      import s.implicits._
      val wavs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 35
          val n = (150 + k % 80).toInt
          val samples = Array.tabulate(n)(i =>
            (((k * 29 + i * 13) % 2048) - 1024).toShort)
          (id, Multimodal.pcm16Wav(16000L, samples))
        })
        .toDF("doc_id", "media")
      Multimodal.pcmStats(
        Multimodal.pcmResample(wavs, "doc_id", "media", targetN = 128).toDF(),
        "doc_id", "media")
        .toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 35 AS k, 150 + (doc_id % 35) % 80 AS n
        FROM documents WHERE doc_id < 400),
      res AS (
        SELECT doc_id,
          (k * 29 + ((t.j * n) // 128) * 13) % 2048 - 1024 AS s
        FROM ids, unnest(generate_series(0, 127)) AS t(j))
      SELECT doc_id,
        CAST(128 AS BIGINT) AS n_samples,
        CAST(MAX(abs(s)) AS BIGINT) AS peak,
        CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        CAST(SUM(s * s) // 128 AS BIGINT) AS mean_sq
      FROM res GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q319
  /** Silence trim under the hash gate
    * ([[graft.ops.Multimodal.pcmTrimSilence]]): WAVs with planted dead
    * air (k % 20 leading and k % 15 trailing zero samples around a
    * 100–149-sample signal) trimmed at threshold 0, emitting the kept
    * count, both trim counts, and the exact stats of the REAL trimmed
    * payload. The oracle rebuilds the padded series, finds the first
    * and last above-threshold indices with MIN/MAX filters, and
    * aggregates the kept range — trim arithmetic and the re-encoded
    * bytes both proven. */
  private val q319 = Q(
    "q319_audio_silence_trim",
    (s, dir) => {
      import s.implicits._
      val wavs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 35
          val h = (k % 20).toInt
          val m = (100 + k % 50).toInt
          val t = (k % 15).toInt
          val samples = new Array[Short](h + m + t)
          var j = 0
          while (j < m) {
            samples(h + j) = (((k * 23 + j * 11) % 1800) - 900).toShort
            j += 1
          }
          (id, Multimodal.pcm16Wav(16000L, samples))
        })
        .toDF("doc_id", "media")
      val trimmed = Multimodal.pcmTrimSilence(wavs, "doc_id", "media", 0L)
      val stats = Multimodal.pcmStats(trimmed.toDF(), "doc_id", "media")
        .toDF().select("doc_id", "peak", "sum_abs", "mean_sq")
      trimmed.toDF()
        .select("doc_id", "n_samples", "n_trimmed_head", "n_trimmed_tail")
        .join(stats, Seq("doc_id"))
        .orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 35 AS k,
          (doc_id % 35) % 20 AS h,
          100 + (doc_id % 35) % 50 AS m,
          (doc_id % 35) % 15 AS tl
        FROM documents WHERE doc_id < 400),
      series AS (
        SELECT doc_id, t.i,
          CASE WHEN t.i < h OR t.i >= h + m THEN 0
               ELSE (k * 23 + (t.i - h) * 11) % 1800 - 900 END AS s
        FROM ids, unnest(generate_series(0, h + m + tl - 1)) AS t(i)),
      bounds AS (
        SELECT doc_id,
          MIN(i) FILTER (WHERE abs(s) > 0) AS head,
          MAX(i) FILTER (WHERE abs(s) > 0) AS tail,
          COUNT(*) AS n
        FROM series GROUP BY doc_id),
      kept AS (
        SELECT s.doc_id, s.s, b.head, b.tail, b.n
        FROM series s JOIN bounds b
          ON s.doc_id = b.doc_id AND s.i BETWEEN b.head AND b.tail)
      SELECT doc_id,
        CAST(tail - head + 1 AS BIGINT) AS n_samples,
        CAST(head AS BIGINT) AS n_trimmed_head,
        CAST(n - 1 - tail AS BIGINT) AS n_trimmed_tail,
        CAST(MAX(abs(s)) AS BIGINT) AS peak,
        CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        CAST(SUM(s * s) // (tail - head + 1) AS BIGINT) AS mean_sq
      FROM kept GROUP BY doc_id, head, tail, n ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q320
  /** Incremental image-dedup serving
    * ([[graft.ops.Dedup.simhashIncremental]]) — the O(batch) production
    * loop for media near-dup: the corpus (docs 40–439) persists only its
    * 4×16-bit aHash fingerprint bands; the NEW batch (docs < 40)
    * fingerprints itself, band-joins against index ∪ own bands, and
    * Hamming-verifies — corpus pairs are never re-emitted, new-new
    * pairs appear once. Fixture is the q315 mixed-codec corpus with the
    * red-channel spike, so the batch surfaces both exact classmates and
    * spiked near-dups from the index. The oracle recomputes everything
    * from scratch and restricts to pairs involving a new doc — the
    * incremental path must land on exactly the full recompute's answer,
    * which is the whole point of an incremental index. */
  /** The q315/q320/q327 mixed-codec fingerprint fixture: content keyed
    * on doc_id % 40 with a red-channel spike on id % 5 == 0, encoded
    * BMP (even) / PNG (odd), decoded through the REAL codecs and
    * aHash-fingerprinted into the 4×16-bit band layout the incremental
    * dedup family consumes. */
  private def spikedAHashFrame(
      s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val imgs = base.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val k = id % 40
        val spike = id % 5 == 0
        val w = (8 + k % 9).toInt
        val h = (6 + k % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            val rBase = (k + x + 2L * y) % 256
            rgb(i) =
              (if (spike && x == 0 && y == 0) (rBase + 128) % 256
               else rBase).toByte
            rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
            rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
            x += 1
          }
          y += 1
        }
        val img = Multimodal.DecodedImage(w, h, rgb)
        (id, if (id % 2 == 0) Multimodal.encodeBmp(img)
             else Multimodal.encodePng(img))
      })
      .toDF("doc_id", "media")
    Multimodal.imageAHash(imgs, "doc_id", "media").toDF()
      .select(col("doc_id") +: (0 until 4).map(b =>
        conv(substring(col("ahash"), b * 16 + 1, 16), 2, 10)
          .cast("long").as(s"b$b")): _*)
  }

  private val q320 = Q(
    "q320_image_dedup_incremental",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val index = spikedAHashFrame(s,
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 440))
      val fresh = spikedAHashFrame(s, docs.filter(col("doc_id") < 40))
      graft.ops.Dedup.simhashIncremental(fresh, index, maxHamming = 4)
        .orderBy("doc_a", "doc_b")
    },
    Some(ImageIncrementalOracle)
  )

  /** The full-recompute-restricted-to-new-pairs spec shared by q320 and
    * q327: the incremental probe — shuffled (q320) or bucketed
    * exchange-free (q327) — must land on exactly this answer. (A `def`,
    * not a `val`: q320 references it before this point in object-init
    * order.) */
  private def ImageIncrementalOracle: String = """
      WITH ids AS (
        SELECT doc_id, doc_id % 40 AS k,
          CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS spike,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 440),
      grid AS (
        SELECT doc_id, k, spike, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      gray AS (
        SELECT doc_id, x, y,
          ((CASE WHEN spike = 1 AND sx = 0 AND sy = 0
                 THEN ((k + sx + 2 * sy) % 256 + 128) % 256
                 ELSE (k + sx + 2 * sy) % 256 END)
            + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid),
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM gray)
        GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b.bi, substr(ahash, b.bi * 16 + 1, 16) AS bv
        FROM hashed, unnest(generate_series(0, 3)) AS b(bi)),
      cand AS (
        SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                        greatest(a.doc_id, b.doc_id) AS doc_b
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id != b.doc_id
        WHERE a.doc_id < 40),
      paired AS (
        SELECT c.doc_a, c.doc_b, x.ahash AS ha, y.ahash AS hb
        FROM cand c
        JOIN hashed x ON c.doc_a = x.doc_id
        JOIN hashed y ON c.doc_b = y.doc_id)
      SELECT doc_a, doc_b,
             CAST(len(list_filter(range(1, 65),
               i -> substr(ha, CAST(i AS INT), 1)
                 != substr(hb, CAST(i AS INT), 1))) AS BIGINT) AS hamming
      FROM paired
      WHERE len(list_filter(range(1, 65),
        i -> substr(ha, CAST(i AS INT), 1)
          != substr(hb, CAST(i AS INT), 1))) <= 4
      ORDER BY doc_a, doc_b"""

  // --------------------------------------------------------------- q327
  /** EXCHANGE-FREE incremental image dedup — q320's production loop with
    * the shuffle deleted: both the corpus fingerprint index (docs
    * 40–439) and the new batch (docs < 40) are written BUCKETED AND
    * SORTED on the band key
    * ([[graft.ops.Dedup.writeSimhashIndexBucketed]]), so the per-batch
    * band joins are bucket-aligned sort-merge joins with zero exchanges
    * and zero sorts — the corpus index is never re-shuffled, not even
    * once per batch; the only shuffle left in the plan is the
    * O(candidates) distinct. PlanSpec pins that physical property; this
    * gate pins the VALUE contract — the bucketed write/read round trip
    * plus the inline-fingerprint verify must land on exactly the q320
    * full-recompute oracle. At 100 TB this is the difference between a
    * daily batch that re-shuffles a corpus-sized index and one whose
    * corpus-side cost is a bucket-pruned read. */
  private val q327 = Q(
    "q327_image_dedup_bucketed",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val tmp = java.nio.file.Files.createTempDirectory("graft-q327").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      graft.ops.Dedup.writeSimhashIndexBucketed(
        spikedAHashFrame(s,
          docs.filter(col("doc_id") >= 40 && col("doc_id") < 440)),
        "q327_b_index", s"$tmp/i", 8)
      graft.ops.Dedup.writeSimhashIndexBucketed(
        spikedAHashFrame(s, docs.filter(col("doc_id") < 40)),
        "q327_b_batch", s"$tmp/b", 8)
      graft.ops.Dedup
        .simhashIncrementalBucketed(s, "q327_b_batch", "q327_b_index",
          maxHamming = 4)
        .orderBy("doc_a", "doc_b")
    },
    Some(ImageIncrementalOracle)
  )

  /** The q328/q329 ISO-BMFF fixture: per doc a structural MP4 skeleton
    * ([[Multimodal.mp4WithTracks]]) with one video track (dims, media
    * clock, two stts timing runs, stss keyframes every k-th sample) and
    * one audio-like track (no dims, one run, no stss) — all parameters
    * arithmetic in doc_id so the oracle can state construction truth. */
  private def mp4Fixture(
      s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    base.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      val c1 = 3 + id % 4; val c2 = 2 + id % 3
      val d2 = 150 + (id % 5) * 10; val k = 2 + id % 3
      val video = Multimodal.Mp4TrackSpec(1, 320 + (id % 5) * 16,
        240 + (id % 3) * 16, 1000 + (id % 7) * 500, c1 * 100 + c2 * d2,
        Seq((c1, 100L), (c2, d2)), (1L to (c1 + c2) by k).toSeq)
      val na = 5 + id % 6
      val audio = Multimodal.Mp4TrackSpec(2, 0, 0, 8000, 64 * na,
        Seq((na, 64L)), Nil)
      (id, Multimodal.mp4WithTracks("isom", 600, 0, Seq(video, audio)))
    }).toDF("doc_id", "media")
  }

  // --------------------------------------------------------------- q328
  /** MP4 keyframe SEEK TABLE from container metadata alone — the deep
    * ISO-BMFF walk ([[Multimodal.parseMp4Tracks]]: moov → trak → stbl)
    * resolving every `stss` sync sample to its media-clock start time
    * by folding the `stts` runs, no codec anywhere. The oracle restates
    * the construction: sample numbers 1..n step k, t = (s−1)·Δ1 within
    * the first run, c1·Δ1 + (s−1−c1)·Δ2 past it — a hash match proves
    * box layout, v0 parsing, run-boundary arithmetic and the
    * sync-filter end-to-end. Audio track contributes no rows (no stss):
    * the per-track isolation is part of the contract. */
  private val q328 = Q(
    "q328_mp4_keyframe_index",
    (s, dir) => {
      val fx = mp4Fixture(s, Lake(s, dir).documents.filter(col("doc_id") < 300))
      Multimodal.mp4KeyframeIndex(fx, "doc_id", "media")
        .toDF().orderBy("doc_id", "track_id", "sample_number")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id,
          3 + doc_id % 4 AS c1, 2 + doc_id % 3 AS c2,
          150 + (doc_id % 5) * 10 AS d2, 2 + doc_id % 3 AS k
        FROM documents WHERE doc_id < 300)
      SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
        CAST(j AS BIGINT) AS sample_number,
        CAST(CASE WHEN j - 1 <= c1 THEN (j - 1) * 100
             ELSE c1 * 100 + (j - 1 - c1) * d2 END AS BIGINT) AS t_units
      FROM ids, unnest(generate_series(1, 10)) AS s(j)
      WHERE j <= c1 + c2 AND (j - 1) % k = 0
      ORDER BY doc_id, track_id, sample_number""")
  )

  // --------------------------------------------------------------- q329
  /** MP4 track catalog — one row per `trak` with presentation dims
    * (tkhd 16.16 → pixels), media clock (mdhd), folded sample counts /
    * total timing units (stts) and keyframe count (stss) — the
    * container-level census a video lake runs before any decode. Both
    * tracks of each fixture appear: the video track with dims and
    * keyframes, the audio-like track with zero dims and no stss —
    * proving multi-trak isolation inside one moov. */
  private val q329 = Q(
    "q329_mp4_track_catalog",
    (s, dir) => {
      val fx = mp4Fixture(s, Lake(s, dir).documents.filter(col("doc_id") < 300))
      Multimodal.mp4TrackMeta(fx, "doc_id", "media")
        .toDF().orderBy("doc_id", "track_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id,
          3 + doc_id % 4 AS c1, 2 + doc_id % 3 AS c2,
          150 + (doc_id % 5) * 10 AS d2, 2 + doc_id % 3 AS k,
          5 + doc_id % 6 AS na
        FROM documents WHERE doc_id < 300),
      tr AS (
        SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
          CAST(320 + (doc_id % 5) * 16 AS BIGINT) AS width,
          CAST(240 + (doc_id % 3) * 16 AS BIGINT) AS height,
          CAST(1000 + (doc_id % 7) * 500 AS BIGINT) AS media_timescale,
          CAST(c1 * 100 + c2 * d2 AS BIGINT) AS media_duration,
          CAST(c1 + c2 AS BIGINT) AS n_samples,
          CAST(c1 * 100 + c2 * d2 AS BIGINT) AS total_units,
          CAST((c1 + c2 - 1) // k + 1 AS BIGINT) AS n_keyframes
        FROM ids
        UNION ALL
        SELECT doc_id, CAST(2 AS BIGINT), CAST(0 AS BIGINT),
          CAST(0 AS BIGINT), CAST(8000 AS BIGINT),
          CAST(64 * na AS BIGINT), CAST(na AS BIGINT),
          CAST(64 * na AS BIGINT), CAST(0 AS BIGINT)
        FROM ids)
      SELECT * FROM tr ORDER BY doc_id, track_id""")
  )

  // --------------------------------------------------------------- q321
  /** Batch media-lake ingestion under the hash gate — the PRODUCTION
    * entry point for blobs, which every other media gate bypasses by
    * building binaries in-flight: real files land in a directory with
    * the lake naming convention (`<id>.<ext>`, BMP for even ids, PNG
    * for odd), `spark.read.format("binaryFile")` picks them up through
    * an image-extension glob, doc_id comes from the file
    * name, and the decode → resize → channel-means chain runs on the
    * bytes THE FILESYSTEM handed back. Junk drops are covered both
    * ways: a `.txt` file the glob must exclude, and a text-bytes
    * `.png` the decode must drop. The fixture files are written
    * executor-side (`foreachPartition` — which reaches the
    * driver-created temp dir because the harness is local[*]; on a
    * real cluster the lake dir would be shared storage anyway);
    * the oracle is q125's arithmetic restated for the doc range — a
    * hash match proves glob, id extraction, filesystem round trip and
    * both codecs end-to-end. The ≤200-row feature frame is
    * materialized (O(k)-bounded collect) so the fixture directory can
    * be deleted in a `finally` — verify sweeps and bench loops invoke
    * queries repeatedly, and leaking a dir per run is unbounded. */
  private val q321 = Q(
    "q321_media_lake_ingest",
    (s, dir) => {
      import s.implicits._
      val tmpPath = java.nio.file.Files.createTempDirectory("graft-q321")
      val tmp = tmpPath.toString
      try {
      Lake(s, dir).documents
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .foreachPartition { (ids: Iterator[Long]) =>
          ids.foreach { id =>
            val w = (8 + id % 9).toInt
            val h = (6 + id % 7).toInt
            val rgb = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val i = (y * w + x) * 3
                rgb(i) = ((id + x + 2L * y) % 256).toByte
                rgb(i + 1) = ((2L * id + 3L * x + y) % 256).toByte
                rgb(i + 2) = ((id + 5L * x + 7L * y) % 256).toByte
                x += 1
              }
              y += 1
            }
            val img = Multimodal.DecodedImage(w, h, rgb)
            val (ext, bytes) =
              if (id % 2 == 0) ("bmp", Multimodal.encodeBmp(img))
              else ("png", Multimodal.encodePng(img))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"$id.$ext"), bytes)
          }
        }
      // adversarial drops: excluded by glob / dropped by decode
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "notes.txt"), "not media")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "999999.png"),
        "text bytes wearing a png name".getBytes)
      val raw = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.{bmp,png}")
        .load(tmp)
        .select(
          nullif(regexp_extract(col("path"), "(\\d+)\\.[a-z]+$", 1), lit(""))
            .cast("long").as("doc_id"),
          col("content").as("media"))
        .filter(col("doc_id").isNotNull)
      val feats = Multimodal.imageFeatures(raw, "doc_id", "media", 8, 8)
        .toDF().orderBy("doc_id")
      val schema = feats.schema
      val rows = feats.collect().toSeq // ≤200 rows: the fixture gate's size
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmpPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 200),
      grid AS (
        SELECT doc_id, w, h, t1.x, t2.y
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      sampled AS (
        SELECT doc_id,
          (doc_id + (x * w) // 8 + 2 * ((y * h) // 8)) % 256 AS r,
          (2 * doc_id + 3 * ((x * w) // 8) + (y * h) // 8) % 256 AS g,
          (doc_id + 5 * ((x * w) // 8) + 7 * ((y * h) // 8)) % 256 AS b
        FROM grid)
      SELECT doc_id,
        CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        CAST(SUM(r) AS DOUBLE) / 64 AS mean_r,
        CAST(SUM(g) AS DOUBLE) / 64 AS mean_g,
        CAST(SUM(b) AS DOUBLE) / 64 AS mean_b
      FROM sampled GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q322
  /** EXIF orientation extraction under the hash gate
    * ([[graft.ops.Multimodal.parseExifOrientation]]): REAL JPEGs (the
    * JDK encoder's stream) with an APP1/TIFF EXIF segment spliced in
    * carrying orientation 1 + doc_id % 8, walked back out by the
    * marker scan + byte-order-aware IFD walk. Every fourth doc gets a
    * plain JPEG with NO EXIF and must emit no row (the honesty
    * contract — a pipeline must distinguish "orientation 1" from
    * "orientation unknown"). The oracle states construction truth; a
    * hash match proves the APP1 splice and the TIFF walk
    * byte-for-byte. The pixel side of orientation
    * ([[graft.ops.Multimodal.orientImage]], the dihedral-group
    * transform) is law-tested in MultimodalSpec. */
  private val q322 = Q(
    "q322_exif_orientation",
    (s, dir) => {
      import s.implicits._
      val jpgs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val rgb = Array.tabulate(16 * 12 * 3)(i =>
            (40 + (id + i / 3) % 160).toByte)
          val img = Multimodal.DecodedImage(16, 12, rgb)
          val bytes =
            if (id % 4 == 3) Multimodal.encodeJpeg(img)
            else Multimodal.jpegWithExif(img, (1 + id % 8).toInt)
          (id, bytes)
        })
        .toDF("doc_id", "media")
      Multimodal.exifOrientations(jpgs, "doc_id", "media").toDF()
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, CAST(1 + doc_id % 8 AS BIGINT) AS orientation
      FROM documents
      WHERE doc_id < 400 AND doc_id % 4 != 3
      ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q323
  /** Stereo downmix under the hash gate
    * ([[graft.ops.Multimodal.pcmDownmix]] → [[graft.ops.Multimodal.pcmStats]]):
    * genuine interleaved 16-bit stereo WAVs (L and R each a function of
    * doc_id, R phase-shifted and sign-flipped so the mix genuinely
    * cancels and clips through zero) downmixed to mono at (L+R)/2 with
    * truncating division, re-emitted as real mono WAV bytes and walked
    * to exact integer stats. This is how the mono-only restriction on
    * the audio operators is DISCHARGED: route stereo through the
    * downmix, not around the honesty check. The oracle regenerates
    * both channels and mirrors the truncating division — Java's `/`
    * and DuckDB's `//` agree toward zero (floorDiv would not, measured:
    * -3//2 = -1 in DuckDB). */
  private val q323 = Q(
    "q323_audio_downmix",
    (s, dir) => {
      import s.implicits._
      val wavs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 30
          val n = (180 + k % 60).toInt
          val left = Array.tabulate(n)(i =>
            (((k * 31 + i * 17) % 2048) - 1024).toShort)
          val right = Array.tabulate(n)(i =>
            (1024 - ((k * 19 + i * 23) % 2048)).toShort)
          (id, Multimodal.pcm16WavStereo(16000L, left, right))
        })
        .toDF("doc_id", "media")
      Multimodal.pcmStats(
        Multimodal.pcmDownmix(wavs, "doc_id", "media").toDF(),
        "doc_id", "media")
        .toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 30 AS k, 180 + (doc_id % 30) % 60 AS n
        FROM documents WHERE doc_id < 400),
      mixed AS (
        SELECT doc_id,
          (((k * 31 + t.i * 17) % 2048 - 1024)
           + (1024 - (k * 19 + t.i * 23) % 2048)) // 2 AS s
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i)),
      agg AS (
        SELECT doc_id, COUNT(*) AS n, MAX(abs(s)) AS peak,
               SUM(abs(s)) AS sum_abs, SUM(s * s) AS sum_sq
        FROM mixed GROUP BY doc_id)
      SELECT doc_id,
        CAST(n AS BIGINT) AS n_samples,
        CAST(peak AS BIGINT) AS peak,
        CAST(sum_abs AS BIGINT) AS sum_abs,
        CAST(sum_sq // n AS BIGINT) AS mean_sq
      FROM agg ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q335
  /** MP4 SAMPLE BYTE MAP ([[Multimodal.mp4SampleMap]]) — the
    * random-access half of the container story q328/q329 started:
    * stsz per-sample sizes, a TWO-RUN stsc in the fixture-wide shape
    * real muxers emit (uniform chunks, then chunk placement via stco),
    * resolved to every sample's (chunk, byte_offset, size) with
    * within-chunk size accumulation. No codec, pure integer walk; the
    * oracle restates the construction: sample j sits in chunk ⌊j/3⌋ at
    * the chunk's stco base plus its predecessors' sizes. */
  private val q335 = Q(
    "q335_mp4_sample_map",
    (s, dir) => {
      import s.implicits._
      val fx = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (3 * (2 + id % 4)).toInt
          val sizes = (0 until n).map(j => 100L + (id + j * 7) % 50)
          val nChunks = n / 3
          val spec = Multimodal.Mp4TrackSpec(1, 64, 48, 1000, 100L * n,
            Seq((n.toLong, 100L)), Nil,
            sampleSizes = sizes,
            stsc = Seq((1L, 3L)),
            chunkOffsets = (1 to nChunks).map(c => 48L + 1000L * c + id))
          (id, Multimodal.mp4WithTracks("isom", 600, 0, Seq(spec)))
        })
        .toDF("doc_id", "media")
      Multimodal.mp4SampleMap(fx, "doc_id", "media")
        .toDF().orderBy("doc_id", "sample_number")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 3 * (2 + doc_id % 4) AS n
        FROM documents WHERE doc_id < 300),
      s AS (
        SELECT doc_id, t.j,
          100 + (doc_id + t.j * 7) % 50 AS sz,
          t.j // 3 AS c, t.j % 3 AS w
        FROM ids, unnest(generate_series(0, n - 1)) AS t(j))
      SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
        CAST(j + 1 AS BIGINT) AS sample_number,
        CAST(c + 1 AS BIGINT) AS chunk_number,
        CAST(48 + 1000 * (c + 1) + doc_id
          + CASE w WHEN 0 THEN 0
                   WHEN 1 THEN 100 + (doc_id + (3 * c) * 7) % 50
                   ELSE (100 + (doc_id + (3 * c) * 7) % 50)
                      + (100 + (doc_id + (3 * c + 1) * 7) % 50) END
          AS BIGINT) AS byte_offset,
        CAST(sz AS BIGINT) AS size
      FROM s ORDER BY doc_id, sample_number""")
  )

  // --------------------------------------------------------------- q338
  /** Media-lake TRIAGE census ([[Multimodal.mediaTriage]]) — the first
    * pass over a mixed delivery: one scan sniffs every blob's container
    * and probes whether its family's structural decode succeeds,
    * totality-guaranteed on junk. The fixture cycles eight delivery
    * kinds by doc_id%8 — BMP/PNG/TIFF pixels, mono WAV (with a planted
    * 8-bit-depth header-only WAV on doc_id%16=3 that SNIFFS as wav but
    * fails the PCM contract — the sniff/decode distinction the triage
    * exists to make), mono FLAC, an ISO-BMFF skeleton, AVI-MJPEG, and
    * plain junk — and the oracle states construction truth per doc. */
  /** The q338/q342 mixed-delivery blob fixture: eight delivery kinds
    * cycled by doc_id%8 (BMP/PNG/TIFF pixels, mono WAV with a planted
    * header-only 8-bit WAV on doc_id%16=3, mono FLAC, an ISO-BMFF
    * skeleton, AVI-MJPEG, junk) — construction truth per doc. */
  private def triageBlobs(
      s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    base.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        def img(): Multimodal.DecodedImage = {
          val w = 8; val h = 6
          Multimodal.DecodedImage(w, h,
            Array.tabulate(w * h * 3)(i => ((id * 7 + i) % 256).toByte))
        }
        def sig(): Array[Short] =
          Array.tabulate(120)(i => (((id * 31 + i * 17) % 2003) - 1001).toShort)
        val bytes = (id % 8) match {
          case 0 => Multimodal.encodeBmp(img())
          case 1 => Multimodal.encodePng(img())
          case 2 => Multimodal.encodeTiff(img())
          case 3 =>
            if (id % 16 == 3) // sniffs as wav, fails the 16-bit contract
              Multimodal.wavHeader(8000L, 1, 8, 100)
            else Multimodal.pcm16Wav(8000L, sig())
          case 4 => Multimodal.flacEncode(8000L, sig(), 64)
          case 5 => Multimodal.mp4WithTracks("isom", 600, 1200, Seq(
            Multimodal.Mp4TrackSpec(1, 32, 24, 1000, 300,
              Seq((3L, 100L)), Seq(1L))))
          case 6 => Multimodal.aviMjpeg(8, 6, Seq(
            Multimodal.encodeJpeg(img())))
          case _ => s"not media at all, just text $id".getBytes("UTF-8")
        }
        (id, bytes)
      })
      .toDF("doc_id", "media")
  }

  private val q338 = Q(
    "q338_media_triage",
    (s, dir) => {
      val blobs = triageBlobs(s, Lake(s, dir).documents.filter(col("doc_id") < 600))
      Multimodal.mediaTriage(blobs, "doc_id", "media").toDF()
        .select("doc_id", "container", "decode_ok")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CASE doc_id % 8
          WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'tiff'
          WHEN 3 THEN 'wav' WHEN 4 THEN 'flac' WHEN 5 THEN 'mp4'
          WHEN 6 THEN 'avi' ELSE 'unknown' END AS container,
        CAST(CASE WHEN doc_id % 8 = 7 THEN 0
                  WHEN doc_id % 16 = 3 THEN 0
                  ELSE 1 END AS BIGINT) AS decode_ok
      FROM documents WHERE doc_id < 600 ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q337
  /** TIFF under the arithmetic gate — the q310 PNG law for the fifth
    * codec: TIFF is lossless, so real blobs written by the JDK TIFF
    * writer ([[Multimodal.encodeTiff]]), sniffed by the new IFD-walk
    * header parse and decoded through ImageIO, must land the
    * decode → resize → channel-means chain EXACTLY on the
    * construction-truth oracle. Extends every pixel consumer
    * (features/hashes/resize/EXIF-less fingerprints) to the scanned-
    * document format web archives are full of. */
  private val q337 = Q(
    "q337_image_tiff_features",
    (s, dir) => {
      import s.implicits._
      val tiffs = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 9).toInt
          val h = (6 + id % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              rgb(i) = ((id + x + 2L * y) % 256).toByte
              rgb(i + 1) = ((2L * id + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((id + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.encodeTiff(Multimodal.DecodedImage(w, h, rgb)))
        })
        .toDF("doc_id", "media")
      Multimodal.imageFeatures(tiffs, "doc_id", "media", 8, 8)
        .toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 300),
      grid AS (
        SELECT doc_id, w, h, t1.x, t2.y
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      sampled AS (
        SELECT doc_id,
          (doc_id + (x * w) // 8 + 2 * ((y * h) // 8)) % 256 AS r,
          (2 * doc_id + 3 * ((x * w) // 8) + (y * h) // 8) % 256 AS g,
          (doc_id + 5 * ((x * w) // 8) + 7 * ((y * h) // 8)) % 256 AS b
        FROM grid)
      SELECT doc_id,
        CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        CAST(SUM(r) AS DOUBLE) / 64 AS mean_r,
        CAST(SUM(g) AS DOUBLE) / 64 AS mean_g,
        CAST(SUM(b) AS DOUBLE) / 64 AS mean_b
      FROM sampled GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q336
  /** MP4 clip extraction against REAL bytes
    * ([[Multimodal.mp4ExtractSamples]]): complete files — moov with
    * full sample tables, then an actual `mdat` whose chunk offsets were
    * computed two-pass against the real skeleton length — have every
    * sample's payload sliced back out through the stsz/stsc/stco
    * extents and md5'd. The oracle rebuilds each payload character by
    * character (ASCII by construction, the q132/q311 md5 trick): a hash
    * match means the offsets pointed at exactly the right bytes in a
    * real container, not just that the arithmetic was self-consistent. */
  private val q336 = Q(
    "q336_mp4_clip_extract",
    (s, dir) => {
      import s.implicits._
      val fx = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (3 * (2 + id % 3)).toInt
          val sizes = (0 until n).map(j => 8L + (id + j * 5) % 24)
          val nChunks = n / 3
          def spec(offsets: Seq[Long]) = Multimodal.Mp4TrackSpec(
            1, 32, 24, 1000, 100L * n, Seq((n.toLong, 100L)), Nil,
            sampleSizes = sizes, stsc = Seq((1L, 3L)),
            chunkOffsets = offsets)
          // two-pass: skeleton length is offset-value-independent, so a
          // placeholder build tells us where mdat's payload will start
          val skeletonLen = Multimodal.mp4WithTracks(
            "isom", 600, 0, Seq(spec(Seq.fill(nChunks)(0L)))).length
          val base = skeletonLen + 8L // + mdat box header
          val chunkStarts = (0 until nChunks).map(c =>
            base + sizes.take(c * 3).sum)
          val payload = (0 until n).flatMap(j =>
            (0L until sizes(j)).map(t =>
              (97 + (id + j * 7 + t) % 26).toByte)).toArray
          val mdat = java.nio.ByteBuffer.allocate(8 + payload.length)
            .putInt(8 + payload.length).put("mdat".getBytes("US-ASCII"))
            .put(payload).array()
          (id, Multimodal.mp4WithTracks("isom", 600, 0,
            Seq(spec(chunkStarts))) ++ mdat)
        })
        .toDF("doc_id", "media")
      Multimodal.mp4ExtractSamples(fx, "doc_id", "media").toDF()
        .select(col("doc_id"), col("track_id"), col("sample_number"),
          md5(col("payload")).as("payload_md5"),
          length(col("payload")).cast("long").as("n_bytes"))
        .orderBy("doc_id", "sample_number")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 3 * (2 + doc_id % 3) AS n
        FROM documents WHERE doc_id < 300),
      samples AS (
        SELECT doc_id, t.j, 8 + (doc_id + t.j * 5) % 24 AS sz
        FROM ids, unnest(generate_series(0, n - 1)) AS t(j)),
      payloads AS (
        SELECT doc_id, j, sz,
          md5(string_agg(chr(CAST(97 + (doc_id + j * 7 + t.t) % 26 AS INT)),
            '' ORDER BY t.t)) AS payload_md5
        FROM samples, unnest(generate_series(0, sz - 1)) AS t(t)
        GROUP BY doc_id, j, sz)
      SELECT doc_id, CAST(1 AS BIGINT) AS track_id,
        CAST(j + 1 AS BIGINT) AS sample_number,
        payload_md5, CAST(sz AS BIGINT) AS n_bytes
      FROM payloads ORDER BY doc_id, sample_number""")
  )

  // --------------------------------------------------------------- q334
  /** Stereo FLAC under the hash gate — q323's downmix fixture delivered
    * as REAL stereo FLAC cycling ALL FOUR spec channel assignments by
    * doc_id%4 (independent / left-side / right-side / mid-side — the
    * decorrelated modes carry a 17-bit side channel the decoder must
    * reconstruct exactly): [[graft.ops.Multimodal.flacDecodeStereo]]
    * inside [[graft.ops.Multimodal.pcmDownmix]] → (L+R)/2 truncating →
    * mono WAV → [[graft.ops.Multimodal.pcmStats]]. The oracle is
    * q323's arithmetic verbatim — the downmix result cannot depend on
    * the container or the assignment, which is exactly the lossless
    * claim for the stereo decode path. */
  private val q334 = Q(
    "q334_audio_downmix_flac",
    (s, dir) => {
      import s.implicits._
      val modes = Array("independent", "left-side", "right-side", "mid-side")
      val flacs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 30
          val n = (180 + k % 60).toInt
          val left = Array.tabulate(n)(i =>
            (((k * 31 + i * 17) % 2048) - 1024).toShort)
          val right = Array.tabulate(n)(i =>
            (1024 - ((k * 19 + i * 23) % 2048)).toShort)
          (id, Multimodal.flacEncodeStereo(16000L, left, right,
            blockSize = 64, mode = modes((id % 4).toInt)))
        })
        .toDF("doc_id", "media")
      Multimodal.pcmStats(
        Multimodal.pcmDownmix(flacs, "doc_id", "media").toDF(),
        "doc_id", "media")
        .toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 30 AS k, 180 + (doc_id % 30) % 60 AS n
        FROM documents WHERE doc_id < 400),
      mixed AS (
        SELECT doc_id,
          (((k * 31 + t.i * 17) % 2048 - 1024)
           + (1024 - (k * 19 + t.i * 23) % 2048)) // 2 AS s
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i)),
      agg AS (
        SELECT doc_id, COUNT(*) AS n, MAX(abs(s)) AS peak,
               SUM(abs(s)) AS sum_abs, SUM(s * s) AS sum_sq
        FROM mixed GROUP BY doc_id)
      SELECT doc_id,
        CAST(n AS BIGINT) AS n_samples,
        CAST(peak AS BIGINT) AS peak,
        CAST(sum_abs AS BIGINT) AS sum_abs,
        CAST(sum_sq // n AS BIGINT) AS mean_sq
      FROM agg ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q324
  /** Composed media release pipeline — the image twin of q200's text
    * release gate, every stage a count the oracle can restate: 600
    * mixed deliveries (BMP for doc_id%3=0, PNG otherwise, content keyed
    * on doc_id%40; every tenth doc is junk bytes) flow intake →
    * decode gate (junk dies at the sniff) → aHash near-dup census
    * (pixel-identical classes collapse regardless of codec) →
    * shard plan (⌈unique/8⌉). The oracle recomputes the hash arithmetic
    * and the same stage algebra — the composition is gated, not just
    * the parts, and the 'unique_content' stage makes NO assumption that
    * the 40 classes hash distinctly (both engines count whatever
    * collisions the hash actually has). */
  private val q324 = Q(
    "q324_media_release_pipeline",
    (s, dir) => {
      import s.implicits._
      val blobs = Lake(s, dir).documents
        .filter(col("doc_id") < 600)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 10 == 9) (id, s"junk delivery $id".getBytes)
          else {
            val k = id % 40
            val w = (8 + k % 9).toInt
            val h = (6 + k % 7).toInt
            val rgb = new Array[Byte](w * h * 3)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val i = (y * w + x) * 3
                rgb(i) = ((k + x + 2L * y) % 256).toByte
                rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
                rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
                x += 1
              }
              y += 1
            }
            val img = Multimodal.DecodedImage(w, h, rgb)
            (id, if (id % 3 == 0) Multimodal.encodeBmp(img)
                 else Multimodal.encodePng(img))
          }
        })
        .toDF("doc_id", "media")
      val nInput = blobs.agg(count(lit(1)).as("n"))
      val hashes = Multimodal.imageAHash(blobs, "doc_id", "media").toDF()
      val census = hashes.agg(
        count(lit(1)).as("n_dec"),
        count_distinct(col("ahash")).as("n_uniq"))
      nInput.crossJoin(broadcast(census))
        .select(
          array(
            struct(lit("input").as("stage"), col("n").as("n")),
            struct(lit("decodable").as("stage"), col("n_dec").as("n")),
            struct(lit("unique_content").as("stage"), col("n_uniq").as("n")),
            struct(lit("dupes_removed").as("stage"),
              (col("n_dec") - col("n_uniq")).as("n")),
            struct(lit("shards_planned").as("stage"),
              ceil(col("n_uniq") / 8.0).cast("long").as("n"))).as("a"))
        .select(explode(col("a")).as("s"))
        .select(col("s.stage"), col("s.n"))
        .orderBy("stage")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 40 AS k,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 600 AND doc_id % 10 != 9),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      gray AS (
        SELECT doc_id, x, y,
          ((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid),
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM gray)
        GROUP BY doc_id),
      census AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dec,
               CAST(COUNT(DISTINCT ahash) AS BIGINT) AS n_uniq
        FROM hashed),
      total AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM documents WHERE doc_id < 600)
      SELECT stage, n FROM (
        SELECT 'input' AS stage, n FROM total
        UNION ALL SELECT 'decodable', n_dec FROM census
        UNION ALL SELECT 'unique_content', n_uniq FROM census
        UNION ALL SELECT 'dupes_removed', n_dec - n_uniq FROM census
        UNION ALL SELECT 'shards_planned',
          CAST(ceil(n_uniq / 8.0) AS BIGINT) FROM census)
      ORDER BY stage""")
  )

  /** The q325/q343/q347 content-class image fixture: the image is a pure
    * function of k = doc_id % 40 (so each class's members are
    * byte-identical content in different codecs: BMP even, PNG odd) —
    * the census/probe oracles can state hash classes arithmetically. */
  private def fusedHashBlobs(
      s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    base.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val k = id % 40
        val w = (8 + k % 9).toInt
        val h = (6 + k % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = ((k + x + 2L * y) % 256).toByte
            rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
            rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
            x += 1
          }
          y += 1
        }
        val img = Multimodal.DecodedImage(w, h, rgb)
        (id, if (id % 2 == 0) Multimodal.encodeBmp(img)
             else Multimodal.encodePng(img))
      })
      .toDF("doc_id", "media")
  }

  /** The shared ahash arithmetic of the q325-family oracles (q343/q347
    * reuse it): per doc < maxDoc the 64-bit aHash as a '0'/'1' string,
    * stated from the construction (8×8 nearest-neighbor resample of the
    * k-keyed image, global-mean threshold). */
  private def ahashCte(maxDoc: Int): String = s"""
      ids AS (
        SELECT doc_id, doc_id % 40 AS k,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < $maxDoc),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      s0 AS MATERIALIZED (
        SELECT doc_id, x, y,
          CAST(((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS BIGINT) AS g
        FROM grid),
      ahashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM s0)
        GROUP BY doc_id)"""

  // --------------------------------------------------------------- q342
  /** BUCKETED MEDIA ROUTING (VERDICT r10 item 2) — the triage catalog
    * ([[graft.ops.MediaCatalog.writeTriageCatalog]], the q338 census
    * persisted bucketed+sorted on doc_id) joined back to a doc_id-
    * bucketed blob-metadata table by
    * [[graft.ops.MediaCatalog.routeFromCatalog]]: a bucket-aligned
    * sort-merge join with zero exchanges and zero sorts
    * (PlanSpec-pinned), each blob routed to its pipeline family. The
    * metadata table deliberately holds 50 docs (600–649) the catalog has
    * never triaged — the stale-catalog case — and the LEFT join must
    * surface them as 'quarantine' rather than dropping them (ADVICE r10,
    * MediaCatalog.scala:85). Oracle states construction truth: container
    * and decode verdict by doc_id%8, the route by family, sentinel
    * container=''/decode_ok=-1 for the uncataloged tail. */
  private val q342 = Q(
    "q342_media_route_from_catalog",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val tmp = java.nio.file.Files.createTempDirectory("graft-q342").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      graft.core.Bucketing.writeBucketed(
        docs.filter(col("doc_id") < 650)
          .select(col("doc_id"), (col("doc_id") % 97).as("n_ref")),
        "q342_blobs", s"$tmp/blobs", 8, Seq("doc_id"))
      graft.ops.MediaCatalog.writeTriageCatalog(
        triageBlobs(s, docs.filter(col("doc_id") < 600)),
        "doc_id", "media", "q342_catalog", s"$tmp/cat", 8)
      val out = graft.ops.MediaCatalog
        .routeFromCatalog(s, "q342_blobs", "q342_catalog")
        .select(col("doc_id"),
          coalesce(col("container"), lit("")).as("container"),
          coalesce(col("decode_ok"), lit(-1L)).as("decode_ok"),
          col("route"))
        .orderBy("doc_id")
      // the resolved plan keeps the file relations; dropping the catalog
      // entries stops the session accumulating tables whose deleteOnExit
      // paths vanish at JVM exit (ADVICE r11)
      Seq("q342_blobs", "q342_catalog")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      out
    },
    Some("""
      WITH cat AS (
        SELECT doc_id,
          CASE doc_id % 8
            WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'tiff'
            WHEN 3 THEN 'wav' WHEN 4 THEN 'flac' WHEN 5 THEN 'mp4'
            WHEN 6 THEN 'avi' ELSE 'unknown' END AS container,
          CAST(CASE WHEN doc_id % 8 = 7 THEN 0
                    WHEN doc_id % 16 = 3 THEN 0
                    ELSE 1 END AS BIGINT) AS decode_ok
        FROM documents WHERE doc_id < 600)
      SELECT m.doc_id,
             COALESCE(c.container, '') AS container,
             COALESCE(c.decode_ok, -1) AS decode_ok,
             CASE WHEN c.decode_ok IS NULL THEN 'quarantine'
                  WHEN c.decode_ok = 0 THEN 'quarantine'
                  WHEN c.container IN ('bmp', 'png', 'tiff', 'jpeg', 'gif')
                    THEN 'image'
                  WHEN c.container IN ('wav', 'flac') THEN 'audio'
                  WHEN c.container IN ('mp4', 'avi') THEN 'video'
                  ELSE 'quarantine' END AS route
      FROM (SELECT doc_id FROM documents WHERE doc_id < 650) m
      LEFT JOIN cat c USING (doc_id)
      ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q343
  /** RELEASE CENSUS off the bucketed hash catalog
    * ([[graft.ops.MediaCatalog.writeHashCatalog]] +
    * [[graft.ops.MediaCatalog.hashCensus]]): duplicate-content classes
    * (member count + canonical doc per ahash) computed straight off the
    * catalog's bucketed scan — the scan's hash-partitioning satisfies
    * the groupBy, zero exchanges (PlanSpec-pinned), where the
    * recompute-per-run shape pays decode + a corpus-sized shuffle every
    * release (MediaCatalogProbe measures the gap). The fixture's image
    * is a pure function of doc_id%40, so each of the 40 content classes
    * collapses to one ahash with 10 members and canonical doc = k;
    * the oracle states the ahash arithmetic and groups it. */
  private val q343 = Q(
    "q343_media_hash_census_bucketed",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val tmp = java.nio.file.Files.createTempDirectory("graft-q343").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      graft.ops.MediaCatalog.writeHashCatalog(
        fusedHashBlobs(s, docs.filter(col("doc_id") < 400)),
        "doc_id", "media", "q343_catalog", s"$tmp/cat", 8)
      val out = graft.ops.MediaCatalog.hashCensus(s, "q343_catalog")
        .orderBy("ahash")
      s.sql("DROP TABLE IF EXISTS q343_catalog") // plan keeps the files
      out
    },
    Some(s"""
      WITH ${ahashCte(400)}
      SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS canonical_doc
      FROM ahashed GROUP BY ahash ORDER BY ahash""")
  )

  // --------------------------------------------------------------- q347
  /** NEAR-DUP SERVING off the bucketed hash catalog
    * ([[graft.ops.MediaCatalog.probeHashCatalog]]): a new 40-doc
    * delivery's fused hashes probe the 400-doc catalog for exact-ahash
    * content hits; the batch's distinct ahashes push into the catalog
    * scan as an isin, so the bucketed scan PRUNES (SelectedBucketsCount,
    * PlanSpec-pinned) and neither side shuffles — catalog bytes read
    * scale with the batch, not the corpus (VERDICT r11 item 2). Every
    * batch doc (ids 400–439, same doc_id%40 content classes) must hit
    * exactly its class's 10 catalog members — modulo real ahash
    * collisions across classes, which the oracle reproduces because it
    * computes the same ahash arithmetic on both sides of its
    * self-join. */
  private val q347 = Q(
    "q347_media_hash_probe_bucketed",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val tmp = java.nio.file.Files.createTempDirectory("graft-q347").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      graft.ops.MediaCatalog.writeHashCatalog(
        fusedHashBlobs(s, docs.filter(col("doc_id") < 400)),
        "doc_id", "media", "q347_catalog", s"$tmp/cat", 8)
      val batch = Multimodal.imageHashes(
        fusedHashBlobs(s,
          docs.filter(col("doc_id") >= 400 && col("doc_id") < 440)),
        "doc_id", "media").toDF()
      val out = graft.ops.MediaCatalog.probeHashCatalog(s, batch, "q347_catalog")
        .orderBy("batch_doc", "catalog_doc")
      s.sql("DROP TABLE IF EXISTS q347_catalog") // plan keeps the files
      out
    },
    Some(s"""
      WITH ${ahashCte(440)}
      SELECT b.doc_id AS batch_doc, c.doc_id AS catalog_doc, b.ahash
      FROM ahashed b JOIN ahashed c ON b.ahash = c.ahash
      WHERE b.doc_id >= 400 AND c.doc_id < 400
      ORDER BY batch_doc, catalog_doc""")
  )

  // --------------------------------------------------------------- q325
  /** One-decode fingerprinting ([[graft.ops.Multimodal.imageHashes]]):
    * aHash + dHash + wHash from a SINGLE decode of each blob — at lake
    * scale the decode IS the cost, and the three standalone operators
    * pay it three times. Mixed BMP/PNG delivery; the oracle joins the
    * three single-hash arithmetic chains (q126 mean threshold, q230
    * gradient compare on the 9×8 grid, q267's six unrolled butterfly
    * stages) on doc_id — all three columns must match the fused pass
    * bit-for-bit. */
  private val q325 = {
    val rowStage = (prev: String, cur: String, b: Int) => s"""
      $cur AS MATERIALIZED (
        SELECT a.doc_id, a.x, a.y,
          CASE WHEN a.x % ${2 * b} < $b THEN a.g + p.g ELSE p.g - a.g END AS g
        FROM $prev a JOIN $prev p
          ON a.doc_id = p.doc_id AND a.y = p.y AND p.x = xor(a.x, $b))"""
    val colStage = (prev: String, cur: String, b: Int) => s"""
      $cur AS MATERIALIZED (
        SELECT a.doc_id, a.x, a.y,
          CASE WHEN a.y % ${2 * b} < $b THEN a.g + p.g ELSE p.g - a.g END AS g
        FROM $prev a JOIN $prev p
          ON a.doc_id = p.doc_id AND a.x = p.x AND p.y = xor(a.y, $b))"""
    Q(
      "q325_image_hashes_fused",
      (s, dir) => {
        val imgs = fusedHashBlobs(s,
          Lake(s, dir).documents.filter(col("doc_id") < 400))
        Multimodal.imageHashes(imgs, "doc_id", "media").toDF()
          .orderBy("doc_id")
      },
      Some(s"""
      WITH ids AS (
        SELECT doc_id, doc_id % 40 AS k,
          8 + (doc_id % 40) % 9 AS w, 6 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      s0 AS MATERIALIZED (
        SELECT doc_id, x, y,
          CAST(((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS BIGINT) AS g
        FROM grid),
      ahashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM s0)
        GROUP BY doc_id),
      grid9 AS (
        SELECT doc_id, k, t1.x, t2.y,
          (x * w) // 9 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 8)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      g9 AS (
        SELECT doc_id, x, y,
          ((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid9),
      dbits AS (
        SELECT doc_id, x, y,
          CASE WHEN lead(g) OVER (PARTITION BY doc_id, y ORDER BY x) > g
               THEN '1' ELSE '0' END AS bit
        FROM g9),
      dhashed AS (
        SELECT doc_id,
          string_agg(bit, '' ORDER BY y, x) AS dhash
        FROM dbits WHERE x < 8 GROUP BY doc_id),
      ${rowStage("s0", "s1", 1)},
      ${rowStage("s1", "s2", 2)},
      ${rowStage("s2", "s3", 4)},
      ${colStage("s3", "s4", 1)},
      ${colStage("s4", "s5", 2)},
      ${colStage("s5", "s6", 4)},
      whashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > 0 THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS whash
        FROM s6 GROUP BY doc_id)
      SELECT doc_id, ahash, dhash, whash
      FROM ahashed JOIN dhashed USING (doc_id) JOIN whashed USING (doc_id)
      ORDER BY doc_id""")
    )
  }

  // --------------------------------------------------------------- q332
  /** SCALE-INVARIANT image near-dup — the real-resize law
    * ([[graft.ops.Multimodal.resizeImage]]: decode → nearest-neighbor
    * resample → BMP re-encode, undecodables dropped; the byte-padding
    * resizeStub is DELETED): the same content rendered at DIFFERENT
    * source resolutions (8×8-block patterns upscaled to w = 8·(1+id%3),
    * h = 8·(1+id%4), mixed BMP/PNG) is resized to a common 16×16 and
    * fused-hashed ([[graft.ops.Multimodal.imageHashes]], one decode).
    * Because nearest-neighbor floors compose (⌊⌊a·x⌋/a⌋ = ⌊x⌋), every
    * rendition of a content class must collapse to IDENTICAL
    * ahash/dhash/whash — the dup_count census states the collapse. The
    * oracle walks the full two-stage index mapping (source → resized →
    * hash grid) rather than its simplification, so a hash match proves
    * the real pipeline: two decodes, a resample, a re-encode, and three
    * hash chains end-to-end. */
  private val q332 = {
    val rowStage = (prev: String, cur: String, b: Int) => s"""
      $cur AS MATERIALIZED (
        SELECT a.doc_id, a.x, a.y,
          CASE WHEN a.x % ${2 * b} < $b THEN a.g + p.g ELSE p.g - a.g END AS g
        FROM $prev a JOIN $prev p
          ON a.doc_id = p.doc_id AND a.y = p.y AND p.x = xor(a.x, $b))"""
    val colStage = (prev: String, cur: String, b: Int) => s"""
      $cur AS MATERIALIZED (
        SELECT a.doc_id, a.x, a.y,
          CASE WHEN a.y % ${2 * b} < $b THEN a.g + p.g ELSE p.g - a.g END AS g
        FROM $prev a JOIN $prev p
          ON a.doc_id = p.doc_id AND a.x = p.x AND p.y = xor(a.y, $b))"""
    Q(
      "q332_image_scale_invariant_dedup",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val imgs = Lake(s, dir).documents
          .filter(col("doc_id") < 400)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val k = id % 25
            val w = (8 * (1 + id % 3)).toInt
            val h = (8 * (1 + id % 4)).toInt
            val rgb = new Array[Byte](w * h * 3)
            var py = 0
            while (py < h) {
              var px = 0
              while (px < w) {
                val bx = px * 8 / w
                val by = py * 8 / h
                val i = (py * w + px) * 3
                rgb(i) = ((k * 7 + bx * 11 + by * 13) % 256).toByte
                rgb(i + 1) = ((2 * k + 3 * bx + by) % 256).toByte
                rgb(i + 2) = ((k + 5 * bx + 7 * by) % 256).toByte
                px += 1
              }
              py += 1
            }
            val img = Multimodal.DecodedImage(w, h, rgb)
            (id, if (id % 2 == 0) Multimodal.encodeBmp(img)
                 else Multimodal.encodePng(img))
          })
          .toDF("doc_id", "media")
        val resized = Multimodal.resizeImage(imgs, "doc_id", "media", 16, 16)
          .toDF().select(col("doc_id"), col("media"))
        Multimodal.imageHashes(resized, "doc_id", "media").toDF()
          .withColumn("dup_count",
            count(lit(1)).over(Window.partitionBy("ahash")))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH ids AS (
        SELECT doc_id, doc_id % 25 AS k,
          8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 4) AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, k, t1.x, t2.y,
          ((((2 * x * w) // 16) * 8) // w) AS bx,
          ((((2 * y * h) // 16) * 8) // h) AS by
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      s0 AS MATERIALIZED (
        SELECT doc_id, x, y,
          CAST(((k * 7 + bx * 11 + by * 13) % 256 + (2 * k + 3 * bx + by) % 256
            + (k + 5 * bx + 7 * by) % 256) // 3 AS BIGINT) AS g
        FROM grid),
      ahashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM s0)
        GROUP BY doc_id),
      grid9 AS (
        SELECT doc_id, k, t1.x, t2.y,
          (((((x * 16) // 9) * w) // 16) * 8) // w AS bx,
          ((((2 * y * h) // 16) * 8) // h) AS by
        FROM ids,
          unnest(generate_series(0, 8)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      g9 AS (
        SELECT doc_id, x, y,
          ((k * 7 + bx * 11 + by * 13) % 256 + (2 * k + 3 * bx + by) % 256
            + (k + 5 * bx + 7 * by) % 256) // 3 AS g
        FROM grid9),
      dbits AS (
        SELECT doc_id, x, y,
          CASE WHEN lead(g) OVER (PARTITION BY doc_id, y ORDER BY x) > g
               THEN '1' ELSE '0' END AS bit
        FROM g9),
      dhashed AS (
        SELECT doc_id,
          string_agg(bit, '' ORDER BY y, x) AS dhash
        FROM dbits WHERE x < 8 GROUP BY doc_id),
      ${rowStage("s0", "s1", 1)},
      ${rowStage("s1", "s2", 2)},
      ${rowStage("s2", "s3", 4)},
      ${colStage("s3", "s4", 1)},
      ${colStage("s4", "s5", 2)},
      ${colStage("s5", "s6", 4)},
      whashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > 0 THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS whash
        FROM s6 GROUP BY doc_id)
      SELECT doc_id, ahash, dhash, whash,
        COUNT(*) OVER (PARTITION BY ahash) AS dup_count
      FROM ahashed JOIN dhashed USING (doc_id) JOIN whashed USING (doc_id)
      ORDER BY doc_id""")
    )
  }

  val all: Seq[Q] = Seq(q230, q231, q232, q267, q310, q311, q314, q315,
    q316, q317, q318, q319, q320, q321, q322, q323, q324, q325, q327,
    q328, q329, q330, q331, q332, q334, q335, q336, q337, q338, q342,
    q343, q347)
}
