package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal-column queries: binary payload metadata, stub-decoded image
  * features, and frame sampling, over a media table derived from
  * `documents` (payload = utf-8 bytes — the Spark-side plumbing is what is
  * under test; see graft.multimodal.Multimodal for the stub-decode
  * rationale). */
object MultimodalQueries {

  /** Binary metadata extraction — byte length, fake decode dims (mirrors
    * FakeCodec arithmetic), content checksum. Fully oracle-checked. */
  val mmMeta: Q = new Q {
    val name = "mm_meta"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select(
          col("doc_id").as("media_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("media_type"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          (octet_length(col("text")) % 64 + 1).cast("long").as("fake_w"),
          ((octet_length(col("text")) / 64).cast("long") % 64 + 1).as("fake_h"),
          md5(col("text")).as("checksum"))
        .orderBy("media_id")
    val oracle = Some(
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(strlen(text) % 64 + 1 AS BIGINT) AS fake_w,
        |  CAST((strlen(text) // 64) % 64 + 1 AS BIGINT) AS fake_h,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin)
  }

  /** Full Dataset-API decode pipeline (mapPartitions batch stage). The
    * float feature array itself is not driver-comparable (array columns
    * defeat the harness's sort/hash, and floats aren't oracle-stable), so
    * the query exports exact INTEGER projections of it: the histogram bin
    * counts are recovered from the L1-normalized floats by round(f·len) —
    * exact because counts ≤ len ≪ 2^24 — giving a fully DuckDB-checkable
    * fingerprint of every feature value. The raw array round-trips in the
    * MultimodalSpec suite. */
  val mmFeatures: Q = new Q {
    val name = "mm_features"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val feats = Multimodal.decodeImages(
        Multimodal.mediaFromDocuments(Tables.documents(spark, dir))).toDF()
      val total = greatest(col("n_bytes"), lit(1L)).cast("double")
      val cnts = (0 until Multimodal.FeatureDim).map(j =>
        round(element_at(col("features"), j + 1) * total).cast("long"))
      val maxC = cnts.reduce((a, b) => greatest(a, b))
      val argmax = cnts.zipWithIndex.foldRight(lit(-1L)) {
        case ((c, j), rest) => when(c === maxC, lit(j.toLong)).otherwise(rest)
      }
      feats.select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_bytes"),
          cnts.map(c => when(c > 0L, 1L).otherwise(0L)).reduce(_ + _).as("n_nonzero_bins"),
          argmax.as("argmax_bin"),
          cnts.zipWithIndex.map { case (c, j) => c * (j + 1) }.reduce(_ + _).as("hist_fp"))
        // persisted before the global sort: the range sampler otherwise
        // re-runs the mapPartitions decode stage a second time
        // (OPTIMIZATION_r18)
        .persist()
        .orderBy("media_id")
    }
    // documents.text is pure ASCII in the test corpus (verified all SFs), so
    // DuckDB character codes == the codec's byte values.
    val oracle = Some(
      """WITH ch AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i + 1 AS INT), 1)) // 16 AS bin
        |  FROM (SELECT doc_id, text, unnest(range(strlen(text))) AS i FROM documents)),
        |h AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY doc_id, bin),
        |amax AS (
        |  SELECT doc_id, bin AS argmax_bin FROM (
        |    SELECT doc_id, bin,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bin ASC) AS rn
        |    FROM h) WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_nonzero_bins, sum((bin + 1) * c) AS hist_fp
        |  FROM h GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CAST(strlen(d.text) % 64 + 1 AS BIGINT) AS width,
        |  CAST((strlen(d.text) // 64) % 64 + 1 AS BIGINT) AS height,
        |  CAST(strlen(d.text) AS BIGINT) AS n_bytes,
        |  CAST(a.n_nonzero_bins AS BIGINT) AS n_nonzero_bins,
        |  CAST(m.argmax_bin AS BIGINT) AS argmax_bin,
        |  CAST(a.hist_fp AS BIGINT) AS hist_fp
        |FROM documents d JOIN agg a ON d.doc_id = a.doc_id
        |  JOIN amax m ON d.doc_id = m.doc_id
        |ORDER BY media_id""".stripMargin)
  }

  /** Frame sampling of "video" payloads: 4 evenly-spaced byte slices; the
    * slice lengths are pure arithmetic, so the oracle can verify the whole
    * 1→n flatMap without decoding. */
  val mmFrames: Q = new Q {
    val name = "mm_frames"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val frames = Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(Tables.documents(spark, dir)), 4)
      frames.toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("media_id", "frame_idx")
    }
    val oracle = Some(
      """SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame_idx,
        |  CAST((strlen(text) * (k + 1)) // 4 - (strlen(text) * k) // 4 AS BIGINT) AS frame_len
        |FROM documents CROSS JOIN range(4) r(k)
        |WHERE doc_id % 3 = 2 AND strlen(text) > 0
        |ORDER BY media_id, frame_idx""".stripMargin)
  }

  /** Perceptual (average-hash) image near-dup pairs — the image-side
    * analogue of the text MinHash pipeline, at scale shape: each "image"
    * downsamples to 64 evenly-spaced byte samples (the aHash grid; a real
    * decoder would mean-pool pixels — same 64-sample contract), bit k of
    * the 64-bit hash = sample k > integer mean, candidates come from a
    * 4×16-bit BAND equi-join (two images agree on ≥1 band → compare),
    * and the verify is exact Hamming ≤ 6 via xor + bit_count. Never
    * all-pairs: the band join is the same LSH shape as
    * `dedup_minhash_lsh` / `dedup_embedding_lsh` — at 10⁹ images the
    * candidates are bucket-bounded. All arithmetic integer; the corpus
    * is pure ASCII so DuckDB's ascii() sees the codec's byte values.
    * The oracle casts its `list_sum` back to BIGINT: DuckDB sums BIGINT
    * into HUGEINT, whose xor of two hashes of opposite sign counts 64
    * sign-extension bits. */
  val mmPhashDedup: Q = new Q {
    val name = "mm_phash_dedup"
    private val Tau = 6L
    def run(spark: SparkSession, dir: String): DataFrame = {
      // codegen'd one-pass kernel (expressions/MediaHashExprs): the
      // declarative transform→mean→zip_with spelling re-evaluates the mean
      // sub-aggregate inside every per-bit lambda after projection
      // collapse — O(64²·|text|) interpreted walks per row. The oracle
      // keeps the declarative definition, proving the fused kernel.
      val hashed = Tables.documents(spark, dir)
        .where(length(col("text")) > 0)
        .select(col("doc_id").as("media_id"),
          graft.expressions.F.aHash64(col("text")).as("phash"))
      val bands = hashed.select(col("media_id"), col("phash"),
        explode(expr("sequence(0, 3)")).as("b"))
        .withColumn("band_val", expr("(phash >> (b * 16)) & 65535"))
      val l = bands.select(col("b"), col("band_val"),
        col("media_id").as("id_l"), col("phash").as("h_l"))
      val r = bands.select(col("b"), col("band_val"),
        col("media_id").as("id_r"), col("phash").as("h_r"))
      l.join(r, Seq("b", "band_val"))
        .where(col("id_l") < col("id_r"))
        .select(col("id_l"), col("id_r"),
          expr("bit_count(h_l ^ h_r)").cast("long").as("hamming"))
        .distinct()
        .where(col("hamming") <= Tau)
        .orderBy("id_l", "id_r")
    }
    val oracle = Some(
      s"""WITH d AS (
         |  SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n
         |  FROM documents WHERE strlen(text) > 0),
         |s AS (
         |  SELECT media_id,
         |    list_transform(range(0, 64),
         |      k -> CAST(ascii(substr(text, CAST(k * n // 64 + 1 AS INT), 1)) AS BIGINT)) AS sm
         |  FROM d),
         |h AS (
         |  SELECT media_id,
         |    CAST(list_sum(list_transform(list_zip(sm, range(0, 64)),
         |      p -> CASE WHEN p[1] <= list_sum(sm) // 64 THEN 0
         |                WHEN p[2] = 63 THEN -9223372036854775807 - 1
         |                ELSE (CAST(1 AS BIGINT) << CAST(p[2] AS INT)) END)) AS BIGINT) AS phash
         |  FROM s),
         |bands AS (
         |  SELECT media_id, phash, b, (phash >> (b * 16)) & 65535 AS band_val
         |  FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |cand AS (
         |  SELECT DISTINCT l.media_id AS id_l, r.media_id AS id_r,
         |    CAST(bit_count(xor(l.phash, r.phash)) AS BIGINT) AS hamming
         |  FROM bands l JOIN bands r
         |    ON l.b = r.b AND l.band_val = r.band_val AND l.media_id < r.media_id)
         |SELECT id_l, id_r, hamming FROM cand
         |WHERE hamming <= $Tau ORDER BY id_l, id_r""".stripMargin)
  }

  /** Nearest-neighbor resize to a fixed 4×4 grid — the resize stage's
    * plumbing with the stub codec's (w, h) layout: out(r, c) reads the
    * source pixel (r·h div 4, c·w div 4); the fake layout's byte index
    * wraps mod n (w·h can exceed the payload — documented stub artifact,
    * a real decoder's buffer is exactly w·h·channels). 1 row → 16 rows,
    * map-only, no shuffle until the presentation sort — the same flatMap
    * shape as real resize-to-thumbnail. */
  val mmResizeNn: Q = new Q {
    val name = "mm_resize_nn"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir)
        .where(length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), col("text"),
          (length(col("text")) % 64 + 1).cast("long").as("w"),
          ((length(col("text")) / 64).cast("long") % 64 + 1).as("h"),
          length(col("text")).cast("long").as("n"))
        .withColumn("out_r", explode(expr("sequence(0L, 3L)")))
        .withColumn("out_c", explode(expr("sequence(0L, 3L)")))
        .withColumn("src_idx",
          expr("((out_r * h div 4) * w + (out_c * w div 4)) % n"))
        .select(col("media_id"), col("out_r"), col("out_c"), col("src_idx"),
          expr("CAST(ascii(substring(text, CAST(src_idx AS INT) + 1, 1)) AS BIGINT)").as("px"))
        .orderBy("media_id", "out_r", "out_c")
    val oracle = Some(
      """WITH d AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(strlen(text) % 64 + 1 AS BIGINT) AS w,
        |    CAST((strlen(text) // 64) % 64 + 1 AS BIGINT) AS h,
        |    CAST(strlen(text) AS BIGINT) AS n
        |  FROM documents WHERE strlen(text) > 0),
        |g AS (SELECT unnest(range(0, 4)) AS out_r),
        |g2 AS (SELECT unnest(range(0, 4)) AS out_c),
        |px AS (
        |  SELECT media_id, out_r, out_c,
        |    ((out_r * h // 4) * w + (out_c * w // 4)) % n AS src_idx, text
        |  FROM d CROSS JOIN g CROSS JOIN g2)
        |SELECT media_id, out_r, out_c, src_idx,
        |  CAST(ascii(substr(text, CAST(src_idx + 1 AS INT), 1)) AS BIGINT) AS px
        |FROM px ORDER BY media_id, out_r, out_c""".stripMargin)
  }

  /** Windowed audio energy — the feature-extraction stage for "audio"
    * payloads: 400-sample frames at 160-sample hop (25 ms / 10 ms at
    * 16 kHz), per-frame energy = Σ sample² (exact integers; bytes stand
    * in for PCM). Frames expand in-row from one sequence (1 row →
    * n_frames rows, map-only); per-frame energy is an in-row fold over
    * the frame's slice. The per-media argmax frame is how a real
    * pipeline picks the loudest window for VAD/snippet extraction. */
  val mmAudioEnergy: Q = new Q {
    val name = "mm_audio_energy"
    def run(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir, fanned = true)
        .where(col("doc_id") % 3 === 1 && length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), col("text"),
          length(col("text")).cast("long").as("n"))
        .withColumn("frame_idx",
          explode(expr("sequence(0L, (n - 1) div 160)")))
        .where(col("frame_idx") * 160 < col("n"))
        .withColumn("ft", expr("substring(text, CAST(frame_idx * 160 AS INT) + 1, 400)"))
        .select(col("media_id"), col("frame_idx"),
          length(col("ft")).cast("long").as("n_samples"),
          expr("aggregate(transform(sequence(1, length(ft)), i -> CAST(ascii(substring(ft, CAST(i AS INT), 1)) AS BIGINT)), 0L, (s, x) -> s + x * x)").as("energy"))
        // persisted before the global sort: the range sampler otherwise
        // re-runs the frame explode + energy fold a second time
        // (OPTIMIZATION_r18)
        .persist()
        .orderBy("media_id", "frame_idx")
    val oracle = Some(
      """WITH a AS (
        |  SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 1 AND strlen(text) > 0),
        |f AS (
        |  SELECT media_id, text, n, unnest(range(0, (n - 1) // 160 + 1)) AS frame_idx
        |  FROM a),
        |ft AS (
        |  SELECT media_id, frame_idx,
        |    substr(text, CAST(frame_idx * 160 + 1 AS INT), 400) AS ft
        |  FROM f WHERE frame_idx * 160 < n)
        |SELECT media_id, frame_idx,
        |  CAST(strlen(ft) AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(1, strlen(ft) + 1),
        |    i -> CAST(ascii(substr(ft, CAST(i AS INT), 1)) AS BIGINT)
        |         * CAST(ascii(substr(ft, CAST(i AS INT), 1)) AS BIGINT))) AS BIGINT)
        |    AS energy
        |FROM ft ORDER BY media_id, frame_idx""".stripMargin)
  }

  val all: Seq[Q] = Seq(mmMeta, mmFeatures, mmFrames, mmPhashDedup,
    mmResizeNn, mmAudioEnergy)
}
