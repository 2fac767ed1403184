package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.multimodal.Multimodal

/** Multimodal-column operators over the synthetic media table (see
  * [[graft.multimodal.Multimodal.syntheticMedia]] — payloads derived
  * deterministically from the `documents` fixture, so the metadata-side
  * queries are oracle-checkable in DuckDB with the same derivation). */
object MultimodalQ {
  type Q = (SparkSession, String) => DataFrame

  private def media(s: SparkSession, dir: String) =
    Multimodal.syntheticMedia(s, Tables.load(s, dir, "documents"))

  /** DuckDB twin of syntheticMedia's metadata derivation (`text` carried
    * through because the payload is its UTF-8 bytes — q62 re-derives the
    * md5-based features from it). */
  private val mediaSql =
    """m AS (SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(doc_id % 640 + 16 AS INT) AS width,
         CAST(doc_id % 480 + 16 AS INT) AS height,
         CAST(doc_id % 25 + 1 AS INT) AS n_frames,
         text
       FROM documents)"""

  val catalog: Seq[(String, Q, Option[String])] = Seq(

    // ---- metadata-only stats: must not touch the payload column
    // (Parquet/column pruning keeps media payload pages unread)
    ("q60_media_stats",
      (s: SparkSession, dir: String) =>
        Multimodal.mediaStats(media(s, dir).toDF())
          .select(col("kind"), col("n"),
            round(col("avg_w"), 4).as("avg_w"), round(col("avg_h"), 4).as("avg_h"),
            col("total_frames")),
      Some(s"""WITH $mediaSql
        SELECT kind, COUNT(*) AS n,
          ROUND(AVG(width), 4) AS avg_w, ROUND(AVG(height), 4) AS avg_h,
          CAST(SUM(n_frames) AS BIGINT) AS total_frames
        FROM m GROUP BY kind ORDER BY kind""")),

    // ---- resize: metadata math (codegen'd); payload re-encode is the stub
    ("q61_media_resize",
      (s: SparkSession, dir: String) =>
        Multimodal.resizeMeta(media(s, dir).toDF(), maxSide = 256)
          .select(col("media_id"), col("kind"),
            col("meta.width").as("width"), col("meta.height").as("height"),
            col("new_width"), col("new_height"))
          .orderBy(col("media_id")),
      Some(s"""WITH $mediaSql
        SELECT media_id, kind, width, height,
          CAST(CEIL(width * LEAST(1.0, 256 / GREATEST(width, height))) AS INT) AS new_width,
          CAST(CEIL(height * LEAST(1.0, 256 / GREATEST(width, height))) AS INT) AS new_height
        FROM m ORDER BY media_id""")),

    // ---- batch-shaped feature extraction (mapPartitions decode). The
    // stub features are md5-derived on the 1/4096 grid (exact floats, see
    // Multimodal.decodeToFeature), so the oracle re-derives them from
    // md5(text) — payload IS the UTF-8 text — with no rounding at all:
    // both engines produce bit-identical doubles. The batch contract is
    // covered by MultimodalSpec; values are hash-gated here.
    ("q62_media_features",
      (s: SparkSession, dir: String) => {
        val f = Multimodal.extractFeatures(s, media(s, dir))
        f.select(col("media_id"), col("kind"),
            element_at(col("feature"), 1).cast("double").as("f0"),
            element_at(col("feature"), 2).cast("double").as("f1"))
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $mediaSql,
        h AS (SELECT media_id, kind,
                ('0x' || substr(md5(text), 1, 8))::BIGINT AS h FROM m)
        SELECT media_id, kind,
          CAST((h * 1) % 4096 AS DOUBLE) / 4096 AS f0,
          CAST((h * 2 + 2654435761) % 4096 AS DOUBLE) / 4096 AS f1
        FROM h ORDER BY media_id""")),

    // ---- REAL audio codec round-trip through the gate (the audio twin of
    // q64): the fixture holds a deterministic 16-bit mono PCM WAV per
    // document (JDK javax.sound.sampled, encoded ONCE at fixture
    // materialization — encode is ingest, the r8/q64 discipline),
    // audioStats DECODES it back, and the oracle predicts sample rate /
    // frame count / duration purely from the generation formula — a broken
    // decode path fails the hash gate. duration_ms = frames·1000/rate is a
    // single IEEE double division in both engines, so it needs no rounding.
    ("q65_audio_roundtrip",
      (s: SparkSession, dir: String) => {
        val media = graft.multimodal.MediaFixtures.audioWav(s, dir)
        Multimodal.audioStats(s, media)
          .toDF()
          .select(col("media_id"), col("sample_rate"), col("channels"),
            col("frames"), col("duration_ms"), col("decoded"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
        CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        1 AS channels,
        CAST(doc_id % 400 + 50 AS BIGINT) AS frames,
        CAST((doc_id % 400 + 50) * 1000 AS DOUBLE)
          / (8000 + (doc_id % 4) * 4000) AS duration_ms,
        true AS decoded
        FROM documents ORDER BY media_id""")),

    // ---- SAMPLE-level audio feature extraction through the real decode
    // path (q65 stops at the header; this reads the PCM): per-clip energy
    // (exact Σ s² in int64), peak |amplitude|, and zero-crossing count —
    // the features an audio curation pipeline gates on (silence /
    // clipping / activity) before paying for a model pass. The fixture's
    // samples are a deterministic integer formula, so the oracle
    // re-derives every feature in SQL from the generation rule while the
    // Spark side must DECODE the WAV container to get them — a broken
    // sample path (endianness, offset, truncation) fails the hash gate
    // on all three counters. All-integer features: no cross-engine
    // float hazard. Scale: one O(frames) fold per payload, map-side,
    // batch-bounded; output is 5 ints per clip.
    ("q132_audio_features",
      (s: SparkSession, dir: String) => {
        val media = graft.multimodal.MediaFixtures.audioWav(s, dir)
        Multimodal.audioFeatures(s, media)
          .toDF()
          .select(col("media_id"), col("frames"), col("sum_sq"), col("peak"),
            col("zero_cross"), col("decoded"))
          .orderBy(col("media_id"))
      },
      Some("""WITH f AS (SELECT doc_id AS media_id,
            CAST(doc_id % 400 + 50 AS BIGINT) AS n FROM documents),
        sm AS (SELECT media_id, n, CAST(u.i AS BIGINT) AS i,
            (media_id * 31 + CAST(u.i AS BIGINT) * 17) % 65536 - 32768 AS s
          FROM f, UNNEST(range(n)) AS u(i)),
        lg AS (SELECT *, lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev FROM sm)
        SELECT media_id, MIN(n) AS frames, CAST(SUM(s * s) AS BIGINT) AS sum_sq,
          CAST(MAX(abs(s)) AS BIGINT) AS peak,
          CAST(SUM(CASE WHEN prev IS NOT NULL AND ((s >= 0) <> (prev >= 0))
            THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
          true AS decoded
        FROM lg GROUP BY media_id ORDER BY media_id""")),

    // ---- REAL codec round-trip through the gate: the fixture holds a
    // deterministic PNG per document (JDK-ImageIO-encoded ONCE at fixture
    // materialization — generation is ingest, not the operator; VERDICT r8
    // #1), imageStats DECODES it back, and the oracle predicts the decoded
    // dimensions/channels purely from the metadata formula — if the real
    // decode path broke, the gate would catch it. (mean_luma is validated
    // in MultimodalSpec instead: its repeated-addition accumulation is a
    // rounding-tie hazard across engines.)
    ("q64_image_roundtrip",
      (s: SparkSession, dir: String) => {
        val media = graft.multimodal.MediaFixtures.imagePng(s, dir)
        Multimodal.imageStats(s, media)
          .toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("channels"), col("decoded"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
        CAST(doc_id % 64 + 8 AS INT) AS width,
        CAST(doc_id % 48 + 8 AS INT) AS height,
        3 AS channels, true AS decoded
        FROM documents ORDER BY media_id""")),

    // ---- MULTIMODAL DEDUP: perceptual-hash (aHash) image near-dup, the
    // image twin of q34's simhash text pairs — the dedup modality a 100 TB
    // multimodal corpus needs (re-encoded/resized copies of the same image
    // hash to nearby aHashes; exact byte-dedup misses them). The REAL path
    // runs end-to-end on executors: DECODE the fixture's 8×8 grayscale PNG
    // per doc (encoded once at fixture materialization — see MediaFixtures,
    // VERDICT r8 #1), box-downsample, mean-threshold to the 64-bit aHash
    // (4×16-bit blocks). Pairing is blocked, never all-pairs: pigeonhole on
    // the 4 blocks (distance ≤ 3 ⇒ one intact block), equi-join per block,
    // verify bit_count on candidates — q34's scale shape exactly. Near-dup
    // pairs are PLANTED (q30/q36 discipline): every doc_id % 37 == 0 has an
    // id-shifted copy with pixel (0,0) nudged +1, so the gate verifies
    // non-empty output. The oracle predicts every pixel from the generation
    // arithmetic (md5-derived gray values, pure integer), so a broken
    // encode, decode, downsample, or threshold fails the hash gate.
    ("q106_image_ahash_dedup",
      (s: SparkSession, dir: String) => {
        val media = graft.multimodal.MediaFixtures.ahashPng(s, dir)
        val ah = Multimodal.imageAHash(s, media).toDF().localCheckpoint()
        // decode failures hash to (0,0,0,0); without this filter they would
        // all pair with each other at distance 0 (and with any zero block)
        // on real data, flooding the near-dup output (ADVICE r6). The
        // synthetic fixture always decodes, so the oracle is unchanged.
        val ahOk = ah.filter(col("decoded"))
        val blocks = ahOk.select(col("media_id"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
          .toDF("media_id", "k", "bv")
        val cand = blocks.as("l").join(blocks.as("r"),
            col("l.k") === col("r.k") && col("l.bv") === col("r.bv") &&
              col("l.media_id") < col("r.media_id"))
          .select(col("l.media_id").as("id_a"), col("r.media_id").as("id_b"))
          .distinct()
        cand
          .join(ah.select(col("media_id").as("id_a"), col("b0").as("a0"),
            col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), Seq("id_a"))
          .join(ah.select(col("media_id").as("id_b"), col("b0").as("c0"),
            col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), Seq("id_b"))
          .withColumn("dist",
            (expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)")).cast("long"))
          .filter(col("dist") <= 3)
          .select(col("id_a"), col("id_b"), col("dist"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH base AS (
          SELECT doc_id AS media_id, doc_id AS src_id, 0 AS perturb FROM documents
          UNION ALL
          SELECT doc_id + 10000000, doc_id, 1 FROM documents WHERE doc_id % 37 = 0),
        hs AS (SELECT media_id, perturb,
            ('0x' || substr(md5('img:' || CAST(src_id AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM base),
        px AS (SELECT media_id, x, y,
            ((((h >> CAST(8 * ((x + y) % 4) AS INT)) + 13 * x + 31 * y) % 256
              + CASE WHEN perturb = 1 AND x = 0 AND y = 0 THEN 1 ELSE 0 END) % 256) AS g
          FROM hs, range(8) tx(x), range(8) ty(y)),
        sums AS (SELECT media_id, SUM(g) AS sg FROM px GROUP BY media_id),
        bits AS (SELECT p.media_id, (y * 8 + x) AS pos,
            CASE WHEN g > sg // 64 THEN 1 ELSE 0 END AS bit
          FROM px p JOIN sums s ON s.media_id = p.media_id),
        blk AS (SELECT media_id, CAST(pos // 16 AS INT) AS k,
            CAST(SUM(bit * (1 << CAST(pos % 16 AS INT))) AS INT) AS bv
          FROM bits GROUP BY media_id, pos // 16),
        bh AS (SELECT media_id,
            SUM(CASE WHEN k = 0 THEN bv ELSE 0 END) AS b0,
            SUM(CASE WHEN k = 1 THEN bv ELSE 0 END) AS b1,
            SUM(CASE WHEN k = 2 THEN bv ELSE 0 END) AS b2,
            SUM(CASE WHEN k = 3 THEN bv ELSE 0 END) AS b3
          FROM blk GROUP BY media_id),
        cand AS (SELECT DISTINCT l.media_id AS id_a, r.media_id AS id_b
          FROM blk l JOIN blk r ON l.k = r.k AND l.bv = r.bv
            AND l.media_id < r.media_id)
        SELECT id_a, id_b,
          CAST(bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1))
             + bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) AS BIGINT) AS dist
        FROM cand
        JOIN bh a ON a.media_id = id_a
        JOIN bh c ON c.media_id = id_b
        WHERE bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1))
            + bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- frame sampling: every 5th frame of each video → one row/frame
    ("q63_frame_sample",
      (s: SparkSession, dir: String) => {
        val fs = Multimodal.sampleFrames(s, media(s, dir), stride = 5)
        fs.groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $mediaSql
        SELECT media_id, CAST(CEIL(CAST(n_frames AS DOUBLE) / 5) AS BIGINT) AS n_sampled
        FROM m WHERE kind = 'video' ORDER BY media_id""")),

    // ---- REAL video CONTAINER round-trip: executors write a well-formed
    // RIFF/AVI per document (Multimodal.synthAvi — header fields, frame
    // chunks, even-byte padding), the chunk-walking parser reads it back,
    // and the oracle predicts every container field from the generation
    // arithmetic. Pixel decode stays stubbed (no JDK video codec), but
    // the container level — what a 100 TB media-ingest pipeline needs for
    // routing, sampling, and cost estimation — is now real and gated,
    // exactly like WAV (the other RIFF format) in q65.
    ("q102_video_container",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val media = Tables.load(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val frames = (id % 7 + 2).toInt
            val w = (16 * (id % 4 + 1)).toInt
            val h = (16 * (id % 3 + 1)).toInt
            val us = if (id % 2 == 0) 33333 else 40000
            Multimodal.Media(id, "video",
              Multimodal.MediaMeta(w, h, 0, 0, frames),
              Multimodal.synthAvi(frames, w, h, us, id))
          }
        Multimodal.videoContainerStats(s, media).toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("total_frames"), col("movi_frames"), col("duration_ms"),
            col("parsed"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
        CAST(16 * (doc_id % 4 + 1) AS INT) AS width,
        CAST(16 * (doc_id % 3 + 1) AS INT) AS height,
        CAST(doc_id % 7 + 2 AS BIGINT) AS total_frames,
        CAST(doc_id % 7 + 2 AS BIGINT) AS movi_frames,
        CAST((doc_id % 7 + 2) *
          (CASE WHEN doc_id % 2 = 0 THEN 33333 ELSE 40000 END) AS DOUBLE)
          / 1000.0 AS duration_ms,
        true AS parsed
        FROM documents ORDER BY media_id""")),

    // ---- REAL video PIXEL decode (MJPEG): the fixture holds one MJPEG
    // AVI per document (real JPEG per frame, ImageIO-encoded ONCE at
    // fixture materialization — encode is ingest, q64's discipline), the
    // operator walks the container and ImageIO-DECODES every frame chunk
    // back to pixels, and the oracle predicts the per-frame row set —
    // frame count, exact JPEG dimensions, decode success — from the
    // generation formula. Closing the last stub for the codec class the
    // JDK can actually decode; mean_luma stays out of the oracle (JPEG is
    // lossy; quantization error is engine-version-dependent) and is pinned
    // in MultimodalSpec against the planted solid color instead, exactly
    // like q64's luma.
    ("q125_video_frame_decode",
      (s: SparkSession, dir: String) => {
        val media = graft.multimodal.MediaFixtures.mjpegAvi(s, dir)
        Multimodal.videoFrameStats(s, media).toDF()
          .select(col("media_id"), col("frame_idx"), col("width"),
            col("height"), col("decoded"))
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""SELECT media_id, CAST(f AS INT) AS frame_idx,
        CAST(16 * (media_id % 3 + 1) AS INT) AS width,
        CAST(16 * (media_id % 2 + 1) AS INT) AS height,
        true AS decoded
        FROM (SELECT doc_id AS media_id,
                unnest(range(doc_id % 5 + 2)) AS f
              FROM documents)
        ORDER BY media_id, frame_idx"""))
  )
}
