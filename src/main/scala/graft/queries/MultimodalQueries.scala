package graft.queries

import graft.{Lineage, QueryDef, Tables}
import graft.operators.MultimodalPipeline
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multimodal-column queries: binary payload + batched per-partition
  * feature extraction (see [[graft.operators.MultimodalPipeline]]). The
  * oracle recomputes the stubbed features arithmetically in DuckDB
  * (octet_length / sha256 over the same UTF-8 bytes), proving the Spark
  * plumbing — encode → Dataset[MediaBlob] → mapPartitions decode →
  * typed feature rows — is lossless.
  */
object MultimodalQueries {

  /** Spark's builtin bit_count (SQL-only; no Scala functions entry). */
  private def bitCount(c: Column): Column = call_function("bit_count", c)

  val defs: Map[String, QueryDef] = Map(

    "td_multimodal_meta" -> QueryDef.sql(
      "binary payload → batched mapPartitions decode-stub features")(
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha_hex,
        |  CAST(64 + octet_length(encode(text)) % 192 AS INTEGER) AS fake_width,
        |  CAST(64 + octet_length(encode(text)) % 128 AS INTEGER) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs = MultimodalPipeline.toBlobs(Tables.load(s, dir, "documents"))
      MultimodalPipeline.extractFeatures(blobs)
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("sha_hex"),
          col("fake_width"), col("fake_height"))
        .orderBy("doc_id")
    },

    // Real codec exercise: deterministic solid-gray PNGs (dims and gray
    // level are functions of doc_id) are encoded then decoded through the
    // JDK's ImageIO, so the oracle recomputes the decoded width/height/
    // mean-luminance arithmetically — a wrong or skipped decode cannot
    // hash-match.
    "td_multimodal_decode" -> QueryDef.sql(
      "real ImageIO decode of deterministic PNG payloads")(
      """SELECT doc_id,
        |  CAST(1 + doc_id % 31 AS INTEGER) AS width,
        |  CAST(1 + doc_id % 17 AS INTEGER) AS height,
        |  CAST(doc_id % 256 AS INTEGER) AS mean_gray,
        |  true AS real_decode
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs = MultimodalPipeline.toPngBlobs(Tables.load(s, dir, "documents"))
      MultimodalPipeline.decodeImages(blobs)
        .toDF()
        .orderBy("doc_id")
    },

    // Resize: gradient PNGs (pixel gray = (id+x+y) % 256) decoded and
    // nearest-neighbor-resized to 8×8; the oracle recomputes the exact
    // sampled-gray sum from the NN index mapping, so skipping either the
    // decode or the per-pixel sampling cannot hash-match.
    "td_multimodal_resize" -> QueryDef.sql(
      "real decode + deterministic nearest-neighbor resize to 8x8")(
      """SELECT doc_id,
        |  CAST(8 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
        |  CAST(list_sum(list_transform(range(64), k ->
        |    (doc_id + ((k % 8) * (1 + doc_id % 31)) // 8
        |            + ((k // 8) * (1 + doc_id % 17)) // 8) % 256))
        |    AS BIGINT) AS gray_sum
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs =
        MultimodalPipeline.toGradientPngBlobs(Tables.load(s, dir, "documents"))
      MultimodalPipeline.resizeImages(blobs, 8, 8)
        .toDF()
        .orderBy("doc_id")
    },

    // Real audio codec exercise (the audio sibling of td_multimodal_decode):
    // deterministic mono PCM16 WAVs — sample count/rate/values are integer
    // functions of doc_id — are written as real RIFF containers and parsed
    // back by the chunk-walking parser in MultimodalPipeline; the oracle
    // recomputes the decoded format fields and exact floor-div duration
    // arithmetically, so a skipped or wrong byte-level parse cannot match.
    "td_audio_meta" -> QueryDef.sql(
      "real RIFF/WAV parse of deterministic PCM16 payloads → format metadata")(
      """SELECT doc_id,
        |  CAST(8000 + 1000 * (doc_id % 3) AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(800 + doc_id % 800 AS BIGINT) AS n_samples,
        |  CAST((800 + doc_id % 800) * 1000000
        |    // (8000 + 1000 * (doc_id % 3)) AS BIGINT) AS duration_us,
        |  true AS real_decode
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs =
        MultimodalPipeline.toWavBlobs(Tables.load(s, dir, "documents"))
      MultimodalPipeline.decodeAudio(blobs)
        .toDF()
        .orderBy("doc_id")
    },

    // Windowed audio energy: the decoded PCM stream cut into 256-sample
    // windows, per-window Σ s² in exact Long arithmetic (|s| < 2^15, so a
    // window sums to < 2^38), reported per doc as total energy + argmax
    // window (ties to the earliest). The oracle regenerates the identical
    // pseudo-noise samples from the doc_id formula and replays the same
    // integer reduction — feature extraction, not just container fields,
    // is what's hash-pinned here.
    "td_audio_energy" -> QueryDef.sql(
      "256-sample-window PCM energy features in exact integer math")(
      """WITH p AS (SELECT doc_id, 800 + doc_id % 800 AS n FROM documents),
        |s AS (SELECT doc_id, t.i AS i,
        |        ((doc_id*2654435761 + t.i*40503) % 65536) - 32768 AS v
        |      FROM p, unnest(range(n)) AS t(i)),
        |w AS (SELECT doc_id, i // 256 AS win, sum(v*v) AS sq
        |      FROM s GROUP BY 1, 2),
        |a AS (SELECT doc_id, count(*) AS n_windows,
        |        CAST(sum(sq) AS BIGINT) AS total_sq FROM w GROUP BY 1),
        |pk AS (SELECT doc_id, win AS peak_win, CAST(sq AS BIGINT) AS peak_sq
        |       FROM (SELECT doc_id, win, sq, row_number() OVER (
        |           PARTITION BY doc_id ORDER BY sq DESC, win) AS rn
        |         FROM w) WHERE rn = 1)
        |SELECT a.doc_id, a.n_windows, a.total_sq, pk.peak_win, pk.peak_sq
        |FROM a JOIN pk ON a.doc_id = pk.doc_id ORDER BY a.doc_id""".stripMargin) {
      (s, dir) =>
      val blobs =
        MultimodalPipeline.toWavBlobs(Tables.load(s, dir, "documents"))
      MultimodalPipeline.audioEnergy(blobs)
        .toDF()
        .orderBy("doc_id")
    },

    // Frame sampling: 32-byte frames, every 4th kept, digests of the
    // first and of the sampled concatenation. Payloads are ASCII, so the
    // oracle's char-based substr slicing equals the byte slicing.
    "td_multimodal_frames" -> QueryDef.sql(
      "fixed-size frame split + stride sampling over binary payloads")(
      """WITH f AS (SELECT doc_id, text,
        |             CAST((length(text) + 31) // 32 AS BIGINT) AS n_frames
        |           FROM documents)
        |SELECT doc_id, n_frames,
        |  CAST((n_frames + 3) // 4 AS BIGINT) AS n_sampled,
        |  md5(substr(text, 1, 32)) AS first_frame_md5,
        |  md5(array_to_string(list_transform(
        |    list_filter(range(n_frames), k -> k % 4 = 0),
        |    k -> substr(text, CAST(k*32 + 1 AS INTEGER), 32)), ''))
        |    AS sampled_md5
        |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs = MultimodalPipeline.toBlobs(Tables.load(s, dir, "documents"))
      MultimodalPipeline.sampleFrames(blobs)
        .toDF()
        .orderBy("doc_id")
    },

    // ---- PERCEPTUAL-HASH IMAGE DEDUP: the multimodal member of the
    // dedup family. Gradient PNGs are REALLY decoded (ImageIO) and
    // dHashed (9×8 NN downsample → 64 horizontal-gradient bits as four
    // 16-bit bands); identical hashes contract to a min-id
    // representative (the simhash discipline — hamming depends only on
    // the fingerprint, so duplicate groups never enter the pair join);
    // rep-level candidates come from a 4-band bucket equi-join, which
    // by pigeonhole is EXACT for hamming ≤ 3 (4 bands, ≤3 differing
    // bits → ≥1 band identical) — blocking loses nothing, and the
    // oracle proves it by recomputing pairs with the independent naive
    // quadratic rep join. Keep rule: a doc survives iff it is its hash
    // group's min id and no hamming≤3 neighbor rep has a smaller id
    // (the SemDeDup keep-lowest-id prune). At scale every stage is an
    // equi-join or contraction; the pair set is rep-level and
    // band-blocked, never doc-quadratic.
    "td_image_dhash_dedup" -> QueryDef.sql(
      "dHash image dedup: real decode, band-blocked hamming<=3 prune")(
      s"""WITH d AS (SELECT doc_id, 1 + doc_id % 31 AS w,
        |             1 + doc_id % 17 AS h FROM documents),
        |hb AS (SELECT doc_id, ${(0 to 3).map(dhashBandSql).mkString(", ")}
        |       FROM d),
        |reps AS (SELECT h0, h1, h2, h3, min(doc_id) AS rep FROM hb
        |         GROUP BY h0, h1, h2, h3),
        |p AS (SELECT a.rep AS ra, b.rep AS rb FROM reps a JOIN reps b
        |      ON a.rep < b.rep
        |      WHERE bit_count(CAST(xor(a.h0, b.h0) AS BIGINT))
        |          + bit_count(CAST(xor(a.h1, b.h1) AS BIGINT))
        |          + bit_count(CAST(xor(a.h2, b.h2) AS BIGINT))
        |          + bit_count(CAST(xor(a.h3, b.h3) AS BIGINT)) <= 3),
        |dup AS (SELECT DISTINCT rb AS rep FROM p)
        |SELECT hb.doc_id, hb.h0, hb.h1, hb.h2, hb.h3,
        |  (hb.doc_id = r.rep AND dup.rep IS NULL) AS kept
        |FROM hb JOIN reps r USING (h0, h1, h2, h3)
        |LEFT JOIN dup ON r.rep = dup.rep
        |ORDER BY hb.doc_id""".stripMargin) { (s, dir) =>
      // consumed by the rep contraction AND the final expand join;
      // materialize so the codec pass decodes each image exactly once
      val hb = Lineage.truncate(MultimodalPipeline.dhashImages(
        MultimodalPipeline.toGradientPngBlobs(
          Tables.load(s, dir, "documents"))).toDF())
      val hashCols = Seq("h0", "h1", "h2", "h3")
      val reps = hb.groupBy(hashCols.map(col): _*)
        .agg(min(col("doc_id")).as("rep"))
      // one row per (band index, band value) per rep: the bucket key
      val bands = reps.select(col("rep") +: hashCols.map(col) :+
        explode(array(hashCols.zipWithIndex.map { case (c, b) =>
          struct(lit(b).as("b"), col(c).as("v")) }: _*)).as("bv"): _*)
        .select(col("rep"), col("h0"), col("h1"), col("h2"), col("h3"),
          col("bv.b").as("b"), col("bv.v").as("v"))
      val lhs = bands.select(col("b"), col("v"), col("rep").as("ra"),
        col("h0").as("a0"), col("h1").as("a1"), col("h2").as("a2"),
        col("h3").as("a3"))
      val rhs = bands.select(col("b").as("b_y"), col("v").as("v_y"),
        col("rep").as("rb"), col("h0").as("b0"), col("h1").as("b1"),
        col("h2").as("b2"), col("h3").as("b3"))
      val ham =
        bitCount(col("a0").bitwiseXOR(col("b0"))) +
        bitCount(col("a1").bitwiseXOR(col("b1"))) +
        bitCount(col("a2").bitwiseXOR(col("b2"))) +
        bitCount(col("a3").bitwiseXOR(col("b3")))
      val dupReps = lhs
        .join(rhs, col("b") === col("b_y") && col("v") === col("v_y") &&
          col("ra") < col("rb"))
        .select(col("ra"), col("rb"), ham.as("ham")).distinct()
        .filter(col("ham") <= 3)
        .select(col("rb").as("rep")).distinct()
        .withColumn("pruned", lit(true))
      hb.join(reps, hashCols)
        .join(dupReps, Seq("rep"), "left")
        .select(col("doc_id"), col("h0"), col("h1"), col("h2"), col("h3"),
          (col("doc_id") === col("rep") && col("pruned").isNull).as("kept"))
        .orderBy("doc_id")
    }
  )

  /** DuckDB expression for dHash band `b` of the gradient fixture:
    * bit j compares NN-sampled grays at resized columns x+1 vs x, where
    * k = 16·b + j, x = k % 8, y = k ⌊/⌋ 8 — the exact arithmetic
    * [[graft.operators.MultimodalPipeline.dhashImages]] computes from
    * the DECODED pixels, so a wrong or skipped decode cannot match. */
  private[queries] def dhashBandSql(b: Int): String =
    s"""CAST(list_sum(list_transform(range(16), j ->
       |  CASE WHEN (doc_id + ((($b*16+j) % 8 + 1) * w) // 9
       |             + ((($b*16+j) // 8) * h) // 8) % 256
       |          > (doc_id + ((($b*16+j) % 8) * w) // 9
       |             + ((($b*16+j) // 8) * h) // 8) % 256
       |       THEN (1 << j) ELSE 0 END)) AS INTEGER) AS h$b""".stripMargin
}
