package graft
package queries

import org.apache.spark.sql.functions._
import graft.multimodal.Binary
import QuerySpec._

/** Binary payloads: metadata, resize, frames, features. */
object MultimodalQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_mm_meta", (s, dir) =>
      Binary.withMeta(T(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_bytes", "sha256", "mime")
        .orderBy("doc_id"),
      Sql("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256, 'text/plain' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // Image-header metadata over the (textual) payloads: REAL PNG/GIF/
    // JPEG header parsing; on this corpus every payload is text, so the
    // oracle pins that the parser never false-positives on arbitrary
    // bytes (format null, dims -1). BinarySpec covers the positive
    // cases with crafted headers.
    QuerySpec("q_mm_imagemeta", (s, dir) =>
      Binary.withImageMeta(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .orderBy("id"),
      Sql("""SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS format,
        |  CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height
        |FROM documents ORDER BY id""".stripMargin)),
    // Pins the resize mapPartitions KERNEL against SQL: the oracle
    // re-derives the strided thumb from chars (ASCII corpus) and the
    // md5s must agree byte-for-byte.
    QuerySpec("q_mm_resize", (s, dir) =>
      Binary.resizeStub(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload", targetW = 8, targetH = 8)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          octet_length(col("thumb")).cast("long").as("n_thumb"),
          md5(col("thumb")).as("thumb_md5"))
        .orderBy("id"),
      Sql("""WITH p AS (SELECT doc_id AS id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents),
        |s AS (SELECT id, n, greatest(n // 64, 1) AS stride, text FROM p),
        |t AS (SELECT id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |        CASE WHEN n = 0 THEN '' ELSE
        |          list_aggregate(list_transform(range(0, (n - 1) // stride + 1),
        |            k -> substr(text, CAST(k * stride + 1 AS INT), 1)), 'string_agg', '')
        |        END AS thumb
        |      FROM s)
        |SELECT id, width, height, CAST(length(thumb) AS BIGINT) AS n_thumb,
        |  md5(thumb) AS thumb_md5
        |FROM t ORDER BY id""".stripMargin)),
    // Frame sampling with integer-exact byte-window placement. The
    // oracle mirrors byte windows with CHAR windows — equivalent here
    // because the corpus is pure ASCII (octet_length ≡ length,
    // verified), and md5 hashes the same UTF-8 bytes on both engines.
    QuerySpec("q_mm_frames", (s, dir) =>
      Binary.sampleFrames(
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .orderBy("doc_id", "frame_idx"),
      Sql("""WITH p AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        |           FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, text, n, unnest(range(0, 4)) AS fi FROM p),
        |g AS (SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |        CAST(CASE WHEN n <= 64 THEN 0 ELSE (fi * (n - 64)) // 3 END AS BIGINT) AS off,
        |        text
        |      FROM f WHERE n > 64 OR fi = 0)
        |SELECT doc_id, frame_idx, off,
        |  md5(substring(text, CAST(off + 1 AS BIGINT), 64)) AS frame_md5
        |FROM g ORDER BY doc_id, frame_idx""".stripMargin)),
    // Same negative pinning for the WAV parser (EngineSpec covers the
    // positive cases with crafted RIFF headers).
    QuerySpec("q_mm_audiometa", (s, dir) =>
      Binary.withAudioMeta(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .orderBy("id"),
      Sql("""SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(NULL AS VARCHAR) AS format, CAST(-1 AS INTEGER) AS channels,
        |  CAST(-1 AS INTEGER) AS sample_rate, CAST(-1 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY id""".stripMargin)),
    // Rows-only query, but the output must still be SORTABLE by the
    // driver's pandas canonicalizer — a raw array<float> column crashes
    // its factorize step, so the feature vector is projected to a
    // deterministic CSV string (4-decimal fixed point per bin).
    QuerySpec("q_mm_features", (s, dir) =>
      Binary.extractFeatures(s,
          Binary.withMeta(T(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "payload")
        .toDF()
        .select(col("id"), col("n_bytes"),
          array_join(transform(col("features"),
            f => format_number(f.cast("double"), 4)), ",").as("features_csv"))
        .orderBy("id"),
      RowsOnly("q_mm_features_verify",
        "float32 bins; the twin projects them back to exact integer counts")),
    // SQL-verified companion for q_mm_features: the float histogram is
    // projected back to EXACT integer bin counts — round(f * n_bytes)
    // inverts the float32 division exactly while any single bin holds
    // < ~8e6 bytes (abs error grows as count * 6e-8), far above this
    // corpus's payloads. The oracle recomputes per CODEPOINT, which
    // equals the kernel's per-BYTE histogram only on an ASCII corpus —
    // a documented property of this verification fixture (BinarySpec
    // covers arbitrary binary payloads); null text coalesces to empty
    // on both sides.
    QuerySpec("q_mm_features_verify", (s, dir) =>
      Binary.extractFeatures(s,
          Binary.withMeta(T(s, dir, "documents")
            .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")),
            "doc_id", "text"),
          "doc_id", "payload")
        .toDF()
        .select(col("id"), col("n_bytes"),
          concat_ws(",", transform(col("features"),
            f => round(f.cast("double") * col("n_bytes")).cast("long").cast("string")))
            .as("hist_csv"))
        .orderBy("id"),
      Sql("""WITH d AS (SELECT doc_id AS id, coalesce(text, '') AS t,
        |    CAST(length(coalesce(text, '')) AS BIGINT) AS n_bytes FROM documents)
        |SELECT id, n_bytes,
        |  array_to_string(list_transform(range(0, 16), b ->
        |    CAST(len(list_filter(range(1, CAST(n_bytes AS INT) + 1),
        |      i -> ord(substr(t, CAST(i AS INT), 1)) // 16 = b)) AS VARCHAR)), ',') AS hist_csv
        |FROM d ORDER BY id""".stripMargin))
  )
}
