"""Multimodal-column query specs: binary payload + mapInPandas decode.

Real-codec queries (`multimodal_decode_bmp`/`_png`/`_jpeg`/`_wav`)
render each document into an actual image/audio payload via the
from-scratch public-spec codecs in functions/imagecodec.py, decode it
back, and oracle the features from first principles on the text bytes.
The remaining `stub`-tagged queries exercise the distributed plumbing
with a deterministic content-derived fake decode. Either way the whole
pipeline (binary cast -> Arrow batches -> pandas decode -> result
schema) is oracled in plain SQL. The fixture `documents.text` stands in
for media bytes (ASCII, so byte offsets == char offsets in the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bdt_spark.functions.multimodal import (
    decode_features,
    sample_frames,
    with_binary_payload,
)
from bdt_spark.plans.registry import query
from bdt_spark.sources.io import load_fixture_tables

FRAME_BYTES = 100


@query(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(substr(text, 1, 16)) AS head_md5,
           CAST(length(text) % 64 + 1 AS INT) AS fake_width,
           CAST(length(text) % 48 + 1 AS INT) AS fake_height
    FROM documents
    ORDER BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "stub"),
    doc="Opaque-binary decode via Arrow-batched mapInPandas (stubbed codec, "
    "deterministic fake features). Executor-side only; no driver collect.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    binary = with_binary_payload(t["documents"])
    return decode_features(binary).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id,
             CAST(unnest(range(0, greatest(length(text) // {FRAME_BYTES}, 1)))
                  AS INT) AS frame_idx,
             text
      FROM documents
    )
    SELECT doc_id, frame_idx,
           md5(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
             AS frame_md5
    FROM frames
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "mapInPandas", "frames"),
    doc="Video-frame-sampling shape: 1->N mapInPandas emitting one row per "
    f"{FRAME_BYTES}-byte chunk with a per-frame content hash.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    binary = with_binary_payload(t["documents"])
    return sample_frames(binary, every_bytes=FRAME_BYTES).orderBy(
        "doc_id", "frame_idx"
    )


@query(
    "grouped_map_zscore",
    oracle="""
    WITH stats AS (
      SELECT c_mktsegment,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
               / COUNT(*) AS mu,
             SQRT((CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,8)))
                        AS DOUBLE)
                   - CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
                     * CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
                     / COUNT(*)) / (COUNT(*) - 1)) AS sd
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_custkey, c.c_mktsegment,
           ROUND((c_acctbal - mu) / sd, 6) AS zscore
    FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
    WHERE c_custkey <= 300
    ORDER BY c_custkey
    """,
    tags=("grouped-map", "applyInPandas"),
    doc="Grouped-map Pandas surface (B11): per-segment z-score via "
    "applyInPandas — each group arrives as one pandas DataFrame on an "
    "executor. Stats computed with numpy in exact float64 matching the "
    "oracle's decimal-sum formulas. Note: group-at-a-time requires the "
    "whole group in memory — fine for per-key features, not for whole-"
    "table groups.",
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd

    t = load_fixture_tables(spark, sf_dir)

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        bal = pdf["c_acctbal"].to_numpy(dtype="float64")
        n = len(bal)
        # Mirror the oracle's DECIMAL(30,8)-exact sums with arbitrary-
        # precision Python ints (float64 sums of the squared terms would
        # lose low bits past 2^53), then one exact->double cast like the
        # engines' CAST(DECIMAL AS DOUBLE).
        s1 = sum(int(round(v * 1e8)) for v in bal) / 1e8
        s2 = sum(int(round(v * v * 1e8)) for v in bal) / 1e8
        mu = s1 / n
        # math.sqrt, NOT ** 0.5: libm pow(x, 0.5) can be 1 ulp off the
        # correctly-rounded sqrt the SQL engines use (the round(6) below
        # absorbs it here, but sqrt costs nothing and removes the hazard)
        sd = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
        out = pdf[["c_custkey", "c_mktsegment"]].copy()
        out["zscore"] = ((bal - mu) / sd).round(6)
        return out

    return (
        t["customer"]
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(zscore, "c_custkey long, c_mktsegment string, zscore double")
        .filter(F.col("c_custkey") <= 300)
        .orderBy("c_custkey")
    )


@query(
    "multimodal_decode_bmp",
    oracle="""
    WITH dims AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 7 + 3 AS INT) AS height,
             CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt
      FROM documents
      WHERE length(text) >= 1 AND length(text) = strlen(text)
    ),
    px AS (
      SELECT doc_id, fmt, width, height, n, text,
             CAST(unnest(range(0, width * height)) AS BIGINT) AS k
      FROM dims
    ),
    vals AS (
      SELECT doc_id, fmt, width, height, k,
             ascii(substr(text, CAST(k % n AS INT) + 1, 1)) AS v
      FROM px
    )
    SELECT doc_id, fmt, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM((v * 2) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((v + 73) % 256) AS BIGINT) AS sum_b,
           CAST(SUM(v) AS DOUBLE) / (width * height) AS mean_r,
           CAST(SUM((v * 2) % 256) AS DOUBLE) / (width * height) AS mean_g,
           CAST(SUM((v + 73) % 256) AS DOUBLE) / (width * height) AS mean_b,
           CAST(MAX(CASE WHEN k = 0 THEN v END) AS INT) AS tl_r,
           CAST(MAX(CASE WHEN k = 0 THEN (v * 2) % 256 END) AS INT) AS tl_g,
           CAST(MAX(CASE WHEN k = 0 THEN (v + 73) % 256 END) AS INT) AS tl_b
    FROM vals
    GROUP BY doc_id, fmt, width, height
    ORDER BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "codec"),
    doc="REAL image decode, no fake path: each doc is rendered to an actual "
    "24-bit BMP (even ids: bottom-up rows, BGR order, 4-byte stride "
    "padding) or binary PPM P6 (odd ids: top-down, RGB, unpadded) by the "
    "pure-Python codec in functions/imagecodec.py, then parsed back by the "
    "layout-only decoder. The oracle recomputes width/height/channel sums/"
    "means/top-left pixel from first principles on the text bytes, so any "
    "encode- or decode-side layout bug (row flip, BGR/RGB swap, stride) "
    "breaks the hash match. Integer-exact sums; means are the same int/int "
    "IEEE division in both engines. Executor-side mapInPandas throughout.",
)
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import (
        decode_real_features,
        encode_doc_images,
    )

    t = load_fixture_tables(spark, sf_dir)
    # ASCII-only gate, explicit on BOTH sides: the encoder indexes the
    # UTF-8 BYTES of the text while the SQL oracle indexes CHARACTERS
    # via ascii(substr(...)) — the two agree exactly when every char is
    # one byte (char_length == octet_length). Non-ASCII docs are excluded
    # identically rather than silently relied on to not exist.
    docs = t["documents"].filter(
        "length(text) >= 1 AND length(text) = octet_length(text)"
    )
    return decode_real_features(encode_doc_images(docs)).orderBy("doc_id")


@query(
    "multimodal_decode_png",
    oracle="""
    WITH dims AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 7 + 3 AS INT) AS height
      FROM documents
      WHERE length(text) >= 1 AND length(text) = strlen(text)
    ),
    px AS (
      SELECT doc_id, width, height, n, text,
             CAST(unnest(range(0, width * height)) AS BIGINT) AS k
      FROM dims
    ),
    vals AS (
      SELECT doc_id, width, height, k,
             ascii(substr(text, CAST(k % n AS INT) + 1, 1)) AS v
      FROM px
    )
    SELECT doc_id, 'png' AS fmt, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM((v * 2) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((v + 73) % 256) AS BIGINT) AS sum_b,
           CAST(SUM(v) AS DOUBLE) / (width * height) AS mean_r,
           CAST(SUM((v * 2) % 256) AS DOUBLE) / (width * height) AS mean_g,
           CAST(SUM((v + 73) % 256) AS DOUBLE) / (width * height) AS mean_b,
           CAST(MAX(CASE WHEN k = 0 THEN v END) AS INT) AS tl_r,
           CAST(MAX(CASE WHEN k = 0 THEN (v * 2) % 256 END) AS INT) AS tl_g,
           CAST(MAX(CASE WHEN k = 0 THEN (v + 73) % 256 END) AS INT) AS tl_b
    FROM vals
    GROUP BY doc_id, width, height
    ORDER BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "codec", "png"),
    doc="REAL compressed-image decode: each doc is rendered to an actual "
    "8-bit truecolor PNG — IHDR/IDAT/IEND chunks with CRC-32, DEFLATE via "
    "stdlib zlib, per-scanline filters cycling None/Sub/Up/Average/Paeth "
    "so every image taller than 4 rows exercises ALL five filters — by the "
    "pure-Python codec in functions/imagecodec.py, then parsed back by the "
    "chunk/unfilter decoder. The oracle recomputes width/height/channel "
    "sums/means/top-left pixel from first principles on the text bytes, so "
    "any filter, CRC, chunking, or row-order bug breaks the hash match. "
    "Removes the 'compressed formats stubbed' caveat for PNG; JPEG stays "
    "honestly stubbed (no DCT codec libs in the environment). Executor-"
    "side mapInPandas throughout.",
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import (
        decode_real_features,
        encode_doc_pngs,
    )

    t = load_fixture_tables(spark, sf_dir)
    # ASCII-only gate, same rationale as multimodal_decode_bmp
    docs = t["documents"].filter(
        "length(text) >= 1 AND length(text) = octet_length(text)"
    )
    return decode_real_features(encode_doc_pngs(docs)).orderBy("doc_id")


@query(
    "multimodal_decode_jpeg",
    oracle="""
    WITH dims AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(doc_id % 5 + 2 AS INT) AS tw,
             CAST(doc_id % 3 + 2 AS INT) AS th
      FROM documents
      WHERE length(text) >= 1 AND length(text) = strlen(text)
    ),
    tiles AS (
      SELECT doc_id, tw, th, n, text,
             CAST(unnest(range(0, tw * th)) AS BIGINT) AS k
      FROM dims
    ),
    vals AS (
      SELECT doc_id, tw, th, k,
             ascii(substr(text, CAST(k % n AS INT) + 1, 1)) AS v
      FROM tiles
    )
    SELECT doc_id, 'jpeg' AS fmt,
           CAST(tw * 8 AS INT) AS width,
           CAST(th * 8 AS INT) AS height,
           CAST(tw * th * 64 AS BIGINT) AS n_pixels,
           CAST(SUM(v) * 64 AS BIGINT) AS sum_r,
           CAST(SUM(v) * 64 AS BIGINT) AS sum_g,
           CAST(SUM(v) * 64 AS BIGINT) AS sum_b,
           CAST(SUM(v) * 64 AS DOUBLE) / (tw * th * 64) AS mean_r,
           CAST(SUM(v) * 64 AS DOUBLE) / (tw * th * 64) AS mean_g,
           CAST(SUM(v) * 64 AS DOUBLE) / (tw * th * 64) AS mean_b,
           CAST(MAX(CASE WHEN k = 0 THEN v END) AS INT) AS tl_r,
           CAST(MAX(CASE WHEN k = 0 THEN v END) AS INT) AS tl_g,
           CAST(MAX(CASE WHEN k = 0 THEN v END) AS INT) AS tl_b
    FROM vals
    GROUP BY doc_id, tw, th
    ORDER BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "codec", "jpeg"),
    doc="REAL lossy-format decode: each doc is rendered to an actual "
    "baseline-sequential JFIF JPEG (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, "
    "standard Annex-K Huffman tables, restart markers on every third "
    "doc) by the pure-Python codec in functions/imagecodec.py, then "
    "decoded back through the full marker parse, canonical-Huffman "
    "entropy decode, dequant, dezigzag, and IDCT. Exactness on a lossy "
    "format: images are flat 8x8 tiles (zero AC energy) and the DC "
    "quant step is 8, so decode is BIT-EXACT and the oracle recomputes "
    "the same features from first principles on the text bytes — any "
    "Huffman, zigzag, quant, marker, or restart bug breaks the hash "
    "match. Closes the last 'JPEG stubbed' caveat for baseline streams; "
    "progressive JPEG is rejected loudly and stays out of scope. "
    "Executor-side mapInPandas throughout.",
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import (
        decode_real_features,
        encode_doc_jpegs,
    )

    t = load_fixture_tables(spark, sf_dir)
    # ASCII-only gate, same rationale as multimodal_decode_bmp
    docs = t["documents"].filter(
        "length(text) >= 1 AND length(text) = octet_length(text)"
    )
    return decode_real_features(encode_doc_jpegs(docs)).orderBy("doc_id")


@query(
    "multimodal_decode_wav",
    oracle="""
    WITH vals AS (
      SELECT doc_id, length(text) AS n,
             CAST(unnest(range(0, length(text))) AS BIGINT) AS k,
             text
      FROM documents
      WHERE length(text) >= 1 AND length(text) = strlen(text)
    ),
    s AS (
      SELECT doc_id, n, k,
             CAST((ascii(substr(text, CAST(k AS INT) + 1, 1)) - 128) * 256
                  AS BIGINT) AS samp
      FROM vals
    ),
    lagged AS (
      SELECT doc_id, n, samp,
             LAG(samp) OVER (PARTITION BY doc_id ORDER BY k) AS prev
      FROM s
    )
    SELECT doc_id,
           CAST(8000 + (doc_id % 4) * 2000 AS INT) AS sample_rate,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(samp)) AS INT) AS peak,
           CAST(SUM(samp * samp) AS BIGINT) AS sum_sq,
           SQRT(CAST(SUM(samp * samp) AS DOUBLE) / MAX(n)) AS rms,
           CAST(SUM(CASE WHEN samp * prev < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_crossings
    FROM lagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "codec", "audio"),
    doc="REAL audio decode: each doc is rendered to an actual RIFF/WAVE "
    "PCM-16 payload (mono, per-doc sample rate; every fifth doc carries "
    "an extra LIST chunk so the RIFF chunk-skip path runs under the "
    "oracle) by the pure-Python codec in functions/imagecodec.py, then "
    "parsed back through the chunk walk + fmt validation + PCM "
    "extraction, with exact waveform features: peak amplitude, "
    "integer-exact energy, RMS, strict-sign zero-crossing count. The "
    "oracle recomputes all of them from first principles on the text "
    "bytes (samples are (byte-128)*256), so any container, alignment, "
    "endianness, or channel bug breaks the hash match. Completes the "
    "image+audio multimodal surface with real codecs. Executor-side "
    "mapInPandas throughout.",
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import (
        decode_wav_features,
        encode_doc_wavs,
    )

    t = load_fixture_tables(spark, sf_dir)
    # ASCII-only gate, same rationale as multimodal_decode_bmp
    docs = t["documents"].filter(
        "length(text) >= 1 AND length(text) = octet_length(text)"
    )
    return decode_wav_features(encode_doc_wavs(docs)).orderBy("doc_id")


RESIZE_BYTES = 64


@query(
    "multimodal_resize_stub",
    oracle=f"""
    SELECT doc_id,
           CAST({RESIZE_BYTES} AS BIGINT) AS out_bytes,
           md5(rpad(substr(text, 1, {RESIZE_BYTES}), {RESIZE_BYTES}, '#'))
             AS resized_md5
    FROM documents
    ORDER BY doc_id
    """,
    tags=("multimodal", "mapInPandas", "binary-out", "stub"),
    doc="Binary-in -> binary-out transform shape (resize/resample stand-"
    "in): each payload truncated/'#'-padded to a fixed size inside one "
    "mapInPandas pass; the transformed BYTES are verified by md5 against "
    "the oracle's text arithmetic (ASCII fixture: byte ops == char ops).",
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import resize_payload

    t = load_fixture_tables(spark, sf_dir)
    binary = with_binary_payload(t["documents"])
    return (
        resize_payload(binary, target_bytes=RESIZE_BYTES)
        .select("doc_id", "out_bytes", "resized_md5")
        .orderBy("doc_id")
    )


CHUNK_BYTES = 100


@query(
    "multimodal_chunk_energy",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id,
             CAST(unnest(range(0, greatest(CAST(ceil(length(text)
                  / {CHUNK_BYTES}.0) AS BIGINT), 1))) AS INT) AS chunk_idx,
             text
      FROM documents
    )
    SELECT doc_id, chunk_idx,
           CAST(COALESCE(list_reduce(list_prepend(0,
                list_transform(range(1, len(substr(text,
                     chunk_idx * {CHUNK_BYTES} + 1, {CHUNK_BYTES})) + 1),
                  i -> ascii(substr(substr(text,
                     chunk_idx * {CHUNK_BYTES} + 1, {CHUNK_BYTES}), i, 1)))),
                (a, b) -> a + b), 0) AS BIGINT) AS energy,
           CAST(length(substr(text, chunk_idx * {CHUNK_BYTES} + 1,
                {CHUNK_BYTES})) AS INT) AS n_bytes
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    tags=("multimodal", "mapInPandas", "numeric-features"),
    doc="Binary -> numeric feature batches (audio RMS/loudness shape): "
    "per 100-byte chunk, the byte-value sum computed with numpy inside "
    "mapInPandas. ASCII fixture makes the oracle expressible as "
    "ascii(char) sums.",
)
def multimodal_chunk_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import chunk_energy

    t = load_fixture_tables(spark, sf_dir)
    binary = with_binary_payload(t["documents"])
    return chunk_energy(binary, chunk_bytes=CHUNK_BYTES).orderBy(
        "doc_id", "chunk_idx"
    )


@query(
    "multimodal_dedup_phash",
    oracle="""
    WITH dims AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 7 + 3 AS INT) AS height
      FROM documents
      WHERE length(text) >= 1 AND length(text) = strlen(text)
    ),
    px AS (
      SELECT doc_id, width, height, n, text,
             CAST(unnest(range(0, width * height)) AS BIGINT) AS k
      FROM dims
    ),
    gray AS (
      SELECT doc_id, width, height, k,
             CAST(k % width AS BIGINT) AS x,
             CAST(k // width AS BIGINT) AS y,
             (ascii(substr(text, CAST(k % n AS INT) + 1, 1))
              + (ascii(substr(text, CAST(k % n AS INT) + 1, 1)) * 2) % 256
              + (ascii(substr(text, CAST(k % n AS INT) + 1, 1)) + 73) % 256
             ) // 3 AS g
      FROM px
    ),
    blocks AS (
      SELECT doc_id, width, height,
             CAST(y * 2 // height AS INT) * 2
               + CAST(x * 2 // width AS INT) AS bit_ix,
             CAST(SUM(g) AS BIGINT) AS block_sum,
             CAST(COUNT(*) AS BIGINT) AS block_cnt
      FROM gray
      GROUP BY doc_id, width, height,
               CAST(y * 2 // height AS INT) * 2
                 + CAST(x * 2 // width AS INT)
    ),
    hashes AS (
      SELECT b.doc_id, b.width, b.height,
             CAST(SUM(CASE WHEN b.block_sum * t.total_cnt
                                > t.total_sum * b.block_cnt
                           THEN 1 << b.bit_ix ELSE 0 END) AS INT) AS phash
      FROM blocks b
      JOIN (SELECT doc_id, CAST(SUM(block_sum) AS BIGINT) AS total_sum,
                   CAST(SUM(block_cnt) AS BIGINT) AS total_cnt
            FROM blocks GROUP BY doc_id) t
        ON b.doc_id = t.doc_id
      GROUP BY b.doc_id, b.width, b.height
    )
    SELECT width, height, phash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM hashes
    GROUP BY width, height, phash
    HAVING COUNT(*) > 1
    ORDER BY n_docs DESC, width, height, phash
    LIMIT 200
    """,
    tags=("multimodal", "dedup", "phash", "mapInPandas"),
    doc="Perceptual-hash image dedup over REAL decoded pixels: every doc "
    "renders to an actual BMP/PPM (functions/imagecodec.py), the "
    "2x2 average-hash is computed from the DECODED pixel array "
    "executor-side (mapInPandas), and images bucket on "
    "(width, height, phash) — the LSH-style candidate stage of image "
    "dedup, with bucket SUMMARIES as output so result size is bounded "
    "by distinct buckets (never pairs) at any corpus scale; a "
    "production pipeline verifies within buckets exactly like "
    "MinHash-LSH verifies its candidates. The hash is division-free "
    "(block_sum * n_pixels > total_sum * block_count), so the SQL "
    "oracle re-deriving every pixel from the source TEXT BYTES (the "
    "encoder's k-th-byte formula, the same first-principles basis as "
    "multimodal_decode_bmp) reproduces it bit-exactly — any layout "
    "bug anywhere in encode -> parse -> grayscale -> grid flips a "
    "bucket and fails the hash compare.",
)
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bdt_spark.functions.multimodal import (
        encode_doc_images,
        phash_features,
    )

    t = load_fixture_tables(spark, sf_dir)
    docs = t["documents"].filter(
        "length(text) >= 1 AND length(text) = octet_length(text)"
    )
    hashes = phash_features(encode_doc_images(docs))
    hashes.createOrReplaceTempView("phash_hashes")
    return spark.sql(
        """
        SELECT width, height, phash,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM phash_hashes
        GROUP BY width, height, phash
        HAVING COUNT(*) > 1
        ORDER BY n_docs DESC, width, height, phash
        LIMIT 200
        """
    )


@query(
    "multimodal_dedup_audio_fingerprint",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, length(text) AS n,
             CAST(8000 + (doc_id % 4) * 2000 AS INT) AS sample_rate
      FROM documents
      WHERE length(text) >= 1 AND length(text) = strlen(text)
    ),
    samp AS (
      SELECT doc_id, sample_rate, n,
             CAST(unnest(range(0, n)) AS BIGINT) AS k
      FROM base
    ),
    energy AS (
      SELECT s.doc_id, s.sample_rate, s.n,
             CAST(s.k * 4 // s.n AS INT) AS q,
             CAST(((ascii(substr(b.text, CAST(s.k AS INT) + 1, 1)) - 128)
                   * 256) AS BIGINT)
               * (((ascii(substr(b.text, CAST(s.k AS INT) + 1, 1)) - 128)
                   * 256)) AS e
      FROM samp s JOIN base b ON s.doc_id = b.doc_id
    ),
    quarters AS (
      SELECT doc_id, sample_rate, n, q,
             CAST(SUM(e) AS BIGINT) AS q_energy,
             CAST(COUNT(*) AS BIGINT) AS q_cnt
      FROM energy GROUP BY doc_id, sample_rate, n, q
    ),
    fps AS (
      SELECT qs.doc_id, qs.sample_rate, qs.n,
             CAST(SUM(CASE WHEN qs.q_energy * t.total_cnt
                                > t.total_energy * qs.q_cnt
                           THEN 1 << qs.q ELSE 0 END) AS INT) AS fingerprint
      FROM quarters qs
      JOIN (SELECT doc_id, CAST(SUM(q_energy) AS BIGINT) AS total_energy,
                   CAST(SUM(q_cnt) AS BIGINT) AS total_cnt
            FROM quarters GROUP BY doc_id) t
        ON qs.doc_id = t.doc_id
      GROUP BY qs.doc_id, qs.sample_rate, qs.n
    )
    SELECT sample_rate, fingerprint,
           CAST(n // 64 AS BIGINT) AS len_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM fps
    GROUP BY sample_rate, fingerprint, CAST(n // 64 AS BIGINT)
    HAVING COUNT(*) > 1
    ORDER BY n_docs DESC, sample_rate, fingerprint, len_band
    LIMIT 200
    """,
    tags=("multimodal", "dedup", "audio", "mapInPandas"),
    doc="Audio dedup candidates by temporal-energy fingerprint over REAL "
    "decoded RIFF/WAVE samples — the audio analog of "
    "multimodal_dedup_phash: each doc renders to an actual PCM-16 WAV "
    "(unknown-chunk skipping exercised on every 5th id), the decoded "
    "waveform's 4 temporal quarters produce a 4-bit energy signature "
    "via division-free cross-multiplication (exact BIGINTs), and "
    "recordings bucket on (sample_rate, fingerprint, length band) with "
    "bucket SUMMARIES as output (bounded by buckets, never pairs). "
    "The oracle recomputes every sample from the source text bytes "
    "(the encoder's (byte-128)*256 formula) — an encode, chunk-walk, "
    "or sign-extension bug anywhere flips a bucket and fails the "
    "hash compare.",
)
def multimodal_dedup_audio_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bdt_spark.functions.multimodal import (
        encode_doc_wavs,
        wav_fingerprint,
    )

    t = load_fixture_tables(spark, sf_dir)
    docs = t["documents"].filter(
        "length(text) >= 1 AND length(text) = octet_length(text)"
    )
    fps = wav_fingerprint(encode_doc_wavs(docs))
    fps.createOrReplaceTempView("audio_fps")
    return spark.sql(
        """
        SELECT sample_rate, fingerprint,
               CAST(n_samples DIV 64 AS BIGINT) AS len_band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM audio_fps
        GROUP BY sample_rate, fingerprint, CAST(n_samples DIV 64 AS BIGINT)
        HAVING COUNT(*) > 1
        ORDER BY n_docs DESC, sample_rate, fingerprint, len_band
        LIMIT 200
        """
    )
