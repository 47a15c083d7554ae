"""Multimodal column operators — binary payloads with typed metadata.

The reference has no binary/media support; this is part of the declared
training-data-pipeline extension (BASELINE.json north_star). The design is
the one that holds at 100 TB:

- Media lives in OPAQUE `binary` columns next to typed metadata columns
  (mime, n_bytes, source id). Spark shuffles/stores binary efficiently;
  decode happens ONLY inside Arrow-batched `mapInPandas` on the executors —
  never on the driver, never row-at-a-time Python.
- Decode / resize / frame-sample are per-batch pandas functions. Codec
  LIBRARIES (PIL / librosa / av) are not in this container, but
  from-scratch public-spec codecs in `functions/imagecodec.py` give the
  image (BMP/PPM/PNG/baseline JPEG) and audio (RIFF/WAVE PCM) paths REAL
  decodes — see decode_real_features / decode_wav_features. Only the
  library-backed generic path stays a stub: `decode_image` returns a
  deterministic, content-derived fake decode (the `stub`-tagged queries).

Batch-shape notes: `mapInPandas` receives an iterator of pandas DataFrames
(one per Arrow batch, ~10k rows default). Feature extraction is allocated
per batch, not per row; output cardinality may differ from input (frame
sampling emits N rows per video).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bdt_spark.sources.io import fanned

# Schema of the decoded-feature output — stable driver-visible contract.
DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("head_md5", StringType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def decode_image(payload: bytes) -> dict:
    """Fake-decode one image payload to features.

    A stand-in for a library-backed codec decode (JPEG/...), whose
    libraries this environment does not ship: a deterministic
    content-derived result, so the distributed plumbing can be tested
    end-to-end and oracled in SQL. For REAL decode see
    decode_real_features / imagecodec.py (pure-Python BMP + PPM + PNG
    codecs, used by multimodal_decode_bmp / multimodal_decode_png).
    """
    n = len(payload)
    return {
        "n_bytes": n,
        "head_md5": hashlib.md5(payload[:16]).hexdigest(),
        # fake dimensions derived deterministically from content length
        "fake_width": (n % 64) + 1,
        "fake_height": (n % 48) + 1,
    }


# --- real image decode (pure-Python BMP/PPM codec) --------------------------

# Feature schema for REAL decoding: integer-exact channel sums plus the
# top-left pixel (row-order sensitive: a decoder that forgets BMP's
# bottom-up storage returns the bottom-left pixel instead) plus IEEE-exact
# means (same int/int division in both engines — no rounding needed).
REAL_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("tl_r", IntegerType()),
        StructField("tl_g", IntegerType()),
        StructField("tl_b", IntegerType()),
    ]
)

IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _doc_pixels(doc_id: int, text: str) -> "object":
    """Deterministic (h, w, 3) uint8 RGB derived from a document row.

    Pixel k (row-major, top-down): v = byte k%len(text) of the text;
    channels r=v, g=2v mod 256, b=v+73 mod 256 — three DIFFERENT values so
    channel-order bugs (BMP stores BGR) break the feature parity.
    """
    import numpy as np

    w = doc_id % 13 + 4
    h = doc_id % 7 + 3
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    v = data[np.arange(w * h) % len(data)].astype(np.int32)
    rgb = np.stack([v, (v * 2) % 256, (v + 73) % 256], axis=1).astype(np.uint8)
    return rgb.reshape(h, w, 3)


def _encode_docs(df: DataFrame, text_col: str, encoder, pixels_fn=None) -> DataFrame:
    """Shared mapInPandas batching loop for doc -> image-payload encoders:
    `encoder(doc_id, pixels) -> bytes` supplies the per-row codec and
    `pixels_fn(doc_id, text)` the pixel derivation (default: the RGB
    per-pixel formula; the JPEG path passes the flat-tile grayscale
    variant); the None/empty-text skip, batching, fan-out, and output
    schema live HERE once so the BMP/PPM, PNG, and JPEG paths cannot
    drift apart. The codec stage is CPU-bound Python, so an under-split
    input is fanned out first (sources/io.fanned)."""
    pixels_fn = pixels_fn or _doc_pixels

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None or len(text) == 0:
                    continue
                did = int(doc_id)
                rows.append((did, encoder(did, pixels_fn(did, text))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    # fan out AFTER the projection so only (doc_id, text) shuffles
    return fanned(df.select("doc_id", text_col)).mapInPandas(
        encode_batches, IMAGE_SCHEMA
    )


def encode_doc_images(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Render each document as a REAL image payload: even doc_ids become
    24-bit BMPs (bottom-up rows, BGR, stride padding), odd doc_ids binary
    PPMs (top-down, RGB, no padding). Executor-side via mapInPandas."""
    from bdt_spark.functions.imagecodec import encode_bmp, encode_ppm

    return _encode_docs(
        df,
        text_col,
        lambda did, px: (encode_bmp if did % 2 == 0 else encode_ppm)(px),
    )


def encode_doc_pngs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Render each document as a REAL 8-bit truecolor PNG (deflate-
    compressed IDAT, per-row filter cycling 0..4 so every image taller
    than 4 rows exercises all five scanline filters). Executor-side via
    mapInPandas."""
    from bdt_spark.functions.imagecodec import encode_png

    return _encode_docs(df, text_col, lambda did, px: encode_png(px))


def _doc_tile_pixels(doc_id: int, text: str) -> "object":
    """Deterministic GRAYSCALE image of flat 8x8 tiles for the JPEG path.

    Tile k (row-major over a (doc_id%3+2) x (doc_id%5+2) tile grid) is a
    flat 8x8 block of value v = byte k%len(text) of the text. Flat blocks
    have zero AC energy, so with the codec's DC quant step of 8 the whole
    lossy pipeline (FDCT -> quant -> Huffman -> dequant -> IDCT) is
    BIT-EXACT on these images — the property the SQL oracle relies on —
    while still exercising every decoder stage on real entropy-coded
    bytes."""
    import numpy as np

    tiles_w = doc_id % 5 + 2
    tiles_h = doc_id % 3 + 2
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    v = data[np.arange(tiles_w * tiles_h) % len(data)]
    tiles = v.reshape(tiles_h, tiles_w)
    return np.kron(tiles, np.ones((8, 8), dtype=np.uint8))


def encode_doc_jpegs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Render each document as a REAL baseline-sequential JPEG (grayscale
    flat-tile image per _doc_tile_pixels; restart markers every 3 MCUs on
    ids divisible by 3 so the DRI/RSTn decode path runs under the oracle
    too). Executor-side via mapInPandas."""
    from bdt_spark.functions.imagecodec import encode_jpeg

    return _encode_docs(
        df,
        text_col,
        lambda did, px: encode_jpeg(
            px, restart_interval=3 if did % 3 == 0 else 0
        ),
        pixels_fn=_doc_tile_pixels,
    )


def decode_real_features(df: DataFrame) -> DataFrame:
    """REAL image decode via the pure-Python BMP/PPM parser — no fake path.

    The parser (functions/imagecodec.py) is independent of the encoder's
    pixel formula: it reads only the byte layout, so the SQL oracle
    recomputing the same features from first principles catches any
    encode- or decode-side layout bug (row order, channel order, stride)."""
    import numpy as np

    from bdt_spark.functions.imagecodec import decode_image_bytes

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                fmt, px = decode_image_bytes(payload)
                h, w, _ = px.shape
                npix = w * h
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                tl = px[0, 0]
                rows.append(
                    (
                        int(doc_id),
                        fmt,
                        w,
                        h,
                        npix,
                        int(sums[0]),
                        int(sums[1]),
                        int(sums[2]),
                        int(sums[0]) / npix,
                        int(sums[1]) / npix,
                        int(sums[2]) / npix,
                        int(tl[0]),
                        int(tl[1]),
                        int(tl[2]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in REAL_DECODE_SCHEMA.fields]
            )

    return df.mapInPandas(decode_batches, REAL_DECODE_SCHEMA)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload + typed metadata (the storage model)."""
    return df.select(
        "doc_id",
        F.col(text_col).cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
    )


def decode_features(df: DataFrame) -> DataFrame:
    """Distributed (fake) decode via Arrow-batched mapInPandas."""

    cols = [f.name for f in DECODE_SCHEMA.fields]
    _null_feats = {c: None for c in cols if c != "doc_id"}

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload (e.g. a NULL source column cast to binary) ->
            # NULL features, not a worker-killing len(None); explicit
            # columns= keeps empty Arrow batches typed (a bare
            # pd.DataFrame([]) has no columns and the projection KeyErrors)
            feats = [
                _null_feats if p is None else decode_image(p)
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(feats, columns=[c for c in cols if c != "doc_id"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[cols]

    return df.mapInPandas(decode_batches, DECODE_SCHEMA)


def sample_frames(df: DataFrame, every_bytes: int = 100) -> DataFrame:
    """Frame-sampling shape: emit one row per sampled 'frame' of the payload.

    Stands in for video frame extraction: output cardinality = one row per
    `every_bytes` chunk. Demonstrates the 1->N mapInPandas batch shape.
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    rows.append((int(doc_id), 0, None))
                    continue
                n_frames = max(1, len(payload) // every_bytes)
                for i in range(n_frames):
                    chunk = payload[i * every_bytes : (i + 1) * every_bytes]
                    rows.append(
                        (int(doc_id), i, hashlib.md5(chunk).hexdigest())
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return df.mapInPandas(frame_batches, FRAME_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload_resized", BinaryType()),
        StructField("out_bytes", LongType()),
        StructField("resized_md5", StringType()),
    ]
)


def resize_payload(df: DataFrame, target_bytes: int = 64) -> DataFrame:
    """Resize stub (binary in -> binary out): truncate or '#'-pad each
    payload to exactly `target_bytes`.

    Stands in for image resize / audio resample — the real codec call is
    environment-stubbed, but the Spark plumbing is the production shape:
    binary column in, TRANSFORMED binary column out, plus typed metadata,
    all inside one Arrow-batched mapInPandas pass (no driver, no per-row
    Python).
    """

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    out.append((int(doc_id), None, None, None))
                    continue
                b = bytes(payload)[:target_bytes].ljust(target_bytes, b"#")
                out.append(
                    (int(doc_id), b, len(b), hashlib.md5(b).hexdigest())
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in RESIZE_SCHEMA.fields]
            )

    return df.mapInPandas(resize_batches, RESIZE_SCHEMA)


ENERGY_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("energy", LongType()),
        StructField("n_bytes", IntegerType()),
    ]
)


def chunk_energy(df: DataFrame, chunk_bytes: int = 100) -> DataFrame:
    """Audio-style numeric feature extraction from binary: per fixed-size
    chunk, the sum of byte values ("energy"). Demonstrates binary ->
    numeric feature batches with numpy inside mapInPandas (the RMS/
    loudness-profile shape; the real DSP call is environment-stubbed)."""
    import numpy as np

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    rows.append((int(doc_id), 0, None, None))
                    continue
                b = bytes(payload)
                for i in range(0, max(len(b), 1), chunk_bytes):
                    chunk = np.frombuffer(b[i : i + chunk_bytes], dtype=np.uint8)
                    rows.append(
                        (
                            int(doc_id),
                            i // chunk_bytes,
                            int(chunk.sum()) if chunk.size else 0,
                            int(chunk.size),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in ENERGY_SCHEMA.fields]
            )

    return df.mapInPandas(energy_batches, ENERGY_SCHEMA)


WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossings", LongType()),
    ]
)


def _doc_samples(doc_id: int, text: str) -> "object":
    """Deterministic mono int16 PCM derived from a document: sample k =
    (byte k of the text - 128) * 256 — full text, no cycling, so
    n_samples == octet_length(text) and every waveform feature is exact
    integer arithmetic the SQL oracle can recompute."""
    import numpy as np

    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    return ((data.astype(np.int32) - 128) * 256).astype(np.int16)


def encode_doc_wavs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Render each document as a REAL RIFF/WAVE PCM-16 payload (mono,
    sample rate 8000 + (doc_id%4)*2000; ids divisible by 5 carry an
    extra LIST chunk before data so the decoder's chunk-skip path runs
    under the oracle too). Executor-side via mapInPandas."""
    import struct as _struct

    from bdt_spark.functions.imagecodec import encode_wav

    def enc(did: int, samples) -> bytes:
        rate = 8000 + (did % 4) * 2000
        extra = None
        if did % 5 == 0:
            info = b"INFObdt"
            extra = b"LIST" + _struct.pack("<I", len(info)) + info + (
                b"\x00" if len(info) % 2 else b""
            )
        return encode_wav(samples, sample_rate=rate, extra_chunk=extra)

    return _encode_docs(df, text_col, enc, pixels_fn=_doc_samples)


def decode_wav_features(df: DataFrame) -> DataFrame:
    """REAL audio decode: RIFF chunk walk + PCM extraction via
    functions/imagecodec.py decode_wav, then exact waveform features —
    peak amplitude, integer-exact energy (sum of squared samples), RMS,
    and strict-sign zero-crossing count. Arrow-batched mapInPandas;
    feature math is numpy over the decoded int16 samples."""
    import numpy as np

    from bdt_spark.functions.imagecodec import decode_wav

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decode_wav(payload)
                s = samples[:, 0].astype(np.int64)  # features on channel 1
                n = len(s)
                sum_sq = int((s * s).sum())
                zc = int(((s[1:] * s[:-1]) < 0).sum()) if n > 1 else 0
                rows.append(
                    (
                        int(doc_id),
                        int(rate),
                        n,
                        int(np.abs(s).max()) if n else 0,
                        sum_sq,
                        # math.sqrt, NOT ** 0.5: libm pow(x, 0.5) is 1 ulp
                        # off correctly-rounded sqrt for some inputs
                        # (observed at sf10: sqrt(17340104704/99)), and the
                        # SQL oracle's SQRT is correctly rounded.
                        float(math.sqrt(sum_sq / n)) if n else 0.0,
                        zc,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WAV_FEATURES_SCHEMA.fields]
            )

    return df.mapInPandas(decode_batches, WAV_FEATURES_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash", IntegerType()),
        StructField("gray_sum", LongType()),
    ]
)


def phash_features(df: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels (2x2 grid).

    Decodes each payload with the layout-only parser, grayscales
    (r+g+b)//3 in exact integer arithmetic, maps pixel (x, y) to block
    (x*2//w, y*2//h) and sets bit (by*2 + bx) when the block's mean
    exceeds the image mean — compared as the cross-multiplication
    block_sum * n_pixels > total_sum * block_count so no division ever
    happens (bit-exact against the SQL oracle recomputing the same hash
    from the source bytes). 2x2 (not a finer grid) because fixture
    images go down to 4x3: every block is guaranteed non-empty."""
    import numpy as np

    from bdt_spark.functions.imagecodec import decode_image_bytes

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                fmt, px = decode_image_bytes(payload)
                h, w, _ = px.shape
                gray = px.astype(np.int64).sum(axis=2) // 3
                total = int(gray.sum())
                npix = w * h
                bx = np.arange(w) * 2 // w
                by = np.arange(h) * 2 // h
                phash = 0
                for b_y in (0, 1):
                    for b_x in (0, 1):
                        blk = gray[np.ix_(by == b_y, bx == b_x)]
                        if int(blk.sum()) * npix > total * blk.size:
                            phash |= 1 << (b_y * 2 + b_x)
                rows.append((int(doc_id), fmt, w, h, phash, total))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PHASH_SCHEMA.fields]
            )

    return df.mapInPandas(batches, PHASH_SCHEMA)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("fingerprint", IntegerType()),
    ]
)


def wav_fingerprint(df: DataFrame) -> DataFrame:
    """Temporal-energy audio fingerprint over REAL decoded WAV samples.

    Decodes each RIFF/WAVE payload, splits the waveform into 4 temporal
    quarters (sample k -> quarter k*4 // n), and sets bit q when the
    quarter's energy sum(s^2) exceeds its share of the total — compared
    by cross-multiplication (q_energy * n > total_energy * q_cnt, exact
    BIGINTs: byte range 0..255 maps to (byte-128)*256 in -32768..32512,
    so |s| <= 32768 and s^2 <= 2^30 — sums stay far under 2^63) so the SQL
    oracle recomputing from the source bytes is bit-identical. The
    audio analog of phash_features' average-hash."""
    import numpy as np

    from bdt_spark.functions.imagecodec import decode_wav

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decode_wav(payload)
                s = samples.astype(np.int64)
                n = len(s)
                e = s * s
                total = int(e.sum())
                q_ix = np.arange(n) * 4 // n
                fp = 0
                for q in range(4):
                    mask = q_ix == q
                    if int(e[mask].sum()) * n > total * int(mask.sum()):
                        fp |= 1 << q
                rows.append((int(doc_id), int(rate), n, fp))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FP_SCHEMA.fields]
            )

    return df.mapInPandas(batches, AUDIO_FP_SCHEMA)
