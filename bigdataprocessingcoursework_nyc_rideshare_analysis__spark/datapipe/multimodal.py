"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Design (the piece that must be real even where codecs are stubbed):
- media rows are ``(id, payload: binary, media_type: string, meta: struct)``;
  payloads are opaque bytes — Spark shuffles/stores them without
  interpretation, so the same plumbing carries images, audio, or video.
- feature extraction runs as ``mapInPandas``: Arrow delivers each partition
  as pandas batches, Python touches bytes only inside the batch loop, and
  the output schema is declared up front (required for Catalyst to plan
  downstream ops).
- uncompressed formats decode FOR REAL with pure-Python codecs (image:
  binary PPM + 24-bit BMP incl. nearest-neighbor resize; audio: WAV/PCM
  RIFF parsing) — `media_image_stats` / `media_audio_stats` drive them
  end-to-end against closed-form oracles that never see the codec.
  Compressed formats (JPEG/PNG, MP3, H.264 frame sampling) need libraries
  not present in this container → those paths raise ``NotImplementedError``
  with the intended contract, and the deterministic byte-level features
  (size, digest, frame manifests) remain oracle-checked regardless.

Scale: payload bytes dominate — partition count must track *bytes* not rows
(``spark.sql.files.maxPartitionBytes``); never collect payloads; features
detach from payloads as early as possible so downstream shuffles move only
scalars.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register
from ..sources import load_table
from .dedup import banded_hamming_pairs

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("media_type", StringType()),
    ]
)


def _build_image_codec():
    """Factory for the pure-Python image codec: binary PPM (P6) encode/decode,
    24-bit uncompressed BMP decode, and nearest-neighbor resize.  No external
    codec library — header parsing, row padding, and channel order are
    implemented over raw bytes + NumPy, so the decode seam is EXECUTABLE in
    this container (compressed formats — JPEG/PNG/H.264 — remain the
    documented deployment seam in ``sample_frames``).

    Returned as closure-defined functions rather than plain module-level
    ``def``s because they run inside Spark Python workers: cloudpickle
    serializes module-level functions BY REFERENCE (workers would need this
    package importable — it isn't when the driver imports the engine from an
    arbitrary cwd), but ``<locals>`` functions are pickled BY VALUE, closure
    cells and all.  Everything they touch is stdlib/NumPy."""
    import numpy as np

    def encode_ppm(arr) -> bytes:
        """HxWx3 uint8 array → binary PPM (P6, maxval 255)."""
        a = np.asarray(arr, dtype=np.uint8)
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError(f"expected HxWx3 array, got shape {a.shape}")
        h, w, _ = a.shape
        return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()

    def _ppm_tokens(buf: bytes, n: int, pos: int) -> tuple[list[int], int]:
        """Read ``n`` whitespace-separated ASCII ints starting at ``pos``,
        skipping ``#`` comments (the PPM spec allows them anywhere in the
        header).  Returns (values, position-after-last-token)."""
        vals: list[int] = []
        while len(vals) < n:
            while pos < len(buf) and buf[pos : pos + 1].isspace():
                pos += 1
            if pos < len(buf) and buf[pos] == ord("#"):
                while pos < len(buf) and buf[pos] != ord("\n"):
                    pos += 1
                continue
            start = pos
            while pos < len(buf) and buf[pos : pos + 1].isdigit():
                pos += 1
            if pos == start:
                raise ValueError("malformed PPM header")
            vals.append(int(buf[start:pos]))
        return vals, pos

    def _decode_ppm(buf: bytes):
        (w, h, maxval), pos = _ppm_tokens(buf, 3, 2)
        if maxval != 255:
            raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
        pos += 1  # exactly ONE whitespace byte separates header from raster
        need = w * h * 3
        raster = buf[pos : pos + need]
        if len(raster) != need:
            raise ValueError(f"truncated PPM raster: {len(raster)} of {need} bytes")
        return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)

    def _decode_bmp(buf: bytes):
        if len(buf) < 54:
            raise ValueError("truncated BMP header")
        data_off = int.from_bytes(buf[10:14], "little")
        w = int.from_bytes(buf[18:22], "little", signed=True)
        h = int.from_bytes(buf[22:26], "little", signed=True)
        bpp = int.from_bytes(buf[28:30], "little")
        compression = int.from_bytes(buf[30:34], "little")
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"only 24-bit uncompressed BMP supported (bpp={bpp}, compression={compression})"
            )
        bottom_up = h > 0
        h = abs(h)
        stride = ((w * 3 + 3) // 4) * 4  # rows pad to 4-byte boundaries
        need = stride * h
        raster = buf[data_off : data_off + need]
        if len(raster) != need:
            raise ValueError(f"truncated BMP raster: {len(raster)} of {need} bytes")
        rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)[:, : w * 3]
        img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
        return img[::-1] if bottom_up else img

    def decode_image(payload: bytes):
        """Decode an image payload to an HxWx3 uint8 array.  Dispatches on
        magic bytes: ``P6`` (binary PPM) and ``BM`` (24-bit uncompressed
        BMP) decode here; compressed formats raise ``NotImplementedError``
        (the deployment seam for Pillow/libvips)."""
        buf = bytes(payload)
        if buf[:2] == b"P6":
            return _decode_ppm(buf)
        if buf[:2] == b"BM":
            return _decode_bmp(buf)
        raise NotImplementedError(
            f"unsupported image format (magic {buf[:2]!r}); wire a codec library here"
        )

    def resize_image(payload: bytes, width: int, height: int) -> bytes:
        """Nearest-neighbor resize: decode, index-map (src = floor(dst·n/m),
        the standard floor mapping), re-encode as binary PPM."""
        img = decode_image(payload)
        h_in, w_in = img.shape[:2]
        ys = (np.arange(height) * h_in) // height
        xs = (np.arange(width) * w_in) // width
        return encode_ppm(img[ys][:, xs])

    return encode_ppm, decode_image, resize_image


encode_ppm, decode_image, resize_image = _build_image_codec()


def byte_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: size + sha-free
    md5 digest (deterministic, codec-free).  The pattern — mapInPandas with a
    declared schema, batch-local Python — is exactly what a real decode
    would use."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "digest": pdf["payload"].map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                    "media_type": pdf["media_type"],
                }
            )

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads (the container
    has no binary fixture table; utf-8 bytes are real binary as far as the
    engine is concerned)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


_MEDIA_ORACLE = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest,
       'text/plain' AS media_type
FROM documents
"""


@register("media_byte_features", oracle=_MEDIA_ORACLE, tags=("datapipe", "multimodal"))
def q_media_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal plumbing: binary column → mapInPandas feature
    extraction, oracle-checked via the deterministic byte features."""
    docs = load_table(spark, sf_dir, "documents")
    return byte_features(documents_as_media(docs))


# --- frame manifest (1 → N expansion over binary payloads) -------------------

FRAME_BYTES = 256
FRAME_STRIDE = 2  # keep every 2nd frame (sample_frames semantics)

_FRAME_ORACLE = f"""
SELECT doc_id AS media_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * {FRAME_BYTES} AS BIGINT) AS byte_offset,
       CAST(least({FRAME_BYTES}, octet_length(encode(text)) - i * {FRAME_BYTES}) AS BIGINT)
         AS frame_bytes
FROM documents,
     UNNEST(range(CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS BIGINT))) AS u(i)
WHERE i % {FRAME_STRIDE} = 0
"""


@register("media_frame_manifest", oracle=_FRAME_ORACLE, tags=("datapipe", "multimodal"))
def q_media_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: each payload is cut into
    fixed-size frames inside an Arrow-batched ``mapInPandas`` (1 row → N
    rows over a binary column), keeping every ``FRAME_STRIDE``-th frame.

    The Python stage slices the *actual bytes* (so the batch shape, binary
    Arrow transfer, and expansion semantics are real); the emitted manifest
    (offset/length per kept frame) is deterministic from payload size, which
    is what the oracle checks.  A real video decoder drops into the same
    seam (``sample_frames`` above) with codec output replacing byte slices.
    Scale: stateless per-row expansion — no shuffle; output partitioning
    inherits the scan."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)

    def frames(batches):
        for pdf in batches:
            ids, idxs, offs, lens = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                for i in range(0, -(-len(buf) // FRAME_BYTES), FRAME_STRIDE):
                    chunk = buf[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(i * FRAME_BYTES)
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "byte_offset": offs, "frame_bytes": lens}
            )

    return media.select("media_id", "payload").mapInPandas(
        frames, schema="media_id long, frame_idx int, byte_offset long, frame_bytes long"
    )


# --- chunk-level payload dedup (storage shape) ------------------------------

CHUNK_CHARS = 128

_CHUNK_DEDUP_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id AS media_id,
         md5(substr(text, CAST(i * {CHUNK_CHARS} + 1 AS INTEGER), {CHUNK_CHARS})) AS digest,
         CAST(least({CHUNK_CHARS}, length(text) - i * {CHUNK_CHARS}) AS BIGINT) AS chunk_chars
  FROM documents,
       UNNEST(range(CAST(ceil(length(text) / {CHUNK_CHARS}.0) AS BIGINT))) AS u(i)
)
SELECT digest,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT media_id) AS n_media,
       any_value(chunk_chars) AS chunk_chars,
       CAST((COUNT(*) - 1) * any_value(chunk_chars) AS BIGINT) AS saved_chars
FROM chunks
GROUP BY digest
HAVING COUNT(*) >= 2
"""


@register("media_chunk_dedup", oracle=_CHUNK_DEDUP_ORACLE, tags=("datapipe", "multimodal", "dedup", "r4"))
def q_media_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level payload deduplication — the content-addressable-storage
    shape (fixed-width chunks, digest groupBy, dedup savings accounting)
    that backup/blob systems run over petabytes.  The corpus's genuine
    duplicate documents produce shared chunks, so the savings report is
    non-empty without synthetic injection.  One per-row chunk explode +
    one digest-keyed shuffle; chunk payloads never move — only digests do,
    which is the entire trick at 100 TB.  (``any_value(chunk_chars)`` is
    deterministic: equal-digest chunks are equal strings, hence equal
    lengths, bar an md5 collision.)"""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / CHUNK_CHARS).cast("int")
    chunks = docs.select(
        F.col("doc_id").alias("media_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(length(text) / {CHUNK_CHARS}.0)) - 1),"
                f" i -> substr(text, i * {CHUNK_CHARS} + 1, {CHUNK_CHARS}))"
            )
        ).alias("i", "chunk"),
        F.length("text").alias("len"),
    ).select(
        "media_id",
        F.md5("chunk").alias("digest"),
        F.least(F.lit(CHUNK_CHARS), F.col("len") - F.col("i") * CHUNK_CHARS)
        .cast("long")
        .alias("chunk_chars"),
    )
    return (
        chunks.groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("media_id").alias("n_media"),
            F.any_value("chunk_chars").alias("chunk_chars"),
            ((F.count(F.lit(1)) - 1) * F.any_value("chunk_chars")).cast("bigint").alias("saved_chars"),
        )
        .filter(F.col("n_copies") >= 2)
    )


# --- executable image decode (PPM codec, no external library) -----------------

IMG_W = 16
IMG_H = 16
RESIZE_W = 8
RESIZE_H = 8

#: flat byte j of media m's raster is ``(m * 31 + j) % 256`` — a closed form
#: both engines can state independently, so the ORACLE never runs the codec:
#: Spark's path is formula → PPM bytes → header-parsing decode → stats, and
#: any decoder defect (offset, shape, channel order) breaks the hash match.
_PIXEL_FORMULA = "({m} * 31 + {j}) % 256"


def _img_channel_sums_sql(alias: str, npx: int, flat_pixel: str) -> str:
    """SQL fragment: per-media channel sums over ``npx`` pixels whose flat
    pixel index is ``flat_pixel`` (an expression in ``i``)."""
    terms = []
    for ch, name in enumerate("rgb"):
        val = _PIXEL_FORMULA.format(m="doc_id", j=f"(3 * ({flat_pixel}) + {ch})")
        terms.append(f"SUM({val}) AS s{name}")
    return (
        f"{alias} AS (SELECT doc_id AS media_id, {', '.join(terms)} "
        f"FROM documents, UNNEST(range({npx})) AS u(i) GROUP BY doc_id)"
    )


_IMAGE_STATS_ORACLE = f"""
WITH {_img_channel_sums_sql("full_px", IMG_W * IMG_H, "i")},
{_img_channel_sums_sql(
    "r8_px",
    RESIZE_W * RESIZE_H,
    f"((i // {RESIZE_W}) * {IMG_H} // {RESIZE_H}) * {IMG_W} + ((i % {RESIZE_W}) * {IMG_W} // {RESIZE_W})",
)}
SELECT f.media_id, CAST({IMG_W} AS INTEGER) AS width, CAST({IMG_H} AS INTEGER) AS height,
       CAST(f.sr AS DOUBLE) / {IMG_W * IMG_H} AS mean_r,
       CAST(f.sg AS DOUBLE) / {IMG_W * IMG_H} AS mean_g,
       CAST(f.sb AS DOUBLE) / {IMG_W * IMG_H} AS mean_b,
       CAST(r.sr AS DOUBLE) / {RESIZE_W * RESIZE_H} AS r8_mean_r,
       CAST(r.sg AS DOUBLE) / {RESIZE_W * RESIZE_H} AS r8_mean_g,
       CAST(r.sb AS DOUBLE) / {RESIZE_W * RESIZE_H} AS r8_mean_b
FROM full_px f JOIN r8_px r USING (media_id)
"""


def synthesize_ppm_payloads(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(media_id, payload) rows: a deterministic {IMG_W}x{IMG_H} RGB raster
    per id, encoded as REAL binary PPM bytes inside an Arrow-batched
    ``mapInPandas`` — the ingest half of the executable decode path.  The
    raster is the closed-form byte pattern the oracle states in SQL."""
    enc = encode_ppm
    w, h = IMG_W, IMG_H

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        j = np.arange(h * w * 3, dtype=np.int64)
        for pdf in batches:
            payloads = [
                enc(((int(mid) * 31 + j) % 256).astype(np.uint8).reshape(h, w, 3))
                for mid in pdf[id_col]
            ]
            yield pd.DataFrame({"media_id": pdf[id_col], "payload": payloads})

    return ids.select(F.col(id_col)).mapInPandas(
        generate, schema="media_id long, payload binary"
    )


@register(
    "media_image_stats",
    oracle=_IMAGE_STATS_ORACLE,
    tags=("datapipe", "multimodal", "r10"),
)
def q_media_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTABLE image decode end-to-end (round-5 brief: make one decode
    path real): per-media dimensions + per-channel means of a binary PPM
    payload, plus the means after a nearest-neighbor {RESIZE_W}x{RESIZE_H}
    resize — decode → transform → re-decode, all through the pure-Python
    codec (``decode_image`` / ``resize_image``), no codec library.

    Differential design: payloads are real PPM **bytes** built from a
    closed-form pixel pattern; Spark's stats come from PARSING those bytes
    (magic, header tokens, raster offset, shape), while the DuckDB oracle
    evaluates the closed form directly and never sees the codec — so a
    header-offset bug, a shape transpose, or a channel swap in either
    decode or the resize index map breaks the hash match.  Means divide an
    exact integer sum once (same association both engines).

    Scale: two stateless ``mapInPandas`` stages (encode / decode+stats)
    with only scalars surviving the second — payload bytes cross one Arrow
    boundary and are dropped before any shuffle, the discipline that
    matters when payloads are MBs: zero shuffles in the whole plan."""
    dec, rsz = decode_image, resize_image
    rw, rh = RESIZE_W, RESIZE_H

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = dec(payload)
                small = dec(rsz(payload, rw, rh))
                fm = img.astype(np.int64).sum(axis=(0, 1)) / (img.shape[0] * img.shape[1])
                rm = small.astype(np.int64).sum(axis=(0, 1)) / (rw * rh)
                rows.append(
                    (mid, img.shape[1], img.shape[0], fm[0], fm[1], fm[2], rm[0], rm[1], rm[2])
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height",
                    "mean_r", "mean_g", "mean_b",
                    "r8_mean_r", "r8_mean_g", "r8_mean_b",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    payloads = synthesize_ppm_payloads(docs)
    return payloads.mapInPandas(
        stats,
        schema=(
            "media_id long, width int, height int, "
            "mean_r double, mean_g double, mean_b double, "
            "r8_mean_r double, r8_mean_g double, r8_mean_b double"
        ),
    )


# --- executable audio decode (WAV/PCM, no external library) --------------------

AUDIO_N_SAMPLES = 256
AUDIO_RATE = 8000  # Hz


def _build_audio_codec():
    """Factory for the pure-Python WAV (RIFF/PCM) codec — same closure
    discipline as ``_build_image_codec`` (pickled by value for Spark
    workers).  Parses the actual chunk structure (RIFF header, ``fmt ``
    chunk fields, ``data`` chunk scan past any extra chunks) rather than
    assuming a fixed 44-byte layout."""
    import numpy as np
    import struct

    def encode_wav(samples, rate: int) -> bytes:
        """int16 mono PCM → WAV bytes (canonical 44-byte header)."""
        pcm = np.asarray(samples, dtype="<i2").tobytes()
        hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        return hdr + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm

    def decode_audio(payload: bytes):
        """WAV payload → (samples: int16 ndarray, rate).  16-bit mono PCM
        only; compressed codecs raise NotImplementedError (the deployment
        seam, like JPEG/H.264 on the image/video side)."""
        buf = bytes(payload)
        if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            raise NotImplementedError(
                f"unsupported audio container (magic {buf[:4]!r}); wire a codec library here"
            )
        pos = 12
        rate = None
        channels = None
        bits = None
        audio_fmt = None
        while pos + 8 <= len(buf):
            cid = buf[pos : pos + 4]
            size = struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
            body = buf[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
                bits = struct.unpack("<H", body[14:16])[0]
            elif cid == b"data":
                if audio_fmt != 1 or channels != 1 or bits != 16:
                    raise NotImplementedError(
                        f"only 16-bit mono PCM supported (fmt={audio_fmt}, ch={channels}, bits={bits})"
                    )
                if len(body) != size:
                    raise ValueError(f"truncated WAV data chunk: {len(body)} of {size} bytes")
                return np.frombuffer(body, dtype="<i2"), rate
            pos += 8 + size + (size & 1)  # chunks pad to even offsets
        raise ValueError("no data chunk found in WAV payload")

    return encode_wav, decode_audio


encode_wav, decode_audio = _build_audio_codec()


#: sample i of media m is ``((m * 7 + i * 13) % 65536) - 32768`` — the same
#: differential design as the image tier: Spark parses real RIFF bytes, the
#: oracle evaluates the closed form and never sees the codec.
_AUDIO_STATS_ORACLE = f"""
WITH s AS (
  SELECT doc_id AS media_id,
         ((doc_id * 7 + i * 13) % 65536) - 32768 AS v
  FROM documents, UNNEST(range({AUDIO_N_SAMPLES})) AS u(i)
)
SELECT media_id,
       CAST({AUDIO_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST({AUDIO_RATE} AS INTEGER) AS sample_rate,
       CAST({AUDIO_N_SAMPLES} * 1000000 / {AUDIO_RATE} AS BIGINT) AS duration_us,
       CAST(SUM(v) AS BIGINT) AS sum_pcm,
       CAST(MAX(abs(v)) AS INTEGER) AS peak,
       sqrt(CAST(SUM(v * v) AS DOUBLE) / {AUDIO_N_SAMPLES}) AS rms
FROM s GROUP BY media_id
"""


@register(
    "media_audio_stats",
    oracle=_AUDIO_STATS_ORACLE,
    tags=("datapipe", "multimodal", "r10"),
)
def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTABLE audio decode end-to-end: per-media sample count, duration,
    peak, DC sum, and RMS of a 16-bit mono PCM WAV payload — real RIFF
    chunk parsing (fmt/data scan, even-offset padding) through the
    pure-Python codec, completing the multimodal tier's executable paths
    (image: PPM/BMP; audio: WAV/PCM; video codecs remain the documented
    seam).

    Differential design as ``media_image_stats``: payloads are real WAV
    BYTES from a closed-form sample pattern; Spark's stats come from
    parsing those bytes, the oracle evaluates the closed form — a chunk
    offset/endianness/signedness bug breaks the hash.  RMS is sqrt (IEEE
    correctly-rounded) of an exact int64 mean; everything else is exact
    integers.  Zero shuffles: two stateless mapInPandas stages, payloads
    dropped before any exchange."""
    enc, dec = encode_wav, decode_audio
    n, rate = AUDIO_N_SAMPLES, AUDIO_RATE

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(n, dtype=np.int64)
        for pdf in batches:
            payloads = [
                enc((((int(mid) * 7 + i * 13) % 65536) - 32768).astype("<i2"), rate)
                for mid in pdf["media_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, r = dec(payload)
                x = samples.astype(np.int64)
                rows.append(
                    (
                        mid,
                        len(x),
                        r,
                        len(x) * 1_000_000 // r,
                        int(x.sum()),
                        int(np.abs(x).max()),
                        float(np.sqrt((x * x).sum() / len(x))),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "sample_rate", "duration_us",
                    "sum_pcm", "peak", "rms",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return (
        docs.mapInPandas(generate, schema="media_id long, payload binary")
        .mapInPandas(
            stats,
            schema=(
                "media_id long, n_samples long, sample_rate int, duration_us long, "
                "sum_pcm long, peak int, rms double"
            ),
        )
    )


# --- executable video frame sampling (Y4M container, no external library) ------

VID_W = 4
VID_H = 4
VID_N_FRAMES = 6
VID_STRIDE = 2  # keep every 2nd frame
_Y4M_FRAME_BYTES = VID_W * VID_H * 3 // 2  # C420: Y + U/4 + V/4


def _build_video_codec():
    """Factory for the pure-Python Y4M (YUV4MPEG2) demuxer — the
    uncompressed video container (plain-text stream header, per-frame
    ``FRAME`` markers, raw planar YUV).  Same closure discipline as the
    image/audio codecs.  This makes ``sample_frames`` EXECUTABLE for raw
    video; compressed codecs (H.264 etc.) remain the deployment seam."""

    def parse_y4m(payload: bytes):
        """Y4M payload → (width, height, [frame_bytes...]).  C420 only."""
        buf = bytes(payload)
        if not buf.startswith(b"YUV4MPEG2"):
            raise NotImplementedError(
                f"unsupported video container (magic {buf[:9]!r}); wire a codec library here"
            )
        nl = buf.index(b"\n")
        w = h = None
        colorspace = "C420"
        for tok in buf[9:nl].split():
            if tok[:1] == b"W":
                w = int(tok[1:])
            elif tok[:1] == b"H":
                h = int(tok[1:])
            elif tok[:1] == b"C":
                colorspace = tok.decode()
        if w is None or h is None:
            raise ValueError("Y4M header missing W/H")
        if not colorspace.startswith("C420"):
            raise NotImplementedError(f"only C420 Y4M supported, got {colorspace}")
        frame_bytes = w * h * 3 // 2
        frames = []
        pos = nl + 1
        while pos < len(buf):
            if buf[pos : pos + 5] != b"FRAME":
                raise ValueError(f"expected FRAME marker at byte {pos}")
            fnl = buf.index(b"\n", pos)
            start = fnl + 1
            frame = buf[start : start + frame_bytes]
            if len(frame) != frame_bytes:
                raise ValueError(
                    f"truncated frame: {len(frame)} of {frame_bytes} bytes at {start}"
                )
            frames.append(frame)
            pos = start + frame_bytes
        return w, h, frames

    def encode_y4m(frames, w: int, h: int) -> bytes:
        out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)
        for f in frames:
            assert len(f) == w * h * 3 // 2
            out += b"FRAME\n" + bytes(f)
        return out

    def sample_frames_y4m(payload: bytes, every_n: int):
        _w, _h, frames = parse_y4m(payload)
        return [f for i, f in enumerate(frames) if i % every_n == 0]

    return parse_y4m, encode_y4m, sample_frames_y4m


parse_y4m, encode_y4m, _sample_frames_y4m = _build_video_codec()


def sample_frames(payload: bytes, every_n: int) -> list[bytes]:
    """Sample frames from a video payload.  EXECUTABLE for raw Y4M/C420
    (pure-Python demux above); compressed codecs raise NotImplementedError
    (a deployment wires PyAV/ffmpeg here).  This replaced the former
    always-raising stub — the uncompressed container exercises the real
    demux semantics (stream header, frame markers, plane sizes)."""
    return _sample_frames_y4m(payload, every_n)


#: byte k of frame f of media m is ``(m*11 + f*17 + k*5) % 256`` — the same
#: differential design as the image/audio tiers.
_VIDEO_STATS_ORACLE = f"""
WITH grid AS (
  SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx
  FROM documents, UNNEST(range({VID_N_FRAMES})) AS u(f)
  WHERE f % {VID_STRIDE} = 0
), px AS (
  SELECT media_id, frame_idx, CAST(k AS BIGINT) AS k,
         (media_id * 11 + frame_idx * 17 + k * 5) % 256 AS v
  FROM grid, UNNEST(range({_Y4M_FRAME_BYTES})) AS u(k)
)
SELECT media_id, frame_idx,
       CAST(SUM(CASE WHEN k < {VID_W * VID_H} THEN v ELSE 0 END) AS DOUBLE)
         / {VID_W * VID_H} AS y_mean,
       CAST(SUM(CASE WHEN k >= {VID_W * VID_H} AND k < {VID_W * VID_H + VID_W * VID_H // 4}
                     THEN v ELSE 0 END) AS DOUBLE) / {VID_W * VID_H // 4} AS u_mean,
       CAST(SUM(CASE WHEN k >= {VID_W * VID_H + VID_W * VID_H // 4} THEN v ELSE 0 END) AS DOUBLE)
         / {VID_W * VID_H // 4} AS v_mean
FROM px GROUP BY 1, 2
"""


@register(
    "media_video_frame_stats",
    oracle=_VIDEO_STATS_ORACLE,
    tags=("datapipe", "multimodal", "r10"),
)
def q_media_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTABLE video path end-to-end: a raw Y4M/C420 clip per media is
    DEMUXED for real (stream-header parse, FRAME markers, C420 plane
    arithmetic), every {VID_STRIDE}nd frame sampled via the now-executable
    ``sample_frames``, and per-plane means emitted per kept frame — the
    1→N binary expansion of ``media_frame_manifest`` upgraded from byte
    slicing to true container semantics.  With this, all three modalities
    have an executable decode tier (PPM/BMP, WAV/PCM, Y4M/C420); only
    COMPRESSED codecs remain deployment seams.

    Differential design: payloads are real container bytes from a
    closed-form pattern; Spark parses them, the oracle evaluates the
    closed form — a header-length, frame-offset, or plane-boundary bug
    breaks the hash.  Plane means divide exact int sums once.  Zero
    shuffles: generate and demux are stateless mapInPandas stages."""
    # capture the factory-LOCAL demuxer, not the module-level sample_frames
    # wrapper: module-level defs pickle by reference and workers can't
    # import this package (the /tmp bare-session drive catches this)
    samp = _sample_frames_y4m
    w, h, nf, stride = VID_W, VID_H, VID_N_FRAMES, VID_STRIDE
    fb = _Y4M_FRAME_BYTES
    enc = encode_y4m

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        k = np.arange(fb, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                frames = [
                    ((int(mid) * 11 + f * 17 + k * 5) % 256).astype(np.uint8).tobytes()
                    for f in range(nf)
                ]
                payloads.append(enc(frames, w, h))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ylen = w * h
        clen = ylen // 4
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, frame in enumerate(samp(payload, stride)):
                    x = np.frombuffer(frame, dtype=np.uint8).astype(np.int64)
                    rows.append(
                        (
                            mid,
                            i * stride,
                            x[:ylen].sum() / ylen,
                            x[ylen : ylen + clen].sum() / clen,
                            x[ylen + clen :].sum() / clen,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "y_mean", "u_mean", "v_mean"]
            )

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return (
        docs.mapInPandas(generate, schema="media_id long, payload binary")
        .mapInPandas(
            stats,
            schema="media_id long, frame_idx int, y_mean double, u_mean double, v_mean double",
        )
    )


# --- perceptual image near-dup (dHash + hamming banding) -----------------------

#: dHash geometry: resize to (DHASH_W x DHASH_H) = 9x8 grayscale, compare each
#: pixel to its right neighbor -> 8x8 = 64 difference bits (Krawetz's dHash).
DHASH_W = 9
DHASH_H = 8
DHASH_BITS = 64
PHASH_BANDS = 4  # 4 x 16-bit chunks: hamming <= 3 pairs share >= 1 chunk
PHASH_MAX_HAMMING = 3
#: every VARIANT_MOD-th media also emits a one-byte-perturbed twin at
#: media_id + VARIANT_OFFSET — constructed near-identical images, so the
#: perceptual tier has guaranteed sub-threshold pairs that BYTE-exact dedup
#: (media_chunk_dedup) cannot see
VARIANT_MOD = 4
VARIANT_OFFSET = 1_000_000


def _build_dhash():
    """Factory for the dHash closure — same pickling discipline as
    ``_build_image_codec``: anything shipped to Spark Python workers must be
    a closure (pickled by VALUE), never a module-level function (pickled by
    reference, which breaks when workers can't import this package)."""
    dec, rsz = decode_image, resize_image
    dw, dh_, bits_w = DHASH_W, DHASH_H, DHASH_W - 1

    def dhash64(payload: bytes) -> int:
        """Difference hash of an image payload: decode, nearest-neighbor
        resize to {DHASH_W}x{DHASH_H}, integer grayscale ((r+g+b)//3), bit
        (r, c) set iff gray[r][c] > gray[r][c+1].  Pure integer pipeline —
        bit-reproducible across partitionings and engines."""
        import numpy as np

        small = dec(rsz(payload, dw, dh_))
        gray = small.astype(np.int64).sum(axis=2) // 3
        bits = gray[:, :-1] > gray[:, 1:]
        out = 0
        for r in range(dh_):
            for c in range(bits_w):
                if bits[r, c]:
                    out |= 1 << (r * bits_w + c)
        return out

    return dhash64


dhash64 = _build_dhash()


def _build_mixed_raster():
    """Factory (closure pickling discipline, see ``_build_dhash``)."""

    def _mixed_raster(mid: int, j):
        """Per-(media, byte) MIXED raster (murmur-style multiply-xorshift
        over uint64) — unlike ``synthesize_ppm_payloads``'s linear gradient,
        whose whole family shares one left-to-right brightness profile and
        therefore ONE dHash (perceptually degenerate: every pair reads as a
        near-dup).  Mixed bytes give each media an effectively-random 64-bit
        dHash, so cross-media hamming ≤ PHASH_MAX_HAMMING is vanishingly
        rare and the tier's positives are the constructed twins — the shape
        a real, perceptually-diverse image corpus has."""
        import numpy as np

        # uint64 wraparound is the POINT of a splitmix-style mixer; silence
        # numpy's RuntimeWarning so the suite stays viable under -W error
        with np.errstate(over="ignore"):
            x = np.uint64(mid) * np.uint64(0x9E3779B97F4A7C15) + j * np.uint64(0xC2B2AE3D27D4EB4F)
            x ^= x >> np.uint64(33)
            x *= np.uint64(0xFF51AFD7ED558CCD)
            x ^= x >> np.uint64(29)
        return (x % np.uint64(256)).astype(np.uint8)

    return _mixed_raster


_mixed_raster = _build_mixed_raster()


def synthesize_ppm_with_variants(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(media_id, payload) corpus for the perceptual tier: one mixed
    (perceptually-distinct) raster per id, PLUS a near-identical twin (ONE
    raster byte bumped by +16 mod 256) for every ``VARIANT_MOD``-th id at
    ``id + VARIANT_OFFSET``.  A one-byte change in a {IMG_W}x{IMG_H} raster
    moves one resized grayscale cell, flipping at most two adjacent dHash
    difference bits — the constructed ground truth the tier's tests pin
    exactly."""
    enc = encode_ppm
    w, h = IMG_W, IMG_H
    mod, off = VARIANT_MOD, VARIANT_OFFSET
    mk = _mixed_raster

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        j = np.arange(h * w * 3, dtype=np.uint64)
        for pdf in batches:
            out_ids, payloads = [], []
            for mid in pdf[id_col]:
                raster = mk(int(mid), j)
                out_ids.append(int(mid))
                payloads.append(enc(raster.reshape(h, w, 3)))
                if int(mid) % mod == 0:
                    twin = raster.copy()
                    twin[0] = (int(twin[0]) + 16) % 256
                    out_ids.append(int(mid) + off)
                    payloads.append(enc(twin.reshape(h, w, 3)))
            yield pd.DataFrame({"media_id": out_ids, "payload": payloads})

    return ids.select(F.col(id_col)).mapInPandas(
        generate, schema="media_id long, payload binary"
    )


def dhash_frame(payloads: DataFrame) -> DataFrame:
    """(media_id, phash) — one Arrow pass; payload bytes never survive it."""
    dh = dhash64

    def signed64(p: bytes) -> int:
        # decode+resize+hash ONCE per payload (the dominant per-image cost),
        # then fold the uint64 into int64 range to keep bit 63 intact
        h = dh(p)
        return h - (1 << 64) if h >= (1 << 63) else h

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [signed64(p) for p in pdf["payload"]],
                }
            )

    return payloads.mapInPandas(hashes, schema="media_id long, phash long")


def media_image_neardup_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs (round-6 verdict item 6): dHash over
    the DECODED pixels, banded exactly like ``dedup_simhash`` — extends
    media dedup from byte-exact (``media_chunk_dedup``) to perceptual: a
    re-encoded, slightly-edited, or noise-perturbed copy hashes to within a
    few bits while every byte-level fingerprint changes.

    Pipeline: synthesize payload corpus (with constructed near-identical
    twins, see ``synthesize_ppm_with_variants``) → decode + resize + dHash
    in ONE Arrow pass (payload bytes never reach a shuffle) → 4×16-bit band
    bucketing (pigeonhole: hamming ≤ {PHASH_MAX_HAMMING} < {PHASH_BANDS}
    bands ⇒ some band matches exactly) → bucket self-join on (band, value)
    → ``bit_count(xor)`` verification.  The hash needs the binary decode
    (no SQL form), so exact hamming values are pinned by the golden rows +
    constructed-pair tests in ``test_r12_ops.py`` / ``test_golden_r7.py``;
    the registered ``media_image_neardup_phash`` wraps this detail surface
    with the constructed-twin oracle.

    Scale: identical to the simhash tier — the banded join's candidate set
    is output-bounded (plus band-collision noise), never all-pairs; 64-bit
    hashes shuffle, never pixels.  At 100 TB the synthesize stage is the
    real ingest (payloads already on disk) and the hash pass streams each
    image once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sig = dhash_frame(synthesize_ppm_with_variants(docs))
    return banded_hamming_pairs(sig, "media_id", "phash", PHASH_BANDS, PHASH_MAX_HAMMING)


# --- perceptual audio near-dup (energy-delta fingerprint) ----------------------

#: fingerprint geometry: FP_FRAMES frames of FP_FRAME_LEN samples; bit f set
#: iff frame f's energy exceeds frame f+1's — the energy-delta analog of
#: dHash (Haitsma-Kalker-style robust hashing reduced to one band), robust
#: to small-amplitude perturbations that change every PCM byte.
FP_FRAMES = 65
FP_FRAME_LEN = 4
FP_N_SAMPLES = FP_FRAMES * FP_FRAME_LEN  # 260
FP_BANDS = 4
FP_MAX_HAMMING = 3


def _build_audio_fp():
    """Factory (closure pickling discipline, see ``_build_dhash``)."""
    dec = decode_audio
    frames, flen = FP_FRAMES, FP_FRAME_LEN

    def audio_fp64(payload: bytes) -> int:
        """Energy-delta fingerprint of a WAV payload: decode, exact int64
        energy per frame, bit f = energy[f] > energy[f+1] (64 bits from 65
        frames).  Pure integer pipeline — bit-reproducible."""
        import numpy as np

        samples, _rate = dec(payload)
        x = samples[: frames * flen].astype(np.int64)
        e = (x * x).reshape(frames, flen).sum(axis=1)
        bits = e[:-1] > e[1:]
        out = 0
        for f in range(frames - 1):
            if bits[f]:
                out |= 1 << f
        return out

    return audio_fp64


audio_fp64 = _build_audio_fp()


def _build_mixed_pcm():
    """Factory: per-(media, sample) mixed int16 PCM — acoustically-diverse
    synthetic corpus (same murmur-style mix as the image tier; the
    ``media_audio_stats`` linear pattern is perceptually degenerate for the
    same reason the image gradient is)."""

    def _mixed_pcm(mid: int, i):
        import numpy as np

        # uint64 wraparound is the POINT of a splitmix-style mixer; silence
        # numpy's RuntimeWarning so the suite stays viable under -W error
        with np.errstate(over="ignore"):
            x = np.uint64(mid) * np.uint64(0x9E3779B97F4A7C15) + i * np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(33)
            x *= np.uint64(0xFF51AFD7ED558CCD)
            x ^= x >> np.uint64(29)
        return ((x % np.uint64(65536)).astype(np.int64) - 32768).astype("<i2")

    return _mixed_pcm


_mixed_pcm = _build_mixed_pcm()

#: perturbed-twin frame: the +64-amplitude bump lands entirely inside this
#: frame, so at most its two boundary comparisons flip
FP_TWIN_FRAME = 10


def media_audio_neardup_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup pairs — the acoustic twin of
    ``media_image_neardup_phash``, completing the perceptual dedup family
    across modalities (text: simhash/minhash; image: dHash; audio: this):
    an energy-delta fingerprint over the DECODED PCM pairs re-encoded or
    slightly-perturbed recordings that byte-exact chunk dedup cannot see.

    Corpus: mixed (acoustically-diverse) synthetic PCM per media, plus a
    constructed near-identical twin for every {VARIANT_MOD}-th media
    (+64 amplitude on frame {FP_TWIN_FRAME}'s 4 samples — every PCM byte in
    that region changes, the fingerprint moves ≤ 2 bits).  Pipeline:
    encode → decode + fingerprint in ONE Arrow pass (samples never reach a
    shuffle) → {FP_BANDS}×16-bit band bucketing → ``bit_count(xor)``
    verification, hamming ≤ {FP_MAX_HAMMING}.  Exact fingerprint semantics
    are pinned by golden rows + constructed-pair tests (the binary decode
    has no SQL form), and the registered ``media_audio_neardup_fp`` wraps
    this detail surface with the constructed-twin oracle — same discipline
    as the image tier."""
    enc, fp = encode_wav, audio_fp64
    mk = _mixed_pcm
    mod, off = VARIANT_MOD, VARIANT_OFFSET
    nsamp, rate = FP_N_SAMPLES, AUDIO_RATE
    tw_lo, tw_hi = FP_TWIN_FRAME * FP_FRAME_LEN, (FP_TWIN_FRAME + 1) * FP_FRAME_LEN

    def gen_and_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(nsamp, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for mid in pdf["doc_id"]:
                pcm = mk(int(mid), i)
                ids.append(int(mid))
                fps.append(fp(enc(pcm, rate)))
                if int(mid) % mod == 0:
                    twin = pcm.astype(np.int64)
                    twin[tw_lo:tw_hi] = np.clip(twin[tw_lo:tw_hi] + 64, -32768, 32767)
                    ids.append(int(mid) + off)
                    fps.append(fp(enc(twin.astype("<i2"), rate)))
            fps = [v - (1 << 64) if v >= (1 << 63) else v for v in fps]
            yield pd.DataFrame({"media_id": ids, "phash": fps})

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sig = docs.mapInPandas(gen_and_hash, schema="media_id long, phash long")
    return banded_hamming_pairs(sig, "media_id", "phash", FP_BANDS, FP_MAX_HAMMING)


# --- perceptual video near-dup (per-frame dHash + temporal banding) ------------

#: hashing geometry for the video tier's OWN synthetic corpus: C420 Y4M,
#: Y plane VPH_W x VPH_H per frame.  The plane must be AT LEAST the dHash
#: grid ({DHASH_W}x{DHASH_H}) in both axes: a sub-grid plane makes the
#: nearest-neighbor resize DUPLICATE source columns, every comparison
#: between duplicated columns is constantly false, and the lost hash
#: entropy collapses the 16-bit band buckets 16x — measured at the sf10
#: scale point as a 70x superlinear candidate blowup (915 s for 625k
#: media with an 8x8 plane vs 31 s with this 16x16 one).  The scaling
#: curve exists to catch exactly this.
VPH_W = 16
VPH_H = 16
VPH_N_FRAMES = 6
VPH_STRIDE = 2  # hash every 2nd frame -> VPH_KEPT hashed frames per clip
VPH_KEPT = (VPH_N_FRAMES + VPH_STRIDE - 1) // VPH_STRIDE  # 3
VPH_FRAME_BYTES = VPH_W * VPH_H * 3 // 2
#: total-hamming threshold with a PIGEONHOLE guarantee: two clips within
#: <= VPH_MAX_TOTAL_HAMMING bits summed over VPH_KEPT aligned frames must
#: have SOME frame within floor(9/3) = 3 bits, and a frame within 3 bits
#: shares >= 1 exact 16-bit chunk (the simhash/image-tier argument) — so
#: the (frame_idx, chunk, value) bucketing below misses no true pair.
VPH_MAX_TOTAL_HAMMING = 9
VPH_TWIN_FRAME = 2  # the frame a constructed twin perturbs (kept: 2 % 2 == 0)


def _build_frame_dhash():
    """Factory for the per-frame dHash closure (pickling discipline, see
    ``_build_dhash``): a C420 Y plane is ALREADY grayscale, so the frame
    hash skips the RGB decode and goes straight to nearest-neighbor resize
    to {DHASH_W}x{DHASH_H} + right-neighbor difference bits — the same
    64-bit geometry as the image tier, applied per video frame."""
    dw, dh_ = DHASH_W, DHASH_H

    def frame_dhash64(y_plane: bytes, w: int, h: int) -> int:
        import numpy as np

        y = np.frombuffer(y_plane, dtype=np.uint8).reshape(h, w)
        rows = (np.arange(dh_) * h) // dh_
        cols = (np.arange(dw) * w) // dw
        g = y[np.ix_(rows, cols)].astype(np.int64)
        bits = (g[:, 1:] > g[:, :-1]).flatten()  # 8x8 difference grid
        out = 0
        for f in range(bits.size):
            if bits[f]:
                out |= 1 << f
        return out

    return frame_dhash64


frame_dhash64 = _build_frame_dhash()


def video_phash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, frame_idx, fhash) — synthesize + demux + per-frame dHash in
    ONE Arrow pass (pixel bytes never leave the worker).  Consumed three
    times by ``media_video_neardup_phash`` (banding + both verify joins),
    so the query reads it STAGED (``stage.staged_video_phash``) — the hash
    pass streams each clip once per corpus, not once per consumer branch."""
    enc, demux, fdh = encode_y4m, parse_y4m, frame_dhash64
    mk = _mixed_raster
    mod, off = VARIANT_MOD, VARIANT_OFFSET
    w, h, nf, stride = VPH_W, VPH_H, VPH_N_FRAMES, VPH_STRIDE
    fb = VPH_FRAME_BYTES
    ylen = w * h
    twin_byte = VPH_TWIN_FRAME * fb + 5  # a Y-plane byte of the twin frame

    def gen_and_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        j = np.arange(nf * fb, dtype=np.uint64)

        def hashes(mid: int, raster) -> list[tuple[int, int, int]]:
            payload = enc(
                [raster[f * fb : (f + 1) * fb].tobytes() for f in range(nf)], w, h
            )
            _w, _h, frames = demux(payload)
            out = []
            for i, frame in enumerate(frames):
                if i % stride == 0:
                    v = fdh(frame[:ylen], _w, _h)
                    out.append((mid, i, v - (1 << 64) if v >= (1 << 63) else v))
            return out

        for pdf in batches:
            rows = []
            for mid in pdf["doc_id"]:
                raster = mk(int(mid), j)
                rows.extend(hashes(int(mid), raster))
                if int(mid) % mod == 0:
                    twin = raster.copy()
                    twin[twin_byte] = (int(twin[twin_byte]) + 16) % 256
                    rows.extend(hashes(int(mid) + off, twin))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "fhash"])

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        gen_and_hash, schema="media_id long, frame_idx int, fhash long"
    )


def media_video_neardup_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup pairs — completes the perceptual dedup
    triad begun in r7 (image: ``media_image_neardup_phash``; audio:
    ``media_audio_neardup_fp``): per-frame dHash over the REAL Y4M demux
    (``parse_y4m`` walks stream header + FRAME markers) with TEMPORAL
    banding, pairing re-encoded or slightly-edited clips that byte-exact
    chunk dedup cannot see.

    Corpus: {VPH_N_FRAMES}-frame mixed-raster Y4M clip per media (same
    murmur-style mix as the image tier — per-frame hashes are effectively
    random 64-bit values, so cross-clip collisions are noise), plus a
    constructed near-identical twin for every {VARIANT_MOD}-th media (one
    Y-plane byte of frame {VPH_TWIN_FRAME} bumped +16 mod 256 — only that
    frame's hash moves, by a handful of bits).

    Pipeline: synthesize + demux + hash in ONE Arrow pass (pixel bytes
    never reach a shuffle; every {VPH_STRIDE}nd frame hashed) →
    (frame_idx, 16-bit chunk, value) bucket join — the temporal pigeonhole:
    total hamming ≤ {VPH_MAX_TOTAL_HAMMING} over {VPH_KEPT} aligned frames
    forces some frame ≤ 3 bits, which forces some exact chunk match — →
    exact verification summing ``bit_count(xor)`` over ALL aligned frames.
    Exact hamming semantics are pinned by golden rows + a constructed-pair
    pytest replica (the hash needs the binary demux; no SQL form); the
    registered ``media_video_neardup_phash`` wraps this detail surface
    with the constructed-twin oracle.

    Scale: candidates are output-bounded (plus band-collision noise),
    never all-pairs; per-frame 64-bit hashes shuffle, never pixels; the
    verify join carries |candidate pairs| × {VPH_KEPT} rows.  At 100 TB
    the synthesize stage is the real ingest and the hash pass streams each
    clip once — same shape as the image/audio tiers."""
    from .stage import staged_video_phash

    sig = staged_video_phash(spark, sf_dir)
    chunk_bits = DHASH_BITS // PHASH_BANDS
    mask = (1 << chunk_bits) - 1
    # one row per clip with the frame-hash sequence sorted by frame_idx —
    # carried THROUGH the banding join so candidate verification is an
    # in-row popcount, never a join-back.  The first cut joined each
    # candidate pair back to the signature table twice; past ~2^16 media
    # the 16-bit buckets saturate and random collisions make candidates
    # grow ~n²/2^16 per (frame, chunk) slot, so the join-back dominated —
    # measured at the sf10 scaling point (625k media: 326 s with the
    # join-back, ~60 s in-row).  Carrying VPH_KEPT longs per side is the
    # cheap trade.
    clip = sig.groupBy("media_id").agg(
        F.array_sort(F.collect_list(F.struct("frame_idx", "fhash"))).alias("fh")
    )
    stacked = clip.select(
        "media_id",
        "fh",
        F.explode(
            F.flatten(
                F.transform(
                    "fh",
                    lambda s: F.array(
                        *[
                            F.struct(
                                s["frame_idx"].alias("fi"),
                                F.lit(c).alias("chunk"),
                                F.shiftright(s["fhash"], c * chunk_bits)
                                .bitwiseAND(F.lit(mask).cast("long"))
                                .alias("val"),
                            )
                            for c in range(PHASH_BANDS)
                        ]
                    ),
                )
            )
        ).alias("cv"),
    ).select(
        "media_id", "fh", F.col("cv.fi").alias("fi"), F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val")
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col("a.fh"),
            F.col("b.fh"),
            lambda x, y: F.bit_count(x["fhash"].bitwiseXOR(y["fhash"])),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.fi") == F.col("b.fi"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        # verify BEFORE distinct: the in-row popcount is cheaper than
        # deduplicating the (far larger) unfiltered candidate multiset
        .filter(hamming <= VPH_MAX_TOTAL_HAMMING)
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.size(F.col("a.fh")).cast("int").alias("n_frames"),
            hamming.cast("int").alias("total_hamming"),
        )
        .distinct()
    )


# --- registered perceptual-triad surfaces (constructed-twin oracles) ------------

#: DuckDB twin shared by the three perceptual near-dup queries (round-10
#: oracle-ization): the synthesis PLANTS the ground truth — every
#: ``VARIANT_MOD``-th media gets a near-identical twin at
#: ``id + VARIANT_OFFSET`` and nothing else sits within the hamming
#: threshold at corpus scales up to ~10⁵ media (measured by the 1000×
#: media curve: outputs are exactly the twins at every point below sf10,
#: where ONE genuine 64-bit audio collision appears, as statistics
#: predicts) — so the oracle enumerates the planted pair set from the
#: documents table and asserts the Spark-computed threshold boolean.  A
#: banding bug that drops a twin (missing row) or a hash bug that admits
#: a non-twin (extra row) now fails the driver's hash gate; exact hamming
#: values stay on the ``*_detail`` surfaces with their golden pins.
_MEDIA_TWIN_ORACLE = f"""
SELECT CAST(doc_id AS BIGINT) AS media_a,
       CAST(doc_id + {VARIANT_OFFSET} AS BIGINT) AS media_b,
       TRUE AS hamming_le_max
FROM documents WHERE doc_id % {VARIANT_MOD} = 0
"""


@register(
    "media_image_neardup_phash",
    oracle=_MEDIA_TWIN_ORACLE,
    tags=("datapipe", "multimodal", "dedup", "r12"),
)
def q_media_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the perceptual image near-dup tier: the
    ``media_image_neardup_detail`` pair set with the hamming value
    collapsed to its threshold boolean — hash-checked against the
    constructed-twin oracle (see ``_MEDIA_TWIN_ORACLE``)."""
    return media_image_neardup_detail(spark, sf_dir).select(
        "media_a",
        "media_b",
        (F.col("hamming") <= PHASH_MAX_HAMMING).alias("hamming_le_max"),
    )


@register(
    "media_audio_neardup_fp",
    oracle=_MEDIA_TWIN_ORACLE,
    tags=("datapipe", "multimodal", "dedup", "r12"),
)
def q_media_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the perceptual audio near-dup tier: the
    ``media_audio_neardup_detail`` pair set with the fingerprint hamming
    collapsed to its threshold boolean — hash-checked against the
    constructed-twin oracle."""
    return media_audio_neardup_detail(spark, sf_dir).select(
        "media_a",
        "media_b",
        (F.col("hamming") <= FP_MAX_HAMMING).alias("hamming_le_max"),
    )


@register(
    "media_video_neardup_phash",
    oracle=_MEDIA_TWIN_ORACLE,
    tags=("datapipe", "multimodal", "dedup", "r8"),
)
def q_media_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the perceptual video near-dup tier: the
    ``media_video_neardup_detail`` pair set with the aligned-frame total
    hamming collapsed to its threshold boolean — hash-checked against the
    constructed-twin oracle.  (``n_frames`` is deliberately dropped from
    the registered shape: it is the VPH geometry constant, already pinned
    by the detail goldens.)"""
    return media_video_neardup_detail(spark, sf_dir).select(
        "media_a",
        "media_b",
        (F.col("total_hamming") <= VPH_MAX_TOTAL_HAMMING).alias("hamming_le_max"),
    )
