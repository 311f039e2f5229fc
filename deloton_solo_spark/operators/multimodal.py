"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract plumbing over ``mapInPandas`` (Arrow batches).

Per the build brief: image/audio/video decode libraries are not in this
container, so the decode step is a clearly-marked stub
(``fake_decode_meta``) with a deterministic output — but the Spark-side
plumbing (binary column, schema, Arrow batch shape, partition-parallel
mapInPandas) is real and oracle-checked on the deterministic parts.

At 100 TB: binary payloads stay columnar (parquet binary), metadata is
extracted once near the scan, and the pandas stage is the Arrow fast
path — batches of thousands of rows per python call, never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.parity import exact_round
from ..registry import query

META_SCHEMA = "doc_id long, n_bytes long, width long, height long"


def decode_image(payload: bytes) -> object:
    """Real image decode behind a feature gate: decodes with PIL when
    the library is installed (returns a loaded ``PIL.Image``), else
    raises ``NotImplementedError`` — this container has no imaging
    libraries, so the oracle-checked path stays ``fake_decode_meta``
    and a conditional test exercises this branch where PIL exists."""
    try:
        from PIL import Image  # noqa: PLC0415 — feature gate
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires an imaging library (PIL/cv2) not "
            "baked into this container; use fake_decode_meta for "
            "plumbing tests"
        ) from exc
    import io

    img = Image.open(io.BytesIO(payload))
    img.load()
    return img


def real_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """(n_bytes, width, height) via the REAL decoder — same contract as
    ``fake_decode_meta``, so the mapInPandas kernels are swappable."""
    img = decode_image(payload)
    return len(payload), img.width, img.height


def real_decode_meta_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel on the real decoder (PIL feature gate) —
    identical batch shape to ``decode_meta_batches``."""
    for pdf in batches:
        meta = pdf["payload"].map(real_decode_meta)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": meta.map(lambda m: m[0]),
                "width": meta.map(lambda m: m[1]),
                "height": meta.map(lambda m: m[2]),
            }
        )


def fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a decoder: derives (n_bytes, width,
    height) purely from the payload length. Replace with a real decoder
    where the codec libraries exist; the Spark plumbing is unchanged."""
    n = len(payload)
    return n, n % 640, (n * 7) % 480


def decode_meta_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow-batched 'decode' producing metadata."""
    for pdf in batches:
        meta = pdf["payload"].map(fake_decode_meta)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": meta.map(lambda m: m[0]),
                "width": meta.map(lambda m: m[1]),
                "height": meta.map(lambda m: m[2]),
            }
        )


def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: 'resize' to a byte budget — the real
    transform would decode→scale→re-encode; the deterministic stand-in
    truncates the payload to the budget so the byte-level plumbing
    (binary in, binary out, Arrow both ways) is exercised and checked."""
    budget = 4096
    for pdf in batches:
        resized = pdf["payload"].map(lambda b: b[:budget])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload_out": resized,
                "n_bytes_out": resized.map(len),
                "width": 128,
                "height": 96,
            }
        )


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           LEAST(octet_length(encode(text)), 4096) AS n_bytes_out,
           128 AS width, 96 AS height
    FROM documents
    """,
    tags=("multimodal", "extension"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → binary transform stage (image resize stand-in): Arrow
    batches in AND out, new typed metadata attached. The oracle checks
    the deterministic envelope (sizes/dims); payload bytes round-trip
    is covered by n_bytes_out."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    out = docs.mapInPandas(
        resize_batches,
        "doc_id long, payload_out binary, n_bytes_out long, "
        "width int, height int",
    )
    return out.select("doc_id", "n_bytes_out", "width", "height")


N_FRAMES = 8


def frame_sample_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: uniform frame sampling from a 'video'
    payload — one output row per sampled frame (row-expanding kernel;
    a real decoder would emit frame bytes at these offsets)."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            k = min(N_FRAMES, n)
            for i in range(k):
                rows.append((doc_id, i, i * n // k))
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_no", "frame_offset"]
        )


@query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id, i AS frame_no,
           (i * n) // k AS frame_offset
    FROM (
      SELECT doc_id, octet_length(encode(text)) AS n,
             LEAST({N_FRAMES}, octet_length(encode(text))) AS k
      FROM documents
    ), UNNEST(range(0, k)) AS t(i)
    """,
    tags=("multimodal", "extension"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding multimodal stage (video frame sampling stand-in):
    one input payload → k frame rows with byte offsets, via an Arrow
    mapInPandas kernel. Partition-parallel; no shuffle — frame
    expansion happens where the payload bytes already live."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return docs.mapInPandas(
        frame_sample_batches, "doc_id long, frame_no long, frame_offset long"
    )


def feature_extract_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: payload → fixed-width feature vector
    (embedding-model stand-in, deterministic in payload length)."""
    for pdf in batches:
        n = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "feat_0": ((n * 31) % 97) / 97.0,
                "feat_3": ((n * 31 + 21) % 97) / 97.0,
                "feat_7": ((n * 31 + 49) % 97) / 97.0,
                "n_features": 8,
            }
        )


@query(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id,
           ((octet_length(encode(text)) * 31) % 97) / 97.0 AS feat_0,
           ((octet_length(encode(text)) * 31 + 21) % 97) / 97.0 AS feat_3,
           ((octet_length(encode(text)) * 31 + 49) % 97) / 97.0 AS feat_7,
           8 AS n_features
    FROM documents
    """,
    tags=("multimodal", "extension"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stage (the embed step of a multimodal
    pipeline): payload bytes → numeric feature columns through the
    Arrow batch path. A real model swaps into the same kernel; the
    deterministic stand-in keeps it oracle-checked."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return docs.mapInPandas(
        feature_extract_batches,
        "doc_id long, feat_0 double, feat_3 double, feat_7 double, "
        "n_features int",
    )


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           octet_length(encode(text)) % 640 AS width,
           (octet_length(encode(text)) * 7) % 480 AS height
    FROM documents
    """,
    tags=("multimodal", "extension"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text → binary payload (stand-in for an
    image/audio blob) → mapInPandas 'decode' extracting typed metadata.
    The fake decoder is deterministic in payload length, so the whole
    Arrow round-trip is oracle-checked."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return docs.mapInPandas(decode_meta_batches, META_SCHEMA)


# X96 — perceptual-hash image dedup (plumbing with deterministic hash) ----
def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: binary payload → 64-bit content fingerprint.
    A REAL deployment swaps in a perceptual hash (pHash/dHash over the
    decoded image — tolerant to re-encoding and resizing); this
    container has no codec, so the deterministic stand-in fingerprints
    the raw payload bytes (md5/16 hex = 64 bits). The dedup pipeline
    downstream — fingerprint, group, keep-canonical — is the real
    shape either way."""
    import hashlib

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "phash": pdf["payload"].map(
                    lambda b: hashlib.md5(bytes(b)).hexdigest()[:16]
                ),
            }
        )


@query(
    "multimodal_phash_dedup",
    oracle="""
    SELECT substr(md5(text), 1, 16) AS phash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_doc
    FROM documents
    GROUP BY phash
    HAVING COUNT(*) >= 2
    """,
    tags=("multimodal", "dedup", "extension"),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: image-payload dedup — binary blobs fingerprinted by an
    Arrow-batched hash kernel, duplicate groups (≥2 payloads sharing a
    fingerprint) reported with the canonical keeper (lowest doc_id).
    The multimodal leg of the dedup family: the text operators dedup
    on content hashes computed JVM-side; binary media needs the decode
    /-fingerprint step in Python, which runs here as the same
    ``mapInPandas`` fast path as the other multimodal kernels.

    Scale shape: fingerprinting is a narrow Arrow pass fused over the
    scan; the shuffle carries (16-hex, doc_id) — never payload bytes —
    into one partial-agg exchange. Swap ``phash_batches``'s stand-in
    for a real pHash and nothing else changes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    ph = docs.mapInPandas(phash_batches, "doc_id long, phash string")
    return (
        ph.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# X186 — audio-style windowed energy features -------------------------------
#: audio stand-in framing: bytes per frame and the silence cut.
AUDIO_FRAME_BYTES = 256
AUDIO_SILENCE_RMS = 60.0


def audio_energy_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Row-expanding Arrow kernel: payload → one row per
    {AUDIO_FRAME_BYTES}-byte frame with its RMS energy — the
    windowed-feature shape of real audio pipelines (VAD, loudness
    normalization), computed on the deterministic byte stand-in so it
    stays oracle-checked. Integer sum of squares (order-free, exact),
    ONE double division + sqrt (IEEE correctly-rounded), decimal-repr
    HALF_UP rounding to match the engines' decimal cast."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            for fi in range(0, (n + AUDIO_FRAME_BYTES - 1) // AUDIO_FRAME_BYTES):
                chunk = payload[
                    fi * AUDIO_FRAME_BYTES : (fi + 1) * AUDIO_FRAME_BYTES
                ]
                s = sum(b * b for b in chunk)
                rms = math.sqrt(s / len(chunk))
                rms_r = float(
                    Decimal(repr(rms)).quantize(
                        Decimal("0.000001"), ROUND_HALF_UP
                    )
                )
                rows.append(
                    (
                        int(doc_id),
                        fi,
                        len(chunk),
                        rms_r,
                        rms_r < AUDIO_SILENCE_RMS,
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "frame_idx",
                "frame_bytes",
                "rms_energy",
                "is_silence",
            ],
        )


@query(
    "multimodal_audio_energy",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0
    ),
    frames AS (
      SELECT doc_id, text, n, CAST(u.i AS BIGINT) AS frame_idx,
             CAST(u.i * {AUDIO_FRAME_BYTES} AS BIGINT) AS off,
             CAST(LEAST(n - u.i * {AUDIO_FRAME_BYTES},
                        {AUDIO_FRAME_BYTES}) AS BIGINT) AS flen
      FROM d, UNNEST(range(0,
        CAST(CEIL(n / {AUDIO_FRAME_BYTES}.0) AS BIGINT))) AS u(i)
    ),
    e AS (
      SELECT f.doc_id, f.frame_idx, f.flen,
             SUM(ascii(substr(f.text, CAST(f.off + j.j AS INTEGER), 1))
                 * ascii(substr(f.text, CAST(f.off + j.j AS INTEGER), 1)))
               AS ss
      FROM frames f, UNNEST(range(1, {AUDIO_FRAME_BYTES} + 1)) AS j(j)
      WHERE j.j <= f.flen
      GROUP BY f.doc_id, f.frame_idx, f.flen
    )
    SELECT doc_id, frame_idx, CAST(flen AS BIGINT) AS frame_bytes,
           CAST(ROUND(CAST(sqrt(CAST(ss AS DOUBLE) / flen)
                           AS DECIMAL(28,10)), 6) AS DOUBLE) AS rms_energy,
           CAST(ROUND(CAST(sqrt(CAST(ss AS DOUBLE) / flen)
                           AS DECIMAL(28,10)), 6) AS DOUBLE)
             < {AUDIO_SILENCE_RMS} AS is_silence
    FROM e
    """,
    tags=("multimodal", "extension"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X186: AUDIO-STYLE windowed features — the sixth multimodal
    stage: payload framed into {AUDIO_FRAME_BYTES}-byte windows, each
    scored with RMS energy and a silence verdict (the VAD /
    loudness-normalization front end of an audio curation pipeline).
    Per the module's stub discipline, the "samples" are the
    deterministic byte stand-in (ASCII codes of the utf-8 payload), so
    the whole kernel is oracle-checked; a real PCM decoder swaps into
    the same row-expanding kernel contract.

    Float discipline: per-frame sum of squares is an exact integer
    (order-free); one double division + correctly-rounded sqrt; the
    kernel rounds via decimal-repr HALF_UP — the same rule as Spark's
    double→decimal cast (streaming_ewma precedent).

    Plan: partition-parallel mapInPandas over Arrow batches (binary
    in, frames out) — no shuffle at all; output cardinality is
    payload-bytes / {AUDIO_FRAME_BYTES}."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
        .filter(F.octet_length("payload") > 0)
    )
    return docs.mapInPandas(
        audio_energy_batches,
        "doc_id long, frame_idx long, frame_bytes long, "
        "rms_energy double, is_silence boolean",
    )


# X229 — scene-cut detection over frame energies --------------------------------
from ..registry import _REGISTRY as _R  # noqa: E402  (X186 registered above)

#: energy-delta threshold for a declared cut.
SCENE_CUT_DELTA = 20.0


@query(
    "multimodal_scene_cut",
    oracle=f"""
    WITH fr AS (
      SELECT doc_id, frame_idx, rms_energy
      FROM ({_R["multimodal_audio_energy"].oracle})
    ),
    d AS (
      SELECT doc_id, frame_idx, rms_energy,
             lag(rms_energy) OVER (PARTITION BY doc_id
                                   ORDER BY frame_idx) AS prev_rms
      FROM fr
    )
    SELECT doc_id, frame_idx, rms_energy,
           CAST(ROUND(CAST(ABS(rms_energy - prev_rms)
                AS DECIMAL(28,10)), 6) AS DOUBLE) AS energy_delta,
           COALESCE(ABS(rms_energy - prev_rms) > {SCENE_CUT_DELTA},
                    FALSE) AS is_cut
    FROM d
    """,
    tags=("multimodal", "extension"),
)
def multimodal_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X229: SCENE-CUT detection — the seventh multimodal stage: frame
    RMS energies (X186's kernel, embedded verbatim) differenced along
    the frame axis; a jump above {SCENE_CUT_DELTA} marks a cut. This
    is the shot-boundary / silence-transition primitive a video or
    audio curation pipeline samples keyframes at
    (multimodal_frame_sample picks UNIFORM frames; cuts are where the
    informative ones live). First frame of each payload has NULL delta
    and is never a cut.

    Float discipline: the kernel's rms values are already 6-dp
    decimal-repr rounded, so the lag difference is arithmetic on
    identical doubles; the cut flag compares the UNROUNDED delta both
    engines; the reported delta rounds 6 dp.

    Plan: the frame table keeps X186's partition-parallel
    mapInPandas shape; the differencing is ONE per-doc PARTITIONED
    lag window (frames per doc are payload-bounded) — no global
    window, no second kernel pass."""
    from pyspark.sql import Window

    fr = multimodal_audio_energy(spark, sf_dir).select(
        "doc_id", "frame_idx", "rms_energy"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = fr.withColumn("prev_rms", F.lag("rms_energy").over(w))
    delta = F.abs(F.col("rms_energy") - F.col("prev_rms"))
    return d.select(
        "doc_id",
        "frame_idx",
        "rms_energy",
        exact_round(delta, 6).alias("energy_delta"),
        F.coalesce(delta > SCENE_CUT_DELTA, F.lit(False)).alias("is_cut"),
    )
