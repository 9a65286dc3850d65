"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Spark-side design for image/audio/video at 100 TB:
- payloads are ``binary`` columns with a ``metadata`` struct (size, mime,
  dims …) so planning/pruning never touches bytes;
- decode / feature-extract runs in Arrow-batched ``mapInPandas`` — the only
  sanctioned Python boundary in the engine (vectorized, no per-row pickling);
- partitioning: payload frames repartition by a size-aware key upstream so
  batches stay within executor memory.

The actual image/audio codecs are not installed, so
:func:`extract_features` computes a deterministic fake feature vector —
the Spark plumbing (schema, batch iteration, UDF signature) is real and
oracle-tested; swapping in PIL/librosa is a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("head_fp", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def to_binary_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Wrap a text column as an opaque binary payload + metadata struct —
    the canonical multimodal row shape."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.length(payload).alias("n_bytes"),
        F.lit("text/plain").alias("mime"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def extract_features(binary_docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Deterministic fake decoder: n_bytes, md5 of the first 8 bytes, and a
    3-dim 'embedding' [n%7, n%11, n%13] — stands in for real decode while
    exercising the exact mapInPandas batch path production would use.
    """
    import hashlib

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n_bytes.astype("int32"),
                    # fingerprint the lowercase hex of the first 8 payload
                    # bytes: byte-exact AND expressible in the DuckDB oracle
                    # (md5 there is VARCHAR-only, so raw-blob md5 is not)
                    "head_fp": payloads.map(
                        lambda b: hashlib.md5(bytes(b[:8]).hex().encode()).hexdigest()
                    ),
                    "features": n_bytes.map(
                        lambda n: [float(n % 7), float(n % 11), float(n % 13)]
                    ),
                }
            )

    return binary_docs.mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_fp", T.StringType()),
    ]
)


def sample_frames(binary_docs: DataFrame, stride: int = 24, id_col: str = "doc_id") -> DataFrame:
    """Video frame-sampling plumbing (1 row → N rows in mapInPandas).

    Deterministic fake decoder, fully specified so the DuckDB oracle can
    replay it: a payload of n bytes 'decodes' to ``n % 240 + 1`` frames;
    every ``stride``-th frame is sampled; the frame fingerprint is
    md5("<doc_id>:<frame_idx>"). Real ffmpeg/decord plugs into the same
    iterator without touching the plan: batches arrive Arrow-vectorized,
    and the 1→N fan-out happens executor-side (never a driver explode).
    """
    import hashlib

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            fps: list[str] = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                n_frames = len(payload) % 240 + 1
                for idx in range(0, n_frames, stride):
                    ids.append(int(did))
                    idxs.append(idx)
                    fps.append(hashlib.md5(f"{did}:{idx}".encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_fp": pd.Series(fps, dtype="object"),
                }
            )

    return binary_docs.mapInPandas(_sample, schema=FRAME_SCHEMA)


AUDIO_RMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_rms_windows(
    binary_docs: DataFrame, window: int = 64, hop: int = 32
) -> DataFrame:
    """Windowed RMS energy over a binary payload treated as unsigned
    8-bit PCM — the audio-pipeline frame/feature shape (librosa-style
    fixed windows with 50% hop), on the engine's sanctioned Arrow
    boundary. Only FULL windows are emitted (starts 0, hop, 2*hop, ...
    while start + window <= n_bytes).

    Determinism across engines: the per-window sum of squares is EXACT
    int64 (bytes are <=255, window sizes bounded), so
    ``rms = round(sqrt(ss / window), 6)`` feeds sqrt the identical
    double in Spark/numpy and the DuckDB oracle — no float-accumulation
    order anywhere. numpy does the windowing vectorized per Arrow batch;
    a real audio codec would slot in where ``frombuffer`` is.
    """
    import numpy as np

    def _win(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, rms = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                n = len(b)
                starts = range(0, n - window + 1, hop) if n >= window else ()
                sq = b * b
                # exact integer prefix sums -> exact per-window ss
                csum = np.concatenate(([0], np.cumsum(sq)))
                for k, s in enumerate(starts):
                    ss = int(csum[s + window] - csum[s])
                    ids.append(doc_id)
                    widx.append(k)
                    rms.append(round(float(np.sqrt(ss / window)), 6))
            yield pd.DataFrame({"doc_id": ids, "window_idx": widx, "rms": rms})

    return binary_docs.select("doc_id", "payload").mapInPandas(
        _win, schema=AUDIO_RMS_SCHEMA
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def image_dhash(
    raw_frames: DataFrame,
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Perceptual difference hash (dHash) over raw 8-bit grayscale
    frames — the standard near-duplicate image fingerprint: 2×2
    integer-mean downsample to (w/2)×(h/2), then one bit per horizontally
    adjacent cell pair (left < right), row-major. With an 8×8 grid that
    is 7 bits × 8 rows = 56 bits — always a positive int64, so the
    fingerprint is exactly representable in both engines (no unsigned
    wrap games).

    ``raw_frames`` carries ``(id_col, payload binary, meta struct)`` with
    ``payload`` = width*height raw grayscale bytes (``image/x-raw`` —
    the frame format video pipelines hand around; PNG/JPEG ingestion
    swaps a PIL decode into ``_decode`` without touching the plumbing).
    Arrow-batched ``mapInPandas`` end to end: decode (np.frombuffer),
    downsample, and hash are vectorized numpy per batch; zero shuffles —
    the output is one row per input row, partitioning preserved.
    """
    import numpy as np

    w2, h2 = width // 2, height // 2
    if h2 * (w2 - 1) > 63:
        # The fingerprint must fit a signed int64 (LongType); a larger
        # grid would silently wrap the numpy shift (round-6 ADVICE).
        raise ValueError(
            f"dhash grid {width}x{height} needs {h2 * (w2 - 1)} bits; "
            "the LongType fingerprint holds at most 63 — shrink the grid"
        )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for did, payload in zip(b[id_col], b["payload"]):
                px = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(
                    height, width
                )
                # exact integer 2x2 block mean (sum // 4) — the oracle
                # reproduces this arithmetic bit-for-bit
                g = (
                    px[0::2, 0::2].astype(np.int64)
                    + px[1::2, 0::2]
                    + px[0::2, 1::2]
                    + px[1::2, 1::2]
                ) // 4
                bits = (g[:, :-1] < g[:, 1:]).astype(np.int64)
                shifts = (
                    np.arange(h2)[:, None] * (w2 - 1) + np.arange(w2 - 1)[None, :]
                )
                out.append((did, width * height, int((bits << shifts).sum())))
            yield pd.DataFrame(out, columns=["doc_id", "n_bytes", "dhash"])

    return raw_frames.mapInPandas(_hash, DHASH_SCHEMA)


def synth_raw_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
    n_distinct: int = 19,
) -> DataFrame:
    """Deterministic raw-frame synthesis for the dHash pipeline: pixel
    (x, y) of doc d is ``(7*(d % n_distinct) + 13*x + 31*y) % 251`` —
    docs congruent mod ``n_distinct`` share a frame byte-for-byte, so
    near-dup groups exist by construction and the whole payload is
    arithmetic the DuckDB oracle can re-derive. Payload bytes are built
    in the same Arrow boundary the real ingestion would use."""
    import numpy as np

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xs = np.arange(width)[None, :]
        ys = np.arange(height)[:, None]
        for b in batches:
            rows = []
            for did in b[id_col]:
                d = int(did) % n_distinct
                px = ((7 * d + 13 * xs + 31 * ys) % 251).astype(np.uint8)
                rows.append((int(did), px.tobytes()))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    out = df.select(F.col(id_col)).mapInPandas(_synth, schema)
    meta = F.struct(
        F.lit(width * height).alias("n_bytes"),
        F.lit(f"image/x-raw;{width}x{height};L").alias("mime"),
    )
    return out.select("doc_id", "payload", meta.alias("meta"))
