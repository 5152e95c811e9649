"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media alongside text. The engine
treats media as `payload binary` plus a typed metadata struct, and runs
decode / feature-extraction / frame-sampling as Arrow-batched
`mapInPandas` stages — the same execution shape real decoders (PIL,
ffmpeg, torchaudio) would use. Those libraries are NOT present in this
environment, so the codec boundary is explicit:

- `decode_media` is the REAL decode entry point and raises
  `NotImplementedError` unless the optional library import succeeds —
  a clearly-marked stub, not a silent fake.
- Everything downstream (feature vectors, frame sampling) works on the
  payload bytes directly, a deterministic pure-numpy stand-in for
  decoded media, so the Spark-side plumbing — schemas, batch
  iteration, partition behavior, UDF signatures — is real and tested
  end-to-end even without codecs.

Scale notes: media ops are `mapInPandas` (narrow — no shuffle; Arrow
batches stream through Python with `spark.sql.execution.arrow
.maxRecordsPerBatch` bounding memory). Feature vectors feed directly
into operators/similarity.py (cosine / LSH top-k) and
dedup.embedding_neardup_pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, kind string, payload binary, "
    "meta struct<mime string, width int, height int, sample_rate int, "
    "n_frames int, n_bytes long>"
)

_KINDS = ["image", "audio", "video"]
_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}

# optional real codec imports (absent in this environment)
try:  # pragma: no cover
    from PIL import Image as _PIL_Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def attach_media(documents: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the documents corpus
    (payload = utf-8 text bytes; kind cycles by |doc_id| mod 3).

    Pure column code — the metadata struct is computed JVM-side; only
    actual decoding ever enters Python.
    """
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]),
        (F.pmod(F.abs(F.col("doc_id")), F.lit(3)) + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "utf-8")
    n_bytes = F.octet_length(payload).cast("long")
    return documents.select(
        "doc_id",
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.element_at(
                F.create_map(
                    *[x for k in _KINDS for x in (F.lit(k), F.lit(_MIMES[k]))]
                ),
                kind,
            ).alias("mime"),
            F.when(kind == "image", (F.pmod(F.abs(F.col("doc_id")), F.lit(64)) + 8).cast("int")).alias("width"),
            F.when(kind == "image", (F.pmod(F.abs(F.col("doc_id")), F.lit(48)) + 8).cast("int")).alias("height"),
            F.when(kind == "audio", F.lit(16_000)).cast("int").alias("sample_rate"),
            F.when(kind == "video", (F.pmod(F.abs(F.col("doc_id")), F.lit(24)) + 2).cast("int")).alias("n_frames"),
            n_bytes.alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media(payload: bytes, kind: str):
    """REAL decode entry point — STUB: requires the codec libraries
    (PIL / ffmpeg / soundfile), which are not available here."""
    if kind == "image" and _HAVE_PIL:  # pragma: no cover
        import io

        return np.asarray(_PIL_Image.open(io.BytesIO(payload)))
    raise NotImplementedError(
        f"real {kind} decoding requires codec libraries not present in "
        "this environment; the pipeline works on the raw payload bytes"
    )


FEATURES_SCHEMA = "doc_id long, kind string, feature array<float>"


def extract_features(
    media: DataFrame, dim: int = 64, dtype: str = "float32"
) -> DataFrame:
    """(doc_id, kind, feature array<float>[dim]): L2-normalized byte
    histogram folded to `dim` bins — the deterministic stand-in for a
    CNN/audio embedding. mapInPandas: narrow, Arrow-batched.

    dtype='float32' (default, the production embedding width) or
    'float64' (bit-exact vs an f64 SQL oracle: counts and the IEEE
    sqrt/divide are identical in numpy and DuckDB)."""
    f64 = dtype == "float64"
    schema = FEATURES_SCHEMA.replace("float", "double") if f64 else FEATURES_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                raw = np.frombuffer(bytes(b), dtype=np.uint8) if b is not None and len(b) else np.zeros(1, np.uint8)
                hist = np.bincount(raw % dim, minlength=dim).astype(np.float64)
                norm = np.linalg.norm(hist)
                vec = hist / norm if norm > 0 else hist
                feats.append((vec if f64 else vec.astype(np.float32)).tolist())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": pdf["kind"], "feature": feats}
            )

    return media.select("doc_id", "kind", "payload").mapInPandas(gen, schema)


def feature_rows(media: DataFrame, dim: int = 64) -> DataFrame:
    """(doc_id, kind, dim, value): the f64 feature vectors exploded to
    scalar rows — the canonicalizable projection the driver harness can
    sort and hash (an array<float> column crashed its pandas lexsort in
    r1), and the shape a SQL oracle can reproduce value-exactly."""
    return extract_features(media, dim, dtype="float64").select(
        "doc_id",
        "kind",
        F.posexplode("feature").alias("dim", "value"),
    ).withColumn("value", F.round(F.col("value"), 6))


FRAMES_SCHEMA = "doc_id long, frame_idx int, frame binary"


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Every n-th frame of each video: payload split into meta.n_frames
    equal chunks (the fake container format), emit (doc_id, frame_idx,
    frame bytes). One input row fans out to ceil(n_frames/every_n) rows
    — a mapInPandas UDTF, still narrow."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame": []}
            for doc_id, b, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                nf = int(meta["n_frames"])
                raw = bytes(b)
                per = max(1, len(raw) // nf)
                for i in range(0, nf, every_n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(raw[i * per : (i + 1) * per])
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "video").mapInPandas(gen, FRAMES_SCHEMA)
