"""Multimodal span processing — the Spark-side plumbing for image/audio
media in the interleaved corpus (BASELINE.json:15 span kinds).

Media payloads are opaque ``binary`` columns with typed metadata. The
image/audio codec libraries are NOT in this container, so the decode kernels
are deterministic fakes behind a clearly marked seam (``_decode_image_stub``)
— the schemas, partitioning, ``mapInPandas`` batch shapes, and UDF signatures
are real and tested; swapping in a real decoder touches only the stub body.

At scale: media rows are processed with ``mapInPandas`` so one Arrow batch
holds many payloads; repartition by doc-bucket before the UDF to even out
payload-size skew (one 4K video must not pin a single Python worker).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id string, span_idx int, kind string, media_ref string, payload binary"
)
FEATURE_SCHEMA = (
    "doc_id string, span_idx int, kind string, media_ref string,"
    " n_bytes int, width int, height int, feature array<float>"
)


def media_spans(docs: DataFrame) -> DataFrame:
    """Explode non-text spans; synthesize a deterministic payload from the
    media_ref (stands in for an object-store fetch — at scale this is a
    binary column already materialized in the Iceberg table)."""
    m = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).filter(F.col("span.kind") != "text")
    return m.select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
        # deterministic fake payload: sha2 of the ref, repeated
        F.to_binary(
            F.repeat(F.sha2(F.col("span.media_ref"), 256), 4), F.lit("hex")
        ).alias("payload"),
    )


def _decode_image_stub(payload: bytes, kind: str = "image") -> tuple[int, int, np.ndarray]:
    """Deterministic decode CONTRACT implementation (no codecs in this
    container). Derives (width, height, 8-dim feature) purely from the
    payload bytes:

    - width  = 64 + (sum of bytes [0, 4))  % 64
    - height = 64 + (sum of bytes [4, 8)) % 64
    - feature = column means of the bytes reshaped (-1, 8), / 255, float32

    These exact values are pinned by tests/test_multimodal_contract.py and
    driver-checked rows-only via the media_feature_extraction entry (which
    projects the feature array to a CSV string — the driver canonicalizer
    cannot sort list-valued columns), so the seam's plumbing (schema,
    batching, ordering) is verified even though the decode itself is
    synthetic. Swap in pil_image_decoder (below) or any
    ``decode_fn(payload, kind)`` for real codecs — nothing else changes.
    """
    b = np.frombuffer(payload, dtype=np.uint8)
    width = int(64 + (int(b[:4].sum()) % 64))
    height = int(64 + (int(b[4:8].sum()) % 64))
    feat = (b[: 8 * (len(b) // 8)].reshape(-1, 8).mean(axis=0) / 255.0).astype(
        np.float32
    )
    return width, height, feat


def pil_image_decoder():
    """Production decode_fn: real image decode via PIL, same contract as the
    stub — ``(payload, kind) -> (width, height, 8-dim float32 feature)``
    where the feature is the column-mean of the 8×8 grayscale thumbnail.

    Returns None when PIL is not importable (this sandbox) — callers fall
    back to the stub; tests exercise this path under
    ``pytest.importorskip("PIL")`` so the seam is covered wherever a codec
    exists."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def decode(payload: bytes, kind: str) -> tuple[int, int, np.ndarray]:
        img = Image.open(io.BytesIO(payload))
        width, height = img.size
        thumb = np.asarray(
            img.convert("L").resize((8, 8)), dtype=np.float32
        )
        return width, height, (thumb.mean(axis=0) / 255.0).astype(np.float32)

    return decode


def extract_media_features(
    media: DataFrame, batch_hint: int = 256, decode_fn=None
) -> DataFrame:
    """mapInPandas feature extraction over media payloads.

    ``decode_fn(payload: bytes, kind: str) -> (width, height, feature)`` is
    the injection seam for real codecs (see pil_image_decoder); the default
    is the deterministic stub contract. Decode is inherently per-payload
    Python — the Arrow batch amortizes the crossing, and the Spark plan
    stays a single narrow map stage."""
    decode = decode_fn if decode_fn is not None else _decode_image_stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats, widths, heights, nbytes = [], [], [], []
            for payload, kind in zip(b["payload"], b["kind"]):
                w, h, f = decode(bytes(payload), kind)
                widths.append(w)
                heights.append(h)
                feats.append([float(x) for x in f])
                nbytes.append(len(payload))
            out = b[["doc_id", "span_idx", "kind", "media_ref"]].copy()
            out["n_bytes"] = pd.Series(nbytes, dtype="int32")
            out["width"] = pd.Series(widths, dtype="int32")
            out["height"] = pd.Series(heights, dtype="int32")
            out["feature"] = feats
            yield out

    return media.mapInPandas(run, FEATURE_SCHEMA)
