"""Multimodal binary-column plumbing: decode / feature-extract / frame-sample.

Media travel as opaque ``binary`` columns with typed metadata (the pages table
already carries ``html binary`` per input_hint). The image/audio libraries are
not available in this environment, so the decode kernels are STUBS — either
raising NotImplementedError (``strict=True``) or producing a deterministic fake
derived from the content hash (``strict=False``, default: keeps the Spark-side
plumbing — schemas, Arrow batch shapes, partitioning — real and testable).

All kernels run via ``mapInPandas`` so each Arrow batch crosses the JVM↔Python
boundary once; binary payloads stay columnar (no per-row pickling).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic pseudo-features: md5-seeded uniform vector. Placeholder for
    a real encoder (CLIP/whisper/etc.) — NOT a model, just stable plumbing."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    return rng.rand(dim).astype(np.float32)


def default_encoder(dim: int, strict: bool = False):
    """Resolve the best available per-batch encoder at EXECUTOR import time:
    a real image decoder (Pillow → grayscale thumbnail features) when the
    library exists, else the deterministic fake. The import-try runs inside
    the task, so a cluster whose workers carry codec libraries upgrades
    automatically while this sandbox stays green.

    ``strict=True`` guarantees no fake features row-wise: an undecodable
    payload raises instead of falling back to the content-hash fake."""
    try:  # pragma: no cover - codec libs absent in this environment
        import io

        from PIL import Image  # noqa: F401

        def encode(payload: bytes) -> np.ndarray:
            try:
                img = Image.open(io.BytesIO(payload)).convert("L").resize((8, 8))
                v = np.asarray(img, dtype=np.float32).ravel() / 255.0
                out = np.zeros(dim, dtype=np.float32)
                out[: min(dim, v.size)] = v[:dim]
                return out
            except Exception as e:  # undecodable payload
                if strict:
                    raise ValueError(
                        f"strict decode: undecodable payload ({len(payload)} bytes)"
                    ) from e
                return _fake_features(payload, dim)

        return encode
    except ImportError:

        def encode_fake(payload: bytes) -> np.ndarray:
            return _fake_features(payload, dim)

        encode_fake.is_fake = True
        return encode_fake


def decode_and_embed(
    media: DataFrame,
    dim: int = 64,
    id_col: str = "media_id",
    payload_col: str = "payload",
    strict: bool = False,
    encoder=None,
) -> DataFrame:
    """media → (media_id, n_bytes, content_hash, features array<float>).

    ``encoder``: an optional ``bytes -> np.ndarray[dim]`` callable (must be
    picklable — a module-level function or functools.partial) plugged into the
    Arrow batch loop; defaults to :func:`default_encoder`'s resolution (real
    codec when the executor has one, deterministic fake here).
    ``strict=True`` raises NotImplementedError where a real decoder is
    REQUIRED (refuses the fake path).
    """
    schema = f"{id_col} string, n_bytes long, content_hash string, features array<float>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = encoder if encoder is not None else default_encoder(dim, strict)
        if strict and getattr(enc, "is_fake", False):
            raise NotImplementedError(
                "media decode requires an image/audio codec not present in this "
                "environment; pass encoder= or install one on the executors"
            )
        for pdf in batches:
            payloads = [bytes(p) if p is not None else b"" for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype(str),
                    "n_bytes": [len(p) for p in payloads],
                    "content_hash": [hashlib.md5(p).hexdigest() for p in payloads],
                    "features": [enc(p) for p in payloads],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(gen, schema)


def frame_sample(
    media: DataFrame,
    every_s: float = 2.0,
    id_col: str = "media_id",
    duration_col: str = "duration_s",
) -> DataFrame:
    """Video frame-sampling plan: one row per sampled timestamp (the decode of
    the actual frame is the stubbed step). Pure JVM sequence generator."""
    n = F.greatest((F.col(duration_col) / F.lit(every_s)).cast("int"), F.lit(1))
    return media.select(
        id_col,
        F.explode(F.sequence(F.lit(0).cast("long"), (n - 1).cast("long"))).alias("frame_idx"),
    ).withColumn("frame_ts_s", F.col("frame_idx") * F.lit(every_s))


def synthesize_media_from_pages(pages: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the pages table (html bytes play
    the payload): exercises the multimodal schema without external data."""
    return pages.select(
        F.md5(F.col("url")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.col("html").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("doc_id") % 1920 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 1080 + 1).cast("int").alias("height"),
        ((F.col("doc_id") % 600) / 10.0 + 0.1).alias("duration_s"),
    )
