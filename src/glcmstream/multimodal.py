"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake (clearly marked); the Spark-side plumbing — binary
schema, mapInPandas batch iteration, metadata struct, partitioning — is
real and tested. On a real cluster the fake decoder body is swapped for
PIL/ffmpeg without touching the plan shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import trim_zip_finders

META_SCHEMA = ("doc_id bigint, n_bytes bigint, width int, height int, "
               "n_frames int, modality string")


def _fake_decode_meta(payload: bytes) -> tuple[int, int, int, str]:
    """STUB decoder: deterministic metadata derived from payload length.

    A real implementation would parse the container header (PNG/JPEG/WAV).
    Kept as a pure function of the bytes so tests and the SQL oracle can
    reproduce it exactly: width = n % 640 + 1, height = (7n) % 480 + 1,
    frames = n % 24 + 1, modality by n % 3.
    """
    n = len(payload)
    return (n % 640 + 1, (7 * n) % 480 + 1, n % 24 + 1,
            ("image", "audio", "video")[n % 3])


def decode_metadata(binary_df: DataFrame) -> DataFrame:
    """mapInPandas over (doc_id, payload) -> typed metadata rows.

    Iterator-of-batches shape: constant memory per task regardless of
    partition size — the correct plumbing for 100TB binary scans.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_finders()
        for pdf in batches:
            metas = [_fake_decode_meta(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "n_bytes": [len(p) for p in pdf["payload"]],
                "width": [m[0] for m in metas],
                "height": [m[1] for m in metas],
                "n_frames": [m[2] for m in metas],
                "modality": [m[3] for m in metas],
            })

    return binary_df.mapInPandas(fn, META_SCHEMA)


def frame_sample_stub(binary_df: DataFrame, every_n: int = 8) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame index.

    Decode of actual frame pixels is NotImplemented in this container; the
    row fan-out, schema and partition behavior are the real deliverable.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_finders()
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": []}
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                nframes = len(p) % 24 + 1
                for idx in range(0, nframes, every_n):
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(idx)
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(fn, "doc_id bigint, frame_idx int")


def resize_stub(binary_df: DataFrame, target: int = 256) -> DataFrame:
    """Resize/downsample plumbing: strided byte sampling to a fixed-size
    "thumbnail" (every k-th payload byte, k = ceil(n/target)).

    The sampling IS the real resize memory/batch shape (bounded output
    per row regardless of payload size — what an image downscale does);
    only pixel decode is faked since the container has no codecs. Output
    carries the sampled length and the byte-sum checksum so a SQL oracle
    can verify the exact strided selection.
    """
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_finders()
        import numpy as np
        for pdf in batches:
            rows = {"doc_id": [], "k": [], "n_sampled": [],
                    "sample_sum": []}
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                n = len(p)
                k = max(1, -(-n // target))
                sampled = np.frombuffer(p, dtype=np.uint8)[::k]
                rows["doc_id"].append(did)
                rows["k"].append(k)
                rows["n_sampled"].append(len(sampled))
                rows["sample_sum"].append(int(sampled.sum()))
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(
        fn, "doc_id bigint, k int, n_sampled int, sample_sum bigint")


def documents_as_binary(spark, sf_dir: str) -> DataFrame:
    """Treat document text bytes as the opaque payload column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
