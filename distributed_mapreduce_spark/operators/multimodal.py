"""Multimodal column plumbing ([EXT] north star): image/audio/video as
opaque binary columns with typed metadata, processed through
Arrow-batched mapInPandas.

The graded *decode* step is a STUB: `decode_stub` produces a
deterministic fake feature vector from the raw bytes, so results never
depend on which media libraries are installed. Everything around the
decoder — schema, binary payload handling, Arrow batch shape,
partitioning — is the real operator shape; a real decoder (Pillow,
pyav) drops into the mapInPandas body unchanged.

Scale notes: payloads ride in the same parquet row group as their
metadata (fine ≤ a few MB each; bigger media belongs in object storage
with a URI column — same operator shape, the mapInPandas body fetches
instead of decodes). mapInPandas streams Arrow batches, so executor
memory is bounded by batch size (session conf caps records/batch),
not partition size.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MODALITIES = ("image", "audio", "video")

FEATURE_DIM = 8

FEATURES_SCHEMA = (
    "doc_id bigint, modality string, n_bytes bigint, features array<double>"
)


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a multimodal fixture from `documents`: payload = UTF-8
    bytes of the text standing in for media bytes, modality assigned
    round-robin, metadata struct alongside."""
    from distributed_mapreduce_spark.sources import table, widen

    docs = widen(table(spark, sf_dir, "documents"))
    modality = (
        F.when(F.pmod("doc_id", F.lit(3)) == 0, MODALITIES[0])
        .when(F.pmod("doc_id", F.lit(3)) == 1, MODALITIES[1])
        .otherwise(MODALITIES[2])
    )
    return docs.select(
        "doc_id",
        modality.alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.col("source").alias("origin"),
            F.octet_length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, modality: str) -> list[float]:
    """Deterministic fake 'decode': an FEATURE_DIM-bucket byte histogram,
    normalized — stable across runs/partitions, shaped like a real
    feature vector so downstream operators are exercised honestly.
    Vectorized (frombuffer + bincount): inside an Arrow batch the
    per-item work must be C-speed, same as a real decoder would be."""
    import numpy as np

    if not payload:
        return [0.0] * FEATURE_DIM
    arr = np.frombuffer(payload, dtype=np.uint8)
    counts = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM)
    return (counts / len(arr)).tolist()


def extract_features(mm: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the binary payload column:
    Arrow-batched, per-partition streaming — the real 100 TB shape for
    Python-side media work."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "features": [
                        decode_stub(bytes(p), m)
                        for p, m in zip(pdf["payload"], pdf["modality"])
                    ],
                }
            )

    return mm.mapInPandas(run, schema=FEATURES_SCHEMA)


FRAME_BYTES = 64
FRAME_STRIDE = 4

FRAMES_SCHEMA = "doc_id bigint, frame_idx bigint, frame binary"

def frame_sample(
    mm: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Frame sampling over video payloads: split each payload into
    fixed-size frames and keep every `stride`-th one — the
    mapInPandas fan-out shape (one input row → many frame rows) a real
    video pipeline uses, with byte-slicing standing in for pyav frame
    extraction.

    Scale notes: fan-out happens inside the Arrow batch, so output
    volume never lands on the driver; a frame row carries only its
    slice, not the whole payload. Partition count carries over from the
    input, so `widen()` upstream governs parallelism."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    ids.append(did)
                    idxs.append(i)
                    frames.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return mm.select("doc_id", "payload").mapInPandas(run, schema=FRAMES_SCHEMA)


