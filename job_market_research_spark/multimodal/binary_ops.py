"""Multimodal (image/audio/video) column plumbing (beyond-reference).

Media payloads ride through Spark as opaque `binary` columns with a
typed metadata struct alongside. The decode / feature-extract / frame-
sample operators are Arrow-batched `mapInPandas` stages — the real
codec calls (PIL/ffmpeg/torchaudio) are NOT available in this
environment, so the decode body is a clearly-marked stub that parses a
deterministic fake "header" instead; the Spark-side contract (schema,
batch iteration, multi-row yield, partitioning) is real and oracle-
checked.

At 100 TB: binary payloads dominate row size → keep them in their own
column (parquet stores it as a separate chunk; scans that don't touch
`content` never read those bytes), repartition by size-balanced key
before the pandas stage, and size Arrow batches via
`spark.sql.execution.arrow.maxRecordsPerBatch`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from job_market_research_spark.io import load
from job_market_research_spark.registry import query


def fake_decode_header(doc_id: int) -> tuple[int, int, int]:
    """Deterministic stand-in for header parsing: (width, height,
    n_frames) derived from the id so the oracle can replay it."""
    return (doc_id % 640) + 16, (doc_id % 480) + 16, (doc_id % 10) + 1


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_id,
           source AS media_kind
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_binary_meta(spark, sf_dir: str) -> DataFrame:
    """Opaque binary column + typed metadata: payload bytes (here the
    utf-8 encoded text standing in for image bytes), byte length,
    content-addressed id, kind tag. All metadata derives JVM-side; the
    binary column itself never crosses into Python."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "content", F.encode("text", "UTF-8")
    )
    return docs.select(
        "doc_id",
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_id"),
        F.col("source").alias("media_kind"),
    )


DECODE_SCHEMA = (
    "doc_id long, width long, height long, n_frames long, decode_status string"
)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: per Arrow batch, emit decode metadata. The
    codec call is stubbed with the deterministic header fake; formats
    with a dependency-free codec decode for real in `real_media`
    through `codecs.decode_media`."""
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "width": (ids % 640) + 16,
                "height": (ids % 480) + 16,
                "n_frames": (ids % 10) + 1,
                "decode_status": "stubbed",
            }
        )


@query(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           doc_id % 640 + 16 AS width,
           doc_id % 480 + 16 AS height,
           doc_id % 10 + 1 AS n_frames,
           'stubbed' AS decode_status
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_decode_stub(spark, sf_dir: str) -> DataFrame:
    """Arrow-batched decode stage: binary rows → mapInPandas →
    metadata rows. Batch shape, output schema and distribution are the
    production contract; only the codec body is stubbed."""
    docs = (
        load(spark, sf_dir, "documents")
        .withColumn("content", F.encode("text", "UTF-8"))
        .select("doc_id", "content")
    )
    return docs.mapInPandas(_decode_batches, schema=DECODE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_fingerprint string"


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Multi-row-per-input pandas stage: every other frame of each
    clip is sampled (frame extraction itself would be the codec call)."""
    for pdf in batches:
        out = []
        for doc_id in pdf["doc_id"]:
            _, _, n_frames = fake_decode_header(int(doc_id))
            for idx in range(0, n_frames, 2):
                out.append((int(doc_id), idx, f"{doc_id}:{idx}"))
        yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame_fingerprint"])


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)
             AS frame_fingerprint
    FROM documents, unnest(range(0, doc_id % 10 + 1, 2)) AS t(f)
    ORDER BY doc_id, frame_idx
    """,
)
def q_multimodal_frame_sample(spark, sf_dir: str) -> DataFrame:
    """Frame sampling as a one-to-many pandas stage (each input row
    yields ceil(n_frames/2) output rows) — the UDTF-shaped multimodal
    operator."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_sample_frames, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = "doc_id long, width long, height long, out_width long, out_height long, resize_status string"

#: Bounding box for the resize target (common vision-model input).
RESIZE_TARGET = 224


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas resize stage: compute aspect-preserving target
    dimensions with pure integer arithmetic (exactly replayable by the
    oracle); the pixel resample itself is the stubbed codec call."""
    for pdf in batches:
        ids = pdf["doc_id"]
        w = (ids % 640) + 16
        h = (ids % 480) + 16
        long_side = pd.concat([w, h], axis=1).max(axis=1)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "width": w,
                "height": h,
                "out_width": (w * RESIZE_TARGET) // long_side,
                "out_height": (h * RESIZE_TARGET) // long_side,
                "resize_status": "stubbed",
            }
        )


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           doc_id % 640 + 16 AS width,
           doc_id % 480 + 16 AS height,
           (doc_id % 640 + 16) * {RESIZE_TARGET}
             // greatest(doc_id % 640 + 16, doc_id % 480 + 16) AS out_width,
           (doc_id % 480 + 16) * {RESIZE_TARGET}
             // greatest(doc_id % 640 + 16, doc_id % 480 + 16) AS out_height,
           'stubbed' AS resize_status
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_resize(spark, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: per-item aspect-preserving fit into a
    224-box. Target-dimension math is integer-exact on both engines;
    only the pixel resample is the stubbed library call. Batch shape
    and schema are the production contract."""
    docs = (
        load(spark, sf_dir, "documents")
        .withColumn("content", F.encode("text", "UTF-8"))
        .select("doc_id", "content")
    )
    return docs.mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)


EMBED_DIM = 8
EMBED_SCHEMA = "doc_id long, embedding array<double>"


def _embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Feature-extraction stage: media bytes → fixed-dim embedding.
    The model forward pass is stubbed with a deterministic projection
    of the id (both engines replay it exactly: integer mod, then one
    IEEE double division)."""
    for pdf in batches:
        ids = pdf["doc_id"]
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "embedding": [
                    [((int(d) * 7 + i) % 97) / 97.0 for i in range(EMBED_DIM)]
                    for d in ids
                ],
            }
        )


@query(
    "multimodal_embed_extract",
    oracle=f"""
    SELECT doc_id, CAST(i AS BIGINT) AS dim_idx,
           ((doc_id * 7 + i) % 97) / 97.0 AS val
    FROM documents, unnest(range(0, {EMBED_DIM})) AS t(i)
    ORDER BY doc_id, dim_idx
    """,
)
def q_multimodal_embed_extract(spark, sf_dir: str) -> DataFrame:
    """Media → embedding column (`array<double>`): the feature-extract
    operator that feeds the ANN / near-dup stages (ml/similarity.py).
    Arrow carries the list column back without row-by-row conversion;
    downstream similarity queries consume the `array<double>` column
    unchanged. For the driver compare the array is posexploded to
    scalar (doc_id, dim_idx, val) rows — the driver canonicalizes by
    sorting every output column and a raw list column is unsortable
    (unhashable in pandas), which is a harness constraint, not a
    change to the operator's produced embedding."""
    docs = (
        load(spark, sf_dir, "documents")
        .withColumn("content", F.encode("text", "UTF-8"))
        .select("doc_id", "content")
    )
    embedded = docs.mapInPandas(_embed_batches, schema=EMBED_SCHEMA)
    return embedded.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "val")
    ).withColumn("dim_idx", F.col("dim_idx").cast("long"))
