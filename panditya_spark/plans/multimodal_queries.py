"""Multimodal-column queries (spec extension; absent from the
reference — see operators/multimodal.py for the design note).

The driver's testdata has no binary media table, so media payloads are
SYNTHESIZED deterministically from `documents.text`: each document's
md5 seed drives a pixel ramp that is encoded into a genuine PNG
container (zlib IDAT, CRC-validated chunks) and a PCM ramp encoded
into a genuine RIFF/WAVE container. The featurizers then REALLY parse
those containers back — dimensions from IHDR, samples from the RIFF
chunk walk — so the whole decode→featurize path (mapInPandas over
Arrow batches with a BINARY column) exercises a true codec while
staying oracle-checkable: the deterministic generation is md5 + ramp
arithmetic DuckDB replays exactly (integer pixel/PCM sums included,
which proves the encode→decode roundtrip preserved the payload).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

from panditya_spark.operators import multimodal as M
from panditya_spark.plans.registry import register, table as _t

_MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def _media(
    spark: SparkSession,
    sf_dir: str,
    kind: str = "image",
    spread_for_decode: bool = False,
) -> DataFrame:
    """documents projected into the opaque-media shape: a REAL PNG or
    WAV container synthesized per document (deterministic md5-seeded
    content), BINARY payload plus string id. Synthesis is its own
    mapInPandas stage so the downstream featurizer parses a genuine
    binary column it did not produce.

    spread_for_decode: retained for callers that want the FULL-core
    round-robin spread of the raw (id, text) rows; the default path
    now always applies a VOLUME-SIZED spread instead (r16, guide
    §2.5/§4): mapInPandas parallelism equals upstream partition count,
    so a single-file media table ran the whole synth → codec →
    featurize chain on ONE task (measured 1.7-1.9 s at sf0.1). But
    the three chained MapInPandas stages each hold a Python worker per
    task, so spreading a 2000-row input to all 32 cores spawns ~96
    workers whose startup/pipe overhead eats the win (measured A/B at
    sf0.1, warm min-of-2: no spread 1.90 s, 32-way 1.68-2.19 s flat,
    8-way 0.85 s, 4-way 0.96 s). The target therefore scales with
    input bytes (~1 task per 100 KB of source parquet, floor 2, cap
    defaultParallelism) — tiny inputs get modest parallelism, bigger
    tiers grow toward the full core count, and at 100 TB the scan
    already has ≥ cores splits so the spread is a no-op."""
    import os

    docs = _t(spark, sf_dir, "documents")
    # Project BEFORE any spread so only (id, text) ever moves.
    slim = docs.select(
        F.col("doc_id").cast("string").alias("media_id"), "text"
    )
    cores = spark.sparkContext.defaultParallelism
    if spread_for_decode:
        target = cores
    else:
        try:
            files = slim.inputFiles()
            nbytes = sum(
                os.path.getsize(f.removeprefix("file:")) for f in files
            )
            target = (
                max(2, min(cores, nbytes // (100 << 10)))
                if 0 < len(files) < cores
                else 0
            )
        except Exception:  # non-file source — leave as-is
            target, files = 0, []
        if target and len(files) >= target:
            target = 0
    if target:
        slim = slim.repartition(target)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if kind == "image":
                payloads = [
                    M.encode_png(M.generate_pixels(t)) for t in pdf["text"]
                ]
            else:
                payloads = [
                    M.encode_wav(M.generate_samples(t)) for t in pdf["text"]
                ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    return slim.mapInPandas(synth, _MEDIA_SCHEMA)


# ---------------------------------------------------------------- decode+featurize
# Extension op: image decode + feature extraction via mapInPandas
# (operators/multimodal.py image_features). The payload is a genuine
# PNG; the featurizer parses IHDR/IDAT (CRC-checked, de-filtered) and
# sums decoded pixels. The oracle recomputes dimensions and the exact
# pixel sum from the deterministic generation — equality proves the
# container roundtrip preserved every pixel.
@register(
    "mm_image_features",
    oracle="""
    WITH h AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS hv
      FROM documents
    ),
    d AS (
      SELECT media_id, 16 + hv % 49 AS w, 16 + (hv // 49) % 49 AS ht,
             hv % 256 AS seed
      FROM h
    ),
    u AS (
      SELECT media_id, w, ht, seed, unnest(range(0, w*ht)) AS i FROM d
    )
    SELECT media_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(ht) AS INTEGER) AS height,
           CAST(sum((seed + 7*i) % 256) AS BIGINT) AS px_sum
    FROM u GROUP BY media_id
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = M.image_features(_media(spark, sf_dir, "image"))
    return feats.select("media_id", "width", "height", "px_sum")


# ---------------------------------------------------------------- embedding path
@register("mm_image_embedding")
def mm_image_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurize path incl. the array<float> embedding column (decoded-
    pixel histogram). Rows-only: float-array hashing is engine-
    dependent; tests/test_functions.py asserts the values."""
    feats = M.image_features(_media(spark, sf_dir, "image"))
    return feats.select("media_id", "embedding")


# ------------------------------------- embedding histogram, integer twin
@register(
    "mm_image_embedding_counts",
    oracle="""
    WITH h AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS hv
      FROM documents
    ),
    d AS (
      SELECT media_id, 16 + hv % 49 AS w, 16 + (hv // 49) % 49 AS ht,
             hv % 256 AS seed
      FROM h
    ),
    u AS (
      SELECT media_id, unnest(range(0, w*ht)) AS i, w, ht, seed FROM d
    ),
    c AS (
      SELECT media_id, ((seed + 7*i) % 256) % 8 AS pos, count(*) AS cnt
      FROM u GROUP BY 1, 2
    ),
    slots AS (
      SELECT media_id, unnest(range(0, 8)) AS pos FROM d
    )
    SELECT s.media_id, CAST(s.pos AS INTEGER) AS pos,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM slots s LEFT JOIN c ON s.media_id = c.media_id AND s.pos = c.pos
    """,
)
def mm_image_embedding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level driver row for the embedding path (VERDICT r7
    rows-only list — mm_image_embedding's twin): the embedding is an
    L1-normalized histogram of decoded-pixel residues (mod 8), so
    multiplying each component back by the pixel count recovers the
    EXACT integer bin counts (float32 keeps count/total to ~6e-8
    relative — far inside the 0.5 rounding margin at <=65k pixels per
    image). The oracle recomputes every bin from the deterministic
    ramp ((seed + 7i) % 256), so the decode, the residue fold, the
    normalization, and the array assembly are all value-checked bin
    by bin; mm_image_embedding stays the float-array surface."""
    feats = M.image_features(_media(spark, sf_dir, "image"))
    return feats.select(
        "media_id",
        (F.col("width") * F.col("height")).alias("_npx"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "media_id",
        F.col("pos").cast("int").alias("pos"),
        F.round(F.col("v") * F.col("_npx")).cast("bigint").alias("cnt"),
    )


# ---------------------------------------------------------------- real resize
# Extension op: nearest-neighbor image resize — decode PNG, numpy
# index-sample, re-encode PNG, then a SECOND real parse of the resized
# container to featurize. The oracle recomputes the nearest-neighbor
# sample analytically: resized(y,x) = ramp[(y*h//th)*w + (x*w//tw)].
@register(
    "mm_image_resize",
    oracle="""
    WITH h AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS hv
      FROM documents
    ),
    d AS (
      SELECT media_id, 16 + hv % 49 AS w, 16 + (hv // 49) % 49 AS ht,
             hv % 256 AS seed
      FROM h
    ),
    yy AS (SELECT media_id, w, ht, seed, unnest(range(0, 18)) AS y FROM d),
    xy AS (SELECT media_id, w, ht, seed, y, unnest(range(0, 24)) AS x FROM yy)
    SELECT media_id,
           CAST(24 AS INTEGER) AS width,
           CAST(18 AS INTEGER) AS height,
           CAST(sum((seed + 7*((y*ht//18)*w + (x*w//24))) % 256) AS BIGINT)
             AS px_sum
    FROM xy GROUP BY media_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    resized = M.resize_images(_media(spark, sf_dir, "image"), 24, 18)
    feats = M.image_features(resized)
    return feats.select("media_id", "width", "height", "px_sum")


# ---------------------------------------------------------------- frame sampling
# Extension op: video frame-sample plan — pure JVM-side explode over a
# frame-index sequence (operators/multimodal.py frame_sample); the
# codec-backed extraction would join payloads downstream.
@register(
    "mm_frame_sample",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(unnest(range(0, greatest(n_chars - 1, 0) + 1, 10)) AS INTEGER)
             AS frame_idx
    FROM documents
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.col("n_chars").cast("int").alias("n_frames"),
    )
    return M.frame_sample(media, every_n=10)


# ---------------------------------------------------------------- audio path
# Extension op: audio decode + feature extraction via mapInPandas
# (operators/multimodal.py audio_features). The payload is a genuine
# RIFF/WAVE container; the featurizer walks its chunks and decodes the
# int16 PCM. Integer features (count, duration, exact sample sum) are
# replayed by the oracle from the deterministic generation; the float
# features (rms, zero_crossings) are pinned by
# tests/test_functions.py::test_audio_features against NumPy.
@register(
    "mm_audio_features",
    oracle="""
    WITH h AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS hv
      FROM documents
    ),
    d AS (
      SELECT media_id, 800 + hv % 2400 AS n, hv % 65536 AS aseed FROM h
    ),
    u AS (SELECT media_id, n, aseed, unnest(range(0, n)) AS j FROM d)
    SELECT media_id,
           CAST(any_value(n) AS INTEGER) AS n_samples,
           CAST(any_value(n) * 1000 // 16000 AS INTEGER) AS duration_ms,
           CAST(sum((aseed + 37*j) % 65536 - 32768) AS BIGINT) AS pcm_sum
    FROM u GROUP BY media_id
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = M.audio_features(_media(spark, sf_dir, "audio"))
    return feats.select("media_id", "n_samples", "duration_ms", "pcm_sum")
