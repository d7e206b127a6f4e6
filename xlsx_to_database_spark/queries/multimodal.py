"""Multimodal-column ops (SURVEY.md §2.10 extension surface).

Binary payloads + Arrow-batched Python kernels. `media_text_decode` is
exact-oracled by driving the byte pipeline from ``documents.text``
(UTF-8 bytes are computable in DuckDB too); the codec-backed ops use the
deterministic FakeRaw payloads (see operators/multimodal.py) and take the
rows-only check. Their exact-value coverage lives in
tests/test_multimodal.py, on TWO container formats: the synthetic
FakeRaw frames AND real PNG bytes via the stdlib PngCodec (zlib inflate
+ per-scanline unfilter, no pip deps) — decode metadata, resize output
payloads, and feature vectors are asserted byte-equal across the two
codecs for identical pixel streams.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from xlsx_to_database_spark.catalog import table
from xlsx_to_database_spark.operators.multimodal import (
    decode_media,
    fake_media_table,
    media_features,
    resize_media,
    sample_frames,
)
from xlsx_to_database_spark.operators.similarity import _norm_sql
from xlsx_to_database_spark.registry import query


@query(
    "media_text_decode",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(string_split(text, ''),
                                        x -> unicode(x))) AS BIGINT) AS checksum
    FROM documents
    ORDER BY doc_id
    """,
)
def media_text_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode-pipeline shape with an exact oracle: text → binary
    payload column → mapInPandas batch kernel → typed metadata.

    The kernel sums Unicode codepoints (== DuckDB's ``unicode``) and
    counts UTF-8 bytes — byte-level facts both engines can compute, which
    is what makes this one oracle-able while the codec ops are rows-only.
    """
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("checksum", LongType()),
        ]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts = [bytes(p).decode("utf-8") for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(t.encode("utf-8")) for t in texts],
                    "checksum": [sum(map(ord, t)) for t in texts],
                }
            )

    docs = table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(kernel, schema).orderBy("doc_id")


@query("media_decode")  # rows-only: FakeRaw payloads exist only Spark-side
def media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode synthetic media assets → typed metadata + pixel stats."""
    media = fake_media_table(spark, n_assets=50)
    return decode_media(media).orderBy("asset_id")


@query("media_resize")  # rows-only
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every frame to 4×3 then re-decode: metadata reflects the
    new geometry; payload stays an opaque chainable column."""
    media = fake_media_table(spark, n_assets=50)
    return decode_media(resize_media(media, out_w=4, out_h=3)).orderBy("asset_id")


@query("media_frame_sample")  # rows-only
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 2nd frame of each video asset → per-frame rows."""
    media = fake_media_table(spark, n_assets=50).filter(F.col("media_type") == "video")
    frames = sample_frames(media, every_n=2)
    return (
        frames.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.length("frame")).alias("sampled_bytes"),
        )
        .orderBy("asset_id")
    )


@query("media_embed")  # rows-only
def media_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract (byte-histogram vector) then reduce to a scalar
    per asset — the media → array<float> → similarity-search bridge."""
    media = fake_media_table(spark, n_assets=50)
    feats = media_features(media, n_bins=16)
    return feats.select(
        "asset_id",
        F.size("features").alias("dim"),
        F.expr(f"round({_norm_sql('features')}, 6)").alias("feat_norm"),
    ).orderBy("asset_id")
