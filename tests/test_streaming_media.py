"""Streaming multimodal decode: the Arrow payload kernels are stateless
mapInPandas transforms, so they run unchanged on a streaming DataFrame —
this pins streaming==batch equality for the audio decode path across
multiple micro-batches (the §2.10 façade extended to the media surface)."""

from __future__ import annotations

import pytest

from ecg_feature_engineering_spark.datagen import audio as dga
from ecg_feature_engineering_spark.functions import media_kernels as mk

AUDIO_SCHEMA_DDL = dga.AUDIO_SCHEMA + ", f0_hz double"


@pytest.fixture(scope="module")
def audio_dir(spark, tmp_path_factory):
    from ecg_feature_engineering_spark import contract

    contract.ensure_workers_can_import(spark)
    root = tmp_path_factory.mktemp("stream_audio")
    d = root / "audio"
    d.mkdir()
    # two files -> two micro-batches under maxFilesPerTrigger=1
    full = dga.audio_df(spark, 40, seed=42).cache()
    full.where("audio_id < 'aud00000020'").coalesce(1) \
        .write.mode("append").parquet(str(d))
    full.where("audio_id >= 'aud00000020'").coalesce(1) \
        .write.mode("append").parquet(str(d))
    return str(d), full


def test_streaming_decode_equals_batch(spark, audio_dir):
    path, full = audio_dir
    batch = mk.audio_decode_stats(
        spark.read.parquet(path), keep=["audio_id", "fmt"]) \
        .toPandas().sort_values("audio_id").reset_index(drop=True)

    stream = (spark.readStream.schema(AUDIO_SCHEMA_DDL)
              .option("maxFilesPerTrigger", 1).parquet(path))
    out = mk.audio_decode_stats(stream, keep=["audio_id", "fmt"])
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("audio_stream").start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM audio_stream").toPandas() \
        .sort_values("audio_id").reset_index(drop=True)

    assert len(got) == len(batch) == 40
    for c in batch.columns:
        assert (got[c] == batch[c]).all(), c


def test_streaming_quarantine_equals_batch(spark, tmp_path_factory):
    """Fault-tolerant decode on a STREAM: decode_stats is a
    stateless mapInPandas transform, so the quarantine classification —
    including corrupt/null payload rows — is identical micro-batch by
    micro-batch to the batch run (streaming ingest must quarantine, not
    crash the query)."""
    from pyspark.sql import functions as F

    from ecg_feature_engineering_spark.datagen import images as dgi
    from ecg_feature_engineering_spark.functions import kernels

    root = tmp_path_factory.mktemp("stream_quarantine")
    d = root / "img"
    d.mkdir()
    idx = F.substring("image_id", 4, 8).cast("int")
    full = dgi.images_df(spark, 30, seed=33).withColumn(
        "bytes",
        F.when(idx % 6 == 1, F.lit(None).cast("binary"))
         .when(idx % 6 == 4,
               F.substring(F.col("bytes"), F.lit(1),
                           (F.octet_length("bytes") / F.lit(2)).cast("int")))
         .otherwise(F.col("bytes"))).cache()
    full.where("image_id < 'img00000015'").coalesce(1) \
        .write.mode("append").parquet(str(d))
    full.where("image_id >= 'img00000015'").coalesce(1) \
        .write.mode("append").parquet(str(d))

    batch = kernels.decode_stats(
        spark.read.parquet(str(d)), keep=["image_id", "fmt"]) \
        .toPandas().sort_values("image_id").reset_index(drop=True)
    assert set(batch["error_kind"]) == {"ok", "null_payload", "corrupt"}

    stream = (spark.readStream.schema(spark.read.parquet(str(d)).schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (kernels.decode_stats(stream, keep=["image_id", "fmt"])
         .writeStream.outputMode("append").format("memory")
         .queryName("quarantine_stream").start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM quarantine_stream").toPandas() \
        .sort_values("image_id").reset_index(drop=True)

    assert len(got) == len(batch) == 30
    for c in batch.columns:
        a, b = got[c], batch[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c
