"""Flagship end-to-end plan (SURVEY.md §7.3): per entity × snapshot timestamp,

  1. as-of join (backward) the latest image row; decode-stats + pHash +
     caption-length features from the payload (Arrow kernels, U1/U2/F7);
  2. as-of join the latest point of the per-event rolling/lag/session feature
     stream (W1 lag diffs, trailing rolling stats, gap sessionization);
  3. emit one wide feature row per (entity_id, as_of_ts) — leak-free: every
     input to a feature has ts <= as_of_ts by as-of direction + trailing
     frames.

Reference lineage: this is E1 (extract_HRV flagship pipeline,
extract_HRV.py:25-80) re-expressed as one lazy Catalyst plan — scan → kernel →
window → as-of → select, instead of a serial per-record loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.datagen import images as datagen
from ecg_feature_engineering_spark.functions import kernels
from ecg_feature_engineering_spark.operators import asof, windows
from ecg_feature_engineering_spark.operators.text import quality_features


def screen_payloads(images: DataFrame) -> DataFrame:
    """Pre-flight payload screen for fault-tolerant ingest: classify every
    payload with ``kernels.decode_with_status`` and return the THIN
    quarantine table (image_id, fmt, error_kind) of undecodable rows.

    MATERIALIZE this table (checkpoint stage / parquet sink) before
    anti-joining it back — deriving good rows from the un-materialized
    DataFrame re-runs the decode lineage, i.e. a second full-corpus
    decode pass. flagship_job checkpoints it as stage 0, which makes the
    quarantine sink itself atomic, lineage-tracked, and resumable. The
    alternative — letting ``image_features`` hit the first corrupt
    payload — aborts the stage (and with it every retry of the task)."""
    status = kernels.decode_with_status(images, keep=["image_id", "fmt"])
    return status.where(~F.col("ok")).select("image_id", "fmt",
                                             "error_kind")


def without_quarantined(images: DataFrame,
                        quarantine: DataFrame) -> DataFrame:
    """Original image rows (payload intact) minus the quarantined ids —
    an anti-join with NO forced broadcast: corruption is usually rare
    (AQE broadcasts the thin side by itself), but a systematic upstream
    fault can mark a large fraction bad, and a hinted broadcast would
    OOM the driver exactly in the widespread-failure case the screen
    exists to survive."""
    return images.join(quarantine.select("image_id"), "image_id",
                       "left_anti")


def image_features(images: DataFrame) -> DataFrame:
    """Payload-side features: decoded-pixel stats + recomputed pHash +
    hamming-vs-stored (one fused Arrow kernel — payload decoded once),
    plus pHash bit features and caption quality features (JVM-side).

    The kernel is a struct-returning scalar pandas UDF: only
    (bytes, fmt, phash) cross the Python boundary; ids/timestamps/captions
    stay JVM-side (minimal Arrow transfer — PERF.md)."""
    feats_udf = kernels.payload_features_struct_udf()
    decoded = (
        images.select("image_id", "entity_id", "ts", "phash", "caption",
                      feats_udf("bytes", "fmt", "phash").alias("__pf"))
        .select("image_id", "entity_id", "ts", "phash", "caption", "__pf.*")
    )
    feats = quality_features(
        decoded.withColumnRenamed("caption", "text"), "text"
    ).withColumnRenamed("text", "caption")
    return feats.withColumns({
        "phash_bits": F.bit_count(F.col("phash")),
        "phash_prefix": F.shiftrightunsigned(F.col("phash"), 48).cast("int"),
    }).drop("caption")


def event_features(events: DataFrame, n_entities: int,
                   session_gap_s: float = 3600.0,
                   rolling_rows: int = 10) -> DataFrame:
    """Per-event trailing feature stream on the driver-shaped events table
    (event_id, ts, user_id, event_type, value, props): lag diffs, trailing
    rolling stats, session ids + per-session running counts. All frames end at
    currentRow — leak-free by construction."""
    # tie-break every window on event_id: user_ids FOLD into entities via
    # pmod, so two users' events can share (entity_id, ts) — a ts-only
    # order would make lag/rolling/session counts partition-order-
    # dependent on such collisions
    order = ["ts", "event_id"]
    ev = events.withColumn(
        "entity_id", F.format_string("ent%08d", F.pmod("user_id", F.lit(n_entities)))
    ).select("entity_id", "ts", "event_id", "value")
    ev = windows.with_lag_diff(ev, "value", "entity_id", order, 1,
                               "value_diff1")
    ev = windows.with_lag_diff(ev, "value", "entity_id", order, 2,
                               "value_diff2")
    ev = windows.rolling(
        ev, "value",
        {"roll_mean": "avg", "roll_min": "min", "roll_max": "max",
         "roll_std": "stddev_pop", "roll_n": "count"},
        by="entity_id", order=order, rows=rolling_rows,
    )
    ev = windows.sessionize(ev, session_gap_s, "entity_id", order,
                            "session_id")
    from pyspark.sql import Window as _W
    run = (
        windows.entity_window(["entity_id", "session_id"], order)
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    ev = ev.withColumn("session_event_n", F.count(F.lit(1)).over(run))
    # this stream feeds an as-of RIGHT side, whose tie contract requires
    # unique (entity, ts): keep the last event (max event_id) per tie —
    # the entity's state as of that instant
    return (ev.withColumn(
        "__rn", F.row_number().over(
            _W.partitionBy("entity_id", "ts")
            .orderBy(F.col("event_id").desc())))
        .where(F.col("__rn") == 1).drop("__rn", "event_id"))


def assemble(img_feats: DataFrame, ev_feats: DataFrame,
             snapshots: DataFrame) -> DataFrame:
    """As-of join the image and event feature streams onto the snapshot
    grid and emit the flagship's feature row per (entity_id, as_of_ts) —
    the last stage of ``feature_plan`` and of ``jobs/flagship_job.py``,
    so the lazy plan and the checkpointed job emit one feature set."""
    # Project each right side to ONLY the as-of-carried columns the plan
    # emits before the union+window: the per-source pack struct blocks
    # Catalyst's column pruning through the window fill, so every column
    # still present here rides the as-of shuffle+sort — the biggest
    # exchange in the plan. image_features carries a few columns this
    # plan does not emit (the stored phash, the caption's n_chars_q,
    # upper_ratio and digit_ratio); they are dropped here. selectExpr
    # sends each name as text, where select would build a Column per name
    # over py4j (three round trips each).
    img_feats = img_feats.selectExpr(
        "entity_id", "ts", "image_id",
        "px_mean", "px_std", "luma_mean", "luma_std",
        "r_mean", "g_mean", "b_mean", "decoded_w", "decoded_h",
        "phash_recomputed", "phash_hamming", "phash_bits", "phash_prefix",
        "n_words", "mean_word_len", "punct_ratio", "stopword_ratio")
    ev_feats = ev_feats.selectExpr(
        "entity_id", "ts", "value", "value_diff1", "value_diff2",
        "roll_mean", "roll_min", "roll_max", "roll_std", "roll_n",
        "session_id", "session_event_n")

    # both right sides in ONE union+window pass: one shuffle+sort on the
    # entity key instead of two (asof.asof_join_many)
    with_all = asof.asof_join_many(
        snapshots,
        [
            {"df": img_feats, "on": "ts", "suffix": "_img",
             "match_ts": "img_ts"},
            {"df": ev_feats, "on": "ts", "suffix": "_ev",
             "match_ts": "event_ts"},
        ],
        on="as_of_ts", by="entity_id",
    )
    return with_all.selectExpr(
        "entity_id", "as_of_ts",
        # image payload features (latest image at or before as_of)
        "image_id", "img_ts", "px_mean", "px_std", "luma_mean", "luma_std",
        "r_mean", "g_mean", "b_mean", "decoded_w", "decoded_h",
        "phash_recomputed", "phash_hamming", "phash_bits", "phash_prefix",
        "n_words", "mean_word_len", "punct_ratio", "stopword_ratio",
        # event stream features (latest event at or before as_of)
        "event_ts", "value", "value_diff1", "value_diff2",
        "roll_mean", "roll_min", "roll_max", "roll_std", "roll_n",
        "session_id", "session_event_n",
    )


def feature_plan(images: DataFrame, snapshots: DataFrame,
                 events: DataFrame, n_entities: int) -> DataFrame:
    """The E1-equivalent lazy plan over already-loaded tables: image payload
    kernel + event window features, both as-of joined to the snapshot grid.
    ``images`` needs the input_hint columns plus (entity_id, ts)."""
    return assemble(image_features(images),
                    event_features(events, n_entities), snapshots)


def flagship(spark: SparkSession, sf_dir: str, n_images: int = 300,
             seed: int = 42) -> DataFrame:
    """The full E1-equivalent plan at small scale: synthesized image table
    (input_hint shape) + the driver's events table -> per (entity, as_of_ts)
    feature vectors."""
    n_entities = max(n_images // 20, 2)
    images = datagen.images_df(spark, n_images, seed, n_entities)
    snapshots = datagen.snapshots_df(spark, n_entities, 12, seed)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return feature_plan(images, snapshots, events, n_entities)
