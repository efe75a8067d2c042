"""Flagship end-to-end plan: driver entry contract, determinism, and the
north rule's zero-temporal-leakage property at the pipeline level."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.plans.flagship import flagship


def _collect(df):
    pdf = df.toPandas()
    keys = ["entity_id", "as_of_ts"]
    return pdf.sort_values(keys + ["image_id"]).reset_index(drop=True)


def test_entry_contract(spark, sf_dir):
    import __spark_entry__ as e
    df = e.entry(spark)
    pdf = df.limit(2000).toPandas()
    assert len(pdf) > 0
    assert {"entity_id", "as_of_ts", "px_mean", "phash_bits", "roll_mean",
            "session_id"} <= set(pdf.columns)
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40 and len(oracles) >= 30


def test_flagship_deterministic(spark, sf_dir):
    a = _collect(flagship(spark, sf_dir, n_images=120))
    b = _collect(flagship(spark, sf_dir, n_images=120))
    pd.testing.assert_frame_equal(a, b)


def test_flagship_zero_temporal_leakage(spark, sf_dir, tmp_path):
    """Poisoning every event after a cutoff must leave feature rows with
    as_of_ts <= cutoff bit-identical (as-of direction + trailing frames)."""
    # snapshots_df spans 2024-01-01 +/- a day or two: pick a cutoff inside it
    cutoff = pd.Timestamp("2024-01-02")
    base = _collect(flagship(spark, sf_dir, n_images=120))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    poisoned = ev.withColumn(
        "value",
        F.when(F.col("ts") > F.lit(str(cutoff)), F.col("value") + 1e9)
        .otherwise(F.col("value")))
    alt_dir = str(tmp_path / "sfX")
    poisoned.write.parquet(f"{alt_dir}/events.parquet")
    got = _collect(flagship(spark, alt_dir, n_images=120))

    mask = base["as_of_ts"] <= cutoff
    assert mask.sum() > 10
    a = base.loc[mask].reset_index(drop=True)
    b = got.loc[mask.to_numpy()].reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f":
            np.testing.assert_array_equal(av.to_numpy(), bv.to_numpy(),
                                          err_msg=c)
        else:
            assert av.where(av.notna(), None).tolist() == \
                bv.where(bv.notna(), None).tolist(), c
    # sanity: the poison actually changed something after the cutoff
    after = base["as_of_ts"] > cutoff
    assert not got.loc[after.to_numpy(), "roll_mean"].equals(
        base.loc[after, "roll_mean"])


def test_flagship_matches_golden_fixture(spark, sf_dir):
    """Frozen golden feature vectors (SURVEY §5.2): every feature at every
    entity x as_of_ts must stay allclose across engine changes. Regenerate
    deliberately (and only with a semantic-change justification) via the
    snippet in tests/golden/README."""
    import os
    golden_path = os.path.join(os.path.dirname(__file__), "golden",
                               "flagship_sf0001.parquet")
    want = pd.read_parquet(golden_path)
    got = _collect(flagship(spark, sf_dir, n_images=240))
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        if got[c].dtype.kind == "f":
            np.testing.assert_allclose(got[c].to_numpy(),
                                       want[c].to_numpy(),
                                       rtol=1e-9, equal_nan=True,
                                       err_msg=c)
        else:
            assert got[c].where(got[c].notna(), None).tolist() == \
                want[c].where(want[c].notna(), None).tolist(), c


def test_screen_payloads_quarantines_and_preserves_features(spark):
    """Fault-tolerant ingest: plant corruption, screen, and the surviving
    rows' feature vectors must be IDENTICAL to running the clean subset
    straight through image_features (screen changes membership, never
    values)."""
    from ecg_feature_engineering_spark.datagen import images as datagen
    from ecg_feature_engineering_spark.plans import flagship as fplan

    img = datagen.images_df(spark, 40, seed=21)
    idx = F.substring("image_id", 4, 8).cast("int")
    corrupted = img.withColumn(
        "bytes",
        F.when(idx % 8 == 1, F.lit(None).cast("binary"))
         .when(idx % 8 == 5,
               F.substring(F.col("bytes"), F.lit(1),
                           (F.octet_length("bytes") / F.lit(2)).cast("int")))
         .otherwise(F.col("bytes")))
    bad = fplan.screen_payloads(corrupted)
    bad_pdf = bad.toPandas()
    assert len(bad_pdf) == 10  # 5 null + 5 truncated
    assert set(bad_pdf["error_kind"]) == {"null_payload", "corrupt"}
    good = fplan.without_quarantined(corrupted, bad)
    got = fplan.image_features(good).toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    clean = img.join(bad.select("image_id"), "image_id", "left_anti")
    want = fplan.image_features(clean).toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    assert len(got) == 30
    pd.testing.assert_frame_equal(got, want)


def test_flagship_job_quarantine_e2e(spark, sf_dir, tmp_path):
    """The spark-submit surface end to end: flagship_job --quarantine on a
    corpus whose payloads the job itself synthesizes, from a FOREIGN cwd
    (zip-shipped imports), incl. resume metrics + quarantine sink."""
    import json
    import subprocess
    import sys

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    r = subprocess.run(
        [sys.executable, "/root/repo/jobs/flagship_job.py",
         "--events", f"{sf_dir}/events.parquet",
         "--output", str(out), "--checkpoint-root", str(ckpt),
         "--n-images", "80", "--quarantine"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    # the seeded corpus is clean -> nothing quarantined; the sink is the
    # checkpointed stage table (survives --output changes on resume)
    assert summary["quarantined_rows"] == 0
    assert summary["output_rows"] > 0
    assert spark.read.parquet(
        str(ckpt / "payload_screen" / "data")).count() == 0
    assert {"payload_screen", "image_features", "event_features",
            "feature_vectors"} <= {s["stage"] for s in summary["stages"]}
    # the job and the certified lazy plan emit one feature set
    assert spark.read.parquet(str(out)).columns == \
        flagship(spark, sf_dir, n_images=80).columns
    # resume with a DIFFERENT --output (explicitly supported: only data
    # params hash) — every stage incl. the quarantine sink must be
    # served from the checkpoint, not recomputed or re-located
    r2 = subprocess.run(
        [sys.executable, "/root/repo/jobs/flagship_job.py",
         "--events", f"{sf_dir}/events.parquet",
         "--output", str(tmp_path / "out2"),
         "--checkpoint-root", str(ckpt),
         "--n-images", "80", "--quarantine"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["quarantined_rows"] == 0
    assert s2["output_rows"] == summary["output_rows"]


def test_feature_plan_build_round_trips_bounded(spark, sf_dir, monkeypatch):
    """Building the flagship plan is a serial chain of py4j round trips on
    the driver, and every perfbench pass builds it again, so their count
    sets the build's time and how much it swings on a busy host (6846 per
    build before the as-of projections were sent as SQL text and
    PySpark's call-site capture was turned off). Memory-release commands,
    sent as Python proxies are collected, depend on GC timing and are not
    counted."""
    from py4j.clientserver import ClientServerConnection

    from ecg_feature_engineering_spark.datagen import images as datagen
    from ecg_feature_engineering_spark.plans.flagship import feature_plan

    images = datagen.images_df(spark, 200, 42, 10)
    snapshots = datagen.snapshots_df(spark, 10, 12, 42)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    feature_plan(images, snapshots, events, 10)
    monkeypatch.undo()
    n = sum(not c.startswith("m\n") for c in sent)
    assert 0 < n < 1200, n
