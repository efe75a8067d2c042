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


def _plant_bad_copies(img):
    """Every fourth image again, under a new id one second later, with its
    payload NULL or cut in half (alternately): left in, each copy would be
    the entity's latest image for the snapshots after it."""
    idx = F.substring("image_id", 4, 8).cast("int")
    bad = img.where(idx % 4 == 0).select(
        F.concat("image_id", F.lit("_bad")).alias("image_id"),
        F.when(idx % 8 == 4, F.lit(None).cast("binary"))
         .otherwise(F.substring(F.col("bytes"), F.lit(1),
                                (F.octet_length("bytes") / 2).cast("int")))
        .alias("bytes"),
        "w", "h", "fmt", "caption", "phash", "entity_id",
        (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts"))
    return img.unionByName(bad)


def test_image_features_quarantines_and_preserves_features(spark, sf_dir):
    """Fault-tolerant ingest: with bad payloads planted, image_features
    flags each bad row instead of failing, its good rows equal the clean
    corpus's, and the assembled feature vectors equal the clean corpus's
    (quarantine changes membership, never values)."""
    from ecg_feature_engineering_spark.datagen import images as datagen
    from ecg_feature_engineering_spark.plans import flagship as fplan

    img = datagen.images_df(spark, 80, 21, 4)
    feats = fplan.image_features(_plant_bad_copies(img)).cache()
    bad = feats.where(~F.col("ok")).toPandas()
    assert len(bad) == 20  # 10 null + 10 truncated
    assert bad["image_id"].str.endswith("_bad").all()
    assert sorted(bad["error_kind"].value_counts().items()) == [
        ("corrupt", 10), ("null_payload", 10)]
    assert bad[["px_mean", "decoded_w", "phash_hamming"]].isna().all().all()
    got = feats.where("ok").toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    want = fplan.image_features(img).toPandas() \
        .sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)

    ev = fplan.event_features(spark.read.parquet(f"{sf_dir}/events.parquet"),
                              4)
    snaps = datagen.snapshots_df(spark, 4, 12, 21)
    got = _collect(fplan.assemble(feats, ev, snaps))
    want = _collect(fplan.assemble(fplan.image_features(img), ev, snaps))
    pd.testing.assert_frame_equal(got, want)
    feats.unpersist()


def test_flagship_job_quarantine_e2e(spark, sf_dir, tmp_path):
    """The spark-submit surface end to end, from a FOREIGN cwd (zip-shipped
    imports): a run over the corpus the job synthesizes, then a run over
    an --images parquet of that corpus with bad payloads planted, and its
    resume. The bad rows are quarantined in the image_features stage and
    left out, so both runs emit the same feature vectors."""
    import json
    import os
    import subprocess
    import sys

    from ecg_feature_engineering_spark.datagen import images as datagen

    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "flagship_job.py")

    def job(out, ckpt, *extra):
        r = subprocess.run(
            [sys.executable, script,
             "--events", f"{sf_dir}/events.parquet",
             "--output", str(out), "--checkpoint-root", str(ckpt),
             "--n-images", "80", *extra],
            cwd=str(tmp_path), capture_output=True, text=True, timeout=600)
        assert r.returncode == 0, r.stderr[-3000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    def output(path):
        return _collect(spark.read.parquet(str(path)))

    stages = {"image_features", "event_features", "feature_vectors"}
    clean = job(tmp_path / "clean", tmp_path / "ckpt_clean")
    assert clean["quarantined_rows"] == 0
    assert clean["output_rows"] > 0
    assert {s["stage"] for s in clean["stages"]} == stages
    # the job and the certified lazy plan emit one feature set
    assert spark.read.parquet(str(tmp_path / "clean")).columns == \
        flagship(spark, sf_dir, n_images=80).columns

    # the corpus the job synthesizes for --n-images 80, plus 20 bad copies
    images = tmp_path / "images.parquet"
    _plant_bad_copies(datagen.images_df(spark, 80, 42, 4)) \
        .write.parquet(str(images))
    ckpt = tmp_path / "ckpt"
    summary = job(tmp_path / "out", ckpt, "--images", str(images))
    assert summary["quarantined_rows"] == 20
    assert {s["stage"] for s in summary["stages"]} == stages
    sink = spark.read.parquet(str(ckpt / "image_features" / "data")) \
        .where("NOT ok").toPandas()
    assert sink["image_id"].str.endswith("_bad").all()
    assert sorted(sink["error_kind"].value_counts().items()) == [
        ("corrupt", 10), ("null_payload", 10)]
    pd.testing.assert_frame_equal(output(tmp_path / "out"),
                                  output(tmp_path / "clean"))

    # resume with a DIFFERENT --output (explicitly supported: only data
    # params hash) — every stage must be served from the checkpoint, not
    # recomputed or re-located
    def run_ids():
        return {s: json.loads((ckpt / s / "manifest.json").read_text())
                ["run_id"] for s in stages}

    before = run_ids()
    s2 = job(tmp_path / "out2", ckpt, "--images", str(images))
    assert run_ids() == before
    assert s2["quarantined_rows"] == 20
    assert s2["output_rows"] == summary["output_rows"]
    pd.testing.assert_frame_equal(output(tmp_path / "out2"),
                                  output(tmp_path / "out"))


def test_feature_plan_build_round_trips_bounded(spark, sf_dir, monkeypatch):
    """Building the flagship plan is a serial chain of py4j round trips on
    the driver, and every perfbench pass builds it again, so their count
    sets the build's time and how much it swings on a busy host (6846 per
    build before the as-of projections were sent as SQL text and
    PySpark's call-site capture was turned off; 979 before the window,
    text and image projections were). The second build is counted, as
    every pass after the first is. Memory-release commands, sent as
    Python proxies are collected, depend on GC timing and are not
    counted."""
    from py4j.clientserver import ClientServerConnection

    from ecg_feature_engineering_spark.datagen import images as datagen
    from ecg_feature_engineering_spark.plans.flagship import feature_plan

    images = datagen.images_df(spark, 200, 42, 10)
    snapshots = datagen.snapshots_df(spark, 10, 12, 42)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    feature_plan(images, snapshots, events, 10)
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    feature_plan(images, snapshots, events, 10)
    monkeypatch.undo()
    n = sum(not c.startswith("m\n") for c in sent)
    assert 0 < n <= 500, n
