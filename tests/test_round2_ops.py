"""Round-2 additions: relational SimHash (kernel parity), blocked SampEn,
hot-shingle cap, interval_join left semantics, balance factor-0, label
smoothing, seeded shuffle, worker-zip staleness."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ecg_feature_engineering_spark import contract
from ecg_feature_engineering_spark.functions import kernels
from ecg_feature_engineering_spark.operators import dedup, joins, splits


# ------------------------------------------------------------ SimHash
def test_simhash_relational_equals_kernel(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rel = (dedup.simhash64_relational(docs, "text", "doc_id")
           .toPandas().set_index("doc_id")["simhash"].sort_index())
    ker = (dedup.simhash64(docs, "text", "doc_id")
           .toPandas().set_index("doc_id")["simhash"].sort_index())
    assert (rel == ker).all()


def test_simhash_relational_empty_doc(spark):
    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["", "hello world"]}))
    got = dedup.simhash64_relational(d).toPandas().set_index("doc_id")
    assert got.loc[1, "simhash"] == 0
    assert got.loc[2, "simhash"] != 0


# ------------------------------------------------------------ blocked SampEn
def test_cheb_pair_counts_matches_bruteforce():
    rng = np.random.default_rng(7)
    for n, m, block in [(40, 1, 8), (61, 2, 13), (100, 2, 7), (33, 0, 5)]:
        x = rng.normal(size=n)
        r = 0.2 * x.std()
        k = n - m
        t = np.lib.stride_tricks.sliding_window_view(x, m + 1)[:k]
        b_got, a_got = kernels._cheb_pair_counts(t, m, r, block=block)
        # brute force
        b_ref = a_ref = 0
        for i in range(k):
            for j in range(i + 1, k):
                dm = np.abs(t[i, :m] - t[j, :m]).max() if m else 0.0
                d1 = max(dm, abs(t[i, m] - t[j, m]))
                b_ref += dm <= r
                a_ref += d1 <= r
        assert (b_got, a_got) == (b_ref, a_ref)


def test_sample_entropy_blocked_large_entity_no_oom():
    # the old full k x k x m broadcast for n=20k would allocate
    # 20k*20k*3*8 ≈ 9.6 GB; the blocked version stays in ~32 MB tiles
    rng = np.random.default_rng(1)
    x = np.cumsum(rng.normal(size=20_000))
    out = kernels.sample_entropy_np(x, m_max=2)
    assert np.isfinite(out).all() and (out > 0).all()


# ------------------------------------------------------------ shingle cap
def test_ngram_jaccard_hot_shingle_cap(spark):
    # 30 docs all share one boilerplate 3-gram; two genuine near-dup docs
    boiler = "all rights reserved worldwide"
    rows = [(i, f"unique text number {i} {boiler}") for i in range(30)]
    rows += [(100, "the quick brown fox jumps over the lazy dog"),
             (101, "the quick brown fox jumps over the lazy cat")]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.4,
                                    max_shingle_df=10).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (100, 101) in pairs          # genuine near-dup survives the cap
    # boilerplate-only overlaps are gone: no pair among the 30 unique docs
    assert not any(a < 100 and b < 100 for a, b in pairs)


# ------------------------------------------------------------ interval_join
def test_interval_join_left_keeps_empty_anchors(spark):
    ev = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a"] * 3,
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:30",
                              "2024-01-01 11:00"]),
        "value": [1.0, 2.0, 3.0]}))
    an = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a", "a", "b"],
        "anchor_id": [1, 2, 3],
        "lo": pd.to_datetime(["2024-01-01 10:00", "2024-01-02 00:00",
                              "2024-01-01 10:00"]),
        # anchor 2 spans many empty hourly buckets; anchor 3 has no entity
        "hi": pd.to_datetime(["2024-01-01 10:45", "2024-01-02 23:00",
                              "2024-01-01 12:00"])}))
    got = joins.interval_join(ev, an, how="left", anchor_key="anchor_id",
                              bucket_seconds=3600.0).toPandas()
    by_anchor = got.groupby("anchor_id").size().to_dict()
    assert by_anchor == {1: 2, 2: 1, 3: 1}  # one null row per empty anchor
    assert got[got.anchor_id == 2]["value"].isna().all()
    assert got[got.anchor_id == 3]["value"].isna().all()
    with pytest.raises(ValueError):
        joins.interval_join(ev, an, how="left")   # anchor_key required
    with pytest.raises(ValueError):
        joins.interval_join(ev, an, how="full")


# ------------------------------------------------------------ balance 0
def test_balance_classes_factor_zero_drops(spark):
    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "lang": ["en", "es", "fr"]}))
    got = splits.balance_classes(
        d, "lang", {"en": 0, "es": 2}, default=1).toPandas()
    counts = got.groupby("lang").size().to_dict()
    assert counts == {"es": 2, "fr": 1}  # en dropped, not duplicated


# ------------------------------------------------------------ smoothing
def test_smooth_labels_values(spark):
    d = spark.createDataFrame(pd.DataFrame({"lang": ["en", "zz"]}))
    sm = d.select(splits.smooth_labels(
        splits.one_hot(F.col("lang"), ["en", "es"]), 0.2).alias("y"))
    got = [list(r["y"]) for r in sm.collect()]
    assert np.allclose(got[0], [0.8 + 0.1, 0.1])  # one-hot hit
    assert np.allclose(got[1], [0.1, 0.1])        # unknown label: uniform
    with pytest.raises(ValueError):
        splits.smooth_labels(F.col("y"), 1.5)


# ------------------------------------------------------------ shuffle
def test_seeded_shuffle_is_permutation_and_matches_global_sort(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    got = splits.seeded_shuffle(df, "k", seed=7, n_buckets=32).toPandas()
    assert sorted(got["pos"]) == list(range(1, 5001))
    # two-phase bucketed rank == the single-reducer global sort it replaces
    h = F.pmod(F.xxhash64(F.col("k"), F.lit(7)), F.lit(2_147_483_647))
    ref = (df.withColumn("__h", h)
           .withColumn("pos", F.row_number().over(
               Window.orderBy("__h", "k")))
           .drop("__h").toPandas())
    merged = got.merge(ref, on="k", suffixes=("_got", "_ref"))
    assert (merged["pos_got"] == merged["pos_ref"]).all()
    # deterministic across reruns / repartitioning
    again = splits.seeded_shuffle(df.repartition(13), "k", seed=7,
                                  n_buckets=32).toPandas()
    m2 = got.merge(again, on="k", suffixes=("_a", "_b"))
    assert (m2["pos_a"] == m2["pos_b"]).all()
    # a different seed permutes differently
    other = splits.seeded_shuffle(df, "k", seed=8, n_buckets=32).toPandas()
    m3 = got.merge(other, on="k", suffixes=("_a", "_b"))
    assert (m3["pos_a"] != m3["pos_b"]).any()


# ------------------------------------------------------------ worker zip
def test_worker_zip_rebuilt_when_stale(spark):
    import time

    contract.ensure_workers_can_import(spark)
    zpath = contract.worker_zip_path()
    assert os.path.exists(zpath)
    os.utime(zpath, (1, 1))  # pretend the zip predates every source edit
    contract._SHIPPED.clear()
    contract.ensure_workers_can_import(spark)
    assert os.path.getmtime(zpath) > time.time() - 60  # rebuilt fresh


def test_worker_zip_path_is_per_checkout(tmp_path):
    """Two checkouts sharing one temp dir build two zips: a zip keyed only
    on its mtime would ship one checkout's code to the other's
    executors."""
    a, b = (str(tmp_path / d / "ecg_feature_engineering_spark")
            for d in ("a", "b"))
    assert contract.worker_zip_path(a) != contract.worker_zip_path(b)
    assert contract.worker_zip_path(a) == contract.worker_zip_path(a)
    assert contract.worker_zip_path() == \
        contract.worker_zip_path(os.path.dirname(contract.__file__))


# ------------------------------------------------------------ U8 inference
def test_predict_batch_matches_numpy_forward(spark):
    from ecg_feature_engineering_spark.datagen import images as datagen
    from ecg_feature_engineering_spark.datagen import codecs

    img = datagen.images_df(spark, 24, seed=42)
    got = (kernels.predict_batch(img, keep=["image_id"]).toPandas()
           .set_index("image_id").sort_index())
    # independent forward pass on the same decoded grids
    w = kernels.mlp_weights(d_in=256)
    rows = img.select("image_id", "bytes", "fmt").toPandas()
    x = np.stack([
        (codecs.area_resize(codecs.decode(bytes(r["bytes"]), r["fmt"])
                            .astype(np.float64), 16, 16)
         @ np.array([0.299, 0.587, 0.114])).ravel() / 255.0 - 0.5
        for _, r in rows.iterrows()])
    h = np.tanh(x @ w["w1"] + w["b1"])
    logits = h @ w["w2"] + w["b2"]
    e = np.exp(logits - logits.max(axis=1, keepdims=True))
    expect = e / e.sum(axis=1, keepdims=True)
    got_m = got.loc[rows["image_id"], [f"d{i}" for i in range(1, 10)]].to_numpy()
    assert np.allclose(got_m, expect, atol=1e-12)
    assert np.allclose(got_m.sum(axis=1), 1.0)  # softmax rows


# ------------------------------------------------------------ U11 metrics
def _metric_fixture(spark):
    rng = np.random.default_rng(5)
    n, k = 120, 4
    labels = (rng.random((n, k)) < 0.3).astype(int)
    labels[labels.sum(axis=1) == 0, 0] = 1  # most records have >= 1 label
    labels[:5] = 0          # ...but 5 are UNLABELED (reference crashes;
    #                          engine contract: weight 0, excluded)
    labels[:, 3] = 0        # a zero-positive class (P = 0)
    probs = np.round(rng.random((n, k)), 3)
    probs[7, 0] = 1.0       # a top threshold exactly 1 (no virtual insert)
    probs[9, 1] = 1.0
    outputs = (probs >= 0.5).astype(int)
    rows = [(i, j, int(labels[i, j]), int(outputs[i, j]), float(probs[i, j]))
            for i in range(n) for j in range(k)]
    pdf = pd.DataFrame(rows, columns=["rec_id", "class_idx", "label",
                                      "output", "prob"])
    return spark.createDataFrame(pdf), labels, outputs, probs


def _beta_score_ref(labels, outputs, beta, k):
    # published PhysioNet/CinC challenge macro scoring formula
    # (reference xgboost_clf.py:29-101), reimplemented independently
    n = len(labels)
    acc = fme = fb = gb = 0.0
    for j in range(k):
        tp = fp = fn = tn = 0.0
        for i in range(n):
            nl = labels[i].sum()
            if nl == 0:
                continue  # engine contract: unlabeled records excluded
            if labels[i][j] and outputs[i][j]:
                tp += 1 / nl
            elif not labels[i][j] and outputs[i][j]:
                fp += 1 / nl
            elif labels[i][j] and not outputs[i][j]:
                fn += 1 / nl
            else:
                tn += 1 / nl
        b2 = beta ** 2
        fb += ((1 + b2) * tp / ((1 + b2) * tp + b2 * fn + fp)
               if (1 + b2) * tp + b2 * fn + fp else 1.0)
        gb += tp / (tp + fp + beta * fn) if tp + fp + beta * fn else 1.0
        acc += (tp + tn) / (tp + fp + fn + tn) if tp + fp + fn + tn else 1.0
        fme += 2 * tp / (2 * tp + fp + fn) if 2 * tp + fp + fn else 1.0
    return acc / k, fme / k, fb / k, gb / k


def _auc_ref(labels, probs, k):
    # published challenge AUROC (trapezoid under TPR/TNR) and AUPRC
    # (right-step under TPR/PPV) with the virtual threshold-1 row
    n = len(labels)
    aurocs, auprcs = [], []
    for j in range(k):
        th = np.unique(probs[:, j])[::-1]
        if th[0] != 1:
            th = np.insert(th, 0, 1)
        if th[-1] == 0:
            th = th[:-1]
        P = labels[:, j].sum()
        N = n - P
        tpr_l, tnr_l, ppv_l = [], [], []
        for t in th:
            tp = int(((probs[:, j] >= t) & (labels[:, j] == 1)).sum())
            fp = int(((probs[:, j] >= t) & (labels[:, j] == 0)).sum())
            tpr_l.append(tp / P if P else 1.0)
            tnr_l.append((N - fp) / N if N else 1.0)
            ppv_l.append(tp / (tp + fp) if tp + fp else 1.0)
        roc = prc = 0.0
        for a in range(len(th) - 1):
            roc += 0.5 * (tpr_l[a + 1] - tpr_l[a]) * (tnr_l[a + 1] + tnr_l[a])
            prc += (tpr_l[a + 1] - tpr_l[a]) * ppv_l[a + 1]
        aurocs.append(roc)
        auprcs.append(prc)
    return np.array(aurocs), np.array(auprcs)


def test_beta_scores_match_reference_formula(spark):
    from ecg_feature_engineering_spark.operators import metrics

    preds, labels, outputs, _ = _metric_fixture(spark)
    got = metrics.macro_beta_scores(preds, beta=2.0).collect()[0]
    acc, fme, fb, gb = _beta_score_ref(labels, outputs, 2.0, 4)
    assert np.allclose(
        [got["accuracy"], got["f_measure"], got["f_beta"], got["g_beta"]],
        [acc, fme, fb, gb], atol=1e-12)


def test_auc_scores_match_reference_formula(spark):
    from ecg_feature_engineering_spark.operators import metrics

    preds, labels, _, probs = _metric_fixture(spark)
    got = (metrics.auc_scores(preds).toPandas()
           .set_index("class_idx").sort_index())
    roc, prc = _auc_ref(labels, probs, 4)
    assert np.allclose(got["auroc"].to_numpy(), roc, atol=1e-12)
    assert np.allclose(got["auprc"].to_numpy(), prc, atol=1e-12)


# ------------------------------------------------------------ LONG parity
def test_long_features_parity_arity_and_dup_values(spark, sf_dir):
    from ecg_feature_engineering_spark.plans import long_block

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "ts", "user_id", "value"))
    out = long_block.long_features(ev, by="user_id", fs=1.0, parity=True)
    assert out.columns == long_block.expected_columns("user_id", parity=True)
    base = long_block.long_features(ev, by="user_id", fs=1.0, parity=False)
    assert base.columns == long_block.expected_columns("user_id",
                                                       parity=False)
    pdf = out.limit(3).toPandas()
    for c in [f"band{i}" for i in range(6)]:
        assert (pdf[c] == pdf[f"{c}_dup1"]).all()
        assert (pdf[c] == pdf[f"{c}_dup2"]).all()
    assert (pdf["zigzag"] == pdf["zigzag_dup1"]).all()


# ------------------------------------------------------------ E3 pipeline
def test_e3_pipeline_deterministic_and_sane(spark, sf_dir):
    from ecg_feature_engineering_spark.plans import feature_matrix as fm

    contract.ensure_workers_can_import(spark)
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "ts", "user_id", "event_type", "value"))
    a = fm.e3_pipeline(ev).toPandas()
    b = fm.e3_pipeline(ev).toPandas()
    assert a.equals(b)                       # fully deterministic rerun
    assert list(a["class_idx"]) == [0, 1, 2, 3, 4]
    for c in ("fbeta", "gbeta", "accuracy", "fmeasure", "auroc", "auprc"):
        assert a[c].between(0, 1).all(), c
    # contingency mass: tp+fp+fn+tn sums to the held-out record count
    ev_users = ev.select("user_id").distinct().count()
    mass = (a[["tp", "fp", "fn", "tn"]].sum(axis=1)).round(6).unique()
    assert len(mass) == 1 and 0 < mass[0] <= ev_users


def test_feature_matrix_shape_and_standardize(spark, sf_dir):
    from ecg_feature_engineering_spark.plans import feature_matrix as fm

    contract.ensure_workers_can_import(spark)
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "ts", "user_id", "event_type", "value"))
    m = fm.feature_matrix(ev)
    n_users = ev.select("user_id").distinct().count()
    pdf = m.toPandas()
    assert len(pdf) == n_users
    assert len(m.columns) > 100  # HRV + QRS basic + LONG block
    cols = [c for c in m.columns if c != "user_id"][:5]
    z = fm.standardize(m, cols).toPandas()
    for c in cols:
        assert abs(z[c].mean()) < 1e-9
        sd = z[c].std(ddof=0)
        assert sd == 0 or abs(sd - 1) < 1e-9


def test_simhash_whitespace_contract(spark):
    # Java \s, RE2 \s, and Python str.split() disagree on \x0b and
    # Unicode spaces; the pinned ASCII class makes kernel == relational
    # on exactly those inputs
    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["foo bar", "a\x0bb c", "x\ty\nz", "p\x0cq\rr"]}))
    rel = (dedup.simhash64_relational(d).toPandas()
           .set_index("doc_id")["simhash"].sort_index())
    ker = (dedup.simhash64(d).toPandas()
           .set_index("doc_id")["simhash"].sort_index())
    assert (rel == ker).all()


def test_ngram_jaccard_cap_none_exact(spark):
    boiler = "all rights reserved worldwide today"
    rows = [(i, f"unique text number {i} {boiler}") for i in range(30)]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    capped = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2,
                                       max_shingle_df=10).toPandas()
    exact = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2,
                                      max_shingle_df=None).toPandas()
    assert len(capped) == 0          # boilerplate-only overlap dropped
    assert len(exact) > 0            # cap=None restores exact semantics


def test_sample_entropy_relational_equals_kernel(spark, sf_dir):
    from ecg_feature_engineering_spark.operators import stats

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", "ts", "user_id", "value"))
    rel = (stats.sample_entropy_relational(
        ev, "value", "user_id", ["ts", "event_id"], m_max=2)
        .toPandas().set_index("user_id").sort_index())
    ker = (kernels.sample_entropy_agg(
        ev, "value", "user_id", ["ts", "event_id"], m_max=2)
        .toPandas().set_index("user_id").sort_index())
    np.testing.assert_allclose(
        rel[["sampen1", "sampen2"]], ker[["sampen1", "sampen2"]],
        atol=2e-6)


def test_sample_entropy_relational_short_series(spark):
    from ecg_feature_engineering_spark.operators import stats

    d = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["a", "b", "b", "b", "b", "b"],
        "ts": pd.date_range("2024-01-01", periods=6, freq="min"),
        "value": [1.0, 5.0, 9.0, 2.0, 7.0, 3.0]}))
    got = (stats.sample_entropy_relational(d, "value", "entity_id", "ts")
           .toPandas().set_index("entity_id").sort_index())
    assert got.loc["a", "sampen1"] == -2.0  # single event: guard row kept
    assert got.loc["a", "sampen2"] == -2.0
    assert np.isfinite(got.loc["b"]).all()
