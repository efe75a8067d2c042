"""As-of join vs pd.merge_asof ground truth, leakage, tolerance, forward
direction, output naming. (SURVEY.md J5 — the engine centerpiece.)"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from ecg_feature_engineering_spark.operators import asof


def _mkdata(seed=7, n_entities=6, n_left=40, n_right=60):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame({
        "entity_id": [f"e{int(i)}" for i in
                      rng.integers(0, n_entities, n_left)],
        "ts": base + pd.to_timedelta(rng.integers(0, 10**6, n_left), unit="s"),
        "lval": rng.normal(size=n_left).round(3),
    })
    right = pd.DataFrame({
        "entity_id": [f"e{int(i)}" for i in
                      rng.integers(0, n_entities, n_right)],
        "ts": base + pd.to_timedelta(rng.integers(0, 10**6, n_right), unit="s"),
        "rval": rng.normal(size=n_right).round(3),
    })
    # duplicate-ts probe: exact-match tie case
    left.loc[0, "ts"] = right.loc[0, "ts"]
    left.loc[0, "entity_id"] = right.loc[0, "entity_id"]
    return left, right


def _mkhot(seed=99, n=400):
    """Half the rows on ONE entity (the 10^12-scale hot-entity shape,
    FIXTURES.md), the rest spread over five small ones."""
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-01-01")
    ents = ["hot"] * (n // 2) + [f"e{i % 5}" for i in range(n // 2)]
    left = pd.DataFrame({
        "entity_id": ents,
        "ts": base + pd.to_timedelta(rng.integers(0, 10**6, n), unit="s"),
        "lval": rng.normal(size=n).round(3)})
    right = pd.DataFrame({
        "entity_id": ents,
        "ts": base + pd.to_timedelta(rng.integers(0, 10**6, n), unit="s"),
        "rval": rng.normal(size=n).round(3)})
    return left, right


def _oracle(left, right, direction="backward", tolerance=None):
    out = []
    for ent, lgrp in left.groupby("entity_id"):
        rgrp = right[right.entity_id == ent].sort_values("ts")
        merged = pd.merge_asof(
            lgrp.sort_values("ts"), rgrp[["ts", "rval"]], on="ts",
            direction=direction, tolerance=tolerance,
            allow_exact_matches=True)
        out.append(merged)
    return (pd.concat(out).sort_values(["entity_id", "ts", "lval"])
            .reset_index(drop=True))


def _run(spark, left, right, **kw):
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    out = asof.asof_join(ldf, rdf, on="ts", by="entity_id", **kw)
    return (out.toPandas().sort_values(["entity_id", "ts", "lval"])
            .reset_index(drop=True))


@pytest.mark.parametrize("mkdata", [_mkdata, _mkhot],
                         ids=["mixed", "hot_entity"])
@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_matches_pandas(spark, mkdata, direction):
    left, right = mkdata()
    got = _run(spark, left, right, direction=direction)
    want = _oracle(left, right, direction=direction)
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["rval"].to_numpy(float), want["rval"].to_numpy(float),
        rtol=0, atol=0, equal_nan=True)


def test_asof_tolerance(spark):
    left, right = _mkdata()
    got = _run(spark, left, right, direction="backward")
    # now with tolerance — matches farther than 1 day are nulled
    from pyspark.sql import functions as F
    got_tol = _run(spark, left, right, direction="backward",
                   tolerance=F.expr("INTERVAL 1 DAYS"))
    want = _oracle(left, right, tolerance=pd.Timedelta("1 day"))
    np.testing.assert_allclose(
        got_tol["rval"].to_numpy(float), want["rval"].to_numpy(float),
        rtol=0, atol=0, equal_nan=True)
    # tolerance only ever nulls, never changes a match
    both = ~(np.isnan(got_tol["rval"].to_numpy(float))
             | np.isnan(got["rval"].to_numpy(float)))
    assert (got_tol["rval"].to_numpy(float)[both]
            == got["rval"].to_numpy(float)[both]).all()


def test_zero_temporal_leakage(spark):
    """Perturbing any right row strictly after a probe ts must not change
    that probe's output (north rule)."""
    left, right = _mkdata(seed=11)
    base = _run(spark, left, right)
    cutoff = left["ts"].quantile(0.5)
    perturbed = right.copy()
    future = perturbed["ts"] > cutoff
    assert future.any()
    perturbed.loc[future, "rval"] = 1e9  # poison the future
    got = _run(spark, left, perturbed)
    early = base["ts"] <= cutoff
    np.testing.assert_array_equal(
        base.loc[early, "rval"].to_numpy(float),
        got.loc[early, "rval"].to_numpy(float))


def test_exact_match_inclusive(spark):
    """A right row at exactly the probe ts is matched (allow_exact_matches)."""
    left = pd.DataFrame({"entity_id": ["a"],
                         "ts": [pd.Timestamp("2024-01-02")], "lval": [1.0]})
    right = pd.DataFrame({
        "entity_id": ["a", "a"],
        "ts": [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")],
        "rval": [10.0, 20.0]})
    got = _run(spark, left, right)
    assert got["rval"].iloc[0] == 20.0
    got_f = _run(spark, left, right, direction="forward")
    assert got_f["rval"].iloc[0] == 20.0


def test_asof_join_many_equals_chained(spark):
    """One union+window pass over two right tables == two chained
    asof_join calls (the flagship-plan fusion)."""
    left, right1 = _mkdata(seed=31)
    _, right2 = _mkdata(seed=37)
    right2 = right2.rename(columns={"rval": "qval"})

    ldf = spark.createDataFrame(left)
    r1 = spark.createDataFrame(right1)
    r2 = spark.createDataFrame(right2)

    chained = asof.asof_join(
        asof.asof_join(ldf, r1, on="ts", by="entity_id",
                       keep_match_ts="ts1"),
        r2, on="ts", by="entity_id", keep_match_ts="ts2")
    fused = asof.asof_join_many(
        ldf,
        [{"df": r1, "suffix": "_a", "match_ts": "ts1"},
         {"df": r2, "suffix": "_b", "match_ts": "ts2"}],
        on="ts", by="entity_id")

    key = ["entity_id", "ts", "lval"]
    a = chained.toPandas().sort_values(key).reset_index(drop=True)
    b = fused.toPandas().sort_values(key).reset_index(drop=True)
    assert sorted(a.columns) == sorted(b.columns)
    for c in ("rval", "qval"):
        np.testing.assert_allclose(a[c].to_numpy(float), b[c].to_numpy(float),
                                   rtol=0, atol=0, equal_nan=True)
    for c in ("ts1", "ts2"):
        assert a[c].fillna(pd.Timestamp(0)).equals(
            b[c].fillna(pd.Timestamp(0))), c


def test_asof_null_payload_stays_null(spark):
    """A NULL in the MATCHED right row must stay NULL (a column-by-column
    ignorenulls fill used to backfill it from an older row, making
    (match_ts, value) internally inconsistent)."""
    left = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["e"], "ts": pd.to_datetime(["2024-01-01 00:03"])}))
    right = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["e", "e"],
        "ts": pd.to_datetime(["2024-01-01 00:01", "2024-01-01 00:02"]),
        "v": [5.0, None]}))
    out = asof.asof_join(left, right, by="entity_id",
                         keep_match_ts="mts").collect()[0]
    assert out["v"] is None
    assert out["mts"] == pd.Timestamp("2024-01-01 00:02")


def test_asof_join_many_forward_tolerance(spark):
    """Call-level direction + tolerance on the many-rights path: forward
    matches farther than one day ahead are nulled, as in pd.merge_asof."""
    from pyspark.sql import functions as F

    left, right = _mkdata(seed=13)
    got = asof.asof_join_many(
        spark.createDataFrame(left), [{"df": spark.createDataFrame(right)}],
        on="ts", by="entity_id", direction="forward",
        tolerance=F.expr("INTERVAL 1 DAYS"))
    got = (got.toPandas().sort_values(["entity_id", "ts", "lval"])
           .reset_index(drop=True))
    want = _oracle(left, right, direction="forward",
                   tolerance=pd.Timedelta("1 day"))
    assert want["rval"].isna().any() and want["rval"].notna().any()
    np.testing.assert_allclose(
        got["rval"].to_numpy(float), want["rval"].to_numpy(float),
        rtol=0, atol=0, equal_nan=True)


def test_asof_output_names_suffix_until_free(spark):
    """A right column whose suffixed name is ALSO taken keeps taking the
    suffix, on both entry points — a single suffix would emit ``v_a``
    twice here."""
    ts = pd.Timestamp("2024-01-01")
    left = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["e"], "ts": [ts], "v": [1.0]}))
    right = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["e"], "ts": [ts], "v_a": [2.0], "v": [3.0]}))
    for out in (asof.asof_join(left, right, by="entity_id", suffix="_a"),
                asof.asof_join_many(left, [{"df": right, "suffix": "_a"}],
                                    by="entity_id")):
        assert out.columns == ["entity_id", "ts", "v", "v_a", "v_a_a"]
        row = out.collect()[0]
        assert (row["v"], row["v_a"], row["v_a_a"]) == (1.0, 2.0, 3.0)
    # a match_ts name is reserved: right columns are suffixed around it
    out = asof.asof_join(left, right, by="entity_id", suffix="_a",
                         keep_match_ts="v_a")
    assert out.columns == ["entity_id", "ts", "v", "v_a_a", "v_a_a_a",
                           "v_a"]
    row = out.collect()[0]
    assert (row["v_a_a"], row["v_a_a_a"], row["v_a"]) == (2.0, 3.0, ts)


def test_asof_names_and_types_that_need_quoting(spark):
    """The as-of plan is built from SQL text, so every name and type in it
    is spelled out: names with a space, a dot, a backtick or a quote, and
    struct, array and map payloads (the struct with such field names),
    come through as they are, matched and unmatched."""
    ts = datetime.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("e", ts, 1), ("f", ts, 2)],
        "entity_id string, ts timestamp, `l v` int")
    right = spark.createDataFrame(
        [("e", ts, 2.0, ("x", 3), [4], {"k": 5})],
        "entity_id string, ts timestamp, `a.b` double, "
        "`s t` struct<`f g`: string, `h'i`: int>, `c``d` array<int>, "
        "m map<string, int>")
    out = asof.asof_join(left, right, by="entity_id", keep_match_ts="it's")
    assert out.columns == ["entity_id", "ts", "l v", "a.b", "s t", "c`d",
                           "m", "it's"]
    assert out.schema["s t"].dataType == right.schema["s t"].dataType
    e, f = sorted(out.collect(), key=lambda r: r["entity_id"])
    assert (e["l v"], e["a.b"], e["s t"]["f g"], e["s t"]["h'i"],
            e["c`d"], e["m"], e["it's"]) == (1, 2.0, "x", 3, [4], {"k": 5},
                                             ts)
    assert f["l v"] == 2
    assert all(f[c] is None for c in ("a.b", "s t", "c`d", "m", "it's"))
