"""Independent end-to-end oracle: the flagship feature vectors recomputed
in pure pandas/numpy (merge_asof + groupby windows — a from-scratch
reimplementation of the DATAFLOW, sharing only the codecs), allclose at
every entity x as_of_ts (north star criterion)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from ecg_feature_engineering_spark.datagen import codecs
from ecg_feature_engineering_spark.datagen import images as dg
from ecg_feature_engineering_spark.plans.flagship import flagship

N_IMAGES = 240
SEED = 42
N_ENTITIES = N_IMAGES // 20
GAP_S = 3600.0
ROLL = 10
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")


def _images_features_pdf() -> pd.DataFrame:
    pdf = dg.gen_images_pdf(SEED, 0, N_IMAGES, N_ENTITIES)
    rows = []
    for _, r in pdf.iterrows():
        px = codecs.decode(r["bytes"], r["fmt"]).astype(np.float64)
        luma = px @ np.array([0.299, 0.587, 0.114])
        ph = codecs.phash64(px)
        ham = bin((int(r["phash"]) ^ ph) & ((1 << 64) - 1)).count("1")
        text = r["caption"]
        words = text.split() if text.strip() else []
        n_chars, n_words = len(text), len(words)
        n_punct = sum(c in ".,!?;:" for c in text)
        n_stop = sum(w in STOPWORDS for w in words)
        rows.append({
            "entity_id": r["entity_id"], "ts": r["ts"],
            "image_id": r["image_id"],
            "px_mean": px.mean(), "px_std": px.std(),
            "luma_mean": luma.mean(), "luma_std": luma.std(),
            "r_mean": px[..., 0].mean(), "g_mean": px[..., 1].mean(),
            "b_mean": px[..., 2].mean(),
            "decoded_w": px.shape[1], "decoded_h": px.shape[0],
            "phash_recomputed": ph, "phash_hamming": ham,
            "phash_bits": bin(int(r["phash"]) & ((1 << 64) - 1)).count("1"),
            "phash_prefix": (int(r["phash"]) & ((1 << 64) - 1)) >> 48,
            "n_words": n_words,
            "mean_word_len": ((n_chars - (n_words - 1)) / n_words
                              if n_words else 0.0),
            "punct_ratio": n_punct / n_chars if n_chars else 0.0,
            "stopword_ratio": n_stop / n_words if n_words else 0.0,
        })
    return pd.DataFrame(rows).sort_values("ts", kind="mergesort")


def _snapshots_pdf() -> pd.DataFrame:
    out = []
    for e in range(N_ENTITIES):
        rng = dg._rng(SEED + 1, e)
        name = "ent00000000" if e == 0 else f"ent{e:08d}"
        offs = np.sort(rng.integers(-3600, 86400 * 2, 12))
        offs[1] = offs[2]
        for o in offs:
            out.append({"entity_id": name,
                        "as_of_ts": dg._EPOCH + dt.timedelta(seconds=int(o))})
    return pd.DataFrame(out)


def _event_features_pdf(events: pd.DataFrame) -> pd.DataFrame:
    ev = events.copy()
    ev["entity_id"] = ev["user_id"].mod(N_ENTITIES).map(
        lambda u: f"ent{u:08d}")
    ev = ev[["entity_id", "ts", "value"]].sort_values(
        ["entity_id", "ts"], kind="mergesort").reset_index(drop=True)
    g = ev.groupby("entity_id", sort=False)
    ev["value_diff1"] = ev["value"] - g["value"].shift(1)
    ev["value_diff2"] = ev["value"] - g["value"].shift(2)
    r = g["value"].rolling(ROLL, min_periods=1)
    ev["roll_mean"] = r.mean().reset_index(level=0, drop=True)
    ev["roll_min"] = r.min().reset_index(level=0, drop=True)
    ev["roll_max"] = r.max().reset_index(level=0, drop=True)
    ev["roll_std"] = r.std(ddof=0).reset_index(level=0, drop=True)
    ev["roll_n"] = r.count().reset_index(level=0, drop=True).astype("int64")
    sec = ev["ts"].astype("datetime64[ns]").astype("int64") / 1e9
    flag = (sec.groupby(ev["entity_id"]).diff() > GAP_S).astype(int)
    ev["session_id"] = flag.groupby(ev["entity_id"]).cumsum()
    ev["session_event_n"] = ev.groupby(
        ["entity_id", "session_id"]).cumcount() + 1
    return ev


def test_flagship_equals_independent_pandas_pipeline(spark, sf_dir):
    got = flagship(spark, sf_dir, n_images=N_IMAGES).toPandas()
    got = got.sort_values(["entity_id", "as_of_ts"],
                          kind="mergesort").reset_index(drop=True)

    img = _images_features_pdf()
    snap = _snapshots_pdf()
    events = pd.read_parquet(f"{sf_dir}/events.parquet")
    evf = _event_features_pdf(events)

    # unify timestamp resolutions for merge_asof (parquet us vs pandas ns)
    snap["as_of_ts"] = snap["as_of_ts"].astype("datetime64[us]")
    img["ts"] = img["ts"].astype("datetime64[us]")
    evf["ts"] = evf["ts"].astype("datetime64[us]")

    outs = []
    for ent, s in snap.groupby("entity_id"):
        s = s.sort_values("as_of_ts", kind="mergesort")
        ig = img[img.entity_id == ent].drop(columns=["entity_id"])
        eg = evf[evf.entity_id == ent].drop(columns=["entity_id"])
        m = pd.merge_asof(s, ig.rename(columns={"ts": "img_ts"}),
                          left_on="as_of_ts", right_on="img_ts",
                          direction="backward")
        m = pd.merge_asof(m, eg.rename(columns={"ts": "event_ts"}),
                          left_on="as_of_ts", right_on="event_ts",
                          direction="backward")
        outs.append(m)
    want = (pd.concat(outs).sort_values(["entity_id", "as_of_ts"],
                                        kind="mergesort")
            .reset_index(drop=True))

    assert len(got) == len(want)
    for c in got.columns:
        if c in ("entity_id", "image_id"):
            assert got[c].where(got[c].notna(), None).tolist() == \
                want[c].where(want[c].notna(), None).tolist(), c
        elif got[c].dtype.kind == "f" or want[c].dtype.kind == "f":
            np.testing.assert_allclose(
                got[c].astype(float).to_numpy(),
                want[c].astype(float).to_numpy(),
                rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=c)
        elif got[c].dtype.kind == "M":
            a = got[c].astype("datetime64[us]").astype("int64")
            b = want[c].astype("datetime64[us]").astype("int64")
            np.testing.assert_array_equal(a.to_numpy(), b.to_numpy(),
                                          err_msg=c)
        else:
            a = got[c].astype("float64")  # ints with possible nulls
            b = want[c].astype("float64")
            np.testing.assert_allclose(a, b, rtol=0, atol=0,
                                       equal_nan=True, err_msg=c)
