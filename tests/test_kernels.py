"""Arrow kernels vs numpy oracles: sample entropy, periodogram band powers,
image decode stats, pHash integrity, PSNR payload invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.datagen import codecs
from ecg_feature_engineering_spark.datagen import images as datagen
from ecg_feature_engineering_spark.functions import kernels

_LUMA = np.array([0.299, 0.587, 0.114])


def _sampen_bruteforce(x, m, r):
    """Literal O(n^2) Richman-Moorman count for one m — both template sets
    restricted to the first N-m templates (canonical definition)."""
    def count(mm, k):
        c = 0
        for i in range(k):
            for j in range(i + 1, k):
                if max(abs(x[i + t] - x[j + t]) for t in range(mm)) <= r:
                    c += 1
        return c
    k = len(x) - m
    b, a = count(m, k), count(m + 1, k)
    if b == 0:
        return -2.0
    if a == 0:
        return -1.0
    return -np.log(a / b)


def test_sample_entropy_np_matches_bruteforce():
    rng = np.random.default_rng(3)
    x = rng.normal(size=60)
    r = 0.2 * x.std()
    got = kernels.sample_entropy_np(x, m_max=2)
    for m in (1, 2):
        want = _sampen_bruteforce(x, m, r)
        assert np.isclose(got[m - 1], want), m


def test_sample_entropy_short_series_patch():
    assert (kernels.sample_entropy_np(np.array([1.0]), 2) == [-2.0, -2.0]).all()
    # constant series: every template matches -> A=B -> SampEn 0
    got = kernels.sample_entropy_np(np.full(20, 3.14), 2)
    assert np.allclose(got, 0.0)


def test_sample_entropy_agg(spark, sf_dir, events_pdf):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = (kernels.sample_entropy_agg(ev, "value", "user_id", "ts", 2)
           .toPandas().set_index("user_id"))
    for uid, grp in list(events_pdf.groupby("user_id"))[:5]:
        x = grp.sort_values("ts")["value"].to_numpy()
        want = kernels.sample_entropy_np(x, 2)
        assert np.isclose(got.loc[uid, "sampen1"], want[0])
        assert np.isclose(got.loc[uid, "sampen2"], want[1])


def test_periodogram_parseval():
    """One-sided density periodogram must satisfy Parseval: sum(pxx)*fs/n
    == mean(x^2) (boxcar window, density scaling)."""
    rng = np.random.default_rng(5)
    for n in (64, 65):
        x = rng.normal(size=n)
        freqs, pxx = kernels.periodogram_np(x, fs=2.0)
        assert len(freqs) == n // 2 + 1
        assert np.isclose(pxx.sum() * 2.0 / n, (x**2).mean())


def test_fft_band_power_agg(spark, sf_dir, events_pdf):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = (kernels.fft_band_power_agg(ev, "value", "user_id", "ts", fs=1.0)
           .toPandas().set_index("user_id"))
    bands = [(0, 0.05), (0.05, 0.1), (0.1, 0.2), (0.2, 0.3), (0.3, 0.4),
             (0.4, 0.5)]
    for uid, grp in list(events_pdf.groupby("user_id"))[:4]:
        x = grp.sort_values("ts")["value"].to_numpy()
        freqs, pxx = kernels.periodogram_np(x, 1.0)
        for i, (lo, hi) in enumerate(bands):
            want = pxx[(freqs >= lo) & (freqs < hi)].sum()
            assert np.isclose(got.loc[uid, f"band{i}"], want), (uid, i)
        assert np.isclose(got.loc[uid, "total_power"], pxx.sum())


def test_decode_stats_matches_numpy(spark):
    img = datagen.images_df(spark, 60, seed=9)
    got = kernels.decode_stats(img, keep=["image_id"]).toPandas() \
        .set_index("image_id")
    assert bool(got["ok"].all())
    assert set(got["error_kind"]) == {"ok"}
    pdf = img.select("image_id", "bytes", "fmt").toPandas()
    for _, row in pdf.iloc[:20].iterrows():
        px = codecs.decode(row["bytes"], row["fmt"]).astype(np.float64)
        luma = px @ _LUMA
        r = got.loc[row["image_id"]]
        assert np.isclose(r["px_mean"], px.mean())
        assert np.isclose(r["px_std"], px.std())
        assert np.isclose(r["luma_mean"], luma.mean())
        assert np.isclose(r["r_mean"], px[..., 0].mean())
        assert r["decoded_w"] == px.shape[1]


_PAYLOAD_COLS = ["ok", "error_kind",
                 "px_mean", "px_std", "luma_mean", "luma_std", "r_mean",
                 "g_mean", "b_mean", "decoded_w", "decoded_h",
                 "phash_recomputed", "phash_hamming"]


def _payload_corpus() -> pd.DataFrame:
    """Every (fmt, h, w) group of a shape grid (three rows each), one shape
    group of more than ``kernels._CHUNK`` rows, one singleton shape and
    one shape too large for a stack of two under ``kernels._CHUNK_BYTES``,
    in shuffled order; stored pHashes alternate between exact and random
    so hamming distances are both zero and not."""
    rng = np.random.default_rng(17)
    fmts = ("bmp", "png", "jpeg")
    items = [(f, hw) for f in fmts
             for hw in ((8, 8), (12, 20), (31, 17), (32, 32))
             for _ in range(3)]
    items += [(fmts[i % 3], (16, 16)) for i in range(kernels._CHUNK + 6)]
    items += [("png", (5, 9)), ("bmp", (300, 300)), ("jpeg", (300, 300))]
    rows = []
    for i in rng.permutation(len(items)):
        fmt, (h, w) = items[i]
        data = codecs.encode(rng.integers(0, 256, (h, w, 3), np.uint8), fmt)
        exact = codecs.phash64(codecs.decode(data, fmt))
        rows.append({"image_id": f"img{i:03d}", "bytes": data, "fmt": fmt,
                     "phash": exact if i % 2 else int(
                         rng.integers(-2**63, 2**63 - 1))})
    return pd.DataFrame(rows).sort_values("image_id", ignore_index=True)


def _payload_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per image, alone: decode -> float64 -> stats, ``codecs.phash64``,
    hamming by counting the bits of the 64-bit xor."""
    out = []
    for d, f, stored in zip(pdf["bytes"], pdf["fmt"], pdf["phash"]):
        u8 = codecs.decode(d, f)
        px = u8.astype(np.float64)
        luma = px @ _LUMA
        ph = codecs.phash64(u8)
        out.append([True, "ok", px.mean(), px.std(), luma.mean(), luma.std(),
                    px[..., 0].mean(), px[..., 1].mean(), px[..., 2].mean(),
                    px.shape[1], px.shape[0], ph,
                    bin((int(stored) ^ ph) & ((1 << 64) - 1)).count("1")])
    return pd.DataFrame(out, columns=_PAYLOAD_COLS)


def _assert_payload_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    for c in want.columns:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c


def test_payload_kernel_body_matches_per_image_oracle():
    """The shape-batched kernel body, without Spark, is bit-identical to
    computing every value on each image alone."""
    pdf = _payload_corpus()
    shapes = pd.Series([codecs.decode(d, f).shape
                        for d, f in zip(pdf["bytes"], pdf["fmt"])])
    assert shapes.value_counts().max() > kernels._CHUNK
    assert shapes.value_counts().min() == 1
    assert 300 * 300 * 3 * 8 * 2 > kernels._CHUNK_BYTES
    got = kernels.payload_features_np(pdf["bytes"], pdf["fmt"],
                                      pdf["phash"])
    assert list(got.columns) == _PAYLOAD_COLS
    want = _payload_oracle(pdf)
    assert (want["phash_hamming"] == 0).any()
    assert (want["phash_hamming"] > 0).any()
    _assert_payload_equal(got, want)
    stats_only = kernels.payload_features_np(pdf["bytes"], pdf["fmt"])
    _assert_payload_equal(stats_only, want[_PAYLOAD_COLS[:11]])


def test_payload_kernel_in_spark_small_arrow_batches(spark):
    """The same corpus through the struct UDF and ``decode_stats`` with
    7-row Arrow batches: still bit-identical to the per-image oracle."""
    pdf = _payload_corpus()
    want = _payload_oracle(pdf)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        df = spark.createDataFrame(pdf).repartition(3)
        udf = kernels.payload_features_struct_udf()
        got = (df.select("image_id", udf("bytes", "fmt", "phash").alias("f"))
               .select("image_id", "f.*").toPandas()
               .sort_values("image_id", ignore_index=True))
        stats = (kernels.decode_stats(df).toPandas()
                 .sort_values("image_id", ignore_index=True))
    finally:
        spark.conf.set(key, old)
    assert got["image_id"].tolist() == pdf["image_id"].tolist()
    _assert_payload_equal(got, want)
    _assert_payload_equal(stats, want[_PAYLOAD_COLS[:11]])


def test_phash_integrity(spark):
    """Stored phash (hot-prefix rows excluded) must equal the recomputed one."""
    img = datagen.images_df(spark, 120, seed=42)
    udf = kernels.payload_features_struct_udf()
    got = img.select("phash", udf("bytes", "fmt", "phash").alias("f")) \
        .select("phash", "f.*").toPandas()
    hot = (got["phash"].to_numpy() >> 48 & 0xFFFF) == 0x7FEE
    assert (got.loc[~hot, "phash_hamming"] == 0).all()
    assert (got.loc[~hot, "phash_recomputed"] == got.loc[~hot, "phash"]).all()
    assert hot.sum() > 0  # the skew knob is actually exercised


def test_psnr_invariant(spark):
    img = datagen.images_df(spark, 90, seed=42)
    got = kernels.psnr_roundtrip(img).toPandas()
    lossless = got["fmt"].isin(["png", "bmp"])
    assert (got.loc[lossless, "psnr_db"] == 999.0).all()  # exact round-trip
    assert (got.loc[~lossless, "psnr_db"] >= 40.0).all()  # input_hint: >=40dB


def test_codec_roundtrip_exact():
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    for fmt in ("png", "bmp"):
        assert (codecs.decode(codecs.encode(px, fmt), fmt) == px).all(), fmt
    lossy = codecs.decode(codecs.encode(px, "jpeg"), "jpeg")
    assert codecs.psnr(px, lossy) >= 40.0


def test_phash_deterministic_and_sensitive():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    h1 = codecs.phash64(px)
    h2 = codecs.phash64(px.copy())
    assert h1 == h2
    other = codecs.phash64(255 - px)
    assert h1 != other


def test_sample_entropy_qrs_variant(spark, sf_dir, events_pdf):
    got = (kernels.sample_entropy_qrs_agg(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        "value", "user_id", "ts", 3).toPandas().set_index("user_id"))
    for uid, grp in list(events_pdf.groupby("user_id"))[:3]:
        x = grp.sort_values("ts")["value"].to_numpy()
        want = kernels.sample_entropy_qrs_np(x, 3)
        for m in range(4):
            assert np.isclose(got.loc[uid, f"sampen_m{m}"], want[m]), (uid, m)
    # short / constant series patch to 100
    assert (kernels.sample_entropy_qrs_np(np.ones(3), 3) == 100.0).all()
    assert (kernels.sample_entropy_qrs_np(np.full(50, 2.0), 3) == 100.0).all()
    # m=0 consistency with the canonical count on a random series
    rng = np.random.default_rng(8)
    z = rng.normal(size=40)
    se = kernels.sample_entropy_qrs_np(z, 0)
    assert se[0] > 0


def test_area_resize_properties():
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (30, 20, 3), dtype=np.uint8)
    out = codecs.area_resize(px, 15, 10)
    assert out.shape == (15, 10, 3)
    # constant image stays constant
    const = np.full((24, 24, 3), 77, dtype=np.uint8)
    assert (codecs.area_resize(const, 8, 8) == 77).all()
    # integer 2x downscale == exact 2x2 block means (rounded)
    want = np.rint(px[:30, :20].reshape(15, 2, 10, 2, 3)
                   .mean(axis=(1, 3))).astype(np.uint8)
    np.testing.assert_array_equal(codecs.area_resize(px, 15, 10), want)
    # global mean preserved (area weighting)
    assert abs(out.astype(float).mean() - px.astype(float).mean()) < 2.0


def test_resize_images_kernel(spark):
    img = datagen.images_df(spark, 40, seed=6)
    out = kernels.resize_images(img, 16, out_fmt="png").toPandas()
    assert (out["w"] == 16).all() and (out["h"] == 16).all()
    assert (out["fmt"] == "png").all()
    # decoded resized payloads are 16x16 and match a direct resize
    src = img.select("image_id", "bytes", "fmt").toPandas() \
        .set_index("image_id")
    for _, row in out.iloc[:10].iterrows():
        got_px = codecs.decode(row["bytes"], "png")
        assert got_px.shape == (16, 16, 3)
        orig = codecs.decode(src.loc[row["image_id"], "bytes"],
                             src.loc[row["image_id"], "fmt"])
        np.testing.assert_array_equal(got_px,
                                      codecs.area_resize(orig, 16, 16))


def test_decode_with_status_clean_corpus_matches_decode_stats(spark):
    """On a clean corpus the status-carrying struct UDF (the flagship
    plan's path) marks every row ok and agrees bit for bit with
    ``decode_stats`` on status and values."""
    img = datagen.images_df(spark, 45, seed=11)
    udf = kernels.payload_features_struct_udf()
    got = img.select("image_id", udf("bytes", "fmt", "phash").alias("f")) \
        .select("image_id", "f.*").toPandas().set_index("image_id") \
        .sort_index()
    ref = kernels.decode_stats(img, keep=["image_id"]) \
        .toPandas().set_index("image_id").sort_index()
    assert bool(got["ok"].all()) and bool(ref["ok"].all())
    assert set(got["error_kind"]) == set(ref["error_kind"]) == {"ok"}
    np.testing.assert_allclose(got["px_mean"].astype(float),
                               ref["px_mean"], rtol=0, atol=0)
    assert (got["decoded_w"].astype(int) == ref["decoded_w"]).all()


def _zero_area_bmp(data: bytes) -> bytes:
    """A BMP whose header declares width 0: it decodes without raising."""
    import struct

    b = bytearray(data)
    struct.pack_into("<ii", b, 18, 0, 8)  # width=0, height=8: zero area
    return bytes(b)


def _planted_bad_rows(pdf: pd.DataFrame) -> dict[str, str]:
    """Damage the first five rows of an image table in place, one per
    failure class plus an empty payload; returns image_id -> expected
    error_kind."""
    ids = list(pdf["image_id"])
    for i, fn in enumerate([lambda b: b[: len(b) // 2],     # truncated
                            lambda b: b"XX" + bytes(b)[2:],  # clobbered magic
                            lambda b: None,                  # NULL payload
                            lambda b: b""]):                 # empty payload
        pdf.at[pdf.index[i], "bytes"] = fn(pdf.iloc[i]["bytes"])
    pdf.loc[pdf["image_id"] == ids[4], "fmt"] = "tiff"  # unknown format
    return {ids[0]: "corrupt", ids[1]: "bad_magic", ids[2]: "null_payload",
            ids[3]: "null_payload", ids[4]: "unsupported_fmt"}


def test_payload_kernel_body_classifies_planted_bad_rows():
    """The kernel body over the oracle corpus with bad rows planted, a
    zero-area header among them: each bad row gets its error_kind and
    NULL values, and every ok row is still bit-identical to the per-image
    oracle."""
    pdf = _payload_corpus()
    want = _payload_oracle(pdf)
    kinds = _planted_bad_rows(pdf)
    bmp = pdf.index[pdf["fmt"] == "bmp"][-1]
    pdf.at[bmp, "bytes"] = _zero_area_bmp(pdf.at[bmp, "bytes"])
    kinds[pdf.at[bmp, "image_id"]] = "corrupt"
    got = kernels.payload_features_np(pdf["bytes"], pdf["fmt"],
                                      pdf["phash"])
    assert list(got.columns) == _PAYLOAD_COLS
    bad = pdf["image_id"].isin(kinds).to_numpy()
    assert bad.sum() == 6
    assert got.loc[bad, "error_kind"].tolist() == \
        [kinds[i] for i in pdf.loc[bad, "image_id"]]
    assert not got.loc[bad, "ok"].any()
    assert got.loc[bad, _PAYLOAD_COLS[2:]].isna().all().all()
    _assert_payload_equal(got[~bad], want[~bad])


def test_decode_stats_classifies_and_survives(spark, tmp_path):
    """One corrupt payload must quarantine its row, not abort the stage —
    and every failure class lands in its own error_kind."""
    pdf = datagen.images_df(spark, 30, seed=12).toPandas()
    kinds = _planted_bad_rows(pdf)
    df = spark.createDataFrame(pdf)
    out = kernels.decode_stats(df, keep=["image_id", "fmt"]) \
        .toPandas().set_index("image_id")
    for image_id, kind in kinds.items():
        assert out.loc[image_id, "error_kind"] == kind, image_id
    good = out[out["ok"]]
    assert len(good) == 25 and good["px_mean"].notna().all()
    assert set(good["error_kind"]) == {"ok"}
    bad = out[~out["ok"]]
    assert bad["px_mean"].isna().all() and bad["decoded_w"].isna().all()
    # quarantine sink roundtrip: bad rows routed to parquet with their kind
    q = kernels.decode_stats(df, keep=["image_id", "fmt"]) \
        .where(~F.col("ok")).select("image_id", "fmt", "error_kind")
    qdir = str(tmp_path / "quarantine")
    q.write.mode("overwrite").parquet(qdir)
    back = spark.read.parquet(qdir)
    assert back.count() == 5
    assert set(r["error_kind"] for r in back.collect()) == {
        "corrupt", "bad_magic", "null_payload", "unsupported_fmt"}


def test_decode_stats_degenerate_shape_is_corrupt(spark):
    """A crafted header declaring zero area decodes without raising —
    must classify 'corrupt', never ok-with-NULL-stats."""
    pdf = datagen.images_df(spark, 3, seed=13).toPandas()
    pdf = pdf[pdf["fmt"] == "bmp"].iloc[:1].copy()
    assert len(pdf) == 1
    pdf.loc[pdf.index[0], "bytes"] = _zero_area_bmp(pdf.iloc[0]["bytes"])
    out = kernels.decode_stats(spark.createDataFrame(pdf),
                               keep=["image_id"]).toPandas()
    assert out.iloc[0]["error_kind"] == "corrupt"
    assert not out.iloc[0]["ok"] and pd.isna(out.iloc[0]["px_mean"])
