"""Vectorized Arrow kernels — the engine's non-relational surface.

Reference analogs (SURVEY.md §2.9): the numeric per-record kernels U1-U10
(wavelet filter, R-peak detection, SampEn, periodogram). The graft swaps
signal kernels for image kernels with identical plumbing: `bytes:binary` in,
typed feature columns out, always Arrow-batched pandas UDFs / mapInPandas /
applyInPandas — never per-row Python UDFs (BASELINE.json input_hint).

Kernel inventory:
- ``payload_features_np`` (U1+U2)       — the one image decode loop: per-row
                                          ok/error_kind quarantine, pixel
                                          stats and, given stored hashes,
                                          pHash recompute + hamming, over
                                          same-shape stacks. Two wrappers:
- ``decode_stats``       (U1/U3 analog) — mapInPandas: status + pixel stats.
- ``payload_features_struct_udf`` (U1+U2) — struct pandas UDF: status, stats,
                                          pHash + hamming (the flagship's
                                          payload kernel).
- ``psnr_roundtrip``     (payload invariant) — re-encode lossy, PSNR vs decode.
- ``sample_entropy_agg`` (U4)           — per-entity SampEn m=1,2 UDAF with the
                                          reference's NaN->-2 / Inf->-1 patch.
- ``fft_band_power_agg`` (U6)           — per-entity periodogram band powers.

Scale notes: decode cost is per-row CPU with zero shuffle (mapInPandas rides
the scan partitioning); batch memory is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch (session.py). Grouped kernels
shuffle once on the entity key; entity groups are bounded (events-per-entity),
so no group outgrows a task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.datagen import codecs

DECODE_STATS_FIELDS = (
    "ok boolean, error_kind string, "
    "px_mean double, px_std double, luma_mean double, luma_std double, "
    "r_mean double, g_mean double, b_mean double, decoded_w int, decoded_h int"
)

_LUMA = np.array([0.299, 0.587, 0.114])
_STATS_COLS = ["px_mean", "px_std", "luma_mean", "luma_std",
               "r_mean", "g_mean", "b_mean"]

# First bytes of each supported format's payload (datagen/codecs.py): a
# payload without them is classified 'bad_magic' without a decode attempt
_MAGICS = {"bmp": b"BM", "png": b"\x89PNG", "jpeg": b"DCTQ"}

# a stack holds at most _CHUNK rows and _CHUNK_BYTES of float64 pixels,
# so large images fall back to small stacks, down to one image at a time.
# 384 KiB (16 images of 32x32) keeps a stack's temporaries in the worker's
# malloc heap: at 4 MiB every stack was mmapped or trimmed away and paged
# in again, ~3400 page faults per 875-row batch, for no gain in speed
_CHUNK = 64
_CHUNK_BYTES = 3 << 17
# set bits per byte value, for the vectorized 64-bit hamming distance
_POPCOUNT8 = np.array([bin(v).count("1") for v in range(256)], np.int32)


def _decode_checked(data, fmt) -> tuple[np.ndarray | None, str]:
    """One payload's uint8 pixels and ``error_kind``: 'ok', or why there
    are no pixels — 'null_payload' (NULL or empty bytes),
    'unsupported_fmt', 'bad_magic' (signature mismatch, no decode
    attempted) or 'corrupt' (the decode raised, or its shape is
    degenerate: a crafted header declaring zero area decodes without
    raising)."""
    if data is None or len(data) == 0:
        return None, "null_payload"
    magic = _MAGICS.get(fmt)
    if magic is None:
        return None, "unsupported_fmt"
    if bytes(data[:len(magic)]) != magic:
        return None, "bad_magic"
    try:
        px = codecs.decode(data, fmt)
    except Exception:
        return None, "corrupt"
    if px.ndim != 3 or px.size == 0:
        return None, "corrupt"
    return px, "ok"


def payload_features_np(data, fmts, stored=None) -> pd.DataFrame:
    """The payload kernel body, runnable without Spark: classify and decode
    every payload (``_decode_checked``) and return one row per payload
    with ``ok``/``error_kind``, the seven ``_STATS_COLS`` pixel stats and
    ``decoded_w``/``decoded_h`` (the ``DECODE_STATS_FIELDS`` block); when
    ``stored`` pHashes are given, also ``phash_recomputed`` and its
    ``phash_hamming`` distance to them. Every value of a row that is not
    ok is missing (NaN, or NA in nullable integer columns), which Arrow
    sends to Spark as NULL.

    Rows are decoded one by one to uint8; everything after the decode runs
    over stacks of ok rows of one decoded shape (bounded by ``_CHUNK`` and
    ``_CHUNK_BYTES``), so the numpy call count is per stack, not per
    image. Every value is
    bit-identical to computing it on each image alone: the reductions
    reduce each image's contiguous block in the same order, and the luma
    plane is taken per image on a standalone array, because a matmul over
    a stack, or over a slice of one, rounds differently."""
    n = len(data)
    decoded = [_decode_checked(d, f) for d, f in zip(data, fmts)]
    pxs = [px for px, _ in decoded]
    ok = np.array([px is not None for px in pxs], dtype=bool)
    stats = np.full((n, 7), np.nan)
    dims = np.zeros((n, 2), dtype=np.int32)
    ph = np.zeros(n, dtype=np.int64)
    groups: dict[tuple, list[int]] = {}
    for i, px in enumerate(pxs):
        if px is not None:
            groups.setdefault(px.shape, []).append(i)
    for (h, w, _), rows in groups.items():
        dims[rows] = (w, h)
        step = max(1, min(_CHUNK, _CHUNK_BYTES // (h * w * 3 * 8)))
        for s in range(0, len(rows), step):
            idx = rows[s:s + step]
            x = np.stack([pxs[i] for i in idx]).astype(np.float64)
            luma = np.stack([pxs[i].astype(np.float64) @ _LUMA
                             for i in idx])
            stats[idx] = np.column_stack([
                x.mean(axis=(1, 2, 3)), x.std(axis=(1, 2, 3)),
                luma.mean(axis=(1, 2)), luma.std(axis=(1, 2)),
                *(x[..., c].mean(axis=(1, 2)) for c in range(3))])
            if stored is not None:
                ph[idx] = codecs.phash_from_dct(
                    codecs.dct32_low8(codecs.gray_resize32(luma)))
    out = pd.DataFrame(stats, columns=_STATS_COLS)
    out.insert(0, "ok", ok)
    out.insert(1, "error_kind", [kind for _, kind in decoded])
    out["decoded_w"] = dims[:, 0]
    out["decoded_h"] = dims[:, 1]
    if stored is not None:
        out["phash_recomputed"] = ph
        diff = np.asarray(stored, dtype=np.int64) ^ ph
        out["phash_hamming"] = _POPCOUNT8[
            diff.view(np.uint8).reshape(n, 8)].sum(axis=1, dtype=np.int32)
    if not ok.all():
        for c in out.select_dtypes("integer"):
            out[c] = pd.arrays.IntegerArray(out[c].to_numpy(), ~ok)
    return out


def decode_stats(df, id_col: str = "image_id", bytes_col: str = "bytes",
                 fmt_col: str = "fmt", keep: list[str] | None = None):
    """Decode the binary payload and emit per-image pixel statistics — the
    graft analog of the reference's per-record signal-stats extraction
    (extract_HRV.py:30-33 payload read + lead projection).

    Fault-tolerant: every row gets ``ok``/``error_kind``
    (``_decode_checked``), and a NULL, truncated or foreign payload
    quarantines its ROW with NULL stats instead of aborting the stage — at
    10^12 rows one corrupt payload must not kill every retry of its task
    (the reference's serial loop, extract_HRV.py:30-33, dies on the first
    bad record). Split the result on ``ok`` to route bad rows to a
    quarantine sink.

    Runs as ``mapInPandas`` over the scan partitions: no shuffle, bounded
    Arrow batches, payload column pruned immediately after decode.
    """
    keep = keep if keep is not None else [id_col]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (", ".join(f"{c} {types[c]}" for c in keep)
                  + ", " + DECODE_STATS_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = payload_features_np(b[bytes_col].to_numpy(),
                                        b[fmt_col].to_numpy())
            yield pd.concat([b[keep].reset_index(drop=True), feats], axis=1)

    return df.select(*dict.fromkeys([*keep, bytes_col, fmt_col])) \
        .mapInPandas(run, schema=out_schema)


PAYLOAD_FEATURES_FIELDS = (
    DECODE_STATS_FIELDS + ", phash_recomputed long, phash_hamming int")


def payload_features_struct_udf():
    """Struct-returning scalar pandas UDF over (bytes, fmt, phash): status,
    decode + pixel stats + pHash recompute + hamming vs the stored
    ``phash`` in one pass (``payload_features_np``) — the U1+U2 fused
    analog (the reference filters then peak-detects in one per-record
    pass, HRV_features.py:98-105). Every other column (caption, ids,
    timestamps) stays JVM-side, so the Arrow exchange carries only the
    payload in and 13 values out, each of them one the flagship plan
    reads. The flagship plan's payload kernel; tests check its values
    against a per-image numpy oracle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StructType

    @pandas_udf(StructType.fromDDL(PAYLOAD_FEATURES_FIELDS))
    def feats(data: pd.Series, fmts: pd.Series, stored: pd.Series
              ) -> pd.DataFrame:
        return payload_features_np(data.to_numpy(), fmts.to_numpy(),
                                   stored.to_numpy())

    # nondeterministic so that a filter on one of its fields (``ok``) is
    # not pushed below the projection as a second call of the UDF
    return feats.asNondeterministic()


def resize_images(df, target_side: int, id_col: str = "image_id",
                  bytes_col: str = "bytes", fmt_col: str = "fmt",
                  out_fmt: str | None = None,
                  keep: list[str] | None = None):
    """U3 analog — image resize kernel (the reference resamples every
    record onto a common 300 Hz clock, resample.py:24-28; here every image
    is resampled onto a common pixel grid). Decode -> deterministic
    area-mean resize -> re-encode; mapInPandas over scan partitions, no
    shuffle. ``out_fmt`` defaults to each row's own format."""
    keep = keep if keep is not None else [id_col]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (", ".join(f"{c} {types[c]}" for c in keep)
                  + ", bytes binary, w int, h int, fmt string")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            enc, fmts = [], []
            for d, f in zip(b[bytes_col].to_numpy(), b[fmt_col].to_numpy()):
                px = codecs.decode(d, f)
                small = codecs.area_resize(px, target_side, target_side)
                tf = out_fmt or f
                enc.append(codecs.encode(small, tf))
                fmts.append(tf)
            out = b[keep].copy()
            out["bytes"] = enc
            out["w"] = np.int32(target_side)
            out["h"] = np.int32(target_side)
            out["fmt"] = fmts
            yield out

    return df.select(*dict.fromkeys([*keep, bytes_col, fmt_col])) \
        .mapInPandas(run, schema=out_schema)


def psnr_roundtrip(df, id_col: str = "image_id", bytes_col: str = "bytes",
                   fmt_col: str = "fmt"):
    """Payload invariant (BASELINE.json input_hint): decode -> re-encode ->
    decode, PSNR between the two decodes. Lossless formats must be inf/exact;
    lossy must stay >= 40 dB."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for d, f in zip(b[bytes_col].to_numpy(), b[fmt_col].to_numpy()):
                px = codecs.decode(d, f)
                px2 = codecs.decode(codecs.encode(px, f), f)
                p = codecs.psnr(px, px2)
                rows.append(min(p, 999.0))
            yield pd.DataFrame({id_col: b[id_col], "fmt": b[fmt_col],
                                "psnr_db": np.array(rows)})

    return df.select(id_col, bytes_col, fmt_col).mapInPandas(
        run, schema=f"{id_col} string, fmt string, psnr_db double")


# ------------------------------------------------------------------ SampEn
def _cheb_pair_counts(t: np.ndarray, m: int, r: float,
                      block: int = 2048) -> tuple[int, int]:
    """Blocked Chebyshev pair counting for SampEn: over all template pairs
    (i < j) of the (k, m+1) template matrix ``t``, count B = pairs within
    ``r`` on the FIRST m coords and A = pairs within ``r`` on all m+1
    coords, in one sweep (A-templates extend B-templates by one coord, so
    d_{m+1} = max(d_m, |Δcoord_m|) — no second pass).

    Memory is bounded at block^2 * 8 bytes per tile (~32 MB at 2048)
    regardless of k — the old full k×k×m broadcast block needed ~80 GB for
    a single 100k-event entity, serializing one hot task and OOMing the
    executor at scale. Same counts, tile by tile. Time stays O(k^2) per
    entity (inherent to exact SampEn pair counting)."""
    k = len(t)
    b_cnt = a_cnt = 0
    for i0 in range(0, k, block):
        ai = t[i0:i0 + block]
        for j0 in range(i0, k, block):
            bj = t[j0:j0 + block]
            if m == 0:
                d = np.zeros((len(ai), len(bj)))
            else:
                d = np.abs(ai[:, None, 0] - bj[None, :, 0])
                for c in range(1, m):
                    np.maximum(d, np.abs(ai[:, None, c] - bj[None, :, c]),
                               out=d)
            d1 = np.maximum(d, np.abs(ai[:, None, m] - bj[None, :, m]))
            if i0 == j0:
                iu = np.triu_indices(len(ai), 1)
                b_cnt += int(np.count_nonzero(d[iu] <= r))
                a_cnt += int(np.count_nonzero(d1[iu] <= r))
            else:
                b_cnt += int(np.count_nonzero(d <= r))
                a_cnt += int(np.count_nonzero(d1 <= r))
    return b_cnt, a_cnt


def sample_entropy_np(x: np.ndarray, m_max: int = 2, r: float | None = None
                      ) -> np.ndarray:
    """Sample entropy for m = 1..m_max (public Richman-Moorman definition):
    SampEn(m) = -ln(A_m / B_m) with A_m = #template pairs (i<j) of length m+1
    within Chebyshev distance <= r, B_m likewise for length m. r defaults to
    0.2 * population std (the reference's tolerance, HRV_features.py:132-134).
    Matches the reference's output patching: nan -> -2, inf -> -1
    (HRV_features.py:135-139). Pair counting is blocked
    (``_cheb_pair_counts``) — bounded memory per entity."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full(m_max, -2.0)
    if n < m_max + 2:
        return out
    if r is None:
        r = 0.2 * x.std()

    for m in range(1, m_max + 1):
        # canonical Richman-Moorman: BOTH template sets have N-m elements
        # (length-m templates truncated by one), so SampEn(const) == 0
        k = n - m
        templ = np.lib.stride_tricks.sliding_window_view(x, m + 1)[:k]
        b, a = _cheb_pair_counts(templ, m, r)
        if b == 0 or a == 0:
            out[m - 1] = -2.0 if b == 0 else -1.0  # nan / inf patch
        else:
            out[m - 1] = -np.log(a / b)
    return out


def sample_entropy_qrs_np(x: np.ndarray, m_max: int = 3) -> np.ndarray:
    """The reference's second SampEn flavor (A11 QRS SampleEn,
    QRS_features.py:305-322 wrapping sampen2 normalize=True): z-score the
    series (population std), r = 0.2, m = 0..m_max, undefined entries
    patched to 100 (the reference's None->100 rule). SampEn(0) uses the
    all-matching length-0 template convention B = C(n,2)."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    out = np.full(m_max + 1, 100.0)
    if n < (m_max + 1) * 2:
        return out
    sd = x.std()
    # exact equality check, not sd == 0: np.std of a constant series can
    # be ~1e-16 from float mean rounding, which would z-score to garbage
    if sd == 0 or np.all(x == x[0]):
        return out
    z = (x - x.mean()) / sd
    r = 0.2

    for m in range(0, m_max + 1):
        # uniform over m: k = n - m templates of length m+1; B counts the
        # first m coords (for m=0 that's the all-matching length-0
        # convention, B = C(n, 2)), A counts all m+1. Blocked — bounded
        # memory per entity (see _cheb_pair_counts).
        k = n - m
        templ = np.lib.stride_tricks.sliding_window_view(z, m + 1)[:k]
        b, a = _cheb_pair_counts(templ, m, r)
        if b > 0 and a > 0:
            out[m] = -np.log(a / b)
    return out


def sample_entropy_qrs_agg(df, value: str = "value", by: str = "entity_id",
                           order: str = "ts", m_max: int = 3):
    """Grouped kernel for the normalized QRS SampEn family (m=0..3)."""
    # order may be one column or a tie-breaking list, e.g.
    # ("ts", "event_id") — duplicate timestamps sort deterministically
    order_cols = [order] if isinstance(order, str) else list(order)

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values(order_cols)[value].to_numpy()
        se = sample_entropy_qrs_np(x, m_max=m_max)
        row = {by: pdf[by].iloc[0]}
        for m in range(0, m_max + 1):
            row[f"sampen_m{m}"] = float(se[m])
        return pd.DataFrame([row])

    by_type = dict(zip(df.schema.names,
                       (f.dataType.simpleString() for f in df.schema.fields)))[by]
    schema = f"{by} {by_type}, " + ", ".join(
        f"sampen_m{m} double" for m in range(0, m_max + 1))
    return df.select(by, *order_cols, value).groupBy(by) \
        .applyInPandas(agg, schema)


def sample_entropy_agg(df, value: str = "value", by="entity_id",
                       order: str = "ts", m_max: int = 2):
    """Per-entity SampEn UDAF (U4) via applyInPandas — the reference's only
    genuinely non-relational aggregate (QRS_features.py:59-246, O(n²) state
    machine; here vectorized numpy per group). ``by`` may be one column or
    a composite-key list (the relational twin and the auto-gate accept
    lists, so the kernel must too)."""
    # order may be one column or a tie-breaking list, e.g.
    # ("ts", "event_id") — duplicate timestamps sort deterministically
    order_cols = [order] if isinstance(order, str) else list(order)
    by_cols = [by] if isinstance(by, str) else list(by)

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values(order_cols)[value].to_numpy()
        se = sample_entropy_np(x, m_max=m_max)
        row = {c: pdf[c].iloc[0] for c in by_cols}
        for m in range(1, m_max + 1):
            row[f"sampen{m}"] = se[m - 1]
        return pd.DataFrame([row])

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (", ".join(f"{c} {types[c]}" for c in by_cols) + ", "
              + ", ".join(f"sampen{m} double" for m in range(1, m_max + 1)))
    return df.select(*by_cols, *order_cols, value).groupBy(*by_cols) \
        .applyInPandas(agg, schema)


# ------------------------------------------------------------- periodogram
def periodogram_np(x: np.ndarray, fs: float) -> tuple[np.ndarray, np.ndarray]:
    """One-sided boxcar periodogram, density scaling — the public
    scipy.signal.periodogram default contract (U6 analog,
    LONG_features.py:129-138), implemented on numpy.fft."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    spec = np.fft.rfft(x)
    pxx = (spec.real**2 + spec.imag**2) / (fs * n)
    pxx[1:] *= 2.0
    if n % 2 == 0 and len(pxx) > 1:
        pxx[-1] /= 2.0
    freqs = np.fft.rfftfreq(n, d=1.0 / fs)
    return freqs, pxx


def fft_band_power_agg(df, value: str = "value", by: str = "entity_id",
                       order: str = "ts", fs: float = 1.0,
                       bands: list[tuple[float, float]] | None = None,
                       quantize: float | None = None):
    """Per-entity spectral band powers (A16/U6): periodogram then band sums.
    Band edges follow the reference's [lo, hi) half-open convention.
    ``quantize``: optional per-bin FLOOR grid (see fft_features_agg —
    the independent-oracle hash-stability contract)."""
    # order may be one column or a tie-breaking list, e.g.
    # ("ts", "event_id") — duplicate timestamps sort deterministically
    order_cols = [order] if isinstance(order, str) else list(order)
    bands = bands or [(0, 0.05), (0.05, 0.1), (0.1, 0.2),
                      (0.2, 0.3), (0.3, 0.4), (0.4, 0.5)]

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values(order_cols)[value].to_numpy()
        row = {by: pdf[by].iloc[0]}
        if len(x) < 4:
            for i in range(len(bands)):
                row[f"band{i}"] = 0.0  # reference zero-fill for short series
            row["total_power"] = 0.0
        else:
            freqs, pxx = periodogram_np(x, fs)
            if quantize is not None:
                pxx = np.floor(pxx / quantize) * quantize
            for i, (lo, hi) in enumerate(bands):
                row[f"band{i}"] = float(pxx[(freqs >= lo) & (freqs < hi)].sum())
            row["total_power"] = float(pxx.sum())
        return pd.DataFrame([row])

    by_type = dict(zip(df.schema.names,
                       (f.dataType.simpleString() for f in df.schema.fields)))[by]
    schema = (f"{by} {by_type}, "
              + ", ".join(f"band{i} double" for i in range(len(bands)))
              + ", total_power double")
    return df.select(by, *order_cols, value).groupBy(by) \
        .applyInPandas(agg, schema)


def fft_features_agg(df, value: str = "value", by: str = "entity_id",
                     order: str = "ts", fs: float = 300.0,
                     partition_hz: list[float] | None = None,
                     snr_cut_hz: float = 5.0,
                     quantize: float | None = None):
    """A16-A19 fused — the reference's LONG FFT family in one periodogram
    pass (fixing its 3x recompute, LONG_features.py:270-281):
    index-partitioned band powers (LongFFTBandPower :121-138 convention —
    edges mapped to bin indices int(f*nfft/fs)), total power (:140-151),
    Shannon entropy of the band distribution (:153-171), and SNR =
    power(<cut)/power(>=cut) (:173-191).

    ``quantize``: optional per-bin FLOOR grid applied to the periodogram
    BEFORE any band sum. With it, every band/total is an exact small
    integer multiple of the grid (exact in float64), the SNR is a
    bit-identical quotient of exact sums, and entropy is the only
    transcendental left — this is what makes an independent-algorithm
    oracle (naive DFT, ~5e-9 absolute agreement with rfft) hash-stable:
    round()ing raw band sums flips on .5*10^-k boundaries cross-run
    (driver r3 fft_features FAIL), floor on a grid 8 orders above the
    algorithmic noise does not."""
    # order may be one column or a tie-breaking list, e.g.
    # ("ts", "event_id") — duplicate timestamps sort deterministically
    order_cols = [order] if isinstance(order, str) else list(order)
    partition_hz = partition_hz or [0, 1.5, 4, 8, 20, 100, fs / 2]
    n_bands = len(partition_hz) - 1

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values(order_cols)[value].to_numpy()
        row = {by: pdf[by].iloc[0]}
        if len(x) < 4:
            for i in range(n_bands):
                row[f"band{i}"] = 0.0
            row.update(total_power=0.0, band_entropy=0.0, snr=0.0)
        else:
            freqs, pxx = periodogram_np(x, fs)
            if quantize is not None:
                pxx = np.floor(pxx / quantize) * quantize
            nfft = len(x)
            idx = [int(h * nfft / fs) for h in partition_hz]
            p = [float(pxx[idx[i]:idx[i + 1]].sum()) for i in range(n_bands)]
            for i in range(n_bands):
                row[f"band{i}"] = p[i]
            row["total_power"] = float(pxx.sum())
            tot = sum(p)
            probs = [v / tot for v in p if v > 0] if tot > 0 else []
            row["band_entropy"] = float(-sum(v * np.log(v) for v in probs))
            sig = float(pxx[freqs < snr_cut_hz].sum())
            noise = float(pxx[freqs >= snr_cut_hz].sum())
            row["snr"] = sig / noise if noise > 0 else 0.0
        return pd.DataFrame([row])

    by_type = dict(zip(df.schema.names,
                       (f.dataType.simpleString() for f in df.schema.fields)))[by]
    schema = (f"{by} {by_type}, "
              + ", ".join(f"band{i} double" for i in range(n_bands))
              + ", total_power double, band_entropy double, snr double")
    return df.select(by, *order_cols, value).groupBy(by) \
        .applyInPandas(agg, schema)


def wavelet_stat_agg(df, value: str = "value", by: str = "entity_id",
                     order: str = "ts", n_moments: int = 7, level: int = 7,
                     min_len: int = 64):
    """A22/U5 — per-entity WaveletStat: db-N L-level DWT, per-band
    {max,min,mean,median,std,energy/len} (LONG_features.py:243-262). The
    reference's min_len is 1664 (db7/7 levels on >=1664 samples); shorter
    series zero-fill. 48 feature columns at the default depth."""
    # order may be one column or a tie-breaking list, e.g.
    # ("ts", "event_id") — duplicate timestamps sort deterministically
    order_cols = [order] if isinstance(order, str) else list(order)
    from ecg_feature_engineering_spark.functions import wavelets

    n_feats = (level + 1) * 6

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values(order_cols)[value].to_numpy()
        feats = wavelets.wavelet_stat_features(x, n_moments, level, min_len)
        row = {by: pdf[by].iloc[0]}
        for i, v in enumerate(feats):
            row[f"wv{i}"] = float(v)
        return pd.DataFrame([row])

    by_type = dict(zip(df.schema.names,
                       (f.dataType.simpleString() for f in df.schema.fields)))[by]
    schema = (f"{by} {by_type}, "
              + ", ".join(f"wv{i} double" for i in range(n_feats)))
    return df.select(by, *order_cols, value).groupBy(by) \
        .applyInPandas(agg, schema)


def tukey_window(n: int, alpha: float = 0.25) -> np.ndarray:
    """Tukey (tapered-cosine) window — the public Harris/Bloomfield
    definition that scipy.signal.windows.tukey implements: flat middle,
    cosine tapers over alpha*(n-1)/2 samples per side; alpha=0 is boxcar."""
    if n == 1 or alpha <= 0:
        return np.ones(n)
    alpha = min(alpha, 1.0)
    w = np.ones(n)
    width = int(np.floor(alpha * (n - 1) / 2.0))
    left = np.arange(width + 1)
    w[:width + 1] = 0.5 * (
        1 + np.cos(np.pi * (-1 + 2.0 * left / alpha / (n - 1))))
    w[n - width - 1:] = w[:width + 1][::-1]
    return w


def spectrogram_agg(df, value: str = "value", by: str = "entity_id",
                    order: str = "ts", fs: float = 300.0,
                    nperseg: int = 64, noverlap: int = 0):
    """U7 — per-entity log-spectrogram (preprocess-300hz.py:254-269:
    scipy.signal.spectrogram(nperseg=64) then log). Matches scipy's
    default contract: tukey(0.25) taper, constant detrend (per-segment
    mean removed), one-sided density scaling 1/(fs*sum(win^2)). Grouped
    kernel -> array<array<double>> per entity."""
    # order may be one column or a tie-breaking list, e.g.
    # ("ts", "event_id") — duplicate timestamps sort deterministically
    order_cols = [order] if isinstance(order, str) else list(order)
    hop = nperseg - noverlap
    win = tukey_window(nperseg, 0.25)
    scale = 1.0 / (fs * float((win * win).sum()))

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values(order_cols)[value].to_numpy()
        segs = []
        for s in range(0, max(len(x) - nperseg + 1, 0), hop):
            seg = x[s:s + nperseg].astype(np.float64)
            seg = seg - seg.mean()          # detrend='constant'
            spec = np.fft.rfft(win * seg)
            pxx = (spec.real ** 2 + spec.imag ** 2) * scale
            pxx[1:] *= 2.0
            if nperseg % 2 == 0 and len(pxx) > 1:
                pxx[-1] /= 2.0
            segs.append(np.log(pxx + 1e-12).tolist())
        return pd.DataFrame([{by: pdf[by].iloc[0], "n_segments": len(segs),
                              "log_spec": segs}])

    by_type = dict(zip(df.schema.names,
                       (f.dataType.simpleString() for f in df.schema.fields)))[by]
    schema = (f"{by} {by_type}, n_segments int, "
              "log_spec array<array<double>>")
    return df.select(by, *order_cols, value).groupBy(by) \
        .applyInPandas(agg, schema)


def anchor_fiducials_kernel(events, anchors, by: str = "entity_id",
                            event_ts: str = "ts", value: str = "value",
                            anchor_key: str = "anchor_id",
                            lo_s: float = -3600.0, hi_s: float = 3600.0):
    """A24/U10 — the row-expanding per-anchor fiducial kernel (per-beat
    loop, extract_SHORT.py:56-139) as a cogrouped Arrow kernel: one entity
    group in -> one row per anchor out, numpy argmax/argmin per window.
    Relational twin: operators/joins.anchor_window_aggs (bucketized range
    join) — tests assert both agree."""

    FIDUCIAL_COLS = [
        "n_events", "max_value", "min_value", "mean_value", "amplitude",
        # per-beat fiducial analogs (extract_SHORT.py:68-139): peak/trough
        # positions, onset/offset values, rise/fall slopes, window area,
        # pre/post-anchor means and their step
        "argmax_offset_s", "argmin_offset_s", "first_value", "last_value",
        "slope_up", "slope_down", "area", "pre_mean", "post_mean",
        "pre_post_step", "n_pre", "n_post", "value_at_anchor",
    ]

    def run(a_pdf: pd.DataFrame, e_pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        if a_pdf.empty:
            return pd.DataFrame(columns=[by, anchor_key, *FIDUCIAL_COLS])
        if event_ts not in e_pdf.columns:
            raise RuntimeError(
                f"cogroup events frame missing {event_ts!r}: "
                f"e={list(e_pdf.columns)} a={list(a_pdf.columns)}")
        ev = e_pdf.sort_values(event_ts)
        ets = ev[event_ts].to_numpy()
        vals = ev[value].to_numpy()
        sec = ets.astype("datetime64[us]").astype(np.int64) / 1e6
        for _, a in a_pdf.iterrows():
            t0 = (a[event_ts] + pd.Timedelta(seconds=lo_s)).to_numpy()
            t1 = (a[event_ts] + pd.Timedelta(seconds=hi_s)).to_numpy()
            ta = float(np.datetime64(a[event_ts], "us").astype(np.int64)
                       / 1e6)
            m = (ets >= t0) & (ets <= t1)
            sel, ssec = vals[m], sec[m]
            row = {by: a[by], anchor_key: a[anchor_key]}
            if len(sel):
                imax, imin = int(sel.argmax()), int(sel.argmin())
                pre, post = sel[ssec <= ta], sel[ssec > ta]
                dt_up = ssec[imax] - ssec[0]
                dt_dn = ssec[-1] - ssec[imax]
                row.update(
                    n_events=int(len(sel)),
                    max_value=float(sel.max()),
                    min_value=float(sel.min()),
                    mean_value=float(sel.mean()),
                    amplitude=float(sel.max() - sel.min()),
                    argmax_offset_s=float(ssec[imax] - ta),
                    argmin_offset_s=float(ssec[imin] - ta),
                    first_value=float(sel[0]),
                    last_value=float(sel[-1]),
                    slope_up=float((sel[imax] - sel[0]) / dt_up)
                    if dt_up > 0 else 0.0,
                    slope_down=float((sel[-1] - sel[imax]) / dt_dn)
                    if dt_dn > 0 else 0.0,
                    area=float(np.trapz(sel, ssec)) if len(sel) > 1 else 0.0,
                    pre_mean=float(pre.mean()) if len(pre) else None,
                    post_mean=float(post.mean()) if len(post) else None,
                    pre_post_step=float(post.mean() - pre.mean())
                    if len(pre) and len(post) else None,
                    n_pre=int(len(pre)), n_post=int(len(post)),
                    value_at_anchor=float(pre[-1]) if len(pre) else None,
                )
            else:
                row.update({c: (0 if c in ("n_events", "n_pre", "n_post")
                                else None) for c in FIDUCIAL_COLS})
            out.append(row)
        return pd.DataFrame(out, columns=[by, anchor_key, *FIDUCIAL_COLS])

    by_type = dict(zip(events.schema.names,
                       (f.dataType.simpleString()
                        for f in events.schema.fields)))[by]
    key_type = dict(zip(anchors.schema.names,
                        (f.dataType.simpleString()
                         for f in anchors.schema.fields)))[anchor_key]
    schema = (f"{by} {by_type}, {anchor_key} {key_type}, n_events long, "
              "max_value double, min_value double, mean_value double, "
              "amplitude double, argmax_offset_s double, "
              "argmin_offset_s double, first_value double, "
              "last_value double, slope_up double, slope_down double, "
              "area double, pre_mean double, post_mean double, "
              "pre_post_step double, n_pre long, n_post long, "
              "value_at_anchor double")
    # Re-alias the events projection to mint FRESH attribute ids: when
    # anchors and events derive from the SAME scan (anchors are usually a
    # filtered view of the event stream), Spark's self-join attribute
    # dedup can silently collapse the shared `ts` attribute and hand the
    # kernel an events frame without its timestamp column. Alias nodes
    # break the identity; the defensive raise in run() guards the rest.
    ev_fresh = events.select(
        F.col(by).alias(by), F.col(event_ts).alias(event_ts),
        F.col(value).alias(value))
    return (
        anchors.groupBy(by)
        .cogroup(ev_fresh.groupBy(by))
        .applyInPandas(run, schema=schema)
    )


# --------------------------------------------------- U8 batch inference
def mlp_weights(seed: int = 7, d_in: int = 256, d_hidden: int = 32,
                d_out: int = 9) -> dict[str, np.ndarray]:
    """Deterministic seeded weights for the stand-in deep-feature model —
    the graft analog of the reference's trained InceptionTime checkpoint
    (get_model.py:11-17 loads best_model.hdf5; no trained weights ship
    with the engine, so a fixed-seed Xavier init plays that role: the
    *pipeline* — broadcast weights, Arrow-batched forward pass, 9-dim
    output joined into the feature matrix — is the thing under test)."""
    rng = np.random.default_rng(seed)
    return {
        "w1": rng.normal(0, (2.0 / (d_in + d_hidden)) ** 0.5,
                         (d_in, d_hidden)),
        "b1": np.zeros(d_hidden),
        "w2": rng.normal(0, (2.0 / (d_hidden + d_out)) ** 0.5,
                         (d_hidden, d_out)),
        "b2": np.zeros(d_out),
    }


def mlp_forward_np(x: np.ndarray, w: dict[str, np.ndarray]) -> np.ndarray:
    """Batched forward pass: tanh hidden layer + softmax head — the
    model.predict analog (get_model.py:32). x: (n, d_in) -> (n, d_out)."""
    h = np.tanh(x @ w["w1"] + w["b1"])
    logits = h @ w["w2"] + w["b2"]
    e = np.exp(logits - logits.max(axis=1, keepdims=True))
    return e / e.sum(axis=1, keepdims=True)


def predict_batch(df, weights: dict[str, np.ndarray] | None = None,
                  id_col: str = "image_id", bytes_col: str = "bytes",
                  fmt_col: str = "fmt", keep: list[str] | None = None,
                  grid: int = 16):
    """U8 — broadcast-weights batch model inference (the predict_batch_udf
    pattern): decode -> area-mean luma grid (grid x grid, the fixed-length
    model input, resample.py's common-clock analog) -> normalized flatten ->
    numpy MLP forward -> 9 deep-feature columns D1..D9
    (get_model.py:27-32; consumed by the E3 matrix join,
    xgboost_clf.py:11-15).

    Scale shape: weights are broadcast ONCE via sparkContext.broadcast (not
    re-pickled per task closure), the forward pass is two matmuls per Arrow
    batch (vectorized across the batch — never per-row Python), and the
    kernel runs on the scan partitions with no shuffle. The payload column
    is pruned right after decode."""
    keep = keep if keep is not None else [id_col]
    if weights is None:
        weights = mlp_weights(d_in=grid * grid)
    bc = df.sparkSession.sparkContext.broadcast(weights)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (", ".join(f"{c} {types[c]}" for c in keep)
                  + ", " + ", ".join(f"d{i + 1} double" for i in range(
                      weights["b2"].shape[0])))
    n_out = weights["b2"].shape[0]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = bc.value
        for b in batches:
            n = len(b)
            x = np.empty((n, grid * grid))
            data_col = b[bytes_col].to_numpy()
            fmts = b[fmt_col].to_numpy()
            for i in range(n):
                px = codecs.decode(data_col[i], fmts[i]).astype(np.float64)
                luma = codecs.area_resize(px, grid, grid) @ _LUMA
                x[i] = (luma.ravel() / 255.0) - 0.5
            y = mlp_forward_np(x, w)
            out = b[keep].copy()
            for j in range(n_out):
                out[f"d{j + 1}"] = y[:, j]
            yield out

    return df.select(*dict.fromkeys([*keep, bytes_col, fmt_col])) \
        .mapInPandas(run, schema=out_schema)
