"""Driver-contract query registry: named (Spark query, DuckDB oracle SQL) pairs.

Each entry re-expresses one operator row from SURVEY.md §2 over the driver's
testdata tables (region nation customer supplier part orders lineitem events
documents embeddings). The Spark side and the oracle SQL round floating
outputs identically (round 6; monetary sums round 2) so the driver's
order-insensitive value-hash matches bit-for-bit.

Kernel-backed operators (Arrow UDF rows — SURVEY.md §2.9) whose raw output
DuckDB cannot replay certify via pinned seeded-corpus digests (quantize per
row, then an order-independent integer sum — see ``_digest_chk``); since
late r3 EVERY registered query has an ``ORACLES`` entry, and the raw
full-shape surfaces keep their numeric oracles in tests/.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.datagen import audio as datagen_audio
from ecg_feature_engineering_spark.datagen import images as datagen
from ecg_feature_engineering_spark.datagen import video as datagen_video
from ecg_feature_engineering_spark.functions import kernels, media_kernels
from ecg_feature_engineering_spark.operators import (
    asof,
    corpus,
    dedup,
    joins,
    metrics,
    similarity,
    splits,
    stats,
    text,
    windows,
)
from ecg_feature_engineering_spark.plans import flagship as flagship_plan

QUERY_BUILDERS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

SESSION_GAP_S = 21600.0  # 6h gap for event sessionization
NN_THRESHOLD = 15.0
BIN_THRESHOLDS = [150.0, 100.0, 50.0]


_SHIPPED: set[str] = set()
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def worker_zip_path(pkg_dir: str = _PKG_DIR) -> str:
    """Where ``ensure_workers_can_import`` builds the zip of ``pkg_dir``:
    in the temp dir, under a name keyed on a short hash of the package
    path, so two checkouts sharing one temp dir never ship each other's
    code to executors."""
    import hashlib
    import tempfile

    tag = hashlib.sha256(os.path.abspath(pkg_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(),
                        f"ecg_feature_engineering_spark_pyfiles_{tag}.zip")


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the engine package to executor Python workers via addPyFile.

    The driver process importing this module does not make the package
    importable inside executor workers when the session was launched from
    another working directory (cloudpickle references module functions by
    name). Building a zip once and addPyFile-ing it makes every
    kernel-bearing query self-contained — the same mechanism as the
    production ``spark-submit --py-files dist/engine.zip``."""
    import zipfile

    # key by applicationId, not id(sc): CPython reuses freed object
    # addresses, so after a session stop/recreate a FRESH context could
    # alias a seen id and silently skip addPyFile
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    zpath = worker_zip_path()
    # Rebuild when any source file is newer than the zip — a stale cached
    # zip would make executors silently run old kernel code after an edit.
    src_mtime = 0.0
    for root, _dirs, files in os.walk(_PKG_DIR):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                src_mtime = max(src_mtime,
                                os.path.getmtime(os.path.join(root, f)))
    if (not os.path.exists(zpath)
            or os.path.getmtime(zpath) < src_mtime):
        # pid-unique temp + atomic replace: two concurrent sessions may
        # both rebuild, but each publishes a complete zip (a shared .tmp
        # would interleave writes and ship a corrupt archive to executors)
        tmp = f"{zpath}.tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(_PKG_DIR):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "ecg_feature_engineering_spark",
                            os.path.relpath(full, _PKG_DIR))
                        zf.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(key)


def register(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark, sf_dir):
            ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERY_BUILDERS[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _round(df: DataFrame, cols: list[str], n: int = 6) -> DataFrame:
    return df.select(
        *[F.round(F.col(c), n).alias(c) if c in cols else F.col(c)
          for c in df.columns]
    )


def _canon_zero(df: DataFrame, cols: list[str]) -> DataFrame:
    """Canonicalize IEEE -0.0 -> +0.0 after rounding. A near-zero noise
    value (e.g. centered skewness of a symmetric pair) rounds to a zero
    whose SIGN is engine-dependent; the driver's value hash is bitwise, so
    -0.0 vs 0.0 would mismatch. The oracle twin is ``round(...) + 0.0``
    (IEEE: -0.0 + 0.0 == +0.0; identity for every other value)."""
    return df.select(*[
        F.when(F.col(c) == 0, F.lit(0.0)).otherwise(F.col(c)).alias(c)
        if c in cols else F.col(c)
        for c in df.columns])


def _events(spark, sf_dir) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")


def _digest_chk(col: str, scale: float):
    """Pinned-digest checksum term: quantize each row's value BEFORE the
    order-independent integer sum, so the digest is stable under any
    aggregation order / core count (see COVERAGE.md digest-stability
    notes — only checksum quantities off the decimal grid)."""
    return (F.sum(F.round(F.col(col) * scale).cast("long"))
            .alias(f"chk_{col}"))


_ORDER = ["ts", "event_id"]  # deterministic per-user event order


# =====================================================================
# Relational core (scans, filters, joins, aggregates — S/P/J rows)
# =====================================================================
@register("tpch_pricing_summary", """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — grouped agg with pushed-down ship-date filter (P2/A-family)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc).alias("sum_disc_price"),
            F.sum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    # round each sum to its quantity's true decimal count so 1-ulp
    # cross-engine differences can never straddle a rounding boundary
    out = _round(out, ["sum_qty", "sum_base_price"], 2)
    out = _round(out, ["sum_disc_price"], 4)
    out = _round(out, ["sum_charge"], 6)
    return _round(out, ["avg_qty", "avg_price", "avg_disc"], 4)


@register("shipping_priority", """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey
""")
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape — 3-way equi-join with selective filters; customer side
    broadcasts (J1/J3)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
    )
    return _round(out, ["revenue"], 4)


@register("nation_revenue", """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""")
def q_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape — multi-join star with broadcast dims (J3)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
    )
    return _round(out, ["revenue"], 4)


@register("top_customers", """
SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
FROM orders GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey LIMIT 10
""")
def q_top_customers(spark, sf_dir):
    """Top-k by aggregate (O3: TakeOrderedAndProject)."""
    out = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey"))
        .limit(10)
    )
    return out


@register("rank_orders_per_customer", """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk <= 3
""")
def q_rank_orders(spark, sf_dir):
    """Per-group top-k via row_number (W8/O3)."""
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey",
                F.row_number().over(w).cast("long").alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@register("semi_join_active_customers", """
SELECT c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
""")
def q_semi_join(spark, sf_dir):
    """Left-semi membership join (J7)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@register("anti_join_dormant_customers", """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def q_anti_join(spark, sf_dir):
    """Left-anti join — the blacklist/except shape (P3/J7)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register("recode_lang", """
SELECT doc_id,
  CASE lang WHEN 'en' THEN 0 WHEN 'es' THEN 1 WHEN 'fr' THEN 2
            WHEN 'de' THEN 3 ELSE -1 END AS lang_code
FROM documents
""")
def q_recode(spark, sf_dir):
    """Value recode when-ladder (P7: gender_num/label_num, utils.py:16-40)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        splits.recode("lang", {"en": 0, "es": 1, "fr": 2, "de": 3}, default=-1)
        .cast("int").alias("lang_code"),
    )


# =====================================================================
# Ordered per-entity windows (W rows) on the events stream
# =====================================================================
@register("lag_diffs", """
SELECT event_id, user_id,
  round(value - lag(value, 1) OVER w, 6) AS value_diff1,
  round(value - lag(value, 2) OVER w, 6) AS value_diff2
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_lag_diffs(spark, sf_dir):
    """W1 — the RR = diff(rpeaks) first-difference core (HRV_features.py:106)."""
    ev = _events(spark, sf_dir)
    ev = windows.with_lag_diff(ev, "value", "user_id", _ORDER, 1, "value_diff1")
    ev = windows.with_lag_diff(ev, "value", "user_id", _ORDER, 2, "value_diff2")
    return _round(ev.select("event_id", "user_id", "value_diff1",
                            "value_diff2"), ["value_diff1", "value_diff2"])


@register("hrv_features", """
WITH d AS (
  SELECT user_id, value,
    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d1
  FROM events)
SELECT user_id,
  round(sqrt(CASE WHEN (avg(value * value) - avg(value) * avg(value)) < 0 THEN 0 ELSE (avg(value * value) - avg(value) * avg(value)) END), 6) AS sdnn,
  round(max(value), 6) AS max_rr,
  round(min(value), 6) AS min_rr,
  round(avg(value), 6) AS mean_rr,
  -- coalesce mirrors the engine's safe_div F4 zero-guard (default 0.0)
  -- for an all-null-value entity: count(value)=0 while the CASE sum is a
  -- non-null 0, so /0 yields NULL here but 0.0 in the engine
  round(coalesce(
    sum(CASE WHEN abs(d1) >= 15.0 THEN 1 ELSE 0 END) / count(value), 0.0),
    6) AS pnn50,
  round(sqrt(avg(d1 * d1)), 6) AS rmssd
FROM d GROUP BY user_id
""")
def q_hrv(spark, sf_dir):
    """A1 — the ManFeat_HRV aggregate nine (HRV_features.py:92-153) over the
    events stream, population-moment parity."""
    ev = _events(spark, sf_dir)
    ev = windows.with_lag_diff(ev, "value", "user_id", _ORDER, 1, "d1")
    out = ev.groupBy("user_id").agg(
        *stats.hrv_aggs("value", "d1", nn_threshold=NN_THRESHOLD))
    return _round(out, ["sdnn", "max_rr", "min_rr", "mean_rr", "pnn50",
                        "rmssd"])


@register("basic_stats", """
WITH mu AS (SELECT user_id, avg(value) AS gm FROM events GROUP BY user_id),
s AS (
  SELECT e.user_id,
    avg(e.value) m1, avg(e.value * e.value) m2r,
    avg(pow(e.value - mu.gm, 2)) c2,
    avg(pow(e.value - mu.gm, 3)) c3,
    avg(pow(e.value - mu.gm, 4)) c4,
    count(e.value) cnt, max(e.value) mx, min(e.value) mn,
    quantile_cont(e.value, 0.05) q5, quantile_cont(e.value, 0.25) q25,
    quantile_cont(e.value, 0.50) q50, quantile_cont(e.value, 0.75) q75,
    quantile_cont(e.value, 0.95) q95
  FROM events e JOIN mu ON e.user_id IS NOT DISTINCT FROM mu.user_id
  GROUP BY e.user_id)
SELECT user_id,
  round(m1, 6) AS stat_mean,
  round(CASE WHEN m1 <> 0 THEN 1.0 / m1 ELSE 0.0 END, 6) AS stat_hr,
  cnt AS stat_cnt,
  round(mx - mn, 6) AS stat_range,
  round(c2, 6) AS stat_var,
  round(CASE WHEN c2 > 1e-12 * m2r THEN c3 / pow(c2, 1.5) END, 6) + 0.0
    AS stat_skew,
  round(CASE WHEN c2 > 1e-12 * m2r THEN c4 / (c2 * c2) - 3 END, 6) + 0.0
    AS stat_kurt,
  round(q50, 6) AS stat_median,
  round(mn, 6) AS stat_min,
  round(q5, 6) AS stat_p5,
  round(q25, 6) AS stat_p25,
  round(q75, 6) AS stat_p75,
  round(q95, 6) AS stat_p95,
  round(q95 - q5, 6) AS stat_ipr_95_5,
  round(q75 - q25, 6) AS stat_ipr_75_25
FROM s
""")
def q_basic_stats(spark, sf_dir):
    """A2 — QRSBasicStat 15 (QRS_features.py:370-401): population var/skew/
    Fisher-kurtosis via two-pass centered moments (broadcast group mean),
    exact interpolated percentiles."""
    ev = stats.with_group_mean(_events(spark, sf_dir), "value", "user_id")
    out = ev.groupBy("user_id").agg(*stats.basic_stat_aggs("value", "stat_"))
    out = _round(out, [c for c in out.columns
                       if c not in ("user_id", "stat_cnt")])
    return _canon_zero(out, ["stat_skew", "stat_kurt"])


@register("long_stats", """
WITH mu AS (SELECT user_id, avg(value) AS gm FROM events GROUP BY user_id),
s AS (
  SELECT e.user_id,
    avg(e.value * e.value) m2r,
    avg(pow(e.value - mu.gm, 2)) c2,
    avg(pow(e.value - mu.gm, 3)) c3,
    avg(pow(e.value - mu.gm, 4)) c4,
    max(e.value) mx, min(e.value) mn,
    quantile_cont(e.value, 0.01) q1, quantile_cont(e.value, 0.05) q5,
    quantile_cont(e.value, 0.10) q10, quantile_cont(e.value, 0.25) q25,
    quantile_cont(e.value, 0.50) q50, quantile_cont(e.value, 0.75) q75,
    quantile_cont(e.value, 0.90) q90, quantile_cont(e.value, 0.95) q95,
    quantile_cont(e.value, 0.99) q99
  FROM events e JOIN mu ON e.user_id IS NOT DISTINCT FROM mu.user_id
  GROUP BY e.user_id)
SELECT user_id,
  round(mx - mn, 6) AS ls_range,
  round(c2, 6) AS ls_var,
  round(CASE WHEN c2 > 1e-12 * m2r THEN c3 / pow(c2, 1.5) END, 6) + 0.0
    AS ls_skew,
  round(CASE WHEN c2 > 1e-12 * m2r THEN c4 / (c2 * c2) - 3 END, 6) + 0.0
    AS ls_kurt,
  round(q50, 6) AS ls_median,
  round(q1, 6) AS ls_p1, round(q5, 6) AS ls_p5, round(q10, 6) AS ls_p10,
  round(q25, 6) AS ls_p25, round(q75, 6) AS ls_p75, round(q90, 6) AS ls_p90,
  round(q95, 6) AS ls_p95, round(q99, 6) AS ls_p99,
  round(q99 - q1, 6) AS ls_ipr_99_1, round(q95 - q5, 6) AS ls_ipr_95_5,
  round(q90 - q10, 6) AS ls_ipr_90_10, round(q75 - q25, 6) AS ls_ipr_75_25
FROM s
""")
def q_long_stats(spark, sf_dir):
    """A13 — LongBasicStat percentile ladder (LONG_features.py:35-104);
    var/skew/kurt via two-pass centered moments (broadcast group mean)."""
    ev = stats.with_group_mean(_events(spark, sf_dir), "value", "user_id")
    out = ev.groupBy("user_id").agg(*stats.long_stat_aggs("value", "ls_"))
    out = _round(out, [c for c in out.columns if c != "user_id"])
    return _canon_zero(out, ["ls_skew", "ls_kurt"])


@register("coeff_of_variation", """
WITH d AS (
  SELECT user_id, value,
    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d1
  FROM events)
SELECT user_id,
  round(CASE WHEN avg(value) <> 0 THEN
    sqrt(CASE WHEN (avg(value * value) - avg(value) * avg(value)) < 0 THEN 0 ELSE (avg(value * value) - avg(value) * avg(value)) END) / avg(value)
    ELSE 0.0 END, 6) AS cov_ts,
  round(CASE WHEN avg(d1) <> 0 THEN
    sqrt(CASE WHEN (avg(d1 * d1) - avg(d1) * avg(d1)) < 0 THEN 0 ELSE (avg(d1 * d1) - avg(d1) * avg(d1)) END) / avg(d1) ELSE 0.0 END, 6)
    AS cov_dts
FROM d GROUP BY user_id
""")
def q_cv(spark, sf_dir):
    """A7 — CoeffOfVariation on series + first diff (QRS_features.py:335-358)."""
    ev = _events(spark, sf_dir)
    ev = windows.with_lag_diff(ev, "value", "user_id", _ORDER, 1, "d1")
    out = ev.groupBy("user_id").agg(*stats.cv_aggs("value", "d1"))
    return _round(out, ["cov_ts", "cov_dts"])


@register("variability", """
WITH s AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vl, ts, event_id
  FROM events),
d AS (
  SELECT user_id, vl,
    vl - lag(vl) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d1
  FROM s)
SELECT user_id,
  round(sqrt(CASE WHEN (sum(vl * vl) / count(vl)
             - (sum(vl) / count(vl)) * (sum(vl) / count(vl))) < 0 THEN 0 ELSE (sum(vl * vl) / count(vl)
             - (sum(vl) / count(vl)) * (sum(vl) / count(vl))) END) / 100, 6)
    AS sdnn,
  -- CAST: DuckDB SUM(int) is HUGEINT -> Arrow decimal128(38,0); Spark emits
  -- int64 — identical values, mismatched driver value-hash (VERDICT r2 #1)
  CAST(sum(CASE WHEN abs(d1) > 1500 THEN 1 ELSE 0 END) AS BIGINT) AS nn50,
  round(sum(CASE WHEN abs(d1) > 1500 THEN 1 ELSE 0 END) / count(d1), 6)
    AS pnn50
FROM d GROUP BY user_id
""")
def q_variability(spark, sf_dir):
    """A9 — Variability SDNN/NN50/pNN50 (QRS_features.py:509-538).

    Hash-hardened form: `value` has exactly 2 decimals in the testdata, so
    all moments are computed from EXACT integer power sums over
    vl = round(value*100) — order-independent, hence bit-identical between
    Spark and the DuckDB oracle regardless of aggregation order (a float
    sum's last-ulp noise can flip the 6th-decimal rounding; an int sum
    can't). stats.variability_aggs stays the general-double API.

    Domain precondition: sum(vl²) must fit int64, i.e. |value| <= ~3e6
    at n<=100 events/entity (beyond that, ANSI aborts on overflow while
    DuckDB widens to HUGEINT — use the double API for wider-range data).
    The adversarial huge-offset corpus pins this boundary."""
    ev = _events(spark, sf_dir)
    ev = ev.withColumn("vl", F.round(F.col("value") * 100).cast("long"))
    ev = windows.with_lag_diff(ev, "vl", "user_id", _ORDER, 1, "d1")
    n = F.count("vl")  # null values are excluded (sums skip them too)
    s1 = F.sum("vl")
    s2 = F.sum(F.col("vl") * F.col("vl"))
    nn50 = F.sum(F.when(F.abs(F.col("d1")) > 1500, 1).otherwise(0))
    out = ev.groupBy("user_id").agg(
        (F.sqrt(stats._clamp0(s2 / n - (s1 / n) * (s1 / n))) / 100).alias("sdnn"),
        nn50.alias("nn50"),
        # try_divide: a single-event entity has count(d1)=0 — null (the
        # DuckDB /0 result), not an ANSI DIVIDE_BY_ZERO abort
        F.try_divide(nn50, F.count("d1")).alias("pnn50"),
    )
    return _round(out, ["sdnn", "pnn50"])


@register("sessionize", """
WITH g AS (
  SELECT event_id, user_id,
    CASE WHEN epoch_us(ts) / 1000000.0
            - lag(epoch_us(ts) / 1000000.0)
              OVER (PARTITION BY user_id ORDER BY ts) > 21600.0
         THEN 1 ELSE 0 END AS flag, ts
  FROM events)
SELECT event_id, user_id,
  -- CAST: HUGEINT-vs-int64 Arrow artifact (see variability oracle)
  CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS session_id
FROM g
""")
def q_sessionize(spark, sf_dir):
    """Gap sessionization (north rule; SURVEY.md §2.5) — 6h gap."""
    ev = _events(spark, sf_dir)
    out = windows.sessionize(ev, SESSION_GAP_S, "user_id", "ts", "session_id")
    return out.select("event_id", "user_id", "session_id")


@register("session_aggs", """
WITH g AS (
  SELECT user_id, value, ts,
    CASE WHEN epoch_us(ts) / 1000000.0
            - lag(epoch_us(ts) / 1000000.0)
              OVER (PARTITION BY user_id ORDER BY ts) > 21600.0
         THEN 1 ELSE 0 END AS flag
  FROM events),
s AS (
  SELECT user_id, value, ts,
    -- CAST: HUGEINT-vs-int64 Arrow artifact (see variability oracle)
    CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS session_id
  FROM g)
SELECT user_id, session_id,
  count(*) AS n_events,
  round(sum(value), 6) AS sum_value,
  round(min(value), 6) AS min_value,
  round(max(value), 6) AS max_value,
  round(epoch_us(max(ts)) / 1000000.0 - epoch_us(min(ts)) / 1000000.0, 6)
    AS duration_s
FROM s GROUP BY user_id, session_id
""")
def q_session_aggs(spark, sf_dir):
    """Per-session aggregates over gap sessions (batch twin of
    session_window; streaming/sessions.py)."""
    ev = _events(spark, sf_dir)
    s = windows.sessionize(ev, SESSION_GAP_S, "user_id", "ts", "session_id")
    sec = windows.epoch_seconds(s, "ts")
    out = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (F.max(sec) - F.min(sec)).alias("duration_s"),
    )
    return _round(out, ["sum_value", "min_value", "max_value", "duration_s"])


@register("ffill", """
SELECT event_id, user_id,
  round(last_value(v IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_filled
FROM (SELECT event_id, user_id, ts,
        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events)
""")
def q_ffill(spark, sf_dir):
    """Fill-forward of nulls (north rule backfill; W-fill): error rows' value
    nulled then forward-filled from the entity's past only."""
    ev = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value")))
    out = windows.ffill(ev, ["v"], "user_id", _ORDER)
    return _round(
        out.select("event_id", "user_id", F.col("v").alias("value_filled")),
        ["value_filled"])


@register("rolling_stats", """
SELECT event_id, user_id,
  round(avg(value) OVER w, 6) AS roll_mean,
  round(min(value) OVER w, 6) AS roll_min,
  round(max(value) OVER w, 6) AS roll_max,
  count(value) OVER w AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""")
def q_rolling(spark, sf_dir):
    """Trailing rolling aggregates, last 5 rows (A-rolling; leak-free frame)."""
    ev = _events(spark, sf_dir)
    out = windows.rolling(
        ev, "value",
        {"roll_mean": "avg", "roll_min": "min", "roll_max": "max",
         "roll_n": "count"},
        by="user_id", order=_ORDER, rows=5,
    )
    return _round(out.select("event_id", "user_id", "roll_mean", "roll_min",
                             "roll_max", "roll_n"),
                  ["roll_mean", "roll_min", "roll_max"])


@register("rolling_median3", """
SELECT event_id, user_id,
  round(CASE WHEN count(*) OVER w3 = count(value) OVER w3
             THEN median(value) OVER w3 END, 6) AS value_med3
FROM events
WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
""")
def q_rolling_median3(spark, sf_dir):
    """W2 — centered 3-point rolling median (QRS_features.py:20-27)."""
    ev = _events(spark, sf_dir)
    out = windows.rolling_median3(ev, "value", "user_id", _ORDER, "value_med3")
    return _round(out.select("event_id", "user_id", "value_med3"),
                  ["value_med3"])


@register("trim_endpoints", """
SELECT event_id, user_id FROM (
  SELECT event_id, user_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events) WHERE rn > 1 AND rn <= n - 1
""")
def q_trim(spark, sf_dir):
    """P5 — drop first/last row per entity (the ts[1:-1] trim)."""
    ev = _events(spark, sf_dir)
    return windows.trim_endpoints(ev, "user_id", _ORDER).select(
        "event_id", "user_id")


@register("sliding_segments", """
WITH base AS (
  SELECT event_id, user_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
  FROM events)
SELECT event_id, user_id,
  unnest(generate_series(
    greatest(0, floor((i - 10) / 10.0))::BIGINT,
    floor(i / 10.0)::BIGINT)) AS segment_id
FROM base
""")
def q_sliding_segments(spark, sf_dir):
    """W5 — overlapping fixed-length segmentation (SegSig_1d,
    HRV_features.py:32-58): 20-row windows, stride 10."""
    ev = _events(spark, sf_dir)
    out = windows.sliding_segments(ev, 20, 10, "user_id", _ORDER, "segment_id")
    return out.select("event_id", "user_id", "segment_id")


# =====================================================================
# As-of joins (J5 — the centerpiece)
# =====================================================================
@register("asof_backward", """
SELECT l.event_id, round(r.value, 6) AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
ON l.user_id = r.user_id AND r.ts <= l.ts
""")
def q_asof_backward(spark, sf_dir):
    """J5 — backward as-of join: latest 'view' value at or before each
    'click', per user. DuckDB's native ASOF JOIN is the oracle."""
    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value")
    out = asof.asof_join(left, right, on="ts", by="user_id",
                         direction="backward")
    return _round(out.select("event_id", F.col("value").alias("asof_value")),
                  ["asof_value"])


@register("asof_forward", """
SELECT l.event_id, round(r.value, 6) AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
ON l.user_id = r.user_id AND r.ts >= l.ts
""")
def q_asof_forward(spark, sf_dir):
    """J5 — forward as-of join (earliest 'view' at or after each 'click')."""
    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value")
    out = asof.asof_join(left, right, on="ts", by="user_id",
                         direction="forward")
    return _round(out.select("event_id", F.col("value").alias("asof_value")),
                  ["asof_value"])


@register("asof_tolerance", """
SELECT l.event_id,
  CASE WHEN l.ts - r.ts <= INTERVAL 2 DAY THEN round(r.value, 6) END
    AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
ON l.user_id = r.user_id AND r.ts <= l.ts
""")
def q_asof_tolerance(spark, sf_dir):
    """J5 — backward as-of with a 2-day tolerance: matches farther back are
    nulled (pd.merge_asof tolerance semantics)."""
    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value")
    out = asof.asof_join(left, right, on="ts", by="user_id",
                         direction="backward",
                         tolerance=F.expr("INTERVAL 2 DAYS"))
    return _round(out.select("event_id", F.col("value").alias("asof_value")),
                  ["asof_value"])


# =====================================================================
# Binning / MAD / autocorr / crossings (A5, A8, A20, A14, A21)
# =====================================================================
@register("bin_stat", """
WITH b AS (
  SELECT user_id,
    CASE WHEN value > 150.0 THEN 0 WHEN value > 100.0 THEN 1
         WHEN value > 50.0 THEN 2 ELSE 3 END AS bucket
  FROM events),
c AS (SELECT user_id, bucket, count(*) AS n FROM b GROUP BY user_id, bucket)
SELECT user_id, bucket, n,
  round(n / sum(n) OVER (PARTITION BY user_id), 6) AS ratio
FROM c
""")
def q_bin_stat(spark, sf_dir):
    """A5 — first-match descending-threshold binning + per-bucket count/ratio
    (QRS_features.py:261-294)."""
    ev = _events(spark, sf_dir)
    out = stats.bin_stat(ev, "value", BIN_THRESHOLDS, by="user_id")
    return _round(out.select("user_id", F.col("bucket").cast("int").alias("bucket"),
                             "n", "ratio"), ["ratio"])


@register("mad", """
WITH med AS (SELECT user_id, quantile_cont(value, 0.5) AS m
             FROM events GROUP BY user_id)
SELECT e.user_id, round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad
FROM events e JOIN med ON e.user_id = med.user_id
GROUP BY e.user_id, med.m
""")
def q_mad(spark, sf_dir):
    """A8 — median absolute deviation, two exact-median passes
    (QRS_features.py:360-367)."""
    ev = _events(spark, sf_dir)
    out = stats.mad(ev, "value", by="user_id", out="mad")
    return _round(out, ["mad"])


@register("autocorr", """
WITH lagged AS (
  SELECT user_id, value,
    lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
    lag(value, 3) OVER w AS l3
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
  round(corr(value, l1), 6) AS acf1,
  round(corr(value, l2), 6) AS acf2,
  round(corr(value, l3), 6) AS acf3
FROM lagged GROUP BY user_id
""")
def q_autocorr(spark, sf_dir):
    """A20 — lagged self-correlation per entity (QRS_features.py:29-30)."""
    ev = _events(spark, sf_dir)
    out = stats.autocorr(ev, "value", [1, 2, 3], by="user_id", order=_ORDER)
    return _round(out, ["acf1", "acf2", "acf3"])


@register("crossing_count", """
WITH x AS (
  SELECT user_id,
    CASE WHEN (value - 100.0) *
              (lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 100.0) < 0 THEN 1 ELSE 0 END AS c
  FROM events)
-- CAST: HUGEINT-vs-int64 Arrow artifact (see variability oracle)
SELECT user_id, CAST(sum(c) AS BIGINT) AS n_crossings FROM x GROUP BY user_id
""")
def q_crossing(spark, sf_dir):
    """A14 — threshold-crossing count at th=100 (LONG_features.py:107-119)."""
    ev = _events(spark, sf_dir)
    return stats.crossing_count(ev, "value", 100.0, by="user_id",
                                order=_ORDER, out="n_crossings")


@register("zigzag", """
WITH x AS (
  SELECT user_id,
    CASE WHEN (value - lag(value) OVER w) *
              (lead(value) OVER w - value) < 0 THEN 1 ELSE 0 END AS z
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
-- CAST: HUGEINT-vs-int64 Arrow artifact (see variability oracle)
SELECT user_id, CAST(sum(z) + 1 AS BIGINT) AS zigzag FROM x GROUP BY user_id
""")
def q_zigzag(spark, sf_dir):
    """A21 — direction-change count + 1 (LONG_features.py:17-29)."""
    ev = _events(spark, sf_dir)
    return stats.zigzag(ev, "value", by="user_id", order=_ORDER, out="zigzag")


# =====================================================================
# Text analysis (documents table — F7 + scale additions)
# =====================================================================
@register("word_explode", r"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS word
  FROM documents)
SELECT word, count(*) AS n FROM w WHERE length(word) > 0
GROUP BY word HAVING count(*) >= 5
""")
def q_word_explode(spark, sf_dir):
    """R1 — explode-to-rows (the multi-label comma-parser analog,
    extract_HRV.py:52-78) as a word-frequency query."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
                 .alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
    )


@register("token_counts", r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''))::BIGINT
    AS n_tokens_ws,
  ceil(length(text) / 4.0)::BIGINT AS n_tokens_bpe_est,
  length(text)::BIGINT AS n_chars_computed
FROM documents
""")
def q_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish estimate (scale addition)."""
    d = _t(spark, sf_dir, "documents")
    out = text.with_token_counts(d, "text")
    return out.select("doc_id",
                      F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
                      "n_tokens_bpe_est", "n_chars_computed")


@register("quality_features", r"""
WITH q AS (
  SELECT doc_id, length(text) AS n_chars,
    len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                    x -> x <> '')) AS n_words,
    list_aggregate(list_transform(
      list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                  x -> x <> ''), x -> length(x)), 'sum') AS wl_sum,
    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
      AS n_punct,
    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
    len(list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
           x -> x IN ('the','and','of','to','a','in','is','it','for','on')))
      AS n_stop
  FROM documents)
SELECT doc_id,
  n_chars::BIGINT AS n_chars_q,
  n_words::BIGINT AS n_words,
  round(CASE WHEN n_words > 0
    THEN wl_sum / n_words::DOUBLE ELSE 0.0 END, 6)
    AS mean_word_len,
  round(CASE WHEN n_chars > 0 THEN n_punct / n_chars::DOUBLE ELSE 0.0 END, 6)
    AS punct_ratio,
  round(CASE WHEN n_words > 0 THEN n_stop / n_words::DOUBLE ELSE 0.0 END, 6)
    AS stopword_ratio,
  round(CASE WHEN n_chars > 0 THEN n_upper / n_chars::DOUBLE ELSE 0.0 END, 6)
    AS upper_ratio,
  round(CASE WHEN n_chars > 0 THEN n_digit / n_chars::DOUBLE ELSE 0.0 END, 6)
    AS digit_ratio
FROM q
""")
def q_quality(spark, sf_dir):
    """Quality-scoring signals (length/punct/stopword ratios — scale
    addition; reference analog: header-string parsing P6/F1)."""
    d = _t(spark, sf_dir, "documents")
    out = text.quality_features(d, "text")
    return _round(
        out.select("doc_id", "n_chars_q", "n_words", "mean_word_len",
                   "punct_ratio", "stopword_ratio", "upper_ratio",
                   "digit_ratio"),
        ["mean_word_len", "punct_ratio", "stopword_ratio", "upper_ratio",
         "digit_ratio"])


@register("langid", r"""
WITH s AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        x -> x IN ('der','die','und','ist'))) AS s_de,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        x -> x IN ('the','and','of','is'))) AS s_en,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        x -> x IN ('el','la','de','que'))) AS s_es,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        x -> x IN ('le','les','et','une'))) AS s_fr
  FROM documents)
SELECT doc_id,
  -- NULL text: every score is NULL; without the IS-NULL arm the CASE
  -- would fall through all unknown comparisons to ELSE 'fr', while the
  -- engine's when(top.s > 0) correctly lands in otherwise('und')
  CASE WHEN coalesce(greatest(s_de, s_en, s_es, s_fr), 0) = 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM s
""")
def q_langid(spark, sf_dir):
    """Language-ID heuristic via marker stopwords (scale addition)."""
    d = _t(spark, sf_dir, "documents")
    return text.langid_heuristic(d, "text", "lang_pred").select(
        "doc_id", "lang_pred")


# =====================================================================
# Deduplication (scale additions; P3 blacklist analog)
# =====================================================================
@register("dedup_exact", r"""
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (
    PARTITION BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')))
    ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: keep min-id row per normalized-text fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_exact(d, "text", "doc_id").select("doc_id")


@register("exact_dup_groups", r"""
SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fingerprint,
  count(*) AS n_dups,
  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
FROM documents GROUP BY 1 HAVING count(*) >= 2
""")
def q_exact_dup_groups(spark, sf_dir):
    """Exact duplicate groups (fingerprint, members)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.exact_dups(d, "text", "doc_id")
    return out.select(
        "fingerprint", "n_dups",
        F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), ",")
        .alias("doc_ids"))


def _word3grams_sql(toks: str) -> str:
    """DuckDB rows ``(doc_id, gram)``: the word 3-grams of every token
    list ``t`` in relation ``toks``, with word_shingles semantics — a doc
    of fewer than 3 tokens emits its whole token join as one gram
    (``pos <= greatest(n - 2, 1)``), and an empty or NULL list emits one
    NULL gram. Linear in tokens: a lateral ``t[i:i+2]`` slice per position
    carries the whole list for every position (O(tokens^2) memory, ~12 GB
    on a 32k-token doc, unbounded by ``memory_limit``)."""
    return f"""
SELECT doc_id, gram FROM (
  SELECT doc_id, pos, n,
    concat_ws(' ', w, lead(w, 1) OVER d, lead(w, 2) OVER d) AS gram
  FROM (SELECT doc_id, len(t) AS n, unnest(t) AS w,
               generate_subscripts(t, 1) AS pos FROM {toks})
  WINDOW d AS (PARTITION BY doc_id ORDER BY pos))
WHERE pos <= greatest(n - 2, 1)
UNION ALL
SELECT doc_id, NULL FROM {toks} WHERE coalesce(len(t), 0) = 0"""


@register("ngram_jaccard", r"""
WITH toks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')),
                          ' ') AS t
  FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id AS id, gram AS shingle
  FROM (""" + _word3grams_sql("toks") + r""")),
sh AS (  -- hot-shingle cap (df > 100 dropped), mirrors ngram_jaccard_pairs
  SELECT id, shingle FROM sh0
  WHERE shingle NOT IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 100)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
  round(n_inter / (sa.sz + sb.sz - n_inter)::DOUBLE, 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE n_inter / (sa.sz + sb.sz - n_inter)::DOUBLE >= 0.5
""")
def q_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by word-3-gram Jaccard >= 0.5 (shingle self-equijoin)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    return _round(out, ["jaccard"])


# Generated DuckDB twin of the full MinHash+LSH pipeline (md5 hash mode):
# same shingles, same 64 affine permutations (shared seeded constants),
# same 16-band bucketing and verify-estimate.
def _minhash_oracle_sql() -> str:
    a, b = dedup._minhash_params(64)
    p = dedup._MINHASH_PRIME
    mins = ",\n    ".join(
        f"min((x * {int(a[i])} + {int(b[i])}) % {p}) AS mh{i}"
        for i in range(64))
    bandsel = "\n  UNION ALL\n".join(
        "  SELECT id, {bi} AS band, concat_ws('_', {keys}) AS key FROM sig"
        .format(bi=bi, keys=", ".join(
            f"mh{bi * 4 + j}::VARCHAR" for j in range(4)))
        for bi in range(16))
    eq = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(64))
    return f"""
WITH toks AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text),
                                     '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS t
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS id, gram AS shingle
  FROM ({_word3grams_sql("toks")})),
hx AS (
  SELECT id,
    CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {p} AS x
  FROM sh),
sig AS (
  SELECT id,
    {mins}
  FROM hx GROUP BY id),
banded AS (
{bandsel}),
cand AS (
  SELECT DISTINCT xx.id AS id_a, yy.id AS id_b
  FROM banded xx JOIN banded yy
    ON xx.band = yy.band AND xx.key = yy.key AND xx.id < yy.id)
SELECT id_a, id_b, round(({eq}) / 64.0, 6) AS jaccard_est
FROM cand
JOIN sig sa ON sa.id = id_a
JOIN sig sb ON sb.id = id_b
WHERE ({eq}) / 64.0 >= 0.5
"""


@register("minhash_lsh", _minhash_oracle_sql())
def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates — certified end to end against the
    generated DuckDB twin in md5-hash mode (same seeded permutations,
    banding, and verify estimate; xxhash64 stays the production default,
    its estimate-vs-true-Jaccard bound covered in tests)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(d, "text", "doc_id", n=3, k=64, bands=16,
                                  threshold=0.5, hash="md5")
    return _round(out, ["jaccard_est"])


def _dup_clusters_oracle_sql() -> str:
    """Recursive-CTE twin of minhash pairs -> connected components: the
    transitive closure's MIN reachable id per vertex equals the engine's
    hash-min fixpoint label. Pair generation reuses the generated MinHash
    twin verbatim (nested WITH inside a derived table is valid DuckDB)."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_oracle_sql().strip()}) __mh),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs),
reach(u, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) __verts
  UNION
  SELECT e.v, r.label FROM edges e JOIN reach r ON e.u = r.u),
comp AS (
  SELECT u AS doc_id, MIN(label) AS component FROM reach GROUP BY u)
SELECT c.doc_id, c.component,
       CAST(s.cluster_size AS BIGINT) AS cluster_size
FROM comp c
JOIN (SELECT component, COUNT(*) AS cluster_size
      FROM comp GROUP BY component) s USING (component)
"""


@register("dup_clusters", _dup_clusters_oracle_sql())
def q_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: MinHash+LSH pairs (md5 oracle mode, threshold
    0.5) -> distributed connected components (hash-min label propagation,
    dedup.connected_components) -> per-doc (component, cluster_size). The
    step a dedup pipeline needs between pairwise candidates and "keep one
    canonical doc per cluster" (dedup.drop_near_dups); the reference has
    only a static blacklist (preprocess-300hz.py:93-98). Oracle: DuckDB
    recursive-CTE transitive closure over the same generated pair twin —
    min reachable id == the engine's propagation fixpoint."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "text", "doc_id", n=3, k=64,
                                    bands=16, threshold=0.5, hash="md5")
    comp = dedup.connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        "doc_id", "component", "cluster_size")


# DuckDB twin of dedup.simhash64_relational: same md5 token hash, same
# 64 conditional-sum bit votes (generated terms), bit 63 assembled as
# min-long addition because DuckDB's 1<<63 overflows where Spark's
# shiftleft wraps.
_SIMHASH_ORACLE_CTE = r"""
toks AS (
  SELECT doc_id,
    unnest(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents),
th AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hi,
    CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS lo
  FROM toks WHERE length(tok) > 0),
votes AS (
  SELECT doc_id,
    {votes}
  FROM th GROUP BY doc_id),
fp AS (
  SELECT doc_id,
    (CASE WHEN v63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END)
      + {bits} AS simhash
  FROM votes),
fpc AS (
  SELECT d.doc_id, coalesce(fp.simhash, 0) AS simhash
  FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id)
""".format(
    votes=",\n    ".join(
        "sum(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END)"
        " AS v{i}".format(
            src="hi" if i >= 32 else "lo",
            sh=i - 32 if i >= 32 else i, i=i)
        for i in range(64)),
    bits=" + ".join(
        f"((CASE WHEN v{i} > 0 THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i in range(63)),
)


@register("simhash_fingerprints",
          f"WITH {_SIMHASH_ORACLE_CTE} SELECT doc_id, simhash FROM fpc")
def q_simhash_fingerprints(spark, sf_dir):
    """SimHash 64-bit fingerprints per doc — relational JVM bit votes
    (dedup.simhash64_relational); exact-int output so the driver
    value-hashes it directly against the DuckDB md5 twin."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash64_relational(d, "text", "doc_id")


@register("simhash_near_dups", f"""
WITH {_SIMHASH_ORACLE_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fpc a JOIN fpc b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def q_simhash(spark, sf_dir):
    """SimHash near-dups, hamming <= 3. Spark: pigeonhole-bucketed on
    16-bit blocks (exact for hamming<=3 — any qualifying pair shares a
    block, so the bucketed plan finds the same pairs the oracle's
    brute-force cross join does, without the O(n^2) pair space)."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.simhash_near_dups(d, "text", "doc_id", max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long"))


@register("hash_split", """
SELECT doc_id,
  CASE WHEN ((doc_id % 2147483648) * 2654435761 + 42) % 10000 < 8000
         THEN 'train'
       WHEN ((doc_id % 2147483648) * 2654435761 + 42) % 10000 < 9000
         THEN 'val'
       ELSE 'test' END AS split
FROM documents
""")
def q_hash_split(spark, sf_dir):
    """O7 — deterministic hash train/val/test split (80/10/10). The
    cumulative-weight bucket->split mapping is certified against the
    oracle via a portable multiplicative bucket hash (the production
    default stays xxhash64 — covered by determinism tests). The id is
    reduced mod 2^31 BEFORE the multiply: id * 2654435761 overflows int64
    past ~3.47e9 ids, which aborts under ANSI instead of wrapping
    (ADVICE r2); a no-op on the testdata's small non-negative ids."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2_147_483_648))
        * F.lit(2654435761) + F.lit(42), F.lit(10_000))
    return splits.hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        bucket_expr=bucket).select("doc_id", "split")


# =====================================================================
# Similarity search (embeddings table — scale additions)
# =====================================================================
@register("cosine_topk", """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    CASE WHEN sqrt(list_dot_product(qv, qv))
              * sqrt(list_dot_product(cv, cv)) > 0 THEN
      list_dot_product(qv, cv)
        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
    END AS cos
  FROM q, c WHERE neighbor_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rank <= 5
""")
def q_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k (ANN baseline; JVM-side fold dot
    products, broadcast query side)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 8), k=5)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "neighbor_id", "cos")


def _with_planted_copies(emb: DataFrame, queries: DataFrame,
                         id_offset: int = 1_000_000) -> DataFrame:
    """Corpus = embeddings + a positively-scaled copy of every query
    vector (id = query_id + offset). Scaling by +2.0 preserves every
    coordinate's sign, so the copy lands in the SAME sign-LSH bucket in
    every table (and the same IVF list) as its query — a correct
    bucketed-ANN path MUST return it at rank 1 with cos 1.0, while a
    broken bucketing/probe/re-rank path fails the digest. (Raw recall vs
    exact top-k is ~0.05-0.08 on the testdata's isotropic random vectors —
    honest for sign-LSH on structureless data, but too noisy to certify;
    the planted-copy invariant is deterministic.)

    The scale factor MUST be a power of two (ADVICE r4): 2.0*x is exact
    in IEEE float (exponent bump, zero mantissa rounding), so every
    copy-vs-centroid cosine scales numerator and denominator by exactly
    2 and the quotient is BIT-IDENTICAL to the original's — the
    same-cluster invariant semdedup's digest certifies holds exactly,
    not just almost-surely (1.25*x rounds per coordinate, leaving the
    copy's centroid profile only ulp-close; a centroid near-tie could
    then split copy and original across clusters)."""
    vec_t = emb.schema["embedding"].dataType
    planted = queries.select(
        (F.col("vec_id") + F.lit(id_offset)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0))
        .cast(vec_t.simpleString()).alias("embedding"))
    return emb.select("vec_id", "embedding").unionByName(planted)


def _rank1_planted_digest(topk: DataFrame,
                          id_offset: int = 1_000_000) -> DataFrame:
    r1 = topk.where(F.col("rank") == 1)
    return r1.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("neighbor_id") == F.col("query_id") + id_offset)
              .cast("int")).alias("n_rank1_planted"),
        F.round(F.min("cos"), 6).alias("min_rank1_cos"))


_ANN_DIGEST_SQL = """
SELECT CAST(8 AS BIGINT) AS n_queries,
       CAST(8 AS BIGINT) AS n_rank1_planted,
       1.0::DOUBLE AS min_rank1_cos
"""


@register("lsh_topk", _ANN_DIGEST_SQL)
def q_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN top-k (the 100 TB path). Digest: every query
    must rank its planted same-sign scaled copy first at cos 1.0
    (see _with_planted_copies); per-neighbor recall behavior is
    pytest-covered (tests/test_dedup_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    corpus = _with_planted_copies(emb, q)
    return _rank1_planted_digest(
        similarity.lsh_topk(corpus, q, dim=64, k=5))


@register("embedding_near_dup", """
SELECT CAST(1 AS BIGINT) AS planted_found, 1.0::DOUBLE AS planted_cos,
       CAST(0 AS BIGINT) AS n_below_threshold
""")
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via LSH buckets. The raw
    query returns 0 rows on the testdata (no natural pairs at 0.9 —
    certifies nothing, VERDICT r2), so the contract plants one scaled
    copy of vec 0 (id -1, same sign pattern -> same buckets, cos 1.0) and
    digests: the planted pair MUST be found, and no emitted pair may sit
    below the threshold."""
    emb = _t(spark, sf_dir, "embeddings")
    id_t = emb.schema["vec_id"].dataType.simpleString()
    vec_t = emb.schema["embedding"].dataType.simpleString()
    planted = emb.where(F.col("vec_id") == 0).select(
        F.lit(-1).cast(id_t).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0))
        .cast(vec_t).alias("embedding"))
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = similarity.cosine_near_dup_pairs(corpus, dim=64, threshold=0.9)
    is_planted = (F.col("id_a") == -1) & (F.col("id_b") == 0)
    return pairs.agg(
        F.max(F.when(is_planted, 1).otherwise(0)).cast("long")
        .alias("planted_found"),
        F.round(F.max(F.when(is_planted, F.col("cos"))), 6)
        .alias("planted_cos"),
        F.sum((F.col("cos") < 0.9).cast("int")).alias("n_below_threshold"))


# =====================================================================
# Arrow kernels over the image payload (U rows — rows-only + pytest oracles)
# =====================================================================
_KERNEL_N_IMAGES = 240


def _images(spark):
    return datagen.images_df(spark, _KERNEL_N_IMAGES, seed=42)


@register("image_decode_stats", """
SELECT * FROM (VALUES
  ('bmp', 80, 115.083333::DOUBLE, 139.328704::DOUBLE,
   42.823155::DOUBLE, 57.606201::DOUBLE),
  ('jpeg', 80, 120.295573::DOUBLE, 131.967499::DOUBLE,
   46.107774::DOUBLE, 54.32498::DOUBLE),
  ('png', 80, 116.84375::DOUBLE, 135.703125::DOUBLE,
   44.211494::DOUBLE, 52.790476::DOUBLE)
) AS t(fmt, n, min_px_mean, max_px_mean, min_luma_std, max_luma_std)
""")
def q_decode_stats(spark, sf_dir):
    """U1/U3 analog — decode binary payload, per-image pixel stats
    (mapInPandas, no shuffle), digested per format so the driver can
    value-hash it against pinned golden constants (the image corpus is
    seeded datagen, sf-independent; per-image values are pytest-checked).
    min/max are order-independent, so the digest is exactly
    deterministic."""
    img = _images(spark)
    out = kernels.decode_stats(img, keep=["image_id", "fmt"])
    out = _round(out, ["px_mean", "px_std", "luma_mean", "luma_std",
                       "r_mean", "g_mean", "b_mean"])
    return out.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("px_mean").alias("min_px_mean"),
        F.max("px_mean").alias("max_px_mean"),
        F.min("luma_std").alias("min_luma_std"),
        F.max("luma_std").alias("max_luma_std"))


@register("decode_quarantine", """
SELECT * FROM (VALUES
  ('bmp', 'bad_magic', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('bmp', 'corrupt', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('bmp', 'null_payload', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('bmp', 'ok', 56, 115.083333::DOUBLE, 135.385417::DOUBLE),
  ('jpeg', 'bad_magic', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('jpeg', 'corrupt', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('jpeg', 'null_payload', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('jpeg', 'ok', 56, 120.295573::DOUBLE, 131.650046::DOUBLE),
  ('png', 'bad_magic', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('png', 'corrupt', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('png', 'null_payload', 8, NULL::DOUBLE, NULL::DOUBLE),
  ('png', 'ok', 56, 116.84375::DOUBLE, 135.703125::DOUBLE)
) AS t(fmt, error_kind, n, min_px_mean, max_px_mean)
""")
def q_decode_quarantine(spark, sf_dir):
    """Fault-tolerant decode + quarantine digest: the seeded 240-image
    corpus with 30% of payloads deliberately corrupted IN-PLAN (pure JVM
    binary expressions — truncate to half / clobber the magic / NULL out,
    keyed on the image index so the damage is deterministic), then
    ``decode_stats`` classifies every row instead of aborting the
    stage. Digest: (fmt, error_kind) counts — 56 ok + 8 of each failure
    kind per format — plus min/max px_mean over the surviving rows
    (pinned golden constants, the image_decode_stats pattern)."""
    img = _images(spark)
    idx = F.substring("image_id", 4, 8).cast("int")
    blen = F.octet_length("bytes")
    corrupted = img.withColumn(
        "bytes",
        F.when(idx % 10 == 3,
               F.substring(F.col("bytes"), F.lit(1),
                           (blen / F.lit(2)).cast("int")))
         .when(idx % 10 == 7,
               F.concat(F.lit(b"XX"), F.substring(F.col("bytes"),
                                                  F.lit(3), blen)))
         .when(idx % 10 == 9, F.lit(None).cast("binary"))
         .otherwise(F.col("bytes")))
    out = kernels.decode_stats(corrupted, keep=["image_id", "fmt"])
    out = _round(out, ["px_mean"])
    return out.groupBy("fmt", "error_kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("px_mean").alias("min_px_mean"),
        F.max("px_mean").alias("max_px_mean"))


# Deterministic multi-label predictions table shared by the U11 metric
# queries — both engines derive identical (rec, class, label, output, prob)
# rows from `documents` via portable integer arithmetic, so the metrics
# themselves are what the oracle certifies.
_PREDS_SQL = """
preds AS (
  SELECT doc_id AS rec_id, k.class_idx,
    CASE WHEN lang = (['en','es','fr','de','zh'])[k.class_idx + 1]
           OR (doc_id + k.class_idx) % 7 = 0 THEN 1 ELSE 0 END AS label,
    CASE WHEN (((doc_id % 2147483648) * 2654435761 + k.class_idx * 40503
                + 17) % 1000) / 1000.0 >= 0.5 THEN 1 ELSE 0 END AS output,
    (((doc_id % 2147483648) * 2654435761 + k.class_idx * 40503 + 17)
     % 1000) / 1000.0 AS prob
  FROM documents
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS class_idx) k)
"""


def _predictions(spark, sf_dir) -> DataFrame:
    langs = ["en", "es", "fr", "de", "zh"]
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    p = d.select("doc_id", "lang",
                 F.explode(F.sequence(F.lit(0), F.lit(4))).alias("class_idx"))
    lang_arr = F.array(*[F.lit(x) for x in langs])
    label = ((F.col("lang") == lang_arr[F.col("class_idx")])
             | ((F.col("doc_id") + F.col("class_idx")) % 7 == 0))
    # id reduced mod 2^31 pre-multiply: int64 ANSI overflow guard
    # (ADVICE r2; no-op on the testdata's small non-negative ids)
    prob = ((F.pmod(F.col("doc_id"), F.lit(2_147_483_648))
             * F.lit(2654435761)
             + F.col("class_idx") * 40503 + 17) % 1000) / F.lit(1000.0)
    return p.select(
        F.col("doc_id").alias("rec_id"), "class_idx",
        label.cast("int").alias("label"),
        (prob >= 0.5).cast("int").alias("output"),
        prob.alias("prob"))


@register("beta_scores", f"""
WITH {_PREDS_SQL},
nl AS (SELECT *, sum(label) OVER (PARTITION BY rec_id) AS num_labels
       FROM preds),
ct AS (
  SELECT class_idx,
    sum(CASE WHEN label=1 AND output=1 AND num_labels > 0
             THEN 1.0::DOUBLE/num_labels ELSE 0 END) AS tp,
    sum(CASE WHEN label=0 AND output=1 AND num_labels > 0
             THEN 1.0::DOUBLE/num_labels ELSE 0 END) AS fp,
    sum(CASE WHEN label=1 AND output=0 AND num_labels > 0
             THEN 1.0::DOUBLE/num_labels ELSE 0 END) AS fn,
    sum(CASE WHEN label=0 AND output=0 AND num_labels > 0
             THEN 1.0::DOUBLE/num_labels ELSE 0 END) AS tn
  FROM nl GROUP BY class_idx)
SELECT class_idx, round(tp, 6) AS tp, round(fp, 6) AS fp,
  round(fn, 6) AS fn, round(tn, 6) AS tn,
  round(CASE WHEN (5 * tp + 4 * fn + fp) <> 0
             THEN 5 * tp / (5 * tp + 4 * fn + fp)
             ELSE CAST(1 AS DOUBLE) END, 6) AS fbeta,
  round(CASE WHEN (tp + fp + 2 * fn) <> 0 THEN tp / (tp + fp + 2 * fn)
             ELSE CAST(1 AS DOUBLE) END, 6) AS gbeta,
  round(CASE WHEN (tp + fp + fn + tn) <> 0
             THEN (tp + tn) / (tp + fp + fn + tn)
             ELSE CAST(1 AS DOUBLE) END, 6) AS accuracy,
  round(CASE WHEN (2 * tp + fp + fn) <> 0 THEN 2 * tp / (2 * tp + fp + fn)
             ELSE CAST(1 AS DOUBLE) END, 6) AS fmeasure
FROM ct
""")
def q_beta_scores(spark, sf_dir):
    """U11 — per-class challenge beta scores (xgboost_clf.py:29-101):
    1/num_labels-weighted contingency + Fbeta(2)/Gbeta/accuracy/F-measure,
    as one window + one grouped aggregate. Contingency contributions are
    dyadic (num_labels in {1,2}), so the sums hash deterministically."""
    per = metrics.beta_scores(_predictions(spark, sf_dir), beta=2.0)
    return _round(per, ["tp", "fp", "fn", "tn", "fbeta", "gbeta",
                        "accuracy", "fmeasure"])


@register("auc_scores", f"""
WITH {_PREDS_SQL},
tot AS (SELECT class_idx, sum(label) AS P, sum(1 - label) AS N
        FROM preds GROUP BY class_idx),
g AS (SELECT class_idx, prob, sum(label) AS pos, sum(1 - label) AS neg
      FROM preds WHERE prob > 0 GROUP BY class_idx, prob),
cum AS (
  SELECT class_idx, prob, sum(pos) OVER w AS tp, sum(neg) OVER w AS fp
  FROM g WINDOW w AS (PARTITION BY class_idx ORDER BY prob DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
r AS (
  SELECT cum.class_idx, prob, P,
    CASE WHEN P > 0 THEN tp / P ELSE CAST(1 AS DOUBLE) END AS tpr,
    CASE WHEN N > 0 THEN (N - fp) / N ELSE CAST(1 AS DOUBLE) END AS tnr,
    CASE WHEN tp + fp > 0 THEN tp / (tp + fp)
         ELSE CAST(1 AS DOUBLE) END AS ppv,
    row_number() OVER (PARTITION BY cum.class_idx
                       ORDER BY prob DESC) AS rn
  FROM cum JOIN tot ON cum.class_idx = tot.class_idx),
seg AS (  -- virtual threshold 1 only when the top prob isn't already 1;
          -- its tpr is 0 for P>0 but 1 for a zero-positive class
  SELECT class_idx,
    CASE WHEN rn = 1 AND prob = 1.0 THEN 0.0 ELSE
      0.5 * (tpr - (CASE WHEN rn = 1 THEN
                      (CASE WHEN P > 0 THEN 0.0 ELSE 1.0 END)
                    ELSE lag(tpr) OVER w2 END))
          * (tnr + (CASE WHEN rn = 1 THEN 1.0
                    ELSE lag(tnr) OVER w2 END)) END AS roc,
    CASE WHEN rn = 1 AND prob = 1.0 THEN 0.0 ELSE
      (tpr - (CASE WHEN rn = 1 THEN
                (CASE WHEN P > 0 THEN 0.0 ELSE 1.0 END)
              ELSE lag(tpr) OVER w2 END)) * ppv END AS prc
  FROM r WINDOW w2 AS (PARTITION BY class_idx ORDER BY prob DESC))
SELECT class_idx, round(sum(roc), 6) AS auroc, round(sum(prc), 6) AS auprc
FROM seg GROUP BY class_idx
""")
def q_auc_scores(spark, sf_dir):
    """U11 — per-class AUROC/AUPRC by the reference's threshold sweep
    (xgboost_clf.py:104-209) as a window cumsum over distinct thresholds
    (virtual leading threshold 1 via lag defaults; threshold 0 dropped)."""
    per = metrics.auc_scores(_predictions(spark, sf_dir))
    return _round(per, ["auroc", "auprc"])


_E3_DIGEST_SQL = """
SELECT * FROM (VALUES
  (0, CAST(1 AS BIGINT), CAST(7 AS BIGINT), CAST(1 AS BIGINT),
   CAST(3 AS BIGINT), 0.3125::DOUBLE, 0.1::DOUBLE, 0.333333::DOUBLE,
   0.2::DOUBLE, 0.25::DOUBLE, 0.1625::DOUBLE),
  (1, CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT),
   CAST(6 AS BIGINT), 0.263158::DOUBLE, 0.111111::DOUBLE,
   0.583333::DOUBLE, 0.285714::DOUBLE, 0.40625::DOUBLE,
   0.373512::DOUBLE),
  (2, CAST(0 AS BIGINT), CAST(7 AS BIGINT), CAST(1 AS BIGINT),
   CAST(4 AS BIGINT), 0.0::DOUBLE, 0.0::DOUBLE, 0.333333::DOUBLE,
   0.0::DOUBLE, 0.272727::DOUBLE, 0.111111::DOUBLE),
  (3, CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT),
   CAST(6 AS BIGINT), 0.263158::DOUBLE, 0.111111::DOUBLE,
   0.583333::DOUBLE, 0.285714::DOUBLE, 0.53125::DOUBLE,
   0.433333::DOUBLE),
  (4, CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
   CAST(9 AS BIGINT), 0.0::DOUBLE, 0.0::DOUBLE, 0.75::DOUBLE,
   0.0::DOUBLE, 0.090909::DOUBLE, 0.090909::DOUBLE)
) AS t(class_idx, tp, fp, fn, tn, fbeta, gbeta, accuracy, fmeasure,
       auroc, auprc)
"""


@register("e3_pipeline", _E3_DIGEST_SQL)
def q_e3_pipeline(spark, sf_dir):
    """E3 — the reference's full model pipeline end to end
    (xgboost_clf.py:7-27, 215-260): feature-matrix column join ->
    StandardScaler analog -> hash split -> stand-in seeded scorer ->
    challenge metrics per class on the held-out split.

    Certification: DuckDB cannot replay the softmax scorer, so the oracle
    is the pinned per-class metric rows from the seeded sf-independent
    corpus (datagen.events.events_df — the images_df digest pattern).
    The pins are golden regression values computed by this engine once;
    the component stages are independently oracle-backed (hrv_features /
    basic_stats / long families / hash_split / beta & auc metric SQL) and
    pytest checks determinism + metric ranges."""
    from ecg_feature_engineering_spark.datagen import events as ev_gen
    from ecg_feature_engineering_spark.plans import feature_matrix as fm
    ev = ev_gen.events_df(spark)
    out = fm.e3_pipeline(ev, by="user_id")
    out = out.select(
        "class_idx",
        *[F.col(c).cast("long").alias(c) for c in ("tp", "fp", "fn", "tn")],
        *[F.col(c) for c in ("fbeta", "gbeta", "accuracy", "fmeasure",
                             "auroc", "auprc")])
    return _round(out, ["fbeta", "gbeta", "accuracy", "fmeasure",
                        "auroc", "auprc"])


_LONG_DIGEST_SQL = """
SELECT CAST(50 AS BIGINT) AS n_users, CAST(94 AS BIGINT) AS n_cols,
       CAST(1 AS BIGINT) AS dup_parity,
       CAST(-1250 AS BIGINT) AS chk_lb_median,
       CAST(1541 AS BIGINT) AS chk_zero_cross,
       CAST(3334000200 AS BIGINT) AS chk_band0,
       CAST(2315 AS BIGINT) AS chk_snr,
       CAST(2874 AS BIGINT) AS chk_acf1,
       CAST(1572 AS BIGINT) AS chk_zigzag,
       CAST(-14 AS BIGINT) AS chk_lb_skew,
       CAST(4022626 AS BIGINT) AS chk_wv0
"""


@register("long_features_parity", _LONG_DIGEST_SQL)
def q_long_features_parity(spark, sf_dir):
    """LONG block with the reference's duplicated-column quirk replicated
    (LONG_features.py:265-281: FFTBandPower x3, zigzag x2) — output arity
    matches LONG_FEATURE.csv (~102 cols/lead). Values of the dup columns
    are identical copies; each underlying family is separately
    oracle-backed (long_stats, crossing_count, autocorr, zigzag,
    crossing_widths, fft_features, wavelet_stats).

    Certification digest over the seeded sf-independent corpus: row
    count, column ARITY (the parity contract), dup-column equality across
    all 13 duplicated columns, and per-family integer checksums
    (per-entity values quantized BEFORE the cross-entity integer sum, so
    the digest is aggregation-order-independent). Pinned golden
    constants; per-family values are separately oracle-backed."""
    from ecg_feature_engineering_spark.datagen import events as ev_gen
    from ecg_feature_engineering_spark.plans import long_block
    ev = ev_gen.events_df(spark)
    out = long_block.long_features(ev, by="user_id", fs=1.0, parity=True)
    dup_eq = F.lit(True)
    for i in range(6):
        dup_eq = (dup_eq & (F.col(f"band{i}") == F.col(f"band{i}_dup1"))
                  & (F.col(f"band{i}") == F.col(f"band{i}_dup2")))
    dup_eq = dup_eq & (F.col("zigzag") == F.col("zigzag_dup1"))
    n_cols = len(out.columns)

    return out.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.lit(n_cols).cast("long").alias("n_cols"),
        F.min(dup_eq.cast("int")).cast("long").alias("dup_parity"),
        _digest_chk("lb_median", 1000.0),
        F.sum("zero_cross_cnt").alias("chk_zero_cross"),
        _digest_chk("band0", 1000.0),
        # at fs=1.0 the reference's Hz-denominated bands 1-5 are empty, so
        # total_power == band0 (redundant) and band_entropy == 0; snr is
        # the informative spectral second checksum
        _digest_chk("snr", 1000.0),
        _digest_chk("acf1", 1000.0),
        F.sum("zigzag").alias("chk_zigzag"),
        # the thres_cross family is excluded from the checksums on
        # purpose: its threshold is the entity MEAN (a float aggregate),
        # and when the mean coincides exactly with a sample value —
        # possible here because both live on decimal grids — aggregation
        # -order last-ulp noise in the mean flips which side that sample
        # counts on (measured: 4-core vs 32-core runs differ by 1 count;
        # mean_width additionally lands exactly on .5 rounding
        # boundaries). The family is certified by the dedicated
        # crossing_widths oracle on the driver tables instead. Same
        # reason bars lb_var/lb_range checksums: 2-decimal inputs put
        # variance on a decimal grid that hits exact .5*scale rounding
        # boundaries (measured drift); skew's irrational sqrt denominator
        # keeps it off-grid, so its rounding is drift-proof.
        _digest_chk("lb_skew", 1000.0),
        _digest_chk("wv0", 1000.0),
    )


@register("deep_features", """
SELECT * FROM (VALUES
  ('bmp', 80, 0.065599::DOUBLE, 0.222827::DOUBLE,
   0.047972::DOUBLE, 0.189749::DOUBLE),
  ('jpeg', 80, 0.066753::DOUBLE, 0.191757::DOUBLE,
   0.052924::DOUBLE, 0.200118::DOUBLE),
  ('png', 80, 0.077178::DOUBLE, 0.200656::DOUBLE,
   0.051889::DOUBLE, 0.228853::DOUBLE)
) AS t(fmt, n, min_d1, max_d1, min_d9, max_d9)
""")
def q_deep_features(spark, sf_dir):
    """U8 — broadcast-weights batch inference: 9-dim deep-feature vector
    per image (get_model.py:27-32), Arrow-batched matmul kernel; digested
    per format (pinned golden constants; per-image forward pass is
    pytest-checked against an independent numpy reimplementation)."""
    img = _images(spark)
    out = kernels.predict_batch(img, keep=["image_id", "fmt"])
    out = _round(out, [f"d{i}" for i in range(1, 10)])
    return out.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("d1").alias("min_d1"), F.max("d1").alias("max_d1"),
        F.min("d9").alias("min_d9"), F.max("d9").alias("max_d9"))


@register("image_phash_check", """
SELECT * FROM (VALUES ('bmp', 80, 5, 75), ('jpeg', 80, 4, 76),
                      ('png', 80, 5, 75)) AS t(fmt, n, n_hot, n_hamming0)
""")
def q_phash_check(spark, sf_dir):
    """U2 analog — recompute pHash from bytes; hamming vs stored must be 0
    for every row EXCEPT the datagen's deliberately hot-prefix-forced skew
    rows (prefix 0x7FEE, gen_image_row) whose stored hash is intentionally
    rewritten. Digest per format: n, n_hot, and n_hamming0 among non-hot
    rows (invariant: n_hamming0 == n - n_hot; pinned golden constants).
    The recomputed hash and its hamming distance come from the flagship's
    payload kernel, ``payload_features_struct_udf``."""
    feats = kernels.payload_features_struct_udf()
    out = _images(spark).select(
        "fmt", "phash", feats("bytes", "fmt", "phash").alias("pf"))
    hot = (F.shiftrightunsigned(F.col("phash"), 48)
           .bitwiseAND(F.lit(0xFFFF)) == 0x7FEE)
    return out.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(hot.cast("int")).alias("n_hot"),
        F.sum(F.when(~hot & (F.col("pf.phash_hamming") == 0), 1)
              .otherwise(0)).alias("n_hamming0"))


@register("image_psnr_roundtrip", """
SELECT * FROM (VALUES ('bmp', 80, 999.0::DOUBLE, 1),
                      ('jpeg', 80, 48.44::DOUBLE, 1),
                      ('png', 80, 999.0::DOUBLE, 1))
  AS t(fmt, n, min_psnr, all_above_40)
""")
def q_psnr(spark, sf_dir):
    """Payload invariant — decode/re-encode/decode PSNR (>= 40 dB lossy,
    BASELINE.json input_hint). Digest: per-fmt min PSNR + the >= 40 dB
    floor as a flag (pinned golden constants; per-image PSNR is
    pytest-checked)."""
    out = kernels.psnr_roundtrip(_images(spark))
    out = _round(out, ["psnr_db"])
    return out.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("psnr_db"), 2).alias("min_psnr"),
        (F.min("psnr_db") >= 40.0).cast("int").alias("all_above_40"))


@register("sample_entropy", """
WITH vs AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vl FROM events),
rr AS (  -- r = 0.2 * population std, from exact integer power sums
  SELECT user_id,
    0.2 * sqrt(CASE WHEN (sum(vl * vl) / count(*)
               - (sum(vl) / count(*)) * (sum(vl) / count(*))) < 0 THEN 0 ELSE (sum(vl * vl) / count(*)
               - (sum(vl) / count(*)) * (sum(vl) / count(*))) END) / 100 AS r
  FROM vs GROUP BY user_id),
t AS (
  SELECT user_id, value AS v0,
    row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS n,
    lead(value) OVER w AS v1, lead(value, 2) OVER w AS v2
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
p AS (  -- all template pairs i<j in ONE self-join; FILTER per (m, A/B)
  SELECT a.user_id,
    count(*) FILTER (WHERE b.rn <= a.n - 1
                     AND abs(a.v0 - b.v0) <= r) AS b1,
    count(*) FILTER (WHERE b.rn <= a.n - 1
                     AND greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1)) <= r)
      AS a1,
    count(*) FILTER (WHERE b.rn <= a.n - 2
                     AND greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1)) <= r)
      AS b2,
    count(*) FILTER (WHERE b.rn <= a.n - 2
                     AND greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1),
                                  abs(a.v2 - b.v2)) <= r) AS a2
  FROM t a JOIN t b ON a.user_id = b.user_id AND a.rn < b.rn
  JOIN rr ON rr.user_id = a.user_id
  GROUP BY a.user_id),
base AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
SELECT base.user_id,
  round(CASE WHEN base.n < 4 OR coalesce(b1, 0) = 0 THEN -2.0
             WHEN coalesce(a1, 0) = 0 THEN -1.0
             ELSE -ln(a1 / b1) END, 6) AS sampen1,
  round(CASE WHEN base.n < 4 OR coalesce(b2, 0) = 0 THEN -2.0
             WHEN coalesce(a2, 0) = 0 THEN -1.0
             ELSE -ln(a2 / b2) END, 6) AS sampen2
FROM base LEFT JOIN p ON base.user_id = p.user_id
""")
def q_sample_entropy(spark, sf_dir):
    """U4 — per-entity SampEn m=1,2 grouped Arrow kernel. Oracle: the
    Richman-Moorman pair counts as a DuckDB SELF-JOIN over row_number
    templates (O(n^2) per entity — fine for the oracle, the engine side
    stays the blocked kernel). r matches the kernel's 0.2*std to the last
    ulp via exact-int power sums; pair distances are 2-decimal quantized,
    so the <= r comparisons can't straddle the ulp gap. Kernel's
    short-series patch (n < m+2) never binds at >= 60 events/entity.
    Same int64 domain precondition as `variability` (exact-int power
    sums): |value| <= ~3e6 at n<=100 events/entity."""
    ev = _events(spark, sf_dir)
    # auto-gated path (stats.sample_entropy_auto): the relational
    # self-join (3-4x the Arrow kernel at this events-per-entity scale)
    # below the crossover, the tiled kernel above it — the headline query
    # stays scale-safe unattended (VERDICT r2 #8)
    out = stats.sample_entropy_auto(ev, "value", "user_id", _ORDER,
                                    m_max=2)
    return _round(out, ["sampen1", "sampen2"])


# Naive-DFT periodogram CTE (fs=1): one-sided density scaling identical to
# periodogram_np (double all bins but DC/even-Nyquist). A radix FFT and
# these plain trig sums agree to ~5e-9 absolute on this data — but that is
# NOT enough for round(band_sum, 2): a value within the algorithmic error
# of a .005 boundary flips cross-run (driver r3 fft_features hash-FAIL).
# Both FFT queries therefore FLOOR each bin onto the unit grid (pxq CTE /
# kernel quantize=1.0) BEFORE summing: bins run 1e0-1e6 so the check stays
# sharp, band sums become exact float64 integers (bit-identical across
# engines), and the flip window shrinks from 1e-6 to ~1e-8 per value.
# Domain note: floor-grid stability needs pxx * n * eps << 1 grid unit,
# i.e. per-bin power below ~1e10 at n ~ 1e4 — testdata DC bins top out
# ~1e7 (adversarial fftedge corpus pins the margin).
_DFT_CTE = """
s AS (
  SELECT user_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
kk AS (
  SELECT user_id, n, unnest(generate_series(0, n // 2)) AS k
  FROM (SELECT DISTINCT user_id, n FROM s)),
dft AS (
  SELECT kk.user_id, kk.n, k,
    sum(value * cos(2 * pi() * k * t / kk.n)) AS re,
    sum(value * sin(2 * pi() * k * t / kk.n)) AS im
  FROM kk JOIN s ON s.user_id = kk.user_id
  GROUP BY kk.user_id, kk.n, k),
px AS (
  -- f = k * (1/n), NOT k/n: numpy rfftfreq multiplies by the reciprocal,
  -- and the two differ in the last ulp exactly at band edges like 0.05
  SELECT user_id, n, k, k * (1::DOUBLE / n) AS f,
    (re * re + im * im) / n
      * (CASE WHEN k = 0 OR (n % 2 = 0 AND k = n // 2) THEN 1 ELSE 2 END)
      AS pxx
  FROM dft)
"""


@register("fft_band_power", f"""
WITH {_DFT_CTE},
pxq AS (SELECT user_id, n, k, f, floor(pxx) AS pxx FROM px)
SELECT user_id,
  (CASE WHEN max(n) < 4 THEN 0 ELSE
    coalesce(sum(pxx) FILTER (WHERE f >= 0   AND f < 0.05), 0) END)::DOUBLE
    AS band0,
  (CASE WHEN max(n) < 4 THEN 0 ELSE
    coalesce(sum(pxx) FILTER (WHERE f >= 0.05 AND f < 0.1), 0) END)::DOUBLE
    AS band1,
  (CASE WHEN max(n) < 4 THEN 0 ELSE
    coalesce(sum(pxx) FILTER (WHERE f >= 0.1 AND f < 0.2), 0) END)::DOUBLE
    AS band2,
  (CASE WHEN max(n) < 4 THEN 0 ELSE
    coalesce(sum(pxx) FILTER (WHERE f >= 0.2 AND f < 0.3), 0) END)::DOUBLE
    AS band3,
  (CASE WHEN max(n) < 4 THEN 0 ELSE
    coalesce(sum(pxx) FILTER (WHERE f >= 0.3 AND f < 0.4), 0) END)::DOUBLE
    AS band4,
  (CASE WHEN max(n) < 4 THEN 0 ELSE
    coalesce(sum(pxx) FILTER (WHERE f >= 0.4 AND f < 0.5), 0) END)::DOUBLE
    AS band5,
  (CASE WHEN max(n) < 4 THEN 0 ELSE sum(pxx) END)::DOUBLE AS total_power
FROM pxq GROUP BY user_id
""")
def q_fft(spark, sf_dir):
    """U6 — per-entity periodogram band powers. Oracle: naive-DFT
    trig-sum periodogram in DuckDB (O(n^2/2) per entity — oracle-only
    cost; the engine side stays the rfft kernel). Same FLOOR-grid
    hash-stability contract as `fft_features` (r4): per-bin floor onto
    the unit grid before band sums on both sides, outputs are exact
    integers in float64 emitted unrounded — round(raw_sum, 2) was the
    r3 cross-run flip class (P ~ 1e-6 per value; this query's r3 green
    was 1050 rounded values of luck per run)."""
    ev = _events(spark, sf_dir)
    return kernels.fft_band_power_agg(ev, "value", "user_id", _ORDER,
                                      fs=1.0, quantize=1.0)


_FLAGSHIP_DIGEST_SQL = """
SELECT CAST(240 AS BIGINT) AS n_rows,
       CAST(236 AS BIGINT) AS n_img_matched,
       CAST(240 AS BIGINT) AS n_ev_matched,
       CAST(12 AS BIGINT) AS n_entities,
       CAST(29984302 AS BIGINT) AS chk_luma_mean,
       CAST(11511924 AS BIGINT) AS chk_luma_std,
       CAST(7668 AS BIGINT) AS chk_phash_bits,
       CAST(312 AS BIGINT) AS chk_hamming,
       CAST(3763 AS BIGINT) AS chk_words,
       CAST(559 AS BIGINT) AS chk_punct,
       CAST(30972 AS BIGINT) AS chk_value,
       CAST(-38000 AS BIGINT) AS chk_diff1,
       CAST(6772916 AS BIGINT) AS chk_roll_std,
       CAST(2400 AS BIGINT) AS chk_roll_n,
       CAST(17788 AS BIGINT) AS chk_sess_n
"""


@register("flagship", _FLAGSHIP_DIGEST_SQL)
def q_flagship(spark, sf_dir):
    """E1 — the full as-of + windowed feature-vector pipeline. The raw
    per-(entity, as_of_ts) feature rows stay the ``entry()`` smoke and the
    bench/pytest surface (allclose + leakage in tests/test_flagship.py);
    the contract query certifies the SAME feature_plan over the seeded
    sf-independent corpus with a pinned digest (the e3_pipeline pattern).

    Digest stability: every checksummed column is a per-row value from a
    deterministic computation (Arrow image kernel over fixed bytes, or a
    window aggregate over a fully tie-broken frame — sequential per
    partition, so bit-identical at any core count), quantized per row
    BEFORE the order-independent integer sum. Timestamp columns are
    excluded: the seeded snapshot/image grid is built from naive
    datetimes (session-TZ-local instants), so the event stream below is
    rebased through the same session-TZ parse to keep every event↔snapshot
    alignment TZ-invariant even though no absolute instant is."""
    from ecg_feature_engineering_spark.datagen import events as ev_gen
    from ecg_feature_engineering_spark.datagen import images as img_gen
    n_images, n_entities, seed = 240, 12, 42
    images = img_gen.images_df(spark, n_images, seed, n_entities)
    snapshots = img_gen.snapshots_df(spark, n_entities, 20, seed)
    ev = ev_gen.events_df(spark)
    # rebase the seeded event stream into the snapshot grid's 2-day
    # window: strip the corpus base (1.6e9 + user_id*1e6), re-spread
    # users 30 min apart from noon before the (session-TZ-local) grid
    # epoch — parsed the same way the grid's naive datetimes are, so the
    # relative alignment survives any driver TZ
    rel = (F.unix_timestamp("ts") - F.lit(1_600_000_000)
           - F.col("user_id").cast("long") * F.lit(1_000_000))
    base = F.unix_timestamp(F.to_timestamp(F.lit("2023-12-31 12:00:00")))
    ev = ev.withColumn(
        "ts", F.timestamp_seconds(
            base + F.col("user_id").cast("long") * F.lit(1_800) + rel))
    out = flagship_plan.feature_plan(images, snapshots, ev, n_entities)

    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("image_id").alias("n_img_matched"),
        F.count("event_ts").alias("n_ev_matched"),
        F.countDistinct("entity_id").alias("n_entities"),
        _digest_chk("luma_mean", 1000.0), _digest_chk("luma_std", 1000.0),
        F.sum("phash_bits").cast("long").alias("chk_phash_bits"),
        F.sum("phash_hamming").cast("long").alias("chk_hamming"),
        F.sum("n_words").cast("long").alias("chk_words"),
        F.sum(F.round(F.col("punct_ratio") * 1000).cast("long"))
        .alias("chk_punct"),
        _digest_chk("value", 100.0), F.sum(
            F.round(F.col("value_diff1") * 100).cast("long"))
        .alias("chk_diff1"),
        _digest_chk("roll_std", 1000.0),
        F.sum("roll_n").cast("long").alias("chk_roll_n"),
        F.sum("session_event_n").cast("long").alias("chk_sess_n"),
    )


# =====================================================================
# Round-1 batch 2: CDF, full Variability, QRSYuxi, crossing widths,
# scalar pre-pass, profiling, scale_input, replication, pivot,
# time windows, interval join (A6/A9/A10/A15/A23/A24/A25/J6/R5/R6/U9/W5)
# =====================================================================
@register("cdf_density", """
SELECT user_id,
  round(sum(CASE WHEN value >= 100 AND value <= 400
        THEN 60 - least(floor((value - 100) / 5.0), 59) ELSE 0 END)
    / (count(value) * 60.0), 6) AS cdf_density
FROM events GROUP BY user_id
""")
def q_cdf_density(spark, sf_dir):
    """A6 — mean empirical CDF over a fixed 60-bin histogram
    (QRS_features.py:325-333), closed-form single aggregate."""
    ev = _events(spark, sf_dir)
    return _round(stats.cdf_density(ev, "value", "user_id"), ["cdf_density"])


@register("variability_full", """
WITH t AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vl, ts, event_id,
    row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS n
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
trimmed AS (SELECT user_id, vl, ts, event_id FROM t
            WHERE rn > 1 AND rn <= n - 1),
d AS (
  SELECT user_id, vl, ts, event_id,
    abs(vl - lag(vl) OVER w2) AS nn,
    first_value(vl) OVER wf AS fv,
    last_value(vl) OVER wf AS lv
  FROM trimmed
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id),
         wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
p AS (
  SELECT user_id, vl, nn, fv, lv,
    CAST(round(sqrt(nn * nn + pow(lead(nn) OVER
      (PARTITION BY user_id ORDER BY ts, event_id), 2)) * 1000) AS BIGINT)
      AS pair_r
  FROM d)
SELECT user_id,
  round(sqrt(CASE WHEN (sum(vl * vl) / count(vl)
             - (sum(vl) / count(vl)) * (sum(vl) / count(vl))) < 0 THEN 0 ELSE (sum(vl * vl) / count(vl)
             - (sum(vl) / count(vl)) * (sum(vl) / count(vl))) END) / 100, 6)
    AS sdnn,
  -- CAST: HUGEINT-vs-int64 Arrow artifact (see variability oracle)
  CAST(sum(CASE WHEN nn > 1500 THEN 1 ELSE 0 END) AS BIGINT) AS nn50,
  round(sum(CASE WHEN nn > 1500 THEN 1 ELSE 0 END) / count(vl), 6)
    AS pnn50,
  round(CASE WHEN count(nn) - 1 <> 0 AND sum(vl) <> 0 THEN
    (sum(pair_r) / 1000.0 / (count(nn) - 1)) / (sum(vl) / count(vl))
    ELSE 0.0 END, 6) AS stepping,
  round(CASE WHEN (-min(fv) - 2 * min(lv) + 2 * sum(vl)) <> 0
             AND count(nn) > 0 THEN
    sqrt(CASE WHEN (sum(nn * nn) / (2 * count(nn))
         - (sum(nn) / count(nn)) * (sum(nn) / count(nn)) / 2) < 0 THEN 0 ELSE (sum(nn * nn) / (2 * count(nn))
         - (sum(nn) / count(nn)) * (sum(nn) / count(nn)) / 2) END)
    / ((-min(fv) - 2 * min(lv) + 2 * sum(vl)) / (2 * count(nn)))
    ELSE 0.0 END, 6) AS dispersion
FROM p GROUP BY user_id
""")
def q_variability_full(spark, sf_dir):
    """A9 complete — SDNN/NN50/pNN50 + Poincare Stepping & Dispersion on
    the endpoint-trimmed series (QRS_features.py:509-538).

    Hash-hardened like `variability`: everything runs on vl =
    round(value*100) exact integers. Scale cancels in stepping and
    dispersion (both are ratios of same-unit quantities), so the values
    equal the float formulas to ~1e-8 relative while every aggregate is an
    order-independent integer sum. The one irrational per-row term — the
    Poincare pair distance sqrt(nn_i^2 + nn_{i+1}^2) — is quantized to
    round(pair*1000) BEFORE summation on BOTH sides, removing float-sum
    order sensitivity there too (sqrt of a non-square int is irrational,
    so the .5 rounding tie can't occur). Same int64 domain precondition
    as `variability`: |value| <= ~3e6 at n<=100 events/entity."""
    ev = _events(spark, sf_dir)
    trimmed = windows.trim_endpoints(ev, "user_id", _ORDER)
    t = trimmed.withColumn("vl", F.round(F.col("value") * 100).cast("long"))
    w = windows.entity_window("user_id", _ORDER)
    full = w.rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)
    t = t.withColumn("nn", F.abs(F.col("vl") - F.lag("vl").over(w)))
    nn_lead = F.lead("nn").over(w)
    pair_r = F.round(
        F.sqrt(F.col("nn") * F.col("nn") + nn_lead * nn_lead) * 1000
    ).cast("long")
    t = (t.withColumn("pair_r", pair_r)
          .withColumn("fv", F.first("vl").over(full))
          .withColumn("lv", F.last("vl").over(full)))
    n_v = F.count("vl")  # null values excluded, like the sums
    s1 = F.sum("vl")
    s2 = F.sum(F.col("vl") * F.col("vl"))
    n_nn = F.count("nn")
    sum_nn = F.sum("nn")
    sum_nn2 = F.sum(F.col("nn") * F.col("nn"))
    nn50 = F.sum(F.when(F.col("nn") > 1500, 1).otherwise(0))
    stepping = F.when(
        (n_nn - 1 != 0) & (s1 != 0),
        (F.sum("pair_r") / 1000.0 / (n_nn - 1)) / (s1 / n_v)
    ).otherwise(F.lit(0.0))
    disp_den_i = -F.min("fv") - 2 * F.min("lv") + 2 * s1
    dispersion = F.when(
        (disp_den_i != 0) & (n_nn > 0),
        F.sqrt(stats._clamp0(
            sum_nn2 / (2 * n_nn)
            - (sum_nn / n_nn) * (sum_nn / n_nn) / 2))
        / (disp_den_i / (2 * n_nn))
    ).otherwise(F.lit(0.0))
    out = t.groupBy("user_id").agg(
        (F.sqrt(stats._clamp0(s2 / n_v - (s1 / n_v) * (s1 / n_v))) / 100).alias("sdnn"),
        nn50.alias("nn50"),
        # try_divide: an all-null-value entity has count(vl)=0 while nn50
        # is a non-null 0 — LONG/LONG 0/0 aborts under ANSI (ADVICE r2)
        F.try_divide(nn50, n_v).alias("pnn50"),
        stepping.alias("stepping"),
        dispersion.alias("dispersion"),
    )
    return _round(out, ["sdnn", "pnn50", "stepping", "dispersion"])


@register("qrs_yuxi", """
WITH t AS (
  SELECT user_id, value, ts, event_id,
    row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS n
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
trimmed AS (SELECT user_id, value, ts, event_id FROM t
            WHERE rn > 1 AND rn <= n - 1),
med AS (SELECT user_id, quantile_cont(value, 0.5) AS m FROM trimmed
        GROUP BY user_id),
x AS (
  SELECT trimmed.user_id, value, m,
    coalesce(lag(value) OVER w2 + value, value) AS fwd,
    coalesce(value + lead(value) OVER w2, value) AS bwd
  FROM trimmed JOIN med ON trimmed.user_id = med.user_id
  WINDOW w2 AS (PARTITION BY trimmed.user_id ORDER BY ts, event_id))
SELECT user_id, round(avg(CASE WHEN value IS NULL THEN NULL WHEN
    abs(value - m) <= 0.05 * m OR abs(value - 2 * m) <= 0.05 * (2 * m)
    OR abs(fwd - 2 * m) <= 0.05 * (2 * m)
    OR abs(fwd - 3 * m) <= 0.05 * (3 * m)
    OR abs(bwd - 2 * m) <= 0.05 * (2 * m)
    OR abs(bwd - 3 * m) <= 0.05 * (3 * m)
  THEN 1 ELSE 0 END), 6) AS yuxi_ratio
FROM x GROUP BY user_id
""")
def q_qrs_yuxi(spark, sf_dir):
    """A10 — median-rhythm matched-interval ratio with 2-beat forward/
    backward sums (QRS_features.py:463-506), on the trimmed series."""
    ev = _events(spark, sf_dir)
    trimmed = windows.trim_endpoints(ev, "user_id", _ORDER)
    out = stats.qrs_yuxi(trimmed, "value", "user_id", _ORDER, tol=0.05)
    return _round(out, ["yuxi_ratio"])


@register("crossing_widths", """
WITH th AS (SELECT user_id, avg(value) AS t FROM events GROUP BY user_id),
base AS (
  SELECT e.user_id, value, t,
    row_number() OVER w - 1 AS i, lead(value) OVER w AS nxt
  FROM events e JOIN th ON e.user_id = th.user_id
  WINDOW w AS (PARTITION BY e.user_id ORDER BY ts, event_id)),
cr AS (SELECT user_id, i FROM base WHERE (value - t) * (nxt - t) < 0),
rk AS (SELECT user_id, i,
         row_number() OVER (PARTITION BY user_id ORDER BY i) AS k,
         lag(i) OVER (PARTITION BY user_id ORDER BY i) AS prev_i FROM cr),
wd AS (SELECT user_id, i - coalesce(prev_i, 0) AS w FROM rk
       WHERE k % 2 = 1),
aw AS (SELECT user_id, count(*) AS nw, avg(w) AS mw FROM wd
       GROUP BY user_id),
ac AS (SELECT user_id, count(*) AS n_crossings FROM cr GROUP BY user_id)
SELECT u.user_id,
  coalesce(ac.n_crossings, 0) AS n_crossings,
  round(CASE WHEN aw.nw > 1 THEN aw.mw ELSE 0.0 END, 6) AS mean_width
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN ac ON u.user_id = ac.user_id
LEFT JOIN aw ON u.user_id = aw.user_id
""")
def q_crossing_widths(spark, sf_dir):
    """A15/W6 — LongThresCrossing count + mean paired crossing width at the
    entity-mean threshold (LONG_features.py:215-241); the reference's
    pair_flag state machine as rank parity over crossings."""
    ev = _events(spark, sf_dir)
    out = stats.crossing_width_stats(ev, "value", "user_id", _ORDER)
    return _round(
        out.select("user_id", "n_crossings",
                   F.col("mean_width").cast("double").alias("mean_width")),
        ["mean_width"])


@register("minmax_scalar_prepass", """
SELECT min(n) AS min_events, max(n) AS max_events, count(*) AS n_entities
FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
""")
def q_minmax_prepass(spark, sf_dir):
    """A25 — dataset-level scalar pre-pass whose result parameterizes the
    main query (utils.py:43-56 min/max sample length)."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return per.agg(F.min("n").alias("min_events"),
                   F.max("n").alias("max_events"),
                   F.count(F.lit(1)).alias("n_entities"))


@register("dataset_profile", """
SELECT lang, count(*) AS n_docs,
  round(avg(n_chars), 6) AS avg_chars,
  round(count(*) / (SELECT count(*) FROM documents)::DOUBLE, 6) AS share
FROM documents GROUP BY lang
""")
def q_dataset_profile(spark, sf_dir):
    """A23 — dataset profiling: per-class counts/shares + numeric summary
    (statistics.py:18-38)."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    out = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.avg("n_chars").alias("avg_chars"))
        .withColumn("share",
                    F.col("n_docs") / F.sum("n_docs").over(
                        Window.partitionBy()))
    )
    return _round(out, ["avg_chars", "share"])


@register("scale_input", """
WITH m AS (
  SELECT user_id,
    sum(CASE WHEN value <> 0 THEN value ELSE 0 END)
      / sum(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS mean_nz
  FROM events GROUP BY user_id)
SELECT event_id, e.user_id,
  round(CASE WHEN value <> mean_nz THEN
    sign(value - mean_nz) * log10(abs(value - mean_nz) + 1) + mean_nz
    ELSE value END, 6) AS scaled
FROM events e JOIN m ON e.user_id = m.user_id
""")
def q_scale_input(spark, sf_dir):
    """U9 — log-compress normalization around the non-zero mean
    (preprocess-300hz.py:405-422), fully relational (two-pass broadcast)."""
    ev = _events(spark, sf_dir)
    # try_divide: an all-zero entity has 0 non-zero rows — null mean_nz
    # (DuckDB's /0 result), which the CASE then passes through as `value`
    m = ev.groupBy("user_id").agg(
        F.try_divide(
            F.sum(F.when(F.col("value") != 0, F.col("value")).otherwise(0.0)),
            F.sum(F.when(F.col("value") != 0, 1).otherwise(0)))
        .alias("mean_nz"))
    v, mu = F.col("value"), F.col("mean_nz")
    scaled = F.when(
        v != mu,
        F.signum(v - mu) * F.log10(F.abs(v - mu) + 1) + mu).otherwise(v)
    out = ev.join(m, "user_id").select(
        "event_id", "user_id", scaled.alias("scaled"))
    return _round(out, ["scaled"])


@register("balance_classes", """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, unnest(generate_series(1,
    CASE lang WHEN 'en' THEN 1 WHEN 'es' THEN 3 WHEN 'fr' THEN 4
              WHEN 'de' THEN 2 ELSE 5 END)) AS c
  FROM documents)
""")
def q_balance_classes(spark, sf_dir):
    """R5 — deterministic class-balancing replication
    (preprocess-300hz.py:315-341) via explode(sequence)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return splits.balance_classes(
        d, "lang", {"en": 1, "es": 3, "fr": 4, "de": 2}, default=5)


@register("smooth_labels", """
WITH c AS (SELECT unnest(generate_series(0, 4)) AS class_idx)
SELECT doc_id, class_idx,
  (CASE WHEN lang = (['en','es','fr','de','zh'])[class_idx + 1]
        THEN 1 ELSE 0 END)
    * (1 - 0.1::DOUBLE) + 0.1::DOUBLE / 5 AS y
FROM documents CROSS JOIN c
""")
def q_smooth_labels(spark, sf_dir):
    """P9 — label smoothing y*(1-f)+f/k on the one-hot lang vector
    (challenge2020/utils/tools.py:206-224), exploded to scalar rows so the
    driver can value-hash it. No rounding needed: both engines evaluate
    the same double-literal expression on 0/1 inputs bit-identically."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    langs = ["en", "es", "fr", "de", "zh"]
    sm = splits.smooth_labels(splits.one_hot(F.col("lang"), langs), 0.1)
    return d.select(
        "doc_id", F.posexplode(sm).alias("class_idx", "y"))


@register("seeded_shuffle", """
SELECT o_orderkey,
  row_number() OVER (
    ORDER BY ((o_orderkey % 2147483648) * 2654435761 + 42) % 2147483647,
             o_orderkey)
    AS pos
FROM orders
""")
def q_seeded_shuffle(spark, sf_dir):
    """O6 — deterministic seeded permutation (np.random.permutation,
    preprocess-300hz.py:178). The engine's two-phase range-bucketed rank
    (splits.seeded_shuffle — no single-reducer global sort) must reproduce
    the oracle's global ORDER BY hash exactly; a portable multiplicative
    hash (Knuth 2654435761) stands in for xxhash64 so DuckDB can replay
    the same order. Id reduced mod 2^31 pre-multiply to avoid int64
    ANSI overflow past ~3.47e9 ids (ADVICE r2; no-op on testdata ids)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    h = F.pmod(
        F.pmod(F.col("o_orderkey"), F.lit(2_147_483_648))
        * F.lit(2654435761) + F.lit(42), F.lit(2_147_483_647))
    return splits.seeded_shuffle(o, "o_orderkey", hash_expr=h, out="pos")


@register("pivot_one_hot", """
SELECT doc_id,
  CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS is_de,
  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
  CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS is_es,
  CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS is_fr,
  CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS is_zh
FROM documents
""")
def q_pivot_one_hot(spark, sf_dir):
    """R6/P8 — label -> one-hot indicator columns via pivot with a pinned
    value list (challenge2020/utils/data.py:35-38)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = splits.pivot_one_hot(d, "doc_id", "lang",
                               ["de", "en", "es", "fr", "zh"])
    return out.select("doc_id", *[F.col(c).cast("int").alias(c)
                                  for c in out.columns if c != "doc_id"])


@register("tumbling_time_windows", """
SELECT user_id,
  floor(epoch_us(ts) / 1000000.0 / 86400) * 86400 AS window_start_s,
  count(*) AS n_events,
  round(sum(value), 6) AS sum_value,
  round(avg(value), 6) AS avg_value
FROM events GROUP BY user_id, 2
""")
def q_tumbling_time(spark, sf_dir):
    """W5 time-based — daily tumbling windows via F.window (the batch twin
    of streaming window aggs)."""
    ev = _events(spark, sf_dir)
    out = windows.tumbling_time_aggs(ev, 86400.0, "value", "user_id", "ts")
    return _round(out, ["sum_value", "avg_value"])


@register("sliding_time_windows", """
SELECT user_id, window_start_s, count(*) AS n_events,
  round(avg(value), 6) AS avg_value
FROM (
  SELECT user_id, value,
    (floor(epoch_us(ts) / 1000000.0 / 86400)
     - unnest(generate_series(0, 1))) * 86400 AS window_start_s
  FROM events)
GROUP BY user_id, window_start_s
""")
def q_sliding_time(spark, sf_dir):
    """W5 time-based — 2-day windows sliding by 1 day (SegSig_1d overlap
    slicing on the time axis, HRV_features.py:32-58)."""
    ev = _events(spark, sf_dir)
    out = windows.sliding_time_aggs(ev, 2 * 86400.0, 86400.0, "value",
                                    "user_id", "ts")
    return _round(out, ["avg_value"])


@register("ohlc_time_bars", """
WITH v AS (
  SELECT user_id, event_id, ts, value,
    CAST(round(value * 100) AS BIGINT) AS qv,
    (epoch_us(ts) // 21600000000) * 21600 AS bar_start_s
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, bar_start_s
                               ORDER BY ts, event_id) AS rn
  FROM v)
SELECT user_id, CAST(bar_start_s AS BIGINT) AS bar_start_s,
  min_by(value, rn) AS open_value,
  max(value) AS high_value,
  min(value) AS low_value,
  max_by(value, rn) AS close_value,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(qv) AS BIGINT) / 100.0 AS sum_value
FROM r GROUP BY user_id, bar_start_s
""")
def q_ohlc_time_bars(spark, sf_dir):
    """6-hour OHLC bars (time-bar downsample with first/last order
    statistics — the resample op tumbling_time_windows' count/sum/avg
    family lacks). open/close via min_by/max_by on the (ts, event_id)
    rank; exact-cents sum (no rounding anywhere: order statistics and
    exact integer arithmetic only)."""
    ev = _events(spark, sf_dir)
    return windows.ohlc_time_bars(ev, 21600, "value", "user_id", "ts",
                                  "event_id")


@register("anchor_window_aggs", """
WITH anchors AS (
  SELECT user_id, event_id AS anchor_id,
    ts - INTERVAL 2 HOUR AS lo, ts + INTERVAL 2 HOUR AS hi
  FROM events WHERE event_type = 'click'),
j AS (
  SELECT a.user_id, a.anchor_id, e.ts, e.value,
    row_number() OVER (PARTITION BY a.user_id, a.anchor_id
                       ORDER BY e.value DESC, e.ts DESC) AS rmax,
    row_number() OVER (PARTITION BY a.user_id, a.anchor_id
                       ORDER BY e.value ASC, e.ts ASC) AS rmin
  FROM anchors a JOIN events e
    ON a.user_id = e.user_id AND e.ts BETWEEN a.lo AND a.hi)
SELECT user_id, anchor_id,
  count(*) AS n_events,
  round(max(value), 6) AS max_value,
  round(min(value), 6) AS min_value,
  round(avg(value), 6) AS mean_value,
  round(max(value) - min(value), 6) AS amplitude,
  round(max(CASE WHEN rmax = 1 THEN epoch_us(ts) / 1000000.0 END), 6)
    AS argmax_s,
  round(max(CASE WHEN rmin = 1 THEN epoch_us(ts) / 1000000.0 END), 6)
    AS argmin_s
FROM j GROUP BY user_id, anchor_id
""")
def q_anchor_window_aggs(spark, sf_dir):
    """J6/A24 relational — per-anchor interval aggregates + argmax/argmin
    fiducials via the bucketized range join (operators/joins.py; the
    reference's per-beat window loop, extract_SHORT.py:56-139)."""
    ev = _events(spark, sf_dir)
    anchors = (ev.where(F.col("event_type") == "click")
               .select("user_id", F.col("event_id").alias("anchor_id"),
                       (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("lo"),
                       (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi")))
    out = joins.anchor_window_aggs(
        ev.select("user_id", "ts", "value"), anchors, by="user_id",
        event_ts="ts", value="value", anchor_key="anchor_id",
        bucket_seconds=4 * 3600.0)
    out = out.select(
        "user_id", "anchor_id", "n_events", "max_value", "min_value",
        "mean_value", "amplitude",
        windows.ntz_epoch_seconds("argmax_ts").alias("argmax_s"),
        windows.ntz_epoch_seconds("argmin_ts").alias("argmin_s"))
    return _round(out, ["max_value", "min_value", "mean_value", "amplitude",
                        "argmax_s", "argmin_s"])


@register("fft_features", f"""
WITH {_DFT_CTE},
pxq AS (
  -- drift-proofing (driver r3 hash-FAIL): FLOOR each bin onto the unit
  -- grid BEFORE any band sum. Engine (numpy rfft) and oracle (naive DFT)
  -- agree to ~5e-9 absolute while bins run 1e0-1e6, so floor flips only
  -- within 5e-9 of an integer (P ~ 1e-8/bin) — vs round(sum, 2), which
  -- flips within 5e-9 of a .005 boundary (P ~ 1e-6/value; observed).
  -- Every downstream band/total is then an EXACT integer in float64.
  SELECT user_id, n, k, f, floor(pxx) AS pxx FROM px),
agg AS (
  SELECT user_id, max(n) AS n,
    coalesce(sum(pxx) FILTER (WHERE k >= 0
                              AND k < trunc(1.5 * n)), 0) AS b0,
    coalesce(sum(pxx) FILTER (WHERE k >= trunc(1.5 * n)
                              AND k < trunc(4 * n)), 0) AS b1,
    coalesce(sum(pxx) FILTER (WHERE k >= trunc(4 * n)
                              AND k < trunc(8 * n)), 0) AS b2,
    coalesce(sum(pxx) FILTER (WHERE k >= trunc(8 * n)
                              AND k < trunc(20 * n)), 0) AS b3,
    coalesce(sum(pxx) FILTER (WHERE k >= trunc(20 * n)
                              AND k < trunc(100 * n)), 0) AS b4,
    coalesce(sum(pxx) FILTER (WHERE k >= trunc(100 * n)
                              AND k < trunc(0.5 * n)), 0) AS b5,
    sum(pxx) AS total,
    coalesce(sum(pxx) FILTER (WHERE f < 0.1), 0) AS sig,
    coalesce(sum(pxx) FILTER (WHERE f >= 0.1), 0) AS noise
  FROM pxq GROUP BY user_id)
SELECT user_id,
  (CASE WHEN n < 4 THEN 0 ELSE b0 END)::DOUBLE AS band0,
  (CASE WHEN n < 4 THEN 0 ELSE b1 END)::DOUBLE AS band1,
  (CASE WHEN n < 4 THEN 0 ELSE b2 END)::DOUBLE AS band2,
  (CASE WHEN n < 4 THEN 0 ELSE b3 END)::DOUBLE AS band3,
  (CASE WHEN n < 4 THEN 0 ELSE b4 END)::DOUBLE AS band4,
  (CASE WHEN n < 4 THEN 0 ELSE b5 END)::DOUBLE AS band5,
  (CASE WHEN n < 4 THEN 0 ELSE total END)::DOUBLE AS total_power,
  round(CASE WHEN n >= 4 AND (b0 + b1 + b2 + b3 + b4 + b5) > 0 THEN -(
      (CASE WHEN b0 > 0 THEN (b0 / (b0+b1+b2+b3+b4+b5))
                             * ln(b0 / (b0+b1+b2+b3+b4+b5)) ELSE 0 END)
    + (CASE WHEN b1 > 0 THEN (b1 / (b0+b1+b2+b3+b4+b5))
                             * ln(b1 / (b0+b1+b2+b3+b4+b5)) ELSE 0 END)
    + (CASE WHEN b2 > 0 THEN (b2 / (b0+b1+b2+b3+b4+b5))
                             * ln(b2 / (b0+b1+b2+b3+b4+b5)) ELSE 0 END)
    + (CASE WHEN b3 > 0 THEN (b3 / (b0+b1+b2+b3+b4+b5))
                             * ln(b3 / (b0+b1+b2+b3+b4+b5)) ELSE 0 END)
    + (CASE WHEN b4 > 0 THEN (b4 / (b0+b1+b2+b3+b4+b5))
                             * ln(b4 / (b0+b1+b2+b3+b4+b5)) ELSE 0 END)
    + (CASE WHEN b5 > 0 THEN (b5 / (b0+b1+b2+b3+b4+b5))
                             * ln(b5 / (b0+b1+b2+b3+b4+b5)) ELSE 0 END))
    ELSE 0 END, 6) + 0.0 AS band_entropy,
  (CASE WHEN n >= 4 AND noise > 0 THEN sig / noise ELSE 0 END) + 0.0
    AS snr
FROM agg
""")
def q_fft_features(spark, sf_dir):
    """A16-A19 fused — index-partitioned band powers + total power +
    band Shannon entropy + SNR in one periodogram pass. Oracle: the same
    naive-DFT CTE as `fft_band_power` with the reference's
    int(edge*nfft/fs) index partition (degenerate at fs=1: band0 absorbs
    the whole one-sided spectrum — faithfully mirrored, entropy of a
    single band is exactly 0 on both sides).

    Hash-stability contract (r3 driver FAIL fixed): every bin is
    FLOOR-quantized onto the unit grid before band sums on BOTH sides
    (``quantize=1.0`` in the kernel, ``floor(pxx)`` in the CTE), so
    bands/total/sig/noise are exact integers in float64 and emitted
    UNROUNDED; snr is then a bit-identical quotient of exact integers
    (CLAUDE.md: never round an exact int/int quotient); band_entropy is
    the only transcendental (identical integer inputs → <= a few ulps of
    ln() divergence, round 6 is 10 orders above that). -0.0 canon on
    entropy/snr (engine ``-sum(...)`` of a 0.0 is IEEE -0.0)."""
    ev = _events(spark, sf_dir)
    out = kernels.fft_features_agg(ev, "value", "user_id", _ORDER,
                                   fs=1.0, snr_cut_hz=0.1, quantize=1.0)
    out = _round(out, ["band_entropy"])
    return _canon_zero(out, ["band_entropy", "snr"])


_WAVELET_DIGEST_SQL = """
SELECT CAST(50 AS BIGINT) AS n_users,
       CAST(44842480 AS BIGINT) AS chk_band0,
       CAST(1954087 AS BIGINT) AS chk_band1,
       CAST(2214203 AS BIGINT) AS chk_band2,
       CAST(3136226 AS BIGINT) AS chk_band3,
       CAST(6238849 AS BIGINT) AS chk_band4,
       CAST(2118112 AS BIGINT) AS chk_band5,
       CAST(35904892 AS BIGINT) AS chk_band6,
       CAST(18491313 AS BIGINT) AS chk_band7
"""


@register("wavelet_stats", _WAVELET_DIGEST_SQL)
def q_wavelet_stats(spark, sf_dir):
    """A22/U5 — per-entity db-N 7-level DWT band statistics (48 features;
    LONG_features.py:243-262). DuckDB cannot replay the filter-bank
    cascade, so certification is a pinned digest over the seeded
    sf-independent corpus (the e3_pipeline pattern): per user, each
    band's 6 stats are summed and quantized (kernel floats are
    bit-deterministic — numpy over a sorted array — so per-row
    quantization is core-count-stable), then integer-summed across users.
    Per-coefficient numerics are pytest-checked against published db2/db3
    filter constants and a literal-loop numpy oracle."""
    from ecg_feature_engineering_spark.datagen import events as ev_gen
    ev = ev_gen.events_df(spark)
    out = kernels.wavelet_stat_agg(ev, "value", "user_id", _ORDER,
                                   n_moments=7, level=7, min_len=64)
    aggs = [F.count(F.lit(1)).alias("n_users")]
    for band in range(8):
        band_sum = sum((F.col(f"wv{band * 6 + j}") for j in range(1, 6)),
                       F.col(f"wv{band * 6}"))
        aggs.append(F.sum(F.round(band_sum * 1000).cast("long"))
                    .alias(f"chk_band{band}"))
    return out.agg(*aggs)


_SPECTROGRAM_DIGEST_SQL = """
SELECT CAST(50 AS BIGINT) AS n_users,
       CAST(50 AS BIGINT) AS n_segments_total,
       CAST(33 AS BIGINT) AS n_freqs,
       CAST(9390568 AS BIGINT) AS chk_logpow
"""


@register("spectrogram", _SPECTROGRAM_DIGEST_SQL)
def q_spectrogram(spark, sf_dir):
    """U7 — per-entity log-spectrogram (preprocess-300hz.py:254-269;
    scipy-default contract: tukey(0.25), constant detrend, one-sided
    density scaling). The raw array<array<double>> surface is
    pytest-checked (taper/detrend/tone-peak tests); certification is a
    pinned digest over the seeded corpus: shape facts (segment count,
    one-sided bin count) plus the per-user quantized sum of all log-power
    values (F.aggregate folds the array sequentially — deterministic —
    and the cross-user sum is integer)."""
    from ecg_feature_engineering_spark.datagen import events as ev_gen
    ev = ev_gen.events_df(spark)
    out = kernels.spectrogram_agg(ev, "value", "user_id", _ORDER,
                                  fs=1.0, nperseg=64, noverlap=0)
    per_user_sum = F.aggregate(
        F.flatten("log_spec"), F.lit(0.0), lambda acc, x: acc + x)
    return out.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_segments").cast("long").alias("n_segments_total"),
        F.max(F.size(F.element_at("log_spec", 1))).cast("long")
        .alias("n_freqs"),
        F.sum(F.round(per_user_sum * 1000).cast("long"))
        .alias("chk_logpow"))


@register("anchor_fiducials_kernel", """
SELECT count(*) AS n_anchors, count(*) AS n_matching
FROM events WHERE event_type = 'click'
""")
def q_anchor_fiducials_kernel(spark, sf_dir):
    """A24/U10 — the row-expanding per-anchor kernel (cogrouped
    applyInPandas) checked IN-QUERY against its relational twin
    (anchor_window_aggs over the same ±2h windows): the digest counts
    anchors where the shared aggregate columns agree to 1e-9. The oracle
    computes the expected anchor count from the events table and asserts
    full agreement — a kernel/relational divergence or a dropped anchor
    hash-fails."""
    # fresh scans per side: the cogrouped kernel and the relational twin
    # sharing one scan lineage confuses plan dedup under the final join
    ev_k = _events(spark, sf_dir)
    ev_r = _events(spark, sf_dir)
    anchors_k = (ev_k.where(F.col("event_type") == "click")
                 .select("user_id", F.col("event_id").alias("anchor_id"),
                         "ts"))
    anchors_r = (ev_r.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("anchor_id"),
        (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi")))
    k = kernels.anchor_fiducials_kernel(
        ev_k.select("user_id", "ts", "value"), anchors_k, by="user_id",
        event_ts="ts", value="value", anchor_key="anchor_id",
        lo_s=-2 * 3600.0, hi_s=2 * 3600.0)
    r = joins.anchor_window_aggs(
        ev_r.select("user_id", "ts", "value"), anchors_r, by="user_id",
        anchor_key="anchor_id", bucket_seconds=4 * 3600.0)
    j = k.alias("k").join(r.alias("r"), ["user_id", "anchor_id"])
    ok = (
        (F.col("k.n_events") == F.col("r.n_events"))
        & (F.abs(F.col("k.max_value") - F.col("r.max_value")) < 1e-9)
        & (F.abs(F.col("k.min_value") - F.col("r.min_value")) < 1e-9)
        & (F.abs(F.col("k.mean_value") - F.col("r.mean_value")) < 1e-9)
        & (F.abs(F.col("k.amplitude") - F.col("r.amplitude")) < 1e-9))
    return j.agg(F.count(F.lit(1)).alias("n_anchors"),
                 F.sum(ok.cast("int")).alias("n_matching"))


# =====================================================================
# Round-1 batch 3: rollup, distinct thresholds, rdensity, pHash near-dup
# =====================================================================
@register("rollup_returns", """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
  coalesce(l_linestatus, 'ALL') AS l_linestatus,
  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q_rollup(spark, sf_dir):
    """Grouping-set rollup (SURVEY §2.4 note: free Spark built-in beyond the
    reference's flat groupings)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
                "n", "sum_qty")
    )
    return out


@register("distinct_thresholds_desc", """
SELECT DISTINCT l_discount FROM lineitem ORDER BY l_discount DESC
""")
def q_distinct_desc(spark, sf_dir):
    """O4 — descending distinct threshold values (xgboost_clf.py:128-132
    np.unique descending)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_discount").distinct().orderBy(F.col("l_discount").desc())


@register("rdensity", """
SELECT user_id,
  round((count(*) + 1) / (epoch_us(max(ts)) / 1000000.0
                          - epoch_us(min(ts)) / 1000000.0), 6) AS rdensity
FROM events GROUP BY user_id
""")
def q_rdensity(spark, sf_dir):
    """A1 Rdensity — (count+1)/signal-duration (HRV_features.py:121-123;
    events-per-second analog of R-peaks per sample window)."""
    ev = _events(spark, sf_dir)
    sec = windows.epoch_seconds(ev, "ts")
    out = ev.groupBy("user_id").agg(
        stats.rdensity(F.max(sec) - F.min(sec), F.lit(1.0),
                       F.count(F.lit(1))).alias("rdensity"))
    return _round(out, ["rdensity"])


@register("phash_near_dups", """
SELECT 0 AS n_pairs, 0 AS n_h0, -1 AS max_hamming
""")
def q_phash_near_dups(spark, sf_dir):
    """Image near-duplicate pairs by pHash hamming <= 6, bucketized on
    16-bit blocks (pigeonhole guarantee needs hamming < 4 blocks; wider
    radius accepts recall < 1, documented) — all JVM-side bit ops."""
    img = _images(spark).select("image_id", "phash")
    blocks = F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.shiftrightunsigned(F.col("phash"), 16 * i)
                 .bitwiseAND(F.lit(0xFFFF)).alias("key"))
        for i in range(4)
    ])
    b = (img.withColumn("b", F.explode(blocks))
         .select(F.col("image_id").alias("id"), F.col("phash").alias("ph"),
                 F.col("b.blk"), F.col("b.key")))
    pairs = (
        b.alias("x").join(
            b.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
                F.bit_count(F.col("x.ph").bitwiseXOR(F.col("y.ph")))
                .alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= 6)
    )
    # digest: pair population (pinned golden constants; planted-dup
    # membership is pytest-checked)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0)),
                   F.lit(0)).alias("n_h0"),
        F.coalesce(F.max("hamming"), F.lit(-1)).alias("max_hamming"))


@register("sample_entropy_qrs", """
WITH vs AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vl FROM events),
st AS (
  SELECT user_id, (sum(vl) / count(*)) / 100 AS mu,
    sqrt(CASE WHEN (sum(vl * vl) / count(*)
         - (sum(vl) / count(*)) * (sum(vl) / count(*))) < 0 THEN 0 ELSE (sum(vl * vl) / count(*)
         - (sum(vl) / count(*)) * (sum(vl) / count(*))) END) / 100 AS sd
  FROM vs GROUP BY user_id),
t AS (
  SELECT e.user_id,
    CASE WHEN sd > 0 THEN (value - mu) / sd END AS z0,
    row_number() OVER w AS rn, count(*) OVER (PARTITION BY e.user_id) AS n
  FROM events e JOIN st ON e.user_id = st.user_id
  WINDOW w AS (PARTITION BY e.user_id ORDER BY ts, event_id)),
t2 AS (
  SELECT user_id, rn, n, z0,
    lead(z0) OVER w2 AS z1, lead(z0, 2) OVER w2 AS z2,
    lead(z0, 3) OVER w2 AS z3
  FROM t WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)),
p AS (
  SELECT a.user_id, max(a.n) AS n,
    count(*) FILTER (WHERE abs(a.z0 - b.z0) <= 0.2) AS a0,
    count(*) FILTER (WHERE b.rn <= a.n - 1
                     AND abs(a.z0 - b.z0) <= 0.2) AS b1,
    count(*) FILTER (WHERE b.rn <= a.n - 1 AND
      greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1)) <= 0.2) AS a1,
    count(*) FILTER (WHERE b.rn <= a.n - 2 AND
      greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1)) <= 0.2) AS b2,
    count(*) FILTER (WHERE b.rn <= a.n - 2 AND
      greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1),
               abs(a.z2 - b.z2)) <= 0.2) AS a2,
    count(*) FILTER (WHERE b.rn <= a.n - 3 AND
      greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1),
               abs(a.z2 - b.z2)) <= 0.2) AS b3,
    count(*) FILTER (WHERE b.rn <= a.n - 3 AND
      greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1), abs(a.z2 - b.z2),
               abs(a.z3 - b.z3)) <= 0.2) AS a3
  FROM t2 a JOIN t2 b ON a.user_id = b.user_id AND a.rn < b.rn
  GROUP BY a.user_id),
base AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
SELECT base.user_id,
  round(CASE WHEN base.n >= 8 AND coalesce(a0, 0) > 0
             THEN -ln(a0 / (base.n * (base.n - 1) / 2))
             ELSE 100.0 END, 6) AS sampen_m0,
  round(CASE WHEN base.n >= 8 AND coalesce(b1, 0) > 0
              AND coalesce(a1, 0) > 0 THEN -ln(a1 / b1)
             ELSE 100.0 END, 6) AS sampen_m1,
  round(CASE WHEN base.n >= 8 AND coalesce(b2, 0) > 0
              AND coalesce(a2, 0) > 0 THEN -ln(a2 / b2)
             ELSE 100.0 END, 6) AS sampen_m2,
  round(CASE WHEN base.n >= 8 AND coalesce(b3, 0) > 0
              AND coalesce(a3, 0) > 0 THEN -ln(a3 / b3)
             ELSE 100.0 END, 6) AS sampen_m3
FROM base LEFT JOIN p ON base.user_id = p.user_id
""")
def q_sample_entropy_qrs(spark, sf_dir):
    """A11 — normalized SampEn m=0..3 with the None->100 patch
    (QRS_features.py:305-322). Oracle: same self-join pattern as
    `sample_entropy` on the z-scored series (z from exact-int moments —
    within 1e-15 of the kernel's numpy z, far from any 0.2-threshold
    boundary); m=0 uses the all-matching length-0 convention
    B = n(n-1)/2. A zero-std entity z-divides to NULL -> counts 0 ->
    the 100 patch on both sides."""
    ev = _events(spark, sf_dir)
    out = kernels.sample_entropy_qrs_agg(ev, "value", "user_id", _ORDER, 3)
    return _round(out, [c for c in out.columns if c != "user_id"])


@register("per_lead_summary", """
SELECT user_id, event_type,
  round(avg(value), 6) AS s_mean,
  round(max(value), 6) AS s_max,
  round(min(value), 6) AS s_min,
  round(sqrt(CASE WHEN (avg(value * value) - avg(value) * avg(value)) < 0 THEN 0 ELSE (avg(value * value) - avg(value) * avg(value)) END), 6) AS s_std,
  round(quantile_cont(value, 0.25), 6) AS s_p25,
  round(quantile_cont(value, 0.75), 6) AS s_p75
FROM events GROUP BY user_id, event_type
""")
def q_per_lead_summary(spark, sf_dir):
    """A12/J2 — the SHORT per-(entity, lead) summary shape: lead becomes a
    grouping column (event_type here), killing the reference's 12-way
    horizontal join and 12 passes (extract_SHORT.py:142-296, J2)."""
    ev = _events(spark, sf_dir)
    v = F.col("value")
    out = ev.groupBy("user_id", "event_type").agg(
        F.avg(v).alias("s_mean"),
        F.max(v).alias("s_max"),
        F.min(v).alias("s_min"),
        stats.std_pop(v).alias("s_std"),
        stats.pctl(v, 25).alias("s_p25"),
        stats.pctl(v, 75).alias("s_p75"),
    )
    return _round(out, ["s_mean", "s_max", "s_min", "s_std", "s_p25",
                        "s_p75"])


@register("nan_scrub", """
SELECT event_id, user_id,
  coalesce(CASE WHEN event_type = 'error' OR isnan(value) THEN NULL
                ELSE value END, 0.0) AS value_scrubbed
FROM events
""")
def q_nan_scrub(spark, sf_dir):
    """P4 — NaN/null scrub to a constant (np.nan_to_num /
    HRV_features.py:135-139 zero-fill semantics) via na.fill."""
    ev = _events(spark, sf_dir).withColumn(
        "value_scrubbed",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value")))
    return (ev.na.fill({"value_scrubbed": 0.0})
            .select("event_id", "user_id", "value_scrubbed"))


@register("ivf_topk", _ANN_DIGEST_SQL)
def q_ivf_topk(spark, sf_dir):
    """IVF ANN — KMeans coarse quantizer + inverted-list probe + exact
    re-rank (the second scale path beside sign-LSH). Digest: a planted
    scaled copy of each query has an identical centroid-cosine profile,
    so it lands in the query's own nearest list — the n_probe>=1 probe
    MUST surface it at rank 1 / cos 1.0 (see _with_planted_copies)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    corpus = _with_planted_copies(emb, q)
    return _rank1_planted_digest(
        similarity.ivf_topk(corpus, q, k=5, n_lists=8, n_probe=3))


@register("image_resize", """
SELECT 'png' AS fmt, 240 AS n, 16 AS w, 16 AS h,
       354 AS min_bytes, 852 AS max_bytes
""")
def q_image_resize(spark, sf_dir):
    """U3 — resize every image onto a common 16x16 grid (the reference's
    common-clock resample analog), re-encoded as lossless PNG."""
    out = kernels.resize_images(_images(spark), 16, out_fmt="png")
    per = out.select("image_id", "w", "h", "fmt",
                     F.length("bytes").alias("n_bytes"))
    # digest: pinned golden constants (PNG re-encode is deterministic)
    return per.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("w").alias("w"), F.max("h").alias("h"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"))


# =====================================================================
# Audio / video multimodal kernels (brief: image/audio/video as opaque
# binary + typed metadata; Arrow kernels, never per-row Python). Seeded
# sf-independent corpora (datagen/audio.py, datagen/video.py), pinned
# golden-constant digests — the image_decode_stats pattern. WAV decode is
# a REAL RIFF/PCM codec (pure numpy); the video container is the
# deterministic FVID format (real bitstream codecs need libavcodec,
# absent here — datagen/video.py docstring).
# =====================================================================
_N_AUDIO = 300
_N_VIDEO = 120


def _audio(spark):
    return datagen_audio.audio_df(spark, _N_AUDIO, seed=42)


def _videos(spark):
    return datagen_video.video_df(spark, _N_VIDEO, seed=42)


@register("audio_decode_stats", """
SELECT * FROM (VALUES
  ('pcm16', 200, CAST(230960 AS BIGINT), 0.401043::DOUBLE,
   0.405806::DOUBLE, 714.285714::DOUBLE, 7981.981982::DOUBLE),
  ('pcm8', 100, CAST(119288 AS BIGINT), 0.401918::DOUBLE,
   0.405713::DOUBLE, 719.626168::DOUBLE, 7925.170068::DOUBLE)
) AS t(fmt, n, sum_n, min_rms, max_rms, min_zcr, max_zcr)
""")
def q_audio_decode_stats(spark, sf_dir):
    """Audio U1 analog — decode the WAV payload, per-clip waveform stats
    (duration/RMS/peak/ZCR), digested per format. mapInPandas on the scan
    partitions, zero shuffle until the digest agg; min/max of per-row
    rounded values are order-independent, sum of int samples is exact."""
    out = media_kernels.audio_decode_stats(_audio(spark),
                                           keep=["audio_id", "fmt"])
    out = _round(out, ["duration_s", "rms", "peak", "zcr_hz", "clip_frac"])
    return out.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("decoded_n").alias("sum_n"),
        F.min("rms").alias("min_rms"), F.max("rms").alias("max_rms"),
        F.min("zcr_hz").alias("min_zcr"), F.max("zcr_hz").alias("max_zcr"))


@register("audio_spectral", """
SELECT * FROM (VALUES
  ('pcm16', 200, CAST(200 AS BIGINT), 294.542041::DOUBLE,
   4147.378655::DOUBLE),
  ('pcm8', 100, CAST(100 AS BIGINT), 280.408276::DOUBLE,
   4096.122002::DOUBLE)
) AS t(fmt, n, n_dominant_ok, min_centroid, max_centroid)
""")
def q_audio_spectral(spark, sf_dir):
    """Audio U6 analog — per-clip periodogram features (spectral centroid,
    dominant frequency, Nyquist-fraction band powers; HRV_features.py
    frequency-domain block). The digest's INVARIANT arm: the datagen
    plants a known dominant tone f0 per clip, and the periodogram argmax
    must land within one FFT bin of it for EVERY clip
    (n_dominant_ok == n) — a broken FFT/windowing path fails loudly."""
    aud = _audio(spark)
    sp = media_kernels.audio_spectral(
        aud, keep=["audio_id", "fmt", "sr", "n_samples", "f0_hz"])
    sp = _round(sp, ["spectral_centroid_hz"])
    # try_divide: int/int `/` ANSI-aborts on a zero-sample clip (CLAUDE.md
    # rule); null bin width -> null ok -> excluded from the sum, which is
    # the right failure mode for a degenerate row
    ok = (F.abs(F.col("dominant_hz") - F.col("f0_hz"))
          <= F.try_divide(F.col("sr"), F.col("n_samples")))
    return sp.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ok.cast("long")).alias("n_dominant_ok"),
        F.min("spectral_centroid_hz").alias("min_centroid"),
        F.max("spectral_centroid_hz").alias("max_centroid"))


@register("audio_resample", """
SELECT * FROM (VALUES
  (8000, 150, CAST(122872 AS BIGINT), 8000, 0.401043::DOUBLE,
   0.405806::DOUBLE),
  (16000, 150, CAST(113688 AS BIGINT), 8000, 0.399101::DOUBLE,
   0.413004::DOUBLE)
) AS t(src_sr, n, sum_n, out_sr, min_rms, max_rms)
""")
def q_audio_resample(spark, sf_dir):
    """Audio U3 analog — common-clock resample (resample.py:24-28): every
    clip linearly interpolated onto an 8 kHz grid, re-encoded, then
    decoded AGAIN for stats (the chained two-kernel plumbing is the
    point). Grouped by source rate: the 16 kHz half proves a real 2:1
    decimation (sum_n halves), the 8 kHz half proves identity-rate
    stability (rms digits unchanged vs audio_decode_stats)."""
    aud = _audio(spark).withColumnRenamed("sr", "src_sr")
    rs = media_kernels.resample_audio(aud, 8000,
                                      keep=["audio_id", "src_sr"])
    st = media_kernels.audio_decode_stats(rs, keep=["audio_id", "src_sr"])
    st = _round(st, ["rms"])
    return st.groupBy("src_sr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("decoded_n").alias("sum_n"),
        F.min("decoded_sr").alias("out_sr"),
        F.min("rms").alias("min_rms"), F.max("rms").alias("max_rms"))


@register("audio_transcode_snr", """
SELECT * FROM (VALUES
  ('pcm16', 200, 44.565196::DOUBLE, CAST(200 AS BIGINT)),
  ('pcm8', 100, 999.0::DOUBLE, CAST(100 AS BIGINT))
) AS t(fmt, n, min_snr, n_ge_40)
""")
def q_audio_transcode_snr(spark, sf_dir):
    """Audio payload invariant — the twin of image_psnr_roundtrip
    (BASELINE.json PSNR>=40dB rule, transposed to audio): decode ->
    16->8-bit transcode -> decode, SNR >= 40 dB for every pcm16 clip
    (min 44.57 dB pinned); already-8-bit clips are exactly stable
    (quantization idempotence, capped 999)."""
    snr = media_kernels.audio_transcode_snr(_audio(spark), "pcm8")
    snr = _round(snr, ["snr_db"])
    return snr.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("snr_db").alias("min_snr"),
        F.sum((F.col("snr_db") >= 40.0).cast("long")).alias("n_ge_40"))


@register("video_stats", """
SELECT * FROM (VALUES
  (12, 60, CAST(578 AS BIGINT), CAST(6 AS BIGINT), CAST(6 AS BIGINT),
   130.804969::DOUBLE, 144.610733::DOUBLE),
  (24, 60, CAST(585 AS BIGINT), CAST(5 AS BIGINT), CAST(5 AS BIGINT),
   133.773051::DOUBLE, 144.633711::DOUBLE)
) AS t(fps, n, sum_frames, n_static_measured, n_static_expected,
       min_luma, max_luma)
""")
def q_video_stats(spark, sf_dir):
    """Video decode + summary — per-clip luma stats and inter-frame
    motion. INVARIANT arm: clips the datagen planted as static must (and
    only they may) measure motion exactly 0
    (n_static_measured == n_static_expected per fps group)."""
    vs = media_kernels.video_stats(
        _videos(spark), keep=["video_id", "fps", "is_static"])
    vs = _round(vs, ["luma_mean", "luma_std", "motion_mean", "motion_max"])
    return vs.groupBy("fps").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("decoded_frames").alias("sum_frames"),
        F.sum((F.col("motion_mean") == 0.0).cast("long"))
         .alias("n_static_measured"),
        F.sum(F.col("is_static").cast("long")).alias("n_static_expected"),
        F.min("luma_mean").alias("min_luma"),
        F.max("luma_mean").alias("max_luma"))


@register("video_frame_sample", """
SELECT * FROM (VALUES
  (12, CAST(60 AS BIGINT), 170, 12, 130.716521::DOUBLE,
   144.675121::DOUBLE),
  (24, CAST(60 AS BIGINT), 167, 12, 133.727872::DOUBLE,
   144.681729::DOUBLE)
) AS t(fps, n_videos, n_frames, max_idx, min_luma, max_luma)
""")
def q_video_frame_sample(spark, sf_dir):
    """Frame sampling — the row-EXPANDING multimodal kernel (one video ->
    one row per stride-4 frame, frame 0 always included; the reference's
    fixed-stride segmenter shape, preprocess-300hz.py). Digest: per-fps
    sampled-frame count, distinct-video count (every video must survive
    the expansion) and stride bound (max_idx % 4 == 0)."""
    fs = media_kernels.sample_frames(_videos(spark), every_k=4,
                                     keep=["video_id", "fps"])
    fs = _round(fs, ["frame_luma_mean"])
    return fs.groupBy("fps").agg(
        F.countDistinct("video_id").alias("n_videos"),
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_idx").alias("max_idx"),
        F.min("frame_luma_mean").alias("min_luma"),
        F.max("frame_luma_mean").alias("max_luma"))


# =====================================================================
# Quality-filter family (C4/Gopher/RefinedWeb public filter rules) +
# sketches + source-format roundtrips + skew demo (late-r3 batch 2;
# registered past the frozen window, r4 rotates them in)
# =====================================================================
_WS_SQL = r"'[ \t\n\x0B\f\r]+'"
_STOP_SQL = "['the','and','of','to','a','in','is','it','for','on']"


@register("gopher_quality", rf"""
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, {_WS_SQL}), x -> x <> '') AS ws,
    len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbol
  FROM documents),
s AS (
  SELECT doc_id, n_symbol, len(ws) AS n_words,
    list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS wl_sum,
    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    len(list_filter({_STOP_SQL},
        s -> list_contains(list_transform(ws, x -> lower(x)), s)))
      AS n_stop_d
  FROM w),
v AS (
  SELECT doc_id, n_words, n_stop_d,
    CASE WHEN n_words > 0 THEN wl_sum / n_words::DOUBLE ELSE 0.0 END AS mwl,
    CASE WHEN n_words > 0 THEN n_symbol / n_words::DOUBLE ELSE 0.0 END AS sym,
    CASE WHEN n_words > 0 THEN n_alpha / n_words::DOUBLE ELSE 0.0 END AS alp
  FROM s)
SELECT doc_id,
  n_words::BIGINT AS n_words_g,
  round(mwl, 6) AS mean_word_len_g,
  round(sym, 6) AS symbol_word_ratio,
  round(alp, 6) AS alpha_word_frac,
  n_stop_d::BIGINT AS n_stop_distinct,
  coalesce(n_words BETWEEN 3 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
           AND sym <= 0.1 AND alp >= 0.8 AND n_stop_d >= 2, FALSE)
    AS passes_gopher
FROM v
""")
def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality filter (published thresholds; the composed
    boolean is evaluated on UNROUNDED int-ratio doubles in both engines
    — identical IEEE results, so the flag is parity-exact)."""
    d = _t(spark, sf_dir, "documents")
    out = text.gopher_quality(d, "text").select(
        "doc_id", "n_words_g", "mean_word_len_g", "symbol_word_ratio",
        "alpha_word_frac", "n_stop_distinct", "passes_gopher")
    return _round(out, ["mean_word_len_g", "symbol_word_ratio",
                        "alpha_word_frac"])


@register("pii_scrub", rf"""
WITH a AS (
  SELECT doc_id,
    text
    || (CASE WHEN doc_id % 3 = 0
        THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
        THEN ' see http://site' || (doc_id % 7) || '.example.org/path'
        ELSE '' END) AS aug
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(aug,
      '{text.EMAIL_PATTERN}'))::BIGINT AS n_emails,
  len(regexp_extract_all(aug,
      '{text.URL_PATTERN}'))::BIGINT AS n_urls,
  md5(regexp_replace(regexp_replace(aug,
      '{text.URL_PATTERN}', '<PII>', 'g'),
      '{text.EMAIL_PATTERN}', '<PII>', 'g')) AS scrubbed_fingerprint
FROM a
""")
def q_pii_scrub(spark, sf_dir):
    """PII scrub (C4-style email/URL redaction). The driver's documents
    contain no PII, so both sides deterministically AUGMENT the text from
    doc_id (same string algebra in Spark and SQL) — the regexes then
    fire on varying real positions instead of certifying 0==0. NULL text
    stays NULL through || / concat in both engines."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact user"), did,
                        F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" see http://site"),
                        (F.col("doc_id") % 7).cast("string"),
                        F.lit(".example.org/path"))).otherwise(F.lit("")),
    )
    return text.pii_scrub(d.withColumn("text", aug), "text").select(
        "doc_id", "n_emails", "n_urls", "scrubbed_fingerprint")


@register("dup_ngram_fraction", rf"""
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), {_WS_SQL}),
                x -> x <> '') AS ws
  FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
  FROM w WHERE len(ws) >= 3),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
d AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
    sum(cnt * length(gram)) AS tot,
    sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup
  FROM c GROUP BY doc_id)
SELECT dd.doc_id,
  coalesce(d.n_grams, 0)::BIGINT AS n_grams,
  round(coalesce(CASE WHEN d.tot > 0 THEN d.dup / d.tot::DOUBLE END, 0.0), 6)
    AS dup_ngram_char_frac
FROM documents dd LEFT JOIN d ON dd.doc_id = d.doc_id
""")
def q_dup_ngram_fraction(spark, sf_dir):
    """Duplicate word-3-gram character fraction (RefinedWeb/Gopher
    repetition signal). Docs with < 3 words (incl. NULL text) keep a 0.0
    fraction via the left join back — row count stays |documents|."""
    d = _t(spark, sf_dir, "documents")
    out = text.dup_ngram_stats(d, "text", "doc_id", n=3).select(
        "doc_id", "n_grams", "dup_ngram_char_frac")
    return _round(out, ["dup_ngram_char_frac"])


# Shared DuckDB CTE chain for the winnowing queries: normalize -> char
# k-grams -> portable 60-bit md5 hashes -> window-4 minima (value-set
# winnowing). Mirrors text.winnow_selected exactly: generate_series/range
# bounds, substr window, the '0x'||hex BIGINT cast, and the <w-gram
# degenerate cases (global min for 1..3 grams, empty for gram-less docs).
def _winnow_sql(k: int, w: int = 4) -> str:
    return rf"""
wnorm AS (
  SELECT doc_id,
    trim(regexp_replace(lower(text), {_WS_SQL}, ' ', 'g')) AS t
  FROM documents),
wh AS (
  SELECT doc_id,
    CASE WHEN length(t) >= {k} THEN
      list_transform(range(1, length(t) - {k - 2}),
        i -> CAST('0x' || substr(md5(substr(t, i, {k})), 1, 15) AS BIGINT))
    ELSE [] END AS h
  FROM wnorm),
wsel AS (
  SELECT doc_id, len(h) AS m,
    CASE
      WHEN len(h) >= {w} THEN list_distinct(list_transform(
        range(1, len(h) - {w - 2}),
        j -> list_aggregate(h[j:j+{w - 1}], 'min')))
      WHEN len(h) > 0 THEN [list_aggregate(h, 'min')]
      ELSE []
    END AS s
  FROM wh)
"""


@register("winnow_fingerprints", rf"""
WITH {_winnow_sql(5)}
SELECT doc_id,
  m::BIGINT AS n_kgrams,
  len(s)::BIGINT AS n_selected,
  coalesce(CAST(list_aggregate(
      list_transform(s, x -> x % 1000000007), 'sum') AS BIGINT), 0)
    AS winnow_checksum,
  CASE WHEN m > 0 THEN len(s) / m::DOUBLE END AS winnow_density
FROM wsel
""")
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (SIGMOD'03 MOSS) per document: k=5 char
    grams, window w=4, order-independent mod-1e9+7 checksum of the
    selected-hash set. Density is an exact int/int quotient — emitted
    UNROUNDED (bit-identical division cross-engine)."""
    d = _t(spark, sf_dir, "documents")
    return text.winnow_fingerprints(d, "text", k=5, w=4).select(
        "doc_id", "n_kgrams", "n_selected", "winnow_checksum",
        "winnow_density")


@register("winnow_match_pairs", rf"""
WITH {_winnow_sql(12)},
post AS (SELECT doc_id AS id, unnest(s) AS whash FROM wsel),
hot AS (SELECT whash FROM post GROUP BY whash HAVING count(*) > 100),
cold AS (SELECT * FROM post
         WHERE whash NOT IN (SELECT whash FROM hot))
SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_shared
FROM cold a JOIN cold b ON a.whash = b.whash AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(*) >= 20
""")
def q_winnow_match_pairs(spark, sf_dir):
    """MOSS-style containment pairs: documents sharing >= 20 selected
    winnowing hashes at noise threshold k=12 (a shared hash certifies a
    shared substring of length >= k+w-1 = 15 chars; k=5 grams are too
    common in natural text — see winnow_match_pairs' docstring). The
    min_shared=20 floor sits in the measured gap between templated-
    boilerplate pair overlap (p99.9 = 18 shared hashes on the sf0.01
    corpus) and genuine near-dup pairs (>= 20; the same ~25-pair
    cluster ngram_jaccard certifies). Hot hashes (df > 100) are dropped
    before the posting-list self-join — the ngram_jaccard cap, mirrored
    in the oracle."""
    d = _t(spark, sf_dir, "documents")
    return text.winnow_match_pairs(d, "text", "doc_id", k=12, w=4,
                                   min_shared=20, df_cap=100)


@register("approx_distinct_docs", """
SELECT source, count(DISTINCT text)::BIGINT AS n_exact,
  TRUE AS within_rel_err
FROM documents GROUP BY source
""")
def q_approx_distinct_docs(spark, sf_dir):
    """HLL++ distinct-count sketch with an exactness certificate: the
    contract pins the exact count plus the estimate-within-10% flag —
    the engine-portable surface of an engine-specific sketch. A group
    of all-NULL texts certifies 0==0 (HLL of nothing is 0)."""
    from ecg_feature_engineering_spark.operators import sketches

    d = _t(spark, sf_dir, "documents")
    out = sketches.distinct_with_certificate(d, "source", "text",
                                             rel_err=0.1)
    return out.select("source", "n_exact", "within_rel_err")


@register("doc_quantiles", """
SELECT source,
  round(quantile_cont(n_chars, 0.25), 6) AS p25,
  round(quantile_cont(n_chars, 0.50), 6) AS p50,
  round(quantile_cont(n_chars, 0.75), 6) AS p75,
  count(n_chars)::BIGINT AS n,
  TRUE AS approx_p50_is_element
FROM documents GROUP BY source
""")
def q_doc_quantiles(spark, sf_dir):
    """Exact type-7 quantiles over an integer column with binary-exact
    probabilities — interpolation is IEEE-exact in every engine, so the
    VALUES certify (not just flags). The GK sketch (percentile_approx)
    certifies via its membership property: it returns an element."""
    from ecg_feature_engineering_spark.operators import sketches

    d = _t(spark, sf_dir, "documents")
    out = sketches.quantiles_exact(d, "source", "n_chars",
                                   probs=(0.25, 0.5, 0.75))
    out = out.select("source", "p25", "p50", "p75", "n",
                     "approx_p50_is_element")
    return _round(out, ["p25", "p50", "p75"])


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    """Shared lossless-roundtrip digest: per-lang counts + integer text
    checksum. Matching this against the oracle computed on the ORIGINAL
    parquet proves the sink->source roundtrip preserved every aggregated
    byte (md5 of text catches any character-level corruption)."""
    chk = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10) \
           .cast("long")
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("text").alias("n_text"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(chk).alias("text_chk"),
    )


_ROUNDTRIP_ORACLE = """
SELECT lang, count(*)::BIGINT AS n, count(text)::BIGINT AS n_text,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
    AS text_chk
FROM documents GROUP BY lang
"""


_ROUNDTRIP_CLEANUP_REGISTERED = False


def _roundtrip_tmp(sf_dir: str, tag: str) -> str:
    # pid in the path: two concurrent sessions against the same sf_dir
    # must not share a sink (one would overwrite while the other reads
    # it back — ADVICE r3). Within one process the path is stable, so a
    # re-run of the query reuses/overwrites its own sink deterministically.
    #
    # Leak control (pid paths never self-overwrite across processes):
    # this process's sinks are deleted at interpreter exit (atexit —
    # they must survive until the driver materializes the lazy
    # read-back), and sinks abandoned by crashed/killed processes are
    # swept by age (>1 day is safely past any live session; sweeping by
    # liveness/pid would race a concurrent starting session).
    import atexit
    import glob
    import hashlib
    import shutil
    import tempfile
    import time as _time

    tmpdir = tempfile.gettempdir()
    global _ROUNDTRIP_CLEANUP_REGISTERED
    if not _ROUNDTRIP_CLEANUP_REGISTERED:
        _ROUNDTRIP_CLEANUP_REGISTERED = True
        mine = f"_p{os.getpid()}"
        atexit.register(lambda: [
            shutil.rmtree(d, ignore_errors=True)
            for d in glob.glob(os.path.join(tmpdir, "efes_*"))
            if d.endswith(mine)])
        cutoff = _time.time() - 86400
        for d in glob.glob(os.path.join(tmpdir, "efes_*")):
            try:
                if os.path.getmtime(d) < cutoff:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tmpdir, f"efes_{tag}_{key}_p{os.getpid()}")


@register("jsonl_roundtrip", _ROUNDTRIP_ORACLE)
def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink -> schema-locked JSONL source -> digest. The oracle
    aggregates the ORIGINAL parquet; equality proves the JSON-lines
    roundtrip is byte-lossless (null fields restored as typed NULLs,
    control characters preserved through JSON escaping)."""
    from ecg_feature_engineering_spark.sources import io as eio

    d = _t(spark, sf_dir, "documents")
    tmp = _roundtrip_tmp(sf_dir, "jsonl")
    eio.write_jsonl(d, tmp)
    back = eio.read_jsonl(spark, tmp, d.schema)
    return _roundtrip_agg(back)


@register("orc_roundtrip", _ROUNDTRIP_ORACLE)
def q_orc_roundtrip(spark, sf_dir):
    """ORC sink -> ORC source -> digest vs the parquet-computed oracle:
    proves the ORC path (same pushdown/pruning surface as parquet) is
    byte-lossless for the documents schema."""
    from ecg_feature_engineering_spark.sources import io as eio

    d = _t(spark, sf_dir, "documents")
    tmp = _roundtrip_tmp(sf_dir, "orc")
    eio.write_orc(d, tmp)
    back = eio.read_orc(spark, tmp)
    return _roundtrip_agg(back)


@register("salted_skew_counts", """
SELECT event_type, count(*)::BIGINT AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""")
def q_salted_skew_counts(spark, sf_dir):
    """Two-phase salted aggregation vs the plain GROUP BY oracle: the
    explicit skew pattern (partial per (key, salt), final per key —
    operators/skew.py) must be SEMANTICALLY invisible. value is
    quantized per row BEFORE summation (integer cents) so the two-level
    aggregation order can't move a float sum across a rounding boundary."""
    from ecg_feature_engineering_spark.operators import skew

    ev = _events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    salted = skew.with_salt(ev.withColumn("__cents", cents), 16,
                            deterministic_col="event_id")
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__cents").alias("__s"))
    return partial.groupBy("event_type").agg(
        F.sum("__n").alias("n"),
        F.sum("__s").alias("value_cents"))


@register("time_features", """
WITH s AS (SELECT event_id, user_id,
             epoch_us(ts) // 1000000 AS sec FROM events)
SELECT event_id, user_id,
  sec // 86400 AS epoch_day,
  year(DATE '1970-01-01' + ((sec // 86400)::INT))::BIGINT AS year,
  month(DATE '1970-01-01' + ((sec // 86400)::INT))::BIGINT AS month,
  day(DATE '1970-01-01' + ((sec // 86400)::INT))::BIGINT AS day_of_month,
  (sec // 3600) % 24 AS hour_of_day,
  (sec // 60) % 60 AS minute_of_hour,
  ((sec // 86400 + 3) % 7) + 1 AS dow_iso,
  (((sec // 86400 + 3) % 7) + 1 >= 6) AS is_weekend
FROM s
""")
def q_time_features(spark, sf_dir):
    """Calendar features from pure integer epoch arithmetic plus
    tz-free DATE parts — identical on any session time zone and any
    engine (F.hour/from_unixtime would read the session tz; see
    windows.ntz_epoch_seconds notes)."""
    ev = _events(spark, sf_dir)
    return windows.time_features(ev, "ts").select(
        "event_id", "user_id", "epoch_day", "year", "month",
        "day_of_month", "hour_of_day", "minute_of_hour", "dow_iso",
        "is_weekend")


@register("winsorize_events", """
WITH q AS (SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS value_q FROM events),
b AS (SELECT user_id,
        quantile_cont(value_q, 0.125) AS w_lo,
        quantile_cont(value_q, 0.875) AS w_hi
      FROM q GROUP BY user_id)
SELECT q.event_id, q.user_id, q.value_q,
  round(b.w_lo, 6) AS w_lo, round(b.w_hi, 6) AS w_hi,
  round(CASE WHEN q.value_q IS NOT NULL
        THEN least(greatest(q.value_q::DOUBLE, b.w_lo), b.w_hi) / 100.0
        END, 6) AS value_winsorized
FROM q LEFT JOIN b USING (user_id)
""")
def q_winsorize_events(spark, sf_dir):
    """Per-entity quantile winsorization on the integer-cents grid with
    binary-exact probabilities (1/8, 7/8) — interpolation and clamp are
    IEEE-exact cross-engine. NULL values stay NULL (guarded clamp:
    least/greatest would otherwise silently rewrite NULL to the bound)."""
    ev = _events(spark, sf_dir)
    out = stats.winsorize(ev, "value", by="user_id")
    out = out.select("event_id", "user_id", "value_q", "w_lo", "w_hi",
                     "value_winsorized")
    return _round(out, ["w_lo", "w_hi", "value_winsorized"])


# Generated EWMA oracle: the SAME fixed-order coalesce(+) chain the
# engine builds, weights emitted as ::DOUBLE casts (a bare 0.25 literal
# is DECIMAL in DuckDB — decimal arithmetic would not be IEEE-identical)
_EWMA_W = [0.5 * 0.5 ** j for j in range(8)]
_EWMA_LAGS = ",\n    ".join(
    f"lag(value, {j}) OVER w AS l{j}" for j in range(8))
_EWMA_NUM = "\n    + ".join(
    f"coalesce(CASE WHEN l{j} IS NOT NULL THEN l{j} * {w!r}::DOUBLE END,"
    f" 0.0::DOUBLE)" for j, w in enumerate(_EWMA_W))
_EWMA_DEN = "\n    + ".join(
    f"coalesce(CASE WHEN l{j} IS NOT NULL THEN {w!r}::DOUBLE END,"
    f" 0.0::DOUBLE)" for j, w in enumerate(_EWMA_W))


@register("ewma_events", f"""
WITH l AS (
  SELECT event_id, user_id,
    {_EWMA_LAGS}
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT event_id, user_id,
    {_EWMA_NUM} AS num,
    {_EWMA_DEN} AS den
  FROM l)
SELECT event_id, user_id,
  round(CASE WHEN den > 0 THEN num / den END, 6) AS ewma
FROM s
""")
def q_ewma_events(spark, sf_dir):
    """Truncated EWMA (alpha=1/2, window 8) — leakage-safe smoothing as
    a pure Window expression; numerator/denominator are identical
    fixed-order + chains in engine and oracle, so the float sums match
    bit-for-bit on any value distribution."""
    ev = _events(spark, sf_dir)
    out = windows.ewma(ev, "value", by="user_id",
                       order=("ts", "event_id"), alpha=0.5, window=8)
    return _round(out.select("event_id", "user_id", "ewma"), ["ewma"])


@register("rank_features", """
SELECT event_id, user_id,
  round(cume_dist() OVER (PARTITION BY user_id
        ORDER BY value NULLS FIRST), 6) AS value_cume,
  round(percent_rank() OVER (PARTITION BY user_id
        ORDER BY value NULLS FIRST), 6) AS value_pct_rank,
  row_number() OVER (PARTITION BY user_id
        ORDER BY value NULLS FIRST, event_id) AS value_rank
FROM events
""")
def q_rank_features(spark, sf_dir):
    """Rank-transform features (outlier-immune model-input
    normalization): cume_dist / percent_rank are exact int-ratio
    doubles. NULL ordering pinned NULLS FIRST on both sides (Spark's
    ascending default is nulls-first, DuckDB's is nulls-LAST)."""
    ev = _events(spark, sf_dir)
    out = windows.rank_transform(ev, "value", by="user_id",
                                 tiebreak="event_id")
    return _round(
        out.select("event_id", "user_id", "value_cume", "value_pct_rank",
                   "value_rank"),
        ["value_cume", "value_pct_rank"])


@register("embedding_centroids", """
WITH x AS (
  -- ::DOUBLE on BOTH operands: a bare 1000000.0 literal is DECIMAL and
  -- FLOAT * DECIMAL multiplies in float32 here (measured: 103 of 640
  -- group sums off by 1-2 without the casts)
  SELECT label, i AS dim, embedding[i + 1]::DOUBLE AS v
  FROM embeddings, UNNEST(range(len(embedding))) AS t(i))
SELECT label, dim, count(v)::BIGINT AS n,
  CAST(sum(CAST(floor(v * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS qsum,
  -- UNROUNDED: qsum and n*1e6 are exact-in-double integers, so the
  -- division is bit-identical across engines; round(,6) would sit ON
  -- the quotient's decimal grid and trip Spark's shortest-decimal
  -- rounding (measured 2/640 ties)
  CAST(sum(CAST(floor(v * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT)
    / (count(v) * 1000000.0::DOUBLE) AS centroid
FROM x GROUP BY label, dim
""")
def q_embedding_centroids(spark, sf_dir):
    """Per-class embedding centroids (the mean-pool / drift-monitoring
    primitive): posexplode to (label, dim) -> one hash aggregate with
    map-side partials. Each float is quantized to an exact integer
    BEFORE the cross-row sum (the _digest_chk rule) so the centroid is
    aggregation-order-free — a raw float mean differs in the last ulp
    between engines and core counts.

    FLOOR quantization, not round: Spark's round on a double goes
    through BigDecimal.valueOf (the SHORTEST-decimal representation)
    while DuckDB rounds the true binary value — arbitrary float32
    inputs land in the half-tie region often enough that the two
    disagree (measured: 3 of 640 group sums off by 1-2 at sf0.01).
    floor is defined on the binary value in both engines. The _digest_chk
    round(x*scale) pattern is safe only because its quantities sit on a
    known decimal grid; arbitrary floats must floor."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    # posexplode's position is int32; the oracle's range() index is
    # BIGINT — the driver's Arrow schema gate sees the difference
    x = x.withColumn("dim", F.col("dim").cast("long"))
    out = x.groupBy("label", "dim").agg(
        F.count("v").alias("n"),
        F.sum(F.floor(F.col("v") * F.lit(1e6)).cast("long")).alias("qsum"))
    # unrounded on purpose: exact-int-in-double division is already
    # bit-identical cross-engine; rounding would LAND ON the quotient's
    # decimal grid (see oracle comment)
    out = out.withColumn(
        "centroid", F.col("qsum") / (F.col("n") * F.lit(1e6)))
    return out.select("label", "dim", "n", "qsum", "centroid")


@register("target_encoding_pit", """
WITH q AS (SELECT event_id, event_type, ts,
             CAST(round(value * 100) AS BIGINT) AS qv FROM events),
s AS (SELECT event_id, event_type,
        count(qv) OVER w AS n_prev,
        sum(qv) OVER w AS s_prev
      FROM q
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id, event_type,
  CASE WHEN n_prev > 0
       THEN s_prev / (n_prev * 100.0::DOUBLE) END AS target_enc
FROM s
""")
def q_target_encoding_pit(spark, sf_dir):
    """Point-in-time target encoding: each row's feature is the mean
    target of STRICTLY EARLIER same-category rows (frame ends at
    1 PRECEDING — the target-encoding leak is impossible by
    construction, the north rule's zero-temporal-leakage requirement
    applied to a supervised feature). Integer-quantized window sums;
    the quotient emitted unrounded (bit-identical exact-int division)."""
    ev = _events(spark, sf_dir)
    out = windows.target_encode_pit(ev, "event_type", "value",
                                    order=("ts", "event_id"))
    return out.select("event_id", "event_type", "target_enc")


@register("expanding_zscore", """
WITH q AS (SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS qv FROM events),
s AS (SELECT event_id, user_id, qv,
        count(qv) OVER w AS n,
        sum(qv) OVER w AS s1,
        sum(qv * qv) OVER w AS s2
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id,
  CASE WHEN qv IS NOT NULL AND (n * s2 - s1 * s1) > 0
       THEN (qv - s1 / (n * 1.0::DOUBLE))
            / sqrt((n * s2 - s1 * s1) / ((n * n) * 1.0::DOUBLE)) END
    AS zscore_pit
FROM s
""")
def q_expanding_zscore(spark, sf_dir):
    """Leakage-safe expanding z-score: standardize each value against
    its own history only (the point-in-time StandardScaler). Integer
    power sums (exact under any window accumulation order — DuckDB
    segment-trees windowed sums, Spark runs them forward, a float sum
    would diverge), variance via n·Σx²−(Σx)², z emitted unrounded
    (identical doubles through an identical operation sequence)."""
    ev = _events(spark, sf_dir)
    out = windows.expanding_zscore(ev, "value", by="user_id",
                                   order=("ts", "event_id"))
    return out.select("event_id", "user_id", "zscore_pit")


@register("stratified_sample", """
SELECT doc_id, lang,
  CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 10000
    AS bucket
FROM documents
WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 10000
      < (CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END)
""")
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (class-balanced downsampling
    at scale): keep iff the id's md5 bucket falls under the stratum
    rate — stable under repartitioning/reruns/resume, unlike sampleBy's
    seeded Bernoulli draw (an engine detail no oracle can replay)."""
    d = _t(spark, sf_dir, "documents")
    out = splits.stratified_sample(
        d, "doc_id", "lang", {"en": 0.5}, default_rate=0.2,
        portable=True)
    # the SAME expression the filter used (splits.sample_bucket_expr),
    # so the emitted bucket column cannot drift from the applied filter
    bucket = splits.sample_bucket_expr("doc_id", portable=True)
    return out.select("doc_id", "lang", bucket.alias("bucket"))


@register("daily_type_rollup_outer", """
WITH c AS (
  SELECT (epoch_us(ts) // 1000000) // 86400 AS day, count(*) AS n_click
  FROM events WHERE event_type = 'click' GROUP BY 1),
v AS (
  SELECT (epoch_us(ts) // 1000000) // 86400 AS day, count(*) AS n_view
  FROM events WHERE event_type = 'view' GROUP BY 1)
SELECT coalesce(c.day, v.day) AS day,
  CAST(coalesce(c.n_click, 0) AS BIGINT) AS n_click,
  CAST(coalesce(v.n_view, 0) AS BIGINT) AS n_view
FROM c FULL OUTER JOIN v ON c.day = v.day
""")
def q_daily_type_rollup_outer(spark, sf_dir):
    """FULL OUTER join of two daily rollups (days where only one event
    type fired survive with a zero for the other) — the outer-join
    null-fill semantics the relational core had not yet certified."""
    ev = _events(spark, sf_dir)
    sec = F.floor(windows.epoch_seconds(ev, "ts")).cast("long")
    day = F.floor(sec / F.lit(86400.0)).cast("long").alias("day")
    c = (ev.where(F.col("event_type") == "click").select(day)
           .groupBy("day").agg(F.count(F.lit(1)).alias("n_click")))
    v = (ev.where(F.col("event_type") == "view").select(day)
           .groupBy("day").agg(F.count(F.lit(1)).alias("n_view")))
    j = c.join(v, on="day", how="full_outer")
    return j.select(
        "day",
        F.coalesce(F.col("n_click"), F.lit(0)).alias("n_click"),
        F.coalesce(F.col("n_view"), F.lit(0)).alias("n_view"))


@register("quantile_buckets", """
WITH q AS (SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS qv FROM events),
b AS (SELECT user_id,
        quantile_cont(qv, 0.25) AS c0,
        quantile_cont(qv, 0.50) AS c1,
        quantile_cont(qv, 0.75) AS c2
      FROM q GROUP BY user_id)
SELECT q.event_id, q.user_id,
  CASE WHEN q.qv IS NOT NULL THEN
    CAST((q.qv > b.c0)::INT + (q.qv > b.c1)::INT + (q.qv > b.c2)::INT
         AS BIGINT) END AS value_qbucket
FROM q LEFT JOIN b USING (user_id)
""")
def q_quantile_buckets(spark, sf_dir):
    """Per-entity quartile bucketing (QuantileDiscretizer as a
    relational operator): integer-grid values + binary-grid
    probabilities make the cut points IEEE-exact cross-engine; bucket =
    count of cuts strictly below the value; NULL values keep NULL."""
    ev = _events(spark, sf_dir)
    out = stats.quantile_discretize(ev, "value", by="user_id")
    return out.select("event_id", "user_id", "value_qbucket")


_BM25_QUERY_TERMS = ("data", "model", "training", "quality", "image")
"""Fixed query-term list for the bm25_scores contract (lowercase)."""


@register("tfidf_top_terms", r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text),
                                             '[ \t\n\x0B\f\r]+'),
                       x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY doc_id, term),
dfc AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
    -- association mirrors the engine exactly: (tf * ln(N/df)) * 1e6
    CAST(floor(tf.tf::DOUBLE * ln(n.n_docs::DOUBLE / dfc.df::DOUBLE)
               * 1000000.0::DOUBLE) AS BIGINT) AS tfidf_micro
  FROM tf JOIN dfc USING (term) CROSS JOIN n
  WHERE tf.tf >= 2),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS rank
  FROM scored)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, tfidf_micro
FROM rk WHERE rank <= 5
""")
def q_tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF top terms (scale addition — retrieval-signal analog
    of the reference's per-signal summary stats, QRS_features.py): top-5
    terms per doc by the EXACT integer tuple (tf DESC, df ASC, term),
    annotated with tf*ln(N/df) FLOOR-quantized to BIGINT micros. Float
    ranking would flip the emitted row SET on cross-engine ln() ulp
    noise; integer ranking confines that noise to one value column
    (operators/corpus.py module contract)."""
    d = _t(spark, sf_dir, "documents")
    out = corpus.tfidf_top_terms(d, k=5, min_tf=2)
    return out.select("doc_id", F.col("rank").cast("long").alias("rank"),
                      "term", "tf", "df", "tfidf_micro")


@register("bm25_scores", r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(regexp_split_to_array(lower(text),
                                             '[ \t\n\x0B\f\r]+'),
                       x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY doc_id, term),
docs AS (
  SELECT doc_id,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   '[ \t\n\x0B\f\r]+'),
                             x -> x <> '')), 0)::BIGINT AS dl
  FROM documents),
qt AS (SELECT * FROM tf
       WHERE term IN ('data', 'model', 'training', 'quality', 'image')),
dfc AS (SELECT term, count(*)::BIGINT AS df FROM qt GROUP BY term),
consts AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS dl_sum
           FROM docs),
per AS (
  -- float association mirrors the engine term-for-term:
  --   ((((idf * tf) * (1.2+1.0)) / denom) * 1e6), with
  --   idf   = ln((N - df + 0.5) / (df + 0.5))
  --   denom = tf + 1.2 * (0.25 + 0.75 * (dl / (dl_sum / N)))
  -- (k1+1 is written 1.2::DOUBLE + 1.0::DOUBLE, NOT the literal 2.2:
  -- the engine adds the doubles and 2.2's repr is a different double)
  SELECT qt.doc_id,
    CAST(floor(
      ln((consts.n_docs::DOUBLE - dfc.df::DOUBLE + 0.5::DOUBLE)
         / (dfc.df::DOUBLE + 0.5::DOUBLE))
      * qt.tf::DOUBLE * (1.2::DOUBLE + 1.0::DOUBLE)
      / (qt.tf::DOUBLE + 1.2::DOUBLE *
         (0.25::DOUBLE + 0.75::DOUBLE *
          (d.dl::DOUBLE / (consts.dl_sum::DOUBLE / consts.n_docs::DOUBLE))))
      * 1000000.0::DOUBLE) AS BIGINT) AS c_micro
  FROM qt JOIN dfc USING (term) JOIN docs d USING (doc_id)
  CROSS JOIN consts),
sc AS (SELECT doc_id, sum(c_micro)::BIGINT AS bm25_micro,
              count(*)::BIGINT AS n_terms_matched
       FROM per GROUP BY doc_id)
SELECT d.doc_id, d.dl,
  coalesce(sc.n_terms_matched, 0)::BIGINT AS n_terms_matched,
  coalesce(sc.bm25_micro, 0)::BIGINT AS bm25_micro
FROM docs d LEFT JOIN sc USING (doc_id)
""")
def q_bm25_scores(spark, sf_dir):
    """Okapi BM25 of every document against a fixed 5-term query (scale
    addition). Per-term contributions FLOOR-quantized to BIGINT micros
    BEFORE the per-doc sum — a float sum's value depends on partition
    visit order; the integer sum does not (operators/corpus.py). Docs
    with no match score 0 (corpus-side left join)."""
    d = _t(spark, sf_dir, "documents")
    return corpus.bm25_scores(d, list(_BM25_QUERY_TERMS))


@register("benchmark_contamination", r"""
WITH toks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text),
                                              '[ \t\n\x0B\f\r]+', ' ',
                                              'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL),
sh AS (  -- word_shingles semantics: distinct 3-grams, short docs emit
         -- their full token join as one shingle (greatest(len-2, 1))
  SELECT DISTINCT doc_id, gram FROM (""" + _word3grams_sql("toks") + r""")),
bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 50 = 0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM sh
        WHERE doc_id % 50 <> 0 GROUP BY doc_id),
hit AS (SELECT s.doc_id, count(*) AS n_contam
        FROM sh s JOIN bench b ON s.gram = b.gram
        WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id)
SELECT c.doc_id,
  coalesce(t.n_grams, 0)::BIGINT AS n_grams,
  coalesce(h.n_contam, 0)::BIGINT AS n_contam,
  CASE WHEN coalesce(t.n_grams, 0) > 0 THEN
    coalesce(h.n_contam, 0)::DOUBLE / t.n_grams::DOUBLE END AS contam_frac,
  (coalesce(t.n_grams, 0) > 0
   AND coalesce(h.n_contam, 0) * 100 >= t.n_grams * 80) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) c
LEFT JOIN tot t USING (doc_id) LEFT JOIN hit h USING (doc_id)
""")
def q_benchmark_contamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appx. C / Dolma pipeline op,
    scale addition): candidate docs = doc_id % 50 != 0, benchmark =
    doc_id % 50 == 0 (a deterministic in-corpus split — no external
    data); per candidate, the fraction of its distinct word 3-grams
    found anywhere in the benchmark. contam_frac is one exact int/int
    quotient emitted unrounded; the flag compares integers
    (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    cand = d.where(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return corpus.benchmark_contamination(cand, bench, "text", "doc_id",
                                          n=3, threshold_pct=80)


@register("pack_token_stream", r"""
WITH d AS (
  SELECT doc_id, source AS shard,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   '[ \t\n\x0B\f\r]+'),
                             x -> x <> '')), 0)::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d),
e AS (
  -- chunk ids by pure int64 trunc-division, mirroring the engine
  -- (Spark `div` and DuckDB `//` both truncate toward zero; the only
  -- negative operand is (cum-1) = -1 on a zero-token stream head,
  -- where both give 0 and greatest clamps to chunk_first = 0 anyway.
  -- ADVICE r4: float floor(x/ctx) is exact only for power-of-two ctx)
  SELECT doc_id, shard, n_tokens,
    (cum - n_tokens)::BIGINT AS start_off,
    ((cum - n_tokens) // 512)::BIGINT AS chunk_first,
    greatest(((cum - 1) // 512)::BIGINT,
             ((cum - n_tokens) // 512)::BIGINT) AS chunk_last
  FROM c)
SELECT doc_id, shard, n_tokens, start_off, chunk_first, chunk_last,
  (chunk_last - chunk_first + 1)::BIGINT AS n_chunks
FROM e
""")
def q_pack_token_stream(spark, sf_dir):
    """GPT-style token-stream packing (scale addition): per-shard
    (source) doc_id-ordered cumulative token offsets cut into 512-token
    context windows; a doc may straddle chunks (zero padding waste).
    All outputs exact integers (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    return corpus.pack_token_stream(d, ctx=512, shard_col="source")


@register("line_repetition", r"""
WITH ln AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        regexp_split_to_array(coalesce(text, ''), '\n'),
        x -> regexp_replace(x, '(^[ \t\x0B\f\r]+)|([ \t\x0B\f\r]+$)',
                            '', 'g')),
      x -> x <> '') AS lines
  FROM documents),
m AS (
  SELECT doc_id, lines, list_distinct(lines) AS ulines,
    coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
      ::BIGINT AS lc,
    coalesce(list_sum(list_transform(list_distinct(lines),
                                     x -> length(x))), 0)::BIGINT AS lcu
  FROM ln)
SELECT doc_id,
  len(lines)::BIGINT AS n_lines,
  len(ulines)::BIGINT AS n_uniq_lines,
  (len(lines) - len(ulines))::BIGINT AS n_dup_lines,
  CASE WHEN len(lines) > 0 THEN
    (len(lines) - len(ulines))::DOUBLE / len(lines)::DOUBLE
  ELSE 0.0::DOUBLE END AS dup_line_frac,
  lc AS line_chars,
  (lc - lcu)::BIGINT AS dup_line_chars,
  CASE WHEN lc > 0 THEN (lc - lcu)::DOUBLE / lc::DOUBLE
  ELSE 0.0::DOUBLE END AS dup_line_char_frac
FROM m
""")
def q_line_repetition(spark, sf_dir):
    """Gopher duplicate-LINE repetition signals (scale addition — the
    n-gram granularity is `dup_ngram_fraction`): per doc, the fraction
    of \\n-lines (btrimmed, empties dropped) that already occurred
    earlier in the doc, plus the char-weighted twin. Fractions are
    exact int/int quotients emitted unrounded (operators/text.py)."""
    d = _t(spark, sf_dir, "documents")
    out = text.line_repetition_stats(d, "text")
    return out.select(
        "doc_id", "n_lines", "n_uniq_lines", "n_dup_lines",
        "dup_line_frac", "line_chars", "dup_line_chars",
        "dup_line_char_frac")


@register("top_ngram_stats", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id, length(array_to_string(t, ' '))::BIGINT AS denom,
    n.n, array_to_string(t[i.i:i.i + n.n - 1], ' ') AS gram
  FROM toks
  CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) n,
  unnest(generate_series(1, len(t) - n.n + 1)) AS i(i)
  WHERE len(t) >= n.n),
c AS (SELECT doc_id, denom, n, gram, count(*)::BIGINT AS cnt
      FROM g GROUP BY doc_id, denom, n, gram),
rk AS (SELECT *, row_number() OVER (
         PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) AS rn
       FROM c)
SELECT doc_id, n::BIGINT AS n, gram AS top_gram, cnt,
  (cnt * length(gram))::BIGINT AS gram_chars,
  denom AS denom_chars,
  CASE WHEN denom > 0 THEN
    (cnt * length(gram))::DOUBLE / denom::DOUBLE END AS char_frac
FROM rk WHERE rn = 1
""")
def q_top_ngram_stats(spark, sf_dir):
    """Gopher top-n-gram repetition signal (scale addition): per doc and
    n in {2,3,4}, the most frequent word n-gram (winner picked on the
    EXACT integer tuple cnt DESC, gram ASC) and the fraction of the
    doc's normalized chars its occurrences cover — one exact int/int
    quotient, unrounded; overlapping occurrences can push it past 1.0
    (documented, not clamped). Docs with < n tokens emit no (doc, n)
    row (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    out = corpus.top_ngram_char_fraction(d, ns=(2, 3, 4))
    return out.select("doc_id", F.col("n").cast("long").alias("n"),
                      "top_gram", "cnt", "gram_chars", "denom_chars",
                      "char_frac")


@register("pack_efficiency", r"""
WITH d AS (
  SELECT doc_id, source AS shard,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   '[ \t\n\x0B\f\r]+'),
                             x -> x <> '')), 0)::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d),
e AS (
  SELECT doc_id, shard, n_tokens,
    ((cum - n_tokens) // 512)::BIGINT AS chunk_first,
    greatest(((cum - 1) // 512)::BIGINT,
             ((cum - n_tokens) // 512)::BIGINT) AS chunk_last
  FROM c),
a AS (
  SELECT shard, count(*)::BIGINT AS n_docs,
    sum(n_tokens)::BIGINT AS total_tokens,
    max(n_tokens)::BIGINT AS max_doc_tokens,
    sum(CASE WHEN chunk_last > chunk_first THEN 1 ELSE 0 END)
      ::BIGINT AS n_straddlers
  FROM e GROUP BY shard)
SELECT shard, n_docs, total_tokens, max_doc_tokens, n_straddlers,
  ((total_tokens + 511) // 512)::BIGINT AS n_chunks,
  (((total_tokens + 511) // 512) * 512 - total_tokens)
    ::BIGINT AS pad_tokens,
  CASE WHEN total_tokens > 0 THEN
    total_tokens::DOUBLE
    / (((total_tokens + 511) // 512) * 512)::DOUBLE
  END AS fill_frac
FROM a
""")
def q_pack_efficiency(spark, sf_dir):
    """Per-shard packing-efficiency ledger over `pack_token_stream`
    (scale addition): context-window fill fraction, padding tokens,
    boundary-straddling doc count. The shard agg reuses the packing
    window's hashpartitioning(shard) exchange — one shuffle total.
    fill_frac is one exact int/int quotient, unrounded
    (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    return corpus.pack_efficiency(d, ctx=512, shard_col="source")


@register("domain_mix", rf"""
WITH a AS (
  SELECT doc_id,
    text
    || (CASE WHEN doc_id % 5 = 0
        THEN ' see http://site' || (doc_id % 7) || '.example.org/path'
        ELSE '' END)
    || (CASE WHEN doc_id % 3 = 0
        THEN ' also https://CDN' || (doc_id % 4) || '.example.net/asset'
        ELSE '' END) AS aug
  FROM documents),
u AS (SELECT doc_id,
        unnest(regexp_extract_all(coalesce(aug, ''),
                                  '{text.URL_PATTERN}')) AS url
      FROM a),
o AS (SELECT doc_id,
        lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1))
          AS domain
      FROM u),
g AS (SELECT domain, count(DISTINCT doc_id)::BIGINT AS n_docs,
        count(*)::BIGINT AS n_urls
      FROM o WHERE domain <> '' GROUP BY domain),
t AS (SELECT sum(n_urls)::BIGINT AS tot FROM g)
SELECT g.domain, g.n_docs, g.n_urls,
  g.n_urls::DOUBLE / t.tot::DOUBLE AS url_share
FROM g CROSS JOIN t
""")
def q_domain_mix(spark, sf_dir):
    """Per-domain URL mix (web-pipeline blocklist/rebalance report;
    scale addition). The driver's documents contain no URLs, so both
    sides deterministically AUGMENT the text from doc_id (the pii_scrub
    convention) — two planted domain families with different
    frequencies; the uppercase CDN host pins the lowercasing.
    url_share is one exact int/int quotient (operators/text.py)."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0,
               F.concat(F.lit(" see http://site"),
                        (did % 7).cast("string"),
                        F.lit(".example.org/path"))).otherwise(F.lit("")),
        F.when(did % 3 == 0,
               F.concat(F.lit(" also https://CDN"),
                        (did % 4).cast("string"),
                        F.lit(".example.net/asset"))).otherwise(F.lit("")),
    )
    return text.domain_mix(d.withColumn("text", aug), "text", "doc_id")


@register("mixture_sample", r"""
WITH d AS (
  SELECT doc_id, source,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   '[ \t\n\x0B\f\r]+'),
                             x -> x <> '')), 0)::BIGINT AS nt
  FROM documents),
s AS (SELECT source, sum(nt)::BIGINT AS n_tokens FROM d GROUP BY source),
m AS (SELECT source,
        CASE WHEN n_tokens > 0 THEN
          (CAST(floor(sqrt(n_tokens::DOUBLE) * 1000000.0::DOUBLE)
                AS BIGINT) * 1000000) // n_tokens
        ELSE 0 END::BIGINT AS ratio_micro
      FROM s),
k AS (SELECT max(ratio_micro)::BIGINT AS mx FROM m),
rates AS (
  SELECT m.source,
    CASE WHEN k.mx > 0 THEN (m.ratio_micro * 1000000) // k.mx
    ELSE 0 END::BIGINT AS keep_micro
  FROM m CROSS JOIN k)
SELECT doc.doc_id, doc.source, rates.keep_micro,
  CAST('0x' || substr(md5(doc.doc_id::VARCHAR), 1, 8) AS BIGINT)
    % 1000000 AS sample_bucket
FROM documents doc JOIN rates USING (source)
WHERE CAST('0x' || substr(md5(doc.doc_id::VARCHAR), 1, 8) AS BIGINT)
    % 1000000 < rates.keep_micro
""")
def q_mixture_sample(spark, sf_dir):
    """Deterministic temperature downsampling to the source_mixture
    alpha=0.5 weights (scale addition): each source keeps a hash-stable
    doc fraction ∝ 1/sqrt(its token mass), smallest source keeps 100%.
    Membership is a pure function of doc_id (portable md5-prefix bucket
    mod 1e6 — the hash_split reproducibility property, oracle-checkable
    unlike xxhash64); keep rates derived integerly on the FLOOR micro
    grid (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    out = corpus.sample_to_mixture(d, "text", "doc_id", "source")
    return out.select("doc_id", "source", "keep_micro", "sample_bucket")


@register("dsir_importance", r"""
WITH tok AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                x -> x <> '') AS t
  FROM documents),
uni AS (SELECT doc_id, unnest(t) AS g FROM tok),
big AS (SELECT doc_id, t[s.i] || ' ' || t[s.i + 1] AS g
        FROM tok, unnest(generate_series(1, len(t) - 1)) AS s(i)
        WHERE len(t) >= 2),
occ AS (
  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 10000 AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
occ_t AS (SELECT b FROM occ WHERE doc_id % 50 = 0),
cq AS (SELECT doc_id, b, count(*)::BIGINT AS c
       FROM occ WHERE doc_id % 50 <> 0 GROUP BY doc_id, b),
nt AS (SELECT b, count(*)::BIGINT AS nt FROM occ_t GROUP BY b),
nq AS (SELECT b, sum(c)::BIGINT AS nq FROM cq GROUP BY b),
k AS (SELECT (SELECT count(*) FROM occ_t)::BIGINT AS tt,
             (SELECT coalesce(sum(nq), 0) FROM nq)::BIGINT AS qq),
w AS (
  -- ONE ln() of one exact-integer-derived ratio, every operand cast to
  -- DOUBLE individually — mirrors the engine expression term-for-term
  SELECT nq.b,
    CAST(floor(ln(
      ((coalesce(nt.nt, 0) + 1)::DOUBLE * (k.qq + 10000)::DOUBLE)
      / ((nq.nq + 1)::DOUBLE * (k.tt + 10000)::DOUBLE))
      * 1000000.0::DOUBLE) AS BIGINT) AS lr
  FROM nq LEFT JOIN nt USING (b) CROSS JOIN k),
sc AS (SELECT cq.doc_id, sum(cq.c)::BIGINT AS n_grams,
              sum(cq.c * w.lr)::BIGINT AS dsir_logw_micro
       FROM cq JOIN w USING (b) GROUP BY cq.doc_id)
SELECT d.doc_id,
  coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
  coalesce(sc.dsir_logw_micro, 0)::BIGINT AS dsir_logw_micro
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN sc USING (doc_id)
""")
def q_dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023 hashed-n-gram recipe;
    scale addition): every raw doc (doc_id % 50 != 0) scored by
    log p_target/p_raw over Laplace-smoothed 10k-bucket hashed
    unigram+bigram distributions, target = the deterministic in-corpus
    doc_id % 50 == 0 split (same convention as
    benchmark_contamination). Per-bucket log-ratios FLOOR-quantized to
    BIGINT micros once; per-doc scores are INT64 sums
    (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    raw = d.where(F.pmod(F.col("doc_id"), F.lit(50)) != 0)
    target = d.where(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return corpus.dsir_importance(raw, target, "text", "doc_id",
                                  buckets=10_000)


@register("paragraph_dedup", r"""
WITH p AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        regexp_split_to_array(coalesce(text, ''), '\n[ \t\x0B\f\r]*\n'),
        x -> regexp_replace(x, '(^[ \t\n\x0B\f\r]+)|([ \t\n\x0B\f\r]+$)',
                            '', 'g')),
      x -> x <> '') AS paras
  FROM documents),
occ AS (SELECT doc_id, unnest(paras) AS para FROM p),
fp AS (SELECT para, count(DISTINCT doc_id) AS n_docs_with
       FROM occ GROUP BY para),
d AS (
  SELECT occ.doc_id, count(*)::BIGINT AS np,
    sum(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END)::BIGINT AS nd,
    sum(length(occ.para))::BIGINT AS pc,
    sum(CASE WHEN f.n_docs_with >= 2 THEN length(occ.para)
        ELSE 0 END)::BIGINT AS dc
  FROM occ JOIN fp f USING (para) GROUP BY occ.doc_id)
SELECT doc.doc_id,
  coalesce(d.np, 0)::BIGINT AS n_paras,
  coalesce(d.nd, 0)::BIGINT AS n_dup_paras,
  coalesce(d.pc, 0)::BIGINT AS para_chars,
  coalesce(d.dc, 0)::BIGINT AS dup_para_chars,
  CASE WHEN d.np > 0 THEN d.nd::DOUBLE / d.np::DOUBLE
  ELSE 0.0::DOUBLE END AS dup_para_frac,
  CASE WHEN d.pc > 0 THEN d.dc::DOUBLE / d.pc::DOUBLE
  ELSE 0.0::DOUBLE END AS dup_para_char_frac
FROM documents doc LEFT JOIN d USING (doc_id)
""")
def q_paragraph_dedup(spark, sf_dir):
    """Cross-document paragraph duplication (Gopher/Dolma paragraph
    granularity; scale addition): per doc, the count/char fraction of
    its blank-line-separated paragraphs that occur in >= 2 DISTINCT
    docs (within-doc self-repeats excluded by construction).
    Occurrences join on a fixed-width md5 fingerprint; fractions are
    exact int/int quotients, 0.0 for paragraph-less docs
    (operators/dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.paragraph_dup_stats(d, "text", "doc_id")


@register("source_mixture", r"""
WITH d AS (
  SELECT source,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   '[ \t\n\x0B\f\r]+'),
                             x -> x <> '')), 0)::BIGINT AS nt
  FROM documents),
s AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
  FROM d GROUP BY source),
m AS (
  SELECT *, CAST(floor(sqrt(n_tokens::DOUBLE) * 1000000.0::DOUBLE)
                 AS BIGINT) AS sqrt_micro
  FROM s),
k AS (SELECT sum(n_tokens)::BIGINT AS tot_tokens,
             sum(sqrt_micro)::BIGINT AS tot_sqrt FROM m)
SELECT m.source, m.n_docs, m.n_tokens,
  CASE WHEN k.tot_tokens > 0 THEN
    m.n_tokens::DOUBLE / k.tot_tokens::DOUBLE END AS prop,
  m.sqrt_micro,
  CASE WHEN k.tot_sqrt > 0 THEN
    CAST((m.sqrt_micro * 1000000) // k.tot_sqrt AS BIGINT)
  END AS w_alpha_micro
FROM m CROSS JOIN k
""")
def q_source_mixture(spark, sf_dir):
    """Temperature-sampled source mixing weights, alpha = 0.5 (the
    Pile/LLaMA-style corpus-mixing report; scale addition): per-source
    token share and sqrt-proportional sampling weight. The alpha weight
    goes through the FLOOR micro grid INTEGERLY — IEEE sqrt is
    correctly rounded, so floor(sqrt*1e6) is bit-identical
    cross-engine, and the final ratio is int64 `div`
    (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    return corpus.source_mixture(d, shard_col="source")


@register("chunk_overlap_spans", r"""
WITH d AS (
  SELECT doc_id,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   '[ \t\n\x0B\f\r]+'),
                             x -> x <> '')), 0)::BIGINT AS n
  FROM documents),
k AS (
  SELECT doc_id, n,
    CASE WHEN n <= 64 THEN 0
    ELSE (n - 64 + 32 - 1) // 32 END::BIGINT AS k_max
  FROM d WHERE n > 0)
SELECT doc_id, i.i AS chunk_idx, n AS n_tokens,
  (i.i * 32)::BIGINT AS tok_start,
  least(i.i * 32 + 64, n)::BIGINT AS tok_end,
  (least(i.i * 32 + 64, n) - i.i * 32)::BIGINT AS n_chunk_tokens
FROM k, unnest(generate_series(0, k_max)) AS i(i)
""")
def q_chunk_overlap_spans(spark, sf_dir):
    """Per-document overlapping context windows, ctx=64 / stride=32
    (sized so the driver corpus's ~150-token docs produce REAL
    multi-chunk output — ctx=512 would certify only the single-chunk
    path): chunk k covers [k*32, min(k*32+64, n)); the tail chunk may
    be short, zero-token docs emit nothing. All exact integers
    (operators/corpus.py)."""
    d = _t(spark, sf_dir, "documents")
    return corpus.chunk_overlap_spans(d, ctx=64, stride=32)


@register("semdedup", """
SELECT (SELECT count(*) + 8 FROM embeddings)::BIGINT AS n_vectors,
       CAST(8 AS BIGINT) AS n_semdups,
       CAST(8 AS BIGINT) AS n_planted_flagged
""")
def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023; scale addition) over
    embeddings + 8 planted positively-scaled copies. Digest invariants:
    a scaled copy has cosine EXACTLY 1.0 to its original and an
    identical centroid profile (same cluster bit-for-bit, immune to
    KMeans float noise), so with keep-lowest-id greedy all 8 planted
    ids — and ONLY they — must be flagged (random 64-dim vectors sit
    ~7 sigma below the 0.95 threshold; operators/similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    corpus = _with_planted_copies(emb, q)
    out = similarity.semdedup(corpus, threshold=0.95, n_lists=8)
    return out.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("is_semdup").cast("int")).cast("long")
        .alias("n_semdups"),
        F.sum((F.col("is_semdup")
               & (F.col("vec_id") >= 1_000_000)).cast("int")).cast("long")
        .alias("n_planted_flagged"))


@register("c4_line_dedup", r"""
WITH ln AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        regexp_split_to_array(coalesce(text, ''), '\n'),
        x -> regexp_replace(x, '(^[ \t\x0B\f\r]+)|([ \t\x0B\f\r]+$)',
                            '', 'g')),
      x -> x <> '') AS lines
  FROM documents),
occ AS (SELECT doc_id, i.i AS idx, lines[i.i] AS line
        FROM ln, unnest(generate_series(1, len(lines))) AS i(i)),
freq AS (SELECT line, count(DISTINCT doc_id) AS nd FROM occ GROUP BY line),
j AS (SELECT occ.doc_id, occ.idx, occ.line, f.nd
      FROM occ JOIN freq f USING (line)),
rb AS (
  SELECT doc_id, count(*)::BIGINT AS nl,
    sum(CASE WHEN nd >= 3 THEN 1 ELSE 0 END)::BIGINT AS nr,
    sum(CASE WHEN nd < 3 THEN length(line) ELSE 0 END)::BIGINT AS kc,
    md5(coalesce(string_agg(CASE WHEN nd < 3 THEN line END,
                            chr(10) ORDER BY idx), '')) AS fp
  FROM j GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(rb.nl, 0)::BIGINT AS n_lines,
  coalesce(rb.nr, 0)::BIGINT AS n_lines_removed,
  coalesce(rb.kc, 0)::BIGINT AS kept_chars,
  coalesce(rb.fp, md5('')) AS cleaned_fingerprint
FROM documents d LEFT JOIN rb USING (doc_id)
""")
def q_c4_line_dedup(spark, sf_dir):
    """C4-style cross-corpus duplicate-line removal (scale addition):
    lines in >= 3 distinct docs are boilerplate and deleted; the
    cleaned doc (kept lines, original order) is emitted as an md5
    fingerprint so the rewrite is byte-certified without shipping
    text. Within-doc repeats are NOT removed (distinct-doc frequency)
    (operators/text.py)."""
    d = _t(spark, sf_dir, "documents")
    return text.c4_line_dedup(d, "text", "doc_id", min_docs=3)


@register("corpus_curate", rf"""
WITH cand AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 50 <> 0),
gw AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, {_WS_SQL}), x -> x <> '') AS ws,
    len(regexp_extract_all(text, '#|\.\.\.')) AS n_symbol
  FROM cand),
gs AS (
  SELECT doc_id, n_symbol, len(ws) AS n_words,
    list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS wl_sum,
    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
    len(list_filter({_STOP_SQL},
        s -> list_contains(list_transform(ws, x -> lower(x)), s)))
      AS n_stop_d
  FROM gw),
pass AS (
  SELECT doc_id FROM gs
  WHERE coalesce(n_words BETWEEN 3 AND 100000
    AND (CASE WHEN n_words > 0 THEN wl_sum / n_words::DOUBLE
         ELSE 0.0 END) BETWEEN 3.0 AND 10.0
    AND (CASE WHEN n_words > 0 THEN n_symbol / n_words::DOUBLE
         ELSE 0.0 END) <= 0.1
    AND (CASE WHEN n_words > 0 THEN n_alpha / n_words::DOUBLE
         ELSE 0.0 END) >= 0.8
    AND n_stop_d >= 2, FALSE)),
scrub AS (
  SELECT c.doc_id, c.source,
    regexp_replace(regexp_replace(c.text,
        '{text.URL_PATTERN}', '<PII>', 'g'),
        '{text.EMAIL_PATTERN}', '<PII>', 'g') AS text
  FROM cand c JOIN pass USING (doc_id)),
ded AS (
  SELECT doc_id, source, text FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text),
                                           {_WS_SQL}, ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM scrub) WHERE rn = 1),
ctoks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text),
                                              {_WS_SQL}, ' ', 'g')),
                          ' ') AS t
  FROM ded WHERE text IS NOT NULL),
csh AS (
  SELECT DISTINCT doc_id, gram FROM ({_word3grams_sql("ctoks")})),
btoks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text),
                                              {_WS_SQL}, ' ', 'g')),
                          ' ') AS t
  FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL),
bsh AS (
  SELECT DISTINCT gram FROM ({_word3grams_sql("btoks")})),
ctot AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
chit AS (SELECT s.doc_id, count(*) AS h FROM csh s JOIN bsh USING (gram)
         GROUP BY s.doc_id),
clean AS (
  SELECT d.* FROM ded d
  LEFT JOIN ctot t USING (doc_id) LEFT JOIN chit h USING (doc_id)
  WHERE NOT (coalesce(t.n, 0) > 0
             AND coalesce(h.h, 0) * 100 >= t.n * 80)),
mtok AS (
  SELECT doc_id, source,
    coalesce(len(list_filter(regexp_split_to_array(lower(text),
                                                   {_WS_SQL}),
                             x -> x <> '')), 0)::BIGINT AS nt
  FROM clean),
msrc AS (SELECT source, sum(nt)::BIGINT AS n_tokens
         FROM mtok GROUP BY source),
mr AS (SELECT source,
         CASE WHEN n_tokens > 0 THEN
           (CAST(floor(sqrt(n_tokens::DOUBLE) * 1000000.0::DOUBLE)
                 AS BIGINT) * 1000000) // n_tokens
         ELSE 0 END::BIGINT AS ratio_micro
       FROM msrc),
mk AS (SELECT max(ratio_micro)::BIGINT AS mx FROM mr),
rates AS (SELECT mr.source,
            CASE WHEN mk.mx > 0 THEN (mr.ratio_micro * 1000000) // mk.mx
            ELSE 0 END::BIGINT AS keep_micro
          FROM mr CROSS JOIN mk),
samp AS (
  SELECT m.doc_id, m.source AS shard, m.nt AS n_tokens
  FROM mtok m JOIN rates r USING (source)
  WHERE CAST('0x' || substr(md5(m.doc_id::VARCHAR), 1, 8) AS BIGINT)
      % 1000000 < r.keep_micro),
pc AS (
  SELECT doc_id, shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM samp),
pe AS (
  SELECT doc_id, shard, n_tokens,
    (cum - n_tokens)::BIGINT AS start_off,
    ((cum - n_tokens) // 512)::BIGINT AS chunk_first,
    greatest(((cum - 1) // 512)::BIGINT,
             ((cum - n_tokens) // 512)::BIGINT) AS chunk_last
  FROM pc)
SELECT doc_id, shard, n_tokens, start_off, chunk_first, chunk_last,
  (chunk_last - chunk_first + 1)::BIGINT AS n_chunks
FROM pe
""")
def q_corpus_curate(spark, sf_dir):
    """The END-TO-END curation pipeline (plans/corpus_pipeline.py) as
    one certified query: benchmark holdout -> Gopher filter -> PII
    scrub -> exact dedup -> decontamination -> mixture downsample ->
    token packing, replayed stage-for-stage as one DuckDB CTE chain.
    Every stage is an already-certified operator; this certifies the
    COMPOSITION (stage ordering, column flow, survivor sets)."""
    d = _t(spark, sf_dir, "documents")
    from ecg_feature_engineering_spark.plans import corpus_pipeline
    return corpus_pipeline.curate(d, bench_mod=50, ctx=512)


# =====================================================================
# Driver certification-window ordering
# =====================================================================
# The driver certifies (rows + schema + value-hash vs the DuckDB oracle)
# exactly the FIRST 50 entries of queries() in iteration order; this list
# is that order (registration order above is file-layout order).
QUERY_ORDER: list[str] = [
    "tfidf_top_terms", "bm25_scores", "benchmark_contamination",
    "pack_token_stream", "line_repetition", "top_ngram_stats",
    "pack_efficiency", "source_mixture", "paragraph_dedup",
    "dsir_importance", "domain_mix", "mixture_sample", "corpus_curate",
    "c4_line_dedup", "semdedup", "chunk_overlap_spans",
    "tpch_pricing_summary", "asof_backward", "anchor_window_aggs",
    "hrv_features", "basic_stats", "sliding_segments", "langid",
    "quality_features", "dedup_exact", "minhash_lsh",
    "simhash_near_dups", "cosine_topk", "lsh_topk",
    "image_decode_stats", "image_psnr_roundtrip", "flagship",
    "wavelet_stats", "hash_split", "auc_scores",
    "fft_features", "audio_decode_stats", "video_stats",
    "time_features", "ohlc_time_bars", "winnow_match_pairs",
    "decode_quarantine", "gopher_quality", "pii_scrub",
    "salted_skew_counts", "target_encoding_pit", "sample_entropy",
    "sessionize", "dup_ngram_fraction", "embedding_centroids",
    "fft_band_power", "dup_clusters", "audio_spectral",
    "audio_resample", "audio_transcode_snr", "video_frame_sample",
    "approx_distinct_docs", "doc_quantiles", "jsonl_roundtrip",
    "orc_roundtrip", "winsorize_events", "ewma_events", "rank_features",
    "expanding_zscore", "stratified_sample", "daily_type_rollup_outer",
    "quantile_buckets", "winnow_fingerprints", "variability",
    "session_aggs", "crossing_count", "zigzag", "sample_entropy_qrs",
    "variability_full", "qrs_yuxi", "crossing_widths",
    "anchor_fiducials_kernel", "cdf_density", "rdensity",
    "per_lead_summary", "nan_scrub", "pivot_one_hot", "smooth_labels",
    "seeded_shuffle", "balance_classes", "scale_input",
    "dataset_profile", "minmax_scalar_prepass", "rollup_returns",
    "distinct_thresholds_desc", "tumbling_time_windows",
    "sliding_time_windows", "phash_near_dups", "image_resize",
    "embedding_near_dup", "ivf_topk", "e3_pipeline",
    "long_features_parity", "spectrogram", "shipping_priority",
    "asof_forward", "asof_tolerance", "nation_revenue", "top_customers",
    "rank_orders_per_customer", "semi_join_active_customers",
    "anti_join_dormant_customers", "recode_lang", "lag_diffs",
    "long_stats", "coeff_of_variation", "ffill", "rolling_stats",
    "rolling_median3", "trim_endpoints", "bin_stat", "mad", "autocorr",
    "word_explode", "token_counts", "exact_dup_groups", "ngram_jaccard",
    "simhash_fingerprints", "beta_scores", "deep_features",
    "image_phash_check",
]


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERY_BUILDERS in driver-facing (certification-window) order."""
    missing = set(QUERY_BUILDERS) - set(QUERY_ORDER)
    extra = set(QUERY_ORDER) - set(QUERY_BUILDERS)
    if missing or extra:  # drift guard — also pytest-asserted
        raise RuntimeError(
            f"QUERY_ORDER drift: missing={sorted(missing)} "
            f"extra={sorted(extra)}")
    return {name: QUERY_BUILDERS[name] for name in QUERY_ORDER}


def ordered_oracles() -> dict[str, str]:
    """ORACLES in the same driver-facing order."""
    return {name: ORACLES[name] for name in QUERY_ORDER if name in ORACLES}
