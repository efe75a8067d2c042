"""As-of (point-in-time) join — the engine's centerpiece operator.

Reference analog: resampling every record onto a common clock + positional
alignment of per-record feature rows (resample.py:22-28, xgboost_clf.py:12-15)
— SURVEY.md §2.3 J5. Spark has no SQL as-of join builtin, so this module
ships one union + window implementation, ``asof_join_many``; ``asof_join``
is its one-right call.

Shape: union the tagged left (probe) rows with every right (state) table's
rows, sort within an entity-partitioned window by (ts, side), and fill each
right table's payload with ``last(ignorenulls)`` over an unbounded-preceding
frame (backward) or ``first(ignorenulls)`` over an unbounded-following frame
(forward). One shuffle and one sort on the ``by`` key however many right
tables there are; whole-stage codegen end-to-end; no Python.

Zero temporal leakage (north rule): backward matches satisfy
``right.ts <= left.ts`` strictly by construction of the sort order — a right
row with ts > as_of can never precede the probe row in the frame. The leakage
test perturbs future rows and asserts bit-identical output (tests/test_asof.py).

Scale notes (100 TB): hot entities (FIXTURES.md: ~10% of rows on one entity)
are ordered scans within a partition — O(n) per entity, no quadratic blowup —
but AQE cannot split a window partition, so a single pathological entity
serializes into one task. A time-bucketed two-pass fill would spread it over
tasks at the cost of a second small shuffle; none ships, because no measured
workload has shown that straggler.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecg_feature_engineering_spark.operators.sqltext import (
    ident, lit, sql_type)

_SIDE = "__asof_is_left"
_SRC = "__src"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] = "entity_id",
    right_on: str | None = None,
    direction: str = "backward",
    tolerance: Column | None = None,
    suffix: str = "_r",
    keep_match_ts: str | None = None,
) -> DataFrame:
    """For every left row, attach the right row that is latest with
    ``right.ts <= left.ts`` (backward) or earliest with ``right.ts >= left.ts``
    (forward) within the same ``by`` group; unmatched -> nulls.

    ``tolerance``: optional Column interval (e.g. ``F.expr("INTERVAL 1 HOUR")``)
    — matches farther than it are nulled.
    ``keep_match_ts``: if set, expose the matched right timestamp under this
    output column name (lineage/debug).

    Tie contract: if the right side has MULTIPLE rows at the same
    (by, ts), which one wins is unspecified (found by fuzzing,
    tests/test_asof_fuzz.py). pandas resolves such ties by physical row
    position, which has no distributed equivalent. Deduplicate the right
    side on (by, ts) first (e.g. ``max_by`` per key) when duplicate
    event timestamps are possible; the result is then deterministic and
    equals ``pd.merge_asof``.
    """
    return asof_join_many(
        left,
        [{"df": right, "on": right_on or on, "suffix": suffix,
          "match_ts": keep_match_ts}],
        on=on, by=by, direction=direction, tolerance=tolerance)


def asof_join_many(
    left: DataFrame,
    rights: list[dict],
    on: str = "ts",
    by: str | list[str] = "entity_id",
    direction: str = "backward",
    tolerance: Column | None = None,
) -> DataFrame:
    """As-of join of SEVERAL right tables to one probe table in a single
    union + window pass — one shuffle and one sort total, however many
    right sides there are (vs one shuffle+sort per separate join).
    ``direction`` and ``tolerance`` mean what they mean in ``asof_join``
    and apply to every right table; tolerance is checked against each
    table's own matched ts.

    ``rights``: each ``{"df": DataFrame, "on": ts_col (default ``on``),
    "suffix": str, "match_ts": output name for the matched right ts or
    None}``. A right column whose name is taken (by a left column, an
    earlier right column or a ``match_ts`` name) gets the suffix, repeated
    until the name is free. Each right table's payload and matched ts are
    packed into ONE struct and the struct is filled — per-source exact
    matches, and a NULL inside the matched row stays NULL (a
    column-by-column fill would backfill it from an older row). A NULL-ts
    right row never matches; a NULL-ts probe gets all-null fills.

    This is the flagship-plan shape (plans/flagship.py): image features and
    event features both as-of joined to the snapshot grid — at 10^12 rows
    the saved exchange+sort is a full extra pass over the biggest table in
    the plan. Leak-free: backward right rows sort before probe rows at
    equal ts and frames end at currentRow.
    """
    by = [by] if isinstance(by, str) else list(by)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction}")
    left_cols = left.columns
    ts_type = left.schema[on].dataType
    match_names = [s["match_ts"] for s in rights if s.get("match_ts")]
    used = set(left_cols) | set(match_names)
    if len(used) < len(left_cols) + len(match_names):
        raise ValueError(f"match_ts names {match_names} must be distinct "
                         f"and not left columns {left_cols}")
    # (out_col, owning_source_idx, right_col_or_None_for_match_ts, dtype);
    # every source carries its matched ts (the tolerance gate needs it),
    # under a hidden name when match_ts was not asked for
    fill = []
    rts, hidden = [], set()
    for i, spec in enumerate(rights):
        rdf, r_on = spec["df"], spec.get("on", on)
        if r_on not in rdf.columns:
            raise ValueError(
                f"rights[{i}]: ts column {r_on!r} not in right columns "
                f"{rdf.columns}; pass 'on' in the spec")
        sfx = spec.get("suffix", f"_r{i}")
        for c in rdf.columns:
            if c in by or c == r_on:
                continue
            oc = c
            while oc in used:
                oc += sfx
            used.add(oc)
            fill.append((oc, i, c, rdf.schema[c].dataType))
        rts.append(spec.get("match_ts") or f"__asof_rts{i}")
        if not spec.get("match_ts"):
            hidden.add(rts[i])
        fill.append((rts[i], i, None, ts_type))

    # each step is one selectExpr of SQL text: a Column built through the
    # API costs py4j round trips (three for an F.col, one per alias), and
    # with a few hundred of them building the plan was mostly waiting on
    # the gateway. The text parses to the expressions the Column API built.
    def null(dt) -> str:
        return f"CAST(NULL AS {sql_type(dt)})"

    u = left.selectExpr(
        *map(ident, left_cols), f"1 AS {_SIDE}", f"-1 AS {_SRC}",
        *[f"{null(dt)} AS {ident(oc)}" for oc, _, _, dt in fill])
    for i, spec in enumerate(rights):
        r_ts = f"CAST({ident(spec.get('on', on))} AS {sql_type(ts_type)})"
        sel = [ident(c) if c in by
               else f"{r_ts} AS {ident(c)}" if c == on
               else f"{null(left.schema[c].dataType)} AS {ident(c)}"
               for c in left_cols]
        sel += [f"0 AS {_SIDE}", f"{i} AS {_SRC}"]
        for oc, si, rc, dt in fill:
            val = null(dt) if si != i else r_ts if rc is None else ident(rc)
            sel.append(f"{val} AS {ident(oc)}")
        u = u.unionByName(spec["df"].selectExpr(*sel))

    def pack(i: int) -> str:
        fields = ", ".join(ident(oc) for oc, si, _, _ in fill if si == i)
        return (f"CASE WHEN {_SRC} = {i} AND {ident(on)} IS NOT NULL "
                f"THEN struct({fields}) END AS __pack{i}")

    u = u.selectExpr("*", *map(pack, range(len(rights))))

    if direction == "backward":
        # right rows sort BEFORE probe rows at equal ts -> inclusive <=
        pick, side = "last", "ASC"
        frame = "UNBOUNDED PRECEDING AND CURRENT ROW"
    else:
        # probe rows sort BEFORE right rows at equal ts -> inclusive >=
        pick, side = "first", "DESC"
        frame = "CURRENT ROW AND UNBOUNDED FOLLOWING"
    w = (f"PARTITION BY {', '.join(map(ident, by))} "
         f"ORDER BY {ident(on)} ASC, {_SIDE} {side} ROWS BETWEEN {frame}")
    filled = u.selectExpr(
        *map(ident, left_cols), _SIDE,
        *[f"{pick}(__pack{i}, true) OVER ({w}) AS __pf{i}"
          for i in range(len(rights))])

    # each source's gate: a probe with a ts, and with ``tolerance`` a
    # matched ts close enough to it
    gates = [f"{ident(on)} IS NOT NULL"] * len(rights)
    if tolerance is not None:
        oks = {}
        for i in range(len(rights)):
            m = F.col(f"__pf{i}").getField(rts[i])
            gap = F.col(on) - m if direction == "backward" else m - F.col(on)
            oks[f"__ok{i}"] = F.col(on).isNotNull() & (gap <= tolerance)
        filled = filled.withColumns(oks)
        gates = list(oks)
    return (
        filled.where(f"{_SIDE} = 1")
        .selectExpr(*map(ident, left_cols),
                    *[f"CASE WHEN {gates[si]} THEN __pf{si}[{lit(oc)}] END "
                      f"AS {ident(oc)}"
                      for oc, si, _, _ in fill if oc not in hidden])
    )

