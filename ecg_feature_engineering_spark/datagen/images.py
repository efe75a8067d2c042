"""Deterministic synthetic image+caption table generator.

Produces the exact input_hint shape from BASELINE.json:
  ``image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
    caption:string, phash:int64``
plus two companion tables used by the flagship as-of pipeline (FIXTURES.md §2):
  ``catalog(image_id, entity_id, ts)``   — image arrival events per entity
  ``snapshots(entity_id, as_of_ts)``     — the as-of left side

Generation is **per-row deterministic from (seed, i)** — independent of
partitioning/parallelism — and is executed distributed via
``spark.range(n).mapInPandas`` so a 10^12-row table never materializes on the
driver. Reference analog: one generated row ≈ one WFDB record
(extract_HRV.py:29-30); ``bytes`` plays the 12xT signal matrix's role.

Skew knobs (FIXTURES.md): ~10% of rows land on one hot entity; ~5% share a hot
phash prefix — exercised by the salting/AQE paths.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import numpy as np
import pandas as pd

from ecg_feature_engineering_spark.datagen import codecs

_FMTS = ("png", "jpeg", "bmp")
_VOCAB = (
    "spark window join merge asof image caption pixel hash feature entity "
    "snapshot stream batch filter scan shuffle partition skew salt lag lead "
    "session backfill rolling stat median percentile"
).split()
_EPOCH = dt.datetime(2024, 1, 1)
HOT_ENTITY_FRAC = 0.10  # of rows -> entity "ent00000000"
HOT_PHASH_FRAC = 0.05  # of rows share one hot phash prefix (skew for salting)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
CATALOG_SCHEMA = "image_id string, entity_id string, ts timestamp"
SNAPSHOTS_SCHEMA = "entity_id string, as_of_ts timestamp"


def _rng(seed: int, i: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, i]))


def entity_for(i: int, n_entities: int) -> str:
    """Deterministic image->entity assignment with a hot entity (skew)."""
    if (i * 2654435761 % 1000) < HOT_ENTITY_FRAC * 1000:
        return "ent00000000"
    return f"ent{(i * 1103515245 + 12345) % max(n_entities - 1, 1) + 1:08d}"


def gen_image_row(seed: int, i: int, n_entities: int) -> dict:
    rng = _rng(seed, i)
    side = int(rng.integers(8, 32 + 1))  # square side, 8..32 px
    px = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
    fmt = _FMTS[i % len(_FMTS)]
    data = codecs.encode(px, fmt)
    decoded = codecs.decode(data, fmt)
    ph = codecs.phash64(decoded)
    if (i * 2246822519 % 1000) < HOT_PHASH_FRAC * 1000:
        # force the hot 16-bit prefix, keep low bits (prefix-bucket skew)
        ph = (ph & ((1 << 48) - 1)) | (0x7FEE << 48)
        if ph >= 1 << 63:  # keep int64 two's complement domain
            ph -= 1 << 64
    n_words = int(rng.integers(0, 31))
    words = [str(_VOCAB[int(w)]) for w in rng.integers(0, len(_VOCAB), n_words)]
    if n_words > 4 and i % 7 == 0:  # multi-comma captions exercise split/explode
        words[2] = words[2] + ","
    caption = " ".join(words)
    # modulo keeps ts inside the datetime range at any i (37s * 1e12
    # rows would overflow year 9999); identical values for i < 8.1e7,
    # so existing corpora/goldens are unchanged
    ts = _EPOCH + dt.timedelta(
        seconds=(int(i) * 37 + int(rng.integers(0, 29)))
        % 3_000_000_000)
    return {
        "image_id": f"img{i:08d}",
        "bytes": data,
        "w": side,
        "h": side,
        "fmt": fmt,
        "caption": caption,
        "phash": ph,
        "entity_id": entity_for(i, n_entities),
        "ts": ts,
    }


def gen_images_pdf(seed: int, lo: int, hi: int, n_entities: int
                   ) -> pd.DataFrame:
    rows = [gen_image_row(seed, i, n_entities) for i in range(lo, hi)]
    pdf = pd.DataFrame(
        rows,
        columns=[
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "entity_id", "ts",
        ],
    )
    pdf["w"] = pdf["w"].astype("int32")
    pdf["h"] = pdf["h"].astype("int32")
    pdf["phash"] = pdf["phash"].astype("int64")
    return pdf


def images_df(spark, n: int = 1000, seed: int = 42,
              n_entities: int | None = None):
    """Distributed images table (input_hint shape + catalog columns).

    ``select(*INPUT_HINT_COLS)`` for the pure input_hint view; the extra
    (entity_id, ts) columns are the catalog companion, kept in one scan so the
    flagship plan reads the payload exactly once.
    """
    n_entities = n_entities or max(n // 20, 2)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            if len(ids):
                yield gen_images_pdf(seed, int(ids.min()), int(ids.max()) + 1,
                                     n_entities)

    parts = max(1, min(n // 250 or 1, 512))
    return (
        spark.range(0, n, 1, parts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA + ", entity_id string, ts timestamp")
    )


INPUT_HINT_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def snapshots_df(spark, n_entities: int = 50, per_entity: int = 20, seed: int = 42):
    """As-of left side: irregular per-entity timestamp grid, including
    timestamps before the first image (as-of miss -> null/backfill case) and
    duplicate timestamps (tie-break check)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for e in b["id"].to_numpy():
                rng = _rng(seed + 1, int(e))
                name = "ent00000000" if e == 0 else f"ent{int(e):08d}"
                offs = np.sort(rng.integers(-3600, 86400 * 2, per_entity))
                if per_entity > 3:
                    offs[1] = offs[2]  # deliberate duplicate as_of_ts
                for o in offs:
                    out.append(
                        {"entity_id": name,
                         "as_of_ts": _EPOCH + dt.timedelta(seconds=int(o))}
                    )
            yield pd.DataFrame(out, columns=["entity_id", "as_of_ts"])

    parts = max(1, min(n_entities // 10 or 1, 64))
    return spark.range(0, n_entities, 1, parts).mapInPandas(
        gen, schema=SNAPSHOTS_SCHEMA
    )
