"""Input generation for the benchmark.

Two input sets, both written under the benchmark's work directory:

- ``base``: the ten fixture tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at sf0.1 row counts, in
  the schema FIXTURES.md documents, one parquet file with ONE row group
  per table (the layout that triggers ``io._scan_path``'s re-layout).
  Fixed generator seed: the tables are the same for every benchmark
  seed, so they are generated once per checkout and verified after.
- the tile cache: an exploded ArcGIS cache ``L../R../C...jpg`` whose
  paths come from the package's own codec (``tiles.grid.tile_grid`` +
  ``src_path_col``); the benchmark seed picks the missing tiles, the
  tile sizes and the fault schedule.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Generator seed of the base tables (the fixture convention, FIXTURES.md).
BASE_SEED = 42
BASE_VERSION = "v1"

_WORDS = (
    "a the data spark stream batch window join agg group key value row "
    "column table filter scan sort hash merge query order part line "
    "customer vector fast slow big small"
).split()
_ADJ = "large small hot cold blue red green heavy light old new bright "\
    "dark".split()
_NOUN = "bolt ring widget anvil gear spring valve".split()


def _ts(days_from_epoch: np.ndarray) -> np.ndarray:
    return (days_from_epoch.astype("int64") * 86_400_000_000).astype(
        "datetime64[us]"
    )


def _day(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(int))


def base_tables(seed: int = BASE_SEED) -> dict:
    """The ten fixture tables as pyarrow Tables (sf0.1 row counts)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 15_000, 1_000, 20_000
    n_ord, n_li, n_ev, n_doc, n_emb = 150_000, 600_000, 100_000, 5_000, 2_000
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    segs = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
    types = np.array(
        ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    d0, d1 = _day(1995, 1, 1), _day(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts(rng.integers(d0, d1 + 1, n_ord))),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    s0, s1 = _day(1995, 1, 2), _day(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype="int32")),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts(rng.integers(s0, s1 + 1, n_li))),
    })
    # irregular event gaps over 30 days, µs resolution
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(gaps).astype("int64"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev, dtype="int64")),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: word soup from a small vocabulary; every 5th document is
    # a near copy of an earlier one (a few words replaced), so the
    # MinHash / fingerprint dedup operators have near-duplicates to find
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and i % 5 == 0:
            src = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(src), 2):
                src[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[
            rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(s) for s in texts], "int64")),
    })
    labels = rng.integers(0, 10, n_emb).astype("int32")
    centers = rng.normal(0.0, 0.1, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(
        "float32"
    )
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return t


def _digest(root: str, names) -> str:
    h = hashlib.sha256()
    for name in names:
        with open(os.path.join(root, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _marker_ok(out: str, recipe: str) -> bool:
    """True iff ``out`` holds a complete set built by ``recipe`` whose
    file contents still hash to the recorded digest."""
    try:
        with open(os.path.join(out, "_DONE")) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return False
    return rec.get("recipe") == recipe and rec.get("digest") == _digest(
        out, TABLES
    )


def _publish(tmp: str, out: str, recipe: str) -> None:
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump({"recipe": recipe, "digest": _digest(tmp, TABLES)}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure_base(out: str) -> str:
    """Generate the base set into ``out`` unless an intact copy is there.
    Returns "verified" or "generated"."""
    import pyarrow.parquet as pq

    recipe = f"base-{BASE_VERSION}-{BASE_SEED}"
    if _marker_ok(out, recipe):
        return "verified"
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in base_tables().items():
        pq.write_table(
            table, os.path.join(tmp, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows), compression="snappy",
        )
    _publish(tmp, out, recipe)
    return "generated"


# --- tile cache -------------------------------------------------------

TILE_LEVELS = (5, 7)
TILE_MISSING = 0.20
TILE_MEDIAN_BYTES = 10_000


def tile_inventory(spark, levels=TILE_LEVELS) -> list[tuple]:
    """(level, row, col, src_path) of every candidate cell, with the
    path rendered by the package's codec — never re-implemented here."""
    from tile_etl_spark.tiles.grid import src_path_col, tile_grid

    rows = (
        tile_grid(spark, levels=levels)
        .select("level", "row", "col", src_path_col().alias("src_path"))
        .collect()
    )
    return sorted((r[0], r[1], r[2], r[3]) for r in rows)


def ensure_inventory(spark, out: str, levels=TILE_LEVELS) -> list[tuple]:
    """The tile inventory, rendered once per grid-codec version: the
    cached copy is keyed on the source of ``tiles/grid.py``, so a codec
    change in the package re-renders it through Spark."""
    import tile_etl_spark.tiles.grid as grid

    with open(grid.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(levels).encode()).hexdigest()
    path = os.path.join(out, f"tiles-{key[:16]}.json")
    try:
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    except (OSError, ValueError):
        pass
    inv = tile_inventory(spark, levels)
    os.makedirs(out, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(inv, f)
    os.replace(path + ".tmp", path)
    return inv


def tile_plan(inventory: list[tuple], seed: int) -> dict:
    """Seeded cache contents and fault schedule.

    Returns ``{"present": [(src_path, key, n_bytes)], "faults": {key:
    [status, ...]}, "permanent": set(keys)}``. Keys use the reference's
    decimal object-key codec ``Lite/{level}/{row}/{col}``. About 3 % of
    present tiles get one or two transient 503/429 faults, 0.3 % a
    permanent 403 (the expected dead letters)."""
    rng = np.random.default_rng(seed)
    n = len(inventory)
    keep = rng.random(n) >= TILE_MISSING
    sizes = np.clip(
        rng.lognormal(np.log(TILE_MEDIAN_BYTES), 0.5, n), 200, 200_000
    ).astype(int)
    fault_draw = rng.random(n)
    kind = rng.integers(0, 2, n)
    present, faults, permanent = [], {}, set()
    for i, (lvl, row, col, path) in enumerate(inventory):
        if not keep[i]:
            continue
        key = f"Lite/{lvl}/{row}/{col}"
        present.append((path, key, int(sizes[i])))
        if fault_draw[i] < 0.003:
            faults[key] = [403]
            permanent.add(key)
        elif fault_draw[i] < 0.033:
            faults[key] = [503, 429][: 1 + int(kind[i])]
    return {"present": present, "faults": faults, "permanent": permanent}


def tile_bytes(src_path: str, n_bytes: int) -> bytes:
    """Deterministic tile body: the path's sha256 repeated to size."""
    d = hashlib.sha256(src_path.encode()).digest()
    return (d * (n_bytes // len(d) + 1))[:n_bytes]


def write_tile_cache(root: str, plan: dict) -> int:
    """Write the present tiles under ``root``; returns bytes written."""
    shutil.rmtree(root, ignore_errors=True)
    total = 0
    made = set()
    for path, _key, n_bytes in plan["present"]:
        full = os.path.join(root, path)
        d = os.path.dirname(full)
        if d not in made:
            os.makedirs(d, exist_ok=True)
            made.add(d)
        with open(full, "wb") as f:
            f.write(tile_bytes(path, n_bytes))
        total += n_bytes
    return total
