"""Fixture data for the benchmark, built once per checkout and reused.

Two datasets live under ``perfbench/.data``:

- ``base``: the ten workload tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``) at the sf0.01 shape —
  60,000 ``lineitem`` rows — generated here with NumPy from a fixed seed.
  The benchmark's ``--seed`` never changes the data, only the calls.
- ``x10``: ``base`` scaled ten-fold by ``tools/make_sf1.py`` (one parquet
  file per copy, per-copy key offsets), i.e. 600,000 ``lineitem`` rows in
  10 files.

A manifest records every file's SHA-256 and every table's row count, plus
the search-term table the ``session`` workload draws from. A checkout
whose files still match the manifest reuses them; anything else is
rebuilt from scratch. Building takes well under a minute and is never
part of a timed span or of ``setup_s``. DuckDB's answers to the oracle
SQL are cached beside the data, keyed by the SQL text and the data's
digest, so a check costs a lookup after the first run.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import pickle
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
BASE = os.path.join(DATA, "base")
X10 = os.path.join(DATA, "x10")
MANIFEST = os.path.join(DATA, "manifest.json")
ORACLES = os.path.join(DATA, "oracles.pkl")

GEN_SEED = 20240101  # fixed: the data never depends on --seed
VERSION = 3  # bump when the generator changes

# base row counts (the sf0.01 shape)
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

# search-term bands for the session workload, as match counts over the
# 600k-row x10 lineitem: each session searches once in each band, so every
# session filters comparable row counts whatever the seed picks
TERM_BANDS = {"narrow": (200, 2_000), "wide": (100_000, 125_000)}
TERMS_PER_BAND = 16


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _strings(prefix, ids, width=9):
    return pa.array([f"{prefix}{i:0{width}d}" for i in ids])


def generate(dst: str) -> None:
    """Write the ten base tables into ``dst`` (deterministic)."""
    rng = np.random.default_rng(GEN_SEED)
    n = ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ids = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": ids,
        "c_name": _strings("Customer#", ids),
        "c_nationkey": rng.integers(0, 25, len(ids)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ids)), 2),
        "c_mktsegment": rng.choice(SEGMENTS, len(ids)),
    })
    ids = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": ids,
        "s_name": _strings("Supplier#", ids),
        "s_nationkey": rng.integers(0, 25, len(ids)).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ids)), 2),
    })
    ids = np.arange(n["part"])
    tables["part"] = pa.table({
        "p_partkey": ids,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, len(ids)), rng.integers(0, 8, len(ids)))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(ids))],
        "p_type": rng.choice(PART_TYPES, len(ids)),
        "p_size": rng.integers(1, 51, len(ids)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (ids % 1000) * 0.1, 2),
    })
    ids = np.arange(n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": ids,
        "o_custkey": rng.integers(0, n["customer"], len(ids)),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ids)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, len(ids)), 2),
        "o_orderdate": _days(rng, len(ids), "1995-01-01", 2405),
        "o_orderpriority": rng.choice(PRIORITIES, len(ids)),
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", 2499),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    tables["events"] = pa.table({
        "event_id": np.arange(e),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, e // 66), e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(9, 101, d)
    ]
    tables["documents"] = pa.table({
        "doc_id": np.arange(d),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    vecs = rng.standard_normal((v, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(v),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(np.int32),
    })
    os.makedirs(dst, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))


def scale_x10(src: str, dst: str) -> None:
    """Scale ``src`` ten-fold into ``dst`` with the repo's own scaler."""
    sys.path.insert(0, ROOT)
    from tools import make_sf1

    make_sf1.SRC = src
    argv = sys.argv
    sys.argv = ["make_sf1.py", "10", dst]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            make_sf1.main()
    finally:
        sys.argv = argv


def parquet_glob(path: str) -> str:
    """DuckDB source for a table path (file, or make_sf1's directory)."""
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def search_cast_sql(columns: list[str]) -> str:
    """One DuckDB string holding every column's text, unit-separated, so
    ``contains(<this>, term)`` matches a row exactly when the engine's
    search matches one of its columns: for these types DuckDB's
    ``CAST(… AS VARCHAR)`` prints what Spark's cast to string prints."""
    return " || '\x1f' || ".join(f"CAST({c} AS VARCHAR)" for c in columns)


LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
]


def _search_terms(con: duckdb.DuckDBPyConnection, lineitem: str) -> dict[str, list]:
    """Real cell substrings of the x10 lineitem with their match counts,
    grouped by TERM_BANDS. Deterministic (fixed seed, fixed data)."""
    rng = np.random.default_rng(GEN_SEED + 1)
    src = parquet_glob(lineitem)
    blob = search_cast_sql(LINEITEM_COLUMNS)
    con.execute(f"CREATE OR REPLACE TEMP TABLE li AS SELECT {blob} AS blob FROM '{src}'")
    cells = con.execute(
        f"SELECT {', '.join(f'CAST({c} AS VARCHAR)' for c in LINEITEM_COLUMNS)} "
        f"FROM '{src}' USING SAMPLE 400 ROWS (reservoir, {GEN_SEED})"
    ).fetchall()
    bands: dict[str, list] = {b: [] for b in TERM_BANDS}
    seen = set()
    for row in cells:
        cell = row[int(rng.integers(0, len(row)))]
        if len(cell) < 3:
            continue
        size = int(rng.integers(3, min(7, len(cell)) + 1))
        at = int(rng.integers(0, len(cell) - size + 1))
        term = cell[at:at + size]
        if term in seen or "\x1f" in term:
            continue
        seen.add(term)
        hits = con.execute(
            "SELECT count(*) FROM li WHERE contains(blob, ?)", [term]
        ).fetchone()[0]
        for band, (lo, hi) in TERM_BANDS.items():
            if lo <= hits <= hi and len(bands[band]) < TERMS_PER_BAND:
                bands[band].append([term, hits])
        if all(len(v) >= TERMS_PER_BAND for v in bands.values()):
            break
    return bands


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, DATA)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _row_counts(con: duckdb.DuckDBPyConnection, root: str) -> dict[str, int]:
    return {
        t: con.execute(
            f"SELECT count(*) FROM '{parquet_glob(os.path.join(root, t + '.parquet'))}'"
        ).fetchone()[0]
        for t in sorted(ROWS)
    }


def _valid(manifest: dict) -> bool:
    if manifest.get("version") != VERSION:
        return False
    if _digest(DATA) != manifest.get("sha256"):
        return False
    con = duckdb.connect()
    try:
        return (
            _row_counts(con, BASE) == manifest.get("rows_base")
            and _row_counts(con, X10) == manifest.get("rows_x10")
        )
    finally:
        con.close()


def ensure() -> dict:
    """Return the manifest, building the fixture first unless the files
    on disk still match it."""
    try:
        with open(MANIFEST) as fh:
            manifest = json.load(fh)
        if _valid(manifest):
            return manifest
    except (OSError, ValueError):
        pass
    shutil.rmtree(DATA, ignore_errors=True)
    generate(BASE)
    scale_x10(BASE, X10)
    con = duckdb.connect()
    try:
        manifest = {
            "version": VERSION,
            "gen_seed": GEN_SEED,
            "rows_base": _row_counts(con, BASE),
            "rows_x10": _row_counts(con, X10),
            "terms": _search_terms(con, os.path.join(X10, "lineitem.parquet")),
        }
    finally:
        con.close()
    manifest["sha256"] = _digest(DATA)
    tmp = MANIFEST + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, MANIFEST)
    return manifest


_oracle_cache: dict | None = None


def oracle(key: str, sql: str):
    """DuckDB's result (a pandas DataFrame) for ``sql`` over ``base``."""
    global _oracle_cache
    with open(MANIFEST) as fh:
        data_digest = hashlib.sha256(fh.read().encode()).hexdigest()
    stamp = hashlib.sha256(f"{data_digest}\n{sql}".encode()).hexdigest()
    if _oracle_cache is None:
        try:
            with open(ORACLES, "rb") as fh:
                _oracle_cache = pickle.load(fh)  # written only by this function
        except (OSError, pickle.UnpicklingError, EOFError):
            _oracle_cache = {}
    hit = _oracle_cache.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    sys.path.insert(0, ROOT)
    from tools import oracle_check

    con = oracle_check.duck_connection(BASE)
    try:
        result = con.sql(sql).df()
    finally:
        con.close()
    _oracle_cache[key] = (stamp, result)
    tmp = ORACLES + ".tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(_oracle_cache, fh)
    os.replace(tmp, ORACLES)
    return result
