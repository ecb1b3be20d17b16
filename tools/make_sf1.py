"""Build scaled datasets (sf1 = 10× sf0.1, sf10 = 100×) for the
Spark-vs-DuckDB crossover run (PERF.md).

Naive row duplication is WRONG for join benchmarks: duplicated join keys
cross-match, so a 10× copy makes join outputs grow 100×. Instead this
scales TPC-H-style: dimension tables (region, nation) stay single-copy;
every other table gets per-copy key offsets so copy i joins only with
copy i — output cardinalities scale linearly, like real data growth.
Each copy is written as its own parquet file (honest input splits for
both engines; DuckDB reads the directory glob).

Output under the repo in ``.bench/sf{N}`` (gitignored; /root/testdata is
read-only for this builder).

Usage: python tools/make_sf1.py [copies] [dst]   (default 10 → .bench/sf1)
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-copy key offsets: copy i adds i*offset to the column, keeping each
# copy's foreign keys pointing at its own copy's rows
OFFSETS: dict[str, dict[str, int]] = {
    "customer": {"c_custkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 100_000_000,
        "l_partkey": 10_000_000,
        "l_suppkey": 1_000_000,
    },
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "events": {"user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
DIMS = {"region", "nation"}  # fixed-size, single copy (TPC-H convention)


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    dst = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, ".bench", f"sf{copies // 10}")
    )
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    total = 0
    for f in sorted(os.listdir(SRC)):
        if not f.endswith(".parquet"):
            continue
        table = f[: -len(".parquet")]
        src_file = os.path.join(SRC, f)
        if table in DIMS:
            out = os.path.join(dst, f)
            if not os.path.exists(out):
                shutil.copy(src_file, out)
            total += os.path.getsize(out)
            continue
        d = os.path.join(dst, f)
        os.makedirs(d, exist_ok=True)
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src_file}')"
            ).fetchall()
        ]
        offs = OFFSETS.get(table, {})
        for i in range(copies):
            out = os.path.join(d, f"part-{i:03d}.parquet")
            if os.path.exists(out):
                total += os.path.getsize(out)
                continue
            # always rewrite through DuckDB — a raw copy of part-000 would
            # keep ns-timestamp columns while rewritten parts get µs,
            # leaving one directory with two incompatible schemas
            select = ", ".join(
                f'"{c}" + {i * offs[c]} AS "{c}"' if c in offs else f'"{c}"'
                for c in cols
            )
            con.execute(
                f"COPY (SELECT {select} FROM read_parquet('{src_file}')) "
                f"TO '{out}' (FORMAT parquet)"
            )
            total += os.path.getsize(out)
    print(f"{dst}: {total / 1e9:.2f} GB, {copies} copies")


if __name__ == "__main__":
    main()
