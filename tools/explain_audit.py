"""Regenerate PLANS.md: formatted physical plans for representative
queries, with the scale-relevant properties called out.

Usage: python tools/explain_audit.py > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.session import get_spark
from vscode_parquet_visualizer_spark.sources import registry

SF = "/root/testdata/sf0.1"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def digest(plan: str) -> dict:
    # operator COUNTS come from the tree section only — formatted mode
    # prints every operator twice (tree + per-operator detail), which
    # doubled every count in earlier revisions of this file
    tree = plan.split("\n\n", 1)[0]
    return {
        "pushed_filters": re.findall(r"PushedFilters: \[[^\]]*\]", plan)[:1],
        "read_schema": re.findall(r"ReadSchema: [^\n]*", plan)[:2],
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", tree)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", tree)),
        "shuffles": len(re.findall(r"\bExchange\b", tree)),
        "nested_loop": len(re.findall(r"NestedLoop", tree)),
        "window_group_limit": len(re.findall(r"WindowGroupLimit", tree)),
        "map_in_pandas": len(re.findall(r"MapInPandas", tree)),
        "python_eval": len(re.findall(r"EvalPython|PythonRDD", tree)),
    }


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    li = registry.read(spark, f"{SF}/lineitem.parquet", "parquet")
    o = registry.read(spark, f"{SF}/orders.parquet", "parquet")
    c = registry.read(spark, f"{SF}/customer.parquet", "parquet")
    n = registry.read(spark, f"{SF}/nation.parquet", "parquet")

    cases = {}

    cases["q06 scan+filter+agg (pushdown/pruning)"] = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))

    cases["q02-shape star join (dim broadcast)"] = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )

    cases["pagination (limit pushdown)"] = li.offset(1000).limit(20)

    from vscode_parquet_visualizer_spark.operators.range_join import range_join

    iv = o.limit(100).select(
        "o_orderkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("lo"),
        (F.unix_millis(F.col("o_orderdate").cast("timestamp")) + 86400000).alias("hi"),
    )
    pt = li.select(F.unix_millis(F.col("l_shipdate").cast("timestamp")).alias("t"))
    cases["range_join (bucketed equi, no nested loop)"] = range_join(
        pt, iv, "t", "lo", "hi", bucket_width=86400000
    )

    from vscode_parquet_visualizer_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = registry.read(spark, f"{SF}/embeddings.parquet", "parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # two-phase top-k: the exchange must carry only k-bounded survivors
    # (WindowGroupLimit before the shuffle), never the full
    # |queries|x|corpus| scored set. Both scorer routes audited: the
    # sf0.1 corpus (~0.5 MiB) auto-routes to the single-stage HOF cross
    # join (its BNLJ broadcasts the 3-row query side — bounded by
    # construction); a zero unroll threshold shows the >=32 MiB route,
    # where the codegen'd literal-dot projection removes the BNLJ and
    # the take()-fed stack scans the corpus once.
    cases["similarity top-k, small-corpus route (HOF, 3-row BNLJ build side)"] = (
        brute_force_topk(emb, queries, k=10)
    )
    from vscode_parquet_visualizer_spark.operators import similarity as _sim

    _prev_min = _sim._TOPK_UNROLL_MIN_BYTES
    _sim._TOPK_UNROLL_MIN_BYTES = 0
    try:
        cases["similarity top-k, large-corpus route (unrolled codegen, no BNLJ)"] = (
            brute_force_topk(emb, queries, k=10)
        )
    finally:
        _sim._TOPK_UNROLL_MIN_BYTES = _prev_min

    from vscode_parquet_visualizer_spark.operators.positional import (
        positional_join,
    )

    # JVM-side position key: no Python eval node, no extra exchange —
    # the per-partition offset rides in a create_map literal
    reg = registry.read(spark, f"{SF}/region.parquet", "parquet")
    cases["positional_join (JVM-side position, no Python)"] = positional_join(
        n, reg
    )

    from vscode_parquet_visualizer_spark.operators.packing import (
        pack_sequences,
    )
    from vscode_parquet_visualizer_spark.operators.split import hash_split

    docs = registry.read(spark, f"{SF}/documents.parquet", "parquet")
    # narrow projection: zero exchanges, zero Python
    cases["hash_split (narrow, no shuffle, no Python)"] = hash_split(
        docs, "doc_id", {"train": 0.9, "test": 0.1}
    )
    # exactly one exchange (the group-key shuffle for the window sort)
    cases["sequence packing (one shuffle, windowed prefix sum)"] = (
        pack_sequences(docs, "n_chars", 50000, "doc_id", ["lang"])
    )

    from vscode_parquet_visualizer_spark.operators import curation as cu

    # narrow projections: zero exchanges, zero Python
    cases["repetition metrics + PII redaction (narrow, no shuffle)"] = (
        cu.with_repetition_metrics(docs.select("doc_id", "text")).select(
            "*", cu.redact_pii(F.col("text")).alias("red")
        )
    )
    cases["document chunking + weighted mix (narrow explodes)"] = (
        cu.weighted_mix(
            cu.chunk_documents(docs).withColumn("source", F.lit("s")),
            "doc_id", "source", {"s": 1.5},
        )
    )
    # eval shingles broadcast: the train side must not shuffle for the
    # membership join — one exchange total (the per-doc count groupBy)
    cases["decontamination (broadcast eval, one count shuffle)"] = (
        cu.decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
        )
    )
    # distributed LM: token-keyed count aggs + equi-joins, the only
    # broadcast is the one-row vocab aggregate — no Python, no driver
    # loops, no all-pairs
    cases["LM perplexity (token-keyed joins; BNLJ is the one-row vocab cross join)"] = (
        cu.lm_perplexity(docs)
    )

    from vscode_parquet_visualizer_spark.operators.similarity import (
        ivf_neighbors,
        lsh_neighbors,
    )

    # round 4: non-nullable UDF join keys — EXACTLY one ArrowEvalPython
    # per join side (a nullable key's implicit IsNotNull made Catalyst
    # duplicate the Python pass below the projection: 10× pass cost)
    cases["lsh_neighbors (one ArrowEvalPython per side, no UDF dup)"] = (
        lsh_neighbors(emb, queries, threshold=0.9, dim=64)
    )
    cases["ivf_neighbors (unit centroids; argmax-dot JVM-side, python_eval 0)"] = (
        ivf_neighbors(emb, queries, threshold=0.9)
    )

    print("# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n")
    print("Regenerate after plan-affecting changes: "
          "`python tools/explain_audit.py > PLANS.md`\n")
    for name, df in cases.items():
        plan = formatted(df)
        d = digest(plan)
        print(f"## {name}\n")
        for k, v in d.items():
            print(f"- {k}: {v}")
        print()
    spark.stop()


if __name__ == "__main__":
    main()
