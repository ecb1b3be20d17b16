"""In-suite slice of the window-family differential fuzz
(tools/rank_fuzz.py): a fixed-seed batch of random window queries over
the adversarial-key ``fz`` table, run PINNED onto the distributed
operators and compared row-for-row against Spark's own WindowExec. It
is the running-aggregate routes' only randomized differential; the
offline sweeps run 60+ queries per seed.
"""

from tools import rank_fuzz

SEED = 1
N_QUERIES = 16


def test_rank_fuzz_fixed_seed_matches_window(spark):
    log: list[str] = []
    counts = rank_fuzz.fuzz(spark, N_QUERIES, SEED, log=log.append)
    assert counts["bad"] == 0, "\n".join(log)
    # lowered is counted from try_rewrite_rank, not from the plan: a
    # detection that regresses to "everything fell back" fails here
    assert counts["lowered"] > 0, counts
