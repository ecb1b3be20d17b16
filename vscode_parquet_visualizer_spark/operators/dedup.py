"""Deduplication operators for training-data pipelines.

Five strategies, all expressed as distributed DataFrame plans (no driver
loops, no row-at-a-time Python):

- **exact**: group by a normalized fingerprint, keep one representative.
  One shuffle on the hash — the cheapest possible plan; at 100 TB the
  fingerprint (8 bytes) shuffles, not the documents.
- **minhash LSH**: shingle → K minhashes → B bands; candidate pairs join
  on (band, band-hash) so only same-bucket docs ever meet — the classic
  sub-quadratic near-dup plan. Shingling/minhashing is all built-in
  higher-order functions (transform/aggregate), JVM-side.
- **simhash**: 64-bit weighted-projection hash; near-dups differ in few
  bits. Bucketing on rotated prefixes finds pairs within a Hamming radius.
- **n-gram Jaccard**: exact verify step for LSH candidates (and a small-N
  direct variant).
- **embedding cosine**: near-dup on an embedding column via the similarity
  module's top-k self-join.

Every candidate-pair strategy returns *pairs* (doc_id_a < doc_id_b) so
callers choose the survivorship policy (keep-min-id etc.) explicitly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.operators.scale import plan_bytes

# Mersenne prime for the minhash permutation family
# h_i(x) = (a_i * x + b_i) mod P. 2^31-1 keeps every product a_i·x below
# 2^62 so the modular arithmetic is exact in int64 on both the JVM and
# numpy (a 61-bit prime would silently wrap).
_MERSENNE = (1 << 31) - 1


def normalized(text: F.Column) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content, the
    minimum id wins, duplicate count attached. Single hash-partition
    shuffle; the group key is the 64-bit fingerprint, not the text."""
    fp = F.xxhash64(normalized(F.col(text_col)))
    return (
        df.withColumn("__fp", fp)
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__fp")
    )


def shingles(text: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingle set (distinct), built from split + zip of
    shifted slices — no UDF. Short docs yield their full token tuple as a
    single shingle.

    Shape matters: an index-based ``transform(idx, i -> slice(toks, ...))``
    re-evaluates the whole ``toks`` expression (regex normalize + split)
    per shingle because HOF lambdas inline their free expressions — ~50×
    per row. ``arrays_zip`` of n shifted slices evaluates ``toks`` only as
    a direct argument (a handful of times per row), and the lambda then
    touches only its own element."""
    toks = F.split(normalized(text), " ")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, k) for i in range(n)])
    # arrays_zip names unnamed inputs positionally ("0".."n-1");
    # concat_ws skips the nulls zip-padding adds for short docs.
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    return F.array_distinct(grams)


def _parallelize(df: DataFrame, per_partition_bytes: int = 4 << 20) -> DataFrame:
    """Size the shingle/hash stage's parallelism to the DATA, both ways.

    Up: one small parquet file reads as a single split and would run the
    whole stage on one core — spread big single-split inputs across the
    cluster. Down: a few hundred filtered docs spread over
    defaultParallelism partitions make every downstream stage schedule
    32 near-empty tasks (q36 at sf0.1: 347 tasks for 410 docs — the
    scheduling floor WAS the query). Catalyst's optimized-plan size
    estimate (exact for materialized caches) picks the partition count
    at ~4 MiB of text per task; at real scale this saturates the
    cluster exactly like the old always-repartition(target) did."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    size = plan_bytes(df, 1 << 60)
    want = max(1, min(target, size // per_partition_bytes + 1))
    if want >= target:
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    # downsize: skip the shuffle when the input is already at (or below)
    # the computed target, mirroring the upsize guard
    if df.rdd.getNumPartitions() <= want:
        return df
    return df.repartition(want)


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_from_hashed(
    hashed: F.Column, num_hashes: int = 64, seed: int = 42
) -> F.Column:
    """K minhash values: for each permutation i, min over the hashed
    shingle set of ((a_i*(h mod P) + b_i) mod P).

    Vectorized as an Arrow-batched pandas UDF: the K×|shingles| modular
    min is one numpy broadcast per batch, ~50× the throughput of K
    interpreted higher-order-function passes (HOFs don't codegen)."""
    coeffs = _minhash_coeffs(num_hashes, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    from pyspark.sql.pandas.functions import pandas_udf

    # Whole-batch vectorization: flatten every row's shingle hashes into
    # one array, apply all K permutations in one broadcast op, and take
    # per-row minima with minimum.reduceat — no per-row Python loop.
    # Chunked so the (K, flat) temporary stays ~128 MB per worker.
    chunk_flat = max(1, (16 * 1024 * 1024) // num_hashes)

    @pandas_udf("array<long>")
    def sig(h: pd.Series) -> pd.Series:
        rows = [
            None if r is None or len(r) == 0 else np.asarray(r, dtype=np.int64)
            for r in h
        ]
        valid = [r for r in rows if r is not None]
        if not valid:
            return pd.Series([None] * len(rows))
        lens = np.array([len(r) for r in valid], dtype=np.int64)
        flat = np.mod(np.concatenate(valid), _MERSENNE)
        bounds = np.concatenate(([0], np.cumsum(lens)))
        mins = np.empty((len(valid), num_hashes), dtype=np.int64)
        i = 0
        while i < len(valid):
            j = i
            while j < len(valid) and bounds[j + 1] - bounds[i] <= chunk_flat:
                j += 1
            j = max(j, i + 1)  # a single row larger than the chunk still goes
            seg = flat[bounds[i] : bounds[j]][None, :]
            perm = (A * seg + B) % _MERSENNE
            mins[i:j] = np.minimum.reduceat(
                perm, bounds[i:j] - bounds[i], axis=1
            ).T
            i = j
        it = iter(mins)
        return pd.Series([None if r is None else next(it) for r in rows])

    return sig(hashed)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash LSH.

    Plan shape: project signatures (narrow) → explode to B band rows
    (narrow, B× row growth of tiny rows) → self-join on (band, band_hash)
    (one shuffle on the 16-byte bucket key) → distinct pairs. Documents
    never shuffle; only (id, bucket) pairs do — the property that makes
    this viable at 100 TB.
    """
    from pyspark import StorageLevel

    rows_per_band = num_hashes // bands
    # Two-stage materialization: Catalyst's projection collapse would
    # otherwise inline the shingle+hash expression into all K minhash
    # expressions and then the whole signature into every band expression —
    # recomputing it K×bands per row (HOFs don't codegen, so no CSE saves
    # us). The persisted frames are (id, hashes) / (id, 64×long) ≈
    # 0.5 KB/doc: tiny relative to the corpus, spill to disk if not.
    # (Measured: 405 s → seconds at sf0.1.)
    hashed = (
        _parallelize(
            df.filter(
                F.col(text_col).isNotNull()
                & (F.length(F.trim(F.col(text_col))) > 0)
            )
        )
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                shingles(F.col(text_col), n=shingle_n), lambda s: F.abs(F.xxhash64(s))
            ).alias("h"),
        )
        # no persist: consumed exactly once (the minhash pandas UDF input
        # is evaluated once per row — UDFs don't get expression-inlined),
        # and sig below is the frame with two consumers
    )
    sig = (
        hashed.select(
            "id", minhash_from_hashed(F.col("h"), num_hashes, seed).alias("sig")
        )
        .filter(F.col("sig").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (default: LSH candidates).

    Joining shingle sets back onto the (small) pair list and computing
    |∩|/|∪| with array_intersect/array_union keeps the exact verify step
    proportional to candidate count, not N².
    """
    if candidates is None:
        candidates = minhash_lsh_pairs(
            df, text_col=text_col, id_col=id_col, shingle_n=shingle_n
        )
    # Hash the shingle set: |∩|/|∪| over distinct xxhash64 values equals
    # the string-set Jaccard (collision probability ~n²/2⁶⁴), and 8-byte
    # longs shuffle ~10× lighter than shingle strings in the pair joins.
    df = _parallelize(
        df.filter(
            F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
        )
    )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), n=shingle_n), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    from pyspark import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)  # joined twice below
    j = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return j


def simhash(text: F.Column, shingle_n: int = 2) -> F.Column:
    """64-bit SimHash over word shingles: per bit, sum ±1 contributions of
    each shingle hash and take the sign. Prefer ``simhash_from_hashed``
    over a pre-materialized hash column in pipelines — higher-order
    functions don't whole-stage-codegen, so the shingle hash inlined here
    is recomputed per bit."""
    return simhash_from_hashed(
        F.transform(shingles(text, n=shingle_n), lambda s: F.xxhash64(s))
    )


def simhash_from_hashed(hashed: F.Column) -> F.Column:
    """SimHash given an already-computed array<long> of shingle hashes.

    Bit i is set iff more than half the shingle hashes have bit i set
    (the ±1-contribution sign). Vectorized as an Arrow-batched pandas UDF:
    one bit-unpack + ``add.reduceat`` per batch — the 64 interpreted
    ``F.aggregate`` passes per row this replaces don't codegen and re-walk
    the array per bit. Null/empty arrays → 0 (no signal), matching the
    empty-fold of the aggregate formulation."""
    from pyspark.sql.pandas.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)[None, :]

    chunk_flat = 256 * 1024  # (chunk, 64) int64 temporaries stay ~128 MB

    @pandas_udf("long")
    def sh(h: pd.Series) -> pd.Series:
        rows = [
            None if r is None or len(r) == 0 else np.asarray(r, dtype=np.int64)
            for r in h
        ]
        valid = [r for r in rows if r is not None]
        out = np.zeros(len(rows), dtype=np.int64)
        if valid:
            lens = np.array([len(r) for r in valid], dtype=np.int64)
            flat = np.concatenate(valid).view(np.uint64)
            bounds = np.concatenate(([0], np.cumsum(lens)))
            vals = np.empty(len(valid), dtype=np.int64)
            i = 0
            while i < len(valid):
                j = i
                while j < len(valid) and bounds[j + 1] - bounds[i] <= chunk_flat:
                    j += 1
                j = max(j, i + 1)
                seg = flat[bounds[i] : bounds[j]]
                bits = ((seg[:, None] >> shifts) & np.uint64(1)).view(np.int64)
                counts = np.add.reduceat(bits, bounds[i:j] - bounds[i], axis=0)
                simbits = (2 * counts > lens[i:j, None]).astype(np.uint64)
                vals[i:j] = (
                    (simbits << shifts).sum(axis=1, dtype=np.uint64).view(np.int64)
                )
                i = j
            out[[i for i, r in enumerate(rows) if r is not None]] = vals
        return pd.Series(out)

    return sh(hashed)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
) -> DataFrame:
    """Near-dup candidate pairs whose SimHash agrees on 4 rotated
    16-bit prefixes (Hamming-radius blocking): docs within distance ~3
    collide in at least one block with high probability."""
    from pyspark import StorageLevel

    # Two-stage materialization against projection collapse: (1) shingle
    # hashes once, (2) the 64-aggregate simhash over them once — otherwise
    # each bit (and then each of the 4 block projections) re-inlines the
    # full upstream expression.
    df = _parallelize(
        df.filter(
            F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
        )
    )
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles(F.col(text_col)), lambda s: F.xxhash64(s)).alias("h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sh = hashed.select(
        "id", simhash_from_hashed(F.col("h")).alias("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    blocks = []
    for rot in range(0, 64, prefix_bits):
        blocks.append(
            sh.select(
                "id",
                "sh",
                F.lit(rot).alias("block"),
                F.shiftrightunsigned(F.col("sh"), rot)
                .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                .alias("key"),
            )
        )
    all_blocks = blocks[0]
    for b in blocks[1:]:
        all_blocks = all_blocks.unionByName(b)
    a, b = all_blocks.alias("a"), all_blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .distinct()
    )
    return pairs


def _hamming64(x: F.Column, y: F.Column) -> F.Column:
    return F.bit_count(x.bitwiseXOR(y))


def dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id) with
    cluster_id = min id in the component (the survivorship key: keep the
    row whose id == cluster_id, drop the rest).

    Distributed label propagation: every id starts labeled with itself;
    each round, labels flow across edges and every node takes the min
    label seen; stop when no label changes. Converges in O(diameter)
    rounds — near-dup components are tiny (pairs of near-identical docs),
    so 2-3 rounds in practice; ``max_iterations`` bounds pathological
    chains. Each round is two shuffles (join + min-agg) — no driver-side
    union-find, so it holds at any pair count.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint (not persist): iterative plans grow their lineage
    # every round — by round N the logical plan is exponential and the JVM
    # OOMs just *rendering* it. Checkpointing truncates lineage to the
    # materialized data each round.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def _label_sum(df: DataFrame):
        # Min-propagation only ever LOWERS labels, so the label total is
        # strictly decreasing until convergence — comparing sums detects
        # "no change" with one shuffle-free scan of the checkpointed
        # round result, instead of the old labels⨝new_labels diff join.
        # DECIMAL(38): at 100 TB scale sum(int64 ids) overflows long.
        return df.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        # labels flowing across edges: neighbor's current label
        propagated = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "cluster_id")
        )
        # eager=False: the convergence-sum action right below is the
        # round's single materialization — an eager checkpoint here ran
        # a SECOND job per round (2× the per-round floor on small data).
        new_labels = (
            labels.select("id", "cluster_id")
            .unionByName(propagated)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=False)
        )
        labels = new_labels
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels


# auto mode switches segment_dedup to the hashed shuffle key once the
# input outgrows interactive scale (same size-adaptive posture as the
# quantile operator's histogram switch)
_SEGMENT_HASH_THRESHOLD_BYTES = 256 << 20


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_segment: int = 10,
    key: str = "segment",
) -> DataFrame:
    """Inter-document segment-level exact dedup — the C4/RefinedWeb
    boilerplate-removal shape: split every document into fixed-size
    non-overlapping word segments and keep only the globally FIRST
    occurrence of each distinct segment (ordered by (doc, position)),
    so repeated headers/footers/licence blocks are dropped from every
    later document while the first document stays intact.

    ``key`` picks the shuffle key for the first-occurrence window:

    - ``"segment"`` (default): partition by the segment TEXT — exact,
      and the rows shipped through the exchange carry the 10-word
      strings. Returns (id, seg_idx, segment, keep) so downstream can
      filter ``keep`` and reassemble with concat_ws over a seg_idx
      sort. The default because its schema is the full contract;
      ``"auto"``'s size-dependent column set is opt-in (ADVICE r9).
    - ``"hash"``: the 100 TB shape — segment text is DROPPED before
      the exchange and the window partitions on a 128-bit fingerprint
      (two independently-seeded xxhash64 values), so shuffle payloads
      are (id, seg_idx, 2×8-byte hash) instead of ~60-120-byte
      strings. Returns (id, seg_idx, keep); reassembly re-splits the
      source text (map-side) or joins back on the 8-byte id. Collision
      note: two DISTINCT segments dedup together only if both 64-bit
      hashes collide — P ≈ n²/2¹²⁹ (birthday bound over the combined
      128 bits), ~10⁻¹⁵ even at 10¹² distinct segments, below the
      corpus's own bit-rot rate. A single-hash key (n²/2⁶⁵) would NOT
      be acceptable for an exactness-gated dedup at that scale.
    - ``"auto"``: Catalyst's optimized-plan size estimate picks — text
      key below 256 MiB (interactive; keeps the segment column for
      callers), hashed key above. EXPLICIT OPT-IN ONLY: the returned
      column set depends on input size (the segment column disappears
      above the threshold), so callers must tolerate both schemas —
      i.e. consume only (id, seg_idx, keep).

    Scale shape either way: one explode (rows × segments/doc) and ONE
    shuffle for the window; the rank is a WindowGroupLimit-style
    row_number, not an agg-join — no second shuffle.
    """
    if key not in ("auto", "segment", "hash"):
        raise ValueError(f"segment_dedup: unknown key mode {key!r}")
    if key == "auto":
        # unknown size keeps the full-contract text key
        size = plan_bytes(df, -1)
        key = "hash" if size > _SEGMENT_HASH_THRESHOLD_BYTES else "segment"
    wl = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(wl) / F.lit(words_per_segment)).cast("int")
    segs = (
        df.select(
            F.col(id_col).alias("id"),
            wl.alias("__wl"),
            F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx"),
        )
        .select(
            "id",
            F.col("seg_idx").cast("long").alias("seg_idx"),
            F.concat_ws(
                " ",
                F.slice(
                    "__wl",
                    F.col("seg_idx") * words_per_segment + 1,
                    words_per_segment,
                ),
            ).alias("segment"),
        )
    )
    if key == "hash":
        hashed = segs.select(
            "id",
            "seg_idx",
            F.xxhash64("segment").alias("__h1"),
            F.xxhash64(F.lit(0x9E3779B9), F.col("segment")).alias("__h2"),
        )
        w = Window.partitionBy("__h1", "__h2").orderBy(
            F.col("id").asc(), F.col("seg_idx").asc()
        )
        return hashed.withColumn(
            "keep", (F.row_number().over(w) == 1)
        ).drop("__h1", "__h2")
    w = Window.partitionBy("segment").orderBy(
        F.col("id").asc(), F.col("seg_idx").asc()
    )
    return segs.withColumn(
        "keep", (F.row_number().over(w) == 1)
    )
