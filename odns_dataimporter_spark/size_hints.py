"""Data-size heuristics from file bytes — no Spark job, no count().

The ANN/kNN family needs tuning constants (block counts, hyperplane
counts) that must GROW with the corpus: a constant chosen for sf0.1
either overflows task memory or under-parallelizes at 100 TB. Deriving
them from a `df.count()` would cost a full scan before the plan even
builds, so these helpers read the INPUT FILE BYTES instead — free on
the driver, proportional to the data, available before any job runs.

On a real cluster the same interface is fed from the catalog's table
statistics or `FileSystem.getContentSummary` instead of os.stat; the
derivations and clamps below are the part that transfers unchanged.
All outputs are deterministic in the input size, and the exact
operators (sim_knn_graph) are RESULT-INVARIANT in them by construction
(tests/test_ann.py pins that), so a resize only moves performance,
never answers.
"""

from __future__ import annotations

import glob
import os

# a kNN scoring task materializes two blocks as numpy matrices; parquet
# float-array columns are near-incompressible, so file bytes ~ raw bytes
_KNN_TARGET_BLOCK_BYTES = 64 << 20  # two 64 MB blocks per task
_LSH_TARGET_BUCKET = 64  # aim for ~64 vectors per LSH bucket

# rough parquet footprint of one row, per table
_ROW_BYTES = {
    "embeddings": 300,  # 64 x float32 + ids
    "documents": 120,  # short synthetic text
    "events": 21,  # narrow typed columns
    "part": 9,  # the graph family's node universe is the part key space
    "orders": 18,  # sf0.1: 2.72 MB / 150k
}


def table_bytes(sf_dir: str, name: str) -> int:
    """Best-effort on-disk size of one table (0 if not locally statable)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(p)
                for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                if os.path.isfile(p)
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def est_rows(sf_dir: str, table: str) -> int:
    """Estimated row count of one table from its file bytes: at least 1
    when the size is known, 0 when it is not (callers then fall back to
    their unknown-size default)."""
    b = table_bytes(sf_dir, table)
    return max(1, b // _ROW_BYTES[table]) if b > 0 else 0


def derived_knn_blocks(sf_dir: str) -> int:
    """Block count B for the exact kNN block-nested-loop: enough blocks
    that a task's two-block working set stays ~under 2x64 MB, at least
    2 (the pairing construction needs >=1 src and cand block), at most
    256 (B^2 group pairs; beyond that an ANN prefilter is the answer,
    not more exact blocks)."""
    b = table_bytes(sf_dir, "embeddings")
    if b <= 0:
        return 4
    return max(2, min(256, -(-b // _KNN_TARGET_BLOCK_BYTES)))


def derived_lsh_planes(sf_dir: str) -> int:
    """Hyperplane count for random-hyperplane LSH: 2^planes buckets
    sized so the expected bucket holds ~_LSH_TARGET_BUCKET vectors
    (candidate generation is O(bucket^2) summed over buckets). Clamped
    to [4, 24]: fewer than 4 planes stops discriminating, more than 24
    means buckets of one vector and zero recall."""
    n = est_rows(sf_dir, "embeddings")
    if n == 0:
        return 8
    n_buckets = max(2, n // _LSH_TARGET_BUCKET)
    return max(4, min(24, (n_buckets - 1).bit_length()))


# switch the 60-bit SimHash pigeonhole layout once the corpus
# approaches 2^15-bucket saturation: with 4x15-bit single-chunk keys
# the expected bucket holds est_docs/2^15 signatures and the
# O(sum bucket^2) candidate term turns corpus-quadratic past ~200k
# docs (the sf10 rehearsal measured 43x on 10x data before the 6x10
# redesign); below that the 4-row/doc layout is 5x cheaper than the
# 20-row/doc combo layout for identical output.
_SIMHASH_PROD_DOCS = 200_000


def derived_simhash_chunks(sf_dir: str) -> int:
    """Chunk count for dedup_simhash_hamming's 60-bit pigeonhole LSH:
    4 (15-bit single-chunk buckets, 4 bucket rows/doc) while the
    estimated corpus stays under ~200k docs, 6 (10-bit chunks, C(6,3)
    three-chunk combo buckets, 20 rows/doc, 30-bit key space) beyond.
    BOTH layouts are complete candidate generators for Hamming <= 3
    (pigeonhole: <= 3 damaged chunks always leave an intact single
    chunk of 4, or an intact 3-combo of 6) and the exact bit_count
    verify makes the OUTPUT layout-invariant — only cost moves
    (tests/test_round9_invariants.py pins result equality)."""
    n = est_rows(sf_dir, "documents")
    if n == 0:
        return 6  # size unknown: the prod layout is safe at any scale
    return 4 if n < _SIMHASH_PROD_DOCS else 6


def derived_pq_salt(sf_dir: str) -> int:
    """Cogroup salt count for sim_ann_pq's Arrow argmin: there are only
    _PQ_SUB natural groups, so rows are salted into per-subspace slices.
    Aim for ~1k sub-vectors per task (numpy argmin is O(us) per row —
    bigger slices amortize the Arrow/worker round-trip; more slices only
    pay off once there are rows to fill them), clamped to [4, 64]."""
    n = est_rows(sf_dir, "embeddings")
    if n == 0:
        return 64  # size unknown: favor parallelism
    return max(4, min(64, n // 1000))


def derived_range_bins(sf_dir: str) -> int:
    """Fine bins per interval for join_range_binned's decomposed count
    (full-bin prefix counts + row-level edges). Balancing the two
    intermediates — full-bin lookups cost S·m rows, edge candidates
    cost ~2·S·(P_window/m) rows — gives m* = sqrt(2·P_window), the
    SCALING.md 1/sqrt(n) governor: total intermediate grows n^1.5
    instead of the n^2 density product of the single-bin layout.
    P_window (expected points per interval) is estimated from file
    bytes: ~1/5 of events are purchases and the generator's time span
    is fixed, so density scales with row count. Clamped to [1, 256];
    on a real cluster feed this from catalog row counts + the actual
    time span instead of os.stat."""
    n = est_rows(sf_dir, "events")
    if n == 0:
        return 8
    per_window = (n // 5) / 720.0  # 30-day span, 1-hour windows
    m = round((2.0 * per_window) ** 0.5)
    return max(1, min(256, m))


# a single-task sort of the node-degree table is FASTER than the
# range-partitioned two-pass until the node table itself is big: the
# distributed rank pays a fixed sampling job + one extra shuffle +
# broadcast join (~1-2 s locally), the single-task sort is O(n log n)
# rows in ONE task. 1M nodes (~8 MB of (d, x) pairs) is well inside
# single-task territory; beyond it the sort becomes the corpus-growing
# bottleneck VERDICT r9 flagged.
_RANK_DISTRIBUTED_NODES = 1_000_000


# dedup_semdedup_kmeans trains its centroids on a hash-sample of the
# corpus: Lloyd assignment is O(rounds * sample * k), so the sample is
# capped (~50k vectors keeps the training stage a rounding error next
# to the final full-corpus assignment at every tier) while small
# corpora train on everything (mod 1).
_SEMDEDUP_TRAIN_CAP = 50_000


def derived_semdedup_k(sf_dir: str) -> int:
    """Centroid count for the kmeans-trained SemDeDup twin: the same
    cluster-size governor as the exact twin (k = max(8, n/2000) keeps
    the O(cluster^2) Gram stage ~bounded), but fed from file bytes so
    the plan needs no count() job. The estimate tracks the exact
    twin's count-derived k at every rehearsed tier (500 rows -> 8,
    20k -> 10, 200k -> 100); a small divergence only moves cluster
    granularity, never correctness (the op is rows-only by design)."""
    n = est_rows(sf_dir, "embeddings")
    if n == 0:
        return 8
    return max(8, n // 2000)


def derived_semdedup_sample_mod(sf_dir: str) -> int:
    """Hash-sample modulus for kmeans centroid training: keep the
    training set under ~_SEMDEDUP_TRAIN_CAP vectors (vec hash % mod ==
    0 selects ~1/mod of the corpus, order-independently)."""
    n = est_rows(sf_dir, "embeddings")
    if n == 0:
        return 1
    return max(1, n // _SEMDEDUP_TRAIN_CAP)


# a single-task running-sum window over the distinct-value histogram
# is FASTER than the range-partitioned two-pass until the histogram
# itself is big (same trade as _RANK_DISTRIBUTED_NODES: the
# distributed form pays a sampling job + an extra shuffle + a
# broadcast join). The histogram is bounded by the base-table row
# count, so the tier keys on that estimate.
_PREFIX_DISTRIBUTED_ROWS = 1_000_000


def derived_prefix_distributed(sf_dir: str, table: str = "orders") -> bool:
    """True when a global prefix-sum window over a distinct-value
    histogram of `table` should use the range-partitioned
    `scalable_prefix_sum` instead of a single-task window. Result is
    IDENTICAL either way (int64 prefix sums are associative; equality
    pinned in tests/test_round11_invariants.py) — only the plan shape
    moves, exactly like derived_rank_distributed below."""
    n = est_rows(sf_dir, table)
    if n == 0:
        return True  # size unknown: never risk the single-task sort
    return n >= _PREFIX_DISTRIBUTED_ROWS


def derived_rank_distributed(sf_dir: str) -> bool:
    """True when the co-order graph (node universe = the part key
    space) is big enough that corpus-sized derived artifacts need the
    scale path: r11 uses this for graph_clustering_coefficient's
    E-row checkpoint storage level (DISK_ONLY past the tier, so block
    storage cannot starve execution memory), and it remains the tier
    for any corpus-growing rank map via `scalable_row_number` (the
    helper reproduces row_number exactly; tests pin equality). Output
    never moves with the tier — only the plan shape, exactly like the
    simhash chunk tiering above."""
    n = est_rows(sf_dir, "part")
    if n == 0:
        return True  # size unknown: never risk the single-task sort
    return n >= _RANK_DISTRIBUTED_NODES
