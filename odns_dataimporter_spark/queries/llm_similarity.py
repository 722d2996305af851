"""Embedding similarity search (SURVEY §2.7).

Brute-force exact top-k cosine as the oracle-verified baseline, plus an
LSH-bucketed approximate variant as the 100 TB scale path.

Determinism: float32 values are cast to double *before* any arithmetic
(exact conversion); Spark's sequential fold (aggregate ∘ zip_with) and
DuckDB's list_dot_product over DOUBLE[] produce bit-identical sums
(verified empirically), sqrt/division are correctly-rounded IEEE ops,
so cosine scores match exactly and the (score DESC, vec_id) ranking is
stable across engines. Output scores are floor-quantized to 1e-6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.size_hints import derived_knn_blocks, derived_lsh_planes
from odns_dataimporter_spark.tables import load_table

_N_PROBES = 10
_TOP_K = 5


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double-cast arrays (bit-identical
    to DuckDB's list_dot_product on DOUBLE[]). Every cosine built on
    this uses try_divide: a zero-norm vector (legal input) makes the
    denominator 0, where DuckDB yields NULL and ANSI Spark would crash
    (zero-vector sweep, round 5)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@register(
    "sim_topk_cosine",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         list_dot_product(p.e, c.e) / (p.nrm * c.nrm) AS cos
  FROM v p JOIN v c ON c.vec_id != p.vec_id
  WHERE p.vec_id < {_N_PROBES}
)
SELECT probe_id, cand_id, floor(cos * 1000000.0) / 1000000.0 AS score
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos DESC, cand_id) AS rn
      FROM scored)
WHERE rn <= {_TOP_K}
""",
    tags=("llm", "similarity"),
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a probe set (brute force).

    Scale shape: probes are broadcast (tiny side), candidates stream
    once — no shuffle of the big side; the per-probe top-k is a window
    over probe_id. At real ANN scale the LSH variant below replaces the
    cross product; this exact version remains the recall oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    probes = v.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("pe"), F.col("nrm").alias("pn")
    )
    cands = v.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            (F.try_divide(_dot(F.col("pe"), F.col("ce")), F.col("pn") * F.col("cn"))).alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("probe_id", "cand_id", (F.floor(F.col("cos") * 1_000_000.0) / 1_000_000.0).alias("score"))
    )


@register("sim_ann_lsh", oracle=None, tags=("llm", "similarity", "rows-only"))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH — the 100 TB scale path.

    Vectors are bucketed by the sign pattern of dot products with
    deterministic pseudo-random hyperplanes (seeded per dimension from
    index arithmetic, so the bucketing is reproducible without any
    driver-side randomness). Probes only compare against their own
    bucket: candidate generation is O(bucket²), not O(n²).

    Rows-only check: approximate recall is data-dependent, so there is
    no SQL oracle; tests assert bucket determinism and recall > 0
    against the exact result (at more than one plane count).

    The plane count is DERIVED from the corpus size (size_hints.
    derived_lsh_planes: 2^planes buckets of ~64 expected vectors,
    clamped [4, 24]) — a constant tuned at sf0.1 would leave 100x the
    data in 100x-bigger buckets, i.e. O(bucket^2) blowup.
    """
    return _ann_lsh(spark, sf_dir, derived_lsh_planes(sf_dir))


def _ann_lsh(spark: SparkSession, sf_dir: str, n_planes: int) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = 64

    # deterministic "random" hyperplanes: plane p, dim d -> sin(p*64+d)
    # (fixed analytic sequence, identical on every run/executor)
    planes = [
        F.array(*[F.sin(F.lit(float(p * dims + d))) for d in range(dims)])
        for p in range(n_planes)
    ]
    sig = None
    for p, plane in enumerate(planes):
        bit = (
            F.aggregate(
                F.zip_with(F.col("embedding"), plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0
        ).cast("int") * (1 << p)
        sig = bit if sig is None else sig + bit
    bucketed = emb.select("vec_id", "embedding", sig.alias("bucket"))

    probes = bucketed.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"), "bucket"
    )
    cands = bucketed.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), "bucket"
    )
    scored = (
        probes.join(cands, "bucket")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            F.try_divide(
                _dot(F.col("pe"), F.col("ce")),
                F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ce"), F.col("ce"))),
            ).alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("probe_id", "cand_id", (F.floor(F.col("cos") * 1_000_000.0) / 1_000_000.0).alias("score"))
    )


@register(
    "sim_pairs_blocked",
    oracle="""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) * 1000000.0) / 1000000.0 AS score
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
""",
    tags=("llm", "similarity"),
)
def sim_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within label blocks
    (cos ≥ 0.3) — the embedding-space analog of blocked Jaccard dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = F.try_divide(_dot(F.col("a.e"), F.col("b.e")), F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= 0.3)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.floor(cos * 1_000_000.0) / 1_000_000.0).alias("score"),
        )
    )


@register("sim_ann_ivf", oracle=None, tags=("llm", "similarity", "rows-only"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF (inverted-file) coarse quantization — the
    other classic ANN scale path next to LSH.

    Coarse centroids are the per-label element-wise mean vectors
    (computed distributively: posexplode → groupBy(label, dim) → avg →
    re-assemble). Every vector is assigned to its nearest centroid
    (nprobe=1 for candidates); probes search only their own cell, so
    comparisons are O(cell²) summed over cells. Deterministic end to
    end (means and assignments are pure functions of the data), but no
    SQL oracle: approximate recall is the semantics, tested against the
    exact top-k in tests instead.
    """
    return _ann_ivf(spark, sf_dir, nprobe=1)


@register(
    "sim_ann_ivf_multiprobe",
    oracle=None,
    tags=("llm", "similarity", "rows-only"),
)
def sim_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multiprobe (nprobe=2): each probe searches its TWO
    nearest cells instead of one — the standard recall lever for IVF
    indexes (cell boundaries cut true neighborhoods; probing adjacent
    cells recovers the cut-off neighbors at 2x the per-probe cost,
    still O(cell^2)-bounded, never all-pairs). Candidates stay indexed
    by their single nearest cell, so every (probe, cand) pair meets at
    most once and no dedup shuffle is needed. Tests pin recall(vs
    exact) >= the nprobe=1 recall — the measurable claim multiprobe
    exists to make."""
    return _ann_ivf(spark, sf_dir, nprobe=2)


def _ann_ivf(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # element-wise centroid means, distributively
    pos = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    cent = (
        pos.groupBy("label", "dim")
        .agg(F.avg("val").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("pairs"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pairs", lambda p: p["m"]).alias("centroid"),
        )
        # |cells| rows, broadcast into both the assignment and probe
        # branches: checkpoint so the centroid reduction runs once
        .localCheckpoint(eager=False)
    )
    # assign every vector to its nearest centroid (euclidean == cosine
    # order here since centroids/vectors are near-normalized)
    v = emb.select("vec_id", "embedding")
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "cell",
        F.aggregate(
            F.zip_with("embedding", "centroid", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ).alias("dist2"),
    )
    # assignment is a map-side-combined min-struct argmin, NOT a
    # row_number window: the window version shuffled all |corpus|·|cells|
    # scored rows and its subtree re-derived once per consumer (round-6
    # scan audit). first("embedding") is deterministic here — every row
    # in a vec_id group carries the identical array.
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("dist2"), F.col("cell"))).alias("m"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", "embedding", F.col("m.cell").alias("cell"))
    )
    # probes fan out to their nprobe nearest cells; the vec_id filter
    # pushes down to the scan, so this branch reads _N_PROBES rows only
    wp = W.partitionBy("vec_id").orderBy("dist2", "cell")
    probes = (
        scored.filter(F.col("vec_id") < _N_PROBES)
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"), "cell"
        )
    )
    cands = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), "cell"
    )
    pairs = (
        probes.join(cands, "cell")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            F.try_divide(
                _dot(F.col("pe"), F.col("ce")),
                F.sqrt(_dot(F.col("pe"), F.col("pe"))) * F.sqrt(_dot(F.col("ce"), F.col("ce"))),
            ).alias("cos"),
        )
    )
    wk = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "probe_id",
            "cand_id",
            (F.floor(F.col("cos") * 1_000_000.0) / 1_000_000.0).alias("score"),
        )
    )


@register(
    "embed_quantize_int8",
    oracle="""
WITH t AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi,
             CAST(len(v) AS BIGINT) AS n_dim
      FROM t WHERE list_min(v) < list_max(v)),
q AS (SELECT vec_id, lo, hi, n_dim,
        list_transform(v, x ->
          CAST(least(255, floor((x - lo) * 255.0 / (hi - lo))) AS BIGINT)) AS qv,
        list_transform(v, x ->
          (x - (lo + least(255, floor((x - lo) * 255.0 / (hi - lo)))
                     * (hi - lo) / 255.0))
          * (x - (lo + least(255, floor((x - lo) * 255.0 / (hi - lo)))
                       * (hi - lo) / 255.0))) AS errs
      FROM s)
SELECT vec_id, n_dim, lo, hi,
       md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ','))
         AS q_digest,
       floor(list_reduce(errs, (a, b) -> a + b) * 1e9 / n_dim) / 1e9 AS mse_q9
FROM q
""",
    tags=("llm", "embedding"),
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scalar int8 quantization (min/max affine, the faiss
    SQ8 scheme): maps each float32 embedding to 256 levels, reporting
    the quantized-vector digest and reconstruction MSE. This is the 4x
    storage/bandwidth reduction step before ANN indexing at 100 TB —
    pure per-row array math in whole-stage codegen, zero shuffles.
    Determinism: floor-based level assignment (never round), scale
    before divide, error fold in array order; MSE floor-quantized at
    1e-9."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        F.array_min("v").alias("lo"),
        F.array_max("v").alias("hi"),
        F.size("v").cast("long").alias("n_dim"),
    ).filter(F.col("lo") < F.col("hi"))
    lo, hi = F.col("lo"), F.col("hi")

    def level(x):
        return F.least(F.lit(255).cast("long"), F.floor((x - lo) * 255.0 / (hi - lo)))

    def err2(x):
        e = x - (lo + level(x).cast("double") * (hi - lo) / 255.0)
        return e * e

    qv = F.transform(F.col("v"), lambda x: level(x).cast("string"))
    sum_err = F.aggregate(
        F.transform(F.col("v"), err2), F.lit(0.0), lambda acc, e: acc + e
    )
    return d.select(
        "vec_id",
        "n_dim",
        "lo",
        "hi",
        F.md5(F.concat_ws(",", qv)).alias("q_digest"),
        (F.floor(sum_err * 1e9 / F.col("n_dim")) / 1e9).alias("mse_q9"),
    )


_KNN_K = 5
_KNN_SCALE = 1048576.0  # 2^20: float32 * 2^20 floored => exact int in f64


@register(
    "sim_knn_graph",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * {_KNN_SCALE})) AS qe
  FROM embeddings
),
n AS (
  SELECT vec_id, qe, sqrt(list_dot_product(qe, qe)) AS nrm FROM q
),
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         list_dot_product(a.qe, b.qe) / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.vec_id != b.vec_id
)
SELECT src_id, nbr_id,
       floor(cos * 1000000.0) / 1000000.0 AS score,
       CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY cos DESC, nbr_id) AS rn
      FROM scored)
WHERE rn <= {_KNN_K}
""",
    tags=("llm", "similarity"),
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global k-NN graph over ALL embeddings (k=5) — the
    building block for embedding-dedup graphs and retrieval indexes.

    Scale shape (block nested loop, no driver collect, no broadcast):
    vectors are hashed into B blocks — DERIVED from the corpus size
    (size_hints.derived_knn_blocks: two ~64 MB blocks per task,
    clamped [2, 256]), never a constant tuned at test scale, and the
    RESULT is invariant in B (tests/test_ann.py runs B=2/4/8 and pins
    identical output); every (src-block,
    cand-block) pair becomes one `applyInPandas` group via a role-tagged
    union (each row is shuffled 2B times — bounded, tunable memory per
    task since a task only ever holds two blocks). Inside a group one
    numpy matmul scores block×block and keeps a block-local top-k, so
    only B·k candidates per source survive to the final global window —
    the shuffle after scoring is k·B rows per vector, not n². At 100 TB
    B grows with the corpus and an IVF/LSH prefilter (sim_ann_ivf /
    sim_ann_lsh) culls block pairs; this exact formulation stays the
    recall oracle.

    Determinism (bit-exact vs the oracle): embeddings are quantized to
    integers (floor(x·2^20) — exact for float32 inputs), so every dot
    product is a sum of integers < 2^52 and is EXACT in float64 matmul
    regardless of summation order; sqrt/product/division are single
    correctly-rounded IEEE ops evaluated in the same order as the SQL,
    and ties rank by nbr_id.
    """
    return _knn_graph(spark, sf_dir, derived_knn_blocks(sf_dir))


def _knn_graph(spark: SparkSession, sf_dir: str, blocks: int) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    blk = (F.col("vec_id") % blocks).cast("int")
    all_b = F.array(*[F.lit(i) for i in range(blocks)])
    # role 0 = source member of group (ga=own, gb=j); role 1 = candidate
    # member of group (ga=i, gb=own). Each (src, cand) pair meets in
    # exactly one group: (src.blk, cand.blk).
    left = emb.select(
        "vec_id", "embedding", F.lit(0).alias("role"),
        blk.alias("ga"), F.explode(all_b).alias("gb"),
    )
    right = emb.select(
        "vec_id", "embedding", F.lit(1).alias("role"),
        F.explode(all_b).alias("ga"), blk.alias("gb"),
    )

    def _score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[pdf["role"] == 0].sort_values("vec_id")
        cand = pdf[pdf["role"] == 1].sort_values("vec_id")
        if src.empty or cand.empty:
            return pd.DataFrame({"src_id": [], "nbr_id": [], "cos": []})
        qs = np.floor(np.stack(src["embedding"].to_numpy()).astype("float64") * _KNN_SCALE)
        qc = np.floor(np.stack(cand["embedding"].to_numpy()).astype("float64") * _KNN_SCALE)
        sid = src["vec_id"].to_numpy()
        cid = cand["vec_id"].to_numpy()
        g = qs @ qc.T  # exact: integer-valued f64, |cell| < 2^52
        cos = g / (
            np.sqrt((qs * qs).sum(axis=1))[:, None]
            * np.sqrt((qc * qc).sum(axis=1))[None, :]
        )
        out_s, out_c, out_v = [], [], []
        k = min(_KNN_K, len(cid))
        for i in range(len(sid)):
            row = cos[i]
            mask = cid != sid[i]
            ids, vals = cid[mask], row[mask]
            # block-local top-k, ties to lower nbr_id (lexsort is stable)
            order = np.lexsort((ids, -vals))[:k]
            out_s.extend([sid[i]] * len(order))
            out_c.extend(ids[order])
            out_v.extend(vals[order])
        return pd.DataFrame({"src_id": out_s, "nbr_id": out_c, "cos": out_v})

    scored = (
        left.unionByName(right)
        .groupBy("ga", "gb")
        .applyInPandas(_score_block, "src_id long, nbr_id long, cos double")
    )
    w = W.partitionBy("src_id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select(
            "src_id",
            "nbr_id",
            (F.floor(F.col("cos") * 1_000_000.0) / 1_000_000.0).alias("score"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): 64-dim vectors split
# into _PQ_SUB subspaces of _PQ_SUBDIM dims, each sub-vector replaced by
# the id of its nearest per-subspace centroid (_PQ_K entries/codebook) —
# 64 float32s become _PQ_SUB small ints (32x compression), and probe
# scoring needs only a per-probe lookup table of sub-centroid dot
# products (asymmetric distance computation). This is the memory-side
# scale path that lets a 100 TB embedding table fit an index in RAM.
_PQ_SUB = 8
_PQ_SUBDIM = 8
# 64 centroids/subspace: measured recall@5 vs the exact top-k is
# 0.36/0.40 at sf0.001/sf0.01 on this synthetic corpus — near-uniform
# random embeddings are PQ's worst case (no cluster structure for the
# codebook to exploit; 16 centroids measured 0.10, 32 → 0.26, 64 →
# 0.36). Production PQ uses 256 centroids/subspace (one byte per code);
# the pipeline shape is identical, only the codebook size changes.
_PQ_K = 64
# cogroup parallelism for the Arrow argmin: there are only _PQ_SUB
# natural groups, so rows are salted by vec_id into size-derived slices
# per subspace (size_hints.derived_pq_salt — ~1k sub-vectors per task,
# clamped [4, 64]; the packed 64-row codebook replicated across salts
# is ~4 KB each, negligible). Up to 64 slices × 8 subs = 512 tasks:
# enough to saturate any executor count this op meets before the
# sampled-codebook map-stage formulation takes over at cluster scale.


def _pq_argmin_batch(rows, cbs):
    """Cogrouped (sub, salt) task: numpy nearest-centroid over one
    subspace's packed codebook. Exact (x−y)² distance form — NOT the
    ‖x‖²−2xy+‖y‖² expansion, whose cancellation could flip near-ties —
    and np.argmin's lowest-index-wins tie rule reproduces the old
    (d2, cid) struct sort because cents arrive cid-ascending."""
    import numpy as np
    import pandas as pd

    if rows.empty or cbs.empty:
        return pd.DataFrame(
            {"vec_id": pd.Series(dtype="int64"), "sub": pd.Series(dtype="int32"),
             "sv": pd.Series(dtype="object"), "code": pd.Series(dtype="int32")}
        )
    cents = cbs["cents"].iloc[0]
    cmat = np.stack([np.asarray(c["cent"], dtype=np.float64) for c in cents])
    svs = np.stack([np.asarray(v, dtype=np.float64) for v in rows["sv"]])
    codes = np.empty(len(svs), dtype=np.int32)
    for lo in range(0, len(svs), 65536):  # bound the (m, K, dim) temp
        chunk = svs[lo : lo + 65536]
        d2 = ((chunk[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        codes[lo : lo + 65536] = d2.argmin(axis=1)
    cids = np.asarray([c["cid"] for c in cents], dtype=np.int32)
    return pd.DataFrame(
        {
            "vec_id": rows["vec_id"].to_numpy(),
            "sub": rows["sub"].to_numpy(),
            "sv": rows["sv"],
            "code": cids[codes],
        }
    )


@register("sim_ann_pq", oracle=None, tags=("llm", "similarity", "rows-only"))
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine via product quantization with
    asymmetric distance computation (faiss-PQ style; Jégou et al.,
    "Product Quantization for Nearest Neighbor Search").

    Pipeline, all DataFrame ops:
      1. sub-vector view: explode a tiny [0.._PQ_SUB) index array and
         `slice` the embedding — NO shuffle, no posexplode regroup.
      2. codebook init: the _PQ_K deterministically-chosen seed vectors
         (smallest md5(vec_id) — TakeOrderedAndProject, never a global
         sort) donate their sub-vectors as initial centroids.
      3. one Lloyd refinement: shuffle-free nearest-centroid assignment
         (the 128-row codebook is aggregated to one array row per
         subspace and broadcast; argmin is an array_sort over per-
         centroid exact quantized-integer distances), then a
         (sub, cid, pos)-keyed mean — the only training shuffle. At
         100 TB the codebook trains on a hash-sample of the corpus
         (codebooks need ~100k rows, not the corpus); encoding below is
         what runs at full scale.
      4. encode: same shuffle-free argmin against the refined codebook
         → (vec_id, sub, code), the 8-byte-per-vector index.
      5. ADC scoring: probes build a broadcast LUT of (probe, sub, cid)
         → exact sub-dot-products (10×128 rows); candidates join it on
         (sub, code) and ONE map-side-combined groupBy(probe, cand)
         sums the _PQ_SUB partial dots — the shuffle carries
         |probes|·|cands| aggregated rows, and the corpus is scanned
         once, as codes.
      6. top-k per probe over the reconstructed cosine, nbr-id ties.

    Determinism: seeds are an md5 order (no RNG); all distances/dots
    are sums of exact floor(x·2^20) integers in float64 (order-proof);
    argmin ties break by centroid id. Rows-only by design (approximate
    recall IS the semantics); tests pin run-to-run determinism and
    recall vs the exact top-k, and that codes compress to _PQ_SUB
    small ints per vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    from odns_dataimporter_spark.size_hints import derived_pq_salt

    salt_n = derived_pq_salt(sf_dir)
    # quantized vectors feed codebook init, refine, encode, and the
    # probe LUT — checkpoint so the scan+quantize runs once (18
    # redundant embeddings scans before; scan-count audit)
    q = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: F.floor(x.cast("double") * _KNN_SCALE)).alias("qe"),
    ).localCheckpoint(eager=False)
    subs = F.array(*[F.lit(i) for i in range(_PQ_SUB)])
    # (vec_id, sub, sv): sub-vector view via slice — zero shuffle
    sv = q.select(
        "vec_id",
        F.explode(subs).alias("sub"),
        F.col("qe").alias("qe_full"),
    ).select(
        "vec_id",
        "sub",
        F.slice("qe_full", F.col("sub") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
    )
    # deterministic seed rows -> initial codebook (sub, cid, cent)
    seeds = (
        emb.select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_PQ_K)
    )
    wseed = W.orderBy("h", "vec_id")
    seed_cid = seeds.select(
        "vec_id", (F.row_number().over(wseed) - 1).alias("cid")
    )
    cb0 = (
        sv.join(seed_cid, "vec_id")
        .select("sub", "cid", F.col("sv").alias("cent"))
        # the seed codebook (_PQ_K x _PQ_SUB rows) feeds both the Lloyd
        # assignment and the empty-cell fallback: checkpoint so the
        # vec_id-only seed scans don't re-derive per branch (round-6
        # scan audit, 6 -> 2 embeddings scans)
        .localCheckpoint(eager=False)
    )

    def _argmin_code(cb: DataFrame, rows: DataFrame) -> DataFrame:
        """Nearest-centroid id per (vec_id, sub), Arrow-batched (round-9
        VERDICT item 6): the round-8 JVM higher-order fold scored 64
        centroids × 8 dims per row INTERPRETED (a measured 31.8 s
        constant at sf1); this version ships each (sub, salt) slice of
        the sub-vectors plus that subspace's packed codebook into ONE
        numpy argmin per cogroup task. The salt (vec_id mod _PQ_SALT)
        restores full-core parallelism despite there being only
        _PQ_SUB natural groups, and the tiny packed codebook is
        replicated across salts instead of riding every row through
        Arrow. Cost model: one linear shuffle of the (vec_id, sub, sv)
        rows — at 100 TB, PQ encode is a sampled-codebook map stage;
        here the codebook stays a DataFrame (never driver-collected)
        and the shuffle is the price of keeping it distributed.
        Determinism: distances are exact sums of (x−y)² on the 2^20
        integer grid for the seed codebook, and bit-reproducible
        float64 for refined (mean) centroids; numpy argmin returns the
        LOWEST index among ties, matching the old (d2, cid) sort."""
        packed = cb.groupBy("sub").agg(
            F.array_sort(F.collect_list(F.struct("cid", "cent"))).alias("cents")
        )
        salted_cb = packed.select(
            "sub",
            F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias("salt"),
            "cents",
        )
        salted_rows = rows.select(
            "vec_id",
            "sub",
            "sv",
            F.pmod(F.col("vec_id"), F.lit(salt_n)).cast("int").alias("salt"),
        )
        return (
            salted_rows.groupBy("sub", "salt")
            .cogroup(salted_cb.groupBy("sub", "salt"))
            .applyInPandas(
                _pq_argmin_batch, "vec_id long, sub int, sv array<double>, code int"
            )
        )

    # one Lloyd refinement: per-(sub, cid, pos) means over assignments
    assign0 = _argmin_code(cb0, sv)
    upd = (
        assign0.select(
            "sub", "code", F.posexplode("sv").alias("pos", "val")
        )
        .groupBy("sub", "code", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("sub", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "sub",
            F.col("code").alias("cid"),
            F.transform("pm", lambda p: p["m"]).alias("cent"),
        )
    )
    # empty cells keep their seed centroid
    cb1 = (
        cb0.alias("z")
        .join(upd.alias("u"), ["sub", "cid"], "left")
        .select("sub", "cid", F.coalesce(F.col("u.cent"), F.col("z.cent")).alias("cent"))
        # three consumers (encode argmin, probe LUT, centroid norms)
        .localCheckpoint(eager=False)
    )
    codes = _argmin_code(cb1, sv).select("vec_id", "sub", "code")

    # probe LUT: exact probe sub-vectors x refined codebook
    probes = sv.filter(F.col("vec_id") < _N_PROBES)
    pnorm = (
        q.filter(F.col("vec_id") < _N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.sqrt(_dot_d(F.col("qe"), F.col("qe"))).alias("pn"),
        )
    )
    lut = (
        probes.join(F.broadcast(cb1), "sub")
        .select(
            F.col("vec_id").alias("probe_id"),
            "sub",
            F.col("cid").alias("code"),
            _dot_d(F.col("sv"), F.col("cent")).alias("pdot"),
        )
    )
    cent_n2 = cb1.select(
        "sub", F.col("cid").alias("code"), _dot_d(F.col("cent"), F.col("cent")).alias("cn2")
    )
    contrib = (
        codes.join(F.broadcast(cent_n2), ["sub", "code"])
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("probe_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("pdot").alias("dot_hat"), F.sum("cn2").alias("cn2_sum"))
    )
    scored = (
        contrib.join(F.broadcast(pnorm), "probe_id")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            # try_divide: zero-norm probes/candidates (legal) have no
            # defined reconstructed cosine
            F.try_divide(
                F.col("dot_hat"), F.col("pn") * F.sqrt(F.col("cn2_sum"))
            ).alias("cos_hat"),
        )
    )
    wk = W.partitionBy("probe_id").orderBy(F.col("cos_hat").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "probe_id",
            "cand_id",
            (F.floor(F.col("cos_hat") * 1_000_000.0) / 1_000_000.0).alias("score"),
        )
    )


def _dot_d(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over already-double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


# --- MMR diversity re-ranking --------------------------------------------------

_MMR_POOL = 8  # relevance pool per probe fed to the greedy selector
_MMR_K = 3  # picks per probe
_MMR_LAMBDA = 0.7  # relevance weight; (1 - λ) penalizes redundancy


def _mmr_greedy(pdf):
    """Per-probe greedy MMR over the ≤_MMR_POOL-candidate pool: pick
    argmax(λ·rel − (1−λ)·max_{s∈selected} cos(c, s)), ties to the lower
    cand_id; the first pick's score is λ·rel (empty diversity term).
    Pure Python over ≤8 rows — the pool is the bounded object, the
    corpus-scale work already happened in the relevance stage. Float
    discipline: dots are exact integer-grid sums; sqrt/×/−/÷ are single
    correctly-rounded IEEE steps, bit-equal to the unrolled SQL."""
    import math

    import numpy as np
    import pandas as pd

    rows = [
        (
            int(r.cand_id),
            float(r.rel),
            np.asarray(r.cqe, dtype=np.float64),
            float(r.cn2),
        )
        for r in pdf.itertuples()
    ]
    out = []
    selected = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for cand_id, rel, qe, cn2 in rows:
            if any(cand_id == s[0] for s in selected):
                continue
            div = None
            for s_id, s_qe, s_cn2 in selected:
                c = float(qe @ s_qe) / (math.sqrt(cn2) * math.sqrt(s_cn2))
                div = c if div is None else max(div, c)
            score = (
                _MMR_LAMBDA * rel
                if div is None
                else _MMR_LAMBDA * rel - (1.0 - _MMR_LAMBDA) * div
            )
            if best is None or (-score, cand_id) < (-best[0], best[1]):
                best = (score, cand_id, qe, cn2)
        if best is None:
            break
        selected.append((best[1], best[2], best[3]))
        out.append(
            (
                int(pdf["probe_id"].iloc[0]),
                rank,
                best[1],
                math.floor(best[0] * 1_000_000.0) / 1_000_000.0,
            )
        )
    return pd.DataFrame(out, columns=["probe_id", "rank", "cand_id", "mmr_q6"])


_MMR_ORACLE = f"""
WITH q AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[], x -> floor(x * 1048576.0)) AS qe
           FROM embeddings),
n AS (SELECT vec_id, qe, list_dot_product(qe, qe) AS n2 FROM q),
rel AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, c.qe AS cqe, c.n2 AS cn2,
         list_dot_product(p.qe, c.qe) / (sqrt(p.n2) * sqrt(c.n2)) AS rel
  FROM n p JOIN n c ON c.vec_id <> p.vec_id
  WHERE p.vec_id < {_N_PROBES} AND p.n2 > 0 AND c.n2 > 0),
pool AS (
  SELECT * FROM (SELECT rel.*, row_number() OVER
                   (PARTITION BY probe_id ORDER BY rel DESC, cand_id) AS rn
                 FROM rel)
  WHERE rn <= {_MMR_POOL}),
s1 AS (SELECT probe_id, cand_id AS id1, cqe AS qe1, cn2 AS cn21,
              {_MMR_LAMBDA} * rel AS score1
       FROM pool WHERE rn = 1),
m2 AS (
  SELECT t.probe_id, t.cand_id, t.cqe, t.cn2, t.rel,
         {_MMR_LAMBDA} * t.rel - {1.0 - _MMR_LAMBDA} *
           (list_dot_product(t.cqe, s.qe1) / (sqrt(t.cn2) * sqrt(s.cn21))) AS score
  FROM pool t JOIN s1 s ON s.probe_id = t.probe_id AND t.cand_id <> s.id1),
s2 AS (SELECT probe_id, cand_id AS id2, cqe AS qe2, cn2 AS cn22, score AS score2
       FROM (SELECT m2.*, row_number() OVER
               (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn2 FROM m2)
       WHERE rn2 = 1),
m3 AS (
  SELECT t.probe_id, t.cand_id,
         {_MMR_LAMBDA} * t.rel - {1.0 - _MMR_LAMBDA} * GREATEST(
           list_dot_product(t.cqe, a.qe1) / (sqrt(t.cn2) * sqrt(a.cn21)),
           list_dot_product(t.cqe, b.qe2) / (sqrt(t.cn2) * sqrt(b.cn22))) AS score
  FROM pool t
  JOIN s1 a ON a.probe_id = t.probe_id AND t.cand_id <> a.id1
  JOIN s2 b ON b.probe_id = t.probe_id AND t.cand_id <> b.id2),
s3 AS (SELECT probe_id, cand_id AS id3, score AS score3
       FROM (SELECT m3.*, row_number() OVER
               (PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn3 FROM m3)
       WHERE rn3 = 1)
SELECT probe_id, CAST(1 AS INTEGER) AS rank, CAST(id1 AS BIGINT) AS cand_id,
       floor(score1 * 1000000.0) / 1000000.0 AS mmr_q6
FROM s1
UNION ALL
SELECT probe_id, CAST(2 AS INTEGER), CAST(id2 AS BIGINT),
       floor(score2 * 1000000.0) / 1000000.0 FROM s2
UNION ALL
SELECT probe_id, CAST(3 AS INTEGER), CAST(id3 AS BIGINT),
       floor(score3 * 1000000.0) / 1000000.0 FROM s3
"""


@register("sim_mmr_rerank", oracle=_MMR_ORACLE, tags=("llm", "similarity"))
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    after exact cosine retrieval fills an 8-candidate pool per
    probe, a greedy selector picks 3 results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    standard diversity re-rank between retrieval and prompt assembly
    (dedups near-identical passages that all scored high).

    Scale shape: the corpus-scale work is the relevance stage — the
    same broadcast-probes × streamed-candidates zero-big-shuffle plan
    as sim_topk_cosine, with a per-probe window keeping the top
    8. The greedy loop then runs on the BOUNDED pool (≤8
    rows/probe) inside one Arrow-batched applyInPandas — at 100 TB the
    pool rows per probe are constant, so re-rank cost is O(probes), not
    corpus-bound. Determinism: embeddings on the 2^20 integer grid make
    every dot exact; sqrt/×/−/÷ are correctly-rounded IEEE doubles on
    both engines; ties break to the lower cand_id. The oracle unrolls
    the 3 greedy steps as chained CTEs — full rows+schema+hash
    parity on an ITERATIVE algorithm."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS DOUBLE))"
        ).alias("qe"),
    )
    n = q.select("vec_id", "qe", _dot_d(F.col("qe"), F.col("qe")).alias("n2"))
    probes = n.filter((F.col("vec_id") < _N_PROBES) & (F.col("n2") > 0)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qe").alias("pqe"),
        F.col("n2").alias("pn2"),
    )
    cands = n.filter(F.col("n2") > 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("qe").alias("cqe"),
        F.col("n2").alias("cn2"),
    )
    rel = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            "cqe",
            "cn2",
            F.try_divide(
                _dot_d(F.col("pqe"), F.col("cqe")),
                F.sqrt(F.col("pn2")) * F.sqrt(F.col("cn2")),
            ).alias("rel"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("rel").desc(), F.col("cand_id"))
    pool = rel.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _MMR_POOL
    )
    return pool.groupBy("probe_id").applyInPandas(
        _mmr_greedy, "probe_id long, rank int, cand_id long, mmr_q6 double"
    )


_OUT_SCALE = 1048576  # 2^20 int grid (same as coreset/logreg)
_OUT_TOPK = 5


@register(
    "embed_label_outliers",
    oracle=f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], x -> floor(x * {_OUT_SCALE})) AS qe
  FROM embeddings
), m AS (
  SELECT label, CAST(i AS BIGINT) AS dim, CAST(qe[i] AS BIGINT) AS qx
  FROM (SELECT label, qe, unnest(range(1, len(qe) + 1)) AS i FROM v)
), g AS (
  SELECT label, dim, CAST(SUM(qx) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM m GROUP BY label, dim
), c AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cent FROM g
  GROUP BY label
), d AS (
  SELECT v.vec_id, v.label,
         list_reduce(list_transform(range(1, len(v.qe) + 1),
                     i -> (v.qe[i] - c.cent[i]) * (v.qe[i] - c.cent[i])),
                     (x, y) -> x + y) AS dist2
  FROM v JOIN c USING (label)
), r AS (
  SELECT label, vec_id, CAST(floor(dist2) AS BIGINT) AS dist2_floor,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist2 DESC, vec_id) AS rn
  FROM d
)
SELECT label, vec_id, CAST(rn AS BIGINT) AS rank, dist2_floor
FROM r WHERE rn <= {_OUT_TOPK}
""",
    tags=("llm", "similarity", "ml"),
)
def embed_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspected-mislabel detection: the top-5 vectors per label
    farthest from their own label centroid in embedding space — the
    standard curation screen for noisy classification data. Exactness:
    embeddings snap to the 2^20 integer grid, centroids are exact
    int64 dimension sums divided once, and each vector's squared
    distance folds over dimensions in array order (identical
    left-fold on both engines). Shape: one posexplode →
    (label, dim)-keyed exact-sum aggregate → |labels| centroid arrays
    broadcast back to the vectors (no corpus-scale shuffle for the
    distance pass) → per-label top-k window over the scored table."""
    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.transform("embedding", lambda x: F.floor(x.cast("double") * _OUT_SCALE))
    v = emb.select("vec_id", "label", qe.alias("qe"))
    m = v.select("label", F.posexplode("qe").alias("dim0", "qx"))
    g = m.groupBy("label", (F.col("dim0") + 1).cast("long").alias("dim")).agg(
        F.sum("qx").cast("long").alias("s"), F.count("*").cast("long").alias("n")
    )
    c = g.groupBy("label").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct("dim", (F.col("s").cast("double") / F.col("n")).alias("cd"))
                )
            ),
            lambda t: t["cd"],
        ).alias("cent")
    )
    d = v.join(F.broadcast(c), "label").select(
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with("qe", "cent", lambda x, cd: (x - cd) * (x - cd)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("dist2"),
    )
    w = W.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _OUT_TOPK)
        .select(
            "label",
            "vec_id",
            F.col("rn").cast("long").alias("rank"),
            F.floor("dist2").cast("long").alias("dist2_floor"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental top-k maintenance (cf. "Incremental Based Framework for
# Efficient Top-K Similarity Search in Interactive Data Analysis
# Sessions", EDBT 2020): when a delta batch of candidates arrives, the
# new global top-k is merge(previous top-k, top-k over the delta) —
# the full candidate set is never rescanned. The oracle recomputes
# from scratch over base ∪ delta, proving merge ≡ recompute.

_INC_DELTA_MOD = 10  # vec_id % 10 == 0 -> the "newly arrived" delta batch


@register(
    "sim_incremental_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         list_dot_product(p.e, c.e) / (p.nrm * c.nrm) AS cos
  FROM v p JOIN v c ON c.vec_id != p.vec_id
  WHERE p.vec_id < {_N_PROBES}
)
SELECT probe_id, cand_id, floor(cos * 1000000.0) / 1000000.0 AS score
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cos DESC, cand_id) AS rn
      FROM scored)
WHERE rn <= {_TOP_K}
""",
    tags=("llm", "similarity", "incremental"),
)
def sim_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained exact top-k: candidates are split into
    a base corpus and a delta batch (vec_id % 10 == 0 —
    the rows that 'just arrived'); the result is the per-probe re-rank
    of UNION(top-k over base, top-k over delta), which equals the
    scratch recompute the oracle runs because the global top-k of a
    union is always contained in the union of per-part top-ks. At
    100 TB this is the interactive-session pattern: the base top-k is
    a k·|probes|-row table from the previous run, and only the delta
    is scored — work is O(|delta|) per refresh, not O(|corpus|)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    probes = v.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("nrm").alias("pn"),
    )
    is_delta = F.col("vec_id") % _INC_DELTA_MOD == 0

    def topk_over(cands):
        scored = (
            F.broadcast(probes)
            .crossJoin(
                cands.select(
                    F.col("vec_id").alias("cand_id"),
                    F.col("e").alias("ce"),
                    F.col("nrm").alias("cn"),
                )
            )
            .filter(F.col("cand_id") != F.col("probe_id"))
            .select(
                "probe_id",
                "cand_id",
                (F.try_divide(_dot(F.col("pe"), F.col("ce")), F.col("pn") * F.col("cn"))).alias(
                    "cos"
                ),
            )
        )
        w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _TOP_K)
            .select("probe_id", "cand_id", "cos")
        )

    merged = topk_over(v.filter(~is_delta)).unionByName(topk_over(v.filter(is_delta)))
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "probe_id",
            "cand_id",
            (F.floor(F.col("cos") * 1_000_000.0) / 1_000_000.0).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-space eval decontamination: the semantic companion to the
# n-gram pass (text_decontaminate in llm_quality.py) — n-gram overlap
# misses paraphrases; nearest-eval cosine catches them.

_DECON_COS_TAU = 0.30  # flags ~10% of this synthetic corpus (p90 of max-cos)
# The eval registry is a FIXED benchmark suite: real decontamination
# screens a growing corpus against a fixed eval set (MMLU does not get
# bigger when the crawl does), so its cost must grow LINEARLY in corpus
# size. Without this cap the synthetic %50 rule grows the eval slice
# with the corpus and the broadcast nested loop turns quadratic — the
# round-6 sf1 rehearsal measured 95x on 10x data; with the cap the same
# measurement is ~10x (SCALING.md). Every driver tier (sf<=0.1) has
# max vec_id < 2000, so results there are bit-identical with or
# without the cap.
_DECON_EVAL_MAX_ID = 2000


@register(
    "embed_decontaminate_cosine",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
s AS (
  SELECT t.vec_id, ev.vec_id AS eval_id,
         list_dot_product(t.e, ev.e) / (t.nrm * ev.nrm) AS cos
  FROM v t JOIN v ev ON ev.vec_id % 50 = 0 AND ev.vec_id < {_DECON_EVAL_MAX_ID}
                    AND ev.nrm > 0
  WHERE NOT (t.vec_id % 50 = 0 AND t.vec_id < {_DECON_EVAL_MAX_ID})
),
best AS (
  SELECT vec_id, eval_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, eval_id) AS rn
  FROM s
)
SELECT vec_id, CAST(eval_id AS BIGINT) AS nearest_eval_id,
       floor(cos * 1000000.0) / 1000000.0 AS cos_q6,
       cos >= {_DECON_COS_TAU} AS is_contaminated
FROM best WHERE rn = 1
""",
    tags=("llm", "similarity", "eval"),
)
def embed_decontaminate_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: every training vector (vec_id % 50
    != 0, the same held-out split text_decontaminate uses) scored by
    its maximum cosine against the eval slice; flagged when that
    exceeds τ=0.3. Output: nearest eval vector, quantized
    score, contamination flag.

    Scale shape: the eval slice is a FIXED registry (benchmark suites
    don't grow with the crawl — _DECON_EVAL_MAX_ID) and broadcasts;
    training vectors stream once through the broadcast
    nested-loop — no shuffle of the big side — so total cost is
    LINEAR in corpus size (sf1 rehearsal: 95x -> ~10x on 10x data
    after pinning the registry, SCALING.md), and the per-vector
    argmax is a map-side-combined min(struct(-cos, eval_id)) (the
    deterministic tiebreak the oracle's row_number ORDER BY pins). For
    an eval set too large to broadcast, the IVF route applies
    (sim_ann_ivf): cluster the eval side, probe nearest centroids
    only. Determinism: float32→double is exact, both engines fold the
    64-dim dot left-to-right, and the single divide and the τ compare
    are one IEEE op each — bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    # Zero-norm eval vectors are excluded (enrm > 0): cos against them
    # is NULL (try_divide), and Spark's min(struct) sorts a NULL field
    # FIRST while the oracle's ORDER BY cos DESC sorts NULLs LAST — a
    # degenerate eval vector would otherwise hijack every argmax
    # (round-6 ADVICE fix). A zero-norm TRAINING vector is fine: all
    # its cos are NULL on both sides and both engines tiebreak to the
    # min eval_id with NULL score.
    is_eval = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _DECON_EVAL_MAX_ID)
    ev = v.filter(is_eval & (F.col("nrm") > 0)).select(
        F.col("vec_id").alias("eval_id"),
        F.col("e").alias("ee"),
        F.col("nrm").alias("enrm"),
    )
    t = v.filter(~is_eval)
    cos = F.try_divide(_dot(F.col("e"), F.col("ee")), F.col("nrm") * F.col("enrm"))
    scored = t.crossJoin(F.broadcast(ev)).select(
        "vec_id", "eval_id", cos.alias("cos")
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("cos")).alias("nc"), F.col("eval_id").alias("i"))).alias("m"))
        .select(
            "vec_id",
            F.col("m.i").cast("long").alias("nearest_eval_id"),
            (-F.col("m.nc")).alias("cos"),
        )
    )
    return best.select(
        "vec_id",
        "nearest_eval_id",
        (F.floor(F.col("cos") * 1_000_000.0) / 1_000_000.0).alias("cos_q6"),
        (F.col("cos") >= _DECON_COS_TAU).alias("is_contaminated"),
    )


def _combined_oracle() -> str:
    from odns_dataimporter_spark.queries.llm_quality import _DECON_GRAMS

    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id, unnest({_DECON_GRAMS}) AS gram FROM t),
evg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
nh AS (SELECT g.doc_id, COUNT(*) AS n FROM g JOIN evg USING (gram)
       WHERE g.doc_id % 50 != 0 GROUP BY g.doc_id),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings),
es AS (SELECT tr.vec_id, max(list_dot_product(tr.e, ev.e) / (tr.nrm * ev.nrm)) AS mx
       FROM v tr JOIN v ev ON ev.vec_id % 50 = 0 AND ev.vec_id < {_DECON_EVAL_MAX_ID}
                          AND ev.nrm > 0
       WHERE NOT (tr.vec_id % 50 = 0 AND tr.vec_id < {_DECON_EVAL_MAX_ID})
       GROUP BY tr.vec_id),
base AS (SELECT doc_id FROM documents WHERE doc_id % 50 != 0)
SELECT b.doc_id,
       COALESCE(nh.n, 0) > 0 AS ngram_hit,
       COALESCE(es.mx >= {_DECON_COS_TAU}, FALSE) AS embed_hit,
       es.vec_id IS NOT NULL AS has_vector,
       CASE WHEN COALESCE(nh.n, 0) > 0 AND COALESCE(es.mx >= {_DECON_COS_TAU}, FALSE)
              THEN 'both'
            WHEN COALESCE(nh.n, 0) > 0 THEN 'ngram'
            WHEN COALESCE(es.mx >= {_DECON_COS_TAU}, FALSE) THEN 'embedding'
            ELSE 'clean' END AS verdict
FROM base b LEFT JOIN nh USING (doc_id) LEFT JOIN es ON es.vec_id = b.doc_id
"""


@register(
    "decontam_combined",
    oracle=_combined_oracle(),
    tags=("llm", "similarity", "eval"),
)
def decontam_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-modality eval decontamination verdict per training document:
    the n-gram pass (decontam_ngram — catches verbatim overlap) joined
    with the embedding pass (embed_decontaminate_cosine — catches
    paraphrase) into one of 'both' / 'ngram' / 'embedding' / 'clean',
    plus a has_vector flag because at sf≥0.1 the embeddings table
    covers only a prefix of the corpus (exactly the production
    situation: vectors lag the crawl). Each component is its own
    oracle-verified query; this composition stays one lazy plan — a
    doc-keyed left join of two already-aggregated sides, so the extra
    cost over the components is one |docs|-sized join."""
    from odns_dataimporter_spark.queries.llm_quality import decontam_ngram

    ng = decontam_ngram(spark, sf_dir).select(
        "doc_id", (F.col("is_contaminated") > 0).alias("ngram_hit")
    )
    em = embed_decontaminate_cosine(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("is_contaminated").alias("_embed_hit"),
        # row-presence marker: a zero-norm vector has a row but a NULL
        # contamination flag (NULL cosine), so has_vector must key off
        # the JOIN match, not flag nullity (zero-vector sweep, round 5)
        F.lit(True).alias("_has_vec"),
    )
    j = ng.join(em, "doc_id", "left")
    embed_hit = F.coalesce(F.col("_embed_hit"), F.lit(False))
    return j.select(
        "doc_id",
        "ngram_hit",
        embed_hit.alias("embed_hit"),
        F.coalesce(F.col("_has_vec"), F.lit(False)).alias("has_vector"),
        F.when(F.col("ngram_hit") & embed_hit, "both")
        .when(F.col("ngram_hit"), "ngram")
        .when(embed_hit, "embedding")
        .otherwise("clean")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Late-interaction retrieval scoring (Khattab & Zaharia 2020, ColBERT):
# documents and queries are BAGS of token vectors, and relevance is
# MaxSim — for each query token, the max cosine over the document's
# tokens, summed over query tokens. The shipped embeddings table models
# the multi-vector layout as 8 consecutive vec_ids per logical doc.

_MAXSIM_TOKS = 8      # token vectors per logical document
_MAXSIM_QDOCS = 4     # fixed query registry: docs 0..3 (vec_id < 32) —
#                       bounded by construction, never a fraction of the
#                       corpus (the round-6 scaling rule: a query set
#                       that grows with the data turns this linear
#                       broadcast loop quadratic)


@register(
    "sim_maxsim_late_interaction",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings
),
t AS (SELECT vec_id // {_MAXSIM_TOKS} AS doc, vec_id % {_MAXSIM_TOKS} AS tok,
             e, nrm
      FROM v WHERE nrm > 0),
q AS (SELECT doc AS q_doc, tok AS q_tok, e AS qe, nrm AS qn
      FROM t WHERE doc < {_MAXSIM_QDOCS}),
c AS (SELECT doc AS cand_doc, e AS ce, nrm AS cn FROM t),
m AS (SELECT c.cand_doc, q.q_doc, q.q_tok,
             MAX(list_dot_product(q.qe, c.ce) / (q.qn * c.cn)) AS mx
      FROM c JOIN q ON c.cand_doc <> q.q_doc
      GROUP BY c.cand_doc, q.q_doc, q.q_tok)
SELECT CAST(q_doc AS BIGINT) AS q_doc,
       CAST(cand_doc AS BIGINT) AS cand_doc,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(CAST(floor(mx * 1000000.0) AS BIGINT)) AS BIGINT) * 1.0
         / 1000000.0 AS maxsim_q6
FROM m GROUP BY q_doc, cand_doc
""",
    tags=("llm", "similarity"),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim late-interaction scoring: every corpus doc
    is a bag of 8 token vectors (consecutive vec_ids) and score(q, d)
    = sum over query tokens of (max over doc tokens of cosine). Shape:
    the FIXED query registry (≤ 32 token vectors) broadcasts; corpus
    token vectors stream once through the broadcast nested loop —
    linear in corpus size because the query side is bounded by id, not
    by fraction. The per-(cand, query-token) max is a map-side-combined
    hash aggregate keyed on (cand_doc, q_doc, q_tok) — max partials
    combine before the exchange — and the final per-pair score sums
    FLOOR-QUANTIZED integer micros (max of doubles is order-free;
    summing raw doubles across 8 terms would be order-sensitive and
    break cross-engine hashing). Zero-norm token vectors are filtered
    on BOTH sides before any division (the round-6 NULL-argmax
    lesson). At 100 TB the per-doc token count is the constant and the
    plan is one scan + one bounded-key shuffle; a PLAID-style
    centroid prefilter would compose in front as an extra filter."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    t = v.filter(F.col("nrm") > 0).select(
        F.expr(f"vec_id div {_MAXSIM_TOKS}").alias("doc"),
        (F.col("vec_id") % _MAXSIM_TOKS).alias("tok"),
        "e",
        "nrm",
    )
    q = t.filter(F.col("doc") < _MAXSIM_QDOCS).select(
        F.col("doc").alias("q_doc"),
        F.col("tok").alias("q_tok"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = t.select(
        F.col("doc").alias("cand_doc"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    m = (
        c.join(F.broadcast(q), F.col("cand_doc") != F.col("q_doc"))
        .groupBy("cand_doc", "q_doc", "q_tok")
        .agg(
            F.max(
                _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
            ).alias("mx")
        )
    )
    return m.groupBy("q_doc", "cand_doc").agg(
        F.count("*").cast("long").alias("n_terms"),
        (
            F.sum(F.floor(F.col("mx") * 1_000_000.0).cast("long")).cast("long")
            * 1.0
            / 1_000_000.0
        ).alias("maxsim_q6"),
    ).select(
        F.col("q_doc").cast("long").alias("q_doc"),
        F.col("cand_doc").cast("long").alias("cand_doc"),
        "n_terms",
        "maxsim_q6",
    )


_COV_DIM = 64  # embedding dimensionality (fixed by the table schema)


@register(
    "embed_covariance",
    oracle=f"""
WITH q AS (
  SELECT list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
p AS (
  SELECT gi.i AS i, gj.j AS j,
         list_extract(qv, gi.i) AS xi, list_extract(qv, gj.j) AS xj
  FROM q, generate_series(1, {_COV_DIM}) gi(i),
          generate_series(1, {_COV_DIM}) gj(j)
  WHERE gj.j >= gi.i
),
g AS (SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xi * xj) AS BIGINT) AS sxy
      FROM p GROUP BY 1, 2),
m AS (SELECT CAST(gs.i - 1 AS BIGINT) AS i,
             CAST(SUM(list_extract(qv, gs.i)) AS BIGINT) AS s
      FROM q, generate_series(1, {_COV_DIM}) gs(i) GROUP BY 1)
SELECT g.i, g.j, g.n,
       floor(((CAST(g.sxy AS DOUBLE) / 1000000000000.0)
              - (CAST(mi.s AS DOUBLE) / 1000000.0)
                * (CAST(mj.s AS DOUBLE) / 1000000.0) / g.n) / g.n
             * 1000000.0) / 1000000.0 AS cov_q6
FROM g JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j
""",
    tags=("llm", "embedding"),
)
def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical covariance matrix of the embedding corpus (upper
    triangle, d(d+1)/2 = 2080 cells at d=64) — the statistic behind
    whitening, PCA initialisation, Mahalanobis outlier gates, and
    drift monitors over embedding spaces. Shape: the Gram sums Σxᵢxⱼ
    come from a double posexplode whose 64·64 rows per vector are
    map-side combined down to ≤ d² partial cells per partition BEFORE
    the one tiny shuffle (the same collapse MLlib's RowMatrix Gramian
    uses), and the per-dimension sums are a second 64-row aggregate
    broadcast back twice; the corpus is never shuffled row-wise.
    Determinism: coordinates are floor-quantized to integer micros
    FIRST, so Σxᵢxⱼ and Σxᵢ are exact int64 on both engines (population
    covariance = Sxy/1e12/n − mean·mean then one floor-q6; doubles
    enter once, identical tree). At 100 TB the explode factor d² is
    the knob — for d ≥ 512 switch to per-partition numpy Gram via
    mapInArrow (the sim_knn_graph block pattern); this declarative
    form is the oracle-able twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv")
    )
    a = q.select(F.posexplode("qv").alias("i", "xi"), "qv")
    b = a.select(
        F.col("i").cast("long").alias("i"),
        "xi",
        F.posexplode("qv").alias("j", "xj"),
    ).filter(F.col("j") >= F.col("i"))
    g = b.groupBy("i", F.col("j").cast("long").alias("j")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("xi") * F.col("xj")).cast("long").alias("sxy"),
    )
    m = (
        q.select(F.posexplode("qv").alias("i", "xi"))
        .groupBy(F.col("i").cast("long").alias("i"))
        .agg(F.sum("xi").cast("long").alias("s"))
    )
    mi = m.select(F.col("i").alias("mi_i"), F.col("s").alias("si"))
    mj = m.select(F.col("i").alias("mj_i"), F.col("s").alias("sj"))
    cov = (
        (
            F.col("sxy").cast("double") / 1_000_000_000_000.0
            - (F.col("si").cast("double") / 1_000_000.0)
            * (F.col("sj").cast("double") / 1_000_000.0)
            / F.col("n")
        )
        / F.col("n")
    )
    return (
        g.join(F.broadcast(mi), F.col("i") == F.col("mi_i"))
        .join(F.broadcast(mj), F.col("j") == F.col("mj_i"))
        .select(
            "i",
            "j",
            "n",
            (F.floor(cov * 1_000_000.0) / 1_000_000.0).alias("cov_q6"),
        )
    )


_PCA_ITERS = 12  # fixed power-iteration count (determinism over adaptivity)


def _cov_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full d x d covariance grid (i, j, n, cov DOUBLE) from the same
    quantize-then-exact-int-sums derivation as `embed_covariance`
    (which emits the floor-q6 upper triangle; this keeps raw doubles
    for downstream linear algebra)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv")
    )
    a = q.select(F.posexplode("qv").alias("i", "xi"), "qv")
    b = a.select(
        F.col("i").cast("long").alias("i"),
        "xi",
        F.posexplode("qv").alias("j", "xj"),
    )
    g = b.groupBy("i", F.col("j").cast("long").alias("j")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("xi") * F.col("xj")).cast("long").alias("sxy"),
    )
    m = (
        q.select(F.posexplode("qv").alias("i", "xi"))
        .groupBy(F.col("i").cast("long").alias("i"))
        .agg(F.sum("xi").cast("long").alias("s"))
    )
    mi = m.select(F.col("i").alias("mi_i"), F.col("s").alias("si"))
    mj = m.select(F.col("i").alias("mj_i"), F.col("s").alias("sj"))
    cov = (
        F.col("sxy").cast("double") / 1_000_000_000_000.0
        - (F.col("si").cast("double") / 1_000_000.0)
        * (F.col("sj").cast("double") / 1_000_000.0)
        / F.col("n")
    ) / F.col("n")
    return (
        g.join(F.broadcast(mi), F.col("i") == F.col("mi_i"))
        .join(F.broadcast(mj), F.col("j") == F.col("mj_i"))
        .select("i", "j", "n", cov.alias("cov"))
    )


_PCA_COV_SQL = f"""
q AS (
  SELECT list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
p AS (
  SELECT gi.i AS i, gj.j AS j,
         list_extract(qv, gi.i) AS xi, list_extract(qv, gj.j) AS xj
  FROM q, generate_series(1, {_COV_DIM}) gi(i),
          generate_series(1, {_COV_DIM}) gj(j)
),
g AS (SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xi * xj) AS BIGINT) AS sxy
      FROM p GROUP BY 1, 2),
mns AS (SELECT CAST(gs.i - 1 AS BIGINT) AS i,
               CAST(SUM(list_extract(qv, gs.i)) AS BIGINT) AS s
        FROM q, generate_series(1, {_COV_DIM}) gs(i) GROUP BY 1),
fc AS (
  SELECT g.i, g.j,
         (CAST(g.sxy AS DOUBLE) / 1000000000000.0
          - (CAST(mi.s AS DOUBLE) / 1000000.0)
            * (CAST(mj.s AS DOUBLE) / 1000000.0) / g.n) / g.n AS cov
  FROM g JOIN mns mi ON mi.i = g.i JOIN mns mj ON mj.i = g.j
),
mat AS (
  SELECT list(rw ORDER BY i) AS mm
  FROM (SELECT i, list(cov ORDER BY j) AS rw FROM fc GROUP BY i)
)
"""

_PCA_MATVEC = "list_transform(mat.mm, row -> list_dot_product(row, v))"


@register(
    "embed_pca_power",
    oracle=f"""
WITH RECURSIVE
{_PCA_COV_SQL},
pow(k, v) AS (
  SELECT 0, list_transform(range(1, {_COV_DIM} + 1), x -> CAST(1.0 AS DOUBLE))
  UNION ALL
  SELECT k + 1,
         list_transform({_PCA_MATVEC},
           x -> x / sqrt(list_dot_product({_PCA_MATVEC}, {_PCA_MATVEC})))
  FROM pow, mat WHERE k < {_PCA_ITERS}
),
fin AS (SELECT v FROM pow WHERE k = {_PCA_ITERS})
SELECT CAST(gs.i - 1 AS BIGINT) AS dim,
       floor(list_extract(fin.v, gs.i) * 1000000.0) / 1000000.0
         AS loading_q6,
       floor(list_dot_product(fin.v, {_PCA_MATVEC.replace("v)", "fin.v)")})
             * 1000000000.0) / 1000000000.0 AS eigenvalue_q9
FROM fin, mat, generate_series(1, {_COV_DIM}) gs(i)
""",
    tags=("llm", "embedding"),
)
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via power
    iteration on the covariance matrix — PCA initialisation /
    dominant-drift-direction extraction, and the engine's iterative
    linear-algebra entry beside graph PageRank and k-means. A FIXED
    {12}-step iteration (determinism over adaptive stopping) on the
    d x d grid from `_cov_cells` (same exact-integer-sums derivation
    as `embed_covariance`): v ← normalize(C·v) with an all-ones start.
    Scale shape: the corpus collapses to the d² covariance cells once
    (map-side combined); every iteration is a d²-row matvec — a
    broadcast-scale join-aggregate that never touches the corpus
    again, checkpointed per step so the plan stays constant-size (the
    graph_pagerank discipline). Determinism: the matvec and the norm
    are sequential folds / list_dot_product on DOUBLE[] (bit-identical
    across engines, verified for the cosine family); try_divide guards
    the zero-matrix degenerate where DuckDB float division yields
    NULL. Output: 64 loadings (floor-q6, sign fixed by the all-ones
    start) + the Rayleigh-quotient eigenvalue at q9."""
    fc = _cov_cells(spark, sf_dir)
    rows = fc.groupBy("i").agg(
        F.array_sort(F.collect_list(F.struct("j", "cov"))).alias("p")
    ).select("i", F.transform("p", lambda x: x["cov"]).alias("rw"))
    mat = (
        rows.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("i", "rw"))).alias("pp"))
        .select(F.transform("pp", lambda x: x["rw"]).alias("mm"))
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, u: acc + u,
        )

    def matvec(acc):
        return F.transform(F.col("mm"), lambda row: dot(row, acc))

    # all iterations inside ONE fold over a dummy step list: the step
    # lambda compiles once (no per-iteration plan analysis, no
    # checkpoints). The matvec and the norm are LET-BOUND via the
    # single-element-array idiom (the winnow lesson) so each evaluates
    # once per step; the oracle recomputes them inline — pure doubles,
    # bit-identical either way.
    def step(acc, _):
        return F.element_at(
            F.transform(
                F.array(matvec(acc)),
                lambda w: F.element_at(
                    F.transform(
                        F.array(F.sqrt(dot(w, w))),
                        lambda nrm: F.transform(
                            w, lambda x: F.try_divide(x, nrm)
                        ),
                    ),
                    1,
                ),
            ),
            1,
        )

    cur = mat.select(
        "mm",
        F.aggregate(
            F.array_repeat(F.lit(0), _PCA_ITERS),
            F.array_repeat(F.lit(1.0), _COV_DIM),
            step,
        ).alias("v"),
    )
    fin = cur.select(
        "v",
        F.transform("mm", lambda row: dot(row, F.col("v"))).alias("cv"),
    )
    out = fin.select(
        F.posexplode("v").alias("dim0", "loading"),
        dot(F.col("v"), F.col("cv")).alias("eig"),
    )
    return out.select(
        F.col("dim0").cast("long").alias("dim"),
        (F.floor(F.col("loading") * 1_000_000.0) / 1_000_000.0).alias(
            "loading_q6"
        ),
        (F.floor(F.col("eig") * 1_000_000_000.0) / 1_000_000_000.0).alias(
            "eigenvalue_q9"
        ),
    )


from odns_dataimporter_spark.queries.llm_text import (  # noqa: E402
    _BM25_TERMS_SQL as _RRF_TERMS_SQL,
)

_RRF_K = 60  # standard reciprocal-rank-fusion constant
_RRF_DEPTH = 20  # per-ranker candidate depth
_RRF_TOPK = 10


@register(
    "sim_rrf_fusion",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM d),
tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               unnest(toks) AS token FROM d),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
              CAST(MAX(dl) AS BIGINT) AS dl
       FROM tok WHERE token IN ({_RRF_TERMS_SQL})
       GROUP BY doc_id, token),
idf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
sc AS (
  SELECT tf.doc_id,
         CAST(floor(ln(1.0 + (CAST(st.n_docs - idf.df AS DOUBLE) + 0.5)
                           / (CAST(idf.df AS DOUBLE) + 0.5))
              * (tf.tf * CAST(2.2 AS DOUBLE))
              / (tf.tf + CAST(1.2 AS DOUBLE)
                 * (1.0 - CAST(0.75 AS DOUBLE)
                    + CAST(0.75 AS DOUBLE) * tf.dl
                      / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))
              * 1000000.0) AS BIGINT) AS micro
  FROM tf JOIN idf USING (token) CROSS JOIN st),
bm AS (SELECT doc_id, CAST(SUM(micro) AS BIGINT) AS sm
       FROM sc GROUP BY doc_id),
bmr AS (SELECT doc_id,
               CAST(row_number() OVER (ORDER BY sm DESC, doc_id) AS BIGINT)
                 AS r_bm25
        FROM bm QUALIFY r_bm25 <= {_RRF_DEPTH}),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings),
pr AS (SELECT e AS pe, nrm AS pn FROM v WHERE vec_id = 0),
cs AS (SELECT c.vec_id AS doc_id,
             list_dot_product(pr.pe, c.e) / (pr.pn * c.nrm) AS cos
      FROM v c, pr WHERE c.vec_id != 0 AND c.nrm > 0 AND pr.pn > 0),
csr AS (SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
                 AS r_cos
        FROM cs QUALIFY r_cos <= {_RRF_DEPTH}),
fused AS (
  SELECT COALESCE(bmr.doc_id, csr.doc_id) AS doc_id, bmr.r_bm25, csr.r_cos,
         COALESCE(1.0 / ({_RRF_K} + bmr.r_bm25), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + csr.r_cos), 0.0) AS rrf
  FROM bmr FULL OUTER JOIN csr USING (doc_id)
)
SELECT doc_id, r_bm25, r_cos,
       floor(rrf * 1000000000.0) / 1000000000.0 AS rrf_q9
FROM fused
ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
""",
    tags=("llm", "similarity", "text"),
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of a lexical and a
    dense ranking — the hybrid-search backbone every modern RAG stack
    runs: BM25 top-20 for the fixed query-term registry (identical
    scoring chain to `text_bm25_topk`) fused with cosine top-20
    against a FIXED probe embedding (vec_id 0), RRF = Σ 1/(60 + rank).
    Documents absent from one ranking simply contribute no term (full
    outer join; at sf ≥ 0.1 the embedding table covers only part of
    the corpus, so the asymmetry is exercised, not vacuous). Scale
    shape: both rankers are bounded-depth TakeOrdered outputs of
    linear passes (BM25: filtered explode + one (doc, term) shuffle;
    cosine: broadcast 1-row probe, corpus streams once); the fusion
    join touches ≤ 2·depth rows. Determinism: ranks from unique
    (score, id) orders; the fused score is a FIXED two-term expression
    of integer-denominator reciprocals — no order-sensitive
    aggregation — floor-q9."""
    from odns_dataimporter_spark.queries.llm_text import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
        _bm25_substrate,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats, tf = _bm25_substrate(docs, _BM25_TERMS)
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = (
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0)
                - F.lit(_BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / avgdl
            )
        )
    )
    bm = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(stats)
        .select(
            "doc_id",
            F.floor(score * 1_000_000.0).cast("long").alias("micro"),
        )
        .groupBy("doc_id")
        .agg(F.sum("micro").cast("long").alias("sm"))
    )
    bmr = (
        bm.select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("sm"), "doc_id"))
            .cast("long")
            .alias("r_bm25"),
        )
        .filter(F.col("r_bm25") <= _RRF_DEPTH)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    pr = v.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("pe"), F.col("nrm").alias("pn")
    )
    cs = (
        v.filter((F.col("vec_id") != 0) & (F.col("nrm") > 0))
        .crossJoin(F.broadcast(pr.filter(F.col("pn") > 0)))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                _dot(F.col("pe"), F.col("e")) / (F.col("pn") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    csr = (
        cs.select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("cos"), "doc_id"))
            .cast("long")
            .alias("r_cos"),
        )
        .filter(F.col("r_cos") <= _RRF_DEPTH)
    )
    fused = bmr.join(csr, "doc_id", "full_outer").select(
        "doc_id",
        "r_bm25",
        "r_cos",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("r_cos")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOPK)
        .select(
            "doc_id",
            "r_bm25",
            "r_cos",
            (F.floor(F.col("rrf") * 1_000_000_000.0) / 1_000_000_000.0).alias(
                "rrf_q9"
            ),
        )
    )


_MRL_DIMS = (8, 16, 32, 64)  # matryoshka truncation prefixes


@register(
    "embed_matryoshka_recall",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _MRL_DIMS)}]) AS k),
s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, ks.k,
         list_dot_product(p.e[1:ks.k], c.e[1:ks.k])
           / (sqrt(list_dot_product(p.e[1:ks.k], p.e[1:ks.k]))
              * sqrt(list_dot_product(c.e[1:ks.k], c.e[1:ks.k]))) AS cos
  FROM v p JOIN v c ON c.vec_id != p.vec_id CROSS JOIN ks
  WHERE p.vec_id < {_N_PROBES}
    AND list_dot_product(p.e[1:ks.k], p.e[1:ks.k]) > 0
    AND list_dot_product(c.e[1:ks.k], c.e[1:ks.k]) > 0
),
top1 AS (
  SELECT probe_id, k, CAST(MIN([-cos, CAST(cand_id AS DOUBLE)])[2] AS BIGINT)
           AS best
  FROM s GROUP BY probe_id, k
),
ref AS (SELECT probe_id, best AS full_best FROM top1 WHERE k = {_MRL_DIMS[-1]})
SELECT CAST(t.k AS BIGINT) AS trunc_dim,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN t.best = ref.full_best THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       floor(CAST(SUM(CASE WHEN t.best = ref.full_best THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 1000000.0) / 1000000.0
         AS recall1_q6
FROM top1 t JOIN ref USING (probe_id)
GROUP BY t.k
""",
    tags=("llm", "embedding", "similarity"),
)
def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022, the MRL
    deployment question): for each prefix length k ∈ {8,16,32,64},
    how often does top-1 cosine retrieval over the TRUNCATED embedding
    agree with full-dimension retrieval — the measurement that decides
    how many dimensions the serving index actually needs (4x-8x index
    shrink if recall holds). Shape: probes are a fixed bounded set
    (broadcast), the corpus streams ONCE through a 4-row truncation
    registry cross join; per-(probe, k) argmax is a map-side-combined
    min-struct (the sim_ann_ivf discipline), and zero-norm truncated
    prefixes are filtered on BOTH engines before the argmax so the
    min-struct never sees a NULL sort key (the round-6 NULL-argmax
    lesson). Scores are the fold/list_dot_product doubles that are
    bit-identical across engines; the recall division is one
    floor-q6."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _MRL_DIMS])).alias("k")
    )

    def dotd(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, u: acc + u,
        )

    # truncate + norm ONCE per (vector, k) — the pair loop below then
    # costs a single dot per row instead of re-slicing/re-norming both
    # sides per pair (5x fewer interpreted HOF folds; values identical
    # because the norm is the same fold either way)
    ek = F.slice(F.col("e"), 1, F.col("k").cast("int"))
    vk = (
        v.crossJoin(ks)
        .select(
            "vec_id",
            "k",
            ek.alias("ek"),
            F.sqrt(dotd(ek, ek)).alias("nk"),
        )
        .filter(F.col("nk") > 0)
    )
    probes = vk.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("k").alias("k"),
        F.col("ek").alias("pk"),
        F.col("nk").alias("pn"),
    )
    s = (
        vk.join(F.broadcast(probes), "k")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            "k",
            (dotd(F.col("pk"), F.col("ek")) / (F.col("pn") * F.col("nk"))).alias(
                "cos"
            ),
        )
    )
    top1 = (
        s.groupBy("probe_id", "k")
        .agg(
            F.min(
                F.array((-F.col("cos")), F.col("cand_id").cast("double"))
            )[1]
            .cast("long")
            .alias("best")
        )
        # |probes|x|ks| rows feeding two consumers (ref + final join):
        # checkpoint so the corpus pass runs once
        .localCheckpoint(eager=False)
    )
    ref = top1.filter(F.col("k") == _MRL_DIMS[-1]).select(
        "probe_id", F.col("best").alias("full_best")
    )
    return (
        top1.join(F.broadcast(ref), "probe_id")
        .groupBy(F.col("k").cast("long").alias("trunc_dim"))
        .agg(
            F.count("*").cast("long").alias("n_probes"),
            F.sum(
                F.when(F.col("best") == F.col("full_best"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_match"),
        )
        .select(
            "trunc_dim",
            "n_probes",
            "n_match",
            (
                F.floor(
                    F.col("n_match").cast("double")
                    / F.col("n_probes")
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("recall1_q6"),
        )
    )


# --- Johnson–Lindenstrauss random projection --------------------------------

_RP_K = 8  # target dimensionality
_RP_DIM = 64


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 Rademacher sign matrix, k rows × d columns,
    derived from md5 so both engines (and every executor) see the SAME
    projection without shipping state: sign(j,i) = +1 iff the first 8
    hex digits of md5('rp|j|i') are even. Generated driver-side ONCE
    and embedded as literals — zero per-row hashing."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp|{j}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(_RP_DIM)
        ]
        for j in range(_RP_K)
    ]


_RP_SIGNS = _rp_signs()


def _rp_proj_sql(j: int) -> str:
    s = "list_value(" + ", ".join(str(v) for v in _RP_SIGNS[j]) + ")"
    return (
        f"CAST(list_sum(list_transform(list_zip(qv, {s}), "
        f"z -> z[1] * z[2])) AS BIGINT)"
    )


@register(
    "embed_random_projection",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
p AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm2,
         {", ".join(f"{_rp_proj_sql(j)} AS p{j}" for j in range(_RP_K))}
  FROM q
)
SELECT vec_id, qnorm2,
       CAST({" + ".join(f"p{j} * p{j}" for j in range(_RP_K))} AS BIGINT)
         AS pnorm2,
       CASE WHEN qnorm2 = 0 THEN NULL
            ELSE floor(CAST({" + ".join(f"p{j} * p{j}" for j in range(_RP_K))}
                       AS DOUBLE) / qnorm2 * {float(_RP_DIM) / _RP_K}
                       * 1000000.0) / 1000000.0
       END AS distortion_q6
FROM p
""",
    tags=("llm", "embedding", "similarity"),
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection (Achlioptas ±1
    variant): project every embedding from d=64 to k=8 with a FIXED
    Rademacher sign matrix and report the per-vector norm distortion
    (‖Px‖²/k)/(‖x‖²/d) — the sketch that makes downstream ANN /
    clustering / dedup distance work k/d cheaper while JL bounds the
    metric error. Shape: the sign matrix is a driver-side constant
    folded into the plan (no per-row hashing, no shuffle, no
    broadcast join — the projection is a pure map, the ideal 100 TB
    operator); coordinates floor-quantize to integer micros first so
    each projection p_j = Σᵢ qᵢ·sᵢⱼ and both norms are EXACT int64
    (order-free), and the single distortion division is the only
    float (division before the d/k multiply keeps every double
    < 2^53). Zero vectors yield NULL distortion on both engines
    rather than a division error."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv"),
    )
    projs = [
        F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.array(*[F.lit(v) for v in _RP_SIGNS[j]]),
                lambda x, s: x * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias(f"p{j}")
        for j in range(_RP_K)
    ]
    p = q.select(
        "vec_id",
        F.aggregate(
            F.transform(F.col("qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("qnorm2"),
        *projs,
    )
    pnorm2 = sum(
        (F.col(f"p{j}") * F.col(f"p{j}") for j in range(_RP_K)),
        F.lit(0).cast("long"),
    ).cast("long")
    return p.select(
        "vec_id",
        "qnorm2",
        pnorm2.alias("pnorm2"),
        F.when(F.col("qnorm2") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                pnorm2.cast("double")
                / F.col("qnorm2")
                * (float(_RP_DIM) / _RP_K)
                * 1_000_000.0
            )
            / 1_000_000.0
        )
        .alias("distortion_q6"),
    )


_PCA2_MV2 = "list_transform(m2.mm2, row -> list_dot_product(row, v))"


@register(
    "embed_pca_topk",
    oracle=f"""
WITH RECURSIVE
{_PCA_COV_SQL},
pow1(k, v) AS (
  SELECT 0, list_transform(range(1, {_COV_DIM} + 1), x -> CAST(1.0 AS DOUBLE))
  UNION ALL
  SELECT k + 1,
         list_transform({_PCA_MATVEC},
           x -> x / sqrt(list_dot_product({_PCA_MATVEC}, {_PCA_MATVEC})))
  FROM pow1, mat WHERE k < {_PCA_ITERS}
),
f1 AS (SELECT v AS v1 FROM pow1 WHERE k = {_PCA_ITERS}),
l1 AS (
  SELECT list_dot_product(v1,
           list_transform(mat.mm, row -> list_dot_product(row, v1))) AS lam1
  FROM f1, mat
),
m2 AS (
  SELECT list_transform(range(1, {_COV_DIM} + 1), i ->
           list_transform(range(1, {_COV_DIM} + 1), j ->
             list_extract(list_extract(mat.mm, i), j)
             - lam1 * list_extract(v1, i) * list_extract(v1, j))) AS mm2
  FROM mat, f1, l1
),
pow2(k, v) AS (
  SELECT 0, list_transform(range(1, {_COV_DIM} + 1), x -> CAST(1.0 AS DOUBLE))
  UNION ALL
  SELECT k + 1,
         list_transform({_PCA2_MV2},
           x -> x / sqrt(list_dot_product({_PCA2_MV2}, {_PCA2_MV2})))
  FROM pow2, m2 WHERE k < {_PCA_ITERS}
),
g2 AS (SELECT v AS v2r FROM pow2 WHERE k = {_PCA_ITERS}),
c2 AS (SELECT list_dot_product(v1, v2r) AS c FROM f1, g2),
u2 AS (
  SELECT list_transform(range(1, {_COV_DIM} + 1),
           i -> list_extract(v2r, i) - c * list_extract(v1, i)) AS u
  FROM g2, f1, c2
),
f2 AS (
  SELECT list_transform(u,
           x -> x / sqrt(list_dot_product(u, u))) AS v2
  FROM u2
),
l2 AS (
  SELECT list_dot_product(v2,
           list_transform(mat.mm, row -> list_dot_product(row, v2))) AS lam2
  FROM f2, mat
)
SELECT CAST(1 AS BIGINT) AS component, CAST(gs.i - 1 AS BIGINT) AS dim,
       floor(list_extract(v1, gs.i) * 1000000.0) / 1000000.0 AS loading_q6,
       floor(lam1 * 1000000000.0) / 1000000000.0 AS eigenvalue_q9
FROM f1, l1, generate_series(1, {_COV_DIM}) gs(i)
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(gs.i - 1 AS BIGINT),
       floor(list_extract(v2, gs.i) * 1000000.0) / 1000000.0,
       floor(lam2 * 1000000000.0) / 1000000000.0
FROM f2, l2, generate_series(1, {_COV_DIM}) gs(i)
""",
    tags=("llm", "embedding", "iterative"),
)
def embed_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components via power iteration WITH Hotelling
    deflation: find v1 on the covariance matrix (the
    `embed_pca_power` fold), then iterate again on
    C' = C − λ1·v1·v1ᵀ so the dominant direction is annihilated and
    the second component emerges — the textbook sequential-PCA step
    that turns the one-vector power method into a top-k factorizer
    (whitening, drift axes, 2-D corpus maps all want ≥2 components).
    Scale shape: identical to embed_pca_power — the corpus collapses
    once to d² exact-integer covariance cells; both 12-step folds and
    the d² deflation are single-row array math that never re-touch
    the corpus, so the 100 TB cost is one map-side-combined pass.
    Determinism: fixed iteration counts, all-ones starts (sign-fixing),
    matvec/norm/deflation expressions let-bound once per step with
    the same IEEE trees on both engines; eigenvalues are Rayleigh
    quotients against the ORIGINAL matrix (λ2 exact because v2 ⊥ v1
    up to convergence, floor-q9 absorbs the residual)."""
    fc = _cov_cells(spark, sf_dir)
    rows = (
        fc.groupBy("i")
        .agg(F.array_sort(F.collect_list(F.struct("j", "cov"))).alias("p"))
        .select("i", F.transform("p", lambda x: x["cov"]).alias("rw"))
    )
    mat = (
        rows.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("i", "rw"))).alias("pp"))
        .select(F.transform("pp", lambda x: x["rw"]).alias("mm"))
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, u: acc + u,
        )

    def let(val, body):
        return F.element_at(F.transform(F.array(val), body), 1)

    def fold(matcol):
        def step(acc, _):
            return let(
                F.transform(matcol, lambda row: dot(row, acc)),
                lambda w: let(
                    F.sqrt(dot(w, w)),
                    lambda nrm: F.transform(
                        w, lambda x: F.try_divide(x, nrm)
                    ),
                ),
            )

        return F.aggregate(
            F.array_repeat(F.lit(0), _PCA_ITERS),
            F.array_repeat(F.lit(1.0), _COV_DIM),
            step,
        )

    mm = F.col("mm")
    r = let(
        fold(mm),
        lambda v1: let(
            dot(v1, F.transform(mm, lambda row: dot(row, v1))),
            lambda lam1: let(
                F.transform(
                    mm,
                    lambda row, i: F.transform(
                        row,
                        lambda x, j: x
                        - lam1
                        * F.element_at(v1, i + 1)
                        * F.element_at(v1, j + 1),
                    ),
                ),
                lambda mm2: let(
                    # Gram-Schmidt re-orthogonalization: the deflation
                    # residual is bounded by v1's convergence, so v2 is
                    # explicitly projected off v1 and renormalized
                    let(
                        fold(mm2),
                        lambda v2r: let(
                            dot(v1, v2r),
                            lambda c: let(
                                F.zip_with(
                                    v2r, v1, lambda x, y: x - c * y
                                ),
                                lambda u: let(
                                    F.sqrt(dot(u, u)),
                                    lambda nu: F.transform(
                                        u,
                                        lambda x: F.try_divide(x, nu),
                                    ),
                                ),
                            ),
                        ),
                    ),
                    lambda v2: F.struct(
                        v1.alias("v1"),
                        lam1.alias("lam1"),
                        v2.alias("v2"),
                        dot(
                            v2, F.transform(mm, lambda row: dot(row, v2))
                        ).alias("lam2"),
                    ),
                ),
            ),
        ),
    )
    df1 = mat.select(r.alias("r"))
    df2 = df1.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("component"),
                    F.col("r.v1").alias("v"),
                    F.col("r.lam1").alias("eig"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("component"),
                    F.col("r.v2").alias("v"),
                    F.col("r.lam2").alias("eig"),
                ),
            )
        ).alias("c")
    )
    df3 = df2.select(
        F.col("c.component").alias("component"),
        F.posexplode(F.col("c.v")).alias("dim0", "loading"),
        F.col("c.eig").alias("eig"),
    )
    return df3.select(
        "component",
        F.col("dim0").cast("long").alias("dim"),
        (F.floor(F.col("loading") * 1_000_000.0) / 1_000_000.0).alias(
            "loading_q6"
        ),
        (F.floor(F.col("eig") * 1_000_000_000.0) / 1_000_000_000.0).alias(
            "eigenvalue_q9"
        ),
    )


_AU_OFFSETS = (1, 7, 13)  # deterministic random-pair id offsets


@register(
    "embed_alignment_uniformity",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
sq AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(list_sum(list_transform(qv, v -> v * v))) AS BIGINT)
           AS ssq
  FROM q GROUP BY label
),
ds AS (
  SELECT label, gs.i AS dim,
         CAST(SUM(list_extract(qv, gs.i)) AS BIGINT) AS s
  FROM q, generate_series(1, 64) gs(i) GROUP BY 1, 2
),
ss AS (
  SELECT label,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list((CAST(s AS DOUBLE) / 1000000.0)
                  * (CAST(s AS DOUBLE) / 1000000.0) ORDER BY dim)),
           (a, b) -> a + b) AS snorm2
  FROM ds GROUP BY label
),
al AS (
  SELECT sq.label, sq.n_c,
         (2.0 * sq.n_c * (CAST(sq.ssq AS DOUBLE) / 1000000000000.0)
          - 2.0 * ss.snorm2)
           / (CAST(sq.n_c AS DOUBLE) * (sq.n_c - 1)) AS align
  FROM sq JOIN ss USING (label) WHERE sq.n_c >= 2
),
pr AS (
  SELECT a.qv AS qa, b.qv AS qb
  FROM q a JOIN q b
    ON b.vec_id = a.vec_id + {_AU_OFFSETS[0]}
     OR b.vec_id = a.vec_id + {_AU_OFFSETS[1]}
     OR b.vec_id = a.vec_id + {_AU_OFFSETS[2]}
),
un AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(floor(exp(-2.0 *
             (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, 65),
                  i -> ((list_extract(qa, i) - list_extract(qb, i))
                        / 1000000.0)
                       * ((list_extract(qa, i) - list_extract(qb, i))
                          / 1000000.0))),
               (a, b) -> a + b)))
             * 1000000000000.0) AS BIGINT)) AS BIGINT) AS se
  FROM pr
)
SELECT al.label, al.n_c,
       floor(al.align * 1000000.0) / 1000000.0 AS align_q6,
       floor(ln(CAST(un.se AS DOUBLE) / 1000000000000.0 / un.n_pairs)
             * 1000000.0) / 1000000.0 AS uniformity_q6,
       un.n_pairs
FROM al, un
""",
    tags=("llm", "embedding"),
)
def embed_alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment and uniformity of the embedding space (Wang & Isola
    2020) — THE two quality axes for contrastive representations:
    alignment = mean squared distance between positive pairs (same
    label), uniformity = log-mean Gaussian potential over random pairs
    (how evenly the sphere is covered; collapse shows up here first).
    The scale trick: alignment needs NO pair enumeration — per label,
    Σᵢⱼ‖zᵢ−zⱼ‖² = 2n·Σ‖z‖² − 2‖Σz‖², so two moment aggregates replace
    the quadratic loop; uniformity uses a FIXED bounded pair sample
    (id offsets (1, 7, 13), linear, deterministic) since exp(−2d²)
    does not reduce to moments. Shape: one map-side-combined per-label
    moment pass (with a 64-row posexplode for the dim sums), one
    id-keyed self-join for the sample pairs — no quadratic stage at
    any corpus size. Determinism: coordinates quantized to int micros;
    Σ‖z‖² exact int64; ‖Σz‖² and pair distances are SEQUENTIAL folds
    over dim order (engine-identical); per-pair Gaussian terms
    floor-quantize to int picos before the cross-pair sum."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv"),
    )
    # ONE posexplode pass yields both the per-(label, dim) sums and,
    # summed over dims, the per-label moment aggregates (keeps the
    # embeddings scan count at 3: moments + the two pair-join branches)
    ds_full = (
        q.select("label", F.posexplode("qv").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
            F.count("*").cast("long").alias("nc"),
        )
    )
    ds_full = ds_full.localCheckpoint(eager=False)
    sq = ds_full.groupBy("label").agg(
        F.max("nc").cast("long").alias("n_c"),
        F.sum("s2").cast("long").alias("ssq"),
    )
    ds = ds_full.select("label", "dim0", "s")
    ss = (
        ds.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim0", "s"))).alias("p"))
        .select(
            "label",
            F.aggregate(
                F.transform(
                    "p",
                    lambda x: (x["s"].cast("double") / 1_000_000.0)
                    * (x["s"].cast("double") / 1_000_000.0),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("snorm2"),
        )
    )
    al = (
        sq.join(ss, "label")
        .filter(F.col("n_c") >= 2)
        .select(
            "label",
            "n_c",
            (
                (
                    2.0
                    * F.col("n_c")
                    * (F.col("ssq").cast("double") / 1_000_000_000_000.0)
                    - 2.0 * F.col("snorm2")
                )
                / (F.col("n_c").cast("double") * (F.col("n_c") - 1))
            ).alias("align"),
        )
    )
    # explode the fixed offsets so the pair match is a pure EQUI-join
    # (an OR-of-equalities would plan as a nested loop)
    a = q.select(
        F.col("qv").alias("qa"),
        "vec_id",
        F.explode(F.array(*[F.lit(k) for k in _AU_OFFSETS])).alias("off"),
    ).select("qa", (F.col("vec_id") + F.col("off")).alias("idb"))
    b = q.select(F.col("vec_id").alias("idb"), F.col("qv").alias("qb"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("qa"),
            F.col("qb"),
            lambda x, y: ((x - y) / 1_000_000.0)
            * ((x - y) / 1_000_000.0),
        ),
        F.lit(0.0),
        lambda acc, u: acc + u,
    )
    un = (
        a.join(b, "idb")
        .select(
            F.floor(F.exp(-2.0 * d2) * 1_000_000_000_000.0)
            .cast("long")
            .alias("e")
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("e").cast("long").alias("se"),
        )
    )
    return al.crossJoin(un).select(
        "label",
        "n_c",
        (F.floor(F.col("align") * 1_000_000.0) / 1_000_000.0).alias(
            "align_q6"
        ),
        (
            F.floor(
                F.log(
                    F.col("se").cast("double")
                    / 1_000_000_000_000.0
                    / F.col("n_pairs")
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("uniformity_q6"),
        "n_pairs",
    )


@register(
    "embed_drift_mahalanobis",
    oracle="""
WITH q AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS half,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
d AS (
  SELECT half, gs.i AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(list_extract(qv, gs.i)) AS BIGINT) AS s,
         CAST(SUM(list_extract(qv, gs.i) * list_extract(qv, gs.i))
           AS BIGINT) AS ss
  FROM q, generate_series(1, 64) gs(i) GROUP BY 1, 2
),
j AS (
  SELECT a.dim,
         CAST(a.s AS DOUBLE) / a.n / 1000000.0 AS mu_a,
         CAST(b.s AS DOUBLE) / b.n / 1000000.0 AS mu_b,
         ((CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) * a.s / a.n) / a.n
          + (CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) * b.s / b.n)
            / b.n) / 2000000000000.0 AS var_pooled,
         a.n AS n_a, b.n AS n_b
  FROM d a JOIN d b ON a.dim = b.dim AND a.half = 0 AND b.half = 1
  WHERE a.n * a.ss > a.s * a.s OR b.n * b.ss > b.s * b.s
),
t AS (
  SELECT CAST(SUM(CAST(floor((mu_a - mu_b) * (mu_a - mu_b)
                / var_pooled * 1000000000.0) AS BIGINT)) AS BIGINT)
           AS d2_nano,
         CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN (mu_a - mu_b) * (mu_a - mu_b) / var_pooled
                  > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted_dims
  FROM j
)
SELECT n_a, n_b,
       CAST(d2_nano AS BIGINT) / 1000000000.0 AS mahalanobis2_q9,
       n_drifted_dims,
       CAST(d2_nano AS DOUBLE) / 1000000000.0
         / (1.0 / n_a + 1.0 / n_b) > 88.0 AS drift_alarm
FROM t
""",
    tags=("llm", "embedding", "stats"),
)
def embed_drift_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: Mahalanobis² distance (diagonal-
    covariance form, the standard high-d simplification — documented)
    between the mean vectors of two corpus halves (even/odd vec_id
    stands in for reference-window vs live-window), per-dimension
    drift flags, and a χ²-scaled alarm (D²/(1/n₁+1/n₂) against the
    d=64 χ² 0.975 quantile ≈ 88) — the embedding counterpart of
    `stats_psi_drift`: value-level monitors can't see a representation
    rotating under a re-trained encoder; this can. Scale shape: ONE
    map-side-combined (half, dim) moment pass (64-row posexplode per
    vector), a 64-row join, a 1-row reduce — no pairwise anything.
    Determinism: per-dim moments exact int64 on micro-quantized
    coordinates; each dimension's D² term floor-quantizes to int64
    nanos before the cross-dim sum; dimensions with zero pooled spread
    (degenerate single-vector halves — no drift information, and ANSI
    doubles error on /0) are excluded by an exact integer predicate on
    both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1_000_000.0).cast(
                    "long"
                ),
            )
        ).alias("dim", "x"),
    )
    d = q.groupBy("half", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    a = d.filter(F.col("half") == 0).select(
        "dim",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = d.filter(F.col("half") == 1).select(
        F.col("dim").alias("dim_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    j = a.join(b, F.col("dim") == F.col("dim_b")).filter(
        (F.col("n_a") * F.col("ss_a") > F.col("s_a") * F.col("s_a"))
        | (F.col("n_b") * F.col("ss_b") > F.col("s_b") * F.col("s_b"))
    ).select(
        (F.col("s_a").cast("double") / F.col("n_a") / 1_000_000.0).alias(
            "mu_a"
        ),
        (F.col("s_b").cast("double") / F.col("n_b") / 1_000_000.0).alias(
            "mu_b"
        ),
        (
            (
                (
                    F.col("ss_a").cast("double")
                    - F.col("s_a").cast("double")
                    * F.col("s_a")
                    / F.col("n_a")
                )
                / F.col("n_a")
                + (
                    F.col("ss_b").cast("double")
                    - F.col("s_b").cast("double")
                    * F.col("s_b")
                    / F.col("n_b")
                )
                / F.col("n_b")
            )
            / 2_000_000_000_000.0
        ).alias("var_pooled"),
        "n_a",
        "n_b",
    )
    term = (
        (F.col("mu_a") - F.col("mu_b"))
        * (F.col("mu_a") - F.col("mu_b"))
        / F.col("var_pooled")
    )
    t = j.agg(
        F.sum(F.floor(term * 1_000_000_000.0).cast("long"))
        .cast("long")
        .alias("d2_nano"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.sum(F.when(term > 0.01, 1).otherwise(0))
        .cast("long")
        .alias("n_drifted_dims"),
    )
    return t.select(
        "n_a",
        "n_b",
        (F.col("d2_nano") / 1_000_000_000.0).alias("mahalanobis2_q9"),
        "n_drifted_dims",
        (
            F.col("d2_nano").cast("double")
            / 1_000_000_000.0
            / (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            > 88.0
        ).alias("drift_alarm"),
    )


# --- binary (sign) Hamming top-k -------------------------------------------------


def _signword(arr: Column) -> Column:
    """Fold a float slice into an integer sign word: acc·2 + (x>0).
    Horner form makes the word an exact int64 with identical
    left-to-right association on both engines (DuckDB's seedless
    list_reduce starts from the first element, which equals the
    0-seeded fold because 0·2+b₁ = b₁)."""
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
    )


_HAM_SQL_WORD = (
    "list_reduce(list_transform({src}, x -> CASE WHEN x > 0 THEN 1::BIGINT "
    "ELSE 0::BIGINT END), (a, b) -> a * 2 + b)"
)


@register(
    "embed_hamming_topk",
    oracle=f"""
WITH w AS (
  SELECT vec_id,
         {_HAM_SQL_WORD.format(src='embedding[1:32]')} AS lo,
         {_HAM_SQL_WORD.format(src='embedding[33:64]')} AS hi
  FROM embeddings
),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         CAST(bit_count(xor(p.lo, c.lo)) + bit_count(xor(p.hi, c.hi))
              AS BIGINT) AS hamming
  FROM w p JOIN w c ON c.vec_id != p.vec_id
  WHERE p.vec_id < {_N_PROBES}
)
SELECT probe_id, cand_id, hamming
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY hamming ASC, cand_id) AS rn
      FROM scored)
WHERE rn <= {_TOP_K}
""",
    tags=("llm", "similarity", "embedding"),
)
def embed_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature nearest neighbors: each 64-d float vector
    collapses to a 64-bit SIGN SIGNATURE (two 32-bit Horner-folded
    words — exact int64, no floats anywhere in the query), and probe
    top-k is ranked by Hamming distance bit_count(xor) — the
    1-bit-quantization retrieval path (Charikar hyperplane sketch with
    axis-aligned planes) that makes 100 TB re-ranking cheap: 8 bytes a
    vector instead of 256, distance is two CPU popcounts, and the
    signature computation is a map-only pass (F.aggregate HOF — no
    shuffle, no UDF). Probes broadcast exactly as `sim_topk_cosine`
    (whose float cosine this op's integer distance approximates;
    pytest pins the rank-agreement between the two). Unlike the ANN
    family this IS oracle-exact — the signature and distance are
    deterministic integers, so the full DuckDB value-hash applies."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = emb.select(
        "vec_id",
        _signword(F.slice("embedding", 1, 32)).alias("lo"),
        _signword(F.slice("embedding", 33, 32)).alias("hi"),
    )
    probes = w.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("lo").alias("plo"),
        F.col("hi").alias("phi"),
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(w.select(F.col("vec_id").alias("cand_id"), "lo", "hi"))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            (
                F.bit_count(F.col("plo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("phi").bitwiseXOR(F.col("hi")))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    wn = W.partitionBy("probe_id").orderBy(F.asc("hamming"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= _TOP_K)
        .select("probe_id", "cand_id", "hamming")
    )


# --- centroid silhouette -----------------------------------------------------


@register(
    "embed_silhouette",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
ex AS (
  SELECT label, gs.i AS dim, list_extract(qv, gs.i) AS x
  FROM q, generate_series(1, {_COV_DIM}) gs(i)
),
cs AS (SELECT label, dim, CAST(SUM(x) AS BIGINT) AS sx,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM ex GROUP BY 1, 2),
cent AS (SELECT label AS clabel, list(sx ORDER BY dim) AS csx,
                CAST(MAX(n) AS BIGINT) AS cn
         FROM cs GROUP BY label),
j AS (
  SELECT q.vec_id, q.label, c.clabel,
         CAST(floor(list_reduce(
           list_transform(range(1, {_COV_DIM} + 1),
             i -> (list_extract(qv, i) / 1e6
                   - list_extract(csx, i) / (1e6 * cn))
                * (list_extract(qv, i) / 1e6
                   - list_extract(csx, i) / (1e6 * cn))),
           (x, y) -> x + y) * 1e9) AS BIGINT) AS d2q
  FROM q CROSS JOIN cent c
),
pt AS (
  SELECT vec_id, label,
         CAST(MAX(CASE WHEN clabel = label THEN d2q END) AS BIGINT) AS a9,
         CAST(MIN(CASE WHEN clabel <> label THEN d2q * 16 + clabel END)
              AS BIGINT) AS bpack
  FROM j GROUP BY 1, 2
),
sil AS (
  SELECT label,
         CASE WHEN GREATEST(a9, bpack // 16) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(CAST(bpack // 16 - a9 AS DOUBLE)
                              / CAST(GREATEST(a9, bpack // 16) AS DOUBLE)
                              * 1000000.0) AS BIGINT) END AS s6
  FROM pt
)
SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(s6) AS BIGINT) AS sum_sil_q6,
       floor(CAST(SUM(s6) AS DOUBLE) / COUNT(*)) / 1000000.0 AS mean_sil_q6
FROM sil GROUP BY 1
""",
    tags=("llm", "embedding", "eval"),
)
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid (simplified) silhouette per label over the embedding
    corpus: for each vector, a = squared distance to its OWN label
    centroid, b = min squared distance to any OTHER label's centroid,
    s = (b−a)/max(a,b) — the cluster-quality score that validates a
    labeling / clustering before it is trusted for semantic dedup or
    stratified sampling (the centroid form is the production variant:
    the classic all-pairs silhouette is O(n²) and its exact blocked
    twin here is `dedup_embedding_cosine`'s Gram machinery). Exactness:
    coordinates quantize to integer micros FIRST, so centroid
    sufficient stats (Σx per dim, n) are exact int64; each point-to-
    centroid distance is an identical positional fold of
    (x/1e6 − s/(1e6·n))² on both engines, floor-quantized to q9 ints
    BEFORE any comparison; the nearest-other argmin is the integer
    pack min(d2q·16 + label); per-point silhouettes floor to q6 ints
    so label means are exact integer sums with one final division.
    Scale: one corpus-scale posexplode aggregate (d·n rows map-side
    combined to |labels|·d cells), then a broadcast of the |labels|-row
    centroid table against one corpus scan — never a point-point
    join."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv"),
    )
    ex = q.select("label", F.posexplode("qv").alias("dim", "x"))
    cs = ex.groupBy("label", "dim").agg(
        F.sum("x").cast("long").alias("sx"),
        F.count("*").cast("long").alias("n"),
    )
    cent = (
        cs.groupBy("label")
        .agg(
            F.sort_array(F.collect_list(F.struct("dim", "sx"))).alias("ds"),
            F.max("n").cast("long").alias("cn"),
        )
        .select(
            F.col("label").alias("clabel"),
            F.transform("ds", lambda d: d["sx"]).alias("csx"),
            "cn",
        )
    )
    cn = F.col("cn").cast("double")
    term = lambda x, s: (  # noqa: E731 — identical text both engines
        x.cast("double") / 1e6 - s.cast("double") / (1e6 * cn)
    ) * (x.cast("double") / 1e6 - s.cast("double") / (1e6 * cn))
    j = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.floor(
            F.aggregate(
                F.zip_with("qv", "csx", term),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * 1e9
        )
        .cast("long")
        .alias("d2q"),
    )
    pt = j.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2q")))
        .cast("long")
        .alias("a9"),
        F.min(
            F.when(
                F.col("clabel") != F.col("label"),
                F.col("d2q") * 16 + F.col("clabel"),
            )
        )
        .cast("long")
        .alias("bpack"),
    )
    b9 = F.expr("bpack DIV 16")
    s6 = F.when(F.greatest(F.col("a9"), b9) == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (b9 - F.col("a9")).cast("double")
            / F.greatest(F.col("a9"), b9).cast("double")
            * 1e6
        ).cast("long")
    )
    sil = pt.select("label", s6.alias("s6"))
    return sil.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s6").cast("long").alias("sum_sil_q6"),
        (F.floor(F.sum("s6").cast("double") / F.count("*")) / 1e6).alias(
            "mean_sil_q6"
        ),
    )
