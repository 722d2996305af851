"""Deduplication operators for LLM training-data pipelines (SURVEY §2.7).

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup — every variant
implemented as deterministic Catalyst expressions with a full DuckDB
oracle (including the MinHash signatures: both engines compute the same
md5-based permutations, so even the LSH bands hash-match).

Scale design:
- Exact + fingerprint dedup: one hash per doc, groupBy on the digest —
  shuffle is |distinct digests|.
- MinHash: per-doc signature is embarrassingly parallel; candidate
  pairing explodes (band_idx, band_hash) and self-joins on that key,
  so only same-bucket docs ever meet (the LSH point). No O(n²).
- SimHash: 16-bit signature via ±1 bit votes; exact-signature clusters
  via groupBy.
- Jaccard: blocked self-join on (lang, length-bucket) to bound pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import TOKENS_SQL, tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

# MinHash lanes are extracted as 8-hex-char chunks of md5 digests: one
# md5 yields 4 lanes (32 hex chars / 8), and lane counts beyond 4 use
# additional KEYED md5s (md5("<k>|" || shingle)) — md5's avalanche makes
# the chunks effectively independent permutations, so a 128-perm
# signature costs 32 hash invocations per shingle, not 128.
#
# Two presets ship:
#   toy  —   4 perms /  2 bands of 2: cheap smoke-scale preset (the
#            round-1/2 configuration, kept for the original registry
#            entries and the bench)
#   prod — 128 perms / 16 bands of 8: the standard production LSH
#            operating point (bands of r=8 → P(candidate) = 1-(1-J^8)^16,
#            the usual ~0.8-Jaccard knee used for corpus near-dedup)
_LANES_PER_MD5 = 4
_N_HASHES = 4   # toy preset
_BAND_SIZE = 2  # toy preset
_PROD_N_HASHES = 128
_PROD_BAND_SIZE = 8


def _md5_key(k: int) -> str:
    """Key prefix for the k-th md5 lane group (k=0 stays unkeyed, which
    keeps the toy preset bit-identical with rounds 1/2)."""
    return "" if k == 0 else f"{k}|"


# --- production permutation scheme ------------------------------------------
# The prod preset (128 perms) does NOT pay 32 md5 invocations per
# shingle.  Each shingle is md5-hashed ONCE; the first two 8-hex-char
# chunks become two independent 31-bit integers (h1, h2), and lane j is
# the universal-hash combination (a_j*h1 + b_j*h2 + c_j) mod P with
# P = 2^31 - 1 (Mersenne).  This is the textbook "k permutations of one
# base hash" MinHash construction (Broder 1997; Indyk's 2-universal
# lane family): P(min over shingles collides) = Jaccard still holds per
# lane because each lane is a uniform permutation of the shingle
# universe.  Measured at sf0.1 the signature stage drops 4.1 s -> 0.5 s
# warm (~8x): 2 conv+mod per shingle plus 128 codegen multiply-adds
# beats 32 interpreted md5 calls.  Coefficients are bounded below 2^30
# so the whole lane fits ONE ungrouped expression (h1*a + h2*b + c) % P
# in positive int64 (h < 2^31, coeff < 2^30 => each product < 2^61,
# sum < 2^62): ANSI mode never sees an overflow on either engine, and
# the codegen text stays a third the size of the per-term-mod form.
# The 128 lane projections are emitted as ONE selectExpr (a single
# parse) — building them as Python Column trees costs ~1000 py4j round
# trips (~3.5 s of pure driver chatter at ANY data size).
_PERM_P = (1 << 31) - 1
_PERM_COEF_BOUND = 1 << 30


def _perm_coeffs(n_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a_j, b_j, c_j) lane coefficients via an explicit
    64-bit LCG (no dependence on any library RNG's stability): the same
    literals are embedded in the Spark plan and the DuckDB oracle."""
    coeffs = []
    state = 0x5DEECE66D  # fixed seed; any nonzero value works
    def nxt() -> int:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return state
    for _ in range(n_hashes):
        a = nxt() % (_PERM_COEF_BOUND - 1) + 1  # in [1, 2^30): never degenerate
        b = nxt() % (_PERM_COEF_BOUND - 1) + 1
        c = nxt() % _PERM_P
        coeffs.append((a, b, c))
    return coeffs


def _with_minhash_bands_perm(
    docs: DataFrame, n_hashes: int, band_size: int
) -> DataFrame:
    """(doc_id, band0..band{n/r-1}) at the production permutation
    scheme: one md5 per shingle -> (h1, h2) -> n_hashes linear lanes
    mod P -> per-lane minima -> md5 band digests over comma-joined
    decimal minima.  Hash-matched with `_minhash_sql_core_perm`.

    r10 (VERDICT item 3): the whole signature stage runs in ONE
    Arrow-batched mapInPandas worker — text -> shingles -> hashlib md5
    -> numpy lane matrix -> segmented per-doc minima
    (np.minimum.reduceat) -> band digests. The r9 form spent ~2.3 s of
    dedup_lsh_bucket_stats' 3.4 s (sf0.1) evaluating the 128 lane
    expressions JVM-side; the numpy matrix does the same 33M exact
    int64 multiply-add-mods in ~0.1 s. Scale shape strictly improves
    too: per-doc minima now reduce INSIDE the map task, so the
    groupBy(doc_id) exchange of per-doc minima disappears — the stage
    is shuffle-free and rides the scan partitioning (one output row
    per doc). All arithmetic is the same positive-int64 math as the
    expression form (h < 2^31, coeff < 2^30 => products < 2^61, sums
    < 2^62 — no overflow either side), so output is bit-identical and
    the DuckDB mirror `_minhash_sql_core_perm` is unchanged.

    Feed-the-cores governor: when the scan yields FEWER partitions
    than the session's parallelism (the local sf tiers are one parquet
    file ⇒ 1-2 partitions ⇒ one python worker), the narrow projection
    is repartitioned once so the per-doc work spreads. At cluster
    scale the scan partition count dwarfs the core count and the
    branch is a no-op — the 100 TB plan stays shuffle-free."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    coeffs = _perm_coeffs(n_hashes)
    A = np.array([a for a, _, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b, _ in coeffs], dtype=np.int64)
    C = np.array([c for _, _, c in coeffs], dtype=np.int64)
    n_bands = n_hashes // band_size
    out_schema = T.StructType(
        [docs.schema["doc_id"]]
        + [T.StructField(f"band{b}", T.StringType()) for b in range(n_bands)]
    )

    def gen(batches):
        import hashlib

        for pdf in batches:
            if len(pdf) == 0:
                continue
            h1s: list[int] = []
            h2s: list[int] = []
            bounds = [0]
            for text in pdf["text"]:
                words = text.split(" ")  # keeps empty tokens, like F.split
                n = len(words)
                if n >= 3:
                    shingles = [
                        " ".join(words[i : i + 3]) for i in range(n - 2)
                    ]
                else:
                    shingles = [text]
                for s in shingles:
                    d = hashlib.md5(s.encode("utf-8")).hexdigest()
                    h1s.append(int(d[:8], 16) % _PERM_P)
                    h2s.append(int(d[8:16], 16) % _PERM_P)
                bounds.append(len(h1s))
            h1 = np.asarray(h1s, dtype=np.int64)[:, None]
            h2 = np.asarray(h2s, dtype=np.int64)[:, None]
            seg = np.asarray(bounds[:-1], dtype=np.int64)
            mins = np.empty((len(pdf), n_hashes), dtype=np.int64)
            # lane-blocked so the temp matrix stays ~tens of MB per
            # 10k-doc Arrow batch regardless of n_hashes
            blk = 16
            for j0 in range(0, n_hashes, blk):
                m = (h1 * A[j0 : j0 + blk] + h2 * B[j0 : j0 + blk] + C[j0 : j0 + blk]) % _PERM_P
                mins[:, j0 : j0 + blk] = np.minimum.reduceat(m, seg, axis=0)
            cols = {"doc_id": pdf["doc_id"]}
            for b in range(n_bands):
                block = mins[:, b * band_size : (b + 1) * band_size]
                cols[f"band{b}"] = [
                    hashlib.md5(",".join(map(str, row)).encode()).hexdigest()
                    for row in block.tolist()
                ]
            yield pd.DataFrame(cols)

    src = docs.select("doc_id", "text")
    par = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    return src.mapInPandas(gen, out_schema)


def _minhash_sql_core_perm(n_hashes: int, band_size: int) -> str:
    """DuckDB mirror of `_with_minhash_bands_perm`: identical shingles,
    identical (h1, h2) extraction, identical lane literals."""
    p = _PERM_P
    mins = ", ".join(
        f"list_min(list_transform(range(1, len(ha) + 1), "
        f"i -> (ha[i] * {a} + hb[i] * {b} + {c}) % {p}"
        f")) AS m{j}"
        for j, (a, b, c) in enumerate(_perm_coeffs(n_hashes))
    )
    bands = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(
            f"CAST(m{j} AS VARCHAR)"
            for j in range(b * band_size, (b + 1) * band_size)
        )
        + f")) AS band{b}"
        for b in range(n_hashes // band_size)
    )
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words, text FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(words) < 3 THEN [text]
              ELSE list_transform(range(1, len(words) - 1),
                                  i -> array_to_string(words[i:i+2], ' ')) END AS shingles
  FROM base
), hashed AS (
  SELECT doc_id,
         list_transform(shingles,
           s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % {p}) AS ha,
         list_transform(shingles,
           s -> CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) % {p}) AS hb
  FROM sh
), mins AS (
  SELECT doc_id, {mins} FROM hashed
), sigs AS (
  SELECT doc_id, {bands}
  FROM mins
)
"""


def _cand_pairs_sql_perm(n_hashes: int, band_size: int) -> str:
    union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, band{b} AS band FROM sigs"
        for b in range(n_hashes // band_size)
    )
    return (
        _minhash_sql_core_perm(n_hashes, band_size)
        + f"""
, exploded AS (
{union}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM exploded a JOIN exploded b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
)
"""
    )


@register(
    "dedup_exact_doc",
    oracle="""
SELECT md5(text) AS digest, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
FROM documents
GROUP BY md5(text)
""",
    tags=("llm", "dedup"),
)
def dedup_exact_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: hash → groupBy digest → keep min doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("digest")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper")
    )


def _with_minhash_bands(
    docs: DataFrame,
    n_hashes: int = _N_HASHES,
    band_size: int = _BAND_SIZE,
) -> DataFrame:
    """(doc_id, band0..band{n/r-1}): MinHash over 3-word shingles.

    Deterministic and engine-portable: each shingle is hashed ONCE with
    md5 and lane j reads hex chars [8j, 8j+8) of the digest; the
    per-lane minimum over shingles is a uniform sample of the shingle
    set, so P(min_a == min_b) = Jaccard(a, b). One hash invocation per
    shingle (instead of one per lane) is what keeps this viable over
    100 TB of text; md5's avalanche makes the chunks independent lanes.

    Execution shape: shingles are built by EXPLODING an arrays_zip of
    three shifted slices and the per-lane minima by a map-side-combined
    groupBy — every expression is a plain codegen expression. The
    original formulation (transform ∘ sequence ∘ slice higher-order
    lambdas + array_min passes) computed identical values but ran
    interpreted per element, 1.8x slower end to end at sf0.1; the
    shuffle here carries only the per-doc minima (docs x 4 lanes), not
    the shingle stream, so the rewrite also wins at 100 TB.
    """
    words = tokens()
    base = docs.select("doc_id", "text", words.alias("_w"), F.size(words).alias("_n"))
    big = base.filter(F.col("_n") >= 3).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("_w", 1, F.col("_n") - 2),
                F.slice("_w", 2, F.col("_n") - 2),
                F.slice("_w", 3, F.col("_n") - 2),
            )
        ).alias("_z"),
    ).select("doc_id", F.concat_ws(" ", "_z.0", "_z.1", "_z.2").alias("_sh"))
    small = base.filter(F.col("_n") < 3).select("doc_id", F.col("text").alias("_sh"))
    n_md5 = n_hashes // _LANES_PER_MD5
    hashed = big.unionByName(small).select(
        "doc_id",
        *[
            F.md5(
                F.concat(F.lit(_md5_key(k)), F.col("_sh")) if k else F.col("_sh")
            ).alias(f"_h{k}")
            for k in range(n_md5)
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(
                    f"_h{j // _LANES_PER_MD5}", (j % _LANES_PER_MD5) * 8 + 1, 8
                )
            ).alias(f"_m{j}")
            for j in range(n_hashes)
        ]
    )
    bands = [
        F.md5(
            F.concat(
                *[F.col(f"_m{j}") for j in range(b * band_size, (b + 1) * band_size)]
            )
        ).alias(f"band{b}")
        for b in range(n_hashes // band_size)
    ]
    return mins.select("doc_id", *bands)


def _minhash_sql_core(
    n_hashes: int = _N_HASHES, band_size: int = _BAND_SIZE
) -> str:
    n_md5 = n_hashes // _LANES_PER_MD5
    hx = ", ".join(
        "list_transform(shingles, s -> md5("
        + (f"'{_md5_key(k)}' || s" if k else "s")
        + f")) AS hx{k}"
        for k in range(n_md5)
    )
    mins = ", ".join(
        f"list_min(list_transform(hx{j // _LANES_PER_MD5}, "
        f"h -> substr(h, {(j % _LANES_PER_MD5) * 8 + 1}, 8))) AS m{j}"
        for j in range(n_hashes)
    )
    bands = ", ".join(
        "md5(concat("
        + ", ".join(f"m{j}" for j in range(b * band_size, (b + 1) * band_size))
        + f")) AS band{b}"
        for b in range(n_hashes // band_size)
    )
    return f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words, text FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(words) < 3 THEN [text]
              ELSE list_transform(range(1, len(words) - 1),
                                  i -> array_to_string(words[i:i+2], ' ')) END AS shingles
  FROM base
), hashed AS (
  SELECT doc_id, {hx} FROM sh
), mins AS (
  SELECT doc_id, {mins} FROM hashed
), sigs AS (
  SELECT doc_id, {bands}
  FROM mins
)
"""


@register(
    "dedup_minhash_signature",
    oracle=_minhash_sql_core() + "SELECT doc_id, band0, band1 FROM sigs",
    tags=("llm", "dedup"),
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash-LSH band signatures (hash-matched with the
    oracle — both engines compute identical md5 permutations)."""
    docs = load_table(spark, sf_dir, "documents")
    return _with_minhash_bands(docs).select("doc_id", "band0", "band1")


def _cand_pairs_sql(
    n_hashes: int = _N_HASHES, band_size: int = _BAND_SIZE
) -> str:
    union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, band{b} AS band FROM sigs"
        for b in range(n_hashes // band_size)
    )
    return (
        _minhash_sql_core(n_hashes, band_size)
        + f"""
, exploded AS (
{union}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM exploded a JOIN exploded b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
)
"""
    )


_CAND_PAIRS_SQL = _cand_pairs_sql()


def _candidate_pairs(
    docs: DataFrame,
    n_hashes: int = _N_HASHES,
    band_size: int = _BAND_SIZE,
    perm: bool = False,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b): docs sharing any band bucket.

    Signatures are computed ONCE; docs are bucketed by (band_idx, band)
    with a single shuffle and pairs are expanded inside each bucket —
    candidate generation is O(bucket²) summed over buckets, never
    O(corpus²), and the expensive hashing never runs twice (a naive
    self-join would recompute the signature pipeline per side)."""
    mk = _with_minhash_bands_perm if perm else _with_minhash_bands
    sigs = mk(docs, n_hashes, band_size)
    exploded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band")
                    )
                    for b in range(n_hashes // band_size)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band_idx", "e.band")
    buckets = (
        exploded.groupBy("band_idx", "band")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


@register(
    "dedup_near_minhash",
    oracle=_CAND_PAIRS_SQL + "SELECT doc_a, doc_b FROM cand",
    tags=("llm", "dedup"),
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing any LSH band bucket
    (see `_candidate_pairs` for the bucketed O(bucket²) scale design)."""
    return _candidate_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_signature_prod",
    oracle=_minhash_sql_core_perm(_PROD_N_HASHES, _PROD_BAND_SIZE)
    + "SELECT doc_id, "
    + ", ".join(f"band{b}" for b in range(_PROD_N_HASHES // _PROD_BAND_SIZE))
    + " FROM sigs",
    tags=("llm", "dedup"),
)
def dedup_minhash_signature_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-preset MinHash-LSH signatures: 128 permutations in 16
    bands of 8 — the standard corpus-dedup operating point (candidate
    probability 1-(1-J^8)^16, knee ≈ 0.8 Jaccard). Unlike the toy
    preset's chunked-md5 lanes, the 128 permutations come from ONE md5
    per shingle combined through 128 universal-hash lanes mod 2^31-1
    (see `_with_minhash_bands_perm`): measured 8x cheaper at sf0.1
    (the md5 calls, not the shuffle, dominated the old 32-md5 design)
    and the win grows with corpus size because it is pure per-shingle
    CPU. Shuffle still carries only the 128 per-doc minima.
    Value-hash-matched with the DuckDB oracle including every band."""
    return _with_minhash_bands_perm(
        load_table(spark, sf_dir, "documents"), _PROD_N_HASHES, _PROD_BAND_SIZE
    )


@register(
    "dedup_near_minhash_prod",
    oracle=_cand_pairs_sql_perm(_PROD_N_HASHES, _PROD_BAND_SIZE)
    + "SELECT doc_a, doc_b FROM cand",
    tags=("llm", "dedup"),
)
def dedup_near_minhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs at the production LSH preset (128
    perms / 16 bands of 8, permutation-scheme signatures): same
    bucketed O(bucket²) pair expansion as the toy preset, 16-way band
    explode instead of 2."""
    return _candidate_pairs(
        load_table(spark, sf_dir, "documents"),
        _PROD_N_HASHES,
        _PROD_BAND_SIZE,
        perm=True,
    )


@register(
    "dedup_cluster_components",
    # the recursive closure CTE requires RECURSIVE on the whole chain
    oracle=_CAND_PAIRS_SQL.replace("WITH base", "WITH RECURSIVE base", 1)
    + """
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
FROM reach GROUP BY u
""",
    tags=("llm", "dedup", "iterative"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate-pair graph: the TRUE
    transitive near-dup clusters (pairwise survivorship under-merges
    when A~B and B~C but A≁C). Returns (doc_id, cluster_id = component
    minimum) for every doc in at least one pair.

    Spark side is iterative min-label propagation — labels start as the
    node id and each round takes the min over neighbors' labels until a
    fixpoint (≤ graph diameter rounds). Every round is one distributed
    join+aggregate; `localCheckpoint` truncates the growing lineage so
    round N's plan doesn't replay rounds 1..N-1 (the standard Spark
    iterative-algorithm discipline; GraphX/GraphFrames do the same
    internally). The oracle is DuckDB's recursive CTE computing the
    same components via transitive closure — tractable at oracle scale,
    while the Spark formulation is the one that survives 100 TB.
    """
    pairs = _candidate_pairs(load_table(spark, sf_dir, "documents"))
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels, _rounds = _min_label_components(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# Loud convergence guard for _min_label_components — NOT a silent
# truncation: with pointer halving the label chains halve every round,
# so 64 rounds cover any graph whose diameter fits in an int64. Hitting
# the guard means a logic bug, and raising beats returning under-merged
# clusters (round-7 VERDICT item 4).
_CC_MAX_ROUNDS = 64


def _min_label_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """Distributed connected components by min-label propagation WITH
    pointer halving: each round (a) takes the min over neighbours'
    labels (one join + map-side-combined agg) and (b) shortcuts every
    label to its own current label (one more join) — the same
    chain-halving that makes large-star/small-star converge in
    O(log n) rounds, so a pathological path graph needs ~log2(diameter)
    rounds instead of diameter (round-7 VERDICT item 4). Returns
    (labels DataFrame(node, lbl), rounds used). `localCheckpoint`
    truncates the per-round lineage so round N never replays 1..N-1."""
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    prev_cache = None
    for rnd in range(1, _CC_MAX_ROUNDS + 1):
        nbr_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        upd = labels.join(nbr_min, labels.node == nbr_min.u, "left").select(
            "node",
            "lbl",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("mid_lbl"),
        )
        # pointer halving: mid_lbl is a node id whose own label may
        # already be smaller — jump to it (labels is the PRE-update
        # table; every min-label is a node id present in it)
        par = labels.select(
            F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
        )
        upd2 = upd.join(par, upd.mid_lbl == par.p_node, "left").select(
            "node",
            "lbl",
            F.least(
                F.col("mid_lbl"), F.coalesce("p_lbl", "mid_lbl")
            ).alias("new_lbl"),
        )
        # Convergence is checked every SECOND round: the count() is the
        # loop's only eager action (each one a full job-scheduling sync
        # barrier — the dominant cost at small scale and a real stall
        # at cluster scale), and skipping the odd-round check merely
        # delays detection by one round: a fixpoint stays a fixpoint.
        #
        # STATS-RESET DISCIPLINE (the 20-minute DBSCAN hang): a bare
        # localCheckpoint snapshots `originStats` from the ORIGINAL
        # plan, and each round references `labels` twice (neighbor min
        # + pointer halving), so the estimated sizeInBytes SQUARES per
        # round — the BigInt's digit count doubles, and by ~round 15
        # Catalyst's SizeInBytesOnlyStatsPlanVisitor spends minutes in
        # Toom-Cook multiplication of 100k-digit integers (jstack
        # evidence in PERFORMANCE.md). persist() + count() BEFORE the
        # checkpoint makes the optimizer substitute the materialized
        # InMemoryRelation, whose stats are the REAL cached bytes, so
        # the checkpoint snapshot resets to ground truth every check
        # round and the growth between resets is bounded at (real)⁴.
        if rnd % 2 == 0 or rnd == _CC_MAX_ROUNDS:
            upd2 = upd2.persist()
            changed = upd2.filter(F.col("new_lbl") < F.col("lbl")).count()
            if changed == 0:
                # converged: materialize the checkpoint EAGERLY (one
                # cheap job over the cached rows) so the result no
                # longer references upd2, then drop every cache this
                # loop holds — otherwise the final round's persist()
                # outlives the call and leaks one InMemoryRelation per
                # invocation into executor storage (round-9 ADVICE).
                labels = upd2.localCheckpoint(eager=True).select(
                    "node", F.col("new_lbl").alias("lbl")
                )
                if prev_cache is not None:
                    prev_cache.unpersist(blocking=False)
                upd2.unpersist(blocking=False)
                return labels, rnd
            labels = upd2.localCheckpoint(eager=False).select(
                "node", F.col("new_lbl").alias("lbl")
            )
            if prev_cache is not None:
                prev_cache.unpersist(blocking=False)
            prev_cache = upd2
        else:
            labels = upd2.select("node", F.col("new_lbl").alias("lbl"))
    raise RuntimeError(
        f"connected components did not converge in {_CC_MAX_ROUNDS} rounds "
        "(pointer-halving should need ~log2(diameter)); refusing to return "
        "under-merged clusters"
    )


def _simhash_exprs():
    """16-bit SimHash: bit j votes ±1 per distinct token by the parity of
    hex digit j of the token's md5. Returns (spark Column, duckdb SQL)."""
    spark_bits = []
    duck_bits = []
    for j in range(16):
        # parity of hex digit j of md5(token)
        spark_bits.append(
            f"CAST(aggregate(array_distinct({TOKENS_SQL}), 0, (acc, t) -> acc + "
            f"CASE WHEN (instr('0123456789abcdef', substr(md5(t), {j + 1}, 1)) - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END) >= 0 AS INT) * {1 << j}"
        )
        duck_bits.append(
            f"CAST(list_sum(list_transform(list_distinct(string_split(text, ' ')), t -> "
            f"CASE WHEN (strpos('0123456789abcdef', substr(md5(t), {j + 1}, 1)) - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END)) >= 0 AS INT) * {1 << j}"
        )
    return " + ".join(spark_bits), " + ".join(duck_bits)


_SIMHASH_SPARK, _SIMHASH_DUCK = _simhash_exprs()


@register(
    "dedup_simhash",
    oracle=f"""
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM (SELECT doc_id, CAST({_SIMHASH_DUCK} AS BIGINT) AS simhash FROM documents)
GROUP BY simhash
""",
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash clusters: identical 16-bit signatures group near-identical
    token distributions (Hamming-distance pairing would bucket on
    signature bytes the same way MinHash buckets on bands)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.expr(_SIMHASH_SPARK).cast("long").alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, n_chars // 100 AS lenbucket,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor(len(list_intersect(a.toks, b.toks)) * 1000000.0
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))))
         / 1000000.0 AS jaccard
FROM t a JOIN t b
  ON a.lang = b.lang AND a.lenbucket = b.lenbucket AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * 1000000.0
      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 500000.0
""",
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ 0.5 within (lang, length-bucket)
    blocks — the verification stage that normally follows MinHash
    candidate generation. Blocking bounds the pair count; at 100 TB the
    block key would also pre-partition the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("lenbucket"),
        F.array_distinct(tokens()).alias("toks"),
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jacc = inter * F.lit(1_000_000.0) / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lenbucket") == F.col("b.lenbucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jacc >= 500_000.0)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.floor(jacc) / 1_000_000.0).alias("jaccard"),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
dup AS (
  SELECT DISTINCT b.vec_id AS dup_id
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
)
SELECT d.doc_id, d.lang, d.n_chars, e.label
FROM documents d
JOIN embeddings e ON e.vec_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT dup_id FROM dup)
""",
    tags=("llm", "dedup"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP: returns the surviving
    documents after dropping every doc whose embedding has cosine ≥ 0.3
    with an earlier (lower-id) doc in the same label block.

    Completes the dedup family (exact / MinHash / SimHash / Jaccard /
    embedding): `sim_pairs_blocked` emits the near-dup PAIRS; this op
    applies the keep-first survivorship rule and lands back on the
    documents table.

    Scale shape: dominated ids are found by a vectorized
    `applyInPandas` block scorer — ONE shuffle of n rows keyed on the
    block (`label`), with all O(block²) pairwise work done in numpy
    inside the block, instead of materializing block² join rows through
    the shuffle (5× faster than the blocked self-join at sf0.1; the
    join formulation lives on in `sim_pairs_blocked`, which spills
    gracefully when a single block outgrows worker memory — at that
    size this scorer would tile the block). The dominated-id set — tiny
    relative to the corpus — anti-joins against the corpus.

    Determinism: the Gram matrix accumulates per-dimension
    (`G += col⊗col` over j = 0..63), so every cell sums products in
    exactly the sequential-fold / DuckDB `list_dot_product` order over
    float64-cast values — the ≥ 0.3 gate is bit-identical to the
    oracle (set-equality against the fold formulation verified).
    """
    import numpy as np
    import pandas as pd

    def _dominated_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        A = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        m, d = A.shape
        G = np.zeros((m, m))
        for j in range(d):
            col = A[:, j]
            G += col[:, None] * col[None, :]
        nrm = np.sqrt(np.einsum("ii->i", G))
        cos = G / (nrm[:, None] * nrm[None, :])
        # column k is dominated iff some earlier row i<k has cos >= 0.3
        dup = np.triu(cos >= 0.3, k=1).any(axis=0)
        return pd.DataFrame({"vec_id": ids[dup]})

    emb = load_table(spark, sf_dir, "embeddings")
    dominated = (
        emb.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(_dominated_block, "vec_id long")
    )
    survivors = emb.select("vec_id", "label").join(dominated, "vec_id", "left_anti")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.join(
        survivors.withColumnRenamed("vec_id", "doc_id"), "doc_id"
    ).select("doc_id", "lang", "n_chars", "label")


@register(
    "dedup_containment",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
)
SELECT a.doc_id AS small_id, b.doc_id AS big_id,
       floor(len(list_intersect(a.toks, b.toks)) * 1000000.0 / len(a.toks))
         / 1000000.0 AS containment
FROM t a JOIN t b
  ON a.lang = b.lang
 AND (a.n_chars < b.n_chars OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id))
WHERE len(list_intersect(a.toks, b.toks)) * 1000000.0 / len(a.toks) >= 800000.0
""",
    tags=("llm", "dedup"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: C(A→B) = |A∩B| / |A| ≥ 0.8 with
    A the smaller doc — catches a document EMBEDDED in a larger one,
    which symmetric Jaccard misses (a 100-token doc inside a 10k-token
    doc has Jaccard ≈ 0.01 but containment 1.0).

    Scale-safe candidate generation: an INVERTED-INDEX join with
    document-frequency prefix pruning (PPJoin-style), not a blocked
    self-join — a lang block at 100 TB is nearly the whole corpus, so
    any block-keyed self-join degenerates to O(n²). Here:

    1. tokens are globally ordered by (document frequency asc, token) —
       rarest first;
    2. a pair can reach overlap o = ⌈0.8·|A|⌉ only if B shares at
       least one of A's first |A| − o + 1 tokens in that order
       (pigeonhole), so only that PREFIX of each probe doc is posted;
    3. the full index side joins probe postings on the TOKEN key —
       shuffle is keyed on token, pair volume is Σ_t df(t)·probe(t)
       with probe(t) concentrated on rare tokens;
    4. surviving candidate pairs (a tiny set) are verified exactly via
       array_intersect, same integer arithmetic as the oracle.

    The prefix bound uses integer math ((4·sz+4) DIV 5), not
    ceil(0.8·sz) in doubles, so the bound is exact for every size."""
    docs = load_table(spark, sf_dir, "documents")
    # token table feeds the posting explode AND both exact-verify
    # sides; the explode feeds the df aggregate, probe prefix, and the
    # full index — checkpoint both divergence points so the documents
    # scan runs once (5 redundant scans before; scan-count audit)
    t = docs.select(
        "doc_id", "lang", "n_chars",
        F.array_distinct(tokens()).alias("toks"),
    ).withColumn("sz", F.size("toks")).localCheckpoint(eager=False)
    tok = t.select(
        "doc_id", "lang", "n_chars", "sz", F.explode("toks").alias("token")
    ).localCheckpoint(eager=False)
    # global token order: document frequency ascending, then token
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    ranked = tok.join(dfreq, "token").withColumn(
        "pos",
        F.row_number().over(W.partitionBy("doc_id").orderBy("df", "token")),
    )
    # min overlap o = ceil(0.8*sz) == (4*sz+4) DIV 5; prefix = sz-o+1
    prefix_len = F.col("sz") - F.expr("(4 * sz + 4) DIV 5") + 1
    probe = ranked.filter(F.col("pos") <= prefix_len).select(
        F.col("doc_id").alias("small_id"),
        F.col("lang").alias("a_lang"),
        F.col("n_chars").alias("a_nc"),
        F.col("sz").alias("a_sz"),
        "token",
    )
    index = tok.select(
        F.col("doc_id").alias("big_id"),
        F.col("lang").alias("b_lang"),
        F.col("n_chars").alias("b_nc"),
        F.col("sz").alias("b_sz"),
        "token",
    )
    cand = (
        probe.join(
            index,
            (probe["token"] == index["token"])
            & (F.col("a_lang") == F.col("b_lang"))
            & (
                (F.col("a_nc") < F.col("b_nc"))
                | (
                    (F.col("a_nc") == F.col("b_nc"))
                    & (F.col("small_id") < F.col("big_id"))
                )
            )
            # PPJoin length filter: |A∩B| <= |B|, so B needs at least
            # o = ceil(0.8*|A|) distinct tokens to possibly qualify
            & (F.col("b_sz") * 5 >= F.col("a_sz") * 4),
        )
        .select("small_id", "big_id")
        .distinct()
    )
    # exact verification of the (tiny) candidate set
    a_side = t.select(
        F.col("doc_id").alias("small_id"),
        F.col("toks").alias("a_toks"),
        F.col("sz").alias("a_sz"),
    )
    b_side = t.select(F.col("doc_id").alias("big_id"), F.col("toks").alias("b_toks"))
    inter = F.size(F.array_intersect(F.col("a_toks"), F.col("b_toks")))
    cont = inter * F.lit(1_000_000.0) / F.col("a_sz")
    return (
        cand.join(a_side, "small_id")
        .join(b_side, "big_id")
        .filter(cont >= 800_000.0)
        .select(
            "small_id",
            "big_id",
            (F.floor(cont) / 1_000_000.0).alias("containment"),
        )
    )


# The exact-Jaccard truth side is all-pairs WITHIN (lang, lenbucket)
# blocks — a measurement harness, quadratic by nature. The per-block
# cap bounds it: blocks are truncated to their _RECALL_BLOCK_CAP
# smallest doc_ids (deterministic on both engines), so the worst block
# contributes ≤ CAP² pairs no matter the corpus. 2048 is ~4.5× the
# largest observed block at sf0.1 (451), so every tested scale sees an
# UNCAPPED truth set; at a real corpus the recall becomes a capped-
# block estimate — which is also how it should be run there (see the
# sample_hash_deterministic note in dedup_minhash_recall's docstring).
_RECALL_BLOCK_CAP = 2048

_JACCARD_TRUTH_SQL = f"""
tcap AS (
  SELECT doc_id, lang, lenbucket, toks FROM (
    SELECT doc_id, lang, n_chars // 100 AS lenbucket,
           list_distinct(string_split(text, ' ')) AS toks,
           row_number() OVER (PARTITION BY lang, n_chars // 100
                              ORDER BY doc_id) AS rn
    FROM documents) WHERE rn <= {_RECALL_BLOCK_CAP}
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tcap a JOIN tcap b
    ON a.lang = b.lang AND a.lenbucket = b.lenbucket AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks)) * 1000000.0
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        >= 500000.0
)
"""


@register(
    "dedup_minhash_recall",
    oracle=_CAND_PAIRS_SQL + "," + _JACCARD_TRUTH_SQL + """
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM truth t
             JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS BIGINT)
         AS n_hits,
       floor((SELECT COUNT(*) FROM truth t
              JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
             * 10000.0 / GREATEST((SELECT COUNT(*) FROM truth), 1)) / 10000.0
         AS recall_q4
""",
    tags=("llm", "dedup", "eval"),
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality evaluation: MinHash-LSH candidate pairs scored
    against exact blocked-Jaccard (≥ 0.5) ground truth — the
    'measure, don't guess' check every probabilistic dedup deploy
    needs before trusting its parameters (bands × rows trade recall
    against candidate volume). Output: truth/candidate/hit counts and
    floored recall. On this synthetic word-soup corpus the measured
    recall is intentionally revealing: truth is TOKEN-set similarity
    while the signatures hash 3-word SHINGLES (order-sensitive), so
    the number quantifies exactly the granularity gap + band-parameter
    loss a production tuning pass would be closing. At 100 TB this runs on a hash-sampled corpus slice
    (sample_hash_deterministic) rather than the full corpus; both
    inputs here reuse the production pipelines, so the measured recall
    is the deployed recall."""
    return _minhash_recall(spark, sf_dir, _N_HASHES, _BAND_SIZE)


@register(
    "dedup_minhash_recall_prod",
    oracle=_cand_pairs_sql_perm(_PROD_N_HASHES, _PROD_BAND_SIZE)
    + ","
    + _JACCARD_TRUTH_SQL
    + """
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM truth t
             JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS BIGINT)
         AS n_hits,
       floor((SELECT COUNT(*) FROM truth t
              JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
             * 10000.0 / GREATEST((SELECT COUNT(*) FROM truth), 1)) / 10000.0
         AS recall_q4
""",
    tags=("llm", "dedup", "eval"),
)
def dedup_minhash_recall_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall evaluation at the PRODUCTION preset (128 perms / 16 bands
    of 8) against the same exact blocked-Jaccard truth. Run next to
    `dedup_minhash_recall` this makes the band-geometry trade
    MEASURABLE: r=8 rows per band moves the candidate-probability knee
    to ~0.8 Jaccard (1-(1-J^8)^16), so against a 0.5-Jaccard truth set
    the prod preset returns FEWER, higher-precision candidates than the
    toy r=2 preset — which is the evidence a tuning pass needs to pick
    bands for its target threshold."""
    return _minhash_recall(
        spark, sf_dir, _PROD_N_HASHES, _PROD_BAND_SIZE, perm=True
    )


def _minhash_recall(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int,
    band_size: int,
    perm: bool = False,
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # candidate set and truth token table each feed multiple count
    # branches (n_candidates, n_hits / n_truth, n_hits and both truth
    # self-join sides) — checkpoint so the signature pipeline and the
    # token explode run once (8 redundant documents scans before)
    cand = _candidate_pairs(docs, n_hashes, band_size, perm=perm).localCheckpoint(
        eager=False
    )
    t = docs.select(
        "doc_id", "lang",
        (F.col("n_chars") / 100).cast("long").alias("lenbucket"),
        F.array_distinct(tokens()).alias("toks"),
    )
    # per-block cap — see the note above _JACCARD_TRUTH_SQL
    wcap = W.partitionBy("lang", "lenbucket").orderBy("doc_id")
    t = (
        t.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _RECALL_BLOCK_CAP)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    truth = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lenbucket") == F.col("b.lenbucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(inter * F.lit(1_000_000.0) / union >= 500_000.0)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    # one lazy plan, no driver-side actions: three tiny single-row
    # aggregates cross-joined (broadcast scalars), recall derived inline
    t_n = truth.agg(F.count("*").cast("long").alias("n_truth"))
    c_n = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    h_n = (
        truth.join(cand, ["doc_a", "doc_b"])
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        t_n.crossJoin(c_n)
        .crossJoin(h_n)
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            (
                F.floor(
                    F.col("n_hits") * 10_000.0 / F.greatest(F.col("n_truth"), F.lit(1))
                )
                / 10_000.0
            ).alias("recall_q4"),
        )
    )


# ---------------------------------------------------------------------------
# 60-bit SimHash with Hamming-distance pairing (the production simhash
# near-dup design: wide signature + pigeonhole chunk LSH + exact
# Hamming verify — cf. the 64-bit/d<=3 web-dedup configuration).
# 60 bits (15 md5 hex digits x 4 bits) keeps every shift/assemble in
# positive signed-int64 territory on both engines.

_SH64_BITS = 60
_SH64_DIGITS = _SH64_BITS // 4  # md5 hex digits consumed
# Pigeonhole geometry (Manku/Jain/Sarma block-permutation layout):
# 6 chunks of 10 bits; hamming <= 3 damages <= 3 chunks, so >= 3 of 6
# stay intact and the pair shares at least one of the C(6,3)=20
# three-chunk combination buckets. The combo key is 30 bits (vs the
# 15-bit single-chunk key of the round-5 design) -- bucket occupancy
# no longer grows with the corpus, so candidate volume tracks true
# near-dup density, not corpus size (the sf10 rehearsal measured the
# 15-bit design at 43x on 10x data: 2^15 buckets saturate and
# sum(bucket^2) goes quadratic; 30-bit keys removed that term).
_SH64_CHUNKS = 6
_SH64_CHUNK_BITS = _SH64_BITS // _SH64_CHUNKS  # 10
_SH64_COMBOS = tuple(__import__("itertools").combinations(range(_SH64_CHUNKS), 3))
_SH64_MAXD = 3


def _sh64_chunk_sql(col: str, t: int, chunk_bits: int = _SH64_CHUNK_BITS) -> str:
    mask = (1 << chunk_bits) - 1
    return f"(({col} >> {t * chunk_bits}) & {mask})"


def _sh64_combo_key_sql(
    col: str, combo: tuple, chunk_bits: int = _SH64_CHUNK_BITS
) -> str:
    parts = [
        f"{_sh64_chunk_sql(col, t, chunk_bits)} * {1 << ((len(combo) - 1 - p) * chunk_bits)}"
        for p, t in enumerate(combo)
    ]
    return "(" + " + ".join(parts) + ")"


def _sh64_layout(sf_dir: str) -> tuple[int, tuple[tuple[int, ...], ...]]:
    """Corpus-size-tiered pigeonhole geometry (round-9 VERDICT item 5):
    returns (chunk_bits, combos) — 4x15-bit single chunks for small
    corpora (4 bucket rows/doc), 6x10-bit three-chunk combos past the
    size_hints saturation threshold (20 rows/doc, 30-bit keys). Both
    are complete for Hamming <= {maxd}: damaging <= 3 chunks leaves an
    intact single chunk of 4 / an intact 3-of-6 combo, and the exact
    bit_count verify makes the output identical under either layout,
    so the (static, 6x10-form) oracle stays valid at every tier."""
    from odns_dataimporter_spark.size_hints import derived_simhash_chunks

    chunks = derived_simhash_chunks(sf_dir)
    keep = chunks - _SH64_MAXD  # intact chunks pigeonhole guarantees
    combos = tuple(__import__("itertools").combinations(range(chunks), keep))
    return _SH64_BITS // chunks, combos


def _simhash64_sql() -> str:
    """DuckDB CTEs ending in sig(doc_id, sim)."""
    sums = ", ".join(
        "SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, "
        f"{j // 4 + 1}, 1)) - 1) >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SH64_BITS)
    )
    assemble = " + ".join(
        f"CAST(s{j} >= 0 AS BIGINT) * {1 << j}" for j in range(_SH64_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
), h AS (
  SELECT doc_id, md5(token) AS h FROM tok
), votes AS (
  SELECT doc_id, {sums} FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id, {assemble} AS sim FROM votes
)
"""


@register(
    "dedup_simhash_hamming",
    oracle=_simhash64_sql()
    + f"""
, e AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, sim, {m} AS ci, {_sh64_combo_key_sql('sim', combo)} AS cv FROM sig"
      for m, combo in enumerate(_SH64_COMBOS)
  )}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sim AS sim_a, b.sim AS sim_b
  FROM e a JOIN e b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {_SH64_MAXD}
""",
    tags=("llm", "dedup"),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ 3 over a
    60-bit signature — the production simhash design (wide signature,
    NOT the 16-bit exact-match toy in `dedup_simhash`):

    1. signature: bit j votes ±1 per distinct token by bit (j%4) of
       md5 hex digit (j//4); the per-doc vote sums are ONE map-side-
       combined groupBy (60 integer sums), shuffle = |docs|;
    2. candidates: block-permutation pigeonhole LSH (Manku et al.'s
       production web-dedup layout), CORPUS-SIZE-TIERED via
       size_hints.derived_simhash_chunks (round-9 VERDICT item 5):
       small corpora (< ~200k docs) use 4 chunks of 15 bits with
       single-chunk buckets — 4 bucket rows/doc, the cheap tier; large
       corpora split into 6 10-bit chunks bucketed by the C(6,3)=20
       three-chunk combos — Hamming ≤ 3 damages at most 3 chunks, so
       an intact single-of-4 / 3-combo-of-6 always survives and BOTH
       tiers are complete candidate generators. The 30-bit combo keys
       keep large-corpus occupancy — and the O(Σ bucket²) candidate
       term — governed by true near-dup density, not corpus size (the
       untiered 4×15 design saturated its 2^15 buckets and measured
       43× on 10× data at sf10), while the small tier skips the
       20-row/doc tax it measured 5.5× for at sf0.1. The exact verify
       (step 3) makes the OUTPUT identical under either tier, so the
       single oracle stays valid everywhere
       (tests/test_round9_invariants.py pins tier equality);
    3. verify: exact bit_count(sim_a XOR sim_b) ≤ 3 on the candidate
       set, each pair emitted once from its lowest matching combo via
       a pure integer predicate (no DISTINCT shuffle).

    Integer arithmetic end to end ⇒ bit-identical with the DuckDB
    oracle including every signature. At 100 TB, distance-k dedup
    takes (k+3 choose 3) combos of (k+3) chunks — table count grows
    combinatorially but each stays corpus-density-bounded; 20 tables
    at d=3 is the standard production operating point.

    OUTPUT-SIZE caveat (sf10 rehearsal, SCALING.md): on a corpus with
    heavy true duplication the PAIR ENUMERATION itself is Ω(dups²) —
    the synthetic sf10 tier has 446M hamming-0 pairs, so wall-clock
    there is result materialization, not plan cost. At production dup
    density, don't enumerate pairs: feed these same combo buckets into
    `dedup_cluster_components`/`dedup_canonical_pick`, which reduce
    each cluster without materializing C(c,2) rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("token")
    ).withColumn(
        # One base-16 conversion folds the leading 15 md5 hex digits into a
        # single 60-bit long; each signature bit is then an integer shift
        # instead of a per-digit substr/instr lookup (15 string ops -> 1).
        "hv",
        F.expr(f"CAST(conv(substr(md5(token), 1, {_SH64_DIGITS}), 16, 10) AS BIGINT)"),
    )
    # Bit j of the signature reads bit (j%4) of hex digit (j//4); digit i is
    # the (14-i)-th nibble of hv (most-significant hex digit first), so the
    # shift is 4*(14 - j//4) + j%4. Mapping matches the oracle bit-for-bit.
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"((hv >> {4 * (_SH64_DIGITS - 1 - j // 4) + j % 4}) & 1) * 2 - 1"
                )
            ).alias(f"s{j}")
            for j in range(_SH64_BITS)
        ]
    )
    sim = None
    for j in range(_SH64_BITS):
        term = (F.col(f"s{j}") >= 0).cast("long") * F.lit(1 << j)
        sim = term if sim is None else sim + term
    # NOTE: no localCheckpoint here even though (doc_id, sim) feeds
    # both self-join sides — the two sides are IDENTICAL subtrees, so
    # Catalyst already computes the vote shuffle once (ReusedExchange);
    # a checkpoint would break that reuse and add a materialization
    # barrier (measured 18% slower at sf0.1). Checkpoint only pays
    # when consumers diverge (see mining_assoc_rules).
    sig = votes.select("doc_id", sim.alias("sim"))

    # corpus-size-tiered pigeonhole geometry (round-9 VERDICT item 5):
    # 4 bucket rows/doc on small corpora, 20 on large — same output
    chunk_bits, combos = _sh64_layout(sf_dir)
    e = sig.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("ci"),
                        F.expr(_sh64_combo_key_sql("sim", combo, chunk_bits)).alias(
                            "cv"
                        ),
                    )
                    for m, combo in enumerate(combos)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sim", "c.ci", "c.cv")
    a = e.select(
        F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"), "ci", "cv"
    )
    b = e.select(
        F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"), "ci", "cv"
    )
    # A pair within Hamming 3 may share several intact combos and would
    # surface once per shared combo; instead of a DISTINCT shuffle over
    # the candidate set, emit each pair only from its LOWEST matching
    # combo — "some chunk of every earlier combo differs" is an integer
    # predicate on (sim_a, sim_b), so dedup costs zero extra shuffles.
    def _combo_eq(m: int):
        c = F.lit(True)
        for t in combos[m]:
            c = c & (
                F.expr(_sh64_chunk_sql("sim_a", t, chunk_bits))
                == F.expr(_sh64_chunk_sql("sim_b", t, chunk_bits))
            )
        return c

    first_match = F.lit(True)
    for m in range(len(combos) - 1):
        first_match = first_match & ((F.col("ci") <= m) | ~_combo_eq(m))
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["ci", "cv"])
        .filter((F.col("doc_a") < F.col("doc_b")) & (ham <= _SH64_MAXD) & first_match)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


@register(
    "dedup_canonical_pick",
    oracle=_CAND_PAIRS_SQL.replace("WITH base", "WITH RECURSIVE base", 1)
    + """
, edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         FROM reach GROUP BY u),
allc AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
k AS (
  SELECT cluster_id, doc_id AS keep_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM allc) WHERE rn = 1
)
SELECT a.doc_id, a.cluster_id, k.keep_id, a.doc_id = k.keep_id AS is_kept
FROM allc a JOIN k USING (cluster_id)
""",
    tags=("llm", "dedup", "iterative"),
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION table — what a curation pipeline actually
    writes out: every document mapped to its near-dup cluster (from
    `dedup_cluster_components`' label propagation; singletons keep
    their own id) with the cluster's canonical survivor chosen by
    (longest text, then lowest doc_id). Downstream keeps `is_kept`
    rows and drops the rest. Shape: the component labels join back to
    the corpus on doc_id, the survivor pick is one row_number window
    per cluster (cluster-keyed shuffle), and the keep table joins back
    broadcast-small — no new corpus-scale passes beyond the cluster
    step itself."""
    docs = load_table(spark, sf_dir, "documents")
    comp = dedup_cluster_components(spark, sf_dir)
    allc = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    k = (
        allc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("keep_id"))
    )
    return allc.join(k, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).alias("is_kept"),
    )


_SPLIT_SALT = "split1|"


@register(
    "ml_split_leakage_check",
    oracle=_CAND_PAIRS_SQL
    + f"""
, sp AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 10 < 8
              THEN 'train' ELSE 'test' END AS split
  FROM documents
), labeled AS (
  SELECT c.doc_a, c.doc_b, sa.split AS split_a, sb.split AS split_b
  FROM cand c JOIN sp sa ON sa.doc_id = c.doc_a
              JOIN sp sb ON sb.doc_id = c.doc_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COUNT(*) FILTER (WHERE split_a <> split_b) AS BIGINT)
         AS n_cross_split,
       floor(COUNT(*) FILTER (WHERE split_a <> split_b) * 1e8
             / COUNT(*)) / 1e6 AS leakage_pct_q6
FROM labeled
""",
    tags=("llm", "dedup", "ml"),
)
def ml_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: assign every document to a split
    by salted hash (80/20, deterministic — the same bucketing discipline
    as `events_ab_assignment_srm`), then count LSH near-duplicate
    candidate pairs that CROSS the split boundary — each one is a test
    document whose near-copy sits in the training set, silently
    inflating eval scores. Reuses `_candidate_pairs` (bucketed
    O(bucket²) generation, no all-pairs); the split labels join onto
    the pair table by doc_id equi-keys; output is one summary row. At
    100 TB this is exactly the audit run before any eval is trusted,
    and the leakage fix is `dedup_canonical_pick` filtered to keepers
    before splitting."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _candidate_pairs(docs)
    bucket = F.expr(
        f"CAST(conv(substr(md5(concat('{_SPLIT_SALT}', CAST(doc_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) % 10"
    )
    sp = docs.select(
        "doc_id", F.when(bucket < 8, "train").otherwise("test").alias("split")
    ).localCheckpoint(eager=False)  # joined twice (doc_a + doc_b sides)
    labeled = (
        pairs.join(sp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "split_a"), "doc_a")
        .join(sp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "split_b"), "doc_b")
    )
    cross = F.count_if(F.col("split_a") != F.col("split_b"))
    return labeled.agg(
        F.count("*").cast("long").alias("n_candidate_pairs"),
        cross.cast("long").alias("n_cross_split"),
        # try_divide: zero candidate pairs (tiny/empty corpus) is a
        # legal outcome of a leakage audit — DuckDB yields NULL
        (F.floor(F.try_divide(cross * 1e8, F.count("*"))) / 1e6).alias(
            "leakage_pct_q6"
        ),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic dedup — cluster the embedding
# space, then inside each cluster drop the member of every
# high-cosine pair that sits CLOSER to the centroid (keeping the less
# prototypical example preserves diversity, the paper's selection
# rule). Complements dedup_embedding_cosine (label-blocked greedy
# drop): here the blocking is learned (centroid assignment), which is
# what makes the method work on unlabeled web-scale corpora.

_SEMDEDUP_K = 8  # MINIMUM seed centroids (vec_id 0..k-1)
# Cluster-size governor: k = max(_SEMDEDUP_K, n // _SEMDEDUP_TARGET), so
# blocks stay ~_SEMDEDUP_TARGET vectors regardless of corpus size. The
# round-8 sf10 rehearsal proved why this cannot be a constant: k=8 over
# 200k vectors made 25k-row blocks, and the numpy Gram inside the block
# scorer is O(block^2) MEMORY -- a python worker ballooned to 35 GB and
# the OS OOM-killed it. With the governor, the Gram is ~2000^2 = 32 MB
# per task at every scale; at the driver's sf0.01 (2k vectors) the
# formula reduces to the historical k=8, so recorded results stand.
_SEMDEDUP_TARGET = 2000
_SEMDEDUP_TAU = 0.3
# ANN assignment recall knob (dedup_semdedup_ann): each vector probes
# its _SEMDEDUP_NPROBE nearest coarse cells; expected fine candidates
# per vector ≈ _SEMDEDUP_NPROBE·k/√k = _SEMDEDUP_NPROBE·√k. One
# constant referenced by both the docstring and the worker (round-9
# ADVICE: the two had drifted).
_SEMDEDUP_NPROBE = 3


def _qdot(u, v):
    """Fold dot product over floor-quantized (2^20 grid) double arrays.
    Every element is an integer-valued double <= 2^20, every partial
    sum < 2^53, so the fold is EXACT (order-independent) and
    bit-identical to DuckDB's list_dot_product."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t
    )


@register(
    "dedup_semdedup",
    oracle=f"""
WITH q AS (SELECT vec_id,
                  list_transform(embedding::DOUBLE[], x -> floor(x * 1048576.0)) AS qe
           FROM embeddings),
cent AS (SELECT vec_id AS cid, qe AS cvec FROM q
         WHERE vec_id < (SELECT GREATEST({_SEMDEDUP_K}, COUNT(*) // {_SEMDEDUP_TARGET}) FROM q)),
d AS (SELECT q.vec_id, c.cid, q.qe, c.cvec,
             list_dot_product(q.qe, q.qe) AS n2,
             list_dot_product(c.cvec, c.cvec) AS cn2,
             list_dot_product(q.qe, c.cvec) AS dotc
      FROM q CROSS JOIN cent c),
asg AS (SELECT vec_id, cid, qe, n2, cn2, dotc
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY n2 + cn2 - 2 * dotc, cid) AS rn FROM d)
        WHERE rn = 1),
m AS (SELECT vec_id, cid, qe, n2,
             dotc / (sqrt(n2) * sqrt(cn2)) AS cos_cent FROM asg),
pr AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
              list_dot_product(a.qe, b.qe) / (sqrt(a.n2) * sqrt(b.n2)) AS cos_ab,
              a.cos_cent AS ca, b.cos_cent AS cb
       FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id),
victims AS (SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND va > vb)
                                 THEN va ELSE vb END AS vec_id
            FROM pr WHERE cos_ab >= {_SEMDEDUP_TAU}),
out AS (SELECT m.vec_id, m.cid,
               floor(m.cos_cent * 1000000.0) / 1000000.0 AS cos_cent_q6,
               (v.vec_id IS NULL) AS is_kept
        FROM m LEFT JOIN victims v ON v.vec_id = m.vec_id)
SELECT * FROM out
""",
    tags=("llm", "dedup", "embedding"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup decision table: every vector with its
    cluster id, centroid cosine, and an is_kept flag (False = dropped
    because some same-cluster partner is within cosine ≥ τ and this
    member is the more prototypical of the pair — higher centroid
    cosine, tie to the higher vec_id).

    Determinism: embeddings are floor-quantized to the 2^20 integer
    grid, so every dot product (a fold of integer-valued doubles with
    all partials < 2^53) is EXACT and order-independent; distances use
    the n²+c²−2·x·c expansion of the same three dots, and the only
    rounded ops (sqrt, divide) are single correctly-rounded IEEE steps
    identical on both engines — assignment argmin, the τ predicate,
    and the prototype comparison are therefore bit-stable.

    Scale shape: the k-row centroid table broadcasts (assignment is
    shuffle-free map work); the argmin is ONE map-side-combined
    min(struct) groupBy on vec_id; the O(cluster²) pair stage is a
    vectorized applyInPandas block scorer keyed on cid (the
    dedup_embedding_cosine pattern — one shuffle of n rows, pairwise
    work in a numpy Gram matrix instead of cluster² join rows through
    the shuffle) — the SemDeDup operating point (k grows with n to cap
    cluster size, cf. size_hints). Victims join back by vec_id. No
    CartesianProduct anywhere; the crossJoin is the broadcast k-row
    centroid table."""
    emb = load_table(spark, sf_dir, "embeddings")
    # quantized vectors feed the centroid slice, the assignment cross,
    # and the pair-stage join-back — checkpoint so the scan+quantize
    # runs once (8 redundant embeddings scans before; scan-count audit)
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS DOUBLE))"
        ).alias("qe"),
    ).localCheckpoint(eager=False)
    kk = q.agg(
        F.greatest(
            F.lit(_SEMDEDUP_K).cast("long"),
            F.floor(F.count("*") / _SEMDEDUP_TARGET).cast("long"),
        ).alias("kk")
    )
    cent = (
        q.crossJoin(kk)
        .filter(F.col("vec_id") < F.col("kk"))
        .select(F.col("vec_id").alias("cid"), F.col("qe").alias("cvec"))
    )
    # Assignment is the designed O(n·k) SemDeDup brute force (k grows
    # with n under the cluster-size governor, so this term is the
    # op's documented quadratic — at 100 TB assignment goes
    # ANN-assisted (sim_ann_ivf's cell shape) before it dominates;
    # SCALING.md sf10 section). Constant-factor discipline: both
    # squared norms are computed ONCE per side before the broadcast
    # cross join, so each of the n·k candidate rows evaluates exactly
    # one fold (the old shape ran three). A shuffle-free per-row fold
    # over a packed codebook was measured SLOWER (interpreted HOF per
    # element × k centroids beats the join only on paper) — keep the
    # join + map-side-combined min-struct argmin.
    qn = q.select("vec_id", "qe", _qdot(F.col("qe"), F.col("qe")).alias("n2v"))
    centn = cent.select(
        "cid", "cvec", _qdot(F.col("cvec"), F.col("cvec")).alias("cn2v")
    )
    d = qn.crossJoin(F.broadcast(centn)).select(
        "vec_id",
        "cid",
        (
            F.col("n2v") + F.col("cn2v") - 2 * _qdot(F.col("qe"), F.col("cvec"))
        ).alias("dist2"),
    )
    asg = (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("dist2", "cid")).alias("pick"))
        .select("vec_id", F.col("pick.cid").alias("cid"))
    )
    qe, cvec = F.col("qe"), F.col("cvec")
    m = (
        asg.join(q, "vec_id")
        .join(F.broadcast(cent), "cid")
        .select(
            "vec_id",
            "cid",
            "qe",
            _qdot(qe, qe).alias("n2"),
            # try_divide: a zero-norm vector (legal input) has no
            # defined centroid cosine — NULL on both engines
            F.try_divide(
                _qdot(qe, cvec), F.sqrt(_qdot(qe, qe)) * F.sqrt(_qdot(cvec, cvec))
            ).alias("cos_cent"),
        )
    )
    return _semdedup_decide(m)


# Row-block width for the streamed Gram in _semdedup_victims_block:
# per-block temporaries are ~17·B·n bytes (Gram slab + denom + bool),
# reused across blocks, so peak worker memory is O(B·n) instead of the
# O(n²) of a materialized cosine matrix.
_SEMDEDUP_GRAM_BLOCK = 512


def _semdedup_victims_block(pdf):
    # Streamed Gram over floor-quantized integer-valued doubles: every
    # partial sum < 2^53, so each Q[blk] @ Q.T slab is EXACT regardless
    # of BLAS blocking/summation order — bit-identical to the oracle's
    # list_dot_product; per element, cos = g/(a·b) is the same two
    # single correctly-rounded IEEE steps as the SQL formulation, so
    # blocking cannot flip a τ-boundary pair. The full n×n Gram/cosine
    # is never materialized: the old shape allocated ~27 bytes/element
    # of FRESH temporaries per cluster (G + outer + cos + two bools),
    # which (a) grows worker memory quadratically in cluster size (the
    # r8 35 GB OOM class) and (b) pays this host's pathological
    # first-touch page-fault latency (measured: a fresh 128 MB
    # elementwise divide 19-45 s cold vs 0.1 s on reused pages —
    # PERFORMANCE.md round 10) on every large cluster.
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    ca = pdf["cos_cent"].to_numpy(dtype="float64", na_value=np.nan)
    Q = np.stack(pdf["qe"].to_numpy()).astype("float64")
    n = len(ids)
    # exact: (Q*Q).sum(1) == diag(Q@Q.T) — integer-valued partials
    nrm = np.sqrt((Q * Q).sum(axis=1))
    vic_parts = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for lo in range(0, n, _SEMDEDUP_GRAM_BLOCK):
            hi = min(lo + _SEMDEDUP_GRAM_BLOCK, n)
            gb = Q[lo:hi] @ Q.T  # exact integer-valued slab
            cosb = gb / (nrm[lo:hi, None] * nrm[None, :])
            bi, jj = np.nonzero(cosb >= _SEMDEDUP_TAU)
            ii = bi + lo
            keep = ii < jj  # upper triangle only
            ii, jj = ii[keep], jj[keep]
            if len(ii):
                # ids sorted ascending: i < j; victim = the more
                # prototypical member (higher centroid cosine), tie ->
                # the higher vec_id (j)
                vic_parts.append(np.where(ca[ii] > ca[jj], ids[ii], ids[jj]))
    vic = (
        np.unique(np.concatenate(vic_parts))
        if vic_parts
        else np.empty(0, dtype=ids.dtype)
    )
    return pd.DataFrame({"vec_id": vic})


def _semdedup_decide(m: DataFrame) -> DataFrame:
    """Shared SemDeDup tail: cluster-blocked O(cluster²) pair scoring
    (vectorized numpy Gram per cid, ONE shuffle of n rows) and the
    keep/drop decision table. Input m: (vec_id, cid, qe, cos_cent)."""
    victims = (
        m.select("cid", "vec_id", "qe", "cos_cent")
        .groupBy("cid")
        .applyInPandas(_semdedup_victims_block, "vec_id long")
        .withColumn("hit", F.lit(True))
    )
    return m.join(victims, "vec_id", "left").select(
        "vec_id",
        "cid",
        (F.floor(F.col("cos_cent") * 1_000_000.0) / 1_000_000.0).alias("cos_cent_q6"),
        F.col("hit").isNull().alias("is_kept"),
    )


@register(
    "dedup_semdedup_ann",
    oracle=None,
    tags=("llm", "dedup", "embedding", "rows-only"),
)
def dedup_semdedup_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with ANN-ASSISTED centroid assignment (round-9 VERDICT
    item 7): identical decision semantics to `dedup_semdedup` — same
    governor-sized centroid set, same τ pair rule, same numpy-Gram
    cluster scorer — but the O(n·k) brute-force nearest-centroid step
    is replaced by the sim_ann_ivf cell shape:

      1. coarse quantizer: the first ⌈√k⌉ centroids double as coarse
         cells; each of the k fine centroids is routed to its nearest
         coarse cell (k·√k tiny work, broadcast);
      2. every vector scores only the √k coarse cells (n·√k instead of
         n·k) and multiprobes its _SEMDEDUP_NPROBE (=3) nearest cells;
      3. the fine argmin runs over just the centroids indexed in those
         probed cells (expected 3k/√k = 3√k candidates per vector).

    Total assignment work is O(n·√k) — at the sf10 rehearsal tier
    (k=100) that is ~40 distance evaluations per vector instead of
    100, and the gap widens linearly in √k as the governor grows k
    with the corpus. The multiprobe count (_SEMDEDUP_NPROBE, shared
    with the worker) is the recall knob. Design note, not implemented:
    should √k itself ever become the bottleneck (k ≳ 10⁶, far beyond
    the governor's output at any rehearsed tier), the same recursion
    admits a third level (IVF-in-IVF) — at every tier measured here
    (through sf10) two levels keep assignment far off the critical
    path, so the third level stays unbuilt until a rehearsal shows
    otherwise.

    rows-only BY DESIGN: ANN assignment may route a boundary vector to
    its second-nearest centroid, so the exact DuckDB argmin is not the
    semantics; `dedup_semdedup` (oracle-green) is the exact twin and
    tests/test_round9_invariants.py pins assignment agreement ≥ 0.95
    and run-to-run determinism at sf0.1. Distances use the same exact
    integer-grid expansion as the exact twin, so the approximation is
    the CELL ROUTING only, never float noise."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS DOUBLE))"
        ).alias("qe"),
    ).localCheckpoint(eager=False)
    kk = q.agg(
        F.greatest(
            F.lit(_SEMDEDUP_K).cast("long"),
            F.floor(F.count("*") / _SEMDEDUP_TARGET).cast("long"),
        ).alias("kk")
    ).select("kk", F.ceil(F.sqrt(F.col("kk"))).cast("long").alias("cc"))
    cent = (
        q.crossJoin(kk)
        .filter(F.col("vec_id") < F.col("kk"))
        .select(
            F.col("vec_id").alias("cid"),
            F.col("qe").alias("cvec"),
            _qdot(F.col("qe"), F.col("qe")).alias("cn2v"),
        )
        # feeds coarse routing, fine argmin, and the m join-back
        .localCheckpoint(eager=False)
    )
    # The whole assignment (coarse routing + 3-probe + fine argmin +
    # centroid cosine) runs in ONE cogrouped Arrow stage: the round-9
    # rehearsal showed the DataFrame formulation's per-row interpreted
    # HOF dots were a 19 s/111 s constant at sf1/sf10 even though the
    # O(n·√k) RATIO held — the exact shape sim_ann_pq's encode had
    # before its cogroup rewrite. Inside the worker the per-cell
    # distance blocks are integer-exact float64 matmuls (every product
    # < 2^53), the tie rules mirror the min-struct formulation
    # (lowest ccell, then lowest cid), and the work stays O(n·√k·dim):
    # one (rows-in-cell × centroids-in-cell) block per probed cell,
    # never the full n×k matrix. The governor-sized centroid table is
    # replicated across salt slices (k ≤ n/2000 rows — ~3 MB at the
    # sf10 tier); at the scale where even that replication hurts, the
    # codebook is sample-trained and broadcast, per SCALING.md.
    from odns_dataimporter_spark.size_hints import derived_pq_salt

    salt_n = derived_pq_salt(sf_dir)
    salted_rows = q.select(
        "vec_id", "qe", F.pmod(F.col("vec_id"), F.lit(salt_n)).cast("int").alias("salt")
    )
    salted_cents = cent.crossJoin(kk.select("cc")).select(
        "cid",
        "cvec",
        "cc",
        F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias("salt"),
    )
    m = (
        salted_rows.groupBy("salt")
        .cogroup(salted_cents.groupBy("salt"))
        .applyInPandas(
            _semdedup_ann_assign,
            "vec_id long, cid long, qe array<double>, cos_cent double",
        )
    )
    return _semdedup_decide(m)


def _semdedup_ann_assign(rows, cents):
    """Cogrouped salt-slice worker for dedup_semdedup_ann: coarse-route
    the centroids, 3-probe each vector's nearest coarse cells, fine
    argmin within the probed cells' centroid sets, then the centroid
    cosine — all integer-exact distances (2^20 grid ⇒ every matmul
    partial < 2^53), ties to the lower ccell/cid, matching the exact
    twin's min-struct rules bit for bit."""
    import numpy as np
    import pandas as pd

    if rows.empty or cents.empty:
        return pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "cid": pd.Series(dtype="int64"),
                "qe": pd.Series(dtype="object"),
                "cos_cent": pd.Series(dtype="float64"),
            }
        )
    cdf = cents.sort_values("cid")
    cids = cdf["cid"].to_numpy()
    C = np.stack([np.asarray(v, dtype=np.float64) for v in cdf["cvec"]])
    cn2 = (C * C).sum(axis=1)
    cc = int(cdf["cc"].iloc[0])
    gmask = cids < cc
    G, gcells, gn2 = C[gmask], cids[gmask], cn2[gmask]
    # centroid -> nearest coarse cell (tie: lowest ccell — G is
    # cid-ascending so argmin's first-min rule matches)
    route = gcells[
        np.argmin(cn2[:, None] + gn2[None, :] - 2.0 * (C @ G.T), axis=1)
    ]
    V = np.stack([np.asarray(v, dtype=np.float64) for v in rows["qe"]])
    n2 = (V * V).sum(axis=1)
    dvg = n2[:, None] + gn2[None, :] - 2.0 * (V @ G.T)
    nprobe = min(_SEMDEDUP_NPROBE, len(gcells))
    # stable sort: equal-distance cells keep ascending ccell order,
    # mirroring the (dist2, ccell) struct sort
    top = np.argsort(dvg, axis=1, kind="stable")[:, :nprobe]
    # membership: centroid j belongs to cell g if routed there OR g is
    # its own cell (the own-cell guarantee — no probed cell is empty)
    memb = (route[None, :] == gcells[:, None]) | (cids[None, :] == gcells[:, None])
    best_d = np.full(len(V), np.inf)
    best_cid = np.full(len(V), np.iinfo(np.int64).max, dtype=np.int64)
    for gi in range(len(gcells)):
        rsel = (top == gi).any(axis=1)
        csel = memb[gi]
        if not rsel.any() or not csel.any():
            continue
        D = (
            n2[rsel, None]
            + cn2[None, csel]
            - 2.0 * (V[rsel] @ C[csel].T)
        )
        j = D.argmin(axis=1)  # lowest cid among in-cell ties (cid-ascending)
        d = D[np.arange(D.shape[0]), j]
        cand = cids[csel][j]
        cur_d, cur_c = best_d[rsel], best_cid[rsel]
        upd = (d < cur_d) | ((d == cur_d) & (cand < cur_c))
        cur_d[upd], cur_c[upd] = d[upd], cand[upd]
        best_d[rsel], best_cid[rsel] = cur_d, cur_c
    idx = np.searchsorted(cids, best_cid)
    dot = (V * C[idx]).sum(axis=1)
    denom = np.sqrt(n2) * np.sqrt(cn2[idx])
    cos = np.divide(dot, denom, out=np.full(len(V), np.nan), where=denom > 0)
    return pd.DataFrame(
        {
            "vec_id": rows["vec_id"].to_numpy(),
            "cid": best_cid,
            "qe": rows["qe"],
            # NULL (not NaN) for zero-norm vectors, like try_divide
            "cos_cent": pd.array(
                [None if not np.isfinite(c) else c for c in cos], dtype="Float64"
            ),
        }
    )


# Lloyd rounds for the kmeans-trained SemDeDup twin: centroid QUALITY
# (not assignment) is all training buys, and on the hash-spread seeds
# two rounds already move every seed to its local mass center — more
# rounds shave inertia by <1% while costing a full sample pass each.
_SEMDEDUP_KM_ROUNDS = 2


def _semdedup_km_partial(rows, cents):
    """Cogrouped salt-slice Lloyd trainer for dedup_semdedup_kmeans:
    flat nearest-centroid argmin (ties to the lowest cid — C is
    cid-ascending so numpy's first-min rule matches the min-struct
    convention) followed by per-cluster PARTIAL sums, so the shuffle
    after this stage carries k rows per slice, never the sample.
    The sums are over 2^20-grid integer-valued vectors (every partial
    < 2^53), so downstream reduction is EXACT and order-independent
    even though the trained centroids themselves are non-integer
    means."""
    import numpy as np
    import pandas as pd

    if rows.empty or cents.empty:
        return pd.DataFrame(
            {
                "cid": pd.Series(dtype="int64"),
                "cnt": pd.Series(dtype="int64"),
                "sums": pd.Series(dtype="object"),
            }
        )
    cdf = cents.sort_values("cid")
    cids = cdf["cid"].to_numpy()
    C = np.stack([np.asarray(v, dtype=np.float64) for v in cdf["cvec"]])
    cn2 = (C * C).sum(axis=1)
    V = np.stack([np.asarray(v, dtype=np.float64) for v in rows["qe"]])
    n2 = (V * V).sum(axis=1)
    a = (n2[:, None] + cn2[None, :] - 2.0 * (V @ C.T)).argmin(axis=1)
    out_c, out_n, out_s = [], [], []
    for gi in np.unique(a):
        sel = a == gi
        out_c.append(int(cids[gi]))
        out_n.append(int(sel.sum()))
        out_s.append(V[sel].sum(axis=0))
    return pd.DataFrame({"cid": out_c, "cnt": out_n, "sums": out_s})


def _semdedup_km_reduce(pdf):
    """Reduce the per-slice Lloyd partials of ONE cluster to its mean.
    Partial sums are integer-valued float64 (< 2^53), so the stacked
    sum is exact in any order; the single division to the mean is one
    correctly-rounded IEEE step — training is bit-deterministic."""
    import numpy as np
    import pandas as pd

    S = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["sums"]]).sum(axis=0)
    n = float(pdf["cnt"].sum())
    return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])], "mvec": [S / n]})


@register(
    "dedup_semdedup_kmeans",
    oracle=None,
    tags=("llm", "dedup", "embedding", "iterative", "rows-only"),
)
def dedup_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with SAMPLE-TRAINED kmeans centroids (round-9 VERDICT
    item 6): identical decision semantics to `dedup_semdedup` — same τ
    pair rule, same numpy-Gram cluster scorer, same keep/drop
    prototype convention — but the centroids are LEARNED instead of
    "the first k vec_ids". The exact twin's first-k init is exact and
    oracle-expressible, yet quality-fragile on ordered corpora: a
    topic-sorted dump hands it k near-identical centroids and the
    clustering degenerates (one giant cluster = one giant Gram). This
    twin fixes the init AND refines it:

      1. seeds: the k vectors with the smallest xxhash64(vec_id) —
         an order-independent spread (ingest sort order cannot bias
         it), picked by TakeOrderedAndProject (parallel top-k);
      2. training: _SEMDEDUP_KM_ROUNDS (=2) Lloyd rounds over a hash
         sample capped at ~50k vectors (size_hints); each round is ONE
         cogrouped Arrow stage emitting per-cluster PARTIAL sums (k
         rows per salt slice through the shuffle, never the sample)
         reduced to exact integer-grid means;
      3. assignment: the trained k centroids go through the shared
         two-level ANN worker (`_semdedup_ann_assign`, O(n·√k) — the
         first ⌈√k⌉ trained centroids double as coarse cells), then
         the shared `_semdedup_decide` tail.

    k comes from the same cluster-size governor as the exact twin but
    fed from file bytes (derived_semdedup_k) so no count() job gates
    the plan. 100 TB shape: training cost is capped by the sample
    (O(rounds·50k·k) numpy flops), the corpus is touched exactly once
    for assignment and once for the pair stage.

    rows-only BY DESIGN: trained means are not SQL-reachable in one
    oracle pass (the sample + 2 Lloyd rounds + ANN routing would be a
    4-level nested quadratic CTE); `dedup_semdedup` stays the
    oracle-green exact twin and tests/test_round10_invariants.py pins
    (a) one decision row per vector + run-to-run determinism, (b)
    keep/drop agreement vs the exact twin, and (c) the quality
    contract that motivates the op: on a topic-sorted remap of the
    corpus the trained centroids' mean assigned-centroid cosine beats
    the first-k twin's (SemDeDup, Abbas et al. 2023 — clustering
    quality, not exactness, is what the method needs)."""
    import math

    from odns_dataimporter_spark.size_hints import (
        derived_pq_salt,
        derived_semdedup_k,
        derived_semdedup_sample_mod,
    )

    k = derived_semdedup_k(sf_dir)
    cc = math.isqrt(k - 1) + 1  # ceil(sqrt(k))
    smod = derived_semdedup_sample_mod(sf_dir)
    salt_n = derived_pq_salt(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS DOUBLE))"
        ).alias("qe"),
    ).localCheckpoint(eager=False)

    from pyspark.sql.window import Window as W

    # seeds: hash-spread top-k (TakeOrderedAndProject); the residual
    # row_number window runs over the k-row result, like ml_kmeans c0
    seed_order = [F.xxhash64("vec_id").asc(), F.col("vec_id").asc()]
    cents = (
        q.orderBy(*seed_order)
        .limit(k)
        .select(
            (F.row_number().over(W.orderBy(*seed_order)) - 1)
            .cast("long")
            .alias("cid"),
            F.col("qe").alias("cvec"),
        )
        .localCheckpoint(eager=False)
    )

    # sample-trained Lloyd rounds (hash sample: order-independent, a
    # DIFFERENT hash stream than the seed pick so the two cannot
    # correlate)
    sample = (
        q.filter(F.pmod(F.xxhash64("vec_id", F.lit("km-train")), F.lit(smod)) == 0)
        if smod > 1
        else q
    )
    srows = sample.select(
        "vec_id", "qe", F.pmod(F.col("vec_id"), F.lit(salt_n)).cast("int").alias("salt")
    )
    for _ in range(_SEMDEDUP_KM_ROUNDS):
        scents = cents.select(
            "cid",
            "cvec",
            F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias("salt"),
        )
        partial = (
            srows.groupBy("salt")
            .cogroup(scents.groupBy("salt"))
            .applyInPandas(_semdedup_km_partial, "cid long, cnt long, sums array<double>")
        )
        means = partial.groupBy("cid").applyInPandas(
            _semdedup_km_reduce, "cid long, mvec array<double>"
        )
        # empty clusters keep their previous centroid (k is tiny; the
        # localCheckpoint truncates per-round lineage like ml_kmeans)
        cents = (
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce("mvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=False)
        )

    # final assignment: the shared two-level ANN worker over the
    # trained centroids (first ceil(sqrt(k)) cids are the coarse cells)
    salted_rows = q.select(
        "vec_id", "qe", F.pmod(F.col("vec_id"), F.lit(salt_n)).cast("int").alias("salt")
    )
    salted_cents = cents.select(
        "cid",
        "cvec",
        F.lit(cc).cast("long").alias("cc"),
        F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias("salt"),
    )
    m = (
        salted_rows.groupBy("salt")
        .cogroup(salted_cents.groupBy("salt"))
        .applyInPandas(
            _semdedup_ann_assign,
            "vec_id long, cid long, qe array<double>, cos_cent double",
        )
    )
    return _semdedup_decide(m)


# ---------------------------------------------------------------------------
# Incremental (snapshot-vs-batch) near-dedup: the production cadence is
# never "dedup the whole corpus from scratch" — a new crawl batch is
# checked against the standing index of everything already kept.


@register(
    "dedup_incremental_minhash",
    oracle=_CAND_PAIRS_SQL
    + """,
x AS (
  SELECT CASE WHEN doc_a % 10 < 8 THEN doc_a ELSE doc_b END AS prior_id,
         CASE WHEN doc_a % 10 < 8 THEN doc_b ELSE doc_a END AS new_id
  FROM cand
  WHERE (doc_a % 10 < 8) <> (doc_b % 10 < 8)
),
tk AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       FROM documents),
v AS (
  SELECT x.new_id, x.prior_id,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS un
  FROM x JOIN tk a ON a.doc_id = x.new_id
         JOIN tk b ON b.doc_id = x.prior_id
),
m AS (
  SELECT new_id, prior_id, inter, un,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY CAST(inter AS DOUBLE) / un DESC,
                                     prior_id) AS rn
  FROM v WHERE inter * 1000000.0 >= 500000.0 * un
)
SELECT CAST(new_id AS BIGINT) AS new_id,
       CAST(prior_id AS BIGINT) AS matched_prior_id,
       floor(CAST(inter AS DOUBLE) / un * 1000000.0) / 1000000.0 AS jaccard_q6
FROM m WHERE rn = 1
""",
    tags=("llm", "dedup"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: new-batch documents (doc_id % 10 >= 8,
    standing in for the latest crawl) that near-duplicate (exact
    token-Jaccard ≥ 0.5) something in the PRIOR corpus (doc_id % 10
    < 8), each reporting its best prior match. Candidates come from
    the same banded-LSH machinery as dedup_near_minhash, filtered to
    cross-split pairs — so the pair space is the LSH bucket space, and
    a batch is only ever compared against bucket-mates, never the
    whole standing corpus. At 100 TB the prior side's band buckets are
    a persisted index the batch probes (this query recomputes them
    because the parquet corpus is the only storage in the harness —
    the plan shape downstream of the bucket join is identical).
    Verification joins token sets by doc_id with the TINY candidate
    side broadcast; best-match is the min(struct) argmax with the
    oracle's (jaccard DESC, prior_id) tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    cand = _candidate_pairs(docs)
    prior_a = F.col("doc_a") % 10 < 8
    x = cand.filter(prior_a != (F.col("doc_b") % 10 < 8)).select(
        F.when(prior_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("prior_id"),
        F.when(prior_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("new_id"),
    )
    tk = docs.select("doc_id", F.array_distinct(tokens()).alias("toks"))
    j1 = tk.join(
        F.broadcast(x), F.col("doc_id") == F.col("new_id"), "inner"
    ).select("new_id", "prior_id", F.col("toks").alias("a_toks"))
    v = tk.join(
        F.broadcast(j1), F.col("doc_id") == F.col("prior_id"), "inner"
    ).select(
        "new_id",
        "prior_id",
        F.size(F.array_intersect("a_toks", "toks")).alias("inter"),
        (
            F.size("a_toks") + F.size("toks")
            - F.size(F.array_intersect("a_toks", "toks"))
        ).alias("un"),
    )
    jac = F.col("inter").cast("double") / F.col("un")
    best = (
        v.filter(F.col("inter") * 1_000_000.0 >= 500_000.0 * F.col("un"))
        .select("new_id", "prior_id", jac.alias("jac"))
        .groupBy("new_id")
        .agg(
            F.min(
                F.struct((-F.col("jac")).alias("nj"), F.col("prior_id").alias("p"))
            ).alias("m")
        )
    )
    return best.select(
        F.col("new_id").cast("long").alias("new_id"),
        F.col("m.p").cast("long").alias("matched_prior_id"),
        (F.floor(-F.col("m.nj") * 1_000_000.0) / 1_000_000.0).alias("jaccard_q6"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood method (Hernandez & Stolfo 1995, the classic
# record-linkage blocking strategy): sort the corpus by a cheap
# similarity-clustering key, then compare each record only to its w-1
# predecessors in sort order. Complements the hash-bucket families
# (MinHash bands, SimHash chunks, prefix posting): SNM is the one
# blocking scheme whose candidate count is EXACTLY linear in corpus
# size (n·(w-1) pairs) regardless of how skewed the key distribution
# is — the standard choice when bucket-count blow-up is the risk.

_SNM_WINDOW = 3  # compare against up to 3 sort-order predecessors


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH d AS (SELECT doc_id, lower(text) AS lt,
                  list_distinct(string_split(text, ' ')) AS tkd
           FROM documents),
k AS (SELECT doc_id, tkd, substr(lt, 1, 24) AS skey, substr(lt, 1, 8) AS blk
      FROM d),
w AS (SELECT doc_id AS a_id, tkd AS ta,
             list(struct_pack(id := doc_id, tk := tkd)) OVER (
                PARTITION BY blk ORDER BY skey, doc_id
                ROWS BETWEEN {_SNM_WINDOW} PRECEDING AND 1 PRECEDING) AS prev
      FROM k),
p AS (SELECT a_id, ta, unnest(prev) AS u FROM w),
j AS (SELECT CAST(a_id AS BIGINT) AS a_id, CAST(u.id AS BIGINT) AS b_id,
             CAST(len(list_filter(ta, x -> list_contains(u.tk, x)))
                  AS BIGINT) AS inter,
             CAST(len(ta) + len(u.tk)
                  - len(list_filter(ta, x -> list_contains(u.tk, x)))
                  AS BIGINT) AS uni
      FROM p)
SELECT a_id, b_id, inter, uni,
       floor(inter * 1000000.0 / uni) / 1000000.0 AS jaccard_q6
FROM j WHERE uni > 0 AND 2 * inter >= uni
""",
    tags=("llm", "dedup"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dedup: block on an 8-char prefix of the
    lowercased text, sort each block by the 24-char prefix (doc_id
    tiebreak), and compare each doc to its ≤3 predecessors via a
    window collect_list — candidate pairs are EXACTLY n·w regardless
    of key skew (the property the hash-bucket families cannot
    guarantee). Verified pairs report distinct-token Jaccard ≥ 0.5
    with the threshold tested as an exact integer cross-multiply
    (2·|∩| ≥ |∪|), and the quantized ratio only emitted after the
    filter. Shape: ONE shuffle on the block key; the window buffer
    holds at most w token arrays per row; no self-join, no bucket
    explode. 100 TB: the block key's granularity is the knob — with
    real text an 8-char prefix yields fine-grained blocks; multi-pass
    SNM (re-run with a rotated key) is the standard recall booster and
    composes as a UNION of this plan."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.lower(F.col("text")).alias("lt"),
        F.array_distinct(tokens()).alias("tkd"),
    )
    k = d.select(
        "doc_id",
        "tkd",
        F.substring("lt", 1, 24).alias("skey"),
        F.substring("lt", 1, 8).alias("blk"),
    )
    wspec = (
        W.partitionBy("blk")
        .orderBy("skey", "doc_id")
        .rowsBetween(-_SNM_WINDOW, -1)
    )
    w = k.select(
        F.col("doc_id").alias("a_id"),
        F.col("tkd").alias("ta"),
        F.collect_list(
            F.struct(F.col("doc_id").alias("id"), F.col("tkd").alias("tk"))
        ).over(wspec).alias("prev"),
    )
    p = w.select("a_id", "ta", F.explode("prev").alias("u"))
    inter = F.size(F.array_intersect("ta", F.col("u.tk")))
    uni = F.size("ta") + F.size(F.col("u.tk")) - inter
    j = p.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("u.id").cast("long").alias("b_id"),
        inter.cast("long").alias("inter"),
        uni.cast("long").alias("uni"),
    )
    return j.filter((F.col("uni") > 0) & (2 * F.col("inter") >= F.col("uni"))).select(
        "a_id",
        "b_id",
        "inter",
        "uni",
        (F.floor(F.col("inter") * 1_000_000.0 / F.col("uni")) / 1_000_000.0).alias(
            "jaccard_q6"
        ),
    )


_CCNET_CHUNK = 12  # tokens per pseudo-paragraph


@register(
    "dedup_paragraph_ccnet",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id,
         CAST((s - 1) // {_CCNET_CHUNK} AS BIGINT) AS chunk_idx,
         array_to_string(toks[s:s + {_CCNET_CHUNK} - 1], ' ') AS chunk_text
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1, {_CCNET_CHUNK})) AS s
        FROM t)
),
k AS (
  SELECT doc_id, chunk_idx, chunk_text,
         CAST(row_number() OVER (PARTITION BY md5(chunk_text)
                                 ORDER BY doc_id, chunk_idx) AS BIGINT)
           AS rn
  FROM c
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       floor(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1000000.0
             / COUNT(*)) / 1000000.0 AS kept_ratio_q6,
       md5(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                      ORDER BY chunk_idx)) AS kept_digest
FROM k GROUP BY doc_id
""",
    tags=("llm", "dedup"),
)
def dedup_paragraph_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document deduplication (Wenzek et al. 2020):
    split every document into fixed 12-token
    pseudo-paragraphs (the corpus has no newline structure — real
    paragraph splits swap in transparently), hash each, keep only the
    GLOBALLY FIRST occurrence of every distinct paragraph (ordered by
    doc_id, position), and re-emit per-document survival stats plus a
    digest of the surviving text — removing boilerplate repeated
    across pages without dropping whole documents, which is exactly
    how CCNet cleans Common Crawl before exact/minhash doc-level
    dedup. Scale shape: one explode (no extra scan), ONE shuffle keyed
    by paragraph hash for the first-occurrence window, one
    map-side-combined regroup per doc; at 100 TB this is the same
    single content-keyed shuffle as `dedup_exact_doc`, just at
    paragraph grain. Determinism: the keep rule is a total order
    (doc_id, chunk_idx); ratios floor-quantize; a fully-deduped doc
    (zero survivors) yields NULL digest on both engines (string_agg /
    collect_list both skip the non-kept rows)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens().alias("toks"))
    c = t.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_CCNET_CHUNK))
        ).alias("chunk_idx", "s"),
        "toks",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("s"), F.lit(_CCNET_CHUNK))
        ).alias("chunk_text"),
    )
    k = c.select(
        "doc_id",
        "chunk_idx",
        "chunk_text",
        F.row_number()
        .over(
            W.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "chunk_idx")
        )
        .cast("long")
        .alias("rn"),
    )
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("chunk_idx", "chunk_text")
    )
    agg = k.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_sort(F.collect_list(kept_struct)).alias("kept"),
    )
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        (F.floor(F.col("n_kept") * 1_000_000.0 / F.col("n_chunks")) / 1_000_000.0).alias(
            "kept_ratio_q6"
        ),
        F.when(
            F.size("kept") > 0,
            F.md5(
                F.array_join(
                    F.transform(F.col("kept"), lambda x: x["chunk_text"]),
                    " ",
                )
            ),
        ).alias("kept_digest"),
    )


# --- LSH bucket-health profile --------------------------------------------------


@register(
    "dedup_lsh_bucket_stats",
    oracle=_minhash_sql_core_perm(_PROD_N_HASHES, _PROD_BAND_SIZE)
    + "\n, exploded AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, band{b} AS band FROM sigs"
        for b in range(_PROD_N_HASHES // _PROD_BAND_SIZE)
    )
    + """
), buckets AS (
  SELECT band_idx, band, CAST(COUNT(*) AS BIGINT) AS s
  FROM exploded GROUP BY band_idx, band
)
SELECT band_idx,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(s) AS BIGINT) AS n_entries,
       CAST(MAX(s) AS BIGINT) AS max_bucket,
       CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS pairs_generated,
       floor(CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1000000.0) / 1000000.0 AS singleton_frac_q6
FROM buckets GROUP BY band_idx
""",
    tags=("llm", "dedup", "profiling"),
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-health profile for the production 128-hash/8-band
    MinHash preset — the capacity-planning view of the near-dup
    pipeline: per band, how many buckets, the largest bucket, and the
    TOTAL candidate-pair work Σ s(s−1)/2 the verify stage will face
    (the exact cost `_candidate_pairs` is bounded by — this op IS the
    monitor for the O(Σ bucket²)-not-O(n²) claim, and the number to
    watch before launching a 100 TB dedup: a skewed band shows up here
    as max_bucket blowing past the mean long before the join runs).
    One corpus pass computes signatures, one shuffle buckets them;
    everything after is band-cardinality-sized. All counts exact
    int64; the singleton fraction is one floored division."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = _with_minhash_bands_perm(docs, _PROD_N_HASHES, _PROD_BAND_SIZE)
    n_bands = _PROD_N_HASHES // _PROD_BAND_SIZE
    exploded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band{b}").alias("band"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("e"),
    ).select("e.band_idx", "e.band")
    buckets = exploded.groupBy("band_idx", "band").agg(
        F.count("*").cast("long").alias("s")
    )
    return buckets.groupBy("band_idx").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("s").cast("long").alias("n_entries"),
        F.max("s").cast("long").alias("max_bucket"),
        F.sum(F.col("s") * (F.col("s") - 1) / 2)
        .cast("long")
        .alias("pairs_generated"),
        (
            F.floor(
                F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("double")
                / F.count("*")
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("singleton_frac_q6"),
    )
