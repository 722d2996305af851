"""spark.ml-backed variants of the dedup/text operators (SURVEY §2.7).

The engine's primary implementations are pure-DataFrame (oracle-able,
engine-portable); these twins run the same semantics through the public
spark.ml feature pipeline (Tokenizer → HashingTF → MinHashLSH / IDF),
which is the off-the-shelf path a Spark shop would reach for first.
Rows-only checks: ml hash seeds are Spark-internal so no SQL oracle can
reproduce the values — tests instead assert determinism and agreement
with the pure-DF implementations where semantics overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register("dedup_minhash_ml", oracle=None, tags=("llm", "dedup", "rows-only"))
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via spark.ml MinHashLSH
    (Tokenizer→HashingTF→approxSimilarityJoin): the library twin of
    dedup_near_minhash. Deterministic via fixed seed; Jaccard distance
    threshold 0.9 (= similarity ≥ 0.1 on hashed shingle space)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = Tokenizer(inputCol="text", outputCol="words")
    words = tok.transform(docs)
    tf = HashingTF(inputCol="words", outputCol="features", numFeatures=1 << 16, binary=True)
    feats = tf.transform(words).filter(F.expr("size(words) > 0"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.9, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (F.floor((1 - F.col("jaccard_dist")) * 1_000_000) / 1_000_000.0).alias("sim"),
        )
    )


@register("text_tfidf_ml", oracle=None, tags=("llm", "text", "rows-only"))
def text_tfidf_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via spark.ml HashingTF+IDF — the library twin of text_tfidf.
    Emits per-doc sparse-vector stats (nnz, max weight) since hashed
    feature indices aren't meaningful terms."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=1 << 16).transform(words)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)

    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("tfidf"))
    return out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x != 0)).cast("long").alias("nnz"),
        F.round(F.array_max(arr), 6).alias("max_weight"),
    )


@register(
    "stats_chi_square",
    oracle="""
WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
               FROM documents GROUP BY lang, source),
rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY lang),
ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY source),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT c.lang, c.source,
         (CAST(c.obs AS DOUBLE)
          - CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
         * (CAST(c.obs AS DOUBLE)
            - CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
         / (CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
           AS term
  FROM cells c JOIN rt r USING (lang) JOIN ct t USING (source) CROSS JOIN tot
),
agg AS (SELECT list(term ORDER BY lang, source) AS a,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM terms)
SELECT n_cells, n_langs, n_sources,
       (n_langs - 1) * (n_sources - 1) AS dof,
       floor(list_reduce(a, (x, y) -> x + y) * 1e6) / 1e6 AS chi2_q6
FROM agg
""",
    tags=("stats", "analytics"),
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the lang × source
    contingency table (the data-drift / composition-shift detector for
    corpus monitoring). The corpus-side work is ONE groupBy to cell
    counts; everything after runs on the tiny contingency table
    (|langs|·|sources| rows, bounded by construction). The final
    statistic folds terms in sorted (lang, source) order on both
    engines — sequential identical IEEE adds, bit-identical before the
    1e-6 floor quantization; expected counts are computed
    scale-before-divide (rt*ct/n) on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("obs"))
        # four diverging consumers (row/col/grand totals + the join):
        # checkpoint so the documents scan + cell reduction run once
        # (round-6 scan audit)
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("lang").agg(F.sum("obs").alias("rt"))
    ct = cells.groupBy("source").agg(F.sum("obs").alias("ct"))
    tot = cells.agg(F.sum("obs").alias("n"))
    t = (
        cells.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    d = F.col("obs").cast("double") - exp
    t = t.select("lang", "source", (d * d / exp).alias("term"))
    agg = t.agg(
        F.sort_array(F.collect_list(F.struct("lang", "source", "term"))).alias("a"),
        F.count("*").cast("long").alias("n_cells"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
    )
    chi2 = F.aggregate(
        F.col("a"), F.lit(0.0), lambda acc, x: acc + x["term"]
    )
    return agg.select(
        "n_cells",
        "n_langs",
        "n_sources",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        # empty contingency table → NULL statistic (DuckDB's
        # list_reduce over an empty list), not the fold's 0.0 init
        F.when(F.size("a") > 0, F.floor(chi2 * 1e6) / 1e6).alias("chi2_q6"),
    )


@register(
    "ml_kmeans_step",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
d AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.v, e.v) + list_dot_product(c.cv, c.cv)
           - 2 * list_dot_product(e.v, c.cv) AS dist2
  FROM e CROSS JOIN c),
a AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d) WHERE rn = 1),
m AS (
  SELECT cid, vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] AS val FROM (
    SELECT a.cid, e.vec_id, e.v, unnest(range(1, len(e.v) + 1)) AS i
    FROM a JOIN e USING (vec_id))),
g AS (
  SELECT cid, dim, list(val ORDER BY vec_id) AS vs,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM m GROUP BY cid, dim)
SELECT cid, dim, n_members,
       floor(list_reduce(vs, (x, y) -> x + y) * 1e6 / n_members) / 1e6
         AS centroid_q6
FROM g
""",
    tags=("ml", "llm"),
)
def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means (k=8, centroids seeded
    deterministically from vec_id 0–7): assign every embedding to its
    nearest centroid by squared L2 — expanded as x·x + c·c − 2·x·c so
    all three terms are the bit-identical sequential-fold dot product —
    ties broken toward the lower centroid id, then recompute each
    centroid as the per-dimension member mean. The mean uses a
    vec_id-ordered fold (order-fixed double sum on both engines) with
    the floor-quantized scale-before-divide convention. Scale shape:
    the k×64-float centroid table broadcasts, so assignment is
    shuffle-free; only the (cid, dim) regroup exchanges — at 100 TB the
    production swap is per-partition vector partial sums
    (treeAggregate-style, what spark.ml KMeans does) at the cost of the
    sum's bit-reproducibility; iterate this op to convergence."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    x, c = F.col("embedding"), F.col("cvec")
    pairs = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        (dot(x, x) + dot(c, c) - 2 * dot(x, c)).alias("dist2"),
    )
    w = W.partitionBy("vec_id").orderBy("dist2", "cid")
    assign = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    member = assign.join(emb, "vec_id").select(
        "cid",
        "vec_id",
        F.posexplode("embedding").alias("dim", "val"),
    )
    cells = member.groupBy("cid", F.col("dim").cast("long").alias("dim")).agg(
        F.sort_array(
            F.collect_list(F.struct("vec_id", F.col("val").cast("double").alias("val")))
        ).alias("vs"),
        F.count("*").cast("long").alias("n_members"),
    )
    total = F.aggregate(
        F.col("vs"), F.lit(0.0), lambda acc, s: acc + s["val"]
    )
    return cells.select(
        "cid",
        "dim",
        "n_members",
        (F.floor(total * 1e6 / F.col("n_members")) / 1e6).alias("centroid_q6"),
    )


_KC_SCALE = 1048576.0  # 2^20: float32 -> exact integer grid
_KC_ROUNDS = 7  # selections after the seed (8 total)


def _kcenter_oracle() -> str:
    dist = (
        "(list_dot_product(d{i}.qe, d{i}.qe) + list_dot_product(p{n}.qe, p{n}.qe)"
        " - 2 * list_dot_product(d{i}.qe, p{n}.qe))"
    )
    ctes = [
        f"""v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * {_KC_SCALE})) AS qe
  FROM embeddings),
seed AS (
  SELECT vec_id, qe FROM (
    SELECT vec_id, qe, md5(CAST(vec_id AS VARCHAR)) AS h FROM v
    ORDER BY h, vec_id LIMIT 1)),
d0 AS (
  SELECT v.vec_id, v.qe,
         (list_dot_product(v.qe, v.qe) + list_dot_product(seed.qe, seed.qe)
          - 2 * list_dot_product(v.qe, seed.qe)) AS dmin
  FROM v, seed)"""
    ]
    for n in range(1, _KC_ROUNDS + 1):
        i = n - 1
        ctes.append(
            f"""p{n} AS (
  SELECT vec_id, qe, dmin FROM d{i} ORDER BY dmin DESC, vec_id LIMIT 1)"""
        )
        if n < _KC_ROUNDS:
            ctes.append(
                f"""d{n} AS (
  SELECT d{i}.vec_id, d{i}.qe,
         least(d{i}.dmin, {dist.format(i=i, n=n)}) AS dmin
  FROM d{i}, p{n})"""
            )
    selects = [
        "SELECT 0 AS sel_idx, vec_id, CAST(0 AS BIGINT) AS d2_at_pick FROM seed"
    ] + [
        f"SELECT {n} AS sel_idx, vec_id, CAST(dmin AS BIGINT) AS d2_at_pick FROM p{n}"
        for n in range(1, _KC_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register("sample_coreset_kcenter", oracle=_kcenter_oracle(), tags=("llm", "sample"))
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    the 2-approximation of Gonzalez 1985): start from a deterministic
    seed, then repeatedly add the vector FARTHEST from everything
    chosen so far — the classic diverse-subset selector for curating a
    maximally-covering training sample from an embedding corpus (the
    opposite lever from dedup: dedup removes redundancy, k-center
    guarantees spread). Emits the selection order and each pick's
    squared distance to the prior set — a decreasing sequence whose
    value at k is the corpus' covering radius.

    Scale shape: each round is ONE 1-row argmax aggregate
    (max_by over (dmin, -vec_id) — distributed partial max, no sort)
    broadcast back onto a running per-vector min-distance column; the
    working set is localCheckpoint'ed per round (the same iterative
    discipline as dedup_cluster_components) so round N never replays
    rounds 1..N-1 — k rounds = k linear passes, each one job. At
    100 TB, k-center runs on the ANN-sampled or deduped corpus tier,
    not the raw stream; the per-round shape is unchanged.

    Determinism (bit-exact): embeddings land on the floor(x·2^20)
    integer grid, so every squared L2 (expanded as x·x + c·c − 2·x·c
    with the sequential-fold dot) is an EXACT integer in float64 —
    argmax ties break toward the smaller vec_id on both engines; the
    md5-ordered seed carries no RNG."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.floor(x.cast("double") * _KC_SCALE)
        ).alias("qe"),
    )

    def dot(u, w):
        return F.aggregate(
            F.zip_with(u, w, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t
        )

    def d2(u, w):
        return dot(u, u) + dot(w, w) - 2 * dot(u, w)

    seed = (
        v.select("vec_id", "qe", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("pid"), F.col("qe").alias("pqe"))
    )
    d = (
        v.crossJoin(F.broadcast(seed))
        .select("vec_id", "qe", d2(F.col("qe"), F.col("pqe")).alias("dmin"))
        .localCheckpoint(eager=False)
    )
    picks = [
        seed.select(
            F.lit(0).alias("sel_idx"),
            F.col("pid").alias("vec_id"),
            F.lit(0).cast("long").alias("d2_at_pick"),
        )
    ]
    for n in range(1, _KC_ROUNDS + 1):
        pick = d.agg(
            F.expr("max_by(struct(vec_id, qe, dmin), struct(dmin, -vec_id))").alias("p")
        ).select(
            F.col("p.vec_id").alias("pid"),
            F.col("p.qe").alias("pqe"),
            F.col("p.dmin").alias("pdmin"),
        )
        picks.append(
            pick.select(
                F.lit(n).alias("sel_idx"),
                F.col("pid").alias("vec_id"),
                F.col("pdmin").cast("long").alias("d2_at_pick"),
            )
        )
        if n < _KC_ROUNDS:
            d = (
                d.crossJoin(F.broadcast(pick))
                .select(
                    "vec_id",
                    "qe",
                    F.least(F.col("dmin"), d2(F.col("qe"), F.col("pqe"))).alias("dmin"),
                )
                .localCheckpoint(eager=False)
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    # an empty input has no picks: the per-round 1-row aggregates still
    # emit NULL rows (global agg over empty), which the oracle's CTE
    # chain never produces — drop them (empty-input sweep, round 5)
    return out.filter(F.col("vec_id").isNotNull())


_LR_SCALE = 1048576  # 2^20: float32 embeddings -> exact integer grid


@register(
    "ml_logreg_step",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label % 2 AS y, embedding::DOUBLE[] AS v FROM embeddings
), m AS (
  SELECT y, CAST(i - 1 AS BIGINT) AS dim,
         CAST(floor(v[i] * {_LR_SCALE}) AS BIGINT) AS qx
  FROM (SELECT y, v, unnest(range(1, len(v) + 1)) AS i FROM e)
), g AS (
  SELECT dim,
         CAST(SUM(CASE WHEN y = 0 THEN qx ELSE -qx END) AS BIGINT) AS s_signed
  FROM m GROUP BY dim
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM e)
SELECT dim, s_signed, n_rows,
       (0.5 * s_signed) / (n_rows * {_LR_SCALE}.0) AS grad,
       -((0.5 * s_signed) / (n_rows * {_LR_SCALE}.0)) AS w_new
FROM g, n
""",
    tags=("ml", "llm"),
)
def ml_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact batch-gradient-descent step of logistic regression on
    the embeddings table (target y = label parity, weights initialised
    to zero, lr = 1): at w = 0 the per-row residual is (σ(0) − y) =
    ±0.5, so the gradient per dimension is 0.5·(Σ_{{y=0}} x_j −
    Σ_{{y=1}} x_j)/N. Embeddings snap to the 2^20 integer grid (same
    trick as `sample_coreset_kcenter`) so the signed sums are exact
    int64 and the single final division makes grad/w_new bit-identical
    on both engines. Shape: posexplode → per-dimension map-side-
    combined aggregate (shuffle carries D=|dims| keys per partition,
    not rows) + a broadcast 1-row count — the treeAggregate pattern
    spark.ml uses for its own LogisticRegression, expressed
    declaratively; iterating with nonzero w costs one more broadcast
    join per step."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") % 2).alias("y"), "embedding"
    )
    ex = emb.select("y", F.posexplode("embedding").alias("dim", "val"))
    qx = F.floor(F.col("val").cast("double") * _LR_SCALE).cast("long")
    g = (
        ex.select(
            F.col("dim").cast("long").alias("dim"),
            F.when(F.col("y") == 0, qx).otherwise(-qx).alias("sq"),
        )
        .groupBy("dim")
        .agg(F.sum("sq").cast("long").alias("s_signed"))
    )
    n = emb.agg(F.count("*").cast("long").alias("n_rows"))
    grad = (F.lit(0.5) * F.col("s_signed")) / (
        F.col("n_rows") * F.lit(float(_LR_SCALE))
    )
    return g.crossJoin(F.broadcast(n)).select(
        "dim", "s_signed", "n_rows", grad.alias("grad"), (-grad).alias("w_new")
    )


_NB_TOPK = 20


@register(
    "ml_naive_bayes_fit",
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
), cnt AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2
), totals AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS t_c FROM cnt GROUP BY lang
), vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tok),
ranked AS (
  SELECT cnt.lang, cnt.token, cnt.n, totals.t_c, vocab.v,
         row_number() OVER (PARTITION BY cnt.lang
                            ORDER BY cnt.n DESC, cnt.token) AS rank
  FROM cnt JOIN totals USING (lang) CROSS JOIN vocab
)
SELECT lang, token, n, CAST(rank AS BIGINT) AS rank,
       round(ln((n + 1.0) / (t_c + v)), 6) AS logp_q6
FROM ranked WHERE rank <= {_NB_TOPK}
""",
    tags=("ml", "llm", "text"),
)
def ml_naive_bayes_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes fit for language classification: per
    (lang, token) counts with add-one smoothing, reported as the top-20
    tokens per class with log P(token | class) = ln((n+1)/(T_c+V)).
    The fit is exactly the distributed shape spark.ml's NaiveBayes
    aggregates internally: one token-keyed count (map-side combined),
    a |langs|-row class-total rollup, and a broadcast 1-row vocabulary
    size; the per-class top-k window runs over the already-reduced
    count table. Counts are exact; the single ln-of-ratio is rounded
    at 1e-6 (the `text_tfidf` idf precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens()).alias("token"))
    cnt = tok.groupBy("lang", "token").agg(F.count("*").cast("long").alias("n"))
    totals = cnt.groupBy("lang").agg(F.sum("n").cast("long").alias("t_c"))
    vocab = tok.agg(F.countDistinct("token").cast("long").alias("v"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    ranked = (
        cnt.join(F.broadcast(totals), "lang")
        .crossJoin(F.broadcast(vocab))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _NB_TOPK)
    )
    logp = F.round(F.log((F.col("n") + 1.0) / (F.col("t_c") + F.col("v"))), 6)
    return ranked.select("lang", "token", "n", "rank", logp.alias("logp_q6"))


@register(
    "ml_feature_label_table",
    oracle="""
WITH fp AS (
  SELECT user_id, min(ts) AS first_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), feat AS (
  SELECT e.user_id,
         CAST(COUNT(*) FILTER (WHERE e.event_type = 'view') AS BIGINT) AS n_views,
         CAST(COUNT(*) FILTER (WHERE e.event_type = 'click') AS BIGINT) AS n_clicks,
         CAST(COUNT(*) FILTER (WHERE e.event_type = 'error') AS BIGINT) AS n_errors,
         CAST(COUNT(*) FILTER (WHERE e.event_type = 'signup') AS BIGINT) AS n_signups,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events e LEFT JOIN fp ON fp.user_id = e.user_id
  WHERE fp.first_purchase IS NULL OR e.ts < fp.first_purchase
  GROUP BY e.user_id
)
SELECT f.user_id, f.n_views, f.n_clicks, f.n_errors, f.n_signups, f.n_events,
       CAST(fp.user_id IS NOT NULL AS BIGINT) AS label
FROM feat f LEFT JOIN fp ON fp.user_id = f.user_id
""",
    tags=("ml", "analytics", "events"),
)
def ml_feature_label_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe training-table construction for purchase-propensity
    modeling: per-user behavioral features counted STRICTLY BEFORE the
    user's first purchase (the label event), so no feature can encode
    the outcome it predicts — the point-in-time-correctness discipline
    every feature store enforces. Non-purchasers contribute their full
    history with label 0. Shape: the first-purchase cutoff table is a
    user-keyed aggregate joined back on the same user_id partitioning
    (AQE reuses the exchange); feature counts are one conditional
    aggregate pass. Note: users whose ONLY events are purchases have no
    pre-cutoff rows and correctly drop out (no features to train on)."""
    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    feat = (
        ev.join(fp, "user_id", "left")
        .filter(F.col("first_purchase").isNull() | (F.col("ts") < F.col("first_purchase")))
        .groupBy("user_id")
        .agg(
            *[
                F.count_if(F.col("event_type") == t).cast("long").alias(f"n_{t}s")
                for t in ("view", "click", "error", "signup")
            ],
            F.count("*").cast("long").alias("n_events"),
        )
    )
    return feat.join(fp, "user_id", "left").select(
        "user_id",
        "n_views",
        "n_clicks",
        "n_errors",
        "n_signups",
        "n_events",
        F.col("first_purchase").isNotNull().cast("long").alias("label"),
    )


_TREE_ORACLE = """
WITH f AS (
  SELECT 'quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
  UNION ALL
  SELECT 'discount' AS feature, CAST(l_discount AS DOUBLE) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
),
g AS (SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM f GROUP BY feature, v),
c AS (SELECT feature, v,
             CAST(SUM(cnt) OVER (PARTITION BY feature ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS nl,
             CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS pl,
             CAST(SUM(cnt) OVER (PARTITION BY feature) AS BIGINT) AS n,
             CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS p
      FROM g),
s AS (SELECT feature, v, nl, pl, n,
             CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)
           + CAST(p - pl AS DOUBLE) * CAST(p - pl AS DOUBLE)
             / CAST(n - nl AS DOUBLE) AS score
      FROM c WHERE nl < n),
r AS (SELECT feature, v, nl, pl, n, score,
             row_number() OVER (PARTITION BY feature
                                ORDER BY score DESC, v ASC) AS rn
      FROM s)
SELECT feature, v AS threshold,
       CAST(nl AS BIGINT) AS left_n, CAST(pl AS BIGINT) AS left_pos,
       floor(score * 1000000.0 / n) / 1000000.0 AS gain_q6
FROM r WHERE rn = 1
"""


@register("ml_tree_split_finder", oracle=_TREE_ORACLE, tags=("ml",))
def ml_tree_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search — the distributed primitive every
    tree ensemble (MLlib RandomForest/GBT) runs per node: for each
    numeric feature, find the threshold maximizing the Bernoulli
    impurity decrease of (label = returned?) over lineitem. Shape:
    unpivot features → ONE (feature, value) aggregate (map-side
    combined — the full fact table collapses to |distinct values| rows
    before any wide exchange) → prefix sums of (count, positives) via
    a window ordered by value, with per-feature totals riding the SAME
    partition (no second shuffle) → split score pl²/nl + pr²/nr from
    EXACT integer counts (maximizing it ≡ minimizing weighted Gini;
    doubles enter only in the final division, identically shaped on
    both engines) → per-feature argmax as a map-side-combined
    min-struct (never a second window; see sim_ann_ivf). Candidates
    with an empty right side are excluded (nl < n), so the struct's
    sort key is never NULL. Parallelism at scale is the feature axis ×
    map-side partial aggregation; per-feature state is |distinct
    values|, the same histogram-compression MLlib uses."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.selectExpr(
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
        "stack(2, 'quantity', CAST(l_quantity AS DOUBLE), "
        "'discount', CAST(l_discount AS DOUBLE)) AS (feature, v)",
    )
    g = f.groupBy("feature", "v").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wcum = (
        W.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("feature")
    c = g.select(
        "feature",
        "v",
        F.sum("cnt").over(wcum).cast("long").alias("nl"),
        F.sum("pos").over(wcum).cast("long").alias("pl"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
        F.sum("pos").over(wall).cast("long").alias("p"),
    )
    score = (
        F.col("pl").cast("double") * F.col("pl").cast("double")
        / F.col("nl").cast("double")
        + (F.col("p") - F.col("pl")).cast("double")
        * (F.col("p") - F.col("pl")).cast("double")
        / (F.col("n") - F.col("nl")).cast("double")
    )
    s = c.filter(F.col("nl") < F.col("n")).select(
        "feature",
        "v",
        "nl",
        "pl",
        "n",
        score.alias("score"),
    )
    best = s.groupBy("feature").agg(
        F.min(
            F.struct(
                (-F.col("score")).alias("ns"),
                F.col("v").alias("thr"),
                F.col("nl").alias("nl"),
                F.col("pl").alias("pl"),
                F.col("n").alias("n"),
            )
        ).alias("m")
    )
    return best.select(
        "feature",
        F.col("m.thr").alias("threshold"),
        F.col("m.nl").alias("left_n"),
        F.col("m.pl").alias("left_pos"),
        (
            F.floor(-F.col("m.ns") * 1_000_000.0 / F.col("m.n")) / 1_000_000.0
        ).alias("gain_q6"),
    )


_PIT_WINDOW_US = 7 * 86_400 * 1_000_000  # 7-day trailing feature window


@register(
    "ml_point_in_time_features",
    oracle=f"""
WITH b AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
f AS (
  SELECT event_id, user_id, event_type, us,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_events_7d,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              OVER w, 0) AS BIGINT) AS n_errors_7d,
         CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT) AS spend_7d_cents
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {_PIT_WINDOW_US} PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS label_event_id, user_id, us AS label_ts_us,
       n_events_7d, n_errors_7d, spend_7d_cents
FROM f WHERE event_type = 'purchase'
""",
    tags=("ml", "events"),
)
def ml_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature extraction — the feature-store
    primitive behind every leakage-free training table: for each label
    row (a purchase), aggregate the SAME user's activity in the
    trailing 7 days STRICTLY BEFORE the label timestamp (RANGE frame
    ending at -1 microsecond — an event at the label instant itself is
    the label, not a feature). Differs from `join_asof` (one nearest
    row) — this is the windowed-aggregate form, and the RANGE frame
    over epoch-microseconds computes it in ONE shuffle on user_id with
    no self-join, no explode, no per-label re-scan: Spark's window
    frame slides monotonically over each user's sorted events, so cost
    is O(events) regardless of label density (the self-join
    formulation every feature store warns about is O(labels x window)).
    Money is exact integer cents; timestamps exact integer micros. At
    100 TB the user_id shuffle is the only wide exchange and AQE
    handles the hot-user tail (see tests/test_skew_windows.py for the
    skew rehearsal of exactly this window family)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_PIT_WINDOW_US, -1)
    )
    f = b.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_7d"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).over(w),
            F.lit(0),
        )
        .cast("long")
        .alias("n_errors_7d"),
        F.coalesce(F.sum("cents").over(w), F.lit(0))
        .cast("long")
        .alias("spend_7d_cents"),
    )
    return f.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        F.col("us").alias("label_ts_us"),
        "n_events_7d",
        "n_errors_7d",
        "spend_7d_cents",
    )


@register(
    "ml_target_encoding_loo",
    oracle="""
WITH b AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
g AS (SELECT event_type, CAST(SUM(cents) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM b GROUP BY event_type)
SELECT b.event_id, b.event_type,
       floor((g.s - b.cents) * 10000.0 / (g.c - 1)) / 1000000.0
         AS te_loo_q6
FROM b JOIN g USING (event_type)
WHERE g.c > 1
""",
    tags=("ml", "events"),
)
def ml_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    encoder (each row's category is replaced by the target mean of all
    OTHER rows in that category, so the row's own label never leaks
    into its feature): te_i = (sum_cat - y_i) / (n_cat - 1). Shape:
    ONE map-side-combined aggregate collapses the fact table to
    |categories| rows, which broadcast-join straight back — the
    per-row encode then runs inside whole-stage codegen with zero
    additional shuffles (the naive per-row window formulation shuffles
    every row; this shuffles only category totals). Money is exact
    integer cents; the divide happens once, floor-quantized
    (scale-before-divide: cents*1e4/(n-1) then /1e6 puts the result in
    currency units at q6). Singleton categories are excluded on both
    sides (n_cat = 1 has no leave-one-out estimate)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = b.groupBy("event_type").agg(
        F.sum("cents").cast("long").alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    return (
        b.join(F.broadcast(g), "event_type")
        .filter(F.col("c") > 1)
        .select(
            "event_id",
            "event_type",
            (
                F.floor(
                    (F.col("s") - F.col("cents")) * 10_000.0 / (F.col("c") - 1)
                )
                / 1_000_000.0
            ).alias("te_loo_q6"),
        )
    )

_AUC_SALT = "auc|"  # deterministic pseudo-model score seed
_AUC_NOISE = 1000  # noise span of the synthetic score (integer milli-units)
_AUC_LIFT = 150  # additive score lift on positive labels => AUC ~ 0.6


@register(
    "ml_auc_roc",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_AUC_SALT}' || CAST(o_orderkey AS VARCHAR)),
              1, 8) AS BIGINT) % {_AUC_NOISE}
           + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
d AS (SELECT s, CAST(SUM(y) AS BIGINT) AS c1,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS c0
      FROM b GROUP BY s),
c AS (SELECT s, c1, c0, c1 + c0 AS ct,
             CAST(COALESCE(SUM(c1 + c0) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum,
             CAST(SUM(c1) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum1,
             CAST(SUM(c0) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum0,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c0) OVER () AS BIGINT) AS n0
      FROM d),
agg AS (SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n0) AS BIGINT) AS n0,
               CAST(SUM(c1 * (2 * cum + ct + 1)) AS BIGINT) AS r1_x2,
               CAST(MAX(abs(cum1 * n0 - cum0 * n1)) AS BIGINT) AS ks_num
        FROM c)
SELECT n1 AS n_pos, n0 AS n_neg,
       floor(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
             / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))
             * 1000000.0) / 1000000.0 AS auc_q6,
       floor(CAST(r1_x2 - n1 * (n1 + 1) - n1 * n0 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))
             * 1000000.0) / 1000000.0 AS gini_q6,
       floor(CAST(ks_num AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))
             * 1000000.0) / 1000000.0 AS ks_q6
FROM agg
""",
    tags=("ml", "stats"),
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation triple — ROC AUC (rank/Mann-Whitney
    formulation with exact average-rank tie handling), Gini (2·AUC−1),
    and the KS statistic (max |TPR−FPR| over thresholds) — the standard
    scorecard a training pipeline runs after every model fit. The
    "model" is a deterministic hash score with an additive lift on
    positives (priority URGENT/HIGH), so every engine reproduces the
    same score column. Exact integers until the final divisions: per
    DISTINCT score, 2·R₁ = Σc₁(2·cum+t+1) is an int64 (doubled average
    ranks are integers), and the KS numerator max|cum₁·n₀ − cum₀·n₁| is
    an exact cross-multiplied int64, so AUC/Gini/KS each perform ONE
    double division, identically shaped on both engines. Shape: one
    map-side-combined groupBy collapses the table to |distinct scores|
    rows (≤ noise span + lift, bounded by construction — never grows
    with the corpus), one ordered window over that tiny table
    (range-partition it at 100 TB), one 1-row reduce."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    d = b.groupBy("s").agg(
        F.sum("y").cast("long").alias("c1"),
        (F.count("*") - F.sum("y")).cast("long").alias("c0"),
    )
    ct = F.col("c1") + F.col("c0")
    wprev = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    wcum = W.orderBy("s").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("s").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = d.select(
        "c1",
        ct.alias("ct"),
        F.coalesce(F.sum(ct).over(wprev), F.lit(0)).cast("long").alias("cum"),
        F.sum("c1").over(wcum).cast("long").alias("cum1"),
        F.sum("c0").over(wcum).cast("long").alias("cum0"),
        F.sum("c1").over(wall).cast("long").alias("n1"),
        F.sum("c0").over(wall).cast("long").alias("n0"),
    )
    agg = c.agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n0").cast("long").alias("n0"),
        F.sum(F.col("c1") * (2 * F.col("cum") + F.col("ct") + 1))
        .cast("long")
        .alias("r1_x2"),
        F.max(F.abs(F.col("cum1") * F.col("n0") - F.col("cum0") * F.col("n1")))
        .cast("long")
        .alias("ks_num"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    n1n0 = n1.cast("double") * n0.cast("double")
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    # try_divide: a single-class corpus zeroes n1*n0 — DuckDB float
    # division yields NULL there, ANSI Spark would throw
    return agg.select(
        n1.alias("n_pos"),
        n0.alias("n_neg"),
        (
            F.floor(
                F.try_divide(u1_x2.cast("double"), 2.0 * n1n0) * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("auc_q6"),
        (
            F.floor(
                F.try_divide((u1_x2 - n1 * n0).cast("double"), n1n0)
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("gini_q6"),
        (
            F.floor(
                F.try_divide(F.col("ks_num").cast("double"), n1n0)
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("ks_q6"),
    )


def _det3_sql(a, b, c, d, e, f, g, h, i):
    """3x3 determinant SQL text — the SAME parenthesisation the Spark
    side builds, so both engines evaluate an identical IEEE tree."""
    return (
        f"({a} * ({e} * {i} - {f} * {h}) - {b} * ({d} * {i} - {f} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g}))"
    )


_OLS_DET_A = _det3_sql("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
_OLS_DET_0 = _det3_sql("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
_OLS_DET_1 = _det3_sql("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
_OLS_DET_2 = _det3_sql("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")


@register(
    "ml_ols_normal_eq",
    oracle=f"""
WITH b AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2
  FROM lineitem
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y,
         CAST(SUM(CAST(y AS DECIMAL(18, 0)) * y) AS DECIMAL(38, 0)) AS syy
  FROM b
),
d AS (
  SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
         CAST(s2 AS DOUBLE) AS s2, CAST(s11 AS DOUBLE) AS s11,
         CAST(s12 AS DOUBLE) AS s12, CAST(s22 AS DOUBLE) AS s22,
         CAST(sy AS DOUBLE) AS sy, CAST(s1y AS DOUBLE) AS s1y,
         CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy,
         s.n AS n_rows
  FROM s
),
beta AS (
  SELECT n_rows, n, sy, s1y, s2y, syy,
         {_OLS_DET_0} / {_OLS_DET_A} AS b0,
         {_OLS_DET_1} / {_OLS_DET_A} AS b1,
         {_OLS_DET_2} / {_OLS_DET_A} AS b2
  FROM d
)
SELECT CAST(n_rows AS BIGINT) AS n,
       floor(b0 * 10000.0) / 1000000.0 AS beta0_q6,
       floor(b1 * 10000.0) / 1000000.0 AS beta1_q6,
       floor(b2 * 10000.0) / 1000000.0 AS beta2_q6,
       floor((b0 * sy + b1 * s1y + b2 * s2y - sy * sy / n)
             / (syy - sy * sy / n) * 1000000.0) / 1000000.0 AS r2_q6
FROM beta
""",
    tags=("ml", "stats"),
)
def ml_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression via the normal equations
    — the distributed OLS fit (price ~ quantity + discount over
    lineitem) every feature pipeline runs for baselines and leakage
    probes. The entire fact table collapses in ONE map-side-combined
    aggregate to the 3x3 Gram matrix XᵀX and XᵀY (nine sufficient
    statistics — this is how MLlib's normal-equation solver works,
    except here the solve is a 1-row Cramer's rule instead of a
    driver-side LAPACK call, so the whole fit is a single reduce).
    Sums are exact int64 (y in cents, x1 integer quantity, x2 discount
    percent); Σy² alone exceeds int64 at ~sf1 so it rides a
    DECIMAL(38,0) exact sum. Doubles enter only in the determinant
    expressions, built from ONE shared parenthesisation (_det3_sql) on
    both engines, so β and the closed-form R² = (βᵀXᵀy − nȳ²)/(Σy² −
    nȳ²) are bit-identical. β is floor-quantized in currency units
    (cents·1e4/1e6 = q6 dollars)."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_quantity")).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
    )
    s = b.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.col("y").cast("decimal(18,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    dbl = {
        k: F.col(k).cast("double")
        for k in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y", "syy")
    }

    def det3(a, bb, c, d, e, f, g, h, i):
        return a * (e * i - f * h) - bb * (d * i - f * g) + c * (d * h - e * g)

    det_a = det3(
        dbl["n"], dbl["s1"], dbl["s2"],
        dbl["s1"], dbl["s11"], dbl["s12"],
        dbl["s2"], dbl["s12"], dbl["s22"],
    )
    b0 = F.try_divide(
        det3(
            dbl["sy"], dbl["s1"], dbl["s2"],
            dbl["s1y"], dbl["s11"], dbl["s12"],
            dbl["s2y"], dbl["s12"], dbl["s22"],
        ),
        det_a,
    )
    b1 = F.try_divide(
        det3(
            dbl["n"], dbl["sy"], dbl["s2"],
            dbl["s1"], dbl["s1y"], dbl["s12"],
            dbl["s2"], dbl["s2y"], dbl["s22"],
        ),
        det_a,
    )
    b2 = F.try_divide(
        det3(
            dbl["n"], dbl["s1"], dbl["sy"],
            dbl["s1"], dbl["s11"], dbl["s1y"],
            dbl["s2"], dbl["s12"], dbl["s2y"],
        ),
        det_a,
    )
    beta = s.select(
        F.col("n").alias("n_rows"),
        dbl["n"].alias("nd"),
        dbl["sy"].alias("syd"),
        dbl["s1y"].alias("s1yd"),
        dbl["s2y"].alias("s2yd"),
        dbl["syy"].alias("syyd"),
        b0.alias("b0"),
        b1.alias("b1"),
        b2.alias("b2"),
    )
    sst = F.col("syyd") - F.col("syd") * F.col("syd") / F.col("nd")
    ssr = (
        F.col("b0") * F.col("syd")
        + F.col("b1") * F.col("s1yd")
        + F.col("b2") * F.col("s2yd")
        - F.col("syd") * F.col("syd") / F.col("nd")
    )
    return beta.select(
        F.col("n_rows").alias("n"),
        (F.floor(F.col("b0") * 10_000.0) / 1_000_000.0).alias("beta0_q6"),
        (F.floor(F.col("b1") * 10_000.0) / 1_000_000.0).alias("beta1_q6"),
        (F.floor(F.col("b2") * 10_000.0) / 1_000_000.0).alias("beta2_q6"),
        (F.floor(F.try_divide(ssr, sst) * 1_000_000.0) / 1_000_000.0).alias(
            "r2_q6"
        ),
    )


_LIFT_BUCKETS = 10


@register(
    "ml_lift_gains",
    oracle=f"""
WITH b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_AUC_SALT}' || CAST(o_orderkey AS VARCHAR)),
              1, 8) AS BIGINT) % {_AUC_NOISE}
           + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
r AS (
  SELECT y,
         CAST(row_number() OVER (ORDER BY s DESC, o_orderkey) AS BIGINT)
           AS rnk,
         CAST(COUNT(*) OVER () AS BIGINT) AS nn
  FROM b
),
d AS (SELECT CAST(floor((rnk - 1) * {_LIFT_BUCKETS} / nn) + 1 AS BIGINT)
               AS decile, y
      FROM r),
g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM d GROUP BY decile),
c AS (SELECT decile, n, n_pos,
             CAST(SUM(n_pos) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pos,
             CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
             CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
      FROM g)
SELECT decile, n, n_pos,
       floor((CAST(n_pos AS DOUBLE) / n) / (CAST(tot_pos AS DOUBLE) / tot_n)
             * 1000000.0) / 1000000.0 AS lift_q6,
       floor(CAST(cum_pos AS DOUBLE) / tot_pos * 1000000.0) / 1000000.0
         AS cum_gain_q6
FROM c
""",
    tags=("ml", "stats"),
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains table — the campaign-targeting /
    model-monitoring companion to `ml_auc_roc` (same deterministic
    hash-score model): rows ranked by score descending are cut into 10
    equal-count buckets via rank → floor((rank−1)·10/N)+1, and each
    decile reports its positive-rate lift over the base rate plus the
    cumulative share of all positives captured. Scale shape: the
    global rank is NOT a single-partition window — a |distinct
    scores|-row histogram (map-side combined) yields per-score prefix
    offsets (tiny broadcast), and rank = offset + row_number
    PARTITIONED BY score (parallel windows over bounded groups, since
    the score span is fixed by construction); the identical
    formulation on the oracle side is a plain global row_number, which
    is equal by definition because (score DESC, orderkey) is a total
    order. Counts are exact int64; lift/gain are single double
    divisions, floor-q6."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = o.select(
        "o_orderkey",
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    hist = b.groupBy("s").agg(F.count("*").cast("long").alias("n_s"))
    woff = W.orderBy(F.desc("s")).rowsBetween(W.unboundedPreceding, -1)
    wall = W.orderBy(F.desc("s")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    off = hist.select(
        "s",
        F.coalesce(F.sum("n_s").over(woff), F.lit(0)).cast("long").alias("off"),
        F.sum("n_s").over(wall).cast("long").alias("nn"),
    )
    wrn = W.partitionBy("s").orderBy("o_orderkey")
    r = b.join(F.broadcast(off), "s").select(
        "y",
        (F.col("off") + F.row_number().over(wrn)).cast("long").alias("rnk"),
        "nn",
    )
    d = r.select(
        (F.floor((F.col("rnk") - 1) * _LIFT_BUCKETS / F.col("nn")) + 1)
        .cast("long")
        .alias("decile"),
        "y",
    )
    g = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wtot = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = g.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(wcum).cast("long").alias("cum_pos"),
        F.sum("n").over(wtot).cast("long").alias("tot_n"),
        F.sum("n_pos").over(wtot).cast("long").alias("tot_pos"),
    )
    # try_divide: a corpus with zero positives zeroes tot_pos
    lift = F.try_divide(
        F.col("n_pos").cast("double") / F.col("n"),
        F.col("tot_pos").cast("double") / F.col("tot_n"),
    )
    return c.select(
        "decile",
        "n",
        "n_pos",
        (F.floor(lift * 1_000_000.0) / 1_000_000.0).alias("lift_q6"),
        (
            F.floor(
                F.try_divide(F.col("cum_pos").cast("double"), F.col("tot_pos"))
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("cum_gain_q6"),
    )


_FH_SALT = "fh|"  # feature-hashing seed
_FH_BUCKETS = 32  # hashed feature-vector width


@register(
    "ml_feature_hashing",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('{_FH_SALT}' || token), 1, 8) AS BIGINT) AS hv
  FROM tok
),
f AS (
  SELECT doc_id, (hv // 2) % {_FH_BUCKETS} AS bucket,
         CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM h
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS feat_val
FROM f GROUP BY doc_id, bucket
HAVING SUM(sgn) != 0
""",
    tags=("ml", "llm", "text"),
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009; sklearn
    HashingVectorizer / VW's default featurizer): tokens map to a
    FIXED-width feature vector through a salted hash — bucket from one
    bit-slice, a +-1 sign from another — so the feature space never
    grows with the vocabulary, no vocabulary table is ever built or
    broadcast, and collisions cancel in expectation (the sign trick).
    Output is the sparse (doc, bucket, value) triple table with exact
    zeros dropped. Scale shape: tokenize-explode then ONE map-side-
    combined (doc, bucket) aggregate — the per-partition combine
    collapses each document's tokens to <= width cells before the
    shuffle; no second pass, no joins, state bounded by construction.
    Hash is the engine-portable md5-prefix idiom; counts are exact
    int64 so the parity is trivially bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens()).alias("token")
    )
    hv = F.expr(
        f"CAST(conv(substr(md5(concat('{_FH_SALT}', token)), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    f = tok.select(
        "doc_id",
        (F.floor(hv / 2) % _FH_BUCKETS).cast("long").alias("bucket"),
        F.when(hv % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return (
        f.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("long").alias("feat_val"))
        .filter(F.col("feat_val") != 0)
    )


@register(
    "ml_auc_pr",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_AUC_SALT}' || CAST(o_orderkey AS VARCHAR)),
              1, 8) AS BIGINT) % {_AUC_NOISE}
           + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
d AS (SELECT s, CAST(SUM(y) AS BIGINT) AS c1,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS c0
      FROM b GROUP BY s),
c AS (SELECT s, c1, c0,
             CAST(SUM(c1) OVER (ORDER BY s DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum1,
             CAST(SUM(c1 + c0) OVER (ORDER BY s DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumt,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1
      FROM d),
f AS (
  SELECT MAX(n1) AS n1,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list(CAST(c1 AS DOUBLE) * cum1 / cumt ORDER BY s DESC)),
           (a, x) -> a + x) AS ap_num
  FROM c WHERE c1 > 0
)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       floor(ap_num / n1 * 1000000.0) / 1000000.0 AS ap_q6
FROM f
""",
    tags=("ml", "stats"),
)
def ml_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-function definition sklearn uses) for the same deterministic
    hash-score model as `ml_auc_roc` — the eval that matters when
    positives are rare and ROC flatters: AP = Σ_k ΔRecall_k ·
    Precision@k, computed per DISTINCT score group as
    c1_g · (cum1_g / cumt_g) / n_pos with ties handled by group-end
    precision (a fixed, documented convention — tie interpolation
    differs across libraries). Determinism: cum1/cumt/n1 are exact
    int64 window sums over the bounded score histogram; each group's
    term is one double expression, and the cross-group sum runs as a
    SEQUENTIAL score-descending fold (list_reduce / F.aggregate — the
    ts_holt_linear discipline), never an order-free double aggregate.
    Shape: one map-side-combined histogram shuffle, one tiny ordered
    window, one fold row."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    d = b.groupBy("s").agg(
        F.sum("y").cast("long").alias("c1"),
        (F.count("*") - F.sum("y")).cast("long").alias("c0"),
    )
    wcum = W.orderBy(F.desc("s")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.orderBy(F.desc("s")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = d.select(
        "s",
        "c1",
        F.sum("c1").over(wcum).cast("long").alias("cum1"),
        F.sum(F.col("c1") + F.col("c0")).over(wcum).cast("long").alias("cumt"),
        F.sum("c1").over(wall).cast("long").alias("n1"),
    ).filter(F.col("c1") > 0)
    # terms ordered score-DESC == struct (-s) ASC; fold sequentially
    f = c.groupBy().agg(
        F.max("n1").alias("n1"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("s")).alias("ns"),
                            F.col("c1").alias("c1"),
                            F.col("cum1").alias("cum1"),
                            F.col("cumt").alias("cumt"),
                        )
                    )
                ),
                lambda x: x["c1"].cast("double") * x["cum1"] / x["cumt"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("ap_num"),
    )
    return f.select(
        F.col("n1").cast("long").alias("n_pos"),
        (
            F.floor(F.col("ap_num") / F.col("n1") * 1_000_000.0) / 1_000_000.0
        ).alias("ap_q6"),
    )


_CONF_THRESHOLDS = (300, 550, 800)  # fixed operating points on the score


@register(
    "ml_confusion_thresholds",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_AUC_SALT}' || CAST(o_orderkey AS VARCHAR)),
              1, 8) AS BIGINT) % {_AUC_NOISE}
           + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
t AS (SELECT unnest([{", ".join(str(t) for t in _CONF_THRESHOLDS)}]) AS thr),
g AS (
  SELECT t.thr,
         CAST(SUM(CASE WHEN b.s >= t.thr AND b.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN b.s >= t.thr AND b.y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN b.s < t.thr AND b.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN b.s < t.thr AND b.y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM b CROSS JOIN t GROUP BY t.thr
)
SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
       floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000.0) / 1000000.0
         AS precision_q6,
       floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000.0) / 1000000.0
         AS recall_q6,
       floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) * 1000000.0)
         / 1000000.0 AS f1_q6
FROM g
""",
    tags=("ml", "stats"),
)
def ml_confusion_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification report at fixed operating points: confusion
    matrix (TP/FP/FN/TN) plus precision / recall / F1 for three score
    thresholds of the shared hash-score model — the table a model
    monitor alerts on after `ml_auc_roc` says the ranking is healthy.
    Shape: the fact table streams ONCE through a 3-row broadcast
    threshold cross join into a map-side-combined per-threshold
    aggregate (never three separate passes); every metric is one
    double division over exact int64 cells, floor-q6. F1 uses the
    2tp/(2tp+fp+fn) identity so no intermediate precision/recall
    rounding compounds."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    t = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(th) for th in _CONF_THRESHOLDS])
        ).alias("thr")
    )
    hit = F.col("s") >= F.col("thr")
    g = (
        b.crossJoin(F.broadcast(t))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(~hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when(~hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("long")
            .alias("tn"),
        )
    )
    return g.select(
        F.col("thr").cast("long").alias("thr"),
        "tp",
        "fp",
        "fn",
        "tn",
        # try_divide: a threshold above every score (or a class-free
        # corpus) zeroes a denominator — DuckDB float div yields NULL
        (
            F.floor(
                F.try_divide(
                    F.col("tp").cast("double"), F.col("tp") + F.col("fp")
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("precision_q6"),
        (
            F.floor(
                F.try_divide(
                    F.col("tp").cast("double"), F.col("tp") + F.col("fn")
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("recall_q6"),
        (
            F.floor(
                F.try_divide(
                    (2 * F.col("tp")).cast("double"),
                    2 * F.col("tp") + F.col("fp") + F.col("fn"),
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("f1_q6"),
    )


_ECE_BINS = 10
_ECE_SMAX = _AUC_NOISE + _AUC_LIFT  # score support [0, smax)


@register(
    "ml_calibration_ece",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_AUC_SALT}' || CAST(o_orderkey AS VARCHAR)),
              1, 8) AS BIGINT) % {_AUC_NOISE}
           + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
g AS (SELECT CAST(s * {_ECE_BINS} // {_ECE_SMAX} AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(s) AS BIGINT) AS ss
      FROM b GROUP BY 1),
w AS (SELECT bin, n, sy, ss,
             CAST(abs({_ECE_SMAX} * sy - ss) AS BIGINT) AS gap_num,
             CAST(SUM(n) OVER () AS BIGINT) AS n_total,
             CAST(SUM(abs({_ECE_SMAX} * sy - ss)) OVER () AS BIGINT)
               AS gap_num_total
      FROM g)
SELECT bin, n,
       floor(CAST(sy AS DOUBLE) / n * 1000000.0) / 1000000.0 AS acc_q6,
       floor(CAST(ss AS DOUBLE) / ({_ECE_SMAX} * n) * 1000000.0)
         / 1000000.0 AS conf_q6,
       floor(CAST(gap_num AS DOUBLE) / ({_ECE_SMAX} * n) * 1000000.0)
         / 1000000.0 AS gap_q6,
       floor(CAST(gap_num_total AS DOUBLE) / ({_ECE_SMAX} * n_total)
             * 1000000.0) / 1000000.0 AS ece_q6
FROM w
""",
    tags=("ml", "stats"),
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error with 10 equal-width probability bins
    (Naeini et al.'s binned ECE — the standard reliability-diagram
    summary) for the deterministic hash-score model shared with
    `ml_auc_roc`, reading score/smax as the predicted probability.
    The key identity: per bin, |accuracy − confidence| =
    |smax·Σy − Σs| / (smax·n) — an EXACT integer numerator — and
    ECE = Σ_b (n_b/N)·gap_b = Σ_b |smax·Σy_b − Σs_b| / (smax·N), so
    every aggregate is an order-free int64 sum and each output ratio
    is one late float division (floor-q6). Shape: one
    map-side-combined 10-bin histogram shuffle, then a window over the
    10-row result; nothing corpus-sized moves. The same per-bin
    numerator trick keeps ECE exact under any partial-aggregation
    order at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    g = b.groupBy(
        (F.col("s") * _ECE_BINS / F.lit(_ECE_SMAX))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("s").cast("long").alias("ss"),
    )
    gap_num = F.abs(F.lit(_ECE_SMAX) * F.col("sy") - F.col("ss")).cast("long")
    wall = W.orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    w = g.select(
        "bin",
        "n",
        "sy",
        "ss",
        gap_num.alias("gap_num"),
        F.sum("n").over(wall).cast("long").alias("n_total"),
        F.sum(gap_num).over(wall).cast("long").alias("gap_num_total"),
    )
    return w.select(
        "bin",
        "n",
        (F.floor(F.col("sy").cast("double") / F.col("n") * 1e6) / 1e6).alias(
            "acc_q6"
        ),
        (
            F.floor(
                F.col("ss").cast("double") / (_ECE_SMAX * F.col("n")) * 1e6
            )
            / 1e6
        ).alias("conf_q6"),
        (
            F.floor(
                F.col("gap_num").cast("double") / (_ECE_SMAX * F.col("n")) * 1e6
            )
            / 1e6
        ).alias("gap_q6"),
        (
            F.floor(
                F.col("gap_num_total").cast("double")
                / (_ECE_SMAX * F.col("n_total"))
                * 1e6
            )
            / 1e6
        ).alias("ece_q6"),
    )


@register(
    "ml_bradley_terry_step",
    oracle="""
WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
r AS (SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rk
      FROM c),
p AS (SELECT w.event_type AS winner, l.event_type AS loser,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT user_id, event_type FROM r WHERE rk = 1) w
      JOIN (SELECT user_id, event_type FROM r WHERE rk = 2) l USING (user_id)
      GROUP BY 1, 2),
items AS (SELECT event_type, CAST(SUM(wins) AS BIGINT) AS wins,
                 CAST(SUM(losses) AS BIGINT) AS losses
          FROM (SELECT winner AS event_type, n AS wins, 0 AS losses FROM p
                UNION ALL
                SELECT loser, 0, n FROM p) u
          GROUP BY 1),
w1 AS (SELECT event_type, wins, losses,
              CAST(wins + losses AS BIGINT) AS comparisons,
              CAST(floor(2000000.0 * wins / (wins + losses)) AS BIGINT)
                AS w1_micro
       FROM items),
mm AS (SELECT winner AS i, loser AS j, n FROM p
       UNION ALL SELECT loser, winner, n FROM p),
m AS (SELECT i, j, CAST(SUM(n) AS BIGINT) AS m FROM mm GROUP BY 1, 2),
d2 AS (SELECT m.i AS event_type,
              list_reduce(
                list_prepend(CAST(0 AS DOUBLE),
                  list(CAST(m.m AS DOUBLE)
                       / ((wi.w1_micro + wj.w1_micro) / 1000000.0)
                       ORDER BY m.j)),
                (a, x) -> a + x) AS den
       FROM m
       JOIN w1 wi ON wi.event_type = m.i
       JOIN w1 wj ON wj.event_type = m.j
       GROUP BY m.i)
SELECT w1.event_type, wins, losses, comparisons,
       w1_micro / 1000000.0 AS w1_q6,
       floor(CAST(wins AS DOUBLE) / den * 1000000.0) / 1000000.0 AS w2_q6
FROM w1 JOIN d2 USING (event_type)
""",
    tags=("ml", "events", "stats"),
)
def ml_bradley_terry_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference-strength fitting via Hunter's MM
    updates — the model behind pairwise-preference data (RLHF reward
    comparisons, ranked A/B outcomes): each user contributes one
    (winner, loser) comparison between their most- and second-most-
    frequent event types (count-desc, type-asc ties — a fixed
    documented convention), and two MM iterations run from the uniform
    init: w¹_i = W_i / Σ_j m_ij/(1+1) = 2W_i/D_i, then
    w²_i = W_i / Σ_j m_ij/(w¹_i + w¹_j). Shape: one (user, type)
    count shuffle + one per-user top-2 window are the only
    corpus-scale stages; the pair matrix is |types|² ≤ 36 rows, so
    both MM steps are driver-free tiny-DF algebra. Determinism: wins/
    comparisons exact int64; w¹ is floor-quantized to integer micros
    BEFORE step 2, and step 2's denominator runs as a SEQUENTIAL
    opponent-ordered fold (F.aggregate / list_reduce), never an
    order-free double sum. At 100 TB pairs come from a comparison log
    directly; the item matrix stays tiny and broadcastable."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wuser = W.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    r = c.select("user_id", "event_type", F.row_number().over(wuser).alias("rk"))
    p = (
        r.filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("winner"))
        .join(
            r.filter(F.col("rk") == 2).select(
                "user_id", F.col("event_type").alias("loser")
            ),
            "user_id",
        )
        .groupBy("winner", "loser")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds items AND the opponent matrix
    )
    items = (
        p.select(
            F.col("winner").alias("event_type"),
            F.col("n").alias("wins"),
            F.lit(0).cast("long").alias("losses"),
        )
        .unionByName(
            p.select(
                F.col("loser").alias("event_type"),
                F.lit(0).cast("long").alias("wins"),
                F.col("n").alias("losses"),
            )
        )
        .groupBy("event_type")
        .agg(
            F.sum("wins").cast("long").alias("wins"),
            F.sum("losses").cast("long").alias("losses"),
        )
    )
    w1 = items.select(
        "event_type",
        "wins",
        "losses",
        (F.col("wins") + F.col("losses")).cast("long").alias("comparisons"),
        F.floor(
            2_000_000.0 * F.col("wins") / (F.col("wins") + F.col("losses"))
        )
        .cast("long")
        .alias("w1_micro"),
    ).localCheckpoint(eager=False)  # joined three times below
    m = (
        p.select(F.col("winner").alias("i"), F.col("loser").alias("j"), "n")
        .unionByName(
            p.select(F.col("loser").alias("i"), F.col("winner").alias("j"), "n")
        )
        .groupBy("i", "j")
        .agg(F.sum("n").cast("long").alias("m"))
    )
    wi = w1.select(F.col("event_type").alias("i"), F.col("w1_micro").alias("wi"))
    wj = w1.select(F.col("event_type").alias("j"), F.col("w1_micro").alias("wj"))
    d2 = (
        m.join(F.broadcast(wi), "i")
        .join(F.broadcast(wj), "j")
        .groupBy(F.col("i").alias("event_type"))
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("j").alias("j"),
                                F.col("m").alias("m"),
                                F.col("wi").alias("wi"),
                                F.col("wj").alias("wj"),
                            )
                        )
                    ),
                    lambda x: x["m"].cast("double")
                    / ((x["wi"] + x["wj"]) / 1_000_000.0),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("den")
        )
    )
    return w1.join(d2, "event_type").select(
        "event_type",
        "wins",
        "losses",
        "comparisons",
        (F.col("w1_micro") / 1_000_000.0).alias("w1_q6"),
        (
            F.floor(F.col("wins").cast("double") / F.col("den") * 1_000_000.0)
            / 1_000_000.0
        ).alias("w2_q6"),
    )


@register(
    "ml_woe_iv",
    oracle="""
WITH lab AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CASE WHEN MAX(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) = 1
              THEN 1 ELSE 0 END AS bad
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
),
g AS (SELECT c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(1 - bad) AS BIGINT) AS n_good,
             CAST(SUM(bad) AS BIGINT) AS n_bad
      FROM lab GROUP BY 1),
t AS (SELECT segment, n, n_good, n_bad,
             CAST(SUM(n_good) OVER () AS BIGINT) AS tg,
             CAST(SUM(n_bad) OVER () AS BIGINT) AS tb,
             CAST(COUNT(*) OVER () AS BIGINT) AS s
      FROM g),
x AS (SELECT segment, n, n_good, n_bad,
             ln(CAST((2 * n_good + 1) AS DOUBLE) * (2 * tb + s)
                / ((2 * n_bad + 1) * CAST((2 * tg + s) AS DOUBLE))) AS woe,
             (CAST(2 * n_good + 1 AS DOUBLE) / (2 * tg + s)
              - CAST(2 * n_bad + 1 AS DOUBLE) / (2 * tb + s)) AS dd
      FROM t),
q AS (SELECT segment, n, n_good, n_bad,
             CAST(floor(woe * 1000000.0) AS BIGINT) AS woe_micro,
             CAST(floor(dd * woe * 1000000.0) AS BIGINT) AS iv_micro
      FROM x)
SELECT segment, n, n_good, n_bad,
       woe_micro / 1000000.0 AS woe_q6,
       iv_micro / 1000000.0 AS iv_term_q6,
       CAST(SUM(iv_micro) OVER () AS BIGINT) / 1000000.0 AS iv_q6
FROM q
""",
    tags=("ml", "stats", "analytics"),
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence / Information Value profiling of a
    categorical feature against a binary label — the classic
    credit-scoring screen (Siddiqi) for ranking features before model
    fitting: feature = customer market segment, label = customer ever
    placed an urgent/high-priority order. Laplace-smoothed via the
    integer-doubling identity ((g+0.5)/(G+0.5·S) = (2g+1)/(2G+S)), so
    WOE's log argument and the distribution difference are EXACT
    rationals of int64 counts — ln/division enter once per segment
    with an identical expression tree on both engines, each segment's
    WOE and IV term floor-quantize to micros independently, and total
    IV is an order-free integer window sum. Shape: one broadcast-able
    per-customer label aggregate (customer ⨝ orders on the natural
    key), one segment histogram, then a window over ≤ S segment rows.
    At 100 TB the label join shuffles on custkey once; everything
    after is |segments|-sized."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    lab = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.max(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("bad_raw")
        )
        .select(
            "c_mktsegment",
            F.when(F.col("bad_raw") == 1, 1).otherwise(0).alias("bad"),
        )
    )
    g = lab.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(1 - F.col("bad")).cast("long").alias("n_good"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    wall = W.orderBy("segment").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    t = g.select(
        "segment",
        "n",
        "n_good",
        "n_bad",
        F.sum("n_good").over(wall).cast("long").alias("tg"),
        F.sum("n_bad").over(wall).cast("long").alias("tb"),
        F.count("*").over(wall).cast("long").alias("s"),
    )
    woe = F.log(
        (2 * F.col("n_good") + 1).cast("double")
        * (2 * F.col("tb") + F.col("s"))
        / (
            (2 * F.col("n_bad") + 1)
            * (2 * F.col("tg") + F.col("s")).cast("double")
        )
    )
    dd = (2 * F.col("n_good") + 1).cast("double") / (
        2 * F.col("tg") + F.col("s")
    ) - (2 * F.col("n_bad") + 1).cast("double") / (2 * F.col("tb") + F.col("s"))
    q = t.select(
        "segment",
        "n",
        "n_good",
        "n_bad",
        F.floor(woe * 1_000_000.0).cast("long").alias("woe_micro"),
        F.floor(dd * woe * 1_000_000.0).cast("long").alias("iv_micro"),
    )
    return q.select(
        "segment",
        "n",
        "n_good",
        "n_bad",
        (F.col("woe_micro") / 1_000_000.0).alias("woe_q6"),
        (F.col("iv_micro") / 1_000_000.0).alias("iv_term_q6"),
        (
            F.sum("iv_micro").over(
                W.orderBy("segment").rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .cast("long")
            / 1_000_000.0
        ).alias("iv_q6"),
    )


@register(
    "ml_feature_selection_mi",
    oracle="""
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         unnest([
           struct_pack(f := 'qty_bin',
             v := CAST(CAST(floor(l_quantity / 10) AS BIGINT) AS VARCHAR)),
           struct_pack(f := 'disc_bin',
             v := CAST(CAST(floor(round(l_discount * 100) / 2) AS BIGINT)
                       AS VARCHAR)),
           struct_pack(f := 'tax_bin',
             v := CAST(CAST(floor(round(l_tax * 100) / 2) AS BIGINT)
                       AS VARCHAR)),
           struct_pack(f := 'status', v := l_linestatus)
         ]) AS fv
  FROM lineitem
),
cells AS (
  SELECT fv.f AS feature, fv.v AS val, y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2, 3
),
m AS (
  SELECT feature, val, y, n,
         CAST(SUM(n) OVER (PARTITION BY feature, val) AS BIGINT) AS n_val,
         CAST(SUM(n) OVER (PARTITION BY feature, y) AS BIGINT) AS n_y,
         CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS n_tot
  FROM cells
),
terms AS (
  SELECT feature,
         CAST(floor((CAST(n AS DOUBLE) / n_tot)
              * ln((CAST(n AS DOUBLE) * n_tot)
                   / (CAST(n_val AS DOUBLE) * n_y))
              * 1000000000.0) AS BIGINT) AS t_nano
  FROM m
)
SELECT feature,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(t_nano) AS BIGINT) / 1000000000.0 AS mi_q9,
       CAST(rank() OVER (ORDER BY SUM(t_nano) DESC, feature) AS BIGINT)
         AS mi_rank
FROM terms GROUP BY feature
""",
    tags=("ml", "stats"),
)
def ml_feature_selection_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-method feature selection by mutual information: for each
    candidate feature (binned quantity, binned discount, binned tax,
    line status) against the returned-flag label, MI(F;Y) =
    Σ p(f,y)·ln(p(f,y)/(p(f)p(y))) over the contingency cells, ranked
    descending — the standard screening pass before training a
    classifier on wide tabular data (what `ml_woe_iv` does for binary
    evidence weights, generalized to arbitrary-arity features).
    Scale shape: one unpivot explode (4× map-side fan-out, no extra
    scan) into ONE (feature, val, y) groupBy shuffle; marginals come
    from windows over the already-tiny cell table (≤ dozens of rows
    regardless of corpus size), so the 100 TB cost is exactly one
    map-side-combined aggregation pass. Determinism: every probability
    is a ratio of exact int64 counts (products computed in doubles —
    exact under 2^53 and overflow-free), each cell's ln term enters
    once with an identical IEEE tree, and the cross-cell MI sum is
    floor-quantized int64 nanos, so engine sum order cannot matter."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    fv = F.array(
        F.struct(
            F.lit("qty_bin").alias("f"),
            F.floor(F.col("l_quantity") / 10)
            .cast("long")
            .cast("string")
            .alias("v"),
        ),
        F.struct(
            F.lit("disc_bin").alias("f"),
            F.floor(F.round(F.col("l_discount") * 100) / 2)
            .cast("long")
            .cast("string")
            .alias("v"),
        ),
        F.struct(
            F.lit("tax_bin").alias("f"),
            F.floor(F.round(F.col("l_tax") * 100) / 2)
            .cast("long")
            .cast("string")
            .alias("v"),
        ),
        F.struct(
            F.lit("status").alias("f"), F.col("l_linestatus").alias("v")
        ),
    )
    base = li.select(y.alias("y"), F.explode(fv).alias("fv"))
    cells = base.groupBy(
        F.col("fv.f").alias("feature"), F.col("fv.v").alias("val"), "y"
    ).agg(F.count("*").cast("long").alias("n"))
    m = cells.select(
        "feature",
        "n",
        F.sum("n")
        .over(W.partitionBy("feature", "val"))
        .cast("long")
        .alias("n_val"),
        F.sum("n")
        .over(W.partitionBy("feature", "y"))
        .cast("long")
        .alias("n_y"),
        F.sum("n").over(W.partitionBy("feature")).cast("long").alias("n_tot"),
    )
    t_nano = F.floor(
        (F.col("n").cast("double") / F.col("n_tot"))
        * F.log(
            (F.col("n").cast("double") * F.col("n_tot"))
            / (F.col("n_val").cast("double") * F.col("n_y"))
        )
        * 1_000_000_000.0
    ).cast("long")
    terms = m.select("feature", t_nano.alias("t_nano"))
    agg = terms.groupBy("feature").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("t_nano").cast("long").alias("s_nano"),
    )
    return agg.select(
        "feature",
        "n_cells",
        (F.col("s_nano") / 1_000_000_000.0).alias("mi_q9"),
        F.rank()
        .over(W.orderBy(F.col("s_nano").desc(), "feature"))
        .cast("long")
        .alias("mi_rank"),
    )


_GBM_ETA = 0.5  # learning rate (binary-exact)


@register(
    "ml_gbm_residual_step",
    oracle=f"""
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS qv,
         CAST(round(l_discount * 100) AS BIGINT) AS dv,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)
                  * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS s2
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
         CAST(SUM(s2) AS BIGINT) AS ss2
  FROM cells
),
qm AS (
  SELECT qv, CAST(SUM(n) AS BIGINT) AS nq, CAST(SUM(s) AS BIGINT) AS sq,
         CAST(SUM(s2) AS BIGINT) AS s2q
  FROM cells GROUP BY qv
),
qp AS (
  SELECT qv,
         CAST(SUM(nq) OVER w AS BIGINT) AS nl,
         CAST(SUM(sq) OVER w AS BIGINT) AS sl,
         CAST(SUM(s2q) OVER w AS BIGINT) AS s2l
  FROM qm WINDOW w AS (ORDER BY qv ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
),
best1 AS (
  SELECT min([-(CAST(sl AS DOUBLE) * sl / nl
                + CAST(ss - sl AS DOUBLE) * (ss - sl) / (nn - nl)),
              CAST(qv AS DOUBLE)])[2] AS t1
  FROM qp, tot WHERE nn - nl > 0
),
st1 AS (
  SELECT t1, nn, ss, ss2, nl, sl, s2l,
         CAST(ss AS DOUBLE) / nn AS m0,
         {_GBM_ETA} * (CAST(sl AS DOUBLE) / nl - CAST(ss AS DOUBLE) / nn)
           AS cl,
         {_GBM_ETA} * (CAST(ss - sl AS DOUBLE) / (nn - nl)
                       - CAST(ss AS DOUBLE) / nn) AS cr
  FROM qp JOIN best1 ON CAST(qp.qv AS DOUBLE) = best1.t1
  CROSS JOIN tot
),
rc AS (
  SELECT c.dv, c.n, c.s, c.s2,
         CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
              THEN st1.m0 + st1.cl ELSE st1.m0 + st1.cr END AS p1
  FROM cells c CROSS JOIN st1
),
dm AS (
  SELECT dv, CAST(SUM(n) AS BIGINT) AS nd,
         CAST(SUM(CAST(floor((CAST(s AS DOUBLE) - n * p1) * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS rd
  FROM rc GROUP BY dv
),
dp AS (
  SELECT dv,
         CAST(SUM(nd) OVER w AS BIGINT) AS nl2,
         CAST(SUM(rd) OVER w AS BIGINT) AS rl2
  FROM dm WINDOW w AS (ORDER BY dv ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
),
dtot AS (SELECT CAST(SUM(nd) AS BIGINT) AS nn2,
                CAST(SUM(rd) AS BIGINT) AS rr FROM dm),
best2 AS (
  SELECT min([-(CAST(rl2 AS DOUBLE) * rl2 / nl2
                + CAST(rr - rl2 AS DOUBLE) * (rr - rl2) / (nn2 - nl2)),
              CAST(dv AS DOUBLE)])[2] AS t2
  FROM dp, dtot WHERE nn2 - nl2 > 0
),
st2 AS (
  SELECT t2, nl2, rl2, nn2, rr,
         {_GBM_ETA} * (CAST(rl2 AS DOUBLE) / 1000000.0 / nl2) AS c2l,
         {_GBM_ETA} * (CAST(rr - rl2 AS DOUBLE) / 1000000.0 / (nn2 - nl2))
           AS c2r
  FROM dp JOIN best2 ON CAST(dp.dv AS DOUBLE) = best2.t2
  CROSS JOIN dtot
),
sse AS (
  SELECT
    CAST(st1.ss2 AS DOUBLE) - CAST(st1.ss AS DOUBLE) * st1.ss / st1.nn
      AS sse0,
    (SELECT CAST(SUM(CAST(floor((c.s2
         - 2.0 * (CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
                       THEN st1.m0 + st1.cl
                       ELSE st1.m0 + st1.cr END) * c.s
         + c.n * (CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
                       THEN st1.m0 + st1.cl
                       ELSE st1.m0 + st1.cr END)
                * (CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
                        THEN st1.m0 + st1.cl
                        ELSE st1.m0 + st1.cr END)) * 1000.0) AS BIGINT))
       AS BIGINT) / 1000.0
     FROM cells c) AS sse1,
    (SELECT CAST(SUM(CAST(floor((c.s2
         - 2.0 * ((CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
                        THEN st1.m0 + st1.cl
                        ELSE st1.m0 + st1.cr END)
                  + (CASE WHEN c.dv <= CAST(st2.t2 AS BIGINT)
                          THEN st2.c2l ELSE st2.c2r END)) * c.s
         + c.n * ((CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
                        THEN st1.m0 + st1.cl
                        ELSE st1.m0 + st1.cr END)
                  + (CASE WHEN c.dv <= CAST(st2.t2 AS BIGINT)
                          THEN st2.c2l ELSE st2.c2r END))
                * ((CASE WHEN c.qv <= CAST(st1.t1 AS BIGINT)
                         THEN st1.m0 + st1.cl
                         ELSE st1.m0 + st1.cr END)
                   + (CASE WHEN c.dv <= CAST(st2.t2 AS BIGINT)
                           THEN st2.c2l ELSE st2.c2r END))) * 1000.0)
       AS BIGINT)) AS BIGINT) / 1000.0
     FROM cells c, st2) AS sse2
  FROM st1
)
SELECT CAST(1 AS BIGINT) AS round,
       'l_quantity' AS feature,
       CAST(st1.t1 AS BIGINT) AS threshold,
       st1.nl AS n_left, CAST(st1.nn - st1.nl AS BIGINT) AS n_right,
       floor(st1.cl * 1000000.0) / 1000000.0 AS corr_left_q6,
       floor(st1.cr * 1000000.0) / 1000000.0 AS corr_right_q6,
       floor(sse.sse1 / sse.sse0 * 1000000.0) / 1000000.0 AS sse_ratio_q6
FROM st1, sse
UNION ALL
SELECT CAST(2 AS BIGINT), 'l_discount_pct', CAST(st2.t2 AS BIGINT),
       st2.nl2, CAST(st2.nn2 - st2.nl2 AS BIGINT),
       floor(st2.c2l * 1000000.0) / 1000000.0,
       floor(st2.c2r * 1000000.0) / 1000000.0,
       floor(sse.sse2 / sse.sse1 * 1000000.0) / 1000000.0
FROM st2, sse
""",
    tags=("ml", "iterative"),
)
def ml_gbm_residual_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of gradient boosting with depth-1 trees (stumps) on
    the lineitem price target: round 1 finds the SSE-optimal split on
    quantity, shrinks the branch corrections by η=0.5, and round 2
    fits the NEXT stump on the residuals along discount — Friedman's
    functional-gradient recipe (each round regresses the pseudo-
    residuals of the current ensemble), extending the single-split
    `ml_tree_split_finder` into an actual boosting chain. The key
    scale trick: residuals are never materialized per row — one scan
    builds the (quantity, discount) contingency cells with exact
    int64 (n, Σy, Σy²) in dollars, and every later quantity (split
    gains, residual sums per discount, before/after SSE of BOTH
    rounds) is algebra over those ≤550 cells, so the 100 TB cost is
    one map-side-combined shuffle and the boosting chain itself is
    broadcast-sized. Determinism: argmax-by-min-pair on the exact
    same double gain expression (ties broken by threshold); per-cell
    residual sums and SSE terms floor-quantize to int64 micros/millis
    before any cross-cell sum; η and all divisors are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    yd = F.floor("l_extendedprice").cast("long")
    cells = li.groupBy(
        F.col("l_quantity").cast("long").alias("qv"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dv"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(yd).cast("long").alias("s"),
        F.sum(yd * yd).cast("long").alias("s2"),
    )
    cells = cells.localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("s2").cast("long").alias("ss2"),
    )
    qm = cells.groupBy("qv").agg(
        F.sum("n").cast("long").alias("nq"),
        F.sum("s").cast("long").alias("sq"),
        F.sum("s2").cast("long").alias("s2q"),
    )
    w = W.orderBy("qv").rowsBetween(W.unboundedPreceding, W.currentRow)
    qp = qm.select(
        "qv",
        F.sum("nq").over(w).cast("long").alias("nl"),
        F.sum("sq").over(w).cast("long").alias("sl"),
        F.sum("s2q").over(w).cast("long").alias("s2l"),
    )
    qpt = qp.crossJoin(F.broadcast(tot)).filter(
        F.col("nn") - F.col("nl") > 0
    )
    gain1 = F.col("sl").cast("double") * F.col("sl") / F.col("nl") + (
        F.col("ss") - F.col("sl")
    ).cast("double") * (F.col("ss") - F.col("sl")) / (
        F.col("nn") - F.col("nl")
    )
    best1 = qpt.agg(
        F.min(F.struct((-gain1).alias("g"), F.col("qv").cast("double").alias("t")))
        .getField("t")
        .alias("t1")
    )
    m0 = F.col("ss").cast("double") / F.col("nn")
    st1 = (
        qpt.join(
            F.broadcast(best1),
            F.col("qv").cast("double") == F.col("t1"),
        )
        .select(
            "t1",
            "nn",
            "ss",
            "ss2",
            "nl",
            "sl",
            "s2l",
            m0.alias("m0"),
            (
                _GBM_ETA
                * (F.col("sl").cast("double") / F.col("nl") - m0)
            ).alias("cl"),
            (
                _GBM_ETA
                * (
                    (F.col("ss") - F.col("sl")).cast("double")
                    / (F.col("nn") - F.col("nl"))
                    - m0
                )
            ).alias("cr"),
        )
    )
    st1 = st1.localCheckpoint(eager=False)
    p1 = F.when(
        F.col("qv") <= F.col("t1").cast("long"),
        F.col("m0") + F.col("cl"),
    ).otherwise(F.col("m0") + F.col("cr"))
    rc = cells.crossJoin(F.broadcast(st1)).select(
        "dv",
        "n",
        "s",
        "s2",
        "qv",
        p1.alias("p1"),
    )
    dm = rc.groupBy("dv").agg(
        F.sum("n").cast("long").alias("nd"),
        F.sum(
            F.floor(
                (F.col("s").cast("double") - F.col("n") * F.col("p1"))
                * 1_000_000.0
            ).cast("long")
        )
        .cast("long")
        .alias("rd"),
    )
    wd = W.orderBy("dv").rowsBetween(W.unboundedPreceding, W.currentRow)
    dp = dm.select(
        "dv",
        F.sum("nd").over(wd).cast("long").alias("nl2"),
        F.sum("rd").over(wd).cast("long").alias("rl2"),
    )
    dtot = dm.agg(
        F.sum("nd").cast("long").alias("nn2"),
        F.sum("rd").cast("long").alias("rr"),
    )
    dpt = dp.crossJoin(F.broadcast(dtot)).filter(
        F.col("nn2") - F.col("nl2") > 0
    )
    gain2 = F.col("rl2").cast("double") * F.col("rl2") / F.col("nl2") + (
        F.col("rr") - F.col("rl2")
    ).cast("double") * (F.col("rr") - F.col("rl2")) / (
        F.col("nn2") - F.col("nl2")
    )
    best2 = dpt.agg(
        F.min(F.struct((-gain2).alias("g"), F.col("dv").cast("double").alias("t")))
        .getField("t")
        .alias("t2")
    )
    st2 = (
        dpt.join(
            F.broadcast(best2),
            F.col("dv").cast("double") == F.col("t2"),
        )
        .select(
            "t2",
            "nl2",
            "rl2",
            "nn2",
            "rr",
            (
                _GBM_ETA
                * (F.col("rl2").cast("double") / 1_000_000.0 / F.col("nl2"))
            ).alias("c2l"),
            (
                _GBM_ETA
                * (
                    (F.col("rr") - F.col("rl2")).cast("double")
                    / 1_000_000.0
                    / (F.col("nn2") - F.col("nl2"))
                )
            ).alias("c2r"),
        )
    )
    st2 = st2.localCheckpoint(eager=False)
    # SSE terms over the cell table, quantized per cell to int millis
    cc = cells.crossJoin(F.broadcast(st1)).crossJoin(F.broadcast(st2))
    p1c = F.when(
        F.col("qv") <= F.col("t1").cast("long"),
        F.col("m0") + F.col("cl"),
    ).otherwise(F.col("m0") + F.col("cr"))
    p2c = p1c + F.when(
        F.col("dv") <= F.col("t2").cast("long"), F.col("c2l")
    ).otherwise(F.col("c2r"))
    sse = cc.agg(
        (
            F.sum(
                F.floor(
                    (
                        F.col("s2")
                        - 2.0 * p1c * F.col("s")
                        + F.col("n") * p1c * p1c
                    )
                    * 1000.0
                ).cast("long")
            ).cast("long")
            / 1000.0
        ).alias("sse1"),
        (
            F.sum(
                F.floor(
                    (
                        F.col("s2")
                        - 2.0 * p2c * F.col("s")
                        + F.col("n") * p2c * p2c
                    )
                    * 1000.0
                ).cast("long")
            ).cast("long")
            / 1000.0
        ).alias("sse2"),
    )
    sse0 = F.col("ss2").cast("double") - F.col("ss").cast(
        "double"
    ) * F.col("ss") / F.col("nn")
    r1 = (
        st1.crossJoin(F.broadcast(sse))
        .select(
            F.lit(1).cast("long").alias("round"),
            F.lit("l_quantity").alias("feature"),
            F.col("t1").cast("long").alias("threshold"),
            F.col("nl").alias("n_left"),
            (F.col("nn") - F.col("nl")).cast("long").alias("n_right"),
            (F.floor(F.col("cl") * 1_000_000.0) / 1_000_000.0).alias(
                "corr_left_q6"
            ),
            (F.floor(F.col("cr") * 1_000_000.0) / 1_000_000.0).alias(
                "corr_right_q6"
            ),
            (
                F.floor(F.col("sse1") / sse0 * 1_000_000.0) / 1_000_000.0
            ).alias("sse_ratio_q6"),
        )
    )
    r2 = (
        st2.crossJoin(F.broadcast(sse))
        .select(
            F.lit(2).cast("long").alias("round"),
            F.lit("l_discount_pct").alias("feature"),
            F.col("t2").cast("long").alias("threshold"),
            F.col("nl2").alias("n_left"),
            (F.col("nn2") - F.col("nl2")).cast("long").alias("n_right"),
            (F.floor(F.col("c2l") * 1_000_000.0) / 1_000_000.0).alias(
                "corr_left_q6"
            ),
            (F.floor(F.col("c2r") * 1_000_000.0) / 1_000_000.0).alias(
                "corr_right_q6"
            ),
            (
                F.floor(F.col("sse2") / F.col("sse1") * 1_000_000.0)
                / 1_000_000.0
            ).alias("sse_ratio_q6"),
        )
    )
    return r1.unionByName(r2)


# Learning-curve fractions: bucket upper bounds of the NESTED training
# subsets (hash buckets 20..b), holdout is buckets 0..19.
_LC_BOUNDS = ((25, 40), (50, 60), (100, 100))


def _lc_moments_sql(cond: str, tag: str) -> str:
    """DuckDB conditional OLS moment block for rows satisfying cond."""
    return ", ".join(
        f"CAST(SUM(CASE WHEN {cond} THEN {e} ELSE 0 END) AS BIGINT)"
        f" AS {a}{tag}"
        for e, a in (
            ("1", "n"),
            ("xv", "sx"),
            ("yv", "sy"),
            ("xv * xv", "sxx"),
            ("xv * yv", "sxy"),
            ("yv * yv", "syy"),
        )
    )


@register(
    "ml_learning_curve",
    oracle=f"""
WITH b AS (
  SELECT CAST(l_quantity AS BIGINT) AS xv,
         CAST(floor(l_extendedprice) AS BIGINT) AS yv,
         CAST('0x' || substr(md5('lc|' || CAST(l_orderkey AS VARCHAR)
              || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS h
  FROM lineitem
),
m AS (
  SELECT
    {_lc_moments_sql('h >= 20 AND h < 40', '25')},
    {_lc_moments_sql('h >= 20 AND h < 60', '50')},
    {_lc_moments_sql('h >= 20', '100')},
    {_lc_moments_sql('h < 20', 'h')}
  FROM b
),
f AS (
  SELECT u.frac, u.n_train, u.slope, u.intercept,
         (syyh + nh * u.intercept * u.intercept
          + u.slope * u.slope * sxxh
          - 2.0 * u.intercept * syh - 2.0 * u.slope * sxyh
          + 2.0 * u.intercept * u.slope * sxh) / nh AS mse
  FROM m, LATERAL (
    SELECT * FROM (VALUES
      (25, n25,
       (CAST(n25 AS DOUBLE) * sxy25 - CAST(sx25 AS DOUBLE) * sy25)
         / (CAST(n25 AS DOUBLE) * sxx25 - CAST(sx25 AS DOUBLE) * sx25),
       (sy25 - (CAST(n25 AS DOUBLE) * sxy25 - CAST(sx25 AS DOUBLE) * sy25)
         / (CAST(n25 AS DOUBLE) * sxx25 - CAST(sx25 AS DOUBLE) * sx25)
         * sx25) / n25),
      (50, n50,
       (CAST(n50 AS DOUBLE) * sxy50 - CAST(sx50 AS DOUBLE) * sy50)
         / (CAST(n50 AS DOUBLE) * sxx50 - CAST(sx50 AS DOUBLE) * sx50),
       (sy50 - (CAST(n50 AS DOUBLE) * sxy50 - CAST(sx50 AS DOUBLE) * sy50)
         / (CAST(n50 AS DOUBLE) * sxx50 - CAST(sx50 AS DOUBLE) * sx50)
         * sx50) / n50),
      (100, n100,
       (CAST(n100 AS DOUBLE) * sxy100 - CAST(sx100 AS DOUBLE) * sy100)
         / (CAST(n100 AS DOUBLE) * sxx100 - CAST(sx100 AS DOUBLE) * sx100),
       (sy100 - (CAST(n100 AS DOUBLE) * sxy100
                 - CAST(sx100 AS DOUBLE) * sy100)
         / (CAST(n100 AS DOUBLE) * sxx100 - CAST(sx100 AS DOUBLE) * sx100)
         * sx100) / n100)
    ) AS t(frac, n_train, slope, intercept)
  ) u
)
SELECT CAST(frac AS BIGINT) AS train_pct,
       CAST(n_train AS BIGINT) AS n_train,
       floor(slope * 1000000.0) / 1000000.0 AS slope_q6,
       floor(intercept * 1000000.0) / 1000000.0 AS intercept_q6,
       floor(sqrt(mse) * 1000000.0) / 1000000.0 AS holdout_rmse_q6
FROM f
""",
    tags=("ml", "sampling"),
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the closed-form OLS price-on-quantity model:
    three NESTED deterministic-hash training subsets (25/50/100% of
    the train pool, buckets nested so each larger set contains the
    smaller — the correct sample-efficiency protocol) fitted by the
    normal equations and scored on one fixed held-out 20% bucket,
    emitting slope/intercept/holdout-RMSE per fraction — the
    diminishing-returns curve that decides whether a 100 TB pipeline
    should ingest MORE data or better data. Scale shape: the entire
    curve is ONE scan with conditional exact-int64 moment sums (no
    per-subset passes, no shuffle beyond the single 1-row aggregate);
    holdout MSE comes from the moment identity
    Σ(y−a−bx)² = Σy² + na² + b²Σx² − 2aΣy − 2bΣxy + 2abΣx, so
    residuals are never materialized. Determinism: md5-bucket
    assignment (engine-identical), normal-equation numerators/
    denominators computed in doubles with identical trees (counts can
    exceed 2^53·ε exactness at extreme scale — affects statistics,
    not cross-engine parity), floor-q6 outputs."""
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        F.expr(
            "CAST(conv(substr(md5(concat('lc|', CAST(l_orderkey AS STRING),"
            " '-', CAST(l_linenumber AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 100"
        )
    )
    b = li.select(
        F.col("l_quantity").cast("long").alias("xv"),
        F.floor("l_extendedprice").cast("long").alias("yv"),
        h.alias("h"),
    )

    def moments(cond, tag):
        z = F.lit(0).cast("long")
        return [
            F.sum(F.when(cond, 1).otherwise(z)).cast("long").alias(f"n{tag}"),
            F.sum(F.when(cond, F.col("xv")).otherwise(z))
            .cast("long")
            .alias(f"sx{tag}"),
            F.sum(F.when(cond, F.col("yv")).otherwise(z))
            .cast("long")
            .alias(f"sy{tag}"),
            F.sum(F.when(cond, F.col("xv") * F.col("xv")).otherwise(z))
            .cast("long")
            .alias(f"sxx{tag}"),
            F.sum(F.when(cond, F.col("xv") * F.col("yv")).otherwise(z))
            .cast("long")
            .alias(f"sxy{tag}"),
            F.sum(F.when(cond, F.col("yv") * F.col("yv")).otherwise(z))
            .cast("long")
            .alias(f"syy{tag}"),
        ]

    hc = F.col("h")
    m = b.agg(
        *moments((hc >= 20) & (hc < 40), "25"),
        *moments((hc >= 20) & (hc < 60), "50"),
        *moments(hc >= 20, "100"),
        *moments(hc < 20, "h"),
    )

    def fit(tag, pct):
        n = F.col(f"n{tag}").cast("double")
        sx = F.col(f"sx{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        sxx = F.col(f"sxx{tag}").cast("double")
        sxy = F.col(f"sxy{tag}").cast("double")
        slope = (n * F.col(f"sxy{tag}") - sx * F.col(f"sy{tag}")) / (
            n * F.col(f"sxx{tag}") - sx * F.col(f"sx{tag}")
        )
        intercept = (
            F.col(f"sy{tag}")
            - (n * F.col(f"sxy{tag}") - sx * F.col(f"sy{tag}"))
            / (n * F.col(f"sxx{tag}") - sx * F.col(f"sx{tag}"))
            * F.col(f"sx{tag}")
        ) / F.col(f"n{tag}")
        return F.struct(
            F.lit(pct).cast("long").alias("train_pct"),
            F.col(f"n{tag}").alias("n_train"),
            slope.alias("slope"),
            intercept.alias("intercept"),
        )

    f = m.select(
        F.explode(
            F.array(fit("25", 25), fit("50", 50), fit("100", 100))
        ).alias("u"),
        "nh",
        "sxh",
        "syh",
        "sxxh",
        "sxyh",
        "syyh",
    )
    a_, b_ = F.col("u.intercept"), F.col("u.slope")
    mse = (
        F.col("syyh")
        + F.col("nh") * a_ * a_
        + b_ * b_ * F.col("sxxh")
        - 2.0 * a_ * F.col("syh")
        - 2.0 * b_ * F.col("sxyh")
        + 2.0 * a_ * b_ * F.col("sxh")
    ) / F.col("nh")
    return f.select(
        F.col("u.train_pct").alias("train_pct"),
        F.col("u.n_train").alias("n_train"),
        (F.floor(b_ * 1_000_000.0) / 1_000_000.0).alias("slope_q6"),
        (F.floor(a_ * 1_000_000.0) / 1_000_000.0).alias("intercept_q6"),
        (F.floor(F.sqrt(mse) * 1_000_000.0) / 1_000_000.0).alias(
            "holdout_rmse_q6"
        ),
    )


_RIDGE_ETA = 0.5
_RIDGE_LAM = 0.125  # binary-exact
_RIDGE_STEPS = 25
_RIDGE_DIM = 64

# DuckDB macro: gradient step on the one-row (mat C/N, vec b/N) state.
_RIDGE_GRAD = (
    "list_transform(range(1, 65), i -> "
    "list_extract(w, i) - {eta} * ("
    "(list_dot_product(list_extract(cm, i), w)"
    " - list_extract(bv, i))"
    " + {lam} * list_extract(w, i)))"
).format(eta=_RIDGE_ETA, lam=_RIDGE_LAM)


@register(
    "ml_ridge_probe",
    oracle=f"""
WITH RECURSIVE
q AS (
  SELECT CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
g AS (
  SELECT gi.i AS i, gj.j AS j,
         CAST(SUM(list_extract(qv, gi.i) * list_extract(qv, gj.j))
           AS BIGINT) AS sxy
  FROM q, generate_series(1, {_RIDGE_DIM}) gi(i),
          generate_series(1, {_RIDGE_DIM}) gj(j)
  GROUP BY 1, 2
),
bv0 AS (
  SELECT gs.i AS i,
         CAST(SUM(list_extract(qv, gs.i) * y) AS BIGINT) AS sy
  FROM q, generate_series(1, {_RIDGE_DIM}) gs(i) GROUP BY 1
),
mat AS (
  SELECT list(rw ORDER BY i) AS cm
  FROM (SELECT i, list(CAST(sxy AS DOUBLE) / 1000000000000.0 / tot.n
                       ORDER BY j) AS rw
        FROM g, tot GROUP BY i) 
),
bvec AS (
  SELECT list(CAST(sy AS DOUBLE) / 1000000.0 / tot.n ORDER BY i) AS bv
  FROM bv0, tot
),
it(k, w) AS (
  SELECT 0, list_transform(range(1, {_RIDGE_DIM} + 1),
                           x -> CAST(0.0 AS DOUBLE))
  UNION ALL
  SELECT k + 1, {_RIDGE_GRAD}
  FROM it, mat, bvec WHERE k < {_RIDGE_STEPS}
),
fin AS (SELECT w FROM it WHERE k = {_RIDGE_STEPS}),
ev AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN (CASE WHEN list_dot_product(
                list_transform(qv, v -> CAST(v AS DOUBLE) / 1000000.0),
                fin.w) > 0.0 THEN 1 ELSE -1 END) = y
              THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM q, fin
)
SELECT ev.n, ev.n_correct, ev.n_pos,
       floor(ev.n_correct * 1000000.0 / ev.n) / 1000000.0 AS accuracy_q6,
       floor(sqrt(list_dot_product(fin.w, fin.w)) * 1000000.0) / 1000000.0
         AS w_norm_q6
FROM ev, fin
""",
    tags=("ml", "embedding", "iterative"),
)
def ml_ridge_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear probe on the embedding space — ridge regression against a
    binary label (label<5), THE standard representation-quality probe
    (if a linear readout separates the classes, the geometry encodes
    them): minimize ‖Xw−y‖²/N + λ‖w‖² by {_RIDGE_STEPS} gradient steps
    w ← w − η(Cw − b + λw) where C = XᵀX/N and b = Xᵀy/N are EXACT
    sufficient statistics — the corpus collapses to d² + d integer
    cells in one pass (the embed_covariance derivation, uncentered),
    the solver never touches data again, and one second pass scores
    train accuracy of sign(w·x). Scale shape: two corpus scans total
    (moments; scoring against the broadcast 1-row w), both map-side
    combined; the iteration is single-row array math. Determinism:
    moment sums exact int64 on micro-quantized coordinates; gradient
    and scoring dot products are sequential folds with identical IEEE
    trees; η and λ binary-exact; unit-norm rows keep ‖C‖ ≤ 1 so the
    fixed step size is stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(-1).alias("y"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv"),
    )
    # ONE double-posexplode aggregation carries the full Gram matrix
    # AND (on the j=0 slice, where every row of the corpus contributes
    # exactly once per i) the X^T y vector and the row count — so the
    # moments cost exactly one embeddings scan
    a = q.select(F.posexplode("qv").alias("i", "xi"), "qv", "y")
    gb = a.select(
        F.col("i").cast("long").alias("i"),
        "xi",
        "y",
        F.posexplode("qv").alias("j", "xj"),
    )
    g_all = gb.groupBy("i", F.col("j").cast("long").alias("j")).agg(
        F.sum(F.col("xi") * F.col("xj")).cast("long").alias("sxy"),
        F.sum(F.col("xi") * F.col("y")).cast("long").alias("sy"),
        F.count("*").cast("long").alias("cnt"),
    )
    g_all = g_all.localCheckpoint(eager=False)
    g = g_all.select("i", "j", "sxy")
    tot = (
        g_all.filter((F.col("i") == 0) & (F.col("j") == 0))
        .select(F.col("cnt").alias("n"))
    )
    bv0 = g_all.filter(F.col("j") == 0).select("i", "sy")
    mat = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("i")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "j",
                        (
                            F.col("sxy").cast("double")
                            / 1_000_000_000_000.0
                            / F.col("n")
                        ).alias("c"),
                    )
                )
            ).alias("p")
        )
        .select("i", F.transform("p", lambda x: x["c"]).alias("rw"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("i", "rw"))).alias("pp"))
        .select(F.transform("pp", lambda x: x["rw"]).alias("cm"))
    )
    bvec = (
        bv0.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "i",
                        (
                            F.col("sy").cast("double")
                            / 1_000_000.0
                            / F.col("n")
                        ).alias("b"),
                    )
                )
            ).alias("p")
        )
        .select(F.transform("p", lambda x: x["b"]).alias("bv"))
    )

    def dot(a_, b_):
        return F.aggregate(
            F.zip_with(a_, b_, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, u: acc + u,
        )

    state = mat.crossJoin(F.broadcast(bvec))

    def let(val, body):
        return F.element_at(F.transform(F.array(val), body), 1)

    # gradient step mirrors the oracle's exact IEEE tree:
    # w_i - eta*((dot(C_i, w) - b_i) + lam*w_i); cw is let-bound so the
    # 64 matvec dots evaluate once per step, not once per element
    def gstep(w, _):
        return let(
            F.transform(F.col("cm"), lambda row: dot(row, w)),
            lambda cw: F.transform(
                w,
                lambda wi, i: wi
                - _RIDGE_ETA
                * (
                    (F.element_at(cw, i + 1) - F.element_at(F.col("bv"), i + 1))
                    + _RIDGE_LAM * wi
                ),
            ),
        )

    fin = state.select(
        F.aggregate(
            F.array_repeat(F.lit(0), _RIDGE_STEPS),
            F.array_repeat(F.lit(0.0), _RIDGE_DIM),
            gstep,
        ).alias("w")
    )
    # two consumers (scoring scan + final norm): pin the 1-row weights
    fin = fin.localCheckpoint(eager=False)
    ev = q.crossJoin(F.broadcast(fin)).select(
        "y",
        dot(
            F.transform("qv", lambda v: v.cast("double") / 1_000_000.0),
            F.col("w"),
        ).alias("score"),
    )
    evs = ev.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(
                F.when(F.col("score") > 0.0, 1).otherwise(-1) == F.col("y"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    return evs.crossJoin(F.broadcast(fin)).select(
        "n",
        "n_correct",
        "n_pos",
        (F.floor(F.col("n_correct") * 1_000_000.0 / F.col("n")) / 1_000_000.0).alias(
            "accuracy_q6"
        ),
        (
            F.floor(F.sqrt(dot(F.col("w"), F.col("w"))) * 1_000_000.0)
            / 1_000_000.0
        ).alias("w_norm_q6"),
    )


_PLATT_STEPS = 8

# DuckDB fold macros over the sorted bins list `bins` (struct s, c1, n)
# given current (a, b). Each is a SEQUENTIAL list_reduce with a scalar
# DOUBLE accumulator (safe — only list-typed accumulators are broken).
def _platt_sum(expr: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(bins, t -> " + expr + ")), (x, y) -> x + y)"
    )


_PLATT_P = "(1.0 / (1.0 + exp(-(a * (t.s / 1000.0) + b))))"
_PLATT_S1 = _platt_sum(
    f"t.n * {_PLATT_P} * (1.0 - {_PLATT_P}) * (t.s / 1000.0)"
    " * (t.s / 1000.0)"
)
_PLATT_S2 = _platt_sum(
    f"t.n * {_PLATT_P} * (1.0 - {_PLATT_P}) * (t.s / 1000.0)"
)
_PLATT_S3 = _platt_sum(f"t.n * {_PLATT_P} * (1.0 - {_PLATT_P})")
_PLATT_G1 = _platt_sum(f"(t.n * {_PLATT_P} - t.c1) * (t.s / 1000.0)")
_PLATT_G2 = _platt_sum(f"(t.n * {_PLATT_P} - t.c1)")
_PLATT_DET = f"({_PLATT_S1} * {_PLATT_S3} - {_PLATT_S2} * {_PLATT_S2})"


@register(
    "ml_platt_calibration",
    oracle=f"""
WITH RECURSIVE
raw AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         (CAST('0x' || substr(md5('auc|' || CAST(o_orderkey AS VARCHAR)),
               1, 8) AS BIGINT) % {_AUC_NOISE})
         + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
h AS (
  SELECT s, CAST(SUM(y) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS n
  FROM raw GROUP BY s
),
bl AS (
  SELECT list(struct_pack(s := s, c1 := c1, n := n) ORDER BY s) AS bins,
         CAST(SUM(c1) AS BIGINT) AS pos,
         CAST(SUM(n) AS BIGINT) AS tot
  FROM h
),
it(k, a, b) AS (
  SELECT 0, CAST(0 AS DOUBLE),
         ln(CAST(pos AS DOUBLE) / (tot - pos))
  FROM bl
  UNION ALL
  SELECT k + 1,
         a - ({_PLATT_S3} * {_PLATT_G1} - {_PLATT_S2} * {_PLATT_G2})
               / {_PLATT_DET},
         b - ({_PLATT_S1} * {_PLATT_G2} - {_PLATT_S2} * {_PLATT_G1})
               / {_PLATT_DET}
  FROM it, bl WHERE k < {_PLATT_STEPS}
),
fin AS (SELECT a, b FROM it WHERE k = {_PLATT_STEPS}),
nll AS (
  SELECT
    CAST(SUM(CASE WHEN c1 > 0 AND c1 < n THEN
         CAST(floor((c1 * ln(CAST(c1 AS DOUBLE) / n)
         + (n - c1) * ln(1.0 - CAST(c1 AS DOUBLE) / n)) * 1000000.0)
         AS BIGINT) END) AS BIGINT) AS sat_micro,
    CAST(SUM(CAST(floor((c1 * ln(1.0 / (1.0 + exp(-(fin.a * (s / 1000.0)
           + fin.b))))
         + (n - c1) * ln(1.0 - 1.0 / (1.0 + exp(-(fin.a * (s / 1000.0)
           + fin.b))))) * 1000000.0) AS BIGINT)) AS BIGINT) AS cal_micro
  FROM h, fin
)
SELECT CAST(len(bl.bins) AS BIGINT) AS n_bins, bl.pos, bl.tot,
       floor(fin.a * 1000000.0) / 1000000.0 AS platt_a_q6,
       floor(fin.b * 1000000.0) / 1000000.0 AS platt_b_q6,
       floor(-(CAST(nll.cal_micro AS DOUBLE) / 1000000.0) / bl.tot
             * 1000000.0) / 1000000.0 AS nll_calibrated_q6,
       floor(-(CAST(nll.sat_micro AS DOUBLE) / 1000000.0) / bl.tot
             * 1000000.0) / 1000000.0 AS nll_saturated_q6
FROM bl, fin, nll
""",
    tags=("ml", "iterative"),
)
def ml_platt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling — fit the sigmoid calibrator P(y=1|s) = σ(A·s + B)
    by {_PLATT_STEPS} Newton-Raphson steps, turning the raw hash-model
    score (shared with `ml_auc_roc`/`ml_calibration_ece`) into an
    actual probability — the post-hoc calibration fit that ECE only
    MEASURES. The scale mechanism: scores collapse to their bounded
    distinct-value histogram in one pass, and every Newton quantity
    (2-param gradient + 2x2 Hessian, solved in closed form) is a
    sequential fold over that tiny sorted bins array on ONE row —
    identical IEEE trees on both engines, data never rescanned.
    Reported against the saturated (per-bin empirical) NLL as the
    attainable floor. Determinism: histogram counts exact int64; the
    Newton iteration runs in a recursive CTE / single-row F.aggregate
    with let-bound shared sums; NLL terms floor-quantize to int64
    micros per bin before summing (order-free); the init prior
    log-odds is one exact-count ratio."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    raw = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    h = raw.groupBy("s").agg(
        F.sum("y").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n"),
    )
    h = h.localCheckpoint(eager=False)
    bl = h.agg(
        F.array_sort(F.collect_list(F.struct("s", "c1", "n"))).alias(
            "bins"
        ),
        F.sum("c1").cast("long").alias("pos"),
        F.sum("n").cast("long").alias("tot"),
    )

    def let(val, body):
        return F.element_at(F.transform(F.array(val), body), 1)

    bins = F.col("bins")

    def sig(a, b, t):
        return 1.0 / (1.0 + F.exp(-(a * (t["s"] / 1000.0) + b)))

    def fsum(fn):
        return F.aggregate(bins, F.lit(0.0), lambda x, t: x + fn(t))

    def step(acc, _):
        a, b = acc[0], acc[1]

        def p(t):
            return sig(a, b, t)

        s1 = fsum(
            lambda t: t["n"]
            * p(t)
            * (1.0 - p(t))
            * (t["s"] / 1000.0)
            * (t["s"] / 1000.0)
        )
        s2 = fsum(
            lambda t: t["n"] * p(t) * (1.0 - p(t)) * (t["s"] / 1000.0)
        )
        s3 = fsum(lambda t: t["n"] * p(t) * (1.0 - p(t)))
        g1 = fsum(lambda t: (t["n"] * p(t) - t["c1"]) * (t["s"] / 1000.0))
        g2 = fsum(lambda t: (t["n"] * p(t) - t["c1"]))
        det = s1 * s3 - s2 * s2
        return F.array(
            a - (s3 * g1 - s2 * g2) / det,
            b - (s1 * g2 - s2 * g1) / det,
        )

    init = F.array(
        F.lit(0.0),
        F.log(
            F.col("pos").cast("double") / (F.col("tot") - F.col("pos"))
        ),
    )
    fin = bl.select(
        "bins",
        "pos",
        "tot",
        F.aggregate(
            F.array_repeat(F.lit(0), _PLATT_STEPS), init, step
        ).alias("ab"),
    )
    fin = fin.localCheckpoint(eager=False)
    a_, b_ = F.col("a"), F.col("b")
    fin1 = fin.select(
        F.size("bins").cast("long").alias("n_bins"),
        "pos",
        "tot",
        F.col("ab")[0].alias("a"),
        F.col("ab")[1].alias("b"),
    )
    pcal = 1.0 / (1.0 + F.exp(-(a_ * (F.col("s") / 1000.0) + b_)))
    nll = (
        h.crossJoin(F.broadcast(fin1))
        .agg(
            F.sum(
                F.when(
                    (F.col("c1") > 0) & (F.col("c1") < F.col("n")),
                    F.floor(
                        (
                            F.col("c1")
                            * F.log(
                                F.col("c1").cast("double") / F.col("n")
                            )
                            + (F.col("n") - F.col("c1"))
                            * F.log(
                                1.0
                                - F.col("c1").cast("double") / F.col("n")
                            )
                        )
                        * 1_000_000.0
                    ).cast("long"),
                )
            )
            .cast("long")
            .alias("sat_micro"),
            F.sum(
                F.floor(
                    (
                        F.col("c1") * F.log(pcal)
                        + (F.col("n") - F.col("c1")) * F.log(1.0 - pcal)
                    )
                    * 1_000_000.0
                ).cast("long")
            )
            .cast("long")
            .alias("cal_micro"),
        )
    )
    return fin1.crossJoin(F.broadcast(nll)).select(
        "n_bins",
        "pos",
        "tot",
        (F.floor(F.col("a") * 1_000_000.0) / 1_000_000.0).alias(
            "platt_a_q6"
        ),
        (F.floor(F.col("b") * 1_000_000.0) / 1_000_000.0).alias(
            "platt_b_q6"
        ),
        (
            F.floor(
                -(F.col("cal_micro").cast("double") / 1_000_000.0)
                / F.col("tot")
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("nll_calibrated_q6"),
        (
            F.floor(
                -(F.col("sat_micro").cast("double") / 1_000_000.0)
                / F.col("tot")
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("nll_saturated_q6"),
    )


_KM_K = 8
_KM_ROUNDS = 3

# DuckDB macros for one Lloyd round: given centroid CTE c{r} (cluster,
# cvec DOUBLE[]), assign each vector to its nearest centroid and emit
# the next centroids. Distances fold dimension-wise in list order —
# the same sequential IEEE tree as the Spark F.aggregate.
_KM_DIST = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, 65), i -> "
    "(qv[i] / 1000000.0 - c.cvec[i]) * (qv[i] / 1000000.0 - c.cvec[i])"
    ")), (x, y) -> x + y)"
)


def _km_round_sql(r: int) -> str:
    """CTE pair: a{r} assigns against c{r-1}; c{r} are the new means.
    Distances are materialized per (vector, centroid) BEFORE the
    aggregate (DuckDB 1.0 cannot bind lambda variables inside
    aggregate arguments); the argmin is the proven min([d, cluster])
    pair idiom — equal distances break to the lowest cluster, matching
    the Spark fold's strict-< first-wins rule over the
    cluster-ascending array."""
    return f"""a{r} AS (
  SELECT vec_id, any_value(qv) AS qv,
         CAST(min(dl)[2] AS BIGINT) AS cluster,
         min(dl)[1] AS d2
  FROM (SELECT vec_id, qv,
               [{_KM_DIST}, CAST(c.cluster AS DOUBLE)] AS dl
        FROM q, c{r - 1} c)
  GROUP BY vec_id
),
c{r} AS (
  SELECT cluster,
         list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY i) AS cvec
  FROM (
    SELECT cluster, gs.i AS i,
           CAST(SUM(qv[gs.i]) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM a{r}, generate_series(1, 64) gs(i) GROUP BY 1, 2)
  GROUP BY cluster
)"""


@register(
    "ml_kmeans_lloyd3",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           AS cluster,
         list_transform(qv, v -> CAST(v AS DOUBLE) / 1000000.0) AS cvec
  FROM q ORDER BY vec_id LIMIT {_KM_K}
),
{_km_round_sql(1)},
{_km_round_sql(2)},
{_km_round_sql(3)}
SELECT a3.cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CAST(floor(a3.d2 * 1000000.0) AS BIGINT)) AS BIGINT)
         / 1000000.0 AS inertia_q6,
       floor(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(c3.cvec, v -> v * v)), (x, y) -> x + y))
             * 1000000.0) / 1000000.0 AS centroid_norm_q6
FROM a3 JOIN c3 ON a3.cluster = c3.cluster
GROUP BY a3.cluster, c3.cvec
""",
    tags=("ml", "embedding", "iterative"),
)
def ml_kmeans_lloyd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations of k-means (k={_KM_K}) over the
    embedding corpus — the multi-pass completion of the single-step
    `ml_kmeans_step`, showing the corpus-scale iteration discipline:
    per round, assignment is MAP-ONLY (the k×d centroid table rides in
    as a broadcast single-row array; each vector folds its distances
    in-row and argmins with an ascending-cluster tie rule) and the new
    centroids are ONE map-side-combined groupBy over k cells; the
    k-row state is checkpointed between rounds so the plan never
    re-derives earlier iterations. 100 TB cost: exactly one corpus
    pass per round — the optimal shape for Lloyd on a cluster.
    Deterministic init: the first k vectors by vec_id (k-means++ would
    add randomness for quality; init choice is orthogonal to the
    iteration mechanics under test). Exactness: coordinates quantized
    to int micros; centroid sums exact int64 with ONE division to the
    mean; distance folds run dimension-ascending with identical IEEE
    trees; assignment ties break to the lowest cluster on both
    engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000.0).cast("long"),
        ).alias("qv"),
    )
    from pyspark.sql.window import Window as W2

    # Init = first k vectors by vec_id. orderBy().limit(k) compiles to
    # TakeOrderedAndProject — a parallel per-partition top-k + driver
    # merge (round-7 VERDICT item 3). The previous global row_number()
    # + filter(rn <= k) produced the same physical plan ONLY because
    # Catalyst's LimitPushDownThroughWindow rule fired; the explicit
    # limit is correct by construction and survives optimizer-rule
    # regressions (pinned registry-wide by tests/test_window_audit.py).
    # The residual row_number window runs over the k-row result.
    c0 = (
        q.orderBy("vec_id")
        .limit(_KM_K)
        .select(
            "vec_id",
            F.transform(
                "qv", lambda v: v.cast("double") / 1_000_000.0
            ).alias("cvec"),
        )
        .select(
            (F.row_number().over(W2.orderBy("vec_id")) - 1)
            .cast("long")
            .alias("cluster"),
            "cvec",
        )
    )
    cents = c0.localCheckpoint(eager=False)

    def dist(qv, cvec):
        return F.aggregate(
            F.zip_with(
                qv,
                cvec,
                lambda x, c: (x / 1_000_000.0 - c) * (x / 1_000_000.0 - c),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    last_assign = None
    for _ in range(_KM_ROUNDS):
        carr = cents.groupBy().agg(
            F.array_sort(
                F.collect_list(F.struct("cluster", "cvec"))
            ).alias("cs")
        )
        assigned = q.crossJoin(F.broadcast(carr)).select(
            "vec_id",
            "qv",
            F.aggregate(
                F.col("cs"),
                F.struct(
                    F.lit(float("inf")).alias("bd"),
                    F.lit(-1).cast("long").alias("bc"),
                ),
                lambda acc, c: F.when(
                    dist(F.col("qv"), c["cvec"]) < acc["bd"],
                    F.struct(
                        dist(F.col("qv"), c["cvec"]).alias("bd"),
                        c["cluster"].alias("bc"),
                    ),
                ).otherwise(acc),
            ).alias("best"),
        )
        last_assign = assigned.select(
            "vec_id",
            "qv",
            F.col("best.bc").alias("cluster"),
            F.col("best.bd").alias("d2"),
        )
        sums = last_assign.groupBy("cluster").agg(
            F.count("*").cast("long").alias("n"),
            *[
                F.sum(F.element_at("qv", i + 1)).cast("long").alias(f"s{i}")
                for i in range(64)
            ],
        )
        cents = sums.select(
            "cluster",
            F.array(
                *[
                    F.col(f"s{i}").cast("double")
                    / F.col("n")
                    / 1_000_000.0
                    for i in range(64)
                ]
            ).alias("cvec"),
        ).localCheckpoint(eager=False)
    norm = F.sqrt(
        F.aggregate(
            F.transform("cvec", lambda v: v * v),
            F.lit(0.0),
            lambda a, b: a + b,
        )
    )
    stats = last_assign.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        (
            F.sum(F.floor(F.col("d2") * 1_000_000.0).cast("long"))
            .cast("long")
            / 1_000_000.0
        ).alias("inertia_q6"),
    )
    return stats.join(F.broadcast(cents), "cluster").select(
        "cluster",
        "n_members",
        "inertia_q6",
        (F.floor(norm * 1_000_000.0) / 1_000_000.0).alias(
            "centroid_norm_q6"
        ),
    )


_GMM_STEPS = 10
_GMM_VMIN = 0.01  # variance floor (binary-exact-ish; same both engines)


def _gmm_sum(expr: str) -> str:
    """DuckDB sequential fold over the sorted bins list (t.x value
    units, t.n count) given scalar state (w1, mu1, v1, mu2, v2)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(bins, t -> " + expr + ")), (p, q) -> p + q)"
    )


# responsibility of component 1 for bin t — written ONCE and reused
# verbatim so both engines evaluate the identical IEEE tree
_GMM_R = (
    "(w1 * exp(-(t.x - mu1) * (t.x - mu1) / (2.0 * v1)) / sqrt(v1))"
    " / ((w1 * exp(-(t.x - mu1) * (t.x - mu1) / (2.0 * v1)) / sqrt(v1))"
    " + ((1.0 - w1) * exp(-(t.x - mu2) * (t.x - mu2) / (2.0 * v2))"
    " / sqrt(v2)))"
)
_GMM_N1 = _gmm_sum(f"t.n * {_GMM_R}")
_GMM_S1 = _gmm_sum(f"t.n * {_GMM_R} * t.x")
_GMM_Q1 = _gmm_sum(f"t.n * {_GMM_R} * t.x * t.x")
_GMM_N2 = _gmm_sum(f"t.n * (1.0 - {_GMM_R})")
_GMM_S2 = _gmm_sum(f"t.n * (1.0 - {_GMM_R}) * t.x")
_GMM_Q2 = _gmm_sum(f"t.n * (1.0 - {_GMM_R}) * t.x * t.x")


@register(
    "ml_gmm_em_1d",
    oracle=f"""
WITH RECURSIVE
h AS (
  SELECT CAST(floor(value * 10.0) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
bl AS (
  SELECT list(struct_pack(x := b / 10.0, n := n) ORDER BY b) AS bins,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(n * b) AS BIGINT) AS sb,
         CAST(SUM(n * b * b) AS BIGINT) AS sbb
  FROM h
),
init AS (
  SELECT bins, nn,
         CAST(sb AS DOUBLE) / nn / 10.0 AS mean,
         greatest((CAST(sbb AS DOUBLE) / nn
          - (CAST(sb AS DOUBLE) / nn) * (CAST(sb AS DOUBLE) / nn))
           / 100.0, {_GMM_VMIN}) AS var
  FROM bl
),
it(k, w1, mu1, v1, mu2, v2) AS (
  SELECT 0, CAST(0.5 AS DOUBLE),
         mean - sqrt(var) / 2.0, var,
         mean + sqrt(var) / 2.0, var
  FROM init
  UNION ALL
  SELECT k + 1,
         {_GMM_N1} / ({_GMM_N1} + {_GMM_N2}),
         {_GMM_S1} / {_GMM_N1},
         greatest({_GMM_Q1} / {_GMM_N1}
                  - ({_GMM_S1} / {_GMM_N1}) * ({_GMM_S1} / {_GMM_N1}),
                  {_GMM_VMIN}),
         {_GMM_S2} / {_GMM_N2},
         greatest({_GMM_Q2} / {_GMM_N2}
                  - ({_GMM_S2} / {_GMM_N2}) * ({_GMM_S2} / {_GMM_N2}),
                  {_GMM_VMIN})
  FROM it, bl WHERE k < {_GMM_STEPS}
),
fin AS (SELECT * FROM it WHERE k = {_GMM_STEPS})
SELECT CAST(1 AS BIGINT) AS component,
       floor(w1 * 1000000.0) / 1000000.0 AS weight_q6,
       floor(mu1 * 1000000.0) / 1000000.0 AS mu_q6,
       floor(sqrt(v1) * 1000000.0) / 1000000.0 AS sigma_q6
FROM fin
UNION ALL
SELECT CAST(2 AS BIGINT),
       floor((1.0 - w1) * 1000000.0) / 1000000.0,
       floor(mu2 * 1000000.0) / 1000000.0,
       floor(sqrt(v2) * 1000000.0) / 1000000.0
FROM fin
""",
    tags=("ml", "stats", "iterative"),
)
def ml_gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian-mixture EM on the event-value
    distribution — the classic unsupervised density split (bimodal
    latency/revenue populations) and the engine's EM-family entry
    beside k-means (hard assignment) and the Kalman filter (linear-
    Gaussian state): {_GMM_STEPS} expectation–maximization rounds where
    responsibilities r(x) = w₁φ₁/(w₁φ₁+w₂φ₂) reweight the per-bin
    moment sums. The scale mechanism: values collapse ONCE to a
    bounded deci-unit histogram (the corpus is never rescanned), and
    every EM round is a handful of sequential folds over that sorted
    bins array on one row — identical IEEE trees on both engines, with
    the responsibility expression written once and reused verbatim.
    Init is moment-matched (means ±σ/2 around the sample mean, sample
    variance, equal weights) from exact int64 sums; a variance floor
    ({_GMM_VMIN}) guards collapse on degenerate inputs; floor-q6
    outputs."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.floor(F.col("value") * 10.0).cast("long").alias("b")
    ).agg(F.count("*").cast("long").alias("n"))
    h = h.localCheckpoint(eager=False)
    bl = h.agg(
        F.array_sort(
            F.collect_list(
                F.struct((F.col("b") / 10.0).alias("x"), F.col("n").alias("n"))
            )
        ).alias("bins"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("n") * F.col("b")).cast("long").alias("sb"),
        F.sum(F.col("n") * F.col("b") * F.col("b")).cast("long").alias("sbb"),
    )
    mean = F.col("sb").cast("double") / F.col("nn") / 10.0
    var = (
        F.col("sbb").cast("double") / F.col("nn")
        - (F.col("sb").cast("double") / F.col("nn"))
        * (F.col("sb").cast("double") / F.col("nn"))
    ) / 100.0
    bins = F.col("bins")

    def fsum(fn):
        return F.aggregate(bins, F.lit(0.0), lambda p, t: p + fn(t))

    def resp(st, t):
        w1, mu1, v1, mu2, v2 = (st[i] for i in range(5))
        num = (
            w1
            * F.exp(-(t["x"] - mu1) * (t["x"] - mu1) / (2.0 * v1))
            / F.sqrt(v1)
        )
        den = num + (
            (1.0 - w1)
            * F.exp(-(t["x"] - mu2) * (t["x"] - mu2) / (2.0 * v2))
            / F.sqrt(v2)
        )
        return num / den

    def step(st, _):
        n1 = fsum(lambda t: t["n"] * resp(st, t))
        s1 = fsum(lambda t: t["n"] * resp(st, t) * t["x"])
        q1 = fsum(lambda t: t["n"] * resp(st, t) * t["x"] * t["x"])
        n2 = fsum(lambda t: t["n"] * (1.0 - resp(st, t)))
        s2 = fsum(lambda t: t["n"] * (1.0 - resp(st, t)) * t["x"])
        q2 = fsum(
            lambda t: t["n"] * (1.0 - resp(st, t)) * t["x"] * t["x"]
        )
        return F.array(
            n1 / (n1 + n2),
            s1 / n1,
            F.greatest(
                q1 / n1 - (s1 / n1) * (s1 / n1), F.lit(_GMM_VMIN)
            ),
            s2 / n2,
            F.greatest(
                q2 / n2 - (s2 / n2) * (s2 / n2), F.lit(_GMM_VMIN)
            ),
        )

    # Floor the INIT variance too (round-7 ADVICE item 3): a corpus
    # whose values all land in one deci-unit bin gives sample var=0, so
    # step-1 responsibilities would compute exp(-x/0)/sqrt(0) → NaN on
    # both engines identically (the oracle can't see it).
    varf = F.greatest(var, F.lit(_GMM_VMIN))
    init = F.array(
        F.lit(0.5),
        mean - F.sqrt(varf) / 2.0,
        varf,
        mean + F.sqrt(varf) / 2.0,
        varf,
    )
    fin = bl.select(
        F.aggregate(
            F.array_repeat(F.lit(0), _GMM_STEPS), init, step
        ).alias("st")
    )
    out = fin.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("component"),
                    F.col("st")[0].alias("w"),
                    F.col("st")[1].alias("mu"),
                    F.col("st")[2].alias("v"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("component"),
                    (1.0 - F.col("st")[0]).alias("w"),
                    F.col("st")[3].alias("mu"),
                    F.col("st")[4].alias("v"),
                ),
            )
        ).alias("c")
    )
    return out.select(
        F.col("c.component").alias("component"),
        (F.floor(F.col("c.w") * 1_000_000.0) / 1_000_000.0).alias(
            "weight_q6"
        ),
        (F.floor(F.col("c.mu") * 1_000_000.0) / 1_000_000.0).alias(
            "mu_q6"
        ),
        (F.floor(F.sqrt(F.col("c.v")) * 1_000_000.0) / 1_000_000.0).alias(
            "sigma_q6"
        ),
    )


# --- Isotonic calibration (closed-form minimax over a bounded bin grid) ------

_ISO_BINS = 64  # 8-unit-wide value bins, capped — grid bounded by design


@register(
    "ml_isotonic_calibration",
    oracle=f"""
WITH pts AS (
  SELECT LEAST(CAST(floor(value / 8.0) AS BIGINT), {_ISO_BINS - 1}) AS b,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
bins AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
  FROM pts GROUP BY b
),
cum AS (
  SELECT b, n, p,
         CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cn,
         CAST(SUM(p) OVER (ORDER BY b) AS BIGINT) AS cp
  FROM bins
),
triples AS (
  SELECT i.b AS bi, j.b AS bj, k.b AS bk,
         (k.cp - j.cp + j.p) * 1.0 / (k.cn - j.cn + j.n) AS slope
  FROM cum i JOIN cum j ON j.b <= i.b JOIN cum k ON k.b >= i.b
),
inner_min AS (
  SELECT bi, bj, MIN(slope) AS ms FROM triples GROUP BY bi, bj
),
iso AS (
  SELECT bi AS b, MAX(ms) AS yhat FROM inner_min GROUP BY bi
)
SELECT c.b AS score_bin, c.n, c.p AS n_pos,
       floor(CAST(c.p AS DOUBLE) / c.n * 1000000.0) / 1000000.0
         AS raw_rate_q6,
       floor(i.yhat * 1000000.0) / 1000000.0 AS iso_rate_q6
FROM cum c JOIN iso i ON c.b = i.b
""",
    tags=("ml", "analytics"),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression of the purchase rate against the event-value
    score — the nonparametric calibrator beside `ml_platt_calibration`
    (sigmoid fit) and `ml_calibration_ece` (the diagnostic): fit the
    best MONOTONE rate curve by the minimax closed form of
    pool-adjacent-violators, ŷᵢ = max_{j≤i} min_{k≥i} mean(y over bins
    j..k) (Ayer et al. 1955 — identical output to the sequential PAVA
    stack without the sequential stack). The scale mechanism: the
    corpus collapses to a {_ISO_BINS}-bin histogram in ONE shuffle
    (exact int64 n/p per bin + prefix sums), and the minimax runs over
    the bounded (j ≤ i ≤ k) triple grid (≤ {_ISO_BINS}³/2 tiny rows) —
    corpus-size-independent, like the tokenizer's vocab-table rounds.
    Range means are single divisions of exact ints, so min/max over
    them is order-insensitive; outputs floored at 1e-6. The fitted
    curve is non-decreasing by construction (pinned by an invariant
    test)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.least(
            F.floor(F.col("value") / 8.0).cast("long"), F.lit(_ISO_BINS - 1)
        ).alias("b"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = pts.groupBy("b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    wc = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    cum = bins.select(
        "b",
        "n",
        "p",
        F.sum("n").over(wc).cast("long").alias("cn"),
        F.sum("p").over(wc).cast("long").alias("cp"),
    ).localCheckpoint(eager=False)
    i, j, k = cum.alias("i"), cum.alias("j"), cum.alias("k")
    triples = (
        i.join(j, F.col("j.b") <= F.col("i.b"))
        .join(k, F.col("k.b") >= F.col("i.b"))
        .select(
            F.col("i.b").alias("bi"),
            F.col("j.b").alias("bj"),
            (
                (F.col("k.cp") - F.col("j.cp") + F.col("j.p"))
                * 1.0
                / (F.col("k.cn") - F.col("j.cn") + F.col("j.n"))
            ).alias("slope"),
        )
    )
    inner_min = triples.groupBy("bi", "bj").agg(F.min("slope").alias("ms"))
    iso = inner_min.groupBy("bi").agg(F.max("ms").alias("yhat"))
    return cum.join(iso, cum.b == iso.bi).select(
        F.col("b").alias("score_bin"),
        "n",
        F.col("p").alias("n_pos"),
        (
            F.floor(F.col("p").cast("double") / F.col("n") * 1_000_000.0)
            / 1_000_000.0
        ).alias("raw_rate_q6"),
        (F.floor(F.col("yhat") * 1_000_000.0) / 1_000_000.0).alias(
            "iso_rate_q6"
        ),
    )


# --- Split-conformal prediction interval --------------------------------------

_CONF_ALPHA_PCT = 10  # 90% target coverage


@register(
    "ml_conformal_interval",
    oracle="""
WITH v AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         event_id % 2 = 0 AS is_train
  FROM events
),
fit AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt,
         CAST(SUM(cents) AS BIGINT) AS sxt
  FROM v WHERE is_train GROUP BY event_type
),
cal AS (
  SELECT v.event_type, abs(v.cents * f.nt - f.sxt) AS nd,
         f.nt
  FROM v JOIN fit f USING (event_type) WHERE NOT v.is_train
),
rk AS (
  SELECT event_type, nd, nt,
         CAST(row_number() OVER (PARTITION BY event_type
           ORDER BY nd, nt) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nc
  FROM cal
),
q AS (
  SELECT event_type, nc,
         CAST(MAX(CASE WHEN r = CAST(ceil((nc + 1) * 0.9) AS BIGINT)
                       THEN nd END) AS BIGINT) AS q_nd,
         CAST(MAX(nt) AS BIGINT) AS nt
  FROM rk GROUP BY event_type, nc
)
SELECT q.event_type, q.nc AS n_calibration,
       floor(CAST(q.q_nd AS DOUBLE) / q.nt / 100.0 * 1000000.0)
         / 1000000.0 AS qhat_q6,
       CAST((SELECT COUNT(*) FROM cal c
             WHERE c.event_type = q.event_type AND c.nd <= q.q_nd)
         AS BIGINT) AS n_covered
FROM q
WHERE ceil((q.nc + 1) * 0.9) <= q.nc
""",
    tags=("ml", "analytics", "stats"),
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for event values — the
    distribution-free uncertainty wrapper every production model needs:
    fit a point predictor on the train split (per-type mean over even
    event ids), take the ⌈(n+1)(1−α)⌉-th order statistic of absolute
    calibration residuals (odd ids), and μ ± q̂ then covers ≥ 90% of
    future draws with NO distributional assumption (Vovk; Lei et al.).
    Exactness: residual COMPARISON runs entirely in integers —
    |x − Σ/n| ranks identically to |n·x − Σ| — so the order statistic
    is an exact int64 rank window (the Grubbs trick applied to
    quantiles); q̂ converts to value units with one double division.
    Scale: one pass fits the 5-row moment table (broadcast back), one
    per-type rank window over the calibration half, coverage is an
    exact integer count. Groups too small for the ceil rank excluded
    exactly on both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 2 == 0).alias("is_train"),
    )
    fit = (
        v.filter("is_train")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("nt"),
            F.sum("cents").cast("long").alias("sxt"),
        )
    )
    cal = (
        v.filter(~F.col("is_train"))
        .join(F.broadcast(fit), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") * F.col("nt") - F.col("sxt")).alias("nd"),
            "nt",
        )
        .localCheckpoint(eager=False)
    )
    wr = W.partitionBy("event_type").orderBy("nd", "nt")
    wa = W.partitionBy("event_type")
    rk = cal.select(
        "event_type",
        "nd",
        "nt",
        F.row_number().over(wr).cast("long").alias("r"),
        F.count("*").over(wa).cast("long").alias("nc"),
    )
    q = rk.groupBy("event_type", "nc").agg(
        F.max(
            F.when(
                F.col("r") == F.ceil((F.col("nc") + 1) * 0.9).cast("long"),
                F.col("nd"),
            )
        )
        .cast("long")
        .alias("q_nd"),
        F.max("nt").cast("long").alias("nt"),
    )
    cov = (
        cal.join(F.broadcast(q.select("event_type", "q_nd")), "event_type")
        .filter(F.col("nd") <= F.col("q_nd"))
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_covered"))
    )
    return (
        q.filter(F.ceil((F.col("nc") + 1) * 0.9) <= F.col("nc"))
        .join(cov, "event_type")
        .select(
            "event_type",
            F.col("nc").alias("n_calibration"),
            (
                F.floor(
                    F.col("q_nd").cast("double")
                    / F.col("nt")
                    / 100.0
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("qhat_q6"),
            "n_covered",
        )
    )


# --- Quantile regression (exact integer pinball grid) --------------------------

_QR_TAU10 = 9  # tau = 0.9, scaled by 10 so pinball loss is integer
_QR_SLOPES = 21  # b = (i - 10) * 10 cents/hour, i in 0..20
_QR_ICEPTS = 20  # a = j * 1000 cents (0..190 value units), j in 0..19


@register(
    "ml_quantile_regression_grid",
    oracle=f"""
WITH cells AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
         CAST(floor(value) AS BIGINT) AS cb,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT (i.i - 10) * 10 AS b, j.j * 1000 AS a
  FROM (SELECT unnest(range(0, {_QR_SLOPES})) AS i) i,
       (SELECT unnest(range(0, {_QR_ICEPTS})) AS j) j
),
loss AS (
  SELECT g.a, g.b,
         CAST(SUM(c.n * CASE
           WHEN (c.cb * 100 + 50) - (g.a + g.b * c.h) > 0
           THEN {_QR_TAU10} * ((c.cb * 100 + 50) - (g.a + g.b * c.h))
           ELSE (g.a + g.b * c.h) - (c.cb * 100 + 50) END) AS BIGINT)
           AS l10,
         CAST(SUM(c.n) AS BIGINT) AS nn
  FROM grid g, cells c GROUP BY g.a, g.b
),
best AS (SELECT min([l10, a, b]) AS w, MAX(nn) AS nn FROM loss)
SELECT {_QR_TAU10} / 10.0 AS tau,
       w[3] / 100.0 AS slope_per_hour,
       w[2] / 100.0 AS intercept,
       floor(CAST(w[1] AS DOUBLE) / (10.0 * 100.0 * nn) * 1000000.0)
         / 1000000.0 AS pinball_mean_q6,
       nn AS n
FROM best
""",
    tags=("ml", "analytics", "stats"),
)
def ml_quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression (τ=0.9) of event value on hour-of-day by
    exact grid search over a bounded (slope, intercept) lattice — the
    tail-behavior companion to `ml_ols_normal_eq` (mean) and
    `ml_isotonic_calibration` (monotone rate): minimize the pinball
    loss Σ ρ_τ(y − a − b·h). The entire computation is INTEGER
    arithmetic: the corpus collapses to a bounded (hour × value-bin)
    histogram in one shuffle; with τ=0.9 the loss scales by 10 into
    ints (9·r⁺ + r⁻), residuals are exact cents, and the per-combo
    sums + argmin (min-struct with (a, b) tiebreak) never touch a
    float until the final display divisions. Grid×cells is
    corpus-size-independent (~{_QR_SLOPES * _QR_ICEPTS} combos × bin
    cells); at 100 TB only the histogram pass sees data."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.hour("ts").cast("long").alias("h"),
        F.floor(F.col("value")).cast("long").alias("cb"),
    ).agg(F.count("*").cast("long").alias("n"))
    grid = (
        spark.range(_QR_SLOPES)
        .select(((F.col("id") - 10) * 10).alias("b"))
        .crossJoin(spark.range(_QR_ICEPTS).select((F.col("id") * 1000).alias("a")))
    )
    full = grid.crossJoin(F.broadcast(cells))
    y = F.col("cb") * 100 + 50
    pred = F.col("a") + F.col("b") * F.col("h")
    r = y - pred
    loss10 = F.when(r > 0, _QR_TAU10 * r).otherwise(pred - y)
    per = full.groupBy("a", "b").agg(
        F.sum(F.col("n") * loss10).cast("long").alias("l10"),
        F.sum("n").cast("long").alias("nn"),
    )
    best = per.agg(
        F.min(F.struct("l10", "a", "b")).alias("w"),
        F.max("nn").cast("long").alias("nn"),
    )
    return best.select(
        F.lit(_QR_TAU10 / 10.0).alias("tau"),
        (F.col("w.b") / 100.0).alias("slope_per_hour"),
        (F.col("w.a") / 100.0).alias("intercept"),
        (
            F.floor(
                F.col("w.l10").cast("double")
                / (10.0 * 100.0 * F.col("nn"))
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("pinball_mean_q6"),
        F.col("nn").alias("n"),
    )


# --- Cohen's kappa + Matthews correlation ---------------------------------------

_KM_THRESH = _ECE_SMAX // 2  # decision threshold on the shared hash score


@register(
    "ml_kappa_mcc",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST('0x' || substr(md5('{_AUC_SALT}'
                    || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
                   % {_AUC_NOISE}
                 + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN {_AUC_LIFT} ELSE 0 END >= {_KM_THRESH}
              THEN 1 ELSE 0 END AS yh
  FROM orders
),
c AS (
  SELECT CAST(SUM(y * yh) AS BIGINT) AS tp,
         CAST(SUM((1 - y) * yh) AS BIGINT) AS fp,
         CAST(SUM(y * (1 - yh)) AS BIGINT) AS fn,
         CAST(SUM((1 - y) * (1 - yh)) AS BIGINT) AS tn
  FROM b
)
SELECT tp, fp, fn, tn,
       floor(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) * 1000000.0)
         / 1000000.0 AS accuracy_q6,
       floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) * 1000000.0)
         / 1000000.0 AS f1_q6,
       floor(CAST(2 * (tp * tn - fp * fn) AS DOUBLE)
             / CAST((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) AS DOUBLE)
             * 1000000.0) / 1000000.0 AS kappa_q6,
       floor(CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                    * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
             * 1000000.0) / 1000000.0 AS mcc_q6
FROM c
""",
    tags=("ml", "stats"),
)
def ml_kappa_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded-classifier agreement scorecard — Cohen's kappa
    (chance-corrected accuracy) and the Matthews correlation
    coefficient (the binary-confusion Pearson phi), plus accuracy and
    F1, at the fixed decision threshold smax/2 on the deterministic
    hash-score model shared with `ml_auc_roc`/`ml_calibration_ece`.
    AUC ranks threshold-free; kappa/MCC grade the DEPLOYED cutoff, and
    MCC is the one of the four that stays honest under class
    imbalance. The entire query is ONE map-side-combined reduce to a
    single confusion row of exact int64 counts; kappa's numerator
    2(tp·tn − fp·fn) and denominator are exact int64 (counts ≤ ~1.5e4
    at sf0.01; the products stay under 9.2e18 up to ~3e9 rows — past
    that, keep counts exact and form the products in doubles exactly
    as written), and each metric is one late float division, floor-q6.
    Scale shape: no join, no window, one partial+final aggregate."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    s = (
        F.expr(
            f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
            "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            f" % {_AUC_NOISE}"
        )
        + F.when(is_pos, _AUC_LIFT).otherwise(0)
    )
    b = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        F.when(s >= _KM_THRESH, 1).otherwise(0).alias("yh"),
    )
    c = b.agg(
        F.sum(F.col("y") * F.col("yh")).cast("long").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yh")).cast("long").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yh"))).cast("long").alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("yh"))).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    kap_num = (2 * (tp * tn - fp * fn)).cast("double")
    kap_den = ((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)).cast("double")
    mcc_den = F.sqrt(
        (tp + fp).cast("double")
        * (tp + fn).cast("double")
        * (tn + fp).cast("double")
        * (tn + fn).cast("double")
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        (
            F.floor(
                F.try_divide((tp + tn).cast("double"), tp + fp + fn + tn) * 1e6
            )
            / 1e6
        ).alias("accuracy_q6"),
        (
            F.floor(
                F.try_divide((2 * tp).cast("double"), 2 * tp + fp + fn) * 1e6
            )
            / 1e6
        ).alias("f1_q6"),
        (F.floor(F.try_divide(kap_num, kap_den) * 1e6) / 1e6).alias("kappa_q6"),
        (
            F.floor(
                F.try_divide((tp * tn - fp * fn).cast("double"), mcc_den) * 1e6
            )
            / 1e6
        ).alias("mcc_q6"),
    )


# --- Brier score + Murphy decomposition ------------------------------------------


@register(
    "ml_brier_decomposition",
    oracle=f"""
WITH b AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_AUC_SALT}' || CAST(o_orderkey AS VARCHAR)),
              1, 8) AS BIGINT) % {_AUC_NOISE}
           + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN {_AUC_LIFT} ELSE 0 END AS s
  FROM orders
),
g AS (SELECT CAST(s * {_ECE_BINS} // {_ECE_SMAX} AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(s) AS BIGINT) AS ss,
             CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS ss2,
             CAST(SUM(CAST(s AS BIGINT) * y) AS BIGINT) AS ssy
      FROM b GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(sy) AS BIGINT) AS syt,
             CAST(SUM(ss2) AS BIGINT) AS ss2t, CAST(SUM(ss) AS BIGINT) AS sst,
             CAST(SUM(ssy) AS BIGINT) AS ssyt
      FROM g),
pb AS (
  SELECT CAST(SUM(CAST(floor(
           (CAST(t.nn AS DOUBLE) * sy - CAST(n AS DOUBLE) * t.syt)
           * (CAST(t.nn AS DOUBLE) * sy - CAST(n AS DOUBLE) * t.syt)
           / (CAST(n AS DOUBLE) * CAST(t.nn AS DOUBLE) * t.nn)
           * 1000000.0) AS BIGINT)) AS BIGINT) AS res_micro,
         CAST(SUM(CAST(floor(
           (CAST({_ECE_SMAX} AS DOUBLE) * sy - CAST(ss AS DOUBLE))
           * (CAST({_ECE_SMAX} AS DOUBLE) * sy - CAST(ss AS DOUBLE))
           / (CAST(n AS DOUBLE) * {_ECE_SMAX} * {_ECE_SMAX})
           * 1000000.0) AS BIGINT)) AS BIGINT) AS rel_micro
  FROM g CROSS JOIN t
)
SELECT t.nn AS n,
       floor((CAST(t.ss2t AS DOUBLE)
              - 2.0 * {_ECE_SMAX} * t.ssyt
              + CAST({_ECE_SMAX} AS DOUBLE) * {_ECE_SMAX} * t.syt)
             / (CAST(t.nn AS DOUBLE) * {_ECE_SMAX} * {_ECE_SMAX})
             * 1000000.0) / 1000000.0 AS brier_q6,
       floor(CAST(t.syt AS DOUBLE) * (t.nn - t.syt)
             / (CAST(t.nn AS DOUBLE) * t.nn) * 1000000.0) / 1000000.0
         AS uncertainty_q6,
       floor(CAST(pb.rel_micro AS DOUBLE)) / 1000000.0 AS reliability_q6,
       floor(CAST(pb.res_micro AS DOUBLE)) / 1000000.0 AS resolution_q6
FROM t CROSS JOIN pb
""",
    tags=("ml", "stats"),
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition (uncertainty −
    resolution + reliability, computed over the same 10 probability
    bins as `ml_calibration_ece`) for the shared hash-score model read
    as p = s/smax. The exactness ladder: the Brier numerator
    Σ(s − smax·y)² expands to Σs² − 2·smax·Σsy + smax²·Σy — THREE exact
    int64 power sums, one late division; uncertainty ȳ(1−ȳ) is exact
    ints; reliability Σ n_b(p̄_b−ȳ_b)²/N and resolution Σ n_b(ȳ_b−ȳ)²/N
    have per-bin rational terms with bin-local denominators, so each
    bin's term is evaluated in doubles (deterministic per bin — no
    cross-bin accumulation order exists yet), floored to integer
    micro-units, and summed as int64 — order-free on both engines, bias
    < bins·1e-6, the same per-cell-quantize discipline as
    `stats_cramers_v`. With forecasts binned (not constant per bin),
    BS = UNC − RES + REL + within-bin forecast variance; the residual
    is the generalized (Stephenson) within-bin term, not an error.
    Shape: one 10-bin map-side-combined histogram; nothing else."""
    o = load_table(spark, sf_dir, "orders")
    is_pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    b = o.select(
        F.when(is_pos, 1).otherwise(0).alias("y"),
        (
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AUC_SALT}', "
                "CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                f" % {_AUC_NOISE}"
            )
            + F.when(is_pos, _AUC_LIFT).otherwise(0)
        ).alias("s"),
    )
    g = b.groupBy(
        (F.col("s") * _ECE_BINS / F.lit(_ECE_SMAX)).cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("s").cast("long").alias("ss"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("ss2"),
        F.sum(F.col("s") * F.col("y")).cast("long").alias("ssy"),
    ).localCheckpoint(eager=False)  # feeds totals AND the per-bin terms
    t = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("sy").cast("long").alias("syt"),
        F.sum("ss2").cast("long").alias("ss2t"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum("ssy").cast("long").alias("ssyt"),
    )
    smax = float(_ECE_SMAX)
    nn_d = F.col("nn").cast("double")
    res_term = (
        (nn_d * F.col("sy") - F.col("n").cast("double") * F.col("syt"))
        * (nn_d * F.col("sy") - F.col("n").cast("double") * F.col("syt"))
        / (F.col("n").cast("double") * nn_d * F.col("nn"))
        * 1e6
    )
    rel_term = (
        (F.lit(smax) * F.col("sy") - F.col("ss").cast("double"))
        * (F.lit(smax) * F.col("sy") - F.col("ss").cast("double"))
        / (F.col("n").cast("double") * smax * smax)
        * 1e6
    )
    pb = g.crossJoin(F.broadcast(t)).agg(
        F.sum(F.floor(res_term).cast("long")).cast("long").alias("res_micro"),
        F.sum(F.floor(rel_term).cast("long")).cast("long").alias("rel_micro"),
    )
    return t.crossJoin(F.broadcast(pb)).select(
        F.col("nn").alias("n"),
        (
            F.floor(
                F.try_divide(
                    F.col("ss2t").cast("double")
                    - 2.0 * smax * F.col("ssyt")
                    + F.lit(smax) * smax * F.col("syt"),
                    F.col("nn").cast("double") * smax * smax,
                )
                * 1e6
            )
            / 1e6
        ).alias("brier_q6"),
        (
            F.floor(
                F.try_divide(
                    F.col("syt").cast("double") * (F.col("nn") - F.col("syt")),
                    F.col("nn").cast("double") * F.col("nn"),
                )
                * 1e6
            )
            / 1e6
        ).alias("uncertainty_q6"),
        (F.floor(F.col("rel_micro").cast("double")) / 1e6).alias(
            "reliability_q6"
        ),
        (F.floor(F.col("res_micro").cast("double")) / 1e6).alias(
            "resolution_q6"
        ),
    )


# --- linear-model SHAP attribution ----------------------------------------------


@register(
    "ml_linear_shap",
    oracle=f"""
WITH b AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2
  FROM lineitem
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM b
),
mad AS (
  SELECT CAST(SUM(c * abs(s.n * h.x1 - s.s1)) AS BIGINT) AS mad1_num
  FROM (SELECT x1, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1) h
  CROSS JOIN s
),
mad2 AS (
  SELECT CAST(SUM(c * abs(s.n * h.x2 - s.s2)) AS BIGINT) AS mad2_num
  FROM (SELECT x2, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1) h
  CROSS JOIN s
),
d AS (
  SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1,
         CAST(s2 AS DOUBLE) AS s2, CAST(s11 AS DOUBLE) AS s11,
         CAST(s12 AS DOUBLE) AS s12, CAST(s22 AS DOUBLE) AS s22,
         CAST(sy AS DOUBLE) AS sy, CAST(s1y AS DOUBLE) AS s1y,
         CAST(s2y AS DOUBLE) AS s2y,
         s.n AS n_rows, mad.mad1_num, mad2.mad2_num
  FROM s CROSS JOIN mad CROSS JOIN mad2
),
beta AS (
  SELECT n_rows, n, mad1_num, mad2_num,
         {_OLS_DET_1} / {_OLS_DET_A} AS b1,
         {_OLS_DET_2} / {_OLS_DET_A} AS b2
  FROM d
),
phi AS (
  SELECT n_rows, b1, b2,
         abs(b1) * CAST(mad1_num AS DOUBLE) / (n * n) AS m1,
         abs(b2) * CAST(mad2_num AS DOUBLE) / (n * n) AS m2
  FROM beta
)
SELECT CAST(n_rows AS BIGINT) AS n,
       floor(b1 * 10000.0) / 1000000.0 AS beta1_q6,
       floor(b2 * 10000.0) / 1000000.0 AS beta2_q6,
       floor(m1 * 10000.0) / 1000000.0 AS mean_abs_phi1_q6,
       floor(m2 * 10000.0) / 1000000.0 AS mean_abs_phi2_q6,
       floor(m1 / (m1 + m2) * 1000000.0) / 1000000.0 AS share1_q6,
       floor(m2 / (m1 + m2) * 1000000.0) / 1000000.0 AS share2_q6
FROM phi
""",
    tags=("ml", "stats"),
)
def ml_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP attribution for the linear model fitted by
    `ml_ols_normal_eq` (price ~ quantity + discount): for a linear
    model the Shapley value has the closed form φⱼ(x) = βⱼ(xⱼ − x̄ⱼ),
    so GLOBAL feature importance E|φⱼ| = |βⱼ|·E|xⱼ − x̄ⱼ| — and the
    mean absolute deviation folds to exact integers via the
    cross-multiplied form Σ c(x)·|n·x − Σx| / n² over the feature's
    (bounded-domain) value histogram, no float mean ever subtracted.
    This is the model-explanation step a feature pipeline runs after
    the fit: share1/share2 columns are the attribution mix. β comes
    from the SAME shared determinant text as the OLS op; every input
    to a double expression is an exact int64. Shape: one Gram-matrix
    reduce + two map-side-combined value histograms joined to the
    broadcast 1-row totals — the fact table is scanned once per
    histogram family, nothing corpus-sized shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_quantity")).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
    ).localCheckpoint(eager=False)  # feeds the Gram reduce AND both histograms
    s = b.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    ).localCheckpoint(eager=False)  # broadcast totals reused by both MADs
    h1 = b.groupBy("x1").agg(F.count("*").cast("long").alias("c"))
    h2 = b.groupBy("x2").agg(F.count("*").cast("long").alias("c"))
    mad1 = h1.crossJoin(F.broadcast(s)).agg(
        F.sum(
            F.col("c") * F.abs(F.col("n") * F.col("x1") - F.col("s1"))
        )
        .cast("long")
        .alias("mad1_num")
    )
    mad2 = h2.crossJoin(F.broadcast(s)).agg(
        F.sum(
            F.col("c") * F.abs(F.col("n") * F.col("x2") - F.col("s2"))
        )
        .cast("long")
        .alias("mad2_num")
    )
    d = (
        s.crossJoin(F.broadcast(mad1))
        .crossJoin(F.broadcast(mad2))
        .select(
            F.col("n").alias("n_rows"),
            *[
                F.col(k).cast("double").alias(k)
                for k in ("s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
            ],
            F.col("n").cast("double").alias("n"),
            "mad1_num",
            "mad2_num",
        )
    )
    beta = d.select(
        "n_rows",
        "n",
        "mad1_num",
        "mad2_num",
        F.expr(f"try_divide(({_OLS_DET_1}), ({_OLS_DET_A}))").alias("b1"),
        F.expr(f"try_divide(({_OLS_DET_2}), ({_OLS_DET_A}))").alias("b2"),
    )
    m1 = F.abs(F.col("b1")) * F.col("mad1_num").cast("double") / (
        F.col("n") * F.col("n")
    )
    m2 = F.abs(F.col("b2")) * F.col("mad2_num").cast("double") / (
        F.col("n") * F.col("n")
    )
    return beta.select(
        F.col("n_rows").alias("n"),
        (F.floor(F.col("b1") * 1e4) / 1e6).alias("beta1_q6"),
        (F.floor(F.col("b2") * 1e4) / 1e6).alias("beta2_q6"),
        (F.floor(m1 * 1e4) / 1e6).alias("mean_abs_phi1_q6"),
        (F.floor(m2 * 1e4) / 1e6).alias("mean_abs_phi2_q6"),
        (F.floor(F.try_divide(m1, m1 + m2) * 1e6) / 1e6).alias("share1_q6"),
        (F.floor(F.try_divide(m2, m1 + m2) * 1e6) / 1e6).alias("share2_q6"),
    )


# --- 2-state HMM forward log-likelihood ---------------------------------------
# All parameters are BINARY-EXACT literals (eighths/quarters), so both
# engines fold identical IEEE trees: prior pi = (1/2, 1/2) at t=0 with
# the transition applied BEFORE each emission (the "prior then step"
# forward variant — base case and recursive case share one formula).
_HMM_P00, _HMM_P01 = 0.875, 0.125  # calm -> calm / calm -> burst
_HMM_P10, _HMM_P11 = 0.25, 0.75    # burst -> calm / burst -> burst
_HMM_B0_1, _HMM_B1_1 = 0.25, 0.75  # P(above-average day | state)


@register(
    "ml_hmm_forward",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
tot AS (SELECT event_type, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM daily GROUP BY 1),
d AS (
  SELECT daily.event_type,
         CASE WHEN daily.y * tot.nd > tot.sy THEN 1 ELSE 0 END AS obs,
         CAST(row_number() OVER (PARTITION BY daily.event_type
                                 ORDER BY daily.day) AS BIGINT) AS rn
  FROM daily JOIN tot ON tot.event_type = daily.event_type
),
f AS (
  SELECT event_type, rn,
         ((0.5 * {_HMM_P00} + 0.5 * {_HMM_P10})
          * (CASE WHEN obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
         / (((0.5 * {_HMM_P00} + 0.5 * {_HMM_P10})
             * (CASE WHEN obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
            + ((0.5 * {_HMM_P01} + 0.5 * {_HMM_P11})
               * (CASE WHEN obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END)))
           AS a0,
         ((0.5 * {_HMM_P01} + 0.5 * {_HMM_P11})
          * (CASE WHEN obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END))
         / (((0.5 * {_HMM_P00} + 0.5 * {_HMM_P10})
             * (CASE WHEN obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
            + ((0.5 * {_HMM_P01} + 0.5 * {_HMM_P11})
               * (CASE WHEN obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END)))
           AS a1,
         ln(((0.5 * {_HMM_P00} + 0.5 * {_HMM_P10})
             * (CASE WHEN obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
            + ((0.5 * {_HMM_P01} + 0.5 * {_HMM_P11})
               * (CASE WHEN obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END)))
           AS ll
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.rn,
         ((f.a0 * {_HMM_P00} + f.a1 * {_HMM_P10})
          * (CASE WHEN d.obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
         / (((f.a0 * {_HMM_P00} + f.a1 * {_HMM_P10})
             * (CASE WHEN d.obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
            + ((f.a0 * {_HMM_P01} + f.a1 * {_HMM_P11})
               * (CASE WHEN d.obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END))),
         ((f.a0 * {_HMM_P01} + f.a1 * {_HMM_P11})
          * (CASE WHEN d.obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END))
         / (((f.a0 * {_HMM_P00} + f.a1 * {_HMM_P10})
             * (CASE WHEN d.obs = 1 THEN {_HMM_B0_1} ELSE {1 - _HMM_B0_1} END))
            + ((f.a0 * {_HMM_P01} + f.a1 * {_HMM_P11})
               * (CASE WHEN d.obs = 1 THEN {_HMM_B1_1} ELSE {1 - _HMM_B1_1} END))),
         f.ll + ln(((f.a0 * {_HMM_P00} + f.a1 * {_HMM_P10})
                    * (CASE WHEN d.obs = 1 THEN {_HMM_B0_1}
                            ELSE {1 - _HMM_B0_1} END))
                   + ((f.a0 * {_HMM_P01} + f.a1 * {_HMM_P11})
                      * (CASE WHEN d.obs = 1 THEN {_HMM_B1_1}
                              ELSE {1 - _HMM_B1_1} END)))
  FROM f JOIN d ON d.event_type = f.event_type AND d.rn = f.rn + 1
)
SELECT f.event_type, tot.nd AS n_days,
       floor(f.ll * 1000000.0) / 1000000.0 AS loglik_q6,
       floor(f.a1 * 1000000.0) / 1000000.0 AS p_burst_final_q6
FROM f JOIN tot ON tot.event_type = f.event_type AND f.rn = tot.nd
""",
    tags=("ml", "timeseries", "iterative"),
)
def ml_hmm_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM forward algorithm (2 hidden states: calm/burst, binary
    observation: was the day's event count above the per-type average
    — an exact integer predicate y·n > Σy) over each event type's
    daily series, with per-step normalization and accumulated
    log-likelihood — the probabilistic regime model that generalizes
    the threshold detectors (`ts_peak_detect`, `ts_alert_hysteresis`)
    with persistence priors, and the forward half of Baum-Welch.
    Emits per type: series length, total log-likelihood, and the final
    filtered burst probability. Execution grammar is `ts_kalman_1d`'s:
    one map-side-combined daily aggregate, each type's series collapses
    to a single sorted array row, and the forward recursion is a
    struct-accumulator fold inside one codegen row — state never
    leaves the row, so 100 TB changes only the aggregate stage. The
    oracle walks the same recursion as a RECURSIVE CTE; all parameters
    are binary-exact literals and every update expression is repeated
    verbatim on both engines (no reads through just-assigned fields),
    so the IEEE trees match and the value hash is exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("y"))
    tot = daily.groupBy("event_type").agg(
        F.sum("y").cast("long").alias("sy"), F.count("*").cast("long").alias("nd")
    )
    d = daily.join(tot, "event_type").select(
        "event_type",
        "day",
        "nd",
        F.when(F.col("y") * F.col("nd") > F.col("sy"), 1)
        .otherwise(0)
        .alias("obs"),
    )
    pts = d.groupBy("event_type", "nd").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day").alias("day"), F.col("obs").alias("obs")))
        ).alias("pts")
    )
    init = F.struct(
        F.lit(0.5).alias("a0"), F.lit(0.5).alias("a1"), F.lit(0.0).alias("ll")
    )

    def step(acc, pt):
        e0 = F.when(pt["obs"] == 1, F.lit(_HMM_B0_1)).otherwise(
            F.lit(1 - _HMM_B0_1)
        )
        e1 = F.when(pt["obs"] == 1, F.lit(_HMM_B1_1)).otherwise(
            F.lit(1 - _HMM_B1_1)
        )
        a0p = (acc["a0"] * _HMM_P00 + acc["a1"] * _HMM_P10) * e0
        a1p = (acc["a0"] * _HMM_P01 + acc["a1"] * _HMM_P11) * e1
        return F.struct(
            (a0p / (a0p + a1p)).alias("a0"),
            (a1p / (a0p + a1p)).alias("a1"),
            (acc["ll"] + F.ln(a0p + a1p)).alias("ll"),
        )

    fin = pts.select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.aggregate("pts", init, step).alias("st"),
    )
    return fin.select(
        "event_type",
        "n_days",
        (F.floor(F.col("st.ll") * 1e6) / 1e6).alias("loglik_q6"),
        (F.floor(F.col("st.a1") * 1e6) / 1e6).alias("p_burst_final_q6"),
    )
