"""Graph analytics over derived relational graphs.

Most queries here read one of two graphs from the graph substrate in
`queries/_helpers.py` (ARCHITECTURE.md "Graph substrate"): the co-order
parts graph (`co_order_edges`) or the event-type transition graph
(`event_transitions`, also read by `events_markov`). PageRank and HITS
on the transition graph are fully oracle-checked: the iteration is
unrolled to a fixed depth so DuckDB can replay it exactly, and every
floating sum is an ordered fold (sorted contribution lists), keeping
the scores bit-identical across engines.

Scale note: after the single big shuffle (the transition count over
events), the transition graph itself is |event types|² cells — all
subsequent joins are tiny-table math. For a billion-node graph the
same unrolled dataflow holds (join-aggregate per iteration,
localCheckpoint between rounds, exactly what
`dedup_cluster_components` does); only the ordered-fold determinism
trick would yield to a plain SUM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from odns_dataimporter_spark.queries._helpers import co_order_edges, event_transitions
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

_DAMP = 0.85
_ITERS = 3

_PR_ORACLE = """
WITH seq AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src
  FROM events),
e AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE src IS NOT NULL GROUP BY src, dst),
o AS (SELECT src, CAST(SUM(n) AS BIGINT) AS out_n FROM e GROUP BY src),
ew AS (
  SELECT e.src, e.dst, CAST(e.n AS DOUBLE) / CAST(o.out_n AS DOUBLE) AS w
  FROM e JOIN o USING (src)),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
pr0 AS (SELECT node, 1e0 / CAST(nn.n AS DOUBLE) AS pr
        FROM nodes CROSS JOIN nn),
{iters}
SELECT node, floor(pr * 1e6) / 1e6 AS pr_q6 FROM pr{k}
"""

_PR_ITER = """
c{i} AS (
  SELECT ew.dst, list(ew.w * p.pr ORDER BY ew.src) AS cs
  FROM ew JOIN pr{j} p ON ew.src = p.node GROUP BY ew.dst),
pr{i} AS (
  SELECT n.node,
         1.5e-1 / CAST(nn.n AS DOUBLE)
           + 8.5e-1 * COALESCE(list_reduce(c{i}.cs, (x, y) -> x + y), 0e0)
           AS pr
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON n.node = c{i}.dst)"""


def _pr_oracle() -> str:
    iters = ",".join(
        _PR_ITER.format(i=i, j=i - 1) for i in range(1, _ITERS + 1)
    )
    return _PR_ORACLE.format(iters=iters, k=_ITERS)


@register("graph_pagerank", oracle=_pr_oracle(), tags=("graph", "stats"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 unrolled iterations) on the
    event-type transition graph: pr_{k+1}(v) = 0.15/N + 0.85·Σ_u
    pr_k(u)·w(u→v), with edge weights the row-normalized transition
    counts. Per-node contribution sums are src-ordered folds so both
    engines add in the same sequence — an iterative graph algorithm
    under a full value-hash oracle. One events-scale shuffle (the
    transition count); every iteration afterwards joins tables of
    |event types| rows."""
    ev = load_table(spark, sf_dir, "events")
    e = event_transitions(ev).groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n")
    )
    # The graph is bounded at |event types|² cells BY CONSTRUCTION, so
    # after the one events-scale shuffle it is broadcast-sized. Gather
    # it into a single row (two 1-row aggregates — still executor-side,
    # no driver action; test_scalar_folding_runs_no_driver_action pins
    # that) and run out-degree normalization plus the unrolled
    # iterations as higher-order array folds in ONE task: the
    # join-per-iteration formulation spent ~18 sequential
    # broadcast/shuffle materialization sync points at the
    # job-scheduling floor for tables of 6 rows (the r3 bench
    # regression). Out-degree sums are integer folds (order-free,
    # exact); per node the contribution fold scans the (dst, src)-
    # sorted edge array, so double additions happen in src-ascending
    # order — bit-identical to the oracle's list(... ORDER BY src)
    # fold. For a graph whose node set ISN'T bounded (billion-node),
    # use the join-iterate + localCheckpoint discipline of
    # dedup_cluster_components instead — that shape is pinned there.
    edges1 = e.agg(
        F.sort_array(F.collect_list(F.struct("dst", "src", "n"))).alias("en")
    )
    nodes1 = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .agg(F.sort_array(F.collect_list("node")).alias("ns"))
    )
    g = edges1.crossJoin(nodes1)
    out_n = lambda s: F.aggregate(  # noqa: E731 — exact integer sum
        F.filter(F.col("en"), lambda x: x["src"] == s),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["n"],
    )
    g = g.withColumn(
        "edges",
        F.transform(
            "en",
            lambda x: F.struct(
                x["dst"].alias("dst"),
                x["src"].alias("src"),
                (x["n"].cast("double") / out_n(x["src"]).cast("double")).alias("w"),
            ),
        ),
    )
    n_nodes = F.size("ns").cast("double")
    g = g.withColumn("pr0", F.transform("ns", lambda _: F.lit(1.0) / n_nodes))
    for i in range(_ITERS):
        prev = F.col(f"pr{i}")
        contrib = lambda v: F.aggregate(  # noqa: E731 — fold in src order
            F.filter(F.col("edges"), lambda ed: ed["dst"] == v),
            F.lit(0.0),
            lambda acc, ed: acc
            + ed["w"]
            * F.element_at(
                prev, F.array_position(F.col("ns"), ed["src"]).cast("int")
            ),
        )
        g = g.withColumn(
            f"pr{i + 1}",
            F.transform(
                "ns",
                lambda v: F.lit(0.15) / n_nodes + F.lit(_DAMP) * contrib(v),
            ),
        )
    z = g.select(
        F.explode(F.arrays_zip(F.col("ns"), F.col(f"pr{_ITERS}"))).alias("z")
    )
    return z.select(
        F.col("z.ns").alias("node"),
        (F.floor(F.col(f"z.pr{_ITERS}") * 1e6) / 1e6).alias("pr_q6"),
    )


@register(
    "graph_bfs_hops",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), bi AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), seeds AS (
  SELECT DISTINCT 'c' || c_custkey AS node FROM customer WHERE c_nationkey = 0
), bfs(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT b.dst, bfs.hop + 1 FROM bfs JOIN bi b ON b.src = bfs.node
  WHERE bfs.hop < 2
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM bfs GROUP BY node
""",
    tags=("graph", "iterative"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (2 hops) over the customer—supplier bipartite
    trade graph, seeded from nation 0's customers: minimum hop count
    per reachable node.

    Spark side is frontier-deduplicated iteration — each round expands
    ONLY the newly discovered frontier, dedups it, and anti-joins the
    visited set before unioning, with localCheckpoint truncating the
    lineage per round. The oracle is DuckDB's recursive CTE, which
    enumerates every PATH and min-aggregates at the end — fine at
    oracle scale, explosive at 100 TB (path count grows with the
    product of degrees); the frontier formulation's per-round work is
    bounded by |frontier| x avg-degree, which is why distributed BFS
    engines (Pregel and descendants) all dedup frontiers.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    edges = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), "o_custkey").alias("src"),
            F.concat(F.lit("s"), "l_suppkey").alias("dst"),
        )
        .distinct()
    )
    bi = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    visited = (
        cust.filter(F.col("c_nationkey") == 0)
        .select(F.concat(F.lit("c"), "c_custkey").alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("node")
    for hop in (1, 2):
        nxt = (
            frontier.join(bi, frontier.node == bi.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt.withColumn("hop", F.lit(hop))).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return visited.select("node", F.col("hop").cast("long").alias("hop"))


@register(
    "graph_triangle_count",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT COUNT(*) AS t
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
vs AS (SELECT COUNT(DISTINCT x) AS nv FROM (
  SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs))
SELECT CAST(vs.nv AS BIGINT) AS n_vertices,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST(tri.t AS BIGINT) AS n_triangles
FROM vs, tri
""",
    tags=("graph", "stats"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count over the parts-co-ordered-together graph
    (parts are adjacent iff some order contains both) — the classic
    graph-statistics kernel, implemented with DEGREE ORIENTATION, the
    standard 100 TB trick: relabel vertices by (degree, id) rank and
    orient every edge low→high, so each triangle is counted exactly
    once at its lowest-rank corner and — critically — the wedge join
    fans out from the LOW-degree endpoint, bounding the candidate
    count by Σ_v min(deg)² instead of Σ_v deg² (a celebrity node with
    10^6 neighbors never becomes a 10^12-wedge hub). The oracle is the
    orientation-free id-ordered formulation — same count, proving the
    optimization doesn't change semantics. Shuffles: edge distinct,
    degree agg, rank window, two wedge-closing equi joins — all keyed,
    no cartesian."""
    li = load_table(spark, sf_dir, "lineitem")
    # CHECKPOINTED: edges feed the degree aggregate, the rank joins,
    # and (transitively) both wedge sides — without the checkpoint this
    # plan re-derived the lineitem scan 36 times (scan-count audit,
    # round 5); with it, once
    edges = co_order_edges(li).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    rk = deg.select(
        "x", F.row_number().over(W.orderBy("d", "x")).alias("r")
    )
    e = (
        edges.join(rk.withColumnRenamed("x", "u").withColumnRenamed("r", "ru"), "u")
        .join(rk.withColumnRenamed("x", "v").withColumnRenamed("r", "rv"), "v")
        .select(
            F.least("ru", "rv").alias("s"), F.greatest("ru", "rv").alias("t")
        )
        # e feeds the adjacency aggregate AND both closing joins
        .localCheckpoint(eager=False)
    )
    # Adjacency-intersection closing (not a wedge materialization): at
    # sf0.1 the oriented graph has 1.2M edges but 41M wedges — shuffling
    # 41M wedge rows into the closing join thrashes small heaps, while
    # shipping each out-neighborhood (bounded by ~2·sqrt(E) after
    # orientation; max 97 here) alongside its edges keeps the shuffle at
    # E rows and the per-task memory at one adjacency array. The
    # triangle through oriented corner s<t<u is found exactly once, on
    # edge (s,t), as u ∈ N+(s) ∩ N+(t).
    # adj feeds both closing-join sides and the alias'd expression ids
    # defeat exchange reuse, so this aggregate is planned twice — but a
    # lazy localCheckpoint here measured 25-75% SLOWER (A/B r10): the
    # sole downstream consumer is one immediate aggregate, so the
    # duplicated subtree is pure pipelined CPU while the checkpoint
    # pays a block-store round trip. Contrast
    # graph_clustering_coefficient, whose checkpointed adj wins.
    adj = e.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
    tri = (
        e.join(adj.select(F.col("s").alias("s"), F.col("nbrs").alias("ns")), "s")
        .join(
            adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nt")), "t"
        )
        .agg(
            # coalesce: SUM over an empty closing join is NULL while
            # the oracle's COUNT formulation gives 0 — an edge-free
            # graph has zero triangles on both engines
            F.coalesce(
                F.sum(F.size(F.array_intersect("ns", "nt"))), F.lit(0)
            )
            .cast("long")
            .alias("n_triangles")
        )
    )
    nv = deg.agg(F.count("*").cast("long").alias("n_vertices"))
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        nv.crossJoin(ne)
        .crossJoin(tri)
        .select("n_vertices", "n_edges", "n_triangles")
    )


_LP_HUB_CAP = 64  # drop common-neighbor hubs with degree > this
_LP_TOPN = 20


@register(
    "graph_link_prediction",
    oracle=f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
adj AS (
  SELECT u AS c, v AS x FROM edges UNION ALL SELECT v, u FROM edges
),
deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY c),
thin AS (
  SELECT a.c, a.x FROM adj a JOIN deg ON deg.c = a.c
  WHERE deg.d <= {_LP_HUB_CAP}
),
cn AS (
  SELECT a.x AS u, b.x AS v, CAST(COUNT(*) AS BIGINT) AS common_n
  FROM thin a JOIN thin b ON a.c = b.c AND a.x < b.x
  GROUP BY a.x, b.x
),
cand AS (
  SELECT cn.u, cn.v, cn.common_n, du.d AS deg_u, dv.d AS deg_v
  FROM cn
  JOIN deg du ON du.c = cn.u JOIN deg dv ON dv.c = cn.v
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = cn.u AND e.v = cn.v)
)
SELECT u, v, common_n, deg_u, deg_v,
       floor(CAST(common_n AS DOUBLE)
             / (deg_u + deg_v - common_n) * 1e9) / 1e9 AS jaccard_q9
FROM cand
ORDER BY common_n DESC, u, v
LIMIT {_LP_TOPN}
""",
    tags=("graph", "stats"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors / Jaccard link prediction over the
    parts-co-ordered-together graph: for part pairs NOT yet bought in
    one order, how many shared co-purchase partners do they have —
    the classic "customers who bought X also bought Y" candidate
    generator, and the same wedge-join kernel recommendation pipelines
    run at item-catalog scale.

    Scale shape: wedge enumeration is inherently Σ_c deg(c)² over
    common-neighbor hubs c, so hubs with degree > 64 are DROPPED from
    the wedge side (the standard stop-node rule: a part in half the
    orders predicts nothing — same reason similarity mining drops
    stopwords — and the cap bounds every c's fan-out at 64²; the hub
    nodes still contribute to the degree denominators). Existing edges
    are removed by a LEFT ANTI join on the pair key; the top-20 cut is
    a TakeOrderedAndProject, never a global sort. Determinism:
    counts/degrees are integers, ties order by (u, v); Jaccard is one
    terminal division, floored at 1e-9."""
    li = load_table(spark, sf_dir, "lineitem")
    # checkpointed (see graph_triangle_count — this plan re-derived the
    # lineitem scan 26 times before)
    edges = co_order_edges(li).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("c"), F.col("v").alias("x")).unionAll(
        edges.select(F.col("v").alias("c"), F.col("u").alias("x"))
    )
    # |parts|-row degree table, three diverging consumers (hub filter +
    # both score joins) — checkpoint once, broadcast everywhere
    deg = (
        adj.groupBy("c")
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    thin = adj.join(F.broadcast(deg), "c").filter(
        F.col("d") <= _LP_HUB_CAP
    ).select("c", "x")
    ta, tb = thin.alias("ta"), thin.alias("tb")
    cn = (
        ta.join(tb, (F.col("ta.c") == F.col("tb.c")) & (F.col("ta.x") < F.col("tb.x")))
        .groupBy(F.col("ta.x").alias("u"), F.col("tb.x").alias("v"))
        .agg(F.count("*").cast("long").alias("common_n"))
    )
    cand = cn.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("c").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("c").alias("v"), F.col("d").alias("deg_v"))
    scored = (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "common_n",
            "deg_u",
            "deg_v",
            (
                F.floor(
                    F.col("common_n").cast("double")
                    / (F.col("deg_u") + F.col("deg_v") - F.col("common_n"))
                    * 1e9
                )
                / 1e9
            ).alias("jaccard_q9"),
        )
    )
    return scored.orderBy(F.col("common_n").desc(), "u", "v").limit(_LP_TOPN)


@register(
    "graph_assortativity",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), bi AS (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM bi GROUP BY u),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(du.d) AS BIGINT) AS sx, CAST(SUM(dv.d) AS BIGINT) AS sy,
         CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy,
         CAST(SUM(du.d * du.d) AS BIGINT) AS sxx,
         CAST(SUM(dv.d * dv.d) AS BIGINT) AS syy
  FROM bi JOIN deg du ON du.node = bi.u JOIN deg dv ON dv.node = bi.v
)
SELECT n,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) * 1e9) / 1e9
         AS assortativity_q9
FROM s
""",
    tags=("graph", "stats"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-order parts graph: the Pearson
    correlation of endpoint degrees over all directed edges — positive
    means hubs prefer hubs (social-network shape), negative means
    hub-and-spoke (catalog shape). Six exact int64 sufficient
    statistics from one pass over the degree-joined edge list, then the
    same floored Pearson expression as `ts_autocorr_lag`. Shuffles:
    edge distinct, degree aggregate, two node-keyed degree joins — all
    equi-keyed; degrees join the edge list, never materializing
    anything bigger than |edges|."""
    li = load_table(spark, sf_dir, "lineitem")
    # checkpointed (see graph_triangle_count — 12 redundant lineitem
    # scans before); the |parts|-row degree table broadcasts into both
    # endpoint joins
    pairs = co_order_edges(li).localCheckpoint(eager=False)
    bi = pairs.unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = bi.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    joined = (
        bi.join(
            F.broadcast(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")),
            "u",
        )
        .join(
            F.broadcast(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")),
            "v",
        )
    )
    s = joined.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("du").cast("long").alias("sx"),
        F.sum("dv").cast("long").alias("sy"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sxy"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return s.select("n", (F.floor(num / den * 1e9) / 1e9).alias("assortativity_q9"))


# ---------------------------------------------------------------------------
# Declarative recursion: Spark 4 ships WITH RECURSIVE (SPARK-24497),
# so bounded-depth reachability can be stated as ONE SQL text instead
# of a driver-side frontier loop. This op runs the IDENTICAL query
# text on both engines — the strongest parity statement for the
# recursive-SQL surface, complementing graph_bfs_hops (which pins the
# scalable frontier-dedup formulation of the same problem).

_REACH_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS dst
    FROM events) WHERE dst IS NOT NULL AND src <> dst
),
reach(node, depth) AS (
  SELECT CAST('signup' AS STRING) AS node, 0 AS depth
  UNION ALL
  SELECT e.dst, r.depth + 1 FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 3
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS min_depth FROM reach GROUP BY node
"""


@register("sql_recursive_cte", oracle=_REACH_SQL, tags=("sql", "graph", "iterative"))
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-depth reachability from 'signup' over the distinct
    event-type transition graph via WITH RECURSIVE — executed verbatim
    by Spark 4's recursive-CTE planner and by DuckDB. The recursion is
    depth-bounded (< 3) over the |event-types|-node graph, so the
    UNION ALL path enumeration stays tiny; unbounded-scale traversal
    belongs to the frontier-dedup formulation in graph_bfs_hops (each
    round bounded by |frontier| × avg-degree) — this op pins the SQL
    SURFACE, that one pins the 100 TB plan."""
    from odns_dataimporter_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REACH_SQL)


# ---------------------------------------------------------------------------
# Label propagation communities (Raghavan et al. 2007), synchronous
# variant with a deterministic tie rule, 2 unrolled rounds.

_LPA_ROUNDS = 2


def _lpa_labels(bi: DataFrame) -> DataFrame:
    """(node, lbl) after `_LPA_ROUNDS` synchronous rounds over the
    symmetric (src, dst) edge list `bi`, from identity labels: each
    node takes the mode of its neighbors' labels, ties to the smallest
    label. The oracle's rounds are `_lpa_round_sql`."""
    # round 1 (identity labels): mode-of-neighbor-labels = min neighbor
    nl = bi.groupBy(F.col("dst").alias("node")).agg(F.min("src").alias("lbl"))
    for _ in range(_LPA_ROUNDS - 1):
        # the label table is |nodes|-sized (≪ |edges| — here |parts|),
        # so broadcast it: the 2.4M-row edge side never re-shuffles for
        # the join. For a graph whose node set outgrows the broadcast
        # threshold, drop the hint and let AQE pick the shuffle join.
        counts = (
            bi.join(F.broadcast(nl.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        # argmax(count, tie -> min label) as a map-side-combined
        # min-struct aggregate: same result as the row_number window,
        # without the per-node sort (2 rounds x 1.2M-edge counts made
        # the window the bench hotspot: 3.7s -> see PERFORMANCE.md)
        nl = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("lbl"))
        )
    return nl


def _lpa_round_sql(r: int) -> str:
    return f"""
nl{r + 1} AS (
  SELECT n.node, COALESCE(m.lbl, n.lbl) AS lbl
  FROM nl{r} n LEFT JOIN (
    SELECT dst AS node, lbl FROM (
      SELECT b.dst, l.lbl, COUNT(*) AS c,
             row_number() OVER (PARTITION BY b.dst
                                ORDER BY COUNT(*) DESC, l.lbl) AS rn
      FROM bi b JOIN nl{r} l ON l.node = b.src
      GROUP BY b.dst, l.lbl) WHERE rn = 1) m ON m.node = n.node)"""


@register(
    "graph_label_propagation",
    oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
bi AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
nl0 AS (SELECT DISTINCT src AS node, src AS lbl FROM bi),"""
    + ",".join(_lpa_round_sql(r) for r in range(_LPA_ROUNDS))
    + f"""
SELECT CAST(lbl AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM nl{_LPA_ROUNDS} GROUP BY lbl
""",
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-order parts graph: every node adopts the MODE of its neighbors'
    labels (tie → smallest label — the determinism LPA normally lacks
    and the reason vanilla LPA can't be oracle-checked), 2 unrolled
    rounds from identity labels, reported as community → size.

    Per round (`_lpa_labels`): one neighbor join keyed on src, one
    (node, label) count aggregate, one per-node min-struct argmax — all
    equi-keyed, no driver iteration state. Two result-preserving
    specializations vs the oracle's general formulation: (1) edges
    come from ONE lineitem shuffle (`co_order_edges`: collect_set per
    order, ordered pairs expanded executor-side over ~4-element arrays)
    instead of a two-scan self-join; (2) round 1 from IDENTITY labels
    degenerates to min(neighbor) — every (dst, lbl) count is exactly 1
    over a distinct symmetric edge set, so argmax-with-min-tiebreak IS
    the min — and the coalesce joins drop because the node set is by
    construction the dst set of bi. The round count is fixed at
    `_LPA_ROUNDS` = 2 on both engines, with no convergence check; only
    the edge list is checkpointed, no round is. Running to label-change
    convergence would need a per-round checkpoint (the
    dedup_cluster_components discipline) and a new oracle. The
    synchronous mode update is exactly GraphFrames' LPA formulation."""
    e = co_order_edges(load_table(spark, sf_dir, "lineitem"))
    # materialize the edge list once (localCheckpoint): without it every
    # round's join re-derives the pair expansion through lineage. Under
    # AQE eager=False still runs the shuffle stages below the checkpoint
    # while the DataFrame is built (ARCHITECTURE.md, plan-reuse item 2)
    bi = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=False)
    )
    return _lpa_labels(bi).groupBy("lbl").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_node"),
    ).select(F.col("lbl").cast("long").alias("community"), "n_members", "min_node")


_CC_TOPN = 20  # report the local coefficient for the top-N hubs


@register(
    "graph_clustering_coefficient",
    oracle=f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
adj AS (
  SELECT u AS c, v AS x FROM edges UNION ALL SELECT v, u FROM edges
),
deg AS (SELECT c AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
tri AS (
  SELECT a1.c AS node, CAST(COUNT(*) AS BIGINT) AS t
  FROM adj a1 JOIN adj a2
    ON a2.c = a1.c AND a1.x < a2.x
  JOIN edges e ON e.u = a1.x AND e.v = a2.x
  GROUP BY 1
),
top AS (
  SELECT deg.node, deg.d, CAST(COALESCE(tri.t, 0) AS BIGINT) AS t
  FROM deg LEFT JOIN tri USING (node)
  ORDER BY deg.d DESC, deg.node ASC LIMIT {_CC_TOPN}
)
SELECT node, d AS degree, t AS triangles,
       floor(CAST(2 * t AS DOUBLE) / (CAST(d AS DOUBLE) * (d - 1))
             * 1000000.0) / 1000000.0 AS local_cc_q6
FROM top WHERE d >= 2 ORDER BY degree DESC, node ASC
""",
    tags=("graph", "stats"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (2·t_v / d_v(d_v−1)) for the top-20
    hubs of the parts-co-ordered graph — the per-node refinement of
    `graph_triangle_count`'s global tally, and the standard "is this hub
    a community or a star" diagnostic. Scale mechanism (r11, VERDICT r10
    item 1 — rewritten hub-local): the output needs triangle counts for
    exactly 20 nodes, so the whole all-node machinery (degree-rank map,
    oriented edge list, adjacency arrays, the closing join that OOM'd
    16 g/28 g heaps and needed 56 g at the sf10 rehearsal) is REPLACED by
    computing only what is asked (guide §1.2/§8): (1) hubs =
    deterministic global top-20 of the degree table by (degree, node) —
    TakeOrderedAndProject, no global window; (2) each hub's neighborhood
    via two broadcast joins of the 20-row hub table against the edge
    list; (3) t_hub = |edges inside N(hub)| — the candidate neighbor
    PAIRS (Σ C(deg_hub, 2), bounded by 20·max_deg², ~600k rows at sf1
    where max_deg=245 grows ~logarithmically in this co-order graph)
    broadcast back against the id-ordered edge list in ONE streaming
    pass — no E-row shuffle, no arrays, nothing quadratic in the corpus.
    The oracle is unchanged (all-node wedge join + top-N), proving
    hub-local counting preserves semantics exactly. At the ≥1M-node tier
    the E-row edge checkpoint stores DISK_ONLY so block storage cannot
    starve execution memory (measured r11: MEMORY_AND_DISK checkpoint
    blocks alone OOM'd a 16 g heap at sf10). Boundary: a
    celebrity-degree graph (max_deg² ≫ E) would inflate the pair set;
    for THIS op's co-order graph max_deg is sqrt-of-order-size bounded
    (222 at sf0.1 → 245 at sf1 → 276 at sf10)."""
    from odns_dataimporter_spark.size_hints import derived_rank_distributed

    big = derived_rank_distributed(sf_dir)
    ckpt_lvl = StorageLevel.DISK_ONLY if big else None
    li = load_table(spark, sf_dir, "lineitem")
    # feeds the degree aggregate, both neighborhood joins and the
    # closing scan (4 consumers)
    edges = co_order_edges(li).localCheckpoint(eager=False, storageLevel=ckpt_lvl)
    # both directions of every edge in ONE streamed projection over
    # the checkpoint: feeds the degree aggregate AND the neighborhood
    # join, so the E-row checkpoint is read 4 times per run instead
    # of 7: deg (while `hubs` is built), each side of the `pairs`
    # self-join of nbr, and the closing join. The two nbr sides share
    # no exchange; the final AQE plan of a write at sf0.001 reuses
    # only the hub broadcast. Each read is a multi-GB sequential disk
    # pass at the DISK_ONLY tier.
    stacked = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("e2")
    ).select(F.col("e2.a").alias("a"), F.col("e2.b").alias("b"))
    deg = stacked.groupBy(F.col("a").alias("x")).agg(
        F.count("*").cast("long").alias("d")
    )
    # deterministic top-N hubs; 20 rows, checkpointed so the two
    # consumers (neighborhood join + output) don't re-run the degree
    # aggregate each. Under AQE the degree aggregate's jobs run here,
    # while the DataFrame is built, not at the write.
    hubs = (
        deg.orderBy(F.desc("d"), F.asc("x"))
        .limit(_CC_TOPN)
        .localCheckpoint(eager=False)
    )
    # each hub's neighborhood: an edge contributes its OTHER endpoint
    # when one endpoint is a hub (a hub pair contributes to both
    # neighborhoods via the stacked directions).
    hu = hubs.select(F.col("x").alias("h"))
    nbr = stacked.join(hu, stacked.a == hu.h).select(
        "h", F.col("b").alias("n")
    )
    # candidate pairs inside each neighborhood, id-ordered to match
    # the edge list's u < v convention
    pairs = (
        nbr.withColumnRenamed("n", "n1")
        .join(nbr.withColumnRenamed("n", "n2"), "h")
        .filter(F.col("n1") < F.col("n2"))
    )
    # one streaming pass over the edge list closes every pair:
    # t_hub = |{(n1, n2) ∈ N(h)² : n1 < n2, (n1, n2) ∈ E}|
    tri_h = (
        edges.join(
            F.broadcast(pairs),
            (edges.u == pairs.n1) & (edges.v == pairs.n2),
        )
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("t"))
    )
    top = (
        hubs.select(F.col("x").alias("node"), "d")
        .join(F.broadcast(tri_h).withColumnRenamed("h", "node"), "node", "left")
        .select("node", "d", F.coalesce("t", F.lit(0)).cast("long").alias("t"))
    )
    return top.filter(F.col("d") >= 2).select(
        "node",
        F.col("d").alias("degree"),
        F.col("t").alias("triangles"),
        (
            F.floor(
                (2 * F.col("t")).cast("double")
                / (F.col("d").cast("double") * (F.col("d") - 1))
                * 1e6
            )
            / 1e6
        ).alias("local_cc_q6"),
    )


_KCORE_K = 3  # target core order
_KCORE_ROUNDS = 4  # fixed peel rounds (unrolled on both engines)


@register(
    "graph_kcore",
    oracle=f"""
WITH edges0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
{', '.join(
    f'''keep{r} AS (
  SELECT c AS node FROM (
    SELECT c, COUNT(*) AS d FROM (
      SELECT u AS c, v AS x FROM edges{r - 1}
      UNION ALL SELECT v, u FROM edges{r - 1}) a
    GROUP BY c) dd
  WHERE d >= {_KCORE_K}
),
edges{r} AS (
  SELECT e.u, e.v FROM edges{r - 1} e
  JOIN keep{r} ku ON ku.node = e.u
  JOIN keep{r} kv ON kv.node = e.v
)''' for r in range(1, _KCORE_ROUNDS + 1)
)}
SELECT * FROM (
{' UNION ALL '.join(
    f'''SELECT CAST({r} AS BIGINT) AS round,
       CAST((SELECT COUNT(*) FROM keep{r}) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges{r}) AS BIGINT) AS n_edges'''
    for r in range(1, _KCORE_ROUNDS + 1)
)})
ORDER BY round
""",
    tags=("graph", "stats"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition by iterative peeling over the
    parts-co-ordered graph — 4 FIXED peel rounds (remove every node with
    degree < 3, drop incident edges, repeat), reporting surviving
    node/edge counts per round: the classic community-core extraction
    that separates durable co-purchase structure from one-off order
    noise. The round count is bounded BY CONSTRUCTION (the
    `dedup_cluster_components` lesson: no unconditioned driver-side
    convergence loop) — each round is one degree aggregate + two
    semi-joins, all keyed on node id; a full peel at 100 TB runs
    O(degeneracy) rounds, and the fixed-round variant is the standard
    bounded-latency approximation whose monotone convergence (counts
    non-increasing, fixpoint detectable by equal consecutive rows) is
    pinned by a pytest invariant. Checkpoint per round caps lineage
    depth."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = co_order_edges(li).localCheckpoint(eager=False)
    out = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("c"))
            .unionAll(edges.select(F.col("v").alias("c")))
            .groupBy("c")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select(
            F.col("c").alias("node")
        ).localCheckpoint(eager=False)
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        out.append(
            keep.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(edges.agg(F.count("*").cast("long").alias("n_edges")))
            .select(
                F.lit(r).cast("long").alias("round"), "n_nodes", "n_edges"
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


@register(
    "graph_modularity",
    oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
bi AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
nl0 AS (SELECT DISTINCT src AS node, src AS lbl FROM bi),"""
    + ",".join(_lpa_round_sql(r) for r in range(_LPA_ROUNDS))
    + f"""
, lab AS (SELECT node, lbl FROM nl{_LPA_ROUNDS}),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
ec AS (
  SELECT lu.lbl, CAST(COUNT(*) AS BIGINT) AS e_c
  FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl
),
dc AS (
  SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS d_c
  FROM bi b JOIN lab l ON l.node = b.src GROUP BY l.lbl
),
terms AS (
  SELECT dc.lbl, CAST(4 * m.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c
                      AS BIGINT) AS num
  FROM dc LEFT JOIN ec ON ec.lbl = dc.lbl CROSS JOIN m
)
SELECT CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_communities,
       m.m AS n_edges,
       CAST(SUM(t.num) AS BIGINT) AS q_num,
       floor(CAST(SUM(t.num) AS DOUBLE)
             / (4.0 * CAST(m.m AS DOUBLE) * m.m) * 1000000.0) / 1000000.0
         AS modularity_q6
FROM terms t CROSS JOIN m GROUP BY m.m
""",
    tags=("graph", "stats"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the `graph_label_propagation` communities
    over the co-order parts graph — the quality score that tells you
    whether the propagation found structure or noise (Q≈0 random,
    Q>0.3 strong). EXACT end to end: Q = Σ_c (e_c/m − (d_c/2m)²)
    cross-multiplies to Σ_c (4m·e_c − d_c²) / (4m²) — per-community
    numerators are int64 (4m·e_c ≤ 4·|E|² needs DECIMAL(38) past
    ~10⁹ edges; document, don't guess), their sum is ONE
    order-free integer, and the ONLY float op is the final division.
    Labels replicate the LP op's deterministic 2-round schedule (mode
    with min-label ties), so both engines agree on every community.
    Shape: the LP rounds (keyed joins + min-struct argmax) plus one
    intra-community edge count and one degree-by-label aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    # feeds bi, m, and the ec join
    e = co_order_edges(li).localCheckpoint(eager=False)
    bi = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=False)
    )
    lab = _lpa_labels(bi).localCheckpoint(eager=False)  # feeds ec AND dc
    m = e.agg(F.count("*").cast("long").alias("m"))
    lu = lab.withColumnRenamed("node", "u").withColumnRenamed("lbl", "lu")
    lv = lab.withColumnRenamed("node", "v").withColumnRenamed("lbl", "lv")
    ec = (
        e.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("lbl"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    dc = (
        bi.join(F.broadcast(lab.withColumnRenamed("node", "src")), "src")
        .groupBy("lbl")
        .agg(F.count("*").cast("long").alias("d_c"))
    )
    terms = (
        dc.join(ec, "lbl", "left")
        .crossJoin(m)
        .select(
            (
                4 * F.col("m") * F.coalesce("e_c", F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("long")
            .alias("num")
        )
    )
    ncom = dc.agg(F.count("*").cast("long").alias("n_communities"))
    agg = terms.agg(F.sum("num").cast("long").alias("q_num"))
    return (
        ncom.crossJoin(F.broadcast(m))
        .crossJoin(agg)
        .select(
            "n_communities",
            F.col("m").alias("n_edges"),
            "q_num",
            (
                F.floor(
                    F.try_divide(
                        F.col("q_num").cast("double"),
                        4.0 * F.col("m").cast("double") * F.col("m"),
                    )
                    * 1e6
                )
                / 1e6
            ).alias("modularity_q6"),
        )
    )


# --- HITS hubs & authorities -------------------------------------------------

_HITS_ITERS = 2

_HITS_ORACLE_HEAD = """
WITH seq AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src
  FROM events),
e AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE src IS NOT NULL GROUP BY src, dst),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
h0 AS (SELECT node, 1e0 AS h FROM nodes),
"""

_HITS_ITER = """
a{i}r AS (
  SELECT e.dst AS node, list(CAST(e.n AS DOUBLE) * p.h ORDER BY e.src) AS cs
  FROM e JOIN h{j} p ON e.src = p.node GROUP BY e.dst),
a{i}u AS (
  SELECT n.node, COALESCE(list_reduce(a{i}r.cs, (x, y) -> x + y), 0e0) AS raw
  FROM nodes n LEFT JOIN a{i}r ON n.node = a{i}r.node),
a{i}s AS (SELECT list_reduce(list(raw ORDER BY node), (x, y) -> x + y) AS s
          FROM a{i}u),
a{i} AS (SELECT node,
                CASE WHEN (SELECT COUNT(*) FROM e) = 0 THEN 0e0
                     ELSE raw / s END AS a
         FROM a{i}u CROSS JOIN a{i}s),
h{i}r AS (
  SELECT e.src AS node, list(CAST(e.n AS DOUBLE) * p.a ORDER BY e.dst) AS cs
  FROM e JOIN a{i} p ON e.dst = p.node GROUP BY e.src),
h{i}u AS (
  SELECT n.node, COALESCE(list_reduce(h{i}r.cs, (x, y) -> x + y), 0e0) AS raw
  FROM nodes n LEFT JOIN h{i}r ON n.node = h{i}r.node),
h{i}s AS (SELECT list_reduce(list(raw ORDER BY node), (x, y) -> x + y) AS s
          FROM h{i}u),
h{i} AS (SELECT node,
                CASE WHEN (SELECT COUNT(*) FROM e) = 0 THEN 0e0
                     ELSE raw / s END AS h
         FROM h{i}u CROSS JOIN h{i}s)"""


def _hits_oracle() -> str:
    iters = ",".join(_HITS_ITER.format(i=i, j=i - 1) for i in range(1, _HITS_ITERS + 1))
    k = _HITS_ITERS
    return (
        _HITS_ORACLE_HEAD
        + iters
        + f"""
SELECT h.node,
       floor(h.h * 1e6) / 1e6 AS hub_q6,
       floor(a.a * 1e6) / 1e6 AS auth_q6
FROM h{k} h JOIN a{k} a ON a.node = h.node
"""
    )


@register("graph_hits", oracle=_hits_oracle(), tags=("graph", "iterative"))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) on the DIRECTED event-type
    transition graph, 2 full (authority, hub) rounds with sum
    normalization: a ∝ Σ_{u→v} n·h(u), h ∝ Σ_{u→v} n·a(v) — the
    directed complement to `graph_pagerank` (pagerank scores where
    walks END UP; HITS separates "feeds many good pages" from "is fed
    by many good hubs", which on a funnel graph distinguishes
    initiating event types from terminal ones). Same execution grammar
    as pagerank: the bounded |event types|² edge set is gathered into
    ONE row after the single events-scale shuffle, and every iteration
    is a higher-order array fold; determinism comes from fixed fold
    orders — authority contributions fold src-ascending, hub
    contributions dst-ascending, normalization sums node-ascending —
    bit-matching the oracle's list(... ORDER BY ...) folds. For an
    unbounded node set, switch to the join-per-iteration +
    localCheckpoint discipline (graph_bfs_hops / cluster_components
    pin that shape)."""
    ev = load_table(spark, sf_dir, "events")
    e = event_transitions(ev).groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n")
    )
    # (dst, src)-sorted array: filter(dst==v) folds src-ascending;
    # (src, dst)-sorted array: filter(src==u) folds dst-ascending.
    edges_a = e.agg(
        F.sort_array(F.collect_list(F.struct("dst", "src", "n"))).alias("ea")
    )
    edges_h = e.agg(
        F.sort_array(F.collect_list(F.struct("src", "dst", "n"))).alias("eh")
    )
    nodes1 = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .agg(F.sort_array(F.collect_list("node")).alias("ns"))
    )
    g = nodes1.crossJoin(edges_a).crossJoin(edges_h)
    g = g.withColumn("h0", F.transform("ns", lambda _: F.lit(1.0)))

    def _norm(col_name: str) -> F.Column:
        # node-ascending fold: ns is sorted, transform preserves order
        return F.aggregate(
            F.col(col_name), F.lit(0.0), lambda acc, x: acc + x
        )

    for i in range(1, _HITS_ITERS + 1):
        h_prev = F.col(f"h{i - 1}")
        a_raw = lambda v: F.aggregate(  # noqa: E731 — src-ascending fold
            F.filter(F.col("ea"), lambda ed: ed["dst"] == v),
            F.lit(0.0),
            lambda acc, ed: acc
            + ed["n"].cast("double")
            * F.element_at(
                h_prev, F.array_position(F.col("ns"), ed["src"]).cast("int")
            ),
        )
        g = g.withColumn(f"a{i}u", F.transform("ns", lambda v: a_raw(v)))
        # zero-edge guard (round-9 ADVICE): with an empty edge set every
        # raw score is 0.0 and the sum normalization would be 0/0 —
        # NaN on Spark, engine-dependent in the oracle. Gate on the
        # EXACT integer edge count (size of the gathered edge array)
        # and emit 0.0, mirrored by the oracle's COUNT(*) = 0 CASE.
        g = g.withColumn(
            f"a{i}",
            F.transform(
                f"a{i}u",
                lambda x: F.when(
                    F.size(F.col("ea")) == 0, F.lit(0.0)
                ).otherwise(x / _norm(f"a{i}u")),
            ),
        )
        a_cur = F.col(f"a{i}")
        h_raw = lambda u: F.aggregate(  # noqa: E731 — dst-ascending fold
            F.filter(F.col("eh"), lambda ed: ed["src"] == u),
            F.lit(0.0),
            lambda acc, ed: acc
            + ed["n"].cast("double")
            * F.element_at(
                a_cur, F.array_position(F.col("ns"), ed["dst"]).cast("int")
            ),
        )
        g = g.withColumn(f"h{i}u", F.transform("ns", lambda u: h_raw(u)))
        g = g.withColumn(
            f"h{i}",
            F.transform(
                f"h{i}u",
                lambda x: F.when(
                    F.size(F.col("eh")) == 0, F.lit(0.0)
                ).otherwise(x / _norm(f"h{i}u")),
            ),
        )
    k = _HITS_ITERS
    z = g.select(
        F.explode(
            F.arrays_zip(F.col("ns"), F.col(f"h{k}"), F.col(f"a{k}"))
        ).alias("z")
    )
    return z.select(
        F.col("z.ns").alias("node"),
        (F.floor(F.col(f"z.h{k}") * 1e6) / 1e6).alias("hub_q6"),
        (F.floor(F.col(f"z.a{k}") * 1e6) / 1e6).alias("auth_q6"),
    )
