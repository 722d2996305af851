#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver that records BENCH_r{N}.json keeps only the LAST 2000
characters of stdout and parses the JSON line from that tail — round
6's line (75 queries + per-query stats + the sf1 rehearsal section)
outgrew the buffer and the round recorded `parsed: null`. The stdout
line is therefore SIZE-BOUNDED (STDOUT_BUDGET chars): per-query
entries are emitted in HEADLINE order until the budget is reached;
`value` always totals ALL headliners; the complete payload (every
query, min/median stats, ingest, sf1 rehearsal ratios) is written to
BENCH_FULL.json beside this script.

Each run goes through `registry.run_query`: build, plan and a noop-sink
write (full computation, no driver collect). After one warmup run the
best warm write time is reported, so JVM/JIT and file-listing warmup
don't dominate at small scale. `value` and the stdout line stay
write-only so the cross-round trend keeps its meaning; BENCH_FULL.json
adds each query's build/plan/execute phases and job counts and the
end-to-end total `value_e2e`.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from dataclasses import asdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from odns_dataimporter_spark.registry import REGISTRY, all_queries, run_query
from odns_dataimporter_spark.session import get_spark

HEADLINE = [
    "agg_hash_group",
    "agg_distinct",
    "join_inner_equi",
    "join_broadcast",
    "join_asof",
    "window_rank",
    "window_frame_agg",
    "limit_topk",
    "dedup_exact",
    "dedup_near_minhash",
    "sim_topk_cosine",
    "text_tfidf",
    "stream_session",
    "odns_scan_csv_gz",
    "join_snowflake_q5",
    "sql_api_q6",
    "sql_api_q13",
    "sql_api_q19",
    "join_range_binned",
    "join_skew_salted",
    "dedup_embedding_cosine",
    "sim_knn_graph",
    "ts_gapfill_locf",
    "scd2_lookup",
    "graph_pagerank",
    "text_inverted_index",
    "dedup_simhash_hamming",
    "stats_psi_drift",
    "text_bigram_logprob",
    "events_attribution_touch",
    "events_rolling_distinct_7d",
    "ml_logreg_step",
    "text_boilerplate_ngrams",
    "text_dup_span_coverage",
    "text_importance_dsir",
    "dedup_semdedup",
    "tokenizer_bpe_merges",
    "llm_curation_pipeline_v2",
    "mining_assoc_rules",
    "graph_label_propagation",
    "events_survival_km",
    "stats_mann_whitney",
    "etl_shard_pack",
    "text_hapax_vocab",
    "embed_decontaminate_cosine",
    # round-6 additions
    "join_bloom_prefilter",
    "multimodal_resize",
    "ts_holt_linear",
    "text_strip_dup_spans",
    "dedup_sorted_neighborhood",
    "ml_tree_split_finder",
    "sim_maxsim_late_interaction",
    "ml_point_in_time_features",
    "text_bigram_kneser_ney",
    "events_cuped_adjustment",
    "text_bm25_topk",
    "ml_auc_roc",
    "ml_ols_normal_eq",
    "stats_fdr_bh",
    "embed_covariance",
    "profile_fk_inference",
    "ml_lift_gains",
    "ts_holt_winters",
    "ml_feature_hashing",
    "events_mde_power",
    "sample_balanced_classes",
    "ts_stl_decompose",
    "events_ltv_cohort",
    "ml_auc_pr",
    "ml_confusion_thresholds",
    "embed_pca_power",
    "sim_rrf_fusion",
    "embed_matryoshka_recall",
    "events_uplift_qini",
    "stats_randomization_test",
    # round-7 additions
    "ml_ndcg_at_k",
    "ml_mrr_recall_at_k",
    "ml_calibration_ece",
    "ml_bradley_terry_step",
    "ml_woe_iv",
    "profile_fd_violations",
    "embed_random_projection",
    "text_mattr_diversity",
    # round 7
    "tokenizer_wordpiece_encode",
    "dedup_paragraph_ccnet",
    "text_readability_smog",
    "events_msprt_sequential",
    "ts_kalman_1d",
    "events_gini_concentration",
    "ml_gbm_residual_step",
    "embed_pca_topk",
    # round-8 additions
    "stats_kendall_tau",
    "ml_isotonic_calibration",
    "ml_conformal_interval",
    "events_bass_diffusion",
    "dedup_lsh_bucket_stats",
    "stream_heavy_hitters",
    "stats_ljung_box",
    "stats_page_hinkley",
    # round-8 second half (waves K-L + JPEG)
    "events_shapley_attribution",
    "stats_cramers_v",
    "stats_jarque_bera",
    "ml_kappa_mcc",
    "ml_brier_decomposition",
    "ts_hurst_exponent",
    "ts_bollinger_bands",
    "graph_clustering_coefficient",
    "graph_kcore",
    "embed_hamming_topk",
    "text_heaps_law",
    "text_code_detect",
    "stats_cliffs_delta",
    "multimodal_jpeg_roundtrip",
    # round-8 closing wave: spatial family + nonparametric completions
    # + HITS / PMI / silhouette
    "geo_grid_rollup",
    "geo_nearest_hub",
    "geo_grid_knn",
    "stats_kruskal_wallis",
    "stats_wilcoxon_signed_rank",
    "graph_hits",
    "text_pmi_pairs",
    "embed_silhouette",
    "ts_variance_ratio",
    "ml_hmm_forward",
    "text_textrank_keywords",
    "geo_dbscan_grid",
    "stats_fisher_exact",
    # round-9 additions
    "sim_mmr_rerank",
    "multimodal_audio_autocorr",
    "dedup_semdedup_ann",
    "sim_ann_pq",
    # round-10 additions
    "dedup_semdedup_kmeans",
    # dedup_containment is deliberately NOT a headline entry: on this
    # synthetic corpus (31-token vocabulary) the op's OUTPUT is
    # near-quadratic by semantics (2.55M qualifying pairs from 5k docs
    # at sf0.1), so a bench row would measure result materialization,
    # not operator efficiency.
]

# Order for the BOUNDED driver-facing stdout line (full per-query data
# always lands in BENCH_FULL.json): a fixed 30-query common core first
# so the cross-round trend keeps its data points, then (r11) the 10
# slowest non-core headliners of the current run — the expensive tail
# is never invisible to the driver — then the REMAINING headliners
# ROTATED by round number in steps of a FIFTH of the list: every
# headliner gets a driver-recorded timing at least every 5 rounds
# (was 4; the 10 guaranteed slow slots displace ~10 rotation slots and
# the budget is the driver's fixed 2000-char tail, not ours to grow).
# The round is inferred from the BENCH_r{N}.json files the driver
# commits per round.
_CORE_N = 30
# a fifth (was a quarter before r11): the 10 always-printed slow slots
# cost ~10 rotation slots per round, so the provable full-coverage
# window moves from 4 to 5 rounds — the measured line capacity (~24
# rotation entries at realistic digit widths) covers step=21 with
# slack every round.
_ROTATION_STEP = (len(HEADLINE) - _CORE_N + 4) // 5


def _current_round() -> int:
    import glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def _print_order(
    round_no: int | None = None, timings: dict[str, float] | None = None
) -> list[str]:
    """Stdout entry order: fixed core, then (r11, VERDICT r10 item 8)
    the 10 SLOWEST non-core headliners of THIS run — so the expensive
    tail is driver-visible every round, not once per rotation cycle —
    then the fifth-rotated remainder. At realistic digit widths the
    line fits ~24 rotation entries after core+slowest-10, more than
    the step, so every headliner keeps a driver-visible slot within 5
    consecutive rounds (pinned in test_bench_contract.py)."""
    rnd = _current_round() if round_no is None else round_no
    core = HEADLINE[:_CORE_N]
    rest = HEADLINE[_CORE_N:]
    k = (rnd * _ROTATION_STEP) % len(rest) if rest else 0
    rotated = rest[k:] + rest[:k]
    if timings:
        slow10 = _slowest10(timings)
        rotated = slow10 + [n for n in rotated if n not in slow10]
    return list(core) + rotated


def _slowest10(timings: dict[str, float]) -> list[str]:
    rest = HEADLINE[_CORE_N:]
    return sorted((n for n in rest if n in timings), key=lambda n: -timings[n])[:10]


def stdout_coverage(line: str, timings: dict[str, float]) -> dict[str, int]:
    """How many rotated entries the stdout `line` kept after the core and
    the slowest 10 of `timings`, beside the rotation step. Every
    headliner gets a printed slot within 5 rounds only while
    ``rotation_kept >= rotation_step``; how many entries fit depends on
    the digit widths of the run, so main records both."""
    skip = set(HEADLINE[:_CORE_N]) | set(_slowest10(timings))
    kept = [n for n in json.loads(line)["queries"] if n not in skip]
    return {"rotation_step": _ROTATION_STEP, "rotation_kept": len(kept)}


PRINT_ORDER = _print_order()
assert sorted(PRINT_ORDER) == sorted(HEADLINE)


_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_scratch")
_INGEST_ROWS = 1_000_000

# Hard cap on the stdout JSON line: the recording driver buffers only
# the last 2000 chars of stdout; leave headroom for any stray trailing
# output (Spark shutdown logs go to stderr, but be safe).
STDOUT_BUDGET = 1850


def build_stdout_payload(
    timings: dict[str, float],
    ingest: dict,
    sf: float,
    order: list[str] | None = None,
    budget: int = STDOUT_BUDGET,
) -> str:
    """Serialize the driver-facing JSON line, bounded to `budget` chars.

    `value` totals ALL queries; the `queries` dict is filled in `order`
    (default: PRINT_ORDER) until adding the next entry would exceed
    the budget, and `queries_omitted` counts what spilled over (the
    full set always lives in BENCH_FULL.json). Times are rounded to
    2 decimals here — millisecond digits are below the measured
    machine-load noise floor anyway.
    """
    order = [n for n in (order or PRINT_ORDER) if n in timings]
    base = {
        "metric": "headline_queries_total_warm",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": {},
        "n_queries": len(order),
        "queries_omitted": len(order),
        "detail": "BENCH_FULL.json",
        "ingest": ingest,
        "sf": sf,
    }
    kept: dict[str, float] = {}
    for name in order:
        trial = dict(base, queries={**kept, name: round(timings[name], 2)})
        trial["queries_omitted"] = len(order) - len(trial["queries"])
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        kept[name] = round(timings[name], 2)
    base["queries"] = kept
    base["queries_omitted"] = len(order) - len(kept)
    if base["queries_omitted"] == 0:
        del base["queries_omitted"]
    return json.dumps(base, separators=(",", ":"))


def _ensure_ingest_fixture(path: str, n: int) -> None:
    """Generate (once, cached) a deterministic reference-shaped tcp scan
    CSV.gz: 18 ;-separated columns, strict-%f timestamps, float ASNs,
    ~2% empty fields — the same row shape the reference ingests, at a
    scale where throughput is meaningful."""
    if os.path.exists(path):
        return
    import numpy as np

    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.default_rng(20260813)

    def ips(n):
        a = rng.integers(1, 255, n)
        b = rng.integers(0, 255, n)
        c = rng.integers(0, 255, n)
        d = rng.integers(1, 255, n)
        return (
            a.astype("U3").astype(object)
            + "."
            + b.astype("U3").astype(object)
            + "."
            + c.astype("U3").astype(object)
            + "."
            + d.astype("U3").astype(object)
        )

    def ts(n):
        mm = np.char.zfill(rng.integers(0, 60, n).astype("U2"), 2).astype(object)
        ss = np.char.zfill(rng.integers(0, 60, n).astype("U2"), 2).astype(object)
        us = np.char.zfill(rng.integers(0, 1_000_000, n).astype("U6"), 6).astype(object)
        return "2000-06-15 12:" + mm + ":" + ss + "." + us

    countries = np.array(["DE", "US", "JP", "BR", "IN", ""], dtype=object)
    orgs = np.array(["ACME-NET", "EXAMPLE-ISP", "TEST-ORG", ""], dtype=object)
    rtypes = np.array(["correct", "incorrect", "timeout"], dtype=object)
    asn = rng.integers(100, 70000, n).astype("U6").astype(object) + ".0"
    prefix = ips(n) + "/24"
    cols = {
        "ip_request": ips(n),
        "ip_response": ips(n),
        "a_record": ips(n),
        "timestamp_request": ts(n),
        "timestamp_response": ts(n),
        "response_type": rng.choice(rtypes, n),
        "country_request": rng.choice(countries, n),
        "asn_request": asn,
        "prefix_request": prefix,
        "org_request": rng.choice(orgs, n),
        "country_response": rng.choice(countries, n),
        "asn_response": asn,
        "prefix_response": prefix,
        "org_response": rng.choice(orgs, n),
        "country_arecord": rng.choice(countries, n),
        "asn_arecord": asn,
        "prefix_arecord": prefix,
        "org_arecord": rng.choice(orgs, n),
    }
    import pandas as pd

    pd.DataFrame(cols).to_csv(path, sep=";", index=False, compression="gzip")


def _bench_ingest(spark) -> dict:
    """Time the full reference-parity ingest (csv.gz scan → strict
    typers → repartition → partitioned snapshot sink) and report
    rows/sec — the number directly comparable with the reference's
    per-batch throughput logs (BASELINE.md)."""
    from odns_dataimporter_spark.odns.ingest import ingest_file
    from odns_dataimporter_spark.odns.sinks import write_snapshot_partitioned

    src = os.path.join(_SCRATCH, "tcp_scan_2000-06-15.csv.gz")
    _ensure_ingest_fixture(src, _INGEST_ROWS)
    sink = os.path.join(_SCRATCH, "snapshot")

    def run() -> float:
        t0 = time.perf_counter()
        # stage-decompress (cached) so the scan is splittable — no
        # repartition: a shuffle of raw rows costs more than it buys
        df = ingest_file(
            spark, src, "tcp", "2000-06-15", stage_dir=os.path.join(_SCRATCH, "stage")
        )
        write_snapshot_partitioned(df, sink, rows=_INGEST_ROWS)
        return time.perf_counter() - t0

    run()  # warmup (also pays the one-time gunzip)
    # best-of-7 (r11, VERDICT r10 item 3 — was best-of-3): timings here
    # are bimodal under external machine load (~1.2s intrinsic,
    # occasional 8s outliers), and with only 3 samples one loaded
    # window put 318k rows/s in the round-10 driver artifact while the
    # same code measured 1.07M isolated. Seven cheap runs make the min
    # robust to a multi-second load burst; the median is recorded too
    # so the artifact shows the spread instead of hiding it.
    samples = sorted(run() for _ in range(7))
    sec = samples[0]
    return {
        "rows": _INGEST_ROWS,
        "sec": round(sec, 4),
        "rows_per_sec": int(_INGEST_ROWS / sec),
        "rows_per_sec_median": int(_INGEST_ROWS / samples[len(samples) // 2]),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="bench", cpus=cpus)
    all_queries()
    names = [n for n in HEADLINE if n in REGISTRY]

    # Ingest is measured FIRST, on the freshest/quietest part of the
    # session: round 9 recorded 180k rows/s because this ran AFTER the
    # 130-query headline loop (45 min in, host hottest) while the same
    # code isolated measures ~730k. BENCH is acceptance evidence — it
    # must record intrinsic throughput, not end-of-session host heat.
    ingest = _bench_ingest(spark)

    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    for name in names:
        run_query(spark, name, sf_dir)  # warmup
        # best-of-N warm runs: machine-load noise reached ±2x across
        # round-5 runs; the minimum is the stable estimator of
        # intrinsic cost. Adaptive N (round-6, 73 headliners): two
        # agreeing cheap samples don't earn a third — the third run
        # only re-samples the outlier tail, which matters when the
        # first two DISAGREE (>25%) or the query is expensive enough
        # (>0.5 s) for load spikes to distort the min.
        runs = [run_query(spark, name, sf_dir) for _ in range(2)]
        samples = sorted(r.execute_s for r in runs)
        if samples[1] > 0.5 or samples[1] > 1.25 * samples[0]:
            runs.append(run_query(spark, name, sf_dir))
            samples = sorted(r.execute_s for r in runs)
        best = min(runs, key=lambda r: r.e2e_s)
        timings[name] = round(samples[0], 4)
        stats[name] = {
            "min": round(samples[0], 4),
            "median": round(samples[len(samples) // 2], 4),
            # the phases of the fastest end-to-end run
            "e2e_s": round(best.e2e_s, 4),
            **{k: round(v, 4) for k, v in asdict(best).items() if k != "name"},
        }

    here = os.path.dirname(os.path.abspath(__file__))
    full_payload = {
        "metric": "headline_queries_total_warm",
        "value": round(sum(timings.values()), 4),
        "value_e2e": round(sum(st["e2e_s"] for st in stats.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_stats": stats,
        "ingest": ingest,
        "sf": sf,
    }
    # sf1 scale rehearsal (round 6): per-query sf0.1 -> sf1 ratios,
    # measured by tools/scale_rehearsal.py on locally generated 10x
    # data (tools/gen_sf.py). Recorded artifact — a live sf1 pass would
    # blow the driver's bench budget; regenerate with:
    #   python tools/gen_sf.py --sf 1 --out .sfdata/sf1
    #   python tools/scale_rehearsal.py
    scaling_path = os.path.join(here, "SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            sc = json.load(f)
        full_payload["sf1_rehearsal"] = {
            "provenance": "recorded by tools/scale_rehearsal.py (see SCALING.md)",
            "data_growth": sc.get("data_growth"),
            "ratios": {n: v.get("ratio") for n, v in sc.get("queries", {}).items()},
            "worst": sc.get("worst"),
        }
    line = build_stdout_payload(timings, ingest, sf, order=_print_order(timings=timings))
    full_payload["stdout_coverage"] = stdout_coverage(line, timings)
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full_payload, f, indent=1)
        f.write("\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
