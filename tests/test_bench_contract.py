"""Bench-harness contract: the headline list stays valid as the
registry evolves (a renamed or dropped op silently vanishing from the
bench is how a coverage regression hides — bench.main() filters with
`if n in REGISTRY`, so nothing would fail at run time)."""

from __future__ import annotations

import bench
from odns_dataimporter_spark.registry import REGISTRY, all_queries

all_queries()


def test_headline_entries_are_registered():
    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"headline entries not in registry: {missing}"


def test_headline_has_no_duplicates():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_stdout_line_fits_driver_tail_buffer():
    """The recording driver keeps only the last 2000 chars of stdout
    and parses the JSON line from that tail — round 6 recorded
    `parsed: null` because the line outgrew the buffer. Worst-case
    every query at 5 digits must still fit."""
    import json

    timings = {n: 99999.99 for n in bench.HEADLINE}
    ingest = {"rows": 1_000_000, "sec": 99.9999, "rows_per_sec": 861307}
    line = bench.build_stdout_payload(timings, ingest, 0.1)
    assert len(line) <= bench.STDOUT_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_warm"
    assert parsed["unit"] == "sec"
    assert abs(parsed["value"] - sum(timings.values())) < 0.5
    assert parsed["sf"] == 0.1
    # entries are filled in PRINT_ORDER (fixed common core, then the
    # rest rotated by round); whatever fits must be a prefix of that
    # order so the cross-round trend keeps its data points
    kept = list(parsed["queries"])
    assert kept == [n for n in bench.PRINT_ORDER if n in timings][: len(kept)]
    assert parsed.get("queries_omitted", 0) + len(kept) == len(bench.HEADLINE)
    # the common core survives truncation even at worst-case digits
    assert len(kept) >= bench._CORE_N + 10


def test_print_order_rotation_covers_every_headliner_in_five_rounds():
    """The non-core tail rotates by a FIFTH per round (r11; was a
    quarter — the 10 always-printed slowest slots displace ~10
    rotation slots, moving the provable full-coverage window from 4 to
    5 rounds; round-7 VERDICT item 6 established the guarantee).
    Simulated with the worst-case digit widths from the truncation
    test."""
    import json

    timings = {n: 99999.99 for n in bench.HEADLINE}
    ingest = {"rows": 1_000_000, "sec": 99.9999, "rows_per_sec": 861307}
    for start in range(1, 9):
        seen: set[str] = set()
        for rnd in range(start, start + 5):
            order = bench._print_order(rnd)
            assert sorted(order) == sorted(bench.HEADLINE)
            line = bench.build_stdout_payload(timings, ingest, 0.1, order=order)
            seen.update(json.loads(line)["queries"])
        missing = set(bench.HEADLINE) - seen
        assert not missing, f"rounds {start}..{start+4} never printed: {missing}"


def test_slowest_ten_always_printed_and_rotation_survives():
    """r11 (VERDICT r10 item 8): the 10 slowest non-core headliners of
    the current run are printed EVERY round, and at realistic digit
    widths (sub-10s per query) the line still covers a full rotation
    step after them, so every headliner keeps a driver-visible slot
    within 5 consecutive rounds."""
    import json

    core = set(bench.HEADLINE[: bench._CORE_N])
    rest = [n for n in bench.HEADLINE if n not in core]
    # realistic widths: core cheap, a distinctive slow tail in `rest`
    timings = {n: 0.25 for n in bench.HEADLINE}
    slow = rest[::7][:10]  # scattered across the rotation
    for n in slow:
        timings[n] = 3.21
    ingest = {
        "rows": 1_000_000,
        "sec": 1.2295,
        "rows_per_sec": 813370,
        "rows_per_sec_median": 700000,
    }
    step = (len(rest) + 4) // 5
    for start in range(1, 6):
        seen: set[str] = set()
        for rnd in range(start, start + 5):
            order = bench._print_order(rnd, timings=timings)
            assert sorted(order) == sorted(bench.HEADLINE)
            line = bench.build_stdout_payload(timings, ingest, 0.1, order=order)
            assert len(line) <= bench.STDOUT_BUDGET
            kept = set(json.loads(line)["queries"])
            missing_slow = set(slow) - kept
            assert not missing_slow, f"slow tail not printed: {missing_slow}"
            # a full rotation step still fits after core + slowest-10
            rotated = [n for n in order if n not in core and n not in slow]
            assert set(rotated[:step]) <= kept
            seen |= kept
        assert not set(bench.HEADLINE) - seen


def test_stdout_line_keeps_all_queries_when_small():
    import json

    timings = {n: 1.0 for n in bench.HEADLINE[:10]}
    ingest = {"rows": 1, "sec": 1.0, "rows_per_sec": 1}
    parsed = json.loads(bench.build_stdout_payload(timings, ingest, 0.01))
    assert len(parsed["queries"]) == 10
    assert "queries_omitted" not in parsed


def test_headline_covers_every_family():
    tags = set()
    for n in bench.HEADLINE:
        tags |= set(REGISTRY[n].tags)
    for family in (
        "agg", "llm", "dedup", "similarity", "text", "events", "stats",
        "graph", "timeseries", "ml", "embedding", "analytics",
    ):
        assert family in tags, f"no headline query carries tag {family!r}"


def test_full_registry_artifact_covers_every_query():
    """round-9 VERDICT item 2: the committed full-registry correctness
    artifact must never lag the registry again (the round-8 closing
    wave landed 17 ops AFTER the artifact was generated, leaving them
    with no checked-in parity evidence). One entry per registered
    query, zero fails, and every oracle-backed query marked ok."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(
        glob.glob(os.path.join(here, "CORRECTNESS_LOCAL_FULL_r*.json")),
        key=lambda p: int(p.rsplit("_r", 1)[1].split(".")[0]),
    )
    assert paths, "no full-registry correctness artifact committed"
    with open(paths[-1]) as f:
        art = json.load(f)["queries"]
    missing = sorted(set(REGISTRY) - set(art))
    stale = sorted(set(art) - set(REGISTRY))
    assert not missing, f"registry queries absent from {paths[-1]}: {missing}"
    assert not stale, f"artifact entries no longer registered: {stale}"
    bad = {n: e for n, e in art.items() if e.get("status") == "fail"}
    assert not bad, f"artifact records failures: {sorted(bad)}"
    rows_only = sorted(n for n, e in art.items() if e.get("status") == "rows_only")
    oracle_backed = {n for n in REGISTRY if REGISTRY[n].oracle is not None}
    wrong = [n for n in rows_only if n in oracle_backed]
    assert not wrong, f"oracle-backed queries recorded rows_only: {wrong}"


def test_stdout_coverage_counts_kept_rotation_entries():
    """main records in BENCH_FULL.json how many rotated entries the
    printed line kept after the core and the slowest 10, beside the
    rotation step, so a run whose digit widths squeeze the rotation
    below one step shows it in the artifact (ADVICE bench.py:220)."""
    import json

    rest = bench.HEADLINE[bench._CORE_N :]
    step = (len(rest) + 4) // 5
    ingest = {"rows": 1_000_000, "sec": 1.2295, "rows_per_sec": 813370}
    realistic = {n: 0.25 for n in bench.HEADLINE}
    for n in rest[::7][:10]:
        realistic[n] = 3.21
    worst = {n: 99999.99 for n in bench.HEADLINE}
    kept_by_case = []
    for timings in (realistic, worst):
        order = bench._print_order(3, timings=timings)
        line = bench.build_stdout_payload(timings, ingest, 0.1, order=order)
        kept = len(json.loads(line)["queries"])
        coverage = bench.stdout_coverage(line, timings)
        assert coverage == {
            "rotation_step": step,
            "rotation_kept": kept - bench._CORE_N - 10,
        }
        kept_by_case.append(coverage["rotation_kept"])
    assert kept_by_case[0] >= step > kept_by_case[1]
