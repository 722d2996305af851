"""Pins every `size_hints.derived_*` output, so a refactor of the
estimators cannot move a tier, a clamp or an unknown-size default.

Three tiers:
- `/nonexistent`: every estimator's unknown-size default;
- the test sf dir: the values the local test corpora see (pinned per
  generated tier, keyed by the directory's basename);
- a synthetic dir of sparse files with chosen byte sizes, large enough
  to leave the clamps and cross the row-count thresholds.
"""

from __future__ import annotations

import os

import pytest

from odns_dataimporter_spark import size_hints

# (function, extra args) -> expected value per tier
_CASES = {
    ("derived_knn_blocks", ()): {"unknown": 4, "sf0.001": 2, "sf0.01": 2, "sf0.1": 2, "synth": 9},
    ("derived_lsh_planes", ()): {"unknown": 8, "sf0.001": 4, "sf0.01": 4, "sf0.1": 6, "synth": 15},
    ("derived_simhash_chunks", ()): {"unknown": 6, "sf0.001": 4, "sf0.01": 4, "sf0.1": 4, "synth": 6},
    ("derived_pq_salt", ()): {"unknown": 64, "sf0.001": 4, "sf0.01": 4, "sf0.1": 4, "synth": 64},
    ("derived_range_bins", ()): {"unknown": 8, "sf0.001": 1, "sf0.01": 2, "sf0.1": 7, "synth": 24},
    ("derived_semdedup_k", ()): {"unknown": 8, "sf0.001": 8, "sf0.01": 8, "sf0.1": 8, "synth": 1000},
    ("derived_semdedup_sample_mod", ()): {"unknown": 1, "sf0.001": 1, "sf0.01": 1, "sf0.1": 1, "synth": 40},
    ("derived_prefix_distributed", ()): {"unknown": True, "sf0.001": False, "sf0.01": False, "sf0.1": False, "synth": False},
    ("derived_prefix_distributed", ("events",)): {"unknown": True, "sf0.001": False, "sf0.01": False, "sf0.1": False, "synth": True},
    ("derived_rank_distributed", ()): {"unknown": True, "sf0.001": False, "sf0.01": False, "sf0.1": False, "synth": True},
}

# byte sizes of the synthetic tier: orders sits one byte under the
# 1M-row prefix threshold, events and part exactly on their thresholds
_SYNTH_BYTES = {
    "embeddings": 600_000_000,
    "documents": 30_000_000,
    "events": 21_000_000,
    "part": 9_000_000,
    "orders": 17_999_999,
}

_IDS = [f"{fn}{args or ''}" for fn, args in _CASES]


def test_every_estimator_is_pinned():
    derived = {a for a in vars(size_hints) if a.startswith("derived_")}
    assert derived == {fn for fn, _ in _CASES}


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("size_hints")
    for table, n in _SYNTH_BYTES.items():
        with open(d / f"{table}.parquet", "wb") as f:
            f.truncate(n)  # sparse: no disk blocks are written
    return str(d)


@pytest.mark.parametrize("case", list(_CASES), ids=_IDS)
def test_unknown_size_default(case):
    fn, args = case
    assert getattr(size_hints, fn)("/nonexistent", *args) == _CASES[case]["unknown"]


@pytest.mark.parametrize("case", list(_CASES), ids=_IDS)
def test_test_sf_dir(case, sf_dir):
    tier = os.path.basename(os.path.normpath(sf_dir))
    if tier not in _CASES[case]:
        pytest.skip(f"no pinned values for {tier}")
    fn, args = case
    assert getattr(size_hints, fn)(sf_dir, *args) == _CASES[case][tier]


@pytest.mark.parametrize("case", list(_CASES), ids=_IDS)
def test_synthetic_sizes(case, synth_dir):
    fn, args = case
    assert getattr(size_hints, fn)(synth_dir, *args) == _CASES[case]["synth"]


def test_est_rows(synth_dir):
    assert size_hints.est_rows("/nonexistent", "documents") == 0
    assert size_hints.est_rows(synth_dir, "documents") == 250_000
