"""Self-tests of the benchmark's pure parts: ``python3 -m pytest perfbench``.

They need no Spark session; the corpus test reads the sf0.1
``documents`` table.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import corpus, metrics
from perfbench.workloads import SF01, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert all(m["better"] in ("higher", "lower") for m in spec["per_layer"])
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_percentile_rule_needs_ten_samples_beyond():
    assert metrics.highest_reportable_percentile(19) is None
    assert metrics.highest_reportable_percentile(20) == 50
    assert metrics.highest_reportable_percentile(40) == 75
    assert metrics.highest_reportable_percentile(100) == 90
    assert metrics.highest_reportable_percentile(200) == 95
    assert metrics.highest_reportable_percentile(1000) == 99
    for n in range(1, 1500):
        q = metrics.highest_reportable_percentile(n)
        values = list(range(n))
        beyond = {p: n - 1 - metrics.percentile(values, p) for p in (50, 75, 90, 95, 99)}
        if q is None:
            assert all(b < 10 for b in beyond.values())
        else:
            assert beyond[q] >= 10
            assert all(b < 10 for p, b in beyond.items() if p > q)


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert metrics.percentile(values, 50) == 50
    assert metrics.percentile(values, 90) == 90
    assert metrics.percentile([3.0], 99) == 3.0
    assert metrics.percentile([5, 1, 4, 2, 3], 50) == 3


def test_geomean():
    assert metrics.geomean([]) == 0.0
    assert metrics.geomean([2.0]) == pytest.approx(2.0)
    assert metrics.geomean([1.0, 4.0]) == pytest.approx(2.0)
    # a 10x slower query weighs as much as a 10x faster one
    assert metrics.geomean([0.1, 1.0, 10.0]) == pytest.approx(1.0)


def test_self_time_subtracts_children_once():
    assert metrics.self_time((0.0, 10.0), []) == 10.0
    assert metrics.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping children are counted once
    assert metrics.self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0)]) == pytest.approx(6.0)
    # children are clipped to the parent
    assert metrics.self_time((0.0, 10.0), [(-2.0, 1.0), (9.0, 12.0)]) == pytest.approx(8.0)
    assert metrics.self_time((0.0, 10.0), [(0.0, 10.0)]) == 0.0


@pytest.mark.skipif(not os.path.exists(SF01), reason="sf0.1 testdata absent")
def test_corpus_is_seeded():
    src = os.path.join(SF01, "documents.parquet")
    a = corpus.generate(src, 1, n_docs=500)
    b = corpus.generate(src, 1, n_docs=500)
    c = corpus.generate(src, 2, n_docs=500)
    assert corpus.fingerprint(a) == corpus.fingerprint(b)
    assert corpus.fingerprint(a) != corpus.fingerprint(c)
    facts = corpus.shares(corpus.generate(src, 3))
    assert facts["docs"] == corpus.N_DOCS
    assert 0.03 < facts["exact_dup_share"] < 0.08
