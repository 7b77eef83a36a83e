"""Self-tests of the benchmark's seeded generators and metric map.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root;
no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kg_microbe_spark.sources.synthetic import extract_text_from_html  # noqa: E402

from perfbench import corpus, expect  # noqa: E402

SAMPLE = 200


@pytest.fixture(scope="module", params=corpus.WORKLOADS)
def workload(request):
    return request.param


def test_same_seed_same_corpus_other_seed_differs(workload):
    a = corpus.corpus_digest(corpus.generate(workload, 7, SAMPLE))
    b = corpus.corpus_digest(corpus.generate(workload, 7, SAMPLE))
    c = corpus.corpus_digest(corpus.generate(workload, 8, SAMPLE))
    assert a == b
    assert a != c


def test_shipped_text_is_the_extracted_text(workload):
    for rec in corpus.generate(workload, 3, SAMPLE):
        if rec["text"] is not None:
            assert rec["text"] == extract_text_from_html(rec["html"])


def test_dense_links_several_times_more_entities_per_page():
    per_page = {}
    for w in corpus.WORKLOADS:
        e = expect.compute(corpus.generate(w, 5, SAMPLE))
        per_page[w] = e["entities"] / e["en_pages"]
    assert per_page["kg_dense"] >= 20
    assert per_page["kg_dense"] >= 4 * per_page["kg_sparse_html"]


def test_sparse_html_rows_are_mostly_text_null_boilerplate():
    recs = corpus.generate("kg_sparse_html", 5, SAMPLE)
    assert sum(r["text"] is None for r in recs) > len(recs) / 2
    html = sum(len(r["html"]) for r in recs)
    main = sum(len(extract_text_from_html(r["html"]).encode()) for r in recs)
    assert main < html / 2
    assert len({r["url"] for r in recs}) < len(recs)
    assert sum(r["lang"] != "en" for r in recs) > sum(
        r["lang"] != "en" for r in corpus.generate("kg_dense", 5, SAMPLE)
    )


def test_expected_triples_follow_the_keep_rules():
    e = expect.compute(corpus.generate("kg_dense", 9, 50))
    assert 0 < e["triples"]["count"] <= e["pairs"]
    assert e["nodes"]["count"] > 0
    assert expect.digest([]) == {"count": 0, "hash": 0}


def test_mismatched_expectation_is_a_failed_operation():
    from types import SimpleNamespace

    from perfbench.builds import check_outputs
    from perfbench.run import Ops

    expected = {"triples": {"count": 2, "hash": 10}, "nodes": {"count": 1, "hash": 5}}
    observed = lambda d: SimpleNamespace(get=d)  # noqa: E731 — stands in for a Spark Observation
    ops = Ops()
    assert ops.record("match", check_outputs(observed(expected["triples"]), observed(expected["nodes"]), expected))
    assert not ops.record(
        "mismatch", check_outputs(observed({"count": 2, "hash": 11}), observed(expected["nodes"]), expected)
    )
    assert (ops.attempted, len(ops.failures)) == (2, 1)


def test_metric_map_covers_every_benchmark_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "metric_map.json")) as f:
        mm = json.load(f)
    assert {m["name"] for m in spec["end_to_end"]} == set(mm["end_to_end"])
    mapped = {m for layer in mm["per_layer"].values() for m in layer["metrics"]}
    mapped |= {f"{layer}.{k}" for layer in mm["per_layer"] if layer != "trace" for k in ("tasks", "failed_tasks")}
    assert {m["name"] for m in spec["per_layer"]} == mapped
    assert {w["name"] for w in spec["workloads"]} == set(corpus.WORKLOADS)
