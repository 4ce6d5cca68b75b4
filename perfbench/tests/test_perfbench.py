"""Tests of the benchmark's own logic: corpus generator, datasheet checker,
event-log reader. None of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import corpus, eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_t131_t81.jsonl")


def test_corpus_is_byte_identical_per_seed_and_differs_across_seeds():
    a, b, c = corpus.generate(7, 50), corpus.generate(7, 50), corpus.generate(8, 50)
    assert a.to_bytes() == b.to_bytes()
    assert a.to_bytes() != c.to_bytes()


def test_corpus_plants_every_kind_of_discrepancy():
    gen = corpus.generate(3, 300)
    fields = [c[0] for want in gen.expected.values() for c in want]
    assert any(f == "title" for f in fields)
    assert any(f == "table_id" for f in fields)
    assert any(f.endswith(".Unit") for f in fields)
    assert any(f.endswith((".Min", ".Typ", ".Max")) for f in fields)
    assert any(not want for want in gen.expected.values())  # clean documents too
    # dropped trailing rule rows: fewer rule rows than vision rows
    rule_rows = {p[0]: len(p[3][0]) - 1 for p in gen.pages if p[3]}
    assert any(n < corpus.ROWS_PER_TABLE for n in rule_rows.values())
    assert all(len(v[4]) == corpus.ROWS_PER_TABLE for v in gen.vision)


def _perfect_results(gen: corpus.Corpus) -> list[dict]:
    out = [
        {
            "key": corpus.GOLDEN_KEY,
            "verification": {"status": "verified", "confidence": 0.99, "conflict_count": 1},
            "parameters_json": json.dumps({f"p{i}": 1.0 for i in range(14)}),
            "conflicts": [{"field": "table_id", "vision_value": "v", "rule_value": "r", "resolution": "vision_wins"}],
        }
    ]
    for key, want in gen.expected.items():
        out.append(
            {
                "key": key,
                "verification": {
                    "status": "needs_review" if want else "verified",
                    "confidence": 0.8 if want else 1.0,
                    "conflict_count": len(want),
                },
                "parameters_json": json.dumps({f"p{i}": 1.0 for i in range(gen.n_params[key])}),
                "conflicts": [
                    dict(zip(("field", "vision_value", "rule_value", "resolution"), c)) for c in want
                ],
            }
        )
    return out


def test_checker_accepts_the_planted_answer():
    gen = corpus.generate(11, 40)
    assert corpus.check_results(gen, _perfect_results(gen)) == []


def test_checker_flags_one_removed_conflict():
    gen = corpus.generate(11, 40)
    results = _perfect_results(gen)
    victim = next(r for r in results[1:] if r["conflicts"])
    victim["conflicts"].pop()
    errors = corpus.check_results(gen, results)
    assert len(errors) == 1 and victim["key"] in errors[0]


def test_checker_flags_a_wrong_golden_document():
    gen = corpus.generate(11, 5)
    results = _perfect_results(gen)
    results[0]["verification"]["confidence"] = 0.98
    errors = corpus.check_results(gen, results)
    assert len(errors) == 1 and corpus.GOLDEN_KEY in errors[0]


def test_eventlog_reader_gives_the_named_layer_metrics():
    # the fixture is a trimmed event log of one t131 run then one t81 drain
    windows = [
        eventlog.Window("t131", 1792207900.755, 1792207910.758),
        eventlog.Window("t81", 1792207910.759, 1792207917.694),
    ]
    got = eventlog.layer_metrics(FIXTURE, windows)
    names = set(eventlog.SPARK_METRICS + eventlog.STREAMING_METRICS)
    assert set(got["t131"]) == names and set(got["t81"]) == names

    batch, stream = got["t131"], got["t81"]
    assert (batch["spark.stages"], batch["spark.tasks"]) == (5, 5)
    assert (stream["spark.stages"], stream["spark.tasks"]) == (9, 16)
    # applyInArrow stages carry Python; the dedup drain carries none
    assert batch["spark.python_s"] > 0 and stream["spark.python_s"] == 0
    assert 0 < batch["spark.driver_s"] < 10.003
    assert batch["spark.task_cpu_s"] < batch["spark.task_run_s"]
    assert batch["streaming.batches"] == 0

    # two micro-batches, straight from the query-progress events
    assert stream["streaming.batches"] == 2
    assert stream["streaming.planning_ms"] == 451 + 28
    assert stream["streaming.add_batch_ms"] == 1927 + 856
    assert stream["streaming.log_commit_ms"] == (111 + 300) + (72 + 45)
    assert stream["streaming.state_commit_ms"] == 1185 + 764
    assert stream["streaming.state_rows"] == 1000


def test_driver_time_is_window_minus_stage_union():
    assert eventlog._union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert eventlog._union_seconds([]) == 0


def test_registry_workloads_name_oracled_entries():
    from datasheet_etl_spark.plans import oracles

    from perfbench import workloads

    assert set(workloads.CURATION_BATCH + workloads.STREAMING_DRAIN) <= set(oracles())


def test_trace_overhead_needs_the_same_seed_and_sources():
    from perfbench.run import trace_overhead

    def rec(seed, digest, wall):
        return {"workload": "w", "seed": seed, "diagnostics": {"source_digest": digest},
                "summary": {"wall_s": {"value": wall, "unit": "s"}}}

    traced = rec(1, "abc", 5.5)
    assert trace_overhead(traced, rec(1, "abc", 5.0)) == pytest.approx(0.5)
    assert trace_overhead(traced, rec(2, "abc", 5.0)) is None
    assert trace_overhead(traced, rec(1, "def", 5.0)) is None
    assert trace_overhead(traced, None) is None
