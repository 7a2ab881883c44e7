"""Tests of the benchmark's pure parts: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402

BALANCED = {
    "round": 1, "pending_in": 2922, "dup": 0, "skipped_robots": 0, "skipped_budget": 55,
    "scheduled": 2867, "fetched": 2867, "missing": 0, "docs_ok": 2867,
    "discovered_new": 3567, "pending_out": 3622, "seen_total": 3867,
}


def test_median_and_iqr_match_statistics():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    assert measure.median(xs) == statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert measure.iqr_frac(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert measure.median([2, 4]) == 3.0
    with pytest.raises(ValueError):
        measure.median([])


def test_balanced_counters_pass():
    assert measure.counter_balance_errors(BALANCED) == []
    assert measure.counter_vector(BALANCED)[0] == 1


@pytest.mark.parametrize(
    "field, delta, message",
    [
        ("skipped_budget", 1, "pending_in"),
        ("missing", 1, "scheduled"),
        ("discovered_new", -1, "pending_out"),
        ("docs_ok", 1, "docs_ok"),
    ],
)
def test_unbalanced_counters_are_reported(field, delta, message):
    c = dict(BALANCED, **{field: BALANCED[field] + delta})
    errs = measure.counter_balance_errors(c)
    assert errs and any(e.startswith(message) for e in errs)


def test_metric_name_grammar():
    for ok in ("docs_per_s", "frontier.round_s.r0", "spark.gc_s", "a-b", "0x", "x" * 64):
        assert measure.valid_name(ok), ok
    for bad in ("", ".x", "_x", "a b", "a/b", "x" * 65, "naïve"):
        assert not measure.valid_name(bad), bad


def test_benchmark_declaration_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in bench[key]]
    assert len(names) == len(set(names))
    assert all(measure.valid_name(n) for n in names)
    import run

    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS


def test_event_log_attribution_on_recorded_log():
    events = measure.read_event_log(os.path.join(HERE, "testdata", "eventlog_sample.json"))
    # job 0 (stage 0, two tasks) starts at ...0662, job 1 (stages 1-2) at ...1396
    spans = [("a", 1792174590.600, 1792174591.000), ("b", 1792174591.300, 1792174591.500)]
    att = measure.attribute(events, spans)
    assert (att["a"]["jobs"], att["a"]["stages"], att["a"]["tasks"]) == (1, 1, 2)
    assert att["a"]["shuffle_write_bytes"] == 118
    assert att["a"]["run_ms"] == 248 and att["a"]["gc_ms"] == 16
    assert att["a"]["cpu_ns"] == 37853824 + 116433298
    # stage 1 was skipped: only stage 2 ran a task
    assert (att["b"]["jobs"], att["b"]["stages"], att["b"]["tasks"]) == (1, 1, 1)
    assert (att["_all"]["jobs"], att["_all"]["tasks"]) == (2, 3)


def test_event_log_jobs_outside_every_span_count_only_in_total():
    events = measure.read_event_log(os.path.join(HERE, "testdata", "eventlog_sample.json"))
    att = measure.attribute(events, [("late", 1792174592.0, 1792174593.0)])
    assert att["late"]["jobs"] == 0 and att["late"]["tasks"] == 0
    assert att["_all"]["tasks"] == 3


def test_process_tree_sampling_sees_this_process():
    me = os.getpid()
    assert me in measure.tree_pids(me)
    assert measure.tree_cpu_s(me) > 0
    assert measure.tree_pss_mb(me) > 1
    with measure.PssPeak(me, interval_s=0.01) as pss:
        sum(range(10**5))
    assert pss.peak > 1


def test_catalog_tables_follow_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import catalog

    catalog.generate(str(tmp_path / "a"), 42)
    catalog.generate(str(tmp_path / "b"), 42)
    catalog.generate(str(tmp_path / "c"), 7)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == ["customer.parquet", "documents.parquet", "embeddings.parquet",
                     "events.parquet", "lineitem.parquet", "nation.parquet", "orders.parquet"]
    for name in names:
        a, b, c = (pq.read_table(tmp_path / d / name) for d in "abc")
        assert a.equals(b), name
        assert a.schema.equals(c.schema), name
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    assert docs["text"].duplicated().any()  # exact duplicates for dedup_exact
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert not pq.read_table(tmp_path / "c" / "documents.parquet").equals(
        pq.read_table(tmp_path / "a" / "documents.parquet"))
