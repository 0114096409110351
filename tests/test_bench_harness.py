"""Tests of bench.py's streaming harness logic; none of them starts Spark.

    python3 -m pytest tests/test_bench_harness.py -q
"""

from __future__ import annotations

import pathlib
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import bench  # noqa: E402

FAKE_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))

# The final line's `streams` keys as the driver parses them.
FINAL_LINE_STREAMS = {
    "sustained", "capacity", "jvm", "dedup", "embdedup", "urldedup", "paradedup",
    "dedup_capacity",
}


def _tier_result(rps: int, rate: float, phases: dict | None = None) -> dict:
    return {
        "sustained_rows_per_sec": rate,
        "offered_rows_per_sec": rps,
        "kept_up": rate >= 0.95 * rps,
        "state_rows": 7,
        "busy_sec": 1.0,
        "n_batches": 3,
        "durations_ms": phases or {"addBatch": 10.0, "triggerExecution": 12.0},
    }


@pytest.fixture
def fake_tier(monkeypatch):
    """_run_tier replaced by a tier that keeps up through 200 rows/s and
    records every (section, rps, seconds) it was asked to run."""
    calls: list[tuple] = []

    def run(spark, tier, rps=None, seconds=None):
        calls.append((tier.section, rps, seconds))
        rps = rps or 100  # a tier at its default offer keeps up
        if rps <= 200:
            return _tier_result(rps, float(rps))
        phases = {"triggerExecution": 5000.0, "addBatch": 4400.0, "walCommit": 60.0}
        return _tier_result(rps, 180.0, phases)

    monkeypatch.setattr(bench, "_run_tier", run)
    return calls


def test_sweep_reports_max_kept_up_first_failing_and_knee(monkeypatch, fake_tier):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_DEDUP_SWEEP", "100,200,300,400")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_DEDUP_SWEEP_SECONDS", "7")
    out = bench._sweep(FAKE_SPARK, "streaming_dedup_capacity")
    assert out["max_kept_up_rps"] == 200
    assert out["first_failing_rps"] == 300
    # the whole-batch total is skipped: the top COMPONENT is named
    tier = bench.TIERS["streaming_dedup_tier"]
    assert out["knee_bottleneck"] == "addBatch (4400 ms/batch avg)" + tier.knee_note
    assert list(out["rates"]) == ["100", "200", "300", "400"]
    assert set(out["rates"]["300"]) == {
        "sustained_rows_per_sec", "kept_up", "state_rows", "n_batches", "durations_ms"
    }
    # every failing rung is drawn twice (_retry_if_missed), at the sweep's seconds
    assert [c[1] for c in fake_tier] == [100, 200, 300, 300, 400, 400]
    assert {c[0] for c in fake_tier} == {"streaming_dedup_tier"}
    assert {c[2] for c in fake_tier} == {7.0}


def test_sweep_names_a_non_addbatch_knee_without_the_tier_note(monkeypatch):
    phases = {"triggerExecution": 900.0, "walCommit": 700.0, "addBatch": 100.0}
    monkeypatch.setattr(
        bench, "_run_tier", lambda s, t, rps, seconds: _tier_result(rps, 1.0, phases)
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SWEEP", "500")
    out = bench._sweep(FAKE_SPARK, "streaming_capacity")
    assert out["max_kept_up_rps"] == 0
    assert out["first_failing_rps"] == 500
    assert out["knee_bottleneck"] == "walCommit (700 ms/batch avg)"


def test_sweep_default_rates_scale_with_cores_and_empty_disables(monkeypatch, fake_tier):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_EMBDEDUP_SWEEP", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_DEDUP_SWEEP_SECONDS", raising=False)
    out = bench._sweep(FAKE_SPARK, "streaming_embedding_dedup_capacity")
    assert list(out["rates"]) == ["6400", "12800", "19200", "25600"]  # per core x 4
    assert {c[2] for c in fake_tier} == {45.0}
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SWEEP", raising=False)
    fake_tier.clear()
    bench._sweep(FAKE_SPARK, "streaming_capacity")
    assert [c[1] for c in fake_tier][:1] == [500_000]  # flat rate, not per core
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SWEEP", " ")
    assert bench._sweep(FAKE_SPARK, "streaming_capacity") == {}


def test_retry_if_missed_keeps_the_better_of_two_draws():
    def draws(*rates):
        it = iter(rates)
        return lambda: {"sustained_rows_per_sec": next(it), "kept_up": False}

    assert bench._retry_if_missed(draws(90.0, 95.0))["sustained_rows_per_sec"] == 95.0
    assert bench._retry_if_missed(draws(95.0, 90.0))["sustained_rows_per_sec"] == 95.0
    # a kept-up first draw is final: a second draw would raise StopIteration
    once = iter([{"sustained_rows_per_sec": 1.0, "kept_up": True}])
    assert bench._retry_if_missed(lambda: next(once))["kept_up"] is True


def test_insufficient_reports_the_partial_window_under_an_err_tag():
    entries = [{"batchDuration": 1500, "numInputRows": 0}] + [
        {"batchDuration": 500, "numInputRows": 100}
    ] * 2
    out = bench._insufficient(entries, entries[1:])
    assert set(out) == {
        "err", "n_batches", "min_steady_batches", "partial_rows_per_sec", "busy_sec"
    }
    assert out["err"] == "insufficient_batches"
    assert out["n_batches"] == 2
    assert out["min_steady_batches"] == bench.MIN_STEADY_BATCHES
    assert out["partial_rows_per_sec"] == 200.0
    assert out["busy_sec"] == 2.5
    assert "kept_up" not in out


@pytest.mark.parametrize("isolated", ["1", "0"])
def test_every_section_reaches_the_payload_and_the_final_line(monkeypatch, fake_tier, isolated):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_ISOLATED", isolated)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_DEDUP_SWEEP", raising=False)
    sweep = {"rates": {}, "max_kept_up_rps": 200, "first_failing_rps": 300}

    def run_self(args, timeout, env=None):
        if args == ["--stream-main"]:
            return {
                "streaming_sustained": _tier_result(100, 100.0),
                "streaming_capacity": dict(sweep),
                "streaming_sustained_jvm": _tier_result(100, 100.0),
                "isolated": True,
            }
        assert args == ["--stream-dedup"]
        return dict(sweep, isolated=True)

    monkeypatch.setattr(bench, "_run_self", run_self)
    monkeypatch.setattr(bench, "_sweep", lambda spark, section: dict(sweep))
    sections = bench._streaming_sections(FAKE_SPARK)

    assert list(sections) == list(bench.STREAM_SHORT)
    for name in bench.TIERS:
        assert name in sections and "sustained_rows_per_sec" in sections[name]
    assert sections["streaming_sustained"].get("isolated", False) is (isolated == "1")
    streams = bench._tail_streams(sections)
    assert set(streams) == FINAL_LINE_STREAMS
    for name in bench.TIERS:
        assert streams[bench.STREAM_SHORT[name]] == [100, 1]
    assert streams["capacity"] == streams["dedup_capacity"] == [200, 300]


def test_failed_sections_reduce_to_empty_pairs(monkeypatch):
    monkeypatch.setattr(bench, "_run_self", lambda args, timeout, env=None: None)
    monkeypatch.setattr(bench, "_run_tier", lambda spark, tier: {})
    monkeypatch.setenv("SPARK_GRAFT_STREAM_ISOLATED", "1")
    monkeypatch.delenv("SPARK_GRAFT_STREAM_DEDUP_SWEEP", raising=False)
    sections = bench._streaming_sections(FAKE_SPARK)
    assert sections["streaming_sustained"] == {
        "err": "isolated stream-main run failed to report", "isolated": True
    }
    assert sections["streaming_dedup_capacity"] == {
        "err": "isolated dedup capacity run failed to report"
    }
    assert all(pair == [] for pair in bench._tail_streams(sections).values())


def test_trained_queries_are_the_registry_names_ending_in_trained():
    assert bench.trained_queries(["a_trained", "b", "trained_c"]) == {"a_trained"}
    from dcafs_spark.queries import QUERIES

    assert bench.trained_queries(QUERIES) == {
        "quality_classifier_trained", "pq_recall_trained", "similarity_ivfpq_trained"
    }
