"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pathlib
import sqlite3

import numpy as np
import pytest

from perfbench import checks, common, gen
from perfbench.common import Result
from perfbench.run import result_line
from perfbench.spans import Tracer, covered

ROOT = pathlib.Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _lines(seed: int) -> list[str]:
    s = gen.SensorStream(np.random.default_rng(seed))
    return [s.block(500, 1_000_000).text(1_000) for _ in range(3)]


def test_sensor_lines_are_deterministic_per_seed():
    assert _lines(7) == _lines(7)
    assert _lines(7) != _lines(8)


def test_sensor_lines_shape():
    s = gen.SensorStream(np.random.default_rng(3), bad_share=0.1)
    blk = s.block(2000, 1_000_000)
    lines = blk.text().splitlines()
    good = [ln for ln in lines if ln.startswith("$") and len(ln.split(",")) == 6]
    assert len(good) == int(blk.good.sum())
    assert 0.05 < 1 - blk.good.mean() < 0.15
    assert len(np.unique(blk.event_us)) == 2000
    assert not np.all(np.diff(blk.event_us) > 0)  # shuffled inside the file
    nxt = s.block(10, 10)
    assert nxt.event_us.min() > blk.event_us.max()  # files stay in order


def test_analytics_tables_are_deterministic_per_seed():
    a = gen.analytics_tables(np.random.default_rng(1), scale=0.05)
    b = gen.analytics_tables(np.random.default_rng(1), scale=0.05)
    c = gen.analytics_tables(np.random.default_rng(2), scale=0.05)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(11, 12)], 0, 10) == 0.0


def test_self_time_subtracts_children_once():
    t = Tracer("r")
    root = t.add("batch", 0.0, 10.0)
    t.add("store", 1.0, 3.0, parent=root)
    t.add("db", 2.0, 5.0, parent=root)  # overlaps store: counted once
    fc = t.add("fc", 6.0, 9.0, parent=root)
    t.add("write", 6.5, 7.5, parent=fc)
    own = t.self_times()
    assert own["batch"] == pytest.approx(10.0 - 4.0 - 3.0)
    assert own["fc"] == pytest.approx(2.0)
    assert own["store"] == pytest.approx(2.0)
    total = sum(own.values())
    assert total == pytest.approx(10.0 + 1.0)  # the store/db overlap is in both children


def test_adopt_assigns_parent_by_start_with_slack():
    t = Tracer("r")
    p1 = t.add("batch", 0.0, 1.0)
    p2 = t.add("batch", 2.0, 3.0)
    a = t.add("db", 0.5, 0.9)
    b = t.add("db", 1.999, 2.5)  # starts just before the rebuilt parent
    c = t.add("db", 5.0, 6.0)
    t.adopt("batch", {"db"}, slack=0.005)
    assert [t.spans[i].parent for i in (a, b, c)] == [p1, p2, None]


def test_wrap_records_only_when_enabled():
    t = Tracer("r")
    f = t.wrap("f", lambda x: x + 1)
    assert f(1) == 2 and t.spans == []
    t.enabled = True
    assert f(2) == 3 and [s.name for s in t.spans] == ["f"]


def test_printed_metric_names_match_benchmark_json():
    res = Result(attempted=3)
    res.e2e = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    out = json.loads(result_line(SPEC, res, trace=False))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert list(out["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(out["metrics"][m["name"]]["unit"] == m["unit"] for m in SPEC["end_to_end"])
    res.e2e.pop("setup_s")
    with pytest.raises(ValueError):
        result_line(SPEC, res, trace=False)
    res.e2e.update(setup_s=1.0, not_declared=2.0)
    with pytest.raises(ValueError):
        result_line(SPEC, res, trace=False)


def test_every_per_layer_metric_is_produced_somewhere():
    src = "".join(p.read_text() for p in (ROOT / "perfbench").glob("*.py"))
    family = {"queries.relational.", "queries.sensor.", "queries.curation.",
              "plans.relational.", "plans.sensor.", "plans.curation."}
    for m in SPEC["per_layer"]:
        name = m["name"]
        if any(name.startswith(f) for f in family):  # built from FAMILIES
            name = name.split(".", 2)[2]
        assert f'"{name}"' in src or f'.{name}"' in src, m["name"]


def _db(tmp_path, ids) -> str:
    path = os.path.join(tmp_path, f"t{len(os.listdir(tmp_path))}.db")
    con = sqlite3.connect(path)
    con.execute('CREATE TABLE "readings" (id INTEGER)')
    con.executemany('INSERT INTO "readings" VALUES (?)', [(int(i),) for i in ids])
    con.commit()
    con.close()
    return path


def test_dropped_sink_row_raises_error_rate(tmp_path):
    good, bad = np.arange(0, 100), np.arange(100, 105)
    ok = Result(attempted=105)
    checks.check_db(ok, _db(tmp_path, good), "readings", good, bad)
    assert ok.failed == 0
    dropped = Result(attempted=105)
    checks.check_db(dropped, _db(tmp_path, np.delete(good, 17)), "readings", good, bad)
    assert dropped.failed == 1 and dropped.failures == {"sinks.db.missing_rows": 1}


def test_duplicate_and_rejected_rows_fail(tmp_path):
    good, bad = np.arange(0, 10), np.arange(10, 12)
    res = Result()
    checks.check_db(res, _db(tmp_path, [*good, 3, 11]), "readings", good, bad)
    assert res.failures == {"sinks.db.duplicate_rows": 1, "sinks.db.rejected_landed": 1}


def test_fire_count_hysteresis_and_changed():
    above = lambda v: v > 5  # noqa: E731
    assert checks.fire_count("comparison", above, [1, 6, 7, 2, 8, 9, 1]) == 2
    assert checks.fire_count("changed", None, [1, 1, 2, 2, 1]) == 3


def test_values_check_flags_a_wrong_key():
    keys = [("s0", "temp"), ("s1", "temp")]
    key = np.array([0, 1, 0, 1])
    ev = np.array([4, 3, 2, 1])
    val = np.array([1.0, 2.0, 3.0, 4.0])
    snap = [
        {"group": "s0", "name": "temp", "n_updates": 2, "min_value": 1.0, "max_value": 3.0, "last_value": 1.0},
        {"group": "s1", "name": "temp", "n_updates": 2, "min_value": 2.0, "max_value": 4.0, "last_value": 2.0},
    ]
    res = Result()
    checks.check_values(res, snap, [], keys, key, ev, val, [])
    assert res.failed == 0
    snap[1]["last_value"] = 4.0
    checks.check_values(res, snap, [], keys, key, ev, val, [])
    assert res.failures == {"values_store.key_mismatch": 1}


def test_cpu_seconds_counts_work_and_leaves_out_ended_jit_threads():
    t0 = common.cpu_seconds()
    sum(i * i for i in range(2_000_000))
    assert common.cpu_seconds() > t0
    ended = {(1, "1"): 2 * os.sysconf("SC_CLK_TCK")}  # a compiler thread's last count
    assert common.cpu_seconds() - common.cpu_seconds(ended) == pytest.approx(2.0, abs=0.2)


def test_control_restores_affinity():
    before = os.sched_getaffinity(0)
    assert common.control_s() > 0
    assert os.sched_getaffinity(0) == before
