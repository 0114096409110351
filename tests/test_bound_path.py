"""Bound paths: a spec built once and applied to many frames gives the
same rows as compiling it afresh per frame; a streaming path binds once
at start, so a spec that cannot be built fails there."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dcafs_spark.plans.dsl import bind_path, compile_path

# every step type: a filter with a reject route, math in place, editor,
# custom, typed math, generic and valmap
ALL_STEPS = {
    "delimiter": ",",
    "steps": [
        {"type": "filter", "rules": [["start", "$"], ["minitems", "4"]], "reject": "bad"},
        {"type": "math", "ops": [{"target": "i1", "formula": "i1*2"}]},
        {"type": "editor", "edits": [{"kind": "remove", "args": {"find": "$"}}]},
        {"type": "custom", "fn": lambda d: d.withColumn("value", F.lower("value"))},
        {
            "type": "math",
            "typed": True,
            "ops": [{"target": "total", "formula": "i1+i2"}],
            "keep": ["value"],
        },
        {
            "type": "generic",
            "fields": [
                {"name": "sensor", "index": 0, "dtype": "text"},
                {"name": "x", "index": 1, "dtype": "real"},
            ],
            "keep": ["value", "total"],
        },
        {"type": "valmap", "split": ":"},
    ],
}

FRAMES = [
    ["$A,1.5,2,k:v", "$B,3,4,q:w", "noise", "$C,1"],
    ["$D,10,1,m:n", "junk,1,2,a:b", "$E,x,2,e:f"],
    ["$F,0.25,0.5,z:y", "$G,7,8,9", "", "$H,2,2,h:i:j"],
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_bound_path_matches_fresh_compile(spark):
    bound = bind_path(ALL_STEPS)
    seen_main = seen_bad = 0
    for lines in FRAMES:
        df = spark.createDataFrame([(s,) for s in lines], "value string")
        main, rejects = compile_path(df, bound)
        fresh_main, fresh_rejects = compile_path(df, ALL_STEPS)
        assert main.columns == fresh_main.columns == ["total", "sensor", "x", "key", "value"]
        rows, bad = _rows(main), _rows(rejects["bad"])
        assert rows == _rows(fresh_main)
        assert set(rejects) == set(fresh_rejects) == {"bad"}
        assert bad == _rows(fresh_rejects["bad"])
        seen_main += len(rows)
        seen_bad += len(bad)
    # the corpus exercises both routes
    assert seen_main > 0 and seen_bad > 0


def test_streaming_path_binds_once(spark, tmp_path, monkeypatch):
    from dcafs_spark.streaming import runner

    calls: list = []

    def counting(spec):
        calls.append(spec)
        return bind_path(spec)

    monkeypatch.setattr(runner, "bind_path", counting)
    watch = tmp_path / "watch"
    os.makedirs(watch)

    def drop(name, text):  # renamed in whole, so no batch sees half a file
        (tmp_path / name).write_text(text)
        os.replace(tmp_path / name, watch / name)

    batches: list = []
    sp = runner.StreamingPath(
        spark,
        source={"kind": "text", "path": str(watch), "maxFilesPerTrigger": 1},
        path={"steps": ALL_STEPS["steps"][:3]},
        sinks=[lambda df, bid: batches.append(sorted(r["value"] for r in df.collect()))],
    )
    q = sp.start("t_bind_once")
    try:
        drop("a.txt", "$A,1,2,3\nnoise\n")
        q.processAllAvailable()
        drop("b.txt", "$B,4,5,6\n")
        q.processAllAvailable()
    finally:
        q.stop()
    assert batches == [["A,2,2,3"], ["B,8,5,6"]]
    assert len(calls) == 1


@pytest.mark.parametrize(
    "steps, match",
    [([{"type": "nope"}], "unknown step type"), ([{"type": "custom"}], "callable")],
)
def test_engine_start_rejects_unbuildable_spec(spark, tmp_path, steps, match):
    from dcafs_spark.engine import Engine

    eng = Engine(spark)
    eng.add_source("lines", {"kind": "text", "path": str(tmp_path)})
    eng.add_path("p", "lines", {"steps": steps})
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=match):
        eng.start("p")
    assert eng.paths["p"].query is None
    assert len(spark.streams.active) == active
