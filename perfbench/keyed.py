"""Keyed-state phase of the streaming workload: a rate source at a fixed
offered rate, keyed by the path DSL into ``N_KEYS`` keys and run through
``stateful_values`` into a noop sink (open loop). This bypasses the
values store and the sinks: what it measures is the state-store path,
whose cost grows with the number of keys per micro-batch.

The rate source stamps row ``v`` at ``start + v / RATE`` seconds, so a
row's latency to the end of the micro-batch that emitted it follows from
the batch's offsets; ``start`` is recovered from the final state, which
also checks the results against the rows the source produced.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.common import Ctx, Result, batches_after, phase_sums, progress_end, quantiles

N_KEYS, RATE, TRIGGER_S = 500, 1_500, 2.5
WARM_BATCHES = 1  # the first batch starts the Python workers


def path_spec(mult: int, shift: int) -> dict:
    """Counter line → (group, name, value) with key ``(mult*v+shift) % N_KEYS``."""
    return {
        "id": "keys",
        "delimiter": ",",
        "steps": [
            {"type": "editor", "edits": [{"kind": "append", "args": {"text": ",0,rate"}}]},
            {"type": "math", "ops": [{"target": "i1", "formula": f"(i0*{mult}+{shift}) % {N_KEYS}"}]},
            {
                "type": "generic",
                "fields": [
                    {"name": "value", "index": 0, "dtype": "real"},
                    {"name": "name", "index": 1, "dtype": "text"},
                    {"name": "group", "index": 2, "dtype": "text"},
                ],
                "keep": ["ts"],
            },
        ],
    }


def _seeded_key_map(seed: int) -> tuple[int, int]:
    """A seeded permutation of the keys: a multiplier coprime with N_KEYS."""
    rng = np.random.default_rng(seed)
    while True:
        mult = int(rng.integers(1, N_KEYS))
        if np.gcd(mult, N_KEYS) == 1:
            return mult, int(rng.integers(0, N_KEYS))


def _wait_idle(query, timeout: float = 2 * TRIGGER_S) -> None:
    """Return once no trigger is running, so a stop lands between batches;
    an engine that never idles is stopped anyway after ``timeout``."""
    deadline = time.time() + timeout
    while query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.01)


def _await_batches(query, t0: float, n: int) -> list[dict]:
    """Progress of the non-empty batches that ended after ``t0``, once
    there are at least ``n``; raises if the query stops first."""
    while len(done := batches_after(query, t0)) < n:
        if not query.isActive:
            raise RuntimeError(f"keyed-state query stopped: {query.exception()}")
        time.sleep(0.05)
    return done


def _row_latencies(prog: list[dict], start_ms: float) -> np.ndarray:
    out = []
    for p in prog:
        src = p["sources"][0]
        lo, hi = int(src["startOffset"] or 0) * RATE, int(src["endOffset"]) * RATE
        ts = start_ms + np.arange(lo, hi) * (1000.0 / RATE)
        out.append(progress_end(p) - ts / 1000.0)
    return np.concatenate(out) if out else np.zeros(0)


def keyed_phase(ctx: Ctx, spark, res: Result, seconds: float) -> None:
    """Run the keyed-state query for ``seconds`` after a warm-up batch,
    check its final state, and record its figures in ``res``."""
    from pyspark.sql import functions as F

    from dcafs_spark.plans.dsl import compile_path
    from dcafs_spark.streaming.runner import build_source
    from dcafs_spark.streaming.stateful import stateful_values

    mult, shift = _seeded_key_map(ctx.seed)
    ckpt = os.path.join(ctx.work, "keyed-checkpoint")
    t0 = time.perf_counter()
    keyed, _rejects = compile_path(
        build_source(spark, {"kind": "rate", "rowsPerSecond": RATE}), path_spec(mult, shift)
    )
    compile_s = time.perf_counter() - t0
    query = (
        stateful_values(keyed)
        .writeStream.format("noop")
        .outputMode("update")
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    _await_batches(query, 0.0, WARM_BATCHES)
    t0 = time.time()
    time.sleep(seconds)
    prog = _await_batches(query, t0, 1)
    # median processing rate: rows per second of micro-batch execution
    rate = float(np.median([p["numInputRows"] * 1000.0 / p["durationMs"]["triggerExecution"] for p in prog]))
    _wait_idle(query)
    query.stop()
    n_rows = sum(p["numInputRows"] for p in query.recentProgress)

    state = spark.read.format("statestore").load(ckpt).select(
        F.col("key.group").alias("group"),
        F.col("key.name").alias("name"),
        F.col("value.groupState.*"),
    ).collect()
    # reference from the rows the source produced: values 0..n_rows-1
    v = np.arange(n_rows)
    key = (v * mult + shift) % N_KEYS
    want_cnt = np.bincount(key, minlength=N_KEYS)
    want_last = np.full(N_KEYS, -1)
    np.maximum.at(want_last, key, v)
    want_min = np.full(N_KEYS, n_rows)
    np.minimum.at(want_min, key, v)
    got = {int(r["name"]): r for r in state if r["group"] == "rate"}
    res.fail("stateful.state_rows", abs(len(state) - N_KEYS))
    res.fail("stateful.n_updates_sum", int(sum(r["cnt"] for r in state) != n_rows))
    bad = 0
    for k in range(N_KEYS):
        r = got.get(k)
        bad += r is None or (r["cnt"], r["vmin"], r["vmax"], r["last"]) != (
            want_cnt[k], want_min[k], want_last[k], want_last[k]
        )
    res.fail("stateful.key_mismatch", bad)
    res.attempted += n_rows
    start_ms = float(np.median([r["last_ts"] * 1000.0 - r["last"] * 1000.0 / RATE for r in state]))
    p50, _p99 = quantiles(_row_latencies(prog, start_ms))
    res.report.update(stateful_rows_per_s=rate, stateful_latency_p50_s=p50)
    if ctx.trace:
        for p in prog:
            end = progress_end(p) - p["durationMs"].get("commitOffsets", 0) / 1000.0
            ctx.tracer.add("streaming.stateful.add_batch", end - p["durationMs"]["addBatch"] / 1000.0, end)
        ops = prog[-1]["stateOperators"][0]
        res.layers.update(
            {
                "plans.compile_path_s": res.layers.get("plans.compile_path_s", 0.0) + compile_s,
                "streaming.stateful.add_batch_s": phase_sums(prog)["addBatch"],
                "streaming.stateful.batches": len(prog),
                "streaming.stateful.state_rows": ops["numRowsTotal"],
                "streaming.stateful.state_bytes": ops["memoryUsedBytes"],
                "streaming.stateful.rows_per_batch": float(np.mean([p["numInputRows"] for p in prog])),
                "streaming.stateful.rows_per_s": rate,
                "streaming.stateful.latency_p50_s": p50,
            }
        )
